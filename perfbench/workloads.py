"""The benchmark's three workloads.

A workload turns one unit of work (a pass over a batch job, or one
request) into a list of operations.  Each operation is a call into the
program's public operators whose full output is materialized (collected
or written), paired with an independent check of that output.

- ``geo-batch``: one-shot vector jobs.  Every pass reads its inputs
  afresh, so memos keyed on a DataFrame are cold as in a spark-submit
  job: attach_geo, both point-in-polygon paths, knn_join, and the OSM
  pipeline written out as NDJSON.  No pixel bytes.
- ``content-batch``: tile assignment over the image table's parquet path
  (raw, rle and qdct payloads) and MinHash-LSH over its captions.
- ``knn-serve``: one client in a closed loop sends fixed-size kNN query
  batches against a corpus persisted during set-up.

``attach_geo(...).count()`` is never used: Spark prunes the geo UDF out
of that plan and times a parquet row count.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

import numpy as np
import pyarrow.parquet as pq

import checks
import gen


def _point_maps(d):
    t = pq.read_table(os.path.join(d, "points.parquet"))
    ids = t.column("image_id").to_pylist()
    ph = t.column("phash").to_numpy()
    lat, lon, _ = gen.geotag(ph)
    return dict(zip(ids, ph.tolist())), dict(zip(ids, zip(lat.tolist(), lon.tolist())))


class Workload:
    """One workload; ``units`` are passes (batch) or requests (serve).
    ``warmup`` units run before the timed window and count in set-up;
    the batch workloads have none, so they time a cold first pass."""

    parts: tuple = ()
    warmup = 0
    ops: tuple = ()

    def __init__(self, spark, tmp: str):
        self.spark = spark
        self.tmp = tmp

    @staticmethod
    def load_expected(inputs: dict) -> dict:
        raise NotImplementedError

    def prepare(self, expected: dict) -> None:
        self.expected = expected

    def rows_per_unit(self) -> int:
        raise NotImplementedError

    def unit(self, i: int) -> list:
        """[(op name, call, check)], run in order; check raises CheckFailed."""
        raise NotImplementedError

    def end_unit(self) -> None:
        pass

    def extra_layer_metrics(self) -> dict:
        return {}

    def decoded_bytes_per_unit(self) -> int:
        """Raw pixel bytes the unit's operations decode."""
        return 0


class GeoBatch(Workload):
    parts = ("geo",)
    ops = ("attach_geo", "pip", "pip_bucketed", "knn_join", "osm")
    RES = (9, 12)

    @staticmethod
    def load_expected(inputs):
        d, man = inputs["geo"]
        phash, latlon = _point_maps(d)
        q = pq.read_table(os.path.join(d, "queries.parquet")).to_pandas()
        with open(os.path.join(d, "osm_expected.json")) as f:
            osm = json.load(f)
        return {"dir": d, "rows": man["info"]["points"], "phash": phash, "latlon": latlon,
                "pairs": {tuple(p) for p in man["info"]["pip_pairs"]},
                "queries": (q["left_id"].tolist(), q["lat"].to_numpy(), q["lon"].to_numpy()),
                "topk": np.load(os.path.join(d, "knn_join_topk.npy")), "osm": osm}

    def rows_per_unit(self):
        return self.expected["rows"]

    def unit(self, i):
        from pyspark.sql import functions as F

        from pbf2json_spark.operators.denormalize import run_pipeline
        from pbf2json_spark.operators.spatial import (attach_geo, knn_join,
                                                      point_in_polygon,
                                                      point_in_polygon_bucketed)
        e = self.expected
        read = lambda name: self.spark.read.parquet(os.path.join(e["dir"], name))  # noqa: E731
        state = {}

        def attach():
            state["geo"] = attach_geo(read("points.parquet"), res_list=self.RES).persist()
            return state["geo"].toPandas()

        def pip():
            return point_in_polygon(state["geo"], read("polygons.parquet"), res=9).toPandas()

        def pip_bucketed():
            return point_in_polygon_bucketed(state["geo"], read("polygons.parquet"),
                                             res=9).toPandas()

        def kjoin():
            right = state["geo"].select(F.col("image_id").alias("right_id"), "lat", "lon")
            return knn_join(read("queries.parquet"), right, k=gen.KNN_K).toPandas()

        def osm():
            """Writes the NDJSON output and returns its lines."""
            out = os.path.join(self.tmp, f"osm-{i}")
            run_pipeline(read("nodes.parquet"), read("ways.parquet"),
                         read("relations.parquet"), gen.OSM_TAG_SPEC) \
                .select("json").write.mode("overwrite").text(out)
            lines = []
            for p in sorted(glob.glob(os.path.join(out, "part-*"))):
                with open(p) as f:
                    lines += f.read().splitlines()
            shutil.rmtree(out)
            return lines

        def check_knn_join(pdf):
            checks.check_knn(pdf, "left_id", "right_id", e["queries"], e["topk"],
                             e["latlon"], gen.KNN_K)

        self._state = state
        return [
            ("attach_geo", attach,
             lambda pdf: checks.check_attach_geo(pdf, e["phash"], self.RES)),
            ("pip", pip, lambda pdf: checks.check_pip(pdf, e["pairs"], e["phash"])),
            ("pip_bucketed", pip_bucketed,
             lambda pdf: checks.check_pip(pdf, e["pairs"], e["phash"])),
            ("knn_join", kjoin, check_knn_join),
            ("osm", osm, lambda lines: checks.check_osm(lines, e["osm"])),
        ]

    def end_unit(self):
        geo = self._state.get("geo")
        if geo is not None:
            geo.unpersist()


class ContentBatch(Workload):
    parts = ("content",)
    ops = ("tile", "minhash")

    @staticmethod
    def load_expected(inputs):
        d, man = inputs["content"]
        t = pq.read_table(os.path.join(d, "images"), columns=["image_id", "caption"])
        return {"dir": os.path.join(d, "images"), "info": man["info"],
                "captions": dict(zip(t.column("image_id").to_pylist(),
                                     t.column("caption").to_pylist()))}

    def prepare(self, expected):
        super().prepare(expected)
        self.recall = []

    def rows_per_unit(self):
        return self.expected["info"]["images"]

    def unit(self, i):
        from pyspark.sql import functions as F

        from pbf2json_spark.operators.dedup import minhash_lsh_pairs
        from pbf2json_spark.operators.spatial import tile_assignment_direct
        e = self.expected

        def tile():
            return tile_assignment_direct(self.spark, e["dir"], grid=gen.TILE_GRID,
                                          res=12).toPandas()

        def minhash():
            docs = self.spark.read.parquet(e["dir"]).select(
                F.col("image_id").alias("doc_id"), F.col("caption").alias("text"))
            return minhash_lsh_pairs(docs, tau=gen.MINHASH_TAU).toPandas()

        def check_minhash(pdf):
            self.recall.append(checks.check_minhash(pdf, e["captions"], e["info"],
                                                    gen.MINHASH_TAU))

        return [("tile", tile, lambda pdf: checks.check_tiles(pdf, e["info"])),
                ("minhash", minhash, check_minhash)]

    def decoded_bytes_per_unit(self):
        return self.expected["info"]["pixel_bytes"]

    def extra_layer_metrics(self):
        return {"minhash.near_dup_recall": float(np.median(self.recall)) if self.recall else 0.0}


class KnnServe(Workload):
    parts = ("serve",)
    warmup = 1
    ops = ("knn",)

    @staticmethod
    def load_expected(inputs):
        d, man = inputs["serve"]
        _, latlon = _point_maps(d)
        q = pq.read_table(os.path.join(d, "queries.parquet")).to_pandas()
        b = man["info"]["batch_queries"]
        batches = [q.iloc[s:s + b].reset_index(drop=True) for s in range(0, len(q), b)]
        return {"dir": d, "latlon": latlon, "batches": batches,
                "topk": np.load(os.path.join(d, "knn_topk.npy")), "batch_queries": b}

    def prepare(self, expected):
        super().prepare(expected)
        from pbf2json_spark.operators.spatial import attach_geo
        pts = self.spark.read.parquet(os.path.join(expected["dir"], "points.parquet"))
        self.corpus = attach_geo(pts, res_list=(12,)) \
            .select("image_id", "lat", "lon", "cell_r12").persist()
        self.corpus.count()

    def rows_per_unit(self):
        return self.expected["batch_queries"]

    def unit(self, i):
        from pbf2json_spark.operators.spatial import knn
        e = self.expected
        b = i % len(e["batches"])
        qpdf = e["batches"][b]
        n = e["batch_queries"]

        def request():
            q = self.spark.createDataFrame(qpdf)
            return knn(self.corpus, q, k=gen.KNN_K, res=12, initial_ring=2).toPandas()

        def check(pdf):
            queries = (qpdf["query_id"].tolist(), qpdf["lat"].to_numpy(),
                       qpdf["lon"].to_numpy())
            checks.check_knn(pdf, "query_id", "image_id", queries,
                             e["topk"][b * n:(b + 1) * n], e["latlon"], gen.KNN_K)

        return [("knn", request, check)]


WORKLOADS = {"geo-batch": GeoBatch, "content-batch": ContentBatch, "knn-serve": KnnServe}
