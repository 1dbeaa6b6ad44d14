"""Tests of the benchmark's own checks and failure accounting (no Spark).

    python3 -m pytest perfbench/test_checks.py -q
"""

import numpy as np
import pandas as pd
import pytest

import checks
import gen
from run import Runner


def _points(n=300, seed=3):
    ph = gen.gen_phash(gen._rng(seed, 9), n)
    ids = [f"p{j:04d}" for j in range(n)]
    lat, lon, _ = gen.geotag(ph)
    return ids, ph, lat, lon


def _knn_case(k=4):
    ids, _, lat, lon = _points()
    qids, qlat, qlon = gen.gen_queries(gen._rng(3, 10), 6, "q")
    rows = []
    for qi, q in enumerate(qids):
        d = gen.haversine_m(qlat[qi], qlon[qi], lat, lon)
        for r, i in enumerate(np.argsort(d, kind="stable")[:k]):
            rows.append((q, ids[i], d[i], r + 1))
    pdf = pd.DataFrame(rows, columns=["query_id", "image_id", "dist_m", "rank"])
    want = gen.topk_distances(qlat, qlon, lat, lon, k)
    latlon = dict(zip(ids, zip(lat, lon)))
    return pdf, (qids, qlat, qlon), want, latlon


def test_knn_check_accepts_brute_force_and_rejects_a_wrong_neighbour():
    pdf, queries, want, latlon = _knn_case()
    checks.check_knn(pdf, "query_id", "image_id", queries, want, latlon, 4)
    bad = pdf.copy()
    far = next(p for p in latlon if p not in set(bad["image_id"]))
    bad.loc[3, "image_id"] = far
    bad.loc[3, "dist_m"] = gen.haversine_m(queries[1][0], queries[2][0], *latlon[far])
    with pytest.raises(checks.CheckFailed):
        checks.check_knn(bad, "query_id", "image_id", queries, want, latlon, 4)


def test_pip_brute_force_handles_antimeridian_rings():
    # a square spanning lon 179..-179 (181 unwrapped), lat -1..1
    rla = np.array([-1.0, -1.0, 1.0, 1.0, -1.0])
    rlo = np.array([179.0, -179.0, -179.0, 179.0, 179.0])
    ula, ulo = gen.unwrap_ring(rla, rlo)
    inside = gen.even_odd_contains(ula, ulo, np.array([0.0, 0.0, 0.0, 2.0]),
                                   np.array([179.5, -179.5, 0.0, 179.5]))
    assert inside.tolist() == [True, True, False, False]


def test_tile_check_rejects_a_shifted_intensity():
    info = {"images": 10, "exact_intensity_sum": 1000.0, "qdct_intensity_sum": 0.0,
            "qdct_blocks": 0}
    pdf = pd.DataFrame({"cell": [1, 2], "n_blocks": [80, 80], "n_images": [5, 5],
                        "avg_intensity": [6.25, 6.25]})
    checks.check_tiles(pdf, info)
    pdf.loc[0, "avg_intensity"] += 0.01
    with pytest.raises(checks.CheckFailed):
        checks.check_tiles(pdf, info)


def test_osm_check_separates_the_rounding_fault_from_other_differences():
    want = {"way:2": {"id": 2, "type": "way", "centroid": {"lat": "48.8566002"}}}
    ok = '{"id": 2, "type": "way", "centroid": {"lat": "48.8566002"}}'
    checks.check_osm([ok], want)
    with pytest.raises(checks.KnownFault):
        checks.check_osm([ok.replace("48.8566002", "48.8566003")], want)
    with pytest.raises(checks.CheckFailed):
        checks.check_osm([ok.replace("48.8566002", "48.8566001")], want)


def test_minhash_check_recomputes_jaccard():
    caps = {"a": "one two three four", "b": "one two three four", "c": "x y z w"}
    info = {"exact_dups": {"b": "a"}, "near_dups": {}}
    checks.check_minhash(pd.DataFrame({"doc_a": ["a"], "doc_b": ["b"], "jaccard": [1.0]}),
                         caps, info, 0.5)
    with pytest.raises(checks.CheckFailed):
        checks.check_minhash(pd.DataFrame({"doc_a": ["a", "a"], "doc_b": ["b", "c"],
                                           "jaccard": [1.0, 0.0]}), caps, info, 0.5)


class _FakeWorkload:
    """Three operations: a correct one, one whose output is corrupted,
    and one that raises; the run must go on past each."""

    def __init__(self):
        self.ended = 0

    def unit(self, i):
        pdf, queries, want, latlon = _knn_case()
        corrupted = pdf.copy()
        corrupted.loc[0, "dist_m"] *= 1.5

        def check(out):
            checks.check_knn(out, "query_id", "image_id", queries, want, latlon, 4)

        def boom():
            raise RuntimeError("operation failed")

        return [("knn", lambda: pdf, check), ("knn", lambda: corrupted, check),
                ("knn", boom, check)]

    def end_unit(self):
        self.ended += 1


def test_corrupted_output_is_counted_as_failed_and_the_run_continues():
    w = _FakeWorkload()
    r = Runner(w, tracer=None)
    r.run_unit(0, timed=True)
    r.run_unit(1, timed=True)
    assert (r.attempted, r.failed, r.wrong) == (6, 4, 2)
    assert w.ended == 2
