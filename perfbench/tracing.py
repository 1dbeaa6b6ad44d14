"""Traced runs: spans, the Spark event log, the UDF profiler and cProfile.

Only ``run.py --trace 1`` imports this module.  It turns on:

- the Spark event log, read back after the session stops for per-job and
  per-stage task metrics; every operation call runs under its own job
  group, so each job is attributed to the call that caused it;
- ``spark.sql.pyspark.udf.profiler=perf``, which profiles the Python
  workers' pandas/Arrow UDF frames; profiles are collected and cleared
  after every operation call;
- a driver-side ``cProfile``, enabled only inside timed operation calls.

Spans (workload -> unit -> op -> Spark job) are kept in memory and
written out when the run ends.
"""

from __future__ import annotations

import cProfile
import glob
import json
import os
import pstats
import statistics
import tempfile
import time
from contextlib import contextmanager

# quantities reported for every operation (median over its timed calls)
OP_QUANTITIES = ("wall_s", "jobs", "tasks", "driver_only_s", "executor_cpu_s", "gc_s",
                 "shuffle_write_mb", "spill_mb", "straggler_ratio",
                 "shuffled_rows_per_output_row", "py_udf_s", "py_kernel_s")
ALL_OPS = ("attach_geo", "pip", "pip_bucketed", "knn_join", "osm", "tile", "minhash", "knn")
# pbf2json_spark.functions.* files: profiles carry base names only
KERNEL_FILES = ("cellindex.py", "cellsql.py", "geokernels.py", "imagecodec.py",
                "tagpredicate.py")
WORKER_MODULES = ("imagecodec", "geokernels", "cellindex", "dedup")
DRIVER_MODULES = ("geokernels", "cellindex")
MB = 1 << 20


def layer_metric_names() -> list:
    names = [f"{op}.{q}" for op in ALL_OPS for q in OP_QUANTITIES]
    names += ["session.build_s", "session.warm_s"]
    names += [f"{m}.worker_s" for m in WORKER_MODULES]
    names += [f"{m}.driver_s" for m in DRIVER_MODULES]
    names += ["imagecodec.decoded_mb_per_s", "trace.latency_p50_s", "minhash.near_dup_recall"]
    return names


def layer_unit(name: str) -> str:
    q = name.rsplit(".", 1)[1]
    if q in ("jobs", "tasks"):
        return "count"
    if q == "decoded_mb_per_s":
        return "MiB/s"
    if q.endswith("_s"):
        return "s"
    if q.endswith("_mb"):
        return "MiB"
    return "ratio"


def inclusive_seconds(stats: dict, files) -> float:
    """Time inside functions defined in `files` (matched on base name),
    counting each call only where it enters them from outside, so nested
    calls between those functions are not counted twice."""
    files = tuple(files)
    total = 0.0
    for (fname, _line, _func), (_cc, _nc, _tt, _ct, callers) in stats.items():
        if os.path.basename(fname) not in files:
            continue
        for caller, cstat in callers.items():
            if os.path.basename(caller[0]) not in files:
                total += cstat[3]
    return total


class Tracer:
    def __init__(self, out_dir: str, workload: str, seed: int):
        self.out_dir = out_dir
        self.workload = workload
        self.seed = seed
        self.event_dir = os.path.join(out_dir, f"events-{os.getpid()}")
        os.makedirs(self.event_dir, exist_ok=True)
        # span 0 is the whole run; units hang under it
        self.spans = [{"id": 0, "parent": None, "kind": "workload", "name": workload,
                       "start": time.time(), "end": None}]
        self._next = 1
        self.driver_prof = cProfile.Profile()
        self.spark = None

    def spark_conf(self) -> dict:
        return {"spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(self.event_dir),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.sql.pyspark.udf.profiler": "perf"}

    def attach(self, spark):
        self.spark = spark
        spark.profile.clear()

    @contextmanager
    def span(self, kind: str, name: str, parent: int = 0, **attrs):
        sid = self._next
        self._next += 1
        rec = {"id": sid, "parent": parent, "kind": kind, "name": name,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()

    @contextmanager
    def op(self, name: str, parent: int, timed: bool):
        sc = self.spark.sparkContext
        with self.span("op", name, parent, timed=timed) as rec:
            sc.setJobGroup(f"op-{rec['id']}", name)
            if timed:
                self.driver_prof.enable()
            try:
                yield rec
            finally:
                if timed:
                    self.driver_prof.disable()
                sc.setLocalProperty("spark.jobGroup.id", None)
        rec.update(self._harvest_udf_profiles())

    def _harvest_udf_profiles(self) -> dict:
        with tempfile.TemporaryDirectory(dir=self.out_dir) as d:
            self.spark.profile.dump(d, type="perf")
            self.spark.profile.clear(type="perf")
            stats = {}
            for p in glob.glob(os.path.join(d, "*.pstats")):
                for k, v in pstats.Stats(p).stats.items():
                    stats[k] = v if k not in stats else _add_stat(stats[k], v)
        out = {"py_udf_s": sum(v[2] for v in stats.values()),
               "py_kernel_s": inclusive_seconds(stats, KERNEL_FILES)}
        for m in WORKER_MODULES:
            out[f"worker.{m}"] = inclusive_seconds(stats, (m + ".py",))
        return out

    # -- after the session stopped ------------------------------------------

    def finish(self, units: list, passes: int, extra: dict,
               decoded_mb_per_pass: float) -> tuple[dict, str]:
        """(per-layer metrics, path of the spans file it wrote)."""
        self.spans[0]["end"] = time.time()
        jobs, stages = _read_event_log(self.event_dir)
        by_group = {}
        for j in jobs.values():
            by_group.setdefault(j.get("group"), []).append(j)
        for rec in list(self.spans):
            if rec["kind"] != "op":
                continue
            rec.update(_op_spark_metrics(rec, by_group.get(f"op-{rec['id']}", []), stages))
            for j in by_group.get(f"op-{rec['id']}", []):
                self.spans.append({"id": self._next, "parent": rec["id"], "kind": "job",
                                   "name": f"job {j['id']}", "job_id": j["id"],
                                   "start": j["start"] / 1000.0, "end": j["end"] / 1000.0})
                self._next += 1
        timed_ops = [r for r in self.spans if r["kind"] == "op" and r["timed"]]
        metrics = {}
        for op in ALL_OPS:
            recs = [r for r in timed_ops if r["name"] == op]
            for q in OP_QUANTITIES:
                metrics[f"{op}.{q}"] = (float(statistics.median(r[q] for r in recs))
                                        if recs else 0.0)
        for m in WORKER_MODULES:
            metrics[f"{m}.worker_s"] = sum(r[f"worker.{m}"] for r in timed_ops) / passes
        if metrics["imagecodec.worker_s"] > 0:
            metrics["imagecodec.decoded_mb_per_s"] = (decoded_mb_per_pass
                                                      / metrics["imagecodec.worker_s"])
        st = pstats.Stats(self.driver_prof).stats
        for m in DRIVER_MODULES:
            metrics[f"{m}.driver_s"] = inclusive_seconds(st, (m + ".py",)) / passes
        metrics.update(extra)
        path = os.path.join(self.out_dir,
                            f"{self.workload}-seed{self.seed}-{os.getpid()}.spans.json")
        with open(path, "w") as f:
            json.dump({"workload": self.workload, "seed": self.seed, "units": units,
                       "metrics": metrics, "spans": self.spans}, f, indent=1)
        return metrics, path


def _add_stat(a, b):
    callers = dict(a[4])
    for k, v in b[4].items():
        callers[k] = tuple(x + y for x, y in zip(callers[k], v)) if k in callers else v
    return (a[0] + b[0], a[1] + b[1], a[2] + b[2], a[3] + b[3], callers)


def _read_event_log(event_dir: str):
    files = [p for p in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {files}")
    jobs, stages = {}, {}

    def stage(sid):
        return stages.setdefault(sid, {"id": sid, "tasks": [], "cpu_ns": 0, "gc_ms": 0,
                                       "shuffle_bytes": 0, "shuffle_records": 0,
                                       "spill_bytes": 0, "group": None})

    with open(files[0]) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                jobs[e["Job ID"]] = {"id": e["Job ID"], "start": e["Submission Time"],
                                     "end": e["Submission Time"],
                                     "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                                     "stages": e.get("Stage IDs", [])}
            elif ev == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif ev == "SparkListenerStageSubmitted":
                s = stage(e["Stage Info"]["Stage ID"])
                s["group"] = (e.get("Properties") or {}).get("spark.jobGroup.id")
            elif ev == "SparkListenerTaskEnd":
                s = stage(e["Stage ID"])
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                s["tasks"].append(info["Finish Time"] - info["Launch Time"])
                s["cpu_ns"] += m.get("Executor CPU Time", 0)
                s["gc_ms"] += m.get("JVM GC Time", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                s["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                s["shuffle_records"] += sw.get("Shuffle Records Written", 0)
                s["spill_bytes"] += m.get("Memory Bytes Spilled", 0)
    for j in sorted(jobs.values(), key=lambda j: j["id"]):
        for sid in j["stages"]:
            if sid in stages and stages[sid]["group"] is None:
                stages[sid]["group"] = j["group"]
    return jobs, stages


def _op_spark_metrics(rec: dict, jobs: list, stages: dict) -> dict:
    group = f"op-{rec['id']}"
    sts = [s for s in stages.values() if s["group"] == group and s["tasks"]]
    wall = rec["end"] - rec["start"]
    # union of the op's job intervals, clipped to the op's span
    ivs = sorted((max(j["start"] / 1000.0, rec["start"]), min(j["end"] / 1000.0, rec["end"]))
                 for j in jobs)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += max(cur_e - cur_s, 0.0)
    straggler = 0.0
    if sts:
        longest = max(sts, key=lambda s: sum(s["tasks"]))
        straggler = max(longest["tasks"]) / max(statistics.median(longest["tasks"]), 1)
    out_rows = max(rec.get("output_rows", 0), 1)
    return {"wall_s": wall, "jobs": len(jobs), "tasks": sum(len(s["tasks"]) for s in sts),
            "driver_only_s": max(wall - covered, 0.0),
            "executor_cpu_s": sum(s["cpu_ns"] for s in sts) / 1e9,
            "gc_s": sum(s["gc_ms"] for s in sts) / 1000.0,
            "shuffle_write_mb": sum(s["shuffle_bytes"] for s in sts) / MB,
            "spill_mb": sum(s["spill_bytes"] for s in sts) / MB,
            "straggler_ratio": straggler,
            "shuffled_rows_per_output_row":
                sum(s["shuffle_records"] for s in sts) / out_rows}
