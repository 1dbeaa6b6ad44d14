#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload geo-batch --seed 1 --seconds 5 --trace 0

Runs from the repository root: generates (or reuses) the seeded inputs,
builds one ``build_session(cores=nproc)`` session, runs the workload's
warm-up units (if any) and then whole units until ``--seconds`` of operation time
has been measured, checks every operation's output, and prints one JSON
line: ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on the
event log, the UDF profiler and cProfile and reports the per-layer
metrics instead (see tracing.py).  Everything the run writes stays under
``perfbench/.work`` in the checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402

from checks import KnownFault  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PAGE = os.sysconf("SC_PAGE_SIZE")


class RssSampler(threading.Thread):
    """Peak of the summed RSS of this process and all its descendants
    (the JVM and the Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_event = threading.Event()

    @staticmethod
    def sample() -> int:
        children, rss = {}, {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    st = f.read()
                with open(f"/proc/{pid}/statm") as f:
                    rss[int(pid)] = int(f.read().split()[1]) * PAGE
            except OSError:  # exited between listing and reading
                continue
            ppid = int(st[st.rindex(")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(pid))
        total, todo = 0, [os.getpid()]
        while todo:
            p = todo.pop()
            total += rss.get(p, 0)
            todo += children.get(p, [])
        return total

    def run(self):
        while not self._stop_event.wait(self.interval):
            self.peak = max(self.peak, self.sample())

    def stop(self):
        self._stop_event.set()
        self.join()
        self.peak = max(self.peak, self.sample())


def _session_conf(tmp: str) -> dict:
    """Keeps every file the JVM and the workers write inside the checkout.
    Unix socket paths are limited to ~100 bytes, so the socket directory
    is given relative to the run's working directory (the checkout)."""
    sock = os.path.relpath(os.path.join(tmp, "s"), os.getcwd())
    os.makedirs(sock, exist_ok=True)
    return {"spark.local.dir": os.path.join(tmp, "local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.python.unix.domain.socket.dir": sock,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"}


def _stop_session(spark) -> None:
    """Stops the session, then the gateway JVM, and waits for it to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class Runner:
    def __init__(self, workload, tracer):
        self.w = workload
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.wrong = 0
        self.unit_log = []

    def run_unit(self, i: int, timed: bool) -> float:
        """Runs unit i's operations in order; returns their summed wall
        time (checks excluded)."""
        tr = self.tracer
        total = 0.0
        ops = {}
        with tr.span("unit", f"unit {i}", timed=timed) if tr else nullcontext() as urec:
            try:
                for name, call, check in self.w.unit(i):
                    self.attempted += 1
                    with tr.op(name, urec["id"], timed) if tr else nullcontext({}) as rec:
                        t0 = time.perf_counter()
                        try:
                            out = call()
                        except Exception:  # an operation that raises counts as failed
                            traceback.print_exc()
                            out = None
                        dt = time.perf_counter() - t0
                        rec["output_rows"] = len(out) if hasattr(out, "__len__") else 0
                    total += dt
                    ops[name] = dt
                    if out is None:
                        self.failed += 1
                        continue
                    try:
                        check(out)
                    except KnownFault as e:
                        print(f"perfbench: {name} unit {i}: known fault: {e}", file=sys.stderr)
                        self.failed += 1
                    except Exception as e:  # CheckFailed, or an output too malformed to check
                        print(f"perfbench: {name} unit {i}: wrong output: {e!r}",
                              file=sys.stderr)
                        self.failed += 1
                        self.wrong += 1
            finally:
                self.w.end_unit()
        self.unit_log.append({"unit": i, "timed": timed, "s": total, "ops": ops,
                              "rss_mb": RssSampler.sample() / (1 << 20)})
        return total


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        from pbf2json_spark.plans.session import build_session, warm_python_workers
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import gen

    wl = WORKLOADS[a.workload]
    t = time.perf_counter()
    inputs = {p: gen.ensure(p, a.seed, os.path.join(WORK, "inputs")) for p in wl.parts}
    expected = wl.load_expected(inputs)
    gen_s = time.perf_counter() - t

    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    # every JVM the launch starts (launcher and driver) would otherwise
    # write its performance counters under /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    tracer = None
    conf = _session_conf(tmp)
    if a.trace:
        from tracing import Tracer
        tracer = Tracer(os.path.join(WORK, "trace"), a.workload, a.seed)
        conf.update(tracer.spark_conf())

    rss = RssSampler()
    rss.start()
    spark = None
    try:
        t = time.perf_counter()
        cores = len(os.sched_getaffinity(0))
        spark = build_session(app_name=f"perfbench-{a.workload}", cores=cores, extra=conf)
        spark.sparkContext.setLogLevel("ERROR")
        build_s = time.perf_counter() - t
        t = time.perf_counter()
        warm_python_workers(spark)
        warm_s = time.perf_counter() - t
        if tracer:
            tracer.attach(spark)

        w = wl(spark, tmp)
        w.prepare(expected)
        runner = Runner(w, tracer)
        i = 0
        for i in range(wl.warmup):
            runner.run_unit(i, timed=False)
        setup_s = time.perf_counter() - T_START - gen_s

        lat = []
        while sum(lat) < a.seconds:
            i += 1
            lat.append(runner.run_unit(i, timed=True))
        extra = w.extra_layer_metrics()
    finally:
        if spark is not None:
            _stop_session(spark)
        rss.stop()

    window = sum(lat)
    metrics = {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (w.rows_per_unit() * len(lat) / window, "1/s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "peak_rss_mb": (rss.peak / (1 << 20), "MiB"),
    }
    print(json.dumps({"workload": a.workload, "seed": a.seed, "gen_s": gen_s,
                      "build_s": build_s, "warm_s": warm_s, "units": runner.unit_log}),
          file=sys.stderr)
    if tracer:
        extra.update({
            "session.build_s": build_s, "session.warm_s": warm_s,
            "trace.latency_p50_s": statistics.median(lat)})
        layer, spans_path = tracer.finish(runner.unit_log, len(lat), extra,
                                          w.decoded_bytes_per_unit() / (1 << 20))
        print(f"perfbench: spans written to {spans_path}", file=sys.stderr)
        from tracing import layer_metric_names, layer_unit
        metrics = {n: (float(layer.get(n, 0.0)), layer_unit(n)) for n in layer_metric_names()}
    shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({
        "correct": runner.wrong == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
