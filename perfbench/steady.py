#!/usr/bin/env python3
"""Steadiness check: run workloads N times with distinct seeds and print,
per end-to-end metric, the median, the quartiles and the spread
(q3 - q1) / median next to the metric's bound from BENCHMARK.json.

    python3 perfbench/steady.py --runs 10 --first-seed 100 [--workload geo-batch ...]
        [--traced 1]

It also prints each operation's median share of the timed unit time.
``--traced 1`` adds one traced run per workload and reports the tracing
overhead: the traced run's pass/request latency against the untraced
median.  Runs go one after another; each is a separate process.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, float, list]:
    """(result line, wall seconds, per-unit log) of one run."""
    t = time.perf_counter()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit code {p.returncode}")
    units = next(json.loads(line)["units"] for line in p.stderr.splitlines()
                 if line.startswith('{"workload"'))
    return json.loads(p.stdout.strip().splitlines()[-1]), wall, units


def main(argv=None) -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append",
                    choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--traced", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for wl in a.workload or [w["name"] for w in bench["workloads"]]:
        vals = {m: [] for m in bounds}
        shares, walls, op_share = set(), [], {}
        for n in range(a.runs):
            out, wall, units = run_once(wl, a.first_seed + n, bench["run_seconds"], 0)
            walls.append(wall)
            for u in units:
                if u["timed"]:
                    for op, s in u["ops"].items():
                        op_share.setdefault(op, []).append(s / u["s"])
            shares.add((out["failed"], out["attempted"]))
            for m in bounds:
                vals[m].append(out["metrics"][m]["value"])
            print(f"  {wl} seed {a.first_seed + n}: wall {wall:.1f} s correct={out['correct']} "
                  f"failed {out['failed']}/{out['attempted']} "
                  + " ".join(f"{m}={out['metrics'][m]['value']:.4g}" for m in bounds),
                  file=sys.stderr, flush=True)
        print(f"\n{wl}: {a.runs} runs, seeds {a.first_seed}..{a.first_seed + a.runs - 1}, "
              f"run wall median {statistics.median(walls):.1f} s, "
              f"failed/attempted {sorted(shares)}")
        print("| metric | median | q1 | q3 | (q3-q1)/median | bound |")
        print("|---|---|---|---|---|---|")
        for m, v in vals.items():
            q1, med, q3 = statistics.quantiles(v, n=4)
            print(f"| {m} | {med:.4g} | {q1:.4g} | {q3:.4g} | {(q3 - q1) / med:.3f} "
                  f"| {bounds[m]} |")
        print("share of timed unit time (median over units): " + ", ".join(
            f"{op} {statistics.median(v):.0%}" for op, v in op_share.items()))
        if a.traced:
            out, wall, _ = run_once(wl, a.first_seed, bench["run_seconds"], 1)
            traced = out["metrics"]["trace.latency_p50_s"]["value"]
            base = statistics.median(vals["latency_p50_s"])
            print(f"traced run (seed {a.first_seed}, wall {wall:.1f} s): latency "
                  f"{traced:.3f} s vs untraced median {base:.3f} s, "
                  f"overhead {traced / base - 1:+.1%}")
        sys.stdout.flush()


if __name__ == "__main__":
    main()
