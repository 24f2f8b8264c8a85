#!/usr/bin/env python3
"""Steadiness check: run every workload in two interleaved sets of fresh
processes and compare the sets metric by metric.

    python3 perfbench/steady.py --runs 5 [--traced 2]

Every workload of BENCHMARK.json runs with its ``run_seconds``, one
workload after the other. Set A uses seeds 1..runs, set B seeds
101..100+runs; a workload's runs alternate A, B. For each
end-to-end metric the table gives each set's median and quartiles, the
spread (interquartile distance over the median), and whether both spreads
and the difference of the two medians, either way, stay within the
metric's bound from BENCHMARK.json. The spread of ``setup_s`` is shown but
not judged: set-up is one JVM start per process, and its bound guards the
median against work moved into set-up. ``--traced N`` adds N traced runs
per workload (seeds 1..N); the tracing overhead is the traced runs' median
unit time over the untraced set A's.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed} exited {proc.returncode}")
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    res["wall_s"] = time.perf_counter() - t0
    return res


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=5, help="runs per set and workload")
    ap.add_argument("--traced", type=int, default=0,
                    help="traced runs per workload, for the tracing overhead")
    args = ap.parse_args()
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    workloads = [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]

    results: dict = {w: {"A": [], "B": [], "T": []} for w in workloads}
    # one workload at a time, so that its two sets share the same stretch of
    # host time; within it the sets alternate run by run
    for w in workloads:
        for i in range(args.runs):
            for label, base in (("A", 1), ("B", 101)):
                res = run_once(w, base + i, seconds, 0)
                results[w][label].append(res)
                shown = " ".join(f"{k} {v['value']:.4g}" for k, v in res["metrics"].items())
                print(f"# {w} set {label} seed {base + i}: attempted {res['attempted']} "
                      f"failed {res['failed']} correct {res['correct']} "
                      f"wall {res['wall_s']:.1f} s | {shown}", file=sys.stderr)
        for i in range(args.traced):
            results[w]["T"].append(run_once(w, 1 + i, seconds, 1))

    ok_all = True
    for w in workloads:
        print(f"\n{w}")
        print(f"  {'metric':<12} {'set':<3} {'q1':>11} {'median':>11} {'q3':>11} "
              f"{'spread':>7} {'bound':>6}  verdict")
        fail_share = {s: {r["failed"] / r["attempted"] for r in results[w][s]} for s in "AB"}
        for name, m in bounds.items():
            med = {}
            verdicts = []
            for s in "AB":
                vals = [r["metrics"][name]["value"] for r in results[w][s]]
                q1, q2, q3 = quartiles(vals)
                spread = (q3 - q1) / q2 if q2 else float("inf")
                med[s] = q2
                if name != "setup_s" and spread > m["bound"]:
                    verdicts.append(f"spread {s} over bound")
                print(f"  {name:<12} {s:<3} {q1:11.4f} {q2:11.4f} {q3:11.4f} "
                      f"{spread:7.3f} {m['bound']:6.2f}")
            vals = [r["metrics"][name]["value"] for s in "AB" for r in results[w][s]]
            q1, q2, q3 = quartiles(vals)
            print(f"  {name:<12} all {q1:11.4f} {q2:11.4f} {q3:11.4f} "
                  f"{(q3 - q1) / q2 if q2 else float('inf'):7.3f} {m['bound']:6.2f}")
            diff = (med["B"] - med["A"]) / med["A"] if med["A"] else float("inf")
            if abs(diff) > m["bound"]:
                verdicts.append("medians differ beyond bound")
            verdict = "; ".join(verdicts) or "agree"
            ok_all &= not verdicts
            print(f"  {'':<12} B/A median {diff:+.3%}  {verdict}")
        print(f"  failed share A {sorted(fail_share['A'])} B {sorted(fail_share['B'])}")
        walls = [r["wall_s"] for s in "ABT" for r in results[w][s]]
        print(f"  run wall s: median {statistics.median(walls):.1f} max {max(walls):.1f}")
        if results[w]["T"]:
            traced = statistics.median(r["metrics"]["trace.op_p50_ms"]["value"]
                                       for r in results[w]["T"])
            plain = statistics.median(r["metrics"]["op_p50_ms"]["value"]
                                      for r in results[w]["A"])
            print(f"  tracing overhead: traced op_p50_ms {traced:.1f} vs untraced "
                  f"{plain:.1f} ({traced / plain - 1:+.2%})")
    print("\nall agree" if ok_all else "\nSOME METRICS DISAGREE")
    return 0 if ok_all else 1


if __name__ == "__main__":
    sys.exit(main())
