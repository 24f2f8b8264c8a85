#!/usr/bin/env python3
"""Run one benchmark workload in this process and print its result.

    python3 perfbench/run.py --workload json_ingest --seed 1 --seconds 4 --trace 0

Run it from the root of a source checkout: the program under test is
imported from there. Scratch files go to ``.perfbench_work/`` in the
checkout. The last line of standard output is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = {
    "json_ingest": "ingest",
    "lakehouse_dml": "lakehouse",
    "dedup_corpus": "corpus",
}


def per_layer_units() -> dict:
    """Per-layer metric -> unit, as BENCHMARK.json lists them (printed with
    --trace 1; a layer the workload does not call reads 0)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    # the program under test; outside a source checkout this fails and
    # the run ends without a result
    import datalake_scripts_spark  # noqa: F401

    from harness import Run, Session, Tracer, median

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    workload = importlib.import_module(WORKLOADS[args.workload])

    t0 = time.perf_counter()
    session = Session(work)
    start_s = time.perf_counter() - t0
    try:
        tracer = Tracer(session, enabled=bool(args.trace))
        run = Run(args.seconds, session)
        out = workload.run(session, tracer, run, work, args.seed,
                           lambda: time.perf_counter() - T_START)
        if args.trace:
            tracer.write(os.path.join(
                ROOT, ".perfbench_work", f"spans-{args.workload}-{args.seed}.json"))
    finally:
        session.stop()
    shutil.rmtree(work, ignore_errors=True)

    print(f"session_s {start_s:.1f} setup_s {out['setup_s']:.1f} "
          f"total_s {time.perf_counter() - T_START:.1f} "
          f"unit_ms {[round(x) for x in run.unit_ms]} "
          f"read_ms {[round(x) for x in run.read_ms]}", file=sys.stderr)
    for f in run.failures:
        print(f"FAILED {f}", file=sys.stderr)
    if args.trace:
        layer = {name: median(vals) for name, vals in run.layer.items()}
        layer["session.start_s"] = start_s
        layer["trace.op_p50_ms"] = median(run.unit_ms)
        metrics = {name: {"value": float(layer.get(name, 0.0)), "unit": unit}
                   for name, unit in per_layer_units().items()}
    else:
        metrics = {name: {"value": float(v), "unit": unit}
                   for name, (v, unit) in run.end_to_end(
                       out["setup_s"], out["stored_mb"]).items()}
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
