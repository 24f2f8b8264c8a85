"""Capture .explain("formatted") for named registry queries into
plans/<dir>/<query>_<tag>.txt — the optimization-round evidence files
(guide §1.3: keep the plan shape on record for every touched query).

    python scripts/capture_plans.py --tag before --queries a,b,c \
        [--sf /root/testdata/sf0.1] [--dir plans/r12] [--pre-checkpoint]

``--pre-checkpoint`` (r13, VERDICT r12 ask #6) additionally records the
plan of EVERY DataFrame the query localCheckpoints, at the moment of
the checkpoint call, into <query>_<tag>_prechkpt.txt. Iterative /
checkpointed operators hide their real plans behind ``Scan
ExistingRDD`` in the returned frame's explain (the r12 triangle
"evidence" was byte-identical before/after for exactly this reason);
the pre-checkpoint frames are where changes like a join-condition
rewrite are actually visible.

tests/test_plan_evidence.py lints that committed *_before/*_after pairs
claimed as evidence actually differ.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", required=True)
    ap.add_argument("--tag", required=True)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--dir", default="plans/r13")
    ap.add_argument("--pre-checkpoint", action="store_true")
    args = ap.parse_args()

    # patch the CONCRETE class: in Spark 4 pyspark.sql.DataFrame is the
    # abstract base and queries run on classic.dataframe.DataFrame,
    # whose own localCheckpoint would shadow a base-class patch
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # pragma: no cover - older Spark
        from pyspark.sql import DataFrame

    from datalake_scripts_spark.queries import REGISTRY  # loads all modules
    from datalake_scripts_spark.session import get_spark

    spark = get_spark("capture-plans", master="local[32]")
    os.makedirs(args.dir, exist_ok=True)

    captured: list[str] = []
    if args.pre_checkpoint:
        orig_ckpt = DataFrame.localCheckpoint

        def spying_ckpt(self, *a, **kw):
            try:
                captured.append(_explain(self))
            except Exception as exc:  # capture must never break the query
                captured.append(f"<explain failed: {exc}>")
            return orig_ckpt(self, *a, **kw)

        DataFrame.localCheckpoint = spying_ckpt

    for name in args.queries.split(","):
        captured.clear()
        df = REGISTRY[name].fn(spark, args.sf)
        out = os.path.join(args.dir, f"{name}_{args.tag}.txt")
        with open(out, "w") as fh:
            fh.write(_explain(df))
        print(out)
        if args.pre_checkpoint and captured:
            outp = os.path.join(args.dir, f"{name}_{args.tag}_prechkpt.txt")
            with open(outp, "w") as fh:
                for i, plan in enumerate(captured):
                    fh.write(f"== localCheckpoint #{i} ==\n{plan}\n")
            print(outp)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
