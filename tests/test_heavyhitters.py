"""Misra-Gries exact heavy hitters (operators/heavyhitters.py):
the summary guarantee, the merge-prune rule, and partition-independence
of the final exact result.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from datalake_scripts_spark.operators.heavyhitters import (
    _mg_merge_prune,
    heavy_hitters_exact,
    mg_candidate_summaries,
)


def _brute(rows: list[str], k: int) -> list[tuple[str, int]]:
    from collections import Counter

    n = len(rows)
    c = Counter(rows)
    out = [(i, f) for i, f in c.items() if f * k > n]
    return sorted(out, key=lambda t: (-t[1], t[0]))


def test_merge_prune_keeps_capacity_and_undercount_bound():
    """After any sequence of merges the dict holds <= k items, and the
    total subtracted weight (undercount per surviving item) is at most
    n/(k+1)."""
    k = 5
    rng = random.Random(7)
    stream = [f"i{rng.randint(0, 30)}" for _ in range(2000)]
    counters: dict = {}
    for off in range(0, len(stream), 100):
        batch = stream[off : off + 100]
        from collections import Counter

        counters = _mg_merge_prune(counters, Counter(batch), k)
        assert len(counters) <= k
    from collections import Counter

    true = Counter(stream)
    for item, lb in counters.items():
        assert lb <= true[item]
        assert true[item] - lb <= len(stream) // (k + 1)


def test_exact_result_matches_brute_force_any_partitioning(spark):
    """The candidate set varies with layout; the exact filtered result
    must not: compare against a pure-Python count at 1, 3, and 32
    partitions, including a sorted (adversarially clustered) layout."""
    rng = random.Random(42)
    # zipf-ish: few heavy items + a long tail
    rows = (
        ["hot1"] * 400
        + ["hot2"] * 250
        + ["warm"] * 120
        + [f"tail{rng.randint(0, 500)}" for _ in range(1500)]
    )
    rng.shuffle(rows)
    k = 10
    want = _brute(rows, k)
    for parts, order in [(1, False), (3, False), (32, False), (4, True)]:
        df = spark.createDataFrame([(r,) for r in rows], "item string")
        if order:
            df = df.orderBy("item")
        df = df.repartition(parts) if not order else df.coalesce(parts)
        got = [
            (r.item, r.freq)
            for r in heavy_hitters_exact(df, "item", k).collect()
        ]
        assert got == want, f"layout parts={parts} sorted={order}"


def test_candidate_summaries_are_bounded_and_superset(spark):
    rows = ["a"] * 900 + ["b"] * 500 + [f"t{i}" for i in range(400)]
    df = spark.createDataFrame([(r,) for r in rows], "item string").repartition(8)
    k = 6
    cand = mg_candidate_summaries(df, "item", k)
    pdf = cand.toPandas()
    # <= k rows per partition
    assert len(pdf) <= 8 * k
    n = len(rows)
    heavy = {i for i, f in _brute(rows, k)}
    assert heavy <= set(pdf.item)
    # lower bounds never exceed true counts
    from collections import Counter

    true = Counter(rows)
    lb = cand.groupBy("item").agg(F.max("lb").alias("lb")).collect()
    assert all(r.lb <= true[r.item] for r in lb)


def test_bytes_partitions_clamps(spark, tmp_path):
    """bytes_partitions: min(session setting, max(min_parts,
    ceil(bytes/target))) — the one sizing rule it shares with
    streaming.state_partitions_for; the session setting caps even
    min_parts."""
    from datalake_scripts_spark.operators.scale import bytes_partitions

    f = tmp_path / "blob.bin"
    f.write_bytes(b"x" * (3 * 1024 * 1024))
    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # 3 MB at a 1 MB target -> 3, unless the session setting is lower
    assert bytes_partitions(
        spark, str(f), target_bytes=1024 * 1024
    ) == min(cur, 3)
    # tiny source floors at min_parts
    assert bytes_partitions(spark, str(f)) == 1
    assert bytes_partitions(spark, str(f), min_parts=2) == min(cur, 2)
    # huge derivation is capped by the session setting (walks dirs too)
    assert bytes_partitions(spark, str(tmp_path), target_bytes=1) == cur
    # a session setting below min_parts wins
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        assert bytes_partitions(spark, str(f), min_parts=4) == 2
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(cur))
