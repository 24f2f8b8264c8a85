"""Scale techniques: skew salting, bucketed co-located joins, history
snapshots, sessionization without session_window.

These are the knobs a 100 TB deployment turns when the default plans
stop being enough; each is a pure DataFrame rewrite with unchanged
semantics (so the DuckDB oracle can verify them against the naive
form).
"""

from __future__ import annotations

import os as _os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def bytes_partitions(
    spark,
    *paths: str,
    target_bytes: int = 32 * 1024 * 1024,
    min_parts: int = 1,
) -> int:
    """Bytes-derived partition count: ``ceil(total_bytes /
    target_bytes)``, raised to ``min_parts``, then capped by
    ``spark.sql.shuffle.partitions`` — ``min(session, max(min_parts,
    need))``. The session setting (the deployment's choice) is the
    hard ceiling, even below ``min_parts``, so the count stays
    scale-adaptive: a 100 TB source saturates the session setting, a
    megabyte test fixture stops fanning one value_counts pass across
    32 near-empty Python tasks (guide §2.2 "fewer, larger
    partitions"). The one sizing rule for batch repartitions and
    streaming state (``streaming.windows.state_partitions_for``).
    ``paths`` are files or directories (walked)."""
    total = 0
    for p in paths:
        if _os.path.isdir(p):
            for root, _dirs, files in _os.walk(p):
                for f in files:
                    try:
                        total += _os.path.getsize(_os.path.join(root, f))
                    except OSError:
                        pass
        else:
            try:
                total += _os.path.getsize(p)
            except OSError:
                pass
    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return min(cur, max(min_parts, -(-total // target_bytes)))


def salted_group_sum(
    df: DataFrame,
    keys: list[str],
    sum_col: Column,
    alias: str,
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase aggregation with an explicit salt for hot keys.

    Phase 1 groups on (keys + salt) so a hot key's rows spread over
    ``salt_buckets`` reducers; phase 2 merges the partials. With
    decimal-exact sums the result is identical to the direct groupBy —
    this is a pure shuffle-shape rewrite. (Spark's partial aggregation
    already does this implicitly when map-side combine is effective;
    explicit salting is for when the hot key dominates single reducers,
    e.g. high-cardinality count-distinct per hot key.)
    """
    salted = df.withColumn(
        "_salt", (F.monotonically_increasing_id() % salt_buckets).cast("int")
    )
    partial = salted.groupBy(*keys, "_salt").agg(sum_col.alias("_partial"))
    return partial.groupBy(*keys).agg(F.sum("_partial").alias(alias))


def salted_join(
    skewed: DataFrame,
    dim: DataFrame,
    on: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: the dim side is replicated ``salt_buckets``x
    (map-side explode, no join node) with an explicit ``_salt``; the
    skewed side gets a deterministic row salt; the join key becomes
    (key, salt), so one hot key's rows spread over ``salt_buckets``
    reducers instead of melting a single task.

    Use when AQE's skew-join split doesn't apply — a broadcast is too
    big, AQE is off, or the skew re-emerges in a downstream stage that
    inherits the join's partitioning. Cost: the dim side inflates
    ``salt_buckets``x, so keep it for small-but-unbroadcastable dims.
    Row-identical to the plain join for ``inner``/``left`` (each skewed
    row matches exactly the one dim replica carrying its salt)."""
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left only")
    salted = skewed.withColumn(
        "_salt", (F.monotonically_increasing_id() % salt_buckets).cast("int")
    )
    rep = dim.withColumn(
        "_salt",
        F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)).cast("array<int>")),
    )
    return salted.join(rep, [on, "_salt"], how).drop("_salt")


def write_bucketed(
    df: DataFrame, table_name: str, bucket_col: str, n_buckets: int = 8
) -> None:
    """Persist as a bucketed (+sorted) table: later equi-joins/aggs on
    ``bucket_col`` between co-bucketed tables need NO exchange — the
    pre-shuffled layout amortizes one shuffle across every downstream
    join (pyspark guide: bucketing)."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(table_name)
    )


def latest_snapshot(
    df: DataFrame, keys: list[str], version_col: str, tiebreak: str | None = None
) -> DataFrame:
    """Current-state view over an append-only history table.

    The reference's ``hst_*`` tables accumulate duplicates per load
    (append mode + load_datetime audit column, monkey_proc.py:138-141)
    and defer dedup to consumers (SURVEY.md §2.7). This is that
    consumer op: latest version per key, deterministic tiebreak.
    """
    order = [F.desc(version_col)] + ([F.desc(tiebreak)] if tiebreak else [])
    w = W.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def sessionize(
    df: DataFrame,
    key: str,
    ts_col: str = "ts",
    gap_minutes: int = 10,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Batch sessionization via gaps-and-islands (lag + running sum) —
    the window-function alternative to F.session_window, useful when
    per-event session ids are needed (session_window only yields the
    aggregated window). One shuffle on the key."""
    order = [F.col(ts_col)] + ([F.col(order_tiebreak)] if order_tiebreak else [])
    w = W.partitionBy(key).orderBy(*order)
    micros = F.unix_micros(F.col(ts_col).cast("timestamp"))
    gap = micros - F.lag(micros).over(w)
    is_new = F.when(
        gap.isNull() | (gap > gap_minutes * 60 * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return df.withColumn("_is_new", is_new).withColumn(
        "session_id", F.sum("_is_new").over(run)
    ).drop("_is_new")


def resample_ffill(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    tiebreak: str,
    step: str = "1 hour",
    unit: str = "hour",
) -> DataFrame:
    """Regularize an irregular per-key time series onto a fixed grid
    with forward fill — the gap-filling/resampling operator (what
    time-series stores call time_bucket_gapfill + locf).

    Three narrow stages after ONE shuffle on the key (the bucket-dedup
    window, the grid explode and the fill window all share the key
    partitioning; Catalyst reuses the exchange):
    1. bucket to `unit` granularity, keep the LAST observation per
       (key, bucket) — deterministic via (ts, tiebreak) DESC;
    2. per key, explode sequence(min_bucket .. max_bucket, step) into
       the dense grid (no cross join: each key generates only its own
       span, so skew follows the data, not the span of the whole
       table);
    3. left-join observations onto the grid and forward-fill with
       last(value, ignorenulls) over an unbounded-preceding row frame.

    Returns (key, bucket_ts, value_ffill, is_observed). The first
    bucket of every key is observed by construction, so value_ffill is
    never NULL.
    """
    bucket = F.date_trunc(unit, F.col(ts_col))
    obs = df.select(
        F.col(key), bucket.alias("bucket_ts"), F.col(ts_col), F.col(tiebreak), F.col(value_col)
    )
    w_last = W.partitionBy(key, "bucket_ts").orderBy(
        F.col(ts_col).desc(), F.col(tiebreak).desc()
    )
    last_obs = (
        obs.withColumn("_rn", F.row_number().over(w_last))
        .filter(F.col("_rn") == 1)
        .select(key, "bucket_ts", F.col(value_col).alias("_v"))
    )
    grid = (
        obs.groupBy(key)
        .agg(F.min("bucket_ts").alias("_a"), F.max("bucket_ts").alias("_b"))
        .select(
            key,
            F.explode(
                F.expr(f"sequence(_a, _b, interval {step})")
            ).alias("bucket_ts"),
        )
    )
    w_fill = (
        W.partitionBy(key)
        .orderBy("bucket_ts")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        grid.join(last_obs, [key, "bucket_ts"], "left")
        .select(
            key,
            "bucket_ts",
            F.last("_v", ignorenulls=True).over(w_fill).alias("value_ffill"),
            F.col("_v").isNotNull().cast("int").alias("is_observed"),
        )
    )


def resample_interpolate(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    tiebreak: str,
    step: str = "1 hour",
    unit: str = "hour",
) -> DataFrame:
    """Linear-interpolation sibling of :func:`resample_ffill`: gaps get
    the straight line between the surrounding observations instead of
    the previous value — time_bucket_gapfill + interpolate.

    Same one-shuffle plan: bucket-dedup window, per-key grid explode,
    then TWO fill windows over the shared key partitioning — the
    backward pass carries (prev value, prev observed bucket) with
    last(ignorenulls) and the forward pass carries (next value, next
    observed bucket) with first(ignorenulls) over the mirrored frame.
    Every interior gap has both anchors by construction (the grid
    spans min..max OBSERVED buckets), so the blend ratio's denominator
    is never zero on unobserved rows; observed rows pass through
    verbatim.

    Determinism: the ratio divides two exact bucket-count BIGINTs
    (timestampdiff at `unit` grain) and the blend is the same
    association order in the SQL oracle, so the interpolated doubles
    are engine-identical.
    """
    bucket = F.date_trunc(unit, F.col(ts_col))
    obs = df.select(
        F.col(key), bucket.alias("bucket_ts"), F.col(ts_col),
        F.col(tiebreak), F.col(value_col),
    )
    w_last = W.partitionBy(key, "bucket_ts").orderBy(
        F.col(ts_col).desc(), F.col(tiebreak).desc()
    )
    last_obs = (
        obs.withColumn("_rn", F.row_number().over(w_last))
        .filter(F.col("_rn") == 1)
        .select(key, "bucket_ts", F.col(value_col).alias("_v"))
    )
    grid = (
        obs.groupBy(key)
        .agg(F.min("bucket_ts").alias("_a"), F.max("bucket_ts").alias("_b"))
        .select(
            key,
            F.explode(
                F.expr(f"sequence(_a, _b, interval {step})")
            ).alias("bucket_ts"),
        )
    )
    w_back = (
        W.partitionBy(key)
        .orderBy("bucket_ts")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_fwd = (
        W.partitionBy(key)
        .orderBy("bucket_ts")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    obs_ts = F.when(F.col("_v").isNotNull(), F.col("bucket_ts"))
    j = grid.join(last_obs, [key, "bucket_ts"], "left").select(
        key,
        "bucket_ts",
        "_v",
        F.last("_v", ignorenulls=True).over(w_back).alias("_pv"),
        F.last(obs_ts, ignorenulls=True).over(w_back).alias("_pt"),
        F.first("_v", ignorenulls=True).over(w_fwd).alias("_nv"),
        F.first(obs_ts, ignorenulls=True).over(w_fwd).alias("_nt"),
    )
    unit_kw = unit.upper()
    dh = F.expr(f"timestampdiff({unit_kw}, _pt, bucket_ts)").cast("double")
    dt = F.expr(f"timestampdiff({unit_kw}, _pt, _nt)").cast("double")
    interp = F.col("_pv") + (F.col("_nv") - F.col("_pv")) * (dh / dt)
    return j.select(
        key,
        "bucket_ts",
        F.when(F.col("_v").isNotNull(), F.col("_v"))
        .otherwise(interp)
        .alias("value_interp"),
        F.col("_v").isNotNull().cast("int").alias("is_observed"),
    )


def assign_surrogate_keys(
    df: DataFrame,
    order_by: list[str],
    key_col: str = "surrogate_id",
    start: int = 1,
    partitions: int | None = None,
) -> DataFrame:
    """Dense sequential ids 1..N in a given total order WITHOUT a
    global single-partition sort — the engine's replacement for the
    reference's Postgres ``bigserial`` insertion ids
    (monkey_proc.py:271): at 100 TB a database sequence (or a
    row_number over an unpartitioned window, which Spark executes as
    ONE task holding the whole table) is the bottleneck.

    The scalable idiom: (1) repartitionByRange on the order columns —
    rows land in partition p iff they sort before everything in p+1;
    (2) sortWithinPartitions + per-partition row_number (parallel);
    (3) count rows per partition (tiny agg), prefix-sum the counts
    driver-side (partition-count-sized, not row-sized), broadcast the
    offsets back; id = offset[p] + local_rank. Two jobs total; no
    stage ever sees more than its partition.

    ``order_by`` must be a TOTAL order (add a unique key as the last
    column) or ids within a tie are partition-placement-dependent.
    monotonically_increasing_id() is the cheaper one-job alternative
    when ids only need to be unique+increasing, not dense — this
    operator is for the dense, order-defined contract."""
    from pyspark.sql import Window as W

    cols = [F.col(c) for c in order_by]
    n_parts = partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(n_parts, *cols).sortWithinPartitions(*cols)
    # FREEZE the partitioning: repartitionByRange samples its bounds, so
    # re-executing the plan for the second job could place rows
    # differently than the counted run — the checkpoint pins one layout
    # for both the size pass and the id pass
    with_pid = ranged.withColumn(
        "_pid", F.spark_partition_id()
    ).localCheckpoint()
    # partition-count-sized collect: the offsets table is O(partitions)
    sizes = (
        with_pid.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n")).collect()
    )
    offsets = {}
    acc = start
    for row in sorted(sizes, key=lambda r: r._pid):
        offsets[row._pid] = acc
        acc += row._n
    off_df = df.sparkSession.createDataFrame(
        [(p, o) for p, o in offsets.items()], "_pid int, _off bigint"
    )
    w = W.partitionBy("_pid").orderBy(*cols)
    return (
        # bcast: O(partitions) — one offset row per partition
        with_pid.join(F.broadcast(off_df), "_pid")
        .withColumn(
            key_col, (F.col("_off") + F.row_number().over(w) - 1).cast("bigint")
        )
        .drop("_pid", "_off")
    )
