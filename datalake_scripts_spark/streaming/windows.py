"""Structured Streaming surface.

The reference's streaming-shaped behavior is cron micro-batches over
hour-partitioned path globs with a lag-window re-run for late data
(jhub_proc.py:267-276, monkey_load.py:210-214; SURVEY.md §2.7). Here
that becomes real event-time processing: file-source readStream ->
withWatermark -> tumbling/sliding/session windows -> append sinks.
Late data is handled by the watermark instead of re-runs; dedup within
the watermark replaces "append now, dedup downstream".

The transformations are the SAME functions the batch queries use —
Structured Streaming's incrementalization, not a parallel codebase.
"""

from __future__ import annotations

import contextlib as _contextlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def events_schema() -> T.StructType:
    """Explicit schema for the events stream (no inference on streams).

    ``ts`` is TIMESTAMP (with zone, instant semantics): Spark watermarks
    require it — NTZ event time is rejected. Batch oracle queries use NTZ;
    the io layer converts at the boundary."""
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


@_contextlib.contextmanager
def state_partitions_for(
    spark: SparkSession,
    src: str,
    target_bytes: int = 32 * 1024 * 1024,
    min_parts: int = 4,
    floor_parallelism: bool = False,
):
    """Scale-adaptive state-partition count for a streaming query over
    a file source (r12 optimization, guide §2.2/§1.2 applied to
    streaming state).

    A streaming query pins its state-store partition count to
    ``spark.sql.shuffle.partitions`` at first start; AQE never touches
    it. With the session default (sized for the BATCH workload — one
    per core locally, thousands on a cluster), a modest stream pays
    per-batch state commit + maintenance for every store: measured at
    sf0.1, the rolling-distinct stream spent 1.3 s per micro-batch on
    64 near-empty stores (2 stateful ops x 32 partitions) — the EMPTY
    watermark-flush batch alone took 1.3 s. Sizing by the source's
    bytes (:func:`operators.scale.bytes_partitions`: ceil(bytes /
    target) raised to ``min_parts``, capped by the session setting)
    keeps per-store state near ``target_bytes`` and never RAISES the
    count above what the session (i.e. the deployment) already chose, so a production session with thousands of shuffle
    partitions and a large source keeps them. Results are unchanged —
    partitioning only moves rows across stores.

    ``floor_parallelism=True`` additionally floors the count at the
    cluster's ``defaultParallelism`` (still capped by the session
    setting). Use it for streams whose stateful operator runs PYTHON
    per-partition work (``applyInPandasWithState`` /
    ``transformWithStateInPandas``): there the per-batch cost is
    compute spread across partitions, not per-store commit overhead,
    and shrinking below the core count serializes it — measured at
    sf0.1 (r13, isolated fresh-JVM medians): the funnel stream ran
    2.96 s at the bytes-derived 4 partitions vs 1.96-2.05 s at >= 8;
    the JVM-stateful rolling-distinct stream shows the opposite
    (2.87 s bytes-derived vs 4.0 s at the session setting), which is
    why the floor is opt-in per operator class rather than global.

    Restores the session setting on exit; the streaming query keeps
    the pinned count for its lifetime (Spark reads it at start)."""
    from ..operators.scale import bytes_partitions

    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    floor = min_parts
    if floor_parallelism:
        floor = max(floor, spark.sparkContext.defaultParallelism)
    n = bytes_partitions(spark, src, target_bytes=target_bytes, min_parts=floor)
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield n
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(cur))


def stream_from_directory(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream: the incremental-listing upgrade of the
    reference's "process the previous hour's glob" pattern. New files in
    ``path`` become micro-batches; checkpointing makes it exactly-once."""
    reader = spark.readStream.format(fmt).schema(schema or events_schema())
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def tumbling_agg(
    events: DataFrame, window: str = "1 hour", watermark: str = "30 minutes"
) -> DataFrame:
    """Tumbling event-time counts/sums; watermark bounds state and
    admits late data up to the horizon (vs the reference's lag-day
    re-runs)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_agg(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n_events")
    )


def session_agg(
    events: DataFrame, gap: str = "10 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Session windows with an inactivity gap — merging windows, stateful."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def trailing_distinct_users(
    events: DataFrame,
    window_days: int = 7,
    watermark: str = "8 days",
) -> DataFrame:
    """Streaming 7-day rolling distinct users — the streaming twin of
    the batch ``events_trailing_distinct_users`` query (VERDICT r8 ask
    #6). COUNT(DISTINCT) is unsupported over streaming aggregations,
    so distinctness becomes DEDUP-then-COUNT, and the trailing window
    becomes the same bounded contribute-to-window explode the batch
    path uses (streaming-safe by construction — each event fans out to
    the ≤``window_days`` window-end days it is visible in, no range
    join, no unbounded frame):

    1. explode each event to its window-end days (``day_ts``);
    2. ``dropDuplicatesWithinWatermark`` on (user, window day) — one
       vote per user per window;
    3. a 1-day tumbling aggregation over ``day_ts`` counts the votes.

    Watermark notes: ``day_ts`` runs up to ``window_days - 1`` days
    AHEAD of the event time that produced it, and duplicates of one
    (user, window day) pair arrive up to ``window_days`` apart — so
    the watermark must be at least ``window_days + lateness`` days for
    exact parity with the batch twin (hence the 8-day default). State
    is O(active users x window_days) dedup keys + O(open days)
    aggregation buckets, both watermark-bounded.

    Emits (day date, distinct_users_7d) in append mode once the
    watermark passes each day — EVERY window-end day a user is visible
    in, including calendar days with no events of their own (the batch
    query's trailing semantics restricted to observed days; the twin
    test aligns on observed days)."""
    day = F.date_trunc("DAY", F.col("ts"))
    contrib = (
        events.select("ts", "user_id")
        .withColumn(
            "day_ts",
            F.explode(
                F.sequence(
                    day,
                    day + F.expr(f"INTERVAL {window_days - 1} DAYS"),
                    F.expr("INTERVAL 1 DAY"),
                )
            ),
        )
        .drop("ts")
    )
    return (
        contrib.withWatermark("day_ts", watermark)
        .dropDuplicatesWithinWatermark(["user_id", "day_ts"])
        .groupBy(F.window("day_ts", "1 day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("distinct_users_7d"))
        .select(
            F.col("window.start").cast("date").alias("day"),
            "distinct_users_7d",
        )
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Streaming dedup on event_id within the watermark horizon —
    replaces the reference's "append duplicates, consumers dedup" policy
    (SURVEY.md §2.7) with at-source exactly-once semantics."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "append"):
    """Drive a streaming query over all currently-available input and
    stop — the synchronous local test harness (memory sink)."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


def streaming_funnel(
    events: DataFrame,
    stages: tuple[str, str, str] = ("view", "click", "purchase"),
    watermark: str = "30 minutes",
) -> DataFrame:
    """Ordered 3-stage funnel as a stateful streaming operator
    (applyInPandasWithState), EXACT under out-of-order arrival within
    the watermark — the streaming twin of the batch
    ``events_funnel_conversion`` semantics: t1 = first stage-1 event,
    t2 = first stage-2 event STRICTLY after the realized t1, t3 = first
    stage-3 event strictly after t2.

    Why naive state (just t1/t2/t3) is wrong: a late stage-1 event can
    LOWER t1, which can make an already-seen stage-2 event qualify
    retroactively — if it was discarded, the funnel silently
    under-counts. The sufficient state is the realized times PLUS, per
    later stage, the CANDIDATE buffer of events that do not qualify
    yet but still could if an earlier stage's time drops: stage-2
    events with watermark < ts <= t1, stage-3 events with
    watermark < ts <= t2. A buffered candidate with ts <= watermark
    can never qualify (the earlier time can only drop to >= the
    watermark), so buffers are pruned every batch — state is
    O(events within the watermark horizon) per user, not O(history).

    Per batch, per user: fold stage-1 minima into t1; re-evaluate the
    stage-2 buffer + new stage-2 events against the (possibly lower)
    t1; then stage 3 against the (possibly lower) t2; prune buffers to
    the current watermark; emit (user_id, stage_reached, t1, t2, t3)
    in update mode when anything changed. Every coordinate improves
    monotonically (times only decrease, stage only increases), so the
    latest emission per user IS the best state. Batch-mode input falls
    back to the equivalent per-user conditional-min chain."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    s1, s2, s3 = stages
    out_schema = (
        "user_id bigint, stage_reached int, "
        "t1 timestamp, t2 timestamp, t3 timestamp"
    )

    if not events.isStreaming:
        v = (
            events.filter(F.col("event_type") == s1)
            .groupBy("user_id")
            .agg(F.min("ts").alias("t1"))
        )
        c = (
            events.filter(F.col("event_type") == s2)
            .join(v, "user_id")
            .filter(F.col("ts") > F.col("t1"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("t2"))
        )
        p = (
            events.filter(F.col("event_type") == s3)
            .join(c, "user_id")
            .filter(F.col("ts") > F.col("t2"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("t3"))
        )
        return (
            v.join(c, "user_id", "left")
            .join(p, "user_id", "left")
            .select(
                "user_id",
                (
                    F.when(F.col("t3").isNotNull(), 3)
                    .when(F.col("t2").isNotNull(), 2)
                    .otherwise(1)
                ).cast("int").alias("stage_reached"),
                "t1", "t2", "t3",
            )
        )

    def _us(series) -> list[int]:
        return (series.astype("int64") // 1000).tolist()

    def update(key, pdfs, state: GroupState):
        # state: realized times in micros (-1 = not reached) + buffers
        if state.exists:
            t1, t2, t3, buf2, buf3 = state.get
            buf2, buf3 = list(buf2), list(buf3)
        else:
            t1, t2, t3, buf2, buf3 = -1, -1, -1, [], []
        before = (t1, t2, t3)
        new2: list[int] = []
        new3: list[int] = []
        for pdf in pdfs:
            by = pdf.groupby("event_type")["ts"]
            for ev, series in by:
                if ev == s1:
                    m = min(_us(series))
                    t1 = m if t1 < 0 else min(t1, m)
                elif ev == s2:
                    new2.extend(_us(series))
                elif ev == s3:
                    new3.extend(_us(series))
        # stage 2 against the (possibly lowered) t1
        cand2 = buf2 + new2
        if t1 >= 0:
            qual = [c for c in cand2 if c > t1]
            if qual:
                m = min(qual)
                t2 = m if t2 < 0 else min(t2, m)
        # stage 3 against the (possibly lowered) t2
        cand3 = buf3 + new3
        if t2 >= 0:
            qual = [c for c in cand3 if c > t2]
            if qual:
                m = min(qual)
                t3 = m if t3 < 0 else min(t3, m)
        # re-buffer the still-possible candidates, pruned to the
        # watermark (ts <= wm can never qualify later; see docstring)
        wm = state.getCurrentWatermarkMs() * 1000  # ms -> us
        buf2 = sorted(c for c in cand2 if c > wm and (t1 < 0 or c <= t1))
        buf3 = sorted(c for c in cand3 if c > wm and (t2 < 0 or c <= t2))
        state.update((t1, t2, t3, buf2, buf3))
        if (t1, t2, t3) != before and t1 >= 0:
            stage = 3 if t3 >= 0 else 2 if t2 >= 0 else 1
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "stage_reached": [stage],
                    "t1": [pd.Timestamp(t1, unit="us")],
                    "t2": [pd.Timestamp(t2, unit="us") if t2 >= 0 else None],
                    "t3": [pd.Timestamp(t3, unit="us") if t3 >= 0 else None],
                }
            )

    return (
        events.withWatermark("ts", watermark)
        .select("user_id", "event_type", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=(
                "t1 bigint, t2 bigint, t3 bigint, "
                "buf2 array<bigint>, buf3 array<bigint>"
            ),
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def running_user_totals(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running event count + value total maintained across
    micro-batches (what windowed aggs can't express: unbounded
    accumulation keyed by user, emitted on every update).

    State is one (count, total) pair per user — O(users) memory bounded
    by the key space, not the stream length. Batch-mode DataFrames fall
    back to a plain groupBy (same semantics at end-of-input).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id bigint, n_events bigint, total_value double"

    if not events.isStreaming:
        return (
            events.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(12,2)")).cast("double")
                .alias("total_value"),
            )
        )

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType="n bigint, total double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def running_user_totals_tws(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Spark 4 transformWithStateInPandas variant of
    :func:`running_user_totals`: the modern arbitrary-stateful API
    (typed per-key ValueState with optional TTL, timers, multiple state
    variables) replacing applyInPandasWithState's single-tuple state.
    Same semantics: per-user running (count, value-total), emitted on
    every update. Batch-mode input falls back to the equivalent groupBy.

    Runtime requirements (both are cluster config, not code): the
    RocksDB state store provider
    (spark.sql.streaming.stateStore.providerClass=...RocksDBStateStoreProvider
    — the default HDFS-backed store does not support transformWithState)
    and a working google.protobuf for the Python runner (broken in this
    test image, so the streaming path is env-gated in tests; the batch
    fallback and plan construction are exercised unconditionally)."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = "user_id bigint, n_events bigint, total_value double"

    if not events.isStreaming:
        return (
            events.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(12,2)")).cast("double")
                .alias("total_value"),
            )
        )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", "n bigint, total double")

        def handleInputRows(self, key, rows, timerValues):
            n, total = self._state.get() if self._state.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._state.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
            )

        def close(self) -> None:
            pass

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            RunningTotals(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
    )


def enrich_with_static(stream_df: DataFrame, static_df: DataFrame, on: str) -> DataFrame:
    """Stream-static join: enrich a stream with a (broadcastable) static
    dimension — the streaming upgrade of the reference's carry-the-fk
    denormalization (SURVEY.md §2.3: parent ids re-selected into each child
    before explode). Spark re-reads the static side per micro-batch, so
    a Delta/parquet dim picks up slowly-changing updates without
    restarting the query; the join itself is stateless (no watermark
    needed)."""
    # bcast: caller-contract — stream-static enrichment dim; the caller
    # asserts the static side fits (re-broadcast per micro-batch)
    return stream_df.join(F.broadcast(static_df), on, "left")


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    watermark: str = "1 hour",
    max_delay: str = "30 minutes",
    suffix: str = "_r",
) -> DataFrame:
    """Stream-stream inner join on ``key`` with an event-time interval
    bound: right rows match left rows with
    ``left_ts <= right_ts <= left_ts + max_delay`` (e.g. a purchase
    joined to the signup that preceded it within the delay bound).

    Both sides get the SAME watermark and the range predicate bounds
    the join state in BOTH directions — Spark can discard left state
    once right's watermark passes ``left_ts + max_delay`` and vice
    versa, so state size is O(rate * (watermark + max_delay)), not
    unbounded. Without a range (or window-equality) condition a
    stream-stream join must keep every row forever — the classic
    streaming OOM; this helper makes the bound impossible to forget.
    Right-side columns are suffixed to avoid collisions. Inner only:
    outer stream-stream joins emit nulls at watermark expiry with the
    same state bound, but late-arrival semantics differ per side — keep
    those explicit at the call site.
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    renames = {c: c + suffix for c in rw.columns}
    for old, new in renames.items():
        rw = rw.withColumnRenamed(old, new)
    lts, rts = F.col(left_ts), F.col(right_ts + suffix)
    cond = (
        (F.col(key) == F.col(key + suffix))
        & (rts >= lts)
        & (rts <= lts + F.expr(f"INTERVAL {max_delay}"))
    )
    return lw.join(rw, cond, "inner").drop(key + suffix)


def stream_stream_interval_join_outer(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    watermark: str = "1 hour",
    max_delay: str = "30 minutes",
    suffix: str = "_r",
) -> DataFrame:
    """LEFT OUTER variant of :func:`stream_stream_interval_join`: left
    rows that never match emit once with NULL right columns — but only
    AFTER the watermark passes ``left_ts + max_delay`` (before that,
    a match could still arrive), so unmatched results are delayed by
    the watermark horizon by construction. State bound is identical to
    the inner form; the semantic difference is that expiry EMITS the
    null row instead of just discarding state. This is the
    streaming-native "purchases without an attributed view" /
    "signups that never activated" query, replacing the reference's
    consumer-side anti-joins over append tables (SURVEY.md §2.7)."""
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    for c in rw.columns:
        rw = rw.withColumnRenamed(c, c + suffix)
    lts, rts = F.col(left_ts), F.col(right_ts + suffix)
    cond = (
        (F.col(key) == F.col(key + suffix))
        & (rts >= lts)
        & (rts <= lts + F.expr(f"INTERVAL {max_delay}"))
    )
    return lw.join(rw, cond, "leftOuter").drop(key + suffix)
