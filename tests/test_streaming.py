"""Structured Streaming: the streaming path produces the same results as
the batch path over the same files (memory-sink harness)."""

import pytest
from pyspark.sql import functions as F

from datalake_scripts_spark.io import read_table
from datalake_scripts_spark.streaming import (
    dedup_within_watermark,
    run_to_memory,
    stream_from_directory,
    tumbling_agg,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Events re-landed as a normal (microsecond-ts) parquet directory,
    as a streaming file source requires."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    df = read_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    df.write.mode("overwrite").parquet(out)
    return out


def test_stream_tumbling_equals_batch(spark, events_dir):
    stream = stream_from_directory(spark, events_dir)
    assert stream.isStreaming
    run_to_memory(tumbling_agg(stream, "1 hour"), "t_tumbling", output_mode="complete")
    streamed = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM t_tumbling").collect()
    }
    batch_df = tumbling_agg(spark.read.parquet(events_dir), "1 hour")
    batch = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in batch_df.collect()
    }
    assert streamed == batch
    assert len(batch) > 0


def test_stream_dedup_within_watermark(spark, events_dir):
    stream = stream_from_directory(spark, events_dir)
    run_to_memory(dedup_within_watermark(stream), "t_dedup")
    n = spark.sql("SELECT COUNT(*) AS n FROM t_dedup").first().n
    n_src = spark.read.parquet(events_dir).select("event_id").distinct().count()
    assert n == n_src


def test_session_agg_is_streaming_compatible(spark, events_dir):
    from datalake_scripts_spark.streaming import session_agg

    stream = stream_from_directory(spark, events_dir)
    run_to_memory(session_agg(stream, gap="10 minutes"), "t_sessions")
    rows = spark.sql("SELECT * FROM t_sessions").collect()
    assert all(r.session_end > r.session_start for r in rows)


def test_foreach_batch_parquet_sink(spark, events_dir, tmp_path):
    from datalake_scripts_spark.streaming import foreach_batch_parquet

    out = str(tmp_path / "stream_out")
    stream = stream_from_directory(spark, events_dir)
    q = (
        tumbling_agg(stream, "1 hour")
        .writeStream.outputMode("complete")
        .foreachBatch(foreach_batch_parquet(out, mode="overwrite"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    written = spark.read.parquet(out)
    batch = tumbling_agg(spark.read.parquet(events_dir), "1 hour")
    assert written.count() == batch.count()


def test_jhub_streaming_pipeline(spark, tmp_path):
    """The jhub pipeline under readStream: identical output to batch
    over the same files (the cron-glob -> streaming upgrade)."""
    import json

    from datalake_scripts_spark.plans.jhub import jhub_logs_stream, jhub_logs_table

    d = tmp_path / "jhub_stream"
    d.mkdir()
    lines = [
        {"time": "2023-05-01T10:00:00.123456789Z",
         "log": "[I 2023-05-01 10:00:00.123 JupyterHub app:1] started",
         "kubernetes": {"container_name": "hub", "host": "n1", "pod_name": "p0",
                        "annotations": None, "labels": None}},
        {"time": "2023-05-01T11:00:00.000000000Z",
         "log": "malformed",
         "kubernetes": {"container_name": "hub", "host": "n1", "pod_name": "p0",
                        "annotations": None, "labels": None}},
    ]
    (d / "part0.json").write_text("\n".join(json.dumps(x) for x in lines))

    stream = jhub_logs_stream(spark, str(d))
    assert stream.isStreaming
    run_to_memory(stream, "t_jhub")
    streamed = spark.sql("SELECT * FROM t_jhub").collect()
    batch = jhub_logs_table(spark, f"{d}/*.json").collect()
    assert sorted(map(str, streamed)) == sorted(map(str, batch))
    assert len(streamed) == 2


def test_stateful_running_user_totals(spark, events_dir):
    from datalake_scripts_spark.streaming.windows import running_user_totals

    stream = stream_from_directory(spark, events_dir)
    run_to_memory(running_user_totals(stream), "t_state", output_mode="update")
    # the LAST update per user equals the batch totals
    rows = spark.sql(
        """
        SELECT user_id, n_events, total_value FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY n_events DESC) rn
          FROM t_state) WHERE rn = 1
        """
    ).collect()
    streamed = {r.user_id: r.n_events for r in rows}
    batch = {
        r.user_id: r.n_events
        for r in running_user_totals(spark.read.parquet(events_dir)).collect()
    }
    assert streamed == batch and len(batch) > 0


def test_watermark_drops_late_data(spark, tmp_path):
    """Event-time watermark semantics for real: a second micro-batch
    arriving far behind the advanced watermark is excluded from append
    output — the engine's replacement for the reference's lag-day
    re-runs actually enforces the lateness bound."""
    import datetime as dt

    from pyspark.sql import Row

    d = tmp_path / "late_events"
    d.mkdir()
    base = dt.datetime(2024, 1, 1, 0, 0)

    def write_batch(name, rows):
        spark.createDataFrame(rows).withColumn(
            "ts", F.col("ts").cast("timestamp")
        ).write.mode("overwrite").parquet(str(d / name))

    # batch 1: on-time events advancing the watermark to ~10:00-0:10
    write_batch("b1", [
        Row(event_id=i, ts=base + dt.timedelta(hours=10, minutes=i),
            user_id=1, event_type="view", value=1.0, props="{}")
        for i in range(5)
    ])
    stream = stream_from_directory(spark, str(d) + "/*", max_files_per_trigger=1)
    agg = tumbling_agg(stream, window="1 hour", watermark="10 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory").queryName("t_late").start()
    )
    q.processAllAvailable()
    # batch 2: an event 10 HOURS late — far beyond the 10-minute watermark
    write_batch("b2", [
        Row(event_id=99, ts=base, user_id=1, event_type="view",
            value=1.0, props="{}")
    ])
    q.processAllAvailable()
    # batch 3: on-time event far ahead; closes earlier windows
    write_batch("b3", [
        Row(event_id=100, ts=base + dt.timedelta(hours=20), user_id=1,
            event_type="view", value=1.0, props="{}")
    ])
    q.processAllAvailable()
    q.stop()
    out = spark.sql("SELECT * FROM t_late").collect()
    starts = {r.window_start for r in out}
    # the 10:00 window emitted; the midnight window (late event) must NOT
    assert any(r.window_start.hour == 10 for r in out)
    assert not any(r.window_start.hour == 0 for r in out)


def _protobuf_ok():
    """transformWithStateInPandas spawns a Python runner that imports
    google.protobuf; this container ships a broken protobuf (and installs
    are not allowed), so the streaming path is env-gated. The operator
    itself is plain Spark 4 API and runs on any normal cluster."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(not _protobuf_ok(), reason="google.protobuf broken in image")
def test_transform_with_state_running_totals(spark, events_dir):
    from datalake_scripts_spark.streaming.windows import (
        running_user_totals,
        running_user_totals_tws,
    )

    stream = stream_from_directory(spark, events_dir)
    run_to_memory(running_user_totals_tws(stream), "t_tws", output_mode="update")
    rows = spark.sql(
        """
        SELECT user_id, n_events, total_value FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY n_events DESC) rn
          FROM t_tws) WHERE rn = 1
        """
    ).collect()
    streamed = {r.user_id: r.n_events for r in rows}
    batch = {
        r.user_id: r.n_events
        for r in running_user_totals(spark.read.parquet(events_dir)).collect()
    }
    assert streamed == batch and len(batch) > 0


def test_transform_with_state_batch_fallback(spark, events_dir):
    from datalake_scripts_spark.streaming.windows import (
        running_user_totals,
        running_user_totals_tws,
    )

    batch = spark.read.parquet(events_dir)
    a = {r.user_id: (r.n_events, r.total_value)
         for r in running_user_totals_tws(batch).collect()}
    b = {r.user_id: (r.n_events, r.total_value)
         for r in running_user_totals(batch).collect()}
    assert a == b and len(a) > 0


def test_stream_static_enrichment(spark, events_dir):
    from datalake_scripts_spark.streaming.windows import enrich_with_static

    users = spark.createDataFrame(
        [(u, f"tier_{u % 3}") for u in range(200)], "user_id bigint, tier string"
    )
    stream = stream_from_directory(spark, events_dir)
    run_to_memory(enrich_with_static(stream, users, "user_id"), "t_enriched")
    streamed = spark.sql(
        "SELECT tier, COUNT(*) AS n FROM t_enriched GROUP BY tier"
    ).collect()
    batch = (
        enrich_with_static(spark.read.parquet(events_dir), users, "user_id")
        .groupBy("tier")
        .count()
        .collect()
    )
    assert {(r.tier, r.n) for r in streamed} == {(r.tier, r["count"]) for r in batch}
    assert len(streamed) > 0


def test_dual_sink_exactly_once(spark, sf_dir, tmp_path):
    """Reference dual-write (zoom_proc.py:399-400: parquet staging +
    JDBC serving) under streaming with one checkpoint. Asserts the
    exactly-once contract end-to-end: multiple micro-batches land in
    both sinks, a checkpointed restart re-delivers nothing, and a forced
    epoch REPLAY (at-least-once delivery's failure mode) is a no-op in
    both sinks."""
    from datalake_scripts_spark.streaming import (
        foreach_batch_dual,
        foreach_batch_epoch_jdbc,
        foreach_batch_epoch_parquet,
        stream_from_directory,
    )

    derby = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    url = f"jdbc:derby:{tmp_path}/dualdb;create=true"

    # land events as 3 files -> 3 micro-batches at maxFilesPerTrigger=1
    src = str(tmp_path / "src")
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    ev.repartition(3).write.mode("overwrite").parquet(src)
    n_total = ev.count()

    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    pq_out = str(tmp_path / "staging")
    ckpt = str(tmp_path / "ckpt")
    sink = foreach_batch_dual(
        foreach_batch_epoch_parquet(pq_out),
        foreach_batch_epoch_jdbc(url, "events_serve", properties=derby),
    )

    def run_once():
        q = (
            stream_from_directory(spark, src, schema=schema, max_files_per_trigger=1)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_once()
    staged = spark.read.parquet(pq_out)
    assert staged.count() == n_total
    assert staged.select("batch_id").distinct().count() == 3

    def jdbc_count():
        return (
            spark.read.format("jdbc")
            .option("url", url)
            .option("dbtable", "events_serve")
            .option("driver", derby["driver"])
            .load()
            .count()
        )

    assert jdbc_count() == n_total

    # checkpointed restart: no new files -> nothing re-delivered
    run_once()
    assert spark.read.parquet(pq_out).count() == n_total
    assert jdbc_count() == n_total

    # forced replay of an already-committed epoch (what a crash between
    # sink write and checkpoint commit produces): both sinks no-op.
    # Materialize the batch first — a lazy scan of batch_id=0 would be
    # reading the very files the parquet sink is overwriting.
    replay_rows = spark.read.parquet(f"{pq_out}/batch_id=0").collect()
    replay = spark.createDataFrame(replay_rows, schema)
    sink(replay, 0)
    assert spark.read.parquet(pq_out).count() == n_total
    assert jdbc_count() == n_total


def test_stream_stream_interval_join_equals_batch(spark, events_dir):
    """Stream-stream inner interval join (purchase joined to same-user
    page_views within 30 minutes BEFORE it) produces exactly the batch
    join's rows once all files are processed, and the plan carries the
    state bound (watermarks on both sides + time-range condition)."""
    from datalake_scripts_spark.streaming import (
        stream_from_directory,
        stream_stream_interval_join,
        run_to_memory,
    )

    def split(df):
        views = df.filter(F.col("event_type") == "view").select(
            "user_id", "ts", "event_id"
        )
        buys = df.filter(F.col("event_type") == "purchase").select(
            "user_id", "ts", "event_id"
        )
        return views, buys

    sv, sb = split(stream_from_directory(spark, events_dir))
    joined = stream_stream_interval_join(
        sv, sb, key="user_id", watermark="2 hours", max_delay="30 minutes"
    )
    assert joined.isStreaming
    run_to_memory(joined, "t_ss_join")
    got = {
        (r.user_id, r.event_id, r.event_id_r)
        for r in spark.sql("SELECT * FROM t_ss_join").collect()
    }

    bv, bb = split(spark.read.parquet(events_dir))
    bb = (bb.withColumnRenamed("ts", "ts_r")
            .withColumnRenamed("event_id", "event_id_r")
            .withColumnRenamed("user_id", "user_id_r"))
    batch = bv.join(
        bb,
        (F.col("user_id") == F.col("user_id_r"))
        & (F.col("ts_r") >= F.col("ts"))
        & (F.col("ts_r") <= F.col("ts") + F.expr("INTERVAL 30 minutes")),
    )
    want = {
        (r.user_id, r.event_id, r.event_id_r) for r in batch.collect()
    }
    assert got == want and len(want) > 0


def test_state_partitions_for_policies(spark, events_dir):
    """Sizing contract of state_partitions_for: the bytes_partitions
    rule min(session setting, max(min_parts, ceil(bytes/target))), an
    optional defaultParallelism floor for Python-stateful operators —
    and the session value is restored on exit."""
    from datalake_scripts_spark.streaming import state_partitions_for

    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    par = spark.sparkContext.defaultParallelism

    # tiny source, default policy: bytes-derived floor of 4 (per-store
    # commit overhead dominates JVM-stateful streams)
    with state_partitions_for(spark, events_dir) as n:
        want = min(cur, max(4, -(-_dir_bytes(events_dir) // (32 << 20))))
        assert n == want
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == n
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == cur

    # floor_parallelism: never below min(session, defaultParallelism)
    # (Python-stateful operators parallelize compute across stores),
    # never above the session setting
    with state_partitions_for(spark, events_dir, floor_parallelism=True) as n:
        assert n >= min(cur, par)
        assert n <= cur
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == cur

    # a huge-bytes source derivation is still capped by the session
    with state_partitions_for(spark, events_dir, target_bytes=1) as n:
        assert n == cur

    # a session setting below min_parts wins, and is restored
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        with state_partitions_for(spark, events_dir, min_parts=4) as n:
            assert n == 2
        assert spark.conf.get("spark.sql.shuffle.partitions") == "2"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(cur))


def _dir_bytes(path):
    import os

    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
