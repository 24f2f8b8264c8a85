"""DML optimistic conflict RESOLUTION (VERDICT r8 ask #1): on a lost
commit race, DELETE/UPDATE/MERGE/OPTIMIZE-WHERE re-read the winning
snapshot and — when the winner is logically disjoint (touched files
live, DV state unchanged, same schema/spec, winner-added files cleared
by the stats guard) — REBASE their manifest and commit, so concurrent
cron writers (the reference's deployment model, zoom_proc.py:314-343 +
jhub_proc.py:267-276) both land. Overlapping winners raise
ConcurrentDMLConflict naming the conflicting files; a blind retry
would publish stale data.

The winner is injected between the loser's snapshot read and its CAS
by wrapping versioned._commit_manifest — the same deterministic race
harness test_concurrency.py uses. The flagship disjoint-partition race
runs against POSIX, in-memory, HTTP (real network boundary), and
fault-injecting stores."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import datalake_scripts_spark.operators.versioned as V
from datalake_scripts_spark.operators.commitstore import (
    FaultInjectingCommitStore,
    MemoryCommitStore,
    set_commit_store,
)
from datalake_scripts_spark.operators.versioned import (
    CommitConflict,
    ConcurrentDMLConflict,
)


@pytest.fixture(scope="module")
def server():
    from datalake_scripts_spark.operators.commitstore_http import (
        LocalObjectStoreServer,
    )

    s = LocalObjectStoreServer()
    yield s
    s.close()


@pytest.fixture(params=["posix", "memory", "http", "faulty_http"])
def store(request, server):
    from datalake_scripts_spark.operators.commitstore import (
        PosixCommitStore,
    )
    from datalake_scripts_spark.operators.commitstore_http import (
        HttpCommitStore,
    )

    if request.param == "posix":
        s = PosixCommitStore()
    elif request.param == "memory":
        s = MemoryCommitStore()
    elif request.param == "http":
        s = HttpCommitStore(server.url)
    else:
        s = FaultInjectingCommitStore(HttpCommitStore(server.url))
        s.arm("ambiguous_success", 1).arm("torn_write", 1)
    prev = set_commit_store(s)
    yield s
    set_commit_store(prev)


@pytest.fixture()
def table_dir(tmp_path):
    return str(tmp_path / "rtable")


def _tbl(spark, n=300, parts=3):
    return spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % parts).cast("string").alias("p"),
        (F.col("id") * 2).alias("val"),
    )


def _race(winner):
    """Wrap V._commit_manifest so ``winner()`` runs exactly once,
    right before the NEXT commit attempt — the concurrent writer
    landing between the loser's snapshot read and its CAS."""
    real = V._commit_manifest
    state = {"done": False}

    def wrapper(td, *a, **k):
        if not state["done"]:
            state["done"] = True
            winner()
        return real(td, *a, **k)

    return wrapper, real


# ------------------------------------------------ disjoint -> rebase


def test_disjoint_partition_deletes_both_commit(store, spark, table_dir):
    """Two concurrent DELETEs on disjoint partitions BOTH commit —
    across every store class (the VERDICT's done-criterion race)."""
    V.write_versioned(
        spark, _tbl(spark), table_dir, mode="append", partition_by=["p"]
    )
    base = V.current_version(table_dir)

    def winner():
        v, n = V.delete_versioned(
            spark, table_dir, "p = '1' AND k % 2 = 0",
            skip_filter=[("p", "=", "1")],
        )
        assert n == 50

    wrapper, real = _race(winner)
    V._commit_manifest = wrapper
    try:
        v, n = V.delete_versioned(
            spark, table_dir, "p = '0' AND k % 2 = 0",
            skip_filter=[("p", "=", "0")],
        )
    finally:
        V._commit_manifest = real
    assert n == 50
    assert V.current_version(table_dir) == base + 2
    got = V.read_versioned(spark, table_dir)
    assert got.filter("p = '0' AND k % 2 = 0").count() == 0
    assert got.filter("p = '1' AND k % 2 = 0").count() == 0
    assert got.filter("p = '2'").count() == 100  # untouched partition
    assert got.count() == 200


def test_delete_rebases_over_disjoint_append(spark, table_dir):
    """DELETE racing an append whose rows the stats guard proves are
    outside the delete's reach: both commit, nothing re-run."""
    V.write_versioned(spark, _tbl(spark), table_dir, mode="append")
    base = V.current_version(table_dir)
    extra = spark.range(1000, 1100).select(
        F.col("id").alias("k"), F.lit("9").alias("p"),
        (F.col("id") * 2).alias("val"),
    )

    wrapper, real = _race(
        lambda: V.write_versioned(spark, extra, table_dir, mode="append")
    )
    V._commit_manifest = wrapper
    try:
        v, n = V.delete_versioned(
            spark, table_dir, "k < 100", skip_filter=[("k", "<", 100)]
        )
    finally:
        V._commit_manifest = real
    assert n == 100
    assert V.current_version(table_dir) == base + 2
    got = V.read_versioned(spark, table_dir)
    assert got.filter("k < 100").count() == 0
    assert got.filter("k >= 1000").count() == 100  # append preserved
    assert got.count() == 300


def test_update_rebases_over_disjoint_append(spark, table_dir):
    V.write_versioned(spark, _tbl(spark), table_dir, mode="append")
    extra = spark.range(1000, 1010).select(
        F.col("id").alias("k"), F.lit("9").alias("p"),
        (F.col("id") * 2).alias("val"),
    )

    wrapper, real = _race(
        lambda: V.write_versioned(spark, extra, table_dir, mode="append")
    )
    V._commit_manifest = wrapper
    try:
        v, n = V.update_versioned(
            spark, table_dir, "k < 10", {"val": "val + 1000"},
            skip_filter=[("k", "<", 10)],
        )
    finally:
        V._commit_manifest = real
    assert n == 10
    got = V.read_versioned(spark, table_dir)
    assert got.filter("k < 10 AND val < 1000").count() == 0
    assert got.count() == 310


def test_merge_rebases_over_disjoint_append(spark, table_dir):
    """MERGE racing an append outside the source-key envelope: the
    envelope guard clears the added files and the merge rebases."""
    V.write_versioned(spark, _tbl(spark, n=100), table_dir, mode="append")
    src = spark.range(10).select(
        F.col("id").alias("k"), F.lit("0").alias("p"),
        F.lit(777).cast("long").alias("val"),
    ).union(
        spark.range(200, 202).select(
            F.col("id").alias("k"), F.lit("0").alias("p"),
            F.lit(888).cast("long").alias("val"),
        )
    )
    extra = spark.range(5000, 5005).select(
        F.col("id").alias("k"), F.lit("9").alias("p"),
        (F.col("id") * 2).alias("val"),
    )

    wrapper, real = _race(
        lambda: V.write_versioned(spark, extra, table_dir, mode="append")
    )
    V._commit_manifest = wrapper
    try:
        v, counts = V.merge_versioned(
            spark, table_dir, src, on=["k"],
            when_matched_update={"val": "s.val"},
        )
    finally:
        V._commit_manifest = real
    assert counts == {"n_updated": 10, "n_deleted": 0, "n_inserted": 2}
    got = V.read_versioned(spark, table_dir)
    assert got.filter("k < 10 AND val = 777").count() == 10
    assert got.filter("k IN (200, 201)").count() == 2
    assert got.filter("k >= 5000").count() == 5  # append preserved
    assert got.count() == 107


def test_dv_delete_rebases_over_disjoint_append(spark, table_dir):
    """Merge-on-read DELETE (one DV, no rewrite) rebases the same way:
    the new DV stacks onto the winner's snapshot."""
    V.write_versioned(spark, _tbl(spark, n=100), table_dir, mode="append")
    extra = spark.range(1000, 1020).select(
        F.col("id").alias("k"), F.lit("9").alias("p"),
        (F.col("id") * 2).alias("val"),
    )

    wrapper, real = _race(
        lambda: V.write_versioned(spark, extra, table_dir, mode="append")
    )
    V._commit_manifest = wrapper
    try:
        v, n = V.delete_versioned(
            spark, table_dir, "k < 10", skip_filter=[("k", "<", 10)],
            deletion_vectors=True,
        )
    finally:
        V._commit_manifest = real
    assert n == 10
    got = V.read_versioned(spark, table_dir)
    assert got.filter("k < 10").count() == 0
    assert got.count() == 110
    m = V._load_manifest(table_dir, V.current_version(table_dir))
    assert m.get("dvs")  # merge-on-read: DV present, files carried


def test_dv_update_rebases_over_disjoint_append(spark, table_dir):
    """Merge-on-read UPDATE: its DV stacks onto the winner's snapshot
    and its appended images land beside the winner's files."""
    V.write_versioned(spark, _tbl(spark, n=100), table_dir, mode="append")
    base = V.current_version(table_dir)
    extra = spark.range(1000, 1020).select(
        F.col("id").alias("k"), F.lit("9").alias("p"),
        (F.col("id") * 2).alias("val"),
    )

    wrapper, real = _race(
        lambda: V.write_versioned(spark, extra, table_dir, mode="append")
    )
    V._commit_manifest = wrapper
    try:
        v, n = V.update_versioned(
            spark, table_dir, "k < 10", {"val": "val + 1000"},
            skip_filter=[("k", "<", 10)], deletion_vectors=True,
        )
    finally:
        V._commit_manifest = real
    assert n == 10
    assert v == V.current_version(table_dir) == base + 2
    got = V.read_versioned(spark, table_dir)
    assert got.filter("k < 10 AND val >= 1000").count() == 10
    assert got.filter("k >= 1000").count() == 20  # append preserved
    assert got.count() == 120
    m = V._load_manifest(table_dir, v)
    assert m.get("dvs")


def test_dv_merge_rebases_over_disjoint_append(spark, table_dir):
    """Merge-on-read MERGE racing an append outside the source-key
    envelope: the envelope guard clears the added files, the DV stacks
    and the images plus inserts append over the winner."""
    V.write_versioned(spark, _tbl(spark, n=100), table_dir, mode="append")
    src = spark.range(10).select(
        F.col("id").alias("k"), F.lit("0").alias("p"),
        F.lit(777).cast("long").alias("val"),
    ).union(
        spark.range(200, 202).select(
            F.col("id").alias("k"), F.lit("0").alias("p"),
            F.lit(888).cast("long").alias("val"),
        )
    )
    extra = spark.range(5000, 5005).select(
        F.col("id").alias("k"), F.lit("9").alias("p"),
        (F.col("id") * 2).alias("val"),
    )

    wrapper, real = _race(
        lambda: V.write_versioned(spark, extra, table_dir, mode="append")
    )
    V._commit_manifest = wrapper
    try:
        v, counts = V.merge_versioned(
            spark, table_dir, src, on=["k"],
            when_matched_update={"val": "s.val"}, deletion_vectors=True,
        )
    finally:
        V._commit_manifest = real
    assert counts == {"n_updated": 10, "n_deleted": 0, "n_inserted": 2}
    got = V.read_versioned(spark, table_dir)
    assert got.filter("k < 10 AND val = 777").count() == 10
    assert got.filter("k IN (200, 201)").count() == 2
    assert got.filter("k >= 5000").count() == 5  # append preserved
    assert got.count() == 107
    assert V._load_manifest(table_dir, v).get("dvs")


def test_optimize_where_rebases_over_disjoint_append(spark, table_dir):
    """OPTIMIZE ... WHERE is pure re-layout: winner-added files never
    affect it, so it rebases even without a stats guard."""
    df = _tbl(spark)
    V.write_versioned(
        spark, df, table_dir, mode="append", partition_by=["p"]
    )
    V.write_versioned(
        spark, df.filter("p = '0'"), table_dir, mode="append",
        partition_by=["p"],
    )
    n_before = V.read_versioned(spark, table_dir).count()
    extra = spark.range(1000, 1050).select(
        F.col("id").alias("k"), F.lit("1").alias("p"),
        (F.col("id") * 2).alias("val"),
    )

    wrapper, real = _race(
        lambda: V.write_versioned(
            spark, extra, table_dir, mode="append", partition_by=["p"]
        )
    )
    V._commit_manifest = wrapper
    try:
        V.compact_versioned(
            spark, table_dir, target_files=1, where=[("p", "=", "0")]
        )
    finally:
        V._commit_manifest = real
    got = V.read_versioned(spark, table_dir)
    assert got.count() == n_before + 50  # rows preserved + append kept
    assert got.filter("k >= 1000").count() == 50


# --------------------------------------------- overlapping -> raise


def test_overlapping_deletes_conflict_named_then_rerun(spark, table_dir):
    """Two DELETEs over the SAME file: the loser raises
    ConcurrentDMLConflict naming the rewritten files; re-running
    against the new snapshot applies both predicates."""
    V.write_versioned(spark, _tbl(spark, n=100), table_dir, mode="append")

    wrapper, real = _race(
        lambda: V.delete_versioned(spark, table_dir, "k % 3 = 0")
    )
    V._commit_manifest = wrapper
    try:
        with pytest.raises(ConcurrentDMLConflict) as exc:
            V.delete_versioned(spark, table_dir, "k % 2 = 0")
    finally:
        V._commit_manifest = real
    assert exc.value.conflicting_files
    assert "rewritten or removed" in exc.value.reason
    # nothing was lost; the winner's delete is intact
    got = V.read_versioned(spark, table_dir)
    assert got.filter("k % 3 = 0").count() == 0
    assert got.filter("k = 2").count() == 1  # loser's delete NOT applied
    # re-run resolves
    v, n = V.delete_versioned(spark, table_dir, "k % 2 = 0")
    got = V.read_versioned(spark, table_dir)
    assert got.filter("k % 2 = 0 OR k % 3 = 0").count() == 0


def test_overlapping_merges_conflict_named_then_rerun(spark, table_dir):
    V.write_versioned(spark, _tbl(spark, n=100), table_dir, mode="append")

    def winner():
        src_w = spark.range(5, 15).select(
            F.col("id").alias("k"), F.lit("0").alias("p"),
            F.lit(111).cast("long").alias("val"),
        )
        V.merge_versioned(
            spark, table_dir, src_w, on=["k"],
            when_matched_update={"val": "s.val"},
            when_not_matched_insert=False,
        )

    src = spark.range(10).select(
        F.col("id").alias("k"), F.lit("0").alias("p"),
        F.lit(222).cast("long").alias("val"),
    )
    wrapper, real = _race(winner)
    V._commit_manifest = wrapper
    try:
        with pytest.raises(ConcurrentDMLConflict) as exc:
            V.merge_versioned(
                spark, table_dir, src, on=["k"],
                when_matched_update={"val": "s.val"},
                when_not_matched_insert=False,
            )
    finally:
        V._commit_manifest = real
    assert exc.value.conflicting_files
    got = V.read_versioned(spark, table_dir)
    assert got.filter("val = 111").count() == 10  # winner intact
    assert got.filter("val = 222").count() == 0
    # re-run resolves: loser's update applies on top
    V.merge_versioned(
        spark, table_dir, src, on=["k"],
        when_matched_update={"val": "s.val"},
        when_not_matched_insert=False,
    )
    got = V.read_versioned(spark, table_dir)
    assert got.filter("val = 222").count() == 10
    assert got.filter("val = 111").count() == 5  # k in 10..14


def test_delete_conflicts_with_predicate_matching_append(spark, table_dir):
    """An append whose rows the delete SHOULD have removed (inside its
    skip_filter envelope) cannot be rebased over: the DML's 'all
    matching rows' contract would silently break."""
    V.write_versioned(spark, _tbl(spark), table_dir, mode="append")
    extra = spark.range(50).select(
        F.col("id").alias("k"), F.lit("9").alias("p"),
        (F.col("id") * 2).alias("val"),
    )

    wrapper, real = _race(
        lambda: V.write_versioned(spark, extra, table_dir, mode="append")
    )
    V._commit_manifest = wrapper
    try:
        with pytest.raises(ConcurrentDMLConflict) as exc:
            V.delete_versioned(
                spark, table_dir, "k < 100", skip_filter=[("k", "<", 100)]
            )
    finally:
        V._commit_manifest = real
    assert "added" in exc.value.reason
    assert exc.value.conflicting_files
    # re-run sees the appended rows and removes them too
    v, n = V.delete_versioned(
        spark, table_dir, "k < 100", skip_filter=[("k", "<", 100)]
    )
    assert n == 150
    assert V.read_versioned(spark, table_dir).filter("k < 100").count() == 0


def test_delete_without_skip_filter_is_conservative_on_appends(
    spark, table_dir
):
    """No skip_filter means the predicate's reach is unknowable from
    stats: ANY concurrently added file conflicts (Delta's behavior for
    unskippable predicates) — correctness over convenience."""
    V.write_versioned(spark, _tbl(spark, n=100), table_dir, mode="append")
    extra = spark.range(1000, 1010).select(
        F.col("id").alias("k"), F.lit("9").alias("p"),
        (F.col("id") * 2).alias("val"),
    )

    wrapper, real = _race(
        lambda: V.write_versioned(spark, extra, table_dir, mode="append")
    )
    V._commit_manifest = wrapper
    try:
        with pytest.raises(ConcurrentDMLConflict):
            V.delete_versioned(spark, table_dir, "k < 10")
    finally:
        V._commit_manifest = real
    # winner intact, loser cleanly absent
    assert V.read_versioned(spark, table_dir).count() == 110


def test_dv_delete_conflicts_with_concurrent_dv_on_same_file(
    spark, table_dir
):
    """Two merge-on-read DELETEs DV-ing the same file: the loser's
    positions were computed against a stale DV state — conflict, not
    a silently double-counted DV stack. (One data file, so both
    deletes provably target it; disjoint-file DV deletes rebase.)"""
    V.write_versioned(
        spark, _tbl(spark, n=100).coalesce(1), table_dir, mode="append"
    )

    wrapper, real = _race(
        lambda: V.delete_versioned(
            spark, table_dir, "k >= 20 AND k < 30", deletion_vectors=True
        )
    )
    V._commit_manifest = wrapper
    try:
        with pytest.raises(ConcurrentDMLConflict) as exc:
            V.delete_versioned(
                spark, table_dir, "k < 10", deletion_vectors=True
            )
    finally:
        V._commit_manifest = real
    assert "deletion vectors changed" in exc.value.reason
    got = V.read_versioned(spark, table_dir)
    assert got.filter("k >= 20 AND k < 30").count() == 0  # winner intact
    assert got.filter("k < 10").count() == 10  # loser not applied
    # re-run stacks a fresh, correctly-based DV
    V.delete_versioned(spark, table_dir, "k < 10", deletion_vectors=True)
    assert V.read_versioned(spark, table_dir).count() == 80


def test_conflict_is_still_a_commitconflict(spark, table_dir):
    """Callers catching CommitConflict (every pre-r9 call site) keep
    working: ConcurrentDMLConflict subclasses it."""
    assert issubclass(ConcurrentDMLConflict, CommitConflict)
    exc = ConcurrentDMLConflict("/t", 3, "reason", ["data/a.parquet"])
    assert exc.conflicting_files == ["data/a.parquet"]
    assert "re-run" in str(exc)
