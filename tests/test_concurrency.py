"""Optimistic concurrency for the versioned layer (VERDICT r3 ask #3):
commit = atomic create-if-absent of manifest v(N+1); append/append
auto-merges via retry, read-pinned writers (DML, OPTIMIZE) raise
CommitConflict instead of silently dropping a concurrent commit."""

import glob
import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from datalake_scripts_spark.io import read_table
from datalake_scripts_spark.operators.versioned import (
    CommitConflict,
    _commit_manifest,
    _load_manifest,
    compact_versioned,
    current_version,
    delete_versioned,
    read_versioned,
    write_versioned,
)


@pytest.fixture()
def table_dir(tmp_path):
    return str(tmp_path / "ctable")


def test_commit_cas_exactly_one_winner(spark, sf_dir, table_dir):
    """Two commits racing for the same version: one wins, the loser
    gets CommitConflict and publishes NOTHING (no manifest, no pointer
    move) — the lost-update scenario of the r3 verdict is impossible."""
    region = read_table(spark, sf_dir, "region")
    write_versioned(spark, region, table_dir, mode="append")
    base = current_version(table_dir)
    m = _load_manifest(table_dir, base)
    _commit_manifest(
        table_dir, m["files"], m.get("stats", {}), "append",
        m.get("schema"), None, expected_version=base,
    )
    with pytest.raises(CommitConflict):
        _commit_manifest(
            table_dir, m["files"], m.get("stats", {}), "append",
            m.get("schema"), None, expected_version=base,
        )
    assert current_version(table_dir) == base + 1
    # no half-written manifest or stray temp left behind
    stray = [
        n for n in os.listdir(os.path.join(table_dir, "_manifests"))
        if ".tmp" in n
    ]
    assert stray == []


def test_concurrent_appends_all_survive(spark, sf_dir, table_dir):
    """N threads appending concurrently: every commit lands (distinct
    versions, union of all rows) — Delta's append/append auto-merge."""
    nation = read_table(spark, sf_dir, "nation")
    write_versioned(spark, nation.limit(0), table_dir, mode="append")

    n_writers, errors = 6, []

    def appender(i: int):
        try:
            batch = nation.withColumn(
                "n_name", F.concat(F.lit(f"w{i}:"), F.col("n_name"))
            )
            write_versioned(spark, batch, table_dir, mode="append")
        except Exception as e:  # surface in the main thread
            errors.append(e)

    threads = [threading.Thread(target=appender, args=(i,)) for i in range(n_writers)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errors == []
    assert current_version(table_dir) == 1 + n_writers
    got = read_versioned(spark, table_dir)
    assert got.count() == n_writers * nation.count()
    # every writer's batch is present (no lost update)
    tags = {
        r.tag
        for r in got.select(
            F.substring("n_name", 1, 3).alias("tag")
        ).distinct().collect()
    }
    assert tags == {f"w{i}:" for i in range(n_writers)}


def test_dml_conflict_raises_not_lost(spark, sf_dir, table_dir, monkeypatch):
    """DELETE racing a concurrent append: the delete read snapshot vN,
    an append commits vN+1 before the delete's commit — the delete must
    raise CommitConflict (not silently drop the appended rows) and its
    staged rewrite files must be cleaned up."""
    import datalake_scripts_spark.operators.versioned as V

    nation = read_table(spark, sf_dir, "nation")
    write_versioned(spark, nation, table_dir, mode="append")

    real_candidates = V._candidate_files

    def candidates_then_sneak_append(*args, **kwargs):
        out = real_candidates(*args, **kwargs)
        # concurrent writer lands AFTER the delete chose its file set
        monkeypatch.setattr(V, "_candidate_files", real_candidates)
        write_versioned(spark, nation.limit(3), table_dir, mode="append")
        return out

    monkeypatch.setattr(V, "_candidate_files", candidates_then_sneak_append)
    files_before = set(glob.glob(f"{table_dir}/data/*"))
    with pytest.raises(CommitConflict):
        delete_versioned(spark, table_dir, "n_nationkey = 0")
    # the sneaked append survived; nothing was deleted
    assert read_versioned(spark, table_dir).count() == nation.count() + 3
    # the delete's staged rewrite files were removed (appended files stay)
    m = _load_manifest(table_dir, current_version(table_dir))
    referenced = {os.path.join(table_dir, f) for f in m["files"]}
    for f in set(glob.glob(f"{table_dir}/data/*")) - files_before:
        assert f in referenced, f"orphaned staged file {f}"
    # retry against the new snapshot succeeds
    v, n = delete_versioned(spark, table_dir, "n_nationkey = 0")
    assert n >= 1


def test_compaction_conflict_never_drops_append(spark, sf_dir, table_dir):
    """OPTIMIZE racing a streaming append (the r3 verdict's concrete
    scenario): compaction pinned the snapshot it read, so the append
    landing first makes the compaction raise instead of overwriting
    the new rows away."""
    import datalake_scripts_spark.operators.versioned as V

    nation = read_table(spark, sf_dir, "nation")
    for _ in range(3):
        write_versioned(spark, nation, table_dir, mode="append")
    v_read = current_version(table_dir)

    real_commit = V._commit_manifest
    sneaked = {"done": False}

    def commit_with_race(table_dir_, *args, **kwargs):
        if not sneaked["done"]:
            sneaked["done"] = True
            # concurrent append lands between compaction's read and commit
            write_versioned(spark, nation.limit(5), table_dir_, mode="append")
        return real_commit(table_dir_, *args, **kwargs)

    V._commit_manifest = commit_with_race
    try:
        with pytest.raises(CommitConflict):
            compact_versioned(spark, table_dir, target_files=1)
    finally:
        V._commit_manifest = real_commit
    # the concurrent append's rows are intact
    assert read_versioned(spark, table_dir).count() == 3 * nation.count() + 5
    assert current_version(table_dir) == v_read + 1
    # re-run compacts the merged state
    v2 = compact_versioned(spark, table_dir, target_files=1)
    assert read_versioned(spark, table_dir, version=v2).count() == (
        3 * nation.count() + 5
    )


def test_latest_pointer_never_regresses(spark, sf_dir, table_dir):
    """current_version is max(_latest cache, manifest listing): even a
    stale/garbled pointer file can't roll a reader back."""
    region = read_table(spark, sf_dir, "region")
    write_versioned(spark, region, table_dir, mode="append")
    write_versioned(spark, region, table_dir, mode="append")
    assert current_version(table_dir) == 2
    # simulate a lagging cache (loser of a pointer race / crashed flip)
    with open(os.path.join(table_dir, "_latest"), "w") as f:
        f.write("1")
    assert current_version(table_dir) == 2
    assert read_versioned(spark, table_dir).count() == 2 * region.count()
    # and a corrupt cache
    with open(os.path.join(table_dir, "_latest"), "w") as f:
        f.write("garbage")
    assert current_version(table_dir) == 2


def test_wap_append_retries_through_conflict(spark, sf_dir, table_dir):
    """write_audit_publish appends auto-merge through a concurrent
    commit the same way plain appends do."""
    import datalake_scripts_spark.operators.quality as Q
    import datalake_scripts_spark.operators.versioned as V

    nation = read_table(spark, sf_dir, "nation")
    write_versioned(spark, nation, table_dir, mode="append")

    real_commit = V._commit_manifest
    sneaked = {"done": False}

    def commit_with_race(table_dir_, *args, **kwargs):
        if not sneaked["done"]:
            sneaked["done"] = True
            write_versioned(spark, nation.limit(2), table_dir_, mode="append")
        return real_commit(table_dir_, *args, **kwargs)

    V._commit_manifest = commit_with_race
    try:
        Q.write_audit_publish(
            spark, nation, table_dir, [Q.not_null("n_name")], mode="append"
        )
    finally:
        V._commit_manifest = real_commit
    assert read_versioned(spark, table_dir).count() == 2 * nation.count() + 2


def test_mixed_writers_fuzz_no_lost_updates(spark, sf_dir, table_dir):
    """Concurrency fuzz: threads race appends against read-pinned
    DELETEs (retrying on CommitConflict as a real job would). Invariant
    after the dust settles: every append's rows are either present or
    were removed by the one DELETE that targeted that tag — nothing
    vanishes silently, every version in the chain loads, and version
    numbers are a gapless 1..N chain."""
    import json as _json

    nation = read_table(spark, sf_dir, "nation").limit(5)
    write_versioned(spark, nation.limit(0), table_dir, mode="append")

    n_appenders, errors = 4, []

    def appender(i: int):
        try:
            batch = nation.withColumn(
                "n_name", F.concat(F.lit(f"t{i}:"), F.col("n_name"))
            )
            for _ in range(3):
                write_versioned(spark, batch, table_dir, mode="append")
        except Exception as e:
            errors.append(e)

    def deleter():
        # delete tag t0 rows; retry through conflicts like a real job
        try:
            for attempt in range(40):
                try:
                    delete_versioned(spark, table_dir, "n_name LIKE 't0:%'")
                    return
                except CommitConflict:
                    continue
            errors.append(RuntimeError("deleter starved"))
        except Exception as e:
            errors.append(e)

    threads = [
        threading.Thread(target=appender, args=(i,)) for i in range(n_appenders)
    ]
    threads.append(threading.Thread(target=deleter))
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errors == []

    got = read_versioned(spark, table_dir)
    tags = {
        r.tag: r.n
        for r in got.select(F.substring("n_name", 1, 3).alias("tag"))
        .groupBy("tag").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # non-deleted appenders: all 3 batches present in full
    for i in range(1, n_appenders):
        assert tags.get(f"t{i}:") == 3 * nation.count(), tags
    # t0: whatever the delete snapshot saw is gone; appends after it
    # survive in full batches (multiples of the batch size)
    assert tags.get("t0:", 0) % nation.count() == 0
    # gapless version chain, every manifest loads and reads
    latest = current_version(table_dir)
    for v in range(1, latest + 1):
        m = _load_manifest(table_dir, v)
        assert m["version"] == v
    # at most one delete commit (a delete whose snapshot predated any
    # t0 append legitimately no-ops without committing), and the final
    # t0 count reconciles exactly with its recorded n_deleted
    deletes = [
        _load_manifest(table_dir, v)
        for v in range(1, latest + 1)
        if _load_manifest(table_dir, v)["mode"] == "delete"
    ]
    assert len(deletes) <= 1
    assert latest == 1 + 3 * n_appenders + len(deletes)
    n_deleted = deletes[0]["meta"]["n_deleted"] if deletes else 0
    total_t0_appended = 3 * nation.count()
    assert tags.get("t0:", 0) == total_t0_appended - n_deleted


def test_current_version_forward_walk_after_vacuum(spark, sf_dir, table_dir):
    """current_version resolves via cache + forward walk (no full
    listing): stale cache behind several commits walks forward; a
    vacuumed history (v1..k gone) with a healthy cache still resolves;
    a MISSING cache falls back to one listing and still finds the head
    past the vacuum gap."""
    region = read_table(spark, sf_dir, "region")
    for _ in range(4):
        write_versioned(spark, region, table_dir, mode="append")
    from datalake_scripts_spark.operators.versioned import vacuum

    vacuum(table_dir, keep_last=2)  # v1, v2 manifests pruned
    assert current_version(table_dir) == 4
    # stale cache: walk forward across the retained chain
    with open(os.path.join(table_dir, "_latest"), "w") as f:
        f.write("3")
    assert current_version(table_dir) == 4
    # missing cache entirely: one listing fallback skips the vacuum gap
    os.remove(os.path.join(table_dir, "_latest"))
    assert current_version(table_dir) == 4
    assert read_versioned(spark, table_dir).count() == 4 * region.count()


def test_cli_merge_surfaces_conflict_not_lost_update(spark, sf_dir, table_dir):
    """The CLI ``table merge`` read->merge->overwrite sequence pins the
    snapshot it read (ADVICE r4, medium): a concurrent commit landing
    between read and publish raises CommitConflict instead of being
    silently dropped by a blind auto-retrying overwrite."""
    from datalake_scripts_spark.operators.upsert import merge_upsert

    region = read_table(spark, sf_dir, "region")
    write_versioned(spark, region, table_dir, mode="append")

    # the CLI's sequence: pin, read pinned, merge
    base_v = current_version(table_dir)
    batch = region.withColumn("r_comment", F.lit("merged"))
    merged = merge_upsert(
        read_versioned(spark, table_dir, version=base_v), batch, ["r_regionkey"]
    )
    # concurrent writer lands AFTER the read
    concurrent = region.withColumn("r_regionkey", F.col("r_regionkey") + 100)
    write_versioned(spark, concurrent, table_dir, mode="append")

    with pytest.raises(CommitConflict):
        write_versioned(
            spark, merged, table_dir, mode="overwrite",
            expected_version=base_v,
        )
    # the concurrent append's rows are still visible (nothing lost)
    keys = {r.r_regionkey for r in read_versioned(spark, table_dir).collect()}
    assert {k + 100 for k in range(5)} <= {k for k in keys}
