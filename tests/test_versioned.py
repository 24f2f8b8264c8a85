"""Versioned parquet tables: snapshot isolation, append/overwrite
manifests, time travel, vacuum."""

import glob

import pytest
from pyspark.sql import functions as F

from datalake_scripts_spark.io import read_table
from datalake_scripts_spark.operators.versioned import (
    current_version,
    files_for_read,
    read_versioned,
    snapshot_row_count,
    vacuum,
    write_versioned,
)


@pytest.fixture()
def table_dir(tmp_path):
    return str(tmp_path / "vtable")


def test_append_versions_accumulate(spark, sf_dir, table_dir):
    region = read_table(spark, sf_dir, "region")
    v1 = write_versioned(spark, region, table_dir, mode="append")
    v2 = write_versioned(spark, region, table_dir, mode="append")
    assert (v1, v2) == (1, 2)
    assert read_versioned(spark, table_dir).count() == 2 * region.count()
    # time travel to v1
    assert read_versioned(spark, table_dir, version=1).count() == region.count()


def test_overwrite_keeps_history(spark, sf_dir, table_dir):
    region = read_table(spark, sf_dir, "region")
    nation = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("r_regionkey"), F.col("n_name").alias("r_name")
    )
    write_versioned(spark, region, table_dir, mode="append")
    write_versioned(spark, nation, table_dir, mode="overwrite")
    assert read_versioned(spark, table_dir).count() == nation.count()
    assert read_versioned(spark, table_dir, version=1).count() == region.count()


def test_reader_never_sees_partial(spark, sf_dir, table_dir):
    region = read_table(spark, sf_dir, "region")
    write_versioned(spark, region, table_dir, mode="append")
    before = read_versioned(spark, table_dir)  # plan bound to v1 manifest
    write_versioned(spark, region, table_dir, mode="append")
    # the v1 reader still resolves exactly its snapshot's files
    assert before.count() == region.count()
    assert current_version(table_dir) == 2


def test_vacuum_drops_unreferenced(spark, sf_dir, table_dir):
    region = read_table(spark, sf_dir, "region")
    write_versioned(spark, region, table_dir, mode="append")
    write_versioned(spark, region, table_dir, mode="overwrite")
    n_files_before = len(glob.glob(f"{table_dir}/data/*"))
    removed = vacuum(table_dir, keep_last=1)
    assert removed > 0
    assert len(glob.glob(f"{table_dir}/data/*")) == n_files_before - removed
    # latest still readable; v1 history gone
    assert read_versioned(spark, table_dir).count() == region.count()
    with pytest.raises(FileNotFoundError):
        read_versioned(spark, table_dir, version=1)


def test_compaction_folds_small_files(spark, sf_dir, table_dir):
    """OPTIMIZE: small per-commit file sets fold into one rewrite
    commit; data identical, history time-travelable, vacuum reclaims."""
    import glob as _glob

    from datalake_scripts_spark.operators.versioned import (
        compact_versioned,
        files_for_read,
        snapshot_row_count,
    )

    region = read_table(spark, sf_dir, "region").repartition(2)
    for _ in range(3):
        write_versioned(spark, region, table_dir, mode="append")
    assert len(files_for_read(table_dir)) == 6
    n = read_versioned(spark, table_dir).count()

    v = compact_versioned(spark, table_dir, target_files=1)
    assert v == 4
    assert len(files_for_read(table_dir)) == 1
    assert read_versioned(spark, table_dir).count() == n
    assert snapshot_row_count(table_dir) == n
    # pre-compaction history still travels
    assert read_versioned(spark, table_dir, version=2).count() == n * 2 // 3
    # vacuum reclaims the folded small files
    removed = vacuum(table_dir, keep_last=1)
    assert removed == 6
    assert len(_glob.glob(f"{table_dir}/data/*")) == 1
    assert read_versioned(spark, table_dir).count() == n


def test_compaction_with_clustering_enables_skipping(spark, sf_dir, table_dir):
    """OPTIMIZE ZORDER into the versioned layer: random append order
    gives useless per-file min/max (no pruning); a z-ordered compaction
    rewrite makes the manifest stats tight, so the same skip_filter
    prunes files afterwards."""
    from datalake_scripts_spark.operators.versioned import (
        compact_versioned,
        files_for_read,
    )

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    # shuffled layout: every file spans ~the whole key range
    write_versioned(spark, orders.repartition(6), table_dir, mode="append")
    flt = [("o_orderkey", "<=", 100)]
    assert len(files_for_read(table_dir, skip_filter=flt)) == 6  # no pruning

    compact_versioned(spark, table_dir, target_files=6, zorder_by=["o_orderkey", "o_custkey"])
    kept = files_for_read(table_dir, skip_filter=flt)
    assert 0 < len(kept) < 6
    got = read_versioned(spark, table_dir, skip_filter=flt)
    assert got.count() == orders.filter(F.col("o_orderkey") <= 100).count()


def test_manifest_carries_stats_and_metadata_count(spark, sf_dir, table_dir):
    """Snapshots carry per-file footer stats: row counts sum without a
    Spark job and survive append commits."""
    orders = read_table(spark, sf_dir, "orders")
    n = orders.count()
    write_versioned(spark, orders, table_dir, mode="append")
    assert snapshot_row_count(table_dir) == n
    write_versioned(spark, orders, table_dir, mode="append")
    assert snapshot_row_count(table_dir) == 2 * n
    assert snapshot_row_count(table_dir, version=1) == n


def test_data_skipping_prunes_files(spark, sf_dir, table_dir):
    """Range-sorted layout + manifest min/max => a point/range predicate
    opens a strict subset of files, with results identical to the full
    scan + filter."""
    orders = read_table(spark, sf_dir, "orders")
    ranged = orders.repartitionByRange(8, "o_orderkey")
    write_versioned(spark, ranged, table_dir, mode="append")

    all_files = files_for_read(table_dir)
    assert len(all_files) == 8

    lo, hi = 100, 500
    flt = [("o_orderkey", ">=", lo), ("o_orderkey", "<=", hi)]
    kept = files_for_read(table_dir, skip_filter=flt)
    assert 0 < len(kept) < len(all_files), (len(kept), len(all_files))

    got = read_versioned(spark, table_dir, skip_filter=flt)
    expected = orders.filter(
        (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") <= hi)
    )
    assert got.count() == expected.count()
    assert got.count() > 0
    # the skipped scan reads only the kept files
    assert set(got.select(F.col("_metadata.file_name")).distinct().toPandas()["file_name"]) <= {
        f.split("/")[-1] for f in kept
    }


def test_read_changes_append_fast_path(spark, sf_dir, table_dir):
    """CDF between append snapshots reads ONLY the delta files."""
    from datalake_scripts_spark.operators.versioned import read_changes

    region = read_table(spark, sf_dir, "region")
    nation5 = (
        read_table(spark, sf_dir, "nation")
        .limit(5)
        .select(
            F.col("n_nationkey").alias("r_regionkey"),
            F.col("n_name").alias("r_name"),
        )
    )
    write_versioned(spark, region, table_dir, mode="append")
    write_versioned(spark, nation5, table_dir, mode="append")
    ch = read_changes(spark, table_dir, from_version=1, to_version=2)
    assert ch.filter("_change_type = 'insert'").count() == 5
    assert ch.count() == 5
    # only the delta files are opened
    files = {
        r.file_name
        for r in ch.select(F.col("_metadata.file_name").alias("file_name"))
        .distinct()
        .collect()
    }
    from datalake_scripts_spark.operators.versioned import _load_manifest

    v1_files = {f.split("/")[-1] for f in _load_manifest(table_dir, 1)["files"]}
    assert files.isdisjoint(v1_files)
    # since inception: everything is an insert
    assert read_changes(spark, table_dir, 0, 2).count() == region.count() + 5


def test_read_changes_overwrite_row_diff(spark, sf_dir, table_dir):
    """An overwrite in the range falls back to the exact row diff:
    updates appear as delete+insert pairs."""
    from datalake_scripts_spark.operators.versioned import read_changes

    region = read_table(spark, sf_dir, "region")
    write_versioned(spark, region, table_dir, mode="append")
    changed = region.withColumn(
        "r_name",
        F.when(F.col("r_regionkey") == 0, F.lit("RENAMED")).otherwise(
            F.col("r_name")
        ),
    )
    write_versioned(spark, changed, table_dir, mode="overwrite")
    ch = read_changes(spark, table_dir, 1, 2).collect()
    by_type = {}
    for r in ch:
        by_type.setdefault(r._change_type, []).append((r.r_regionkey, r.r_name))
    assert by_type["insert"] == [(0, "RENAMED")]
    assert len(by_type["delete"]) == 1 and by_type["delete"][0][0] == 0
    # empty range: no changes, schema preserved
    empty = read_changes(spark, table_dir, 2, 2)
    assert empty.count() == 0 and "_change_type" in empty.columns


def test_data_skipping_string_and_empty_result(spark, sf_dir, table_dir):
    nation = read_table(spark, sf_dir, "nation").repartitionByRange(4, "n_name")
    write_versioned(spark, nation, table_dir, mode="append")
    # a value beyond every file's max prunes ALL files; schema preserved
    none = read_versioned(spark, table_dir, skip_filter=[("n_name", ">", "ZZZZZZ")])
    assert none.count() == 0
    assert [f.name for f in none.schema.fields] == [
        f.name for f in read_versioned(spark, table_dir).schema.fields
    ]
    assert files_for_read(table_dir, skip_filter=[("n_name", ">", "ZZZZZZ")]) == []
    # equality predicate on a string column prunes to the owning file(s)
    target = nation.select("n_name").orderBy("n_name").limit(1).first().n_name
    kept = files_for_read(table_dir, skip_filter=[("n_name", "=", target)])
    assert 0 < len(kept) < 4
    got = read_versioned(spark, table_dir, skip_filter=[("n_name", "=", target)])
    assert got.count() == 1


def test_append_schema_enforced(spark, sf_dir, table_dir):
    """Schema-on-write enforcement (the Delta behavior replacing the
    reference's side-channel DDL): a new column without opt-in, or a
    type conflict, fails BEFORE any file lands."""
    region = read_table(spark, sf_dir, "region")
    write_versioned(spark, region, table_dir, mode="append")
    with pytest.raises(ValueError, match="merge_schema"):
        write_versioned(
            spark,
            region.withColumn("extra", F.lit(1)),
            table_dir,
            mode="append",
        )
    with pytest.raises(ValueError, match="type mismatch"):
        write_versioned(
            spark,
            region.withColumn("r_regionkey", F.col("r_regionkey").cast("string")),
            table_dir,
            mode="append",
        )
    assert current_version(table_dir) == 1  # nothing committed


def test_append_schema_evolution_null_fills_old_files(spark, sf_dir, table_dir):
    region = read_table(spark, sf_dir, "region")
    write_versioned(spark, region, table_dir, mode="append")
    evolved = region.withColumn("ingest_tag", F.lit("batch2"))
    write_versioned(spark, evolved, table_dir, mode="append", merge_schema=True)
    out = read_versioned(spark, table_dir)
    assert out.columns == region.columns + ["ingest_tag"]
    n = region.count()
    assert out.where(F.col("ingest_tag").isNull()).count() == n
    assert out.where(F.col("ingest_tag") == "batch2").count() == n
    # time travel to v1 keeps the ORIGINAL schema
    assert read_versioned(spark, table_dir, version=1).columns == region.columns


def test_append_subset_columns_null_fill(spark, sf_dir, table_dir):
    """Writing a column subset is allowed (missing columns read as
    null), matching Delta's subset-write semantics."""
    region = read_table(spark, sf_dir, "region")
    write_versioned(spark, region, table_dir, mode="append")
    write_versioned(spark, region.drop("r_name"), table_dir, mode="append")
    out = read_versioned(spark, table_dir)
    assert out.columns == region.columns
    assert out.where(F.col("r_name").isNull()).count() == region.count()


def test_overwrite_resets_schema(spark, sf_dir, table_dir):
    region = read_table(spark, sf_dir, "region")
    write_versioned(spark, region, table_dir, mode="append")
    two_cols = region.select("r_regionkey", "r_name")
    write_versioned(spark, two_cols, table_dir, mode="overwrite")
    assert read_versioned(spark, table_dir).columns == ["r_regionkey", "r_name"]


def test_read_changes_across_evolution(spark, sf_dir, table_dir):
    """CDF over an append range spanning an evolution returns the
    evolved shape (delta files only; old-schema deltas null-fill)."""
    from datalake_scripts_spark.operators.versioned import read_changes

    region = read_table(spark, sf_dir, "region")
    write_versioned(spark, region, table_dir, mode="append")
    write_versioned(
        spark,
        region.withColumn("tag", F.lit("b2")),
        table_dir,
        mode="append",
        merge_schema=True,
    )
    ch = read_changes(spark, table_dir, 0, 2)
    assert set(ch.columns) == set(region.columns) | {"tag", "_change_type"}
    assert ch.count() == 2 * region.count()
    assert ch.where(F.col("tag") == "b2").count() == region.count()


def _nation_parts(spark, sf_dir, table_dir):
    """Nation committed as 3 separate append commits (3+ files), so DML
    can prove it rewrites only touched files."""
    nation = read_table(spark, sf_dir, "nation")
    for lo, hi in ((0, 9), (9, 17), (17, 25)):
        part = nation.filter(
            (F.col("n_nationkey") >= lo) & (F.col("n_nationkey") < hi)
        ).coalesce(1)
        write_versioned(spark, part, table_dir, mode="append")
    return nation


def test_delete_rewrites_only_touched_files(spark, sf_dir, table_dir):
    from datalake_scripts_spark.operators.versioned import (
        _load_manifest,
        delete_versioned,
    )

    nation = _nation_parts(spark, sf_dir, table_dir)
    before = _load_manifest(table_dir, 3)["files"]
    v, n_deleted = delete_versioned(
        spark,
        table_dir,
        "n_nationkey = 5",
        skip_filter=[("n_nationkey", "=", 5)],
    )
    assert (v, n_deleted) == (4, 1)
    after = _load_manifest(table_dir, 4)["files"]
    # the two untouched commit files carry over byte-identical
    carried = set(before) & set(after)
    assert len(carried) == 2
    out = read_versioned(spark, table_dir)
    assert out.count() == nation.count() - 1
    assert out.filter("n_nationkey = 5").count() == 0
    # time travel still sees the deleted row
    assert (
        read_versioned(spark, table_dir, version=3)
        .filter("n_nationkey = 5")
        .count()
        == 1
    )


def test_delete_skip_filter_prunes_scan(spark, sf_dir, table_dir):
    from datalake_scripts_spark.operators import versioned as V

    _nation_parts(spark, sf_dir, table_dir)
    manifest = V._load_manifest(table_dir, 3)
    skip = [("n_nationkey", "=", 5)]
    # stats prune candidate files before any scan: only the first
    # commit's file can hold key 5
    candidates = V._candidate_files(
        table_dir, manifest, V._prune_filter(skip, manifest)
    )
    assert len(candidates) == 1
    assert files_for_read(table_dir, skip_filter=skip) == candidates
    # the DML pipeline scans only those candidates: the delete touches
    # (rewrites) exactly that one file
    seen = []
    real = V._candidate_files

    def spy(*args, **kwargs):
        seen.append(real(*args, **kwargs))
        return seen[-1]

    V._candidate_files = spy
    try:
        v, n = V.delete_versioned(
            spark, table_dir, "n_nationkey = 5", skip_filter=skip
        )
    finally:
        V._candidate_files = real
    assert seen == [candidates] and n == 1
    assert V._load_manifest(table_dir, v)["meta"]["n_touched_files"] == 1


def test_delete_no_match_is_noop(spark, sf_dir, table_dir):
    from datalake_scripts_spark.operators.versioned import delete_versioned

    _nation_parts(spark, sf_dir, table_dir)
    v, n = delete_versioned(spark, table_dir, "n_nationkey = 999")
    assert (v, n) == (3, 0)
    assert current_version(table_dir) == 3


def test_delete_metadata_count_and_cdf(spark, sf_dir, table_dir):
    from datalake_scripts_spark.operators.versioned import (
        delete_versioned,
        read_changes,
    )

    nation = _nation_parts(spark, sf_dir, table_dir)
    v, n = delete_versioned(spark, table_dir, "n_regionkey = 2")
    expect = nation.filter("n_regionkey = 2").count()
    assert n == expect
    assert snapshot_row_count(table_dir) == nation.count() - expect
    changes = read_changes(spark, table_dir, from_version=3, to_version=v)
    rows = changes.collect()
    assert all(r._change_type == "delete" for r in rows)
    assert len(rows) == expect
    assert {r.n_regionkey for r in rows} == {2}


def test_update_changes_matched_rows_only(spark, sf_dir, table_dir):
    from datalake_scripts_spark.operators.versioned import (
        _load_manifest,
        update_versioned,
    )

    nation = _nation_parts(spark, sf_dir, table_dir)
    before = _load_manifest(table_dir, 3)["files"]
    v, n = update_versioned(
        spark,
        table_dir,
        "n_nationkey = 3",
        {"n_name": "concat(n_name, '_X')"},
        skip_filter=[("n_nationkey", "=", 3)],
    )
    assert (v, n) == (4, 1)
    out = read_versioned(spark, table_dir)
    assert out.count() == nation.count()
    assert out.filter("n_nationkey = 3 AND NOT n_name LIKE '%_X'").count() == 0
    assert out.filter("n_nationkey <> 3 AND n_name LIKE '%_X'").count() == 0
    # the two untouched commit files carried over byte-identical
    after = _load_manifest(table_dir, 4)["files"]
    assert len(set(before) & set(after)) == 2
    # time travel sees original names
    assert (
        read_versioned(spark, table_dir, version=3)
        .filter("n_name LIKE '%_X'")
        .count()
        == 0
    )


def test_update_unknown_column_raises(spark, sf_dir, table_dir):
    from datalake_scripts_spark.operators.versioned import update_versioned

    _nation_parts(spark, sf_dir, table_dir)
    with pytest.raises(ValueError, match="unknown column"):
        update_versioned(spark, table_dir, "n_nationkey = 1", {"nope": "'x'"})


def test_update_casts_to_declared_type(spark, sf_dir, table_dir):
    from datalake_scripts_spark.operators.versioned import update_versioned

    _nation_parts(spark, sf_dir, table_dir)
    schema_before = read_versioned(spark, table_dir).schema
    # set expr yields a string; declared type of n_regionkey must win
    update_versioned(spark, table_dir, "n_nationkey = 1", {"n_regionkey": "'7'"})
    out = read_versioned(spark, table_dir)
    assert out.schema == schema_before
    assert out.filter("n_nationkey = 1").first().n_regionkey == 7


def test_bloom_index_point_lookup_skipping(spark, sf_dir, table_dir):
    """Shuffled (unclustered) layout: min/max prune nothing for a point
    lookup, the Bloom index prunes to the file(s) that hold the key."""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    write_versioned(
        spark,
        orders.repartition(6),
        table_dir,
        mode="append",
        bloom_cols=["o_orderkey"],
    )
    # a mid-range key sits inside every file's [min, max] span, so only
    # the Bloom can prune; the global-min key would prune by min/max
    med = orders.selectExpr(
        "cast(percentile(o_orderkey, 0.5) as bigint) as m"
    ).first().m
    key = (
        orders.filter(F.col("o_orderkey") >= med)
        .agg(F.min("o_orderkey").alias("k"))
        .first()
        .k
    )
    flt = [("o_orderkey", "=", int(key))]
    # min/max alone keeps all 6 (every file spans ~the whole key range)
    from datalake_scripts_spark.operators.versioned import _load_manifest

    m = _load_manifest(table_dir, 1)
    no_bloom_stats = {
        f: {**s, "blooms": {}} for f, s in m["stats"].items()
    }
    from datalake_scripts_spark.operators.versioned import _file_may_match

    assert sum(_file_may_match(no_bloom_stats[f], flt) for f in m["files"]) == 6
    kept = files_for_read(table_dir, skip_filter=flt)
    assert 0 < len(kept) < 6
    got = read_versioned(spark, table_dir, skip_filter=flt)
    assert got.count() == 1 and got.first().o_orderkey == key


def test_bloom_no_false_negatives_any_key(spark, sf_dir, table_dir):
    """Every present key must survive skipping (Bloom has no false
    negatives); absent keys usually prune everything."""
    nation = read_table(spark, sf_dir, "nation")
    write_versioned(
        spark,
        nation.repartition(3),
        table_dir,
        mode="append",
        bloom_cols=["n_nationkey", "n_name"],
    )
    for k in range(25):
        got = read_versioned(
            spark, table_dir, skip_filter=[("n_nationkey", "=", k)]
        )
        assert got.count() == 1
    # absent keys: bloom prunes all files at 1% fpp (39 keys, p ~ 0.67 all-pruned
    # per key; assert at least one of several absent keys fully prunes)
    pruned = [
        len(files_for_read(table_dir, skip_filter=[("n_nationkey", "=", k)]))
        for k in range(1000, 1039)
    ]
    assert min(pruned) == 0
    # string column: present names survive, absent names prune
    name = nation.first().n_name
    assert (
        read_versioned(spark, table_dir, skip_filter=[("n_name", "=", name)]).count()
        == 1
    )


def test_bloom_survives_append_dml_and_compaction(spark, sf_dir, table_dir):
    """bloom_cols is table state: plain appends, DELETE rewrites, and
    OPTIMIZE all re-index their new files without being told."""
    from datalake_scripts_spark.operators.versioned import (
        _load_manifest,
        compact_versioned,
        delete_versioned,
    )

    nation = read_table(spark, sf_dir, "nation")
    write_versioned(
        spark, nation, table_dir, mode="append", bloom_cols=["n_nationkey"]
    )
    write_versioned(spark, nation, table_dir, mode="append")  # inherits
    m2 = _load_manifest(table_dir, 2)
    assert m2.get("bloom_cols") == ["n_nationkey"]
    assert all("blooms" in s for s in m2["stats"].values())
    v, _ = delete_versioned(spark, table_dir, "n_nationkey = 3")
    m3 = _load_manifest(table_dir, v)
    assert all("blooms" in s for s in m3["stats"].values())
    v4 = compact_versioned(spark, table_dir, target_files=2)
    m4 = _load_manifest(table_dir, v4)
    assert m4.get("bloom_cols") == ["n_nationkey"]
    assert all("blooms" in s for s in m4["stats"].values())
    # post-compaction point lookup still exact
    got = read_versioned(
        spark, table_dir, skip_filter=[("n_nationkey", "=", 7)]
    )
    assert got.count() == 2  # two appends, one key each


def test_bloom_float_column_refused(spark, sf_dir, table_dir):
    """Float columns have no canonical repr — the index silently skips
    them and min/max skipping still applies."""
    from datalake_scripts_spark.operators.versioned import _load_manifest

    cust = read_table(spark, sf_dir, "customer")
    write_versioned(
        spark, cust, table_dir, mode="append", bloom_cols=["c_acctbal", "c_custkey"]
    )
    m = _load_manifest(table_dir, 1)
    for s in m["stats"].values():
        assert "c_acctbal" not in s.get("blooms", {})
        assert "c_custkey" in s.get("blooms", {})


def test_restore_rolls_back_as_new_commit(spark, sf_dir, table_dir):
    from datalake_scripts_spark.operators.versioned import (
        delete_versioned,
        restore_versioned,
    )

    nation = _nation_parts(spark, sf_dir, table_dir)  # v1..v3
    delete_versioned(spark, table_dir, "n_regionkey = 2")  # v4
    assert read_versioned(spark, table_dir).count() < nation.count()
    v = restore_versioned(table_dir, 3)
    assert v == 5
    assert read_versioned(spark, table_dir).count() == nation.count()
    # the bad version is still time-travelable (history not rewritten)
    assert read_versioned(spark, table_dir, version=4).count() < nation.count()
    assert snapshot_row_count(table_dir) == nation.count()  # stats carried


def test_shallow_clone_zero_copy_and_independent(spark, sf_dir, tmp_path):
    import glob

    from datalake_scripts_spark.operators.versioned import (
        clone_versioned,
        read_versioned,
        write_versioned,
    )

    src_dir = str(tmp_path / "src_table")
    dst_dir = str(tmp_path / "clone")
    nation = read_table(spark, sf_dir, "nation")
    write_versioned(spark, nation, src_dir, mode="append")
    v = clone_versioned(spark, src_dir, dst_dir, shallow=True)
    assert v == 1
    # zero-copy: the clone has NO data files of its own
    assert glob.glob(f"{dst_dir}/data/*") == []
    assert read_versioned(spark, dst_dir).count() == nation.count()
    # independent evolution: append to the clone, source unchanged
    write_versioned(spark, nation.limit(5), dst_dir, mode="append")
    assert read_versioned(spark, dst_dir).count() == nation.count() + 5
    assert read_versioned(spark, src_dir).count() == nation.count()
    # clone's own appended files live in its data/, source files untouched
    assert len(glob.glob(f"{dst_dir}/data/*")) > 0


def test_deep_clone_survives_source_vacuum(spark, sf_dir, tmp_path):
    from datalake_scripts_spark.operators.versioned import (
        clone_versioned,
        read_versioned,
        write_versioned,
    )

    src_dir = str(tmp_path / "src_table")
    dst_dir = str(tmp_path / "deep")
    nation = read_table(spark, sf_dir, "nation")
    write_versioned(spark, nation, src_dir, mode="append")
    clone_versioned(spark, src_dir, dst_dir, shallow=False)
    # wipe the source's files entirely
    write_versioned(spark, nation.limit(1), src_dir, mode="overwrite")
    vacuum(src_dir, keep_last=1)
    assert read_versioned(spark, dst_dir).count() == nation.count()
    assert snapshot_row_count(dst_dir) == nation.count()


def test_delete_keeps_null_predicate_rows(spark, table_dir):
    """SQL DELETE semantics: rows where the predicate evaluates to NULL
    are NOT deleted (ADVICE r3, high). Regression: '~expr' alone drops
    NULL rows from rewritten files and inflates n_deleted."""
    from datalake_scripts_spark.operators.versioned import delete_versioned

    df = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, None)], ["id", "v"]
    ).coalesce(1)
    write_versioned(spark, df, table_dir, mode="append")
    _, n_deleted = delete_versioned(spark, table_dir, "v = 'x'")
    assert n_deleted == 1
    remaining = {
        (r.id, r.v) for r in read_versioned(spark, table_dir).collect()
    }
    assert remaining == {(2, "y"), (3, None)}


def test_bloom_timestamp_iso_probe_no_false_prune(spark, table_dir):
    """Bloom values canonicalize via _json_safe at build AND probe
    (ADVICE r3, medium): a timestamp bloom column probed with the
    documented ISO-string form must not falsely prune the file that
    contains the row."""
    import datetime

    from datalake_scripts_spark.operators.versioned import files_for_read

    ts = datetime.datetime(2024, 1, 1, 12, 30, 0)
    df = spark.createDataFrame(
        [(1, ts), (2, datetime.datetime(2024, 6, 2, 3, 4, 5))], ["id", "ts"]
    ).coalesce(1)
    write_versioned(spark, df, table_dir, mode="append", bloom_cols=["ts"])
    flt = [("ts", "=", "2024-01-01T12:30:00")]
    assert len(files_for_read(table_dir, skip_filter=flt)) == 1
    got = read_versioned(spark, table_dir, skip_filter=None).filter(
        "ts = timestamp'2024-01-01 12:30:00'"
    )
    assert got.count() == 1


def test_vacuum_metadata_only_table(spark, sf_dir, tmp_path):
    """vacuum() on a table with no data/ dir (fresh shallow clone) must
    not raise and still prunes old manifests (ADVICE r3, low)."""
    from datalake_scripts_spark.operators.versioned import clone_versioned

    src_dir = str(tmp_path / "src_table")
    dst_dir = str(tmp_path / "clone_meta_only")
    nation = read_table(spark, sf_dir, "nation")
    write_versioned(spark, nation, src_dir, mode="append")
    clone_versioned(spark, src_dir, dst_dir, shallow=True)
    removed = vacuum(dst_dir, keep_last=1)
    assert removed == 0
    assert read_versioned(spark, dst_dir).count() == nation.count()
