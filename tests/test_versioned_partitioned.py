"""Hive-partitioned versioned tables (VERDICT r4 ask #7): partition
values live in the manifest as per-file stats (min = max = value), so
skip_filter prunes at partition granularity; reads restore partition
columns via basePath; DML/vacuum/clone handle the nested layout."""

import os

import pytest
from pyspark.sql import functions as F

from datalake_scripts_spark.io import read_table
from datalake_scripts_spark.operators.versioned import (
    _load_manifest,
    _partition_values,
    clone_versioned,
    current_version,
    delete_versioned,
    files_for_read,
    read_versioned,
    vacuum,
    write_versioned,
)


@pytest.fixture()
def table_dir(tmp_path):
    return str(tmp_path / "ptable")


def test_partition_values_parsing():
    assert _partition_values("data/dt=2024-01-01/part-x.parquet") == {
        "dt": "2024-01-01"
    }
    assert _partition_values("data/k=5/sub=1.5/part-x.parquet") == {
        "k": 5, "sub": 1.5
    }
    assert _partition_values(
        "data/s=__HIVE_DEFAULT_PARTITION__/part-x.parquet"
    ) == {"s": None}
    assert _partition_values("data/part-x.parquet") == {}
    # hive escaping round-trips (Spark writes ':' as %3A etc.)
    assert _partition_values("data/t=a%3Ab/part-x.parquet") == {"t": "a:b"}


def test_partitioned_write_prunes_and_reads_back(spark, sf_dir, table_dir):
    nation = read_table(spark, sf_dir, "nation")
    write_versioned(spark, nation, table_dir, partition_by=["n_regionkey"])
    m = _load_manifest(table_dir, 1)
    assert all("n_regionkey=" in f for f in m["files"])
    # every file's stats carry the injected partition value
    for f in m["files"]:
        cs = m["stats"][f]["columns"]["n_regionkey"]
        assert cs["min"] == cs["max"] == _partition_values(f)["n_regionkey"]

    # partition predicate opens a STRICT file subset (the done-bar)
    flt = [("n_regionkey", "=", 2)]
    opened = files_for_read(table_dir, skip_filter=flt)
    assert 0 < len(opened) < len(m["files"])
    assert all("n_regionkey=2" in f for f in opened)

    # full read restores partition columns exactly (basePath discovery)
    got = read_versioned(spark, table_dir)
    assert sorted(got.columns) == sorted(nation.columns)
    assert got.exceptAll(nation).count() == 0
    assert nation.exceptAll(got).count() == 0

    # pruned read is exact too
    part = read_versioned(spark, table_dir, skip_filter=flt)
    want = nation.filter(F.col("n_regionkey") == 2)
    assert part.exceptAll(want).count() == 0
    assert want.exceptAll(part).count() == 0


def test_range_prune_on_int_partition(spark, sf_dir, table_dir):
    orders = read_table(spark, sf_dir, "orders").limit(2000).withColumn(
        "bucket", (F.col("o_orderkey") % 8).cast("int")
    )
    write_versioned(spark, orders, table_dir, partition_by=["bucket"])
    m = _load_manifest(table_dir, 1)
    opened = files_for_read(table_dir, skip_filter=[("bucket", "<", 2)])
    assert 0 < len(opened) < len(m["files"])
    got = read_versioned(spark, table_dir, skip_filter=[("bucket", "<", 2)])
    assert got.count() == orders.filter("bucket < 2").count()


def test_append_inherits_partition_spec(spark, sf_dir, table_dir):
    """partition_by=None on append INHERITS the table's committed
    spec (Delta behavior: appends never re-specify layout) — the
    second commit's files are hive-laid-out too and keep pruning."""
    nation = read_table(spark, sf_dir, "nation")
    write_versioned(spark, nation, table_dir, partition_by=["n_regionkey"])
    write_versioned(spark, nation, table_dir, mode="append")  # inherits
    m = _load_manifest(table_dir, 2)
    assert m["partition_spec"] == ["n_regionkey"]
    assert m["spec_id"] == 0
    assert all("n_regionkey=" in f for f in m["files"])
    got = read_versioned(spark, table_dir)
    assert got.count() == 2 * nation.count()
    assert got.filter(F.col("n_regionkey").isNull()).count() == 0
    opened = files_for_read(table_dir, skip_filter=[("n_regionkey", "=", 0)])
    assert len(opened) < len(m["files"])


def test_dml_on_partitioned_table(spark, sf_dir, table_dir):
    nation = read_table(spark, sf_dir, "nation")
    write_versioned(spark, nation, table_dir, partition_by=["n_regionkey"])
    v, n = delete_versioned(spark, table_dir, "n_nationkey < 5")
    assert (v, n) == (2, 5)
    got = read_versioned(spark, table_dir)
    assert got.count() == nation.count() - 5
    # rewritten rows keep their partition-column values (the rewrite
    # folded them into the data files)
    want = nation.filter("n_nationkey >= 5")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_vacuum_prunes_partition_dirs(spark, sf_dir, table_dir):
    nation = read_table(spark, sf_dir, "nation")
    write_versioned(spark, nation, table_dir, partition_by=["n_regionkey"])
    # deliberate flatten: an explicit [] spec change through the
    # evolution gate (a bare overwrite INHERITS the spec)
    write_versioned(
        spark, nation, table_dir, mode="overwrite",
        partition_by=[], evolve_partitioning=True,
    )
    removed = vacuum(table_dir, keep_last=1)
    assert removed > 0
    # all hive files and their emptied col=value dirs are gone
    data_dir = os.path.join(table_dir, "data")
    leftovers = [d for d in os.listdir(data_dir) if "=" in d]
    assert leftovers == []
    assert read_versioned(spark, table_dir).count() == nation.count()


def test_deep_clone_preserves_partition_values(spark, sf_dir, table_dir, tmp_path):
    nation = read_table(spark, sf_dir, "nation")
    write_versioned(spark, nation, table_dir, partition_by=["n_regionkey"])
    dst = str(tmp_path / "pclone")
    clone_versioned(spark, table_dir, dst, shallow=False)
    got = read_versioned(spark, dst)
    assert got.exceptAll(nation).count() == 0
    assert nation.exceptAll(got).count() == 0
    # clone's own files keep hive segments and prune independently
    opened = files_for_read(dst, skip_filter=[("n_regionkey", "=", 1)])
    assert 0 < len(opened) < len(_load_manifest(dst, 1)["files"])


def test_shallow_clone_of_partitioned_table(spark, sf_dir, table_dir, tmp_path):
    nation = read_table(spark, sf_dir, "nation")
    write_versioned(spark, nation, table_dir, partition_by=["n_regionkey"])
    dst = str(tmp_path / "sclone")
    clone_versioned(spark, table_dir, dst, shallow=True)
    got = read_versioned(spark, dst)
    assert got.count() == nation.count()
    assert got.filter(F.col("n_regionkey").isNull()).count() == 0


def test_null_partition_value_roundtrip(spark, table_dir):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b"), (4, None)], "id bigint, grp string"
    )
    write_versioned(spark, df, table_dir, partition_by=["grp"])
    m = _load_manifest(table_dir, 1)
    assert any("__HIVE_DEFAULT_PARTITION__" in f for f in m["files"])
    got = read_versioned(spark, table_dir)
    assert got.filter(F.col("grp").isNull()).count() == 2
    # null-partition files have no grp stats entry -> never pruned away
    opened = files_for_read(table_dir, skip_filter=[("grp", "=", "a")])
    assert any("__HIVE_DEFAULT_PARTITION__" in f for f in opened)


def test_dml_and_compaction_preserve_layout(spark, sf_dir, table_dir):
    """Rewrites keep the hive layout (flat rewrites would mix
    partitions per file and dull every later partition prune)."""
    from datalake_scripts_spark.operators.versioned import compact_versioned

    nation = read_table(spark, sf_dir, "nation")
    write_versioned(spark, nation, table_dir, partition_by=["n_regionkey"])
    delete_versioned(spark, table_dir, "n_nationkey = 0")
    m = _load_manifest(table_dir, 2)
    assert all("n_regionkey=" in f for f in m["files"])
    opened = files_for_read(table_dir, skip_filter=[("n_regionkey", "=", 2)])
    assert 0 < len(opened) < len(m["files"])

    compact_versioned(spark, table_dir, target_files=1)
    m = _load_manifest(table_dir, 3)
    assert all("n_regionkey=" in f for f in m["files"])
    opened = files_for_read(table_dir, skip_filter=[("n_regionkey", "=", 2)])
    assert 0 < len(opened) < len(m["files"])
    got = read_versioned(spark, table_dir)
    want = nation.filter("n_nationkey <> 0")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_wap_partitioned_publish(spark, sf_dir, table_dir):
    from datalake_scripts_spark.operators import quality as Q

    nation = read_table(spark, sf_dir, "nation")
    Q.write_audit_publish(
        spark, nation, table_dir, [], partition_by=["n_regionkey"]
    )
    m = _load_manifest(table_dir, 1)
    assert all("n_regionkey=" in f for f in m["files"])
    assert read_versioned(spark, table_dir).count() == nation.count()


def test_string_partition_values_keep_declared_type(spark, table_dir):
    """ADVICE r5 (medium): a STRING partition column with
    numeric-looking values ('07') must stay a string in manifest stats
    (blind int inference stored min=max=7 and skip_filter=('grp','=',
    '07') raised TypeError int<=str), in read_versioned output, and in
    the versioned_changes pyarrow reader (which silently lost the
    leading zero)."""
    df = spark.createDataFrame(
        [("07", 1), ("07", 2), ("11", 3), ("9", 4)], "grp string, v int"
    )
    write_versioned(spark, df, table_dir, partition_by=["grp"])
    m = _load_manifest(table_dir, 1)
    for f in m["files"]:
        cs = m["stats"][f]["columns"]["grp"]
        assert isinstance(cs["min"], str) and cs["min"] == cs["max"]

    # the exact ADVICE repro: skip_filter on the string value
    opened = files_for_read(table_dir, skip_filter=[("grp", "=", "07")])
    assert opened and all("grp=07" in f for f in opened)
    rows = (
        read_versioned(spark, table_dir, skip_filter=[("grp", "=", "07")])
        .orderBy("v")
        .collect()
    )
    assert [r.grp for r in rows] == ["07", "07"]

    # pyarrow CDF reader restores '07' as the declared string type
    from datalake_scripts_spark.sources.versioned_datasource import (
        register_versioned_datasource,
    )

    register_versioned_datasource(spark)
    out_dir = table_dir + "_cdf_out"
    q = (
        spark.readStream.format("versioned_changes")
        .load(table_dir)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", table_dir + "_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir).orderBy("v").collect()
    assert [r.grp for r in got] == ["07", "07", "11", "9"]


def test_typed_partition_values_int_float_bool_date(spark, table_dir):
    """Declared non-string types cast from path text: int stays int,
    date becomes a real date, and the fallback inference still applies
    when no schema is known."""
    import datetime

    df = spark.createDataFrame(
        [(1, datetime.date(2024, 1, 7), True, "a"),
         (2, datetime.date(2024, 2, 9), False, "b")],
        "k int, dt date, flag boolean, payload string",
    )
    write_versioned(
        spark, df, table_dir, partition_by=["k", "dt", "flag"]
    )
    m = _load_manifest(table_dir, 1)
    from datalake_scripts_spark.operators.versioned import _schema_col_types

    ctypes = _schema_col_types(m["schema"])
    f0 = sorted(m["files"])[0]
    vals = _partition_values(f0, ctypes)
    assert isinstance(vals["k"], int)
    assert isinstance(vals["dt"], datetime.date)
    assert isinstance(vals["flag"], bool)
    # skip_filter with a real date value prunes to one partition
    opened = files_for_read(
        table_dir, skip_filter=[("dt", "=", "2024-01-07")]
    )
    assert 0 < len(opened) < len(m["files"])


def test_history_and_files_metadata_tables(spark, sf_dir, tmp_path):
    from datalake_scripts_spark.operators import versioned as V
    from pyspark.sql import functions as F

    base = str(tmp_path / "tbl")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderpriority"
    ).filter(F.col("o_orderkey") < 1000)
    V.write_versioned(spark, orders, base, mode="append")
    V.delete_versioned(spark, base, "o_orderkey < 100", deletion_vectors=True)
    h = V.history_df(spark, base).orderBy("version").collect()
    assert [r["version"] for r in h] == [1, 2]
    assert h[0]["n_rows"] == orders.count()
    assert h[1]["n_rows"] == orders.filter("o_orderkey >= 100").count()
    assert h[1]["n_dvs"] == 1 and h[0]["n_dvs"] == 0
    f = V.files_df(spark, base).collect()
    assert len(f) == len(V.files_for_read(base))
    assert all(r["size_bytes"] > 0 and r["n_rows"] > 0 for r in f)
    # physical rows: DV'd rows still counted per file
    assert sum(r["n_rows"] for r in f) == orders.count()
    # every DML verb × write mode records the same row and file counts
    # in its commit meta; history_df keeps its columns
    for dv, r in ((False, 1), (True, 2)):
        v, n = V.delete_versioned(
            spark, base, f"o_orderkey % 10 = {r}", deletion_vectors=dv
        )
        assert n > 0
        want = {"n_deleted": n, "n_updated": 0, "n_inserted": 0}
        meta = V._load_manifest(base, v)["meta"]
        assert {k: meta[k] for k in want} == want
        assert meta["n_touched_files"] >= 1
        # a DV delete stages only its DV object, no data file
        assert ("deletion_vector" in meta) == dv
        if dv:
            assert meta["n_added_files"] == 0
        v, n = V.update_versioned(
            spark, base, f"o_orderkey % 10 = {r + 2}",
            {"o_orderpriority": "'U'"}, deletion_vectors=dv,
        )
        assert n > 0
        want = {"n_deleted": 0, "n_updated": n, "n_inserted": 0}
        meta = V._load_manifest(base, v)["meta"]
        assert {k: meta[k] for k in want} == want
        assert meta["n_touched_files"] >= 1 and meta["n_added_files"] >= 1
        assert ("deletion_vector" in meta) == dv
        src = V.read_versioned(spark, base).filter(
            f"o_orderkey % 10 = {r + 4}"
        ).unionByName(
            orders.filter("o_orderkey < 10")
            .withColumn("o_orderkey", F.col("o_orderkey") + 10000 * (r + 1))
        ).withColumn("o_orderpriority", F.lit("M"))
        v, counts = V.merge_versioned(
            spark, base, src, on=["o_orderkey"],
            when_matched_update={"o_orderpriority": "s.o_orderpriority"},
            deletion_vectors=dv,
        )
        assert counts["n_updated"] > 0 and counts["n_inserted"] > 0
        meta = V._load_manifest(base, v)["meta"]
        assert {k: meta[k] for k in counts} == counts
        assert meta["n_touched_files"] >= 1 and meta["n_added_files"] >= 1
        assert ("deletion_vector" in meta) == dv
    h = V.history_df(spark, base)
    assert h.columns == [
        "version", "mode", "n_files", "n_rows", "n_dvs", "committed_at",
    ]
    assert h.count() == 8


def test_purge_rows_physical_erasure(spark, sf_dir, tmp_path):
    """GDPR purge: COW delete + vacuum across tables — the purged
    bytes' files are gone from disk AND the history is not
    time-travelable back to them; tables lacking the key are skipped."""
    from datalake_scripts_spark.operators import versioned as V
    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    ).filter(F.col("o_orderkey") < 2000)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name"
    )
    t_orders = str(tmp_path / "orders")
    t_cust = str(tmp_path / "cust")
    t_nokey = str(tmp_path / "nokey")
    V.write_versioned(spark, orders, t_orders, mode="append")
    V.write_versioned(spark, cust, t_cust, mode="append")
    V.write_versioned(
        spark,
        spark.range(10).selectExpr("id AS other"),
        t_nokey, mode="append",
    )
    victim = int(orders.select("o_custkey").first()["o_custkey"])
    n_ord = orders.filter(F.col("o_custkey") == victim).count()
    files_before = set(V.files_for_read(t_orders))
    res = V.purge_rows(spark, [t_orders], f"o_custkey = {victim}")
    assert res[t_orders]["n_deleted"] == n_ord
    assert res[t_orders]["verified_absent"] is True
    assert res[t_orders]["n_files_removed"] > 0
    # the victim's files are PHYSICALLY gone (rewritten + vacuumed)
    assert not (files_before & set(V.files_for_read(t_orders))) or n_ord == 0
    # pre-purge history is gone too (vacuum dropped old manifests)
    import pytest as _pytest
    with _pytest.raises(FileNotFoundError):
        V.read_versioned(spark, t_orders, version=1).count()
    res2 = V.purge_rows(spark, [t_cust], f"c_custkey = {victim}")
    assert res2[t_cust]["n_deleted"] == 1
    # a table without the key column is skipped, not failed
    res3 = V.purge_rows(spark, [t_nokey], f"c_custkey = {victim}")
    assert res3[t_nokey].get("skipped") is True


def test_purge_rows_after_dv_delete(spark, sf_dir, tmp_path):
    """A subject whose rows were ALREADY hidden by a deletion-vector
    delete (the merge-on-read GDPR path) must still be physically
    purged: the DV hides the rows from readers but their bytes stay in
    the parquet. purge_rows discovers touched files with a raw
    (DV-unapplied) scan and verifies absence the same way — before
    that, no file was rewritten, vacuum kept the still-referenced
    file, and verified_absent lied."""
    from datalake_scripts_spark.operators import versioned as V

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    ).filter(F.col("o_orderkey") < 2000)
    base = str(tmp_path / "orders")
    V.write_versioned(spark, orders, base, mode="append")
    # a subject with >=2 rows so we can hide one and leave one visible
    victim = int(
        orders.groupBy("o_custkey").count().filter("count >= 2")
        .first()["o_custkey"]
    )
    victim_rows = orders.filter(F.col("o_custkey") == victim)
    n_victim = victim_rows.count()
    k1 = int(victim_rows.select("o_orderkey").first()["o_orderkey"])
    _, n_dv = V.delete_versioned(
        spark, base,
        f"o_custkey = {victim} AND o_orderkey = {k1}",
        deletion_vectors=True,
    )
    assert n_dv == 1
    # the hidden row's bytes are still on disk (raw scan sees them)
    m = V._load_manifest(base, V.current_version(base))
    files, _ = V._expand_manifest(base, m)
    raw = V._read_manifest_files(spark, m, base, files, apply_dvs=False)
    assert raw.filter(F.col("o_custkey") == victim).count() == n_victim
    res = V.purge_rows(spark, [base], f"o_custkey = {victim}")
    # only the still-VISIBLE rows count as newly deleted
    assert res[base]["n_deleted"] == n_victim - 1
    assert res[base]["verified_absent"] is True
    # raw bytes of the surviving snapshot: subject fully gone
    m2 = V._load_manifest(base, V.current_version(base))
    files2, _ = V._expand_manifest(base, m2)
    raw2 = V._read_manifest_files(spark, m2, base, files2, apply_dvs=False)
    assert raw2.filter(F.col("o_custkey") == victim).count() == 0
    # visible semantics intact for everyone else
    assert (
        V.read_versioned(spark, base).count()
        == orders.count() - n_victim
    )


def test_purge_rows_fully_dv_hidden_subject(spark, sf_dir, tmp_path):
    """Degenerate case of the above: EVERY row of the subject is
    already DV-hidden, so a normal DELETE would touch zero files and
    purge would be a silent no-op. n_deleted is 0 (no visible rows)
    but the file must still be rewritten and the bytes erased."""
    from datalake_scripts_spark.operators import versioned as V

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    ).filter(F.col("o_orderkey") < 1000)
    base = str(tmp_path / "orders")
    V.write_versioned(spark, orders, base, mode="append")
    victim = int(orders.select("o_custkey").first()["o_custkey"])
    _, n_dv = V.delete_versioned(
        spark, base, f"o_custkey = {victim}", deletion_vectors=True
    )
    assert n_dv >= 1
    res = V.purge_rows(spark, [base], f"o_custkey = {victim}")
    assert res[base]["n_deleted"] == 0
    assert res[base]["verified_absent"] is True
    m = V._load_manifest(base, V.current_version(base))
    files, _ = V._expand_manifest(base, m)
    raw = V._read_manifest_files(spark, m, base, files, apply_dvs=False)
    assert raw.filter(F.col("o_custkey") == victim).count() == 0
    assert V.read_versioned(spark, base).count() == orders.count() - n_dv


def test_cli_purge(spark, sf_dir, tmp_path, capsys):
    from datalake_scripts_spark.cli import main
    from datalake_scripts_spark.operators import versioned as V
    from pyspark.sql import functions as F

    base = str(tmp_path / "tbl")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    ).filter(F.col("o_orderkey") < 1000)
    V.write_versioned(spark, orders, base, mode="append")
    victim = int(orders.select("o_custkey").first()["o_custkey"])
    assert main([
        "table", "--dir", base, "--master", "local[4]",
        "purge", "--where", f"o_custkey = {victim}",
    ]) == 0
    out = capsys.readouterr().out
    assert "verified_absent=True" in out
    got = V.read_versioned(spark, base)
    assert got.filter(F.col("o_custkey") == victim).count() == 0
