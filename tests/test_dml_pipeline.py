"""The one DML pipeline (versioned._run_dml): DELETE / UPDATE / MERGE in
copy-on-write and deletion-vector mode must leave the same visible rows
as a Python model of the SQL semantics, and report the same counts, on
flat, hive-partitioned, column-mapped and chunked-manifest tables that
already carry a deletion vector and hold NULLs in the predicate column.
Also: an insert-only MERGE appends instead of rewriting, and each
verb × mode keeps to the Spark job count it had before the pipeline."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from datalake_scripts_spark.operators import versioned as V

N_ROWS = 60
HIDDEN = {k for k in range(N_ROWS) if k % 7 == 3}  # the prior DV delete


def _base_rows():
    # v is NULL for every fifth key: those rows must survive a DELETE
    # and skip an UPDATE whose predicate reads v
    return [
        (k, str(k % 3), None if k % 5 == 0 else k, f"n{k}")
        for k in range(N_ROWS)
    ]


def _build(spark, table_dir, layout):
    """Three appends of two files each, then a DV delete; returns the
    logical name of the note column."""
    schema = "k bigint, p string, v bigint, note string"
    rows = _base_rows()
    kw = {
        "hive": {"partition_by": ["p"]},
        "chunked": {"manifest_chunking": 2},
    }.get(layout, {})
    for i in range(3):
        df = spark.createDataFrame(rows[i * 20:(i + 1) * 20], schema)
        V.write_versioned(
            spark, df.repartition(2), table_dir, mode="append", **kw
        )
    note = "note"
    if layout == "colmap":
        V.enable_column_mapping(table_dir)
        V.rename_column(table_dir, "note", "memo")
        note = "memo"
    _, n = V.delete_versioned(
        spark, table_dir, "k % 7 = 3", deletion_vectors=True
    )
    assert n == len(HIDDEN)
    return note


def _visible():
    return {r[0]: r for r in _base_rows() if r[0] not in HIDDEN}


def _merge_source(spark, note):
    keys = [0, 1, 2, 5, 6, 10, 12, 61, 62]  # 10 is DV-hidden: inserts
    rows = [(k, str(k % 3), 1000 + k, f"s{k}") for k in keys]
    return spark.createDataFrame(
        rows, f"k bigint, p string, v bigint, {note} string"
    )


def _run(spark, table_dir, verb, note, dv):
    """One verb on the table; returns (counts, version)."""
    if verb == "delete":
        v, n = V.delete_versioned(
            spark, table_dir, "v > 40 OR k = 2", deletion_vectors=dv
        )
        return {"n_deleted": n}, v
    if verb == "update":
        v, n = V.update_versioned(
            spark, table_dir, "k < 30 AND v < 25",
            {"v": "v * 100", note: f"concat({note}, '!')"},
            skip_filter=[("k", "<", 30)], deletion_vectors=dv,
        )
        return {"n_updated": n}, v
    v, counts = V.merge_versioned(
        spark, table_dir, _merge_source(spark, note), on=["k"],
        when_matched_update={"v": "s.v", note: f"s.{note}"},
        when_matched_delete="t.v < 2",
        deletion_vectors=dv,
    )
    return counts, v


def _model(verb):
    """Visible rows and counts after ``verb`` under SQL semantics."""
    rows = _visible()
    if verb == "delete":
        gone = [k for k, r in rows.items()
                if (r[2] is not None and r[2] > 40) or k == 2]
        for k in gone:
            del rows[k]
        return rows, {"n_deleted": len(gone)}
    if verb == "update":
        hit = [k for k, r in rows.items()
               if k < 30 and r[2] is not None and r[2] < 25]
        for k in hit:
            r = rows[k]
            rows[k] = (r[0], r[1], r[2] * 100, r[3] + "!")
        return rows, {"n_updated": len(hit)}
    counts = {"n_updated": 0, "n_deleted": 0, "n_inserted": 0}
    for k in [0, 1, 2, 5, 6, 10, 12, 61, 62]:
        s = (k, str(k % 3), 1000 + k, f"s{k}")
        t = rows.get(k)
        if t is None:
            rows[k] = s
            counts["n_inserted"] += 1
        elif t[2] is not None and t[2] < 2:
            del rows[k]
            counts["n_deleted"] += 1
        else:
            rows[k] = (t[0], t[1], s[2], s[3])
            counts["n_updated"] += 1
    return rows, counts


@pytest.fixture(scope="module")
def bases(spark, tmp_path_factory):
    """One prepared table per layout, copied by each test."""
    root = tmp_path_factory.mktemp("dml_bases")
    out = {}
    for layout in ("flat", "hive", "colmap", "chunked"):
        d = str(root / layout)
        out[layout] = (d, _build(spark, d, layout))
    return out


@pytest.mark.parametrize("verb", ["delete", "update", "merge"])
@pytest.mark.parametrize("layout", ["flat", "hive", "colmap", "chunked"])
def test_cow_and_dv_match_model(spark, bases, tmp_path, layout, verb):
    base, note = bases[layout]
    want_rows, want_counts = _model(verb)
    for dv in (False, True):
        td = str(tmp_path / f"dv{int(dv)}")
        shutil.copytree(base, td)
        files0 = set(V.files_for_read(td))
        counts, v = _run(spark, td, verb, note, dv)
        assert counts == want_counts, (dv, counts)
        got = {
            r[0]: tuple(r)
            for r in V.read_versioned(spark, td).select(
                "k", "p", "v", note
            ).collect()
        }
        assert got == want_rows, dv
        m = V._load_manifest(td, v)
        assert m["meta"]["n_touched_files"] >= 1
        if dv:
            # merge-on-read rewrites no data file
            assert files0 <= set(V.files_for_read(td))
            assert "deletion_vector" in m["meta"]
        if layout == "chunked":
            assert "chunks" in m


@pytest.mark.parametrize("dv", [False, True])
def test_insert_only_merge_appends(spark, tmp_path, dv):
    """A MERGE whose only clause that fires is the insert changes no
    existing file: the file set after it is a superset of the one
    before (before the pipeline, every file holding a matching key was
    rewritten, though no row in it changed)."""
    td = str(tmp_path / "t")
    df = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    V.write_versioned(spark, df.repartition(4), td, mode="append")
    files0 = set(V.files_for_read(td))
    assert len(files0) == 4
    src = spark.createDataFrame([(7, -1), (100, -2)], "k bigint, v bigint")
    v, counts = V.merge_versioned(
        spark, td, src, on=["k"], when_matched_update=None,
        deletion_vectors=dv,
    )
    assert counts == {"n_updated": 0, "n_deleted": 0, "n_inserted": 1}
    assert files0 <= set(V.files_for_read(td))
    got = dict(V.read_versioned(spark, td).collect())
    assert len(got) == 41 and got[7] == 21 and got[100] == -2
    assert not V._load_manifest(td, v).get("dvs")


# Spark jobs each verb × mode ran on the flat base table (which carries
# a DV) with the six hand-written DML paths the pipeline replaced,
# measured in this test session; the pipeline must not need more. It
# runs 5, 4, 5, 5, 12 and 10.
JOB_BOUNDS = {
    ("delete", False): 7,
    ("delete", True): 6,
    ("update", False): 7,
    ("update", True): 7,
    ("merge", False): 16,
    ("merge", True): 20,
}


@pytest.mark.parametrize("verb,dv", sorted(JOB_BOUNDS))
def test_dml_job_count(spark, bases, tmp_path, verb, dv):
    base, note = bases["flat"]
    td = str(tmp_path / "t")
    shutil.copytree(base, td)
    sc = spark.sparkContext
    group = f"test_dml_job_count_{verb}_{int(dv)}"
    sc.setJobGroup(group, verb)
    try:
        _run(spark, td, verb, note, dv)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= JOB_BOUNDS[(verb, dv)], len(jobs)
