"""Persisted IVF vector index (operators/ann_index.py, VERDICT r8 ask
#2): build-once/serve-many equals the on-the-fly path exactly (stride
twin), appends maintain the index with O(batch) assignment work
(proven via manifest file lists, not timing), drift and row-level
changes trigger the honest full rebuild, and serving prunes to the
probed cells."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datalake_scripts_spark.io import read_table
from datalake_scripts_spark.operators import ann_index as AI
from datalake_scripts_spark.operators import similarity as S
from datalake_scripts_spark.operators import versioned as V

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def corpus_dir(spark, tmp_path):
    d = str(tmp_path / "corpus")
    emb = read_table(spark, SF, "embeddings")
    V.write_versioned(
        spark, emb.filter(F.col("vec_id") < 400), d, mode="append"
    )
    return d


def _rows(df):
    return sorted(
        (r["query_id"], r["neighbor_id"], r["rnk"]) for r in df.collect()
    )


def test_indexed_equals_on_the_fly(spark, corpus_dir, tmp_path):
    """Stride/literal build: the served result is identical to
    similarity.ivf_topk on the same corpus — the index moves the work,
    not the answer."""
    idx = str(tmp_path / "idx")
    res = AI.build_ann_index(
        spark, corpus_dir, idx, centroids="stride", stride=50,
        assignment="literal",
    )
    assert res["action"] == "built" and res["n_indexed"] == 400
    corpus = V.read_versioned(spark, corpus_dir)
    q = corpus.filter(F.col("vec_id") < 10)
    got = AI.ivf_topk_indexed(spark, q, idx, k=3, nprobe=2)
    want = S.ivf_topk(q, corpus, k=3, nprobe=2, stride=50)
    assert _rows(got) == _rows(want)
    # cosine values agree exactly too (same fold, same data)
    gv = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in got.collect()}
    wv = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in want.collect()}
    assert gv == wv


def test_refresh_noop_without_corpus_change(spark, corpus_dir, tmp_path):
    idx = str(tmp_path / "idx")
    AI.build_ann_index(spark, corpus_dir, idx, centroids="stride",
                       assignment="literal")
    assert AI.refresh_ann_index(spark, corpus_dir, idx)["action"] == "noop"


def test_append_refresh_is_o_batch(spark, corpus_dir, tmp_path):
    """An append triggers ONLY O(batch) assignment work: the new
    assignments commit carries every prior file by reference
    (byte-identical paths) and adds files holding exactly the batch's
    rows; the centroid table does not move."""
    idx = str(tmp_path / "idx")
    AI.build_ann_index(spark, corpus_dir, idx, centroids="stride",
                       assignment="literal")
    adir = AI._subdir(idx, AI._ASSIGNMENTS)
    cdir = AI._subdir(idx, AI._CENTROIDS)
    cent_v0 = V.current_version(cdir)
    files_before = set(V.files_for_read(adir))
    batch = read_table(spark, SF, "embeddings").filter(
        (F.col("vec_id") >= 400) & (F.col("vec_id") < 430)
    )
    V.write_versioned(spark, batch, corpus_dir, mode="append")
    res = AI.refresh_ann_index(spark, corpus_dir, idx)
    assert res["action"] == "assigned" and res["n_new"] == 30
    # centroids untouched — no re-cluster happened
    assert V.current_version(cdir) == cent_v0
    # every pre-existing assignment file is carried BY REFERENCE
    files_after = set(V.files_for_read(adir))
    assert files_before <= files_after
    # the added files hold exactly the batch's rows
    m = V._load_manifest(adir, V.current_version(adir))
    _, stats = V._expand_manifest(adir, m)
    added = files_after - files_before
    assert sum(stats[f]["rows"] for f in added) == 30
    # and the served result now sees the appended vectors
    q = batch.limit(1)
    got = AI.ivf_topk_indexed(spark, q, idx, k=3, nprobe=2)
    assert got.count() == 3
    # watermark advanced: second refresh is a no-op
    assert AI.refresh_ann_index(spark, corpus_dir, idx)["action"] == "noop"


def test_appended_vectors_match_full_rebuild(spark, corpus_dir, tmp_path):
    """Incremental assignment gives the SAME index content a fresh
    build over the grown corpus would (same centroids by construction:
    stride picks from ids present at build time are a superset-stable
    choice only when the stride set is unchanged — so compare against
    a rebuild pinned to the ORIGINAL centroids)."""
    idx = str(tmp_path / "idx")
    AI.build_ann_index(spark, corpus_dir, idx, centroids="stride",
                       assignment="literal")
    cents = AI.load_centroids(spark, idx)
    batch = read_table(spark, SF, "embeddings").filter(
        (F.col("vec_id") >= 400) & (F.col("vec_id") < 450)
    )
    V.write_versioned(spark, batch, corpus_dir, mode="append")
    AI.refresh_ann_index(spark, corpus_dir, idx)
    got = (
        V.read_versioned(spark, AI._subdir(idx, AI._ASSIGNMENTS))
        .select("neighbor_id", "cell")
    )
    want = AI._assign(
        V.read_versioned(spark, corpus_dir), cents, "literal",
        "vec_id", "embedding",
    ).select("neighbor_id", "cell")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_row_level_change_triggers_rebuild(spark, corpus_dir, tmp_path):
    idx = str(tmp_path / "idx")
    AI.build_ann_index(spark, corpus_dir, idx, centroids="stride",
                       assignment="literal")
    V.delete_versioned(spark, corpus_dir, "vec_id = 7")
    res = AI.refresh_ann_index(spark, corpus_dir, idx)
    assert res["action"] == "rebuilt"
    # the deleted vector is gone from the index
    a = V.read_versioned(spark, AI._subdir(idx, AI._ASSIGNMENTS))
    assert a.filter("neighbor_id = 7").count() == 0
    assert a.count() == 399


def test_drift_triggers_recluster(spark, corpus_dir, tmp_path):
    """An append bigger than drift_threshold x indexed rows rebuilds
    with fresh centroids instead of stretching the stale ones."""
    idx = str(tmp_path / "idx")
    AI.build_ann_index(spark, corpus_dir, idx, centroids="stride",
                       assignment="literal")
    cdir = AI._subdir(idx, AI._CENTROIDS)
    cent_v0 = V.current_version(cdir)
    big = read_table(spark, SF, "embeddings").filter(
        (F.col("vec_id") >= 400) & (F.col("vec_id") < 500)
    )
    V.write_versioned(spark, big, corpus_dir, mode="append")
    res = AI.refresh_ann_index(spark, corpus_dir, idx, drift_threshold=0.2)
    assert res["action"] == "rebuilt"
    assert V.current_version(cdir) > cent_v0  # centroids re-derived
    assert res["n_indexed"] == 500


def test_serving_scan_prunes_to_probed_cells(spark, corpus_dir, tmp_path):
    """The probed-cells filter reaches the assignments scan as a
    partition filter: the executed plan's scan node carries it, so
    unprobed cells' files are never read."""
    idx = str(tmp_path / "idx")
    AI.build_ann_index(spark, corpus_dir, idx, centroids="stride",
                       assignment="literal")
    q = V.read_versioned(spark, corpus_dir).filter("vec_id < 3")
    got = AI.ivf_topk_indexed(spark, q, idx, k=3, nprobe=1)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    assert got.count() > 0


def test_empty_append_advances_watermark(spark, corpus_dir, tmp_path):
    idx = str(tmp_path / "idx")
    AI.build_ann_index(spark, corpus_dir, idx, centroids="stride",
                       assignment="literal")
    empty = V.read_versioned(spark, corpus_dir).limit(0)
    V.write_versioned(spark, empty, corpus_dir, mode="append")
    res = AI.refresh_ann_index(spark, corpus_dir, idx)
    assert res["action"] == "assigned" and res["n_new"] == 0
    assert AI.refresh_ann_index(spark, corpus_dir, idx)["action"] == "noop"


def test_cli_ann_build_and_refresh(spark, corpus_dir, tmp_path, capsys):
    from datalake_scripts_spark.cli import main

    idx = str(tmp_path / "idx")
    assert main([
        "table", "--dir", corpus_dir, "ann-build", "--index", idx,
        "--centroids", "stride", "--assignment", "literal",
    ]) == 0
    assert "built index" in capsys.readouterr().out
    batch = read_table(spark, SF, "embeddings").filter(
        (F.col("vec_id") >= 400) & (F.col("vec_id") < 420)
    )
    V.write_versioned(spark, batch, corpus_dir, mode="append")
    assert main([
        "table", "--dir", corpus_dir, "ann-refresh", "--index", idx,
    ]) == 0
    assert "assigned: n_new=20" in capsys.readouterr().out
    got = AI.ivf_topk_indexed(spark, batch.limit(1), idx, k=3, nprobe=2)
    assert got.count() == 3


def test_centroids_fall_back_when_fast_path_cannot_read(
    spark, corpus_dir, tmp_path, monkeypatch
):
    """load_centroids reads the centroid files with pyarrow, but only
    when it can: a partitioned centroids table (the partition column
    lives in the path, not in the file) and a file pyarrow rejects both
    take the versioned read, and the serve answers as before."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    idx = str(tmp_path / "idx")
    AI.build_ann_index(spark, corpus_dir, idx, centroids="stride",
                       assignment="literal")
    cents = AI.load_centroids(spark, idx)
    q = V.read_versioned(spark, corpus_dir).filter(F.col("vec_id") < 10)
    want = _rows(AI.ivf_topk_indexed(spark, q, idx, k=3, nprobe=2))

    # same centroids, same version number, partitioned by cid
    part = str(tmp_path / "idx_partitioned")
    shutil.copytree(idx, part)
    cdir = AI._subdir(part, AI._CENTROIDS)
    shutil.rmtree(cdir)
    V.write_versioned(
        spark, spark.createDataFrame(cents, "cid bigint, cvec array<double>"),
        cdir, mode="overwrite", partition_by=["cid"],
    )
    assert V.current_version(cdir) == V.current_version(
        AI._subdir(idx, AI._CENTROIDS)
    )
    assert AI.load_centroids(spark, part) == cents
    assert _rows(AI.ivf_topk_indexed(spark, q, part, k=3, nprobe=2)) == want

    def unreadable(*_a, **_k):
        raise pa.ArrowInvalid("unreadable footer")

    monkeypatch.setattr(pq, "read_table", unreadable)
    assert AI.load_centroids(spark, idx) == cents
    assert _rows(AI.ivf_topk_indexed(spark, q, idx, k=3, nprobe=2)) == want
