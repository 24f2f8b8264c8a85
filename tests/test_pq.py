"""Product quantization (operators/similarity.py PQ section): encode
determinism, ADC-vs-exact consistency when the shortlist covers the
corpus, and the two-tier recall ordering."""

import pytest
from pyspark.sql import functions as F

from datalake_scripts_spark.io import read_table
from datalake_scripts_spark.operators import similarity as S

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return read_table(spark, SF, "embeddings")


def test_pq_encode_shape_and_range(spark, emb):
    cbs = S.pq_codebooks(emb, m=8, stride=10)
    assert len(cbs) == 8 and len(cbs[0][0][1]) == 8
    k = len(cbs[0])
    codes = S.pq_encode(emb, cbs)
    rows = codes.collect()
    assert len(rows) == emb.count()
    for r in rows:
        for j in range(8):
            assert 0 <= r[f"code_{j}"] < k


def test_full_shortlist_rerank_equals_exact(spark, emb):
    """With the shortlist covering the whole corpus, PQ+rerank IS the
    exact-L2 top-k — the approximation lives only in the shortlist."""
    n = emb.count()
    q = emb.filter(F.col("vec_id") < 5)
    exact = S.l2_brute_topk(q, emb, k=5)
    rer = S.pq_rerank_topk(q, emb, k=5, shortlist=n, m=8, stride=10)
    key = lambda r: (r["query_id"], r["rnk"], r["neighbor_id"])  # noqa: E731
    assert sorted(map(key, rer.collect())) == sorted(
        map(key, exact.collect())
    )


def test_rerank_recall_not_below_adc(spark, emb):
    q = emb.filter(F.col("vec_id") < 10)
    ex = {(r["query_id"], r["neighbor_id"])
          for r in S.l2_brute_topk(q, emb, k=5).collect()}
    adc = {(r["query_id"], r["neighbor_id"])
           for r in S.pq_topk(q, emb, k=5, m=8, stride=10).collect()}
    rer = {(r["query_id"], r["neighbor_id"])
           for r in S.pq_rerank_topk(q, emb, k=5, shortlist=50, m=8,
                                     stride=10).collect()}
    assert len(rer & ex) >= len(adc & ex)


def test_ivfpq_full_probe_full_shortlist_equals_exact(spark, emb):
    """With every cell probed and the shortlist covering the corpus,
    IVFADC degenerates to exact L2 top-k — the approximation lives
    only in the probe/shortlist cuts."""
    n = emb.count()
    q = emb.filter(F.col("vec_id") < 5)
    exact = S.l2_brute_topk(q, emb, k=5)
    got = S.ivfpq_topk(
        q, emb, k=5, nprobe=n, shortlist=n, m=8, stride=10,
        cell_stride=50,
    )
    key = lambda r: (r["query_id"], r["rnk"], r["neighbor_id"])  # noqa: E731
    assert sorted(map(key, got.collect())) == sorted(
        map(key, exact.collect())
    )


def test_persisted_ivfpq_index_serves_and_refreshes(spark, emb, tmp_path):
    """Build the l2+PQ index, serve == on-the-fly IVFADC; append to the
    corpus, refresh (codes encoded with the FROZEN codebooks), and the
    refreshed serve equals a from-scratch rebuild's serve."""
    from datalake_scripts_spark.operators import ann_index as AI
    from datalake_scripts_spark.operators import versioned as V

    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    part1 = emb.filter(F.col("vec_id") % 7 != 0)
    V.write_versioned(spark, part1, corpus, mode="append")
    AI.build_ann_index(
        spark, corpus, idx, centroids="stride", stride=50,
        assignment="literal", metric="l2", pq_m=8, pq_stride=10,
    )
    q = emb.filter(F.col("vec_id") < 10)
    got = AI.ivfpq_topk_indexed(spark, q, idx, k=5, nprobe=2, shortlist=25)
    want = S.ivfpq_topk(
        q, V.read_versioned(spark, corpus), k=5, nprobe=2, shortlist=25,
        m=8, stride=10, cell_stride=50,
    )
    key = lambda r: (r["query_id"], r["rnk"], r["neighbor_id"],
                     r["l2_dist"])  # noqa: E731
    assert sorted(map(key, got.collect())) == sorted(
        map(key, want.collect())
    )

    # append + refresh: new vectors encoded against frozen codebooks
    V.write_versioned(
        spark, emb.filter(F.col("vec_id") % 7 == 0), corpus, mode="append"
    )
    res = AI.refresh_ann_index(spark, corpus, idx, drift_threshold=10.0)
    assert res["action"] == "assigned" and res["n_new"] > 0
    a = V.read_versioned(
        spark, AI._subdir(idx, AI._ASSIGNMENTS)
    )
    assert a.filter(F.col("code_0").isNull()).count() == 0
    got2 = AI.ivfpq_topk_indexed(spark, q, idx, k=5, nprobe=2, shortlist=25)
    assert got2.count() == 50

    def test_refuses_cosine_index():
        idx2 = str(tmp_path / "idx2")
        AI.build_ann_index(
            spark, corpus, idx2, centroids="stride", stride=50,
            assignment="literal",
        )
        with pytest.raises(ValueError, match="l2-metric"):
            AI.ivfpq_topk_indexed(spark, q, idx2)

    test_refuses_cosine_index()


# ------------------------------------------------ arrow twin (r12)
# The production encode tier (pq_codes_arrow / pq_query_tables) must
# agree with the literal oracle twin: integer codes exactly (numpy
# argmin vs fold argmin), ADC distances and final rows BIT-identical
# (the ADC sum always reads the driver/literal-fold query tables).
# Same convention as test_ivf_pandas_assignment_agrees_with_literal.

SF01 = "/root/testdata/sf0.01"


def test_arrow_codes_agree_with_literal(spark):
    for sf in (SF, SF01):
        emb = read_table(spark, sf, "embeddings")
        cbs = S.pq_codebooks(emb, m=8, stride=10, max_codewords=50)
        lit = S.pq_encode(emb, cbs).collect()
        arr = S.pq_codes_arrow(
            emb.select(F.col("vec_id"), F.col("embedding")), cbs,
            vec_col="embedding",
        ).collect()
        key = lambda r: r["vec_id"]  # noqa: E731
        lit_map = {r["vec_id"]: tuple(r[f"code_{j}"] for j in range(8))
                   for r in lit}
        arr_map = {r["vec_id"]: tuple(r[f"code_{j}"] for j in range(8))
                   for r in arr}
        assert lit_map == arr_map, f"code mismatch at {sf}"


def test_arrow_cell_assign_agrees_with_literal_l2(spark, emb):
    cbs = S.pq_codebooks(emb, m=8, stride=10, max_codewords=50)
    cents = S.ivf_centroids(emb, stride=20, max_centroids=10)
    vec = F.col("embedding").cast("array<double>")
    lit = emb.select(
        F.col("vec_id"),
        S.ivf_assign_cell_l2(vec, S.dot(vec, vec), cents).alias("cell"),
    ).collect()
    arr = S.pq_codes_arrow(
        emb.select("vec_id", "embedding"), cbs,
        vec_col="embedding", cell_cents=cents,
    ).select("vec_id", "cell").collect()
    assert {r["vec_id"]: r["cell"] for r in lit} == \
           {r["vec_id"]: r["cell"] for r in arr}


def test_query_tables_bit_identical_to_literal(spark, emb):
    """Driver-side Python folds == engine folds, to the last bit."""
    cbs = S.pq_codebooks(emb, m=8, stride=10, max_codewords=50)
    q = emb.filter(F.col("vec_id") < 10)
    vec = F.col("embedding").cast("array<double>")
    lit = q.select(
        F.col("vec_id").alias("query_id"), *S.pq_dqt_cols(vec, cbs)
    ).collect()
    drv = S.pq_query_tables(q, cbs).collect()
    lit_map = {r["query_id"]: [list(r[f"dqt_{j}"]) for j in range(8)]
               for r in lit}
    drv_map = {r["query_id"]: [list(r[f"dqt_{j}"]) for j in range(8)]
               for r in drv}
    assert lit_map == drv_map  # exact float equality, not approx


def test_pq_topk_arrow_bit_identical_to_literal(spark, emb):
    q = emb.filter(F.col("vec_id") < 10)
    key = lambda r: tuple(r)  # noqa: E731
    a = S.pq_topk(q, emb, k=5, m=8, stride=10, encode="arrow").collect()
    b = S.pq_topk(q, emb, k=5, m=8, stride=10, encode="literal").collect()
    assert sorted(map(key, a)) == sorted(map(key, b))


def test_ivfpq_topk_arrow_bit_identical_to_literal(spark, emb):
    q = emb.filter(F.col("vec_id") < 10)
    kw = dict(k=5, nprobe=2, shortlist=25, m=8, stride=10,
              cell_stride=20, max_cells=10)
    key = lambda r: tuple(r)  # noqa: E731
    a = S.ivfpq_topk(q, emb, encode="arrow", **kw).collect()
    b = S.ivfpq_topk(q, emb, encode="literal", **kw).collect()
    assert sorted(map(key, a)) == sorted(map(key, b))


# --------------------------------------------- k-means books (r12)
def test_kmeans_codebooks_shape_and_determinism(spark, emb):
    b1 = S.pq_codebooks_kmeans(emb, m=8, n_codewords=16, max_sample=500)
    b2 = S.pq_codebooks_kmeans(emb, m=8, n_codewords=16, max_sample=500)
    assert b1 == b2  # fixed corpus + seed -> identical books
    assert len(b1) == 8
    assert all(len(cb) == 16 for cb in b1)
    assert len(b1[0][0][1]) == 8
    # codeword count is a MODEL constant: a 10x corpus yields the same
    # book size (bounded sample), unlike an uncapped stride pick
    b3 = S.pq_codebooks_kmeans(
        spark.range(0).selectExpr("id as vec_id",
                                  "array(0.0) as embedding"),
        m=1, n_codewords=16,
    )
    assert b3 == []


def test_kmeans_full_shortlist_rerank_equals_exact(spark, emb):
    """Same invariant as the stride books: with the shortlist covering
    the corpus, PQ+rerank IS exact L2 top-k regardless of codebook
    quality — the trained books change recall, never correctness of
    the rerank tier."""
    n = emb.count()
    q = emb.filter(F.col("vec_id") < 5)
    books = S.pq_codebooks_kmeans(emb, m=8, n_codewords=16,
                                  max_sample=500)
    rer = S.pq_rerank_topk(q, emb, k=5, shortlist=n, m=8,
                           codebooks=books)
    exact = S.l2_brute_topk(q, emb, k=5)
    key = lambda r: (r["query_id"], r["rnk"], r["neighbor_id"])  # noqa: E731
    assert sorted(map(key, rer.collect())) == sorted(
        map(key, exact.collect())
    )


def test_kmeans_exact_trainer_sorts_on_driver(spark, emb):
    """The exact trainer's bounded sample reaches the driver anyway, so
    ordering it by id there costs no exchange: a Spark-side global sort
    would range-partition every sampled vector through a shuffle. The
    books must also not depend on the order the input's partitions
    arrive in — the id order is what makes them deterministic."""
    from datalake_scripts_spark.operators.shufflemeter import (
        max_stage_id,
        shuffle_totals_since,
    )

    kw = dict(m=8, n_codewords=16, max_sample=500)
    before = max_stage_id(spark)
    books = S.pq_codebooks_kmeans_exact(emb, **kw)
    assert shuffle_totals_since(spark, before)["shuffle_write"] == 0
    assert len(books) == 8 and all(len(cb) == 16 for cb in books)
    shuffled = emb.repartition(7, "embedding").sortWithinPartitions(
        "vec_id", ascending=False
    )
    assert S.pq_codebooks_kmeans_exact(shuffled, **kw) == books
