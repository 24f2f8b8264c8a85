"""Scale-up sanity experiment: replicate sf0.1 k-fold (key-space
shifted so join/agg cardinalities grow realistically, not just row
counts) into /tmp, then time the headline queries.

What "healthy" looks like (measured at k=10, local[32]):
- scan+agg (q1), broadcast enrichment, windowed events: ~flat
  (fixed overhead dominates; work is embarrassingly parallel);
- multi-join q5: near-linear (its two large shuffle joins are the
  genuine data-proportional cost) — linear, not super-linear, is the
  pass criterion; a blow-up here means a join degenerated (lost
  broadcast, skew, or a cross product).

Usage: python scripts/scaleup_check.py [k] [query ...]
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "join_broadcast_brand_revenue",
    "events_tumbling_hourly",
    "window_running_spend",
    "dedup_exact_subset_keys",
    # round-2 heavy set (documents are replica-distinct, see below)
    "dedup_ngram_jaccard",
    "ngram_jaccard_noprefix",  # A/B: Bayardo prefix filter off
    "dedup_containment_pairs",
    "containment_noprefix",  # A/B: asymmetric prefix filter off
    "dedup_incremental_batch",
    "graph_triangle_suppliers",
    "text_bm25_scores",
    "keys_surrogate_orders",
    "corpus_source_overlap",
    "events_zscore_anomalies",
    "dedup_duplicate_clusters_star",
    "text_tfidf_top_terms",
    "sketch_hll_union_rollup",
    "semantic_dedup_kmeans",
    # round-3 additions: pagerank's NODE set stays fixed (suppliers are
    # not replicated) — what scales is the k-fold edge-derivation scan
    # + distinct; span-stats and checksum scale the corpus/table
    # linearly; resample keeps the per-user grid span constant while
    # the observation dedup grows
    "graph_pagerank_suppliers",
    "dedup_duplicated_span_stats",
    "events_resample_ffill_hourly",
    "reconcile_checksum_orders",
    # round-4 additions (VERDICT r3 ask #4): basket mining scales the
    # ORDER key space (part space fixed -> same pair set, k-fold
    # counts, linear work); WAU/transition scale events per user
    # (constant user set, k-fold denser sequences -> linear);
    # match_fuzzy_scaled replicates part with replica-disjoint
    # blocking keys (verbatim copies would grow in-block pairs k^2 BY
    # CONSTRUCTION — the blocked-join claim under test is linear-in-
    # blocks fan-out, same rationale as the documents perturbation)
    "mining_part_pair_lift",
    "events_weekly_active_users",
    "events_transition_matrix",
    "match_fuzzy_scaled",
    # round-4 query additions (all measured flat-to-linear at k=10,
    # README table): map-only scrub/cap, canonical-URL hash-agg,
    # corpus x fixed-benchmark scoring, Python codec Arrow stages,
    # and the ExactSubstr removal (span groupBy + anti-join)
    "text_pii_scrub",
    "dedup_url_canonical",
    "cap_docs_per_domain",
    "decontaminate_embedding_benchmark",
    "multimodal_png_roundtrip",
    "multimodal_wav_roundtrip",
    "dedup_remove_duplicated_spans",
    # round-6 additions: budget fill scans+buckets the k-fold corpus
    # (linear; the cumulative relation stays <= 1001 rows); BPE vocab
    # grows k-fold with replica-prefixed words (pair counting follows
    # the vocab); MAD percentiles see k-fold denser per-user series
    # (user set constant); drift commits/reads k-fold orders twice;
    # ER-scaled uses replica-disjoint blocks (linear name graph)
    "select_docs_token_budget",
    "bpe_first_merges",
    "events_mad_outliers",
    "mixture_temperature_targets",
    "provenance_partition_lineage",
    "versioned_stats_drift",
    "entity_resolution_scaled",
    # round-9 additions: the persisted-index production build (kmeans
    # + Arrow assignment; linear build is the claim), the Iceberg
    # export->adopt round trip over a k-fold FILE COUNT with constant
    # data (isolates the O(file entries) metadata claim — the registry
    # adoption query is constant-size under key-shifted replication by
    # construction), and the watermarked streaming rolling distinct
    # (events k-fold denser, user set constant -> linear scan, state
    # flat)
    "ann_indexed_scaled",
    "iceberg_files_scaled",
    "stream_trailing_distinct_users",
]


def _ngram_jaccard_noprefix(spark, sf_dir):
    """Exhaustive-inverted-index twin of dedup_ngram_jaccard (same
    params, prefix_filter=False) — quantifies the candidate-volume win
    of the PPJoin prefix filter at scale."""
    from datalake_scripts_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return ngram_jaccard_pairs(
        docs, "doc_id", "text", n=2, threshold=0.5, block_col="lang",
        prefix_filter=False,
    )


def _semantic_dedup_kmeans(spark, sf_dir):
    """SemDeDup at scale: cluster count GROWS with the corpus
    (n // 125, the SemDeDup prescription) so per-cluster size — and the
    within-cluster quadratic term — stays bounded; centroids come from
    the constant-footprint sampled-k-means path. Healthy scaling is
    ~linear pairs/time; a k^2 blow-up means clusters stopped scaling."""
    from datalake_scripts_spark.operators.dedup import semantic_dedup
    from datalake_scripts_spark.operators.similarity import ivf_centroids_kmeans

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    cents = ivf_centroids_kmeans(
        emb, n_centroids=max(16, n // 125), max_sample=10_000
    )
    return semantic_dedup(
        emb, "vec_id", "embedding", threshold=0.3, cents=cents, dim=64,
        assignment="pandas",
    )


def _containment_noprefix(spark, sf_dir):
    """Exhaustive twin of dedup_containment_pairs (prefix_filter=False)
    — quantifies the contained-side prefix filter's candidate-volume
    win; note the container side is always fully indexed, so the A/B
    gap is ~(1-t), not (1-t)^2 like the symmetric jaccard case."""
    from datalake_scripts_spark.operators.dedup import containment_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return containment_pairs(
        docs, "doc_id", "text", n=2, threshold=0.8, block_col="lang",
        prefix_filter=False,
    )


def _match_fuzzy_scaled(spark, sf_dir):
    """match_fuzzy_part_names over a k-fold part table whose replicas
    have DISJOINT blocking keys (head noun prefixed with the replica
    id): block count grows k-fold, block SIZE stays fixed, so the
    blocked join's candidate volume — and runtime — must grow ~k, not
    k^2. That linear-in-blocks fan-out is exactly the entity-resolution
    scaling claim under test."""
    from pyspark.sql import functions as F

    k = int(os.environ.get("SCALEUP_K", "10"))
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    n = part.agg(F.max("p_partkey")).first()[0] + 1
    rep = (
        part.crossJoin(spark.range(k).withColumnRenamed("id", "_rep"))
        .withColumn("p_partkey", F.col("p_partkey") + F.col("_rep") * n)
        .withColumn(
            # tag the SECOND token — the blocking key is split(name)[1],
            # so the tag must land there for replica-disjoint blocks
            # (tagging word 0 leaves blocks shared and in-block pairs
            # grow k^2 by construction — measured 59x at k=10)
            "p_name",
            F.when(F.col("_rep") == 0, F.col("p_name")).otherwise(
                F.expr(
                    "concat(split(p_name, ' ')[0], ' r', "
                    "CAST(_rep AS STRING), '_', "
                    "substring(p_name, length(split(p_name, ' ')[0]) + 2))"
                )
            ),
        )
        .drop("_rep")
        # the single-file part scan leaves the k-fold table in ONE
        # partition; spread it so the blocked join parallelizes (at
        # real scale the input is already wide)
        .repartition(32)
        .localCheckpoint()
    )
    p = rep.select(
        "p_partkey", "p_name", F.split("p_name", " ").getItem(1).alias("block")
    )
    a = p.select(
        F.col("p_partkey").alias("key_a"), F.col("p_name").alias("name_a"), "block"
    )
    b = p.select(
        F.col("p_partkey").alias("key_b"), F.col("p_name").alias("name_b"), "block"
    )
    return (
        a.join(b, "block")
        .filter(F.col("key_a") < F.col("key_b"))
        .filter(F.levenshtein("name_a", "name_b") <= 4)
        .select(
            "key_a",
            "key_b",
            F.levenshtein("name_a", "name_b").cast("int").alias("edit_distance"),
        )
    )


def _entity_resolution_scaled(spark, sf_dir):
    """entity_resolution_canonical over the same replica-disjoint
    k-fold part table as match_fuzzy_scaled: distinct names (and thus
    name-graph nodes/edges and CC work) grow ~k with block size fixed.
    Healthy scaling is ~linear — the contraction claim under test is
    that ER cost follows the NAME relation, not the record count
    squared."""
    from pyspark.sql import functions as F

    from datalake_scripts_spark.operators import dedup as D

    k = int(os.environ.get("SCALEUP_K", "10"))
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    n = part.agg(F.max("p_partkey")).first()[0] + 1
    rep = (
        part.crossJoin(spark.range(k).withColumnRenamed("id", "_rep"))
        .withColumn("p_partkey", F.col("p_partkey") + F.col("_rep") * n)
        .withColumn(
            "p_name",
            F.when(F.col("_rep") == 0, F.col("p_name")).otherwise(
                F.expr(
                    "concat(split(p_name, ' ')[0], ' r', "
                    "CAST(_rep AS STRING), '_', "
                    "substring(p_name, length(split(p_name, ' ')[0]) + 2))"
                )
            ),
        )
        .drop("_rep")
        .repartition(32)
        .localCheckpoint()
    )
    names = rep.groupBy("p_name").agg(
        F.min("p_partkey").alias("gid"), F.count("*").alias("group_n")
    )
    nm = names.select(
        "p_name", "gid", "group_n", F.split("p_name", " ").getItem(1).alias("block")
    )
    a = nm.select(
        F.col("gid").alias("id_a"), F.col("p_name").alias("name_a"), "block"
    )
    b = nm.select(
        F.col("gid").alias("id_b"), F.col("p_name").alias("name_b"), "block"
    )
    name_pairs = (
        a.join(b, "block")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.levenshtein("name_a", "name_b", 4) >= 0)
        .select("id_a", "id_b")
    )
    cc = D.duplicate_clusters_star(name_pairs)
    labeled = (
        nm.join(cc.withColumnRenamed("doc_id", "gid"), "gid", "left")
        .filter(F.col("cluster_id").isNotNull() | (F.col("group_n") >= 2))
        .select("p_name", F.coalesce("cluster_id", "gid").alias("cluster_id"))
    )
    return (
        rep.select("p_partkey", "p_name")
        .join(F.broadcast(labeled), "p_name")  # bcast: distinct names
        .groupBy("cluster_id")
        .agg(F.count("*").alias("n_members"))
    )


def _heavy_hitters_scaled(spark, sf_dir):
    """sketch_mg_heavy_hitters_exact over a VERBATIM k-fold corpus
    (doc_id offset only, text unchanged): unlike the pair-producing
    ops, heavy hitters are about SHARES, and the replica-prefixed
    default perturbation divides every token's share by k — at k=10
    nothing clears the 1/200 threshold and the query degenerates to an
    empty result. Verbatim replication keeps shares constant while N
    grows k-fold, which is the actual 100 TB claim under test: the
    Misra-Gries candidate pass stays summary-sized and the exact pass
    shuffles only candidates, at any corpus multiple."""
    from pyspark.sql import functions as F

    from datalake_scripts_spark.operators.heavyhitters import (
        heavy_hitters_exact,
    )
    from datalake_scripts_spark.queries.sketches import _HH_K

    k = int(os.environ.get("SCALEUP_K", "10"))
    # read the PRISTINE corpus, not sf_dir (whose documents are already
    # replica-prefixed by the default perturbation, diluting shares)
    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    n = docs.agg(F.max("doc_id")).first()[0] + 1
    rep = (
        docs.crossJoin(spark.range(k).withColumnRenamed("id", "_rep"))
        .withColumn("doc_id", F.col("doc_id") + F.col("_rep") * n)
        .drop("_rep")
    )
    rep = rep.repartition(spark.sparkContext.defaultParallelism)
    from datalake_scripts_spark.operators import text as X

    items = rep.select(F.explode(X.tokens("text")).alias("item"))
    return heavy_hitters_exact(items, "item", _HH_K)


def _ann_indexed_scaled(spark, sf_dir):
    """Persisted-IVF production path at scale (round 9): kmeans
    centroids from a BOUNDED sample, Arrow/numpy assignment,
    cell-partitioned store, probed-cells-only serve. Build is the
    O(corpus) cost paid once per corpus change; healthy scaling is
    ~linear build. The stride/literal registry twin deliberately does
    NOT scale — its centroid count grows with the corpus by
    construction (|C|/stride), which is the documented oracle-only
    regime."""
    import tempfile

    from datalake_scripts_spark.operators import ann_index as AI
    from datalake_scripts_spark.operators import versioned as V

    corpus = tempfile.mkdtemp(prefix="annx_corpus_")
    idx = tempfile.mkdtemp(prefix="annx_idx_")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )
    V.write_versioned(spark, emb, corpus, mode="append")
    AI.build_ann_index(
        spark, corpus, idx,
        centroids="kmeans", n_centroids=64, assignment="pandas",
    )
    q = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        "vec_id < 10"
    )
    return AI.ivf_topk_indexed(spark, q, idx, k=3, nprobe=2)


def _iceberg_files_scaled(spark, sf_dir):
    """Iceberg export+adopt over a table with k-fold MANY FILES and
    CONSTANT data (20k rows repartitioned into 64k files): both
    directions are O(file entries) metadata work, so healthy scaling
    is ~linear in k with a small constant — a super-linear move means
    the manifest writer or the Avro codec grew a quadratic term."""
    import tempfile

    from datalake_scripts_spark.operators import versioned as V
    from datalake_scripts_spark.operators.iceberg_interop import (
        export_iceberg_metadata,
        import_iceberg_metadata,
    )

    k = int(os.environ.get("SCALEUP_K", "10"))
    base = tempfile.mkdtemp(prefix="icex_")
    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(20_000)
        .repartition(64 * k)
    )
    V.write_versioned(spark, orders, base, mode="append")
    export_iceberg_metadata(base)
    shutil.rmtree(os.path.join(base, "_manifests"))
    ptr = os.path.join(base, "_latest")
    if os.path.exists(ptr):
        os.remove(ptr)
    import_iceberg_metadata(base)
    return V.files_df(spark, base)


EXTRA = {
    "ann_indexed_scaled": _ann_indexed_scaled,
    "iceberg_files_scaled": _iceberg_files_scaled,
    "heavy_hitters_scaled": _heavy_hitters_scaled,
    "ngram_jaccard_noprefix": _ngram_jaccard_noprefix,
    "containment_noprefix": _containment_noprefix,
    "semantic_dedup_kmeans": _semantic_dedup_kmeans,
    "match_fuzzy_scaled": _match_fuzzy_scaled,
    "entity_resolution_scaled": _entity_resolution_scaled,
}


def main() -> None:
    from pyspark.sql import functions as F

    from datalake_scripts_spark.queries import REGISTRY
    from datalake_scripts_spark.session import get_spark

    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    os.environ["SCALEUP_K"] = str(k)  # EXTRA queries that self-replicate
    names = sys.argv[2:] or DEFAULT_QUERIES
    src, dst = "/root/testdata/sf0.1", f"/tmp/sfx{k}_synth"

    spark = get_spark("scaleup", shuffle_partitions=32)
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)

    replicate = {
        "lineitem": "l_orderkey",
        "orders": "o_orderkey",
        "events": "event_id",
        "customer": "c_custkey",
        # documents get REPLICA-DISTINCT texts (every word prefixed with
        # the replica id): a verbatim copy would make each replica a
        # near-dup of every other, so pair-producing ops (jaccard, CC)
        # would grow k^2 BY CONSTRUCTION — an artifact, not a property
        # of the engine. With disjoint shingle spaces per replica, the
        # dup-cluster structure repeats k times and honest scaling for
        # pair ops is ~linear.
        "documents": "doc_id",
        # embeddings get a per-replica dimension ROTATION (below):
        # identical copies would put all k clones of a vector in one
        # cluster at cosine 1.0, so pair ops would grow k^2 by
        # construction; rotation preserves within-replica geometry
        # (norms and angles) while cross-replica cosines behave like
        # unrelated pairs
        "embeddings": "vec_id",
    }
    t0 = time.time()
    for name in ["region", "nation", "supplier", "part"]:
        shutil.copy(f"{src}/{name}.parquet", f"{dst}/{name}.parquet")
    for name, key in replicate.items():
        df = spark.read.parquet(f"{src}/{name}.parquet")
        n = df.agg(F.max(key)).first()[0] + 1
        rep = (
            df.crossJoin(spark.range(k).withColumnRenamed("id", "_rep"))
            .withColumn(key, F.col(key) + F.col("_rep") * n)
        )
        if name == "orders":
            rep = rep.withColumn(
                "o_custkey", F.col("o_custkey") + F.col("_rep") * 150000
            )
        if name == "documents":
            # replica 0 keeps the ORIGINAL text: the perturbation exists
            # only to stop cross-replica near-duplicate pairs, and
            # prefixed words break stopword/quality gates (a
            # gate-dependent query would measure an empty corpus)
            rep = rep.withColumn(
                "text",
                F.when(F.col("_rep") == 0, F.col("text")).otherwise(
                    F.regexp_replace(
                        F.col("text"),
                        r"(\w+)",
                        F.concat(
                            F.lit("r"), F.col("_rep").cast("string"), F.lit("_$1")
                        ),
                    )
                ),
            )
        if name == "embeddings":
            rep = rep.withColumn(
                "embedding",
                F.expr(
                    "CASE WHEN _rep = 0 THEN embedding ELSE "
                    "concat(slice(embedding, _rep % 64 + 1, 64 - _rep % 64), "
                    "slice(embedding, 1, _rep % 64)) END"
                ),
            )
        rep.drop("_rep").write.mode("overwrite").parquet(f"{dst}/{name}.parquet")
    print(f"# replication x{k} done in {time.time() - t0:.1f}s")

    spark.read.parquet(f"{dst}/lineitem.parquet").count()  # warm
    import gc

    for name in names:
        fn = EXTRA.get(name) or REGISTRY[name].fn
        t0 = time.time()
        cnt = fn(spark, dst).count()
        print(f"{name}: {cnt} rows in {time.time() - t0:.2f}s (sf0.1 x{k})")
        spark.catalog.clearCache()
        gc.collect()
        spark.sparkContext._jvm.System.gc()


if __name__ == "__main__":
    main()
