"""Dedup operators on planted fixtures: exact, jaccard, minhash-lsh,
simhash, embedding near-dup."""

import pytest
from pyspark.sql import Row, functions as F

from datalake_scripts_spark.operators import dedup as D


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    near = "the quick brown fox jumps over the lazy cat again and again"
    far = "completely different words about spark query engines at scale"
    return spark.createDataFrame(
        [
            Row(doc_id=1, text=base, lang="en"),
            Row(doc_id=2, text=base, lang="en"),  # exact dup of 1
            Row(doc_id=3, text=near, lang="en"),  # near dup of 1
            Row(doc_id=4, text=far, lang="en"),
            Row(doc_id=5, text=base, lang="de"),  # same text, other block
        ]
    )


def test_exact_dedup_min_representative(docs):
    out = D.exact_dedup(docs, ["text", "lang"], "doc_id")
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = {(r.text, r.lang): (r.doc_id, r.n_dups) for r in out.collect()}
    assert rows[(base, "en")] == (1, 2)
    assert rows[(base, "de")] == (5, 1)


def test_word_shingles_short_doc(spark):
    df = spark.createDataFrame([Row(text="one two")])
    out = df.select(D.word_shingles("text", 3).alias("sh")).first()
    assert out.sh == []


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = D.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=2, threshold=0.4, block_col="lang"
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in found  # exact dup -> jaccard 1.0
    assert (1, 3) in found and (2, 3) in found  # near dup
    assert not any(4 in p for p in found)
    assert not any(5 in p for p in found)  # blocked by lang
    j12 = [r.jaccard for r in pairs if (r.id_a, r.id_b) == (1, 2)][0]
    assert j12 == 1.0


def test_minhash_lsh_finds_planted_dups(docs):
    pairs = D.minhash_lsh_pairs(
        docs, "doc_id", "text", n=2, num_hashes=32, bands=16, verify_threshold=0.4
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    # exact dups always collide in every band; near-dup collides whp with r=2
    assert (1, 2) in found
    assert (1, 5) in found or (2, 5) in found  # same text across langs (no blocking here)
    assert not any(4 in p for p in found)


def test_simhash_identical_docs_equal_signatures(docs):
    sigs = {r.doc_id: r.simhash for r in D.simhash(docs, "doc_id", "text").collect()}
    assert sigs[1] == sigs[2] == sigs[5]
    # near-dup within small hamming distance; far doc further away
    ham_near = bin((sigs[1] ^ sigs[3]) & (2**64 - 1)).count("1")
    ham_far = bin((sigs[1] ^ sigs[4]) & (2**64 - 1)).count("1")
    assert ham_near < ham_far


def test_embedding_near_dup_srp_default(spark):
    """Default path is SRP-LSH bucketing: same-direction vectors collide
    in every hash table regardless of any label, orthogonal ones don't."""
    emb = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0, 0.0, 0.0], label=0),
            Row(vec_id=2, embedding=[0.99, 0.01, 0.0], label=0),
            Row(vec_id=3, embedding=[0.0, 1.0, 0.0], label=0),
            Row(vec_id=4, embedding=[1.0, 0.0, 0.0], label=1),
        ]
    )
    pairs = D.embedding_near_dup_pairs(emb, threshold=0.95).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in found and (1, 4) in found and (2, 4) in found
    assert not any(3 in p for p in found)
    cos = {(r.id_a, r.id_b): r.cosine for r in pairs}
    assert cos[(1, 4)] == 1.0


def test_embedding_near_dup_explicit_block(spark):
    emb = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0, 0.0, 0.0], label=0),
            Row(vec_id=2, embedding=[0.99, 0.01, 0.0], label=0),
            Row(vec_id=4, embedding=[1.0, 0.0, 0.0], label=1),  # other block
        ]
    )
    pairs = D.embedding_near_dup_pairs(
        emb, block_col="label", threshold=0.95
    ).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}


def test_embedding_near_dup_plan_has_no_cartesian(spark):
    """The scale contract: no configuration of the SRP path may plan a
    CartesianProduct or BroadcastNestedLoopJoin (the former block_col=None
    fallback was a silent all-pairs cross join)."""
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i), 1.0, 0.0]) for i in range(10)]
    )
    plan = D.embedding_near_dup_pairs(emb, threshold=0.5)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hot_shingle_df_cap_drops_stopword_shingle(spark):
    """Skew guard: a shingle present in (almost) every document is
    dropped from the inverted index before the self-join."""
    # every doc shares the hot shingle "the end"; each also has unique text
    rows = [
        Row(doc_id=i, text=f"unique words number {i} here the end", lang="en")
        for i in range(20)
    ]
    df = spark.createDataFrame(rows)
    sh = D._shingle_table(df, "doc_id", "text", 2)
    capped = D.cap_shingle_df(sh, ["shingle"], n_docs=20, max_df_frac=0.5,
                              min_df_keep=5)
    left = {r.shingle for r in capped.select("shingle").distinct().collect()}
    assert "the end" not in left          # df=20 > max(0.5*20, 5)
    assert any(f"number {i}" in left for i in range(20))
    # pair results stay correct under the cap: the hot shingle carried no
    # near-dup signal, so no pair at threshold 0.5 among unique docs
    pairs = D.ngram_jaccard_pairs(
        df, "doc_id", "text", n=2, threshold=0.5, max_df_frac=0.5, min_df_keep=5
    )
    assert pairs.count() == 0


def _union_find(pairs):
    """Reference components: {node: component minimum}; self-loops add
    no node (the operator drops them too)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if a != b:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _random_graph(seed, nodes, edges):
    import random

    rng = random.Random(seed)
    return [(rng.randint(1, nodes), rng.randint(1, nodes)) for _ in range(edges)]


@pytest.mark.parametrize(
    "pairs",
    [
        [],
        [(1, 1), (2, 2)],  # self-loops only
        [(1, k) for k in range(2, 9)] + [(20, 21), (20, 22)],  # already stars
        [(1, 2), (2, 1), (1, 2), (3, 2), (5, 5), (7, 6), (6, 7)],  # dups, reversed
        [(i, i + 1) for i in range(1, 200)],  # long chain
        [(a, b) for base in (1, 50, 90) for a in range(base, base + 6)
         for b in range(a + 1, base + 6)],  # disjoint cliques
        # one round leaves {3->1, 4->1, 3->2, 5->2}: no node is both a
        # parent and a child, yet 3 has two parents and 5 is not under 1
        [(1, 3), (2, 5), (3, 4), (4, 5)],
    ]
    + [_random_graph(seed, n, m) for seed, (n, m) in
       enumerate([(10, 20), (30, 25), (60, 80), (200, 150), (400, 600)])]
    + [
        [(i, i + 1) for i in range(1, 12)],  # 12-node chain
        # two cliques + an isolated pair
        [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
        + [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
        + [(100, 101)],
        [(1, k) for k in range(2, 8)] + [(7, 20), (20, 21)],  # star + bridge
        _random_graph(7, 60, 80),
    ],
)
def test_star_cc_matches_union_find(spark, pairs):
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r.doc_id: r.cluster_id for r in D.duplicate_clusters_star(df).collect()}
    assert got == _union_find(pairs)


def test_star_cc_stops_in_the_round_that_contracts(spark):
    """Disjoint stars and cliques contract in one round. That round's
    three shuffles and its result job are the whole cost: the stop test
    rides on the round's own job, and no second round runs only to see
    that nothing changed (that round alone would add four jobs)."""
    pairs = [(a, b) for base in (1, 50) for a in range(base, base + 5)
             for b in range(a + 1, base + 5)] + [(100, k) for k in range(101, 110)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long").localCheckpoint()
    sc = spark.sparkContext
    sc.setJobGroup("test_star_cc_one_round", "duplicate_clusters_star")
    try:
        D.duplicate_clusters_star(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("test_star_cc_one_round")
    assert len(jobs) <= 5, len(jobs)


def test_prefix_filter_lossless(spark, sf_dir):
    """Prefix filtering must be invisible in the result: identical pair
    set and identical jaccard values vs the exhaustive inverted join."""
    from datalake_scripts_spark.io import read_table

    docs = read_table(spark, sf_dir, "documents")
    kw = dict(n=2, threshold=0.5, block_col="lang")
    fast = {
        (r.id_a, r.id_b, r.jaccard)
        for r in D.ngram_jaccard_pairs(
            docs, "doc_id", "text", prefix_filter=True, **kw
        ).collect()
    }
    slow = {
        (r.id_a, r.id_b, r.jaccard)
        for r in D.ngram_jaccard_pairs(
            docs, "doc_id", "text", prefix_filter=False, **kw
        ).collect()
    }
    assert fast == slow and len(fast) > 0


def test_cc_nonconvergence_raises_not_silent(spark):
    """CC must refuse to return partial labels: an iteration budget too
    small for the graph raises instead of silently splitting one
    duplicate cluster across ids — under both exported names."""
    chain = spark.createDataFrame(
        [Row(id_a=i, id_b=i + 1) for i in range(1, 40)]
    )
    assert D.duplicate_clusters is D.duplicate_clusters_star
    with pytest.raises(RuntimeError, match="did not converge"):
        D.duplicate_clusters(chain, max_iters=1)


def _emb(spark, sf_dir):
    from datalake_scripts_spark.io import read_table

    return read_table(spark, sf_dir, "embeddings")


def test_semantic_dedup_invariants(spark, sf_dir):
    """SemDeDup keep-set invariants: subset of corpus, min id of every
    cluster survives, and each pruned doc really has a lower-id
    cluster-mate at cosine >= threshold."""
    from pyspark.sql import functions as F

    from datalake_scripts_spark.operators import similarity as S

    emb = _emb(spark, sf_dir)
    kept = D.semantic_dedup(emb, "vec_id", "embedding", threshold=0.3, dim=64)
    kept_rows = kept.collect()
    all_ids = {r.vec_id for r in emb.select("vec_id").collect()}
    kept_ids = {r.vec_id for r in kept_rows}
    assert kept_ids <= all_ids and kept_ids

    # rebuild assignment to audit the pruned set
    cents = S.ivf_centroids(emb, stride=50)
    vv = F.col("embedding").cast("array<double>")
    cells = emb.select(
        "vec_id", vv.alias("v"), S.dot(vv, vv, 64).alias("vn")
    ).withColumn("cell", S.ivf_assign_cell(F.col("v"), F.col("vn"), cents))
    # min id per cluster is always kept
    min_ids = {
        r.m for r in cells.groupBy("cell").agg(F.min("vec_id").alias("m")).collect()
    }
    assert min_ids <= kept_ids
    # every pruned doc has a justifying lower-id near-neighbor in-cluster
    a, b = cells.alias("a"), cells.alias("b")
    justified = {
        r.vid
        for r in a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(
            S.cosine_with_norms(
                F.col("a.v"), F.col("b.v"), F.col("a.vn"), F.col("b.vn"), 64
            )
            >= 0.3
        )
        .select(F.col("b.vec_id").alias("vid"))
        .collect()
    }
    assert all_ids - kept_ids == justified


def test_semantic_dedup_kmeans_centroids_path(spark, sf_dir):
    """Production path: sampled-k-means centroids plug into the same
    plan; keep-set obeys the same invariants (different clusters, so
    no equality with the stride path is expected)."""
    from datalake_scripts_spark.operators import similarity as S

    emb = _emb(spark, sf_dir)
    cents = S.ivf_centroids_kmeans(
        emb, n_centroids=8, max_sample=500, id_col="vec_id", vec_col="embedding"
    )
    kept = D.semantic_dedup(
        emb, "vec_id", "embedding", threshold=0.3, cents=cents, dim=64
    )
    n_corpus = emb.count()
    n_kept = kept.count()
    assert 0 < n_kept <= n_corpus
    # cells come from the provided centroids
    cells = {r.cell for r in kept.select("cell").distinct().collect()}
    assert cells <= {cid for cid, _ in cents}


def test_duplicated_ngram_span_stats(spark):
    from datalake_scripts_spark.operators.dedup import duplicated_ngram_span_stats

    boiler = "all rights reserved contact us for more information"  # 8 tokens
    docs = spark.createDataFrame(
        [
            (1, boiler + " alpha beta gamma"),
            (2, boiler + " delta epsilon zeta"),
            (3, "a completely unique document with no shared spans at all"),
            (4, "too short"),  # < 8 tokens -> 0 spans
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_spans, r.n_dup_spans, r.dup_span_ratio)
        for r in duplicated_ngram_span_stats(docs, "doc_id", "text", n=8).collect()
    }
    # docs 1/2: 11 tokens -> 4 spans each; only the pure-boilerplate
    # 8-gram (positions 1..8) repeats across them
    assert out[1] == (4, 1, 0.25)
    assert out[2] == (4, 1, 0.25)
    assert out[3][1] == 0 and out[3][2] == 0.0
    assert out[4] == (0, 0, 0.0)


def test_containment_doc_inside_doc(spark):
    """A short doc fully quoted inside a long one: containment 1.0 in
    the contained->container direction only; Jaccard far below 1."""
    small = "alpha beta gamma delta epsilon zeta"
    big = small + " " + " ".join(f"w{i} w{i}x" for i in range(30))
    df = spark.createDataFrame(
        [Row(doc_id=1, text=small), Row(doc_id=2, text=big)]
    )
    out = {
        (r.id_contained, r.id_container): r
        for r in D.containment_pairs(
            df, "doc_id", "text", n=2, threshold=0.8, min_df_keep=100
        ).collect()
    }
    assert (1, 2) in out and out[(1, 2)].containment == 1.0
    assert (2, 1) not in out  # big is NOT contained in small
    # the same pair is invisible to symmetric jaccard at 0.5
    jac = D.ngram_jaccard_pairs(
        df, "doc_id", "text", n=2, threshold=0.5, min_df_keep=100
    ).collect()
    assert jac == []


def test_containment_prefix_filter_lossless(spark, sf_dir):
    """Contained-side prefix x full container index must be invisible
    in the result vs the exhaustive inverted join."""
    from datalake_scripts_spark.io import read_table

    docs = read_table(spark, sf_dir, "documents")
    kw = dict(n=2, threshold=0.8, block_col="lang")
    fast = {
        (r.id_contained, r.id_container, r.containment)
        for r in D.containment_pairs(
            docs, "doc_id", "text", prefix_filter=True, **kw
        ).collect()
    }
    slow = {
        (r.id_contained, r.id_container, r.containment)
        for r in D.containment_pairs(
            docs, "doc_id", "text", prefix_filter=False, **kw
        ).collect()
    }
    assert fast == slow and len(fast) > 0


def test_containment_exact_dup_both_directions(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="one two three four five six"),
            Row(doc_id=2, text="one two three four five six"),
        ]
    )
    out = {
        (r.id_contained, r.id_container)
        for r in D.containment_pairs(
            df, "doc_id", "text", n=2, threshold=0.8, min_df_keep=100
        ).collect()
    }
    assert out == {(1, 2), (2, 1)}


def test_incremental_cross_equals_full_restricted(spark, sf_dir):
    """Batch-vs-corpus incremental dedup must return exactly the
    full-corpus pair set restricted to (corpus, batch) cross pairs —
    same scores (the df order and cap are union-consistent)."""
    from datalake_scripts_spark.io import read_table

    docs = read_table(spark, sf_dir, "documents")
    corpus = docs.filter("doc_id < 400")
    batch = docs.filter("doc_id >= 400")
    kw = dict(n=2, threshold=0.5, block_col="lang")
    cross = {
        (r.corpus_id, r.batch_id, r.jaccard)
        for r in D.ngram_jaccard_pairs_cross(
            batch, corpus, "doc_id", "text", **kw
        ).collect()
    }
    full = {
        (r.id_a, r.id_b, r.jaccard)
        for r in D.ngram_jaccard_pairs(docs, "doc_id", "text", **kw).collect()
        if r.id_a < 400 <= r.id_b
    }
    assert cross == full and len(cross) > 0


def test_remove_duplicated_spans_semantics(spark):
    """Hand-crafted corpus: the shared 3-token span vanishes from BOTH
    docs (coverage merges overlapping duplicated windows); unique text
    survives verbatim; a fully-duplicated doc empties."""
    from datalake_scripts_spark.operators.dedup import remove_duplicated_spans

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta unique one"),
            (2, "prefix words alpha beta gamma delta other tail"),
            (3, "alpha beta gamma delta"),  # nothing but the dup span
            (4, "totally different content here"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in remove_duplicated_spans(docs, "doc_id", "text", n=4).collect()
    }
    # the 4-token window 'alpha beta gamma delta' occurs 3x corpus-wide
    assert out[1].text_clean == "unique one"
    assert out[1].n_removed == 4
    assert out[2].text_clean == "prefix words other tail"
    assert out[3].text_clean == "" and out[3].n_removed == 4
    assert out[4].text_clean == "totally different content here"
    assert out[4].n_removed == 0
    assert all(out[k].n_tokens - out[k].n_removed ==
               (len(out[k].text_clean.split()) if out[k].text_clean else 0)
               for k in out)


def test_shared_rank_table_outputs_identical(spark, sf_dir):
    """ranked_shingle_table (VERDICT r4 stretch #8): jaccard and
    containment fed the SAME precomputed rarity-rank relation return
    exactly the rows their solo pipelines return — the df values and
    therefore the global rarest-first order are identical."""
    from datalake_scripts_spark.io import read_table
    from datalake_scripts_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
        ranked_shingle_table,
    )

    docs = read_table(spark, sf_dir, "documents")
    ranked = ranked_shingle_table(docs, "doc_id", "text", n=3)
    for op, kw in (
        (ngram_jaccard_pairs, {"threshold": 0.5}),
        (containment_pairs, {"threshold": 0.8}),
    ):
        solo = op(docs, "doc_id", "text", n=3, **kw)
        shared = op(docs, "doc_id", "text", n=3, ranked_shingles=ranked, **kw)
        assert sorted(solo.collect()) == sorted(shared.collect())


# --------------------------------------------------------------------------
# The integer-token shingle-join core (_WidthTables + _token_pairs)
# --------------------------------------------------------------------------

def _core_corpus(seed, n_docs=70):
    """(doc_id, text, lang): a two-language corpus with docs shorter
    than a bigram (empty, one token), exact copies, edited copies, and
    a "hot pair" bigram in most English docs for the df cap to drop."""
    import random

    r = random.Random(seed)
    vocab = [f"w{i}" for i in range(25)]
    rows = []
    for i in range(n_docs):
        u = r.random()
        if u < 0.1 and rows:
            rows.append((i,) + r.choice(rows)[1:])
            continue
        if u < 0.3 and rows:
            _, text, lang = r.choice(rows)
            toks = [r.choice(vocab) if r.random() < 0.15 else w for w in text.split()]
            rows.append((i, " ".join(toks), lang))
            continue
        lang = "en" if r.random() < 0.7 else "de"
        toks = [r.choice(vocab) for _ in range(r.choice([0, 1, 2, r.randint(3, 25)]))]
        if lang == "en" and r.random() < 0.8:
            toks += ["hot", "pair"]
        rows.append((i, " ".join(toks), lang))
    return rows


def _py_pairs(left, right, kind, n, t, block, max_df_frac, min_df_keep):
    """Exhaustive reference over (id, text, lang) rows: capped shingle
    sets, then every pair sharing a shingle, scored in Python."""
    docs = [("l", d) for d in left] + ([("r", d) for d in right] if right else [])
    sets = {}
    for side, (i, text, lang) in docs:
        toks = text.lower().split()
        blk = lang if block else None
        sets[side, i] = (blk, {" ".join(toks[k:k + n]) for k in range(len(toks) - n + 1)})
    df = {}
    for blk, sh in sets.values():
        for s in sh:
            df[s, blk] = df.get((s, blk), 0) + 1
    cap = max(max_df_frac * len(docs), float(min_df_keep))
    capped = {k: (blk, {s for s in sh if df[s, blk] <= cap}) for k, (blk, sh) in sets.items()}
    lefts = [k for k in capped if k[0] == "l"]
    rights = [k for k in capped if k[0] == ("r" if right else "l")]
    out = set()
    for a in lefts:
        for b in rights:
            (ba, sa), (bb, sb) = capped[a], capped[b]
            inter = len(sa & sb)
            if ba != bb or inter == 0:
                continue
            if kind == "containment":
                if a != b and inter / float(len(sa)) >= t:
                    out.add((a[1], b[1], inter / float(len(sa)), len(sa), len(sb)))
            elif (kind == "cross" or a[1] < b[1]):
                j = inter / float(len(sa) + len(sb) - inter)
                if j >= t:
                    out.add((a[1], b[1], j))
    return out


def _run_core(spark, kind, rows, cross_rows, **kw):
    schema = "doc_id long, text string, lang string"
    df = spark.createDataFrame(rows, schema)
    if kind == "jaccard":
        out = D.ngram_jaccard_pairs(df, "doc_id", "text", **kw)
    elif kind == "containment":
        out = D.containment_pairs(df, "doc_id", "text", **kw)
    else:
        out = D.ngram_jaccard_pairs_cross(
            df, spark.createDataFrame(cross_rows, schema), "doc_id", "text", **kw
        )
    return {tuple(r) for r in out.collect()}


@pytest.mark.parametrize("block", [None, "lang"])
@pytest.mark.parametrize("kind,t", [("jaccard", 0.5), ("containment", 0.7), ("cross", 0.4)])
def test_token_core_equals_exhaustive_and_python(spark, kind, t, block):
    """Prefix + length + positional filters on integer tokens return
    exactly the exhaustive join's rows (prefix_filter=False) and an
    independent Python recomputation — on corpora with blocks, a capped
    hot bigram, docs shorter than n, exact copies, and (cross) ids that
    appear on both sides."""
    for seed in (1, 2):
        rows = _core_corpus(seed)
        left, right = rows, None
        if kind == "cross":
            # batch: every third doc; corpus: the rest, plus some batch
            # docs again under the SAME id
            left = [x for x in rows if x[0] % 3 == 0]
            right = [x for x in rows if x[0] % 3 != 0 or x[0] % 9 == 0]
        kw = dict(n=2, threshold=t, block_col=block, max_df_frac=0.5, min_df_keep=3)
        fast = _run_core(spark, kind, left, right, **kw)
        slow = _run_core(spark, kind, left, right, prefix_filter=False, **kw)
        want = _py_pairs(left, right, kind, 2, t, block, 0.5, 3)
        assert fast == slow == want
        assert len(want) > 5
        if kind == "cross":
            assert any(a == b for a, b, _ in want)  # same id, both sides


def test_token_core_independent_of_token_ids(spark):
    """Tokens come from monotonically_increasing_id, so they change with
    the input's partitioning; the pairs and scores must not."""
    rows = _core_corpus(3, n_docs=90)
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    one, many = df.coalesce(1), df.repartition(7, "text")

    def toks(x):
        wt = D._WidthTables(x, "doc_id", "text", 2, "lang", 0.5, 3)
        return {(r.shingle, r.lang): r._tok for r in wt.ranked().collect()}

    assert toks(one) != toks(many)  # the two runs really number differently
    for op, kw in (
        (D.ngram_jaccard_pairs, {"threshold": 0.5}),
        (D.containment_pairs, {"threshold": 0.7}),
    ):
        got = [
            sorted(op(x, "doc_id", "text", n=2, block_col="lang", min_df_keep=3,
                      **kw).collect())
            for x in (one, many)
        ]
        assert got[0] == got[1] and got[0]


def test_jaccard_pairs_job_count(spark):
    """The token core runs ngram_jaccard_pairs on a small blocked corpus
    in at most 11 Spark jobs (the string pipeline it replaced ran 17
    here): the doc count, the one df pass, and the candidate-verify
    query that packs, joins and verifies."""
    rows = _core_corpus(4, n_docs=80)
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    df = df.localCheckpoint()
    sc = spark.sparkContext
    sc.setJobGroup("test_jaccard_pairs_job_count", "ngram_jaccard_pairs")
    try:
        D.ngram_jaccard_pairs(
            df, "doc_id", "text", n=2, threshold=0.5, block_col="lang"
        ).localCheckpoint()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("test_jaccard_pairs_job_count")
    assert len(jobs) <= 11, len(jobs)
