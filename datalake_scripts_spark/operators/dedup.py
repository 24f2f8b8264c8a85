"""Deduplication operators for training-data pipelines: exact,
n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.

Not in the reference (dedup of its append-mode ``hst_*`` tables is
"deferred to consumers", SURVEY.md §2.7 note); first-class here because
dedup is the canonical 100 TB pre-training job.

Scale design:
- exact dedup is a hash aggregation on the key (one shuffle);
- candidate generation for fuzzy dedup NEVER does an all-pairs cross
  join: pairs come from inverted-index joins (shared shingle), LSH band
  buckets, or block keys, so the shuffle key is the shingle/band/block —
  the classic map-side-explode + bucket-join shape;
- verification (exact Jaccard / cosine) runs only on candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import tokens


def exact_dedup(df: DataFrame, keys: list[str], id_col: str) -> DataFrame:
    """Keep one deterministic representative (min id) per duplicate group.

    ``dropDuplicates`` picks an arbitrary row (partition-order dependent);
    min-id is reproducible run-to-run — required for auditable pipelines.
    """
    return df.groupBy(*keys).agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_dups")
    )


def word_shingles(col: str | Column, n: int = 3) -> Column:
    """n-token shingles (as ' '-joined strings) from whitespace tokens.

    Built with n-1 chained zip_withs against shifted views of the token
    array — O(n) array passes per doc. (The per-index slice+concat
    formulation costs one interpreted slice per shingle and dominated
    the fuzzy-dedup operators' runtime.) Trailing entries where the
    shift runs past the end concat to NULL and are sliced off.
    """
    toks = tokens(col)
    sh = toks
    for k in range(1, n):
        shifted = F.slice(toks, k + 1, F.greatest(F.size(toks) - k, F.lit(0)))
        sh = F.zip_with(sh, shifted, lambda x, y: F.concat(x, F.lit(" "), y))
    keep = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    return F.slice(sh, 1, keep)


def _shingle_table(
    df: DataFrame, id_col: str, text_col: str, n: int, block_col: str | None = None
) -> DataFrame:
    """(id[, block], shingle) inverted-index rows, distinct per doc.

    No repartition here on purpose — re-measured round 3 with a proper
    same-session A/B: a pre-explode repartition(32) of the doc rows
    looks like a 3.4x win on a COLD isolated shingle checkpoint (2.9s
    -> 0.8s, JIT-dominated), but WARM — which is what bench medians and
    any long-lived job measure — it is a consistent loss (jaccard 3.95
    -> 4.84s, minhash 1.55 -> 2.29s, star CC 5.52 -> 6.27s at sf0.1):
    the warm single-task HOF explode is cheap, and the extra shuffle +
    task overhead outweigh it. At real scale the input is already wide
    and the question is moot."""
    cols = [F.col(id_col)]
    if block_col:
        cols.append(F.col(block_col))
    return df.select(
        *cols, F.explode(F.array_distinct(word_shingles(text_col, n))).alias("shingle")
    )


def cap_shingle_df(
    sh: DataFrame,
    join_keys: list[str],
    n_docs: int,
    max_df_frac: float = 0.5,
    min_df_keep: int = 100,
) -> DataFrame:
    """Drop hot shingles: join keys whose document frequency exceeds
    max(max_df_frac * n_docs, min_df_keep).

    A stopword shingle present in most documents contributes O(df^2)
    rows to the inverted-index self-join and lands on ONE reducer — the
    classic skew melt at scale. Shingles that common carry no near-dup
    signal (they match everything), so dropping them changes scores only
    for degenerate pairs. The blacklist is tiny by construction (few
    keys can exceed half the corpus), so it broadcasts and the filter is
    a map-side anti-join — the shingle table is never shuffled on the
    hot key. ``min_df_keep`` floors the cap so small corpora don't drop
    legitimate duplicates.
    """
    hot = (
        sh.groupBy(*join_keys)
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > max(max_df_frac * n_docs, float(min_df_keep)))
        .drop("_df")
    )
    # bcast: O(cap) — the hot-shingle list is top-K-bounded by contract
    return sh.join(F.broadcast(hot), join_keys, "left_anti")


def ranked_shingle_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    block_col: str | None = None,
    max_df_frac: float = 0.5,
    min_df_keep: int = 100,
) -> DataFrame:
    """Shared rarity-rank relation for the shingle-dedup family
    (VERDICT r4 stretch #8): the capped inverted index with each
    shingle's document frequency attached — (id[, block], shingle,
    _df), localCheckpointed. :func:`ngram_jaccard_pairs` and
    :func:`containment_pairs` accept it via ``ranked_shingles`` and
    then skip their own shingle explode, hot-key cap, AND df
    aggregation + join — the two heaviest shared passes — so a
    pipeline running both ops pays them once. Solo runs should pass
    nothing: the in-operator pipeline avoids materializing the wide
    (id, shingle, _df) relation (measured slower solo, r4 note).

    The df values (and therefore the rarest-first global order and
    every prefix) are identical to what each operator computes
    internally, so outputs are hash-identical either way
    (test_dedup_shared_rank)."""
    n_docs = df.count()
    join_keys = ["shingle"] + ([block_col] if block_col else [])
    sh0 = _shingle_table(df, id_col, text_col, n, block_col).localCheckpoint()
    sh = cap_shingle_df(sh0, join_keys, n_docs, max_df_frac, min_df_keep)
    dfs = sh.groupBy(*join_keys).agg(F.count(F.lit(1)).alias("_df"))
    return sh.join(dfs, join_keys).localCheckpoint()


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
    max_df_frac: float = 0.5,
    min_df_keep: int = 100,
    prefix_filter: bool = True,
    ranked_shingles: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard, via inverted index
    with prefix filtering. ``ranked_shingles`` (from
    :func:`ranked_shingle_table`) skips the shingle/cap/df passes when
    a pipeline shares them across ops; output is hash-identical.

    shingle-explode -> hot-shingle df cap (see :func:`cap_shingle_df`)
    -> PREFIX-filtered self-join on shingle -> exact verify.
    ``block_col`` (e.g. language) restricts pairs to the same block,
    shrinking the candidate space. Per-doc sizes are counted AFTER the
    cap, so Jaccard is exact over the capped shingle universe
    (self-consistent; scores involving dropped stopword shingles are
    deliberately not representable). Returns (id_a, id_b, jaccard) with
    id_a < id_b.

    Prefix filtering (Bayardo et al. all-pairs / PPJoin family): under
    a global rarest-first shingle order, any pair with J >= t shares a
    shingle within each side's first ``n_sh - ceil(t * n_sh) + 1``
    shingles (J >= t implies |A∩B| >= t*|A|, so an intersection element
    survives in the prefix). The inverted-index self-join therefore
    explodes only prefixes — candidate volume shrinks ~(1-t)^2 and the
    rarest-first order moves the join key DISTRIBUTION toward uniform
    (rare shingles carry the prefixes). Verification computes exact
    |A∩B| via array_intersect of the full per-doc shingle sets, joined
    only to surviving candidates. LOSSLESS: the result set is
    bit-identical to the exhaustive join (property-tested both ways);
    ``prefix_filter=False`` keeps the exhaustive path for audits.
    """
    join_keys = ["shingle"] + ([block_col] if block_col else [])
    blk = [block_col] if block_col else []
    if ranked_shingles is not None:
        sh = ranked_shingles
    else:
        n_docs = df.count()  # parquet-metadata count — cheap even at scale
    # EAGER localCheckpoint (not lazy persist) on the shared shingle
    # tables, for two measured reasons: (1) each table feeds 2+ branches
    # of one DAG (hot-key agg + main; df ranking + prefix join + verify
    # sets), and a LAZY cache is recomputed by every branch on the first
    # job — 3x the operator's runtime; (2) persist() entries live in the
    # session's CacheManager until unpersist, so a harness running the
    # whole registry in one session accumulates eviction churn, while
    # checkpoint blocks are GC'd with the query's DataFrames. Trade-off:
    # checkpoints drop lineage, so a lost executor means job failure
    # instead of recompute — acceptable for these small intermediates.
        sh0 = _shingle_table(df, id_col, text_col, n, block_col).localCheckpoint()
        sh = cap_shingle_df(
            sh0, join_keys, n_docs, max_df_frac, min_df_keep
        ).localCheckpoint()

    if not prefix_filter:
        sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
        a = sh.select(F.col(id_col).alias("id_a"), *join_keys)
        b = sh.select(F.col(id_col).alias("id_b"), *join_keys)
        inter = (
            a.join(b, join_keys)
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
        sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
        sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
        return (
            inter.join(sa, "id_a")
            .join(sb, "id_b")
            .select(
                "id_a",
                "id_b",
                (
                    F.col("n_inter").cast("double")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
                ).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= threshold)
        )

    # global rarest-first order: df asc, shingle asc as tie-break (any
    # fixed total order is valid; rarity maximizes pruning). ONE per-doc
    # aggregation packs each doc's shingles as a rarity-sorted struct
    # array — sort_array over struct(_df, shingle) IS the (df, shingle)
    # order the old window produced — so the prefix is a slice/
    # posexplode (positions ride along for the PPJoin filter) and the
    # verify arrays are a transform of the same packed column: one
    # id-keyed shuffle instead of three (window rank + sets agg),
    # no per-partition window sort. Output hash-identical (r3 #8).
    # (A/B note: fusing the df pass with the hot-key cap — one groupBy
    # + a checkpointed dfs — measured 0.4s SLOWER at sf0.1 than this
    # shape; the extra materialization outweighs the saved pass.)
    if ranked_shingles is not None:
        ranked = sh  # _df already attached by ranked_shingle_table
    else:
        dfs = sh.groupBy(*join_keys).agg(F.count(F.lit(1)).alias("_df"))
        ranked = sh.join(dfs, join_keys)
    packed = (
        ranked
        .groupBy(id_col)
        .agg(
            F.sort_array(F.collect_list(F.struct("_df", "shingle"))).alias("_rk"),
            F.count(F.lit(1)).alias("_n_sh"),
            *([F.first(block_col).alias(block_col)] if blk else []),
        )
        .localCheckpoint()  # feeds both prefix sides + both verify sides
    )
    plen = (
        F.col("_n_sh") - F.ceil(F.lit(float(threshold)) * F.col("_n_sh")) + F.lit(1)
    ).cast("int")
    prefix = packed.select(
        id_col,
        *blk,
        "_n_sh",
        F.posexplode(F.slice("_rk", F.lit(1), plen)).alias("_pos", "_x"),
    ).select(
        id_col,
        *blk,
        "_n_sh",
        (F.col("_pos") + 1).alias("_rn"),
        F.col("_x.shingle").alias("shingle"),
    )
    # length + positional filters ride along for free (sizes and
    # positions are already on the prefix rows):
    # - length: J >= t forces min(|A|,|B|) >= t * max(|A|,|B|);
    # - positional (PPJoin): a shared prefix token at sorted positions
    #   (i, j) bounds the overlap by 1 + min(|A|-i, |B|-j), which must
    #   reach t/(1+t) * (|A|+|B|). Lossless with filter-then-distinct:
    #   under the global (df, shingle) order, a qualifying pair's FIRST
    #   shared token has every other shared token after it on BOTH
    #   sides, so its row always passes.
    pa = prefix.select(
        F.col(id_col).alias("id_a"), F.col("_n_sh").alias("_na"),
        F.col("_rn").alias("_ra"), *join_keys,
    )
    pb = prefix.select(
        F.col(id_col).alias("id_b"), F.col("_n_sh").alias("_nb"),
        F.col("_rn").alias("_rb"), *join_keys,
    )
    t_frac = float(threshold) / (1.0 + float(threshold))
    cand = (
        pa.join(pb, join_keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.least("_na", "_nb").cast("double")
            >= F.lit(float(threshold)) * F.greatest("_na", "_nb").cast("double")
        )
        .filter(
            (
                1
                + F.least(
                    F.col("_na") - F.col("_ra"), F.col("_nb") - F.col("_rb")
                )
            ).cast("double")
            >= F.lit(t_frac) * (F.col("_na") + F.col("_nb")).cast("double")
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # exact verify on candidates only: per-doc shingle sets derived
    # from the SAME packed aggregation (array_intersect is order-
    # insensitive, so the rarity-sorted array serves as-is — no second
    # full-table aggregation)
    sets = packed.select(
        id_col,
        F.transform("_rk", lambda x: x["shingle"]).alias("_arr"),
        "_n_sh",
    )
    sa = sets.select(
        F.col(id_col).alias("id_a"), F.col("_arr").alias("_aa"),
        F.col("_n_sh").alias("n_a"),
    )
    sb = sets.select(
        F.col(id_col).alias("id_b"), F.col("_arr").alias("_ab"),
        F.col("_n_sh").alias("n_b"),
    )
    n_inter = F.size(F.array_intersect(F.col("_aa"), F.col("_ab")))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                n_inter.cast("double")
                / (F.col("n_a") + F.col("n_b") - n_inter).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _hash_member(i: int, hash_family: str):
    """Member i of the hash family applied to a shingle string.

    - ``xxhash64`` (production): hash the shingle bytes ONCE, derive k
      members by re-hashing the resulting long with the seed — fastest
      JVM path, but engine-specific (no DuckDB twin -> rows-only check).
    - ``md5`` (portable): member i = md5(i || ':' || md5(shingle)) as a
      lowercase-hex STRING; lexicographic min is identical in any engine
      that has md5, making the whole LSH pipeline (signatures, band
      hashes, candidates) expressible as an exact SQL oracle. ~3x the
      hash cost of xxhash64 — the verification twin, not the 100 TB
      default.
    """
    if hash_family == "xxhash64":
        return F.xxhash64(F.lit(i), F.xxhash64(F.col("shingle")))
    if hash_family == "md5":
        return F.md5(F.concat(F.lit(f"{i}:"), F.md5(F.col("shingle"))))
    raise ValueError(f"unknown hash_family {hash_family!r}")


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    shingles: DataFrame | None = None,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """MinHash signature per doc: for seed i, min over shingles of
    hash_i(shingle). One explode + one groupBy (shuffle on id);
    signature is an array<bigint> (xxhash64) or array<string> (md5) of
    length num_hashes. Pass a prebuilt (persisted) ``shingles`` table
    when the caller reuses it."""
    sh = shingles if shingles is not None else _shingle_table(df, id_col, text_col, n)
    mins = [
        F.min(_hash_member(i, hash_family)).alias(f"h{i}") for i in range(num_hashes)
    ]
    agg = sh.groupBy(id_col).agg(*mins)
    return agg.select(
        id_col, F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("signature")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    verify_threshold: float = 0.5,
    max_df_frac: float = 0.5,
    min_df_keep: int = 100,
    hash_family: str = "xxhash64",
    capped_shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash + banded LSH candidate pairs, verified with exact Jaccard.

    ``capped_shingles`` (a checkpointed, already-capped shingle table —
    e.g. from the auto-tier router's probe) skips the internal
    explode + hot-cap passes; output is identical because the capped
    table is deterministic in the input.

    signatures -> split into ``bands`` bands of r=num_hashes/bands rows ->
    bucket-join on (band_idx, band_hash) -> exact-Jaccard verify of
    candidates only. At 100 TB the band-bucket join is the only wide op
    and its key count grows with corpus size (no skew from popular
    shingles — band hashes are uniform). The exact-verify self-join IS
    keyed by the shingle, so the hot-shingle df cap
    (:func:`cap_shingle_df`) applies here too; signatures and Jaccard
    both run over the capped universe (self-consistent).
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    # one shingle generation, shared by the hot-key agg, signatures, and
    # the exact verify (shingle expressions are interpreted HOFs —
    # regenerating them per consumer dominated this operator's runtime).
    # Eager localCheckpoint, not lazy persist: multi-branch consumers
    # would recompute a lazy cache per branch, and checkpoint blocks are
    # GC'd after the query instead of pinning the session's CacheManager
    # (see ngram_jaccard_pairs barrier note).
    if capped_shingles is not None:
        sh = capped_shingles
    else:
        sh0 = _shingle_table(df, id_col, text_col, n).localCheckpoint()
        sh = cap_shingle_df(
            sh0, ["shingle"], df.count(), max_df_frac, min_df_keep
        ).localCheckpoint()
    sig = minhash_signatures(
        df, id_col, text_col, n, num_hashes, shingles=sh, hash_family=hash_family
    )

    def band_hash(b: int):
        members = [F.col("signature")[b * r + j] for j in range(r)]
        if hash_family == "md5":
            return F.md5(F.concat_ws("|", *members))
        return F.xxhash64(*members)

    band_rows = sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), band_hash(b).alias("bh"))
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bh")
    a = band_rows.select(F.col(id_col).alias("id_a"), "band", "bh")
    b = band_rows.select(F.col(id_col).alias("id_b"), "band", "bh")
    cand = (
        a.join(b, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # exact verify on candidates only (reusing the persisted shingles)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    ia = sh.select(F.col(id_col).alias("id_a"), "shingle")
    ib = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        cand.join(ia, "id_a")
        .join(ib, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= verify_threshold)
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """64-bit SimHash per document over whitespace tokens.

    Per token: xxhash64; per bit: sum of +-1 across tokens; sign -> bit.
    Computed with one explode + one groupBy (64 conditional sums — all
    map-side partial), no UDF.
    """
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    h = F.xxhash64("tok")
    # bit 63 is the sign bit: the mask literal must stay in signed-long range
    masks = [(1 << i) if i < 63 else -(2**63) for i in range(bits)]
    bit_sums = [
        F.sum(F.when(h.bitwiseAND(F.lit(masks[i])) != 0, 1).otherwise(-1)).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = tok.groupBy(id_col).agg(*bit_sums)
    sig = None
    for i in range(bits):
        term = F.when(F.col(f"b{i}") > 0, F.lit(1 << i if i < 63 else -(2**63))).otherwise(
            F.lit(0)
        )
        sig = term if sig is None else (sig + term)
    return agg.select(id_col, sig.cast("bigint").alias("simhash"))


def simhash_md5_hex(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Cross-engine-verifiable SimHash twin: 64-bit signature derived
    from the first 16 hex chars of md5(token), emitted AS a 16-char hex
    string (no signed-long sign-bit gymnastics).

    Per token, nibble p = instr('0123456789abcdef', substr(md5, p+1, 1))
    - 1 (16 lookups, not 64); bit i tests nibble i//4 with modular
    arithmetic — every primitive (md5/substr/instr/%/CASE) evaluates
    identically in Spark and DuckDB, so the whole signature is
    hash-exact against a SQL oracle. Same one-explode + one-groupBy
    shape as :func:`simhash`; production stays on xxhash64."""
    hexd = "0123456789abcdef"
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    nibs = [
        F.expr(f"instr('{hexd}', substr(md5(tok), {p + 1}, 1)) - 1")
        for p in range(16)
    ]
    bit_sums = []
    for i in range(64):
        v = nibs[i // 4]
        k = i % 4
        cond = (v % (2 ** (k + 1))) >= (2 ** k)
        bit_sums.append(F.sum(F.when(cond, 1).otherwise(-1)).alias(f"b{i}"))
    agg = tok.groupBy(id_col).agg(*bit_sums)
    out_chars = []
    for p in range(16):
        val = None
        for j in range(4):
            term = F.when(F.col(f"b{4 * p + j}") > 0, F.lit(2 ** j)).otherwise(F.lit(0))
            val = term if val is None else (val + term)
        out_chars.append(F.lit(hexd).substr(val + 1, F.lit(1)))
    return agg.select(
        id_col, F.concat(*out_chars).alias("simhash_hex")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    threshold: float = 0.95,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded SRP-LSH blocking.

    Default path (``block_col=None``): candidates come from ``n_tables``
    independent sign-random-projection hash tables of ``n_planes``
    planes each (similarity.srp_bucket) — the minhash-band shape applied
    to vectors. Explode each vector to (id, table, bucket) rows, ONE
    self-join on the uniform (table, bucket) key, distinct candidate
    pairs, then exact-cosine verify of candidates only. No cross join
    exists in any configuration; there is deliberately no all-pairs
    fallback (the former ``crossJoin`` escape hatch was a silent O(n²)
    at scale). OR-amplification across tables sets recall: a pair
    colliding in ANY table is scored.

    ``block_col`` switches to explicit equi-blocking (e.g. a label or a
    precomputed IVF cell) — for callers whose blocking key is already
    skew-safe; within-block all-pairs is O(B²), so keep blocks small.

    Cosine is a left-to-right fold over double-cast elements —
    bit-reproducible across engines (the SQL oracle replicates the
    plane literals, bucket arithmetic, and fold order exactly).
    """
    from .similarity import _dim_of, cosine_with_norms, dot, hyperplanes, srp_bucket

    # dim: pass it when known (a schema contract) — the probe is a
    # 1-row job per call, pure overhead when the caller already knows
    dim = dim if dim is not None else _dim_of(df, vec_col)
    vv = F.col(vec_col).cast("array<double>")
    base_cols = [F.col(id_col), vv.alias("v"), dot(vv, vv, dim).alias("n2")]
    if block_col:
        base = df.select(*base_cols, F.col(block_col))
        a = base.select(
            F.col(id_col).alias("id_a"), F.col("v").alias("va"),
            F.col("n2").alias("na"), F.col(block_col),
        )
        b = base.select(
            F.col(id_col).alias("id_b"), F.col("v").alias("vb"),
            F.col("n2").alias("nb"), F.col(block_col),
        )
        pairs = a.join(b, [block_col]).filter(F.col("id_a") < F.col("id_b"))
        sim = cosine_with_norms(
            F.col("va"), F.col("vb"), F.col("na"), F.col("nb"), dim
        )
        return pairs.select("id_a", "id_b", block_col, sim.alias("cosine")).filter(
            F.col("cosine") >= threshold
        )

    # spread to cluster parallelism BEFORE the bucket projection, but
    # ONLY when the source is under-parallelized (single-row-group
    # parquet -> unsplittable one-partition scan): the n_tables *
    # n_planes dot-product folds run in the scan stage and would
    # serialize on one task. At real scale the scan already has >=
    # parallelism partitions and no shuffle is added.
    par = df.sparkSession.sparkContext.defaultParallelism
    base = df.select(*base_cols)
    if df.rdd.getNumPartitions() < par:
        base = base.repartition(par)
    # eager localCheckpoint: base feeds three branches (band explode +
    # both verify sides) — a lazy cache would recompute the norm folds
    # per branch, and checkpoint blocks free themselves after the query
    base = base.localCheckpoint()
    bands = F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                srp_bucket(
                    "v", hyperplanes(dim or 0, n_planes, seed + t)
                ).alias("bkt"),
            )
            for t in range(n_tables)
        ]
    )
    band_rows = base.select(F.col(id_col), F.explode(bands).alias("bb")).select(
        F.col(id_col), F.col("bb.tbl").alias("tbl"), F.col("bb.bkt").alias("bkt")
    )
    a = band_rows.select(F.col(id_col).alias("id_a"), "tbl", "bkt")
    b = band_rows.select(F.col(id_col).alias("id_b"), "tbl", "bkt")
    cand = (
        a.join(b, ["tbl", "bkt"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = base.select(
        F.col(id_col).alias("id_a"), F.col("v").alias("va"), F.col("n2").alias("na")
    )
    vb = base.select(
        F.col(id_col).alias("id_b"), F.col("v").alias("vb"), F.col("n2").alias("nb")
    )
    sim = cosine_with_norms(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"), dim)
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", sim.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def duplicate_clusters(pairs: DataFrame, max_iters: int = 15) -> DataFrame:
    """Connected components of the duplicate-pair graph by iterative
    min-label propagation with pointer jumping: each round every node
    adopts min(own label, neighbors' labels, label-of-its-label). The
    pointer-jump halves the distance to the cluster minimum each round,
    so convergence is O(log diameter) joins — a 1000-hop chain resolves
    in ~10 rounds instead of 1000. Returns (doc_id, cluster_id) for
    every node appearing in a pair, cluster_id = min doc_id reachable.

    Raises if the loop exits by iteration count without converging
    (silent partial labels would split one duplicate cluster across ids
    — exactly the wrong failure mode for a dedup pipeline). At very
    large scale swap in large-star/small-star (fewer skewed shuffles);
    the fixpoint loop shape is the same.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
        .persist()
    )
    labels = edges.groupBy("src").agg(F.min("dst").alias("nbr_min"))
    # localCheckpoint (not persist): truncates the logical plan so each
    # iteration's analysis/optimization works on a constant-size tree —
    # with persist alone the lineage grows per round and Catalyst
    # re-optimizes the whole history every action (measured: the
    # driver-side plan work, not the joins, dominated the loop)
    labels = labels.select(
        F.col("src").alias("doc_id"),
        F.least("src", "nbr_min").alias("cluster_id"),
    ).localCheckpoint()
    converged = False
    for _ in range(max_iters):
        # propagate: min over neighbors' labels
        nbr = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_label"))
        )
        # pointer jump: the label of my current label
        hop = labels.select(
            F.col("doc_id").alias("_lbl"), F.col("cluster_id").alias("hop_label")
        )
        # the convergence flag rides along in the same join (old label is
        # already on the row) — no separate old-vs-new join per round
        new_labels = (
            labels.join(nbr, labels.doc_id == nbr.src, "left")
            .join(hop, labels.cluster_id == hop._lbl, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce("nbr_label", F.col("cluster_id")),
                    F.coalesce("hop_label", F.col("cluster_id")),
                ).alias("new_cluster_id"),
                F.col("cluster_id").alias("_old"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.filter(F.col("new_cluster_id") != F.col("_old"))
            .limit(1)
            .count()
        )
        labels = new_labels.select(
            "doc_id", F.col("new_cluster_id").alias("cluster_id")
        )
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iters} iterations; "
            "labels would silently split clusters — raise max_iters "
            "(pointer jumping makes the requirement ~log2(graph diameter))"
        )
    return labels


def duplicate_clusters_star(pairs: DataFrame, max_iters: int = 25) -> DataFrame:
    """Connected components by alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the at-scale alternative to :func:`duplicate_clusters`.

    Each round rewires edges, oriented u > v, toward per-neighborhood
    minima, both computed as ``min(v) OVER (PARTITION BY u)`` (no
    groupBy + join-back, and no dedup before a minimum, which
    duplicates cannot change):

    - large-star: per node u over its full (symmetric) neighborhood,
      m = min(N(u) + {u}); every LARGER neighbor v > u re-attaches as
      (v, m).
    - small-star: per node u over its SMALLER neighbors, m = min; every
      smaller neighbor and u itself attach to m.

    The edge set contracts into a star forest rooted at each
    component's minimum id in O(log n) rounds, and the per-round state
    is the edge set itself, kept as one row per node with its distinct
    parents (the round's third and last shuffle). The stop test is
    exact and rides on that materialization as an observed metric, so
    it costs no job of its own: the edges form a star forest rooted at
    each component's minimum exactly when every node has exactly one
    role, one parent (a leaf) or children only (a root). Such a forest
    is a fixpoint of a round, so the loop stops in the round that
    produces it. Note that "no node is both a parent and a child" alone
    is not enough: the chain 1-3-4-5-2 leaves one round as
    {3->1, 4->1, 3->2, 5->2}, where 3 has two parents.

    Returns (doc_id, cluster_id), identical to :func:`duplicate_clusters`
    (equivalence is tested on chains, cliques, forests, and random
    graphs against a union-find). Raises if ``max_iters`` rounds end
    without a star forest.
    """
    from pyspark.sql import Observation, Window

    by_u = Window.partitionBy("u")
    # self-loops and duplicate pairs need no filter: a self-loop emits
    # nothing in large-star, duplicates change no minimum
    edges = pairs.select(
        F.greatest("id_a", "id_b").alias("u"), F.least("id_a", "id_b").alias("v")
    )
    id_type = edges.schema["v"].dataType
    for _ in range(max_iters):
        sym = edges.select(F.explode(F.array(
            F.struct("u", "v"),
            F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
        )).alias("e")).select("e.*")
        # large-star: emits (v, m) with v > u >= m, already oriented
        ls = (
            sym.select("u", "v", F.least("u", F.min("v").over(by_u)).alias("m"))
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # small-star: u and each of its smaller neighbors attach to m
        ss = ls.select(
            F.explode(F.array("u", "v")).alias("u"), F.min("v").over(by_u).alias("v")
        ).filter(F.col("u") != F.col("v"))
        # one row per node: its distinct parents, and whether it has a child
        roles = ss.select(F.explode(F.array(
            F.struct(F.col("u").alias("n"), F.col("v").alias("p")),
            F.struct(F.col("v").alias("n"), F.lit(None).cast(id_type).alias("p")),
        )).alias("r")).select("r.*")
        star = Observation()
        # localCheckpoint (not persist) keeps every round's plan constant
        # in size; the observation is filled by that same job
        nodes = (
            roles.groupBy("n")
            .agg(
                F.collect_set("p").alias("parents"),
                F.max(F.col("p").isNull().cast("int")).alias("has_child"),
            )
            .observe(star, F.max(F.size("parents") + F.col("has_child")).alias("roles"))
            .localCheckpoint()
        )
        if star.get["roles"] in (None, 1):
            return nodes.select(
                F.col("n").alias("doc_id"),
                F.coalesce(F.get("parents", 0), F.col("n")).alias("cluster_id"),
            )
        edges = nodes.select(F.col("n").alias("u"), F.explode("parents").alias("v"))
    raise RuntimeError(
        f"duplicate_clusters_star did not converge in {max_iters} rounds "
        "(expected ~log2(n)); raise max_iters"
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
    cents: list[tuple[int, list[float]]] | None = None,
    stride: int = 50,
    dim: int | None = None,
    assignment: str = "literal",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., 2023): the
    corpus is clustered on its embeddings, and near-duplicate pruning
    runs ONLY within a cluster — pair cost is sum over clusters of
    c_k^2 instead of |C|^2, with cluster count (and so per-cluster
    size) chosen to bound the quadratic term.

    Stages (all expressible as DataFrame ops, no UDF):
      1. map-side nearest-centroid assignment (similarity.ivf_assign_cell
         — no shuffle: centroids enter the plan as folded literals);
      2. within-cluster self-join keyed on the cluster id (one shuffle,
         key cardinality = cluster count);
      3. exact-cosine verify of within-cluster pairs; a document is
         pruned when a LOWER-id cluster-mate scores >= ``threshold``
         (the deterministic analogue of SemDeDup's keep-one-per-
         epsilon-group, no connected components needed);
      4. anti-join the pruned set back against the corpus.

    ``cents`` defaults to the seeded stride centroids
    (similarity.ivf_centroids — the oracle-twin path); production passes
    similarity.ivf_centroids_kmeans output for constant driver footprint
    and data-adaptive clusters. ``assignment="literal"`` inlines
    centroids as expressions (DuckDB-replicable, fine to ~100
    centroids); ``"pandas"`` uses the vectorized Arrow/numpy assignment
    (centroid-count-flat — required once cluster count scales with the
    corpus, which SemDeDup prescribes). Returns kept (id, cell) rows.
    """
    from . import similarity as S

    if cents is None:
        cents = S.ivf_centroids(df, stride=stride, id_col=id_col, vec_col=vec_col)
    if dim is None:
        dim = S._dim_of(df, vec_col)
    if assignment == "pandas":
        cells = (
            S.ivf_assign_pandas(
                df, cents, nprobe=1, id_col=id_col, vec_col=vec_col,
                out_id="vec_id",
            )
            .withColumnRenamed("cv", "v")
            .withColumnRenamed("cn", "vn")
        )
    else:
        vv = F.col(vec_col).cast("array<double>")
        e = df.select(F.col(id_col).alias("vec_id"), vv.alias("v"))
        e = e.select(
            "vec_id", "v", S.dot(F.col("v"), F.col("v"), dim).alias("vn")
        )
        cells = e.withColumn(
            "cell", S.ivf_assign_cell("v", "vn", cents)
        )
    a, b = cells.alias("a"), cells.alias("b")
    near = S.cosine_with_norms(
        F.col("a.v"), F.col("b.v"), F.col("a.vn"), F.col("b.vn"), dim
    ) >= F.lit(threshold)
    dropped = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(near)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    return cells.select("vec_id", "cell").join(dropped, "vec_id", "left_anti")


def duplicated_ngram_span_stats(
    df: DataFrame, id_col: str, text_col: str, n: int = 8
) -> DataFrame:
    """Substring-level duplication signal (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): for every doc, how
    many of its token n-gram spans also occur elsewhere in the corpus
    (including repeats within the same doc — the suffix-array criterion
    at n-token granularity).

    Doc-level dedup (exact/minhash/jaccard) misses boilerplate shared
    by otherwise-distinct documents; this is the per-span signal used
    to trim or drop such docs. Returns
    (id, n_spans, n_dup_spans, dup_span_ratio).

    Shape: spans come off the token array via sequence+transform (no
    self-join); ONE shuffle groups span occurrences (count partials are
    map-side), one broadcast-or-shuffle join marks duplicated spans,
    one shuffle re-aggregates per doc. At 100 TB, group on
    xxhash64(ngram) instead of the raw string (collision risk 2^-64 per
    pair) to cut shuffle bytes ~5x; the string form here keeps the
    DuckDB oracle exact.
    """
    toks = tokens(text_col)
    spans = (
        df.select(
            F.col(id_col).alias("_id"),
            F.when(
                F.size(toks) >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - n + 1),
                    lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
                ),
            )
            .otherwise(F.array().cast("array<string>"))
            .alias("grams"),
        )
        .select("_id", F.explode("grams").alias("ngram"))
    )
    dup_grams = (
        spans.groupBy("ngram")
        .agg(F.count("*").alias("_occ"))
        .filter(F.col("_occ") >= 2)
        .select("ngram")
    )
    per_doc = (
        # no hint: duplicated-gram set scales with corpus dup mass — AQE
        spans.join(dup_grams.withColumn("_dup", F.lit(1)), "ngram", "left")
        .groupBy("_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.count("_dup").alias("n_dup_spans"),
        )
    )
    return (
        df.select(F.col(id_col).alias("_id"))
        .join(per_doc, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.when(
                F.coalesce("n_spans", F.lit(0)) > 0,
                F.col("n_dup_spans").cast("double") / F.col("n_spans").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_span_ratio"),
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    block_col: str | None = None,
    max_df_frac: float = 0.5,
    min_df_keep: int = 100,
    prefix_filter: bool = True,
    ranked_shingles: DataFrame | None = None,
) -> DataFrame:
    """DIRECTIONAL containment near-dup pairs: C(A->B) = |A∩B| / |A|
    over distinct n-gram shingle sets — the doc-inside-doc signal
    symmetric Jaccard cannot see (a paragraph fully quoted inside a
    10x-longer page has containment 1.0 but Jaccard ~0.1; classic for
    boilerplate wrappers, quote-reply chains, and partial scrapes).

    Returns (id_contained, id_container, containment, n_contained,
    n_container) for ordered pairs with containment >= threshold,
    id_contained != id_container (both directions of an A/B pair can
    qualify independently; exact dups qualify both ways).

    Scale shape — the ASYMMETRIC prefix filter (set-containment-join
    form of Bayardo/PPJoin): |A∩B| >= ceil(t*|A|) forces a shared
    shingle inside A's first (|A| - ceil(t*|A|) + 1) shingles under any
    global total order (rarest-first here, same as
    :func:`ngram_jaccard_pairs`), so only the CONTAINED side explodes
    prefixes; the container side must stay fully indexed (containment
    puts no lower bound relative to the container's own size — there is
    no length filter by construction). Candidate volume ~(1-t) * the
    exhaustive join, join keys rarest-first near-uniform. LOSSLESS vs
    the exhaustive path (``prefix_filter=False``), property-tested.
    Hot-shingle df cap as in :func:`cap_shingle_df`; containment is
    exact over the capped shingle universe (self-consistent).
    """
    join_keys = ["shingle"] + ([block_col] if block_col else [])
    blk = [block_col] if block_col else []
    if ranked_shingles is not None:
        sh = ranked_shingles
    else:
        n_docs = df.count()
        sh0 = _shingle_table(df, id_col, text_col, n, block_col).localCheckpoint()
        sh = cap_shingle_df(
            sh0, join_keys, n_docs, max_df_frac, min_df_keep
        ).localCheckpoint()

    if prefix_filter:
        # ONE per-doc aggregation replaces the old sets-agg + df-join +
        # two-window ranking (r3 stretch #8): pack each doc's shingles
        # as a rarity-sorted struct array — sort_array over
        # struct(_df, shingle) IS the (df asc, shingle asc) global
        # order the window produced — then the prefix is a slice/
        # posexplode (no window sort pass) and the verify arrays are a
        # transform of the same packed column. Saves one full id-keyed
        # shuffle and the per-partition window sort; output identical
        # (hash-equal, test_dedup A/B).
        if ranked_shingles is not None:
            ranked = sh  # _df already attached by ranked_shingle_table
        else:
            dfs = sh.groupBy(*join_keys).agg(F.count(F.lit(1)).alias("_df"))
            ranked = sh.join(dfs, join_keys)
        packed = (
            ranked
            .groupBy(id_col)
            .agg(
                F.sort_array(F.collect_list(F.struct("_df", "shingle"))).alias("_rk"),
                F.count(F.lit(1)).alias("_n_sh"),
                *([F.first(block_col).alias(block_col)] if blk else []),
            )
            .localCheckpoint()  # feeds prefix side + both verify sides
        )
        plen = (
            F.col("_n_sh")
            - F.ceil(F.lit(float(threshold)) * F.col("_n_sh"))
            + F.lit(1)
        ).cast("int")
        la = (
            packed.select(
                F.col(id_col).alias("id_contained"),
                *blk,
                F.col("_n_sh").alias("_na"),
                F.posexplode(F.slice("_rk", F.lit(1), plen)).alias("_pa", "_x"),
            )
            .select(
                "id_contained", *blk, "_na",
                (F.col("_pa") + 1).alias("_ra"),
                F.col("_x.shingle").alias("shingle"),
            )
        )
        # container side carries POSITIONS too (posexplode of the same
        # packed array): a qualifying pair needs |A∩B| >= ceil(t*|A|),
        # and past a shared token at sorted positions (ra, rb) the
        # overlap is bounded by 1 + min(|A|-ra, |B|-rb) — the PPJoin
        # positional filter, asymmetric form. LOSSLESS with the final
        # distinct: under the global (df, shingle) order, the FIRST
        # shared token of a qualifying pair has every other shared
        # token after it on BOTH sides, so its row always passes
        # (measured: 2.44M -> 1.48M candidates, verify 3.8s -> 2.9s).
        rb = (
            packed.select(
                F.col(id_col).alias("id_container"),
                *blk,
                F.col("_n_sh").alias("_nb"),
                F.posexplode("_rk").alias("_pb", "_y"),
            )
            .select(
                "id_container", *blk, "_nb",
                (F.col("_pb") + 1).alias("_rb"),
                F.col("_y.shingle").alias("shingle"),
            )
        )
        cand = (
            la.join(rb, join_keys)
            .filter(F.col("id_contained") != F.col("id_container"))
            .filter(
                (
                    1
                    + F.least(
                        F.col("_na") - F.col("_ra"),
                        F.col("_nb") - F.col("_rb"),
                    )
                )
                >= F.ceil(F.lit(float(threshold)) * F.col("_na"))
            )
            .select("id_contained", "id_container")
            .distinct()
        )
        sets = packed.select(
            id_col,
            F.transform("_rk", lambda x: x["shingle"]).alias("_arr"),
            "_n_sh",
        )
    else:
        la = sh.select(F.col(id_col).alias("id_contained"), *join_keys)
        rb = sh.select(F.col(id_col).alias("id_container"), *join_keys)
        cand = (
            la.join(rb, join_keys)
            .filter(F.col("id_contained") != F.col("id_container"))
            .select("id_contained", "id_container")
            .distinct()
        )
        # full per-doc sets (verify side + container index sizes)
        sets = (
            sh.groupBy(id_col)
            .agg(
                F.sort_array(F.collect_list("shingle")).alias("_arr"),
                F.count(F.lit(1)).alias("_n_sh"),
            )
            .localCheckpoint()
        )
    sa = sets.select(
        F.col(id_col).alias("id_contained"),
        F.col("_arr").alias("_aa"),
        F.col("_n_sh").alias("n_contained"),
    )
    sb = sets.select(
        F.col(id_col).alias("id_container"),
        F.col("_arr").alias("_ab"),
        F.col("_n_sh").alias("n_container"),
    )
    n_inter = F.size(F.array_intersect(F.col("_aa"), F.col("_ab")))
    return (
        cand.join(sa, "id_contained")
        .join(sb, "id_container")
        .select(
            "id_contained",
            "id_container",
            (n_inter.cast("double") / F.col("n_contained").cast("double")).alias(
                "containment"
            ),
            "n_contained",
            "n_container",
        )
        .filter(F.col("containment") >= threshold)
    )


def ngram_jaccard_pairs_cross(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
    max_df_frac: float = 0.5,
    min_df_keep: int = 100,
) -> DataFrame:
    """INCREMENTAL near-dup: Jaccard >= t pairs between a NEW batch and
    an EXISTING corpus only (never corpus x corpus) — the production
    ingest shape: a daily batch dedups against the accumulated corpus
    index at cost proportional to the batch's shingles, not the
    corpus's pair count. Re-running full-corpus dedup per ingest is the
    quadratic-over-time trap this operator exists to avoid; at scale
    the corpus side is a persisted/bucketed (id, shingle) table that
    amortizes across ingests.

    Same inverted-index + Bayardo prefix machinery as
    :func:`ngram_jaccard_pairs` (symmetric J >= t, so BOTH sides
    explode only prefixes; df for the rarest-first order comes from
    the UNION of both sides so the global shingle order is consistent).
    Hot-shingle df cap over the union too (same self-consistency
    contract). Returns (batch_id, corpus_id, jaccard).
    """
    from pyspark.sql import Window as W

    n_docs = batch.count() + corpus.count()
    blk = [block_col] if block_col else []
    join_keys = ["shingle"] + blk
    shb0 = _shingle_table(batch, id_col, text_col, n, block_col)
    shc0 = _shingle_table(corpus, id_col, text_col, n, block_col)
    both = shb0.withColumn("_side", F.lit("b")).unionByName(
        shc0.withColumn("_side", F.lit("c"))
    ).localCheckpoint()
    both = cap_shingle_df(
        both, join_keys, n_docs, max_df_frac, min_df_keep
    ).localCheckpoint()

    dfs = both.groupBy(*join_keys).agg(F.count(F.lit(1)).alias("_df"))
    w_rank = W.partitionBy("_side", id_col, *blk).orderBy("_df", "shingle")
    w_all = W.partitionBy("_side", id_col, *blk)
    ranked = both.join(dfs, join_keys).select(
        "_side",
        id_col,
        *blk,
        "shingle",
        F.row_number().over(w_rank).alias("_rn"),
        F.count(F.lit(1)).over(w_all).alias("_n_sh"),
    )
    prefix = ranked.filter(
        F.col("_rn")
        <= F.col("_n_sh") - F.ceil(F.lit(float(threshold)) * F.col("_n_sh")) + 1
    ).localCheckpoint()
    pa = prefix.filter(F.col("_side") == "b").select(
        F.col(id_col).alias("batch_id"),
        F.col("_n_sh").alias("_na"),
        F.col("_rn").alias("_ra"),
        *join_keys,
    )
    pb = prefix.filter(F.col("_side") == "c").select(
        F.col(id_col).alias("corpus_id"),
        F.col("_n_sh").alias("_nb"),
        F.col("_rn").alias("_rb"),
        *join_keys,
    )
    t_frac = float(threshold) / (1.0 + float(threshold))
    cand = (
        pa.join(pb, join_keys)
        .filter(
            F.least("_na", "_nb").cast("double")
            >= F.lit(float(threshold)) * F.greatest("_na", "_nb").cast("double")
        )
        .filter(
            (
                1
                + F.least(F.col("_na") - F.col("_ra"), F.col("_nb") - F.col("_rb"))
            ).cast("double")
            >= F.lit(t_frac) * (F.col("_na") + F.col("_nb")).cast("double")
        )
        .select("batch_id", "corpus_id")
        .distinct()
    )
    sets = (
        both.groupBy("_side", id_col)
        .agg(
            F.sort_array(F.collect_list("shingle")).alias("_arr"),
            F.count(F.lit(1)).alias("_n_sh"),
        )
        .localCheckpoint()
    )
    sa = sets.filter(F.col("_side") == "b").select(
        F.col(id_col).alias("batch_id"),
        F.col("_arr").alias("_aa"),
        F.col("_n_sh").alias("n_a"),
    )
    sb = sets.filter(F.col("_side") == "c").select(
        F.col(id_col).alias("corpus_id"),
        F.col("_arr").alias("_ab"),
        F.col("_n_sh").alias("n_b"),
    )
    n_inter = F.size(F.array_intersect(F.col("_aa"), F.col("_ab")))
    return (
        cand.join(sa, "batch_id")
        .join(sb, "corpus_id")
        .select(
            "batch_id",
            "corpus_id",
            (
                n_inter.cast("double")
                / (F.col("n_a") + F.col("n_b") - n_inter).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def remove_duplicated_spans(
    df: DataFrame, id_col: str, text_col: str, n: int = 8
) -> DataFrame:
    """ExactSubstr-style dedup REMOVAL (Lee et al. "Deduplicating
    Training Data Makes Language Models Better", applied at n-token
    granularity): every token covered by an n-token span that occurs
    >= 2 times corpus-wide is dropped, and the document is
    reconstructed from the surviving tokens in order — the
    transformation counterpart of :func:`duplicated_ngram_span_stats`
    (which only reports the signal).

    Returns (id, n_tokens, n_removed, text_clean).

    Scale shape: spans come from sequence+transform over the token
    array (no self-join); ONE corpus-wide span groupBy finds the
    duplicated set; covered positions explode only from spans that ARE
    duplicated (output-proportional, not corpus-proportional); the
    anti-join and ordered reconstruction shuffle on the doc id. No
    broadcast hints — the duplicated-span set scales with corpus dup
    mass, AQE decides (same reasoning as the span-stats op).
    """
    toks = tokens(text_col)
    base = df.select(
        F.col(id_col).alias("_id"), toks.alias("_tk")
    ).localCheckpoint()  # feeds spans + positions + final join
    grams = F.when(
        F.size("_tk") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("_tk") - n + 1),
            lambda i: F.concat_ws(" ", F.slice("_tk", i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    spans = base.select(
        "_id", F.posexplode(grams).alias("_i0", "ngram")
    ).select("_id", (F.col("_i0") + 1).alias("_start"), "ngram")
    dup = (
        spans.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("_occ"))
        .filter(F.col("_occ") >= 2)
        .select("ngram")
    )
    covered = (
        spans.join(dup, "ngram")
        .select(
            "_id",
            F.explode(
                F.sequence(F.col("_start"), F.col("_start") + n - 1)
            ).alias("_pos"),
        )
        .distinct()
    )
    positions = base.select(
        "_id", F.posexplode("_tk").alias("_p", "_tok")
    ).select("_id", (F.col("_p") + 1).alias("_pos"), "_tok")
    kept = positions.join(covered, ["_id", "_pos"], "left_anti")
    rebuilt = kept.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_tok"))),
                lambda s: s["_tok"],
            ),
            " ",
        ).alias("_clean"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    return (
        base.join(rebuilt, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.size("_tk").cast("bigint").alias("n_tokens"),
            (F.size("_tk") - F.coalesce(F.col("_n_kept"), F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
            F.coalesce(F.col("_clean"), F.lit("")).alias("text_clean"),
        )
    )


# --------------------------------------------------------------------------
# Regime-aware tiering (VERDICT r10 ask #1)
# --------------------------------------------------------------------------

def shingle_pair_mass(dfs: DataFrame, df_col: str = "_df") -> int:
    """Exact candidate-pair mass of the inverted-index self-join over a
    per-shingle document-frequency relation: sum_s df_s * (df_s - 1) / 2
    — the number of unordered doc pairs the EXHAUSTIVE shingle join
    would emit (an upper bound on the prefix-filtered join, which cuts
    it by ~(1-t)^2 but cannot change its growth ORDER).

    This is THE saturation signal: on Heaps-law corpora (vocabulary
    grows with the corpus) mean shingle df stays ~constant so mass per
    doc is flat; on saturated shingle spaces (templated logs,
    boilerplate, tiny vocabularies) df grows linearly with corpus size
    and mass per doc grows linearly too — i.e. total pairs quadratic
    (measured: 54x pair time at 10x docs on the sf1 fixture,
    docs/BENCH_SF1_NOTES.md). One single-row aggregate over the df
    stats the hot-shingle cap already computes; integer-exact in any
    engine (df*(df-1) is even, so the halving is exact).
    """
    row = dfs.agg(
        F.sum(F.col(df_col).cast("bigint") * (F.col(df_col) - F.lit(1)))
    ).collect()[0][0]
    return int(row or 0) // 2


class _WidthTables:
    """Per-width router probe state that doubles as the chosen tier's
    input (r12 optimization): ``sh0`` (uncapped shingle table, ckpt'd)
    and ``dfs_full`` (UNcapped per-shingle df counts, ckpt'd — small,
    vocabulary-sized) are the only materializations; everything else
    is derived lazily:

    - ``mass``: pair mass of the capped universe, from ``dfs_full``
      filtered to ``_df <= cap`` — exact because
      :func:`cap_shingle_df` drops whole shingle GROUPS, so surviving
      groups keep their uncapped counts (asserted in
      tests/test_autotier.py::test_probe_matches_materialized_stats);
    - ``ranked()``: the capped (id[, block], shingle, _df) relation the
      exact tiers take via ``ranked_shingles`` — sh0 anti-joined
      against the broadcastable hot list, joined with the capped dfs.
      Consumed exactly once downstream (the packed aggregation, itself
      ckpt'd), so it needs no checkpoint of its own.

    vs the old `_capped_df_stats` (3 eager checkpoints incl. the big
    CAPPED shingle table + a separate hot-agg pass + a separate mass
    aggregation): one fewer full-table materialization per width, the
    mass scalar rides the small dfs table, and a REJECTED width wastes
    only sh0 + dfs_full (guide §1.2/§2.4)."""

    def __init__(self, df, id_col, text_col, n, block_col,
                 max_df_frac, min_df_keep, n_docs=None):
        self.join_keys = ["shingle"] + ([block_col] if block_col else [])
        self.n_docs = df.count() if n_docs is None else n_docs
        self.cap = max(max_df_frac * self.n_docs, float(min_df_keep))
        self.sh0 = _shingle_table(
            df, id_col, text_col, n, block_col
        ).localCheckpoint()
        self.dfs_full = (
            self.sh0.groupBy(*self.join_keys)
            .agg(F.count(F.lit(1)).alias("_df"))
            .localCheckpoint()
        )

    @property
    def mass(self) -> int:
        return shingle_pair_mass(
            self.dfs_full.filter(F.col("_df") <= self.cap)
        )

    def ranked(self) -> DataFrame:
        hot = (
            self.dfs_full.filter(F.col("_df") > self.cap)
            .select(*self.join_keys)
        )
        # bcast: O(cap) — the hot-shingle list is bounded by contract
        return (
            self.sh0.join(F.broadcast(hot), self.join_keys, "left_anti")
            .join(
                self.dfs_full.filter(F.col("_df") <= self.cap),
                self.join_keys,
            )
        )

    def capped(self) -> DataFrame:
        """The capped shingle table WITHOUT the df attach (the MinHash
        tier's input shape), checkpointed — its consumers (signatures,
        sizes, both verify sides) branch 4 ways."""
        hot = (
            self.dfs_full.filter(F.col("_df") > self.cap)
            .select(*self.join_keys)
        )
        # bcast: O(cap) — hot list bounded by contract
        return self.sh0.join(
            F.broadcast(hot), self.join_keys, "left_anti"
        ).localCheckpoint()


def _capped_df_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    block_col: str | None,
    max_df_frac: float,
    min_df_keep: int,
):
    """Capped shingle table + per-shingle df relation + doc count —
    the probe inputs shared with (and reusable by) the exact tier."""
    join_keys = ["shingle"] + ([block_col] if block_col else [])
    n_docs = df.count()
    sh0 = _shingle_table(df, id_col, text_col, n, block_col).localCheckpoint()
    sh = cap_shingle_df(
        sh0, join_keys, n_docs, max_df_frac, min_df_keep
    ).localCheckpoint()
    dfs = (
        sh.groupBy(*join_keys)
        .agg(F.count(F.lit(1)).alias("_df"))
        .localCheckpoint()
    )
    return sh, dfs, join_keys, n_docs


def auto_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.5,
    block_col: str | None = None,
    mass_budget_per_doc: int = 128,
    widen_step: int = 2,
    num_hashes: int = 32,
    bands: int = 8,
    hash_family: str = "xxhash64",
    max_df_frac: float = 0.5,
    min_df_keep: int = 100,
) -> DataFrame:
    """Regime-aware near-dup pairs: probe the corpus's shingle
    saturation and route to the cheapest SOUND tier (VERDICT r10 ask
    #1 — nothing previously chose between the exact and sketch tiers;
    on saturated corpora the exact tier is quadratic, measured 54x at
    10x data while MinHash held 5.2x).

    Decision rule — :func:`shingle_pair_mass` over the capped df stats
    (the stats the hot-shingle cap already aggregates), integer-exact
    and replicated verbatim by the SQL oracle so the ROUTING itself is
    hash-checked cross-engine:

    1. mass(n) <= budget * n_docs  ->  exact tier at ``n``
       (:func:`ngram_jaccard_pairs`, lossless prefix filter), reusing
       the probe's shingle/df tables via ``ranked_shingles``;
    2. else widen to n' = n + widen_step (wider shingles de-saturate a
       small vocabulary: the fixture's 5-gram pair mass grows 12.3x at
       10x data vs ~100x for 3-grams) — mass(n') <= budget * n_docs
       ->  exact tier at ``n'``;
    3. else  ->  MinHash-LSH candidates at the ORIGINAL ``n`` with
       exact-Jaccard verification (:func:`minhash_lsh_pairs`): band
       buckets stay uniform on any corpus, pair cost rides true
       near-dup density, recall is the standard banded-LSH S-curve
       (1-(1-t^r)^b, ~0.99+ at t=0.5 with 32/8) instead of lossless.

    Output: (id_a, id_b, jaccard, tier) — ``tier`` names the branch
    taken (``exact_n{k}`` / ``minhash_n{k}``), so a result set is
    self-describing about which guarantee it carries. NOTE the widened
    tier scores Jaccard over n'-gram sets (a different, stricter
    measure than n-gram Jaccard — wider shingles only lower similarity
    of non-identical docs); callers needing the base-n score on a
    saturated corpus should force the LSH tier instead
    (mass_budget_per_doc=0).

    Probe cost: two linear explode+count jobs and two single-row
    collects — O(corpus) with no wide join, amortized into the exact
    tier when it is chosen (the capped/df tables are passed through).
    """
    budget = int(mass_budget_per_doc)
    # fused probe/stats (r12, :class:`_WidthTables`): each probed width
    # materializes only sh0 + the small df relation; the mass scalar is
    # a tiny agg on the latter, the chosen exact tier consumes the SAME
    # tables via ranked_shingles, and the LSH tier reuses the base
    # width's capped table — no width materializes anything its branch
    # does not use (guide §1.2: don't compute things you throw away)
    base = _WidthTables(
        df, id_col, text_col, n, block_col, max_df_frac, min_df_keep
    )
    if base.mass <= budget * base.n_docs:
        out = ngram_jaccard_pairs(
            df, id_col, text_col, n=n, threshold=threshold,
            block_col=block_col, max_df_frac=max_df_frac,
            min_df_keep=min_df_keep,
            ranked_shingles=base.ranked(),
        )
        tier = f"exact_n{n}"
    else:
        n_w = n + widen_step
        wide = _WidthTables(
            df, id_col, text_col, n_w, block_col, max_df_frac,
            min_df_keep, n_docs=base.n_docs,
        )
        if wide.mass <= budget * base.n_docs:
            out = ngram_jaccard_pairs(
                df, id_col, text_col, n=n_w, threshold=threshold,
                block_col=block_col, max_df_frac=max_df_frac,
                min_df_keep=min_df_keep,
                ranked_shingles=wide.ranked(),
            )
            tier = f"exact_n{n_w}"
        else:
            out = minhash_lsh_pairs(
                df, id_col, text_col, n=n, num_hashes=num_hashes,
                bands=bands, verify_threshold=threshold,
                max_df_frac=max_df_frac, min_df_keep=min_df_keep,
                hash_family=hash_family,
                capped_shingles=base.capped(),
            )
            tier = f"minhash_n{n}"
    return out.select(
        "id_a", "id_b", "jaccard", F.lit(tier).alias("tier")
    )


def auto_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.8,
    block_col: str | None = None,
    mass_budget_per_doc: int = 64,
    widen_step: int = 2,
    max_widenings: int = 2,
    max_df_frac: float = 0.5,
    min_df_keep: int = 100,
) -> DataFrame:
    """Regime-aware DIRECTIONAL containment pairs: same saturation
    probe as :func:`auto_near_dup_pairs`, escalation by shingle
    WIDENING only (a MinHash-Jaccard sketch is not a sound containment
    filter — a paragraph fully inside a 10x-longer page has containment
    1.0 but Jaccard ~0.1, exactly the pairs LSH banding on Jaccard
    misses). Widens up to ``max_widenings`` steps; the last width runs
    unconditionally (honest bound: on a corpus still saturated at the
    widest shingle, cost is whatever the data costs — the tier column
    names the width so the consumer can see the escalation).

    The probe scalar is the UNORDERED pair mass; containment's ordered
    join emits both directions (exactly 2x), a constant absorbed into
    the budget. Output: containment_pairs columns + ``tier``
    (``exact_n{k}``).
    """
    budget = int(mass_budget_per_doc)
    n_cur = n
    n_docs: int | None = None
    for step in range(max_widenings + 1):
        tables = _WidthTables(
            df, id_col, text_col, n_cur, block_col, max_df_frac,
            min_df_keep, n_docs=n_docs,
        )
        n_docs = tables.n_docs
        # short-circuit: the final width runs unconditionally, no probe
        if step == max_widenings or tables.mass <= budget * n_docs:
            break
        n_cur += widen_step
    out = containment_pairs(
        df, id_col, text_col, n=n_cur, threshold=threshold,
        block_col=block_col, max_df_frac=max_df_frac,
        min_df_keep=min_df_keep,
        ranked_shingles=tables.ranked(),
    )
    return out.select(*out.columns, F.lit(f"exact_n{n_cur}").alias("tier"))
