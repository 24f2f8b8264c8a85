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

from functools import cached_property
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
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
    df: DataFrame,
    id_col: str | list[str],
    text_col: str,
    n: int,
    block_col: str | None = None,
) -> DataFrame:
    """(id[, block], shingle) inverted-index rows, distinct per doc
    (``id_col`` may be a list of key columns).

    No repartition here on purpose — re-measured round 3 with a proper
    same-session A/B: a pre-explode repartition(32) of the doc rows
    looks like a 3.4x win on a COLD isolated shingle checkpoint (2.9s
    -> 0.8s, JIT-dominated), but WARM — which is what bench medians and
    any long-lived job measure — it is a consistent loss (jaccard 3.95
    -> 4.84s, minhash 1.55 -> 2.29s, star CC 5.52 -> 6.27s at sf0.1):
    the warm single-task HOF explode is cheap, and the extra shuffle +
    task overhead outweigh it. At real scale the input is already wide
    and the question is moot."""
    cols = [F.col(c) for c in ([id_col] if isinstance(id_col, str) else id_col)]
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


class _WidthTables:
    """The shingle-join core of the exact dedup tiers
    (:func:`ngram_jaccard_pairs`, :func:`containment_pairs`,
    :func:`ngram_jaccard_pairs_cross`), which doubles as the auto-tier
    router's per-width probe.

    The exact tiers materialize one table per width: ``sh``, the
    uncapped (key[, block], shingle) inverted index with two window
    columns over each (shingle[, block]) group — its document frequency
    ``_df`` and a unique ``bigint`` token ``_tok``. That one df pass
    serves both the hot-shingle cap and the rarity rank: the cap drops
    whole groups, so a surviving group's capped df IS its uncapped df
    (asserted in
    tests/test_autotier.py::test_probe_matches_materialized_stats), and
    ``ranked()`` is a filter of ``sh`` — no anti-join, no second
    checkpoint, no second groupBy. ``packed()`` is the per-doc token
    array every exact tier joins on.

    ``probe=True`` (the router) also checkpoints the shingle table and
    its per-group counts ``dfs``, a map-side-combined aggregation, for
    ``mass`` and for ``capped()``, the MinHash tier's input: a width
    the router rejects never shuffles its full shingle table.

    Token order. Each doc's tokens are sorted by (df asc, tok asc):
    rarest first, ties broken by the token id. The prefix, length and
    positional filters of :func:`_token_pairs` are lossless under ANY
    fixed total order of the shingle universe, as each only needs both
    sides of a pair to sort their shared tokens the same way (see
    there). So the pairs and their scores do not depend on which id a
    group drew; and a token names one (shingle, block) group, so an
    overlap of tokens is the overlap of shingles. Joins and
    verification run on ``bigint`` keys and ``array<bigint>`` sets
    instead of strings.

    Materialize once. A group's token is the least
    ``monotonically_increasing_id`` of its rows, and those ids depend on
    the partitioning that draws them, so a recomputed ``sh`` could
    number the groups differently. The token->doc mapping (``sh``'s
    (key, _tok) rows) is therefore fixed in one checkpoint before any
    consumer reads it. ``packed()`` is then a pure function of that
    checkpoint — within a doc the (df, tok) pairs are distinct, so the
    sorted array is the same however its rows arrive — and the four
    branches of the pair query share its one shuffle instead of a
    second checkpoint. (A checkpoint, not ``persist``: a lazy cache is
    recomputed by each branch of its first job, and cached entries
    outlive the query in the session's CacheManager. Checkpoints drop
    lineage, so a lost executor fails the job instead of recomputing:
    acceptable for this small intermediate.)
    """

    def __init__(self, df, id_col, text_col, n, block_col,
                 max_df_frac, min_df_keep, n_docs=None, probe=True):
        self.keys = [id_col] if isinstance(id_col, str) else list(id_col)
        self.block_col = block_col
        self.join_keys = ["shingle"] + ([block_col] if block_col else [])
        self.n_docs = df.count() if n_docs is None else n_docs
        self.cap = max(max_df_frac * self.n_docs, float(min_df_keep))
        self.shingles = _shingle_table(df, self.keys, text_col, n, block_col)
        if probe:
            # the router reads the shingle table twice (df stats, then
            # the chosen tier) and the df stats twice (mass, hot list)
            self.shingles = self.shingles.localCheckpoint()
            self.dfs = (
                self.shingles.groupBy(*self.join_keys)
                .agg(F.count(F.lit(1)).alias("_df"))
                .localCheckpoint()
            )

    @property
    def mass(self) -> int:
        return shingle_pair_mass(self.dfs.filter(F.col("_df") <= self.cap))

    def capped(self) -> DataFrame:
        """The capped shingle table (the MinHash tier's input),
        checkpointed — its consumers (signatures, sizes, both verify
        sides) branch 4 ways."""
        hot = self.dfs.filter(F.col("_df") > self.cap).select(*self.join_keys)
        # bcast: O(cap) — hot list bounded by contract
        return self.shingles.join(
            F.broadcast(hot), self.join_keys, "left_anti"
        ).localCheckpoint()

    @cached_property
    def sh(self) -> DataFrame:
        """The shingle table with ``_df`` and ``_tok`` per row,
        checkpointed on first use (see the class note)."""
        # a group's token is the least id of its rows, the ids drawn
        # before the window's exchange
        by_group = Window.partitionBy(*self.join_keys)
        return (
            self.shingles.withColumn("_row", F.monotonically_increasing_id())
            .select(
                *self.keys, *self.join_keys,
                F.count(F.lit(1)).over(by_group).alias("_df"),
                F.min("_row").over(by_group).alias("_tok"),
            )
            .localCheckpoint()
        )

    def ranked(self) -> DataFrame:
        """The capped (key[, block], shingle, _df, _tok) index."""
        return self.sh.filter(F.col("_df") <= self.cap)

    def packed(self) -> DataFrame:
        """Per doc: ``_toks``, its tokens sorted by (df, tok), and
        ``_n_sh``, their count (see the class note). A NULL key or
        block pairs with nothing, as in an equi-join on it; dropping
        them here also keeps every consumer's plan identical, so all
        four share one exchange."""
        not_null = self.keys + ([self.block_col] if self.block_col else [])
        return (
            self.ranked()
            .filter(" AND ".join(f"`{c}` IS NOT NULL" for c in not_null))
            .groupBy(*self.keys)
            .agg(
                F.expr("transform(sort_array(collect_list(struct(_df, _tok))),"
                       " x -> x._tok)").alias("_toks")
            )
            # a projection, not a second aggregate: a consumer that needs
            # no size still reads the same aggregation
            .withColumn("_n_sh", F.size("_toks").cast("bigint"))
        )


class _PairSpec(NamedTuple):
    """One exact tier over :func:`_token_pairs`, as SQL fragments over
    the prefix rows ``a``/``b`` (``_id``, set size ``_n``, 1-based
    position ``_r``) and the verified rows (``_ia``, ``_ib``, sizes
    ``_na``/``_nb``, overlap ``_i``, score ``_s``)."""

    pair: str          # which (left, right) docs may pair
    bound: str         # lossless candidate bound (length/positional)
    score: str
    out: str           # the output columns
    right_prefix: bool  # False: the right side stays fully indexed


# prefix of a doc's rarity-sorted tokens that must hold a shared token
# of any qualifying pair: |A∩B| >= ceil(t*|A|) leaves at most
# |A| - ceil(t*|A|) shared tokens outside it
_PREFIX = "slice(_toks, 1, CAST(_n_sh - ceil(:t * _n_sh) + 1 AS INT))"

_JACCARD_BOUND = (
    # length: J >= t forces min(|A|,|B|) >= t * max(|A|,|B|)
    "CAST(least(a._n, b._n) AS DOUBLE) >= :t * CAST(greatest(a._n, b._n) AS DOUBLE)"
    # positional (PPJoin): past a shared token at (ra, rb) the overlap
    # is at most 1 + min(|A|-ra, |B|-rb), which must reach
    # t/(1+t) * (|A|+|B|)
    " AND CAST(1 + least(a._n - a._r, b._n - b._r) AS DOUBLE)"
    " >= :t / (1.0D + :t) * CAST(a._n + b._n AS DOUBLE)"
)
_JACCARD_SCORE = "CAST(_i AS DOUBLE) / CAST(_na + _nb - _i AS DOUBLE)"

_JACCARD = _PairSpec(
    "a._id < b._id", _JACCARD_BOUND, _JACCARD_SCORE,
    "_ia AS id_a, _ib AS id_b, _s AS jaccard", True,
)
_CONTAINMENT = _PairSpec(
    "a._id != b._id",
    # positional, asymmetric: past (ra, rb) at most 1 + min(|A|-ra,
    # |B|-rb) more shared tokens, and A needs ceil(t*|A|)
    "1 + least(a._n - a._r, b._n - b._r) >= ceil(:t * a._n)",
    "CAST(_i AS DOUBLE) / CAST(_na AS DOUBLE)",
    "_ia AS id_contained, _ib AS id_container, _s AS containment,"
    " _na AS n_contained, _nb AS n_container",
    False,
)
_CROSS = _PairSpec(
    "TRUE", _JACCARD_BOUND, _JACCARD_SCORE,
    "_ia AS batch_id, _ib AS corpus_id, _s AS jaccard", True,
)


def _token_pairs(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    threshold: float,
    spec: _PairSpec,
    prefix_filter: bool = True,
) -> DataFrame:
    """Candidate and verify plan over two ``packed()`` relations (the
    same one for a self-join), as one SQL statement: one parse and one
    analysis instead of dozens of DataFrame calls.

    Prefix rows join on ``_tok`` alone (a token already names its
    block), ``spec.bound`` prunes them, ``DISTINCT`` leaves one row per
    pair, and each candidate is verified exactly with
    ``size(array_intersect)`` of the full ``array<bigint>`` sets.

    Lossless (Bayardo all-pairs / PPJoin): both sides sort their
    tokens by the same total order. A qualifying pair needs
    |A∩B| >= ceil(t*|A|) (for Jaccard on both sides, as |B| >= |A∩B|);
    if its first shared token lay beyond A's prefix, all of A∩B would
    sit in A's last ceil(t*|A|) - 1 positions. So the first shared
    token lies in every exploded prefix, and at its positions the
    positional bound still counts every shared token after it, so that
    row passes. ``prefix_filter=False`` joins the full sets without
    bounds: the exhaustive path that audits this one.
    """
    left_toks = _PREFIX if prefix_filter else "_toks"
    right_toks = _PREFIX if prefix_filter and spec.right_prefix else "_toks"
    bound = spec.bound if prefix_filter else "TRUE"
    key = f"`{id_col}`"
    return left.sparkSession.sql(
        f"""
        WITH a AS (
          SELECT {key} AS _id, _n_sh AS _n, _p + 1 AS _r, _tok FROM {{left}}
          LATERAL VIEW posexplode({left_toks}) AS _p, _tok),
        b AS (
          SELECT {key} AS _id, _n_sh AS _n, _p + 1 AS _r, _tok FROM {{right}}
          LATERAL VIEW posexplode({right_toks}) AS _p, _tok),
        cand AS (
          SELECT DISTINCT a._id AS _ia, b._id AS _ib
          FROM a JOIN b ON a._tok = b._tok
          WHERE {spec.pair} AND {bound}),
        v AS (
          SELECT _ia, _ib, l._n_sh AS _na, r._n_sh AS _nb,
                 size(array_intersect(l._toks, r._toks)) AS _i
          FROM cand JOIN {{left}} l ON l.{key} = _ia
          JOIN {{right}} r ON r.{key} = _ib),
        s AS (SELECT *, {spec.score} AS _s FROM v)
        SELECT {spec.out} FROM s WHERE _s >= :t
        """,
        args={"t": float(threshold)},
        left=left,
        right=right,
    )


def ranked_shingle_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    block_col: str | None = None,
    max_df_frac: float = 0.5,
    min_df_keep: int = 100,
) -> DataFrame:
    """The per-doc token relation of :class:`_WidthTables` —
    (id, _toks, _n_sh) — for a pipeline that runs both
    :func:`ngram_jaccard_pairs` and :func:`containment_pairs` over the
    same width and cap: pass it as ``ranked_shingles`` and the doc
    count, shingle explode and df pass are paid once. Outputs are
    identical to the solo calls
    (test_shared_rank_table_outputs_identical)."""
    return _WidthTables(
        df, id_col, text_col, n, block_col, max_df_frac, min_df_keep,
        probe=False,
    ).packed()


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
    """Near-duplicate pairs by exact n-gram Jaccard, via an inverted
    index with prefix filtering (the core: :class:`_WidthTables` and
    :func:`_token_pairs`). Returns (id_a, id_b, jaccard) with
    id_a < id_b and jaccard >= threshold.

    ``block_col`` (e.g. language) restricts pairs to the same block.
    Shingles hotter than max(max_df_frac * docs, min_df_keep) are
    dropped (see :func:`cap_shingle_df`), and per-doc sizes are counted
    AFTER the cap, so Jaccard is exact over the capped shingle universe
    (scores involving dropped stopword shingles are deliberately not
    representable). ``ranked_shingles`` (from
    :func:`ranked_shingle_table`) skips the shingle, df and packing
    passes. ``prefix_filter=False`` keeps the exhaustive join for
    audits; both paths return the same rows (property-tested).
    """
    if ranked_shingles is None:
        ranked_shingles = _WidthTables(
            df, id_col, text_col, n, block_col, max_df_frac, min_df_keep,
            probe=False,
        ).packed()
    return _token_pairs(
        ranked_shingles, ranked_shingles, id_col, threshold, _JACCARD,
        prefix_filter,
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
    # (see the _WidthTables note).
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


def duplicate_clusters_star(pairs: DataFrame, max_iters: int = 25) -> DataFrame:
    """Connected components of the duplicate-pair graph by alternating
    large-star / small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond") — the step after pairwise dedup that yields
    keep-one-per-CLUSTER semantics (a~b, b~c collapse a, b, c).

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

    Returns (doc_id, cluster_id) for every node in a pair, cluster_id =
    the component's minimum id (tested on chains, cliques, forests, and
    random graphs against a union-find). Raises if ``max_iters`` rounds
    end without a star forest: silent partial labels would split one
    duplicate cluster across ids.
    """
    from pyspark.sql import Observation

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


# the one connected-components implementation, under its older name too
duplicate_clusters = duplicate_clusters_star


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

    Same core as :func:`ngram_jaccard_pairs`, with the ASYMMETRIC
    prefix filter (set-containment-join form of Bayardo/PPJoin): only
    the CONTAINED side explodes its prefix; the container side stays
    fully indexed (containment puts no bound relative to the
    container's own size, so there is no length filter), and the
    positional filter takes its asymmetric form. Hot-shingle cap,
    ``ranked_shingles`` and ``prefix_filter=False`` as there;
    containment is exact over the capped shingle universe.
    """
    if ranked_shingles is None:
        ranked_shingles = _WidthTables(
            df, id_col, text_col, n, block_col, max_df_frac, min_df_keep,
            probe=False,
        ).packed()
    return _token_pairs(
        ranked_shingles, ranked_shingles, id_col, threshold, _CONTAINMENT,
        prefix_filter,
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
    prefix_filter: bool = True,
) -> DataFrame:
    """INCREMENTAL near-dup: Jaccard >= t pairs between a NEW batch and
    an EXISTING corpus only (never corpus x corpus) — the production
    ingest shape: a daily batch dedups against the accumulated corpus
    index at cost proportional to the batch's shingles, not the
    corpus's pair count. Re-running full-corpus dedup per ingest is the
    quadratic-over-time trap this operator exists to avoid; at scale
    the corpus side is a persisted/bucketed (id, shingle) table that
    amortizes across ingests.

    Same core as :func:`ngram_jaccard_pairs` over the UNION of both
    sides, each doc keyed by (side, id) so an id may appear on both:
    the df, and so the token order and the hot-shingle cap, are
    union-consistent, and both sides explode only prefixes. Returns
    (batch_id, corpus_id, jaccard).
    """
    cols = [id_col, text_col] + ([block_col] if block_col else [])
    docs = batch.select(F.lit(0).alias("_side"), *cols).unionByName(
        corpus.select(F.lit(1).alias("_side"), *cols)
    )
    packed = _WidthTables(
        docs, ["_side", id_col], text_col, n, block_col, max_df_frac,
        min_df_keep, probe=False,
    ).packed()
    return _token_pairs(
        packed.where("_side = 0"), packed.where("_side = 1"), id_col,
        threshold, _CROSS, prefix_filter,
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
    # fused probe/stats (:class:`_WidthTables`): each probed width
    # materializes only its shingle table + the small df relation; the
    # mass scalar is a tiny agg on the latter, the chosen exact tier
    # ranks the SAME shingle table via ranked_shingles, and the LSH tier
    # reuses the base width's capped table — no width materializes
    # anything its branch does not use (guide §1.2: don't compute
    # things you throw away)
    base = _WidthTables(
        df, id_col, text_col, n, block_col, max_df_frac, min_df_keep
    )
    if base.mass <= budget * base.n_docs:
        out = ngram_jaccard_pairs(
            df, id_col, text_col, n=n, threshold=threshold,
            block_col=block_col, max_df_frac=max_df_frac,
            min_df_keep=min_df_keep,
            ranked_shingles=base.packed(),
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
                ranked_shingles=wide.packed(),
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
            min_df_keep, n_docs=n_docs, probe=step < max_widenings,
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
        ranked_shingles=tables.packed(),
    )
    return out.select(*out.columns, F.lit(f"exact_n{n_cur}").alias("tier"))
