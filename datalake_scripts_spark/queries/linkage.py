"""Probabilistic record linkage queries — Fellegi–Sunter with EM
(operators.linkage). The unsupervised-match complement to the exact
(dedup), fuzzy (match_fuzzy_part_names) and pipeline
(entity_resolution_canonical) families: no threshold is hand-picked,
the model LEARNS per-field match/unmatch agreement rates and a match
prevalence from the candidate pairs themselves.

Setup (self-contained, derived from the customer table in BOTH
engines): side A = customers; side B = a deterministically perturbed
copy — md5-nibble coins append a character to ~3/16 of names, rewrite
~5/16 of segments, shift ~4/16 of balance buckets. Blocking on
nationkey gives ~n^2/25 candidate pairs per nation containing exactly
one true match per customer. EM (5 iterations) recovers the planted
structure unsupervised: m ~= (13/16, 11/16, 12/16) for
(name, segment, bucket), u_name ~= 0 (distinct customers never share a
name), lambda ~= 1/block-size — and classifies precisely the
name-agreeing patterns as matches at the 0.9 posterior.

Scale: pair volume is touched ONCE (pattern aggregation, map-side
combinable to <= 2^K rows); EM is O(iterations * 2^K) driver-side;
scoring is a broadcast join of the 2^K-row posterior lookup. The
25-value blocking key is a demo convenience — production blocking uses
high-cardinality keys (the dedup family's LSH band buckets compose
directly as blocks here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.linkage import (
    block_salt_width,
    comparison_patterns,
    fs_em,
    fs_em_sql,
    score_patterns,
)
from .registry import query, t

_GCOLS = ["g_name", "g_seg", "g_bucket"]
_N_ITER = 5

_SQL_SIDE_A = """
  SELECT c_custkey AS key, c_name AS name, c_mktsegment AS seg,
         c_nationkey AS nat,
         CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bucket
  FROM customer
"""

# md5-nibble coins: nibble p of md5(key) < k  <=>  probability k/16;
# instr/substr/md5 evaluate identically in Spark SQL and DuckDB (the
# same primitive set the simhash md5 twin uses — dedup.py:497).
_SQL_SIDE_B = f"""
  SELECT key, nat,
         CASE WHEN instr('0123456789abcdef',
                         substr(md5(CAST(key AS VARCHAR)), 1, 1)) - 1 < 3
              THEN name || '~' ELSE name END AS name,
         CASE WHEN instr('0123456789abcdef',
                         substr(md5(CAST(key AS VARCHAR)), 2, 1)) - 1 < 5
              THEN 'OTHER' ELSE seg END AS seg,
         bucket + CASE WHEN instr('0123456789abcdef',
                         substr(md5(CAST(key AS VARCHAR)), 3, 1)) - 1 < 4
              THEN 1 ELSE 0 END AS bucket
  FROM ({_SQL_SIDE_A})
"""

# block cap (VERDICT r11 ask #3): salt the 25-value nation block with
# key % W, W routed from the measured cross-pair mass — the exact
# integer formula block_salt_width states, replicated here so the
# ROUTING DECISION is oracle-checked (the dedup auto-tier discipline).
# True matches share `key` across sides, so every one survives any W;
# only non-match candidate mass is cut. At sf<=0.01, W=1 (no-op).
_LINK_MAX_PAIRS = 2_000_000

_SQL_WBLK = f"""
  wblk AS (
    SELECT CAST(GREATEST(1, (SUM(ca * cb) + {_LINK_MAX_PAIRS} - 1)
                            // {_LINK_MAX_PAIRS}) AS BIGINT) AS w
    FROM (SELECT nat, COUNT(*) AS ca FROM ({_SQL_SIDE_A}) GROUP BY nat) xa
    JOIN (SELECT nat, COUNT(*) AS cb FROM ({_SQL_SIDE_B}) GROUP BY nat) xb
      USING (nat))
"""

_SQL_PAIRS = f"""
  WITH {_SQL_WBLK}
  SELECT CAST(a.name = b.name AS INT) AS g_name,
         CAST(a.seg = b.seg AS INT) AS g_seg,
         CAST(a.bucket = b.bucket AS INT) AS g_bucket
  FROM ({_SQL_SIDE_A}) a JOIN ({_SQL_SIDE_B}) b
    ON a.nat = b.nat
   AND (a.key % (SELECT w FROM wblk)) = (b.key % (SELECT w FROM wblk))
"""

_EM_SQL = fs_em_sql(_SQL_PAIRS, _GCOLS, n_iter=_N_ITER)


def _nibble(pos: int) -> F.Column:
    return F.expr(
        f"instr('0123456789abcdef', "
        f"substr(md5(CAST(key AS STRING)), {pos}, 1)) - 1"
    )


def _linkage_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    a = cust.select(
        F.col("c_custkey").alias("key"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nat"),
        F.floor(F.col("c_acctbal") / 1000.0).cast("bigint").alias("bucket"),
    )
    b = a.select(
        "key",
        "nat",
        F.when(_nibble(1) < 3, F.concat(F.col("name"), F.lit("~")))
        .otherwise(F.col("name"))
        .alias("name"),
        F.when(_nibble(2) < 5, F.lit("OTHER")).otherwise(F.col("seg")).alias("seg"),
        (
            F.col("bucket")
            + F.when(_nibble(3) < 4, F.lit(1)).otherwise(F.lit(0))
        ).alias("bucket"),
    )
    # 25 nation blocks, salted with key % W when the measured pair mass
    # exceeds the cap (W=1 below it — sf<=0.01 unchanged). AQE
    # size-picks the join strategy (no forced broadcast — side B scales
    # with SF); the downstream aggregation is map-side combinable to
    # <= 2^K rows, so block skew never shuffles.
    # symmetric probe: B is a value-perturbing projection of A (same
    # key and nat per row), so per-nation counts are equal by
    # construction and the probe never computes B's md5 coins (mass
    # and W identical to the two-sided probe the oracle states)
    w = block_salt_width(a, b, "nat", max_pairs=_LINK_MAX_PAIRS, symmetric=True)
    al = a.withColumn("salt", F.col("key") % F.lit(w)).alias("a")
    bl = b.withColumn("salt", F.col("key") % F.lit(w)).alias("b")
    pairs = al.join(bl, ["nat", "salt"]).select(
        (F.col("a.name") == F.col("b.name")).cast("int").alias("g_name"),
        (F.col("a.seg") == F.col("b.seg")).cast("int").alias("g_seg"),
        (F.col("a.bucket") == F.col("b.bucket")).cast("int").alias("g_bucket"),
    )
    return comparison_patterns(pairs, _GCOLS)


@query(
    "linkage_fs_em_params",
    sql=_EM_SQL
    + f"""
    SELECT 'name' AS field, m0 AS m, u0 AS u, lam FROM it{_N_ITER}
    UNION ALL
    SELECT 'seg', m1, u1, lam FROM it{_N_ITER}
    UNION ALL
    SELECT 'bucket', m2, u2, lam FROM it{_N_ITER}
    """,
)
def linkage_fs_em_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EM-learned Fellegi–Sunter parameters: per comparison field, the
    agreement probability among matches (m) and non-matches (u), plus
    the match prevalence lambda. Learned unsupervised from gamma-pattern
    counts; hash-exact vs the oracle's unrolled-CTE EM because every
    sufficient statistic is an exact BIGINT and every double expression
    shares its association order (operators/linkage.py docstring)."""
    patterns = _linkage_patterns(spark, sf_dir)
    rows = patterns.collect()  # <= 2^K pattern rows, O(1) metadata
    counts = sorted(
        (tuple(int(r[c]) for c in _GCOLS), int(r["n_pairs"])) for r in rows
    )
    params, _ = fs_em(counts, n_fields=len(_GCOLS), n_iter=_N_ITER)
    out = [
        ("name", params.m[0], params.u[0], params.lam),
        ("seg", params.m[1], params.u[1], params.lam),
        ("bucket", params.m[2], params.u[2], params.lam),
    ]
    return spark.createDataFrame(
        out, schema="field string, m double, u double, lam double"
    )


@query(
    "linkage_fs_match_patterns",
    sql=_EM_SQL
    + """
    SELECT g_name, g_seg, g_bucket, cnt AS n_pairs,
           CAST(pf AS DOUBLE) / 1000000.0 AS match_prob,
           pf >= 900000 AS is_match
    FROM scored
    """,
)
def linkage_fs_match_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gamma patterns with EM posteriors and the 0.9-threshold match
    decision. On this data the learned classifier is exactly "names
    agree" — the planted truth — without ever being told so. Posteriors
    are fixed-pointed (FLOOR at 1e-6) so the broadcast-lookup values
    hash-match the oracle bit-for-bit."""
    patterns = _linkage_patterns(spark, sf_dir)
    return score_patterns(
        spark, patterns, _GCOLS, n_iter=_N_ITER, threshold=0.9
    )


@query(
    "linkage_fs_matched_pairs",
    sql=_EM_SQL
    + """
    , pairids AS (
      WITH {wblk}
      SELECT a.key AS key_a, b.key AS key_b,
             CAST(a.name = b.name AS INT) AS g_name,
             CAST(a.seg = b.seg AS INT) AS g_seg,
             CAST(a.bucket = b.bucket AS INT) AS g_bucket
      FROM ({side_a}) a JOIN ({side_b}) b
        ON a.nat = b.nat
       AND (a.key % (SELECT w FROM wblk)) = (b.key % (SELECT w FROM wblk)))
    SELECT p.key_a, p.key_b,
           CAST(s.pf AS DOUBLE) / 1000000.0 AS match_prob
    FROM pairids p
    JOIN scored s
      ON s.g_name = p.g_name AND s.g_seg = p.g_seg
     AND s.g_bucket = p.g_bucket
    WHERE s.pf >= 900000
    """.format(side_a=_SQL_SIDE_A, side_b=_SQL_SIDE_B,
               wblk=_SQL_WBLK),
)
def linkage_fs_matched_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pair-level linkage deliverable: candidate pairs whose gamma
    pattern's EM posterior clears 0.9 — i.e. the record pairs the model
    links. On this data every matched pair is a true (A_k, B_k) twin:
    the learned classifier is name agreement and customer names are
    unique, so precision is 1.0 by construction and recall is the
    planted name-survival rate (~13/16). Scale shape: the pattern
    posteriors (<= 2^K rows) broadcast onto the pair stream — scoring
    adds zero shuffles to pair generation."""
    cust = t(spark, sf_dir, "customer")
    a = cust.select(
        F.col("c_custkey").alias("key"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nat"),
        F.floor(F.col("c_acctbal") / 1000.0).cast("bigint").alias("bucket"),
    )
    b = a.select(
        "key",
        "nat",
        F.when(_nibble(1) < 3, F.concat(F.col("name"), F.lit("~")))
        .otherwise(F.col("name"))
        .alias("name"),
        F.when(_nibble(2) < 5, F.lit("OTHER")).otherwise(F.col("seg")).alias("seg"),
        (
            F.col("bucket")
            + F.when(_nibble(3) < 4, F.lit(1)).otherwise(F.lit(0))
        ).alias("bucket"),
    )
    # symmetric probe: B is a value-perturbing projection of A (same
    # key and nat per row), so per-nation counts are equal by
    # construction and the probe never computes B's md5 coins (mass
    # and W identical to the two-sided probe the oracle states)
    w = block_salt_width(a, b, "nat", max_pairs=_LINK_MAX_PAIRS, symmetric=True)
    al = a.withColumn("salt", F.col("key") % F.lit(w)).alias("a")
    bl = b.withColumn("salt", F.col("key") % F.lit(w)).alias("b")
    pairs = al.join(bl, ["nat", "salt"]).select(
        F.col("a.key").alias("key_a"),
        F.col("b.key").alias("key_b"),
        (F.col("a.name") == F.col("b.name")).cast("int").alias("g_name"),
        (F.col("a.seg") == F.col("b.seg")).cast("int").alias("g_seg"),
        (F.col("a.bucket") == F.col("b.bucket")).cast("int").alias("g_bucket"),
    )
    scored = score_patterns(
        spark, comparison_patterns(pairs, _GCOLS), _GCOLS,
        n_iter=_N_ITER, threshold=0.9,
    ).select(*_GCOLS, "match_prob", "is_match")
    return (
        # bcast: <= 2^K posterior rows
        pairs.join(F.broadcast(scored), _GCOLS)
        .filter(F.col("is_match"))
        .select("key_a", "key_b", "match_prob")
    )
