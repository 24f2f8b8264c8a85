"""Fellegi–Sunter EM linkage (operators.linkage).

The correctness bar is cross-engine hash-equality (the registry
queries); these tests pin the EM math itself on crafted fixtures where
the right answer is analytic, plus the Python-EM <-> generated-SQL-EM
agreement that the oracle strategy depends on.
"""

from __future__ import annotations

import duckdb
import pytest

from datalake_scripts_spark.operators.linkage import (
    SCALE,
    FSParams,
    comparison_patterns,
    fs_em,
    fs_em_sql,
    score_patterns,
)


def _planted_patterns():
    """Two-class mixture, K=2: matches agree on both fields, random
    pairs agree on neither — plus mixed patterns at low counts."""
    return [
        ((0, 0), 9000),
        ((0, 1), 300),
        ((1, 0), 300),
        ((1, 1), 400),
    ]


def test_fs_em_recovers_planted_structure():
    params, post = fs_em(_planted_patterns(), n_fields=2, n_iter=10)
    # the (1,1) pattern is the match class: highest posterior by far
    assert post[(1, 1)] == max(post.values())
    assert post[(1, 1)] > 0.9 * SCALE
    assert post[(0, 0)] < 0.1 * SCALE
    # m_k > u_k for both fields once the mixture separates
    assert params.m[0] > params.u[0] and params.m[1] > params.u[1]


def test_fs_em_matches_generated_sql():
    """The Python EM and the generated unrolled-CTE SQL EM must agree
    bit-for-bit — this identity is what makes the registry oracle an
    independent check rather than a reimplementation detail."""
    pats = _planted_patterns()
    con = duckdb.connect()
    values = ", ".join(f"({g1}, {g2})" for (g1, g2), c in pats for _ in [c])
    # expand counts via a VALUES list of (g1, g2, cnt) and repeat rows
    rows_sql = " UNION ALL ".join(
        f"SELECT {g1} AS g1, {g2} AS g2, {c} AS n" for (g1, g2), c in pats
    )
    # pairs CTE: expand the counts back into rows (constant series +
    # filter — DuckDB's range() rejects lateral column parameters)
    pairs_cte = (
        f"SELECT g1, g2 FROM ({rows_sql}) t "
        f"JOIN (SELECT unnest(range(10000)) AS i) s ON s.i < t.n"
    )
    sql = fs_em_sql(pairs_cte, ["g1", "g2"], n_iter=4)
    (m0, m1, u0, u1, lam) = con.execute(
        sql + " SELECT m0, m1, u0, u1, lam FROM it4"
    ).fetchone()
    scored = dict(
        ((r[0], r[1]), r[3])
        for r in con.execute(
            sql + " SELECT g1, g2, cnt, pf FROM scored"
        ).fetchall()
    )
    params, post = fs_em(pats, n_fields=2, n_iter=4)
    assert (params.m, params.u, params.lam) == ([m0, m1], [u0, u1], lam)
    assert post == scored
    assert values  # silence unused (documentation of the expansion idea)


def test_fs_em_clamps_degenerate_fields():
    # a field that NEVER agrees anywhere: m and u both clamp to the floor
    pats = [((0,), 1000)]
    params, _ = fs_em(pats, n_fields=1, n_iter=3)
    assert params.m[0] == pytest.approx(1e-6)
    assert params.u[0] == pytest.approx(1e-6)


def test_fs_em_fixed_point_bounds():
    # posteriors are FLOOR-fixed-pointed: always in [0, SCALE]
    params = FSParams(m=[0.999999], u=[0.000001], lam=0.999999)
    _, post = fs_em([((1,), 10), ((0,), 10)], 1, n_iter=1, init=params)
    assert all(0 <= v <= SCALE for v in post.values())


def test_score_patterns_broadcast_lookup(spark):
    pairs = spark.createDataFrame(
        [(g1, g2) for (g1, g2), c in _planted_patterns() for _ in range(c // 100)],
        schema="g1 int, g2 int",
    )
    pats = comparison_patterns(pairs, ["g1", "g2"])
    out = score_patterns(spark, pats, ["g1", "g2"], n_iter=10, threshold=0.9)
    rows = {(r.g1, r.g2): r for r in out.collect()}
    assert rows[(1, 1)].is_match is True
    assert rows[(0, 0)].is_match is False
    assert rows[(1, 1)].match_prob > 0.9
    # counts preserved through the broadcast join
    assert rows[(0, 0)].n_pairs == 90


def test_matched_pairs_are_exactly_true_twins(spark):
    """Pair-level precision on the planted data: every matched pair is
    (A_k, B_k) for the same k — the model links exactly the true twins
    whose names survived perturbation."""
    from datalake_scripts_spark.queries import REGISTRY

    rows = REGISTRY["linkage_fs_matched_pairs"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) > 0
    assert all(r.key_a == r.key_b for r in rows)  # precision 1.0
    assert all(r.match_prob >= 0.9 for r in rows)


def test_symmetric_salt_probe_equals_two_sided(spark):
    """block_salt_width(symmetric=True) scans A alone; on a B with the
    same per-block counts (a value-perturbing projection of A, as in
    the linkage queries) it must give the two-sided mass. max_pairs=1
    makes W the mass itself."""
    from pyspark.sql import functions as F

    from datalake_scripts_spark.operators.linkage import block_salt_width

    a = spark.createDataFrame(
        [(k, k % 7 if k % 5 else 0) for k in range(1, 120)], "key long, nat int"
    )
    b = a.select("key", "nat", F.md5(F.col("key").cast("string")).alias("coin"))
    counts = {r.nat: r["count"] for r in a.groupBy("nat").count().collect()}
    assert counts == {r.nat: r["count"] for r in b.groupBy("nat").count().collect()}
    mass = sum(c * c for c in counts.values())
    two_sided = block_salt_width(a, b, "nat", max_pairs=1)
    assert two_sided == mass
    assert block_salt_width(a, b, "nat", max_pairs=1, symmetric=True) == mass
    # an object-identical B takes the two-sided path unless told otherwise
    assert block_salt_width(a, a, "nat", max_pairs=1) == mass
