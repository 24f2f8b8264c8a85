"""Similarity search over embedding columns (array<float>).

Not in the reference; engine surface for 100 TB training-data pipelines
(SURVEY.md §7 phase 4b). Two tiers:

- :func:`brute_force_topk` — exact cosine top-k; the correctness
  baseline. Query side broadcasts, corpus side streams: no shuffle of
  the corpus. O(|Q| * |C|) compute, fine when |Q| is small.
- :func:`lsh_bucket_topk` — sign-random-projection LSH: both sides
  bucket by the sign pattern of dot products with fixed hyperplanes;
  candidates come from an equi-join on the bucket, so the corpus
  shuffles once on a uniform key. The scale path (trades recall for a
  |C|/2^bits candidate-set reduction).

Cosine is a left-to-right fold over double-cast elements; the DuckDB
oracle states the identical formula (list_dot_product / sqrt(n_a * n_b))
so both engines produce bit-identical doubles.
"""

from __future__ import annotations

import math
import struct

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Sequential-fold dot product (matches DuckDB list_dot_product
    evaluation order, so results are bit-identical).

    ``dim`` is accepted for API stability but unused: an unrolled
    64-term sum was measured 5-8x SLOWER than the higher-order
    ``aggregate`` fold (the giant expression tree exceeds codegen
    limits and falls back to interpreted per-element evaluation);
    the fold stays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine(a: Column, b: Column) -> Column:
    """dot(a,b) / sqrt(dot(a,a) * dot(b,b)) — the DuckDB formula shape."""
    return dot(a, b) / F.sqrt(dot(a, a) * dot(b, b))


def cosine_with_norms(
    a: Column, b: Column, norm_a: Column, norm_b: Column, dim: int | None = None
) -> Column:
    """Cosine with precomputed self-dot-products.

    dot(v,v) depends only on the vector, so computing it once per row
    instead of once per PAIR removes 2/3 of the fold work in pairwise
    ops (Spark's higher-order aggregate is interpreted, not codegen'd —
    it dominates). Bit-identical to :func:`cosine`: same fold order,
    same operand values."""
    return dot(a, b, dim) / F.sqrt(norm_a * norm_b)


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes (pure-Python
    seeded generator — reproducible across runs and inlinable into the
    SQL oracle; no numpy dependency in the plan)."""
    import random

    rng = random.Random(seed)
    planes = []
    for _ in range(n_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        # round to float32 grid so Spark float lits and SQL lits agree
        planes.append([struct.unpack("f", struct.pack("f", x))[0] for x in v])
    return planes


def _dim_of(df: DataFrame, vec_col: str) -> int | None:
    """Fixed vector dimensionality from the first row (None if empty —
    falls back to the interpreted fold)."""
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    return int(row.d) if row else None


def _sql_double(x: float) -> str:
    """Spark SQL double literal with exact round-trip (repr is the
    shortest string parsing back to the identical IEEE double in both
    Python and Spark's parser — verified incl. scientific notation)."""
    return repr(float(x)) + "D"


def dot_sql_literal(vec_sql: str, values: list[float]) -> str:
    """Spark SQL text of the sequential-fold dot product of a column
    expression against a constant vector — same fold order and operand
    values as :func:`dot`, so results are bit-identical.

    The constant side is ``from_json('<json>', 'array<double>')``, ONE
    string-literal node that ConstantFolding collapses to a Literal
    before execution — an inline ``array(x1, ..., x64)`` would put dim
    nodes per use into the tree and make the analyzer the dominant cost
    when many of these stack up (measured: ~8k nodes -> seconds of
    plan time for 64 plane dots). json.dumps floats use repr, which
    round-trips to the identical IEEE double in both engines."""
    import json

    arr = f"from_json('{json.dumps([float(v) for v in values])}', 'array<double>')"
    return (
        f"aggregate(zip_with({vec_sql}, {arr}, (x, y) -> x * y), "
        "0.0D, (acc, x) -> acc + x)"
    )


def srp_bucket(vec_sql: str, planes: list[list[float]]) -> Column:
    """Sign-random-projection bucket id: bit i = sign(dot(vec, plane_i)).

    ``vec_sql`` is the vector column as SQL text (e.g. ``"v"``): the
    whole bucket expression is assembled as ONE string and crosses py4j
    once via F.expr. The previous Column-API build made one gateway
    round-trip per plane ELEMENT (n_planes * dim F.lit calls — ~4k
    for 8 tables x 8 planes x 64 dims), and those round-trips, not
    execution, dominated the operator's wall time. Identical result:
    double literals round-trip exactly (:func:`_sql_double`) and the
    fold order matches :func:`dot`."""
    terms = " + ".join(
        f"(CASE WHEN {dot_sql_literal(vec_sql, p)} >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return F.expr(f"CAST({terms} AS BIGINT)")


def brute_force_topk(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Broadcast the (small) query side; corpus partitions score locally;
    per-query top-k via window on (cosine desc, neighbor id) — a single
    shuffle of |Q|*|C| scored pairs reduced map-side by the rank filter
    under AQE. Self-matches excluded.
    """
    dim = _dim_of(corpus_df, vec_col)
    qv = F.col(vec_col).cast("array<double>")
    q = queries_df.select(
        F.col(id_col).alias("query_id"), qv.alias("qv"), dot(qv, qv, dim).alias("qn")
    )
    c = corpus_df.select(
        F.col(id_col).alias("neighbor_id"), qv.alias("cv"), dot(qv, qv, dim).alias("cn")
    )
    scored = (
        # bcast: O(queries) — the query batch, small by ANN contract
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_with_norms(
                F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"), dim
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def lsh_bucket_topk(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's SRP bucket.

    2^n_planes buckets; corpus shuffles once on the bucket key. Recall
    loss is the standard SRP tradeoff — raise n_planes for bigger corpora
    or probe neighboring buckets (not needed at test scale).
    """
    planes = hyperplanes(dim, n_planes, seed)
    vv = F.col(vec_col).cast("array<double>")
    q = (
        queries_df.select(
            F.col(id_col).alias("query_id"), vv.alias("qv"), dot(vv, vv, dim).alias("qn")
        )
        .withColumn("bucket", srp_bucket("qv", planes))
    )
    c = (
        corpus_df.select(
            F.col(id_col).alias("neighbor_id"), vv.alias("cv"), dot(vv, vv, dim).alias("cn")
        )
        .withColumn("bucket", srp_bucket("cv", planes))
    )
    scored = (
        # bcast: O(queries) — the query batch, small by ANN contract
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "bucket",
            "neighbor_id",
            cosine_with_norms(
                F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"), dim
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def ivf_centroids(
    corpus_df: DataFrame,
    stride: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_centroids: int | None = None,
) -> list[tuple[int, list[float]]]:
    """Deterministic seeded centroids: every ``stride``-th corpus vector
    by id. A modular pick keeps the DuckDB oracle exactly expressible
    while exercising the identical plan shape — but the collected row
    count GROWS with the corpus (|C|/stride) unless ``max_centroids``
    caps it (id < stride * max, still a pure SQL predicate: a capped
    pick is a MODEL CONSTANT like a trained codebook, which is what
    keeps inline-literal plans corpus-size-independent at scale).
    Uncapped remains the legacy oracle-twin path; production uses
    :func:`ivf_centroids_kmeans`, whose driver footprint is constant.
    Returns driver-side (cid, float32-exact values)."""
    picked = corpus_df.filter((F.col(id_col) % stride) == 0)
    if max_centroids is not None:
        picked = picked.filter(F.col(id_col) < stride * max_centroids)
    rows = (
        picked
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
        .collect()
    )
    return sorted((int(r.cid), [float(x) for x in r.cvec]) for r in rows)


def ivf_centroids_kmeans(
    corpus_df: DataFrame,
    n_centroids: int = 64,
    max_sample: int = 10_000,
    iters: int = 5,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Sampled-k-means IVF centroids — the at-scale path.

    Driver memory is bounded by ``max_sample * dim`` REGARDLESS of
    corpus size: sample a fraction sized to yield ~max_sample rows
    (hard-capped with limit), collect only the sample, run ``iters``
    Lloyd iterations in numpy. Deterministic for a fixed corpus+seed.
    Returns the same (cid, values) shape as :func:`ivf_centroids` so
    both assignment paths (inline-literal and Arrow/numpy) accept it.

    Empty cells are re-seeded from the sample's first rows (standard
    k-means guard), so exactly ``min(n_centroids, |sample|)`` centroids
    come back.
    """
    import numpy as np

    n = corpus_df.count()
    if n == 0:
        return []
    sample = corpus_df.select(F.col(vec_col))
    if n > max_sample:
        # 1.2x oversample so the post-limit sample is (almost) always full
        sample = sample.sample(fraction=min(1.0, 1.2 * max_sample / n), seed=seed)
    rows = sample.limit(max_sample).collect()
    X = np.asarray([list(r[vec_col]) for r in rows], dtype=np.float64)
    k = min(n_centroids, len(X))
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=k, replace=False)]
    # cosine assignment (matches the operator's metric): normalize,
    # then nearest = argmax of dot; X never changes, only C does
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    for _ in range(iters):
        Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
        assign = (Xn @ Cn.T).argmax(axis=1)
        for j in range(k):
            members = X[assign == j]
            C[j] = members.mean(axis=0) if len(members) else X[j % len(X)]
    return [(int(i), [float(x) for x in C[i]]) for i in range(k)]


def _centroid_scores(vec: Column, vec_norm: Column, cents) -> list[tuple[int, Column]]:
    """Per-centroid cosine columns against an inlined centroid literal.

    Centroid self-dot-products are folded driver-side (same
    left-to-right double accumulation as the in-engine fold, so the
    value is bit-identical to DuckDB's list_dot_product(c,c)).

    Each centroid crosses py4j as ONE from_json literal (folded to a
    Literal by the optimizer) — per-element F.lit made plan
    construction O(n_centroids * dim) gateway round-trips, which
    dominated ivf_topk's wall time before execution even started."""
    import json

    out = []
    for cid, cvec in cents:
        carr = F.expr(
            f"from_json('{json.dumps([float(x) for x in cvec])}', 'array<double>')"
        )
        cn = 0.0
        for x in cvec:
            cn += x * x
        out.append((cid, dot(vec, carr, len(cvec)) / F.sqrt(vec_norm * F.lit(cn))))
    return out


def _cosine_struct_sqls(vec_sql: str, norm_sql: str, cents) -> list[str]:
    """SQL text of the per-centroid (cosine, -cid) probe structs —
    parses to the identical expression tree the Column-API build
    produced, but crosses py4j ONCE as a single F.expr instead of
    O(n_centroids) gateway round-trips per fold/struct/alias
    (construction, not execution, was 1.1 s of a 2000-row build —
    the srp_bucket finding applied to the IVF family; guide §1.2)."""
    out = []
    for cid, cvec in cents:
        cn = 0.0
        for x in cvec:
            cn += x * x
        score = (
            f"({dot_sql_literal(vec_sql, cvec)})"
            f" / sqrt(({norm_sql}) * {_sql_double(cn)})"
        )
        out.append(
            f"named_struct('ccos', {score},"
            f" 'ncid', CAST({-int(cid)} AS BIGINT))"
        )
    return out


def ivf_assign_cell(
    vec: Column | str, vec_norm: Column | str, cents
) -> Column:
    """Nearest-centroid cell id, computed entirely map-side (no join, no
    shuffle — the IVF assignment path that survives a 1000-executor
    scale-up). max over (cosine, -cid) structs == ORDER BY cosine DESC,
    cid ASC with row_number()=1.

    Pass ``vec``/``vec_norm`` as SQL text (column names/expressions)
    for the single-crossing construction; Column inputs keep the
    legacy per-centroid build (same expression, slower to assemble)."""
    if isinstance(vec, str) and isinstance(vec_norm, str):
        structs = _cosine_struct_sqls(vec, vec_norm, cents)
        best = (
            structs[0]
            if len(structs) == 1
            else f"greatest({', '.join(structs)})"
        )
        return F.expr(f"CAST(-(({best}).ncid) AS BIGINT)")
    structs = [
        F.struct(c.alias("ccos"), F.lit(-cid).cast("bigint").alias("ncid"))
        for cid, c in _centroid_scores(vec, vec_norm, cents)
    ]
    best = structs[0] if len(structs) == 1 else F.greatest(*structs)
    return (-best["ncid"]).cast("bigint")


def ivf_probe_cells(
    vec: Column | str, vec_norm: Column | str, cents, nprobe: int
) -> Column:
    """Array of the ``nprobe`` nearest cell ids, map-side: sort an
    inline (cosine, -cid) struct array descending and slice — no window,
    no shuffle on the query side. SQL-text inputs take the
    single-crossing construction (see :func:`ivf_assign_cell`)."""
    if isinstance(vec, str) and isinstance(vec_norm, str):
        arr = ", ".join(_cosine_struct_sqls(vec, vec_norm, cents))
        return F.expr(
            f"transform(slice(sort_array(array({arr}), false), 1, "
            f"{int(nprobe)}), s -> -s.ncid)"
        )
    arr = F.array(
        *[
            F.struct(c.alias("ccos"), F.lit(-cid).cast("bigint").alias("ncid"))
            for cid, c in _centroid_scores(vec, vec_norm, cents)
        ]
    )
    top = F.slice(F.sort_array(arr, asc=False), 1, nprobe)
    return F.transform(top, lambda s: -s["ncid"])


def ivf_assign_pandas(
    df: DataFrame,
    cents,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_id: str = "neighbor_id",
) -> DataFrame:
    """Vectorized IVF assignment: one numpy matmul per Arrow batch
    against the broadcast centroid matrix — O(n_centroids) FLOPs in
    BLAS, not interpreted expression folds. This is the scale path:
    the inline-literal assignment (:func:`ivf_assign_cell`) degrades
    linearly in centroid count on the interpreted HOF path (measured
    30x slower at 1000 centroids / 50k vectors), while this stays flat.

    Not bit-identical to the DuckDB fold (numpy uses pairwise/SIMD
    summation), so queries built on it register without oracle SQL;
    argmax agreement with the literal path is tested instead.
    Emits one row per probed cell: (out_id, cv, cn, cell)."""
    import numpy as np
    import pandas as pd

    C = np.array([c for _, c in cents], dtype=np.float64)
    cids = np.array([cid for cid, _ in cents], dtype=np.int64)
    Cn = np.sqrt((C * C).sum(axis=1))
    n_probe = min(nprobe, len(cents))

    def _assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:  # np.stack rejects empty partitions
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            vn = (V * V).sum(axis=1)
            sims = (V @ C.T) / np.sqrt(np.outer(vn, Cn * Cn))
            # argsort on (-sim, cid): cids ascending breaks ties low-first
            top = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
            n = len(pdf)
            yield pd.DataFrame(
                {
                    out_id: pdf[id_col].to_numpy().repeat(n_probe),
                    "cv": [list(V[i]) for i in range(n) for _ in range(n_probe)],
                    "cn": vn.repeat(n_probe),
                    "cell": cids[top].reshape(-1),
                }
            )

    return df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
    ).mapInPandas(_assign, f"{out_id} bigint, cv array<double>, cn double, cell bigint")


def ivf_topk(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    stride: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assignment: str = "literal",
    centroids: str = "stride",
    n_centroids: int = 64,
    max_sample: int = 10_000,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k cosine neighbors.

    Corpus vectors partition into cells by nearest centroid (map-side
    argmax, :func:`ivf_assign_cell`); each query probes its ``nprobe``
    nearest cells; candidates come from an equi-join on the cell id, so
    the corpus shuffles once on a data-balanced key and the scored
    candidate set shrinks by ~|cells|/nprobe. The standard IVF recall
    knobs (more centroids, more probes) map directly to
    ``n_centroids``/``stride`` and ``nprobe``.

    ``assignment``: "literal" inlines centroids as expressions —
    JVM-native and exactly DuckDB-replicable, but O(n_centroids)
    interpreted folds per row (fine to ~100 centroids); "pandas" uses
    the vectorized Arrow/numpy path (:func:`ivf_assign_pandas`) —
    centroid-count-flat, the choice at scale, not bit-replicable.

    ``centroids``: "stride" picks every stride-th vector (oracle-twin
    path; collected count grows with the corpus) — "kmeans" uses
    :func:`ivf_centroids_kmeans` (bounded driver memory, the 100 TB
    path)."""
    if centroids == "kmeans":
        cents = ivf_centroids_kmeans(
            corpus_df, n_centroids=n_centroids, max_sample=max_sample,
            id_col=id_col, vec_col=vec_col,
        )
    else:
        cents = ivf_centroids(corpus_df, stride=stride, id_col=id_col, vec_col=vec_col)
    dim = len(cents[0][1]) if cents else None
    vv = F.col(vec_col).cast("array<double>")
    if assignment == "pandas":
        c = ivf_assign_pandas(
            corpus_df, cents, nprobe=1, id_col=id_col, vec_col=vec_col
        )
        q = (
            ivf_assign_pandas(
                queries_df, cents, nprobe=nprobe, id_col=id_col, vec_col=vec_col,
                out_id="query_id",
            )
            .withColumnRenamed("cv", "qv")
            .withColumnRenamed("cn", "qn")
        )
    else:
        c = (
            corpus_df.select(
                F.col(id_col).alias("neighbor_id"),
                vv.alias("cv"),
                dot(vv, vv, dim).alias("cn"),
            )
            .withColumn("cell", ivf_assign_cell("cv", "cn", cents))
        )
        q = (
            queries_df.select(
                F.col(id_col).alias("query_id"),
                vv.alias("qv"),
                dot(vv, vv, dim).alias("qn"),
            )
            .withColumn(
                "cell",
                F.explode(ivf_probe_cells("qv", "qn", cents, nprobe)),
            )
        )
    scored = (
        # bcast: O(queries x nprobe) — the query batch, small by contract
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "cell",
            "neighbor_id",
            cosine_with_norms(
                F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"), dim
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def sql_dot(a: str, b: str) -> str:
    """DuckDB oracle fragment mirroring :func:`dot`."""
    return f"list_dot_product({a}, {b})"


def sql_cosine(a: str, b: str) -> str:
    return f"({sql_dot(a,b)} / sqrt({sql_dot(a,a)} * {sql_dot(b,b)}))"


def sql_plane_literal(plane: list[float]) -> str:
    """Inline a hyperplane as a DOUBLE[] SQL literal (float32-gridded
    values print exactly via repr)."""
    return "[" + ", ".join(repr(x) for x in plane) + "]::DOUBLE[]"


def ivf_topk_multi(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    nprobes: list[int],
    k: int = 3,
    stride: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k at SEVERAL nprobe settings in one pass (the recall-
    sweep shape): centroid derivation, corpus cell assignment, and the
    candidate equi-join run ONCE at max(nprobes); each candidate row
    carries its probe rank (crn = how-manyeth-nearest cell produced
    it), so the smaller-nprobe results are pure filters of the shared
    candidate set — a probe-rank explode plus one window, instead of
    re-assigning and re-joining the corpus per setting. Returns
    (nprobe, query_id, neighbor_id, cosine, rnk), rnk <= k.

    Literal/stride path only (the DuckDB-replicable oracle twin);
    the kmeans/pandas scale path tunes nprobe online instead of
    sweeping it."""
    cents = ivf_centroids(corpus_df, stride=stride, id_col=id_col, vec_col=vec_col)
    dim = len(cents[0][1]) if cents else None
    vv = F.col(vec_col).cast("array<double>")
    max_np = max(nprobes)
    c = corpus_df.select(
        F.col(id_col).alias("neighbor_id"),
        vv.alias("cv"),
        dot(vv, vv, dim).alias("cn"),
    ).withColumn("cell", ivf_assign_cell("cv", "cn", cents))
    q = queries_df.select(
        F.col(id_col).alias("query_id"),
        vv.alias("qv"),
        dot(vv, vv, dim).alias("qn"),
    ).select(
        "query_id",
        "qv",
        "qn",
        F.posexplode(
            ivf_probe_cells("qv", "qn", cents, max_np)
        ).alias("pos", "cell"),
    )
    scored = (
        # bcast: O(queries x max nprobe) — the query batch, small by contract
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            (F.col("pos") + 1).alias("crn"),
            "neighbor_id",
            cosine_with_norms(
                F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"), dim
            ).alias("cosine"),
        )
    )
    np_arr = F.array(*[F.lit(n) for n in sorted(set(nprobes))])
    expanded = scored.withColumn(
        "nprobe", F.explode(F.filter(np_arr, lambda n: n >= F.col("crn")))
    )
    w = W.partitionBy("nprobe", "query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return expanded.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= k
    )


# ------------------------------------------------------------------ PQ
# Product quantization (Jégou et al., "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011): split each d-dim vector into
# m subvectors, quantize each against a per-subspace codebook, and
# score query-to-corpus distance as the SUM of per-subspace
# codeword-table lookups (ADC — asymmetric distance computation). The
# 100 TB posture: corpus vectors compress d*4 bytes -> m codes, the
# encode pass is map-side (inline codebook literals, no shuffle, no
# join), and per-query scoring touches an m-entry table per candidate
# instead of a d-term fold. Codebooks here use the stride-seeded
# oracle-twin convention of ivf_centroids (deterministic, SQL-
# replicable); production would train them with sampled k-means per
# subspace exactly like ivf_centroids_kmeans.
#
# Float discipline (same contract as cosine): L2^2 is computed as
# (dot(a,a) - 2.0*dot(a,b)) + dot(b,b) with every dot a left-to-right
# fold over double-cast elements — both engines state the identical
# expression, so ADC distances are bit-identical and rank-stable.


def _l2_expr(sub_norm: Column, sub: Column, cw: list[float]) -> Column:
    """(||a||^2 - 2<a,c>) + ||c||^2 with the codeword inlined and its
    norm folded driver-side (left-to-right, matching
    list_dot_product(c,c) on the same double values)."""
    import json

    carr = F.expr(
        f"from_json('{json.dumps([float(x) for x in cw])}', 'array<double>')"
    )
    cn = 0.0
    for x in cw:
        cn = cn + float(x) * float(x)
    return (sub_norm - F.lit(2.0) * dot(sub, carr, len(cw))) + F.lit(cn)


def pq_encode(
    df: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_id: str = "vec_id",
) -> DataFrame:
    """(id, code_0..code_{m-1}) — each code is the 0-based INDEX of the
    nearest codeword (L2, tie -> lowest codeword id) in that subspace's
    codebook. Entirely map-side: the codebooks ride as literals, so a
    1000-executor encode has no shuffle and no join."""
    vec = F.col(vec_col).cast("array<double>")
    return df.select(
        F.col(id_col).alias(out_id), *pq_code_cols(vec, codebooks)
    )


def pq_codebooks(
    corpus_df: DataFrame,
    m: int = 4,
    stride: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_codewords: int = 50,
) -> list[list[tuple[int, list[float]]]]:
    """Per-subspace codebooks from the stride-seeded sample (oracle
    twin of ivf_centroids, sliced): codebooks[j] = [(cid, subvector)]
    sorted by cid. ``max_codewords`` CAPS the book (id < stride * max)
    so codebook size — and therefore the map-side encode plan and the
    per-query ADC table — is a model constant, not corpus-linear (an
    uncapped stride book at sf1 is 5000 codewords/subspace: a 40k-term
    encode expression; a real PQ codebook is K=256 regardless of
    corpus). Codeword INDEX equals rank-by-cid, which is what
    pq_encode emits and the SQL oracle reconstructs."""
    cents = ivf_centroids(
        corpus_df, stride, id_col, vec_col, max_centroids=max_codewords
    )
    if not cents:
        raise ValueError("empty corpus: no codewords")
    d = len(cents[0][1])
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sd = d // m
    return [
        [(cid, v[j * sd:(j + 1) * sd]) for cid, v in cents]
        for j in range(m)
    ]


def pq_topk(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int = 3,
    m: int = 4,
    stride: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_codewords: int = 50,
    encode: str = "arrow",
    codebooks: list[list[tuple[int, list[float]]]] | None = None,
) -> DataFrame:
    """PQ-ADC approximate top-k by L2: encode the corpus map-side, give
    each query an m x |codebook| distance table (computed once per
    query, map-side), then score each (query, candidate) pair as the
    FIXED-ORDER sum of m table lookups — no per-pair d-term fold. One
    broadcast of the query batch; the only wide op is the final
    per-query top-k window. Returns (query_id, neighbor_id, adc_dist,
    rnk), self-pairs excluded, ties -> lowest neighbor_id.

    ``encode`` picks the corpus-encode tier: "arrow" (default — numpy
    argmin per Arrow batch, the production path, flat interpreter
    cost) or "literal" (inlined fold expressions, the SQL-replicable
    oracle twin). Both emit identical integer codes (tested), and the
    ADC sum is always the JVM-side fold over the LITERAL query tables,
    so the result is hash-identical either way.

    ``codebooks`` overrides the stride derivation — pass
    :func:`pq_codebooks_kmeans` output for the trained production
    books (rows-only check: k-means isn't SQL-expressible)."""
    if codebooks is None:
        codebooks = pq_codebooks(
            corpus_df, m, stride, id_col, vec_col, max_codewords
        )
    if encode == "arrow":
        codes = pq_codes_arrow(
            corpus_df.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("__pqv"),
            ),
            codebooks, vec_col="__pqv",
        )
    else:
        codes = pq_encode(corpus_df, codebooks, id_col, vec_col,
                          out_id="neighbor_id")
    if encode == "arrow":
        # ADC tables computed driver-side (bit-identical Python folds)
        # and shipped as data, not as a ~4k-node literal plan
        q = pq_query_tables(queries_df, codebooks, id_col, vec_col)
    else:
        vec = F.col(vec_col).cast("array<double>")
        q = queries_df.select(
            F.col(id_col).alias("query_id"), *pq_dqt_cols(vec, codebooks)
        )
    # bcast: O(queries * m * |codebook|) doubles — the query batch
    pair = codes.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    )
    scored = pair.select(
        "query_id", "neighbor_id", pq_adc_score(m).alias("adc_dist")
    )
    w = W.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return scored.withColumn(
        "rnk", F.row_number().over(w).cast("int")
    ).filter(F.col("rnk") <= k)


def l2_brute_topk(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact L2 top-k (the PQ recall baseline — same metric, full
    vectors, same (dot,dot,dot) combination so distances are
    engine-identical). Broadcast queries, stream corpus, window."""
    dim = _dim_of(corpus_df, vec_col)
    v = F.col(vec_col).cast("array<double>")
    q = queries_df.select(
        F.col(id_col).alias("query_id"), v.alias("qv"),
        dot(v, v, dim).alias("qn"),
    )
    c = corpus_df.select(
        F.col(id_col).alias("neighbor_id"), v.alias("cv"),
        dot(v, v, dim).alias("cn"),
    )
    dist = (
        F.col("qn") - F.lit(2.0) * dot(F.col("qv"), F.col("cv"), dim)
    ) + F.col("cn")
    # bcast: O(queries) — the query batch, small by the ANN contract
    scored = c.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).select("query_id", "neighbor_id", dist.alias("l2_dist"))
    w = W.partitionBy("query_id").orderBy(
        F.asc("l2_dist"), F.asc("neighbor_id")
    )
    return scored.withColumn(
        "rnk", F.row_number().over(w).cast("int")
    ).filter(F.col("rnk") <= k)


def pq_rerank_topk(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    m: int = 8,
    stride: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_codewords: int = 50,
    encode: str = "arrow",
    codebooks: list[list[tuple[int, list[float]]]] | None = None,
) -> DataFrame:
    """The production PQ serve shape: ADC shortlists ``shortlist``
    candidates per query from the COMPRESSED codes, then only the
    shortlist's full vectors are fetched for an exact-L2 rerank. At
    100 TB the corpus scan is codes-only (m bytes/vector instead of
    4d); the full-vector join touches |Q| * shortlist rows. On random
    synthetic embeddings (no cluster structure — PQ's worst case)
    rerank lifts recall@5 from ~0.2 to ~0.7 at a 10%% shortlist; on
    real embedding manifolds both numbers run far higher. Returns
    (query_id, neighbor_id, l2_dist, rnk)."""
    short = pq_topk(
        queries_df, corpus_df, k=shortlist, m=m, stride=stride,
        id_col=id_col, vec_col=vec_col, max_codewords=max_codewords,
        encode=encode, codebooks=codebooks,
    ).select("query_id", "neighbor_id")
    dim = _dim_of(corpus_df, vec_col)
    v = F.col(vec_col).cast("array<double>")
    q = queries_df.select(
        F.col(id_col).alias("query_id"), v.alias("qv"),
        dot(v, v, dim).alias("qn"),
    )
    c = corpus_df.select(
        F.col(id_col).alias("neighbor_id"), v.alias("cv"),
        dot(v, v, dim).alias("cn"),
    )
    dist = (
        F.col("qn") - F.lit(2.0) * dot(F.col("qv"), F.col("cv"), dim)
    ) + F.col("cn")
    # bcast: O(queries) — query batch; shortlist join keys the corpus
    scored = (
        short.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .select("query_id", "neighbor_id", dist.alias("l2_dist"))
    )
    w = W.partitionBy("query_id").orderBy(
        F.asc("l2_dist"), F.asc("neighbor_id")
    )
    return scored.withColumn(
        "rnk", F.row_number().over(w).cast("int")
    ).filter(F.col("rnk") <= k).select(
        "query_id", "neighbor_id", "l2_dist", "rnk"
    )


def _l2_argmin_structs(sub: Column, sub_norm: Column, cents) -> list[Column]:
    """(L2^2 distance, id) structs against inlined centroid literals —
    F.least over them IS ORDER BY d ASC, id ASC LIMIT 1."""
    return [
        F.struct(
            _l2_expr(sub_norm, sub, cvec).alias("d"),
            F.lit(cid).cast("bigint").alias("cid"),
        )
        for cid, cvec in cents
    ]


def ivfpq_topk(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    shortlist: int = 25,
    m: int = 8,
    stride: int = 10,
    cell_stride: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_codewords: int = 50,
    max_cells: int = 10,
    encode: str = "arrow",
) -> DataFrame:
    """The composed production ANN stack — IVF cell pruning x PQ
    compression x exact rerank (the IVFADC scheme of Jégou et al.):

    1. corpus vectors get an IVF cell (argmin L2 to stride-seeded
       centroids) AND m PQ codes, in ONE map-side select — no shuffle;
    2. each query probes its ``nprobe`` nearest cells and carries its
       ADC distance tables; candidates come from an equi-join on the
       cell id (only probed cells' codes are touched — at 100 TB with
       cell-partitioned storage this is a static partition prune, see
       operators.ann_index);
    3. ADC shortlists ``shortlist`` candidates per query from the
       compressed codes; only those join back to full vectors for the
       exact-L2 rerank.

    Both metric stages use the engine-identical L2 combination, so the
    full stack — cells, probes, codes, ADC, rerank — is replicated by
    the SQL oracle. Returns (query_id, neighbor_id, l2_dist, rnk)."""
    cents = ivf_centroids(
        corpus_df, cell_stride, id_col, vec_col, max_centroids=max_cells
    )
    codebooks = pq_codebooks(
        corpus_df, m, stride, id_col, vec_col, max_codewords
    )
    dim = _dim_of(corpus_df, vec_col)
    vec = F.col(vec_col).cast("array<double>")
    vnorm = dot(vec, vec, dim)

    # corpus: cell + codes, one map-side projection (Arrow tier does
    # both in a single numpy pass; literal tier is the oracle twin)
    if encode == "arrow":
        coded = pq_codes_arrow(
            corpus_df.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("__pqv"),
            ),
            codebooks, vec_col="__pqv", cell_cents=cents,
        )
    else:
        coded = corpus_df.select(
            F.col(id_col).alias("neighbor_id"),
            ivf_assign_cell_l2(vec, vnorm, cents).alias("cell"),
            *pq_code_cols(vec, codebooks),
        )

    # queries: probed cells + ADC tables
    if encode == "arrow":
        # driver-side folds (bit-identical), shipped as data not plan
        q = pq_query_tables(
            queries_df, codebooks, id_col, vec_col,
            cell_cents=cents, nprobe=nprobe,
        )
    else:
        q = queries_df.select(
            F.col(id_col).alias("query_id"),
            F.explode(
                ivf_probe_cells_l2(vec, vnorm, cents, nprobe)
            ).alias("cell"),
            *pq_dqt_cols(vec, codebooks),
        )

    # bcast: O(queries * nprobe) — query batch
    pair = coded.join(F.broadcast(q), "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    w = W.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    short = (
        pair.select(
            "query_id", "neighbor_id", pq_adc_score(m).alias("adc_dist")
        )
        .withColumn("srn", F.row_number().over(w))
        .filter(F.col("srn") <= shortlist)
        .select("query_id", "neighbor_id")
    )

    qv = queries_df.select(
        F.col(id_col).alias("query_id"), vec.alias("qv"),
        vnorm.alias("qn"),
    )
    cv = corpus_df.select(
        F.col(id_col).alias("neighbor_id"), vec.alias("cv"),
        vnorm.alias("cn"),
    )
    dist = (
        F.col("qn") - F.lit(2.0) * dot(F.col("qv"), F.col("cv"), dim)
    ) + F.col("cn")
    # bcast: O(queries) — rerank joins the shortlist only
    scored = (
        short.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select("query_id", "neighbor_id", dist.alias("l2_dist"))
    )
    w2 = W.partitionBy("query_id").orderBy(
        F.asc("l2_dist"), F.asc("neighbor_id")
    )
    return scored.withColumn(
        "rnk", F.row_number().over(w2).cast("int")
    ).filter(F.col("rnk") <= k).select(
        "query_id", "neighbor_id", "l2_dist", "rnk"
    )


def _l2_struct_sqls(vec_sql: str, norm_sql: str, cents) -> list[str]:
    """SQL text of the (L2^2, cid) argmin structs — the l2 twin of
    :func:`_cosine_struct_sqls` (one py4j crossing; identical parsed
    expression to :func:`_l2_argmin_structs`)."""
    out = []
    for cid, cvec in cents:
        cn = 0.0
        for x in cvec:
            cn = cn + float(x) * float(x)
        d = (
            f"(({norm_sql}) - 2.0D * ({dot_sql_literal(vec_sql, cvec)}))"
            f" + {_sql_double(cn)}"
        )
        out.append(
            f"named_struct('d', {d}, 'cid', CAST({int(cid)} AS BIGINT))"
        )
    return out


def ivf_assign_cell_l2(
    vec: Column | str, vec_norm: Column | str, cents
) -> Column:
    """Nearest-centroid cell id under L2 (the FAISS-default IVF
    metric; the cosine twin is :func:`ivf_assign_cell`) — map-side,
    inline centroid literals, no shuffle. SQL-text inputs take the
    single-crossing construction (see :func:`ivf_assign_cell`)."""
    if isinstance(vec, str) and isinstance(vec_norm, str):
        structs = _l2_struct_sqls(vec, vec_norm, cents)
        best = (
            structs[0]
            if len(structs) == 1
            else f"least({', '.join(structs)})"
        )
        return F.expr(f"({best}).cid")
    structs = _l2_argmin_structs(vec, vec_norm, cents)
    best = structs[0] if len(structs) == 1 else F.least(*structs)
    return best["cid"]


def ivf_probe_cells_l2(
    vec: Column | str, vec_norm: Column | str, cents, nprobe: int
) -> Column:
    """Array of the ``nprobe`` nearest cell ids under L2, map-side."""
    if isinstance(vec, str) and isinstance(vec_norm, str):
        arr = ", ".join(_l2_struct_sqls(vec, vec_norm, cents))
        return F.expr(
            f"transform(slice(sort_array(array({arr})), 1, "
            f"{int(nprobe)}), s -> s.cid)"
        )
    arr = F.array(*_l2_argmin_structs(vec, vec_norm, cents))
    return F.transform(
        F.slice(F.sort_array(arr), 1, nprobe), lambda s: s["cid"]
    )


def pq_code_cols(
    vec: Column, codebooks: list[list[tuple[int, list[float]]]]
) -> list[Column]:
    """The m PQ code columns (0-based codeword indexes, L2 argmin, tie
    -> lowest codeword id) for a double-array vector column — the
    reusable map-side encode the persisted index shares with
    :func:`pq_encode`."""
    sd = len(codebooks[0][0][1])
    out = []
    for j, cb in enumerate(codebooks):
        sub = F.slice(vec, j * sd + 1, sd)
        sn = dot(sub, sub, sd)
        structs = [
            F.struct(
                _l2_expr(sn, sub, cw).alias("d"),
                F.lit(idx).cast("int").alias("idx"),
            )
            for idx, (_cid, cw) in enumerate(cb)
        ]
        best = structs[0] if len(structs) == 1 else F.least(*structs)
        out.append(best["idx"].alias(f"code_{j}"))
    return out


def pq_dqt_cols(
    vec: Column, codebooks: list[list[tuple[int, list[float]]]]
) -> list[Column]:
    """The m per-query ADC distance-table columns (``dqt_j`` =
    array<double> over the codebook), map-side."""
    sd = len(codebooks[0][0][1])
    out = []
    for j, cb in enumerate(codebooks):
        sub = F.slice(vec, j * sd + 1, sd)
        sn = dot(sub, sub, sd)
        out.append(
            F.array(*[_l2_expr(sn, sub, cw) for _cid, cw in cb]).alias(
                f"dqt_{j}"
            )
        )
    return out


def pq_adc_score(m: int) -> Column:
    """Fixed-order (left-assoc) ADC sum over the m lookups — float
    addition order is part of the cross-engine contract."""
    score = F.element_at(F.col("dqt_0"), F.col("code_0") + 1)
    for j in range(1, m):
        score = score + F.element_at(
            F.col(f"dqt_{j}"), F.col(f"code_{j}") + 1
        )
    return score


# ------------------------------------------------- PQ production tier
# The literal-inlined encode above is the ORACLE TWIN: every distance
# is a sequential fold both engines state identically, so codes, ADC
# sums, and ranks are bit-replicable in SQL. It is also interpretation
# -bound — m*K inlined l2-fold expressions per corpus row (~400 at
# m=8, K=50) — measured corpus-linear and 55% of the r11 full-suite
# wall. The production tier below is the same pattern the IVF family
# carries (ivf_assign_pandas): one numpy/BLAS argmin per Arrow batch
# against the broadcast codebook tensor, O(m*K*sd) FLOPs per row, flat
# in interpreter cost. Codes are integer argmins (tie -> lowest index,
# numpy first-occurrence — the same contract as pq_code_cols), so the
# two paths agree except on exact float ties between distinct
# codewords; agreement is asserted in tests across SFs, and the ADC
# score downstream is still computed JVM-side from the LITERAL query
# distance tables, so the served result stays bit-identical to the
# SQL oracle whenever the codes agree.


def _codebook_tensors(codebooks):
    """Per-subspace (K, sd) float64 codeword matrices, index order."""
    import numpy as np

    return [
        np.array([cw for _cid, cw in cb], dtype=np.float64)
        for cb in codebooks
    ]


def pq_codes_arrow(
    df: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    vec_col: str = "embedding",
    drop_vec: bool = True,
    cell_cents: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Arrow/numpy PQ encode — the 100 TB path. Appends
    ``code_0..code_{m-1}`` (int, argmin codeword index per subspace)
    to the input schema (minus ``vec_col`` when ``drop_vec``); when
    ``cell_cents`` is given, also appends the L2-nearest ``cell``
    (bigint) in the same single map-side pass, so the composed IVFADC
    corpus projection (cell + codes) is ONE Arrow stage — no shuffle,
    no join, exactly the shape of the literal ivfpq_topk projection.

    Distances use the BLAS form ||a||^2 - 2a.b + ||b||^2; not
    bit-identical to the sequential fold, but the emitted CODES are
    integers that agree with pq_code_cols unless two codewords tie to
    the last ulp (asserted across SFs in tests/test_similarity.py,
    the ivf_assign_pandas convention)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        IntegerType, LongType, StructField, StructType,
    )

    CB = _codebook_tensors(codebooks)
    m = len(CB)
    sd = CB[0].shape[1]
    cb_norms = [(C * C).sum(axis=1) for C in CB]
    if cell_cents is not None:
        cents_sorted = sorted(cell_cents, key=lambda c: c[0])
        CC = np.array([v for _cid, v in cents_sorted], dtype=np.float64)
        cc_ids = np.array([cid for cid, _v in cents_sorted], dtype=np.int64)
        cc_norms = (CC * CC).sum(axis=1)

    src = df.withColumn(vec_col, F.col(vec_col).cast("array<double>"))
    keep = [
        f for f in src.schema.fields
        if not (drop_vec and f.name == vec_col)
    ]
    keep_names = [f.name for f in keep]
    out_fields = list(keep)
    if cell_cents is not None:
        out_fields.append(StructField("cell", LongType(), False))
    out_fields += [
        StructField(f"code_{j}", IntegerType(), False) for j in range(m)
    ]
    out_schema = StructType(out_fields)

    def _encode(batches):
        for pdf in batches:
            if len(pdf) == 0:  # np.stack rejects empty partitions
                continue
            V = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            out = pdf[keep_names].copy()
            if cell_cents is not None:
                vn = (V * V).sum(axis=1)
                d2c = vn[:, None] - 2.0 * (V @ CC.T) + cc_norms[None, :]
                # argmin first-occurrence over cid-ascending rows ==
                # tie -> lowest cid, the ivf_assign_cell_l2 contract
                out["cell"] = cc_ids[d2c.argmin(axis=1)]
            for j in range(m):
                sub = V[:, j * sd:(j + 1) * sd]
                d2 = (
                    (sub * sub).sum(axis=1)[:, None]
                    - 2.0 * (sub @ CB[j].T)
                    + cb_norms[j][None, :]
                )
                out[f"code_{j}"] = d2.argmin(axis=1).astype(np.int32)
            yield out

    return src.mapInPandas(_encode, out_schema)


def _fold_dot_py(a, b) -> float:
    """Pure-Python sequential dot — left-to-right IEEE double ops,
    bit-identical to the engine fold (:func:`dot`) and to DuckDB's
    list_dot_product on the same double values (the established
    _l2_expr codeword-norm precedent)."""
    s = 0.0
    for x, y in zip(a, b):
        s = s + float(x) * float(y)
    return s


def _double_total_order_key(x: float) -> int:
    """Sortable integer key reproducing Spark/Java's total order on
    doubles (Double.compare: -0.0 < 0.0, NaN greatest) — the order
    sort_array uses on the (cosine, -cid) probe structs. Python's <
    on floats treats -0.0 == 0.0 and is undefined under NaN, so a
    driver-side replication of an engine sort must key on the bits."""
    b = struct.unpack(">q", struct.pack(">d", float(x)))[0]
    return b if b >= 0 else b ^ 0x7FFFFFFFFFFFFFFF


def ivf_query_table(
    queries_df: DataFrame,
    cents,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    return_cells: bool = False,
):
    """Driver-computed IVF query batch — (query_id, qv, qn, cell), one
    row per probed cell — replacing the map-side literal probe
    (:func:`ivf_probe_cells`) on the SERVE path.

    Why driver-side (guide §1.2 per-task work + the pq_query_tables
    precedent): the literal probe inlines one from_json + dim-term fold
    + sqrt per centroid into the plan; ANALYSIS of that ~5k-node tree
    is a >1 s constant per action that references it, and the serve
    references it twice (probed-cell collect + the broadcast join).
    The query batch is bounded by the same small-batch contract the
    broadcast relies on, so the identical doubles are folded here in
    pure Python — left-to-right IEEE ops (:func:`_fold_dot_py`),
    cosine = dot / sqrt(qn * cn) with math.sqrt == Java Math.sqrt
    (both correctly rounded), and the (cosine DESC, cid ASC) order
    reproduced under Java's total order on doubles
    (:func:`_double_total_order_key`) — and shipped as DATA.
    Bit-identical output is asserted against the literal probe in
    tests/test_ann_index_serve.py.

    ``return_cells=True`` returns ``(df, sorted_distinct_cells)`` — the
    probed cells are already known here, so serve paths that prune by
    cell skip a distinct+collect job over the query table (r13, guide
    §1.2: don't recompute what the driver just computed)."""
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StructField, StructType,
    )

    cn_by_cid = [(cid, _fold_dot_py(cv, cv), cv) for cid, cv in cents]
    rows = queries_df.select(
        F.col(id_col).cast("bigint").alias("qid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).collect()  # bounded: the ANN small-query-batch contract
    data = []
    for r in rows:
        v = [float(x) for x in r["v"]]
        qn = _fold_dot_py(v, v)
        scored = sorted(
            (
                -_double_total_order_key(
                    _fold_dot_py(v, cv) / math.sqrt(qn * cn)
                ),
                cid,
            )
            for cid, cn, cv in cn_by_cid
        )
        for _key, cid in scored[: max(nprobe, 0)]:
            data.append((int(r["qid"]), v, qn, int(cid)))
    schema = StructType([
        StructField("query_id", LongType(), False),
        StructField("qv", ArrayType(DoubleType(), False), False),
        StructField("qn", DoubleType(), False),
        StructField("cell", LongType(), False),
    ])
    spark = queries_df.sparkSession
    # 1-slice parallelize: see pq_query_tables — avoids a per-core
    # fan-out of a few dozen rows on every consuming action
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(data, 1), schema
    )
    if return_cells:
        return df, sorted({row[3] for row in data})
    return df


def pq_query_tables(
    queries_df: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_cents: list[tuple[int, list[float]]] | None = None,
    nprobe: int | None = None,
    return_cells: bool = False,
):
    """Driver-computed per-query ADC distance tables — and, when
    ``cell_cents``/``nprobe`` are given, probed cells (one row per
    query x probe, the exploded shape the IVFADC join takes) — as a
    SMALL DataFrame: (query_id, [cell,] dqt_0..dqt_{m-1}).

    Why driver-side: the literal :func:`pq_dqt_cols` projection inlines
    m*K fold expressions (~4k plan nodes at m=8, K=50); analysis +
    codegen of that plan is a multi-second CONSTANT per serve (3.4 MiB
    task binaries) regardless of corpus size. The query batch is small
    by the ANN contract, so the same doubles are folded here in pure
    Python — left-to-right IEEE ops, bit-identical to the engine fold
    and the SQL oracle — and shipped as DATA instead of PLAN.
    Collect is O(|Q| * dim), bounded by the small-query-batch contract
    (the same bound every broadcast of the query batch relies on)."""
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StructField, StructType,
    )

    m = len(codebooks)
    sd = len(codebooks[0][0][1])
    # pre-fold codeword norms once (driver-side, fold order)
    cb_norms = [
        [_fold_dot_py(cw, cw) for _cid, cw in cb] for cb in codebooks
    ]
    # bounded collect: O(|Q|) rows — the ANN small-query-batch contract
    rows = queries_df.select(
        F.col(id_col).cast("bigint").alias("qid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).collect()
    if cell_cents is not None:
        cents_sorted = sorted(cell_cents, key=lambda c: c[0])
        cc_norms = [_fold_dot_py(v, v) for _cid, v in cents_sorted]
    data = []
    for r in rows:
        v = [float(x) for x in r["v"]]
        dqts = []
        for j, cb in enumerate(codebooks):
            sub = v[j * sd:(j + 1) * sd]
            sn = _fold_dot_py(sub, sub)
            dqts.append([
                (sn - 2.0 * _fold_dot_py(sub, cw)) + cb_norms[j][ki]
                for ki, (_cid, cw) in enumerate(cb)
            ])
        if cell_cents is None:
            data.append((r["qid"], *dqts))
        else:
            vn = _fold_dot_py(v, v)
            # (d, cid) ascending == ORDER BY d ASC, cid ASC — the
            # ivf_probe_cells_l2 struct-sort contract
            scored = sorted(
                (
                    (vn - 2.0 * _fold_dot_py(v, cv)) + cc_norms[ci],
                    cid,
                )
                for ci, (cid, cv) in enumerate(cents_sorted)
            )
            for d, cid in scored[: nprobe or 1]:
                data.append((r["qid"], cid, *dqts))
    fields = [StructField("query_id", LongType(), False)]
    if cell_cents is not None:
        fields.append(StructField("cell", LongType(), False))
    fields += [
        StructField(f"dqt_{j}", ArrayType(DoubleType(), False), False)
        for j in range(m)
    ]
    spark = queries_df.sparkSession
    # 1-slice parallelize: the default createDataFrame pickles this
    # bounded batch into one near-empty Python slice PER CORE, and
    # every downstream action pays a 32-task Python evaluation of it
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(data, 1), StructType(fields)
    )
    if return_cells:
        # probed cells were just computed here — hand them back so
        # pruning serve paths skip a distinct+collect job (r13)
        cells = (
            sorted({row[1] for row in data})
            if cell_cents is not None
            else []
        )
        return df, cells
    return df


def pq_codebooks_kmeans(
    corpus_df: DataFrame,
    m: int = 8,
    n_codewords: int = 256,
    max_sample: int = 10_000,
    iters: int = 5,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[tuple[int, list[float]]]]:
    """K-means-trained PQ codebooks — the production training path
    (Jégou et al. train per-subspace codebooks with k-means; the
    stride books in :func:`pq_codebooks` are the SQL-replicable oracle
    twin). Same bounded-driver contract as :func:`ivf_centroids_kmeans`:
    ONE sample of <= max_sample vectors regardless of corpus size, then
    ``iters`` Lloyd iterations per subspace in numpy under plain L2
    (PQ's metric — not the cosine rule the IVF cell trainer uses).
    Deterministic for a fixed corpus + seed. Returns the
    codebooks[j] = [(index, subvector)] shape every encode/ADC helper
    takes, with codeword ids equal to train-order indexes."""
    import numpy as np

    n = corpus_df.count()
    if n == 0:
        return []
    sample = corpus_df.select(F.col(vec_col).cast("array<double>").alias("v"))
    if n > max_sample:
        # 1.2x oversample so the post-limit sample is (almost) always full
        sample = sample.sample(
            fraction=min(1.0, 1.2 * max_sample / n), seed=seed
        )
    rows = sample.limit(max_sample).collect()  # bounded by max_sample
    X = np.asarray([list(r["v"]) for r in rows], dtype=np.float64)
    d = X.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sd = d // m
    k = min(n_codewords, len(X))
    rng = np.random.default_rng(seed)
    books: list[list[tuple[int, list[float]]]] = []
    for j in range(m):
        S_j = X[:, j * sd:(j + 1) * sd]
        C = S_j[rng.choice(len(S_j), size=k, replace=False)].copy()
        for _ in range(iters):
            d2 = (
                (S_j * S_j).sum(axis=1)[:, None]
                - 2.0 * (S_j @ C.T)
                + (C * C).sum(axis=1)[None, :]
            )
            assign = d2.argmin(axis=1)
            for c in range(k):
                members = S_j[assign == c]
                # empty-cluster guard: re-seed from the sample
                C[c] = members.mean(axis=0) if len(members) else S_j[c % len(S_j)]
        books.append([(int(c), [float(x) for x in C[c]]) for c in range(k)])
    return books


PQ_KMEANS_SCALE_BITS = 20  # quantization scale 2^20 (exact in doubles)


def pq_codebooks_kmeans_exact(
    corpus_df: DataFrame,
    m: int = 8,
    n_codewords: int = 32,
    max_sample: int = 2000,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[tuple[int, list[float]]]]:
    """K-means-trained PQ codebooks whose every arithmetic step is
    cross-engine replicable (r13, VERDICT r12 ask #5) — the
    SQL-expressible sibling of :func:`pq_codebooks_kmeans`, so the
    full production serve (train + Arrow encode + driver-folded ADC +
    rerank) gets a hash-exact DuckDB oracle instead of a rows-only
    check.

    Determinism recipe (every step stated identically by the oracle's
    unrolled CTEs):

    - sample = rows with ``id_col < max_sample`` (the fixture's ids are
      dense from 0, so this is the bounded-driver-sample contract in a
      predicate DuckDB can state), collected WITH their ids and ordered
      by id on the driver — the sample is bounded and goes to the
      driver anyway, so the order costs no exchange (a Spark-side
      global sort would range-partition every sampled vector through a
      shuffle) and does not depend on the input's partition order;
    - subvectors quantize to integers: ``floor(x * 2^20)`` — the
      power-of-two scaling only shifts the double's exponent, so the
      product is exact and the floor unambiguous in both engines;
    - Lloyd runs on INTEGERS: distances are exact integer sums (no
      float addition order), argmin ties break to the lowest codeword
      id, centroid updates are floored integer means
      (``sum // count``, Python floor semantics — the SQL twin states
      the same value as ``(s - ((s % n + n) % n)) // n``), empty
      clusters re-seed from sample row ``cid % n_sample``;
    - init = the first ``k`` sample rows (k = min(n_codewords, n));
    - the returned codewords are ``c / 2^20`` — again exponent-only,
      so the doubles are bit-identical across engines.

    Training quality is the same Lloyd dynamics as the float trainer
    (the 2^-20 quantization is far below the embeddings' scale);
    recall properties are asserted by the existing PQ harness."""
    import numpy as np

    sample = corpus_df.filter(F.col(id_col) < max_sample).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    rows = sample.collect()  # bounded by max_sample (dense-id contract)
    if not rows:
        return []
    rows.sort(key=lambda r: r["id"])
    X = np.asarray([list(r["v"]) for r in rows], dtype=np.float64)
    d = X.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sd = d // m
    n = len(X)
    k = min(n_codewords, n)
    scale = float(1 << PQ_KMEANS_SCALE_BITS)
    Q = np.floor(X * scale).astype(np.int64)
    books: list[list[tuple[int, list[float]]]] = []
    for j in range(m):
        S_j = Q[:, j * sd:(j + 1) * sd]
        C = S_j[:k].copy()
        for _ in range(iters):
            diff = S_j[:, None, :] - C[None, :, :]
            d2 = (diff * diff).sum(axis=2)
            assign = d2.argmin(axis=1)  # ties -> lowest cid
            for c in range(k):
                members = S_j[assign == c]
                if len(members):
                    # floored integer mean, coordinate-wise
                    C[c] = members.sum(axis=0) // len(members)
                else:
                    C[c] = S_j[c % n]
        books.append(
            [(int(c), [float(x) / scale for x in C[c]]) for c in range(k)]
        )
    return books
