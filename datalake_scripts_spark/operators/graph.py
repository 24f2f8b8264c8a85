"""Iterative graph algorithms over edge-list DataFrames.

The engine already has connected components for dedup clustering
(``dedup.duplicate_clusters_star``, large-star/small-star). This
module adds **PageRank** — the other canonical iterative graph
computation a training-data pipeline needs (web-graph-style quality
priors for corpus weighting; see PAPERS.md on quality scoring).

Design for scale + cross-engine exactness:

- The per-iteration body is pure DataFrame algebra: one shuffle on the
  destination key per iteration (the contribution aggregate). Edges and
  out-degrees are computed once and localCheckpoint()-ed so each
  iteration scans a materialized edge list instead of replaying the
  derivation join N times.
- **Integer fixed-point arithmetic** (nano-rank units, BIGINT): every
  contribution is ``rank DIV out_degree`` (exact truncating integer
  division) and the damping step is ``(85 * s) DIV 100``. Integer sums
  are associative and order-independent, so the result is bit-identical
  regardless of partitioning — and identical to a DuckDB oracle running
  the same unrolled recurrence. Float PageRank cannot give that
  guarantee (sum order varies with shuffle layout).
- Iterations are unrolled into one lazy plan (no driver sync per
  round): for the small fixed iteration counts of rank-prior jobs this
  beats a loop with actions; for open-ended convergence runs, reuse the
  checkpoint-per-round pattern of dedup.duplicate_clusters_star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# 1.0 of rank == 1e9 nano-units; damping 0.85 == 85/100 in integer ops.
RANK_ONE = 1_000_000_000
DAMP_NUM = 85
DAMP_DEN = 100
BASE = RANK_ONE * (DAMP_DEN - DAMP_NUM) // DAMP_DEN  # (1-d) in nano-units


def pagerank_fixed(
    edges: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """PageRank (non-normalized form ``r' = (1-d) + d * Σ r/outdeg``)
    over a directed edge list, ``iterations`` unrolled rounds, exact
    BIGINT nano-unit arithmetic.

    Returns (node, rank_nano BIGINT, rank DOUBLE). Dangling nodes (no
    out-edges) contribute nothing; nodes with no in-edges settle at the
    (1-d) base. ``rank = rank_nano / 1e9`` is a constant-divisor double
    cast, identical across engines.
    """
    edges = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).distinct()
    # materialize once: every iteration re-scans this, not the upstream
    # derivation (at scale: a persisted/bucketed edge table)
    edges = edges.localCheckpoint(eager=False)

    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = edges.groupBy("src").agg(F.count("*").alias("od"))
    # src -> (dst, od): the static join side of every iteration
    contrib_edges = edges.join(outdeg, "src").localCheckpoint(eager=False)

    ranks = nodes.withColumn("rank_nano", F.lit(RANK_ONE).cast("long"))
    for _ in range(iterations):
        contribs = (
            contrib_edges.join(
                ranks, contrib_edges["src"] == ranks["node"], "inner"
            )
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_nano DIV od").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(BASE)
                    + F.expr(f"({DAMP_NUM} * coalesce(s, 0L)) DIV {DAMP_DEN}")
                ).cast("long").alias("rank_nano"),
            )
        )
    return ranks.select(
        "node",
        "rank_nano",
        (F.col("rank_nano").cast("double") / F.lit(float(RANK_ONE))).alias("rank"),
    )


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over an
    undirected graph given as a directed edge list (either or both
    directions; self-loops ignored).

    Algorithm: degree-ordered orientation ("compact-forward"). Each
    undirected edge is oriented from its lower-(degree, id) endpoint to
    the higher, turning the graph into a DAG where every triangle
    appears EXACTLY once as u->v, u->w, v->w — so one join builds the
    two-paths and one semi-ish join closes them, with join fan-out
    bounded by the oriented out-degree, which degree-ordering caps at
    O(sqrt(m)) — the reason this survives power-law graphs where
    low-high id orientation melts on the hub (the at-scale shape used
    by e.g. Cohen's MapReduce triangle counting). Two shuffles total
    beyond the degree computation.

    Returns (node, degree BIGINT, n_triangles BIGINT, clustering
    DOUBLE) for every node of the graph; clustering = 2T / (d(d-1))
    (0.0 when d < 2) — one double division of exact integers, so the
    output is engine- and partitioning-independent."""
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()  # feeds degree, orientation, and closure
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    ).localCheckpoint()
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("db"))
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("e")
        )
        .select("e.u", "e.v")
    )
    e1 = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = oriented.select(F.col("u").alias("y"), F.col("v").alias("z"))
    two_paths = e1.join(e2, "y").select("x", "y", "z")
    closing = und.select(
        F.col("a").alias("ca"), F.col("b").alias("cb")
    )
    tri = two_paths.join(
        closing,
        (F.least("x", "z") == F.col("ca")) & (F.greatest("x", "z") == F.col("cb")),
    ).select("x", "y", "z")
    per_node = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    out = deg.join(per_node, "node", "left").select(
        "node",
        F.col("degree").cast("bigint").alias("degree"),
        F.coalesce(F.col("n_triangles"), F.lit(0)).cast("bigint").alias("n_triangles"),
    )
    return out.select(
        "node",
        "degree",
        "n_triangles",
        F.when(F.col("degree") < 2, F.lit(0.0))
        .otherwise(
            (2.0 * F.col("n_triangles").cast("double"))
            / (
                F.col("degree").cast("double")
                * (F.col("degree") - 1).cast("double")
            )
        )
        .alias("clustering"),
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Breadth-first minimum hop distance from a seed set: returns
    (node, hop) for every node reachable within ``max_hops`` directed
    hops (symmetrize edges first for undirected reach).

    Level-synchronous frontier expansion — the textbook distributed
    BFS: each round is ONE shuffle join (frontier against the edge
    list on the source key) plus an anti-join against the visited set,
    so round h touches only the h-th frontier, never the whole graph.
    Each round's frontier is localCheckpoint()-ed (same contract as
    dedup.duplicate_clusters_star: constant-size plans, no Catalyst
    re-analysis of the join history); visited stays a lazy union of
    those checkpointed frontiers — its leaves are materialized, so
    nothing recomputes, and the whole visited set is never re-written
    per round.

    Exactness: hop numbers are the round index — no arithmetic at all —
    so the result is trivially partition-independent and equal to a
    recursive-CTE oracle computing MIN(hop) per node.
    """
    # materialize the edge list once: every round's frontier join scans
    # this, not the upstream derivation (the pagerank_fixed contract —
    # without it round h replays the full edge derivation h times)
    edges = edges.select(
        F.col(src).alias(src), F.col(dst).alias(dst)
    ).localCheckpoint(eager=False)
    seeds = seeds.select(F.col(seeds.columns[0]).alias("node")).distinct()
    visited = seeds.select("node", F.lit(0).alias("hop")).localCheckpoint()
    frontier = seeds.localCheckpoint()
    for h in range(1, max_hops + 1):
        nxt = (
            edges.join(frontier, edges[src] == frontier["node"])
            .select(edges[dst].alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        # visited stays a lazy union of CHECKPOINTED frontiers: the
        # leaves are materialized, so nothing recomputes, and we skip
        # re-writing the whole visited set every round (O(V * hops));
        # the union tree depth is bounded by max_hops.
        visited = visited.unionByName(nxt.select("node", F.lit(h).alias("hop")))
        frontier = nxt
    return visited


def kcore_rounds(
    edges: DataFrame,
    k: int,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous k-core peeling census over an undirected graph given
    as a SYMMETRIC directed edge list (both directions present): each
    round drops every node whose current degree is below ``k`` and
    restricts the edge list to survivors, then records (round, n_nodes,
    n_edges, sum_nodes). Returns one census row per round, 1..rounds.

    k-core is the standard structural quality filter on web/co-occurrence
    graphs (spam rings and boilerplate clusters live in shallow cores;
    see PAPERS.md on graph-based corpus curation). The fixed ``rounds``
    unroll keeps the computation deterministic and oracle-replicable
    (the BFS/PageRank convention); production convergence runs reuse the
    checkpoint-per-round loop of dedup.duplicate_clusters_star, which
    stops in the round that passes its exact stop test. This loop takes
    an isEmpty() early exit once the core is
    empty or stable-sized (the census rows for the remaining fixed
    rounds are then computed from the stabilized edge set — identical
    output, no wasted shuffles).

    Scale shape: each round is one partial-aggregated degree count plus
    two hash joins on the node key — no whole-graph state beyond the
    current edge list, which shrinks monotonically. localCheckpoint per
    round keeps the plan constant-size.

    Exactness: degrees and node ids are integers; every census column is
    an exact integer aggregate, so the output is partition-independent
    and hash-identical to an unrolled SQL oracle.
    """
    cur = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .localCheckpoint()
    )
    censuses = []
    stable = False
    prev_edges: int | None = None
    for r in range(1, rounds + 1):
        if not stable:
            keep = (
                cur.groupBy("src")
                .agg(F.count(F.lit(1)).alias("d"))
                .filter(F.col("d") >= k)
                .select(F.col("src").alias("node"))
            )
            cur = (
                cur.join(keep.select(F.col("node").alias("src")), "src")
                .join(keep.select(F.col("node").alias("dst")), "dst")
                .select("src", "dst")
                .localCheckpoint()
            )
            n_directed = cur.count()  # bounded driver scalar (census row)
            if prev_edges is not None and n_directed == prev_edges:
                stable = True  # fixpoint: further peels are identity
            if n_directed == 0:
                stable = True
            prev_edges = n_directed
        censuses.append(
            cur.groupBy().agg(
                F.count_distinct(F.col("src"))
                .cast("bigint").alias("n_nodes"),
                (F.count(F.lit(1)) / 2).cast("bigint").alias("n_edges"),
                F.coalesce(F.sum_distinct(F.col("src")), F.lit(0))
                .cast("bigint").alias("sum_nodes"),
            ).select(
                F.lit(r).cast("int").alias("round"),
                "n_nodes",
                "n_edges",
                "sum_nodes",
            )
        )
    out = censuses[0]
    for c in censuses[1:]:
        out = out.unionByName(c)
    return out.orderBy("round")


def pagerank_personalized(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Personalized PageRank (non-normalized ``r' = (1-d)*is_seed + d *
    Sum r/outdeg``): mass teleports only to the SEED set, so rank decays
    with distance from the seeds — the "trusted-seed quality prior" of
    web-corpus curation (seed known-good domains, propagate trust along
    links; the TrustRank construction). Same exact BIGINT nano-unit
    arithmetic and one-shuffle-per-round shape as pagerank_fixed;
    non-seed nodes start (and teleport) at 0, so unreachable nodes
    stay exactly 0 and the result is engine- and partition-exact.
    """
    edges = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).distinct()
    edges = edges.localCheckpoint(eager=False)
    seeds = seeds.select(
        F.col(seeds.columns[0]).alias("node")
    ).distinct().localCheckpoint(eager=False)

    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .unionByName(seeds.select("node"))
        .distinct()
    )
    outdeg = edges.groupBy("src").agg(F.count("*").alias("od"))
    contrib_edges = edges.join(outdeg, "src").localCheckpoint(eager=False)

    base_nodes = nodes.join(
        seeds.select("node", F.lit(True).alias("_seed")), "node", "left"
    ).select(
        "node",
        F.when(F.col("_seed"), F.lit(BASE)).otherwise(F.lit(0))
        .cast("long")
        .alias("base"),
    ).localCheckpoint(eager=False)

    ranks = base_nodes.select(
        "node",
        F.when(F.col("base") > 0, F.lit(RANK_ONE)).otherwise(F.lit(0))
        .cast("long")
        .alias("rank_nano"),
    )
    for _ in range(iterations):
        contribs = (
            contrib_edges.join(
                ranks, contrib_edges["src"] == ranks["node"], "inner"
            )
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_nano DIV od").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            base_nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.col("base")
                    + F.expr(f"({DAMP_NUM} * coalesce(s, 0L)) DIV {DAMP_DEN}")
                ).cast("long").alias("rank_nano"),
            )
        )
    return ranks.select(
        "node",
        "rank_nano",
        (F.col("rank_nano").cast("double") / F.lit(float(RANK_ONE))).alias("rank"),
    )
