"""Persisted IVF vector index over the versioned layer (VERDICT r8
ask #2): build the expensive parts of approximate-nearest-neighbor
search — centroids and per-vector cell assignments — ONCE per corpus
change and serve many queries from the stored index, instead of
re-clustering and re-assigning per query (the pre-r9
:func:`operators.similarity.ivf_topk` shape, whose cost is paid on the
wrong side at 100 TB: per *query* instead of per *corpus change*).

Index layout (two versioned tables under ``index_dir``):

    index_dir/centroids     (cid bigint, cvec array<double>)
    index_dir/assignments   (neighbor_id bigint, cv array<double>,
                             cn double, cell bigint)

- ``centroids`` commit meta records the build params (centroid
  strategy, stride/k, assignment path, columns) and the source table.
- every ``assignments`` commit records the SOURCE VERSION it covers —
  the watermark incremental maintenance resumes from.
- assignments are hive-partitioned BY CELL: a query probing ``nprobe``
  cells reads only those partitions' files (manifest skip_filter +
  partition pruning), so serving cost is O(corpus/nprobe-fraction),
  not O(corpus) — the at-scale payoff of persisting the index.

Incremental maintenance (:func:`refresh_ann_index`) rides the table's
own change feed: an append to the corpus assigns ONLY the new vectors
against the stored centroids (``read_changes``'s append fast path
reads just the added files — O(batch), proven by test) and appends
them to the assignments table. Non-append changes (delete/update/
overwrite) and drift past ``drift_threshold`` (new rows vs indexed
rows) trigger a full rebuild with fresh centroids — stale centroids
on a shifted distribution silently degrade recall, so the re-cluster
trigger is part of the contract, not an optimization.

Concurrency (VERDICT r9 ask #5 — cron writers make refresh-vs-append
races routine): the ASSIGNMENTS commit is the index's single
linearization point. Every assignments commit CASes on the version
the maintainer read (``expected_version``) and records BOTH the
source watermark and the ``centroids_version`` it was assigned
against; serving and maintenance read centroids PINNED to that
recorded version, never "latest". So a build's centroids overwrite
landing without its assignments commit (lost race, crash) is an
orphan snapshot nobody references — the index is never observable in
a torn centroids/assignments state. Two concurrent refreshes: one
wins the CAS, the loser's :class:`~.versioned.CommitConflict` makes
:func:`refresh_ann_index` retry from fresh state, where it sees the
winner's watermark and no-ops (never duplicate neighbor rows). A
corpus append landing mid-refresh stays above the pinned watermark
and is picked up by the next refresh.

Reference parity: the reference has no similarity search at all
(SURVEY.md §2); this is the index half of the ANN family the north
star's training-data pipeline needs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import similarity as S
from .versioned import (
    CommitConflict,
    _expand_manifest,
    _load_manifest,
    _manifest_partition_spec,
    _mapping_enabled,
    current_version,
    read_changes,
    read_versioned,
    write_versioned,
)


def _n_rows(table_dir: str) -> int:
    """Committed row count from manifest stats — metadata-only."""
    m = _load_manifest(table_dir, current_version(table_dir))
    _, stats = _expand_manifest(table_dir, m)
    return sum(s["rows"] for s in stats.values())

_CENTROIDS = "centroids"
_ASSIGNMENTS = "assignments"


def _subdir(index_dir: str, name: str) -> str:
    return os.path.join(index_dir, name)


def _index_meta(index_dir: str) -> dict:
    """Build params + watermarks, all resolved THROUGH the latest
    assignments commit (the linearization point): its meta names the
    ``centroids_version`` this index state was assigned against, and
    the build params ride that pinned centroids commit — never the
    centroids table's unpinned head, which a concurrent build may
    have already moved. Also carries ``assignments_version`` (the
    version read — the CAS base for the next maintenance commit)."""
    cdir = _subdir(index_dir, _CENTROIDS)
    adir = _subdir(index_dir, _ASSIGNMENTS)
    a_v = current_version(adir)
    am = _load_manifest(adir, a_v)
    c_v = am.get("meta", {}).get(
        # pre-r10 indexes didn't record it: fall back to head (the
        # only version such an index can have been built against)
        "centroids_version", current_version(cdir)
    )
    cm = _load_manifest(cdir, c_v)
    meta = dict(cm.get("meta", {}))
    meta["source_version"] = am.get("meta", {})["source_version"]
    meta["centroids_version"] = c_v
    meta["assignments_version"] = a_v
    return meta


def load_centroids(
    spark: SparkSession, index_dir: str, version: int | None = None
) -> list[tuple[int, list[float]]]:
    """Stored centroids as the driver-side (cid, values) list every
    assignment/probe path accepts — O(n_centroids) rows by
    construction. ``version`` pins a centroids snapshot (serving and
    refresh pass the one recorded by the latest assignments commit);
    None reads the head.

    The table is metadata-sized BY CONTRACT (<= max_centroids rows,
    written by build_ann_index alone: flat layout, no DVs, no column
    mapping), so it is read driver-side with pyarrow — the same size
    class as the manifest itself — instead of paying a Spark job per
    serve (r13, guide §5: the job was pure scheduling overhead). Any
    table feature the fast path can't honor falls back to the full
    versioned read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cdir = _subdir(index_dir, _CENTROIDS)
    try:
        v = version if version is not None else current_version(cdir)
        manifest = _load_manifest(cdir, v)
        # a partition column lives in the path, not in the file
        if not (
            manifest.get("dvs")
            or _manifest_partition_spec(manifest)
            or _mapping_enabled(manifest.get("schema"))
        ):
            files, _stats = _expand_manifest(cdir, manifest)
            out: list[tuple[int, list[float]]] = []
            for f in files:
                tbl = pq.read_table(
                    os.path.join(cdir, f), columns=["cid", "cvec"]
                )
                cids = tbl.column("cid").to_pylist()
                vecs = tbl.column("cvec").to_pylist()
                out.extend(
                    (int(c), [float(x) for x in vec])
                    for c, vec in zip(cids, vecs)
                )
            return sorted(out)
    except (OSError, KeyError, pa.ArrowInvalid):
        pass  # unexpected layout: take the versioned-reader path
    rows = read_versioned(
        spark, _subdir(index_dir, _CENTROIDS), version=version
    ).collect()
    return sorted(
        (int(r["cid"]), [float(x) for x in r["cvec"]]) for r in rows
    )


def _assign(
    corpus: DataFrame, cents, assignment: str, id_col: str, vec_col: str,
    metric: str = "cosine",
) -> DataFrame:
    """(neighbor_id, cv, cn, cell) for every corpus vector — the
    stored inverted file. 'literal' is the DuckDB-replicable oracle
    twin; 'pandas' is the centroid-count-flat Arrow/numpy scale path
    (same contract as similarity.ivf_topk). ``metric`` picks the cell
    rule: 'cosine' (the original serve metric) or 'l2' (the FAISS
    default, what the IVF-PQ serve path scores in)."""
    if assignment == "pandas":
        if metric != "cosine":
            raise ValueError(
                "metric 'l2' needs assignment='literal' (the pandas "
                "assigner is cosine-only)"
            )
        return S.ivf_assign_pandas(
            corpus, cents, nprobe=1, id_col=id_col, vec_col=vec_col
        )
    dim = len(cents[0][1]) if cents else None
    vv = F.col(vec_col).cast("array<double>")
    assign = (
        S.ivf_assign_cell_l2 if metric == "l2" else S.ivf_assign_cell
    )
    return (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            vv.alias("cv"),
            S.dot(vv, vv, dim).alias("cn"),
        )
        # SQL-text columns: one py4j crossing for the whole centroid
        # argmax instead of O(n_centroids) Column-API round-trips
        # (construction was 1.1 s of this build at sf0.1)
        .withColumn("cell", assign("cv", "cn", cents))
    )


def build_ann_index(
    spark: SparkSession,
    corpus_dir: str,
    index_dir: str,
    centroids: str = "kmeans",
    n_centroids: int = 64,
    stride: int = 50,
    max_sample: int = 10_000,
    assignment: str = "pandas",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
    pq_m: int | None = None,
    pq_stride: int = 10,
    pq_max_codewords: int = 50,
    max_centroids: int | None = None,
    pq_encode: str = "arrow",
) -> dict:
    """Build (or fully rebuild) the index from the corpus table's
    CURRENT snapshot. Returns ``{"source_version", "n_centroids",
    "n_indexed"}``. Cost: one centroid derivation (bounded driver
    sample for kmeans) + one map-side assignment pass + one
    cell-partitioned write — O(corpus), paid once per build.

    Concurrency: the final assignments commit CASes on the
    assignments version read at entry and records the new centroids
    version; losing the race raises
    :class:`~.versioned.CommitConflict` (the centroids snapshot
    already written is an unreferenced orphan — harmless). Callers
    that want retry-until-landed go through
    :func:`refresh_ann_index`."""
    adir = _subdir(index_dir, _ASSIGNMENTS)
    a_v = current_version(adir)
    v = current_version(corpus_dir)
    # read PINNED to the recorded watermark: a concurrent append
    # landing between current_version and the scan would otherwise be
    # indexed yet left above the watermark, so the next refresh would
    # re-assign those vectors into duplicate neighbor rows (ADVICE r9)
    corpus = read_versioned(spark, corpus_dir, version=v)
    if centroids == "kmeans":
        cents = S.ivf_centroids_kmeans(
            corpus, n_centroids=n_centroids, max_sample=max_sample,
            id_col=id_col, vec_col=vec_col,
        )
    else:
        cents = S.ivf_centroids(
            corpus, stride=stride, id_col=id_col, vec_col=vec_col,
            max_centroids=max_centroids,
        )
    if not cents:
        raise ValueError(f"{corpus_dir} has no vectors to index")
    params = {
        "source_dir": corpus_dir,
        "centroids": centroids,
        "n_centroids": len(cents),
        "stride": stride,
        "max_sample": max_sample,
        "assignment": assignment,
        "id_col": id_col,
        "vec_col": vec_col,
        "metric": metric,
        "max_centroids": max_centroids,
    }
    codebooks = None
    if pq_m:
        # PQ codebooks ride the centroids commit meta (O(m * K * sd)
        # doubles — metadata-sized) so serving and refresh resolve
        # them PINNED exactly like the centroids themselves
        codebooks = S.pq_codebooks(
            corpus, m=pq_m, stride=pq_stride, id_col=id_col,
            vec_col=vec_col, max_codewords=pq_max_codewords,
        )
        params["pq_m"] = pq_m
        params["pq_stride"] = pq_stride
        params["pq_max_codewords"] = pq_max_codewords
        params["pq_encode"] = pq_encode
        params["pq_codebooks"] = [
            [[cid, list(cw)] for cid, cw in cb] for cb in codebooks
        ]
    # one slice -> one data file: the centroid table is metadata-sized
    # by contract (<= max_centroids rows), but a default createDataFrame
    # fans it across every core — measured 32 near-empty files per
    # build, each paying listing + footer-stats + scan-task overhead on
    # every subsequent load (guide §6 small-files). parallelize(_, 1),
    # NOT coalesce(1): coalesce keeps the 32 pickled parent slices and
    # evaluates them SEQUENTIALLY in the one task (measured 0.45 s ->
    # 3.9 s on the centroids write).
    cent_df = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(cid, vec) for cid, vec in cents], 1
        ),
        "cid bigint, cvec array<double>",
    )
    c_new = write_versioned(
        spark, cent_df, _subdir(index_dir, _CENTROIDS),
        mode="overwrite", meta={**params, "source_version": v},
    )
    assigned = _assign(corpus, cents, assignment, id_col, vec_col, metric)
    if codebooks:
        if pq_encode == "arrow":
            # production encode: numpy argmin per Arrow batch (codes
            # agree with the literal fold path — see pq_codes_arrow)
            assigned = S.pq_codes_arrow(
                assigned, codebooks, vec_col="cv", drop_vec=False
            )
        else:
            assigned = assigned.select(
                "*", *S.pq_code_cols(F.col("cv"), codebooks)
            )
    # co-locate each cell before the partitioned write: without this,
    # every input task writes a sliver into every cell directory and
    # the store fragments into O(tasks x cells) tiny files (measured
    # ~1300 at sf0.1), which the pruned serve then pays for in
    # planning. One shuffle -> ~one file per cell.
    assigned = assigned.repartition(F.col("cell"))
    a_new = write_versioned(
        spark, assigned, adir,
        mode="overwrite", partition_by=["cell"],
        # CAS: if any maintenance landed since a_v, raise instead of
        # publishing assignments that drop or duplicate its rows
        expected_version=a_v,
        meta={"source_version": v, "centroids_version": c_new},
    )
    n_indexed = _n_rows(adir)
    return {
        "source_version": v,
        "n_centroids": len(cents),
        "n_indexed": n_indexed,
        "centroids_version": c_new,
        "assignments_version": a_new,
        "action": "built",
    }


def refresh_ann_index(
    spark: SparkSession,
    corpus_dir: str,
    index_dir: str,
    drift_threshold: float = 0.5,
    max_attempts: int = 5,
) -> dict:
    """Bring the index up to the corpus's current snapshot.

    - no corpus change since the watermark: no-op, zero jobs;
    - append-only changes below ``drift_threshold`` (new rows /
      indexed rows): assign ONLY the new vectors against the STORED
      centroids and append — O(batch) work (the change feed's
      append fast path reads just the added files; the assignments
      commit carries every prior file by reference);
    - non-append changes (delete/update/overwrite reached the corpus)
      or drift past the threshold: full rebuild with fresh centroids —
      re-clustering on distribution shift is what keeps recall honest.

    Every commit CASes on the assignments version this refresh READ;
    a concurrent maintainer landing first raises
    :class:`~.versioned.CommitConflict` internally and the refresh
    RETRIES against fresh state (see module docstring) — typically
    resolving to a no-op because the winner already covered the
    range. After ``max_attempts`` lost races the last conflict
    propagates (named, never silent staleness or double-indexing).

    Returns ``{"action": "noop"|"assigned"|"rebuilt", ...}``."""
    last: CommitConflict | None = None
    for _ in range(max_attempts):
        try:
            return _refresh_once(
                spark, corpus_dir, index_dir, drift_threshold
            )
        except CommitConflict as exc:
            last = exc
    raise last


def _refresh_once(
    spark: SparkSession,
    corpus_dir: str,
    index_dir: str,
    drift_threshold: float,
) -> dict:
    meta = _index_meta(index_dir)
    v0 = meta["source_version"]
    a_v = meta["assignments_version"]
    cur = current_version(corpus_dir)
    if cur == v0:
        return {"action": "noop", "source_version": v0}

    def _rebuild():
        return build_ann_index(
            spark, corpus_dir, index_dir,
            centroids=meta.get("centroids", "kmeans"),
            n_centroids=meta.get("n_centroids", 64),
            stride=meta.get("stride", 50),
            max_sample=meta.get("max_sample", 10_000),
            assignment=meta.get("assignment", "pandas"),
            id_col=meta.get("id_col", "vec_id"),
            vec_col=meta.get("vec_col", "embedding"),
            metric=meta.get("metric", "cosine"),
            pq_m=meta.get("pq_m"),
            pq_stride=meta.get("pq_stride", 10),
            pq_max_codewords=meta.get("pq_max_codewords", 50),
            max_centroids=meta.get("max_centroids"),
        ) | {"action": "rebuilt"}

    non_append = [
        v
        for v in range(v0 + 1, cur + 1)
        if _load_manifest(corpus_dir, v)["mode"] != "append"
    ]
    if non_append:
        return _rebuild()
    adir = _subdir(index_dir, _ASSIGNMENTS)
    n_indexed = _n_rows(adir)
    new_rows = read_changes(spark, corpus_dir, v0, cur).drop("_change_type")
    n_new = new_rows.count()
    if n_indexed and n_new > drift_threshold * n_indexed:
        return _rebuild()
    commit_meta = {
        "source_version": cur,
        "centroids_version": meta["centroids_version"],
    }
    if n_new:
        cents = load_centroids(
            spark, index_dir, version=meta["centroids_version"]
        )
        assigned = _assign(
            new_rows, cents, meta.get("assignment", "pandas"),
            meta.get("id_col", "vec_id"), meta.get("vec_col", "embedding"),
            meta.get("metric", "cosine"),
        )
        if meta.get("pq_m"):
            # encode the batch with the FROZEN codebooks pinned to the
            # same centroids commit — exactly the stale-model posture
            # the drift threshold bounds for the cells themselves
            cbs = _meta_codebooks(meta)
            if meta.get("pq_encode", "arrow") == "arrow":
                assigned = S.pq_codes_arrow(
                    assigned, cbs, vec_col="cv", drop_vec=False
                )
            else:
                assigned = assigned.select(
                    "*", *S.pq_code_cols(F.col("cv"), cbs)
                )
        assigned = assigned.repartition(F.col("cell"))  # one file per cell
        write_versioned(
            spark, assigned, adir, mode="append", partition_by=["cell"],
            expected_version=a_v, meta=commit_meta,
        )
    else:
        # empty appends still move the watermark: stamp a metadata-only
        # append so the next refresh doesn't rescan the same range
        write_versioned(
            spark,
            read_versioned(spark, adir).limit(0),
            adir, mode="append", partition_by=["cell"],
            expected_version=a_v, meta=commit_meta,
        )
    return {"action": "assigned", "n_new": n_new, "source_version": cur}


def ivf_topk_indexed(
    spark: SparkSession,
    queries_df: DataFrame,
    index_dir: str,
    k: int = 3,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prune: bool = True,
) -> DataFrame:
    """Serve top-k cosine neighbors FROM the stored index: centroids
    load O(n_centroids) driver-side, queries probe their ``nprobe``
    nearest cells map-side, and candidates come from the
    cell-partitioned assignments table. With ``prune`` (default) the
    probed cell ids — O(queries x nprobe) driver rows, bounded by the
    same small-query-batch contract as the broadcast — become a static
    partition filter on the assignments scan, so only the probed
    cells' files are read: serving cost tracks the probed fraction of
    the corpus, not the corpus. No clustering, no corpus assignment,
    no corpus-wide scan on the query path. Same output contract as
    :func:`operators.similarity.ivf_topk`
    (query_id, cell, neighbor_id, cosine, rnk)."""
    from pyspark.sql import Window as W

    meta = _index_meta(index_dir)
    # centroids pinned to the version the assignments were built
    # against — a concurrent rebuild's newer centroids must not be
    # scored against this snapshot's cells
    cents = load_centroids(
        spark, index_dir, version=meta["centroids_version"]
    )
    if not cents:
        raise ValueError(f"{index_dir} holds no centroids")
    dim = len(cents[0][1])
    vv = F.col(vec_col).cast("array<double>")
    if meta.get("assignment") == "pandas":
        q = (
            S.ivf_assign_pandas(
                queries_df, cents, nprobe=nprobe, id_col=id_col,
                vec_col=vec_col, out_id="query_id",
            )
            .withColumnRenamed("cv", "qv")
            .withColumnRenamed("cn", "qn")
        )
    else:
        # driver-computed query table (bit-identical to the literal
        # probe — see S.ivf_query_table): the inline centroid-fold
        # expression made ANALYSIS a >1 s constant on every serve
        # action, and the probed-cell collect was a second full pass
        # over the same expression (guide §1.2). return_cells hands
        # the probed cells back without a distinct+collect job (r13).
        q, probed_cells = S.ivf_query_table(
            queries_df, cents, nprobe, id_col=id_col, vec_col=vec_col,
            return_cells=True,
        )
    c = read_versioned(spark, _subdir(index_dir, _ASSIGNMENTS))
    if prune:
        # probed cells — O(queries x nprobe), bounded by the small-
        # query-batch contract: a static isin on the hive partition
        # column lets the scan skip unprobed cells entirely. The
        # pandas path still derives them with one bounded collect.
        if meta.get("assignment") == "pandas":
            probed_cells = sorted(
                r["cell"] for r in q.select("cell").distinct().collect()
            )
        c = c.filter(F.col("cell").isin(probed_cells))
    scored = (
        # bcast: O(queries x nprobe) — the query batch, small by contract
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "cell",
            "neighbor_id",
            S.cosine_with_norms(
                F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"), dim
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= k
    )


def _meta_codebooks(meta: dict) -> list[list[tuple[int, list[float]]]]:
    """The PQ codebooks recorded in the pinned centroids commit meta,
    back in the (cid, values) shape the encode/ADC helpers take."""
    raw = meta.get("pq_codebooks")
    if not raw:
        raise ValueError(
            "index was built without PQ (pq_m unset) — rebuild with "
            "build_ann_index(..., pq_m=...)"
        )
    return [
        [(int(cid), [float(x) for x in cw]) for cid, cw in cb]
        for cb in raw
    ]


def ivfpq_topk_indexed(
    spark: SparkSession,
    queries_df: DataFrame,
    index_dir: str,
    k: int = 5,
    nprobe: int = 2,
    shortlist: int = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prune: bool = True,
    qtables: str = "driver",
) -> DataFrame:
    """Serve the composed IVFADC stack FROM the stored index
    (the persisted twin of :func:`operators.similarity.ivfpq_topk`):
    probed cells become a static partition filter on the
    cell-partitioned assignments scan, ADC scores the STORED codes
    against each query's distance tables, and only the shortlist's
    stored vectors feed the exact-L2 rerank — no corpus access, no
    re-encoding, no re-clustering on the query path. Requires a build
    with ``metric='l2'`` and ``pq_m`` set; centroids AND codebooks
    resolve pinned through the assignments commit, so a concurrent
    rebuild is never half-visible. Output contract matches the
    on-the-fly form: (query_id, neighbor_id, l2_dist, rnk)."""
    from pyspark.sql import Window as W

    meta = _index_meta(index_dir)
    if meta.get("metric") != "l2":
        raise ValueError(
            "ivfpq_topk_indexed needs an l2-metric index (build with "
            "metric='l2'); this index records "
            f"metric={meta.get('metric')!r}"
        )
    cents = load_centroids(
        spark, index_dir, version=meta["centroids_version"]
    )
    codebooks = _meta_codebooks(meta)
    m = len(codebooks)
    dim = len(cents[0][1])
    vv = F.col(vec_col).cast("array<double>")
    vnorm = S.dot(vv, vv, dim)
    if qtables == "driver":
        # probes + ADC tables folded driver-side (bit-identical Python
        # folds, O(|Q|) collect) and shipped as data — the literal
        # projection is a ~4k-node plan whose analysis/codegen is a
        # multi-second constant per serve
        qt, probed_cells = S.pq_query_tables(
            queries_df, codebooks, id_col, vec_col,
            cell_cents=cents, nprobe=nprobe, return_cells=True,
        )
        qfull = queries_df.select(
            F.col(id_col).cast("bigint").alias("query_id"),
            vv.alias("qv"), vnorm.alias("qn"),
        )
    else:
        q = queries_df.select(
            F.col(id_col).alias("query_id"),
            F.explode(
                S.ivf_probe_cells_l2(vv, vnorm, cents, nprobe)
            ).alias("cell"),
            vv.alias("qv"),
            vnorm.alias("qn"),
            *S.pq_dqt_cols(vv, codebooks),
        )
        qt = q.drop("qv", "qn")
        qfull = q.select("query_id", "qv", "qn").distinct()
    c = read_versioned(spark, _subdir(index_dir, _ASSIGNMENTS))
    if prune:
        # probed cells — O(queries x nprobe) by the small-query-batch
        # contract; the driver path already knows them (return_cells),
        # the literal path derives them with one bounded collect
        probed = (
            probed_cells
            if qtables == "driver"
            else sorted(
                r["cell"] for r in qt.select("cell").distinct().collect()
            )
        )
        c = c.filter(F.col("cell").isin(probed))
    # bcast: O(queries x nprobe) — query batch
    pair = (
        c.drop("cv", "cn")
        .join(F.broadcast(qt), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w = W.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    short = (
        pair.select(
            "query_id", "neighbor_id",
            S.pq_adc_score(m).alias("adc_dist"),
        )
        .withColumn("srn", F.row_number().over(w))
        .filter(F.col("srn") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    # rerank from the STORED vectors (cv, cn ride the assignments
    # table) — the index serves end-to-end without touching the corpus
    stored = read_versioned(spark, _subdir(index_dir, _ASSIGNMENTS))
    if prune:
        stored = stored.filter(F.col("cell").isin(probed))
    qv = qfull.distinct()
    dist = (
        F.col("qn") - F.lit(2.0) * S.dot(F.col("qv"), F.col("cv"), dim)
    ) + F.col("cn")
    # bcast: O(queries) — the query batch, small by the ANN contract
    scored = (
        short.join(F.broadcast(qv), "query_id")
        .join(stored.select("neighbor_id", "cv", "cn"), "neighbor_id")
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
