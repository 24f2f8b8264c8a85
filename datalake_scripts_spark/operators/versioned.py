"""Versioned parquet tables — manifest-based snapshots over a plain
parquet directory (a Delta-lite: the image has no Delta jars, but the
north star is "PySpark scripts over Delta/Parquet", so the engine
provides the transactional behaviors that matter on the same layout).

Layout:

    table_dir/
      data/part-<uuid>-*.parquet      immutable data files
      _manifests/v00001.json          {"version", "files", "mode", ...}
      _latest                         text file: highest committed version

Semantics:
- writers stage data files first, then commit a manifest, then flip
  ``_latest`` via atomic rename — readers NEVER see a half-written
  snapshot (the reference's overwrite = DROP TABLE + reload leaves a
  window where readers see nothing, SURVEY.md §1.1);
- ``append`` manifests reference prior files + new ones (no rewrite);
  ``overwrite`` references only the new ones — old files stay for time
  travel until vacuumed;
- ``read_versioned(..., version=K)`` time-travels to any committed
  snapshot; ``vacuum`` drops files unreferenced by kept manifests.

Concurrency (Delta-protocol-style optimistic concurrency, no lock):
- a commit PUBLISHES manifest v(N+1) via the commit store's atomic
  create-if-absent (operators.commitstore — the LogStore seam:
  ``os.link`` of a fully-written temp file on POSIX; an object-store
  deployment plugs in a conditional-PUT / DynamoDB-style store, the
  exact split Delta makes, so S3 never degrades to last-writer-wins).
  Two writers racing for the same version: exactly one wins, the
  loser gets :class:`CommitConflict`;
- ``write_versioned`` RETRIES on conflict (appends re-read the new
  latest manifest and re-validate schema — append/append auto-merges,
  Delta's WriteSerializable behavior; a blind overwrite makes no
  read-dependency claim and also retries);
- DML (DELETE/UPDATE/MERGE/OPTIMIZE WHERE) commits pin the snapshot
  they READ (``expected_version``) and, on a lost race, run Delta-style
  LOGICAL conflict resolution (see :func:`_commit_dml`): a winner that
  is disjoint from the DML's work — touched files live with identical
  DV state, same schema/spec, added files cleared by the stats guard —
  is REBASED over automatically (WriteSerializable: the DML serializes
  at its read snapshot), so concurrent cron writers on different
  partitions all land; an overlapping winner raises
  :class:`ConcurrentDMLConflict` naming the conflicting files — the
  caller re-runs discovery (Delta's ConcurrentModificationException
  family). WAP commits keep the strict raise-on-any-conflict behavior;
- ``_latest`` is an advance-only CACHE of the committed-version
  pointer; the truth is the manifest directory itself (atomically
  published files), so a losing writer can never regress the pointer.
Concurrent READERS are always safe (manifests are immutable).
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from .commitstore import get_commit_store, is_manifest_name


def _manifest_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "_manifests")


def _manifest_name(version: int) -> str:
    return f"v{version:05d}.json"


class CommitConflict(Exception):
    """Another writer committed the version this commit raced for
    (Delta's ConcurrentModificationException). Appends auto-retry;
    DML/compaction/WAP re-raise so the caller re-runs against the new
    snapshot."""

    def __init__(self, table_dir: str, version: int):
        self.table_dir = table_dir
        self.version = version
        super().__init__(
            f"manifest v{version:05d} already committed in {table_dir} "
            "by a concurrent writer"
        )


class ConcurrentDMLConflict(CommitConflict):
    """A concurrent commit LOGICALLY conflicts with this DML's read
    set — it rewrote/removed a file this DML rewrote, changed its
    deletion vectors, or changed the table's schema/partition spec —
    so a rebase would publish stale data (Delta's
    ConcurrentDeleteDelete/ConcurrentTransaction family). Disjoint
    winners are rebased automatically and never raise this; re-run
    the operation against the current snapshot to resolve it.
    ``conflicting_files`` names the overlap."""

    def __init__(
        self,
        table_dir: str,
        version: int,
        reason: str,
        conflicting_files: list[str] | None = None,
    ):
        self.table_dir = table_dir
        self.version = version
        self.reason = reason
        self.conflicting_files = sorted(conflicting_files or [])
        named = (
            f": {self.conflicting_files}" if self.conflicting_files else ""
        )
        Exception.__init__(
            self,
            f"concurrent commit(s) up to v{version:05d} in {table_dir} "
            f"conflict with this DML ({reason}{named}); re-run against "
            "the current snapshot",
        )


def current_version(table_dir: str) -> int:
    """Highest committed version, 0 if the table doesn't exist yet.

    ``_latest`` is an advance-only cache that can briefly LAG under
    concurrent writers (the loser of a pointer race must never regress
    it), so the truth is the manifest chain itself. Commits are a
    GAPLESS chain by construction (the CAS targets exactly N+1), so a
    forward WALK from the cached pointer — one stat per un-cached
    commit, usually zero — resolves the head without listing the whole
    directory (the Delta _last_checkpoint + log-tail pattern; a full
    LIST per read would be O(history) on a long-lived table). Only a
    missing/garbled cache falls back to one full listing (a vacuumed
    history makes walking from 0 invalid)."""
    store = get_commit_store()
    v = store.read_pointer(table_dir) or 0
    if v == 0:
        names = store.list_log(table_dir)
        if not names:
            return 0
        v = max(
            (int(n[1:6]) for n in names if is_manifest_name(n)), default=0
        )
    while store.exists(table_dir, _manifest_name(v + 1)):
        v += 1
    return v


def _load_manifest(table_dir: str, version: int) -> dict:
    return json.loads(
        get_commit_store().read(table_dir, _manifest_name(version))
    )


# ---------------------------------------------------------------------------
# Two-level (chunked) manifests — the Iceberg manifest-list idea.
#
# A flat manifest inlines every file entry, so at millions of files the
# driver parses ALL metadata for every read even when a filter prunes
# 99.9% of it. A chunked manifest instead stores a list of CHUNK
# descriptors — {path, n_files, rows, rollup} — where each chunk is an
# immutable side file (in the commit log, `chunk-<hex>.json`) holding
# the file entries of one file group (one hive partition directory, or
# a fixed-size run), and `rollup` is the group-level min/max/null
# union in the SAME shape as per-file stats. Reads prune whole chunks
# against the rollup BEFORE loading any of them; appends CARRY prior
# chunk descriptors verbatim (metadata cost of an append is the new
# files only, not the table's history). Chunks are written before the
# root-manifest CAS, so losers' chunks are invisible garbage that
# vacuum collects — exactly the staged-data-file lifecycle.
# ---------------------------------------------------------------------------

_CHUNK_PREFIX = "chunk-"


def _chunk_rollup(files: list[str], stats: dict) -> dict:
    """Merge per-file stats into one chunk-level stats dict (same shape
    ``_file_may_match`` takes). A column missing from ANY member file's
    stats is unprunable at chunk grain and is omitted; bloom filters
    are per-file only and never roll up."""
    rows = 0
    cols: dict | None = None
    for f in files:
        st = stats.get(f)
        if st is None:
            return {"rows": rows, "columns": {}}
        rows += st.get("rows", 0)
        fc = st.get("columns", {})
        if cols is None:
            # _file_stats stores None for columns with no usable min/max
            # (all-null columns, undecodable encodings) — such columns are
            # unprunable at chunk grain and must be skipped when seeding,
            # mirroring the merge branch's del below.
            cols = {
                k: {"min": v["min"], "max": v["max"], "nulls": v["nulls"]}
                for k, v in fc.items()
                if v is not None
            }
        else:
            for k in list(cols):
                v = fc.get(k)
                if v is None:
                    del cols[k]
                    continue
                cols[k]["min"] = min(cols[k]["min"], v["min"])
                cols[k]["max"] = max(cols[k]["max"], v["max"])
                cols[k]["nulls"] += v["nulls"]
    return {"rows": rows, "columns": cols or {}}


def _write_manifest_chunks(
    table_dir: str, files: list[str], stats: dict, grouping
) -> list[dict]:
    """Group ``files`` (``grouping``: 'partition' groups by directory;
    an int groups fixed-size runs in sorted order), write one immutable
    chunk object per group via the commit store, and return the chunk
    descriptors for the root manifest."""
    import uuid

    groups: dict[str, list[str]] = {}
    if grouping == "partition":
        for f in files:
            groups.setdefault(os.path.dirname(f), []).append(f)
    else:
        size = int(grouping)
        if size <= 0:
            raise ValueError(f"manifest_chunking must be positive, got {grouping}")
        ordered = sorted(files)
        for i in range(0, len(ordered), size):
            groups[f"run{i // size}"] = ordered[i : i + size]
    store = get_commit_store()
    descriptors = []
    for key in sorted(groups):
        members = groups[key]
        name = f"{_CHUNK_PREFIX}{uuid.uuid4().hex}.json"
        payload = {
            "files": members,
            "stats": {f: stats[f] for f in members if f in stats},
        }
        if not store.put_if_absent(table_dir, name, json.dumps(payload).encode()):
            raise RuntimeError(f"chunk name collision: {name}")
        descriptors.append(
            {
                "path": name,
                "n_files": len(members),
                "rollup": _chunk_rollup(members, stats),
            }
        )
    return descriptors


def _expand_manifest(
    table_dir: str, manifest: dict, skip_filter: list[tuple] | None = None
) -> tuple[list[str], dict]:
    """The (files, stats) view of a manifest, flat or chunked.

    For chunked manifests, ``skip_filter`` prunes whole chunks against
    their rollups BEFORE any chunk object is read — the metadata-scale
    win; surviving chunks still go through per-file pruning at the call
    site, so results are identical to the flat layout. Without a
    filter, all chunks load (same information as a flat manifest)."""
    chunks = manifest.get("chunks")
    if chunks is None:
        return manifest["files"], manifest.get("stats", {})
    store = get_commit_store()
    files: list[str] = []
    stats: dict = {}
    for ch in chunks:
        if skip_filter and not _file_may_match(ch.get("rollup"), skip_filter):
            continue
        payload = json.loads(store.read(table_dir, ch["path"]))
        files.extend(payload["files"])
        stats.update(payload["stats"])
    return files, stats


def manifest_chunks_for_read(
    table_dir: str,
    version: int | None = None,
    skip_filter: list[tuple] | None = None,
) -> list[str]:
    """The chunk objects a read would LOAD after rollup pruning — the
    observable for chunk-grain skipping tests (empty list for flat
    manifests)."""
    v = version or current_version(table_dir)
    manifest = _load_manifest(table_dir, v)
    prune = _prune_filter(skip_filter, manifest)
    return [
        ch["path"]
        for ch in manifest.get("chunks", [])
        if _file_may_match(ch.get("rollup"), prune)
    ]


def _json_safe(v):
    """Render a parquet-footer statistic JSON-serializable while keeping
    its ordering semantics (ISO datetime strings sort chronologically)."""
    import datetime
    import decimal

    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def _file_stats(path: str) -> dict:
    """Per-file column stats straight from the parquet footer (pyarrow,
    no Spark job — the same metadata Delta collects at write time).
    Nested columns (dotted path_in_schema) are skipped: skipping
    predicates target top-level scalars."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    cols: dict[str, dict] = {}
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            name = col.path_in_schema
            if "." in name:
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                # no stats for this column in this row group -> the
                # column is unprunable for the whole file (conservative)
                cols[name] = None
                continue
            try:
                mn, mx = _json_safe(st.min), _json_safe(st.max)
            except Exception:
                # pyarrow can't decode min/max for some physical types
                # (e.g. certain decimal encodings) -> unprunable column
                cols[name] = None
                continue
            nulls = int(st.null_count or 0)
            prev = cols.get(name)
            if name in cols and prev is None:
                continue
            if prev is None:
                cols[name] = {"min": mn, "max": mx, "nulls": nulls}
            else:
                cols[name] = {
                    "min": min(prev["min"], mn),
                    "max": max(prev["max"], mx),
                    "nulls": prev["nulls"] + nulls,
                }
    return {
        "rows": md.num_rows,
        "columns": {k: v for k, v in cols.items() if v is not None},
    }


def _cast_partition_value(v: str, type_name: str):
    """Cast a raw hive path segment to its DECLARED column type (the
    manifest schema's type JSON string, e.g. 'integer', 'string',
    'decimal(10,2)'). Declared-type resolution — not value-shape
    inference — is what keeps a STRING partition value like '07' a
    string: blind int() inference would store min=max=7 in the
    manifest stats and a later skip_filter on '07' would compare int
    to str (TypeError) or silently drop the leading zero. Unparseable
    values fall back to the raw string (conservative: stats stay
    comparable to path text rather than poisoning the manifest)."""
    try:
        if type_name in ("byte", "short", "integer", "long"):
            return int(v)
        if type_name in ("float", "double") or type_name.startswith("decimal"):
            return float(v)
        if type_name == "boolean":
            return v.lower() == "true"
        if type_name == "date":
            import datetime

            return datetime.date.fromisoformat(v)
        if type_name in ("timestamp", "timestamp_ntz"):
            import datetime

            return datetime.datetime.fromisoformat(v)
    except ValueError:
        return v
    return v  # string and everything else: the path text verbatim


def _partition_values(relpath: str, col_types: dict | None = None) -> dict:
    """Hive-style ``col=value`` partition values parsed from a manifest
    file path (``data/dt=2024-01-01/part-*.parquet``). Values are
    URL-unescaped (Spark's writer escapes specials) and typed from the
    table's DECLARED schema when ``col_types`` (column name → manifest
    schema type string) is given — the fix for string partition values
    with numeric shapes ('07' stays '07'). Columns absent from
    ``col_types`` fall back to Spark partition-discovery-style
    inference (int, else float, else string).
    ``__HIVE_DEFAULT_PARTITION__`` maps to None (null)."""
    from urllib.parse import unquote

    out: dict = {}
    for seg in relpath.replace("\\", "/").split("/")[:-1]:
        if "=" not in seg:
            continue
        k, _, v = seg.partition("=")
        v = unquote(v)
        if v == "__HIVE_DEFAULT_PARTITION__":
            out[k] = None
            continue
        declared = (col_types or {}).get(k)
        if declared is not None:
            out[k] = _cast_partition_value(v, declared)
            continue
        for cast in (int, float):
            try:
                out[k] = cast(v)
                break
            except ValueError:
                pass
        else:
            out[k] = v
    return out


def _schema_col_types(schema_json: dict | None) -> dict:
    """Column name → type string from a manifest schema JSON (Spark
    StructType jsonValue). Complex types (struct/array/map dicts) are
    skipped — they can't be partition columns."""
    out = {}
    for f in (schema_json or {}).get("fields", []):
        t = f.get("type")
        if isinstance(t, str):
            out[f["name"]] = t
    return out


def _manifest_partition_cols(manifest: dict) -> list[str]:
    """Partition column names of a manifest's hive-laid-out files (the
    first hive path's col=value segment order; [] for flat tables).
    Lets rewrites (DML, OPTIMIZE) PRESERVE the layout: a flat rewrite
    of a date-partitioned table is still correct (the columns fold
    into the data files) but mixes partitions per file, widening
    min/max stats and dulling every later partition prune."""
    for f in manifest.get("files", []):
        segs = []
        d = os.path.dirname(f)
        while "=" in os.path.basename(d):
            segs.insert(0, os.path.basename(d).partition("=")[0])
            d = os.path.dirname(d)
        if segs:
            return segs
    return []


def _manifest_partition_spec(manifest: dict) -> list[str]:
    """The table's CURRENT partition spec: the manifest-recorded
    ``partition_spec`` (authoritative since partition evolution became
    an explicit, metadata-tracked operation), falling back to path
    inference (:func:`_manifest_partition_cols`) for manifests
    committed before the key existed."""
    spec = manifest.get("partition_spec")
    if spec is not None:
        return list(spec)
    return _manifest_partition_cols(manifest)


def _stats_for_new_files(
    table_dir: str, new_files: list[str], schema_json: dict | None = None
) -> dict:
    """Footer stats for freshly staged files, plus partition-column
    stats derived from hive path segments (min = max = the partition
    value, 0 nulls) — partitionBy drops those columns from the parquet
    footers, so without the injection a partition predicate could
    never prune and ``skip_filter`` would silently lose its best
    pruning dimension. Partition values are typed from the DECLARED
    ``schema_json`` (see :func:`_cast_partition_value`), not inferred
    from value shape. A null partition (``__HIVE_DEFAULT_PARTITION__``)
    contributes no stats entry, which keeps the file conservatively
    unprunable."""
    col_types = _schema_col_types(schema_json)
    out = {}
    for f in new_files:
        stats = _file_stats(os.path.join(table_dir, f))
        vals = _partition_values(f, col_types)
        if vals:
            cols = dict(stats.get("columns", {}))
            for k, v in vals.items():
                if v is not None:
                    # same canonicalization as footer stats: dates and
                    # timestamps become ISO strings (sort-compatible)
                    sv = _json_safe(v)
                    cols[k] = {"min": sv, "max": sv, "nulls": 0}
            stats = {**stats, "columns": cols}
        out[f] = stats
    return out


def _bloom_params(n_rows: int, fpp: float) -> tuple[int, int]:
    """Standard Bloom sizing: m = -n ln p / ln^2 2 bits (capped at 1 MiB
    per file/column so manifests stay manifest-sized), k = m/n ln 2."""
    import math

    n = max(1, n_rows)
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = min(max(m, 64), 8 * 1024 * 1024)
    k = max(1, round(m / n * math.log(2)))
    return m, min(k, 16)


def _bloom_positions(value, m: int, k: int) -> list[int]:
    """k bit positions for a value: md5 of the canonical string repr,
    sliced into independent 8-byte words (double hashing over the
    digest). Canonical repr = str(_json_safe(value)) — the SAME
    canonicalization the manifest min/max stats use, so a probe with
    the documented ISO-string form ('2024-01-01T12:30:00') hashes
    identically to the pyarrow datetime seen at build time (bare
    str(datetime) uses a space, not 'T', and would falsely prune).
    Floats are refused at build."""
    import hashlib

    d = hashlib.md5(str(_json_safe(value)).encode("utf-8")).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:16], "big") | 1
    return [(h1 + i * h2) % m for i in range(k)]


def _file_bloom(path: str, col: str, fpp: float) -> dict | None:
    """Per-file Bloom filter over one column's values (pyarrow read of
    just that column — same driver-side metadata pass as _file_stats;
    at cluster scale both move executor-side with the stage that wrote
    the file). Returns {"m","k","b64"} or None when the column is
    missing or float-typed (no canonical cross-engine repr)."""
    import base64

    import pyarrow.parquet as pq
    import pyarrow.types as pat

    pf = pq.ParquetFile(path)
    if col not in pf.schema_arrow.names:
        return None
    field = pf.schema_arrow.field(col)
    if pat.is_floating(field.type):
        return None
    data = pf.read(columns=[col]).column(0)
    values = [v for v in data.to_pylist() if v is not None]
    m, k = _bloom_params(len(values), fpp)
    bits = bytearray((m + 7) // 8)
    for v in values:
        for pos in _bloom_positions(v, m, k):
            bits[pos >> 3] |= 1 << (pos & 7)
    return {"m": m, "k": k, "b64": base64.b64encode(bytes(bits)).decode()}


def _bloom_contains(bloom: dict, value) -> bool:
    import base64

    bits = base64.b64decode(bloom["b64"])
    for pos in _bloom_positions(value, bloom["m"], bloom["k"]):
        if not (bits[pos >> 3] & (1 << (pos & 7))):
            return False
    return True


def _augment_blooms(
    table_dir: str, files: list[str], stats: dict, bloom_cols, fpp: float
) -> None:
    """Attach per-file Bloom indexes for ``bloom_cols`` to the stats of
    the given (newly staged) files, in place."""
    for f in files:
        blooms = {}
        for col in bloom_cols or []:
            b = _file_bloom(os.path.join(table_dir, f), col, fpp)
            if b is not None:
                blooms[col] = b
        if blooms:
            # merge, don't replace: commit-retry loops augment the cols
            # inherited from the winning writer in a SECOND pass
            stats[f].setdefault("blooms", {}).update(blooms)


def _file_may_match(stats: dict | None, skip_filter) -> bool:
    """Conservative pruning: a file is kept unless its [min, max]
    PROVABLY excludes every row for ALL conjuncts — or, for equality
    conjuncts on a Bloom-indexed column, the filter proves the value
    absent (point-lookup skipping where min/max can't prune). Missing
    stats (file, column, or all-null column) keep the file."""
    if not stats or not skip_filter:
        return True
    for col, op, val in skip_filter:
        if op == "=":
            bloom = stats.get("blooms", {}).get(col)
            if bloom is not None and not _bloom_contains(bloom, val):
                return False
        cs = stats.get("columns", {}).get(col)
        if cs is None:
            continue
        mn, mx = cs["min"], cs["max"]
        if op == "=" and not (mn <= val <= mx):
            return False
        if op in (">=",) and not (mx >= val):
            return False
        if op in (">",) and not (mx > val):
            return False
        if op in ("<=",) and not (mn <= val):
            return False
        if op in ("<",) and not (mn < val):
            return False
    return True


def _evolve_schema(prev, new, merge_schema: bool):
    """Schema enforcement/evolution for append commits (the Delta
    behavior SURVEY.md §1.3 prescribes in place of the reference's
    side-channel DDL):

    - a column present in both MUST keep its type (no silent widening —
      a type conflict raises, the writer must cast explicitly);
    - a column missing from the new batch is fine (old declared schema
      fills it with nulls on read — Delta's subset-write);
    - a NEW column requires ``merge_schema=True`` (Delta's mergeSchema
      opt-in) and is appended nullable, since prior files lack it.

    Returns the evolved table schema (prev order + appended columns).
    """
    from pyspark.sql.types import StructField

    prev_by_name = {f.name: f for f in prev.fields}
    added = []
    for f in new.fields:
        p = prev_by_name.get(f.name)
        if p is None:
            if not merge_schema:
                raise ValueError(
                    f"append adds column {f.name!r} not in the table schema; "
                    "pass merge_schema=True to evolve (or drop the column)"
                )
            added.append(StructField(f.name, f.dataType, nullable=True))
        elif p.dataType != f.dataType:
            raise ValueError(
                f"column {f.name!r} type mismatch: table has "
                f"{p.dataType.simpleString()}, batch has "
                f"{f.dataType.simpleString()} — cast before writing"
            )
    out = type(prev)(list(prev.fields) + added)
    return out


# --------------------------------------------------------------------
# Column mapping (Delta's columnMapping.mode=name, re-expressed on the
# manifest schema): every column carries a stable ``cid`` and a stable
# ``physical`` name in its StructField metadata. Data files — parquet
# footers, hive partition directories, per-file stats, blooms — always
# speak PHYSICAL names; the manifest schema's field ``name`` is the
# LOGICAL name users see. RENAME and DROP then become metadata-only
# commits (no file rewrite — the one Delta evolution feature the
# enforcement layer lacked): a rename changes only
# the logical name (physical/cid fixed, so every existing file keeps
# resolving), a drop removes the field (readers stop projecting the
# physical column; appends may re-add the logical name under a FRESH
# cid+physical, so dropped data can never resurrect). ``max_column_id``
# is monotonic TABLE state on the manifest — ids are never reused even
# after a drop removes the highest cid from the schema.
# --------------------------------------------------------------------


def _field_physical(fjson: dict) -> str:
    """Physical (in-file) column name of a schema-JSON field: the
    mapping metadata when present, else the logical name itself."""
    return (fjson.get("metadata") or {}).get("physical") or fjson["name"]


def _mapping_enabled(schema_json: dict | None) -> bool:
    return bool(schema_json) and any(
        "physical" in (f.get("metadata") or {})
        for f in schema_json["fields"]
    )


def _l2p(schema_json: dict | None) -> dict[str, str]:
    """logical -> physical name map ({} when mapping is not enabled —
    callers treat a missing key as identity)."""
    if not _mapping_enabled(schema_json):
        return {}
    return {f["name"]: _field_physical(f) for f in schema_json["fields"]}


def _physical_schema_json(schema_json: dict) -> dict:
    """The schema as data files see it: fields renamed to their
    physical names, mapping metadata stripped (a pinned physical-schema
    read must not leak mapping keys into the result's metadata)."""
    if not _mapping_enabled(schema_json):
        return schema_json
    fields = []
    for f in schema_json["fields"]:
        meta = {
            k: v
            for k, v in (f.get("metadata") or {}).items()
            if k not in ("physical", "cid")
        }
        fields.append({**f, "name": _field_physical(f), "metadata": meta})
    return {**schema_json, "fields": fields}


def _physicalize_cols(cols, schema_json: dict | None):
    """Translate a list of logical column names to physical (identity
    for unmapped tables and for names outside the schema)."""
    if not cols:
        return cols
    m = _l2p(schema_json)
    return [m.get(c, c) for c in cols]


def _physicalize_filter(skip_filter, schema_json: dict | None):
    """skip_filter with logical column names translated to physical —
    manifest stats, chunk rollups, and blooms are all keyed by the
    names in the data files."""
    if not skip_filter:
        return skip_filter
    m = _l2p(schema_json)
    if not m:
        return skip_filter
    return [(m.get(c, c), op, v) for (c, op, v) in skip_filter]


def _physicalize_df(df: DataFrame, schema_json: dict | None) -> DataFrame:
    """Rename a logical-named DataFrame to physical names for staging.
    Identity for unmapped tables. Columns outside the table schema
    (none should exist after schema enforcement) keep their names."""
    m = _l2p(schema_json)
    if not m or all(m.get(c, c) == c for c in df.columns):
        return df
    from pyspark.sql import functions as F

    return df.select(
        *[F.col(c).alias(m.get(c, c)) for c in df.columns]
    )


def _assign_mapping_ids(schema_json: dict, next_cid: int) -> tuple[dict, int]:
    """Fill mapping metadata for fields that lack it (freshly evolved
    columns on a mapped table): each gets the next monotonic cid and a
    physical name derived from it — ``col-<cid>-<logical>`` can never
    collide with any live OR dropped column's physical name, because
    cids are never reused (max_column_id is monotonic table state)."""
    fields = []
    for f in schema_json["fields"]:
        meta = dict(f.get("metadata") or {})
        if "physical" not in meta:
            next_cid += 1
            meta["physical"] = f"col-{next_cid}-{f['name']}"
            meta["cid"] = next_cid
        fields.append({**f, "metadata": meta})
    return {**schema_json, "fields": fields}, next_cid


def _enable_mapping_json(schema_json: dict) -> tuple[dict, int]:
    """First-time enablement: every existing field keeps its CURRENT
    name as the physical name (that is what the already-written files
    contain) and gets cid 1..n in schema order."""
    fields = []
    for i, f in enumerate(schema_json["fields"], start=1):
        meta = dict(f.get("metadata") or {})
        meta.setdefault("physical", f["name"])
        meta.setdefault("cid", i)
        fields.append({**f, "metadata": meta})
    return {**schema_json, "fields": fields}, len(fields)


def _carry_mapping(
    prev_schema_json: dict, new_schema_json: dict, max_cid: int
) -> tuple[dict, int]:
    """Overwrite on a mapped table: the batch's schema replaces the
    table's, but columns whose LOGICAL name survives keep their
    cid/physical (files rewritten either way — stability matters for
    shallow clones and time travel across the overwrite); brand-new
    logical names get fresh ids."""
    prev_meta = {
        f["name"]: (f.get("metadata") or {})
        for f in prev_schema_json["fields"]
    }
    fields = []
    for f in new_schema_json["fields"]:
        pm = prev_meta.get(f["name"])
        if pm and "physical" in pm:
            meta = dict(f.get("metadata") or {})
            meta["physical"] = pm["physical"]
            meta["cid"] = pm.get("cid")
            fields.append({**f, "metadata": meta})
        else:
            fields.append(f)
    out = {**new_schema_json, "fields": fields}
    return _assign_mapping_ids(out, max_cid)


def _resolve_mapping(schema_json: dict, prev_manifest: dict, mode: str) -> dict:
    """The schema JSON a commit should publish, mapping-resolved: a
    no-op unless the table's current schema has mapping enabled; then
    appends assign fresh cids to evolved columns and overwrites carry
    surviving columns' mapping (see :func:`_carry_mapping`)."""
    prev_schema = (prev_manifest or {}).get("schema")
    if not _mapping_enabled(prev_schema):
        return schema_json
    max_cid = (prev_manifest or {}).get("max_column_id", 0)
    if mode == "append":
        out, _ = _assign_mapping_ids(schema_json, max_cid)
    else:
        out, _ = _carry_mapping(prev_schema, schema_json, max_cid)
    return out


def _schema_change_commit(table_dir: str, transform) -> int:
    """Commit a METADATA-ONLY schema change (rename/drop/enable):
    ``transform(schema_json, manifest) -> (new_schema_json, meta,
    new_bloom_cols, new_partition_spec)`` is applied to the CURRENT
    manifest and the result committed with the file list, stats, and
    chunk descriptors carried verbatim — zero data movement, the whole
    point of column mapping. Optimistic retry like any append."""
    last: CommitConflict | None = None
    for _ in range(16):
        v = current_version(table_dir)
        if v == 0:
            raise FileNotFoundError(f"no committed version in {table_dir}")
        manifest = _load_manifest(table_dir, v)
        schema_json = manifest.get("schema")
        if not schema_json:
            raise ValueError(
                f"{table_dir} has no committed schema — column mapping "
                "needs a schema-declared table"
            )
        new_schema, meta, bloom_cols, spec = transform(schema_json, manifest)
        try:
            return _commit_manifest(
                table_dir,
                manifest.get("files", []),
                manifest.get("stats", {}),
                "append",  # adds no files: CDF/streaming see no changes
                new_schema,
                {**manifest.get("meta", {}), **meta},
                bloom_cols=bloom_cols,
                expected_version=v,
                partition_spec=spec,
                spec_id=manifest.get("spec_id")
                if spec is not None
                else None,
                chunks=manifest.get("chunks"),
                manifest_chunking=manifest.get("manifest_chunking"),
                dvs=manifest.get("dvs"),
            )
        except CommitConflict as c:
            last = c
    raise last


def enable_column_mapping(table_dir: str) -> int:
    """Turn column mapping on for an existing table (idempotent): each
    field's current name becomes its permanent physical name. Done
    implicitly by the first :func:`rename_column` / :func:`drop_column`."""

    def xf(schema_json, manifest):
        if _mapping_enabled(schema_json):
            return (
                schema_json,
                {"schema_change": {"op": "enable_column_mapping"}},
                manifest.get("bloom_cols"),
                manifest.get("partition_spec"),
            )
        new_schema, _n = _enable_mapping_json(schema_json)
        return (
            new_schema,
            {"schema_change": {"op": "enable_column_mapping"}},
            manifest.get("bloom_cols"),
            manifest.get("partition_spec"),
        )

    return _schema_change_commit(table_dir, xf)


def rename_column(table_dir: str, old: str, new: str) -> int:
    """RENAME COLUMN without rewriting a single data file (Delta column
    mapping semantics): a metadata-only commit that changes the LOGICAL
    name while the physical name / cid stay fixed, so every existing
    file — and every future append — keeps resolving through the
    mapping. Table state that references the column by logical name
    (partition spec, bloom_cols) is relabeled in the same commit.
    Auto-enables mapping on first use. Returns the new version.

    Reference parity: the reference's only rename mechanism is
    ``withColumnRenamed`` inside a full re-load (vk_proc.py's hst_*
    rebuilds) — a whole-table rewrite; here it is one manifest write."""
    if table_dir.startswith("catalog:"):
        from .catalog import resolve_table_ref

        table_dir = resolve_table_ref(table_dir)

    def xf(schema_json, manifest):
        if not _mapping_enabled(schema_json):
            schema_json, _ = _enable_mapping_json(schema_json)
        names = [f["name"] for f in schema_json["fields"]]
        if old not in names:
            raise ValueError(f"no column {old!r} (have {names})")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        fields = [
            {**f, "name": new} if f["name"] == old else f
            for f in schema_json["fields"]
        ]
        blooms = manifest.get("bloom_cols")
        if blooms:
            blooms = [new if c == old else c for c in blooms]
        spec = manifest.get("partition_spec")
        if spec is not None:
            # transform entries relabel their SOURCE column; the frozen
            # hidden name never changes (existing dirs keep resolving)
            spec = [
                {**c, "col": new}
                if isinstance(c, dict) and c["col"] == old
                else (new if c == old else c)
                for c in spec
            ]
        return (
            {**schema_json, "fields": fields},
            {"schema_change": {"op": "rename", "from": old, "to": new}},
            blooms,
            spec,
        )

    return _schema_change_commit(table_dir, xf)


def drop_column(table_dir: str, name: str) -> int:
    """DROP COLUMN without rewriting data (Delta column mapping
    semantics): a metadata-only commit that removes the field from the
    logical schema; the physical column stays in existing files but no
    reader projects it, and vacuumed rewrites shed it naturally. A
    later ``merge_schema`` append may re-add the same LOGICAL name —
    it gets a FRESH cid/physical, so the dropped data never
    resurrects. Partition-spec columns cannot be dropped (future
    appends still lay files out by them). Auto-enables mapping."""
    if table_dir.startswith("catalog:"):
        from .catalog import resolve_table_ref

        table_dir = resolve_table_ref(table_dir)

    def xf(schema_json, manifest):
        if not _mapping_enabled(schema_json):
            schema_json, _ = _enable_mapping_json(schema_json)
        names = [f["name"] for f in schema_json["fields"]]
        if name not in names:
            raise ValueError(f"no column {name!r} (have {names})")
        if len(names) == 1:
            raise ValueError("cannot drop the only column")
        spec = manifest.get("partition_spec") or []
        spec_sources = [
            c["col"] if isinstance(c, dict) else c for c in spec
        ]
        if name in spec_sources:
            raise ValueError(
                f"{name!r} is in the table's partition spec {spec}; "
                "evolve the partition spec first (appends lay files "
                "out by it)"
            )
        fields = [f for f in schema_json["fields"] if f["name"] != name]
        blooms = manifest.get("bloom_cols")
        if blooms and name in blooms:
            blooms = [c for c in blooms if c != name] or None
        return (
            {**schema_json, "fields": fields},
            {"schema_change": {"op": "drop", "column": name}},
            blooms,
            manifest.get("partition_spec"),
        )

    return _schema_change_commit(table_dir, xf)


# --------------------------------------------------------------------
# Deletion vectors (Delta/Iceberg merge-on-read DELETE, re-expressed
# on the manifest): instead of rewriting every touched file, a DELETE
# may commit a small parquet of (file_base, pos) pairs — the row
# positions (parquet `_metadata.row_index`) now invisible in each
# file. Readers anti-join the union of a snapshot's DVs; OPTIMIZE /
# copy-on-write DML materialize them away for the files they rewrite.
# Keys are file BASENAMES (every staged file gets a uuid basename, the
# same uniqueness the DML pipeline's touched set relies on), so DVs
# stay valid across restore, shallow clones, and table relocation
# without any path translation. At 100 TB this is THE delete shape:
# dropping 0.1% of rows costs O(deleted rows) written, not O(table)
# rewritten, and the read-side cost is one (usually broadcast)
# anti-join that disappears entirely at the next compaction.
# --------------------------------------------------------------------

_DV_FILE_COL = "__dv_file"
_DV_POS_COL = "__dv_pos"


def _dv_union(spark: SparkSession, table_dir: str, manifest: dict):
    """One DataFrame (file_base, pos) over all of a snapshot's DV
    objects; None when the snapshot has none. Every DV writer (the DML
    pipeline, Delta and Iceberg adoption) stores (string, int64), so
    the schema is declared: inferring it would cost a Spark job per
    DV-applied scan."""
    dvs = manifest.get("dvs")
    if not dvs:
        return None
    paths = [
        p if os.path.isabs(p) else os.path.join(table_dir, p)
        for p in (dv["path"] for dv in dvs)
    ]
    return spark.read.schema("file_base string, pos bigint").parquet(*paths)


def _dv_total_rows(manifest: dict) -> int:
    return sum(
        n for dv in manifest.get("dvs", []) for n in dv["rows"].values()
    )


def _carry_dvs(manifest: dict, rewritten_files: list[str]) -> list | None:
    """The DV list a commit that REWRITES ``rewritten_files`` should
    carry: per-file row entries for rewritten files are dropped (the
    rewrite read was DV-applied, so those deletes are now materialized
    in the new files) and DV objects left referencing nothing are
    dropped entirely. The parquet objects themselves stay on disk until
    vacuum — time travel to pre-rewrite versions still needs them."""
    dvs = manifest.get("dvs")
    if not dvs:
        return None
    gone = {os.path.basename(f) for f in rewritten_files}
    out = []
    for dv in dvs:
        rows = {b: n for b, n in dv["rows"].items() if b not in gone}
        if rows:
            out.append({**dv, "rows": rows})
    return out or None


def _stage_dv(df: DataFrame, table_dir: str) -> str:
    """Stage a DV parquet (columns file_base string, pos bigint) as ONE
    immutable object under data/ — small by construction (a DELETE's
    own row positions; bulk deletes belong on the copy-on-write path),
    and placed under data/ so vacuum's walk handles it like any other
    manifest-referenced object."""
    staging = os.path.join(table_dir, f"_staging_{uuid.uuid4().hex}")
    # coalesce, not repartition: the caller hands a checkpoint-backed
    # frame, so the single write task reads materialized blocks — no
    # shuffle, and no sort-before-repartition pass (round-robin
    # repartition(1) pays both)
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    data_dir = os.path.join(table_dir, "data")
    os.makedirs(data_dir, exist_ok=True)
    rel = None
    for name in os.listdir(staging):
        if name.endswith(".parquet"):
            dst = f"dv-{uuid.uuid4().hex}.parquet"
            os.rename(
                os.path.join(staging, name), os.path.join(data_dir, dst)
            )
            rel = os.path.join("data", dst)
            break
    import shutil

    shutil.rmtree(staging)
    if rel is None:
        raise RuntimeError("deletion-vector staging produced no parquet")
    return rel


# --------------------------------------------------------------------
# Hidden partitioning (Iceberg transform specs, re-expressed on the
# manifest): a partition_by entry may be a TRANSFORM of a source
# column — {"transform": "days|months|hours|years", "col": c},
# {"transform": "bucket", "col": c, "n": N}, or {"transform":
# "truncate", "col": c, "n": W} — materialized at stage time into a
# hidden `_p_*` column that exists ONLY in the hive directory layout,
# never in the committed schema (pinned-schema reads drop it for
# free). Queries keep filtering the SOURCE column: per-file footer
# stats stay tight because the layout clusters by the transform, and
# skip_filter conjuncts on the source column are additionally
# TRANSLATED onto the hidden partition value (days/months/hours/years
# ranges; bucket equality via the pure-Python xxhash64 twin,
# functions/xxh.py — planning-time arithmetic, no Spark job). This is
# what kills the classic Hive anti-pattern of a user-visible derived
# date column the optimizer can't connect to the timestamp.
# --------------------------------------------------------------------

_TRANSFORMS = ("days", "months", "hours", "years", "bucket", "truncate")
_DATE_FMT = {
    "days": ("yyyy-MM-dd", 10),
    "months": ("yyyy-MM", 7),
    "years": ("yyyy", 4),
    "hours": ("yyyy-MM-dd-HH", 13),
}


def _normalize_spec(partition_by) -> list:
    """Validate a user partition_by into the stored spec: strings pass
    through (identity); transform dicts get checked and a FROZEN hidden
    column name (rename-stable: later source-column renames update
    ``col`` but never the name, so existing directories keep
    resolving)."""
    if not partition_by:
        return list(partition_by or [])
    out = []
    for e in partition_by:
        if isinstance(e, str):
            out.append(e)
            continue
        if not isinstance(e, dict) or "transform" not in e or "col" not in e:
            raise ValueError(
                f"partition_by entry {e!r}: expected a column name or "
                "{'transform': ..., 'col': ..., ['n': ...]}"
            )
        t = e["transform"]
        if t not in _TRANSFORMS:
            raise ValueError(f"unknown partition transform {t!r}")
        if t in ("bucket", "truncate"):
            n = e.get("n")
            if not isinstance(n, int) or n < 1:
                raise ValueError(f"{t} transform needs integer n >= 1")
        h = e.get("hash")
        if h is not None and t != "bucket":
            raise ValueError(f"'hash' only applies to bucket, not {t!r}")
        if h not in (None, "xxhash64", "murmur3"):
            raise ValueError(
                f"bucket hash {h!r}: only 'xxhash64' (default, Spark's "
                "executor-native F.xxhash64) and 'murmur3' (Iceberg's "
                "spec'd bucket hash — choose it when the table must "
                "export as an Iceberg bucket[N] spec) are implemented"
            )
        name = e.get("name") or (
            f"_p_{t}_{e['col']}" + (f"_{e['n']}" if "n" in e else "")
        )
        norm = {"transform": t, "col": e["col"], "name": name}
        if "n" in e:
            norm["n"] = e["n"]
        if h == "murmur3":
            norm["hash"] = h
        out.append(norm)
    return out


def _spec_partition_cols(spec, schema_json) -> list[str]:
    """The ACTUAL directory columns: physical names for identity
    entries, frozen hidden names for transforms."""
    out = []
    for e in spec or []:
        if isinstance(e, str):
            out.extend(_physicalize_cols([e], schema_json))
        else:
            out.append(e["name"])
    return out


def _transform_expr(entry: dict, src, src_type: str | None):
    """The hidden column's value expression over the (physical) source
    column. Date transforms format to sort-compatible ISO prefixes;
    bucket is pmod(xxhash64, n) — matched driver-side by
    functions/xxh.py; truncate is width arithmetic for integers and a
    prefix for strings."""
    from pyspark.sql import functions as F

    t = entry["transform"]
    if t in _DATE_FMT:
        return F.date_format(src, _DATE_FMT[t][0])
    if t == "bucket":
        if entry.get("hash") == "murmur3":
            # Iceberg's spec'd bucket hash (functions/murmur3.py).
            # Spark's built-in F.hash IS Murmur3 x86_32 but pins seed
            # 42 (Iceberg: 0), so the hidden column is computed by an
            # Arrow-batched pandas UDF — one pass at WRITE time only;
            # reads prune via planning-time arithmetic, never the UDF.
            if src_type in _INTEGRAL_TYPES:
                return _murmur3_bucket_udf(entry["n"], False)(
                    src.cast("bigint")
                )
            if src_type == "string":
                return _murmur3_bucket_udf(entry["n"], True)(src)
            raise ValueError(
                f"bucket_hash='murmur3' supports integral and string "
                f"sources (Iceberg single-value serialization), not "
                f"{src_type!r}"
            )
        # Spark's xxhash64 hashes IntegerType/ShortType/ByteType via a
        # 4-byte path that the planning-time twin (functions/xxh.py,
        # 8-byte longs only) cannot reproduce — cast integral sources
        # to bigint so write-side bucketing and read-side predicate
        # translation always agree.
        if src_type in _INTEGRAL_TYPES:
            src = src.cast("bigint")
        return F.pmod(F.xxhash64(src), F.lit(entry["n"]))
    # truncate
    w = entry["n"]
    if src_type in ("string",):
        return F.substring(src, 1, w)
    return (F.floor(src / w) * w).cast("bigint")


def _murmur3_bucket_udf(n: int, is_str: bool):
    """Arrow-batched Iceberg-murmur3 bucket column (write-path only)."""
    from pyspark.sql.functions import pandas_udf

    from ..functions.murmur3 import bucket_long, bucket_str

    fn = bucket_str if is_str else bucket_long

    @pandas_udf("long")
    def _bucket(s):
        return s.map(lambda v: None if v is None else fn(v, n))

    return _bucket


def _spec_apply_transforms(df: DataFrame, spec, schema_json) -> DataFrame:
    """Materialize the hidden transform columns on a PHYSICAL-named
    staging frame (identity for specs without transforms)."""
    entries = [e for e in spec or [] if isinstance(e, dict)]
    if not entries:
        return df
    from pyspark.sql import functions as F

    types = _schema_col_types(_physical_schema_json(schema_json or {}) or {})
    for e in entries:
        phys = _physicalize_cols([e["col"]], schema_json)[0]
        df = df.withColumn(
            e["name"], _transform_expr(e, F.col(phys), types.get(phys))
        )
    return df


def _stage_with_spec(
    df: DataFrame, table_dir: str, spec, schema_json
) -> list[str]:
    """Physicalize, materialize hidden transform columns, stage under
    the spec's directory columns — the single staging path every
    writer (append/overwrite/DML/OPTIMIZE) uses."""
    phys = _physicalize_df(df, schema_json)
    phys = _spec_apply_transforms(phys, spec, schema_json)
    return _stage_files(
        phys,
        table_dir,
        partition_by=_spec_partition_cols(spec, schema_json) or None,
    )


_INTEGRAL_TYPES = ("byte", "short", "integer", "long")


def _translate_skip_filter(skip_filter, spec, schema_json=None) -> list[tuple]:
    """Extra prune-only conjuncts on hidden partition values implied by
    source-column conjuncts. Date transforms translate ranges and
    equality (ISO prefixes compare correctly as strings); bucket
    translates equality via the xxhash64 twin — gated on the DECLARED
    source type (integral → 8-byte long path, string → utf8 path; any
    other type, or a value whose Python type disagrees with the
    declared one, is skipped rather than risk hashing into the wrong
    bucket). truncate is NOT translated — its layout
    already clusters the source column, so the per-file footer stats
    prune as tightly. Returned conjuncts are for FILE PRUNING only
    (the hidden column never appears in results)."""
    if not skip_filter or not spec:
        return []
    entries = [e for e in spec if isinstance(e, dict)]
    if not entries:
        return []
    col_types = _schema_col_types(schema_json) if schema_json else {}
    by_col: dict[str, list[dict]] = {}
    for e in entries:
        by_col.setdefault(e["col"], []).append(e)
    out: list[tuple] = []
    for col, op, val in skip_filter:
        for e in by_col.get(col, []):
            t = e["transform"]
            if t in _DATE_FMT:
                s = _iso_prefix(val, t)
                if s is None:
                    continue
                # match the stats-side partition-value inference: the
                # years value ("2024") is numeric-shaped and stored as
                # int; days/months/hours contain '-' and stay strings
                sv = int(s) if t == "years" else s
                if op == "=":
                    out.append((e["name"], "=", sv))
                elif op in (">", ">="):
                    out.append((e["name"], ">=", sv))
                elif op in ("<", "<="):
                    out.append((e["name"], "<=", sv))
            elif t == "bucket" and op == "=":
                declared = col_types.get(col)
                if isinstance(val, bool) or declared is None:
                    continue
                if e.get("hash") == "murmur3":
                    from ..functions.murmur3 import (
                        bucket_long as m3_long,
                        bucket_str as m3_str,
                    )

                    if isinstance(val, int) and declared in _INTEGRAL_TYPES:
                        b = m3_long(val, e["n"])
                    elif isinstance(val, str) and declared == "string":
                        b = m3_str(val, e["n"])
                    else:
                        continue
                    out.append((e["name"], "=", b))
                    continue
                from ..functions.xxh import xxhash64_long, xxhash64_str

                if isinstance(val, int) and declared in _INTEGRAL_TYPES:
                    # write side casts integral sources to bigint
                    # before xxhash64 (_transform_expr), so the 8-byte
                    # twin is exact for every integral width
                    h = xxhash64_long(val)
                elif isinstance(val, str) and declared == "string":
                    h = xxhash64_str(val)
                else:
                    continue
                # int, matching the stats-side partition-value
                # inference for the hidden column (pmod is >= 0)
                out.append((e["name"], "=", h % e["n"]))
    return out


def _iso_prefix(val, transform: str) -> str | None:
    """The hive-directory string a timestamp-ish value lands in under a
    date transform (None when the value shape is unrecognized)."""
    import datetime

    fmt_len = _DATE_FMT[transform][1]
    if isinstance(val, (datetime.datetime, datetime.date)):
        s = val.isoformat(sep=" ") if isinstance(
            val, datetime.datetime
        ) else val.isoformat() + " 00:00:00"
    elif isinstance(val, str):
        s = val.replace("T", " ")
    else:
        return None
    if len(s) < 10:
        return None
    if len(s) == 10:
        s += " 00:00:00"
    # hive dir format uses '-' between date and hour
    s = s.replace(" ", "-", 1)
    return s[:fmt_len]


def _prune_filter(skip_filter, manifest: dict) -> list[tuple] | None:
    """The conjuncts that prune a snapshot's files and chunks for a
    logical ``skip_filter``: physical column names (stats, rollups and
    blooms are keyed physical) plus the prune-only conjuncts translated
    onto hidden partition values. None when there is nothing to prune
    by."""
    schema_json = manifest.get("schema")
    return (_physicalize_filter(skip_filter, schema_json) or []) + (
        _translate_skip_filter(
            skip_filter, _manifest_partition_spec(manifest), schema_json
        )
    ) or None


def _candidate_files(table_dir: str, manifest: dict, prune) -> list[str]:
    """The manifest files that ``prune`` (see :func:`_prune_filter`)
    cannot exclude by stats — a read's file set and the DML pipeline's
    candidates. Chunked manifests skip whole chunks by rollup first."""
    files, stats = _expand_manifest(table_dir, manifest, prune)
    return [f for f in files if _file_may_match(stats.get(f), prune)]


def write_versioned(
    spark: SparkSession,
    df: DataFrame,
    table_dir: str,
    mode: str = "append",
    meta: dict | None = None,
    merge_schema: bool = False,
    bloom_cols: list[str] | None = None,
    bloom_fpp: float = 0.01,
    expected_version: int | None = None,
    partition_by: list[str] | None = None,
    evolve_partitioning: bool = False,
    manifest_chunking=None,
) -> int:
    """Commit ``df`` as a new snapshot; returns the new version number.

    ``manifest_chunking`` opts the commit into the two-level manifest
    layout ('partition': one chunk object per hive partition directory;
    an int: fixed-size file runs; see the chunked-manifest block above
    _chunk_rollup). Like bloom_cols it is TABLE state: None inherits
    the previous manifest's setting, ``False`` explicitly flattens back
    to an inline manifest. Appends to a chunked table CARRY the prior
    chunk descriptors verbatim and chunk only the new files — append
    metadata cost is O(new files), not O(table).

    ``expected_version`` pins the snapshot this write DEPENDS on
    (compaction: the snapshot it rewrote). With it set there is no
    retry: a concurrent commit raises :class:`CommitConflict` after
    cleaning the staged files, because blindly retrying would publish
    a rewrite that silently drops the concurrent commit's rows.
    Without it (plain append/overwrite), conflicts auto-retry.
    ``meta`` (JSON-serializable) is stored on the manifest — e.g. a
    streaming epoch id for idempotent replay (see :func:`has_meta`).

    Appends are schema-ENFORCED against the committed table schema
    (type conflicts and — unless ``merge_schema=True`` — new columns
    raise before any file lands); an overwrite resets the schema to the
    batch's. See :func:`_evolve_schema`.

    ``bloom_cols`` attaches a per-file Bloom index for those columns to
    the manifest (point-lookup file skipping where min/max can't prune
    — unclustered high-cardinality keys). The setting is TABLE state:
    None inherits the previous manifest's bloom_cols (append AND
    overwrite — a routine overwrite publish must not silently drop the
    table's point-lookup pruning), an explicit empty list ``[]`` clears
    the index, and a non-empty list replaces it.

    ``partition_by`` lays this commit's files out hive-style
    (``data/col=value/part-*``) and injects the partition values into
    the manifest stats (min = max = value), so a ``skip_filter`` on a
    partition column opens a strict file subset — the reference's
    date-partitioned landing (jhub_proc.py:259-275) as manifest-level
    partition pruning.

    The partition spec is TABLE state (manifest-recorded, Iceberg's
    metadata-tracked spec with Delta's explicit-change gate):
    ``partition_by=None`` INHERITS the table's current spec (appends
    never re-specify layout, and a routine overwrite publish must not
    silently flatten a partitioned table); an explicit list — ``[]``
    means deliberately flat — that DIFFERS from the current spec
    raises unless ``evolve_partitioning=True``, which commits the new
    spec with a bumped ``spec_id``. Evolution is metadata-only: files
    written under older specs are NOT rewritten — reads span mixed
    layouts (partition columns restore via basePath per layout group),
    pruning keeps working through each file's own stats, and
    ``compact_versioned`` rewrites everything into the current spec
    (Iceberg's rewrite-to-latest)."""
    assert mode in ("append", "overwrite")
    if table_dir.startswith("catalog:"):
        from .catalog import resolve_table_ref

        table_dir = resolve_table_ref(table_dir)
    get_commit_store().ensure_log(table_dir)

    # schema check BEFORE staging any data (fail fast, nothing to clean)
    prev_for_schema = current_version(table_dir)
    table_schema = df.schema
    prev_manifest0 = (
        _load_manifest(table_dir, prev_for_schema) if prev_for_schema > 0 else {}
    )
    if mode == "append" and prev_for_schema > 0:
        prev_schema_json = prev_manifest0.get("schema")
        if prev_schema_json:
            from pyspark.sql.types import StructType

            table_schema = _evolve_schema(
                StructType.fromJson(prev_schema_json), df.schema, merge_schema
            )
    # column mapping: resolve the commit's schema JSON (fresh columns
    # get monotonic cids; an overwrite carries surviving columns'
    # mapping) and stage the batch under PHYSICAL names
    table_schema_json = _resolve_mapping(
        table_schema.jsonValue(), prev_manifest0, mode
    )
    stage_map = {
        c: _l2p(table_schema_json).get(c, c) for c in df.columns
    }
    if bloom_cols is None:
        bloom_cols = prev_manifest0.get("bloom_cols")
    elif not bloom_cols:
        bloom_cols = None  # explicit [] clears the table's bloom index

    # partition-spec resolution BEFORE staging (fail fast): None
    # inherits, a differing explicit spec needs evolve_partitioning
    prev_spec = (
        _manifest_partition_spec(prev_manifest0) if prev_for_schema > 0 else []
    )
    prev_spec_id = prev_manifest0.get("spec_id", 0)
    spec = prev_spec if partition_by is None else _normalize_spec(partition_by)
    if prev_for_schema > 0 and spec != prev_spec and not evolve_partitioning:
        raise ValueError(
            f"partition_by={spec} differs from the table's committed "
            f"partition spec {prev_spec} (spec_id {prev_spec_id}); pass "
            "evolve_partitioning=True to change the spec, or "
            "partition_by=None to inherit it"
        )
    spec_id = prev_spec_id + 1 if (prev_for_schema > 0 and spec != prev_spec) else prev_spec_id

    # 1. stage immutable data files under a unique prefix (physical
    # names — identity rename for unmapped tables — with hidden
    # transform partition columns materialized per the spec)
    new_files = _stage_with_spec(df, table_dir, spec, table_schema_json)

    # 2. commit the manifest, carrying per-file footer stats (row count
    # + column min/max/nulls) so snapshots support metadata-only counts
    # and file skipping; append re-uses prior files' recorded stats.
    # Optimistic-concurrency retry loop: on CommitConflict the staged
    # files are still valid — re-read the NEW latest manifest,
    # re-validate the schema against it, and commit on top
    # (append/append auto-merges; a blind overwrite makes no
    # read-dependency claim, so it simply takes the next version).
    new_stats = _stats_for_new_files(
        table_dir, new_files, _physical_schema_json(table_schema_json)
    )
    augmented_cols: set[str] = set()
    last_conflict: CommitConflict | None = None
    attempts = 1 if expected_version is not None else 16
    for _ in range(attempts):
        prev = (
            expected_version
            if expected_version is not None
            else current_version(table_dir)
        )
        prev_manifest = _load_manifest(table_dir, prev) if prev > 0 else {}
        effective_schema = df.schema
        effective_blooms = bloom_cols
        if mode == "append" and prev > 0:
            prev_schema_json = prev_manifest.get("schema")
            if prev_schema_json:
                from pyspark.sql.types import StructType

                effective_schema = _evolve_schema(
                    StructType.fromJson(prev_schema_json), df.schema, merge_schema
                )
            if effective_blooms is None:
                effective_blooms = prev_manifest.get("bloom_cols")
        effective_schema_json = _resolve_mapping(
            effective_schema.jsonValue(), prev_manifest, mode
        )
        eff_map = _l2p(effective_schema_json)
        if any(eff_map.get(c, c) != stage_map[c] for c in df.columns):
            # a concurrent commit changed the logical->physical mapping
            # of a column we already staged (drop + re-add, or a lost
            # race on fresh-cid assignment): the staged files carry
            # stale physical names — clean and surface as a conflict
            for f in new_files:
                try:
                    os.remove(os.path.join(table_dir, f))
                except FileNotFoundError:
                    pass
            raise CommitConflict(table_dir, prev + 1)
        if prev > 0:
            cur_spec = _manifest_partition_spec(prev_manifest)
            cur_spec_id = prev_manifest.get("spec_id", 0)
            if spec != cur_spec and not evolve_partitioning:
                # a concurrent commit evolved the spec after we staged
                # under the old one — our layout no longer matches the
                # table contract; clean and surface as a conflict
                for f in new_files:
                    try:
                        os.remove(os.path.join(table_dir, f))
                    except FileNotFoundError:
                        pass
                raise CommitConflict(table_dir, prev + 1)
            spec_id = cur_spec_id + 1 if spec != cur_spec else cur_spec_id
        missing = set(effective_blooms or []) - augmented_cols
        if missing:
            # bloom_cols are logical table state; the staged files (and
            # their stats) are keyed physical
            _augment_blooms(
                table_dir,
                new_files,
                new_stats,
                _physicalize_cols(sorted(missing), effective_schema_json),
                bloom_fpp,
            )
            augmented_cols |= missing
        effective_chunking = manifest_chunking
        if effective_chunking is None and prev > 0:
            effective_chunking = prev_manifest.get("manifest_chunking")
        if effective_chunking is False:
            effective_chunking = None
        files = new_files
        stats = new_stats
        carried_chunks: list[dict] | None = None
        if mode == "append" and prev > 0:
            if effective_chunking and "chunks" in prev_manifest:
                # the Iceberg append property: prior metadata is carried
                # by reference, only the new files get chunked below
                carried_chunks = list(prev_manifest["chunks"])
            else:
                pfiles, pstats = _expand_manifest(table_dir, prev_manifest)
                files = pfiles + new_files
                stats = {**pstats, **new_stats}
        chunks = None
        if effective_chunking:
            chunks = (carried_chunks or []) + _write_manifest_chunks(
                table_dir,
                new_files if carried_chunks is not None else files,
                new_stats if carried_chunks is not None else stats,
                effective_chunking,
            )
        try:
            return _commit_manifest(
                table_dir,
                files,
                stats,
                mode,
                effective_schema_json,
                meta,
                bloom_cols=effective_blooms,
                expected_version=prev,
                partition_spec=spec,
                spec_id=spec_id,
                chunks=chunks,
                manifest_chunking=effective_chunking,
                # appends never touch old files, so their DVs carry;
                # an overwrite replaces the file set — DVs reset
                dvs=prev_manifest.get("dvs") if mode == "append" else None,
            )
        except CommitConflict as c:
            last_conflict = c
            continue
    if expected_version is not None:
        # read-pinned write lost the race: staged files will never be
        # referenced — clean them so nothing orphans until vacuum
        for f in new_files:
            try:
                os.remove(os.path.join(table_dir, f))
            except FileNotFoundError:
                pass
    raise last_conflict  # blind write: 16 straight losses = real contention


def _stage_files(
    df: DataFrame, table_dir: str, partition_by: list[str] | None = None
) -> list[str]:
    """Write ``df`` to a unique staging dir, move the parquet parts into
    data/ under fresh immutable names; returns manifest-relative paths.
    Nothing is visible to readers until a manifest references them.
    With ``partition_by``, parts land under hive-style ``col=value``
    subdirectories of data/ (the reference's date-partitioned landing,
    jhub_proc.py:259-275, at the lake layer) and the dir structure is
    preserved in the manifest paths."""
    data_dir = os.path.join(table_dir, "data")
    staging = os.path.join(table_dir, f"_staging_{uuid.uuid4().hex}")
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staging)
    os.makedirs(data_dir, exist_ok=True)
    new_files = []
    for root, _dirs, names in os.walk(staging):
        rel_dir = os.path.relpath(root, staging)
        for name in names:
            if not name.endswith(".parquet"):
                continue
            dst_dir = (
                data_dir if rel_dir == "." else os.path.join(data_dir, rel_dir)
            )
            os.makedirs(dst_dir, exist_ok=True)
            dst = f"part-{uuid.uuid4().hex}-{name}"
            os.rename(os.path.join(root, name), os.path.join(dst_dir, dst))
            new_files.append(os.path.relpath(os.path.join(dst_dir, dst), table_dir))
    import shutil

    shutil.rmtree(staging)
    return sorted(new_files)


def _commit_manifest(
    table_dir: str,
    files: list[str],
    stats: dict,
    mode: str,
    schema_json: dict | None,
    meta: dict | None,
    bloom_cols: list[str] | None = None,
    expected_version: int | None = None,
    partition_spec: list[str] | None = None,
    spec_id: int | None = None,
    chunks: list[dict] | None = None,
    manifest_chunking=None,
    max_column_id: int | None = None,
    dvs: list | None = None,
) -> int:
    """Commit manifest v(N+1): the single commit path for every writer
    (append/overwrite/delete/update/compaction/WAP).

    ``chunks`` switches the commit to the two-level layout: the root
    manifest stores chunk descriptors instead of inline files/stats
    (the chunk objects were already written via the commit store), and
    ``manifest_chunking`` records the table's chunking setting so
    appends inherit it.

    ``partition_spec``/``spec_id`` record the table's partition layout
    contract (Iceberg-style metadata-tracked spec versions): when None
    the manifest omits the keys and readers fall back to path
    inference (pre-evolution manifests).

    Optimistic-concurrency CAS: the manifest is PUBLISHED via the
    commit store's ``put_if_absent`` (operators.commitstore — os.link
    of a fully-written temp file on POSIX, a conditional PUT on an
    object store), Delta's putIfAbsent on the log JSON. If a
    concurrent writer already owns v(N+1), :class:`CommitConflict` is
    raised and NOTHING of this commit is visible (staged data files
    are the caller's to clean or retry with). Readers therefore only
    ever see fully-formed manifests, whether they resolve via the
    pointer cache or the log listing.

    ``expected_version`` pins the snapshot the writer READ (DML/WAP):
    the commit targets exactly expected_version+1. When None (blind
    append/overwrite) the target is current+1 at commit time."""
    base = current_version(table_dir) if expected_version is None else expected_version
    version = base + 1
    # monotonic column-id high-water mark (column mapping): inherited
    # from the previous manifest and never lowered, even when a DROP
    # removes the highest cid from the schema — reuse of a dropped
    # column's cid would resurrect its physical data from old files
    max_cid = max_column_id or 0
    if schema_json and _mapping_enabled(schema_json):
        max_cid = max(
            max_cid,
            *(
                ((f.get("metadata") or {}).get("cid") or 0)
                for f in schema_json["fields"]
            ),
        )
    if base > 0:
        try:
            max_cid = max(
                max_cid, _load_manifest(table_dir, base).get("max_column_id", 0)
            )
        except FileNotFoundError:
            pass  # base manifest vacuumed: schema-derived max stands
    if chunks is not None:
        manifest = {"version": version, "mode": mode, "chunks": chunks}
        if manifest_chunking is not None:
            manifest["manifest_chunking"] = manifest_chunking
    else:
        manifest = {
            "version": version,
            "mode": mode,
            "files": files,
            "stats": stats,
        }
    if schema_json:
        manifest["schema"] = schema_json
    if meta:
        manifest["meta"] = meta
    if bloom_cols:
        manifest["bloom_cols"] = bloom_cols
    if partition_spec is not None:
        manifest["partition_spec"] = list(partition_spec)
        manifest["spec_id"] = spec_id if spec_id is not None else 0
    if dvs:
        manifest["dvs"] = dvs
    if max_cid:
        manifest["max_column_id"] = max_cid
    # wall-clock commit time (epoch seconds): the resolution key for
    # AS OF TIMESTAMP time travel (version_at_timestamp). Monotonic
    # per table in practice (commits serialize through the CAS), and
    # the resolver tolerates clock skew by taking the LAST version at
    # or before the asked instant.
    import time as _time

    manifest["committed_at"] = _time.time()
    data = json.dumps(manifest).encode()
    if not get_commit_store().put_if_absent(
        table_dir, _manifest_name(version), data
    ):
        raise CommitConflict(table_dir, version)
    _advance_latest(table_dir, version)
    return version


def _advance_latest(table_dir: str, version: int) -> None:
    """Advance the ``_latest`` pointer cache to ``version``, never
    backwards: with two racing committers (A owns v5, B owns v6) the
    replace order is arbitrary, so a plain overwrite could leave the
    pointer at 5 — reads stay correct regardless (current_version takes
    the max with the manifest listing), a second pass here just
    restores the cache to the truth."""
    store = get_commit_store()
    for _ in range(3):
        cached = store.read_pointer(table_dir)
        if cached is not None and cached >= version:
            return
        store.replace_pointer(table_dir, version)
        version = current_version(table_dir)  # heal any regression we caused


def _manifest_reader(spark: SparkSession, manifest: dict):
    """Reader pinned to the manifest's declared schema: files written
    before an evolution are null-filled for appended columns, and every
    file is read with the committed types (a pre-schema manifest falls
    back to inference). Declared-schema reads also skip the footer-merge
    inference pass entirely — at scale that pass is a real job."""
    schema_json = manifest.get("schema")
    if schema_json:
        from pyspark.sql.types import StructType

        # column mapping: files store PHYSICAL names — pin the physical
        # shape here; _read_manifest_files aliases back to logical
        return spark.read.schema(
            StructType.fromJson(_physical_schema_json(schema_json))
        )
    return spark.read


def _read_manifest_files(
    spark: SparkSession,
    manifest: dict,
    table_dir: str,
    files: list[str],
    apply_dvs: bool = True,
    with_position: bool = False,
) -> DataFrame:
    """Read a subset of a manifest's files under the pinned schema.
    Hive-partitioned paths (``col=value`` dirs) need ``basePath`` so
    Spark's partition discovery restores the partition columns that
    ``partitionBy`` dropped from the parquet footers — without it a
    pinned-schema read would silently null-fill them. Flat and hive
    files mix safely: flat files carry the column in-data, hive files
    derive it from their directory.

    Deletion vectors: when the manifest carries ``dvs`` (and
    ``apply_dvs``), rows listed in them are anti-joined out here — so
    EVERY consumer (reads, CDF row-diffs, DML rewrites, compaction)
    sees merge-on-read semantics with no per-call-site code. A table
    without DVs takes the exact pre-DV plan (no metadata columns, no
    join). ``with_position=True`` keeps the (file basename, row
    position) metadata columns — the DML pipeline's positional view."""
    paths = [
        f if os.path.isabs(f) else os.path.join(table_dir, f) for f in files
    ]
    # group by (data root, partition-column signature): Spark's
    # partition discovery cannot mix hive and flat leaves in ONE scan
    # (it silently drops one group), so each layout group gets its own
    # scan and the groups union under the pinned schema
    groups: dict[tuple, list[str]] = {}
    for p in paths:
        d, cols = os.path.dirname(p), []
        while "=" in os.path.basename(d):
            cols.append(os.path.basename(d).partition("=")[0])
            d = os.path.dirname(d)
        key = (d, tuple(sorted(cols))) if cols else ("", ())
        groups.setdefault(key, []).append(p)
    from pyspark.sql import functions as F

    dvs_active = bool(manifest.get("dvs")) and apply_dvs
    need_meta = dvs_active or with_position
    meta_cols = [
        F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias(
            _DV_FILE_COL
        ),
        F.col("_metadata.row_index").alias(_DV_POS_COL),
    ]
    parts = []
    for (root, _cols), group_paths in sorted(groups.items()):
        reader = _manifest_reader(spark, manifest)
        if root:
            reader = reader.option("basePath", root)
        df = reader.parquet(*group_paths)
        schema_json = manifest.get("schema")
        if schema_json:
            # partition discovery appends partition columns last;
            # restore the committed column order so groups align —
            # and alias physical -> logical (column mapping; identity
            # for unmapped tables)
            df = df.select(
                *[
                    F.col(_field_physical(f)).alias(f["name"])
                    for f in schema_json["fields"]
                ],
                *(meta_cols if need_meta else []),
            )
        elif need_meta:
            df = df.select("*", *meta_cols)
        parts.append(df)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if dvs_active:
        dv = _dv_union(spark, table_dir, manifest).select(
            F.col("file_base").alias(_DV_FILE_COL),
            F.col("pos").alias(_DV_POS_COL),
        )
        # merge-on-read: DVs are O(deleted rows) — small by the write
        # path's contract — so AQE broadcasts this anti-join in the
        # common case; no hint, a genuinely large DV may shuffle
        out = out.join(dv, [_DV_FILE_COL, _DV_POS_COL], "left_anti")
    if not with_position and need_meta:
        out = out.drop(_DV_FILE_COL, _DV_POS_COL)
    return out


def read_versioned(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    skip_filter: list[tuple] | None = None,
    contract=None,
    as_of=None,
) -> DataFrame:
    """Read a snapshot (latest by default; ``version`` time-travels by
    number, ``as_of`` by wall-clock instant — epoch float, datetime,
    date, or ISO string — resolved via :func:`version_at_timestamp`).

    ``skip_filter`` is a conjunctive list of ``(column, op, value)``
    with op in {=, <, <=, >, >=}: files whose manifest min/max provably
    exclude all matching rows are never opened (Delta-style data
    skipping from the manifest stats), and the residual predicate is
    applied to the surviving rows so results are exact either way.
    Values compare against footer stats — numbers as numbers, strings
    lexicographically, timestamps as ISO strings.

    ``contract`` (optional StructType): the reader's pinned schema
    contract, validated against the snapshot's committed schema BEFORE
    any file is opened (operators.contracts.read_compat — safe upcasts
    allowed, nullability tightening and missing required columns
    raise). The fail-fast half of writer-side schema enforcement: a
    consumer breaks at submit time with a column-level message, not
    mid-job with a cast error.

    ``table_dir`` may be a ``catalog:<name>`` reference (resolved via
    ``$DATALAKE_CATALOG_DIR`` — operators.catalog)."""
    if table_dir.startswith("catalog:"):
        from .catalog import resolve_table_ref

        # time-travel pins inline in the ref: catalog:<name>@v<N> or
        # catalog:<name>@<ISO timestamp> — the SQL-ish "AS OF" spelling
        # for name-addressed tables
        ref = table_dir
        if "@" in ref:
            ref, _, pin = ref.rpartition("@")
            if version is not None or as_of is not None:
                raise ValueError(
                    f"ref {table_dir!r} carries an @pin AND an explicit "
                    "version/as_of — pass one"
                )
            if pin.startswith("v") and pin[1:].isdigit():
                version = int(pin[1:])
            else:
                as_of = pin
        table_dir = resolve_table_ref(ref)
    if as_of is not None:
        if version is not None:
            raise ValueError("pass version OR as_of, not both")
        version = version_at_timestamp(table_dir, as_of)
    v = version or current_version(table_dir)
    if v == 0:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    manifest = _load_manifest(table_dir, v)
    if contract is not None:
        from pyspark.sql.types import StructType

        from .contracts import read_compat

        schema_json = manifest.get("schema")
        if schema_json is None:
            raise ValueError(
                f"{table_dir}@v{v} has no committed schema to validate "
                "a contract against"
            )
        committed = StructType.fromJson(schema_json)
        violations = read_compat(committed, contract)
        if violations:
            raise ValueError(
                f"schema contract violated by {table_dir}@v{v}: "
                + "; ".join(violations)
            )
    # translated hidden-partition conjuncts prune only — they are never
    # applied as residuals
    files = _candidate_files(
        table_dir, manifest, _prune_filter(skip_filter, manifest)
    )
    if not files:
        # every file pruned: preserve the schema via a zero-row scan of
        # one manifest file with an always-false filter
        from pyspark.sql import functions as F

        all_files, _ = _expand_manifest(table_dir, manifest)
        return _read_manifest_files(
            spark, manifest, table_dir, all_files[:1]
        ).filter(F.lit(False))
    df = _read_manifest_files(spark, manifest, table_dir, files)
    if skip_filter:
        from pyspark.sql import functions as F

        _OPS = {
            "=": lambda c, v: c == v,
            "<": lambda c, v: c < v,
            "<=": lambda c, v: c <= v,
            ">": lambda c, v: c > v,
            ">=": lambda c, v: c >= v,
        }
        for col, op, val in skip_filter:
            df = df.filter(_OPS[op](F.col(col), F.lit(val)))
    return df


def files_for_read(
    table_dir: str,
    version: int | None = None,
    skip_filter: list[tuple] | None = None,
) -> list[str]:
    """The manifest-relative file list a read would open after skipping —
    the observable for data-skipping tests and for job planning."""
    v = version or current_version(table_dir)
    manifest = _load_manifest(table_dir, v)
    return _candidate_files(
        table_dir, manifest, _prune_filter(skip_filter, manifest)
    )


def read_changes(
    spark: SparkSession,
    table_dir: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Change-data-feed emulation: the rows that changed between two
    committed snapshots, with a ``_change_type`` column ('insert' /
    'delete'; an update appears as its delete+insert pair).

    Fast path: when every commit in (from, to] is an append, the change
    set IS the set of files added by those manifests — read ONLY those
    files, no row comparison, cost proportional to the delta (the shape
    incremental downstream jobs need). Any overwrite in the range falls
    back to a whole-row diff of the two snapshots (exceptAll both
    ways) — exact, but proportional to snapshot size; avoid overwrites
    on tables meant for incremental consumption (use append +
    compaction, or the CDC merge sink whose deltas are the source
    batches themselves)."""
    to_version = to_version or current_version(table_dir)
    if not 0 <= from_version <= to_version <= current_version(table_dir):
        raise ValueError(
            f"invalid version range {from_version}..{to_version} "
            f"(latest {current_version(table_dir)})"
        )
    from pyspark.sql import functions as F

    if from_version == to_version:
        return read_versioned(spark, table_dir, to_version).filter(
            F.lit(False)
        ).withColumn("_change_type", F.lit("insert"))
    all_appends = all(
        _load_manifest(table_dir, v)["mode"] == "append"
        for v in range(from_version + 1, to_version + 1)
    )
    if all_appends:
        base = (
            set(
                _expand_manifest(
                    table_dir, _load_manifest(table_dir, from_version)
                )[0]
            )
            if from_version > 0
            else set()
        )
        to_manifest = _load_manifest(table_dir, to_version)
        to_files, _ = _expand_manifest(table_dir, to_manifest)
        new_files = [f for f in to_files if f not in base]
        if not new_files:
            return read_versioned(spark, table_dir, to_version).filter(
                F.lit(False)
            ).withColumn("_change_type", F.lit("insert"))
        # pin the target snapshot's schema: the range may span a schema
        # evolution, and downstream consumers see the evolved shape
        return _read_manifest_files(
            spark, to_manifest, table_dir, new_files
        ).withColumn("_change_type", F.lit("insert"))
    new_manifest = _load_manifest(table_dir, to_version)
    new = read_versioned(spark, table_dir, to_version)
    if from_version > 0:
        # read the OLD snapshot's files under the NEW snapshot's schema
        # so the row diff is well-typed even across a schema evolution
        # (columns the old files lack null-fill; the diff is expressed
        # in the evolved shape)
        old_manifest = _load_manifest(table_dir, from_version)
        old_files, _ = _expand_manifest(table_dir, old_manifest)
        old = _read_manifest_files(
            spark,
            {
                **old_manifest,
                "schema": new_manifest.get("schema")
                or old_manifest.get("schema"),
            },
            table_dir,
            old_files,
        )
    else:
        old = new.filter(F.lit(False))
    inserts = new.exceptAll(old).withColumn("_change_type", F.lit("insert"))
    deletes = old.exceptAll(new).withColumn("_change_type", F.lit("delete"))
    return inserts.unionByName(deletes)


def has_meta(table_dir: str, key: str, value) -> bool:
    """True if any RETAINED manifest carries ``meta[key] == value``.
    Used for idempotent streaming commits (epoch replay detection);
    note vacuum() drops old manifests, so the replay-detection horizon
    equals manifest retention — the same retention/replay trade Delta
    makes. Structured Streaming only ever replays the LAST epoch, well
    inside any sane retention."""
    latest = current_version(table_dir)
    for v in range(latest, 0, -1):
        try:
            m = _load_manifest(table_dir, v)
        except FileNotFoundError:
            break  # older manifests vacuumed
        if m.get("meta", {}).get(key) == value:
            return True
    return False


def version_with_meta(table_dir: str, key: str, value) -> int | None:
    """Version of the most recent retained manifest carrying
    ``meta[key] == value`` (None if absent) — the lookup half of
    :func:`has_meta`, for sinks that must REPAIR a partially-applied
    epoch by re-reading exactly that commit's change feed."""
    latest = current_version(table_dir)
    for v in range(latest, 0, -1):
        try:
            m = _load_manifest(table_dir, v)
        except FileNotFoundError:
            break
        if m.get("meta", {}).get(key) == value:
            return v
    return None


def snapshot_row_count(table_dir: str, version: int | None = None) -> int:
    """Metadata-only row count from manifest stats (no Spark job) — the
    engine's replacement for the reference's count-after-every-transform
    full jobs (SURVEY.md §2.4 A2)."""
    v = version or current_version(table_dir)
    manifest = _load_manifest(table_dir, v)
    files, stats = _expand_manifest(table_dir, manifest)
    if set(stats) != set(files):
        raise ValueError(
            "manifest predates stats collection — re-commit or count via Spark"
        )
    # merge-on-read: DV'd rows are invisible; their per-file counts are
    # manifest metadata, so the count stays a no-Spark-job operation
    return sum(s["rows"] for s in stats.values()) - _dv_total_rows(manifest)


def history_df(spark: SparkSession, table_dir: str) -> DataFrame:
    """DESCRIBE HISTORY parity: one row per retained snapshot —
    (version, mode, n_files, n_rows [DV-aware live count], n_dvs,
    committed_at). Built from manifests on the driver (O(versions)
    metadata, no data scanned) and returned as a DataFrame so it
    composes with SQL/joins like any other table. Vacuumed (dropped)
    manifests are simply absent, like Delta's history after log
    cleanup. Reference parity: the reference's only observability is a
    count() job per transform (SURVEY.md §2.4 A2)."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    latest = current_version(table_dir)
    rows = []
    for v in range(1, latest + 1):
        try:
            m = _load_manifest(table_dir, v)
        except FileNotFoundError:
            continue  # vacuumed
        files, stats = _expand_manifest(table_dir, m)
        n_rows = (
            sum(s["rows"] for s in stats.values()) - _dv_total_rows(m)
            if set(stats) == set(files)
            else None
        )
        rows.append((
            v,
            m.get("mode", "append"),
            len(files),
            n_rows,
            len(m.get("dvs", [])),
            m.get("committed_at"),
        ))
    schema = StructType([
        StructField("version", LongType()),
        StructField("mode", StringType()),
        StructField("n_files", LongType()),
        StructField("n_rows", LongType()),
        StructField("n_dvs", LongType()),
        StructField("committed_at", StringType()),
    ])
    return spark.createDataFrame(rows, schema)


def files_df(spark: SparkSession, table_dir: str,
             version: int | None = None) -> DataFrame:
    """Per-file metadata of one snapshot as a DataFrame — (path, rows
    [physical], size_bytes). The `table.files` observable for job
    planning and small-file audits; O(files) driver metadata, no data
    scanned."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    v = version or current_version(table_dir)
    manifest = _load_manifest(table_dir, v)
    files, stats = _expand_manifest(table_dir, manifest)
    rows = []
    for f in files:
        full = f if os.path.isabs(f) else os.path.join(table_dir, f)
        size = os.path.getsize(full) if os.path.exists(full) else None
        st = stats.get(f)
        rows.append((f, st["rows"] if st else None, size))
    schema = StructType([
        StructField("path", StringType()),
        StructField("n_rows", LongType()),
        StructField("size_bytes", LongType()),
    ])
    return spark.createDataFrame(rows, schema)


def compact_versioned(
    spark: SparkSession,
    table_dir: str,
    target_files: int = 1,
    sort_by: str | None = None,
    zorder_by: list[str] | None = None,
    partition_by: list[str] | None = None,
    evolve_partitioning: bool = False,
    where: list[tuple] | None = None,
) -> int:
    """OPTIMIZE for the Delta-lite layer: rewrite the CURRENT snapshot
    into ``target_files`` right-sized files as a new overwrite commit.
    Streaming appends land one small file set per epoch; compaction
    folds them without losing anything — prior versions stay
    time-travelable until vacuum, readers never see a partial state
    (same atomic pointer flip as any commit), and the epoch ledger in
    older manifests keeps protecting against replays inside the
    retention window. Returns the new version number.

    ``sort_by``: range-cluster one column (OPTIMIZE + sort);
    ``zorder_by``: Morton-curve cluster several (OPTIMIZE ZORDER,
    io.zorder_layout). Either way the rewrite's manifest records tight
    per-file min/max, so ``read_versioned(skip_filter=...)`` prunes
    aggressively right after compaction — clustering is what makes the
    stats selective.

    A hive-partitioned table keeps its layout: ``partition_by`` defaults
    to the current manifest's partition columns (pass ``[]`` to
    deliberately flatten), and ``target_files`` then applies per
    partition directory.

    ``where`` (skip_filter-style conjunction) scopes the rewrite —
    Delta's ``OPTIMIZE ... WHERE``: only files whose manifest stats
    MAY match are read and rewritten (``target_files`` applies to that
    subset); every other file is carried into the new commit by
    reference, byte-identical, stats reused. Rows never change, so the
    commit is pure re-layout: at 100 TB you compact the one hot
    partition a streaming sink fragments without touching (or even
    listing) the cold ones."""
    v_read = current_version(table_dir)
    prev_manifest = _load_manifest(table_dir, v_read)
    if partition_by is None:
        partition_by = _manifest_partition_spec(prev_manifest)
    else:
        partition_by = _normalize_spec(partition_by)
    if where is not None:
        return _compact_subset(
            spark,
            table_dir,
            v_read,
            prev_manifest,
            where,
            target_files,
            sort_by,
            zorder_by,
            partition_by,
            evolve_partitioning,
        )
    df = _compaction_layout(
        read_versioned(spark, table_dir, version=v_read),
        target_files, sort_by, zorder_by,
    )
    prev_meta = prev_manifest.get("meta", {})
    # read-pinned commit: a concurrent append between our snapshot read
    # and the overwrite commit would be silently DROPPED by a blind
    # retry (a streaming sink racing OPTIMIZE) — pin the source version
    # so the race raises CommitConflict and the caller re-runs
    # compaction over the new snapshot instead
    return write_versioned(
        spark,
        df,
        table_dir,
        mode="overwrite",
        meta={**prev_meta, "compaction_of": v_read},
        bloom_cols=prev_manifest.get("bloom_cols"),
        expected_version=v_read,
        partition_by=partition_by,
        evolve_partitioning=evolve_partitioning,
    )


def _compaction_layout(
    df: DataFrame, target_files: int, sort_by: str | None,
    zorder_by: list[str] | None,
) -> DataFrame:
    """The OPTIMIZE layout of ``df``: Z-ordered, range-sorted on one
    column, or just coalesced into ``target_files`` partitions."""
    if zorder_by:
        from ..io import zorder_layout

        return zorder_layout(df, zorder_by, n_files=target_files)
    if sort_by:
        from pyspark.sql import functions as F

        return df.repartitionByRange(
            target_files, F.col(sort_by)
        ).sortWithinPartitions(sort_by)
    return df.coalesce(target_files)


def _compact_subset(
    spark: SparkSession,
    table_dir: str,
    v_read: int,
    manifest: dict,
    where: list[tuple],
    target_files: int,
    sort_by: str | None,
    zorder_by: list[str] | None,
    partition_by: list[str],
    evolve_partitioning: bool = False,
) -> int:
    """OPTIMIZE WHERE: rewrite only the may-match files (wholesale — no
    row filtering, compaction must preserve rows exactly), carry the
    rest by reference — the DML pipeline's rewrite-and-commit step
    (:func:`_dml_commit`). Pure re-layout reads only its touched
    files, so winner-added files never affect its correctness and a
    disjoint concurrent commit is rebased over (``added_check``
    'ignore'); an overlapping one raises CommitConflict."""
    # same evolve_partitioning gate as the write_versioned path — a
    # differing explicit spec must not silently rewrite the committed
    # layout, and an evolution must bump spec_id
    cur_spec = _manifest_partition_spec(manifest)
    cur_spec_id = manifest.get("spec_id", 0)
    if (partition_by or []) != cur_spec and not evolve_partitioning:
        raise ValueError(
            f"compact_versioned(where=...): partition_by {partition_by} differs "
            f"from the table's committed partition spec {cur_spec} "
            f"(spec_id {cur_spec_id}); pass evolve_partitioning=True to change "
            "the spec, or omit partition_by to keep it"
        )
    spec_id = (
        cur_spec_id + 1 if (partition_by or []) != cur_spec else cur_spec_id
    )
    touched = _candidate_files(
        table_dir, manifest, _prune_filter(where, manifest)
    )
    if not touched:
        return v_read  # nothing in scope — no empty commit
    df = _compaction_layout(
        _read_manifest_files(spark, manifest, table_dir, touched),
        target_files, sort_by, zorder_by,
    )
    return _dml_commit(
        table_dir, v_read, manifest, "optimize",
        {
            **manifest.get("meta", {}),
            "compaction_of": v_read,
            "where": [list(c) for c in where],
        },
        touched, df,
        added_check="ignore", spec=partition_by, spec_id=spec_id,
    )


def purge_rows(
    spark: SparkSession,
    table_dirs: list[str],
    predicate: str,
    verify: bool = True,
) -> dict[str, dict]:
    """Right-to-be-forgotten PHYSICAL erasure across tables: for each
    table, copy-on-write DELETE every row matching ``predicate``, then
    vacuum down to the post-delete snapshot so the superseded files —
    the only remaining copies of the purged bytes — are actually
    removed from storage. Deliberately NOT the deletion-vector path: a
    DV hides rows from readers but leaves their bytes in the parquet,
    which is retention, not erasure — and for the same reason, rows
    the subject already DV-deleted earlier are purged too (the DML
    pipeline's touched files come from a raw, DV-unapplied scan, and
    verification scans raw bytes too). The vacuum also drops the older
    manifests, so the purged rows are not time-travelable either.
    Returns per-table ``{"n_deleted", "n_files_removed",
    "verified_absent"}``; ``n_deleted`` counts only rows that were
    still visible.

    Cost shape: the DELETE rewrites only files holding a matching row;
    the vacuum is driver-side metadata + unlinks.
    Tables where the predicate column does not exist are skipped with
    ``{"skipped": True}`` rather than failing the sweep — a purge
    fans out over many tables and the subject's key usually exists in
    only some of them."""
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    pred = F.coalesce(F.expr(predicate), F.lit(False))
    out: dict[str, dict] = {}
    for td in table_dirs:
        try:
            v, manifest = _dml_snapshot(td)

            def match(t, manifest=manifest, td=td):
                visible = _affected(t.filter(pred), F.lit(True), [])
                if not manifest.get("dvs"):
                    return visible
                # rows a deletion-vector delete hid (the DV GDPR path)
                # still have their bytes in the parquet: matches in the
                # RAW scan of every file (the candidates, as nothing
                # prunes) touch their files too, so the rewrite erases
                # them; only visible matches count as deleted, a raw
                # match counts as neither (NULL)
                raw = _read_manifest_files(
                    spark, manifest, td, _expand_manifest(td, manifest)[0],
                    apply_dvs=False, with_position=True,
                )
                return visible.unionByName(
                    _affected(raw.filter(pred), F.lit(None).cast("boolean"), [])
                )

            _, counts = _run_dml(
                spark, td, v, manifest, "delete", {"predicate": predicate},
                None, match=match, rewrite=lambda t: t.filter(~pred),
            )
            n_del = counts["n_deleted"]
        except AnalysisException as exc:
            out[td] = {"skipped": True, "reason": str(exc).split("\n")[0]}
            continue
        n_removed = vacuum(td, keep_last=1)
        res = {"n_deleted": n_del, "n_files_removed": n_removed}
        if verify:
            # verify on the RAW (DV-unapplied) bytes of the surviving
            # snapshot: a DV-applied read would report "absent" even
            # if the bytes survived behind a deletion vector.
            m = _load_manifest(td, current_version(td))
            files, _ = _expand_manifest(td, m)
            remaining = 0
            if files:
                remaining = (
                    _read_manifest_files(spark, m, td, files, apply_dvs=False)
                    .filter(F.expr(predicate))
                    .limit(1)
                    .count()
                )
            res["verified_absent"] = remaining == 0
            # belt-and-braces: no surviving file may even be a stats
            # candidate once the rewrite landed... but a predicate like
            # "k = 5" on an unclustered table legitimately leaves
            # candidates, so the row-level scan above is the real gate.
        out[td] = res
    return out


def vacuum(table_dir: str, keep_last: int = 1) -> int:
    """Delete data files unreferenced by the last ``keep_last`` manifests
    (and drop the older manifests). Returns number of files removed."""
    latest = current_version(table_dir)
    keep_versions = set(range(max(1, latest - keep_last + 1), latest + 1))
    keep_files: set[str] = set()
    keep_chunks: set[str] = set()
    for v in keep_versions:
        m = _load_manifest(table_dir, v)
        keep_files.update(_expand_manifest(table_dir, m)[0])
        keep_chunks.update(ch["path"] for ch in m.get("chunks", []))
        # DV parquets live under data/ and are referenced like data
        # files — retained snapshots' DVs survive, orphans are swept
        keep_files.update(dv["path"] for dv in m.get("dvs", []))
    data_dir = os.path.join(table_dir, "data")
    removed = 0
    # metadata-only tables (fresh shallow clone) have no data/ dir —
    # still prune old manifests below rather than raising
    if os.path.isdir(data_dir):
        # bottom-up walk: hive-partitioned tables nest col=value dirs
        # under data/, and emptied partition dirs are pruned after
        for root, _dirs, names in os.walk(data_dir, topdown=False):
            for name in names:
                full = os.path.join(root, name)
                if os.path.relpath(full, table_dir) not in keep_files:
                    os.remove(full)
                    removed += 1
            if root != data_dir and not os.listdir(root):
                os.rmdir(root)
    store = get_commit_store()
    for name in store.list_log(table_dir):
        # chunk objects unreferenced by any kept manifest: dropped
        # versions' chunks and losers of commit races (written before
        # their CAS failed) — same GC as staged data files
        if name.startswith(_CHUNK_PREFIX):
            if name not in keep_chunks:
                store.delete(table_dir, name)
            continue
        # only vNNNNN.json manifests — a stray object (editor temp, an
        # interrupted pointer .tmp) must not abort vacuum mid-delete
        if not is_manifest_name(name):
            continue
        v = int(name[1:6])
        if v not in keep_versions:
            store.delete(table_dir, name)
    return removed


# --------------------------------------------------------------------
# DML: one pipeline for DELETE / UPDATE / MERGE (and purge_rows), in
# copy-on-write or deletion-vector mode — Delta Lake's single DML
# model: a verb is a spec (prune conjuncts, match relation, rewrite
# transform, inserts) and the mode only picks the write step.
# --------------------------------------------------------------------

_FB, _POS, _DEL = "file_base", "pos", "__del"
_COUNTS = ("n_updated", "n_deleted", "n_inserted")


def _dml_snapshot(table_dir: str) -> tuple[int, dict]:
    """The snapshot a DML reads (and pins its commit to)."""
    v = current_version(table_dir)
    if v == 0:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    return v, _load_manifest(table_dir, v)


def _declared_types(manifest: dict) -> dict:
    """Column name -> DECLARED DataType of the snapshot ({} when the
    manifest predates schema recording)."""
    from pyspark.sql.types import StructType

    schema_json = manifest.get("schema")
    if not schema_json:
        return {}
    return {f.name: f.dataType for f in StructType.fromJson(schema_json).fields}


def _affected(df: DataFrame, del_cond, images) -> DataFrame:
    """Match-relation rows of a positional scan already filtered to the
    affected rows: (file_base, pos, __del, *images)."""
    from pyspark.sql import functions as F

    return df.select(
        F.col(_DV_FILE_COL).alias(_FB),
        F.col(_DV_POS_COL).cast("bigint").alias(_POS),
        del_cond.alias(_DEL),
        *images,
    )


def _run_dml(
    spark: SparkSession,
    table_dir: str,
    v: int,
    manifest: dict,
    mode: str,
    meta: dict,
    prune: list[tuple] | None,
    match,
    rewrite,
    inserts=None,
    deletion_vectors: bool = False,
) -> tuple[int, dict]:
    """Run one DML verb against snapshot ``v`` (``manifest``); returns
    ``(version, counts)``, counts being ``n_updated``/``n_deleted``/
    ``n_inserted``. A verb that changes nothing commits nothing and
    returns ``v``.

    The verb is a spec:

    - ``prune``: skip_filter conjuncts the verb implies. They prune the
      candidate files by manifest stats and, on a lost commit race, are
      the guard that clears concurrently added files (None: no pruning,
      and every added file is a conflict).
    - ``match(t)``: the rows of ``t``, the positional scan of the
      candidates, that the verb affects, as ``(file_base, pos, __del,
      *images)`` (see :func:`_affected`): ``__del`` is true for a row
      that goes and false for a row that is replaced by its image;
      NULL rows touch their file but count as neither (purge_rows'
      already-hidden rows).
    - ``rewrite(t)``: what a copy-on-write rewrite keeps of ``t``, the
      read of the touched files — every row that does not go, as its
      image.
    - ``inserts(t)``: new rows decided against the candidates' scan
      ``t`` (None: no candidates) — MERGE's not-matched inserts — in
      the match shape with null file_base/pos.

    Steps:

    1. candidates — :func:`_candidate_files` under ``prune``;
    2. match relation — ``match`` over one DV-applied positional scan
       of the candidates, plus ``inserts`` over the same scan; a local
       checkpoint when the write step reads it again;
    3. one per-file aggregate ``collect``: its file keys are the
       touched set, its sums the verb's counts;
    4. write — copy-on-write stages ``rewrite`` of the touched files
       plus the inserts, replacing the touched files; deletion vectors
       stage the ``(file_base, pos)`` pairs as one DV object and append
       the images plus inserts, rewriting no file;
    5. commit — :func:`_dml_commit`.

    Invariants:

    - DV disjointness: ``match`` reads the DV-APPLIED positional scan,
      whose ``_metadata.row_index`` is the raw file position assigned
      before the DV anti-join. A row an earlier DV hides can neither
      match nor be listed again, so DV objects for one file are
      disjoint and stack.
    - NULL-safe complement: verb conditions are coalesced to false, so
      a row whose predicate is NULL is neither deleted nor updated (a
      bare ``~pred`` would drop it from a rewrite).
    - WriteSerializable rebase: the commit is pinned at ``v``; a
      concurrent winner that left the touched files and their DVs
      alone, kept schema/spec/chunking, and added only files the
      ``prune`` guard clears is rebased over (:func:`_commit_dml`), so
      the DML serializes at its read snapshot."""
    from functools import reduce

    from pyspark.sql import functions as F

    guard = _prune_filter(prune, manifest)
    candidates = _candidate_files(table_dir, manifest, guard)
    scan = _read_manifest_files(
        spark, manifest, table_dir, candidates, with_position=True
    ) if candidates else None
    parts = [match(scan)] if candidates else []
    if inserts is not None:
        parts.append(inserts(scan))
    counts = dict.fromkeys(_COUNTS, 0)
    if not parts:
        return v, counts
    rel = reduce(DataFrame.unionByName, parts)
    if deletion_vectors or inserts is not None:
        # the write step reads it again (DV positions, images, inserts):
        # pinned, and materialized by the aggregate's own job
        rel = rel.localCheckpoint(eager=False)
    per_file = {}
    for r in (
        rel.groupBy(_FB)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(_DEL).cast("long")).alias("d"),
            F.sum((~F.col(_DEL)).cast("long")).alias("u"),
        )
        .collect()
    ):
        if r[_FB] is None:
            counts["n_inserted"] = r["n"]
        else:
            per_file[r[_FB]] = r["n"]
            counts["n_deleted"] += r["d"] or 0
            counts["n_updated"] += r["u"] or 0
    if not per_file and not counts["n_inserted"]:
        return v, counts
    by_base = {os.path.basename(f): f for f in candidates}
    touched = sorted(by_base[b] for b in per_file)

    def images(df):
        return df.drop(_FB, _POS, _DEL)

    dv = None
    if deletion_vectors:
        out = (
            images(rel.filter(~F.col(_DEL)))
            if counts["n_updated"] or counts["n_inserted"]
            else None
        )
        if per_file:
            positions = rel.filter(F.col(_FB).isNotNull()).select(_FB, _POS)
            dv = (positions, per_file)
    else:
        outs = [
            rewrite(_read_manifest_files(spark, manifest, table_dir, touched))
        ] if touched else []
        if counts["n_inserted"]:
            outs.append(images(rel.filter(F.col(_FB).isNull())))
        out = reduce(DataFrame.unionByName, outs)
    version = _dml_commit(
        table_dir, v, manifest, mode, {**meta, **counts}, touched, out,
        dv=dv, guard=guard,
    )
    return version, counts


def _dml_commit(
    table_dir: str,
    v: int,
    manifest: dict,
    mode: str,
    meta: dict,
    touched: list[str],
    out: DataFrame | None,
    dv: tuple | None = None,
    guard=None,
    added_check: str = "guard",
    spec: list | None = None,
    spec_id: int | None = None,
) -> int:
    """Write step and commit of the DML pipeline, shared with OPTIMIZE
    WHERE. ``out`` (None: nothing) is staged under the partition spec
    with footer stats and blooms.

    - Rewrite (``dv`` None): the staged files replace ``touched``; the
      touched files' DV rows are dropped, because the rewrite read was
      DV-applied and so already materialized them.
    - Deletion vector (``dv`` = (positions frame, per-file counts)):
      every file stays and the positions are staged as one new DV
      object.

    The commit's meta records ``n_touched_files`` and ``n_added_files``
    beside the caller's. It is read-pinned at ``v``; ``guard`` and
    ``added_check`` tell the rebase how to treat concurrently added
    files (see :func:`_commit_dml`). A rewrite under a new partition
    ``spec`` (OPTIMIZE WHERE with evolve_partitioning) re-keys the
    table layout and is never rebased: it raises on any race."""
    schema_json = manifest.get("schema")
    cur_spec_id = manifest.get("spec_id", 0)
    if spec is None:
        spec, spec_id = _manifest_partition_spec(manifest), cur_spec_id
    new_files: list[str] = []
    new_stats: dict = {}
    if out is not None:
        new_files = _stage_with_spec(out, table_dir, spec, schema_json)
        new_stats = _stats_for_new_files(
            table_dir, new_files, _physical_schema_json(schema_json or {}) or None
        )
        _augment_blooms(
            table_dir,
            new_files,
            new_stats,
            _physicalize_cols(manifest.get("bloom_cols"), schema_json),
            0.01,
        )
    all_files, all_stats = _expand_manifest(table_dir, manifest)
    staged = list(new_files)
    new_dvs: list[dict] = []
    if dv is None:
        gone = set(touched)
        kept = [f for f in all_files if f not in gone]
        dvs = _carry_dvs(manifest, touched)
    else:
        positions, per_file = dv
        dv_rel = _stage_dv(positions, table_dir)
        staged.append(dv_rel)
        new_dvs = [{"path": dv_rel, "rows": per_file}]
        kept, dvs = all_files, list(manifest.get("dvs", [])) + new_dvs
        meta = {**meta, "deletion_vector": dv_rel}
    rebase = None if spec_id != cur_spec_id else {
        "touched": touched,
        "new_files": new_files,
        "new_stats": new_stats,
        "new_dvs": new_dvs,
        "cow": dv is None,
        "added_check": added_check,
        "added_guard": guard,
    }
    return _commit_dml(
        table_dir,
        manifest,
        staged,
        kept + new_files,
        {**{f: all_stats[f] for f in kept if f in all_stats}, **new_stats},
        mode,
        {**meta, "n_touched_files": len(touched), "n_added_files": len(new_files)},
        expected_version=v,
        partition_spec=spec,
        spec_id=spec_id,
        dvs=dvs or None,
        rebase=rebase,
    )


def _dv_rows_on(manifest: dict, bases: set[str]) -> dict:
    """DV state restricted to ``bases``: {(dv path, file base): rows}.
    Two snapshots agreeing on this have byte-identical merge-on-read
    visibility for those files."""
    return {
        (dv["path"], b): n
        for dv in manifest.get("dvs", []) or []
        for b, n in dv["rows"].items()
        if b in bases
    }


def _commit_dml(
    table_dir: str,
    manifest: dict,
    staged_files: list[str],
    files: list[str],
    stats: dict,
    mode: str,
    meta: dict | None,
    expected_version: int,
    partition_spec: list[str] | None = None,
    spec_id: int | None = None,
    dvs: list | None = None,
    rebase: dict | None = None,
) -> int:
    """Read-pinned DML commit: targets exactly the snapshot the DML
    read (``manifest``, version ``expected_version``; its touched-file
    set and row counts are only valid against that manifest). Schema,
    bloom columns and manifest chunking carry over from it.

    On a lost commit race, ``rebase`` enables Delta-style LOGICAL
    conflict resolution (the reference's deployment model is
    concurrent cron writers — zoom_proc.py:314-343 + jhub_proc.py:267-276
    land on shared storage): re-read the winning snapshot and, when
    the winner is DISJOINT from this DML's work — every touched file
    still live with identical deletion-vector state, same schema /
    partition spec / chunking — rebuild the manifest on top of the
    winner's file set and retry the CAS. Winner-added files (appends,
    other DMLs' rewrites of OTHER files) simply carry into the new
    snapshot: WriteSerializable semantics — this DML serializes as if
    it ran at its read snapshot, before the winner. An OVERLAPPING
    winner (rewrote/removed a touched file, changed its DVs, evolved
    schema or spec) raises :class:`ConcurrentDMLConflict` naming the
    conflicting files, after removing the staged files so nothing
    orphans — a blind retry would publish stale data, so the caller
    must re-run discovery.

    ``rebase`` keys: ``touched`` (files this DML's result depends on),
    ``new_files``/``new_stats`` (what it staged), ``new_dvs`` (DV
    entries it appends, merge-on-read paths), ``cow`` (True: touched
    files leave the file list; False: DV path, file list unchanged),
    ``added_check``/``added_guard`` (below). ``rebase=None`` keeps the
    raise-on-any-conflict behavior.

    A chunked table keeps its two-level layout across rewrites: the
    full post-DML file set is re-chunked (a rewrite invalidates the
    touched chunks' rollups, so carrying descriptors by reference
    would lie)."""
    manifest_chunking = manifest.get("manifest_chunking")

    def _attempt(files_, stats_, dvs_, expected_):
        chunks = None
        if manifest_chunking:
            chunks = _write_manifest_chunks(
                table_dir, files_, stats_, manifest_chunking
            )
        return _commit_manifest(
            table_dir,
            files_,
            stats_,
            mode,
            manifest.get("schema"),
            meta,
            bloom_cols=manifest.get("bloom_cols"),
            expected_version=expected_,
            partition_spec=partition_spec,
            spec_id=spec_id,
            chunks=chunks,
            manifest_chunking=manifest_chunking,
            dvs=dvs_,
        )

    def _cleanup():
        for f in staged_files:
            try:
                os.remove(os.path.join(table_dir, f))
            except FileNotFoundError:
                pass

    try:
        return _attempt(files, stats, dvs, expected_version)
    except CommitConflict as first:
        if rebase is None:
            _cleanup()
            raise
        last: CommitConflict = first
    try:
        base_m = _load_manifest(table_dir, expected_version)
    except FileNotFoundError:
        _cleanup()
        raise last  # read snapshot vacuumed mid-flight: can't classify
    touched = list(rebase["touched"])
    touched_set = set(touched)
    touched_bases = {os.path.basename(f) for f in touched}
    base_dv_sig = _dv_rows_on(base_m, touched_bases)
    base_files = set(_expand_manifest(table_dir, base_m)[0])

    def _conflict(reason: str, conflicting) -> ConcurrentDMLConflict:
        _cleanup()
        return ConcurrentDMLConflict(
            table_dir, current_version(table_dir), reason,
            sorted(conflicting),
        )

    for _ in range(16):
        cur = current_version(table_dir)
        cur_m = _load_manifest(table_dir, cur)
        if cur_m.get("schema") != base_m.get("schema"):
            raise _conflict("concurrent schema change", [])
        if (
            _manifest_partition_spec(cur_m)
            != _manifest_partition_spec(base_m)
            or cur_m.get("spec_id", 0) != base_m.get("spec_id", 0)
        ):
            raise _conflict("concurrent partition-spec change", [])
        if cur_m.get("manifest_chunking") != base_m.get("manifest_chunking"):
            raise _conflict("concurrent manifest-chunking change", [])
        live_cur, stats_cur = _expand_manifest(table_dir, cur_m)
        missing = touched_set - set(live_cur)
        if missing:
            raise _conflict(
                "touched files were concurrently rewritten or removed",
                missing,
            )
        if _dv_rows_on(cur_m, touched_bases) != base_dv_sig:
            raise _conflict(
                "deletion vectors changed on touched files", touched_bases
            )
        # Delta's ConcurrentAppend check: files the winner ADDED that
        # may contain rows this DML's predicate should have seen break
        # the DML's "all matching rows" contract. The guard is the
        # physicalized skip_filter / source-key envelope; with no
        # guard, any added file is conservatively a conflict. Pure
        # re-layout ops (OPTIMIZE) read only their touched files and
        # set added_check='ignore'.
        if rebase.get("added_check", "guard") == "guard":
            added = [f for f in live_cur if f not in base_files]
            guard = rebase.get("added_guard")
            hits = [
                f
                for f in added
                # a zero-row file can't hold a matching row (empty
                # partitions staged as files have no min/max to prune)
                if (stats_cur.get(f) or {}).get("rows") != 0
                and (
                    guard is None
                    or _file_may_match(stats_cur.get(f), guard)
                )
            ]
            if hits:
                raise _conflict(
                    "concurrently added files may contain rows matching "
                    "this DML's predicate/keys",
                    hits,
                )
        new_files = list(rebase.get("new_files") or [])
        new_dvs = list(rebase.get("new_dvs") or [])
        if rebase.get("cow", True):
            carried = [f for f in live_cur if f not in touched_set]
            files2 = carried + new_files
            stats2 = {
                **{f: stats_cur[f] for f in carried if f in stats_cur},
                **rebase.get("new_stats", {}),
            }
            dvs2 = (_carry_dvs(cur_m, touched) or []) + new_dvs
        else:
            files2 = list(live_cur) + [
                f for f in new_files if f not in set(live_cur)
            ]
            stats2 = {**stats_cur, **rebase.get("new_stats", {})}
            dvs2 = list(cur_m.get("dvs", []) or []) + new_dvs
        try:
            return _attempt(files2, stats2, dvs2 or None, cur)
        except CommitConflict as c:
            last = c  # another winner landed while we rebased: re-read
    _cleanup()
    raise last


def delete_versioned(
    spark: SparkSession,
    table_dir: str,
    predicate: str,
    skip_filter: list[tuple] | None = None,
    meta: dict | None = None,
    deletion_vectors: bool = False,
) -> tuple[int, int]:
    """Row-level DELETE (Delta-style copy-on-write): commit a new
    snapshot where rows matching ``predicate`` (a SQL boolean
    expression) are gone. Returns ``(new_version, n_deleted)``.

    ``deletion_vectors=True`` takes the merge-on-read path instead:
    no data file is rewritten — the commit adds one small parquet of
    (file basename, row position) pairs that readers anti-join out
    (see the deletion-vector block above write_versioned). The right
    tool for small/selective deletes on big files (GDPR row removal,
    late-event retraction): O(deleted rows) written instead of
    O(touched files) rewritten. Bulk deletes should keep the default
    copy-on-write path, and OPTIMIZE materializes accumulated DVs.

    Only files that actually contain a visible match are rewritten
    (the DML pipeline, :func:`_run_dml`: manifest-stats pruning with
    ``skip_filter``, which must be implied by the predicate, then one
    scan of the candidates whose per-file match counts name the
    touched files and give ``n_deleted``); every untouched file is
    carried into the new manifest byte-identical, stats reused. A
    predicate matching nothing commits NOTHING and returns the current
    version.

    Prior snapshots stay time-travelable until vacuum; the commit's
    mode is 'delete', so :func:`read_changes` across it takes the
    exact row-diff path (deleted rows appear as _change_type='delete').
    Read-pinned commit: a concurrent commit that overlaps this delete
    raises :class:`CommitConflict` (re-run against the new snapshot);
    a disjoint one is rebased over."""
    from pyspark.sql import functions as F

    v, manifest = _dml_snapshot(table_dir)
    pred = F.coalesce(F.expr(predicate), F.lit(False))
    version, counts = _run_dml(
        spark, table_dir, v, manifest, "delete",
        {**(meta or {}), "predicate": predicate}, skip_filter,
        match=lambda t: _affected(t.filter(pred), F.lit(True), []),
        rewrite=lambda t: t.filter(~pred),
        deletion_vectors=deletion_vectors,
    )
    return version, counts["n_deleted"]


def update_versioned(
    spark: SparkSession,
    table_dir: str,
    predicate: str,
    set_exprs: dict[str, str],
    skip_filter: list[tuple] | None = None,
    meta: dict | None = None,
    deletion_vectors: bool = False,
) -> tuple[int, int]:
    """Row-level UPDATE (copy-on-write by default; merge-on-read with
    ``deletion_vectors=True``): rows matching ``predicate``
    get each column in ``set_exprs`` replaced by its SQL expression
    (evaluated against the old row); all other rows and files are
    untouched. Returns ``(new_version, n_updated)``.

    Same touched-file discovery and carry-over as
    :func:`delete_versioned`. Updated values are cast back to the
    column's DECLARED type (schema enforcement — an update can never
    drift the table schema; unknown columns raise). Commit mode
    'update' -> CDF shows each updated row as delete+insert.

    ``deletion_vectors=True`` rewrites NOTHING it doesn't have to: old
    row positions go into one DV parquet (invisible from commit on)
    and only the UPDATED rows append as new files — O(changed rows)
    written, the Delta DV-update shape. Right for selective updates on
    big files; bulk updates should keep copy-on-write (a mostly-
    deleted file is pure read overhead until OPTIMIZE)."""
    from pyspark.sql import functions as F

    v, manifest = _dml_snapshot(table_dir)
    declared = _declared_types(manifest)
    unknown = set(set_exprs) - set(declared) if declared else set()
    if unknown:
        raise ValueError(f"update sets unknown column(s): {sorted(unknown)}")
    pred = F.coalesce(F.expr(predicate), F.lit(False))

    def image(df):
        cols = []
        for c in df.columns:
            if c in (_DV_FILE_COL, _DV_POS_COL):
                continue
            if c in set_exprs:
                newv = F.expr(set_exprs[c])
                if c in declared:
                    newv = newv.cast(declared[c])
                cols.append(F.when(pred, newv).otherwise(F.col(c)).alias(c))
            else:
                cols.append(F.col(c))
        return cols

    version, counts = _run_dml(
        spark, table_dir, v, manifest, "update",
        {**(meta or {}), "predicate": predicate, "set": set_exprs},
        skip_filter,
        match=lambda t: _affected(t.filter(pred), F.lit(False), image(t)),
        rewrite=lambda t: t.select(*image(t)),
        deletion_vectors=deletion_vectors,
    )
    return version, counts["n_updated"]


def version_at_timestamp(table_dir: str, ts) -> int:
    """AS OF TIMESTAMP resolution (Delta parity): the LAST version
    committed at or before ``ts`` — a float epoch, a
    ``datetime``/``date``, or an ISO string (naive strings are taken
    as UTC, like the engine's session timezone contract). Raises if
    the earliest RETAINED manifest is already newer than ``ts`` (the
    asked instant predates retained history — same error class as
    Delta's timestamp-before-earliest)."""
    import datetime

    if isinstance(ts, str):
        dt = datetime.datetime.fromisoformat(ts)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=datetime.timezone.utc)
        ts = dt.timestamp()
    elif isinstance(ts, datetime.datetime):
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=datetime.timezone.utc)
        ts = ts.timestamp()
    elif isinstance(ts, datetime.date):
        ts = datetime.datetime(
            ts.year, ts.month, ts.day, tzinfo=datetime.timezone.utc
        ).timestamp()
    latest = current_version(table_dir)
    if latest == 0:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    earliest_seen = None
    for v in range(latest, 0, -1):
        try:
            m = _load_manifest(table_dir, v)
        except FileNotFoundError:
            break  # older manifests vacuumed
        at = m.get("committed_at", 0)
        earliest_seen = at
        if at <= ts:
            return v
    raise ValueError(
        f"no retained version of {table_dir} at or before timestamp {ts} "
        f"(earliest retained commit is at {earliest_seen})"
    )


def merge_versioned(
    spark: SparkSession,
    table_dir: str,
    source: DataFrame,
    on: list[str],
    when_matched_update: dict[str, str] | None = None,
    when_matched_delete: str | bool = False,
    when_not_matched_insert: bool = True,
    matched_condition: str | None = None,
    meta: dict | None = None,
    deletion_vectors: bool = False,
) -> tuple[int, dict]:
    """MERGE INTO (Delta semantics) with touched-file-only rewrite:

    - ``when_matched_update``: {target_col: SQL expr} — expressions may
      reference both sides via the ``t``/``s`` aliases
      (``"s.value + t.value"``); applied to matched rows passing
      ``matched_condition`` (a SQL bool over t/s, None = all matched).
    - ``when_matched_delete``: True or a SQL condition over t/s —
      matched rows passing it are dropped. Delete is evaluated BEFORE
      update (a row matching both clauses deletes), mirroring clause
      order in ``MERGE ... WHEN MATCHED THEN DELETE`` first.
    - ``when_not_matched_insert``: source rows matching no target key
      insert (source must carry every target column).

    Returns ``(new_version, {"n_updated", "n_deleted", "n_inserted"})``.

    Scale shape: files whose manifest stats exclude the source's key
    envelope are never read; of the rest, only files holding a row
    that a matched clause updates or deletes are rewritten (the DML
    pipeline, :func:`_run_dml`), and untouched files carry by
    reference — an insert-only MERGE is an append. Deletion vectors on
    touched files materialize through the DV-applied read.
    ``deletion_vectors=True`` takes the merge-on-read write step:
    affected rows' positions become a new DV, only the updated images
    and the inserts append as fresh files, and nothing is rewritten.
    A duplicate source key is rejected up front (multi-match MERGE is
    undefined in SQL; Delta throws at runtime). Read-pinned commit
    (mode 'merge'): an overlapping concurrent writer raises
    :class:`CommitConflict`. Reference parity: the reference's only
    upsert is DROP-then-reload (monkey_proc.py) — a reader-visible
    gap; here the merge is one atomic pointer flip.
    """
    from pyspark.sql import functions as F

    v, manifest = _dml_snapshot(table_dir)
    if not (when_matched_update or when_matched_delete
            or when_not_matched_insert):
        raise ValueError("MERGE with no clauses is a no-op; pass one")
    types = _declared_types(manifest)
    if not types:
        raise ValueError("merge needs a table with a committed schema")
    if when_not_matched_insert:
        missing = set(types) - set(source.columns)
        if missing:
            raise ValueError(
                f"when_not_matched_insert needs source columns {sorted(missing)}"
            )

    # pinned: the envelope, the match relation and the write all read
    # the same source rows. Lazy: the envelope's job materializes it
    src = source.localCheckpoint(eager=False)

    # the duplicate-key guard and the source key envelope share one
    # aggregate over the distinct keys (their min/max equal the raw
    # rows'; a duplicate is a per-key count above 1)
    bounds = (
        src.groupBy(*on)
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(
            F.max("__n").alias("__mx"),
            *[F.min(k).alias(f"_mn_{k}") for k in on],
            *[F.max(k).alias(f"_mx_{k}") for k in on],
        )
        .first()
    )
    if bounds is not None and int(bounds["__mx"] or 0) > 1:
        raise ValueError(f"source has duplicate keys on {on}")

    # files whose manifest min/max provably exclude every source key
    # can neither match (update/delete) nor disqualify an insert, so
    # the whole merge reads only stats-candidates. On a key-clustered
    # or bucketed layout this makes merge cost track the TOUCHED
    # region, not the table (Delta's data-skipping-before-merge); on a
    # scattered layout it degrades to the full scan it was. The same
    # envelope guards a rebase: winner-added files that may hold
    # source keys break the matched/not-matched split.
    env = []
    for k in on:
        mn, mx = bounds[f"_mn_{k}"], bounds[f"_mx_{k}"]
        if mn is not None and isinstance(mn, (int, float, str)):
            env.extend([(k, ">=", mn), (k, "<=", mx)])

    s = src.withColumn("__m", F.lit(1)).alias("s")
    matched = F.col("s.__m").isNotNull()
    if matched_condition:
        matched = matched & F.coalesce(F.expr(matched_condition), F.lit(False))
    if when_matched_delete is True:
        delete_cond = matched
    elif when_matched_delete:
        delete_cond = matched & F.coalesce(
            F.expr(str(when_matched_delete)), F.lit(False)
        )
    else:
        delete_cond = F.lit(False)
    update_cond = (
        matched & ~delete_cond if when_matched_update else F.lit(False)
    )
    # updated values cast back to the DECLARED type — a merge can never
    # drift the table schema
    image = [
        F.when(update_cond, F.expr(when_matched_update[c]))
        .otherwise(F.col(f"t.{c}"))
        .cast(types[c])
        .alias(c)
        if when_matched_update and c in when_matched_update
        else F.col(f"t.{c}").alias(c)
        for c in types
    ]

    def joined(t, how):
        t = t.alias("t")
        return t.join(
            s, on=[F.col(f"t.{k}") == F.col(f"s.{k}") for k in on], how=how
        )

    def match(t):
        pairs = joined(t, "inner").filter(delete_cond | update_cond)
        return _affected(pairs, delete_cond, image)

    def rewrite(t):
        return joined(t, "left").filter(~delete_cond).select(*image)

    def inserts(t):
        new = src if t is None else src.join(t.select(*on), on, "left_anti")
        # inserted rows cast to the DECLARED types too: a type-drifted
        # source (int vs declared bigint) must neither widen rewritten
        # rows through union coercion nor stage parquet whose physical
        # types diverge from the pinned manifest schema
        return new.select(
            F.lit(None).cast("string").alias(_FB),
            F.lit(None).cast("bigint").alias(_POS),
            F.lit(False).alias(_DEL),
            *[F.col(c).cast(t).alias(c) for c, t in types.items()],
        )

    return _run_dml(
        spark, table_dir, v, manifest, "merge",
        {
            **(meta or {}),
            "merge_on": list(on),
            **({"merge_dv": True} if deletion_vectors else {}),
        },
        env or None,
        match=match,
        rewrite=rewrite,
        inserts=inserts if when_not_matched_insert else None,
        deletion_vectors=deletion_vectors,
    )


def restore_versioned(table_dir: str, version: int) -> int:
    """RESTORE (Delta parity): roll the table back to snapshot
    ``version`` by committing that manifest's file list as a NEW
    version — history is never rewritten (the bad versions stay
    time-travelable until vacuum), readers flip atomically, and the
    restore itself is metadata-only (no data movement). The restored
    commit reuses the source manifest's stats/schema/bloom config."""
    latest = current_version(table_dir)
    if not 1 <= version <= latest:
        raise ValueError(f"cannot restore to v{version} (latest v{latest})")
    src = _load_manifest(table_dir, version)
    src_files, src_stats = _expand_manifest(table_dir, src)
    # metadata-only commit pinned to an immutable source manifest: a
    # lost CAS race invalidates nothing, so retry like a plain append
    last: CommitConflict | None = None
    for _ in range(16):
        try:
            return _commit_manifest(
                table_dir,
                src_files,
                src_stats,
                "restore",
                src.get("schema"),
                {"restored_from": version},
                bloom_cols=src.get("bloom_cols"),
                partition_spec=_manifest_partition_spec(src),
                spec_id=max(
                    src.get("spec_id", 0),
                    _load_manifest(table_dir, latest).get("spec_id", 0),
                ),
                # chunk objects are immutable and version-shared: the
                # restored manifest re-references the source's verbatim
                chunks=src.get("chunks"),
                manifest_chunking=src.get("manifest_chunking"),
                # DV objects are immutable too — re-reference them, so
                # the restored snapshot keeps its merge-on-read deletes
                dvs=src.get("dvs"),
            )
        except CommitConflict as c:
            last = c
    raise last


def clone_versioned(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    version: int | None = None,
    shallow: bool = True,
) -> int:
    """CLONE (Delta parity): create a new table from a snapshot of
    ``src_dir``.

    ``shallow=True`` is metadata-only: the clone's manifest references
    the SOURCE's data files by absolute path — zero bytes copied, the
    instant dev/test branch of a big table. The clone evolves
    independently (its appends/DML land in its own data/ dir; source
    files it still references are never rewritten — copy-on-write
    applies table-wide). CAVEAT (same as Delta's): vacuuming the
    SOURCE can delete files a shallow clone still references; deep
    clone (``shallow=False``) copies the data files and is
    self-contained.
    """
    import shutil

    v = version or current_version(src_dir)
    if v == 0:
        raise FileNotFoundError(f"no committed version in {src_dir}")
    src = _load_manifest(src_dir, v)
    src_files, stats = _expand_manifest(src_dir, src)
    get_commit_store().ensure_log(dst_dir)
    new_dvs = None
    if shallow:
        files = [os.path.abspath(os.path.join(src_dir, f)) for f in src_files]
        new_stats = {
            os.path.abspath(os.path.join(src_dir, f)): stats[f]
            for f in src_files
            if f in stats
        }
        if src.get("dvs"):
            # DV rows are keyed by file BASENAME (path-independent), so
            # a shallow clone only needs the dv OBJECTS re-referenced
            # by absolute path, exactly like the data files
            new_dvs = [
                {
                    **dv,
                    "path": os.path.abspath(
                        os.path.join(src_dir, dv["path"])
                    ),
                }
                for dv in src["dvs"]
            ]
    else:
        data_dir = os.path.join(dst_dir, "data")
        os.makedirs(data_dir, exist_ok=True)
        files, new_stats = [], {}
        base_map: dict[str, str] = {}
        for f in src_files:
            # preserve trailing hive col=value segments: a partitioned
            # file's partition VALUES live only in its path, so a flat
            # copy would null them out on read
            segs, d = [], os.path.dirname(f)
            while "=" in os.path.basename(d):
                segs.insert(0, os.path.basename(d))
                d = os.path.dirname(d)
            dst_dir_full = os.path.join(data_dir, *segs)
            os.makedirs(dst_dir_full, exist_ok=True)
            dst = f"part-{uuid.uuid4().hex}-{os.path.basename(f)}"
            shutil.copy2(os.path.join(src_dir, f), os.path.join(dst_dir_full, dst))
            rel = os.path.join("data", *segs, dst)
            files.append(rel)
            base_map[os.path.basename(f)] = dst
            if f in stats:
                new_stats[rel] = stats[f]
        if src.get("dvs"):
            # deep copy renames data files, so each DV parquet must be
            # rewritten with its file_base column translated — still
            # O(deleted rows), tiny next to the data copy itself
            import pyarrow as pa
            import pyarrow.parquet as pq

            new_dvs = []
            for dv in src["dvs"]:
                t = pq.read_table(os.path.join(src_dir, dv["path"]))
                bases = [
                    base_map.get(b, b) for b in t["file_base"].to_pylist()
                ]
                out = pa.table(
                    {"file_base": bases, "pos": t["pos"].to_pylist()},
                    schema=pa.schema(
                        [("file_base", pa.string()), ("pos", pa.int64())]
                    ),
                )
                dst = f"dv-{uuid.uuid4().hex}.parquet"
                pq.write_table(out, os.path.join(data_dir, dst))
                new_dvs.append(
                    {
                        "path": os.path.join("data", dst),
                        "rows": {
                            base_map.get(b, b): n
                            for b, n in dv["rows"].items()
                        },
                    }
                )
    # metadata-only commit from an immutable source snapshot: retry a
    # lost CAS race like a plain append (deep-clone files are already
    # copied under fresh names, still valid on retry)
    last: CommitConflict | None = None
    for _ in range(16):
        try:
            return _commit_manifest(
                dst_dir,
                files,
                new_stats,
                "clone",
                src.get("schema"),
                {"cloned_from": os.path.abspath(src_dir), "source_version": v,
                 "shallow": shallow},
                bloom_cols=src.get("bloom_cols"),
                partition_spec=_manifest_partition_spec(src),
                spec_id=src.get("spec_id", 0),
                # carry the SOURCE's cid high-water mark: a shallow
                # clone references source files that may contain
                # columns the source dropped — cid reuse in the clone
                # would resurrect them
                max_column_id=src.get("max_column_id"),
                dvs=new_dvs,
            )
        except CommitConflict as c:
            last = c
    raise last
