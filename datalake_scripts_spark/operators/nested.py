"""Nested-data normalization kit — the reference's core operator surface.

The reference's central transform is ``flat_df`` (identical copies at
``monkey_proc.py:87-96``, ``vk_proc.py:87-96``, ``zoom_proc.py:95-104``,
``zoom_proc_hst.py:95-104``, ``jhub_proc.py:88-97``): expand one level of
struct columns via ``'{col}.*'`` with a string prefix, called repeatedly
to reach deeper levels. It detects structs by string-prefix matching on
``df.dtypes`` and can produce colliding column names (SURVEY.md §7 risk
1). This module is the schema-walking, collision-free redesign:

- :func:`flatten` — recursive struct expansion with deterministic
  path-based names, arbitrary depth in ONE select (one projection node
  for Catalyst, instead of N chained selects).
- :func:`explode_into` — the reference's carry-the-fk-then-explode
  pattern (parent ids re-selected into every child before exploding,
  e.g. ``monkey_proc.py:294-303``, ``zoom_proc.py:154-158``).
- :func:`normalize` — a declarative parent/children spec that shreds one
  nested DataFrame into a star of flat tables (what each ``*_proc.py``
  hand-codes per domain).

All pure DataFrame transformations: narrow (no shuffle), fully pipelined
by whole-stage codegen, safe at any scale.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def quote_ident(name: str) -> str:
    """Backtick-quote one identifier for a SQL expression string.

    Projections here go to the JVM as SQL strings in one ``selectExpr``
    rather than as one ``F.col(...).alias(...)`` per column: PySpark
    wraps every Column-building call in call-site capture, about ten
    Py4J round trips each, which dominated wide plan builds."""
    return "`" + name.replace("`", "``") + "`"


def _sql_ref(col: str) -> str:
    """A column reference as ``F.col`` reads it (dots separate struct
    fields; a name already holding backticks is taken as written)."""
    return col if "`" in col else ".".join(map(quote_ident, col.split(".")))


def _flatten_cols(
    schema: T.StructType,
    parent_path: tuple[str, ...],
    parent_name: str,
    sep: str,
    max_depth: int | None,
    depth: int,
) -> list[tuple[tuple[str, ...], str]]:
    """Walk a StructType, returning (field path, output_name) leaves."""
    out: list[tuple[tuple[str, ...], str]] = []
    for f in schema.fields:
        path = (*parent_path, f.name)
        name = f"{parent_name}{sep}{f.name}" if parent_name else f.name
        recurse = isinstance(f.dataType, T.StructType) and (
            max_depth is None or depth < max_depth
        )
        if recurse:
            out.extend(_flatten_cols(f.dataType, path, name, sep, max_depth, depth + 1))
        else:
            out.append((path, name))
    return out


def flatten(
    df: DataFrame,
    sep: str = "_",
    max_depth: int | None = None,
    prefix: str = "",
) -> DataFrame:
    """Recursively expand all struct columns into flat leaf columns.

    Output names are full struct paths joined by ``sep`` — deterministic
    and collision-free (unlike the reference's level-at-a-time prefixing,
    ``monkey_proc.py:92``, which can collide and needs repeated calls,
    ``monkey_proc.py:354-355``). ``max_depth=1`` reproduces one
    reference ``flat_df`` pass. Arrays (incl. arrays of structs) are kept
    as-is — explode is a separate, row-multiplying decision
    (:func:`explode_into`).

    Single ``selectExpr`` -> single Project node; Catalyst prunes unused
    leaves all the way into the parquet reader.
    """
    leaves = _flatten_cols(df.schema, (), prefix, sep, max_depth, 0)
    seen: dict[str, int] = {}
    exprs: list[str] = []
    for path, name in leaves:
        if name in seen:  # only possible when sep collides with a field name
            seen[name] += 1
            name = f"{name}{sep}{seen[name]}"
        else:
            seen[name] = 0
        exprs.append(f"{'.'.join(map(quote_ident, path))} AS {quote_ident(name)}")
    return df.selectExpr(*exprs)


def explode_into(
    df: DataFrame,
    array_col: str,
    carry: list[str] | None = None,
    alias: str | None = None,
    outer: bool = False,
) -> DataFrame:
    """Explode ``array_col`` to one row per element, carrying parent
    columns as foreign keys (reference pattern: select parent ids +
    ``F.explode(child_array)``, ``monkey_proc.py:294-303``,
    ``vk_proc.py:140-148``, ``zoom_proc.py:152-158``).

    ``outer=True`` keeps parents with empty/null arrays (a null child
    row) — the reference's plain ``explode`` silently drops them
    (FIXTURES.md B3 edge case).
    """
    alias = alias or array_col.split(".")[-1]
    exploder = "explode_outer" if outer else "explode"
    return df.selectExpr(
        *map(_sql_ref, carry or []),
        f"{exploder}({_sql_ref(array_col)}) AS {quote_ident(alias)}",
    )


@dataclass
class ChildSpec:
    """One child table: explode ``array_col``, carry parent FKs, flatten."""

    name: str
    array_col: str
    carry: list[str] = field(default_factory=list)
    outer: bool = False
    sep: str = "_"
    select: dict[str, str] | None = None  # output name -> SQL expr (optional contract)


@dataclass
class NormalizeSpec:
    """Declarative shredding of a nested source into parent + child tables.

    What each reference processor hand-codes (e.g. monkey: surveys ->
    pages -> questions -> headings -> choices, ``monkey_proc.py:286-355``)
    becomes data. ``parent_select`` is the typed projection contract
    (reference P2); ``audit_col`` reproduces the ``load_datetime``
    history-table pattern (``monkey_proc.py:138-141``).
    """

    name: str
    parent_select: dict[str, str] | None = None
    children: list[ChildSpec] = field(default_factory=list)
    audit_col: str | None = None
    sep: str = "_"


def _apply_select(df: DataFrame, select: dict[str, str] | None) -> DataFrame:
    if not select:
        return df
    return df.select(*[F.expr(expr).alias(name) for name, expr in select.items()])


def normalize(df: DataFrame, spec: NormalizeSpec) -> dict[str, DataFrame]:
    """Shred one nested DataFrame into ``{table_name: flat DataFrame}``.

    The parent table is ``flatten(df)`` (+ optional projection contract);
    each child explodes an array path (which may itself contain structs —
    flattened after the explode) with parent FKs carried. All outputs
    share the one scan lineage; callers writing multiple sinks should
    ``.persist()`` the source first (the reference recomputes the full
    lineage per sink — SURVEY.md §4 anti-pattern).
    """
    out: dict[str, DataFrame] = {}
    parent = flatten(df, sep=spec.sep)
    parent = _apply_select(parent, spec.parent_select)
    if spec.audit_col:
        parent = parent.withColumn(spec.audit_col, F.current_timestamp())
    out[spec.name] = parent
    for ch in spec.children:
        child = explode_into(df, ch.array_col, carry=ch.carry, alias="_elem", outer=ch.outer)
        # flatten the exploded element struct into path-named columns
        elem_type = child.schema["_elem"].dataType
        if isinstance(elem_type, T.StructType):
            child = child.select(*ch.carry, F.col("_elem.*"))
            child = flatten(child, sep=ch.sep)
        else:
            child = child.withColumnRenamed("_elem", ch.array_col.split(".")[-1])
        child = _apply_select(child, ch.select)
        if spec.audit_col:
            child = child.withColumn(spec.audit_col, F.current_timestamp())
        out[ch.name] = child
    return out
