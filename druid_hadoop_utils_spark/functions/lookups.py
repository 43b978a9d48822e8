"""Named lookup tables — Druid's ``registeredLookup`` extractionFn.

Druid 0.9 registers lookup tables cluster-wide (the lookup extraction
module distributes small key→value maps to every node) and query JSON
references them by name: ``{"type": "registeredLookup", "lookup":
"country_name"}``. The Spark-native equivalents:

- a process-local registry (``register_lookup``) holding ``dict``s or
  two-column DataFrames;
- expression compilation for filters/projections: small maps become a
  ``map(...)`` literal, larger ones a single ``str_to_map`` string
  literal (one plan node, constant-folded — never a per-entry expression
  tree);
- ``lookup_join`` as the unbounded-size scale path: an explicit broadcast
  join, for lookups too large to ride in the plan (they still must be
  broadcast-small, exactly like Druid's own lookups which live on every
  node's heap).

Reference: the reference wires DimFilters through PigSegmentLoadSpec
(PigSegmentLoadSpec.java:20,31,43) where Druid would evaluate lookup
extraction against its registered lookup modules; the registry here plays
that module's role.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from druid_hadoop_utils_spark.functions.sqltext import column_sql, lit
from druid_hadoop_utils_spark.session import local_frame

_REGISTRY: dict[str, dict | DataFrame] = {}

# above this, a per-entry map(...) literal tree measurably bloats the
# plan; switch to the single-literal str_to_map form
_INLINE_MAP_MAX = 1000
# lookups are broadcast-small by contract (Druid holds them on every
# node); refuse to collect anything bigger through the expression path
_COLLECT_MAX = 1_000_000

_PAIR_SEP = "\x01"
_KV_SEP = "\x02"


def register_lookup(name: str, mapping: dict | DataFrame) -> None:
    """Register a named lookup: a ``{key: value}`` dict or a two-column
    (key, value) DataFrame."""
    if not isinstance(mapping, (dict, DataFrame)):
        raise TypeError("lookup must be a dict or a two-column DataFrame")
    if isinstance(mapping, DataFrame) and len(mapping.columns) != 2:
        raise ValueError("DataFrame lookups need exactly two columns (key, value)")
    _REGISTRY[name] = mapping


def unregister_lookup(name: str) -> None:
    _REGISTRY.pop(name, None)


def clear_lookups() -> None:
    _REGISTRY.clear()


def lookup_mapping(name: str) -> dict:
    """The dict form of a registered lookup. DataFrame-backed lookups are
    collected (bounded by ``_COLLECT_MAX``) — use ``lookup_join`` when the
    table is too large to materialize on the driver."""
    if name not in _REGISTRY:
        raise KeyError(
            f"lookup {name!r} is not registered; call register_lookup() first"
        )
    v = _REGISTRY[name]
    if isinstance(v, dict):
        return v
    rows = v.limit(_COLLECT_MAX + 1).collect()
    if len(rows) > _COLLECT_MAX:
        raise ValueError(
            f"lookup {name!r} exceeds {_COLLECT_MAX} entries; use lookup_join()"
        )
    return {r[0]: r[1] for r in rows}


def lookup_sql(mapping: dict, col: str) -> str:
    """``mapping[col]`` as SQL expression text (null when absent).

    Small maps inline as a ``map(...)`` literal; larger ones ride as ONE
    string literal parsed by ``str_to_map`` — constant-folded, so the
    plan stays a single node regardless of entry count.
    """
    if not mapping:
        return "CAST(NULL AS STRING)"
    items = [(str(k), str(v)) for k, v in mapping.items()]
    if len(items) <= _INLINE_MAP_MAX or any(
        _PAIR_SEP in s or _KV_SEP in s for kv in items for s in kv
    ):
        pairs = ", ".join(f"{lit(k)}, {lit(v)}" for k, v in items)
        return f"element_at(map({pairs}), {col})"
    blob = _PAIR_SEP.join(f"{k}{_KV_SEP}{v}" for k, v in items)
    return (f"element_at(str_to_map({lit(blob)}, {lit(_PAIR_SEP)}, "
            f"{lit(_KV_SEP)}), {col})")


def lookup_expr(mapping: dict, col: Column | str) -> Column:
    """``lookup_sql`` over a column, as a Column.

    ``col`` is a column name or a plain column reference such as
    ``F.col("ts")``; an expression Column (``F.col("ts").cast(...)``)
    raises TypeError, since its text is embedded in SQL — select the
    expression into a column first.
    """
    return F.expr(lookup_sql(mapping, column_sql(col)))


def missing_policy_sql(mapped: str, original: str, fn: dict) -> str:
    """Druid's lookup missing-value semantics: ``retainMissingValue`` keeps
    the unmapped input, else ``replaceMissingValueWith`` (default null)."""
    if fn.get("retainMissingValue"):
        return f"coalesce({mapped}, {original})"
    replace = fn.get("replaceMissingValueWith")
    if replace is not None:
        return f"coalesce({mapped}, {lit(replace)})"
    return mapped


def lookup_join(
    df: DataFrame,
    dimension: str,
    lookup: str | dict | DataFrame,
    output: str | None = None,
    retain_missing: bool = False,
    replace_missing: str | None = None,
) -> DataFrame:
    """Broadcast-join scale path: map ``dimension`` through a lookup of any
    registered size without inflating the query plan. One broadcast, no
    shuffle of ``df``."""
    out_col = output or dimension
    if isinstance(lookup, str):
        lookup = _REGISTRY.get(lookup, None) or lookup_mapping(lookup)
    if isinstance(lookup, dict):
        lut = local_frame(
            df.sparkSession,
            [(str(k), str(v)) for k, v in lookup.items()],
            "__lk_key string, __lk_val string",
        )
    else:
        k, v = lookup.columns
        lut = lookup.select(
            F.col(k).cast("string").alias("__lk_key"),
            F.col(v).cast("string").alias("__lk_val"),
        )
    joined = df.join(
        F.broadcast(lut), df[dimension].cast("string") == lut["__lk_key"], "left"
    )
    mapped = F.col("__lk_val")
    if retain_missing:
        mapped = F.coalesce(mapped, F.col(dimension).cast("string"))
    elif replace_missing is not None:
        mapped = F.coalesce(mapped, F.lit(replace_missing))
    return joined.withColumn(out_col, mapped).drop("__lk_key", "__lk_val")
