"""Druid AggregatorFactory / PostAggregator JSON → Spark SQL text.

Re-expresses the reference's two-phase aggregation protocol (SURVEY.md §2.5,
§2.6). The reference wraps Druid factories in Pig UDFs with explicit
partial (bytes) vs final (estimate) variants:

- NonFinalizingAggregatorFactoryAdapter — partial sketch bytes for re-merge
  (reference: NonFinalizingAggregatorFactoryAdapter.java:19-31)
- Long/Float/DoubleFinalizingAggregatorFactoryAdapter — finalizeComputation
  cast to the host type (reference: LongFinalizingAggregatorFactoryAdapter
  .java:17-29 and siblings)
- PostAggregatorAdapter — arithmetic / fieldAccess / constant /
  hyperUniqueCardinality over aggregate outputs (reference:
  PostAggregatorAdapter.java:38-99, druid_exporter.pig:3-4,15)

In Spark the partial/merge split is automatic inside ``agg()`` (Catalyst
plans partial+final HashAggregate), so the adapter layer reduces to: JSON
spec → the right builtin expression, emitted as one SQL text per
aggregator (``agg_sql`` / ``post_agg_sql``; ``agg_expr`` / ``post_agg_expr``
wrap it in ``F.expr``). Sketch state rides as
``BinaryType`` through the DataSketches ``hll_*`` (hyperUnique,
cardinality) and ``theta_*`` (thetaSketch) builtin families and never
crosses into Python — the per-row Python path would be the 100 TB perf
cliff.

Supported factory grammar (Druid 0.9.1, SURVEY.md §2.5 A5): ``count``,
``longSum``, ``doubleSum``, ``longMin``, ``longMax``, ``doubleMin``,
``doubleMax``, ``hyperUnique``, ``cardinality``, ``thetaSketch``,
``filtered``. ``javascript`` is deliberately rejected.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BinaryType, LongType, StructType

from druid_hadoop_utils_spark.functions.filters import filter_sql
from druid_hadoop_utils_spark.functions.sqltext import ident, lit, sql_over

# Default HLL precision: lgK=12 is the DataSketches default; the sketch is
# exact (coupon mode) for small cardinalities and ~1.6% RSE beyond.
DEFAULT_LGK = 12

# The Druid thetaSketch extension's default "size" (nominal entries): the
# sketch is exact below it and ~1/sqrt(size) RSE beyond.
DEFAULT_THETA_SIZE = 16384

_SIMPLE = {
    "longSum": "CAST(sum(CAST({} AS BIGINT)) AS BIGINT)",
    "doubleSum": "sum(CAST({} AS DOUBLE))",
    "longMin": "min(CAST({} AS BIGINT))",
    "longMax": "max(CAST({} AS BIGINT))",
    "doubleMin": "min(CAST({} AS DOUBLE))",
    "doubleMax": "max(CAST({} AS DOUBLE))",
}

_FINAL_CASTS = {"long": "BIGINT", "float": "FLOAT", "double": "DOUBLE"}


def _field_type(schema: StructType | None, name: str):
    if schema is None:
        return None
    try:
        return schema[name].dataType
    except KeyError:
        return None


def _is_binary(schema: StructType | None, name: str) -> bool:
    return isinstance(_field_type(schema, name), BinaryType)


def _theta_lg(spec: dict) -> int:
    """Druid's thetaSketch ``size`` (nominal entries, a power of two) →
    the ``lgNomEntries`` Spark's theta functions take."""
    size = int(spec.get("size", DEFAULT_THETA_SIZE))
    if not 16 <= size <= 1 << 26 or size & (size - 1):
        raise ValueError(
            f"thetaSketch size must be a power of two in [16, 2^26]: {spec!r}"
        )
    return size.bit_length() - 1


def hll_partial_sql(value: str, is_sketch: bool, lgk: int) -> str:
    """Partial HLL state: build from raw values, or merge pre-built sketches
    (the reference merges pre-rolled ``hyperUnique`` columns the same way)."""
    if is_sketch:
        return f"hll_union_agg({value}, true)"
    return f"hll_sketch_agg({value}, {int(lgk)})"


def agg_sql(
    spec: dict,
    schema: StructType | None = None,
    finalize: bool = True,
    finalize_type: str = "double",
    lgk: int = DEFAULT_LGK,
) -> str:
    """SQL text (``<aggregate> AS <name>``) for one AggregatorFactory JSON
    spec; ``schema`` is the aggregated frame's (binary/struct fields are
    pre-built states to merge)."""
    body = _agg_body(spec, schema, finalize, finalize_type, lgk, None)
    return f"{body} AS {ident(agg_out_name(spec))}"


def _agg_body(spec: dict, schema, finalize: bool, finalize_type: str,
              lgk: int, cond: str | None) -> str:
    atype = spec.get("type")

    if atype == "filtered":
        return _agg_body(spec["aggregator"], schema, finalize, finalize_type,
                         lgk, filter_sql(spec["filter"], schema))

    def value(field: str | None) -> str:
        v = ident(field) if field else "1"
        return f"CASE WHEN {cond} THEN {v} END" if cond is not None else v

    def finalized(partial: str, estimate: str) -> str:
        if not finalize:
            return partial
        return f"CAST({estimate}({partial}) AS {_FINAL_CASTS[finalize_type]})"

    if atype == "count":
        return f"count({value(None)})"

    field = spec.get("fieldName")
    if atype in _SIMPLE:
        if field is None:
            raise ValueError(f"{atype} aggregator needs fieldName: {spec!r}")
        return _SIMPLE[atype].format(value(field))

    if atype in {"longFirst", "longLast", "doubleFirst", "doubleLast"}:
        # Druid 0.9.1 first/last aggregators: the metric value at the
        # min/max __time of the group — Spark's min_by/max_by exactly
        if field is None:
            raise ValueError(f"{atype} aggregator needs fieldName: {spec!r}")
        pick = "min_by" if atype.endswith("First") else "max_by"
        cast = "BIGINT" if atype.startswith("long") else "DOUBLE"
        return f"{pick}(CAST({value(field)} AS {cast}), `__time`)"

    if atype == "hyperUnique":
        if field is None:
            raise ValueError(f"hyperUnique needs fieldName: {spec!r}")
        partial = hll_partial_sql(value(field), _is_binary(schema, field), lgk)
        return finalized(partial, "hll_sketch_estimate")

    if atype == "cardinality":
        fields = spec.get("fieldNames") or spec.get("fields") or ([field] if field else [])
        if not fields:
            raise ValueError(f"cardinality needs fieldNames: {spec!r}")
        if spec.get("byRow") and len(fields) > 1:
            # tuple cardinality: hash the combined row value
            # \x01 separator keeps value boundaries distinct (('ab','c') vs
            # ('a','bc')); the \x00 null sentinel matters because concat_ws
            # SKIPS nulls, which would collapse (null,'x') with ('x',null)
            parts = ", ".join(f"coalesce(CAST({ident(f)} AS STRING), {lit(chr(0))})"
                              for f in fields)
            combined = f"concat_ws({lit(chr(1))}, {parts})"
            if cond is not None:
                combined = f"CASE WHEN {cond} THEN {combined} END"
            partial = f"hll_sketch_agg({combined}, {int(lgk)})"
        else:
            sketches = [f"hll_sketch_agg({value(f)}, {int(lgk)})" for f in fields]
            partial = sketches[0]
            for s in sketches[1:]:
                partial = f"hll_union({partial}, {s})"
        return finalized(partial, "hll_sketch_estimate")

    if atype == "thetaSketch":
        # DataSketches theta sketch; Druid DataSketches-extension JSON shape
        # {type, name, fieldName, size}. A field that is ALREADY a sketch
        # (binary) merges instead of rebuilding — same rule as hyperUnique.
        if field is None:
            raise ValueError(f"thetaSketch needs fieldName: {spec!r}")
        lg = _theta_lg(spec)
        ftype = _field_type(schema, field)
        if isinstance(ftype, ArrayType) and isinstance(ftype.elementType, LongType):
            # theta_sketch_agg would sketch the arrays themselves as values
            raise ValueError(
                f"thetaSketch field {field!r} is array<long>, the engine's "
                "former KMV state; theta states are binary sketches now — "
                f"re-materialize it from raw rows: {spec!r}"
            )
        fn = "theta_union_agg" if isinstance(ftype, BinaryType) else "theta_sketch_agg"
        return finalized(f"{fn}({value(field)}, {lg})", "theta_sketch_estimate")

    if atype in {"approxHistogram", "approxHistogramFold"}:
        # Druid's approximate-histogram extension, re-expressed on the
        # engine's mergeable binned-histogram state (functions/quantiles);
        # the state is self-describing, so `quantile` post-aggs need no
        # side-channel parameters. "Fold" (merging pre-built states) is
        # detected from a struct-typed input column.
        from druid_hadoop_utils_spark.functions.quantiles import (
            DEFAULT_BINS,
            qhist_merge_sql,
            qhist_quantile_sql,
            qhist_state_sql,
        )

        if field is None:
            raise ValueError(f"{atype} needs fieldName: {spec!r}")
        bins = int(spec.get("numBuckets", DEFAULT_BINS))
        if isinstance(_field_type(schema, field), StructType):
            partial = qhist_merge_sql(ident(field), bins)
        else:
            lo = float(spec.get("lowerLimit", 0.0))
            hi = float(spec.get("upperLimit", 1.0))
            partial = qhist_state_sql(value(field), lo, hi, bins)
        if not finalize:
            return partial
        return qhist_quantile_sql(partial, float(spec.get("probability", 0.5)))

    if atype == "javascript":
        raise NotImplementedError(
            "javascript aggregator is not supported; use builtin factories "
            "(SURVEY.md §2.5 A5 — excluded as a non-scalable path)"
        )
    raise ValueError(f"unknown AggregatorFactory type: {atype!r}")


def agg_expr(
    spec: dict,
    schema: StructType | DataFrame | None = None,
    finalize: bool = True,
    finalize_type: str = "double",
    lgk: int = DEFAULT_LGK,
) -> Column:
    """Build the aggregate Column for one AggregatorFactory JSON spec.

    ``finalize=False`` is the NonFinalizing path (sketch state as binary,
    re-mergeable); ``finalize=True`` finalizes (HLL → estimate, cast per
    ``finalize_type`` like the reference's Long/Float/Double adapters).
    The result is aliased to ``spec['name']``.
    """
    if isinstance(schema, DataFrame):
        schema = schema.schema
    return F.expr(agg_sql(spec, schema, finalize, finalize_type, lgk))


def post_agg_sql(spec: dict) -> str:
    """SQL text for one PostAggregator JSON spec, evaluated over the
    output of ``agg()`` (SURVEY.md §2.6 PA3). Aliased to ``spec['name']``
    when present."""
    body = _post_sql(spec)
    name = spec.get("name")
    return f"{body} AS {ident(name)}" if name else body


def post_agg_expr(spec: dict) -> Column:
    """``post_agg_sql`` as a Column."""
    return F.expr(post_agg_sql(spec))


def agg_inner(a: dict) -> dict:
    """The aggregator carrying type/fieldName/size — unwraps a
    ``filtered`` wrapper."""
    return a.get("aggregator") or a


def agg_out_name(a: dict) -> str:
    """The output column name an aggregator spec aliases to: name, else
    fieldName, else type; filtered wrappers prefer the inner name."""
    inner = agg_inner(a)
    return (
        inner.get("name") or a.get("name")
        or inner.get("fieldName") or inner.get("type")
    )


_ESTIMATES = {
    "hyperUnique": "hll_sketch_estimate",
    "cardinality": "hll_sketch_estimate",
    "thetaSketch": "theta_sketch_estimate",
}


def finalized_sql(a: dict) -> str | None:
    """Druid's broker step for one aggregator: its hyperUnique /
    cardinality / thetaSketch state column as the double estimate
    (empty/null state — an empty filled bucket — reads 0.0, Druid's
    empty-sketch estimate), aliased to the column; None for other types."""
    fn = _ESTIMATES.get(agg_inner(a).get("type"))
    if fn is None:
        return None
    name = ident(agg_out_name(a))
    return f"coalesce(CAST({fn}({name}) AS DOUBLE), 0.0D) AS {name}"


def sketch_post_agg_refs(post_aggregations: list[dict] | None) -> set[str]:
    """Aggregator names that post-aggregators consume AS SKETCHES —
    Druid's rule: those aggregators must not finalize before post-agg
    evaluation (hyperUniqueCardinality / thetaSketchEstimate /
    thetaSketchSetOp / quantile(s) all read the raw state)."""
    refs: set[str] = set()

    def walk(p: dict) -> None:
        t = p.get("type")
        if t in {"hyperUniqueCardinality", "quantile", "quantiles"}:
            if p.get("fieldName"):
                refs.add(p["fieldName"])
        elif t == "thetaSketchEstimate":
            if p.get("fieldName"):
                refs.add(p["fieldName"])
            inner = p.get("field")
            if inner:
                walk_sketch_operand(inner)
        elif t == "thetaSketchSetOp":
            for f in p.get("fields", []) or []:
                walk_sketch_operand(f)
        elif t == "arithmetic":
            for f in p.get("fields", []) or []:
                walk(f)

    def walk_sketch_operand(p: dict) -> None:
        # a field in sketch position: fieldAccess names a sketch column
        if p.get("type") == "fieldAccess":
            refs.add(p["fieldName"])
        else:
            walk(p)

    for p in post_aggregations or []:
        walk(p)
    return refs


def _post_sql(spec: dict) -> str:
    ptype = spec.get("type")
    if ptype == "fieldAccess":
        return ident(spec["fieldName"])
    if ptype == "constant":
        return lit(spec["value"])
    if ptype == "hyperUniqueCardinality":
        # finalize a non-finalized sketch column → double estimate
        # (reference: druid_exporter.pig:4,15 + PostAggregatorAdapter.java:94)
        return f"CAST(hll_sketch_estimate({ident(spec['fieldName'])}) AS DOUBLE)"
    if ptype == "thetaSketchEstimate":
        # finalize a theta sketch → double estimate (Druid DataSketches
        # extension post-agg shape): a non-finalized aggregator column, or
        # a nested thetaSketchSetOp result
        inner = spec.get("field")
        target = _post_sql(inner) if inner else ident(spec["fieldName"])
        return f"CAST(theta_sketch_estimate({target}) AS DOUBLE)"
    if ptype == "thetaSketchSetOp":
        # Druid DataSketches thetaSketchSetOp: {"func": "UNION|INTERSECT|
        # NOT", "size": k, "fields": [postAggs...]} → a theta sketch, so
        # set ops nest; ops fold left across >2 fields (Druid semantics)
        lg = _theta_lg(spec)
        ops = {
            "UNION": lambda a, b: f"theta_union({a}, {b}, {lg})",
            "INTERSECT": lambda a, b: f"theta_intersection({a}, {b})",
            "NOT": lambda a, b: f"theta_difference({a}, {b})",
        }
        func = spec.get("func")
        if func not in ops:
            raise ValueError(
                f"thetaSketchSetOp func must be one of {sorted(ops)}: {spec!r}"
            )
        fields = spec.get("fields", [])
        if len(fields) < 2:
            raise ValueError(f"thetaSketchSetOp needs >=2 fields: {spec!r}")
        out = _post_sql(fields[0])
        for f in fields[1:]:
            out = ops[func](out, _post_sql(f))
        return out
    if ptype == "arithmetic":
        fn = spec["fn"]
        parts = [f"CAST({_post_sql(f)} AS DOUBLE)" for f in spec["fields"]]
        if len(parts) < 2:
            raise ValueError(f"arithmetic needs >=2 fields: {spec!r}")
        out = parts[0]
        for p in parts[1:]:
            if fn in ("+", "-", "*"):
                out = f"({out} {fn} {p})"
            elif fn == "/":
                # Druid's "/" returns 0 on division by zero
                out = f"CASE WHEN {p} = 0 THEN 0.0D ELSE {out} / {p} END"
            elif fn == "quotient":
                # Druid's quotient is IEEE double division (±Inf / NaN on
                # zero divisor); spelled out because Spark's ANSI mode would
                # otherwise raise on /0
                out = (f"CASE WHEN {p} = 0 AND {out} > 0 THEN {lit(float('inf'))} "
                       f"WHEN {p} = 0 AND {out} < 0 THEN {lit(float('-inf'))} "
                       f"WHEN {p} = 0 THEN {lit(float('nan'))} "
                       f"ELSE {out} / {p} END")
            else:
                raise ValueError(f"unknown arithmetic fn: {fn!r}")
        return out
    if ptype in ("quantile", "quantiles"):
        # Druid approximate-histogram `quantile(s)` post-agg over a
        # non-finalized histogram state column
        from druid_hadoop_utils_spark.functions.quantiles import qhist_quantile_sql

        state = ident(spec["fieldName"])
        if ptype == "quantile":
            return qhist_quantile_sql(state, float(spec["probability"]))
        return "array(" + ", ".join(
            qhist_quantile_sql(state, float(p)) for p in spec["probabilities"]
        ) + ")"
    if ptype == "javascript":
        raise NotImplementedError("javascript post-aggregator is not supported")
    raise ValueError(f"unknown PostAggregator type: {ptype!r}")


def group_aggregate_sql(
    source: str,
    schema: StructType | None,
    keys: list[str],
    aggregations: list[dict],
    post_aggregations: list[dict] | None = None,
    finalize: bool = True,
    lgk: int = DEFAULT_LGK,
    no_finalize: set[str] | None = None,
) -> str:
    """The engine's groupBy as one SELECT statement over ``source`` (a
    relation name or parenthesized subquery whose columns ``schema``
    describes): group ``keys``, aggregators, then post-aggregators.

    Druid semantics: an aggregator a post-aggregator consumes as a SKETCH
    (hyperUniqueCardinality / thetaSketchEstimate / thetaSketchSetOp /
    quantile) stays non-finalized while the post-aggs evaluate; the
    OUTPUT column re-finalizes afterwards (the broker step —
    ``finalized_sql``), so ordering/having/limit over the aggregator name
    still see a double."""
    skip_final = (no_finalize or set()) | sketch_post_agg_refs(post_aggregations)
    key_cols = [ident(k) for k in keys]
    aggs = [agg_sql(a, schema, lgk=lgk,
                    finalize=finalize and agg_out_name(a) not in skip_final)
            for a in aggregations]
    text = f"SELECT {', '.join(key_cols + aggs)} FROM {source}"
    if keys:
        text += f" GROUP BY {', '.join(key_cols)}"
    if not post_aggregations:
        return text
    return post_agg_select_sql(f"({text})", keys, aggregations,
                               post_aggregations,
                               skip_final if finalize else set())


def post_agg_select_sql(
    source: str,
    keys: list[str],
    aggregations: list[dict],
    post_aggregations: list[dict],
    refinalize: set[str],
) -> str:
    """The SELECT over an aggregated ``source`` that evaluates the
    post-aggregators: the group keys, each aggregator column — its sketch
    state re-finalized to the estimate (``finalized_sql``, the broker
    step) when its name is in ``refinalize`` — then the post-aggregators,
    which read the columns as ``source`` holds them."""
    cols = [ident(k) for k in keys] + [
        (agg_out_name(a) in refinalize and finalized_sql(a))
        or ident(agg_out_name(a))
        for a in aggregations
    ]
    posts = [post_agg_sql(p) for p in post_aggregations]
    return f"SELECT {', '.join(cols + posts)} FROM {source}"


def group_aggregate(
    df: DataFrame,
    dimensions: list[str],
    aggregations: list[dict],
    post_aggregations: list[dict] | None = None,
    finalize: bool = True,
    time_column: str | None = "__time",
    lgk: int = DEFAULT_LGK,
    no_finalize: set[str] | None = None,
) -> DataFrame:
    """The engine's groupBy query: the Spark equivalent of the reference's
    Pig ``GROUP BY (druid_timestamp, host)`` + adapter-UDF workflow
    (reference: druid_exporter.pig:9-15).

    One shuffle on the group keys; Catalyst plans partial+final hash
    aggregation automatically (map-side combine), so sketch partials merge
    exactly like the reference's NonFinalizing → merge → Finalizing chain.
    """
    keys = ([time_column] if time_column else []) + list(dimensions)
    schema = df.schema
    return sql_over(df, lambda source: group_aggregate_sql(
        source, schema, keys, aggregations, post_aggregations, finalize, lgk,
        no_finalize))
