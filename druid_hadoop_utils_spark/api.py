"""Druid-query-shaped convenience API over the engine primitives.

The reference exposes rows to a host engine (Pig/MR) where users hand-write
grouping and aggregation (reference: druid_exporter.pig:6-17). Druid itself
serves three canonical query shapes over the same data — ``timeseries``,
``topN``, ``groupBy`` — so a reference user migrating here gets them as
one-call DataFrame builders. Each is: engine ``load()`` (pruned scan +
filter + granularity) → ONE ``spark.sql`` statement over it
(``sqltext.sql_over``) holding the dimension specs, the two-phase
aggregation and post-aggs (``group_aggregate_sql``) and the
shape-specific zero-fill / ranking / ordering / limit. All Catalyst; the
compile is a constant number of py4j round trips and launches no Spark
job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from druid_hadoop_utils_spark.functions.filters import (
    _is_array,
    filter_columns,
    filter_sql,
)
from druid_hadoop_utils_spark.functions.sqltext import ident, lit, sql_over
from druid_hadoop_utils_spark.plans.planner import load
from druid_hadoop_utils_spark.plans.spec import LoadSpec
from druid_hadoop_utils_spark.session import local_frame


def _base(
    spark: SparkSession,
    source,
    spec: LoadSpec | dict | str,
    interval,
    data_source: str | None,
    time_column: str,
) -> tuple[DataFrame, LoadSpec]:
    if not isinstance(spec, LoadSpec):
        spec = LoadSpec.from_json(spec, data_source=data_source, interval=interval)
    df = load(spark, source, spec, interval=interval, data_source=data_source,
              time_column=time_column)
    return df, spec


def _bucket_sql(granularity, intervals) -> str:
    """SELECT text: one row per granularity bucket start covering the
    (condensed) intervals — Catalyst ``sequence`` + ``explode``, no driver
    loop over buckets.

    timeZone period granularities enumerate in the LOCAL wall-time frame
    (truncate → sequence → to_utc_timestamp): stepping UTC instants by a
    fixed INTERVAL diverges from the tz-aware ``granularity_sql`` values
    after a DST transition, which would silently drop those buckets'
    aggregated rows in the fill join."""
    from druid_hadoop_utils_spark.functions.granularity import (
        bucket_step_sql,
        granularity_sql,
    )
    from druid_hadoop_utils_spark.intervals import parse_intervals

    tz = granularity.get("timeZone") if isinstance(granularity, dict) else None
    step = bucket_step_sql(granularity)
    seqs = []
    for iv in parse_intervals(intervals):
        start = lit(iv.start)
        # sequence stop is inclusive: stop just short of the exclusive end
        stop = f"{lit(iv.end)} - INTERVAL 1 MICROSECOND"
        first = granularity_sql(granularity, start)
        if tz:
            # same from_utc → trunc → to_utc composition as granularity_sql,
            # so enumerated starts join exactly against truncated data rows
            seqs.append(f"sequence(from_utc_timestamp({first}, {lit(tz)}), "
                        f"from_utc_timestamp({stop}, {lit(tz)}), {step})")
        else:
            seqs.append(f"sequence({first}, {stop}, {step})")
    buckets = f"concat({', '.join(seqs)})"
    if tz:
        buckets = f"transform({buckets}, __b -> to_utc_timestamp(__b, {lit(tz)}))"
    return f"SELECT explode({buckets}) AS `__time` FROM range(1)"


# aggregator types whose Druid "empty bucket" value is zero; everything
# else (min/max, sketches) fills as null
_ZERO_FILL_TYPES = {"count", "longSum", "doubleSum"}


def timeseries(
    spark: SparkSession,
    source,
    spec: LoadSpec | dict | str,
    aggregations: list[dict],
    post_aggregations: list[dict] | None = None,
    interval=None,
    data_source: str | None = None,
    time_column: str = "__time",
    skip_empty_buckets: bool = False,
) -> DataFrame:
    """Druid ``timeseries``: one row per granularity bucket, ordered by
    time. Dimensions in the spec are ignored for grouping (per Druid).

    Druid's default is ``skipEmptyBuckets: false`` — buckets of the query
    interval with no rows still appear, count/sum aggregators zero-filled
    (min/max/sketches null) and post-aggs evaluated over the fill. Pass
    ``skip_empty_buckets=True`` for the data-buckets-only behavior."""
    from druid_hadoop_utils_spark.functions.aggregators import (
        _post_sql,
        agg_inner,
        agg_out_name,
        finalized_sql,
        group_aggregate_sql,
        post_agg_sql,
        sketch_post_agg_refs,
    )

    if not isinstance(spec, LoadSpec):
        spec = LoadSpec.from_json(spec, data_source=data_source, interval=interval)
    df, _ = _base(spark, source, spec, interval, data_source, time_column)
    schema = df.schema
    # post-aggs evaluate AFTER the empty-bucket fill (Druid computes them
    # over the filled aggregate row); aggregators the post-aggs consume as
    # sketches must stay non-finalized through the fill
    refs = sketch_post_agg_refs(post_aggregations)
    gran = spec.granularity
    # dict granularities (duration/period) always have bucket structure;
    # only the named NONE/ALL shapes skip the fill (and a dict must not hit
    # set membership — unhashable)
    has_buckets = not (
        isinstance(gran, str) and gran.upper() in {"NONE", "ALL"}
    )
    names = [ident(agg_out_name(a)) for a in aggregations]
    cols = ["`__time`"]
    for a, name in zip(aggregations, names):
        # the broker step: referenced sketch columns re-finalize
        cols.append((agg_out_name(a) in refs and finalized_sql(a)) or name)
    for p in post_aggregations or []:
        if p.get("type") in {"thetaSketchEstimate", "hyperUniqueCardinality"}:
            # sketch-finalizing post-aggs over a filled (null-state)
            # bucket read 0.0 — Druid's empty-sketch estimate
            cols.append(f"coalesce({_post_sql(p)}, 0.0D) AS "
                        f"{ident(p.get('name') or p['type'])}")
        else:
            cols.append(post_agg_sql(p))

    def build(scan: str) -> str:
        text = group_aggregate_sql(scan, schema, ["__time"], aggregations,
                                   no_finalize=refs)
        if not skip_empty_buckets and has_buckets:
            ivs = spec.intervals if interval is None else interval
            fills = ["`__time`"] + [
                f"coalesce({n}, 0) AS {n}"
                if agg_inner(a).get("type") in _ZERO_FILL_TYPES else n
                for a, n in zip(aggregations, names)]
            text = (f"SELECT {', '.join(fills)} "
                    f"FROM ({_bucket_sql(gran, ivs)}) AS __buckets "
                    f"LEFT JOIN ({text}) AS __aggs USING (`__time`)")
        return f"SELECT {', '.join(cols)} FROM ({text}) ORDER BY `__time`"

    return sql_over(df, build)


def _topn_ordering(metric, dimension: str) -> tuple[list, str | None]:
    """Druid 0.9 TopNMetricSpec → (ordering (name, ascending) pairs,
    optional pre-filter SQL text).

    A bare string means ``{"type": "numeric", "metric": <string>}``.
    ``numeric`` ranks by the aggregation descending; ``lexicographic``
    ranks by the dimension ascending starting after ``previousStop``
    (Druid's pagination cursor); ``inverted`` flips the ordering of the
    spec it wraps."""
    if isinstance(metric, str):
        metric = {"type": "numeric", "metric": metric}
    mtype = metric.get("type", "numeric")
    if mtype == "numeric":
        return [(metric["metric"], False), (dimension, True)], None
    if mtype == "lexicographic":
        stop = metric.get("previousStop")
        flt = f"{ident(dimension)} > {lit(stop)}" if stop is not None else None
        return [(dimension, True)], flt
    if mtype == "inverted":
        inner, flt = _topn_ordering(metric["metric"], dimension)
        return [(name, not asc) for name, asc in inner], flt
    raise ValueError(f"unknown topN metric spec: {metric!r}")


def _order_sql(pairs) -> str:
    return ", ".join(f"{ident(n)} {'ASC' if asc else 'DESC'}" for n, asc in pairs)


def topn(
    spark: SparkSession,
    source,
    spec: LoadSpec | dict | str,
    dimension: str,
    metric,
    threshold: int,
    aggregations: list[dict],
    post_aggregations: list[dict] | None = None,
    interval=None,
    data_source: str | None = None,
    time_column: str = "__time",
) -> DataFrame:
    """Druid ``topN``: leaderboard of ``dimension`` values within each
    granularity bucket (ties broken by dimension value for determinism).
    ``dimension`` may be a name or a DimensionSpec; ``metric`` a name or a
    TopNMetricSpec (numeric / lexicographic / inverted)."""
    from druid_hadoop_utils_spark.functions.aggregators import group_aggregate_sql

    df, _ = _base(spark, source, spec, interval, data_source, time_column)
    schema = df.schema

    def build(scan: str) -> str:
        src, (dim,), types = _dimensions_sql(
            scan, schema, [_normalize_dimension_spec(dimension)], explode=False)
        grouped = group_aggregate_sql(src, types, ["__time", dim], aggregations,
                                      post_aggregations)
        pairs, pre_filter = _topn_ordering(metric, dim)
        order = _order_sql(pairs)
        where = f" WHERE {pre_filter}" if pre_filter is not None else ""
        ranked = (f"SELECT *, row_number() OVER (PARTITION BY `__time` "
                  f"ORDER BY {order}) AS `__rank` FROM ({grouped}){where}")
        return (f"SELECT * EXCEPT (`__rank`) FROM ({ranked}) "
                f"WHERE `__rank` <= {int(threshold)} ORDER BY `__time`, {order}")

    return sql_over(df, build)


def _dimensions_sql(source: str, schema: StructType, specs: list[dict],
                    explode: bool) -> tuple[str, list[str], StructType]:
    """FROM-clause text over ``source`` (columns per ``schema``) that
    materializes DimensionSpec outputs (renames / extractionFns) as
    columns, plus the output group-key names and the result's schema.
    Specs apply in order, each over the previous ones' output. Extraction
    over a multi-value dimension maps per element (Druid semantics);
    ``explode`` then gives each value of a multi-value output its own row
    (Druid's multi-value groupBy)."""
    from druid_hadoop_utils_spark.functions.filters import extraction_sql

    exprs = {f.name: ident(f.name) for f in schema.fields}
    types = {f.name: f.dataType for f in schema.fields}
    for d in specs:
        fn, src, out = d["extractionFn"], d["dimension"], d["outputName"]
        base, dtype = exprs.get(src, ident(src)), types.get(src)
        if fn is not None:
            if isinstance(dtype, ArrayType):
                exprs[out] = f"transform({base}, __dx -> {extraction_sql(fn, '__dx')})"
                types[out] = ArrayType(StringType())
            else:
                exprs[out] = extraction_sql(fn, base)
                types[out] = StringType()
        elif out != src:
            exprs[out], types[out] = base, dtype
    dims = [d["outputName"] for d in specs]
    if any(t != ident(n) for n, t in exprs.items()):
        source = ("(SELECT " + ", ".join(f"{t} AS {ident(n)}" for n, t in exprs.items())
                  + f" FROM {source})")
    if explode:
        for d in dims:
            if isinstance(types[d], ArrayType):
                cols = ", ".join(f"explode_outer({ident(n)}) AS {ident(n)}"
                                 if n == d else ident(n) for n in exprs)
                source = f"(SELECT {cols} FROM {source})"
                types[d] = types[d].elementType
    return source, dims, StructType([StructField(n, t) for n, t in types.items()
                                     if t is not None])


def _normalize_dimension_spec(d) -> dict:
    """Druid DimensionSpec: a bare string, {"type": "default", "dimension",
    "outputName"}, or {"type": "extraction", ..., "extractionFn"}."""
    if isinstance(d, str):
        return {"dimension": d, "outputName": d, "extractionFn": None}
    dtype = d.get("type", "default")
    if dtype not in {"default", "extraction"}:
        raise ValueError(f"unknown dimensionSpec type: {dtype!r}")
    fn = d.get("extractionFn") if dtype == "extraction" else None
    if dtype == "extraction" and fn is None:
        raise ValueError(f"extraction dimensionSpec needs extractionFn: {d!r}")
    return {
        "dimension": d["dimension"],
        "outputName": d.get("outputName") or d["dimension"],
        "extractionFn": fn,
    }


def having_sql(spec: dict) -> str:
    """Druid 0.9 HavingSpec → boolean SQL text over the aggregated output:
    equalTo / greaterThan / lessThan on aggregation names, dimSelector on
    group keys, and / or / not combinators."""
    htype = spec.get("type")
    if htype in ("and", "or"):
        parts = [having_sql(h) for h in spec["havingSpecs"]]
        return "(" + f" {htype.upper()} ".join(parts) + ")"
    if htype == "not":
        return f"(NOT coalesce({having_sql(spec['havingSpec'])}, false))"
    if htype in {"equalTo", "greaterThan", "lessThan"}:
        op = {"equalTo": "=", "greaterThan": ">", "lessThan": "<"}[htype]
        return (f"(CAST({ident(spec['aggregation'])} AS DOUBLE) {op} "
                f"{lit(float(spec['value']))})")
    if htype == "dimSelector":
        return f"({ident(spec['dimension'])} = {lit(spec['value'])})"
    raise ValueError(f"unknown havingSpec type: {htype!r}")


def _having_limit_sql(source: str, q: dict) -> str:
    """groupBy's ``having`` / ``limitSpec`` (Druid 0.9 DefaultLimitSpec:
    ordered columns + limit) / ``limit`` over ``source`` as one SELECT."""
    text = f"SELECT * FROM {source}"
    if q.get("having"):
        text += f" WHERE {having_sql(q['having'])}"
    spec = q.get("limitSpec")
    if spec:
        if spec.get("type", "default") != "default":
            raise ValueError(f"unknown limitSpec type: {spec!r}")
        pairs = [(c, True) if isinstance(c, str) else
                 (c["dimension"], c.get("direction", "ascending").lower()
                  not in {"descending", "desc"})
                 for c in spec.get("columns", [])]
        if pairs:
            text += f" ORDER BY {_order_sql(pairs)}"
        if spec.get("limit") is not None:
            text += f" LIMIT {int(spec['limit'])}"
    if q.get("limit"):
        text = f"SELECT * FROM ({text}) LIMIT {int(q['limit'])}"
    return text


def druid_query(
    spark: SparkSession,
    source,
    query: dict | str,
    data_source: str | None = None,
    time_column: str = "__time",
) -> DataFrame:
    """Execute a complete Druid query JSON — the native query shape a Druid
    0.9.x client would POST (queryType timeseries | topN | groupBy |
    select/scan), compiled to one DataFrame plan.

    Recognized fields: ``queryType``, ``dataSource``, ``intervals``,
    ``granularity``, ``dimension(s)`` (strings or default/extraction
    DimensionSpecs), ``filter``, ``aggregations``, ``postAggregations``,
    ``metric`` + ``threshold`` (topN), ``having``, ``limitSpec``,
    ``limit``.
    """
    import json as _json

    q = _json.loads(query) if isinstance(query, str) else dict(query)
    qtype = q.get("queryType")
    ds = data_source or q.get("dataSource")
    if isinstance(ds, dict):
        # Druid query dataSource ({"type": "query", "query": {...}}): run
        # the inner query first and scan its result — Druid 0.9's nested
        # groupBy. Compiles to ONE Catalyst plan (the inner DataFrame is
        # lazy), so the optimizer sees through both layers. Note the outer
        # intervals filter the INNER result's bucket timestamps — an
        # ALL-granularity inner buckets to the epoch, so give the outer an
        # interval that covers it (or use a bucketing inner granularity).
        if ds.get("type") == "union":
            # Druid union dataSource ({"type": "union", "dataSources":
            # ["a", "b", ...]}, broker-side concatenation in 0.9): union
            # the member tables' raw segment scans (allowMissingColumns —
            # same evolving-dimension semantics as multi-version segment
            # reads) and run the query once over the concatenation. Each
            # member scan stays partition/interval-pruned; the union is
            # lazy, so Catalyst pushes the query's filters into EVERY
            # member scan.
            names = ds.get("dataSources") or []
            if not names:
                raise ValueError("union dataSource needs dataSources: [...]")
            if not isinstance(source, str):
                raise ValueError(
                    "union dataSource requires a managed table root path"
                )
            from druid_hadoop_utils_spark.intervals import (
                Interval as _Iv,
                parse_intervals as _pi,
            )
            from druid_hadoop_utils_spark.plans.planner import _scan_segments

            u_ivs = _pi(q.get("intervals") or q.get("interval")
                        or ["0001-01-01T00:00:00/9999-12-31T00:00:00"])
            span = _Iv(u_ivs[0].start, u_ivs[-1].end)
            from druid_hadoop_utils_spark.sources.fs import get_fs
            from druid_hadoop_utils_spark.sources.segments import MANIFEST_DIR

            _fs = get_fs(source)
            missing = [n for n in names if not _fs.isdir(
                _fs.join(source, n, MANIFEST_DIR))]
            if missing:
                # a member that was never created is a query error (a
                # typo'd name must not silently contribute nothing)
                raise FileNotFoundError(
                    f"union dataSource member(s) do not exist: {missing}")
            parts = []
            for n in names:
                try:
                    # dim_filter gives each member the same manifest
                    # stats/bloom segment pruning the single-datasource
                    # path gets; AllSegmentsPruned subclasses
                    # FileNotFoundError, so a fully-pruned member falls
                    # through to the contributes-nothing branch below
                    parts.append(_scan_segments(
                        spark, source, n, span,
                        dim_filter=q.get("filter"),
                        as_of=q.get("asOf")))
                except FileNotFoundError:
                    # Druid union semantics: an EXISTING member with no
                    # visible segments in the interval contributes
                    # nothing — it does not fail the query
                    continue
            if not parts:
                # every member is empty in the interval: defer to the
                # single-datasource machinery, which produces the same
                # correctly-shaped empty (or zero-filled) result a plain
                # datasource query would
                return druid_query(
                    spark, source, dict(q, dataSource=names[0]),
                    data_source=None, time_column=time_column,
                )
            merged = parts[0]
            for p in parts[1:]:
                merged = merged.unionByName(p, allowMissingColumns=True)
            return druid_query(
                spark, merged, dict(q, dataSource="union"),
                data_source=None, time_column="__time",
            )
        if ds.get("type") != "query":
            raise ValueError(f"unknown dataSource spec: {ds!r}")
        inner = druid_query(spark, source, ds["query"],
                            data_source=data_source, time_column=time_column)
        inner_ds = ds["query"].get("dataSource")
        return druid_query(
            spark, inner, dict(q, dataSource=None),
            data_source=inner_ds if isinstance(inner_ds, str) else None,
            time_column="__time",
        )
    from druid_hadoop_utils_spark.intervals import parse_intervals

    # Druid native queries carry an "intervals" LIST; condensed and OR-ed
    # at plan time (the reference took only one — DruidInputFormat.java:87).
    # dataSourceMetadata is the one 0.9 query type with no intervals field:
    # it inspects the whole datasource (eternity).
    raw_intervals = q.get("intervals") or q.get("interval")
    if raw_intervals is None and qtype == "dataSourceMetadata":
        raw_intervals = ["0001-01-01T00:00:00/9999-12-31T00:00:00"]
    interval = parse_intervals(raw_intervals)
    if not interval:
        raise ValueError("at least one interval is required")

    raw_dims = q.get("dimensions") or ([q["dimension"]] if q.get("dimension") else [])
    dim_specs = [_normalize_dimension_spec(d) for d in raw_dims]
    # scan-input names; __time is always carried by the scan, so an
    # extraction dimension over it (e.g. timeFormat) must not re-declare it
    dims = [d["dimension"] for d in dim_specs if d["dimension"] != "__time"]
    aggs = q.get("aggregations") or []
    posts = q.get("postAggregations") or []

    # columns the scan must carry: every aggregated field, plus any
    # dimension referenced by a filtered-aggregator's inner filter
    needed: list[dict] = []
    seen = set(dims) | {"__time"}

    def need(name: str, typ: str) -> None:
        if name and name not in seen:
            seen.add(name)
            needed.append({"name": name, "type": typ})

    for a in aggs:
        inner = a.get("aggregator", a)
        need(inner.get("fieldName"), "double")
        for fname2 in inner.get("fieldNames") or inner.get("fields") or []:
            need(fname2, "string")
        if a.get("type") == "filtered":
            for d in filter_columns(a.get("filter")):
                need(d, "string")
    spec = LoadSpec.from_json({
        "granularity": q.get("granularity", "ALL" if qtype == "timeseries" else "NONE"),
        "dimensions": dims,
        "metrics": needed,
        "filter": q.get("filter"),
        "asOf": q.get("asOf"),
    }, data_source=ds, interval=interval)

    if qtype in {"select", "scan"}:
        df = load(spark, source, spec, interval=interval, data_source=ds,
                  time_column=time_column)
        # select: pagingSpec.threshold caps rows, descending flips time
        # order; scan: "order" ascending/descending (none by default)
        order = q.get("order")
        if q.get("descending") or (isinstance(order, str) and
                                   order.lower() == "descending"):
            df = df.orderBy(F.desc("__time"))
        elif isinstance(order, str) and order.lower() == "ascending":
            df = df.orderBy("__time")
        threshold = (q.get("pagingSpec") or {}).get("threshold") or q.get("limit")
        if threshold:
            df = df.limit(int(threshold))
        return df
    if qtype == "search":
        # Druid search query: dimension values matching a search query
        # spec, with per-value counts (Druid 0.9's SearchQuery)
        search_dims = q.get("searchDimensions") or dims
        if not search_dims:
            raise ValueError("search query needs searchDimensions")
        sq = q.get("query", {"type": "insensitive_contains", "value": ""})
        scan_spec = LoadSpec.from_json({
            "granularity": "NONE",
            "dimensions": search_dims,
            "metrics": [],
            "filter": q.get("filter"),
            "asOf": q.get("asOf"),
        }, data_source=ds, interval=interval)
        df = load(spark, source, scan_spec, interval=interval, data_source=ds,
                  time_column=time_column)
        parts = []
        schema = df.schema
        for d in search_dims:
            matches = df.where(filter_sql(
                {"type": "search", "dimension": d, "query": sq}, schema))
            value = (f"explode({ident(d)})" if _is_array(schema, d)
                     else ident(d))
            parts.append(
                matches.selectExpr(f"{lit(d)} AS dimension", f"{value} AS value")
                .groupBy("dimension", "value").agg(F.expr("count(*) AS count"))
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        limit = int(q.get("limit", 1000))
        # Druid 0.9 SearchSortSpec: lexicographic (default) or strlen
        sort = (q.get("sort") or {}).get("type", "lexicographic")
        if sort == "lexicographic":
            order = ["value", "dimension"]
        elif sort == "strlen":
            order = [F.expr("length(value)"), "value", "dimension"]
        else:
            raise ValueError(f"unknown search sort type: {sort!r}")
        return out.orderBy(*order).limit(limit)
    if qtype == "timeBoundary":
        df = load(spark, source, spec, interval=interval, data_source=ds,
                  time_column=time_column)
        bound = q.get("bound")  # Druid 0.9: minTime | maxTime | absent=both
        aggs_tb = []
        if bound in (None, "minTime"):
            aggs_tb.append(F.expr("min(`__time`) AS minTime"))
        if bound in (None, "maxTime"):
            aggs_tb.append(F.expr("max(`__time`) AS maxTime"))
        if not aggs_tb:
            raise ValueError(f"unknown timeBoundary bound: {bound!r}")
        return df.agg(*aggs_tb)
    if qtype == "dataSourceMetadata":
        # Druid 0.9 DataSourceMetadataQuery: the most recent ingested event
        # timestamp (DataSourceMetadataResultValue.maxIngestedEventTime).
        # One partial+final max — no shuffle of data rows, scan prunes to
        # the time column only.
        df = load(spark, source, spec, interval=interval, data_source=ds,
                  time_column=time_column)
        return df.agg(F.expr("max(`__time`) AS maxIngestedEventTime"))
    if qtype == "segmentMetadata":
        # driver-side manifest inventory as a DataFrame (the reference's
        # metadata surface, SURVEY.md §2.1 S1)
        from druid_hadoop_utils_spark.sources.segments import (
            list_manifests,
            resolve_visible_windows,
        )

        if not isinstance(source, str):
            raise ValueError("segmentMetadata needs a table root path")
        analysis = q.get("analysisTypes") or []
        if analysis:
            # Druid's column-analysis mode: one row per column over the
            # VISIBLE data of the interval — cardinality (exact
            # count_distinct) and/or min/max, computed by ONE aggregate
            # over the pruned scan (metadata-only inventory is the
            # default no-analysisTypes shape below)
            unknown = set(analysis) - {"cardinality", "minmax"}
            if unknown:
                raise ValueError(
                    f"unsupported analysisTypes: {sorted(unknown)} "
                    "(supported: cardinality, minmax)"
                )
            from druid_hadoop_utils_spark.intervals import Interval
            from druid_hadoop_utils_spark.plans.planner import (
                _scan,
                interval_sql,
            )

            span = Interval(interval[0].start, interval[-1].end)
            df, schema, _ = _scan(spark, source, ds, span, as_of=q.get("asOf"))
            dtypes = {f.name: f.dataType.simpleString()
                      for f in (schema or df.schema).fields}
            # normalize the stored time column exactly as load() does
            # before comparing against timestamp literals (epoch-nanos
            # bigint from imported segments, or TIMESTAMP_NTZ)
            ttype = dtypes.get("__time")
            if ttype == "bigint":
                df = df.withColumn(
                    "__time", F.expr("timestamp_micros(`__time` DIV 1000)"))
            elif ttype == "timestamp_ntz":
                df = df.withColumn("__time", F.expr("CAST(`__time` AS TIMESTAMP)"))
            df = df.where(interval_sql(interval))
            # MapType has no ordering/equality in Spark: skip those
            # columns rather than failing the whole analysis
            cols = [c for c in dtypes
                    if c != "__time" and not dtypes[c].startswith("map<")]
            schema_str = ("column string, type string, cardinality long, "
                          "min_value string, max_value string")
            if not cols:
                return local_frame(spark, [], schema_str)
            aggs = []
            for c in cols:
                if "cardinality" in analysis:
                    aggs.append(f"count(DISTINCT {ident(c)}) AS {ident('__card_' + c)}")
                if "minmax" in analysis:
                    aggs += [
                        f"CAST(min({ident(c)}) AS STRING) AS {ident('__min_' + c)}",
                        f"CAST(max({ident(c)}) AS STRING) AS {ident('__max_' + c)}",
                    ]
            row = df.selectExpr(*aggs).collect()[0]
            out_rows = [
                (
                    c, dtypes[c],
                    row[f"__card_{c}"] if "cardinality" in analysis else None,
                    row[f"__min_{c}"] if "minmax" in analysis else None,
                    row[f"__max_{c}"] if "minmax" in analysis else None,
                )
                for c in cols
            ]
            return local_frame(spark, out_rows, schema_str)
        manifests = list_manifests(source, ds, as_of=q.get("asOf"))
        visible = {
            w.manifest
            for iv in interval
            for w in resolve_visible_windows(manifests, iv)
        }
        import json as _j

        rows = [
            (m.identifier, m.interval.iso(), m.version, m.shard_num, m.path,
             m in visible, _j.dumps(m.stats, sort_keys=True) if m.stats else None)
            for m in manifests
        ]
        return local_frame(
            spark, rows,
            "identifier string, interval string, version string, "
            "shard_num int, path string, visible boolean, column_stats string",
        )
    if qtype == "timeseries":
        skip = bool((q.get("context") or {}).get("skipEmptyBuckets", False))
        out = timeseries(spark, source, spec, aggs, posts,
                         interval=interval, data_source=ds,
                         time_column=time_column, skip_empty_buckets=skip)
        # Druid 0.9 timeseries "descending": true — newest bucket first
        if q.get("descending"):
            out = out.orderBy(F.desc("__time"))
        return out
    if qtype == "topN":
        return topn(spark, source, spec, dimension=q["dimension"],
                    metric=q["metric"], threshold=int(q["threshold"]),
                    aggregations=aggs, post_aggregations=posts,
                    interval=interval, data_source=ds, time_column=time_column)
    if qtype == "groupBy":
        out = None
        ctx = q.get("context") or {}
        use_mat = ctx.get("useMaterialized", True)
        # transparent rollup rewrite (sources/materialize.py): when the
        # source is a managed table root with a materialized rollup
        # covering this query, answer from per-segment states — raw
        # segments never scan. Any coverage miss falls back silently to
        # the raw path; context {"useMaterialized": false} opts out,
        # {"useMaterialized": "require"} makes a miss an error (tests /
        # latency-critical callers that must not fall back to a scan).
        # dim_specs are NORMALIZED dicts (dimension/outputName/extractionFn
        # — no "type" key): a spec is rewrite-eligible when it is a plain
        # pass-through default dim (no extractionFn, output under the raw
        # name — rewrite_groupby_from_states returns columns under raw
        # dimension names) and not the __time pseudo-column.
        if (use_mat and isinstance(source, str) and isinstance(ds, str)
                and q.get("asOf") is None  # states reflect the CURRENT
                # timeline; a time-travel query must re-resolve from the
                # as-of manifests, so it always takes the raw path
                and all(d["extractionFn"] is None
                        and d["outputName"] == d["dimension"]
                        and d["dimension"] != "__time" for d in dim_specs)):
            from druid_hadoop_utils_spark.sources.materialize import (
                rewrite_groupby_from_states,
            )

            out = rewrite_groupby_from_states(
                spark, source, ds, dims, aggs,
                q.get("granularity", "NONE"), interval,
                dim_filter=q.get("filter"), post_aggregations=posts,
                require=(use_mat == "require"),
            )
        elif use_mat == "require":
            raise ValueError(
                "useMaterialized=require needs a managed table root, a "
                "plain dataSource, default dimension specs, and no asOf "
                "(materialized states cover only the current timeline)"
            )
        finish = any(q.get(k) for k in ("having", "limitSpec", "limit"))
        if out is None:
            return _groupby(spark, source, spec, raw_dims, aggs, posts,
                            interval, ds, time_column, True,
                            q if finish else None)
        if finish:
            out = sql_over(out, lambda src: _having_limit_sql(src, q))
        return out
    raise ValueError(f"unsupported queryType: {qtype!r}")


def groupby(
    spark: SparkSession,
    source,
    spec: LoadSpec | dict | str,
    dimensions: list[str] | None,
    aggregations: list[dict],
    post_aggregations: list[dict] | None = None,
    interval=None,
    data_source: str | None = None,
    time_column: str = "__time",
    explode_multivalue: bool = True,
) -> DataFrame:
    """Druid ``groupBy``: group on (bucket, dims). Multi-value dimensions
    explode so each value groups separately (Druid semantics,
    SURVEY.md §7.4), unless ``explode_multivalue=False``. Dimensions may
    be bare names or Druid DimensionSpecs (default / extraction)."""
    return _groupby(spark, source, spec, dimensions, aggregations,
                    post_aggregations, interval, data_source, time_column,
                    explode_multivalue, None)


def _groupby(spark, source, spec, dimensions, aggregations, post_aggregations,
             interval, data_source, time_column, explode_multivalue,
             query: dict | None) -> DataFrame:
    """``groupby`` as one SQL statement over the load, with ``query``'s
    having / limitSpec / limit folded in when given."""
    from druid_hadoop_utils_spark.functions.aggregators import group_aggregate_sql

    df, spec_obj = _base(spark, source, spec, interval, data_source, time_column)
    schema = df.schema
    raw = dimensions if dimensions is not None else spec_obj.dimensions

    def build(scan: str) -> str:
        src, dims, types = _dimensions_sql(
            scan, schema, [_normalize_dimension_spec(d) for d in raw],
            explode=explode_multivalue)
        text = group_aggregate_sql(src, types, ["__time", *dims], aggregations,
                                   post_aggregations)
        return _having_limit_sql(f"({text})", query) if query else text

    return sql_over(df, build)
