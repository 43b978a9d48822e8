"""``load(spark, ...) -> DataFrame`` — the engine's query planner.

The Spark-native equivalent of the reference's full read path (SURVEY.md §3):
overlord metadata fetch → versioned timeline → splits → segment read with
filter/granularity applied → host-engine relational ops. Here that becomes:

    manifest listing (driver-side)                 [replaces S1 HTTP hop]
    → overshadow-resolved file set                 [S2 timeline]
    → merged manifest schema (driver-side)
    → spark.read.schema(merged).parquet(paths)     [S3 segment reader]
    → .where("interval AND DimFilter")             [P2 + P3, pushed down]
    → .selectExpr(granularity(__time), dims, metrics)
                                                   [G1 + P1 column pruning]
    → optional rollup groupBy().agg(...)           [A-rows]

Everything is declarative DataFrame construction — Catalyst does predicate
pushdown, column pruning and partition planning; no custom rules
(SURVEY.md §4 conclusion). Compiling a managed-table load launches no
Spark job: the segment schemas come from the manifests (recorded at
publish), and the predicate and projection reach Spark as SQL text
(functions/sqltext), a constant number of py4j round trips whatever the
filter's size.

Scale notes: the fast path produces ONE parquet scan over the visible files
(no unions, no repartition); window-filtered unions only appear under
partial overshadow, which is rare and still one scan per distinct window
set. Rollup is a single hash-aggregate shuffle on (time bucket, dims) with
map-side partial aggregation, including sketch partials.
"""

from __future__ import annotations

from collections import defaultdict
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BinaryType, StructField, StructType, TimestampType

from druid_hadoop_utils_spark.intervals import Interval, parse_intervals
from druid_hadoop_utils_spark.plans.spec import LoadSpec
from druid_hadoop_utils_spark.session import local_frame
from druid_hadoop_utils_spark.functions.filters import filter_sql
from druid_hadoop_utils_spark.functions.granularity import granularity_sql
from druid_hadoop_utils_spark.functions.sqltext import ident, lit, ts_text
from druid_hadoop_utils_spark.sources.segments import (
    MANIFEST_DIR,
    list_manifests,
    read_segments,
    resolve_visible_windows,
    segments_schema,
)

TIME_COL = "__time"
_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
_MICRO = timedelta(microseconds=1)
_ISO_MILLIS = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"


class AllSegmentsPruned(FileNotFoundError):
    """Every visible data segment was excluded by manifest column stats —
    the query result is provably empty (distinct from 'no segments')."""


def interval_sql(ivs, col: str = TIME_COL, time_type: str = "timestamp") -> str:
    """SQL text: ``col`` inside any of the half-open intervals ``ivs``.

    ``time_type`` is the column's ``simpleString``. A TIMESTAMP column
    compares against TIMESTAMP literals and a TIMESTAMP_NTZ column
    against TIMESTAMP_NTZ literals (an LTZ literal would coerce the
    column and block pushdown); an epoch-nanos ``bigint`` column compares
    raw longs, clamped to int64 because nanos only span ~1677..2262, so a
    wider bound (e.g. /3000-01-01) means "no bound". Each form pushes
    down to the parquet scan unwrapped."""
    c = ident(col)
    if time_type == "bigint":
        lmin, lmax = -(1 << 63), (1 << 63) - 1

        def bound(t) -> str:
            return str(min(max((t - _EPOCH) // _MICRO * 1000, lmin), lmax))
    else:
        kw = "TIMESTAMP_NTZ" if time_type == "timestamp_ntz" else "TIMESTAMP"

        def bound(t) -> str:
            return f"{kw} {lit(ts_text(t))}"
    return "(" + " OR ".join(
        f"({c} >= {bound(iv.start)} AND {c} < {bound(iv.end)})" for iv in ivs
    ) + ")"


def _scan(spark: SparkSession, table_root: str, data_source: str,
          iv: Interval, dim_filter: dict | None = None,
          as_of=None, manifests=None,
          ) -> tuple[DataFrame, StructType | None, list[Interval] | None]:
    """``_scan_segments`` plus the scan's schema merged from the visible
    manifests (None when a manifest records none) and the intervals of
    the scanned segments when every one is fully visible (None when any
    is read through a window predicate)."""
    from druid_hadoop_utils_spark.plans.pruning import (
        filter_constraints,
        segment_excluded,
    )

    if manifests is None:
        manifests = list_manifests(table_root, data_source, as_of=as_of)
    visible = resolve_visible_windows(manifests, iv)
    if not visible:
        raise FileNotFoundError(
            f"no visible segments for {data_source} in {iv.iso()}"
        )
    constraints = filter_constraints(dim_filter)
    full_paths: list[str] = []
    windowed: dict[tuple[Interval, ...], list[str]] = defaultdict(list)
    scanned = []
    had_data = False
    for w in visible:
        if w.manifest.tombstone:
            # holds the timeline slot (hiding older versions) but has no
            # data to scan — Druid drop/kill semantics
            continue
        had_data = True
        if segment_excluded(w.manifest.stats, constraints):
            continue
        scanned.append(w.manifest)
        if w.is_fully_visible(iv):
            full_paths.append(w.manifest.path)
        else:
            windowed[w.windows].append(w.manifest.path)
    if not full_paths and not windowed:
        if had_data:
            # every data segment was stats-pruned: the query provably
            # matches nothing — load() returns the correctly-shaped empty
            # frame (an EMPTY RESULT, not a missing-segments error, so it
            # bypasses ignore_when_no_segments)
            raise AllSegmentsPruned(
                f"all visible segments of {data_source} in {iv.iso()} "
                "pruned by manifest column stats"
            )
        raise FileNotFoundError(
            f"no visible segments for {data_source} in {iv.iso()} "
            "(interval fully dropped)"
        )

    # Druid dimensions evolve — a column added in a newer segment version
    # must read as NULL in older segments, not pick whichever file's
    # footer Spark sampled first. The scanned manifests' recorded schemas
    # merge on the driver (segments_schema: no Spark job); a manifest
    # without one, or a type conflict, makes this scan read with
    # mergeSchema instead — one footer-read job, and Spark's loud
    # CANNOT_MERGE_SCHEMAS on a real type change. Every part reads with
    # the same schema, so the union below lines up by name.
    schema = segments_schema(scanned)
    parts: list[DataFrame] = []
    if full_paths:
        parts.append(read_segments(spark, full_paths, schema))
    for windows, paths in windowed.items():
        parts.append(read_segments(spark, paths, schema)
                     .where(interval_sql(windows)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    full = None if windowed else [m.interval for m in scanned]
    return out, schema, full


def _scan_segments(spark: SparkSession, table_root: str, data_source: str,
                   iv: Interval, dim_filter: dict | None = None,
                   as_of=None, manifests=None) -> DataFrame:
    """Manifest → overshadow resolution → minimal parquet scan(s).

    ``dim_filter`` (the spec's DimFilter JSON) additionally drops visible
    segments whose manifest column stats provably exclude the filter
    (plans/pruning.py) — Druid-style segment skipping on dimensions, on
    top of the timeline's interval pruning.

    ``manifests`` lets a caller that already listed this (root,
    datasource, as_of) reuse its listing — one metadata round-trip per
    plan instead of two (clone_view)."""
    return _scan(spark, table_root, data_source, iv, dim_filter, as_of,
                 manifests)[0]


def _rename(schema: StructType, old: str, new: str) -> StructType:
    return StructType([StructField(new if f.name == old else f.name,
                                   f.dataType, f.nullable, f.metadata)
                       for f in schema.fields])


def load(
    spark: SparkSession,
    source: str | DataFrame,
    spec: LoadSpec | dict | str,
    interval: str | Interval | list | None = None,
    data_source: str | None = None,
    rollup: bool = False,
    time_column: str = TIME_COL,
    ignore_when_no_segments: bool = True,
    as_of=None,
) -> DataFrame:
    """Load a datasource through a LoadSpec, Druid-connector style.

    ``source`` is a managed table root (a directory with
    ``<dataSource>/_segments/``), a plain parquet path, or an existing
    DataFrame. ``time_column`` names the event-time column in the input; it
    is exposed as ``__time`` (the reference emits the timestamp first in
    every tuple — DruidStorage.java:122).

    Matching reference behavior, granularity only TRUNCATES at read time;
    it does not merge rows (SURVEY.md §7.4) — pass ``rollup=True`` to also
    re-aggregate by (bucket, dims) with metric-type-aware merges.

    ``as_of`` (or the spec's ``"asOf"`` JSON field) time-travels a
    managed-table source: the timeline resolves over only the manifests
    announced at or before that instant, reproducing the table exactly
    as a reader then saw it (bounded by the last physical vacuum —
    ``sources.segments.list_manifests``).

    A managed-table load launches no Spark job and asks the JVM nothing
    about the scan: its schema is the visible manifests' recorded schemas
    merged on the driver, and the interval, filter, granularity and
    projection go to Spark as SQL text in two DataFrame calls.

    The interval predicate is omitted when the timeline proves it
    redundant: the time column is a ``__time`` timestamp, every scanned
    segment is fully visible (no partly overshadowed window), and each
    one's interval lies inside a single query interval. Rows lie inside
    their segment's interval: ``write_segment`` filters them to it (its
    ``enforce_interval=False`` callers vouch for it), and publish, DML,
    compaction, clone and streaming all bucket rows by their own time.
    An epoch-nanos ``__time`` keeps the predicate: ``write_segment``
    cannot filter a long to the interval, so its writers pass
    ``enforce_interval=False`` and nothing bounds their rows.
    A one-day query over DAY segments then compiles to the same plan on
    every day, so Spark reuses its generated classes. A multi-interval
    query whose gap cuts a segment, a sub-day interval, a partly
    overshadowed segment and a segment coarser than the query interval
    all keep the predicate.
    """
    if not isinstance(spec, LoadSpec):
        spec = LoadSpec.from_json(spec, data_source=data_source, interval=interval)
    if as_of is not None:
        # explicit arg wins over the spec's "asOf" JSON field
        import dataclasses as _dc

        spec = _dc.replace(spec, as_of=as_of)
    ivs = parse_intervals(interval) if interval is not None else spec.intervals

    schema = None
    covered = False
    if isinstance(source, DataFrame):
        df = source
    else:
        ds = data_source or spec.data_source
        from druid_hadoop_utils_spark.sources.fs import get_fs

        _fs = get_fs(source)
        if ds and _fs.isdir(_fs.join(source, ds, MANIFEST_DIR)):
            if not ivs:
                raise ValueError("an interval is required for segment-table loads")
            try:
                # one scan over the SPAN of the condensed intervals: the
                # timeline resolution is pointwise in time, so restricting
                # the span's visible set by the per-interval predicates
                # below equals resolving each interval separately
                span = Interval(ivs[0].start, ivs[-1].end)
                df, schema, full = _scan(spark, source, ds, span,
                                         dim_filter=spec.filter,
                                         as_of=spec.as_of)
                # every scanned row provably inside ivs: see the docstring
                covered = (full is not None and time_column == TIME_COL
                           and all(any(q.covers(s) for q in ivs)
                                   for s in full))
            except AllSegmentsPruned:
                # a provably-empty result, not missing data
                return _empty_result(spark, spec)
            except FileNotFoundError:
                if not ignore_when_no_segments:
                    raise
                # reference parity: ignoreWhenNoSegments=true returns no
                # rows instead of failing (PigSegmentLoadSpec.java:64-81)
                return _empty_result(spark, spec)
        else:
            df = spark.read.parquet(source)
    if schema is None:
        schema = df.schema

    if time_column != TIME_COL:
        df = df.withColumnRenamed(time_column, TIME_COL)
        schema = _rename(schema, time_column, TIME_COL)

    time_type = (schema[TIME_COL].dataType.simpleString()
                 if TIME_COL in schema.names else None)
    time_is_nanos = time_type == "bigint"
    time_is_ntz = time_type == "timestamp_ntz"
    preds = []
    if ivs and (time_is_nanos or not covered):
        preds.append(interval_sql(ivs, time_type=time_type))
    if time_is_nanos or time_is_ntz:
        if preds:
            df = df.where(preds.pop())
        # session tz is pinned UTC (session.py), so NTZ → LTZ preserves the
        # instant; downstream granularity/filter/agg code sees one time type
        conv = (f"timestamp_micros(`{TIME_COL}` DIV 1000)" if time_is_nanos
                else f"CAST(`{TIME_COL}` AS TIMESTAMP)")
        df = df.withColumn(TIME_COL, F.expr(conv))
        schema = StructType([
            StructField(TIME_COL, TimestampType()) if f.name == TIME_COL else f
            for f in schema.fields])
    if spec.filter is not None:
        preds.append(filter_sql(spec.filter, schema))
    if preds:
        df = df.where(" AND ".join(preds))

    names = spec.dimensions + spec.metric_names
    missing = [c for c in names if c not in schema.names]
    if missing:
        raise ValueError(f"spec columns not in source: {missing}")
    df = df.selectExpr(
        f"{granularity_sql(spec.granularity, ident(TIME_COL))} AS {ident(TIME_COL)}",
        *[ident(c) for c in names],
    )

    if rollup:
        df = _rollup(df, spec, schema)
    return df


def _empty_result(spark: SparkSession, spec: LoadSpec) -> DataFrame:
    """Zero-row DataFrame with the spec's declared schema (timestamp,
    string-array dims, typed metrics) — what the reference's
    ignoreWhenNoSegments path produces."""
    from pyspark.sql.types import (
        ArrayType,
        BinaryType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    fields = [StructField(TIME_COL, TimestampType())]
    fields += [StructField(d, ArrayType(StringType())) for d in spec.dimensions]
    for m in spec.metrics:
        if m.is_complex:
            t = BinaryType()
        elif m.type == "long":
            t = LongType()
        elif m.type in {"float", "double"}:
            t = DoubleType()
        else:
            t = StringType()
        fields.append(StructField(m.name, t))
    return local_frame(spark, [], StructType(fields))


def to_compat_output(df: DataFrame) -> DataFrame:
    """Reference-compatible output shape: ``druid_timestamp`` as an
    ISO-8601 string in the first position (reference: DruidStorage.java:122
    emits ``row.getTimestamp().toString()``, schema field name at :231).
    Only for the compatibility edge — keep TimestampType internally."""
    others = [ident(c) for c in df.columns if c != TIME_COL]
    return df.selectExpr(
        f"date_format(`{TIME_COL}`, {lit(_ISO_MILLIS)}) AS druid_timestamp",
        *others,
    )


def rollup_df(df: DataFrame, spec: LoadSpec, explode_dims: bool = False) -> DataFrame:
    """Merge rows sharing (time bucket, dims) with metric-type-aware
    aggregation: additive metrics sum; complex (sketch) metrics merge into
    non-finalized binary state so the result stays re-aggregable — the
    NonFinalizing semantics of the reference (SURVEY.md §2.5 A3).

    ``explode_dims=True`` applies Druid's multi-value groupBy semantics
    (each value of a multi-value dimension forms its own group).
    """
    return _rollup(df, spec, df.schema, explode_dims)


def _rollup(df: DataFrame, spec: LoadSpec, schema: StructType,
            explode_dims: bool = False) -> DataFrame:
    from druid_hadoop_utils_spark.functions.aggregators import (
        DEFAULT_LGK,
        hll_partial_sql,
    )
    from druid_hadoop_utils_spark.functions.quantiles import (
        DEFAULT_BINS,
        qhist_merge_sql,
    )

    dims = list(spec.dimensions)
    if explode_dims:
        for d in dims:
            if isinstance(schema[d].dataType, ArrayType):
                df = df.withColumn(d, F.expr(f"explode_outer({ident(d)})"))

    aggs = []
    for m in spec.metrics:
        c = ident(m.name)
        if m.type == "druidHyperUnique":
            # imported Druid-format sketch bytes (NOT DataSketches): merge
            # register-wise into NEW Druid bytes so the rolled-up metric
            # stays re-mergeable in Druid's own format (reference A3,
            # NonFinalizingAggregatorFactoryAdapter.java:19-31) — a Python
            # UDF over the collected states
            from druid_hadoop_utils_spark.sources.druid_segment import (
                druid_hll_merge,
            )

            aggs.append(druid_hll_merge(F.collect_list(m.name)).alias(m.name))
            continue
        if m.type == "qhist":
            # mergeable histogram-quantile state (functions/quantiles):
            # element-wise re-merge keeps the metric re-aggregable
            text = qhist_merge_sql(c, DEFAULT_BINS)
        elif m.is_complex:
            is_sketch = isinstance(schema[m.name].dataType, BinaryType)
            text = hll_partial_sql(c, is_sketch, DEFAULT_LGK)
        elif m.type == "long":
            text = f"CAST(sum({c}) AS BIGINT)"
        elif m.type in {"float", "double"}:
            text = f"sum(CAST({c} AS DOUBLE))"
        else:  # string passthrough metrics keep the first value
            text = f"first({c}, true)"
        aggs.append(F.expr(f"{text} AS {c}"))
    return df.groupBy(TIME_COL, *dims).agg(*aggs)
