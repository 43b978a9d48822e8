"""DimFilter JSON tree → Spark SQL predicate text (SURVEY.md §2.2 P3).

Implements the Druid 0.9.1 DimFilter grammar the reference wires through its
ingestion spec (reference: PigSegmentLoadSpec.java:20,31,43 — the ``filter``
field is an ``io.druid.query.filter.DimFilter`` evaluated during segment
read): ``selector``, ``in``, ``bound``, ``regex``, ``search``, ``like``, and
the combinators ``and`` / ``or`` / ``not``.

Multi-value dimension semantics: a filter matches a row if ANY of the
dimension's values matches (Druid behavior; untested in the reference —
SURVEY.md §5 "what's NOT tested" — so pinned by our own tests). For
``ArrayType`` columns the predicate becomes ``array_contains`` /
``arrays_overlap`` / ``exists`` accordingly.

Null handling: Druid treats null and empty string as the same "missing"
value; a selector with a null/empty value matches missing dimensions.

Everything here emits built-in Catalyst expressions, so simple predicates
(selector/in/bound on scalar columns) push down to Parquet row-group stats
automatically — the Spark-era analogue of the reference's bitmap-index
filtering (SURVEY.md §4 O4). The tree compiles to ONE SQL text
(``filter_sql``) that Spark parses in a single call; every dimension name
and literal goes through ``functions/sqltext`` quoting.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, NumericType, StructType

from druid_hadoop_utils_spark.functions.sqltext import ident, lit

# the lambda variable of ANY-value matches over multi-value dimensions
_V = "__dv"


def _is_array(schema: StructType | None, name: str) -> bool:
    if schema is None:
        return False
    try:
        return isinstance(schema[name].dataType, ArrayType)
    except KeyError:
        return False


def _any_value(col: str, pred) -> str:
    """ANY-value match over a multi-value dimension."""
    return f"coalesce(exists({col}, {_V} -> {pred(_V)}), false)"


def _is_numeric(schema: StructType | None, name: str) -> bool:
    if schema is None:
        return False
    try:
        return isinstance(schema[name].dataType, NumericType)
    except KeyError:
        return False


def _parse_number(value: str):
    """Druid-style literal coercion for numeric-column equality: int if
    it parses, else float, else None (matches nothing)."""
    try:
        return int(value)
    except (TypeError, ValueError):
        try:
            return float(value)
        except (TypeError, ValueError):
            return None


def _null_or_empty(col: str, is_array: bool, is_numeric: bool = False) -> str:
    if is_array:
        return f"({col} IS NULL OR size({col}) = 0)"
    if is_numeric:
        # '' has no numeric rendering: only NULL rows match (comparing a
        # numeric column to '' would throw CAST_INVALID_INPUT under ANSI)
        return f"({col} IS NULL)"
    return f"({col} IS NULL OR {col} = '')"


_CHUNK_SPLIT = r"(?<=[0-9])(?=[^0-9])|(?<=[^0-9])(?=[0-9])"


def _alphanum_chunks(s: str) -> list[str]:
    return re.findall(r"[0-9]+|[^0-9]+", s)


def _strip_zeros(s: str) -> str:
    return s.lstrip("0") or "0"


def natural_cmp_sql(col: str, bound: str) -> tuple[str, str]:
    """(col < bound, col > bound) under Druid 0.9's alphanumeric comparator
    (StringComparators.ALPHANUMERIC): strings split into digit / non-digit
    chunks; two digit chunks compare as nonnegative integers, any other
    chunk pair compares lexicographically; a string that runs out of chunks
    first is smaller. ``col`` is SQL text of a string value.

    The bound is a plan-time literal, so its chunking happens in Python and
    the runtime side is one ``split`` plus an O(#bound-chunks) expression —
    no UDF. Digit-chunk numeric comparison uses (zero-stripped length,
    lexicographic) tuple order, which equals integer order at arbitrary
    precision without any overflow-prone cast.
    """
    toks = f"split({col}, {lit(_CHUNK_SPLIT)})"
    kchunks = _alphanum_chunks(bound)
    if not kchunks:  # empty bound: anything non-empty is greater
        return "false", f"({col} != '')"

    lt = "false"  # all bound chunks matched equally...
    gt = f"(size({toks}) > {len(kchunks)})"  # ...col bigger only via extra chunks
    for i in reversed(range(len(kchunks))):
        # try_element_at: out-of-bounds → null (ANSI element_at throws)
        t = f"try_element_at({toks}, {i + 1})"
        kc = kchunks[i]
        if kc.isdigit():
            kn = _strip_zeros(kc)
            ts = f"regexp_replace({t}, '^0+', '')"
            ts = f"CASE WHEN {ts} = '' THEN '0' ELSE {ts} END"
            both = f"{t} RLIKE '^[0-9]+$'"
            n, kq = len(kn), lit(kn)
            c_lt = (f"CASE WHEN {both} THEN (length({ts}) < {n} OR "
                    f"(length({ts}) = {n} AND {ts} < {kq})) "
                    f"ELSE {t} < {lit(kc)} END")
            c_gt = (f"CASE WHEN {both} THEN (length({ts}) > {n} OR "
                    f"(length({ts}) = {n} AND {ts} > {kq})) "
                    f"ELSE {t} > {lit(kc)} END")
        else:
            c_lt, c_gt = f"({t} < {lit(kc)})", f"({t} > {lit(kc)})"
        # a missing chunk at i means col is a strict prefix of the bound
        lt = (f"CASE WHEN {t} IS NULL THEN true WHEN {c_lt} THEN true "
              f"WHEN {c_gt} THEN false ELSE {lt} END")
        gt = (f"CASE WHEN {t} IS NULL THEN false WHEN {c_gt} THEN true "
              f"WHEN {c_lt} THEN false ELSE {gt} END")
    # Spark splits "" into [""] (one empty token) — force the prefix rule
    lt = f"CASE WHEN {col} = '' THEN true ELSE {lt} END"
    gt = f"CASE WHEN {col} = '' THEN false ELSE {gt} END"
    return lt, gt


def _search_query_pred(q: dict):
    """Druid 0.9 SearchQuerySpec → a function from a value's SQL text to
    its boolean match text (shared by the ``search`` filter and the
    ``searchQuery`` extractionFn)."""
    qtype = q.get("type", "contains")
    if qtype == "fragment":
        values = q.get("values", [])
        case_sensitive = bool(q.get("caseSensitive"))

        def frag(v: str) -> str:
            parts = ["true"]
            for needle in values:
                if case_sensitive:
                    parts.append(f"contains({v}, {lit(needle)})")
                else:
                    parts.append(f"contains(lower({v}), {lit(needle.lower())})")
            return "(" + " AND ".join(parts) + ")"

        return frag
    value = q.get("value", "")
    # Druid 0.9 deserializes a missing caseSensitive as false (Jackson
    # primitive boolean), so a bare {"type":"contains"} is insensitive
    case_sensitive = qtype == "contains" and bool(q.get("caseSensitive", False))
    if qtype == "insensitive_contains":
        case_sensitive = False

    def contains(v: str) -> str:
        if case_sensitive:
            return f"contains({v}, {lit(value)})"
        return f"contains(lower({v}), {lit(value.lower())})"

    return contains


# Joda-Time pattern letters that mean the same thing to java.time's
# DateTimeFormatter (what Spark's date_format/to_timestamp use). Anything
# outside this set is rejected loudly instead of silently reformatting
# differently than Druid would have.
_SAFE_TIME_PATTERN_LETTERS = set("yMdHhmsSEaDKkwZXx")

_ISO_PATTERN = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"


def _check_time_pattern(pattern: str) -> str:
    i, n = 0, len(pattern)
    while i < n:
        c = pattern[i]
        if c == "'":  # quoted literal — skip to closing quote
            j = pattern.find("'", i + 1)
            if j < 0:
                raise ValueError(f"unterminated quote in time pattern: {pattern!r}")
            i = j + 1
            continue
        if c.isalpha() and c not in _SAFE_TIME_PATTERN_LETTERS:
            raise NotImplementedError(
                f"time pattern letter {c!r} in {pattern!r} is not in the "
                "Joda/java.time-compatible subset"
            )
        i += 1
    return pattern


def extraction_sql(fn: dict, col: str) -> str:
    """Druid extractionFn grammar (the subset with Spark-native mappings)
    applied to the SQL text ``col``: substring, regex (capture group 1),
    partial, searchQuery, timeFormat, time, lower, upper, strlen, cascade,
    stringFormat, lookup/registeredLookup. javascript is rejected."""
    ftype = fn.get("type")
    if ftype == "cascade":
        # Druid CascadeExtractionFn: apply each listed extractionFn in order
        for sub in fn.get("extractionFns", []):
            col = extraction_sql(sub, col)
        return col
    if ftype == "stringFormat":
        # Druid StringFormatExtractionFn: java String.format with the value
        # as the single %s argument. 0.9.1 formatted null as the literal
        # "null" (Java Formatter behavior) = later Druid's NULLSTRING mode;
        # EMPTYSTRING / RETURNNULL match the post-0.10 nullHandling knob.
        fmt = fn["format"]
        if fmt.count("%") != 1 or "%s" not in fmt:
            raise NotImplementedError(
                f"stringFormat format {fmt!r}: only a single %s is supported"
            )
        null_mode = fn.get("nullHandling", "NULLSTRING")
        if null_mode == "NULLSTRING":
            return f"format_string({lit(fmt)}, coalesce({col}, 'null'))"
        if null_mode == "EMPTYSTRING":
            return f"format_string({lit(fmt)}, coalesce({col}, ''))"
        if null_mode == "RETURNNULL":
            return f"CASE WHEN {col} IS NOT NULL THEN format_string({lit(fmt)}, {col}) END"
        raise ValueError(f"unknown stringFormat nullHandling: {null_mode!r}")
    if ftype == "substring":
        index = int(fn.get("index", 0))
        length = fn.get("length")
        n = int(length) if length is not None else 2**31 - 1
        return f"substring({col}, {index + 1}, {n})"
    if ftype == "regex":
        return f"regexp_extract({col}, {lit(fn['expr'])}, 1)"
    if ftype == "partial":
        # Druid MatchingDimExtractionFn: keep the value when it matches the
        # regex, else null (rows with null extraction drop out of groupBys)
        return f"CASE WHEN {col} RLIKE {lit(fn['expr'])} THEN {col} END"
    if ftype == "searchQuery":
        # Druid SearchQuerySpecDimExtractionFn: keep the value when it
        # matches the SearchQuerySpec, else null
        q = fn.get("query", {})
        return f"CASE WHEN {_search_query_pred(q)(col)} THEN {col} END"
    if ftype == "timeFormat":
        # Druid TimeFormatExtractionFn over __time: format the timestamp
        # with a Joda pattern (java.time-compatible subset) in an optional
        # timeZone. Null/absent format = ISO8601 (Druid default).
        tz = fn.get("timeZone")
        locale = fn.get("locale")
        if locale not in (None, "en", "en-US", "en_US"):
            raise NotImplementedError(
                f"timeFormat locale {locale!r} is not supported (en only)"
            )
        ts = f"from_utc_timestamp({col}, {lit(tz)})" if tz else col
        pattern = fn.get("format")
        if pattern is None:
            return f"date_format({ts}, {lit(_ISO_PATTERN)})"
        return f"date_format({ts}, {lit(_check_time_pattern(pattern))})"
    if ftype == "time":
        # Druid TimeDimExtractionFn: parse a STRING dimension with
        # timeFormat, re-format with resultFormat (e.g. MM/dd/yyyy → yyyy-MM)
        parsed = f"to_timestamp({col}, {lit(_check_time_pattern(fn['timeFormat']))})"
        return f"date_format({parsed}, {lit(_check_time_pattern(fn['resultFormat']))})"
    if ftype == "lower":
        return f"lower({col})"
    if ftype == "upper":
        return f"upper({col})"
    if ftype == "strlen":
        return f"CAST(length({col}) AS STRING)"
    if ftype == "lookup":
        # inline map lookup (Druid MapLookupExtractor): the map ships as a
        # literal expression; retainMissingValue keeps unmapped values,
        # otherwise they become replaceMissingValueWith (default null)
        from druid_hadoop_utils_spark.functions.lookups import (
            lookup_sql,
            missing_policy_sql,
        )

        lookup = fn.get("lookup", {})
        if lookup.get("type") != "map":
            raise NotImplementedError("only inline map lookups are supported")
        return missing_policy_sql(lookup_sql(lookup.get("map", {}), col), col, fn)
    if ftype == "registeredLookup":
        # named lookup resolved from the process-local registry (Druid's
        # cluster-distributed lookup module); same missing-value policy as
        # the inline form. Large registered tables → lookups.lookup_join.
        from druid_hadoop_utils_spark.functions.lookups import (
            lookup_mapping,
            lookup_sql,
            missing_policy_sql,
        )

        mapped = lookup_sql(lookup_mapping(fn["lookup"]), col)
        return missing_policy_sql(mapped, col, fn)
    if ftype == "javascript":
        raise NotImplementedError(f"extractionFn {ftype!r} is not supported")
    raise ValueError(f"unknown extractionFn: {fn!r}")


def filter_sql(spec: dict | None, schema: StructType | None = None) -> str:
    """Translate a DimFilter JSON tree into boolean SQL expression text.
    ``schema`` (of the filtered frame) decides the multi-value and
    numeric-column rules."""
    if spec is None:
        return "true"
    ftype = spec.get("type")
    if ftype is None:
        raise ValueError(f"filter missing 'type': {spec!r}")

    if ftype in ("and", "or"):
        parts = [filter_sql(f, schema) for f in spec["fields"]]
        return "(" + f" {ftype.upper()} ".join(parts) + ")"
    if ftype == "not":
        inner = filter_sql(spec["field"], schema)
        # Druid's NOT matches rows where the inner filter does not match,
        # including rows where the inner predicate is NULL (missing dim).
        return f"(NOT coalesce({inner}, false))"

    dim = spec.get("dimension")
    if dim is None:
        raise ValueError(f"filter missing 'dimension': {spec!r}")
    col = ident(dim)
    arr = _is_array(schema, dim)
    num = _is_numeric(schema, dim)
    if arr and schema is not None:
        # numeric ELEMENT type: literals need the same plan-time coercion
        # as scalar numeric columns (array_contains with an unparseable
        # string would CAST_INVALID_INPUT under ANSI)
        try:
            num = isinstance(schema[dim].dataType.elementType, NumericType)
        except KeyError:
            pass

    if ftype == "selector":
        value = spec.get("value")
        if value is None or value == "":
            return _null_or_empty(col, arr, num)
        if num and isinstance(value, str):
            # parse the literal at PLAN time: Druid coerces the value to
            # the column type, and an unparseable value matches nothing —
            # comparing the raw string would CAST_INVALID_INPUT under ANSI
            value = _parse_number(value)
            if value is None:
                return "false"
        if arr:
            return f"coalesce(array_contains({col}, {lit(value)}), false)"
        return f"({col} = {lit(value)})"

    if ftype == "in":
        values = [v for v in spec.get("values", [])]
        non_null = [v for v in values if v not in (None, "")]
        has_null = len(non_null) != len(values)
        if num:
            non_null = [p for v in non_null
                        if (p := _parse_number(v) if isinstance(v, str) else v)
                        is not None]
        lits = ", ".join(lit(v) for v in non_null)
        if not non_null:
            pred = "false"
        elif arr:
            pred = f"coalesce(arrays_overlap({col}, array({lits})), false)"
        else:
            pred = f"coalesce({col} IN ({lits}), false)"
        if has_null:
            pred = f"({pred} OR {_null_or_empty(col, arr, num)})"
        return pred

    if ftype == "bound":
        # Three orderings:
        # - plain: lexicographic (Druid default)
        # - "ordering": "numeric" (engine extension) or alphaNumeric on a
        #   NUMERIC column: compare as doubles — for a genuinely numeric
        #   column this equals Druid's alphanumeric chunk order (nonneg
        #   values), and the plain comparison pushes down to parquet stats
        # - alphaNumeric on a STRING column: Druid 0.9's chunked
        #   natural-sort comparator (digit runs numeric, e.g. "a9" < "a10")
        col_numeric = False
        if schema is not None:
            try:
                dt = schema[dim].dataType
                col_numeric = isinstance(
                    dt.elementType if isinstance(dt, ArrayType) else dt, NumericType
                )
            except KeyError:
                pass
        alpha = bool(spec.get("alphaNumeric")) or spec.get("ordering") == "alphanumeric"
        numeric = spec.get("ordering") == "numeric" or (alpha and col_numeric)
        natural = alpha and not numeric

        def one(v: str) -> str:
            # try_cast: under ANSI mode a plain cast THROWS on non-numeric
            # strings; Druid's numeric bound simply doesn't match such rows.
            # The IS NOT NULL base also keeps a boundless bound filter from
            # matching missing/uncastable values.
            if numeric:
                target = f"try_cast({v} AS DOUBLE)"
            elif col_numeric and not natural:
                # Druid's DEFAULT bound ordering is lexicographic over the
                # dimension's STRING values even for numeric columns —
                # compare renderings (also ANSI-safe for bounds like
                # "abc" that a numeric-literal comparison would throw on)
                target = f"CAST({v} AS STRING)"
            else:
                target = v
            parts = [f"{target} IS NOT NULL"]
            for key, strict_key, op, strict_op in (
                ("lower", "lowerStrict", ">=", ">"),
                ("upper", "upperStrict", "<=", "<"),
            ):
                b = spec.get(key)
                if b is None:
                    continue
                strict = bool(spec.get(strict_key))
                if natural:
                    lt, gt = natural_cmp_sql(f"CAST({v} AS STRING)", str(b))
                    if key == "lower":
                        parts.append(gt if strict else f"(NOT {lt})")
                    else:
                        parts.append(lt if strict else f"(NOT {gt})")
                else:
                    lb = lit(float(b)) if numeric else lit(b)
                    parts.append(f"{target} {strict_op if strict else op} {lb}")
            return "(" + " AND ".join(parts) + ")"

        return _any_value(col, one) if arr else one(col)

    if ftype in ("regex", "like"):
        op = "RLIKE" if ftype == "regex" else "LIKE"
        pattern = lit(spec["pattern"])
        if arr:
            return _any_value(col, lambda v: f"{v} {op} {pattern}")
        return f"({col} {op} {pattern})"

    if ftype == "search":
        pred = _search_query_pred(spec.get("query", {}))
        return _any_value(col, pred) if arr else pred(col)

    if ftype == "extraction":
        # Druid 0.9.1 extraction filter: apply an extractionFn to the
        # dimension, compare the result to `value`
        fn = spec.get("extractionFn", {})
        value = lit(spec.get("value"))
        if arr:
            return _any_value(col, lambda v: f"({extraction_sql(fn, v)} = {value})")
        return f"({extraction_sql(fn, col)} = {value})"

    if ftype == "javascript":
        raise NotImplementedError(
            "javascript DimFilter is not supported; rewrite as and/or/not over "
            "selector/in/bound/regex/search (reference allowed it via Rhino, "
            "SURVEY.md §2.2 P3 — deliberately excluded as a non-scalable path)"
        )
    raise ValueError(f"unknown DimFilter type: {ftype!r}")


def filter_to_column(spec: dict | None, schema: StructType | DataFrame | None = None) -> Column:
    """Translate a DimFilter JSON tree into a boolean Column."""
    if isinstance(schema, DataFrame):
        schema = schema.schema
    return F.expr(filter_sql(spec, schema))


def filter_columns(spec: dict | None) -> list[str]:
    """The column names a DimFilter tree reads, in first-reference order,
    each once: the ``dimension`` of every node under ``fields`` /
    ``field``."""
    out: list[str] = []

    def walk(node) -> None:
        if not isinstance(node, dict):
            return
        if node.get("dimension") and node["dimension"] not in out:
            out.append(node["dimension"])
        for child in node.get("fields") or []:
            walk(child)
        walk(node.get("field"))

    walk(spec)
    return out
