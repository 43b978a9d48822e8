"""Adversarial literals through the SQL-text compile path.

Filter values, dimension names and output names reach Spark inside SQL
text. Each goes through the one quoting helper (``functions/sqltext``),
so a quote, backslash, comment marker, newline or non-ASCII character is
always read back as the value itself: every query here must return
exactly the rows a plain-Python evaluation of the filter selects.
"""

from __future__ import annotations

import re
from collections import Counter
from datetime import datetime

import pytest
from pyspark.sql import Row

from druid_hadoop_utils_spark.api import druid_query
from druid_hadoop_utils_spark.functions.filters import filter_to_column
from druid_hadoop_utils_spark.functions.sqltext import lit
from druid_hadoop_utils_spark.sources.ingest import publish_segments

DS = "adv"
DIM = "we`ird"  # a dimension name holding a backtick
NASTY = [
    "it's",
    "back\\slash",
    "\\'",
    "a--b",
    "c*/d",
    "/*e",
    "new\nline",
    "ünï€ ✓",
    "x' OR '1'='1",
    "%_",
    "{brace}",
    "tab\tend",
]
VALUES = NASTY + ["its", "back", "x", "plain", "ab", ""]
QUERY_IV = ["2024-01-01/2024-01-03"]


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("sql_literals") / "tbl")
    rows = [Row(__time=datetime(2024, 1, 1 + i % 2, i % 24), **{DIM: v}, n=i)
            for i, v in enumerate(VALUES * 2)]
    publish_segments(spark.createDataFrame(rows), root, DS, version="v1")
    return root


def _counts(spark, root, flt) -> Counter:
    q = {"queryType": "groupBy", "dataSource": DS, "intervals": QUERY_IV,
         "granularity": "all",
         "dimensions": [{"type": "default", "dimension": DIM,
                         "outputName": "out`put"}],
         "filter": flt,
         "aggregations": [{"type": "count", "name": "n`rows"}]}
    out = druid_query(spark, root, q)
    assert out.columns == ["__time", "out`put", "n`rows"]
    return Counter({r["out`put"]: r["n`rows"] for r in out.collect()})


def _expected(pred) -> Counter:
    return Counter(v for v in VALUES * 2 if pred(v))


def _like_escape(v: str) -> str:
    return v.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")


@pytest.mark.parametrize("value", NASTY)
def test_adversarial_values_match_exactly(spark, table, value):
    cases = [
        ({"type": "selector", "dimension": DIM, "value": value},
         lambda v: v == value),
        ({"type": "in", "dimension": DIM, "values": [value, "plain"]},
         lambda v: v in (value, "plain")),
        ({"type": "bound", "dimension": DIM, "lower": value, "upper": value},
         lambda v: v == value),
        ({"type": "bound", "dimension": DIM, "lower": value, "lowerStrict": True},
         lambda v: v > value),
        ({"type": "like", "dimension": DIM, "pattern": _like_escape(value)},
         lambda v: v == value),
        ({"type": "like", "dimension": DIM, "pattern": _like_escape(value) + "%"},
         lambda v: v.startswith(value)),
        ({"type": "regex", "dimension": DIM, "pattern": "^" + re.escape(value) + "$"},
         lambda v: v == value),
        ({"type": "search", "dimension": DIM,
          "query": {"type": "contains", "value": value, "caseSensitive": True}},
         lambda v: value in v),
        ({"type": "not", "field": {"type": "selector", "dimension": DIM,
                                   "value": value}},
         lambda v: v != value),
    ]
    for flt, pred in cases:
        assert _counts(spark, table, flt) == _expected(pred), flt


def test_bound_ordering_agrees_with_python_string_order(spark, table):
    # Spark compares strings by UTF-8 bytes, which orders like Python's
    # code-point comparison
    lo, hi = "\\'", "new\nline"
    flt = {"type": "bound", "dimension": DIM, "lower": lo, "upper": hi,
           "upperStrict": True}
    assert _counts(spark, table, flt) == _expected(lambda v: lo <= v < hi)


def test_extraction_and_having_literals(spark, table):
    q = {"queryType": "groupBy", "dataSource": DS, "intervals": QUERY_IV,
         "granularity": "all",
         "dimensions": [{"type": "extraction", "dimension": DIM,
                         "outputName": "f",
                         "extractionFn": {"type": "stringFormat",
                                          "format": "'%s' -- */"}}],
         "filter": {"type": "extraction", "dimension": DIM, "value": "IT'S",
                    "extractionFn": {"type": "upper"}},
         "aggregations": [{"type": "count", "name": "n"}],
         "having": {"type": "dimSelector", "dimension": "f",
                    "value": "'it's' -- */"}}
    rows = druid_query(spark, table, q).collect()
    assert [(r.f, r.n) for r in rows] == [("'it's' -- */", 2)]


def test_filter_to_column_over_plain_frame(spark):
    df = spark.createDataFrame([(v,) for v in VALUES], [DIM])
    for value in NASTY:
        got = [r[0] for r in df.where(filter_to_column(
            {"type": "selector", "dimension": DIM, "value": value},
            df.schema)).collect()]
        assert got == [value]


def test_literal_helper_round_trips(spark):
    values = NASTY + [0, -7, 2**40, 1.5, -0.0, 1e300, float("inf"),
                      float("-inf"), True, None]
    row = spark.sql("SELECT " + ", ".join(
        f"{lit(v)} AS c{i}" for i, v in enumerate(values))).first()
    assert list(row) == values


def test_javascript_filter_still_rejected(spark, table):
    with pytest.raises(NotImplementedError):
        _counts(spark, table, {"type": "javascript", "dimension": DIM,
                               "function": "function(x) { return true; }"})


def test_column_wrappers_take_references_only(spark):
    """``granularity_expr`` / ``lookup_expr`` / ``qhist_*`` embed their
    column as SQL text: a name or a plain column reference (a backtick in
    the name included) works, an expression Column raises TypeError."""
    from pyspark.sql import functions as F

    from druid_hadoop_utils_spark.functions.granularity import granularity_expr
    from druid_hadoop_utils_spark.functions.lookups import lookup_expr
    from druid_hadoop_utils_spark.functions.quantiles import (
        qhist_merge,
        qhist_quantile,
        qhist_state,
    )

    df = spark.createDataFrame(
        [(datetime(2024, 1, 1, 5, 30), "it's", 1.0)], ["t`s", DIM, "x"])
    row = df.select(
        granularity_expr("hour", F.col("`t``s`")).alias("h"),
        granularity_expr("day", "t`s").alias("d"),
        lookup_expr({"it's": "ok"}, F.col(f"`{DIM.replace('`', '``')}`")).alias("l"),
    ).first()
    assert (row.h, row.d, row.l) == (
        datetime(2024, 1, 1, 5), datetime(2024, 1, 1), "ok")

    expr = F.col("x").cast("double")
    for build in (lambda: granularity_expr("hour", expr.cast("timestamp")),
                  lambda: lookup_expr({"a": "b"}, F.upper(F.col("x"))),
                  lambda: qhist_state(expr, 0.0, 1.0),
                  lambda: qhist_merge(expr),
                  lambda: qhist_quantile(expr, 0.5)):
        with pytest.raises(TypeError):
            build()
