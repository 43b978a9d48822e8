"""Spark SQL expression text: the quoting helpers every compiler uses.

The Druid JSON compilers (filters, aggregators, granularity, quantiles,
the ``api`` assembly) emit Spark SQL expression TEXT and hand it to Spark
once (``F.expr`` / ``selectExpr`` / ``where``), instead of building a
Column tree node by node: each Column node is a py4j round trip, a text
expression is one. Every identifier and every user-supplied literal
enters the text through ``ident`` / ``lit`` — nothing is interpolated
raw — so a value is always parsed as a value, never as SQL.
"""

from __future__ import annotations

import math
import uuid
from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame


def ident(name: str) -> str:
    """A column/field name as a backquoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def lit(value) -> str:
    """A Python value as the SQL literal of the type ``F.lit`` would give
    it: int → INT/BIGINT, float → DOUBLE, str → STRING, bool, None,
    datetime → TIMESTAMP (naive = UTC, the session time zone)."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int):
        return str(value)
    if isinstance(value, float):
        if math.isnan(value):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(value):
            return f"CAST('{'' if value > 0 else '-'}Infinity' AS DOUBLE)"
        return f"{value!r}D"  # a bare 1.5 would parse as DECIMAL
    if isinstance(value, str):
        # the escaping Spark's own Literal.sql applies: the lexer reads
        # \\ and \' back, and everything else (newlines, comment markers,
        # non-ASCII) is plain text inside the quotes
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(value, datetime):
        return f"TIMESTAMP {lit(ts_text(value))}"
    raise TypeError(f"no SQL literal for {type(value).__name__}: {value!r}")


def ts_text(t: datetime) -> str:
    """A datetime as the wall-clock text of its UTC instant (naive = UTC)."""
    if t.tzinfo is not None:
        t = t.astimezone(timezone.utc).replace(tzinfo=None)
    return t.isoformat(sep=" ")


def column_sql(col: Column | str) -> str:
    """SQL text for a column reference: a name, or a Column that is a
    plain column reference (the rule ``spark.sql``'s ``{col}`` formatting
    applies). Any other Column raises — an expression tree has no SQL
    text to embed."""
    if isinstance(col, str):
        return ident(col)
    from py4j.java_gateway import is_instance_of
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    jexpr = SparkSession.active()._jsparkSession.expression(col._jc)
    gw = SparkContext._gateway
    if is_instance_of(
        gw, jexpr, "org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute"
    ) or is_instance_of(
        gw, jexpr, "org.apache.spark.sql.catalyst.expressions.AttributeReference"
    ):
        return jexpr.sql()
    raise TypeError(f"expected a column name or plain column reference: {col}")


def sql_over(df: DataFrame, build) -> DataFrame:
    """``spark.sql(build(name))``, where ``name`` is ``df`` registered as a
    temporary view while the statement is parsed and analyzed (the same
    pattern ``spark.sql``'s ``{df}`` arguments use): a whole query stage
    is ONE statement, analyzed once, at a constant number of py4j round
    trips. The view name is unique per call, so concurrent callers never
    see each other's views."""
    name = f"__q_{uuid.uuid4().hex}"
    df.createOrReplaceTempView(name)
    try:
        return df.sparkSession.sql(build(ident(name)))
    finally:
        df.sparkSession.catalog.dropTempView(name)
