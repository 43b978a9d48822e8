"""Mergeable quantile sketch as a pure-DataFrame composition.

The reference's two-phase protocol (partial state → merge → finalize,
SURVEY.md §2.5 A3/A4) applied to a sketch the reference lacks: a
fixed-range binned histogram. The state is SELF-DESCRIBING —
``struct<lo double, hi double, counts array<long>>`` — so downstream
post-aggregations (Druid ``quantile`` / ``quantiles``) need no side-channel
parameters, mirroring how Druid's approxHistogram object carries its own
bounds. Everything is built-in Catalyst expressions:

- partial: ``width_bucket`` assigns each value a bucket; one sum per
  bucket builds the count array (whole-stage codegen, map-side partials);
- merge: element-wise sum of count arrays (bounds must match — states from
  different segments/days/streams combine losslessly, like HLL partials);
- finalize: a single ``aggregate`` fold walks the cumulative counts to the
  q-th quantile's bucket and returns its midpoint.

Error is bounded by the bucket width ((hi-lo)/bins); values outside
[lo, hi) land in underflow/overflow buckets and clamp to the range edges.
Deterministic — the same math is expressible in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from druid_hadoop_utils_spark.functions.sqltext import column_sql, ident, lit

DEFAULT_BINS = 128


def quantile_label(q: float) -> str:
    """Output column name for quantile ``q``: ``p50`` for whole
    percents, ``p99_9``-style for fine-grained ones (0.999) — always a
    valid unquoted SQL identifier, and distinct labels for distinct
    quantiles at any granularity the float carries.

    Formatting goes through one rounded decimal rendering, NEVER a
    float-exactness test: q*100 is not float-exact for most hundredths
    (0.29*100 == 28.999999999999996), so an ``int(pct) == pct`` fast
    path would emit broken labels like ``p29_`` for p29 (round-12
    review catch). ``%.8f`` absorbs that representation error (8
    decimals of a percent = 1e-10 quantile resolution, far past any
    meaningful distinction) and the strips leave a clean integer or
    underscore-separated decimal."""
    s = f"{q * 100.0:.8f}".rstrip("0").rstrip(".")
    return "p" + s.replace(".", "_")


def quantile_labels(quantiles: list[float], who: str) -> list[str]:
    """The output column names of ``quantiles`` (``quantile_label``), for
    every function that returns one column per quantile; the same
    quantile twice raises ValueError naming the caller ``who``."""
    names = [quantile_label(q) for q in quantiles]
    if len(set(names)) != len(names):
        raise ValueError(f"{who}: quantile labels collide: {names}")
    return names


def qhist_state_sql(value: str, lo: float, hi: float, bins: int = DEFAULT_BINS) -> str:
    """Partial aggregate as SQL text over the value expression ``value``:
    self-describing histogram state with bucket counts of length bins+2
    (index 0 = underflow, bins+1 = overflow) — the non-finalizing form."""
    bucket = (f"width_bucket(CAST({value} AS DOUBLE), {lit(float(lo))}, "
              f"{lit(float(hi))}, {int(bins)})")
    # coalesce: sum over an empty group is NULL, state must be 0s
    counts = ", ".join(
        f"CAST(coalesce(sum(CASE WHEN {bucket} = {i} THEN 1 ELSE 0 END), 0) AS BIGINT)"
        for i in range(bins + 2)
    )
    return (f"named_struct('lo', {lit(float(lo))}, 'hi', {lit(float(hi))}, "
            f"'counts', array({counts}))")


def qhist_merge_sql(state: str, bins: int = DEFAULT_BINS) -> str:
    """Merge partial states given as SQL text (element-wise count sum;
    identical bounds assumed) — re-aggregation across groups, matching the
    reference's partial-bytes re-merge."""
    counts = ", ".join(f"CAST(sum(({state}).counts[{i}]) AS BIGINT)"
                       for i in range(bins + 2))
    return (f"named_struct('lo', first(({state}).lo), 'hi', first(({state}).hi), "
            f"'counts', array({counts}))")


def qhist_quantile_sql(state: str, q: float) -> str:
    """Finalize a state given as SQL text: the q-quantile estimate (bucket
    midpoint; underflow → lo, overflow → hi). One fold over the state's
    count array; the bounds come from the state itself."""
    lo, hi, counts = f"({state}).lo", f"({state}).hi", f"({state}).counts"
    bins = f"(size({counts}) - 2)"
    total = f"aggregate({counts}, CAST(0 AS BIGINT), (__t, __c) -> __t + __c)"
    target = f"{lit(float(q))} * CAST({total} AS DOUBLE)"
    acc0 = "named_struct('cum', CAST(0 AS BIGINT), 'idx', -1, 'pos', 0)"
    step = (
        "(__acc, __n) -> struct(__acc.cum + __n AS cum, "
        f"CASE WHEN __acc.idx < 0 AND CAST(__acc.cum + __n AS DOUBLE) >= {target} "
        f"AND {total} > 0 THEN __acc.pos ELSE __acc.idx END AS idx, "
        "__acc.pos + 1 AS pos)"
    )
    idx = f"aggregate({counts}, {acc0}, {step}).idx"
    mid = f"{lo} + (CAST({idx} AS DOUBLE) - 0.5D) * (({hi} - {lo}) / {bins})"
    return (f"CASE WHEN {total} = 0 THEN CAST(NULL AS DOUBLE) "
            f"WHEN {idx} <= 0 THEN {lo} WHEN {idx} >= {bins} + 1 THEN {hi} "
            f"ELSE {mid} END")


def qhist_state(
    col: Column | str, lo: float, hi: float, bins: int = DEFAULT_BINS
) -> Column:
    """``qhist_state_sql`` over a column, as a Column.

    ``col`` is a column name or a plain column reference such as
    ``F.col("ts")``; an expression Column (``F.col("ts").cast(...)``)
    raises TypeError, since its text is embedded in SQL — select the
    expression into a column first.
    """
    return F.expr(qhist_state_sql(column_sql(col), lo, hi, bins))


def qhist_merge(state_col: Column | str, bins: int = DEFAULT_BINS) -> Column:
    """``qhist_merge_sql`` over a state column, as a Column (``state_col``
    is a name or plain column reference, as for ``qhist_state``)."""
    return F.expr(qhist_merge_sql(column_sql(state_col), bins))


def qhist_quantile(state: Column | str, q: float) -> Column:
    """``qhist_quantile_sql`` over a state column, as a Column (``state``
    is a name or plain column reference, as for ``qhist_state``)."""
    return F.expr(qhist_quantile_sql(column_sql(state), q))


def qhist_state_grouped(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    lo: float,
    hi: float,
    bins: int = DEFAULT_BINS,
) -> DataFrame:
    """Histogram state per group via a (group, bucket) COUNT pre-aggregate
    instead of the ``qhist_state`` expression's bins+2 conditional sums.

    Identical state values; very different cost profile: per row this path
    evaluates ONE ``width_bucket`` and a plain count (vs bins+2 when-chains
    that also take seconds to codegen-compile at bins=100+). The extra
    shuffle is on (group, bucket) with map-side combine — at most bins+2
    rows per group per partition — and the dense array assembles from the
    sparse pairs on the handful of final rows. Preferred whenever state
    construction doesn't have to be a single aggregate expression.

    Expressions are built as SQL strings (``selectExpr``/``F.expr``):
    the Column-API construction of the same plan cost ~0.13 s of py4j
    round-trips per query (round 11, the kll_quantiles finding); the
    JVM plan is identical."""

    qg = [ident(c) for c in group_cols]
    bucket_sql = (
        f"width_bucket(cast({ident(value_col)} AS double), "
        f"{lit(float(lo))}, {lit(float(hi))}, "
        f"{int(bins)})"
    )
    per_bucket = (
        df.selectExpr(*qg, f"{bucket_sql} AS __bk")
        .groupBy(*group_cols, "__bk")
        .agg(F.expr("count(*) AS __c"))
    )
    # Null values bucket to NULL; a null map key would fail at runtime
    # (NULL_MAP_KEY) and the qhist_state expression path ignores nulls.
    # collect_list skips null entries, so the CASE drops the null bucket
    # while an all-null group still surfaces with a zero-count state.
    pairs = F.expr(
        "map_from_entries(collect_list("
        "CASE WHEN __bk IS NOT NULL THEN struct(__bk, __c) END)) AS __m"
    )
    agged = (
        per_bucket.groupBy(*group_cols).agg(pairs)
        if group_cols
        else per_bucket.agg(pairs)
    )
    counts_sql = (
        f"transform(sequence(0, {int(bins) + 1}), "
        "i -> cast(coalesce(try_element_at(__m, i), 0) AS bigint))"
    )
    state_sql = (
        f"struct({lit(float(lo))} AS lo, {lit(float(hi))} AS hi, "
        f"{counts_sql} AS counts)"
    )
    return agged.selectExpr(*qg, f"{state_sql} AS __qh")


def approx_quantiles(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    quantiles: list[float],
    lo: float,
    hi: float,
    bins: int = DEFAULT_BINS,
) -> DataFrame:
    """Grouped quantile estimates via the two-stage state build
    (``qhist_state_grouped``), each finalized by ``qhist_quantile_sql``."""
    names = quantile_labels(quantiles, "approx_quantiles")
    qg = [ident(c) for c in group_cols]
    st = qhist_state_grouped(df, value_col, group_cols, lo, hi, bins)
    return st.selectExpr(
        *qg, *[f"{qhist_quantile_sql(ident('__qh'), q)} AS {ident(n)}"
               for q, n in zip(quantiles, names)])


def rank_quantiles(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    quantiles: list[float],
    interpolation: str = "lower",
) -> DataFrame:
    """EXACT grouped quantiles by rank, without sorting the raw rows and
    without the fixed [lo, hi) range the histogram state needs.

    ``interpolation="lower"`` (default) is discrete: for n non-null
    values, quantile q is the value whose 1-indexed rank in sorted order
    is ``ceil(q*n)`` (q=0 → rank 1, the minimum; q=1 → rank n, the
    maximum). ``interpolation="linear"`` is the type-7 continuous
    estimator (SQL ``quantile_cont`` / numpy default): with
    h = (n-1)·q + 1, linearly interpolate between the values at ranks
    ⌊h⌋ and ⌈h⌉.

    Shape: (group, value) COUNT pre-aggregate (map-side combine collapses
    duplicates before the shuffle) → cumulative count window per group
    ordered by value → one row per requested q via a conditional min. The
    heavy input shuffles ONCE, keyed by (group, value) at distinct-value
    cardinality — never a global sort of raw rows; the window runs over
    the collapsed per-group distribution. For a group whose values are all
    distinct this degrades to the sort-based cost; for typical metric
    distributions the collapse is 10-1000×.
    """
    from pyspark.sql import Window

    if not quantiles:
        raise ValueError("rank_quantiles: need at least one quantile")
    names = quantile_labels(quantiles, "rank_quantiles")
    c = F.col(value_col).cast("double")
    per_value = (
        df.where(c.isNotNull())
        .select(*group_cols, c.alias("__v"))
        .groupBy(*group_cols, "__v")
        .agg(F.count("*").alias("__c"))
    )
    w = Window.partitionBy(*group_cols).orderBy("__v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy(*group_cols)
    cum = per_value.withColumn("__cum", F.sum("__c").over(w)).withColumn(
        "__n", F.sum("__c").over(wall)
    )
    if interpolation not in {"lower", "linear"}:
        raise ValueError(f"unknown interpolation: {interpolation!r}")

    def at_rank(rank_col):
        # smallest value whose cumulative count reaches the rank
        return F.min(F.when(F.col("__cum") >= rank_col, F.col("__v")))

    cols = []
    for q, name in zip(quantiles, names):
        if interpolation == "lower":
            # rank(q) = max(ceil(q*n), 1)
            rank = F.greatest(F.ceil(F.lit(float(q)) * F.col("__n")), F.lit(1))
            cols.append(at_rank(rank).alias(name))
        else:
            # type-7 with the ZERO-based h = (n-1)q DuckDB/numpy compute
            # internally (computing (n-1)q + 1 instead can round to a
            # different fractional part in float64 and diverge from the
            # oracle by an ulp): interpolate between 1-indexed ranks
            # ⌊h⌋+1 and ⌈h⌉+1 by frac = h - ⌊h⌋
            h = (F.col("__n") - F.lit(1)).cast("double") * F.lit(float(q))
            lo = at_rank(F.floor(h) + F.lit(1))
            hi = at_rank(F.ceil(h) + F.lit(1))
            frac = F.max(h - F.floor(h))  # constant per group
            cols.append((lo + frac * (hi - lo)).alias(name))
    if group_cols:
        return cum.groupBy(*group_cols).agg(*cols)
    return cum.agg(*cols)
