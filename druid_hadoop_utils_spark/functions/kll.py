"""KLL-style mergeable rank-quantile sketch.

Completes the engine's mergeable-state family (Druid hyperUnique bytes,
theta sketches, fixed-range ``qhist`` histograms) with a RANK-based sketch:
no [lo, hi) range declaration, works on any numeric distribution, and its
partial states merge associatively — the property segment-level
pre-aggregation needs (build one small state per segment, merge states at
query time instead of rescanning raw rows; reference analog: the
non-finalizing complex-metric path, DruidStorage.java:142-151).

Where ``rank_quantiles`` (quantiles.py) answers one query exactly,
``kll_state_grouped`` produces a REUSABLE state whose size is
O(k·log(n/k)) regardless of group size.

Layout:
- state = struct<k int, levels array<array<double>>>; an item at level i
  carries weight 2^i. Level 0 holds raw values.
- build: ``mapInPandas`` over arrow batches — each PARTITION emits one
  partial state per group it holds (bounded memory, no pre-shuffle);
  the single shuffle moves ≤ partitions × groups small states.
- merge: level-wise concatenation + deterministic compaction (sort,
  keep even indices, promote pairs one level up — Manku/KLL collapse).
  Compaction triggers only when a level exceeds k items, so with
  k ≥ group size the sketch is EXACT (all values at level 0) and any
  merge order yields identical quantiles — which is what lets the DuckDB
  oracle hash-match it at test scale while production uses small k.
- query: pure Catalyst — flatten each state's levels into (item, 2^level)
  pairs, one ``collect_list`` shuffle gathers all pairs per group into a
  single sorted array, then an ``aggregate`` fold walks cumulative weight
  to the ceil(q·W) lower-rank pick (same rule as ``rank_quantiles``;
  coincides with it exactly when k ≥ n). No window over exploded rows —
  the per-group pair array is bounded by the state sizes, so the fold is
  row-local work on a handful of rows.

A quantile QUERY doesn't need the merged/compacted state at all:
evaluating over the union of partial states is semantically identical
(compaction only bounds STORED state size, never improves accuracy), so
``kll_quantiles(kll_partials(df, ...))`` skips the merge shuffle + second
Python stage entirely. ``kll_state_grouped`` (build + merge) remains the
path that materializes one bounded state per group for storage /
segment-level re-aggregation.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from druid_hadoop_utils_spark.functions.quantiles import (
    quantile_label,  # noqa: F401 — re-exported for kll callers
    quantile_labels,
)
from druid_hadoop_utils_spark.functions.sqltext import ident, lit

DEFAULT_K = 200


def _state_schema(group_fields) -> StructType:
    return StructType(
        list(group_fields)
        + [
            StructField("__kll_k", IntegerType(), False),
            StructField("__kll_levels", ArrayType(ArrayType(DoubleType())), False),
        ]
    )


# ------------------------------------------------------------- numpy core
#
# The per-raw-row work of the sketch build is the ONLY Python-rate cost in
# the KLL path, so it is fully vectorized: a fresh batch of values bulk-
# loads via ONE numpy sort + strided slicing (closed form of the _compact_np
# cascade applied to a single sorted array — derivation below), and
# per-partition folding merges level arrays with numpy sorts. No Python
# floats are ever boxed per item. Round-6 measurement (sf0.1×30, 3M rows,
# local[32]): build went from the dominant cost to scan-bound.
#
# Closed form: compacting a single sorted array s of n items with
# parameter k is the cascade m_0 = n, m_{l+1} = floor(m_l / 2) until
# m_j <= k, where level l < j keeps one leftover (the level's largest
# item) iff m_l is odd, and level j holds m_j items at stride 2^j. The
# original-index offset of level l follows o_0 = 0,
# o_{l+1} = o_l + (l % 2) * 2^l — the parity-alternating promotion
# _compact_np uses. Total weight is exact: n = sum odd_l 2^l + 2^j m_j.


def _bulk_levels_np(vals, k: int) -> list:
    """Sorted-bulk-load a fresh value array into KLL levels (numpy
    arrays) — equivalent to feeding the array through ``_compact_np``."""
    import numpy as np

    n = int(vals.size)
    s = np.sort(vals)
    j = 0
    while (n >> j) > k:
        j += 1
    levels = []
    o, m = 0, n
    for lvl in range(j):
        if m % 2 == 1:
            levels.append(s[o + (1 << lvl) * (m - 1): o + (1 << lvl) * (m - 1) + 1])
        else:
            levels.append(s[0:0])
        o += (lvl % 2) * (1 << lvl)
        m //= 2
    levels.append(s[o::(1 << j)][:m] if m else s[0:0])
    return levels


def _compact_np(levels: list, k: int) -> None:
    """Deterministic in-place collapse of numpy level arrays: the lowest
    level holding more than k items sorts, pairs promote every other item
    up one level, an odd trailing item stays. Repeats until all levels fit.

    The reference KLL flips a coin per compaction to pick which member of
    each sorted pair survives, so per-compaction rank errors are zero-mean
    and cancel. A random offset would break oracle reproducibility, so the
    offset here is the LEVEL PARITY instead: even levels promote the lower
    member of each pair, odd levels the upper. Still fully deterministic,
    but successive promotions through the level hierarchy roughly cancel
    rather than stacking one-sided. Residual caveat: errors cancel in
    expectation across levels, not per compaction, so worst-case bias is
    still one-sided within a single level — weaker than the randomized KLL
    guarantee. Exactness when k ≥ group size (no compaction) is unaffected."""
    import numpy as np

    i = 0
    while i < len(levels):
        if levels[i].size <= k:
            i += 1
            continue
        items = np.sort(levels[i])
        odd = items.size % 2 == 1
        keep = items[-1:] if odd else items[0:0]
        if odd:
            items = items[:-1]
        promoted = items[i % 2:: 2]
        levels[i] = keep
        if i + 1 == len(levels):
            levels.append(promoted)
        else:
            levels[i + 1] = np.concatenate([levels[i + 1], promoted])
        # the promoted items may overflow the next level — loop continues
        # there; never re-expands a compacted level
        i += 1


def _merge_np(a: list, b: list, k: int) -> list:
    import numpy as np

    out = []
    for i in range(max(len(a), len(b))):
        parts = []
        if i < len(a) and a[i].size:
            parts.append(a[i])
        if i < len(b) and b[i].size:
            parts.append(b[i])
        out.append(np.concatenate(parts) if len(parts) > 1
                   else (parts[0] if parts else np.empty(0)))
    _compact_np(out, k)
    return out


# ------------------------------------------------------------- build / merge


def kll_partials(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    k: int = DEFAULT_K,
) -> DataFrame:
    """Per-partition partial KLL states, NO shuffle (``mapInPandas``):
    every partition folds its arrow batches into one partial state per
    group it contains — memory is O(groups-per-partition × k·log), never
    the raw values. Multiple rows per group (one per partition holding
    it); feed to ``merge_kll_states`` for one stored state per group, or
    straight to ``kll_quantiles`` for a query (evaluation over the
    partial-state union is exact w.r.t. the merged state — compaction
    only bounds stored size).

    A pure-Catalyst alternative build (chunk values with
    monotonically_increasing_id, collect_list per chunk, compact via the
    closed-form cascade as array expressions) was implemented and
    MEASURED in round 6: 0.80 s vs 0.64 s (this path) at sf0.1 and
    1.78 s vs 1.69 s at 30×, after fixing a 30×-re-sort inlining
    pathology (every reference to an inline array_sort re-sorts — a
    multi-referenced expensive expression must be its own projection
    column). It also shuffles the raw value column (collect_list
    partials ARE the values), which this path's whole design avoids —
    rejected on both counts; details in BASELINE.md round 6."""
    if k < 8:
        raise ValueError(f"k must be ≥ 8: {k}")
    import pandas as pd

    gcols = list(group_cols)
    src = df.select(
        *gcols, F.col(value_col).cast("double").alias("__v")
    )
    group_fields = [src.schema[c] for c in gcols]
    partial_schema = _state_schema(group_fields)

    def build(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        # fully vectorized: each batch's values per group bulk-load via one
        # numpy sort (_bulk_levels_np), and the per-partition fold merges
        # level arrays with numpy sorts (_merge_np) — no per-item Python.
        # Output stays ONE state per (partition, group): state volume (and
        # the query-side pair arrays) is bounded by partitions × groups,
        # never by batch count.
        states: dict[tuple, list] = {}

        def absorb(key: tuple, arr) -> None:
            if not arr.size:
                return
            chunk = _bulk_levels_np(arr, k)
            acc = states.get(key)
            states[key] = chunk if acc is None else _merge_np(acc, chunk, k)

        for pdf in batches:
            mask = pdf["__v"].notna()
            if gcols:
                for key, sub in pdf[mask].groupby(gcols, dropna=False, sort=False):
                    key = key if isinstance(key, tuple) else (key,)
                    absorb(key, sub["__v"].to_numpy(dtype="float64"))
            else:
                absorb((), pdf["__v"][mask].to_numpy(dtype="float64"))
        rows = [
            dict(zip(gcols, key), __kll_k=k,
                 __kll_levels=[lv.tolist() for lv in levels])
            for key, levels in states.items()
        ]
        yield pd.DataFrame(
            rows, columns=gcols + ["__kll_k", "__kll_levels"]
        ) if rows else pd.DataFrame(columns=gcols + ["__kll_k", "__kll_levels"])

    return src.mapInPandas(build, schema=partial_schema)


def kll_state_grouped(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    k: int = DEFAULT_K,
) -> DataFrame:
    """One mergeable KLL state per group: partial build (no shuffle) +
    the single state-merge shuffle (``applyInArrow``; at most
    #partitions small states per group move)."""
    return merge_kll_states(
        kll_partials(df, value_col, group_cols, k), list(group_cols)
    )


def merge_kll_states(states: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge partial KLL states per group (associative — reusable for
    segment-level re-aggregation of stored states).

    The grouped map runs in ``applyInArrow`` (r16, guide §4.1/§4.2): the
    r15 ``applyInPandas`` path converted every group's
    ``array<array<double>>`` state column Arrow→pandas, boxing each level
    into a numpy object array, before the merge touched it — pure
    serialization overhead for a function that only concatenates and
    sorts doubles. Here the level payload is read straight out of the
    Arrow buffers (offsets + one contiguous double buffer, zero-copy):
    each value's level comes from one vectorized offset pass, and the
    levels are merged with the same deterministic numpy compaction
    cascade the build uses (``_compact_np``), so the merged VALUES are
    bit-identical to the pandas path: no arithmetic happens in either,
    only concatenation, sorting, and strided selection of the same
    doubles.

    ORDER-FREE merge: concatenate every state level-wise, then one
    compaction cascade — the result is a function of the MULTISET of
    partial states, so shuffle arrival order can't matter."""
    import numpy as np
    import pyarrow as pa

    gcols = list(group_cols)
    out_fields = [states.schema[c] for c in gcols]
    out_schema = _state_schema(out_fields)

    def merge_tbl(tbl: "pa.Table") -> "pa.Table":
        ks = tbl.column("__kll_k").to_numpy(zero_copy_only=False)
        uniq = sorted(set(int(v) for v in ks))
        if len(uniq) != 1:
            key = {c: tbl.column(c)[0].as_py() for c in gcols}
            raise ValueError(
                f"merge_kll_states: mixed k values {uniq} in group {key or '<all>'} "
                "— states built with different k are not mergeable; rebuild with "
                "a uniform k"
            )
        k = uniq[0]
        lv = tbl.column("__kll_levels")
        lv = lv.combine_chunks() if isinstance(lv, pa.ChunkedArray) else lv
        outer_off = lv.offsets.to_numpy()
        inner = lv.values  # every level of every state, back-to-back
        inner_off = inner.offsets.to_numpy()
        first, last = outer_off[0], outer_off[-1]
        widths = np.diff(outer_off)
        # level index of every level list (its position inside its
        # state), then of every value; one mask per level keeps the
        # values in state order, i.e. the state-by-state concatenation
        list_lvl = np.arange(first, last) - np.repeat(outer_off[:-1], widths)
        elem_lvl = np.repeat(list_lvl, np.diff(inner_off[first:last + 1]))
        vals = inner.values.to_numpy()[inner_off[first]:inner_off[last]]
        acc = [vals[elem_lvl == i] for i in range(int(widths.max(initial=0)))]
        if not acc:
            acc = [np.empty(0)]
        _compact_np(acc, k)
        acc = [np.sort(a) for a in acc]  # canonical stored layout
        cols = [tbl.column(c).slice(0, 1) for c in gcols]
        cols.append(pa.array([k], type=pa.int32()))
        cols.append(pa.array([[a.tolist() for a in acc]],
                             type=pa.list_(pa.list_(pa.float64()))))
        return pa.table(cols, names=gcols + ["__kll_k", "__kll_levels"])

    if gcols:
        return states.groupBy(*gcols).applyInArrow(merge_tbl, schema=out_schema)
    # grouping by a literal expression: the table carries only the state
    # columns (no synthetic key column to drop)
    return states.groupBy(F.lit(1).alias("__g")).applyInArrow(
        lambda tbl: merge_tbl(tbl), schema=out_schema
    )


# ------------------------------------------------------------- query


# All big expressions are built as ONE SQL string each (F.expr /
# selectExpr): constructing the same nested lambdas through the Column
# API costs hundreds of py4j round-trips — measured ~0.2 s of pure
# driver-side plan construction PER QUERY (round 11, BASELINE.md), which
# was most of the q_kll_quantiles_prod pair's gap vs percentile_approx at
# sf0.1. The JVM plan is identical.


def kll_pairs_sql(levels: str) -> str:
    """The (item, 2^level weight) pairs of a levels array given as SQL
    text, as one flat ``array<struct<v double, w double>>``."""
    return (
        f"flatten(transform({levels}, (items, lvl) -> "
        "transform(items, v -> struct(v AS v, "
        "cast(pow(2.0, lvl) AS double) AS w))))"
    )


def kll_weight_sql(levels: str) -> str:
    """Total weight of a levels array given as SQL text, from the level
    sizes — a fold over ~log(n/k) levels, not over the pairs."""
    return (
        f"aggregate(transform({levels}, (items, lvl) -> "
        "cast(size(items) AS double) * pow(2.0, lvl)), "
        "cast(0.0 AS double), (a, x) -> a + x)"
    )


def kll_pick_sql(pairs: str, weight: str, quantiles: list[float]) -> str:
    """Every quantile's lower-rank pick at ceil(q·W) over SORTED pairs
    (``pairs``, total weight ``weight``; both SQL text): a struct whose
    field ``q{i}`` is the pick for ``quantiles[i]``, NULL when the weight
    is 0. The fields are keyed by POSITION, so any distinct quantiles
    work whatever their labels.

    ONE fold finds every pick — higher-order folds evaluate interpreted
    per element, so folding once for Q quantiles instead of Q+1 separate
    passes is a measured ~3× on the evaluation stage (round 6)."""
    acc0 = (
        "named_struct('cum', cast(0.0 AS double), "
        + ", ".join(f"'q{i}', cast(null AS double)"
                    for i in range(len(quantiles)))
        + ")"
    )
    steps = ", ".join(
        f"CASE WHEN acc.q{i} IS NULL AND acc.cum + x.w >= "
        f"greatest(cast(ceil({lit(float(q))} * {weight}) AS double), 1.0) "
        f"THEN x.v ELSE acc.q{i} END AS q{i}"
        for i, q in enumerate(quantiles)
    )
    return (
        f"aggregate({pairs}, {acc0}, "
        f"(acc, x) -> struct(acc.cum + x.w AS cum, {steps}))"
    )


def quantile_query(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    quantiles: list[float],
    accuracy: int = 10000,
) -> DataFrame:
    """One-shot grouped quantile QUERY over raw rows — the stateless
    sibling of the KLL state pipeline, dispatched to Spark's built-in
    ``percentile_approx`` (the JVM-side Greenwald–Khanna quantile
    sketch: whole-stage-codegen partials, map-side combine, one
    aggregation shuffle of small summaries).

    Dispatch rationale (the Spark-first rule): when the caller wants
    ONLY quantile values — no reusable mergeable state kept — the
    engine should never pay a Python/Arrow crossing for an aggregate
    the JVM expresses natively. The crossing is a fixed ~0.15 s floor
    per stage (passthrough-control measured, BASELINE.md round 6):
    irrelevant at scale but pure overhead on a query the built-in
    answers in one codegen pass. The KLL path earns its crossing ONLY
    when its output state is reused: build once per segment with
    ``kll_state_grouped``, store the struct, re-aggregate stored states
    at query time with ``merge_kll_states``/``kll_quantiles`` instead
    of rescanning raw rows — a workload ``percentile_approx`` cannot
    serve because Spark does not expose its intermediate summary as a
    storable value. Same split as the ANN operators: brute force when
    you query once, build-and-persist the index when you query often.

    ``accuracy`` is percentile_approx's knob (rank error ≤ 1/accuracy);
    the default matches Spark's. Output columns are named by
    ``quantile_label`` (p50, p99_9), matching ``kll_quantiles``."""
    if not quantiles:
        raise ValueError("quantile_query: need at least one quantile")
    gcols = list(group_cols)
    names = quantile_labels(quantiles, "quantile_query")
    agg = F.percentile_approx(
        F.col(value_col).cast("double"),
        [float(q) for q in quantiles],
        accuracy,
    ).alias("__ps")
    agged = df.groupBy(*gcols).agg(agg) if gcols else df.agg(agg)
    return agged.select(
        *gcols, *[F.col("__ps")[i].alias(n) for i, n in enumerate(names)]
    )


def kll_quantiles(
    states: DataFrame,
    group_cols: list[str],
    quantiles: list[float],
) -> DataFrame:
    """Evaluate quantiles from states in PURE Catalyst, no window and no
    exploded-row shuffle: flatten each state into (item, 2^level weight)
    pairs, ``collect_list`` gathers every state's pairs per group (the
    only shuffle — pair volume is bounded by state sizes, not raw rows),
    sort the array once, then one ``aggregate`` fold (``kll_pick_sql``)
    walks cumulative weight to each lower-rank pick at ceil(q·W) — identical
    semantics to ``rank_quantiles`` (and identical RESULTS when the
    sketch is exact). Works on ``kll_partials`` output or merged states;
    both evaluate to the same quantiles by construction.

    Memory bound: the per-group array holds ~states × k × log2(n/k)
    (item, weight) pairs in ONE non-spillable cell. At production k
    (k=256, the q_kll_quantiles_prod configuration) that is kilobytes
    per state regardless of raw-row count — safe at any scale. In the
    EXACT regime (k ≥ group size, the oracle-test mode) the array holds
    every raw value of the group; use that mode only when a group's
    values fit driver-side anyway (tests / small dims), or pre-merge
    with ``merge_kll_states`` (whose applyInArrow compaction bounds state
    size) before evaluating."""
    if not quantiles:
        raise ValueError("kll_quantiles: need at least one quantile")
    gcols = list(group_cols)
    names = quantile_labels(quantiles, "kll_quantiles")
    qg = [ident(c) for c in gcols]
    levels = ident("__kll_levels")
    st = states.selectExpr(*qg, f"{kll_pairs_sql(levels)} AS __pairs",
                           f"{kll_weight_sql(levels)} AS __w")
    aggs = [
        F.expr("array_sort(flatten(collect_list(__pairs)))").alias("__pairs"),
        F.expr("sum(__w)").alias("__n"),
    ]
    agged = st.groupBy(*gcols).agg(*aggs) if gcols else st.agg(*aggs)
    out = agged.selectExpr(*qg, f"{kll_pick_sql('__pairs', '__n', quantiles)} AS __q")
    return out.selectExpr(
        *qg, *[f"__q.q{i} AS {ident(n)}" for i, n in enumerate(names)])
