"""Custom stateful streaming operators via ``applyInPandasWithState``.

For semantics the built-in windowed/session aggregations can't express —
here, lifetime running totals per key emitted on every update — the
pattern is: group the stream by key, keep a small numeric state per key in
the state store, fold each micro-batch's Arrow batches into it, emit the
updated row. State is O(keys), checkpointed, and survives restarts.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def running_totals(
    events: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Per-key lifetime (count, total) updated each micro-batch.

    Works on a streaming DataFrame grouped by ``key_col``; emit mode is
    'update' (one row per key per batch in which it changed).
    """
    out_schema = StructType(
        [
            StructField("key", StringType()),
            StructField("n_events", LongType()),
            StructField("total", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("s", DoubleType())]
    )

    def update(
        key, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in batches:
            n += len(pdf)
            s += float(pdf[value_col].sum())
        state.update((n, s))
        yield pd.DataFrame([{"key": str(key[0]), "n_events": n, "total": s}])

    return (
        events.groupBy(key_col)
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def streaming_quantiles(
    events: DataFrame,
    key_col: str,
    value_col: str,
    quantiles: list[float],
    k: int = 200,
) -> DataFrame:
    """Per-key LIFETIME rank quantiles over a stream, updated each
    micro-batch — the streaming twin of ``functions.kll``: the state store
    holds one bounded KLL sketch per key (O(k·log n), checkpointed,
    restart-safe), and each batch appends its values to level 0 and runs
    the batch build's compaction (``_compact_np``). The grouped map emits
    ``(key, n_values, levels)``; the quantiles are then picked by the same
    SQL fold ``kll_quantiles`` uses (``kll_pick_sql``) and labelled by
    ``quantile_label``, in 'update' mode. Exact while the key's value
    count stays ≤ k.
    """
    import numpy as np

    from druid_hadoop_utils_spark.functions.kll import (
        _compact_np,
        kll_pairs_sql,
        kll_pick_sql,
        kll_weight_sql,
    )
    from druid_hadoop_utils_spark.functions.quantiles import quantile_labels
    from druid_hadoop_utils_spark.functions.sqltext import ident

    if not quantiles:
        raise ValueError("streaming_quantiles: need at least one quantile")
    qnames = quantile_labels(quantiles, "streaming_quantiles")
    levels_type = ArrayType(ArrayType(DoubleType()))
    sketch_schema = StructType(
        [
            StructField("key", StringType()),
            StructField("n_values", LongType()),
            StructField("levels", levels_type),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("levels", levels_type)]
    )

    def update(
        key, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            n, stored = state.get
            levels = [np.asarray(l, dtype="float64") for l in stored]
        else:
            n, levels = 0, [np.empty(0)]
        for pdf in batches:
            vals = pdf[value_col].dropna().to_numpy(dtype="float64")
            n += len(vals)
            levels[0] = np.concatenate([levels[0], vals])
            _compact_np(levels, k)
        stored = [l.tolist() for l in levels]
        state.update((n, stored))
        yield pd.DataFrame(
            [{"key": str(key[0]), "n_values": n, "levels": stored}])

    sketches = events.groupBy(key_col).applyInPandasWithState(
        update, sketch_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    levels_sql = ident("levels")
    st = sketches.selectExpr(
        "key", "n_values", f"array_sort({kll_pairs_sql(levels_sql)}) AS __pairs",
        f"{kll_weight_sql(levels_sql)} AS __n")
    picked = st.selectExpr(
        "key", "n_values", f"{kll_pick_sql('__pairs', '__n', quantiles)} AS __q")
    return picked.selectExpr(
        "key", "n_values",
        *[f"__q.q{i} AS {ident(nm)}" for i, nm in enumerate(qnames)],
    )


def streaming_heavy_hitters(
    events: DataFrame,
    key_col: str,
    item_col: str,
    k: int = 50,
) -> DataFrame:
    """Per-key frequent items over a stream: one bounded Misra-Gries
    summary (≤ ``k`` counters) per key in the state store, merged each
    micro-batch with the Agarwal et al. mergeable-summaries rule — the
    streaming twin of ``operators.frequency.heavy_hitters``' candidate
    stage. Emits the current candidates in 'update' mode.

    Guarantees (classic MG): every item with true count > n/(k+1) is
    present, and each ``approx_count`` undercounts its true count by at
    most ``n_total/(k+1)``. Counts are EXACT while a key has seen ≤ k
    distinct items. State is O(k) per key regardless of stream length.
    """
    if k < 1:
        raise ValueError(f"k must be positive: {k}")
    out_schema = StructType(
        [
            StructField("key", StringType()),
            StructField("item", StringType()),
            StructField("approx_count", LongType()),
            StructField("n_total", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("items", ArrayType(StringType())),
            StructField("counts", ArrayType(LongType())),
            StructField("n", LongType()),
        ]
    )

    def update(
        key, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            items, counts, n = state.get
            mg = dict(zip(items, (int(c) for c in counts)))
        else:
            mg, n = {}, 0
        for pdf in batches:
            vals = pdf[item_col].dropna().astype(str)
            n += len(vals)
            for item, c in vals.value_counts().items():
                mg[item] = mg.get(item, 0) + int(c)
            if len(mg) > k:
                # mergeable-summaries shrink: subtract the (k+1)-th
                # largest count from everything, drop the non-positive
                cut = sorted(mg.values(), reverse=True)[k]
                mg = {it: c - cut for it, c in mg.items() if c - cut > 0}
        state.update((list(mg.keys()), list(mg.values()), n))
        ks = str(key[0])
        yield pd.DataFrame(
            [{"key": ks, "item": it, "approx_count": c, "n_total": n}
             for it, c in sorted(mg.items(), key=lambda t: (-t[1], t[0]))]
        )

    return events.groupBy(key_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def _null_sentinel_key(key_cols: list[str]):
    """Injective md5 group key over ``key_cols`` — the same null-sentinel
    scheme as the batch operators (operators/dedup.duplicate_groups):
    \\x01 separates values, \\x00 stands in for NULL, so (null, 'x') and
    ('x', null) stay distinct. Shared by every stateful operator so their
    state-key schemes can never diverge."""
    from pyspark.sql import functions as F

    return F.md5(F.concat_ws(
        "\x01",
        *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in key_cols],
    ))


def streaming_dedup(
    events: DataFrame,
    key_cols: list[str],
    order_col: str | None = None,
) -> DataFrame:
    """Cross-micro-batch EXACT dedup: emit only the first row ever seen per
    key, dropping duplicates arriving later in the same batch or in any
    later batch — the streaming twin of ``operators.dedup.exact_dedup``.

    State per distinct key is a single flag (O(distinct keys) in the state
    store, checkpointed, restart-safe). Within a batch the surviving row is
    the minimum of ``order_col`` (or the first Arrow row). Output mode:
    ``append``.

    The group key is the null-sentinel md5 of ``key_cols`` — the same
    injective hashing as the batch operator — so key columns of any type
    work and the shuffled key is one 32-char string, not the row.
    """
    tagged = events.withColumn("__key", _null_sentinel_key(key_cols))
    out_schema = tagged.schema
    state_schema = StructType([StructField("seen", LongType())])

    def first_only(
        key, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            for _ in batches:  # drain; duplicates of an already-seen key
                pass
            return
        first = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cand = pdf.sort_values(order_col).iloc[:1] if order_col else pdf.iloc[:1]
            if first is None:
                first = cand
            elif order_col is not None and (
                cand[order_col].iloc[0] < first[order_col].iloc[0]
            ):
                first = cand
        if first is not None:
            state.update((1,))
            yield first

    deduped = tagged.groupBy("__key").applyInPandasWithState(
        first_only, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
    return deduped.drop("__key")


def streaming_cap_per_group(
    events: DataFrame,
    key_cols: list[str],
    n: int,
    order_col: str | None = None,
) -> DataFrame:
    """Cross-micro-batch per-key quota: emit at most ``n`` rows EVER per
    key — the streaming twin of ``operators.sampling.cap_per_group`` for
    ingest-side crawl balancing (stop admitting a domain/source once its
    lifetime budget is spent, without re-scanning history).

    State per key is one counter (O(distinct keys), checkpointed,
    restart-safe). Selection is arrival order (within a batch, ascending
    ``order_col`` when given — selected across ALL of the group's Arrow
    chunks, not per chunk) — a stream can't use the batch operator's
    corpus-wide hash order, which is the documented semantic difference.
    Output mode: ``append``.
    """
    if n <= 0:
        raise ValueError(f"streaming_cap_per_group: n must be positive: {n}")
    tagged = events.withColumn("__key", _null_sentinel_key(key_cols))
    out_schema = tagged.schema
    state_schema = StructType([StructField("taken", LongType())])

    def take_up_to(
        key, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        taken = state.get[0] if state.exists else 0
        if taken >= n:
            for _ in batches:
                pass
            return
        if order_col is None:
            # arrival order: admit greedily, chunk by chunk
            for pdf in batches:
                room = n - taken
                if room <= 0 or len(pdf) == 0:
                    continue
                out = pdf.iloc[:room]
                taken += len(out)
                yield out
        else:
            # order_col selection must span the whole micro-batch: a
            # group's rows can arrive as several chunks, and sorting each
            # chunk independently would spend the lifetime budget on
            # whichever chunk came first
            chunks = [pdf for pdf in batches if len(pdf)]
            if chunks:
                batch = pd.concat(chunks).sort_values(order_col)
                out = batch.iloc[: n - taken]
                taken += len(out)
                if len(out):
                    yield out
        state.update((taken,))

    capped = tagged.groupBy("__key").applyInPandasWithState(
        take_up_to, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
    return capped.drop("__key")


def streaming_funnel(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    within_seconds: float | None = None,
) -> DataFrame:
    """Per-user ordered funnel progress over a stream — the streaming twin
    of ``operators.events.funnel_times`` (including its optional
    ``within_seconds`` conversion horizon from the step-1 time).

    State per user is (steps_completed, completion times as epoch-micros)
    — O(len(steps)), checkpointed, restart-safe. Each micro-batch's
    events for the user are sorted by time and folded through the step
    machine: an event advances the funnel iff it is the next step AND
    strictly after the previous step's time.

    A one-pass fold in time order computes EXACTLY the batch operator's
    greedy earliest-valid-time chain, provided micro-batches arrive in
    time order across batches (within a batch, arrival order doesn't
    matter — we sort). An event older than an already-completed step
    can't retract state; feed a time-ordered replay (or accept
    upper-bound semantics) when sources interleave.

    Emit mode 'update': one row per user per micro-batch in which their
    funnel state advanced (or first appeared).
    """
    if len(steps) < 2:
        raise ValueError("funnel needs at least two steps")
    out_schema = StructType(
        [
            StructField("user", StringType()),
            StructField("steps_completed", LongType()),
            StructField("step_times_us", ArrayType(LongType())),
        ]
    )
    state_schema = StructType(
        [
            StructField("idx", LongType()),
            StructField("times", ArrayType(LongType())),
        ]
    )
    step_list = list(steps)

    def update(
        key, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            idx, times = state.get
            times = list(times)
        else:
            idx, times = 0, []
        prev_idx = idx
        chunks = [pdf[[ts_col, type_col]] for pdf in batches if len(pdf)]
        if not chunks:
            return
        # a NaT timestamp would astype to a huge negative sentinel and
        # silently pin the chain start / distort the horizon — drop it,
        # matching the batch operator (NULL times never satisfy a step)
        batch = (pd.concat(chunks).dropna(subset=[ts_col])
                 .sort_values(ts_col))
        if not len(batch):
            return
        # pandas datetime64[ns] -> micros (integer division is exact for
        # the us-resolution testdata)
        ts_us = batch[ts_col].astype("int64") // 1000
        horizon_us = None if within_seconds is None else int(within_seconds * 1e6)
        for t, typ in zip(ts_us.tolist(), batch[type_col].tolist()):
            if idx < len(step_list) and typ == step_list[idx] and (
                idx == 0 or t > times[idx - 1]
            ) and (
                idx == 0 or horizon_us is None or t <= times[0] + horizon_us
            ):
                times.append(int(t))
                idx += 1
        advanced = (not state.exists) or idx > prev_idx
        state.update((idx, times))
        if not advanced:
            # unchanged state: stay silent, as the emit contract promises
            return
        yield pd.DataFrame(
            [{"user": str(key[0]), "steps_completed": idx,
              "step_times_us": times}]
        )

    return events.groupBy(user_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def streaming_zscore_outliers(
    events: DataFrame,
    key_col: str,
    value_col: str,
    threshold: float = 3.0,
    min_count: int = 5,
) -> DataFrame:
    """Online per-key anomaly detection — the streaming twin of
    ``operators.timeseries.zscore_outliers``: each key keeps Welford
    running moments (n, mean, M2) in O(1) state; every micro-batch emits
    the batch's rows flagged against the statistics as of the END of the
    batch (so a re-run of the same data is deterministic regardless of
    how rows were split across micro-batches).

    No flags emit until the key has seen ``min_count`` values (the
    cold-start guard). State is 3 numbers per key — bounded forever.
    """
    out_schema = StructType(
        [
            StructField("key", StringType()),
            StructField("value", DoubleType()),
            StructField("zscore", DoubleType()),
            StructField("is_outlier", BooleanType()),
            StructField("n_seen", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("mean", DoubleType()),
            StructField("m2", DoubleType()),
        ]
    )

    def update(
        key, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import math

        n, mean, m2 = state.get if state.exists else (0, 0.0, 0.0)
        vals: list[float] = []
        for pdf in batches:
            vals.extend(float(v) for v in pdf[value_col].dropna())
        for v in vals:
            n += 1
            d = v - mean
            mean += d / n
            m2 += d * (v - mean)
        state.update((n, mean, m2))
        if not vals:
            return
        sd = math.sqrt(m2 / n) if n > 0 else 0.0
        rows = []
        for v in vals:
            z = (v - mean) / sd if sd > 0 and n >= min_count else None
            rows.append({
                "key": str(key[0]), "value": v, "zscore": z,
                "is_outlier": bool(z is not None and abs(z) > threshold),
                "n_seen": n,
            })
        yield pd.DataFrame(rows)

    return events.groupBy(key_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
