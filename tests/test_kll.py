"""KLL-style mergeable rank sketch (functions/kll.py)."""

import hashlib
import math
import random

import numpy as np
import pytest

from druid_hadoop_utils_spark.functions.kll import (
    _compact_np,
    _merge_np,
    kll_quantiles,
    kll_state_grouped,
    merge_kll_states,
)


def _exact_lower_quantile(vals, q):
    vals = sorted(vals)
    n = len(vals)
    return vals[max(math.ceil(q * n), 1) - 1]


def test_compact_preserves_weight_and_bounds_size():
    rng = random.Random(3)
    levels = [np.array([rng.uniform(0, 100) for _ in range(1000)])]
    _compact_np(levels, 64)
    total_w = sum(len(items) * 2**i for i, items in enumerate(levels))
    assert total_w <= 1000  # collapse only ever drops odd leftovers' pairs
    assert total_w >= 500
    assert all(len(items) <= 64 for items in levels)


def test_exact_mode_equals_rank_quantiles(spark):
    from druid_hadoop_utils_spark.functions.quantiles import rank_quantiles

    rng = random.Random(5)
    rows = [("g%d" % (i % 3), float(rng.randrange(500))) for i in range(3000)]
    df = spark.createDataFrame(rows, "g string, v double").repartition(7)
    qs = [0.1, 0.5, 0.9]
    states = kll_state_grouped(df, "v", ["g"], k=4096)  # k > any group: exact
    got = {r.g: (r.p10, r.p50, r.p90)
           for r in kll_quantiles(states, ["g"], qs).collect()}
    want = {r.g: (r.p10, r.p50, r.p90)
            for r in rank_quantiles(df, "v", ["g"], qs).collect()}
    assert got == want
    # layout independence in exact mode
    states2 = kll_state_grouped(df.repartition(2), "v", ["g"], k=4096)
    got2 = {r.g: (r.p10, r.p50, r.p90)
            for r in kll_quantiles(states2, ["g"], qs).collect()}
    assert got2 == want


def test_compacted_mode_rank_error_bounded(spark):
    rng = random.Random(9)
    vals = [rng.gauss(50, 20) for _ in range(20_000)]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    states = kll_state_grouped(df, "v", [], k=256)
    row = kll_quantiles(states, [], [0.5, 0.9]).first()
    svals = sorted(vals)

    def rank_of(x):
        import bisect

        return bisect.bisect_right(svals, x)

    for q, got in ((0.5, row.p50), (0.9, row.p90)):
        err = abs(rank_of(got) - q * len(vals)) / len(vals)
        assert err < 0.05, (q, got, err)


def test_state_size_bounded(spark):
    df = spark.range(100_000).selectExpr("cast(id as double) AS v")
    states = kll_state_grouped(df, "v", [], k=128)
    row = states.first()
    n_items = sum(len(l) for l in row["__kll_levels"])
    assert n_items <= 128 * (len(row["__kll_levels"]) + 1)
    assert len(row["__kll_levels"]) <= 24


def test_merge_states_matches_direct_build(spark):
    rng = random.Random(13)
    rows = [("g%d" % (i % 2), float(rng.randrange(100))) for i in range(2000)]
    df = spark.createDataFrame(rows, "g string, v double")
    half1 = df.where("v < 50")
    half2 = df.where("v >= 50")
    s1 = kll_state_grouped(half1, "v", ["g"], k=4096)
    s2 = kll_state_grouped(half2, "v", ["g"], k=4096)
    merged = merge_kll_states(s1.unionByName(s2), ["g"])
    got = {r.g: r.p50 for r in kll_quantiles(merged, ["g"], [0.5]).collect()}
    by_g = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    want = {g: _exact_lower_quantile(vs, 0.5) for g, vs in by_g.items()}
    assert got == want


def test_merge_levels_associative_weight():
    rng = random.Random(21)
    a = [np.array([rng.uniform(0, 1) for _ in range(30)]),
         np.array([rng.uniform(0, 1) for _ in range(10)])]
    b = [np.array([rng.uniform(0, 1) for _ in range(25)])]
    m = _merge_np(a, b, 16)
    wa = sum(len(l) * 2**i for i, l in enumerate(a))
    wb = sum(len(l) * 2**i for i, l in enumerate(b))
    wm = sum(len(l) * 2**i for i, l in enumerate(m))
    assert wm <= wa + wb and wm >= (wa + wb) * 0.4
    assert all(len(l) <= 16 for l in m)


def test_merge_kll_states_matches_level_loop(spark):
    """The vectorized level gather against the per-level, per-state loop
    it replaced, on 200 random groups of 1-6 states with 1-5 levels each
    (empty levels included, k=8 so compaction runs)."""
    rng = random.Random(29)
    rows, want = [], {}
    for g in range(200):
        states = [[[float(rng.randrange(100)) for _ in range(rng.randrange(12))]
                   for _ in range(rng.randrange(1, 6))]
                  for _ in range(rng.randrange(1, 7))]
        rows += [(g, 8, levels) for levels in states]
        acc = [np.array([v for st in states if i < len(st) for v in st[i]])
               for i in range(max(len(st) for st in states))]
        _compact_np(acc, 8)
        want[g] = [sorted(a.tolist()) for a in acc]
    df = spark.createDataFrame(
        rows, "g int, __kll_k int, __kll_levels array<array<double>>")
    got = {r["g"]: [list(l) for l in r["__kll_levels"]]
           for r in merge_kll_states(df.repartition(3), ["g"]).collect()}
    assert got == want


def test_rejects_tiny_k(spark):
    df = spark.range(10).selectExpr("cast(id as double) AS v")
    with pytest.raises(ValueError):
        kll_state_grouped(df, "v", [], k=4)


def test_merge_rejects_mixed_k(spark):
    """ADVICE r3: states built with different k are not mergeable — fail
    fast instead of silently compacting to an arbitrary k."""
    from pyspark.sql import Row

    a = spark.createDataFrame([Row(g="x", __kll_k=64,
                                   __kll_levels=[[1.0, 2.0]])])
    b = spark.createDataFrame([Row(g="x", __kll_k=128,
                                   __kll_levels=[[3.0, 4.0]])])
    merged = merge_kll_states(a.unionByName(b), ["g"])
    with pytest.raises(Exception, match="mixed k values"):
        merged.collect()


def test_compaction_offset_alternates_by_level():
    """Level parity picks which pair member survives (bias cancellation):
    level 0 promotes lower members, level 1 upper members."""
    levels = [np.arange(16, dtype="float64")]
    _compact_np(levels, 8)
    # level 0 overflowed: even offset -> promoted are 0,2,4,... (lowers)
    assert levels[1].tolist() == [0.0, 2.0, 4.0, 6.0, 8.0, 10.0, 12.0, 14.0]
    lv2 = [np.empty(0), np.arange(16, dtype="float64")]
    _compact_np(lv2, 8)
    # level 1 overflowed: odd offset -> promoted are 1,3,5,... (uppers)
    assert lv2[2].tolist() == [1.0, 3.0, 5.0, 7.0, 9.0, 11.0, 13.0, 15.0]
    # the whole layouts, as the pure-Python compaction this core
    # replaced returned them
    assert [l.tolist() for l in levels] == [
        [], [0.0, 2.0, 4.0, 6.0, 8.0, 10.0, 12.0, 14.0]]
    assert [l.tolist() for l in lv2] == [
        [], [], [1.0, 3.0, 5.0, 7.0, 9.0, 11.0, 13.0, 15.0]]


def test_compact_golden_seeded_layout():
    """1,000 seeded values at k=64: every level, in order, bit for bit as
    the pure-Python compaction this core replaced returned them."""
    rng = random.Random(3)
    lv3 = [np.array([rng.uniform(0, 100) for _ in range(1000)])]
    _compact_np(lv3, 64)
    assert [l.size for l in lv3] == [0, 0, 0, 1, 62]
    assert [hashlib.sha256(l.astype("float64").tobytes()).hexdigest()[:16]
            for l in lv3] == ["e3b0c44298fc1c14"] * 3 + [
                "ead81d66e9ea8c9d", "8b096433353555af"]
    assert lv3[3].tolist() == [99.28165485511329]


def test_merge_kll_states_golden(spark):
    """Three states with 3, 1 and 4 levels (plus a single-state group)
    merge to the exact levels recorded before the level gather was
    vectorized."""
    from pyspark.sql import Row

    states = spark.createDataFrame([
        Row(g="x", __kll_k=8, __kll_levels=[
            [9.0, 3.0, 14.0, 1.0, 7.0], [2.5, 11.5], [6.0]]),
        Row(g="x", __kll_k=8, __kll_levels=[
            [4.0, 13.0, 0.0, 8.0, 12.0, 5.0]]),
        Row(g="x", __kll_k=8, __kll_levels=[
            [10.0, 15.0], [], [3.5, 0.5], [7.5]]),
        Row(g="y", __kll_k=8, __kll_levels=[[1.0, 2.0]]),
    ], "g string, __kll_k int, __kll_levels array<array<double>>")
    got = sorted((r["g"], r["__kll_k"], [list(l) for l in r["__kll_levels"]])
                 for r in merge_kll_states(states, ["g"]).collect())
    assert got == [
        ("x", 8, [[15.0], [0.0, 2.5, 3.0, 5.0, 8.0, 10.0, 11.5, 13.0],
                  [0.5, 3.5, 6.0], [7.5]]),
        ("y", 8, [[1.0, 2.0]]),
    ]


def test_prod_k_accuracy_floor_vs_exact(spark, sf_dir):
    """The production config (k=256, compaction active) must stay within
    2% relative error of the exact quantiles on real data — the accuracy
    contract behind benching q_kll_state_reagg without an oracle."""
    from druid_hadoop_utils_spark.functions.kll import (
        kll_partials,
        kll_quantiles,
    )
    from druid_hadoop_utils_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    qs = [0.25, 0.5, 0.95]

    def quant(k):
        states = kll_partials(ev, "value", ["event_type"], k=k)
        return {r["event_type"]: (r.p25, r.p50, r.p95)
                for r in kll_quantiles(states, ["event_type"], qs).collect()}

    exact = quant(10 ** 6)   # k >> n: no compaction anywhere
    prod = quant(256)
    assert set(prod) == set(exact)
    for g, evals in exact.items():
        for a, e in zip(prod[g], evals):
            assert abs(a - e) <= 0.02 * max(abs(e), 1e-9), (g, a, e)


# ---------------------------------------------------------------------
# round 12: the stateless quantile_query dispatch + fine-grained labels
# ---------------------------------------------------------------------


def test_quantile_label_whole_and_fine_grained():
    from druid_hadoop_utils_spark.functions.kll import quantile_label

    assert quantile_label(0.5) == "p50"
    assert quantile_label(0.25) == "p25"
    assert quantile_label(0.999) == "p99_9"
    assert quantile_label(0.252) == "p25_2"
    # distinct quantiles → distinct labels, even past whole percents
    assert quantile_label(0.25) != quantile_label(0.252)


def test_quantile_query_matches_exact_within_accuracy(spark):
    """quantile_query (the stateless dispatch to percentile_approx) must
    agree with the exact lower-rank quantile within the declared rank
    error (1/accuracy)."""
    from druid_hadoop_utils_spark.functions.kll import quantile_query

    rng = random.Random(17)
    rows = [("g%d" % (i % 2), float(rng.randrange(10_000)))
            for i in range(20_000)]
    df = spark.createDataFrame(rows, "g string, v double").repartition(7)
    got = {r.g: (r.p25, r.p50, r.p95)
           for r in quantile_query(df, "v", ["g"], [0.25, 0.5, 0.95],
                                   accuracy=10_000).collect()}
    by_g: dict = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    for g, vals in by_g.items():
        svals = sorted(vals)
        n = len(svals)
        for q, a in zip((0.25, 0.5, 0.95), got[g]):
            # rank error ≤ 1/accuracy plus slack for ties
            rank = sum(1 for v in svals if v <= a)
            assert abs(rank - q * n) <= n * (1.0 / 10_000) + 32, (g, q, a)


def test_quantile_query_ungrouped_and_labels(spark):
    from druid_hadoop_utils_spark.functions.kll import quantile_query

    df = spark.range(1, 1001).selectExpr("cast(id AS double) AS v")
    row = quantile_query(df, "v", [], [0.5, 0.999]).first()
    assert row.p50 == 500.0
    assert row.p99_9 >= 999.0


def test_kll_quantiles_fine_grained_labels(spark):
    """p99.9-style quantiles work through the sketch path too: the fold
    accumulator is keyed by index, labels only name the output."""
    df = spark.range(1, 10_001).selectExpr("cast(id AS double) AS v")
    states = kll_state_grouped(df, "v", [], k=100_000)  # exact regime
    row = kll_quantiles(states, [], [0.999, 0.25]).first()
    assert row.p99_9 == 9990.0
    assert row.p25 == 2500.0


def test_quantile_label_importable_from_kll():
    from druid_hadoop_utils_spark.functions import kll, quantiles

    assert kll.quantile_label is quantiles.quantile_label


def test_kll_quantiles_rejects_true_duplicates(spark):
    df = spark.range(10).selectExpr("cast(id AS double) AS v")
    states = kll_state_grouped(df, "v", [], k=64)
    with pytest.raises(ValueError, match="collide"):
        kll_quantiles(states, [], [0.5, 0.5])


def test_battery_kll_state_reagg_shape(spark, sf_dir):
    """The bench's state-producing entry: per-day states merge into
    per-event_type quantiles; one row per event_type, approximate values
    inside the prod-k accuracy floor pinned above."""
    from druid_hadoop_utils_spark.battery import QUERIES

    fn, oracle = QUERIES["q_kll_state_reagg"]
    assert oracle is None  # rows-only by design (approximate)
    out = fn(spark, sf_dir).collect()
    types = {r["event_type"] for r in out}
    assert len(out) == len(types) >= 3
    for r in out:
        assert r.p25 <= r.p50 <= r.p95


def test_quantile_label_float_inexact_hundredths():
    """q*100 is not float-exact for most hundredths (0.29*100 ==
    28.999999999999996) — labels must come out clean anyway, never a
    trailing-underscore 'p29_' (round-12 review catch)."""
    from druid_hadoop_utils_spark.functions.kll import quantile_label

    for i in range(1, 100):
        q = i / 100.0
        assert quantile_label(q) == f"p{i}", (q, quantile_label(q))
    assert quantile_label(0.9999) == "p99_99"
    assert quantile_label(1.0) == "p100"
