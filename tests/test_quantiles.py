"""Mergeable histogram quantile sketch: two-phase parity + accuracy."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from druid_hadoop_utils_spark.functions.quantiles import (
    approx_quantiles,
    qhist_merge,
    qhist_quantile,
    qhist_state,
)


@pytest.fixture(scope="module")
def values(spark):
    # 0..999 uniformly
    return spark.range(1000).select((F.col("id")).cast("double").alias("v"),
                                    (F.col("id") % 4).alias("g"))


def test_quantile_accuracy_within_bin_width(values):
    out = approx_quantiles(values, "v", [], [0.5, 0.9, 0.99], lo=0, hi=1000, bins=100)
    row = out.first()
    assert row.p50 == pytest.approx(500, abs=10)  # bin width = 10
    assert row.p90 == pytest.approx(900, abs=10)
    assert row.p99 == pytest.approx(990, abs=10)


def test_two_phase_merge_equals_direct(values):
    """Partial states per group re-merged must finalize identically to the
    one-shot aggregate — the A3/A4 property for this sketch."""
    partial = values.groupBy("g").agg(qhist_state("v", 0, 1000, 100).alias("st"))
    merged = partial.agg(qhist_merge("st", 100).alias("st")).select(
        qhist_quantile("st", 0.5).alias("p50")
    ).first().p50
    direct = values.agg(qhist_state("v", 0, 1000, 100).alias("st")).select(
        qhist_quantile("st", 0.5).alias("p50")
    ).first().p50
    assert merged == direct


def test_out_of_range_clamps(spark):
    df = spark.createDataFrame([Row(v=-50.0), Row(v=-10.0), Row(v=5000.0)])
    out = df.agg(qhist_state("v", 0, 1000, 10).alias("st")).select(
        qhist_quantile("st", 0.25).alias("lo_q"),
        qhist_quantile("st", 0.99).alias("hi_q"),
    ).first()
    assert out.lo_q == 0.0    # underflow bucket → lo
    assert out.hi_q == 1000.0  # overflow bucket → hi


def test_empty_input_yields_null(spark):
    df = spark.createDataFrame([], "v double")
    out = df.agg(qhist_state("v", 0, 100, 10).alias("st")).select(
        qhist_quantile("st", 0.5).alias("p50")
    ).first()
    assert out.p50 is None


def test_nulls_ignored_in_grouped_state(spark):
    """Null values must not become null map keys (NULL_MAP_KEY): they are
    ignored, matching the expression path, and an all-null group still
    yields a zero-count state (null quantile)."""
    df = spark.createDataFrame(
        [Row(g="a", v=10.0), Row(g="a", v=None), Row(g="a", v=30.0),
         Row(g="b", v=None)],
        "g string, v double",
    )
    out = approx_quantiles(df, "v", ["g"], [0.5], lo=0, hi=100, bins=10)
    rows = {r.g: r.p50 for r in out.collect()}
    assert rows["a"] == pytest.approx(20.0, abs=10)  # nulls skipped
    assert rows["b"] is None                          # all-null group kept


def test_grouped_quantiles(values):
    out = approx_quantiles(values, "v", ["g"], [0.5], lo=0, hi=1000, bins=100)
    rows = {r.g: r.p50 for r in out.collect()}
    assert len(rows) == 4
    for g, p in rows.items():
        assert p == pytest.approx(500, abs=20)


def test_qhist_as_loadspec_complex_metric(spark, tmp_path):
    """A qhist-typed metric in a LoadSpec rolls up via qhist_merge: per-hour
    sketch states in segments re-merge under DAY granularity losslessly."""
    from datetime import datetime

    from pyspark.sql import Row

    from druid_hadoop_utils_spark import LoadSpec, load, write_segment

    raw = spark.createDataFrame(
        [Row(__time=datetime(2024, 1, 1, h), v=float(h * 100 + i))
         for h in range(4) for i in range(50)]
    )
    hourly = raw.groupBy("__time").agg(
        qhist_state("v", 0, 1000, 128).alias("v_hist"))
    write_segment(hourly, str(tmp_path), "ds", "2024-01-01/2024-01-02", "v1")

    spec = LoadSpec.from_json({"granularity": "DAY", "dimensions": [],
                               "metrics": [{"name": "v_hist", "type": "qhist"}]})
    df = load(spark, str(tmp_path), spec, interval="2024-01-01/2024-01-02",
              data_source="ds", rollup=True)
    row = df.select(qhist_quantile("v_hist", 0.5).alias("p50")).first()
    # cum >= q*total picks the LOWER median (sorted index n/2 - 1 = 149)
    lower_median = sorted(h * 100 + i for h in range(4) for i in range(50))[99]
    assert row.p50 == pytest.approx(lower_median, abs=1000 / 128)
    # and the qhist type is classified complex (not summed)
    assert spec.metrics[0].is_complex


def test_approx_histogram_factory_grammar(values):
    """Druid approxHistogram factory JSON + quantile post-agg, end to end
    through agg_expr/post_agg_expr."""
    from druid_hadoop_utils_spark.functions.aggregators import agg_expr, post_agg_expr

    spec = {"type": "approxHistogram", "name": "h", "fieldName": "v",
            "numBuckets": 100, "lowerLimit": 0, "upperLimit": 1000}
    partial = values.groupBy("g").agg(agg_expr(spec, values.schema, finalize=False))
    assert dict(partial.dtypes)["h"].startswith("struct<lo:double,hi:double")
    # fold pre-built states (approxHistogramFold) then quantile post-aggs
    fold = {"type": "approxHistogramFold", "name": "h", "fieldName": "h",
            "numBuckets": 100}
    merged = partial.agg(agg_expr(fold, partial.schema, finalize=False))
    out = merged.select(
        post_agg_expr({"type": "quantile", "name": "p50", "fieldName": "h",
                       "probability": 0.5}),
        post_agg_expr({"type": "quantiles", "name": "ps", "fieldName": "h",
                       "probabilities": [0.25, 0.75]}),
    ).first()
    assert out.p50 == pytest.approx(500, abs=10)
    assert out.ps[0] == pytest.approx(250, abs=10)
    assert out.ps[1] == pytest.approx(750, abs=10)


def test_approx_histogram_finalize_is_quantile(values):
    from druid_hadoop_utils_spark.functions.aggregators import agg_expr

    spec = {"type": "approxHistogram", "name": "med", "fieldName": "v",
            "numBuckets": 100, "lowerLimit": 0, "upperLimit": 1000,
            "probability": 0.5}
    med = values.agg(agg_expr(spec, values.schema, finalize=True)).first().med
    assert med == pytest.approx(500, abs=10)


def test_grouped_state_build_equals_expression_state(spark, sf_dir):
    """qhist_state_grouped (two-stage count path) must produce the exact
    state struct the qhist_state aggregate expression produces."""
    from pyspark.sql import functions as F

    from druid_hadoop_utils_spark.functions.quantiles import (
        qhist_state,
        qhist_state_grouped,
    )
    from druid_hadoop_utils_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    expr_states = {
        r.event_type: r.s.asDict()
        for r in ev.groupBy("event_type")
        .agg(qhist_state("value", 0.0, 200.0, 50).alias("s"))
        .collect()
    }
    grouped_states = {
        r.event_type: r["__qh"].asDict()
        for r in qhist_state_grouped(ev, "value", ["event_type"], 0.0, 200.0, 50)
        .collect()
    }
    assert expr_states == grouped_states


def test_rank_quantiles_exact_vs_python(spark):
    """rank_quantiles == rank picks over the sorted values, per group,
    with duplicates and nulls in play."""
    import math
    import random

    from druid_hadoop_utils_spark.functions.quantiles import rank_quantiles

    rng = random.Random(11)
    rows = [("g%d" % rng.randrange(3), float(rng.randrange(20)))
            for _ in range(500)] + [("g0", None), ("g1", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    qs = [0.0, 0.5, 0.9, 1.0]
    got = {r.g: (r.p0, r.p50, r.p90, r.p100)
           for r in rank_quantiles(df, "v", ["g"], qs).collect()}
    by_g = {}
    for g, v in rows:
        if v is not None:
            by_g.setdefault(g, []).append(v)
    for g, vals in by_g.items():
        vals.sort()
        n = len(vals)
        want = tuple(vals[max(math.ceil(q * n), 1) - 1] for q in qs)
        assert got[g] == want, g


def test_rank_quantiles_global_no_groups(spark):
    from druid_hadoop_utils_spark.functions.quantiles import rank_quantiles

    df = spark.createDataFrame([(float(i),) for i in range(1, 101)], "v double")
    row = rank_quantiles(df, "v", [], [0.5, 0.99]).first()
    assert (row.p50, row.p99) == (50.0, 99.0)


def test_rank_quantiles_single_shuffle_of_raw_rows(spark):
    """The raw input must shuffle once, keyed (group, value) — the window
    and final agg run over the collapsed distribution, never a global sort
    of raw rows."""
    from druid_hadoop_utils_spark.functions.quantiles import rank_quantiles

    df = spark.range(10_000).selectExpr(
        "cast(id % 3 as string) AS g", "cast(id % 17 as double) AS v"
    )
    out = rank_quantiles(df, "v", ["g"], [0.5])
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # partial_count before the exchange = map-side combine on (g, v)
    assert plan.count("Sort") <= 2  # window sort + agg, no extra global sort


def test_rank_quantiles_linear_matches_numpy(spark):
    """interpolation='linear' must reproduce numpy's default (type-7)
    quantile bit-for-bit on the same values."""
    import random

    import numpy as np

    from druid_hadoop_utils_spark.functions.quantiles import rank_quantiles

    rng = random.Random(17)
    rows = [("g%d" % (i % 2), float(rng.randrange(1000)) / 7) for i in range(701)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {r.g: (r.p25, r.p50, r.p99) for r in rank_quantiles(
        df, "v", ["g"], [0.25, 0.5, 0.99], interpolation="linear").collect()}
    by_g = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    for g, vals in by_g.items():
        want = tuple(float(np.quantile(np.array(vals), q))
                     for q in (0.25, 0.5, 0.99))
        assert got[g] == want, g


def test_rank_quantiles_rejects_unknown_interpolation(spark):
    import pytest

    from druid_hadoop_utils_spark.functions.quantiles import rank_quantiles

    df = spark.createDataFrame([(1.0,)], "v double")
    with pytest.raises(ValueError):
        rank_quantiles(df, "v", [], [0.5], interpolation="nearest")


def test_quantile_columns_use_one_label_rule(spark):
    """approx_quantiles and rank_quantiles name their columns with
    ``quantile_label``: 0.29 is p29 (not p28), and 0.995 and 1.0 are two
    columns, p99_5 and p100 (not p100 twice)."""
    from druid_hadoop_utils_spark.functions.quantiles import rank_quantiles

    df = spark.range(1, 1001).selectExpr("cast(id AS double) AS v")
    out = approx_quantiles(df, "v", [], [0.29], lo=0, hi=1000, bins=100)
    assert out.columns == ["p29"]
    assert out.first().p29 == pytest.approx(290, abs=10)
    out = rank_quantiles(df, "v", [], [0.995, 1.0])
    assert out.columns == ["p99_5", "p100"]
    row = out.first()
    assert (row.p99_5, row.p100) == (995.0, 1000.0)


def test_repeated_quantile_rejected_by_every_quantile_function(spark):
    from druid_hadoop_utils_spark.functions.kll import (
        kll_quantiles,
        kll_state_grouped,
        quantile_query,
    )
    from druid_hadoop_utils_spark.functions.quantiles import rank_quantiles
    from druid_hadoop_utils_spark.streaming.stateful import streaming_quantiles

    df = spark.range(10).selectExpr("cast(id AS double) AS v", "'a' AS g")
    states = kll_state_grouped(df, "v", [], k=64)
    calls = {
        "approx_quantiles": lambda qs: approx_quantiles(df, "v", [], qs, 0, 10),
        "rank_quantiles": lambda qs: rank_quantiles(df, "v", [], qs),
        "quantile_query": lambda qs: quantile_query(df, "v", [], qs),
        "kll_quantiles": lambda qs: kll_quantiles(states, [], qs),
        "streaming_quantiles": lambda qs: streaming_quantiles(df, "g", "v", qs),
    }
    for who, call in calls.items():
        with pytest.raises(ValueError, match=f"{who}: quantile labels collide"):
            call([0.5, 0.25, 0.5])
