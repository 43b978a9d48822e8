"""thetaSketch through the Druid JSON grammar (agg_expr / post_agg_expr /
group_aggregate): under-full exactness, two-phase merge, estimator
accuracy, set operations, and the spec checks."""

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from druid_hadoop_utils_spark.functions.aggregators import (
    agg_expr,
    group_aggregate,
    post_agg_expr,
)


def _theta(field="u", size=None, name="d"):
    spec = {"type": "thetaSketch", "name": name, "fieldName": field}
    if size is not None:
        spec["size"] = size
    return spec


@pytest.fixture(scope="module")
def people(spark):
    # 3 groups; group g{i} has (i+1)*10 distinct users, each seen twice
    rows = [
        Row(g=f"g{i}", u=f"user{i}_{j % ((i + 1) * 10)}")
        for i in range(3)
        for j in range(2 * (i + 1) * 10)
    ]
    return spark.createDataFrame(rows)


def test_underfull_state_is_exact(people):
    out = {r.g: r.d for r in people.groupBy("g").agg(
        agg_expr(_theta(size=256), people)).collect()}
    assert out == {"g0": 10.0, "g1": 20.0, "g2": 30.0}


def test_merge_equals_direct(people):
    """Partial states per (g, parity-of-row) merged together must estimate
    the same as one direct aggregation — the two-phase contract."""
    halves = people.withColumn("half", F.length("u") % 2)
    partial = group_aggregate(
        halves, ["g", "half"], [_theta(size=256, name="st")],
        finalize=False, time_column=None,
    )
    merged = group_aggregate(
        partial, ["g"], [_theta(field="st", size=256)], time_column=None)
    direct = group_aggregate(
        people, ["g"], [_theta(size=256)], time_column=None)
    assert {r.g: r.d for r in merged.collect()} == \
           {r.g: r.d for r in direct.collect()}


def test_estimator_accuracy_at_small_k(spark):
    """10k distinct with size=1024: the estimate must land within 10%
    (RSE ~ 1/sqrt(1024) ~ 3.1%; the hash is seeded, so this is a fixed
    value, not a flaky bound)."""
    df = spark.range(10_000).select(F.concat(F.lit("v"), F.col("id")).alias("u"))
    est = df.agg(agg_expr(_theta(size=1024), df)).first().d
    assert est == pytest.approx(10_000, rel=0.10)


def test_nulls_do_not_count(spark):
    df = spark.createDataFrame([Row(u="a"), Row(u="b"), Row(u=None), Row(u=None)])
    assert df.agg(agg_expr(_theta(), df)).first().d == 2.0


def test_theta_sketch_aggregator_grammar(people):
    out = group_aggregate(
        people, ["g"],
        [{"type": "thetaSketch", "name": "d", "fieldName": "u", "size": 256}],
        time_column=None,
    )
    assert {r.g: r.d for r in out.collect()} == {"g0": 10.0, "g1": 20.0, "g2": 30.0}


def test_theta_grammar_routes_through_bounded_path(people):
    """Finalizing thetaSketch via group_aggregate is one ordinary
    aggregate beside the others: no per-group collect_set, window or
    join in the plan; an all-null group estimates 0.0."""
    with_nulls = people.unionByName(
        people.sparkSession.createDataFrame(
            [Row(g="g_null", u=None), Row(g="g_null", u=None)],
            "g string, u string",
        )
    )
    out = group_aggregate(
        with_nulls, ["g"],
        [{"type": "count", "name": "n"},
         {"type": "thetaSketch", "name": "d", "fieldName": "u", "size": 256}],
        time_column=None,
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    for node in ("collect_set", "Window", "Join"):
        assert node not in plan, node
    got = {r.g: (r.n, r.d) for r in out.collect()}
    assert got == {"g0": (20, 10.0), "g1": (40, 20.0), "g2": (60, 30.0),
                   "g_null": (2, 0.0)}
    assert out.columns == ["g", "n", "d"]  # declared aggregation order kept


def test_theta_two_phase_with_post_agg(people):
    """NonFinalizing (binary sketch) → re-merge over a pre-built state
    column → thetaSketchEstimate post-agg, mirroring the hyperUnique
    chain."""
    partial = group_aggregate(
        people, ["g"], [_theta(size=256, name="st")],
        finalize=False, time_column=None,
    )
    assert dict(partial.dtypes)["st"] == "binary"
    # re-aggregate the state column: agg_expr detects binary → merge
    total = partial.agg(
        agg_expr(_theta(field="st", size=256, name="st"), partial.schema,
                 finalize=False)
    ).select(post_agg_expr({"type": "thetaSketchEstimate", "name": "d",
                            "fieldName": "st", "size": 256}))
    assert total.first().d == 60.0  # 10 + 20 + 30 disjoint users


def test_filtered_theta(people):
    out = group_aggregate(
        people, [],
        [{"type": "filtered", "name": "d",
          "filter": {"type": "selector", "dimension": "g", "value": "g2"},
          "aggregator": {"type": "thetaSketch", "name": "d", "fieldName": "u",
                         "size": 256}}],
        time_column=None,
    )
    assert out.first().d == 30.0


@pytest.mark.parametrize("size", [1000, 8, 1 << 27])
def test_size_outside_power_of_two_range_rejected(people, size):
    with pytest.raises(ValueError, match="power of two"):
        agg_expr(_theta(size=size), people)


def test_array_long_state_rejected(spark):
    """An ``array<long>`` field (the engine's former KMV state) must not
    be sketched as data: theta_sketch_agg would count the arrays."""
    df = spark.createDataFrame([([1, 2],), ([3],), ([4, 5, 6],)], "u array<long>")
    with pytest.raises(ValueError, match="re-materialize"):
        agg_expr(_theta(), df)


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.text(alphabet="abcdef", min_size=1, max_size=6),
                min_size=1, max_size=80))
@pytest.mark.slow
def test_underfull_exactness_property(spark, values):
    """For ANY multiset with fewer than size distinct values, the theta
    estimate equals the exact distinct count (theta = 1) — the property
    that makes q_theta_distinct oracle-exact."""
    df = spark.createDataFrame([(v,) for v in values], "u string")
    est = df.agg(agg_expr(_theta(size=128), df)).first().d
    assert est == float(len(set(values)))


class TestSetOps:
    @staticmethod
    def _sets(spark, ranges):
        """One frame tagging each id with the set it belongs to: set name
        → [lo, hi) id range."""
        parts = [spark.range(lo, hi).select(F.lit(s).alias("s"), "id")
                 for s, (lo, hi) in ranges.items()]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    @staticmethod
    def _sketch(name, size):
        return {"type": "filtered",
                "filter": {"type": "selector", "dimension": "s", "value": name},
                "aggregator": {"type": "thetaSketch", "name": name,
                               "fieldName": "id", "size": size}}

    @staticmethod
    def _setop(func, fields, size=16384):
        return {"type": "thetaSketchSetOp", "func": func, "size": size,
                "fields": [f if isinstance(f, dict) else
                           {"type": "fieldAccess", "fieldName": f}
                           for f in fields]}

    def _estimates(self, spark, ranges, setops, size=16384):
        df = self._sets(spark, ranges)
        posts = [{"type": "thetaSketchEstimate", "name": n, "field": op}
                 for n, op in setops.items()]
        return group_aggregate(
            df, [], [self._sketch(n, size) for n in ranges],
            post_aggregations=posts, time_column=None,
        ).first()

    def test_exact_regime_matches_set_algebra(self, spark):
        ab = ["a", "b"]
        row = self._estimates(
            spark, {"a": (0, 300), "b": (200, 500)},
            {"i": self._setop("INTERSECT", ab), "n": self._setop("NOT", ab),
             "u": self._setop("UNION", ab)},
        )
        assert row.i == 100.0   # overlap
        assert row.n == 200.0   # a-only
        assert row.u == 500.0   # 300 + 300 - 100

    def test_approximate_regime_within_bounds(self, spark):
        k = 256
        ab = ["a", "b"]
        row = self._estimates(
            spark, {"a": (0, 20000), "b": (10000, 30000)},
            {"i": self._setop("INTERSECT", ab, k),
             "u": self._setop("UNION", ab, k)},
            size=k,
        )
        # theta sketches: relative error ~1/sqrt(k) for union; the
        # intersection's effective sample is smaller — allow a loose 35%
        assert abs(row.i - 10000) / 10000 < 0.35, row.i
        assert abs(row.u - 30000) / 30000 < 0.2, row.u

    def test_setops_compose(self, spark):
        # (A ∪ B) ∩ C with exact sketches
        row = self._estimates(
            spark, {"a": (0, 100), "b": (50, 150), "c": (75, 300)},
            {"e": self._setop(
                "INTERSECT", [self._setop("UNION", ["a", "b"]), "c"])},
        )
        # |[0,150) ∩ [75,300)| = 75
        assert row.e == 75.0

    def test_bad_func_rejected(self):
        with pytest.raises(ValueError, match="func"):
            post_agg_expr(self._setop("XOR", ["a", "b"]))
