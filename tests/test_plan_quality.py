"""Physical-plan quality gates — the 100 TB concerns, asserted on explain
output: filters reach the parquet scan (PushedFilters), projection prunes
the read schema (ReadSchema), small dims broadcast, aggregation is
two-phase with exactly one shuffle. A plan that silently regresses any of
these would still pass value checks; these tests pin the plan shape."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from druid_hadoop_utils_spark import load
from druid_hadoop_utils_spark.battery import QUERIES
from druid_hadoop_utils_spark.sources.tables import load_table


def plan_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def nodes(plan: str) -> list[str]:
    """Physical-plan node names from the formatted detail sections."""
    import re

    return re.findall(r"^\(\d+\) (\w+)", plan, re.M)


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


def test_filter_pushdown_reaches_scan(spark, events):
    spec = {
        "granularity": "NONE",
        "dimensions": ["event_type"],
        "metrics": [{"name": "value", "type": "double"}],
        "filter": {"type": "selector", "dimension": "event_type", "value": "click"},
    }
    df = load(spark, events, spec, interval="2024-01-01/2025-01-01", time_column="ts")
    plan = plan_str(df)
    assert "PushedFilters" in plan
    assert "EqualTo(event_type,click)" in plan


def test_interval_filter_pushdown_on_time_column(spark, sf_dir):
    # the raw-nanos path must push the interval to the scan as long-range
    # bounds (an expression over the converted timestamp would not push)
    raw = load_table(spark, sf_dir, "events", convert_nanos=False)
    spec = {"granularity": "NONE", "dimensions": ["event_type"],
            "metrics": [{"name": "value", "type": "double"}]}
    df = load(spark, raw, spec, interval="2024-01-05/2024-01-06", time_column="ts")
    plan = plan_str(df)
    assert "GreaterThanOrEqual(ts," in plan and "LessThan(ts," in plan
    # and the converted output is still a proper timestamp
    assert dict(df.dtypes)["__time"] == "timestamp"


def test_projection_prunes_read_schema(spark, events):
    spec = {"granularity": "NONE", "dimensions": ["event_type"],
            "metrics": [{"name": "value", "type": "double"}]}
    df = load(spark, events, spec, interval="2024-01-01/2025-01-01", time_column="ts")
    plan = plan_str(df)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    # props / event_id / user_id must not be read for this spec
    assert "props" not in read_schema
    assert "event_id" not in read_schema
    assert "user_id" not in read_schema
    assert "event_type" in read_schema and "value" in read_schema and "ts" in read_schema


def test_broadcast_join_is_broadcast(spark, sf_dir):
    df = QUERIES["q_join_broadcast_dim"][0](spark, sf_dir)
    assert "BroadcastHashJoin" in plan_str(df)


def test_star_join_broadcasts_all_dims(spark, sf_dir):
    plan = plan_str(QUERIES["q_join_5way_star"][0](spark, sf_dir))
    # customer/nation/region must all broadcast: 3+ broadcast joins
    assert plan.count("BroadcastHashJoin") >= 3


def test_rollup_is_two_phase_single_shuffle(spark, events):
    spec = {"granularity": "HOUR", "dimensions": ["event_type"],
            "metrics": [{"name": "value", "type": "double"}]}
    df = load(spark, events, spec, interval="2024-01-01/2025-01-01",
              time_column="ts", rollup=True)
    ns = nodes(plan_str(df))
    assert ns.count("HashAggregate") == 2  # partial + final
    assert ns.count("Exchange") == 1  # exactly one shuffle, on the keys


def test_hll_agg_is_two_phase_jvm_side(spark, events):
    from druid_hadoop_utils_spark.functions.aggregators import agg_expr

    df = events.groupBy("event_type").agg(
        agg_expr({"type": "hyperUnique", "name": "u", "fieldName": "user_id"}, events.schema)
    )
    plan = plan_str(df)
    assert nodes(plan).count("Exchange") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_engine_scan_stays_whole_stage_codegen(spark, events):
    spec = {"granularity": "DAY", "dimensions": ["event_type"],
            "metrics": [{"name": "value", "type": "double"}],
            "filter": {"type": "in", "dimension": "event_type", "values": ["click", "view"]}}
    df = load(spark, events, spec, interval="2024-01-01/2025-01-01", time_column="ts")
    plan = plan_str(df)
    # no Python evaluation anywhere in the engine read path
    assert "EvalPython" not in plan
    # '*' prefixes mark whole-stage-codegen nodes in formatted explain
    assert "* Filter" in plan and "* Project" in plan


def test_segment_load_plans_one_scan(spark, tmp_path, golden_events):
    """The managed-table fast path must produce ONE parquet scan (no unions)
    when no partial overshadow exists."""
    from druid_hadoop_utils_spark import write_segment

    root = str(tmp_path)
    base = golden_events.drop("user_host")
    write_segment(base, root, "ds", "2014-10-22/2014-10-23", "v1")
    write_segment(
        base.withColumn("__time", F.col("__time") + F.expr("INTERVAL 1 DAY")),
        root, "ds", "2014-10-23/2014-10-24", "v1",
    )
    spec = {"granularity": "NONE", "dimensions": ["host"],
            "metrics": [{"name": "visited_sum", "type": "long"}]}
    df = load(spark, root, spec, interval="2014-10-22/2014-10-24", data_source="ds")
    plan = plan_str(df)
    assert nodes(plan).count("Scan") == 1
    assert "Union" not in plan


def test_multi_interval_pushes_or_predicate(spark, sf_dir):
    """Two disjoint intervals must land as ONE scan with an Or() range in
    PushedFilters — not two scan branches or a post-scan-only filter."""
    fn, _ = QUERIES["q_multi_interval"]
    plan = plan_str(fn(spark, sf_dir))
    assert nodes(plan).count("Scan") == 1
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "Or(And(GreaterThanOrEqual" in pushed[0]


def test_registered_lookup_filter_has_no_join(spark, sf_dir):
    """The registeredLookup extraction filter compiles to a literal map
    expression — no join, no Python in the plan."""
    fn, _ = QUERIES["q_filter_registered_lookup"]
    plan = plan_str(fn(spark, sf_dir))
    ns = nodes(plan)
    assert not any("Join" in n for n in ns)
    assert "EvalPython" not in plan


def test_theta_sketch_is_bounded_jvm_side(spark, sf_dir):
    """Finalizing thetaSketch is one theta_sketch_agg in the ordinary
    two-phase HashAggregate: bounded JVM-side state, no per-group
    collect_set, no top-k window, no join back, no Python."""
    fn, _ = QUERIES["q_theta_distinct"]
    plan = plan_str(fn(spark, sf_dir))
    ns = nodes(plan)
    assert "collect_set" not in plan
    assert not any("Window" in n or "Join" in n for n in ns)
    assert "EvalPython" not in plan
    assert ns.count("Exchange") <= 1


def test_natural_bound_filter_stays_codegen(spark, sf_dir):
    """The alphanumeric natural-sort bound on a string column is a pure
    expression — no Python, still a whole-stage-codegen filter."""
    from druid_hadoop_utils_spark.functions.filters import filter_to_column

    ev = load_table(spark, sf_dir, "events")
    df = ev.where(filter_to_column(
        {"type": "bound", "dimension": "event_type", "lower": "a9",
         "upper": "z2", "alphaNumeric": True}, ev.schema))
    plan = plan_str(df)
    assert "EvalPython" not in plan
    assert "* Filter" in plan


# the ONLY queries whose plans legitimately carry a CartesianProduct /
# BroadcastNestedLoopJoin (verified by sweeping the full battery):
_CARTESIAN_ALLOWED = {
    # exact all-pairs comparisons, documented as oracle-only configs —
    # the scale paths are the LSH/IVF variants
    "q_similarity_topk", "q_embedding_neardup", "q_dedup_ngram_jaccard",
    # a 1-row scalar broadcast (corpus doc count / total row count /
    # mean acctbal / vocabulary size) cross-joined onto the stream
    "q_text_tfidf_topk", "q_heavy_hitters",
    "q_tpch_q22_sales_opportunity", "q_text_lm_score",
    # 1-row broadcasts again: corpus N/avgdl stats (bm25) and the
    # step-1 funnel count for conversion rates; hybrid search composes
    # the bm25 retriever and inherits its stats broadcast
    "q_bm25_search", "q_funnel", "q_hybrid_search",
    # the derived-partsupp TPC-H five: _partsupp cross-joins the 1-row
    # supplier COUNT onto the part scan (exactly the scalar-broadcast
    # shape above), and q11 additionally broadcasts its 1-row threshold
    "q_tpch_q2_min_cost_supplier", "q_tpch_q9_product_type_profit",
    "q_tpch_q11_important_stock", "q_tpch_q16_parts_supplier",
    "q_tpch_q20_potential_promotion",
}


@pytest.mark.slow
def test_battery_has_no_unexpected_cartesian_products(spark, sf_dir):
    """Sweep EVERY battery query's physical plan: a CartesianProduct or
    BroadcastNestedLoopJoin outside the documented allowlist means an
    equi-join degraded silently — the classic 100 TB query killer."""
    from druid_hadoop_utils_spark.battery import QUERIES

    offenders = {}
    for name, (fn, _) in QUERIES.items():
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution() \
                .executedPlan().toString()
        except Exception as e:  # pragma: no cover - surface as failure
            offenders[name] = f"plan build failed: {e}"
            continue
        if ("CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan) \
                and name not in _CARTESIAN_ALLOWED:
            offenders[name] = "cartesian/nested-loop join in plan"
    assert not offenders, offenders


def test_tpch_partsupp_broadcast_is_size_guarded(spark, sf_dir):
    """VERDICT r5 item 4: the derived-partsupp TPC-H queries hint the
    broadcast only under a row-count cap. At testdata scale the hint
    fires (Q9's plan broadcasts ps); above the cap _bcast returns the
    unhinted side so AQE picks the strategy from real sizes."""
    from druid_hadoop_utils_spark.battery import QUERIES, _bcast, _partsupp

    q9 = QUERIES["q_tpch_q9_product_type_profit"][0]
    plan = plan_str(q9(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3  # p, ps, sn all broadcast
    ps = _partsupp(spark, sf_dir)
    hinted = _bcast(ps, 1_000)
    unhinted = _bcast(ps, 5_000_000)
    assert "ResolvedHint" in hinted._jdf.queryExecution().analyzed().toString()
    assert unhinted is ps  # no hint object wrapped at all
