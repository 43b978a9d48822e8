"""Plain-PySpark baseline for the bench headline (BASELINE.md gate).

Hand-written ``pyspark.sql`` equivalents of the engine-path headline
queries, with no engine layer (no LoadSpec/planner/agg-grammar). The gate:
engine sec/query <= 2x these numbers at the same scale factor. Extension
operators are already plain Spark, so the engine battery IS their baseline;
they are excluded here.

Usage: SPARK_GRAFT_SF_DIR=... python tools/baseline.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def build_baseline(spark, sf_dir: str = None) -> dict:
    """The plain-PySpark twin of each headline engine query, as a dict of
    name → thunk — importable so tools/pair_sweep.py can alternate
    engine/plain in ONE session. The data dir binds at BUILD time (a
    local captured by the closures), so two builds at different scale
    factors coexist without retargeting each other's thunks."""
    sfd = sf_dir if sf_dir is not None else SF_DIR

    def events():
        return spark.read.parquet(f"{sfd}/events.parquet")

    def t(name):
        return spark.read.parquet(f"{sfd}/{name}.parquet")

    # events.ts is parquet timestamp[us] → session-tz TimestampType
    ts = F.col("ts")

    BASELINE = {
        "q_scan_interval_project": lambda: events()
        .where(
            (F.col("ts") >= F.lit("2024-01-05 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-20 00:00:00").cast("timestamp"))
        )
        .select(ts.alias("__time"), "event_type", "value", "user_id"),
        "q_filter_and_or_not": lambda: events()
        .where(F.col("event_type").isin("click", "purchase") & ~(F.col("user_id") >= 100))
        .select(ts.alias("__time"), "event_type", "value", "user_id"),
        "q_granularity_hour_rollup": lambda: events()
        .groupBy(F.date_trunc("hour", ts).alias("__time"), "event_type")
        .agg(F.round(F.sum("value"), 2).alias("value")),
        "q_granularity_fifteen_minute": lambda: events()
        .groupBy(
            F.timestamp_seconds(
                F.floor(F.unix_timestamp(ts) / 900).cast("long") * 900
            ).alias("__time")
        )
        .agg(F.round(F.sum("value"), 2).alias("value"), F.count("*").alias("n")),
        "q_agg_hyperunique": lambda: events()
        .groupBy(F.date_trunc("day", ts).alias("__time"), "event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).cast("double").alias("users")),
        "q_two_phase_hll": lambda: events()
        .groupBy(F.date_trunc("day", ts).alias("__time"))
        .agg(F.hll_sketch_agg("user_id").alias("sketch"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sketch")).cast("double").alias("users")),
        "q_agg_filtered": lambda: events()
        .groupBy(F.date_trunc("day", ts).alias("__time"))
        .agg(
            F.round(F.sum(F.when(F.col("event_type") == "click", F.col("value"))), 2)
            .alias("click_value"),
            F.count("*").alias("n"),
        ),
        "q_tpch_q1_pricing_summary": lambda: t("lineitem")
        .where(F.col("l_shipdate") < F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        ),
        "q_join_broadcast_dim": lambda: t("orders")
        .join(F.broadcast(t("customer")), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"), F.count("*").alias("n")),
        "q_join_5way_star": lambda: t("lineitem")
        .join(t("orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t("customer")), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t("nation")), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t("region")), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue")),
        "q_window_topn_per_group": lambda: t("orders")
        .withColumn("rn", F.row_number().over(
            Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn"),
        "q_set_ops": lambda: (
            t("orders").where(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
            .intersect(t("orders").where(F.col("o_orderstatus") == "O")
                       .select("o_custkey").distinct())
            .exceptAll(t("orders").where(F.col("o_orderstatus") == "P")
                       .select("o_custkey").distinct()).distinct()
        ),
        "q_dedup_exact": lambda: t("documents")
        .groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash"))
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("dup_count")),
        "q_tpch_q3_shipping_priority": lambda: t("lineitem")
        .where(F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp"))
        .join(t("orders").where(
            F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")),
            F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t("customer").where(F.col("c_mktsegment") == "BUILDING")),
              F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10),
        # gaps-and-islands sessionization — what a plain-Spark user writes
        # in place of the engine's session_window operator
        "q_sessionize": lambda: events()
        .select("user_id", ts.alias("t"), "value")
        .withColumn("prev", F.lag("t").over(
            Window.partitionBy("user_id").orderBy("t")))
        .withColumn("new_s", F.when(
            F.col("prev").isNull()
            | (F.col("t").cast("long") - F.col("prev").cast("long") > 1800), 1
        ).otherwise(0))
        .withColumn("sid", F.sum("new_s").over(
            Window.partitionBy("user_id").orderBy("t")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sid")
        .agg(F.min("t").alias("session_start"),
             F.max("t").alias("session_end"),
             F.count("*").alias("n_events"),
             F.round(F.sum("value"), 2).alias("total")),
        # plain grouped median via percentile_approx (the builtin a plain
        # user reaches for instead of the mergeable histogram state)
        "q_quantile_sketch": lambda: events()
        .groupBy("event_type")
        .agg(F.percentile_approx("value", 0.5).alias("p50")),
        # naive as-of: equi join on the key with the time inequality, then
        # row_number to keep the latest matching right row per left row
        "q_asof_join": lambda: (lambda l, r: l
            .withColumn("__lid", F.monotonically_increasing_id())
            .join(r, (l["user_id"] == r["r_uid"]) & (F.col("r_ts") <= F.col("t")),
                  "left")
            .withColumn("rn", F.row_number().over(
                Window.partitionBy("__lid").orderBy(F.desc("r_ts"))))
            .where(F.col("rn") == 1)
            .select("t", "user_id", "event_type",
                    F.round("r_value", 2).alias("last_purchase_value")))(
            events().where(F.col("user_id") < 20)
            .select(ts.alias("t"), "user_id", "event_type"),
            events().where(F.col("event_type") == "purchase")
            .select(F.col("user_id").alias("r_uid"), ts.alias("r_ts"),
                    F.col("value").alias("r_value"))),
        # plain inequality range join: hash join on the key, range filter
        "q_range_join": lambda: (lambda l, r: l
            .join(r, (l["user_id"] == r["r_uid"]) & (F.col("t") >= F.col("r_ts"))
                  & (F.col("t") < F.col("r_ts") + F.expr("INTERVAL 2 HOUR")))
            .select("t", "user_id", "event_type",
                    F.col("r_ts").alias("window_start")))(
            events().where(F.col("user_id") < 20)
            .select(ts.alias("t"), "user_id", "event_type"),
            events().where(F.col("event_type") == "purchase")
            .select(F.col("user_id").alias("r_uid"), ts.alias("r_ts"))),
        # direct parquet read + filter + rollup — no manifest/overshadow
        "q_segment_table_load": lambda: events()
        .where((F.col("ts") >= F.lit("2024-01-03 00:00:00").cast("timestamp"))
               & (F.col("ts") < F.lit("2024-01-10 00:00:00").cast("timestamp"))
               & F.col("event_type").isin("click", "view"))
        .groupBy(F.date_trunc("day", ts).alias("__time"), "event_type")
        .agg(F.round(F.sum("value"), 2).alias("value"), F.count("*").alias("n")),
        # plain exact grouped quantiles: the builtin sort-based percentile
        "q_rank_quantiles": lambda: t("lineitem")
        .groupBy("l_returnflag")
        .agg(F.expr(
            "percentile(l_extendedprice, array(0.5, 0.9, 0.99))").alias("ps")),
        # naive overlap join: inequality condition the optimizer can only
        # plan as a broadcast-nested-loop join
        "q_interval_overlap_join": lambda: (lambda l, r: l
            .join(r, (l["user_id"] == r["r_uid"]) & (l["lo"] < r["rhi"])
                  & (r["rlo"] < l["hi"]))
            .select("user_id", "l_event", "r_event"))(
            events().where((F.col("user_id") < 50)
                           & (F.col("event_type") == "purchase"))
            .select("user_id", F.col("event_id").alias("l_event"),
                    ts.alias("lo"),
                    (ts + F.expr("INTERVAL 2 HOUR")).alias("hi")),
            events().where((F.col("user_id") < 50)
                           & (F.col("event_type") == "click"))
            .select(F.col("user_id").alias("r_uid"),
                    F.col("event_id").alias("r_event"),
                    ts.alias("rlo"),
                    (ts + F.expr("INTERVAL 1 HOUR")).alias("rhi")),
        ),
        # plain grouped quantiles via percentile_approx. Since r12 the
        # engine entry is quantile_query, which DISPATCHES stateless
        # one-shot quantile queries to the same JVM-native sketch (the
        # Spark-first rule: no Arrow crossing for an aggregate the JVM
        # expresses — functions/kll.py has the rationale), so this pair
        # pins that the dispatch adds no overhead. The KLL sketch path
        # itself is benched by q_kll_state_reagg (state-producing
        # workload, no plain equivalent: percentile_approx's summary is
        # not storable) and scale-certified at 10×/30× (BASELINE.md "KLL
        # scale pair (round 6)").
        "q_kll_quantiles_prod": lambda: events()
        .groupBy("event_type")
        .agg(F.percentile_approx("value", [0.25, 0.5, 0.95]).alias("ps")),
        # plain ANN: exact brute-force cosine top-k (the formulation a
        # plain user writes; no cell pruning, no compressed-domain pass)
        "q_similarity_pq_topk_prod": lambda: (lambda emb, qs: qs
            .join(emb.select(F.col("vec_id").alias("neighbor_id"),
                             F.col("embedding").alias("ce")),
                  F.col("vec_id") != F.col("neighbor_id"))
            .withColumn("cos_sim", F.aggregate(
                F.zip_with("embedding", "ce",
                           lambda a, b: a.cast("double") * b.cast("double")),
                F.lit(0.0), lambda acc, v: acc + v)
                / (F.sqrt(F.aggregate("embedding", F.lit(0.0),
                   lambda acc, v: acc + v.cast("double") * v.cast("double")))
                   * F.sqrt(F.aggregate("ce", F.lit(0.0),
                     lambda acc, v: acc + v.cast("double") * v.cast("double")))))
            .withColumn("rn", F.row_number().over(
                Window.partitionBy("vec_id")
                .orderBy(F.desc("cos_sim"), "neighbor_id")))
            .where(F.col("rn") <= 5).drop("rn", "ce", "embedding"))(
            t("embeddings"), t("embeddings").where(F.col("vec_id") < 5)),
        # plain weighted sampling: rand()-keyed E-S draw (not reproducible
        # across layouts — the thing the hash RNG fixes) with a window
        "q_weighted_sample": lambda: (lambda d: d
            .withColumn("esk", F.log(F.rand(42)) / F.col("n_chars"))
            .withColumn("rn", F.row_number().over(
                Window.partitionBy("lang").orderBy(F.desc("esk"))))
            .where(F.col("rn") <= 5).drop("esk", "rn"))(
            t("documents").where(F.col("n_chars") > 0)
            .select("doc_id", "lang", "n_chars")),
    }

    # the plain twin of ANY production ANN entry is the same exact
    # brute-force cosine top-k (a plain user has no index to probe), so
    # the benched IVF prod config shares the PQ prod twin
    BASELINE["q_similarity_ivf_topk_prod"] = BASELINE["q_similarity_pq_topk_prod"]
    return BASELINE


def main() -> None:
    from druid_hadoop_utils_spark.session import get_spark

    spark = get_spark("plain-pyspark-baseline")
    spark.sparkContext.setLogLevel("ERROR")
    BASELINE = build_baseline(spark)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))  # matches bench.py
    timings = {}
    for name, fn in BASELINE.items():
        best = None
        for _ in range(max(repeats, 1)):
            t0 = time.time()
            fn().write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        print(f"# {name}: {timings[name]}s", file=sys.stderr)
    print(json.dumps({
        "metric": "plain_pyspark_baseline_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
