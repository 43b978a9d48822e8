"""Compiling a Druid query is cheap: a bounded number of py4j round trips
and no Spark job.

The compilers emit SQL text that Spark parses once per expression, and a
managed-table load merges the segments' schemas from their manifests
instead of reading parquet footers in a Spark job. These tests pin both
for the query shapes of an interactive session: a zero-filled
timeseries, a topN, a two-dimension groupBy and a 128-bucket
approximate-histogram query. A groupBy answered from materialized
rollup states is held to the same round-trip bound, and its metadata
cost to one timeline listing.
"""

from __future__ import annotations

import contextlib
import sys
import threading
import uuid
from datetime import datetime, timedelta

import pytest
from py4j.clientserver import ClientServerConnection
from py4j.java_gateway import GatewayConnection
from pyspark.sql import Row

from druid_hadoop_utils_spark.api import druid_query
from druid_hadoop_utils_spark.sources.ingest import publish_segments
from druid_hadoop_utils_spark.sources.materialize import (
    catch_up_materialized,
    materialize_aggs,
)

DS = "events"
MAX_ROUND_TRIPS = 100


@contextlib.contextmanager
def count_round_trips():
    """Count py4j commands the calling thread sends to the JVM, whichever
    connection class the gateway uses. py4j's finalizer thread, which
    releases JVM references of objects Python freed earlier, sends on its
    own; those are not the compile's round trips."""
    caller = threading.get_ident()
    count = [0]
    originals = []
    for cls in (ClientServerConnection, GatewayConnection):
        original = cls.send_command

        def send_command(self, command, *args, _original=original, **kwargs):
            if threading.get_ident() == caller:
                count[0] += 1
            return _original(self, command, *args, **kwargs)

        originals.append((cls, original))
        cls.send_command = send_command
    try:
        yield count
    finally:
        for cls, original in originals:
            cls.send_command = original


def _jobs_of(spark, group: str) -> list[int]:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _ratio(name, num, den):
    return {"type": "arithmetic", "name": name, "fn": "/", "fields": [
        {"type": "fieldAccess", "fieldName": num},
        {"type": "fieldAccess", "fieldName": den}]}


def _queries(day: str) -> dict[str, dict]:
    iv = [f"{day}T00:00:00/{day}T23:59:59"]
    return {
        "T1": {"queryType": "timeseries", "dataSource": DS, "intervals": iv,
               "granularity": "HOUR",
               "filter": {"type": "and", "fields": [
                   {"type": "not", "field": {"type": "selector",
                                             "dimension": "event_type",
                                             "value": "view"}},
                   {"type": "in", "dimension": "country",
                    "values": ["C1", "C2", "C3"]}]},
               "aggregations": [
                   {"type": "count", "name": "n"},
                   {"type": "doubleSum", "name": "value_sum", "fieldName": "value"},
                   {"type": "longSum", "name": "bytes_sum", "fieldName": "bytes"}],
               "postAggregations": [_ratio("value_avg", "value_sum", "n")]},
        "T2": {"queryType": "topN", "dataSource": DS, "intervals": iv,
               "granularity": "all", "dimension": "country",
               "metric": "bytes_sum", "threshold": 10,
               "filter": {"type": "not", "field": {"type": "selector",
                                                   "dimension": "event_type",
                                                   "value": "view"}},
               "aggregations": [
                   {"type": "longSum", "name": "bytes_sum", "fieldName": "bytes"},
                   {"type": "doubleSum", "name": "value_sum", "fieldName": "value"}]},
        "T3": {"queryType": "groupBy", "dataSource": DS, "intervals": iv,
               "granularity": "all", "dimensions": ["event_type", "country"],
               "filter": {"type": "in", "dimension": "country",
                          "values": ["C1", "C2", "C3"]},
               "aggregations": [
                   {"type": "count", "name": "n"},
                   {"type": "doubleSum", "name": "value_sum", "fieldName": "value"},
                   {"type": "doubleMax", "name": "value_max", "fieldName": "value"}],
               "postAggregations": [_ratio("value_per_n", "value_sum", "n")]},
        "K3": {"queryType": "timeseries", "dataSource": DS, "intervals": iv,
               "granularity": "all",
               "aggregations": [{"type": "approxHistogramFold",
                                 "name": "value_hist", "fieldName": "value",
                                 "lowerLimit": 0.0, "upperLimit": 1000.0,
                                 "numBuckets": 128}],
               "postAggregations": [
                   {"type": "quantile", "name": "p50", "fieldName": "value_hist",
                    "probability": 0.5},
                   {"type": "quantile", "name": "p90", "fieldName": "value_hist",
                    "probability": 0.9}]},
    }


def _rows(n: int = 400) -> list[Row]:
    start = datetime(2023, 1, 1)
    return [Row(__time=start + timedelta(minutes=37 * i),
                country=f"C{i % 5}",
                event_type=("view", "click", "buy")[i % 3],
                value=float(i % 400), bytes=i * 7)
            for i in range(n)]


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("compile_cost") / "tbl")
    publish_segments(spark.createDataFrame(_rows()), root, DS, version="v1")
    return root


#: the materialized rollup the rewrite-hit shape is answered from
ROLLUP_AGGS = [
    {"type": "count", "name": "n"},
    {"type": "doubleSum", "name": "value_sum", "fieldName": "value"},
    {"type": "hyperUnique", "name": "uniq_bytes", "fieldName": "bytes"},
]

#: a filtered groupBy with an arithmetic and a sketch post-aggregator,
#: which must be answered from the rollup's states
REWRITE_HIT = {
    "queryType": "groupBy", "dataSource": DS,
    "intervals": ["2023-01-02T00:00:00/2023-01-04T00:00:00"],
    "granularity": "DAY", "dimensions": ["country"],
    "filter": {"type": "in", "dimension": "event_type",
               "values": ["click", "buy"]},
    "aggregations": ROLLUP_AGGS,
    "postAggregations": [
        _ratio("value_per_n", "value_sum", "n"),
        {"type": "hyperUniqueCardinality", "name": "uniq",
         "fieldName": "uniq_bytes"}],
    "context": {"useMaterialized": "require"},
}


@pytest.fixture(scope="module")
def rollup_table(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("compile_cost") / "rollup")
    publish_segments(spark.createDataFrame(_rows()), root, DS, version="v1")
    materialize_aggs(spark, root, DS, "hourly", ["country", "event_type"],
                     ROLLUP_AGGS, granularity="HOUR")
    return root


@pytest.mark.parametrize("shape", ["T1", "T2", "T3", "K3"])
def test_compile_makes_few_round_trips_and_no_spark_job(spark, table, shape):
    query = _queries("2023-01-02")[shape]
    druid_query(spark, table, query)  # first call: imports, lazy JVM classes
    group = f"compile-{uuid.uuid4().hex}"
    sc = spark.sparkContext
    sc.setJobGroup(group, "compile")
    try:
        with count_round_trips() as trips:
            df = druid_query(spark, table, query)
        compile_jobs = _jobs_of(spark, group)
        assert df.count() > 0  # positive control: executing does run jobs
        assert _jobs_of(spark, group), "job-group tagging saw no job"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert compile_jobs == [], f"{shape} compile launched Spark jobs {compile_jobs}"
    assert trips[0] < MAX_ROUND_TRIPS, f"{shape} compile made {trips[0]} round trips"


def test_rewrite_hit_makes_few_round_trips(spark, rollup_table):
    """A groupBy answered from materialized states compiles as one SQL
    statement over the state files. (Reading the state files infers
    their schema in one Spark job, so only round trips are bounded.)"""
    druid_query(spark, rollup_table, REWRITE_HIT)  # warm imports
    with count_round_trips() as trips:
        df = druid_query(spark, rollup_table, REWRITE_HIT)
    assert all("_materialized" in f for f in df.inputFiles())
    raw = druid_query(spark, rollup_table,
                      dict(REWRITE_HIT, context={"useMaterialized": False}))
    assert sorted(df.collect()) == sorted(raw.collect())
    assert df.schema == raw.schema
    assert trips[0] < MAX_ROUND_TRIPS, \
        f"rewrite-hit compile made {trips[0]} round trips"


def test_rewrite_lists_the_timeline_once(spark, tmp_path, monkeypatch):
    """Two rollups cover the query; the first (by name) lacks a state for
    a newly published day, so the rewrite falls through to the second —
    listing the segment manifests once, not once per candidate."""
    from druid_hadoop_utils_spark.sources import segments

    root = str(tmp_path / "two_rollups")
    publish_segments(spark.createDataFrame(_rows(200)), root, DS,
                     version="v1")
    for name in ("a_daily", "b_daily"):
        materialize_aggs(spark, root, DS, name, ["country"], ROLLUP_AGGS[:2],
                         granularity="DAY")
    day = [Row(__time=datetime(2023, 1, 9, h), country="C9",
               event_type="buy", value=1.0, bytes=h) for h in range(3)]
    publish_segments(spark.createDataFrame(day), root, DS, version="v1")
    assert catch_up_materialized(spark, root, DS, name="b_daily")["b_daily"]

    calls = []
    listing = segments.list_manifests

    def counting(*args, **kwargs):
        calls.append(args)
        return listing(*args, **kwargs)

    monkeypatch.setattr(segments, "list_manifests", counting)
    q = {"queryType": "groupBy", "dataSource": DS,
         "intervals": ["2023-01-01/2023-01-10"], "granularity": "DAY",
         "dimensions": ["country"], "aggregations": ROLLUP_AGGS[:2],
         "context": {"useMaterialized": "require"}}
    out = druid_query(spark, root, q)
    assert len(calls) == 1, calls
    assert ("C9", 3) in {(r["country"], r["n"]) for r in out.collect()}


def test_concurrent_queries_keep_their_own_views(spark, table):
    """Each compile registers the scan under a temporary view name of its
    own and drops it: concurrent callers get their own results, and no
    view outlives its query."""
    from concurrent.futures import ThreadPoolExecutor

    queries = [_queries(f"2023-01-0{d}")["T3"] for d in (2, 3, 4, 5)]

    def run(i: int) -> list:
        return sorted(tuple(r) for r in
                      druid_query(spark, table, queries[i % 4]).collect())

    expected = [run(i) for i in range(4)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            futures = [pool.submit(run, i) for i in range(16)]
            results = [f.result(timeout=300) for f in futures]
    finally:
        sys.setswitchinterval(switch)
    assert results == [expected[i % 4] for i in range(16)]
    assert not [t.name for t in spark.catalog.listTables()
                if t.name.startswith("__q_")]
