"""Compiling a Druid query is cheap: a bounded number of py4j round trips
and no Spark job.

The compilers emit SQL text that Spark parses once per expression, and a
managed-table load merges the segments' schemas from their manifests
instead of reading parquet footers in a Spark job. These tests pin both
for the query shapes of an interactive session: a zero-filled
timeseries, a topN, a two-dimension groupBy and a 128-bucket
approximate-histogram query.
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


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("compile_cost") / "tbl")
    start = datetime(2023, 1, 1)
    rows = [Row(__time=start + timedelta(minutes=37 * i),
                country=f"C{i % 5}",
                event_type=("view", "click", "buy")[i % 3],
                value=float(i % 400), bytes=i * 7)
            for i in range(400)]
    publish_segments(spark.createDataFrame(rows), root, DS, version="v1")
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
