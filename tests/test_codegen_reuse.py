"""A session compiles each plan shape once.

Spark caches the whole-stage-codegen classes it compiles, keyed by their
source text. The session sizes that cache above the engine's working set
(session.py), and ``load`` keeps per-query interval literals out of the
plan when the timeline proves the interval predicate redundant, so a
one-day query on a new day reuses the classes of the day before. The
predicate-omission rule is checked against the predicate-applied result
for every shape that must keep it.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import Row

from druid_hadoop_utils_spark import load, write_segment
from druid_hadoop_utils_spark.api import druid_query
from druid_hadoop_utils_spark.intervals import Interval, parse_intervals
from druid_hadoop_utils_spark.plans.planner import _scan_segments, interval_sql
from druid_hadoop_utils_spark.sources.ingest import publish_segments

DS = "events"
START = datetime(2023, 1, 1)
SPEC = {"granularity": "NONE", "dimensions": ["country"],
        "metrics": [{"name": "value", "type": "double"}]}


def compiles(spark) -> int:
    """Janino compiles in this JVM so far (a cache hit compiles none)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _rows(n: int, step_minutes: int = 37) -> list[Row]:
    return [Row(__time=START + timedelta(minutes=step_minutes * i),
                country=f"C{i % 5}", event_type=("view", "click", "buy")[i % 3],
                value=float(i), bytes=i * 7)
            for i in range(n)]


def _time_filtered(df) -> bool:
    """True when the optimized plan filters on ``__time``."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return any(line.lstrip(" :+-").startswith("Filter") and "__time" in line
               for line in plan.splitlines())


def _reference(spark, root, interval):
    """The scan with the interval predicate always applied."""
    ivs = parse_intervals(interval)
    span = Interval(ivs[0].start, ivs[-1].end)
    return (_scan_segments(spark, root, DS, span)
            .where(interval_sql(ivs)).selectExpr("__time", "country", "value"))


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_codegen_cache_outlives_a_hundred_plans(spark):
    """More than Spark's default 100 distinct classes, then the first
    plan again: its class is still cached, so nothing compiles."""
    first = spark.range(10).where("id != 0")
    first.collect()
    for i in range(1, 121):
        spark.range(10).where(f"id != {i}").collect()
    before = compiles(spark)
    assert spark.range(10).where("id != 0").collect() == first.collect()
    assert compiles(spark) == before


@pytest.fixture(scope="module")
def day_table(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("codegen_reuse") / "tbl")
    publish_segments(spark.createDataFrame(_rows(400)), root, DS, version="v1")
    return root


def _topn(day: datetime) -> dict:
    return {"queryType": "topN", "dataSource": DS,
            "intervals": [f"{day:%Y-%m-%d}/{day + timedelta(days=1):%Y-%m-%d}"],
            "granularity": "all", "dimension": "country",
            "metric": "bytes_sum", "threshold": 10,
            "filter": {"type": "not", "field": {"type": "selector",
                                                "dimension": "event_type",
                                                "value": "view"}},
            "aggregations": [
                {"type": "longSum", "name": "bytes_sum", "fieldName": "bytes"},
                {"type": "doubleSum", "name": "value_sum", "fieldName": "value"}]}


def test_one_day_query_on_a_new_day_compiles_nothing(spark, day_table):
    druid_query(spark, day_table, _topn(START + timedelta(days=1))).collect()
    before = compiles(spark)
    out = druid_query(spark, day_table, _topn(START + timedelta(days=2))).collect()
    assert out, "the second day holds rows"
    assert compiles(spark) == before


def test_fully_covered_read_drops_the_predicate(spark, day_table):
    interval = "2023-01-02/2023-01-04"
    df = load(spark, day_table, SPEC, interval=interval, data_source=DS)
    assert not _time_filtered(df)
    assert _sorted(df) == _sorted(_reference(spark, day_table, interval))


@pytest.mark.parametrize("interval", [
    # a multi-interval query whose gap holds whole segments
    ["2023-01-02/2023-01-03", "2023-01-05/2023-01-06"],
    # a gap inside one day
    ["2023-01-02T00:00:00/2023-01-02T12:00:00", "2023-01-03/2023-01-04"],
    # a sub-day interval
    "2023-01-03T06:00:00/2023-01-03T18:00:00",
])
def test_partly_covered_reads_keep_the_predicate(spark, day_table, interval):
    df = load(spark, day_table, SPEC, interval=interval, data_source=DS)
    assert _time_filtered(df)
    want = _sorted(_reference(spark, day_table, interval))
    assert want and _sorted(df) == want


def test_partly_overshadowed_segment_keeps_the_predicate(spark, tmp_path):
    root = str(tmp_path)
    publish_segments(spark.createDataFrame(_rows(200)), root, DS, version="v1")
    # v2 hides the first six hours of the v1 day 2023-01-02
    early = [Row(__time=datetime(2023, 1, 2, h), country="X", event_type="buy",
                 value=-1.0, bytes=0) for h in range(6)]
    write_segment(spark.createDataFrame(early), root, DS,
                  "2023-01-02T00:00:00/2023-01-02T06:00:00", "v2")
    interval = "2023-01-02/2023-01-03"
    df = load(spark, root, SPEC, interval=interval, data_source=DS)
    assert _time_filtered(df)
    got = _sorted(df)
    assert got == _sorted(_reference(spark, root, interval))
    assert sum(r[1] == "X" for r in got) == 6
    assert all(r[0] >= datetime(2023, 1, 2, 6) for r in got if r[1] != "X")


def test_month_segment_under_a_one_day_query(spark, tmp_path):
    root = str(tmp_path)
    publish_segments(spark.createDataFrame(_rows(400)), root, DS,
                     version="v1", bucket="MONTH")
    interval = "2023-01-03/2023-01-04"
    df = load(spark, root, SPEC, interval=interval, data_source=DS)
    assert _time_filtered(df)
    got = _sorted(df)
    assert got and got == _sorted(_reference(spark, root, interval))
    assert all(r[0].day == 3 for r in got)


@pytest.mark.parametrize("time_type", ["nanos", "ntz"])
def test_stored_time_types(spark, tmp_path, time_type):
    """Epoch-nanos and TIMESTAMP_NTZ ``__time`` segments read the right
    rows over one day and over part of a day. TIMESTAMP_NTZ omits the
    predicate on the whole day; epoch nanos always keep it."""
    root = str(tmp_path)
    epoch = datetime(1970, 1, 1)
    for d in range(3):
        day = START + timedelta(days=d)
        rows = [(day + timedelta(hours=h), f"C{h % 4}", float(d * 100 + h))
                for h in range(24)]
        if time_type == "nanos":
            data = [((t - epoch) // timedelta(microseconds=1) * 1000, c, v)
                    for t, c, v in rows]
            df = spark.createDataFrame(data, "__time long, country string, value double")
        else:
            df = spark.createDataFrame(
                rows, "__time timestamp_ntz, country string, value double")
        write_segment(df, root, DS, f"{day:%Y-%m-%d}/{day + timedelta(days=1):%Y-%m-%d}",
                      "v1", enforce_interval=time_type == "ntz")
    for interval, hours in (("2023-01-02/2023-01-03", range(24)),
                            ("2023-01-02T06:00:00/2023-01-02T18:00:00",
                             range(6, 18))):
        df = load(spark, root, SPEC, interval=interval, data_source=DS)
        assert _time_filtered(df) == (len(hours) < 24 or time_type == "nanos")
        got = _sorted(df)
        assert got == [(START + timedelta(days=1, hours=h), f"C{h % 4}", 100.0 + h)
                       for h in hours]


def test_nanos_row_outside_its_segment_is_not_returned(spark, tmp_path):
    """Epoch-nanos segments are written with ``enforce_interval=False``,
    so a row may lie outside its segment's interval; a query over the
    whole segment must still filter it out."""
    root = str(tmp_path)
    day = START + timedelta(days=1)
    times = [day + timedelta(hours=h) for h in range(24)]
    times.append(day + timedelta(days=1, hours=1))   # the stray row
    epoch = datetime(1970, 1, 1)
    data = [((t - epoch) // timedelta(microseconds=1) * 1000, "C", float(i))
            for i, t in enumerate(times)]
    write_segment(
        spark.createDataFrame(data, "__time long, country string, value double"),
        root, DS, "2023-01-02/2023-01-03", "v1", enforce_interval=False)
    df = load(spark, root, SPEC, interval="2023-01-02/2023-01-03",
              data_source=DS)
    assert _time_filtered(df)
    got = _sorted(df)
    assert [r[0] for r in got] == times[:24]


def test_enforced_nanos_write_drops_the_stray_row(spark, tmp_path):
    """A default (``enforce_interval=True``) write of an epoch-nanos
    ``__time`` filters with the same long-typed predicate ``load`` uses:
    it does not raise, and the row past the interval is not stored."""
    root = str(tmp_path)
    day = START + timedelta(days=1)
    epoch = datetime(1970, 1, 1)
    times = [day + timedelta(hours=3), day + timedelta(days=1, hours=1)]
    data = [((t - epoch) // timedelta(microseconds=1) * 1000, "C", float(i))
            for i, t in enumerate(times)]
    manifest = write_segment(
        spark.createDataFrame(data, "__time long, country string, value double"),
        root, DS, "2023-01-02/2023-01-03", "v1")
    stored = spark.read.parquet(manifest.path).collect()
    assert [r["__time"] for r in stored] == [data[0][0]]


@pytest.mark.parametrize("files", [1, 3])
def test_publish_file_count_ignores_shuffle_partitions(spark, tmp_path, files):
    """A day holds ``files_per_bucket`` files even when the session has
    fewer shuffle partitions than that."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        publish_segments(spark.createDataFrame(_rows(30)), str(tmp_path), DS,
                         version="v1", files_per_bucket=files)
    finally:
        spark.conf.set(key, old)
    assert len(list(tmp_path.glob(f"{DS}/*/v=v1/shard=0/*.parquet"))) == files
