"""Results do not depend on the driver's operating-system time zone.

The session pins ``spark.sql.session.timeZone=UTC``, but Python-side
conversions do not follow it: PySpark turns a naive ``datetime`` into an
instant with ``time.mktime`` (the process's local zone), and a collected
timestamp comes back as local wall-clock time. Every path that moves an
instant between Python and Spark must therefore pass it as SQL text,
epoch numbers or a tz-aware ``datetime``. Each test here runs with the
process zone set to America/New_York (UTC-5 in January) and restores it
afterwards; test data is built from tz-aware UTC datetimes, so the
expected instants are the same in any zone.
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import Row

from druid_hadoop_utils_spark.api import druid_query
from druid_hadoop_utils_spark.sources.segments import (
    list_manifests,
    write_segment,
)

JAN1 = datetime(2024, 1, 1, tzinfo=timezone.utc)
AGGS = [{"type": "count", "name": "n"},
        {"type": "longSum", "name": "v_sum", "fieldName": "v"}]


@pytest.fixture()
def new_york():
    saved = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        yield
    finally:
        if saved is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = saved
        time.tzset()


def _hourly(spark, hours: int = 48):
    """``hours`` hourly rows from 2024-01-01T00:00Z."""
    return spark.createDataFrame([
        Row(__time=JAN1 + timedelta(hours=h), k=("x", "y")[h % 2], v=h)
        for h in range(hours)])


def _epoch_seconds(df) -> list[int]:
    return sorted(r[0] for r in df.selectExpr("unix_seconds(`__time`)").collect())


def _day_seconds(day: int) -> list[int]:
    start = int((JAN1 + timedelta(days=day - 1)).timestamp())
    return [start + 3600 * h for h in range(24)]


def test_write_segment_keeps_every_row_of_its_interval(spark, tmp_path, new_york):
    root = str(tmp_path / "tbl")
    m = write_segment(_hourly(spark), root, "ev", "2024-01-02/2024-01-03", "v1")
    assert _epoch_seconds(spark.read.parquet(m.path)) == _day_seconds(2)


def test_rewrite_equals_raw_scan(spark, tmp_path, new_york):
    from druid_hadoop_utils_spark.sources.materialize import materialize_aggs

    root = str(tmp_path / "tbl")
    for day in ("2024-01-01/2024-01-02", "2024-01-02/2024-01-03"):
        write_segment(_hourly(spark), root, "ev", day, "v1")
    materialize_aggs(spark, root, "ev", "daily", ["k"], AGGS, granularity="DAY")
    q = {"queryType": "groupBy", "dataSource": "ev",
         "intervals": ["2024-01-01/2024-01-03"], "granularity": "DAY",
         "dimensions": ["k"], "aggregations": AGGS}
    raw = druid_query(spark, root, dict(q, context={"useMaterialized": False}))
    hit = druid_query(spark, root, dict(q, context={"useMaterialized": "require"}))
    raw_rows = sorted(raw.selectExpr("unix_seconds(`__time`)", "k", "n", "v_sum")
                      .collect())
    assert [r[3] for r in raw_rows] == [
        sum(range(0, 24, 2)), sum(range(1, 24, 2)),
        sum(range(24, 48, 2)), sum(range(25, 48, 2))]
    assert [r[2] for r in raw_rows] == [12] * 4
    assert sorted(hit.selectExpr("unix_seconds(`__time`)", "k", "n", "v_sum")
                  .collect()) == raw_rows


def test_export_import_round_trip_keeps_time(spark, tmp_path, new_york):
    from druid_hadoop_utils_spark.sources.druid_segment import (
        import_druid_segment,
        read_segment,
    )
    from druid_hadoop_utils_spark.sources.druid_segment_export import (
        export_druid_segments,
    )

    root = str(tmp_path / "tbl")
    write_segment(_hourly(spark), root, "ev", "2024-01-02/2024-01-03", "v1")
    (out,) = export_druid_segments(spark, root, "ev", str(tmp_path / "v9"))
    millis = [s * 1000 for s in _day_seconds(2)]
    assert list(read_segment(out)["__time"].values) == millis
    m = import_druid_segment(spark, out, str(tmp_path / "imported"))
    assert _epoch_seconds(spark.read.parquet(m.path)) == _day_seconds(2)


def test_streamed_hour_buckets_are_utc_hours(spark, tmp_path, new_york):
    from pyspark.sql import functions as F

    from druid_hadoop_utils_spark.streaming.ingest import (
        segment_publishing_writer,
        streaming_rollup,
    )

    src = str(tmp_path / "stream_in")
    events = spark.createDataFrame([
        Row(ts=JAN1 + timedelta(minutes=m), event_type=t, value=1.0)
        for m, t in [(5, "a"), (25, "a"), (90, "b"), (330, "sentinel")]])
    events.coalesce(1).write.parquet(src)
    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    rolled = streaming_rollup(stream, dims=["event_type"],
                              aggs=[F.count("*").alias("n")])
    root = str(tmp_path / "tables")
    q = segment_publishing_writer(
        rolled, root, "sev", checkpoint_dir=str(tmp_path / "ckpt"),
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    manifests = list_manifests(root, "sev")
    assert sorted(m.interval.start for m in manifests) == [
        JAN1, JAN1 + timedelta(hours=1)]
    for m in manifests:
        assert _epoch_seconds(spark.read.parquet(m.path)) == [
            int(m.interval.start.timestamp())]


def test_merge_into_rewrites_the_utc_day(spark, tmp_path, new_york):
    from druid_hadoop_utils_spark.sources.dml import merge_into

    root = str(tmp_path / "tbl")
    for day in ("2024-01-01/2024-01-02", "2024-01-02/2024-01-03"):
        write_segment(_hourly(spark), root, "ev", day, "v1")
    update = Row(__time=JAN1 + timedelta(days=1, hours=1), k="y", v=1000)
    merge_into(spark, root, "ev", spark.createDataFrame([update]), ["k"])
    q = {"queryType": "groupBy", "dataSource": "ev",
         "intervals": ["2024-01-01/2024-01-03"], "granularity": "DAY",
         "dimensions": [], "aggregations": AGGS}
    days = sorted(druid_query(spark, root, q)
                  .selectExpr("unix_seconds(`__time`)", "n", "v_sum").collect())
    assert [tuple(r) for r in days] == [
        (_day_seconds(1)[0], 24, sum(range(24))),
        (_day_seconds(2)[0], 13, sum(range(24, 48, 2)) + 1000)]
