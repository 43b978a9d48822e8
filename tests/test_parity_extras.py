"""Reference-parity extras: extraction filter, ignoreWhenNoSegments,
schema-file specs, compat output shape, sort-on-ingest."""

import json

import pytest
from pyspark.sql import Row

from druid_hadoop_utils_spark import LoadSpec, load
from druid_hadoop_utils_spark.functions.filters import filter_to_column
from druid_hadoop_utils_spark.plans.planner import to_compat_output


@pytest.fixture(scope="module")
def df(spark):
    rows = [
        Row(id=1, host="a.example.com"),
        Row(id=2, host="b.example.org"),
        Row(id=3, host="A.EXAMPLE.COM"),
        Row(id=4, host="xy.z"),
    ]
    return spark.createDataFrame(rows)


def ids(df, flt):
    got = df.where(filter_to_column(flt, df.schema)).select("id").collect()
    return sorted(r.id for r in got)


def test_extraction_substring(df):
    flt = {"type": "extraction", "dimension": "host", "value": "a.e",
           "extractionFn": {"type": "substring", "index": 0, "length": 3}}
    assert ids(df, flt) == [1]


def test_extraction_regex(df):
    flt = {"type": "extraction", "dimension": "host", "value": "org",
           "extractionFn": {"type": "regex", "expr": r"\.([a-z]+)$"}}
    assert ids(df, flt) == [2]


def test_extraction_lower(df):
    flt = {"type": "extraction", "dimension": "host", "value": "a.example.com",
           "extractionFn": {"type": "lower"}}
    assert ids(df, flt) == [1, 3]


def test_extraction_strlen(df):
    flt = {"type": "extraction", "dimension": "host", "value": "13",
           "extractionFn": {"type": "strlen"}}
    assert ids(df, flt) == [1, 2, 3]  # the 4-char host is excluded


def test_extraction_partial(df):
    # MatchingDimExtractionFn: value survives when the regex finds a match,
    # else null (so equality with a value only hits matching rows)
    flt = {"type": "extraction", "dimension": "host", "value": "a.example.com",
           "extractionFn": {"type": "partial", "expr": r"\.com$"}}
    assert ids(df, flt) == [1]


def test_extraction_search_query(df):
    flt = {"type": "extraction", "dimension": "host", "value": "b.example.org",
           "extractionFn": {"type": "searchQuery",
                            "query": {"type": "insensitive_contains",
                                      "value": "EXAMPLE"}}}
    assert ids(df, flt) == [2]


def test_extraction_time_format(spark):
    from datetime import datetime

    from druid_hadoop_utils_spark.functions.filters import extraction_sql
    from druid_hadoop_utils_spark.functions.sqltext import ident
    from pyspark.sql import functions as F

    def _extraction_fn(fn, name):
        return F.expr(extraction_sql(fn, ident(name)))

    rows = [Row(ts=datetime(2024, 3, 15, 22, 30))]
    base = spark.createDataFrame(rows)
    got = base.select(
        _extraction_fn({"type": "timeFormat", "format": "yyyy-MM-dd HH"},
                       "ts").alias("utc"),
        _extraction_fn({"type": "timeFormat", "format": "HH",
                        "timeZone": "America/Los_Angeles"},
                       "ts").alias("la_hour"),
        _extraction_fn({"type": "timeFormat"}, "ts").alias("iso"),
    ).first()
    assert got.utc == "2024-03-15 22"
    assert got.la_hour == "15"  # PDT = UTC-7 on that date
    assert got.iso == "2024-03-15T22:30:00.000Z"


def test_extraction_time_dim(spark):
    from druid_hadoop_utils_spark.functions.filters import extraction_sql
    from druid_hadoop_utils_spark.functions.sqltext import ident
    from pyspark.sql import functions as F

    base = spark.createDataFrame([Row(d="03/15/2024")])
    got = base.select(
        F.expr(extraction_sql({"type": "time", "timeFormat": "MM/dd/yyyy",
                               "resultFormat": "yyyy-MM"}, ident("d"))).alias("ym")
    ).first()
    assert got.ym == "2024-03"


def test_extraction_time_format_rejects_exotic_pattern(df):
    from druid_hadoop_utils_spark.functions.filters import _check_time_pattern

    with pytest.raises(NotImplementedError):
        _check_time_pattern("xxxx-'W'ww-e")  # Joda day-of-week-number 'e'


def test_extraction_javascript_rejected(df):
    with pytest.raises(NotImplementedError):
        filter_to_column({"type": "extraction", "dimension": "host", "value": "x",
                          "extractionFn": {"type": "javascript", "function": "f"}},
                         df.schema)


SPEC = {"granularity": "NONE", "dimensions": ["host"],
        "metrics": [{"name": "visited_sum", "type": "long"},
                    {"name": "unique_hosts", "type": "hyperUnique"}]}


def test_ignore_when_no_segments_returns_empty(spark, tmp_path, golden_events):
    from druid_hadoop_utils_spark import write_segment

    root = str(tmp_path)
    write_segment(golden_events.drop("user_host"), root, "ds",
                  "2014-10-22/2014-10-23", "v1")
    # query an interval with no segments: empty result, declared schema
    df = load(spark, root, SPEC, interval="1999-01-01/1999-01-02", data_source="ds")
    assert df.count() == 0
    assert df.columns == ["__time", "host", "visited_sum", "unique_hosts"]
    types = dict(df.dtypes)
    assert types["visited_sum"] == "bigint" and types["unique_hosts"] == "binary"
    # strict mode still raises (reference: ignoreWhenNoSegments=false)
    with pytest.raises(FileNotFoundError):
        load(spark, root, SPEC, interval="1999-01-01/1999-01-02",
             data_source="ds", ignore_when_no_segments=False)


def test_spec_from_file(tmp_path):
    p = tmp_path / "schema.json"
    p.write_text(json.dumps(SPEC | {"granularity": "DAY"}))
    spec = LoadSpec.from_file(str(p), data_source="ds", interval="2014-10-22/2014-10-23")
    assert spec.granularity == "DAY"
    assert spec.data_source == "ds"
    assert spec.metrics[1].is_complex


def test_compat_output_shape(spark, golden_events):
    df = to_compat_output(golden_events.drop("user_host", "unique_hosts"))
    assert df.columns[0] == "druid_timestamp"
    first = df.orderBy("druid_timestamp").first()
    # ISO-8601 string, like the reference's tuple position 0
    assert first.druid_timestamp == "2014-10-22T00:00:00.000Z"


def test_ingest_sort_by_improves_clustering(spark, sf_dir, tmp_path):
    import pyarrow.parquet as pq

    from druid_hadoop_utils_spark.sources.ingest import publish_segments
    from druid_hadoop_utils_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    manifests = publish_segments(
        ev.select("ts", "event_type", "value"), str(tmp_path), "ev",
        version="v1", time_column="ts", bucket="DAY", sort_by=["event_type"],
    )
    # within each file, event_type must be non-decreasing (clustered)
    import glob
    import os

    f = glob.glob(os.path.join(manifests[0].path, "*.parquet"))[0]
    col = pq.read_table(f, columns=["event_type"])["event_type"].to_pylist()
    assert col == sorted(col)


def test_extraction_lookup_map(df):
    flt = {"type": "extraction", "dimension": "host", "value": "SITE_A",
           "extractionFn": {"type": "lookup",
                            "lookup": {"type": "map",
                                       "map": {"a.example.com": "SITE_A",
                                               "b.example.org": "SITE_B"}}}}
    assert ids(df, flt) == [1]


def test_extraction_lookup_retain_missing(df):
    # unmapped values fall through to the raw value when retained
    flt = {"type": "extraction", "dimension": "host", "value": "xy.z",
           "extractionFn": {"type": "lookup", "retainMissingValue": True,
                            "lookup": {"type": "map",
                                       "map": {"a.example.com": "SITE_A"}}}}
    assert ids(df, flt) == [4]


def test_extraction_lookup_replace_missing(df):
    flt = {"type": "extraction", "dimension": "host", "value": "OTHER",
           "extractionFn": {"type": "lookup", "replaceMissingValueWith": "OTHER",
                            "lookup": {"type": "map",
                                       "map": {"a.example.com": "SITE_A"}}}}
    assert ids(df, flt) == [2, 3, 4]


def test_extraction_unregistered_lookup_raises(df):
    # registeredLookup is supported (functions/lookups registry); an
    # UNREGISTERED name must fail loudly, not silently match nothing
    import pytest as _pytest

    with _pytest.raises(KeyError):
        filter_to_column({"type": "extraction", "dimension": "host", "value": "x",
                          "extractionFn": {"type": "registeredLookup", "lookup": "l"}},
                         df.schema)
