"""Segment manifests record the segment files' Spark schema, and the
planner merges those schemas on the driver instead of reading parquet
footers in a Spark job.

Pinned here: every manifest writer (``write_segment``, the
``publish_segments`` group registration, the DML commit, compaction and
``restore_to``'s re-announce) records exactly the schema a
``mergeSchema`` read infers from the segment's files; a type conflict
across visible segments still fails loudly; and a table holding a
manifest written before schemas were recorded still loads, through the
``mergeSchema`` fallback.
"""

from __future__ import annotations

import json
import os
from datetime import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from druid_hadoop_utils_spark.plans.planner import load
from druid_hadoop_utils_spark.sources.dml import delete_where, merge_into, update_where
from druid_hadoop_utils_spark.sources.ingest import publish_segments
from druid_hadoop_utils_spark.sources.maintenance import compact_segments, restore_to
from druid_hadoop_utils_spark.sources.segments import (
    MANIFEST_DIR,
    list_manifests,
    segments_schema,
    write_segment,
)

DS = "ev"
SPEC = {"granularity": "NONE", "dimensions": ["host", "tags"],
        "metrics": [{"name": "v", "type": "double"},
                    {"name": "n", "type": "long"}]}
ALL = "2020-01-01/2030-01-01"


def _rows(day: int, hosts: str) -> list[Row]:
    return [Row(__time=datetime(2024, 1, day, h), host=c, tags=[c, "t"],
                v=float(h) + 0.5, n=h * 10, key=f"{c}{day}{h}")
            for h, c in enumerate(hosts)]


def _assert_recorded(spark, root: str, exclude=()) -> list:
    data = [m for m in list_manifests(root, DS) if not m.tombstone]
    assert data
    for m in data:
        assert m.schema is not None, m.identifier
        inferred = spark.read.option("mergeSchema", "true").parquet(m.path).schema
        inferred = StructType([f for f in inferred.fields if f.name not in exclude])
        assert StructType.fromJson(m.schema) == inferred, m.identifier
    return data


def _load_rows(spark, root: str, spec=SPEC) -> list[tuple]:
    out = load(spark, root, spec, interval=ALL, data_source=DS)
    return sorted(tuple(r) for r in out.collect())


def test_write_segment_records_file_schema(spark, tmp_path):
    root = str(tmp_path / "t")
    df = spark.createDataFrame(_rows(1, "ab")).withColumn(
        "sketch", F.expr("hll_sketch_agg(host) OVER ()"))
    write_segment(df, root, DS, "2024-01-01/2024-01-02", "v1")
    _assert_recorded(spark, root)


def test_write_segment_partitioned_records_data_columns(spark, tmp_path):
    root = str(tmp_path / "t")
    df = spark.createDataFrame(_rows(1, "ab")).withColumn(
        "__time_day", F.to_date("__time"))
    write_segment(df, root, DS, "2024-01-01/2024-01-02", "v1",
                  partition_by_day=True)
    (m,) = _assert_recorded(spark, root, exclude=("__time_day",))
    assert "__time_day" not in StructType.fromJson(m.schema).names


@pytest.mark.parametrize("shards", [1, 2])
def test_publish_segments_records_file_schema(spark, tmp_path, shards):
    root = str(tmp_path / "t")
    df = spark.createDataFrame(_rows(1, "abcd") + _rows(2, "abcd"))
    publish_segments(df, root, DS, "v1", shards_per_bucket=shards)
    data = _assert_recorded(spark, root)
    assert len(data) == 2 * shards


def test_dml_and_compaction_record_file_schema(spark, tmp_path):
    root = str(tmp_path / "t")
    publish_segments(spark.createDataFrame(_rows(1, "abc") + _rows(2, "abc")),
                     root, DS, "v1")
    # replaces host b's day-1 row (key "b11")
    updates = spark.createDataFrame(_rows(1, "ab")[1:]).withColumn("v", F.lit(99.0))
    merge_into(spark, root, DS, updates, ["key"])
    update_where(spark, root, DS, {"type": "selector", "dimension": "host",
                                   "value": "c"}, {"n": "n + 1"})
    delete_where(spark, root, DS, {"type": "selector", "dimension": "host",
                                   "value": "a"})
    compact_segments(spark, root, DS, "2024-01-01/2024-01-03")
    versions = {m.version for m in _assert_recorded(spark, root)}
    assert len(versions) > 1  # the DML and compaction writers all ran
    rows = _load_rows(spark, root)
    assert sorted(r[0] for r in rows) == [datetime(2024, 1, 1, 1),
                                          datetime(2024, 1, 1, 2),
                                          datetime(2024, 1, 2, 1),
                                          datetime(2024, 1, 2, 2)]
    assert {r[1]: (r[3], r[4]) for r in rows if r[0].day == 1} == {
        "b": (99.0, 10), "c": (2.5, 21)}


def test_restore_reannounces_recorded_schema(spark, tmp_path):
    root = str(tmp_path / "t")
    publish_segments(spark.createDataFrame(_rows(1, "ab")), root, DS, "v1",
                     shards_per_bucket=2, published_at="2024-02-01T00:00:00+00:00")
    publish_segments(spark.createDataFrame(_rows(1, "cd")), root, DS, "v2",
                     shards_per_bucket=2, published_at="2024-02-02T00:00:00+00:00")
    announced = restore_to(root, DS, "2024-02-01T12:00:00+00:00")
    assert announced and all(m.schema for m in announced)
    _assert_recorded(spark, root)
    assert {r[1] for r in _load_rows(spark, root)} == {"a", "b"}


def test_segment_load_merges_schemas_without_a_spark_job(spark, tmp_path):
    root = str(tmp_path / "t")
    publish_segments(spark.createDataFrame(_rows(1, "ab")), root, DS, "v1")
    evolved = spark.createDataFrame(_rows(2, "cd")).withColumn("region", F.lit("eu"))
    publish_segments(evolved, root, DS, "v2")
    merged = segments_schema(list_manifests(root, DS))
    assert merged.names[-1] == "region"  # a newer column appends
    sc = spark.sparkContext
    group = "manifest-schema-load"
    sc.setJobGroup(group, "load")
    try:
        df = load(spark, root, dict(SPEC, dimensions=["host", "region"]),
                  interval=ALL, data_source=DS)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert {r.host: r.region for r in df.collect()} == {
        "a": None, "b": None, "c": "eu", "d": "eu"}


def test_type_conflict_across_visible_segments_raises(spark, tmp_path):
    root = str(tmp_path / "t")
    publish_segments(spark.createDataFrame(_rows(1, "ab")), root, DS, "v1")
    clash = spark.createDataFrame(_rows(2, "cd")).withColumn(
        "v", F.col("v").cast("string"))
    publish_segments(clash, root, DS, "v2")
    assert segments_schema(list_manifests(root, DS)) is None
    with pytest.raises(Exception, match="CANNOT_MERGE"):
        _load_rows(spark, root)


def test_manifest_without_schema_loads_through_merge_schema(spark, tmp_path):
    root = str(tmp_path / "t")
    publish_segments(spark.createDataFrame(_rows(1, "ab")), root, DS, "v1")
    publish_segments(spark.createDataFrame(_rows(2, "cd")).withColumn(
        "region", F.lit("eu")), root, DS, "v2")
    expected = _load_rows(spark, root, dict(SPEC, dimensions=["host", "region"]))
    # strip the recorded schema from one manifest: a table written before
    # schemas were recorded
    mdir = os.path.join(root, DS, MANIFEST_DIR)
    name = sorted(n for n in os.listdir(mdir) if n.endswith(".json")
                  and not n.startswith("_"))[0]
    path = os.path.join(mdir, name)
    with open(path) as f:
        obj = json.load(f)
    assert obj.pop("schema", None) is not None
    with open(path, "w") as f:
        json.dump(obj, f)
    assert segments_schema(list_manifests(root, DS)) is None
    assert _load_rows(spark, root, dict(SPEC, dimensions=["host", "region"])) == expected
