"""``session.local_frame``: driver-held rows become a DataFrame through
Arrow in the JVM, with the values, schema and partitions that
``createDataFrame`` over a Python list gives, and no Python worker.

Each parity case builds one converted site's schema both ways and
compares collected rows, schema and partition count; timestamps are
built under TZ=America/New_York.
"""

from __future__ import annotations

import ast
import os
import pathlib
import time
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from druid_hadoop_utils_spark.operators.multimodal import MEDIA_SCHEMA
from druid_hadoop_utils_spark.session import local_frame

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "druid_hadoop_utils_spark"
JAN1 = datetime(2024, 1, 1, tzinfo=timezone.utc)

# the Druid v9 import's columns (sources/druid_segment.import_druid_segment)
IMPORT_SCHEMA = StructType([
    StructField("__time", TimestampType()),
    StructField("host", ArrayType(StringType())),
    StructField("page", StringType()),
    StructField("added", LongType()),
    StructField("delta", DoubleType()),
    StructField("unique_users", BinaryType()),
])


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


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


def _partitions(df) -> int:
    return df._jdf.queryExecution().toRdd().getNumPartitions()


def _assert_parity(spark, rows, schema):
    old = spark.createDataFrame(rows, schema)
    new = local_frame(spark, rows, schema)
    assert new.schema == old.schema
    assert new.collect() == old.collect()
    if len(rows) >= spark.sparkContext.defaultParallelism:
        assert _partitions(new) == _partitions(old)
    assert "PythonRDD" not in _lineage(new)
    return new


def test_no_create_dataframe_outside_local_frame():
    """Every frame the package builds from driver rows goes through
    ``local_frame``."""
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed = set()
        if path.name == "session.py":
            for node in ast.walk(tree):
                if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                    allowed = {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"
                    and id(node) not in allowed):
                found.append(f"{path.relative_to(PACKAGE)}:{node.lineno}")
    assert found == []


def test_lineage_has_no_python_rdd(spark):
    rows = [(JAN1 + timedelta(hours=h), [f"h{h % 7}"], h) for h in range(30)]
    schema = "t timestamp, hosts array<string>, v long"
    assert "PythonRDD" in _lineage(spark.createDataFrame(rows, schema))
    assert "PythonRDD" not in _lineage(local_frame(spark, rows, schema))


#: one (rows, schema) case per converted site's schema
SITE_CASES = {
    # sources.druid_segment.import_druid_segment
    "import": ([
        (JAN1 + timedelta(minutes=37 * i, microseconds=i),
         [f"h{i % 5}.example.com"] if i % 4 else [],
         None if i % 6 == 0 else f"page{i % 3}",
         i * 1000,
         i / 7.0,
         bytes([i % 256, 7]) if i % 5 else None)
        for i in range(40)
    ], IMPORT_SCHEMA),
    # plans.planner._empty_result: time, dimensions, long/double/sketch/other metrics
    "empty_result": ([], StructType([
        StructField("__time", TimestampType()),
        StructField("host", ArrayType(StringType())),
        StructField("n", LongType()),
        StructField("avg", DoubleType()),
        StructField("users", BinaryType()),
        StructField("label", StringType()),
    ])),
    # api.druid_query segmentMetadata: analysisTypes (both returns) and the listing
    "metadata_empty": ([], "column string, type string, cardinality long, "
                           "min_value string, max_value string"),
    "metadata_analysis": ([("host", "array<string>", 3, None, None),
                           ("added", "bigint", None, "1", "99")],
                          "column string, type string, cardinality long, "
                          "min_value string, max_value string"),
    "segment_listing": ([(f"ds_2024-01-0{d}_v1_{s}", f"2024-01-0{d}/2024-01-0{d + 1}",
                          "v1", s, f"/t/ds/{d}/{s}", s == 0,
                          '{"k": [1, 2]}' if s else None)
                         for d in range(1, 4) for s in range(3)],
                        "identifier string, interval string, version string, "
                        "shard_num int, path string, visible boolean, "
                        "column_stats string"),
    # functions.lookups.lookup_join and operators.bpe.train_bpe
    "lookup": ([(str(k), f"v{k}") for k in range(12)],
               "__lk_key string, __lk_val string"),
    "bpe_merges": ([(i, a, b, a + b) for i, (a, b) in
                    enumerate([("t", "h"), ("th", "e"), ("e", "</w>")] * 3)],
                   "rank INT, left STRING, right STRING, merged STRING"),
    # operators.multimodal.synthetic_media_df
    "media": ([(i, "image", bytearray(bytes(range(i, i + 9))), ("png", 16, 16, None))
               for i in range(6)]
              + [(1000, "audio", bytearray(b"RIFF"), ("wav", None, None, 200)),
                 (1001, "video", None, None)], MEDIA_SCHEMA),
}


@pytest.mark.parametrize("case", sorted(SITE_CASES))
def test_site_schema_parity(spark, new_york, case):
    _assert_parity(spark, *SITE_CASES[case])


def test_import_writes_the_same_files(spark, tmp_path):
    """The import publishes its frame as is: the same files, byte for byte."""
    rows, schema = SITE_CASES["import"]
    sizes = []
    for name, df in (("old", spark.createDataFrame(rows, schema)),
                     ("new", local_frame(spark, rows, schema))):
        df.write.parquet(str(tmp_path / name))
        sizes.append(sorted(p.stat().st_size
                            for p in (tmp_path / name).glob("*.parquet")))
    assert sizes[0] == sizes[1]


def test_timestamps_keep_their_instant(spark, new_york):
    aware = [(JAN1 + timedelta(hours=h),) for h in range(5)]
    df = local_frame(spark, aware, "t timestamp")
    got = [r[0] for r in df.selectExpr("unix_seconds(t)").collect()]
    assert got == [int(t.timestamp()) for (t,) in aware]
    # a naive datetime is UTC wall time, whatever the process zone
    naive = local_frame(spark, [(datetime(2024, 1, 1),)], "t timestamp")
    assert naive.selectExpr("unix_seconds(t)").first()[0] == int(JAN1.timestamp())


def test_collected_rows_parity(spark):
    # operators.similarity.ivf_topk_from_postings and the battery's BPE
    # merge cache recreate collected Rows under the collected schema
    src = spark.createDataFrame(
        [(q, [float(q), -0.5 * q], [float(q)], float(q) ** 0.5, q % 4) for q in range(9)],
        StructType([
            StructField("query_id", LongType()),
            StructField("__qv", ArrayType(DoubleType())),
            StructField("__fv", ArrayType(FloatType())),
            StructField("__qn", DoubleType()),
            StructField("__cell", IntegerType()),
        ]))
    _assert_parity(spark, src.collect(), src.schema)
