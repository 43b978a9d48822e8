"""SparkSession factory with the engine's required configuration.

The reference pins UTC + en_US for determinism (reference: pom.xml:36-39);
Druid intervals/timestamps are UTC ISO-8601, so the engine requires
``spark.sql.session.timeZone=UTC``.

``spark.sql.legacy.parquet.nanosAsLong=true`` is needed because the driver's
synthetic testdata writes parquet TIMESTAMP(NANOS) columns, which Spark
otherwise refuses to read; ``sources.tables`` converts those long-nanos
columns back to proper TimestampType.

Scale posture (100 TB / 1000-executor target, tested on local mode):
AQE on (runtime coalescing + skew-join splitting), adaptive shuffle
partition sizing, and Arrow enabled for the few pandas-UDF paths.

``spark.sql.codegen.cache.maxEntries`` (static: it sizes the JVM's one
generated-class cache at its first use) is 1000 instead of Spark's 100.
The engine runs many queries of a few plan shapes, and each shape's
whole-stage-codegen classes are worth compiling once per session.
Measured working sets (perfbench, ``local[3]``): a ``corpus_dedup``
warm-up pass compiles ~140 distinct classes and ``olap_ingest``'s 107,
with 44 more in its timed pass. Under a 100-entry LRU each pass evicted
its own classes before asking for them again: the timed pass compiled
144 classes on ``corpus_dedup`` (18 at 1000 entries) and 184 on
``olap_ingest`` (44). 1000 holds several such working sets, which
leaves headroom for a long session; the benchmark's peak RSS did not
move with it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "druid-hadoop-utils-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame of ``rows`` (tuples or Rows in ``schema`` order) that
    the driver already holds, built through Arrow in the JVM.

    ``schema`` is a ``StructType`` or a DDL string. The rows become one
    ``pyarrow.Table`` of the schema's Arrow types, and
    ``spark.createDataFrame(table, schema)`` decodes its batches in the
    JVM. ``createDataFrame`` over a Python list instead pickles the rows
    into a ``PythonRDD``, so every task starts a Python worker to
    unpickle rows the driver already had.

    Measured in fresh sessions (4-core box, ``local[3]``, 300 rows of
    ``(timestamp, array<string>, long)`` built and collected; method in
    NOTES.md): the list path took 130–182 ms per call once warm and
    1.9 s on first use; this path takes 15–30 ms, and 1.05 s on first
    use. An empty list cost 110–152 ms against 9–23 ms here.

    Values and schemas equal the list path's, except for naive
    datetimes: they are read as UTC wall time (the session zone is
    UTC), where the list path read them in the driver process's local
    zone. Pass tz-aware datetimes. ``collect()`` returns naive local
    wall time, so collected Rows with a timestamp column round-trip
    only when the process zone is UTC; the package recreates collected
    Rows only where they hold no timestamp.

    Below ``spark.sql.execution.arrow.localRelationThreshold`` the frame
    is a local relation, scanned in ``min(rows, defaultParallelism)``
    partitions sliced as ``parallelize`` slices them. So a frame of at
    least that many rows keeps the list path's partitions and writes the
    same files; with fewer rows it has no empty partitions. Above the
    threshold each partition is one Arrow batch of
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [[]] * len(arrow_schema)
    return spark.createDataFrame(pa.Table.from_arrays(columns, schema=arrow_schema), schema)
