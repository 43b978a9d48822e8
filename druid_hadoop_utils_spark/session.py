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

from pyspark.sql import SparkSession


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
