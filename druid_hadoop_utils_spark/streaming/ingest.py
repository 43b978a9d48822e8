"""Structured Streaming ingest that publishes segment versions.

The reference is strictly batch (SURVEY.md §2.9); its only freshness
mechanism is re-publishing a newer version of an interval. This extension
mirrors exactly that: a stream of events is windowed/rolled up with a
watermark, and each micro-batch publishes NEW segment VERSIONS for the time
buckets it touched — readers using ``load()`` atomically flip to the newer
version via the overshadow timeline. Streaming and batch reads share one
code path.

Scale posture: the rollup is a standard watermark + window aggregation
(state bounded by the watermark); publishing partitions the batch by time
bucket so each segment write is a partition-pruned scan of the micro-batch,
not a full pass.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from druid_hadoop_utils_spark.intervals import Interval
from druid_hadoop_utils_spark.sources.segments import write_segment


def streaming_rollup(
    events: DataFrame,
    time_column: str = "ts",
    watermark: str = "10 minutes",
    window: str = "1 hour",
    dims: list[str] | None = None,
    aggs: list | None = None,
    slide: str | None = None,
) -> DataFrame:
    """Watermarked windowed rollup of a streaming DataFrame: the streaming
    twin of the engine's granularity+rollup read path.

    ``slide`` turns the tumbling bucket into a SLIDING window (e.g.
    window='1 hour', slide='15 minutes' — each event lands in 4
    overlapping buckets): the streaming analogue of the trailing
    moving-average post-processing in ``operators.timeseries.smooth``.
    State stays bounded by the watermark exactly as in the tumbling case."""
    dims = dims or []
    aggs = aggs or [F.count("*").alias("n")]
    win = (F.window(F.col(time_column), window, slide) if slide
           else F.window(F.col(time_column), window))
    out = (
        events.withWatermark(time_column, watermark)
        .groupBy(win.alias("__w"), *dims)
        .agg(*aggs)
    )
    agg_names = [c for c in out.columns if c != "__w" and c not in dims]
    return out.select(F.col("__w.start").alias("__time"), *dims, *agg_names)


def segment_publishing_writer(
    rolled: DataFrame,
    table_root: str,
    data_source: str,
    bucket: str = "1 hour",
    checkpoint_dir: str | None = None,
    stats_columns: list[str] | None = None,
) -> DataStreamWriter:
    """foreachBatch writer: publish each micro-batch's day buckets as new
    segment versions (version = zero-padded batch id → lexicographically
    increasing, so newer batches overshadow older ones).

    ``stats_columns`` records per-segment manifest column stats exactly as
    in the batch publish path, so streamed segments prune the same way."""
    if bucket != "1 hour":
        raise ValueError("only '1 hour' publish buckets are implemented")

    def publish(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        version = f"batch-{batch_id:012d}"
        # bucket starts as epoch seconds: a collected timestamp would come
        # back in the driver's local zone, not the session's UTC
        starts = [r.b for r in batch_df.selectExpr(
            "unix_seconds(date_trunc('hour', `__time`)) AS b").distinct().collect()]
        for b in starts:
            start = datetime.fromtimestamp(b, tz=timezone.utc)
            iv = Interval(start, start + timedelta(hours=1))
            # write_segment keeps exactly the rows inside ``iv``
            write_segment(batch_df, table_root, data_source, iv, version,
                          stats_columns=stats_columns)

    writer = rolled.writeStream.outputMode("append").foreachBatch(publish)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer
