"""applyInPandasWithState: state accumulates across micro-batches."""

from datetime import datetime

from pyspark.sql import Row


def test_running_totals_accumulate_across_batches(spark, tmp_path):
    from druid_hadoop_utils_spark.streaming.stateful import running_totals

    src = str(tmp_path / "in")
    b1 = spark.createDataFrame([
        Row(ts=datetime(2024, 1, 1, 0, 0), user_id=1, value=10.0),
        Row(ts=datetime(2024, 1, 1, 0, 1), user_id=1, value=5.0),
        Row(ts=datetime(2024, 1, 1, 0, 2), user_id=2, value=7.0),
    ])
    b2 = spark.createDataFrame([
        Row(ts=datetime(2024, 1, 1, 1, 0), user_id=1, value=1.0),
        Row(ts=datetime(2024, 1, 1, 1, 1), user_id=3, value=2.0),
    ])
    b1.write.parquet(src + "/f1")
    b2.write.parquet(src + "/f2")

    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)  # force multiple micro-batches
        .parquet(src + "/*")
    )
    out = running_totals(stream, key_col="user_id", value_col="value")
    q = (
        out.writeStream.format("memory").queryName("running_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)

    rows = spark.sql("SELECT * FROM running_out").collect()
    # the LAST emission per key carries the lifetime totals
    final = {}
    for r in rows:
        final[r.key] = (r.n_events, r.total)
    assert final["1"] == (3, 16.0)  # 10+5 in batch 1, +1 in batch 2
    assert final["2"] == (1, 7.0)
    assert final["3"] == (1, 2.0)
    # user 1 must have been emitted at least twice (state updated per batch)
    assert sum(1 for r in rows if r.key == "1") >= 2


def test_streaming_dedup_across_batches(spark, tmp_path):
    """Exact dedup across micro-batches: first occurrence survives,
    duplicates within a later batch (or the same batch) are dropped."""
    from druid_hadoop_utils_spark.streaming.stateful import streaming_dedup

    src = str(tmp_path / "in")
    b1 = spark.createDataFrame([
        Row(ts=datetime(2024, 1, 1, 0, 0), doc_id=1, text="alpha"),
        Row(ts=datetime(2024, 1, 1, 0, 1), doc_id=2, text="beta"),
        Row(ts=datetime(2024, 1, 1, 0, 2), doc_id=3, text="alpha"),  # in-batch dup
    ])
    b2 = spark.createDataFrame([
        Row(ts=datetime(2024, 1, 1, 1, 0), doc_id=4, text="alpha"),  # cross-batch dup
        Row(ts=datetime(2024, 1, 1, 1, 1), doc_id=5, text="gamma"),
    ])
    # one file per logical batch: maxFilesPerTrigger=1 makes each FILE a
    # micro-batch, and the in-batch min-order guarantee is per batch
    b1.coalesce(1).write.parquet(src + "/f1")
    b2.coalesce(1).write.parquet(src + "/f2")

    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    out = streaming_dedup(stream, ["text"], order_col="doc_id")
    q = (
        out.writeStream.format("memory").queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)

    rows = spark.sql("SELECT * FROM dedup_out").collect()
    by_text = {r.text: r.doc_id for r in rows}
    assert len(rows) == 3  # one row per distinct text
    assert by_text == {"alpha": 1, "beta": 2, "gamma": 5}


def test_streaming_quantiles_accumulate_across_batches(spark, tmp_path):
    """Per-key KLL state folds values across micro-batches; small keys are
    EXACT (k >= n), matching the batch lower-rank rule."""
    import math

    from druid_hadoop_utils_spark.streaming.stateful import streaming_quantiles

    src = str(tmp_path / "in")
    b1 = spark.createDataFrame([
        Row(ts=datetime(2024, 1, 1, 0, i), g="a", v=float(x))
        for i, x in enumerate([10, 20, 30, 40])
    ] + [Row(ts=datetime(2024, 1, 1, 0, 9), g="b", v=5.0)])
    b2 = spark.createDataFrame([
        Row(ts=datetime(2024, 1, 1, 1, i), g="a", v=float(x))
        for i, x in enumerate([50, 60])
    ])
    b1.write.parquet(src + "/f1")
    b2.write.parquet(src + "/f2")

    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    out = streaming_quantiles(stream, "g", "v", [0.5, 1.0], k=64)
    q = (
        out.writeStream.format("memory").queryName("stream_q")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)

    rows = spark.sql("SELECT * FROM stream_q").collect()
    final = {r.key: r for r in rows}  # last emission per key wins

    def lower_q(vals, qq):
        vals = sorted(vals)
        return vals[max(math.ceil(qq * len(vals)), 1) - 1]

    a_vals = [10.0, 20.0, 30.0, 40.0, 50.0, 60.0]
    assert final["a"].n_values == 6
    assert final["a"].p50 == lower_q(a_vals, 0.5) == 30.0
    assert final["a"].p100 == 60.0
    assert final["b"].n_values == 1 and final["b"].p50 == 5.0
    # key "a" saw both batches → at least two emissions
    assert sum(1 for r in rows if r.key == "a") >= 2


def test_streaming_quantiles_under_compaction(spark, tmp_path):
    """Keys whose value count exceeds k (k=8) compact across micro-batches.
    Every emission equals the values recorded from the pure-Python fold
    the numpy compaction replaced, and 0.995 and 1.0 label as two columns
    (p99_5, p100)."""
    import random

    from druid_hadoop_utils_spark.streaming.stateful import streaming_quantiles

    src = str(tmp_path / "in")
    rng = random.Random(7)
    schema = "g string, v double"
    for b in range(3):
        rows = [Row(g="a", v=float(rng.randrange(1000))) for _ in range(25)]
        rows += [Row(g="b", v=rng.uniform(-5, 5)) for _ in range(7)]
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/f{b}")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    out = streaming_quantiles(
        stream, "g", "v", [0.25, 0.5, 0.9, 0.99, 0.995, 1.0], k=8)
    assert out.columns == [
        "key", "n_values", "p25", "p50", "p90", "p99", "p99_5", "p100"]
    q = (
        out.writeStream.format("memory").queryName("stream_q_compact")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)

    rows = sorted(tuple(r) for r in
                  spark.sql("SELECT * FROM stream_q_compact").collect())
    lo, mid, top1 = -4.381379516638596, -0.7240769433059713, 4.474497007074875
    top2, top3 = 1.8039997318178589, 2.645708662128131
    assert rows == [
        ("a", 25, 92.0, 428.0, 840.0, 970.0, 970.0, 970.0),
        ("a", 50, 99.0, 428.0, 835.0, 970.0, 970.0, 970.0),
        ("a", 75, 120.0, 428.0, 835.0, 970.0, 970.0, 970.0),
        ("b", 7, lo, 0.8299690446040735, top1, top1, top1, top1),
        ("b", 14, lo, mid, top2, top2, top2, top2),
        ("b", 21, -3.480154653394952, mid, top2, top3, top3, top3),
    ]


def test_streaming_heavy_hitters_across_batches(spark, tmp_path):
    """MG state merges across micro-batches: exact under low cardinality,
    heavy item guaranteed present under counter overflow."""
    from druid_hadoop_utils_spark.streaming.stateful import (
        streaming_heavy_hitters,
    )

    src = str(tmp_path / "in")
    # key "x": 2 distinct items, k=3 → exact counts across batches
    # key "y": 6 distinct items, k=3 → 'hot' (12 of 22 rows) must survive
    b1 = spark.createDataFrame(
        [Row(g="x", item="a")] * 4 + [Row(g="x", item="b")] * 2
        + [Row(g="y", item="hot")] * 6
        + [Row(g="y", item=c) for c in "pqrst"]
    )
    b2 = spark.createDataFrame(
        [Row(g="x", item="a")] * 3
        + [Row(g="y", item="hot")] * 6 + [Row(g="y", item=c) for c in "pqrst"]
    )
    b1.write.parquet(src + "/f1")
    b2.write.parquet(src + "/f2")

    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    out = streaming_heavy_hitters(stream, "g", "item", k=3)
    q = (
        out.writeStream.format("memory").queryName("stream_hh")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)

    rows = spark.sql("SELECT * FROM stream_hh").collect()
    # keep only the final batch's emission per key (largest n_total)
    final_n = {}
    for r in rows:
        final_n[r.key] = max(final_n.get(r.key, 0), r.n_total)
    final = {(r.key, r.item): r.approx_count for r in rows
             if r.n_total == final_n[r.key]}
    assert final[("x", "a")] == 7 and final[("x", "b")] == 2  # exact
    assert final_n["y"] == 22
    hot = final.get(("y", "hot"))
    assert hot is not None            # true count 12 > n/(k+1) = 5.5
    assert 12 - 22 // 4 <= hot <= 12  # undercount bounded by n/(k+1)


def test_streaming_quantiles_state_survives_restart(spark, tmp_path):
    """Kill-and-restart on the SAME checkpoint: the per-key KLL state from
    the first run folds with data that arrives after the restart — the
    checkpointed-state guarantee the 100 TB streaming story rests on."""
    from druid_hadoop_utils_spark.streaming.stateful import streaming_quantiles

    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    b1 = spark.createDataFrame([
        Row(ts=datetime(2024, 1, 1, 0, i), g="a", v=float(x))
        for i, x in enumerate([10, 20, 30])
    ])
    b1.write.parquet(src + "/f1")

    def run_once():
        # memory sink can't recover from a checkpoint; foreachBatch can
        emitted = []

        def sink(batch_df, _bid):
            emitted.extend(batch_df.collect())

        stream = (
            spark.readStream.schema(b1.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        out = streaming_quantiles(stream, "g", "v", [0.5, 1.0], k=64)
        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(180)
        return emitted

    first_rows = run_once()
    first = {r.key: r for r in first_rows}
    assert first["a"].n_values == 3 and first["a"].p50 == 20.0

    # new data lands AFTER the first query terminated; a fresh query on
    # the same checkpoint must resume, not recount
    spark.createDataFrame([
        Row(ts=datetime(2024, 1, 1, 1, i), g="a", v=float(x))
        for i, x in enumerate([40, 50, 60])
    ]).write.parquet(src + "/f2")
    rows = run_once()
    final = {r.key: r for r in rows if r.n_values ==
             max(x.n_values for x in rows if x.key == r.key)}
    # 6 lifetime values -> exact lower-rank p50 = 30, max = 60; and the
    # second run only processed f2 (no reprocessing of f1's rows)
    assert final["a"].n_values == 6
    assert final["a"].p50 == 30.0 and final["a"].p100 == 60.0
    assert all(r.n_values > 3 for r in rows)  # f1 never re-emitted


def test_streaming_cap_per_group_across_batches(spark, tmp_path):
    """Per-key lifetime quota: admits rows until n is spent, across
    micro-batch boundaries, never again after."""
    from druid_hadoop_utils_spark.streaming.stateful import (
        streaming_cap_per_group,
    )

    src = str(tmp_path / "in")
    b1 = spark.createDataFrame([
        Row(ts=datetime(2024, 1, 1, 0, i), src_id="a", doc=i) for i in range(3)
    ] + [Row(ts=datetime(2024, 1, 1, 0, 9), src_id="b", doc=100)])
    b2 = spark.createDataFrame([
        Row(ts=datetime(2024, 1, 1, 1, i), src_id="a", doc=10 + i)
        for i in range(3)
    ] + [Row(ts=datetime(2024, 1, 1, 1, 9), src_id="b", doc=101)])
    # one part-file per batch dir: multi-file writes would make each
    # part-file its own micro-batch in mtime order, an arbitrary
    # interleaving of b1/b2 rows
    b1.coalesce(1).write.parquet(src + "/f1")
    b2.coalesce(1).write.parquet(src + "/f2")

    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    out = streaming_cap_per_group(stream, ["src_id"], n=4, order_col="doc")
    q = (
        out.writeStream.format("memory").queryName("cap_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)

    rows = spark.sql("SELECT * FROM cap_out").collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r.src_id, []).append(r.doc)
    # 'a' had 6 candidates over two batches; exactly 4 admitted, in
    # arrival/order_col order (all of batch 1, first of batch 2)
    assert sorted(by_key["a"]) == [0, 1, 2, 10]
    # 'b' never hit its cap
    assert sorted(by_key["b"]) == [100, 101]


def test_streaming_cap_validation(spark):
    import pytest

    from druid_hadoop_utils_spark.streaming.stateful import (
        streaming_cap_per_group,
    )

    df = spark.createDataFrame([Row(k="a", v=1)])
    with pytest.raises(ValueError, match="positive"):
        streaming_cap_per_group(df, ["k"], 0)


def test_streaming_dedup_warm_start_from_batch_manifest(spark, tmp_path):
    """Bridge batch → stream: a corpus already deduped in batch hands its
    fingerprint manifest to the stream, which anti-joins each micro-batch
    against it BEFORE the stateful dedup — so history is never replayed
    into state, and cross-batch dups within the stream still dedup."""
    from druid_hadoop_utils_spark.operators.dedup import fingerprint_manifest
    from druid_hadoop_utils_spark.operators.text import fingerprint
    from druid_hadoop_utils_spark.streaming.stateful import streaming_dedup

    corpus = spark.createDataFrame([
        Row(doc_id=1, text="seen before"),
        Row(doc_id=2, text="also known"),
    ])
    manifest = fingerprint_manifest(corpus)

    src = str(tmp_path / "in")
    b1 = spark.createDataFrame([
        Row(ts=datetime(2024, 1, 1, 0, 0), doc_id=10, text="seen before"),
        Row(ts=datetime(2024, 1, 1, 0, 1), doc_id=11, text="fresh one"),
    ])
    b2 = spark.createDataFrame([
        Row(ts=datetime(2024, 1, 1, 1, 0), doc_id=12, text="fresh one"),
        Row(ts=datetime(2024, 1, 1, 1, 1), doc_id=13, text="another fresh"),
    ])
    # one part-file per batch dir — multi-file writes would interleave
    # micro-batches in mtime order and make the cross-batch winner flaky
    b1.coalesce(1).write.parquet(src + "/f1")
    b2.coalesce(1).write.parquet(src + "/f2")

    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    from pyspark.sql import functions as F
    fresh = (
        stream.withColumn("__fp", fingerprint("text"))
        .join(manifest.withColumnRenamed("fp", "__fp"), "__fp", "left_anti")
        .drop("__fp")
    )
    out = streaming_dedup(fresh, ["text"], order_col="doc_id")
    q = (
        out.writeStream.format("memory").queryName("warm_dedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    kept = sorted(r.doc_id for r in spark.sql(
        "SELECT * FROM warm_dedup").collect())
    # 10 collides with the batch corpus; 12 is a cross-batch stream dup
    assert kept == [11, 13]


def test_streaming_cap_order_spans_arrow_chunks(spark, tmp_path):
    """order_col selection must consider the WHOLE micro-batch even when
    the group's rows arrive as several Arrow chunks (regression: chunk-
    local sorting spent the budget on whichever chunk came first)."""
    from druid_hadoop_utils_spark.streaming.stateful import (
        streaming_cap_per_group,
    )

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10")
    try:
        src = str(tmp_path / "in")
        # 50 rows, one key, written in DESCENDING doc order so the lowest
        # docs sit in the LAST chunks
        rows = [Row(ts=datetime(2024, 1, 1, 0, 0), src_id="a", doc=49 - i)
                for i in range(50)]
        spark.createDataFrame(rows).coalesce(1).write.parquet(src + "/f1")
        stream = spark.readStream.schema(
            spark.read.parquet(src + "/f1").schema).parquet(src + "/*")
        out = streaming_cap_per_group(stream, ["src_id"], n=5,
                                      order_col="doc")
        q = (out.writeStream.format("memory").queryName("cap_chunks")
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        got = sorted(r.doc for r in spark.sql(
            "SELECT * FROM cap_chunks").collect())
        assert got == [0, 1, 2, 3, 4], got
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
