"""Watermarked windowed aggregation: late rows beyond the lateness
horizon are dropped, finalized windows match the batch plan; the
idempotent sink absorbs micro-batch replays."""

from __future__ import annotations

import os
from datetime import datetime

from pyspark.sql import functions as F

from dev_dot_cvp_metadata_ingestion_spark.streaming.stream import (
    idempotent_parquet_sink,
)
from dev_dot_cvp_metadata_ingestion_spark.streaming.windows import (
    windowed_event_counts,
)

SCHEMA = "ts timestamp, event_type string"


def _write_batch(spark, path, i, rows):
    df = spark.createDataFrame(
        [(datetime(2024, 1, 1, h, m), e) for h, m, e in rows], SCHEMA
    ).coalesce(1)
    df.write.parquet(str(path / f"b{i}"))
    for root, _d, files in os.walk(path / f"b{i}"):
        for fn in files:
            os.utime(os.path.join(root, fn), (1000000 + i * 100,) * 2)


def test_watermark_drops_late_rows(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    # batch 0: on-time events in windows [00:00,01:00) and [01:00,02:00)
    _write_batch(spark, src, 0, [(0, 10, "click"), (0, 20, "click"), (1, 10, "view")])
    # batch 1: advances event time to 06:00 → watermark 04:00
    _write_batch(spark, src, 1, [(6, 0, "click")])
    # batch 2: keeps advancing (watermark 05:00). Spark's late-record
    # filter applies the PREVIOUS batch's watermark, so dropping is
    # only guaranteed once the watermark advanced a full batch earlier
    _write_batch(spark, src, 2, [(7, 0, "view")])
    # batch 3: a LATE click at 00:30, hours behind the watermark —
    # must be dropped, not re-opened as a duplicate window
    _write_batch(spark, src, 3, [(0, 30, "click"), (8, 0, "view")])

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    out = windowed_event_counts(stream, lateness="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "availableNow drain timed out"

    emitted = [
        ((r.window_start.hour, r.event_type), r.n_events)
        for r in spark.sql("select * from win_counts").collect()
    ]
    rows = dict(emitted)
    # finalized windows: the late 00:30 click must NOT be counted, and
    # must not re-open [00:00,01:00) as a duplicate emission
    assert rows[(0, "click")] == 2
    assert rows[(1, "view")] == 1
    assert len(emitted) == len(rows), f"duplicate window emissions: {emitted}"


def test_windowed_counts_batch_parity(spark):
    rows = [(0, 10, "click"), (0, 20, "click"), (1, 10, "view"), (6, 0, "click")]
    df = spark.createDataFrame(
        [(datetime(2024, 1, 1, h, m), e) for h, m, e in rows], SCHEMA
    )
    got = {
        (r.window_start.hour, r.event_type): r.n_events
        for r in windowed_event_counts(df).collect()
    }
    assert got == {(0, "click"): 2, (1, "view"): 1, (6, "click"): 1}


def test_idempotent_sink_absorbs_replay(spark, tmp_path):
    out = str(tmp_path / "sink")
    sink = idempotent_parquet_sink(out)
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    df2 = spark.createDataFrame([(3, "c")], "id long, v string")

    sink(df1, 0)
    sink(df2, 1)
    assert spark.read.parquet(out).count() == 3
    # replay of batch 0 (at-least-once delivery) must overwrite its own
    # partition, not append duplicates
    sink(df1, 0)
    back = spark.read.parquet(out)
    assert back.count() == 3
    assert back.filter(F.col("batch_id") == 0).count() == 2
