"""Query-level batch-vs-stream equivalence at sf0.01 (SURVEY §2.9).

At real query scale (10k events), not fixture scale:

* the registered ``cv_sequential_checks`` result decomposes over
  micro-batches: streaming the same records file-by-file and running
  the batch sequential plan per micro-batch (the foreachBatch
  pattern stream.py uses) unions to EXACTLY the batch query output —
  all of W1-W8, including bundle-size dedup and all-pass synthesis.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from dev_dot_cvp_metadata_ingestion_spark.operators.sequential import (
    sequential_results,
)
from dev_dot_cvp_metadata_ingestion_spark.plans.cvp import (
    _events_seq_spec,
    _events_with_file,
)

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def events(spark):
    return _events_with_file(spark, SF_DIR)


def test_cv_sequential_checks_stream_equals_batch(spark, events, tmp_path):
    """foreachBatch over whole-file micro-batches reproduces the batch
    query exactly (the reference groups only within one file, so the
    per-file plan decomposes over any whole-file batching)."""
    src = tmp_path / "stream_src"
    src.mkdir()
    files = [r.file for r in events.select("file").distinct().collect()]
    for i, fname in enumerate(sorted(files)):
        part = events.filter(F.col("file") == fname).coalesce(1)
        part.write.parquet(str(src / f"batch_{i}"))

    collected = []

    def sink(batch_df, batch_id):
        res = sequential_results(batch_df, _events_seq_spec())
        collected.extend(
            (r.file, r.serial_number, r.field_path, r.valid, r.details)
            for r in res.collect()
        )

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_a"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "availableNow drain timed out"

    batch = sequential_results(events, _events_seq_spec())
    expected = sorted(
        (r.file, r.serial_number, r.field_path, r.valid, r.details)
        for r in batch.collect()
    )
    assert len(expected) > 1000  # real query scale, not a fixture
    assert sorted(collected) == expected
