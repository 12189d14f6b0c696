"""Structured-Streaming mode (SURVEY §2.9).

The reference is event-driven: one S3 ObjectCreated → one Lambda run.
Here the file-source stream replaces SNS discovery:

* ``readStream`` on a directory finds new files; one file per trigger
  reproduces the per-file batch granularity, ``Trigger.AvailableNow``
  drains a backlog then stops (used for tests / catch-up runs).
* All grouping in the reference is WITHIN one file, so ``foreachBatch``
  running the batch operators per micro-batch is exactly
  semantics-preserving (no watermark needed for parity; every batch
  holds whole files). The records are built by the batch path's own
  functions (``wholetext_lines``, ``cv_records``).
* Checkpointing gives at-least-once with an idempotent sink —
  equivalent to the reference's retry-and-reindex behavior
  (bucket_event_lambda_handler.py:99). The file source's log records
  every path it has taken, so a second delivery of the same object
  starts no micro-batch. That holds for a rewrite with new content
  too: unlike the reference, which runs again on every ObjectCreated
  event, the stream never validates the new bytes.

Scale: each micro-batch is an independent batch plan over a bounded
file set; state never accumulates across files, so the stream runs
indefinitely with O(1) state.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.validation import validate
from ..plans.pipeline import cv_records, require_json
from ..sources.files import wholetext_lines
from ..sources.rules import RuleSet


def stream_cv_pipeline(
    spark: SparkSession,
    input_dir: str,
    ruleset: RuleSet,
    schema,  # unused; perfbench/stream.py still passes it positionally
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    *,
    available_now: bool = True,
) -> StreamingQuery:
    """Stream NDJSON CV files through the validation pipeline, one file
    per micro-batch; ``sink(batch_results_df, batch_id)`` receives the
    long-format validation results of each micro-batch.

    Records are the batch pipeline's (:func:`cv_records` over
    :func:`wholetext_lines`), so a replayed micro-batch reproduces
    identical ``record_uid`` values, and a field that first appears in
    a later file reads as present there."""
    require_json(ruleset)
    records = cv_records(
        wholetext_lines(
            spark.readStream.option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .text(input_dir, wholetext=True)
        )
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        results = validate(batch_df, ruleset, ["file_path", "record_uid"])
        sink(results, batch_id)

    writer = (
        records.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def idempotent_parquet_sink(out_dir: str):
    """foreachBatch sink with exactly-once-for-readers semantics over
    the checkpoint's at-least-once delivery: each micro-batch writes to
    its own ``batch_id=N`` partition with DYNAMIC partition overwrite,
    so a replayed batch (failure between sink and checkpoint commit)
    rewrites its partition instead of appending duplicates — the
    reference's retry-and-reindex made idempotent
    (bucket_event_lambda_handler.py:99, where re-delivery re-indexes
    the same ES doc id)."""

    def sink(df: DataFrame, batch_id: int) -> None:
        (
            df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )

    return sink
