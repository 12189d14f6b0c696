"""One batch ingest pass over a directory of CV files, untraced or
traced, and the correctness gate that checks its tables.

The untraced pass makes the package's public calls in the order the
batch CLI (``__main__._pipeline_main``) makes them, then builds the
CloudWatch-shaped metrics table from the written tallies:

    run_cv_pipeline → observe_pipeline → write_tables → log_progress
    → tallies.collect() → file_metadata ⋈ tallies → message_metrics

The traced pass makes the same calls inside spans, and before the real
writes forces each layer's output with a ``noop`` write so that the
lazy plan runs at that layer's boundary. Nothing is cached, so the
calls after the forced layers run the whole plan again from the files,
and the counters read over the calls the untraced pass also makes are
an untraced pass's.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import functions as F

from dev_dot_cvp_metadata_ingestion_spark.operators.metadata import (
    file_metadata,
    message_metrics,
)
from dev_dot_cvp_metadata_ingestion_spark.operators.sequential import (
    SEQUENTIAL_CHECK,
)
from dev_dot_cvp_metadata_ingestion_spark.plans.pipeline import (
    log_progress,
    observe_pipeline,
    run_cv_pipeline,
    write_tables,
)

from counters import SparkCounters, StageStats, fs_bytes
from gen import N_RULES, FileTruth
from spans import Tracer

TABLES = ("validation_results", "sequential_results", "file_tallies", "file_counts")


@dataclass
class PassResult:
    seconds: float
    tables: dict[str, str]
    progress: dict
    # filled by the traced pass
    stats: StageStats | None = None
    bytes_read: int = 0
    sink_seconds: list[float] = field(default_factory=list)
    sink_bytes: int = 0


def file_catalog(spark, input_dir: str, truth: list[FileTruth]):
    """The object listing the metadata layer consumes (key, size,
    mtime, content type, etag), as the bucket notification carries it."""
    rows = []
    for t in truth:
        st = os.stat(os.path.join(input_dir, t.key))
        rows.append((
            t.key,
            st.st_size,
            datetime.fromtimestamp(int(st.st_mtime), tz=timezone.utc),
            "application/gzip" if t.key.endswith(".gz") else "application/json",
            f"{st.st_ino:x}-{st.st_size:x}",
        ))
    return spark.createDataFrame(
        rows,
        "key string, content_length long, last_modified timestamp, "
        "content_type string, etag string",
    )


def write_metrics(spark, catalog, tallies_path: str, out_dir: str) -> str:
    """file_metadata over the listing, joined to the written per-file
    tallies by object key, folded by message_metrics."""
    tallies = spark.read.parquet(tallies_path).withColumn(
        "Key", F.regexp_extract("file_path", r"/input/(cv/.*)$", 1)
    )
    meta = file_metadata(catalog)
    path = f"{out_dir}/metrics"
    message_metrics(meta.join(tallies, "Key")).write.mode("overwrite").parquet(path)
    return path


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_pass(spark, input_dir: str, out_dir: str, ruleset, catalog) -> PassResult:
    """Untraced pass."""
    t0 = time.perf_counter()
    result = run_cv_pipeline(spark, input_dir, ruleset)
    result, observations = observe_pipeline(result)
    tables = write_tables(result, out_dir)
    progress = log_progress(observations)
    result.tallies.collect()
    tables["metrics"] = write_metrics(spark, catalog, tables["file_tallies"], out_dir)
    return PassResult(time.perf_counter() - t0, tables, progress)


def traced_pass(spark, input_dir: str, out_dir: str, ruleset, catalog,
                tracer: Tracer, counters: SparkCounters) -> tuple[dict, PassResult]:
    """Traced pass; returns the per-layer self times, and the pass with
    the counters read over the calls an untraced pass makes."""

    def counted(name, fn):
        with tracer.span(name) as span:
            mark = counters.mark()
            fn()
            span.counters = vars(counters.since(mark))

    mark, (read0, _) = counters.mark(), fs_bytes(spark)
    with tracer.span("ingest"):
        with tracer.span("sources.files.schema_infer"):
            result = run_cv_pipeline(spark, input_dir, ruleset)
        forced, read1 = counters.mark(), fs_bytes(spark)[0]
        counted("sources.files.records", lambda: _noop(result.records))
        counted("operators.validation", lambda: _noop(result.validation))
        counted("operators.sequential", lambda: _noop(result.sequential))
        with tracer.span("plans.pipeline.aggregate"):
            counted("plans.pipeline.aggregate.tallies", lambda: _noop(result.tallies))
            counted("plans.pipeline.aggregate.file_counts",
                    lambda: _noop(result.file_counts))
        unforced, (read2, _) = counters.mark(), fs_bytes(spark)
        with tracer.span("plans.pipeline.observe"):
            observed, observations = observe_pipeline(result)
        with tracer.span("plans.pipeline.write_tables"):
            write_mark, wrote0 = counters.mark(), fs_bytes(spark)[1]
            tables = write_tables(observed, out_dir)
            wrote1 = fs_bytes(spark)[1]
        with tracer.span("plans.pipeline.log_progress"):
            progress = log_progress(observations)
        with tracer.span("plans.pipeline.collect_tallies"):
            observed.tallies.collect()
        with tracer.span("operators.metadata"):
            tables["metrics"] = write_metrics(spark, catalog, tables["file_tallies"],
                                              out_dir)

    t = lambda name: tracer.get(name).seconds  # noqa: E731
    untraced = PassResult(
        t("ingest") - t("sources.files.records") - t("operators.validation")
        - t("operators.sequential") - t("plans.pipeline.aggregate"),
        tables, progress,
        stats=counters.since(mark, skip=(forced, unforced)),
        bytes_read=(read1 - read0) + (fs_bytes(spark)[0] - read2),
        sink_seconds=[
            end - start
            for start, end in counters.executions_since(write_mark)[: len(TABLES)]
        ],
        sink_bytes=wrote1 - wrote0,
    )
    seq = tracer.get("operators.sequential").counters
    seq_stats = StageStats(**seq)
    records_s = t("sources.files.records")
    layers = {
        "sources.schema_infer_s": t("sources.files.schema_infer"),
        "sources.records_s": records_s,
        "validation.self_s": t("operators.validation") - records_s,
        "sequential.self_s": t("operators.sequential") - records_s,
        # the tally plan prunes the validation details, so both
        # aggregates are measured against the records boundary
        "aggregate.self_s": (
            t("plans.pipeline.aggregate.tallies")
            + t("plans.pipeline.aggregate.file_counts")
            - 2 * records_s
        ),
        "metadata.self_s": t("operators.metadata"),
    }
    sink_s = sum(t(f"plans.pipeline.{name}") for name in (
        "observe", "write_tables", "log_progress", "collect_tallies"))
    return {
        **layers,
        "sequential.shuffle_bytes": seq_stats.shuffle_write_bytes,
        "sequential.task_skew": seq_stats.skew(seq_stats.shuffle_stages),
        "trace.ingest_s": t("ingest"),
        # differs from trace.ingest_s by the records input each forced
        # layer re-read
        "trace.self_sum_s": sum(layers.values()) + sink_s,
        "trace.unattributed_s": tracer.self_seconds("ingest"),
    }, untraced


def check_pass(spark, tables: dict[str, str], truth: list[FileTruth]) -> set[str]:
    """Correctness gate: compare the pass's tables with the manifest.
    Returns the keys of the files whose outputs are missing or wrong."""
    key = F.regexp_extract("file_path", r"/input/(cv/.*)$", 1)
    by_key = {t.key: t for t in truth}
    bad: set[str] = set()

    counts = {
        r.k: r.MessageCount
        for r in spark.read.parquet(tables["file_counts"])
        .select(key.alias("k"), "MessageCount").collect()
    }
    tallies = {
        r.k: r for r in spark.read.parquet(tables["file_tallies"])
        .select(key.alias("k"), "num_messages_total", "num_validations",
                "num_errors", "num_error_messages").collect()
    }
    seq = spark.read.parquet(tables["sequential_results"]).select(
        F.regexp_extract("file", r"/input/(cv/.*)$", 1).alias("k"),
        "field_path", "valid",
    )
    passing = {
        r.k for r in seq.filter(
            (F.col("field_path") == SEQUENTIAL_CHECK) & F.col("valid")
        ).collect()
    }
    failing = {r.k for r in seq.filter(~F.col("valid")).select("k").distinct().collect()}
    for k, t in by_key.items():
        tally = tallies.get(k)
        ok = (
            counts.get(k) == t.records
            and tally is not None
            and tally.num_messages_total == t.records
            and tally.num_validations == t.records * N_RULES
            and tally.num_errors == t.errors
            and tally.num_error_messages == t.error_messages
            and (k in passing) == t.sequential_pass
            and (k in failing) == (not t.sequential_pass)
        )
        if not ok:
            bad.add(k)
    bad |= set(counts) - set(by_key)

    expected: dict[tuple[str, str, str], float] = {}
    for t in truth:
        dims = (t.provider, t.data_type)
        for name, value in (
            ("Counts by provider and datatype", 1),
            ("Data file count by provider and datatype", 1),
            ("Valid counts by provider and datatype", t.records - t.error_messages),
            ("Invalid counts by provider and datatype", t.error_messages),
        ):
            expected[(name, *dims)] = expected.get((name, *dims), 0) + value
    got = {
        (r.metric_name, r.dim1_value, r.dim2_value): r.value
        for r in spark.read.parquet(tables["metrics"]).collect()
    }
    for (name, provider, data_type), value in expected.items():
        if got.get((name, provider, data_type)) != value:
            bad |= {t.key for t in truth
                    if (t.provider, t.data_type) == (provider, data_type)}
    return bad
