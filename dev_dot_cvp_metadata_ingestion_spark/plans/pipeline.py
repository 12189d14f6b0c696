"""End-to-end CVP pipeline (SURVEY §3.4) — the batch replacement for
the reference's per-file Lambda: directory in → four tables out.

    records     = scan (S3-S4) + provenance + the VARIANT ``rec`` [persisted]
    validation  = rule validation (one compiled SQL select)    [persisted]
    sequential  = ordering checks over records (one compiled SQL
                  statement of per-file windows)
    tallies     = per-file A2 aggregates over validation (file_tallies)
    file_counts = per-file record counts (A1) over records

The metadata documents and CloudWatch counter shapes (A4-A6) come from
operators/metadata.py over the file listing and these tallies.

Each line is parsed once, into one VARIANT column that the rules and
the sequential fields read by JSON path: no pass infers a schema, and
no file can change another file's verdicts. Which JSON paths feed the
sequential checks is known to operators/sequential.py alone
(``record_spec``).

Every frame reaches the JVM as SQL text built in pure Python, so the
whole build is about a hundred py4j calls however many rules the INI
declares.

The input is read and parsed, and the rules evaluated, once: ``records``
and ``validation`` are persisted (lazily, MEMORY_AND_DISK), so the four
table writes read the cache instead of re-running the lineage from the
files. The only shuffles are the per-file window (sequential) and the
per-file aggregates. ``PipelineResult.unpersist`` releases the cache
once the caller is done with the frames.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark import StorageLevel, inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sequential import record_spec, sequential_results
from ..operators.validation import REC, validate
from ..sources.files import file_lines
from ..sources.rules import RuleSet


@dataclass
class PipelineResult:
    records: DataFrame
    validation: DataFrame  # long field results
    sequential: DataFrame  # long sequential results
    tallies: DataFrame  # per-file A2
    file_counts: DataFrame  # per-file record counts (A1)
    # the persisted frames the others read; released by unpersist()
    persisted: tuple[DataFrame, ...] = ()

    def unpersist(self) -> None:
        """Drop the cached records and verdicts, dependents first."""
        for df in reversed(self.persisted):
            df.unpersist()


def require_json(ruleset: RuleSet) -> None:
    """Refuse a rule file whose lines are not NDJSON records: parsing a
    CSV line as JSON would read every field as missing."""
    if ruleset.data_type != "json":
        raise ValueError(
            f"DataType = {ruleset.data_type} is not supported by the CVP "
            "pipeline; only DataType = json rule files can run"
        )


def cv_records(lines: DataFrame) -> DataFrame:
    """Lines (batch or streaming) to records: provenance, ``record_uid``
    and the VARIANT ``rec``.

    ``record_uid`` is the file's 1-based non-blank line number — the
    reference's own serial fallback (validator.py:398-400). It is
    DETERMINISTIC under stage retry and micro-batch replay (derived
    structurally from the line position, never from
    monotonically_increasing_id, whose values change when a
    shuffle-map stage is recomputed — SPARK-23207 class), and unique
    within a file; every aggregate over it also groups by
    ``file_path``.

    ``rec`` is ``try_parse_json(line)``: a malformed line parses to
    NULL, so each of its rules reads "Field missing"; a repeated key
    keeps its last value (``get_spark`` allows duplicate keys).
    """
    return lines.selectExpr(
        "file_path",
        "file_size",
        "file_mtime",
        "line_no AS record_uid",
        f"try_parse_json(line) AS {REC}",
    )


def file_counts(records: DataFrame) -> DataFrame:
    """A1: per-file record counts (``file_path``, ``MessageCount``)."""
    return records.groupBy("file_path").agg(F.expr("count(1) AS MessageCount"))


def file_tallies(validation: DataFrame) -> DataFrame:
    """A2: per-file tallies over the long validation rows
    (cvp_bucket_event_lambda_handler.py:115-153): ``file_path``,
    ``num_messages_total``, ``num_validations``, ``num_errors``,
    ``num_error_messages`` and ``num_valid_messages``. Every verdict
    row counts, list-rule rows included."""
    return validation.sparkSession.sql(
        """
        SELECT *, num_messages_total - num_error_messages AS num_valid_messages
        FROM (
          SELECT file_path,
                 count(DISTINCT record_uid) AS num_messages_total,
                 count(1) AS num_validations,
                 sum(CAST(NOT valid AS BIGINT)) AS num_errors,
                 count(DISTINCT CASE WHEN NOT valid THEN record_uid END)
                   AS num_error_messages
          FROM {v} GROUP BY file_path
        )
        """,
        # a view of the columns read, not of ``validation``: dropping a
        # view of a persisted frame uncaches it (see sequential_results)
        v=validation.selectExpr("file_path", "record_uid", "valid"),
    )


def run_cv_pipeline(
    spark: SparkSession,
    input_dir: str,
    ruleset: RuleSet,
    schema=None,  # unused; perfbench/run.py still passes it positionally
) -> PipelineResult:
    """Batch pipeline over a directory of NDJSON CV files; records are
    built by :func:`cv_records` over :func:`file_lines`, as the stream
    builds them. Each object is read whole, so the largest object must
    fit in one task (see :func:`file_lines`).

    ``records`` and ``validation`` come back persisted; call
    :meth:`PipelineResult.unpersist` when done with the result.
    """
    require_json(ruleset)
    records = cv_records(file_lines(spark, input_dir)).persist(
        StorageLevel.MEMORY_AND_DISK
    )

    validation = validate(records, ruleset, ["file_path", "record_uid"]).persist(
        StorageLevel.MEMORY_AND_DISK
    )

    sequential = (
        sequential_results(records, record_spec(ruleset))
        if ruleset.sequential
        else spark.createDataFrame(
            [],
            "file string, serial_number long, field_path string, "
            "valid boolean, details string",
        )
    )

    return PipelineResult(
        records=records,
        validation=validation,
        sequential=sequential,
        tallies=file_tallies(validation),
        file_counts=file_counts(records),
        persisted=(records, validation),
    )


def observe_pipeline(
    result: PipelineResult,
) -> tuple[PipelineResult, dict[str, "Observation"]]:
    """S10 log sink, Spark-first: the reference logs per-file progress
    and error counts to CloudWatch Logs as it iterates records
    (common/logger_utility.py:6-43, validator.py:392-393). The Spark
    replacement is the ``Observation`` API — named aggregate metrics
    that ride the EXISTING actions (writes), costing zero extra jobs,
    instead of separate ``count()`` jobs or driver-side loops.

    Returns a result whose ``validation`` / ``records`` frames are
    observed plus the Observation handles. An Observation only fires
    when its OWN node executes, so ``file_counts`` is rebuilt from the
    observed records frame — ``write_tables`` on the returned result
    then triggers both observations with no extra action. Use
    :func:`log_progress` to render them as the reference's log lines.
    """
    from pyspark.sql import Observation

    obs_records = Observation("cv_records")
    obs_validation = Observation("cv_validation")
    records = result.records.observe(
        obs_records,
        F.expr("count(1) AS n_records"),
        F.expr("approx_count_distinct(file_path) AS n_files"),
    )
    validation = result.validation.observe(
        obs_validation,
        F.expr("count(1) AS n_validations"),
        F.expr("sum(CAST(NOT valid AS BIGINT)) AS n_errors"),
    )
    observed = PipelineResult(
        records=records,
        validation=validation,
        sequential=result.sequential,
        tallies=result.tallies,
        file_counts=file_counts(records),
        persisted=result.persisted,
    )
    return observed, {"records": obs_records, "validation": obs_validation}


def log_progress(observations: dict, logger=None) -> dict[str, dict]:
    """Render observed pipeline counters as the reference's progress
    log lines (logger_utility.py:24-43). Call AFTER an action has run
    on the observed frames; blocks until the metrics are available."""
    import logging

    log = logger or logging.getLogger("cv_pipeline")
    metrics = {name: dict(obs.get) for name, obs in observations.items()}
    for name, vals in metrics.items():
        log.info("pipeline progress %s: %s", name, vals)
    return metrics


def write_tables(result: PipelineResult, out_dir: str) -> dict[str, str]:
    """S8/S9 as tables: the reference's Elasticsearch index and
    CloudWatch puts become parquet tables — idempotent re-runs
    overwrite per path.

    The four writes run concurrently from a pool of four threads, each
    job named ``write_tables:<table>``: where a job is one task (one
    giant object) the others fill the idle cores. All four share the
    persisted lineage, so none re-reads the input. A failed write's
    error is raised once every write has finished.

    Returns {table_name: path}.
    """
    spark = result.records.sparkSession

    def write(name: str, df: DataFrame) -> str:
        spark.sparkContext.setJobDescription(f"write_tables:{name}")
        path = f"{out_dir}/{name}"
        df.write.mode("overwrite").parquet(path)
        return path

    tables = {
        "validation_results": result.validation,
        "sequential_results": result.sequential,
        "file_tallies": result.tallies,
        "file_counts": result.file_counts,
    }
    with ThreadPoolExecutor(max_workers=len(tables)) as pool:
        # wrapped once per write: each wrapper hands its thread its own
        # copy of the caller's job-local properties. A shared copy would
        # let the writes overwrite each other's job description and nest
        # their SQL executions under the first one.
        futures = {
            name: pool.submit(inheritable_thread_target(spark)(write), name, df)
            for name, df in tables.items()
        }
    return {name: f.result() for name, f in futures.items()}
