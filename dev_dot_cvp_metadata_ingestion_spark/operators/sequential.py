"""Sequential (ordering) validation — W1-W8, SURVEY §2.5.

The reference sorts a file's records by serialNumber, groups them into
bundles = maximal CONTIGUOUS runs of equal bundleId (not groups — a
bundleId reappearing later starts a new bundle, sequential.py:89-110),
then checks per-bundle monotonicity and size consistency
(sequential.py:28-86). Here that becomes pure window algebra:

* W1 sort      → Window.partitionBy(file).orderBy(serialNumber)
* W2 bundling  → lag(bundleId) change-detection + running sum
* W3/W4        → lag(recordId)/lag(serialNumber) increment checks
* W5           → second-truncated timestamp regression via lag
* W6           → windowed first/last/count per bundle; the reference's
                 "previous errored bundleSize" dedup is exactly a
                 last-over-preceding-QUALIFYING-rows window (see below)
* W7 skip-set  → per-record skip flags (from the rule compiler) OR-ed
                 per file via a window max — the reference's skip set is
                 per-file state (validator.py:110-112)
* W8 all-pass  → emitted inline: a per-file windowed error count lets
                 the first row of an error-free file emit the synthetic
                 SequentialCheck row (sequential.py:22-25)

Physical shape — ONE pass, by construction: a single hash shuffle on
``file``; every window partitions by (file) or (file, bundle_grp) — a
superset of the file clustering, so Spark re-sorts in place without a
second exchange; all six checks plus the all-pass row are emitted from
one explode of per-row verdict structs (no unions, no joins, no
re-evaluated lineage). At 1000 executors this is shuffle-minimal: the
file with the most records bounds a partition, never the corpus.

Replicated message formats (incl. the reference's 'bundlSize' typo,
sequential.py:43-49, 77, 84). Timestamps render as Python str() of an
aware UTC datetime ('YYYY-MM-DD HH:MM:SS+00:00') after second
truncation (sequential.py:32-40).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

SEQUENTIAL_CHECK = "SequentialCheck"

PATH_RECORD_ID = "metadata.serialId.recordId"
PATH_SERIAL_NUMBER = "metadata.serialId.serialNumber"
PATH_GENERATED_AT = "metadata.recordGeneratedAt"
PATH_RECEIVED_AT = "metadata.odeReceivedAt"
PATH_BUNDLE_SIZE = "metadata.serialId.bundleSize"


@dataclass
class SequentialSpec:
    """Column bindings for the sequential validator."""

    file: Column
    bundle_id: Column
    serial_number: Column
    record_id: Column
    bundle_size: Column
    record_generated_at: Column  # timestamp (already parsed)
    ode_received_at: Column
    has_log_file_name: Column  # bool: 'logFileName' present in metadata
    # per-record skip flags keyed by reference rule path (W7); OR-ed
    # per file before gating
    skip_flags: dict[str, Column] = dc_field(default_factory=dict)


def _ts_str(col: Column) -> Column:
    # Python str() of a second-truncated aware-UTC datetime
    return F.concat(F.date_format(col, "yyyy-MM-dd HH:mm:ss"), F.lit("+00:00"))


def _windowed_checks(df: DataFrame, spec: SequentialSpec):
    """The window stage: returns (d, checks) where ``d`` carries all
    lag/first/last/count/skip columns plus the per-file error count, and
    ``checks`` is the list of (field_path, serial_col, emit_cond,
    details) tuples for W3-W6."""
    d = df.select(
        spec.file.alias("file"),
        spec.bundle_id.cast("long").alias("bid"),
        spec.serial_number.cast("long").alias("sn"),
        spec.record_id.cast("long").alias("rid"),
        spec.bundle_size.cast("long").alias("bs"),
        F.date_trunc("second", spec.record_generated_at).alias("gen"),
        F.date_trunc("second", spec.ode_received_at).alias("recv"),
        spec.has_log_file_name.alias("has_logf"),
        *[
            flag.cast("boolean").alias(f"_skip_{i}")
            for i, flag in enumerate(spec.skip_flags.values())
        ],
    )
    skip_names = {p: f"_skip_{i}" for i, p in enumerate(spec.skip_flags)}

    w_file = W.partitionBy("file").orderBy("sn")
    w_file_all = W.partitionBy("file").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )

    # W2: contiguous-run bundling
    prev_bid = F.lag("bid").over(w_file)
    d = d.withColumn(
        "grp",
        F.sum(
            (prev_bid.isNull() | (prev_bid != F.col("bid"))).cast("int")
        ).over(w_file.rowsBetween(W.unboundedPreceding, W.currentRow)),
    ).withColumn("rn_file", F.row_number().over(w_file))

    # W7: per-file skip gating (any record meeting a skip condition
    # disables that check for the whole file)
    def file_skip(path: str) -> Column:
        name = skip_names.get(path)
        if name is None:
            return F.lit(False)
        return F.coalesce(
            F.max(F.col(name).cast("int")).over(w_file_all) == 1, F.lit(False)
        )

    # W3-W6 run per bundle: every window below partitions by
    # (file, grp), a superset of the file clustering above
    w_b = W.partitionBy("file", "grp").orderBy("sn")
    w_b_all = W.partitionBy("file", "grp").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    w_b_before = W.partitionBy("file", "grp").orderBy("sn").rowsBetween(
        W.unboundedPreceding, -1
    )

    d = (
        d.withColumn("prev_rid", F.lag("rid").over(w_b))
        .withColumn("prev_sn", F.lag("sn").over(w_b))
        .withColumn("prev_gen", F.lag("gen").over(w_b))
        .withColumn("prev_recv", F.lag("recv").over(w_b))
        .withColumn("first_rid", F.first("rid").over(w_b_all))
        .withColumn("last_rid", F.last("rid").over(w_b_all))
        .withColumn("first_bs", F.first("bs").over(w_b_all))
        .withColumn("last_sn", F.last("sn").over(w_b_all))
        .withColumn("cnt", F.count(F.lit(1)).over(w_b_all))
        .withColumn("skip_rid", file_skip(PATH_RECORD_ID))
        .withColumn("skip_sn", file_skip(PATH_SERIAL_NUMBER))
        .withColumn("skip_gen", file_skip(PATH_GENERATED_AT))
        .withColumn("skip_recv", file_skip(PATH_RECEIVED_AT))
        .withColumn("skip_bs", file_skip(PATH_BUNDLE_SIZE))
    )

    # W6 qualification (sequential.py:61-86). The reference emits one
    # error per run of equal bundleSize among qualifying records: its
    # prev_bundle_size tracker always equals the bundleSize of the
    # previous QUALIFYING record, so the dedup is a last() over the
    # preceding qualifying rows.
    is_full_shape = (F.col("first_rid") == 0) & (
        F.col("last_rid") == F.col("first_bs") - 1
    )
    qual_full = (
        is_full_shape
        & F.col("has_logf")
        & (F.col("cnt") != F.col("bs"))
        & ~F.col("skip_bs")
    )
    qual_tail = (
        (F.col("first_rid") != 0)
        & (F.col("last_rid") != F.col("bs") - 1)
        & ~F.col("skip_bs")
    )
    d = (
        d.withColumn("qual_full", qual_full)
        .withColumn("qual_tail", qual_tail)
        .withColumn(
            "prev_qbs_full",
            F.last(F.when(F.col("qual_full"), F.col("bs")), ignorenulls=True).over(
                w_b_before
            ),
        )
        .withColumn(
            "prev_qbs_tail",
            F.last(F.when(F.col("qual_tail"), F.col("bs")), ignorenulls=True).over(
                w_b_before
            ),
        )
    )

    has_prev = F.col("prev_sn").isNotNull()
    checks: list[tuple[str, Column, Column, Column]] = [
        # (field_path, serial_number, emit condition, details)
        (
            PATH_RECORD_ID,
            F.col("sn"),
            has_prev
            & ~F.col("skip_rid")
            & (F.col("bs") > 1)
            & (F.col("rid") != F.col("prev_rid") + 1),
            F.format_string(
                "Detected incorrectly incremented recordId. "
                "Expected recordId '%d' but got '%d'",
                F.col("prev_rid") + 1,
                F.col("rid"),
            ),
        ),
        (
            PATH_SERIAL_NUMBER,
            F.col("sn"),
            has_prev & ~F.col("skip_sn") & (F.col("sn") != F.col("prev_sn") + 1),
            F.format_string(
                "Detected incorrectly incremented serialNumber. "
                "Expected serialNumber '%d' but got '%d'",
                F.col("prev_sn") + 1,
                F.col("sn"),
            ),
        ),
        (
            PATH_GENERATED_AT,
            F.col("sn"),
            has_prev & ~F.col("skip_gen") & (F.col("gen") < F.col("prev_gen")),
            F.format_string(
                "Detected non-chronological recordGeneratedAt. Previous "
                "timestamp was '%s' but current timestamp is '%s'",
                _ts_str(F.col("prev_gen")),
                _ts_str(F.col("gen")),
            ),
        ),
        (
            PATH_RECEIVED_AT,
            F.col("sn"),
            has_prev & ~F.col("skip_recv") & (F.col("recv") < F.col("prev_recv")),
            F.format_string(
                "Detected non-chronological odeReceivedAt. Previous "
                "timestamp was '%s' but current timestamp is '%s'",
                _ts_str(F.col("prev_recv")),
                _ts_str(F.col("recv")),
            ),
        ),
        (
            PATH_BUNDLE_SIZE,
            F.col("last_sn"),
            F.col("qual_full")
            & (
                F.col("prev_qbs_full").isNull()
                | (F.col("prev_qbs_full") != F.col("bs"))
            ),
            F.format_string(
                "bundleSize doesn't match number of records. "
                "Number of records: '%d' != bundlSize: '%d'",
                F.col("cnt"),
                F.col("bs"),
            ),
        ),
        (
            PATH_BUNDLE_SIZE,
            F.col("last_sn"),
            F.col("qual_tail")
            & (
                F.col("prev_qbs_tail").isNull()
                | (F.col("prev_qbs_tail") != F.col("bs"))
            ),
            F.format_string(
                "bundleSize doesn't match last recordId. "
                "Last recordId: '%d' != (bundleSize-1: '%d')",
                F.col("last_rid"),
                F.col("bs") - 1,
            ),
        ),
    ]
    d = d.withColumn(
        "file_err_cnt", F.sum(_row_error_count(checks)).over(w_file_all)
    )
    return d, checks


def _row_error_count(checks) -> Column:
    """Per-row EMITTED-error count: the sum of the W3-W6 emit flags.
    Each flag is null-coalesced to false BEFORE the cast — the emit
    filter already treats NULL as not-emitted, and one NULL condition
    (e.g. a NULL bundleSize making ``bs > 1`` NULL) must not poison
    the row's whole sum to NULL, which would silently drop the row's
    OTHER emitted errors from file_err_cnt and let an erroring file
    also emit the W8 all-pass row (r14 session review finding)."""
    err = None
    for _, _, cond, _ in checks:
        c = F.coalesce(cond, F.lit(False)).cast("int")
        err = c if err is None else err + c
    return err


def sequential_results(df: DataFrame, spec: SequentialSpec) -> DataFrame:
    """Long-format sequential validation results:
    (file, serial_number, field_path, valid, details).

    Error rows carry the triggering record's serialNumber (W3-W5) or the
    bundle's last serialNumber (W6), mirroring which serialId the
    reference attaches (sequential.py:43-49 vs 77/84). Files with zero
    errors emit one synthetic (file, NULL, 'SequentialCheck', true, '')
    row (W8). A file's result-row count is therefore its error count,
    or 1 when it has none — validate_queue's count
    (sequential.py:22-25)."""
    d, checks = _windowed_checks(df, spec)

    # W8: the first row of an error-free file emits the all-pass row —
    # inline, so the whole operator is one explode with no unions/joins
    verdicts = F.array(
        *[
            F.struct(
                F.lit(path).alias("field_path"),
                F.when(cond, sn).alias("serial_number"),
                F.lit(False).alias("valid"),
                cond.alias("emit"),
                details.alias("details"),
            )
            for path, sn, cond, details in checks
        ],
        F.struct(
            F.lit(SEQUENTIAL_CHECK).alias("field_path"),
            F.lit(None).cast("long").alias("serial_number"),
            F.lit(True).alias("valid"),
            ((F.col("file_err_cnt") == 0) & (F.col("rn_file") == 1)).alias("emit"),
            F.lit("").alias("details"),
        ),
    )
    return (
        d.select("file", F.explode(verdicts).alias("v"))
        .filter(F.col("v.emit"))
        .select(
            "file",
            F.col("v.serial_number").alias("serial_number"),
            F.col("v.field_path").alias("field_path"),
            F.col("v.valid").alias("valid"),
            F.col("v.details").alias("details"),
        )
    )

