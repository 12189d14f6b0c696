"""Sequential (ordering) validation — W1-W8, SURVEY §2.5.

The reference sorts a file's records by serialNumber, groups them into
bundles = maximal CONTIGUOUS runs of equal bundleId (not groups — a
bundleId reappearing later starts a new bundle, sequential.py:89-110),
then checks per-bundle monotonicity and size consistency
(sequential.py:28-86). Here that becomes window SQL. Like the rules
(operators/validation.py), the checks are SQL text built driver-side in
pure Python: one ``selectExpr`` projects the fields a
:class:`SequentialSpec` binds, and one ``spark.sql`` statement over it,
a chain of CTEs over named ``WINDOW``s, computes W1-W8.

* W1 sort      → every window orders by serial number within ``file``
* W2 bundling  → lag(bid) change detection + running sum → ``grp``
* W3/W4        → lag(rid)/lag(sn) increment checks
* W5           → second-truncated timestamp regression via lag
* W6           → first/last/count per bundle; the reference's
                 "previous errored bundleSize" dedup is exactly a
                 last-over-preceding-QUALIFYING-rows window (see below)
* W7 skip-set  → per-record skip flags (from the rule compiler) OR-ed
                 per file by a window ``bool_or`` — the reference's skip
                 set is per-file state (validator.py:110-112)
* W8 all-pass  → emitted inline: a per-file windowed error count lets
                 the first row of an error-free file emit the synthetic
                 SequentialCheck row (sequential.py:22-25)

Physical shape — ONE pass, by construction: a single hash shuffle on
``file``; every window partitions by (file) or (file, grp) — a superset
of the file clustering, so Spark re-sorts in place without a second
exchange; all six checks plus the all-pass row are emitted from one
explode of per-row verdict structs (no unions, no joins). The file with
the most records bounds a partition, never the corpus.

Replicated message formats (incl. the reference's 'bundlSize' typo,
sequential.py:43-49, 77, 84). Timestamps render as Python str() of an
aware UTC datetime ('YYYY-MM-DD HH:MM:SS+00:00') after second
truncation (sequential.py:32-40). ``prev + 1`` and ``bundleSize - 1``
are computed in DECIMAL(20,0), as exactly as Python ints: an id at the
end of the BIGINT range compares and prints right instead of
overflowing, which under ANSI mode would abort the whole sweep.

Deviation: a record timestamp that does not parse reads as NULL
(``try_to_timestamp``), so its W5 comparisons emit nothing; its
timestamp rule still reports it. In the reference, dateutil raises and
that object's Lambda fails.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame

from ..sources.rules import RuleSet
from .validation import REC, _lit, skip_flag_exprs

SEQUENTIAL_CHECK = "SequentialCheck"

PATH_RECORD_ID = "metadata.serialId.recordId"
PATH_SERIAL_NUMBER = "metadata.serialId.serialNumber"
PATH_GENERATED_AT = "metadata.recordGeneratedAt"
PATH_RECEIVED_AT = "metadata.odeReceivedAt"
PATH_BUNDLE_SIZE = "metadata.serialId.bundleSize"
PATH_BUNDLE_ID = "metadata.serialId.bundleId"
PATH_LOG_FILE_NAME = "metadata.logFileName"


@dataclass
class SequentialSpec:
    """SQL expressions, over the input frame's columns, for the fields
    the sequential validator reads."""

    file: str
    bundle_id: str
    serial_number: str
    record_id: str
    bundle_size: str
    record_generated_at: str  # timestamp (already parsed)
    ode_received_at: str
    has_log_file_name: str  # boolean: 'logFileName' present in metadata
    # per-record boolean skip flags keyed by reference rule path (W7);
    # OR-ed per file before gating
    skip_flags: dict[str, str] = dc_field(default_factory=dict)


def _get(path: str, type_: str = "bigint") -> str:
    # NULL when absent, a JSON null, or not of the type
    return f"try_variant_get({REC}, '$.{path}', '{type_}')"


def _timestamp(path: str) -> str:
    # NULL when the text does not parse (see the module docstring)
    return f"try_to_timestamp(regexp_replace({_get(path, 'string')}, 'Z$', '+00:00'))"


def record_spec(ruleset: RuleSet) -> SequentialSpec:
    """The bindings for records held in the VARIANT ``rec`` with their
    object's path in ``file_path`` (plans/pipeline.py:cv_records), and
    the ruleset's skip flags."""
    return SequentialSpec(
        file="file_path",
        bundle_id=_get(PATH_BUNDLE_ID),
        serial_number=_get(PATH_SERIAL_NUMBER),
        record_id=_get(PATH_RECORD_ID),
        bundle_size=_get(PATH_BUNDLE_SIZE),
        record_generated_at=_timestamp(PATH_GENERATED_AT),
        ode_received_at=_timestamp(PATH_RECEIVED_AT),
        has_log_file_name=f"{_get(PATH_LOG_FILE_NAME, 'string')} IS NOT NULL",
        skip_flags=skip_flag_exprs(ruleset),
    )


def _exact(expr: str, delta: str) -> str:
    # BIGINT ± 1 without overflow
    return f"(CAST({expr} AS DECIMAL(20,0)) {delta})"


def _ts_str(col: str) -> str:
    # Python str() of a second-truncated aware-UTC datetime
    return f"concat(date_format({col}, 'yyyy-MM-dd HH:mm:ss'), '+00:00')"


def _message(text: str, *args: str) -> str:
    return f"format_string({_lit(text)}, {', '.join(args)})"


# (field_path, serial number, emit condition, details) for W3-W6
_CHECKS = [
    (
        PATH_RECORD_ID,
        "sn",
        f"prev_sn IS NOT NULL AND NOT skip_rid AND bs > 1 "
        f"AND rid <> {_exact('prev_rid', '+ 1')}",
        _message(
            "Detected incorrectly incremented recordId. "
            "Expected recordId '%s' but got '%d'",
            f"CAST({_exact('prev_rid', '+ 1')} AS STRING)", "rid",
        ),
    ),
    (
        PATH_SERIAL_NUMBER,
        "sn",
        f"prev_sn IS NOT NULL AND NOT skip_sn AND sn <> {_exact('prev_sn', '+ 1')}",
        _message(
            "Detected incorrectly incremented serialNumber. "
            "Expected serialNumber '%s' but got '%d'",
            f"CAST({_exact('prev_sn', '+ 1')} AS STRING)", "sn",
        ),
    ),
    (
        PATH_GENERATED_AT,
        "sn",
        "prev_sn IS NOT NULL AND NOT skip_gen AND gen < prev_gen",
        _message(
            "Detected non-chronological recordGeneratedAt. Previous "
            "timestamp was '%s' but current timestamp is '%s'",
            _ts_str("prev_gen"), _ts_str("gen"),
        ),
    ),
    (
        PATH_RECEIVED_AT,
        "sn",
        "prev_sn IS NOT NULL AND NOT skip_recv AND recv < prev_recv",
        _message(
            "Detected non-chronological odeReceivedAt. Previous "
            "timestamp was '%s' but current timestamp is '%s'",
            _ts_str("prev_recv"), _ts_str("recv"),
        ),
    ),
    (
        PATH_BUNDLE_SIZE,
        "last_sn",
        "qual_full AND (prev_qbs_full IS NULL OR prev_qbs_full <> bs)",
        _message(
            "bundleSize doesn't match number of records. "
            "Number of records: '%d' != bundlSize: '%d'",
            "cnt", "bs",
        ),
    ),
    (
        PATH_BUNDLE_SIZE,
        "last_sn",
        "qual_tail AND (prev_qbs_tail IS NULL OR prev_qbs_tail <> bs)",
        _message(
            "bundleSize doesn't match last recordId. "
            "Last recordId: '%d' != (bundleSize-1: '%s')",
            "last_rid", f"CAST({_exact('bs', '- 1')} AS STRING)",
        ),
    ),
]


def _verdict(path: str, sn: str, valid: str, emit: str, details: str) -> str:
    return (
        f"named_struct('field_path', {_lit(path)}, 'serial_number', {sn}, "
        f"'valid', {valid}, 'emit', {emit}, 'details', {details})"
    )


# W7: the checks a skip flag can gate, by the short name of its columns
_SKIPPABLE = {
    PATH_RECORD_ID: "rid",
    PATH_SERIAL_NUMBER: "sn",
    PATH_GENERATED_AT: "gen",
    PATH_RECEIVED_AT: "recv",
    PATH_BUNDLE_SIZE: "bs",
}


def _sequential_sql() -> str:
    """The W1-W8 statement over the view ``{d}`` of the fields that
    :func:`sequential_results` projects."""
    # W7: any record meeting a skip condition disables that check for
    # the whole file
    file_skips = ",\n    ".join(
        f"coalesce(bool_or(flag_{c}) OVER wf_all, false) AS skip_{c}"
        for c in _SKIPPABLE.values()
    )
    err_cnt = " + ".join(
        f"CAST(coalesce({cond}, false) AS INT)" for _, _, cond, _ in _CHECKS
    )
    verdicts = ",\n    ".join([
        *[
            _verdict(path, f"CASE WHEN {cond} THEN {sn} END", "false", cond, details)
            for path, sn, cond, details in _CHECKS
        ],
        _verdict(SEQUENTIAL_CHECK, "CAST(NULL AS BIGINT)", "true",
                 "file_err_cnt = 0 AND rn_file = 1", "''"),
    ])
    return f"""
-- W2: contiguous-run bundling. W3-W6 run per bundle: every window on
-- (file, grp) is a superset of the file clustering
WITH runs AS (
  SELECT *, lag(bid) OVER wf AS prev_bid, row_number() OVER wf AS rn_file
  FROM {{d}}
  WINDOW wf AS (PARTITION BY file ORDER BY sn)
),
g AS (
  SELECT *,
    sum(CAST(prev_bid IS NULL OR prev_bid <> bid AS INT)) OVER wf_run AS grp
  FROM runs
  WINDOW wf_run AS (PARTITION BY file ORDER BY sn
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
b AS (
  SELECT *,
    lag(rid) OVER wb AS prev_rid, lag(sn) OVER wb AS prev_sn,
    lag(gen) OVER wb AS prev_gen, lag(recv) OVER wb AS prev_recv,
    first(rid) OVER wb_all AS first_rid, last(rid) OVER wb_all AS last_rid,
    first(bs) OVER wb_all AS first_bs, last(sn) OVER wb_all AS last_sn,
    count(1) OVER wb_all AS cnt,
    {file_skips}
  FROM g
  WINDOW wb AS (PARTITION BY file, grp ORDER BY sn),
         wb_all AS (PARTITION BY file, grp ORDER BY sn
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
         wf_all AS (PARTITION BY file
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
),
-- W6 qualification (sequential.py:61-86). The reference emits one
-- error per run of equal bundleSize among qualifying records: its
-- prev_bundle_size tracker always equals the bundleSize of the
-- previous QUALIFYING record, so the dedup is a last() over the
-- preceding qualifying rows.
qual AS (
  SELECT *,
    first_rid = 0 AND last_rid = {_exact("first_bs", "- 1")} AND has_logf
      AND cnt <> bs AND NOT skip_bs AS qual_full,
    first_rid <> 0 AND last_rid <> {_exact("bs", "- 1")} AND NOT skip_bs AS qual_tail
  FROM b
),
q AS (
  SELECT *,
    last(CASE WHEN qual_full THEN bs END, true) OVER wb_before AS prev_qbs_full,
    last(CASE WHEN qual_tail THEN bs END, true) OVER wb_before AS prev_qbs_tail
  FROM qual
  WINDOW wb_before AS (PARTITION BY file, grp ORDER BY sn
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
-- W8's per-file count of EMITTED errors: a NULL condition counts as
-- not emitted, so it cannot make the sum NULL and let an erroring file
-- also emit the all-pass row
e AS (
  SELECT *, sum({err_cnt}) OVER wf_all AS file_err_cnt
  FROM q
  WINDOW wf_all AS (PARTITION BY file
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT file, v.serial_number, v.field_path, v.valid, v.details
FROM (
  SELECT file, explode(array(
    {verdicts}
  )) AS v
  FROM e
)
WHERE v.emit
"""


_SEQUENTIAL_SQL = _sequential_sql()


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
    # the spec's SQL, which carries INI values, goes in as expressions,
    # never into the formatted statement. spark.sql drops the view it
    # makes of ``fields`` when done, and dropping a view uncaches the
    # plan it names: a view of ``df`` itself would uncache a persisted
    # ``df``.
    fields = df.selectExpr(
        f"{spec.file} AS file",
        f"CAST({spec.bundle_id} AS BIGINT) AS bid",
        f"CAST({spec.serial_number} AS BIGINT) AS sn",
        f"CAST({spec.record_id} AS BIGINT) AS rid",
        f"CAST({spec.bundle_size} AS BIGINT) AS bs",
        f"date_trunc('SECOND', {spec.record_generated_at}) AS gen",
        f"date_trunc('SECOND', {spec.ode_received_at}) AS recv",
        f"{spec.has_log_file_name} AS has_logf",
        *[
            f"CAST({spec.skip_flags.get(path, 'false')} AS BOOLEAN) AS flag_{c}"
            for path, c in _SKIPPABLE.items()
        ],
    )
    return df.sparkSession.sql(_SEQUENTIAL_SQL, d=fields)
