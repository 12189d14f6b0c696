"""CVP-domain queries: the reference pipeline's operator surface run
over the driver testdata (SURVEY §2.1-§2.5), each with a DuckDB oracle.

Mapping (FIXTURES.md §F6): ``events`` is the CV-record analog —
    file          = 'f' || event_id // 2000      (contiguous "files")
    serialNumber  = event_id
    bundleId      = user_id
    recordId      = props->'k'
    bundleSize    = user_id % 4 + 1
    timestamps    = ts (both recordGeneratedAt and odeReceivedAt)
    logFileName?  = event_type != 'error'
``documents`` synthesizes the file-arrival catalog (S3 keys, sizes,
mtimes) for the metadata/metrics queries (FIXTURES.md §F4).

Validation rules for events are declared in the same INI dialect the
reference uses and compiled by operators/validation.py — so these
queries exercise the real rule compiler end-to-end, and the oracle SQL
re-states the semantics independently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.metadata import file_metadata, file_metrics
from ..operators.sequential import SequentialSpec, sequential_results
from ..operators.validation import validate
from ..sources.catalog import load_table
from ..sources.rules import parse_rules_ini
from .registry import register

# ------------------------------------------------------------------ events

EVENTS_RULES_INI = """
[_settings]
DataType = json
Sequential = True

[value]
Type = decimal
UpperLimit = 450
LowerLimit = 0

[event_type]
Type = enum
Values = ["click", "view", "signup", "purchase"]

[ts]
Type = timestamp
EarliestTime = 2024-01-03T00:00:00+00:00
LatestTime = 2024-01-28T00:00:00+00:00

[props]
Type = string

[user_id]
Type = decimal
UpperLimit = 120
LowerLimit = 0
"""

N_RULES = 5


def _events_ruleset():
    return parse_rules_ini(EVENTS_RULES_INI)


def _events_with_file(
    spark: SparkSession, sf_dir: str, rebalance: bool = False
) -> DataFrame:
    # rebalance (r15): the compiled rule projection and the per-file
    # window stages otherwise inherit the scan's partitioning — ONE
    # task for the single-row-group bench file (guide §2.5 input
    # skew); no-op whenever the scan is already core-parallel.
    # r16 (VERDICT item 2): PER-CONSUMER. The driver measured the
    # blanket r15 rebalance a 38% REGRESSION on cv_validation_tallies
    # (1.809 → 2.499 s) — its first heavy stages already exchange by
    # file, so the round-robin is a pure extra shuffle before the real
    # exchange (the exact shape the r15 revenue_by_nation A/B
    # rejected). Re-A/B'd per consumer (tools/ab_cv_rebalance.py,
    # interleaved min-of-3 at 32c): identity wins or ties on
    # results/tallies/message_metrics/error_histogram/now_token/
    # chunked/gated (e.g. tallies 1.47 vs 1.98, chunked 3.40 vs 3.88);
    # only the plain sequential form keeps it (the driver measured it
    # +9% there, and the single full-width window stage is the one
    # consumer whose pre-exchange projection is heavy enough to pay).
    ev = load_table(spark, sf_dir, "events")
    if rebalance:
        from ..functions.relations import rebalance_narrow_scan

        ev = rebalance_narrow_scan(ev)
    return ev.withColumn(
        "file",
        F.concat(F.lit("f"), F.floor(F.col("event_id") / 2000).cast("string")),
    )


def _events_seq_spec() -> SequentialSpec:
    return SequentialSpec(
        file=F.col("file"),
        bundle_id=F.col("user_id"),
        serial_number=F.col("event_id"),
        record_id=F.get_json_object("props", "$.k").cast("long"),
        bundle_size=F.col("user_id") % 4 + 1,
        record_generated_at=F.col("ts"),
        ode_received_at=F.col("ts"),
        has_log_file_name=F.col("event_type") != "error",
    )


def _seq_results(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the one consumer that keeps the rebalance (see _events_with_file)
    d = _events_with_file(spark, sf_dir, rebalance=True)
    return sequential_results(d, _events_seq_spec())


# --- shared oracle fragments -------------------------------------------

_EV_SQL = """
  SELECT 'f' || CAST(event_id // 2000 AS VARCHAR) AS file,
         event_id, ts, user_id, event_type, value, props
  FROM events
"""

_PYTS = (
    "CASE WHEN strftime({c}, '%f') = '000000' "
    "THEN strftime({c}, '%Y-%m-%d %H:%M:%S') "
    "ELSE strftime({c}, '%Y-%m-%d %H:%M:%S.%f') END"
)

_RES_SQL = f"""
  SELECT file, event_id, field_path,
         details IS NULL AS valid, coalesce(details, '') AS details
  FROM (
    SELECT file, event_id, 'value' AS field_path,
      CASE WHEN value IS NULL THEN 'Field missing: value'
           WHEN CAST(value AS DECIMAL(38,10)) > 450 THEN
             printf('Value ''%d'' is greater than upper limit ''%d''',
                    CAST(TRUNC(CAST(value AS DECIMAL(38,10))) AS BIGINT), 450)
           WHEN CAST(value AS DECIMAL(38,10)) < 0 THEN
             printf('Value ''%d'' is less than lower limit ''%d''',
                    CAST(TRUNC(CAST(value AS DECIMAL(38,10))) AS BIGINT), 0)
      END AS details FROM ev
    UNION ALL
    SELECT file, event_id, 'event_type',
      CASE WHEN event_type IS NULL THEN 'Field missing: event_type'
           WHEN event_type = '' THEN 'Field empty'
           WHEN lower(event_type) NOT IN ('click','view','signup','purchase') THEN
             printf('Value ''%s'' not in list of known values: [%s]',
                    event_type, 'click, view, signup, purchase')
      END FROM ev
    UNION ALL
    SELECT file, event_id, 'ts',
      CASE WHEN ts IS NULL THEN 'Field missing: ts'
           WHEN ts < TIMESTAMP '2024-01-03 00:00:00' THEN
             printf('Timestamp value ''%s'' occurs before earliest limit ''%s''',
                    {_PYTS.format(c='ts')}, '2024-01-03 00:00:00+00:00')
           WHEN ts > TIMESTAMP '2024-01-28 00:01:00' THEN
             printf('Timestamp value ''%s'' occurs after latest limit ''%s''',
                    {_PYTS.format(c='ts')}, '2024-01-28 00:00:00+00:00')
      END FROM ev
    UNION ALL
    SELECT file, event_id, 'props',
      CASE WHEN props IS NULL THEN 'Field missing: props'
           WHEN props = '' THEN 'Field empty' END FROM ev
    UNION ALL
    SELECT file, event_id, 'user_id',
      CASE WHEN user_id IS NULL THEN 'Field missing: user_id'
           WHEN CAST(user_id AS DECIMAL(38,10)) > 120 THEN
             printf('Value ''%d'' is greater than upper limit ''%d''',
                    CAST(TRUNC(CAST(user_id AS DECIMAL(38,10))) AS BIGINT), 120)
           WHEN CAST(user_id AS DECIMAL(38,10)) < 0 THEN
             printf('Value ''%d'' is less than lower limit ''%d''',
                    CAST(TRUNC(CAST(user_id AS DECIMAL(38,10))) AS BIGINT), 0)
      END FROM ev
  )
"""

_TSSTR = "strftime({c}, '%Y-%m-%d %H:%M:%S') || '+00:00'"

def _seq_sql(
    skip_rid: str = "FALSE", skip_sn: str = "FALSE", skip_bs: str = "FALSE"
) -> str:
    """W1-W8 oracle SQL. The ``skip_*`` params are per-file boolean SQL
    aggregate expressions over ``d`` (W7 gating: any record meeting a
    skipSequentialValidation condition disables that check for the whole
    file, validator.py:110-112); the default is ungated."""
    return f"""
  WITH d AS (
    SELECT file, user_id AS bid, event_id AS sn,
           CAST(props->>'$.k' AS BIGINT) AS rid,
           user_id % 4 + 1 AS bs,
           date_trunc('second', ts) AS gen,
           date_trunc('second', ts) AS recv,
           event_type <> 'error' AS has_logf
    FROM ev
  ),
  g AS (
    SELECT *, SUM(CASE WHEN prev_bid IS NULL OR prev_bid <> bid THEN 1 ELSE 0 END)
                OVER (PARTITION BY file ORDER BY sn ROWS UNBOUNDED PRECEDING) AS grp
    FROM (SELECT *, lag(bid) OVER (PARTITION BY file ORDER BY sn) AS prev_bid FROM d)
  ),
  b AS (
    SELECT *, lag(rid) OVER wb AS prev_rid, lag(sn) OVER wb AS prev_sn,
           lag(gen) OVER wb AS prev_gen, lag(recv) OVER wb AS prev_recv,
           first_value(rid) OVER wbf AS first_rid, last_value(rid) OVER wbf AS last_rid,
           first_value(bs) OVER wbf AS first_bs, last_value(sn) OVER wbf AS last_sn,
           count(*) OVER wbf AS cnt
    FROM g
    WINDOW wb AS (PARTITION BY file, grp ORDER BY sn),
           wbf AS (PARTITION BY file, grp ORDER BY sn
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
  ),
  fs AS (
    SELECT file, {skip_rid} AS skip_rid, {skip_sn} AS skip_sn,
           {skip_bs} AS skip_bs
    FROM d GROUP BY file
  ),
  bb AS (SELECT b.*, skip_rid, skip_sn, skip_bs FROM b JOIN fs USING (file)),
  mono AS (
    SELECT file, sn, 'metadata.serialId.recordId' AS field_path,
           printf('Detected incorrectly incremented recordId. Expected recordId ''%d'' but got ''%d''',
                  prev_rid + 1, rid) AS details
    FROM bb WHERE prev_sn IS NOT NULL AND NOT skip_rid
      AND bs > 1 AND rid <> prev_rid + 1
    UNION ALL
    SELECT file, sn, 'metadata.serialId.serialNumber',
           printf('Detected incorrectly incremented serialNumber. Expected serialNumber ''%d'' but got ''%d''',
                  prev_sn + 1, sn)
    FROM bb WHERE prev_sn IS NOT NULL AND NOT skip_sn AND sn <> prev_sn + 1
    UNION ALL
    SELECT file, sn, 'metadata.recordGeneratedAt',
           printf('Detected non-chronological recordGeneratedAt. Previous timestamp was ''%s'' but current timestamp is ''%s''',
                  {_TSSTR.format(c='prev_gen')}, {_TSSTR.format(c='gen')})
    FROM bb WHERE prev_sn IS NOT NULL AND gen < prev_gen
    UNION ALL
    SELECT file, sn, 'metadata.odeReceivedAt',
           printf('Detected non-chronological odeReceivedAt. Previous timestamp was ''%s'' but current timestamp is ''%s''',
                  {_TSSTR.format(c='prev_recv')}, {_TSSTR.format(c='recv')})
    FROM bb WHERE prev_sn IS NOT NULL AND recv < prev_recv
  ),
  fullq AS (
    SELECT *, lag(bs) OVER (PARTITION BY file, grp ORDER BY sn) AS prev_bs_q
    FROM bb WHERE first_rid = 0 AND last_rid = first_bs - 1
      AND has_logf AND cnt <> bs AND NOT skip_bs
  ),
  tailq AS (
    SELECT *, lag(bs) OVER (PARTITION BY file, grp ORDER BY sn) AS prev_bs_q
    FROM bb WHERE first_rid <> 0 AND last_rid <> bs - 1 AND NOT skip_bs
  ),
  size_err AS (
    SELECT file, last_sn AS sn, 'metadata.serialId.bundleSize' AS field_path,
           printf('bundleSize doesn''t match number of records. Number of records: ''%d'' != bundlSize: ''%d''',
                  cnt, bs) AS details
    FROM fullq WHERE prev_bs_q IS NULL OR prev_bs_q <> bs
    UNION ALL
    SELECT file, last_sn, 'metadata.serialId.bundleSize',
           printf('bundleSize doesn''t match last recordId. Last recordId: ''%d'' != (bundleSize-1: ''%d'')',
                  last_rid, bs - 1)
    FROM tailq WHERE prev_bs_q IS NULL OR prev_bs_q <> bs
  ),
  seq_err AS (SELECT * FROM mono UNION ALL SELECT * FROM size_err)
  SELECT file, sn AS serial_number, field_path, false AS valid, details FROM seq_err
  UNION ALL
  SELECT file, NULL, 'SequentialCheck', true, ''
  FROM (SELECT DISTINCT file FROM d
        EXCEPT SELECT DISTINCT file FROM seq_err)
"""


_SEQ_SQL = _seq_sql()


@register(
    "cv_validation_results",
    oracle=f"""
    WITH ev AS ({_EV_SQL})
    {_RES_SQL}
    ORDER BY file, event_id, field_path
    """,
)
def cv_validation_results(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field validation over events via the compiled rule engine
    (P5-P11, long results per result.py:6-17).

    The long-form result is returned UNSORTED: a full-result global
    sort range-shuffles every row for presentation only (measured: the
    sort doubles csv_rule_validation's cost at sf0.1) — at 100 TB the
    results table sink orders within partitions at write time if a
    layout is wanted. The driver/oracle compares are order-insensitive
    by contract."""
    d = _events_with_file(spark, sf_dir)
    return validate(d, _events_ruleset(), ["file", "event_id"])


# The NOW token: ``LatestTime = NOW`` freezes the wall clock ONCE at
# rule-parse time — un-truncated, unlike explicit timestamps
# (validator.py:69-70 vs 64,73) — not per record and not per file. The
# pinned ``now`` makes the frozen instant explicit and the +1-minute
# slack (validator.py:226) lands on NOW's microseconds.
NOW_RULES_INI = """
[_settings]
DataType = json
Sequential = False

[ts]
Type = timestamp
EarliestTime = 2024-01-03T00:00:00+00:00
LatestTime = NOW
"""


@register(
    "cv_now_token_validation",
    oracle=f"""
    WITH ev AS ({_EV_SQL})
    SELECT file, event_id, 'ts' AS field_path,
           details IS NULL AS valid, coalesce(details, '') AS details
    FROM (
      SELECT file, event_id,
        CASE WHEN ts IS NULL THEN 'Field missing: ts'
             WHEN ts < TIMESTAMP '2024-01-03 00:00:00' THEN
               printf('Timestamp value ''%s'' occurs before earliest limit ''%s''',
                      {_PYTS.format(c='ts')}, '2024-01-03 00:00:00+00:00')
             WHEN ts > TIMESTAMP '2024-01-15 12:01:00.500000' THEN
               printf('Timestamp value ''%s'' occurs after latest limit ''%s''',
                      {_PYTS.format(c='ts')}, '2024-01-15 12:00:00.500000+00:00')
        END AS details FROM ev)
    ORDER BY file, event_id
    """,
)
def cv_now_token_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp rule with ``LatestTime = NOW`` frozen at parse: events
    after the frozen instant (+1 min slack) fail with the un-truncated
    NOW rendered in the message."""
    from datetime import datetime, timezone

    d = _events_with_file(spark, sf_dir)
    frozen = datetime(2024, 1, 15, 12, 0, 0, 500000, tzinfo=timezone.utc)
    ruleset = parse_rules_ini(NOW_RULES_INI, now=frozen)
    # unsorted long form — see cv_validation_results
    return validate(d, ruleset, ["file", "event_id"])


# P10-P13: the reference's hardest rule machinery — conditional if/then
# chains (first-met wins), existence-style ifParts, startsWithField and
# matchAgainst thenParts, choice rules, and .list. element expansion —
# declared in the reference INI dialect over columns synthesized from
# events (validator.py:96-170, 230-243, 304-378).
CONDITIONAL_RULES_INI = """
[_settings]
DataType = json
Sequential = False

[category]
Type = enum
Values = ["gold", "silver", "bronze"]
EqualsValue = {"conditions":[
    {"ifPart":{"fieldName":"event_type","fieldValues":["purchase"]},"thenPart":{"matchAgainst":["gold","silver"]}},
    {"ifPart":{"fieldName":"event_type","fieldValues":["click","view"]}}]}

[ref_code]
Type = string
EqualsValue = {"conditions":[
    {"ifPart":{"fieldName":"ref_code"}},
    {"ifPart":{"fieldName":"event_type","fieldValues":["signup"]},"thenPart":{"matchAgainst":["A","B"]}}]}

[label]
Type = string
EqualsValue = {"conditions":[{"ifPart":{"fieldName":"event_type","fieldValues":["purchase","signup"]},"thenPart":{"startsWithField":"event_type"}}]}

[payload]
Type = choice
Choices = ["bsm", "tim"]

[readings.list.v]
Type = decimal
UpperLimit = 600
LowerLimit = 0
"""


def _dec_check_sql(x: str, path: str) -> str:
    """Decimal-rule oracle fragment for the readings.list.v element."""
    dec = f"CAST({x} AS DECIMAL(38,10))"
    return f"""
      CASE WHEN {x} IS NULL THEN 'Field missing: {path}'
           WHEN {dec} > 600 THEN
             printf('Value ''%d'' is greater than upper limit ''%d''',
                    CAST(TRUNC({dec}) AS BIGINT), 600)
           WHEN {dec} < 0 THEN
             printf('Value ''%d'' is less than lower limit ''%d''',
                    CAST(TRUNC({dec}) AS BIGINT), 0)
      END"""


@register(
    "cv_conditional_validation",
    oracle=f"""
    WITH ev AS ({_EV_SQL}),
    r AS (
      SELECT event_id, event_type,
             CASE ((user_id % 4) + 4) % 4
               WHEN 0 THEN 'gold' WHEN 1 THEN 'silver'
               WHEN 2 THEN 'bronze' WHEN 3 THEN 'vip' END AS category,
             CASE event_id % 5 WHEN 1 THEN '' WHEN 2 THEN 'A'
               WHEN 3 THEN 'B' WHEN 4 THEN 'C' END AS ref_code,
             CASE event_id % 3 WHEN 0 THEN event_type || '_x'
               WHEN 1 THEN 'zzz' END AS label,
             CAST(event_id % 4 IN (0, 2) AS INT)
               + CAST(event_id % 4 IN (1, 2) AS INT) AS n_choices,
             coalesce(value, -1) AS v0,
             coalesce(value * 2, -1) AS v1
      FROM ev
    ),
    res AS (
      SELECT event_id, 'category' AS field_path,
        CASE WHEN event_type = 'purchase' THEN
               CASE WHEN category IS NULL THEN 'Required Field is missing.'
                    WHEN category NOT IN ('gold', 'silver') THEN
                      printf('Value of Field (''%s'') is not one of the expected values (%s)',
                             category, '[''gold'', ''silver'']')
               END
             WHEN event_type IN ('click', 'view') THEN NULL
             ELSE
               CASE WHEN category IS NULL THEN 'Field missing: category'
                    WHEN category = '' THEN 'Field empty'
                    WHEN lower(category) NOT IN ('gold', 'silver', 'bronze') THEN
                      printf('Value ''%s'' not in list of known values: [%s]',
                             category, 'gold, silver, bronze')
               END
        END AS details
      FROM r
      UNION ALL
      SELECT event_id, 'ref_code',
        CASE WHEN ref_code IS NULL OR ref_code = '' THEN NULL
             WHEN event_type = 'signup' THEN
               CASE WHEN ref_code NOT IN ('A', 'B') THEN
                 printf('Value of Field (''%s'') is not one of the expected values (%s)',
                        ref_code, '[''A'', ''B'']')
               END
             ELSE CASE WHEN ref_code IS NULL THEN 'Field missing: ref_code'
                       WHEN ref_code = '' THEN 'Field empty' END
        END
      FROM r
      UNION ALL
      SELECT event_id, 'label',
        CASE WHEN event_type IN ('purchase', 'signup') THEN
               CASE WHEN label IS NULL THEN 'Required Field is missing.'
                    WHEN NOT (event_type IS NULL OR event_type = '')
                         AND NOT starts_with(label, event_type) THEN
                      printf('Value of Field (''%s'') does not start with %s',
                             label, event_type)
               END
             ELSE CASE WHEN label IS NULL THEN 'Field missing: label'
                       WHEN label = '' THEN 'Field empty' END
        END
      FROM r
      UNION ALL
      SELECT event_id, 'payload',
        CASE WHEN n_choices = 0 THEN printf('No choices found in ''%s''', 'payload')
             WHEN n_choices > 1 THEN
               printf('Found ''%s'' choices in ''%s''',
                      CAST(n_choices AS VARCHAR), 'payload')
        END
      FROM r
      UNION ALL
      SELECT event_id, 'readings{{0}}.v',
             {_dec_check_sql('v0', 'readings{0}.v')} FROM r
      UNION ALL
      SELECT event_id, 'readings{{1}}.v',
             {_dec_check_sql('v1', 'readings{1}.v')} FROM r
    )
    SELECT event_id, field_path,
           details IS NULL AS valid, coalesce(details, '') AS details
    FROM res
    ORDER BY event_id, field_path
    """,
)
def cv_conditional_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10-P13: conditional/choice/list rules compiled to SQL expressions
    over columns synthesized from events — first-met-wins condition
    chains (validator.py:96-129), existence-style ifParts (131-148),
    matchAgainst + startsWithField thenParts (150-170), choice rules
    (230-243), and per-element .list. expansion (304-378)."""
    ev = load_table(spark, sf_dir, "events")
    m4u = F.pmod(F.col("user_id"), F.lit(4))
    category = (
        F.when(m4u == 0, "gold")
        .when(m4u == 1, "silver")
        .when(m4u == 2, "bronze")
        .when(m4u == 3, "vip")
    )
    m5 = F.col("event_id") % 5
    ref_code = (
        F.when(m5 == 1, "").when(m5 == 2, "A").when(m5 == 3, "B").when(m5 == 4, "C")
    )
    m3 = F.col("event_id") % 3
    label = F.when(m3 == 0, F.concat(F.col("event_type"), F.lit("_x"))).when(
        m3 == 1, F.lit("zzz")
    )
    m4 = F.col("event_id") % 4
    payload = F.struct(
        F.when(m4.isin(0, 2), F.lit("b")).alias("bsm"),
        F.when(m4.isin(1, 2), F.lit("t")).alias("tim"),
    )
    readings = F.array(
        F.struct(F.coalesce(F.col("value"), F.lit(-1.0)).alias("v")),
        F.struct(F.coalesce(F.col("value") * 2, F.lit(-1.0)).alias("v")),
    )
    d = ev.select(
        "event_id",
        "event_type",
        category.alias("category"),
        ref_code.alias("ref_code"),
        label.alias("label"),
        payload.alias("payload"),
        readings.alias("readings"),
    )
    # unsorted long form — see cv_validation_results
    return validate(d, parse_rules_ini(CONDITIONAL_RULES_INI), ["event_id"])


@register(
    "cv_validation_tallies",
    oracle=f"""
    WITH ev AS ({_EV_SQL}),
    res AS ({_RES_SQL}),
    seq AS ({_SEQ_SQL}),
    f AS (
      SELECT file, count(*) AS records,
             count(*) FILTER (WHERE NOT valid) AS field_errors_rows,
             count(DISTINCT event_id) FILTER (WHERE NOT valid) AS error_records
      FROM res GROUP BY file
    ),
    s AS (
      SELECT file, count(*) AS seq_rows,
             count(*) FILTER (WHERE NOT valid) AS seq_errors
      FROM seq GROUP BY file
    )
    SELECT f.file,
           records // {N_RULES} + 1 AS num_messages_total,
           records + seq_rows AS num_validations,
           field_errors_rows + seq_errors AS num_errors,
           error_records + CASE WHEN seq_errors > 0 THEN 1 ELSE 0 END
             AS num_error_messages,
           records // {N_RULES} + 1
             - (error_records + CASE WHEN seq_errors > 0 THEN 1 ELSE 0 END)
             AS num_valid_messages
    FROM f JOIN s USING (file)
    ORDER BY file
    """,
)
def cv_validation_tallies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A7: per-file tallies exactly as the reference accumulates them
    (cvp_bucket_event_lambda_handler.py:115-153) — the sequential
    result counts as one extra 'message' whose validations are the
    sequential check rows. Computed from the WIDE verdicts
    (validation_summary): one projection + one hash aggregate, no
    explode, no distinct-count."""
    return _tallies_df(spark, sf_dir)


def _tallies_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file tally frame shared by the A2 query and the A5 counters."""
    from ..operators.validation import validation_summary

    d = _events_with_file(spark, sf_dir)
    f = validation_summary(d, _events_ruleset(), "file")
    # seq_rows is the error rows, or the one all-pass row
    s = (
        sequential_results(d, _events_seq_spec())
        .groupBy("file")
        .agg(
            F.count(F.lit(1)).alias("seq_rows"),
            F.count_if(~F.col("valid")).alias("seq_errors"),
        )
    )
    seq_err_msg = F.when(F.col("seq_errors") > 0, F.lit(1)).otherwise(F.lit(0))
    return f.join(s, "file").select(
        "file",
        (F.col("records") + 1).alias("num_messages_total"),
        (F.col("num_validations") + F.col("seq_rows")).alias("num_validations"),
        (F.col("num_errors") + F.col("seq_errors")).alias("num_errors"),
        (F.col("num_error_messages") + seq_err_msg).alias("num_error_messages"),
        (
            F.col("records") + 1 - (F.col("num_error_messages") + seq_err_msg)
        ).alias("num_valid_messages"),
    )


_MSG_DIMS_SQL = """
  SELECT *,
         'provider' || CAST(CAST(substr(file, 2) AS BIGINT) % 3 AS VARCHAR)
           AS DataProvider,
         CASE WHEN CAST(substr(file, 2) AS BIGINT) % 2 = 0
              THEN 'bsm' ELSE 'tim' END AS DataType
  FROM t
"""


@register(
    "cv_message_metrics",
    oracle=f"""
    WITH ev AS ({_EV_SQL}),
    res AS ({_RES_SQL}),
    seq AS ({_SEQ_SQL}),
    f AS (
      SELECT file, count(*) AS records,
             count(DISTINCT event_id) FILTER (WHERE NOT valid) AS error_records
      FROM res GROUP BY file
    ),
    s AS (
      SELECT file, count(*) FILTER (WHERE NOT valid) AS seq_errors
      FROM seq GROUP BY file
    ),
    t AS (
      SELECT f.file,
             records // {N_RULES} + 1
               - (error_records + CASE WHEN seq_errors > 0 THEN 1 ELSE 0 END)
               AS num_valid_messages,
             error_records + CASE WHEN seq_errors > 0 THEN 1 ELSE 0 END
               AS num_error_messages
      FROM f JOIN s USING (file)
    ),
    d AS ({_MSG_DIMS_SQL}),
    g AS (
      SELECT DataProvider, DataType, count(*) AS files,
             sum(num_valid_messages) AS valid,
             sum(num_error_messages) AS invalid
      FROM d GROUP BY DataProvider, DataType
    )
    SELECT 'dot-sdc-cv-submissions-bucket-metric' AS namespace,
           m.metric_name,
           'DataProvider' AS dim1_name, DataProvider AS dim1_value,
           'DataType' AS dim2_name, DataType AS dim2_value,
           CAST(m.value AS DOUBLE) AS value, 'Count' AS unit
    FROM g, LATERAL (VALUES
      ('Counts by provider and datatype', files),
      ('Valid counts by provider and datatype', valid),
      ('Invalid counts by provider and datatype', invalid),
      ('Data file count by provider and datatype', files)
    ) AS m(metric_name, value)
    ORDER BY metric_name, dim1_value, dim2_value
    """,
)
def cv_message_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: record-level valid/invalid message counters by
    (DataProvider, DataType) — the reference's production canary
    (cvp_bucket_event_lambda_handler.py:177-221). Per-file tallies
    (A2) pick up path-token dims (P1: DataProvider/DataType are the
    2nd/3rd key segments, synthesized here from the file number), then
    one groupBy + stack() unpivot emits the four CloudWatch shapes."""
    from ..operators.metadata import message_metrics

    t = _tallies_df(spark, sf_dir)
    fnum = F.regexp_extract("file", r"^f(\d+)$", 1).cast("long")
    dims = t.select(
        "file",
        "num_valid_messages",
        "num_error_messages",
        F.concat(F.lit("provider"), (fnum % 3).cast("string")).alias(
            "DataProvider"
        ),
        F.when(fnum % 2 == 0, F.lit("bsm")).otherwise(F.lit("tim")).alias(
            "DataType"
        ),
    )
    return message_metrics(dims)


@register(
    "cv_error_histogram",
    oracle=f"""
    WITH ev AS ({_EV_SQL}),
    res AS ({_RES_SQL})
    SELECT file,
           'Invalid field ''' || field_path || ''' due to ' || details AS error_message,
           count(*) AS occurrences
    FROM res WHERE NOT valid
    GROUP BY file, error_message
    ORDER BY file, error_message
    """,
)
def cv_error_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: per-file histogram of distinct error messages
    (cvp_bucket_event_lambda_handler.py:122-135). Field-validation
    errors only — the reference would crash concatenating the
    sequential results' NULL field_path (line 131), a bug not copied."""
    res = cv_validation_results(spark, sf_dir)
    return (
        res.filter(~F.col("valid"))
        .select(
            "file",
            F.concat(
                F.lit("Invalid field '"),
                F.col("field_path"),
                F.lit("' due to "),
                F.col("details"),
            ).alias("error_message"),
        )
        .groupBy("file", "error_message")
        .agg(F.count(F.lit(1)).alias("occurrences"))
    )


@register(
    "cv_sequential_checks",
    oracle=f"""
    WITH ev AS ({_EV_SQL}),
    seq AS ({_SEQ_SQL})
    SELECT * FROM seq
    """,
)
def cv_sequential_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1-W8 over the events analog: contiguous-run bundling, monotonic
    serials/recordIds, chronological timestamps, bundle-size checks,
    per-file all-pass synthesis (odevalidator/sequential.py:14-110)."""
    return _seq_results(spark, sf_dir)


# W7: skipSequentialValidation conditions in the reference INI dialect
# (config_2.ini:74-98 declares them on rxMsg/sanitized records; here the
# ifPart keys off specific event_ids so each file gets a different gate).
GATED_SKIP_INI = """
[_settings]
DataType = json
Sequential = True

[metadata.serialId.recordId]
Type = serial
EqualsValue = {"conditions":[{"ifPart":{"fieldName":"event_id","fieldValues":["100","4100"]},"thenPart":{"skipSequentialValidation":"true"}}]}

[metadata.serialId.serialNumber]
Type = serial
EqualsValue = {"conditions":[{"ifPart":{"fieldName":"event_id","fieldValues":["2100"]},"thenPart":{"skipSequentialValidation":"true"}}]}

[metadata.serialId.bundleSize]
Type = serial
EqualsValue = {"conditions":[{"ifPart":{"fieldName":"event_id","fieldValues":["6100"]},"thenPart":{"skipSequentialValidation":"true"}}]}
"""


@register(
    "cv_sequential_checks_gated",
    oracle=f"""
    WITH ev AS ({_EV_SQL}),
    seq AS ({_seq_sql(
        skip_rid="bool_or(sn IN (100, 4100))",
        skip_sn="bool_or(sn = 2100)",
        skip_bs="bool_or(sn = 6100)",
    )})
    SELECT * FROM seq
    """,
)
def cv_sequential_checks_gated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7: skip-set gating — a record meeting a skipSequentialValidation
    condition (validator.py:110-112, 150-157) disables that check for
    its whole file. Same W1-W8 plan as cv_sequential_checks; the
    per-record skip flags come from the rule compiler and are OR-ed
    per file inside the one-shuffle window stage."""
    from ..operators.validation import skip_flag_exprs, with_rec

    ruleset = parse_rules_ini(GATED_SKIP_INI)
    d = with_rec(_events_with_file(spark, sf_dir), ruleset)
    spec = _events_seq_spec()
    spec.skip_flags = skip_flag_exprs(ruleset)
    return sequential_results(d, spec)


# ------------------------------------------------------------- files

_FILES_SQL = """
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 2 THEN 'curated' ELSE 'submissions' END AS bucket,
    CASE
      WHEN doc_id % 3 = 0 THEN
        'waze/v1/state=' || upper(lang) || '/type=' ||
        CASE WHEN doc_id % 2 = 0 THEN 'alert' ELSE 'jam' END ||
        '/table=t' || CAST(doc_id % 4 AS VARCHAR) ||
        '/part' || CAST(doc_id AS VARCHAR) || '.json'
      WHEN doc_id % 3 = 1 THEN
        'cv/' || source || '/bsm/part' || CAST(doc_id AS VARCHAR) || '.json.gz'
      ELSE
        'waze/cur/state=' || upper(lang) || '/type=' ||
        CASE WHEN doc_id % 2 = 0 THEN 'alert' ELSE 'jam' END ||
        '/table=t' || CAST(doc_id % 4 AS VARCHAR) ||
        '/part' || CAST(doc_id AS VARCHAR) || '.json'
    END AS key,
    CASE WHEN doc_id % 7 = 0 THEN 166 ELSE n_chars END AS content_length,
    TIMESTAMP '2023-01-01 00:00:00' + (doc_id % 1440) * INTERVAL 1 MINUTE
      AS last_modified,
    'application/json' AS content_type,
    md5('part' || CAST(doc_id AS VARCHAR)) AS etag
  FROM documents
"""


def _files_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic file-arrival catalog from documents (FIXTURES.md §F4)."""
    d = load_table(spark, sf_dir, "documents")
    doc = F.col("doc_id")
    state_key = F.concat(
        F.lit("state="), F.upper("lang"),
        F.lit("/type="),
        F.when(doc % 2 == 0, F.lit("alert")).otherwise(F.lit("jam")),
        F.lit("/table=t"), (doc % 4).cast("string"),
        F.lit("/part"), doc.cast("string"), F.lit(".json"),
    )
    return d.select(
        doc.alias("doc_id"),
        F.when(doc % 3 == 2, F.lit("curated"))
        .otherwise(F.lit("submissions"))
        .alias("bucket"),
        F.when(doc % 3 == 0, F.concat(F.lit("waze/v1/"), state_key))
        .when(
            doc % 3 == 1,
            F.concat(
                F.lit("cv/"), F.col("source"), F.lit("/bsm/part"),
                doc.cast("string"), F.lit(".json.gz"),
            ),
        )
        .otherwise(F.concat(F.lit("waze/cur/"), state_key))
        .alias("key"),
        F.when(doc % 7 == 0, F.lit(166))
        .otherwise(F.col("n_chars"))
        .cast("long")
        .alias("content_length"),
        F.expr(
            "timestamp '2023-01-01 00:00:00' "
            "+ make_interval(0, 0, 0, 0, 0, CAST(doc_id % 1440 AS INT), 0)"
        ).alias("last_modified"),
        F.lit("application/json").alias("content_type"),
        F.md5(F.concat(F.lit("part"), doc.cast("string"))).alias("etag"),
    )


_META_SQL = """
  SELECT key AS Key, content_length AS ContentLength,
         content_length / 1048576.0 AS SizeMiB,
         strftime(last_modified, '%Y-%m-%dT%H:%M:%S') AS LastModified,
         content_type AS ContentType, etag AS ETag,
         split_part(key, '/', 1) AS Dataset,
         'dev' AS Environment,
         CASE WHEN split_part(key, '/', 1) = 'waze'
              THEN nullif(regexp_extract(key, '/type=([^/]+)', 1), '') END
           AS TrafficType,
         CASE WHEN split_part(key, '/', 1) = 'waze'
              THEN nullif(regexp_extract(key, '/table=([^/]+)', 1), '') END
           AS TableName,
         CASE WHEN split_part(key, '/', 1) = 'waze'
              THEN nullif(regexp_extract(key, '/state=([^/]+)', 1), '') END
           AS State,
         CASE WHEN split_part(key, '/', 1) = 'cv'
              THEN split_part(key, '/', 2) END AS DataProvider,
         CASE WHEN split_part(key, '/', 1) = 'cv'
              THEN split_part(key, '/', 3) END AS DataType,
         bucket
  FROM files
"""


@register(
    "file_metadata_docs",
    oracle=f"""
    WITH files AS ({_FILES_SQL})
    SELECT Key, ContentLength, SizeMiB, LastModified, ContentType, ETag,
           Dataset, Environment, TrafficType, TableName, State,
           DataProvider, DataType
    FROM ({_META_SQL})
    ORDER BY Key
    """,
)
def file_metadata_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P3 + S2: the per-file metadata document
    (bucket_event_lambda_handler.py:41-89) over the synthetic catalog."""
    return file_metadata(_files_df(spark, sf_dir))


@register(
    "file_metrics_counters",
    oracle=f"""
    WITH files AS ({_FILES_SQL}),
    meta AS ({_META_SQL})
    SELECT * FROM (
      SELECT 'dot-sdc-waze-submissions-bucket-metric' AS namespace,
             'Counts by state and traffic type' AS metric_name,
             'State' AS dim1_name, State AS dim1_value,
             'TrafficType' AS dim2_name, TrafficType AS dim2_value,
             CAST(count(*) AS DOUBLE) AS value, 'Count' AS unit
      FROM meta WHERE bucket = 'submissions' AND Dataset = 'waze'
      GROUP BY State, TrafficType
      UNION ALL
      SELECT 'dot-sdc-waze-zero-byte-submissions-metric',
             'Zero Byte Submissions by State and traffic type',
             'State', State, 'TrafficType', TrafficType,
             CAST(count(*) AS DOUBLE), 'Count'
      FROM meta WHERE bucket = 'submissions' AND Dataset = 'waze'
        AND ContentLength = 166
      GROUP BY State, TrafficType
      UNION ALL
      SELECT 'dot-sdc-cv-submissions-bucket-metric',
             'Counts by provider and datatype',
             'DataProvider', DataProvider, 'DataType', DataType,
             CAST(count(*) * 10 AS DOUBLE), 'Count'
      FROM meta WHERE bucket = 'submissions' AND Dataset = 'cv'
      GROUP BY DataProvider, DataType
      UNION ALL
      SELECT 'dot-sdc-waze-curated-bucket-metric',
             'Counts by state and table name',
             'State', State, 'TableName', TableName,
             CAST(count(*) AS DOUBLE), 'Count'
      FROM meta WHERE bucket = 'curated' AND Dataset <> 'manifest'
      GROUP BY State, TableName
    )
    ORDER BY namespace, dim1_value, dim2_value
    """,
)
def file_metrics_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4-A6: the four CloudWatch counter shapes as one metrics table
    (bucket_event_lambda_handler.py:105-198), incl. the zero-byte
    sentinel and the reference's literal value=10 for cv file counts."""
    meta = file_metadata(_files_df(spark, sf_dir), passthrough=("bucket",))
    return file_metrics(meta)


@register(
    "url_decoded_keys",
    oracle=f"""
    WITH files AS ({_FILES_SQL})
    SELECT doc_id,
           replace(replace(
             'uploads%2F' || replace(key, '/', '%2F') || '+extra', '%2F', '/'),
             '+', ' ') AS decoded_key
    FROM files
    ORDER BY doc_id
    """,
)
def url_decoded_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: URL-unquote of object keys (unquote_plus semantics: %XX and
    '+'→space, bucket_event_lambda_handler.py:18) via Spark's built-in
    url_decode over a synthetically percent-encoded key."""
    files = _files_df(spark, sf_dir)
    encoded = F.concat(
        F.lit("uploads%2F"),
        F.replace(F.col("key"), F.lit("/"), F.lit("%2F")),
        F.lit("+extra"),
    )
    return files.select(
        "doc_id", F.url_decode(encoded).alias("decoded_key")
    )


@register(
    "events_hourly_windows",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DECIMAL(38,6)) AS DOUBLE)
             AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def events_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (the batch shape of a streaming
    windowed agg, SURVEY §2.9): per-hour per-type counts and sums."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql.types import DecimalType

    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DecimalType(18, 4)))
            .cast(DecimalType(38, 6))
            .cast("double")
            .alias("total_value"),
        )
    )


@register(
    "events_props_map",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
           count(*) FILTER (WHERE CAST(props->>'$.k' AS BIGINT) >= 50)
             AS n_high_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_props_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed semi-structured access: props JSON parsed into a
    map<string,long> column, aggregated via element_at — the
    schema-on-read path for ragged key-value payloads (vs
    get_json_object's per-key extraction)."""
    from pyspark.sql.types import LongType, MapType, StringType

    ev = load_table(spark, sf_dir, "events")
    m = F.from_json("props", MapType(StringType(), LongType()))
    k = F.element_at(m, "k")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.sum((F.col("k") >= 50).cast("long")).alias("n_high_k"),
        )
        .orderBy("event_type")
    )


def _rules_catalog_oracle() -> str:
    """The 43 expected rules_catalog rows as a static VALUES literal,
    generated from fixtures/config_2.ini by tools/gen_rules_oracle.py
    (stdlib configparser only — independent of sources/rules.py). The
    driver hash-checks the INI → RuleSet → DataFrame pipeline against
    this reviewable snapshot."""
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "fixtures",
        "rules_catalog_oracle.sql",
    )
    with open(path, encoding="utf-8") as fh:
        return fh.read()


@register("rules_catalog", oracle=_rules_catalog_oracle())
def rules_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: the declarative rule schema as a DataFrame — the reference's
    downloaded config.ini (validator.py:262-292) becomes a small
    dimension table (FIXTURES.md §F3) that the compiler consumes and
    that can be broadcast-joined or audited like any other table."""
    import json as _json

    from ..sources.rules import fixture_rules_path, load_rules_file

    ruleset = load_rules_file(fixture_rules_path("config_2.ini"))
    # values/choices are emitted as deterministic JSON strings (not
    # array columns) so the rows-only correctness canonicalizer can
    # sort/hash every cell.
    rows = [
        (
            r.path,
            r.type,
            float(r.upper_limit) if r.upper_limit is not None else None,
            float(r.lower_limit) if r.lower_limit is not None else None,
            _json.dumps(r.values) if r.values is not None else None,
            _json.dumps(r.choices) if r.choices is not None else None,
            _json.dumps(r.conditions) if r.conditions else None,
            str(r.earliest_time) if r.earliest_time else None,
            r.date_format,
            r.allow_empty,
            r.noop,
        )
        for r in ruleset.rules + ruleset.list_rules
    ]
    return spark.createDataFrame(
        rows,
        "field_path string, type string, upper_limit double, "
        "lower_limit double, values_json string, choices_json string, "
        "conditions_json string, earliest_time string, date_format string, "
        "allow_empty boolean, noop boolean",
    ).orderBy("field_path")


CSV_RULES_INI = """
[_settings]
DataType = csv
Sequential = False
HasHeader = True

[deviceid]
Type = decimal
UpperLimit = 150
LowerLimit = 1

[utc]
Type = timestamp
EarliestTime = 1995-06-01T00:00:00+00:00

[flag]
Type = decimal
UpperLimit = 10
LowerLimit = 0

[vsl_mph]
Type = decimal
UpperLimit = 45
LowerLimit = 0
"""


@register(
    "csv_rule_validation",
    oracle="""
    WITH rec AS (
      SELECT l_orderkey * 10 + l_linenumber AS rec_id,
             CAST(l_suppkey AS VARCHAR) AS deviceid,
             strftime(l_shipdate, '%Y-%m-%dT%H:%M:%SZ') AS utc,
             l_returnflag AS flag,
             CAST(l_quantity AS VARCHAR) AS vsl_mph
      FROM lineitem
    ),
    res AS (
      SELECT rec_id, 'deviceid' AS field_path,
        CASE WHEN deviceid IS NULL THEN 'Field missing: deviceid'
             WHEN deviceid = '' THEN 'Field empty'
             WHEN CAST(deviceid AS DECIMAL(38,10)) > 150 THEN
               printf('Value ''%d'' is greater than upper limit ''%d''',
                      CAST(TRUNC(CAST(deviceid AS DECIMAL(38,10))) AS BIGINT), 150)
             WHEN CAST(deviceid AS DECIMAL(38,10)) < 1 THEN
               printf('Value ''%d'' is less than lower limit ''%d''',
                      CAST(TRUNC(CAST(deviceid AS DECIMAL(38,10))) AS BIGINT), 1)
        END AS details FROM rec
      UNION ALL
      SELECT rec_id, 'utc',
        CASE WHEN utc IS NULL THEN 'Field missing: utc'
             WHEN utc = '' THEN 'Field empty'
             WHEN strptime(utc, '%Y-%m-%dT%H:%M:%SZ')
                  < TIMESTAMP '1995-06-01 00:00:00' THEN
               printf('Timestamp value ''%s'' occurs before earliest limit ''%s''',
                      strftime(strptime(utc, '%Y-%m-%dT%H:%M:%SZ'),
                               '%Y-%m-%d %H:%M:%S'),
                      '1995-06-01 00:00:00+00:00')
        END FROM rec
      UNION ALL
      SELECT rec_id, 'flag',
        CASE WHEN flag IS NULL THEN 'Field missing: flag'
             WHEN flag = '' THEN 'Field empty'
             ELSE printf('failure to perform decimal validation on %s', flag)
        END FROM rec
      UNION ALL
      SELECT rec_id, 'vsl_mph',
        CASE WHEN vsl_mph IS NULL THEN 'Field missing: vsl_mph'
             WHEN vsl_mph = '' THEN 'Field empty'
             WHEN CAST(vsl_mph AS DECIMAL(38,10)) > 45 THEN
               printf('Value ''%d'' is greater than upper limit ''%d''',
                      CAST(TRUNC(CAST(vsl_mph AS DECIMAL(38,10))) AS BIGINT), 45)
             WHEN CAST(vsl_mph AS DECIMAL(38,10)) < 0 THEN
               printf('Value ''%d'' is less than lower limit ''%d''',
                      CAST(TRUNC(CAST(vsl_mph AS DECIMAL(38,10))) AS BIGINT), 0)
        END FROM rec
    )
    SELECT rec_id, field_path, details IS NULL AS valid,
           coalesce(details, '') AS details
    FROM res
    ORDER BY rec_id, field_path
    """,
)
def csv_rule_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6+P7/P9 string-typed validation: CSV-shaped all-string records
    (synthesized from lineitem) through the same compiled rule engine —
    exercises the string→decimal parse-failure branch (the 'flag'
    column is alphabetic) and DateFormat timestamp parsing
    (validator.py:208-229, 419-432)."""
    from ..functions.relations import rebalance_narrow_scan

    # rebalance (r15): the compiled rule projection over 600k synthetic
    # CSV records otherwise runs inside the single-task scan (guide
    # §2.5 input skew; no-op on an already-parallel scan)
    li = rebalance_narrow_scan(load_table(spark, sf_dir, "lineitem"))
    rec = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("rec_id"),
        F.col("l_suppkey").cast("string").alias("deviceid"),
        F.date_format("l_shipdate", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("utc"),
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("string").alias("vsl_mph"),
    )
    ruleset = parse_rules_ini(
        CSV_RULES_INI.replace(
            "[utc]\nType = timestamp",
            "[utc]\nType = timestamp\nDateFormat = %Y-%m-%dT%H:%M:%SZ",
        )
    )
    # unsorted long form — see cv_validation_results (the sort was
    # 5 s of this query's 9.2 s at sf0.1)
    return validate(rec, ruleset, ["rec_id"])


@register(
    "events_asof_last_signup",
    oracle="""
    WITH signups AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'signup'
    )
    SELECT e.event_id, e.user_id,
           s.event_id AS signup_event_id,
           strftime(s.ts, '%Y-%m-%d %H:%M:%S.%f') AS signup_ts
    FROM events e
    ASOF LEFT JOIN signups s
      ON e.user_id = s.user_id AND e.ts >= s.ts
    ORDER BY e.event_id
    """,
)
def events_asof_last_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (point-in-time lookup): each event matched to the
    user's most recent signup at or before it — the union-and-fill
    composition in operators/joins.py (one shuffle on user_id)."""
    from ..operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", "event_id"
    )
    joined = asof_join(
        ev, signups, key_cols=["user_id"], ts_col="ts",
        value_cols=["event_id", "ts"], suffix="_s",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("event_id_s").alias("signup_event_id"),
        F.date_format("ts_s", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("signup_ts"),
    )


@register(
    "orders_status_pivot",
    oracle="""
    SELECT o_orderpriority,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS n_partial
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def orders_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot surface (SURVEY §2.4 engine-side): order counts by
    priority × status as a wide table."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .select(
            "o_orderpriority",
            F.coalesce("O", F.lit(0)).alias("n_open"),
            F.coalesce("F", F.lit(0)).alias("n_filled"),
            F.coalesce("P", F.lit(0)).alias("n_partial"),
        )
        .orderBy("o_orderpriority")
    )
