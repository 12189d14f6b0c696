"""File sources — S1-S6 (SURVEY §2.1).

The reference is fed one S3 object per Lambda invocation; here a
directory (or glob) of objects IS the source, and every per-file
behavior becomes a column computed from the hidden ``_metadata`` struct:

* S1 event decode  → file discovery by listing; the path is
  ``_metadata.file_path``, a percent-encoded URI, decoded back to the
  object's key by :func:`wholetext_lines` (the reference's unquote_plus
  at bucket_event_lambda_handler.py:18, except that ``+`` stays ``+``:
  a listed name is not form-encoded)
* S2 object stats  → ``_metadata.file_size`` / ``file_modification_time``
* S3 gzip sniff    → Spark's text reader decompresses ``.gz`` by
  extension natively; an extensionless gzip object is NOT decompressed
  (the reference sniffs magic bytes because Lambda streams have no
  names, cvp_bucket_event_lambda_handler.py:28-30)
* S4 line scan     → :func:`wholetext_lines`: one ``wholetext`` row per
  object, split into its non-blank lines (cvp…:40-64)
* S5 NDJSON parse  → ``try_parse_json`` per line into one VARIANT column
  (plans/pipeline.py), the reference's ``json.loads`` (validator.py:265)
* S6 positional CSV → explicit schema in RULE ORDER, header skipped
  (validator.py:419-442)

Scale: file listing is driver-side but parallelized by Spark's
InMemoryFileIndex. Static-prefix filtering (P4,
:func:`static_prefix_filter`) is a filter on the path column of rows
already read, and no CVP path calls it yet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..operators.validation import _lit
from .rules import RuleSet

# matches the text reader's record delimiters (\n, \r\n, bare \r)
_LINE_SPLIT = r"\r\n|\r|\n"

# a line is blank when str.strip() leaves it empty, the reference's test
# (cvp…:45,52, validator.py:394); Spark's trim removes only the space
# character. Every str.isspace() code point is in the BMP.
_NON_BLANK = "[^%s]" % "".join(
    "\\u%04x" % c for c in range(0x10000) if chr(c).isspace()
)


def wholetext_lines(text: DataFrame) -> DataFrame:
    """S3+S4 over a ``wholetext`` read, batch or streaming: one row per
    non-blank line of every file, with file provenance columns:
    (file_path, file_size, file_mtime, line_no, line). ``file_path`` is
    the object's path as the listing names it, not percent-encoded.

    line_no is the 1-based position among the file's non-blank lines —
    the reference's serial_id fallback (validator.py:398-400). Each file
    is one row; posexplode of its split lines makes within-file order
    structurally guaranteed, unlike numbering split-file partitions with
    monotonically_increasing_id, where bin-packing can reorder a large
    file's splits. No shuffle at all; the memory bound is the largest
    single file — the same bound the reference's per-object Lambda
    model assumes. A replayed micro-batch reproduces the same numbers.
    """
    # _metadata.file_path percent-encodes the key; '+' is escaped first
    # because url_decode would read it as a space
    return text.selectExpr(
        "url_decode(replace(_metadata.file_path, '+', '%2B')) AS file_path",
        "_metadata.file_size AS file_size",
        "_metadata.file_modification_time AS file_mtime",
        f"posexplode(filter(split(value, {_lit(_LINE_SPLIT)}), "
        f"x -> x RLIKE {_lit(_NON_BLANK)})) AS (pos, line)",
    ).selectExpr("file_path", "file_size", "file_mtime", "pos + 1 AS line_no", "line")


def file_lines(spark: SparkSession, path: str) -> DataFrame:
    """:func:`wholetext_lines` of every file under ``path``: the batch
    reader (the stream calls :func:`wholetext_lines` directly, so both
    turn an object into lines the same way). ``.gz`` objects are
    decompressed by extension; an extensionless gzip object is read
    as its raw bytes, so its records do not parse, where the reference
    sniffs the magic bytes (cvp_bucket_event_lambda_handler.py:28-30).

    Limit: each object is read into one row, so the largest object
    must fit in one task's memory, and one over 2 GiB uncompressed
    cannot be read at all (the whole-file reader holds it in one byte
    array) — the reference's one-Lambda-per-object run has the same
    per-object bound.
    """
    # NOTE: wholetext must be passed as the .text() kwarg — in pyspark 4
    # a prior .option("wholetext", ...) is not picked up by .text()
    return wholetext_lines(
        spark.read.option("recursiveFileLookup", "true").text(
            path, wholetext=True
        )
    )


def csv_records(
    spark: SparkSession, path: str, ruleset: RuleSet
) -> DataFrame:
    """S6: positional CSV mapped to field names BY RULE ORDER (the
    header row is skipped, not trusted — validator.py:419-432). All
    columns string-typed; rule checks cast as the reference does."""
    schema = StructType(
        [StructField(rule.path, StringType(), True) for rule in ruleset.rules]
    )
    reader = (
        spark.read.option("recursiveFileLookup", "true")
        .option("header", str(ruleset.has_header).lower())
        .schema(schema)
    )
    df = reader.csv(path)
    return df.select(
        F.col("_metadata.file_path").alias("file_path"),
        "*",
    )


def audit_csv_headers(
    spark: SparkSession, path: str, ruleset: RuleSet
) -> DataFrame:
    """S6 header audit (validator.py:434-442): compare each file's
    header — its first non-blank line, as S4 hands S6 its lines —
    case-insensitively against the rule order; one warning row per
    mismatched position. A header shorter than the rule list gives a
    row with a NULL ``header_field`` for each missing position.

    Output: (file_path, position, header_field, config_field).
    """
    headers = file_lines(spark, path).filter(F.col("line_no") == 1).select(
        "file_path", F.split("line", ",").alias("fields")
    )
    audits = []
    for i, rule in enumerate(ruleset.rules):
        header_field = F.lower(
            F.trim(F.try_element_at("fields", F.lit(i + 1)))
        )
        audits.append(
            F.when(
                ~header_field.eqNullSafe(rule.path.lower()),
                F.struct(
                    F.lit(i).alias("position"),
                    header_field.alias("header_field"),
                    F.lit(rule.path.lower()).alias("config_field"),
                ),
            )
        )
    return (
        headers.select(
            "file_path",
            F.explode(
                F.filter(F.array(*audits), lambda x: x.isNotNull())
            ).alias("a"),
        )
        .select("file_path", "a.position", "a.header_field", "a.config_field")
    )


def static_prefix_filter(df: DataFrame, prefixes: list[str], *, path_col: str = "file_path") -> DataFrame:
    """P4: keep files under one of the static prefixes AND deeper than
    prefix-depth+1 (root files ignored), replicating
    cvp_bucket_event_lambda_handler.py:244-254 on the path column."""
    p = F.col(path_col)
    conds = None
    for prefix in prefixes:
        depth_ok = (
            F.size(F.split(p, "/")) - 1 > prefix.count("/") + 1
        )
        c = p.startswith(prefix) & depth_ok
        conds = c if conds is None else conds | c
    return df.filter(conds) if conds is not None else df
