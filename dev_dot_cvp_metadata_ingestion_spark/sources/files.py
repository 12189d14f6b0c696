"""File sources — S1-S6 (SURVEY §2.1).

The reference is fed one S3 object per Lambda invocation; here a
directory (or glob) of objects IS the source, and every per-file
behavior becomes a column computed from the hidden ``_metadata`` struct:

* S1 event decode  → file discovery; path from ``_metadata.file_path``
  (URL-unquote applied, matching unquote_plus at
  bucket_event_lambda_handler.py:18)
* S2 object stats  → ``_metadata.file_size`` / ``file_modification_time``
* S3 gzip sniff    → Spark's text/json readers decompress ``.gz`` by
  extension natively (the reference sniffs magic bytes because Lambda
  streams have no names, cvp_bucket_event_lambda_handler.py:28-30)
* S4 line scan     → ``spark.read.text`` + blank-line filter
  (cvp…:40-64)
* S5 NDJSON parse  → ``try_parse_json`` per line into one VARIANT column
  (plans/pipeline.py), the reference's ``json.loads`` (validator.py:265)
* S6 positional CSV → explicit schema in RULE ORDER, header skipped
  (validator.py:419-442)

Scale: file listing is driver-side but parallelized by Spark's
InMemoryFileIndex; static-prefix filtering (P4) is applied as a
``pathGlobFilter``/filter on the path column so partition pruning can
skip directories before any read.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from .rules import RuleSet

# matches the text reader's record delimiters (\n, \r\n, bare \r)
_LINE_SPLIT = r"\r\n|\r|\n"


def split_lines(text: Column) -> Column:
    """posexplode of a wholetext ``value`` into its non-blank lines, as
    (pos, line) with a 0-based ``pos``: the line split shared by the
    batch (:func:`file_lines`) and streaming wholetext reads."""
    return F.posexplode(
        F.filter(F.split(text, _LINE_SPLIT), lambda x: F.trim(x) != "")
    ).alias("pos", "line")


def file_lines(
    spark: SparkSession,
    path: str,
    *,
    recursive: bool = True,
) -> DataFrame:
    """S3+S4: one row per non-blank line of every file under ``path``
    (gz transparently decompressed), with file provenance columns:
    (file_path, file_size, file_mtime, line_no, line).

    line_no is the 1-based position among the file's non-blank lines —
    the reference's serial_id fallback (validator.py:398-400). Read with
    ``wholetext`` (one row per file) + posexplode of the split lines:
    within-file order is then structurally guaranteed, unlike numbering
    split-file partitions with monotonically_increasing_id, where
    bin-packing can reorder a large file's splits. No shuffle at all;
    the memory bound is the largest single file — the same bound the
    reference's per-object Lambda model assumes. For unbounded object
    sizes use :func:`file_lines_chunked`, which reads split blocks in
    parallel and bounds memory by the block size instead.
    """
    # NOTE: wholetext must be passed as the .text() kwarg — in pyspark 4
    # a prior .option("wholetext", ...) is not picked up by .text()
    return (
        spark.read.option("recursiveFileLookup", str(recursive).lower())
        .text(path, wholetext=True)
        .select(
            F.col("_metadata.file_path").alias("file_path"),
            F.col("_metadata.file_size").alias("file_size"),
            F.col("_metadata.file_modification_time").alias("file_mtime"),
            split_lines(F.col("value")),
        )
        .select(
            "file_path",
            "file_size",
            "file_mtime",
            (F.col("pos") + 1).alias("line_no"),
            "line",
        )
    )


def file_lines_chunked(
    spark: SparkSession,
    path: str,
    *,
    recursive: bool = True,
) -> DataFrame:
    """Chunk-safe S3+S4: same output as :func:`file_lines` — one row
    per non-blank line with 1-based per-file ``line_no`` — WITHOUT
    ``wholetext``. Files larger than ``spark.sql.files.
    maxPartitionBytes`` read as multiple parallel block splits, so
    executor memory is bounded by the BLOCK size, not the largest
    object; this is the path that survives unbounded object sizes at
    100 TB (the wholetext form's bound is the largest single file).

    Per-file line numbers are recovered from the block structure with
    no shuffle of the text itself:

    1. a JVM-only scan counts non-blank lines per (file, block) — a
       map-side-combined aggregate whose output is one tiny row per
       ~128 MB block (~1 row per block: 100 TB ≈ 800k rows);
    2. a window over those counts (partitioned by file, ordered by
       ``_metadata.file_block_start``) gives each block its cumulative
       line offset;
    3. an Arrow-batched ``mapInPandas`` pass assigns within-block
       positions with a running counter — genuinely imperative (row
       order within a split is not expressible as a Column), and the
       ONLY Python in the path;
    4. the offsets broadcast-join back on (file, block) and
       ``line_no = offset + within_block_pos``.

    Blocks are well-defined split units: Hadoop's line reader skips
    the first partial line of a non-initial block and reads past the
    block end to finish its last line, so every line belongs to
    exactly one block and both scans see identical assignment. Gzip
    objects are unsplittable (one block) but stream-decompress line
    by line — still never a whole-object row.
    """
    from pyspark.sql.functions import broadcast

    raw = (
        spark.read.option("recursiveFileLookup", str(recursive).lower())
        .text(path)
        .select(
            F.col("_metadata.file_path").alias("file_path"),
            F.col("_metadata.file_size").alias("file_size"),
            F.col("_metadata.file_modification_time").alias("file_mtime"),
            F.col("_metadata.file_block_start").alias("block_start"),
            F.col("value").alias("line"),
        )
        .filter(F.trim(F.col("line")) != "")
    )

    counts = raw.groupBy("file_path", "block_start").agg(
        F.count(F.lit(1)).alias("n_lines")
    )
    from pyspark.sql import Window as W

    prior = (
        W.partitionBy("file_path")
        .orderBy("block_start")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "file_path",
        "block_start",
        F.coalesce(F.sum("n_lines").over(prior), F.lit(0)).alias("base"),
    )

    pos_schema = (
        "file_path string, file_size long, file_mtime timestamp, "
        "block_start long, pos long, line string"
    )

    def _with_positions(batches):
        # running non-blank-line counter per (file, block); a block is
        # read by exactly one task and batches arrive in read order, so
        # per-generator state is correct and retry-deterministic
        counters: dict[tuple, int] = {}
        for pdf in batches:
            pos = []
            for fp, bs in zip(pdf["file_path"], pdf["block_start"]):
                key = (fp, bs)
                counters[key] = counters.get(key, 0) + 1
                pos.append(counters[key])
            pdf = pdf.assign(pos=pos)
            yield pdf[
                ["file_path", "file_size", "file_mtime", "block_start",
                 "pos", "line"]
            ]

    with_pos = raw.mapInPandas(_with_positions, pos_schema)
    return (
        with_pos.join(broadcast(offsets), ["file_path", "block_start"])
        .select(
            "file_path",
            "file_size",
            "file_mtime",
            (F.col("base") + F.col("pos")).alias("line_no"),
            "line",
        )
    )


def file_lines_sniffed(
    spark: SparkSession,
    path: str,
    *,
    recursive: bool = True,
    max_object_bytes: int | None = 1 << 31,
) -> DataFrame:
    """S3 magic-byte fallback (cvp_bucket_event_lambda_handler.py:28-30):
    the reference sniffs ``1f 8b`` and gunzips regardless of the object
    name, because Lambda streams have no extension. Spark's text reader
    only decompresses by ``.gz`` extension, so extensionless gzip
    objects need this path: binaryFile scan → per-file magic-byte sniff
    → gunzip → line split, Arrow-batched through mapInPandas (the
    decompress is genuinely imperative; everything before/after stays
    declarative). Same output schema as :func:`file_lines`.

    Scale: binaryFile ships one whole object per row — an inherent
    whole-object memory bound (this path exists precisely because the
    object must be sniffed and gunzipped as a unit). ``max_object_bytes``
    (default 2 GiB, binaryFile's own hard cap) fails FAST with the
    offending paths instead of letting one huge object OOM an executor
    mid-job; named-``.gz``/plain objects of any size belong on
    :func:`file_lines` / :func:`file_lines_chunked`, which stream.
    """
    bin_df = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", str(recursive).lower())
        .load(path)
        .select("path", "length", "modificationTime", "content")
    )
    if max_object_bytes is not None:
        # metadata-only pre-check: column pruning drops `content`, so
        # this scans the listing, not the bytes
        too_big = (
            bin_df.select("path", "length")
            .filter(F.col("length") > max_object_bytes)
            .limit(5)
            .collect()
        )
        if too_big:
            names = ", ".join(f"{r.path} ({r.length}B)" for r in too_big)
            raise ValueError(
                f"file_lines_sniffed: objects exceed max_object_bytes="
                f"{max_object_bytes}: {names}. Use file_lines_chunked "
                "for large named objects, or raise the limit."
            )

    out_schema = (
        "file_path string, file_size long, file_mtime timestamp, "
        "line_no integer, line string"
    )

    def _gunzip_lines(batches):
        import gzip
        import re

        import pandas as pd

        splitter = re.compile(_LINE_SPLIT)
        for pdf in batches:
            rows: list[tuple] = []
            for fp, size, mtime, content in zip(
                pdf["path"], pdf["length"], pdf["modificationTime"], pdf["content"]
            ):
                data = bytes(content)
                if data[:2] == b"\x1f\x8b":  # gzip magic, any filename
                    data = gzip.decompress(data)
                text = data.decode("utf-8", errors="replace")
                n = 0
                for ln in splitter.split(text):
                    if ln.strip():
                        n += 1
                        rows.append((fp, size, mtime, n, ln))
            yield pd.DataFrame(
                rows,
                columns=["file_path", "file_size", "file_mtime", "line_no", "line"],
            )

    return bin_df.mapInPandas(_gunzip_lines, out_schema)


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
    header row case-insensitively against the rule order; one warning
    row per mismatched position.

    Output: (file_path, position, header_field, config_field).
    """
    # wholetext + take the first line: per-file, shuffle-free (the old
    # window-on-monotonic-id form both shuffled and assumed split order)
    headers = (
        spark.read.option("recursiveFileLookup", "true")
        .text(path, wholetext=True)
        .select(
            F.col("_metadata.file_path").alias("file_path"),
            F.split(
                F.element_at(F.split(F.col("value"), _LINE_SPLIT), 1), ","
            ).alias("fields"),
        )
    )
    audits = []
    for i, rule in enumerate(ruleset.rules):
        header_field = F.trim(F.element_at("fields", i + 1))
        audits.append(
            F.when(
                F.lower(header_field) != rule.path.lower(),
                F.struct(
                    F.lit(i).alias("position"),
                    F.lower(header_field).alias("header_field"),
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
