"""Source-layer tests: gzip transparency (S3), header audit (S6),
NDJSON provenance (S2/S5)."""

from __future__ import annotations

import gzip
import json

from pyspark.sql import functions as F

from dev_dot_cvp_metadata_ingestion_spark.plans.pipeline import run_cv_pipeline
from dev_dot_cvp_metadata_ingestion_spark.sources.files import (
    audit_csv_headers,
    file_lines,
    file_lines_sniffed,
)
from dev_dot_cvp_metadata_ingestion_spark.sources.rules import (
    fixture_rules_path,
    parse_rules_ini,
)


def test_gzip_transparent_read(spark, tmp_path):
    d = tmp_path / "gz"
    d.mkdir()
    recs = [{"a": i, "b": f"x{i}"} for i in range(5)]
    payload = "\n".join(json.dumps(r) for r in recs).encode()
    (d / "plain.json").write_bytes(payload)
    with gzip.open(d / "compressed.json.gz", "wb") as fh:
        fh.write(payload)

    lines = file_lines(spark, str(d))
    per_file = {
        r.file_path.split("/")[-1]: r.n
        for r in lines.groupBy("file_path")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert per_file == {"plain.json": 5, "compressed.json.gz": 5}

    ruleset = parse_rules_ini(
        "[_settings]\nDataType = json\nSequential = False\n\n"
        "[a]\nType = decimal\nLowerLimit = 0\nUpperLimit = 9\n"
    )
    result = run_cv_pipeline(spark, str(d), ruleset)
    try:
        got = {
            (r.file_path.split("/")[-1], r.record_uid, r.a, r.b)
            for r in result.records.collect()
        }
    finally:
        result.unpersist()
    # identical record content from both codecs
    assert got == {
        (name, i + 1, i, f"x{i}")
        for name in ("plain.json", "compressed.json.gz")
        for i in range(5)
    }


def test_gzip_magic_byte_fallback(spark, tmp_path):
    # the reference sniffs 1f8b regardless of name
    # (cvp_bucket_event_lambda_handler.py:28-30): a gzip object WITHOUT
    # the .gz extension must still decompress via the sniffed source
    d = tmp_path / "sniff"
    d.mkdir()
    lines_txt = [f"line {i}" for i in range(7)]
    payload = ("\n".join(lines_txt) + "\n\n").encode()
    (d / "plain.log").write_bytes(payload)
    (d / "hidden_gzip").write_bytes(gzip.compress(payload))  # no extension

    out = file_lines_sniffed(spark, str(d))
    rows = out.collect()
    by_file = {}
    for r in rows:
        by_file.setdefault(r.file_path.split("/")[-1], []).append(
            (r.line_no, r.line)
        )
    for fname in ("plain.log", "hidden_gzip"):
        got = sorted(by_file[fname])
        assert got == [(i + 1, f"line {i}") for i in range(7)], fname
    # provenance: file_size is the on-disk (compressed) size
    sizes = {r.file_path.split("/")[-1]: r.file_size for r in rows}
    assert sizes["hidden_gzip"] == len(gzip.compress(payload))


def test_file_lines_ordering_and_numbering(spark, tmp_path):
    # line_no numbers NON-BLANK lines 1..n in file order (serial_id
    # fallback, validator.py:398-400), identical in both sources
    d = tmp_path / "ord"
    d.mkdir()
    (d / "f.log").write_text("a\n\nb\r\nc\n   \nd\n")
    # empty and whitespace-only lines are skipped and not counted
    expect = [(1, "a"), (2, "b"), (3, "c"), (4, "d")]
    for src in (file_lines, file_lines_sniffed):
        got = sorted(
            (r.line_no, r.line) for r in src(spark, str(d)).collect()
        )
        assert got == expect, src.__name__


def test_header_audit(spark, tmp_path):
    d = tmp_path / "csv"
    d.mkdir()
    (d / "good.csv").write_text(
        "DeviceID,utc,local,blank,vsl_mph\n1,2019,2019,x,50\n"
    )
    (d / "bad.csv").write_text(
        "device,utc,wrong,blank,vsl_mph\n1,2019,2019,x,50\n"
    )
    ruleset = parse_rules_ini(open(fixture_rules_path("csvconfig_2.ini")).read())
    audits = audit_csv_headers(spark, str(d), ruleset)
    rows = {
        (r.file_path.split("/")[-1], r.position): (r.header_field, r.config_field)
        for r in audits.collect()
    }
    # case-insensitive: DeviceID matches deviceid → no warning for good.csv
    assert not any(f == "good.csv" for f, _ in rows)
    assert rows[("bad.csv", 0)] == ("device", "deviceid")
    assert rows[("bad.csv", 2)] == ("wrong", "local")
    assert len(rows) == 2


def test_file_lines_chunked_matches_wholetext(spark, tmp_path):
    """A file larger than maxPartitionBytes splits into multiple block
    partitions; the chunked reader must still produce exactly the
    wholetext reader's (line_no, line) pairs."""
    from dev_dot_cvp_metadata_ingestion_spark.sources.files import (
        file_lines_chunked,
    )

    d = tmp_path / "big"
    d.mkdir()
    with open(d / "big.ndjson", "w") as fh:
        for i in range(50_000):
            fh.write(json.dumps({"i": i, "pad": "x" * 40}) + "\n")
            if i % 977 == 0:
                fh.write("\n")  # blank lines must not consume numbers
    with open(d / "small.ndjson", "w") as fh:
        for i in range(5):
            fh.write(json.dumps({"i": i}) + "\n")

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(256 * 1024))
    try:
        chunked = file_lines_chunked(spark, str(d))
        # precondition: the big file really is read as >1 block
        n_blocks = (
            chunked.sparkSession.read.text(str(d))
            .select(F.col("_metadata.file_block_start").alias("bs"),
                    F.col("_metadata.file_path").alias("fp"))
            .where(F.col("fp").endswith("big.ndjson"))
            .select("bs").distinct().count()
        )
        assert n_blocks > 1
        got = {
            (r.file_path.rsplit("/", 1)[-1], r.line_no): r.line
            for r in chunked.collect()
        }
        want = {
            (r.file_path.rsplit("/", 1)[-1], r.line_no): r.line
            for r in file_lines(spark, str(d)).collect()
        }
        assert got == want
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_load_table_events_ts_encodings(spark, tmp_path):
    """The events table's ts column has shipped under two physical
    encodings (TIMESTAMP(NANOS) read as bigint via nanosAsLong, and
    timestamp[us]-no-tz read as TIMESTAMP_NTZ). load_table must
    normalize BOTH to TIMESTAMP so unix_micros()-based queries analyze
    — the round-4 regression was the NTZ case falling through."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dev_dot_cvp_metadata_ingestion_spark.sources.catalog import load_table

    t0 = datetime.datetime(2024, 1, 2, 3, 4, 5, 678901)
    micros = int(t0.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000)

    ntz_dir = tmp_path / "ntz"
    ntz_dir.mkdir()
    pq.write_table(
        pa.table({
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array([t0], pa.timestamp("us")),
        }),
        str(ntz_dir / "events.parquet"),
    )
    nanos_dir = tmp_path / "nanos"
    nanos_dir.mkdir()
    pq.write_table(
        pa.table({
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array([micros * 1000], pa.timestamp("ns")),
        }),
        str(nanos_dir / "events.parquet"),
    )

    for d in (ntz_dir, nanos_dir):
        df = load_table(spark, str(d), "events")
        assert dict(df.dtypes)["ts"] == "timestamp", (d, df.dtypes)
        row = df.select(F.unix_micros("ts").alias("us")).collect()[0]
        assert row.us == micros, (d, row.us, micros)
