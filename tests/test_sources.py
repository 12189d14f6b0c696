"""Source-layer tests: gzip transparency and decoded object keys
(S1/S3), header audit (S6), NDJSON provenance (S2/S5)."""

from __future__ import annotations

import gzip
import json

from pyspark.sql import functions as F

from dev_dot_cvp_metadata_ingestion_spark.plans.pipeline import run_cv_pipeline
from dev_dot_cvp_metadata_ingestion_spark.sources.files import (
    audit_csv_headers,
    file_lines,
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
    # keys with a space, a '+', an escape-like '%41' and a non-ASCII
    # letter come out as the listing names them, not percent-encoded
    odd = ["dir=x y/a b+c%41.json", "é dir/x%2By+z.json"]
    for name in odd:
        (d / name).parent.mkdir()
        (d / name).write_bytes(payload)
    names = ["plain.json", "compressed.json.gz", *odd]

    def key(file_path):
        return file_path.split(f"{d}/", 1)[1]

    lines = file_lines(spark, str(d))
    per_file = {
        key(r.file_path): r.n
        for r in lines.groupBy("file_path")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert per_file == {name: 5 for name in names}

    ruleset = parse_rules_ini(
        "[_settings]\nDataType = json\nSequential = False\n\n"
        "[a]\nType = decimal\nLowerLimit = 0\nUpperLimit = 9\n"
    )
    result = run_cv_pipeline(spark, str(d), ruleset)
    try:
        got = {
            (key(r.file_path), r.record_uid, r.a, r.b)
            for r in result.records.selectExpr(
                "file_path",
                "record_uid",
                "try_variant_get(rec, '$.a', 'bigint') AS a",
                "try_variant_get(rec, '$.b', 'string') AS b",
            ).collect()
        }
    finally:
        result.unpersist()
    # identical record content from both codecs
    assert got == {
        (name, i + 1, i, f"x{i}") for name in names for i in range(5)
    }


def test_file_lines_ordering_and_numbering(spark, tmp_path):
    # line_no numbers NON-BLANK lines 1..n in file order (serial_id
    # fallback, validator.py:398-400)
    d = tmp_path / "ord"
    d.mkdir()
    (d / "f.log").write_text(
        "a\n\nb\r\nc\n   \n\t\n \t \nd\n\x0c\n\te \n"
    )
    # empty and whitespace-only lines (any str.isspace() character, as
    # the reference's strip() tests them) are skipped and not counted;
    # a line with content keeps its whitespace
    expect = [(1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "\te ")]
    got = sorted((r.line_no, r.line) for r in file_lines(spark, str(d)).collect())
    assert got == expect


def test_header_audit(spark, tmp_path):
    d = tmp_path / "csv"
    d.mkdir()
    (d / "good.csv").write_text(
        "DeviceID,utc,local,blank,vsl_mph\n1,2019,2019,x,50\n"
    )
    (d / "bad.csv").write_text(
        "device,utc,wrong,blank,vsl_mph\n1,2019,2019,x,50\n"
    )
    # a header shorter than the rule list: each missing position warns
    (d / "short.csv").write_text("DeviceID,utc\n1,2019\n")
    # the header is the first NON-BLANK line, as S4 hands S6 its lines
    (d / "blank_first.csv").write_text(
        "\n  \nDeviceID,utc,local,blank,speed\n1,2019,2019,x,50\n"
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
    assert {p: rows[("short.csv", p)] for p in (2, 3, 4)} == {
        2: (None, "local"), 3: (None, "blank"), 4: (None, "vsl_mph"),
    }
    assert rows[("blank_first.csv", 4)] == ("speed", "vsl_mph")
    assert len(rows) == 6


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
