"""File isolation: under one Lambda per object, no file could change
another file's verdicts. Each record is parsed on its own into a
VARIANT, so a sweep must give every file the rows it gets alone, even
next to files whose values have other JSON types or whose values no
BIGINT or timestamp holds, and a stream must read a field that only a
later file carries."""

from __future__ import annotations

import gzip
import json
from datetime import datetime, timezone

from dev_dot_cvp_metadata_ingestion_spark.plans.pipeline import run_cv_pipeline
from dev_dot_cvp_metadata_ingestion_spark.sources.rules import (
    fixture_rules_path,
    parse_rules_ini,
)
from dev_dot_cvp_metadata_ingestion_spark.streaming.stream import stream_cv_pipeline

from .test_validation_parity import FIXTURES, make_record

NOW = datetime(2026, 1, 1, tzinfo=timezone.utc)

# the first widens locationData to a string if a schema is inferred
# over the sweep; the second makes metadata a string. The rest hold
# values that a cast or BIGINT arithmetic would fail on, which under
# ANSI mode aborts the whole query: a timestamp that does not parse,
# recordId + 1 and bundleSize - 1 past the BIGINT range, and a decimal
# whose %d rendering is past it.
PROBES = {
    "probe_location.json": [{"metadata": {"receivedMessageDetails": {"locationData": 5}}}],
    "probe_metadata.json": [{"metadata": "x"}],
    "probe_bad_timestamp.json": [make_record(**{"metadata.recordGeneratedAt": "garbage"})],
    "probe_record_id_max.json": [
        make_record(**{"metadata.serialId.recordId": 2**63 - 1,
                       "metadata.serialId.bundleSize": 2}),
        make_record(**{"metadata.serialId.recordId": 1,
                       "metadata.serialId.serialNumber": 1,
                       "metadata.serialId.bundleSize": 2}),
    ],
    "probe_bundle_size_min.json": [
        make_record(**{"metadata.serialId.bundleSize": -(2**63)}),
    ],
    "probe_decimal_huge.json": [
        make_record(**{"metadata.receivedMessageDetails.locationData.speed": 1e20}),
    ],
}
# objects the one line reader takes as they are: a gzip object with no
# extension is not decompressed (its bytes read as unparseable lines),
# and invalid UTF-8 decodes with replacement characters
RAW_PROBES = {
    "probe_gzip_no_ext": gzip.compress(
        "".join(json.dumps(r) + "\n" for r in FIXTURES[:5]).encode(), mtime=0
    ),
    "probe_not_utf8.json": b'{"metadata": {"recordType": "bsm\xff\xfe"}}\n',
}


def _write(d, name, records) -> None:
    d.mkdir(exist_ok=True)
    with open(d / name, "w") as fh:
        for rec in records:
            fh.write(json.dumps(rec) + "\n")


def _rows(spark, input_dir: str) -> dict[str, list]:
    """Per file name: its sorted validation, sequential and tally rows."""
    ruleset = parse_rules_ini(open(fixture_rules_path()).read(), now=NOW)
    ruleset.sequential = True
    res = run_cv_pipeline(spark, input_dir, ruleset)
    try:
        out: dict[str, list] = {}
        for table, file_col in (
            (res.validation, "file_path"),
            (res.sequential, "file"),
            (res.tallies, "file_path"),
        ):
            for r in table.collect():
                d = r.asDict()
                name = d.pop(file_col).split("/")[-1]
                out.setdefault(name, []).append(tuple(sorted(d.items())))
        return {k: sorted(v) for k, v in out.items()}
    finally:
        res.unpersist()


def test_each_file_gets_its_solo_rows_in_a_sweep(spark, tmp_path):
    files = {"a.json": FIXTURES[:6], "b.json": FIXTURES[6:11], "c.json": FIXTURES[11:]}
    sweep = tmp_path / "sweep"
    for name, records in files.items():
        _write(tmp_path / f"solo_{name}", name, records)
        _write(sweep, name, records)
    for name, records in PROBES.items():
        _write(sweep, name, records)
    for name, payload in RAW_PROBES.items():
        (sweep / name).write_bytes(payload)

    got = _rows(spark, str(sweep))
    for name in files:
        assert got[name] == _rows(spark, str(tmp_path / f"solo_{name}"))[name], name
    # the probes are validated too, each on its own rows
    assert all(name in got for name in [*PROBES, *RAW_PROBES])


def test_stream_reads_a_field_first_seen_in_a_later_file(spark, tmp_path):
    ruleset = parse_rules_ini(
        "[_settings]\nDataType = json\nSequential = False\n\n"
        "[a]\nType = string\n\n"
        "[b]\nType = decimal\nLowerLimit = 0\nUpperLimit = 9\n"
    )
    d = tmp_path / "in"
    _write(d, "1.json", [{"a": "x"}])
    _write(d, "2.json", [{"a": "y", "b": 3}])
    # started as perfbench starts it, with the first file's schema
    schema = spark.read.json(str(d / "1.json")).schema

    collected = []

    def sink(df, batch_id):
        collected.extend(
            (r.file_path.split("/")[-1], r.field_path, r.valid, r.details)
            for r in df.collect()
        )

    q = stream_cv_pipeline(
        spark, str(d), ruleset, schema, sink, str(tmp_path / "ckpt"),
        available_now=True,
    )
    assert q.awaitTermination(120), "availableNow drain timed out"
    assert sorted(collected) == [
        ("1.json", "a", True, ""),
        ("1.json", "b", False, "Field missing: b"),
        ("2.json", "a", True, ""),
        ("2.json", "b", True, ""),
    ]
