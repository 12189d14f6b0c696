"""The windowed sequential operator against the plain-Python model of
the reference (tests/sequential_model.py): every fixture's result rows
must equal the model's, row for row.

The hazard fixture plants: long bundles, a giant single-bundle file,
runs of equal-bundleSize tail errors (the W6 dedup tracker), a skip flag
on one record only (W7 gating must stay file-wide), NULL bundle ids
(whose change-flag is NULL → continues-the-run semantics), error-free
files (W8), and a bundle id that reappears later (new run, not a
group)."""

from __future__ import annotations

import json
from datetime import datetime, timedelta, timezone

import pytest

from pyspark.sql import functions as F

from dev_dot_cvp_metadata_ingestion_spark.operators.sequential import (
    SequentialSpec,
    record_spec,
    sequential_results,
)
from dev_dot_cvp_metadata_ingestion_spark.sources.rules import parse_rules_ini

from .sequential_model import validate_file

# aware, so the rows mean the same instants under any process TZ
T0 = datetime(2019, 1, 1, 0, 0, 0, tzinfo=timezone.utc)


def _rows():
    out = []

    def add(file, sn, rid, bid, bs, gen_off=None, recv_off=None,
            logf=True, skip=False):
        out.append((
            file, bid, sn, rid, bs,
            T0 + timedelta(seconds=gen_off if gen_off is not None else sn),
            T0 + timedelta(seconds=recv_off if recv_off is not None else sn),
            logf, skip,
        ))

    # f1: clean file, several bundles (W8 all-pass row)
    sn = 0
    for bid, bs in [(1, 3), (2, 2), (3, 4)]:
        for rid in range(bs):
            add("f1", sn, rid, bid, bs)
            sn += 1

    # f2: every error type — serial gap, recordId gap, ts regression,
    # recv regression, full-bundle count mismatch, tail partials with a
    # RUN of equal bundleSize (W6 dedup)
    add("f2", 0, 0, 1, 3)
    add("f2", 2, 1, 1, 3)            # serial gap
    add("f2", 3, 3, 1, 3)            # recordId gap + count mismatch shape
    add("f2", 4, 1, 2, 6)            # tail partial, bs 6
    add("f2", 5, 2, 2, 6)
    add("f2", 6, 3, 3, 6)            # second tail run, same bs → dedup
    add("f2", 7, 4, 3, 6)
    add("f2", 8, 1, 4, 9)            # tail run, new bs
    add("f2", 9, 2, 4, 9, gen_off=1)  # gen regression
    add("f2", 10, 3, 4, 9, recv_off=2)  # recv regression

    # f3: one giant bundle, with a planted rid gap deep inside (the lag
    # must see it exactly once)
    for i in range(60):
        rid = i if i < 40 else i + 1   # rid gap at i=40
        add("f3", i, rid, 7, 61)
    # tail shape: first_rid 0 → not a tail; count 60 != bs 61 → full
    # mismatch requires last_rid == bs-1: last rid = 60 == 61-1 → FULL
    # qualifying mismatch (cnt 60 != bs 61)

    # f4: NULL bundle ids interleaved (change-flag NULL → continue-run)
    add("f4", 0, 0, 5, 2)
    out.append(("f4", None, 1, 1, 2,
                T0 + timedelta(seconds=1), T0 + timedelta(seconds=1),
                True, False))
    out.append(("f4", None, 2, 2, 2,
                T0 + timedelta(seconds=2), T0 + timedelta(seconds=2),
                True, False))
    add("f4", 3, 0, 6, 1)

    # f5: skip flag ONLY on the first record; serial gap at the END —
    # file-wide gating must suppress it
    add("f5", 0, 0, 1, 2, skip=True)
    add("f5", 1, 1, 1, 2)
    add("f5", 5, 0, 2, 2)
    add("f5", 7, 1, 2, 2)            # in-bundle serial gap (skip-gated)

    # f6: bundle id reappears → new contiguous run, not a merged group
    add("f6", 0, 0, 1, 1)
    add("f6", 1, 0, 2, 1)
    add("f6", 2, 0, 1, 1)
    return out


SCHEMA = (
    "file string, bid long, sn long, rid long, bs long, gen timestamp, "
    "recv timestamp, logf boolean, skipflag boolean"
)

SKIP_PATH = "metadata.serialId.serialNumber"


def _spec(with_skip: bool) -> SequentialSpec:
    return SequentialSpec(
        file="file",
        bundle_id="bid",
        serial_number="sn",
        record_id="rid",
        bundle_size="bs",
        record_generated_at="gen",
        ode_received_at="recv",
        has_log_file_name="logf",
        skip_flags={SKIP_PATH: "skipflag"} if with_skip else {},
    )


def _sorted(rows):
    # NULL serial numbers (the W8 row, a NULL-sn bundle end) sort first
    return sorted(rows, key=lambda t: [(v is not None, v) for v in t])


def _canon(df):
    return _sorted(
        (r.file, r.serial_number, r.field_path, r.valid, r.details)
        for r in df.collect()
    )


def _model(rows, with_skip: bool):
    """The model's rows for fixture tuples in SCHEMA order, one
    validate_file call per file with that file's W7 skip set."""
    files: dict[str, list[dict]] = {}
    for file, bid, sn, rid, bs, gen, recv, logf, skip in rows:
        files.setdefault(file, []).append(dict(
            bid=bid, sn=sn, rid=rid, bs=bs, gen=gen, recv=recv, logf=logf,
            skip=skip,
        ))
    out = []
    for file, records in files.items():
        skips = (
            {SKIP_PATH} if with_skip and any(r["skip"] for r in records)
            else set()
        )
        out += [(file, *row) for row in validate_file(records, skips)]
    return _sorted(out)


@pytest.fixture(scope="module")
def data(spark):
    return spark.createDataFrame(_rows(), SCHEMA).localCheckpoint()


def _split(data, parts: int):
    """The fixture spread round-robin over ``parts`` input partitions, so
    a file's records start out on several partitions and the window's
    shuffle has to bring them back together."""
    return data.repartition(parts)


@pytest.mark.parametrize("parts", [1, 2, 3, 7, 32])
def test_results_match_model(spark, data, parts):
    single = _canon(
        sequential_results(_split(data, parts), _spec(with_skip=True))
    )
    assert single == _model(_rows(), with_skip=True)
    # sanity: the fixture actually exercises errors AND all-pass rows
    assert any(r[2] == "SequentialCheck" for r in single)
    assert any(not r[3] for r in single)


@pytest.mark.parametrize("parts", [1, 3, 17])
def test_results_without_skip_flags(spark, data, parts):
    single = _canon(
        sequential_results(_split(data, parts), _spec(with_skip=False))
    )
    assert single == _model(_rows(), with_skip=False)
    # without gating, f5's serial gap IS an error
    assert any(r[0] == "f5" and not r[3] for r in single)


@pytest.mark.parametrize("parts", [1, 2, 5, 32])
def test_file_counts_match_model(spark, data, parts):
    """Per-file (seq_rows, seq_errors) as cv_validation_tallies counts
    them from the result rows: the error rows, or the one all-pass
    row."""
    res = sequential_results(_split(data, parts), _spec(with_skip=True))
    counts = sorted(
        tuple(r)
        for r in res.groupBy("file")
        .agg(F.count(F.lit(1)), F.count_if(~F.col("valid")))
        .collect()
    )
    model: dict[str, list[int]] = {}
    for file, _, _, valid, _ in _model(_rows(), with_skip=True):
        c = model.setdefault(file, [0, 0])
        c[0] += 1
        c[1] += not valid
    assert counts == sorted((f, *c) for f, c in model.items())
    assert ("f1", 1, 0) in counts


def test_giant_single_file(spark):
    """One file, one long bundle sequence with a planted recordId gap."""
    rows = []
    sn = 0
    for bid in range(1, 9):
        for rid in range(10):
            rows.append((
                "big", bid, sn, rid if rid != 5 or bid != 4 else 6, 10,
                T0 + timedelta(seconds=sn), T0 + timedelta(seconds=sn),
                True, False,
            ))
            sn += 1
    df = spark.createDataFrame(rows, SCHEMA)
    single = _canon(sequential_results(df, _spec(with_skip=False)))
    assert single == _model(rows, with_skip=False)
    assert any(not r[3] for r in single)


def test_empty_input(spark):
    df = spark.createDataFrame([], SCHEMA)
    assert sequential_results(df, _spec(with_skip=True)).count() == 0
    assert _model([], with_skip=True) == []


def test_null_sn_bundle_start_matches_model(spark):
    """A bundle STARTING with a NULL-sn record is one run: the window's
    nulls-first order keeps it whole, W6 included."""
    rows = [
        ("f", 5, None, 0, 4, T0, T0, True, False),
        ("f", 5, 0, 1, 4, T0, T0, True, False),
        ("f", 5, 1, 3, 4, T0, T0, True, False),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    single = _canon(sequential_results(df, _spec(with_skip=False)))
    # the bundle must be ONE run: cnt 3 != bs 4 with last_rid == bs-1
    assert any("number of records" in r[4] for r in single)
    assert single == _model(rows, with_skip=False)


def test_null_condition_does_not_poison_error_count(spark):
    """A NULL check condition (NULL bundleSize → ``bs > 1`` NULL) must
    not NULL out the row's error sum: the file has an emitted
    serial-gap error, so W8 must NOT fire, and the file's result is
    that one error row."""
    rows = [
        ("f", 1, 0, 0, 2, T0, T0, True, False),
        ("f", 1, 5, None, None, T0, T0, True, False),  # serial gap row
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    res = _canon(sequential_results(df, _spec(with_skip=False)))
    assert any(not r[3] for r in res)          # error emitted
    assert not any(r[2] == "SequentialCheck" for r in res)
    # (seq_rows, seq_errors) as cv_validation_tallies counts them
    assert (len(res), sum(not r[3] for r in res)) == (1, 1)
    assert res == _model(rows, with_skip=False)


def test_bigint_extremes_match_model(spark):
    """``prev + 1`` and ``bundleSize - 1`` at the ends of the BIGINT
    range compare and print as the model's Python ints do, where BIGINT
    arithmetic would overflow and, under ANSI mode, abort the query."""
    top, bottom = 2**63 - 1, -(2**63)
    rows = [
        ("max_rid", 1, 0, top, 2, T0, T0, True, False),
        ("max_rid", 1, 1, 1, 2, T0, T0, True, False),
        ("max_sn", 1, top, 0, 1, T0, T0, True, False),
        ("max_sn", 1, top, 0, 1, T0, T0, True, False),
        ("min_bs_full", 1, 0, 0, bottom, T0, T0, True, False),
        ("min_bs_tail", 1, 0, 1, bottom, T0, T0, True, False),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    res = _canon(sequential_results(df, _spec(with_skip=False)))
    assert res == _model(rows, with_skip=False)
    details = {r[4] for r in res}
    assert (
        "Detected incorrectly incremented recordId. "
        "Expected recordId '9223372036854775808' but got '1'"
    ) in details
    assert (
        "Detected incorrectly incremented serialNumber. Expected "
        "serialNumber '9223372036854775808' but got '9223372036854775807'"
    ) in details
    assert (
        "bundleSize doesn't match last recordId. Last recordId: '1' != "
        "(bundleSize-1: '-9223372036854775809')"
    ) in details


def _json_record(sn, rid, bs, gen, note="x"):
    return {"metadata": {
        "recordGeneratedAt": gen,
        "odeReceivedAt": "2019-01-01T00:00:00.000Z",
        "logFileName": "f.log",
        "note": note,
        "serialId": {"bundleId": 1, "bundleSize": bs, "recordId": rid,
                     "serialNumber": sn},
    }}


def _model_record(rec: dict) -> dict:
    meta = rec["metadata"]
    ids = meta["serialId"]

    def ts(text):
        try:
            return datetime.fromisoformat(text.replace("Z", "+00:00"))
        except ValueError:
            return None

    return dict(sn=ids["serialNumber"], rid=ids["recordId"],
                bid=ids["bundleId"], bs=ids["bundleSize"],
                gen=ts(meta["recordGeneratedAt"]),
                recv=ts(meta["odeReceivedAt"]), logf="logFileName" in meta)


# skip values that the spark.sql formatter would read as a field, or
# refuse, if they reached its text
BRACE_INI = """
[_settings]
DataType = json
Sequential = True

[metadata.serialId.serialNumber]
Type = serial
EqualsValue = {"conditions":[{"ifPart":{"fieldName":"metadata.note","fieldValues":["{d}", "}{"]},"thenPart":{"skipSequentialValidation":"true"}}]}
"""


def test_record_bindings_match_model(spark):
    """Through ``record_spec``, the pipeline's JSON bindings: an unparseable
    recordGeneratedAt reads NULL, so W5 compares nothing against it;
    BIGINT-edge ids are exact; a skip value with braces gates its
    file."""
    ruleset = parse_rules_ini(BRACE_INI)
    files = {
        "bad_ts": [
            _json_record(0, 0, 3, "2019-01-01T00:00:09.000Z"),
            _json_record(1, 1, 3, "garbage"),
            _json_record(2, 2, 3, "2019-01-01T00:00:01.000Z"),
        ],
        "max_rid": [
            _json_record(0, 2**63 - 1, 2, "2019-01-01T00:00:00.000Z"),
            _json_record(1, 1, 2, "2019-01-01T00:00:00.000Z"),
        ],
        "min_bs": [_json_record(0, 1, -(2**63), "2019-01-01T00:00:00.000Z")],
        "gap_skipped": [
            _json_record(0, 0, 2, "2019-01-01T00:00:00.000Z", note="{d}"),
            _json_record(5, 1, 2, "2019-01-01T00:00:00.000Z"),
        ],
        "gap": [
            _json_record(0, 0, 2, "2019-01-01T00:00:00.000Z", note="{x}"),
            _json_record(5, 1, 2, "2019-01-01T00:00:00.000Z"),
        ],
    }
    df = spark.createDataFrame(
        [(f, json.dumps(r)) for f, recs in files.items() for r in recs],
        "file_path string, line string",
    ).selectExpr("file_path", "try_parse_json(line) AS rec")
    got = _canon(sequential_results(df, record_spec(ruleset)))
    model = []
    for name, recs in files.items():
        skips = {SKIP_PATH} if any(
            r["metadata"]["note"] in ("{d}", "}{") for r in recs
        ) else set()
        model += [
            (name, *row)
            for row in validate_file([_model_record(r) for r in recs], skips)
        ]
    assert got == _sorted(model)
    assert ("bad_ts", None, "SequentialCheck", True, "") in got
    assert ("gap_skipped", None, "SequentialCheck", True, "") in got
    assert any(r[0] == "gap" and not r[3] for r in got)
