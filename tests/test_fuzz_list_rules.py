"""Randomized reference parity for CONDITIONAL list rules (round 4):
expanded elements must carry the full config section — conditions
included (validator.py:316) — so fuzzed records exercising if/then
chains, matchAgainst, startsWithField and existence-style ifParts over
nested arrays must agree verdict-for-verdict with the reference, as
modelled in plain Python by tests/validator_model.py.

Well-formed shapes only (outer keys present, lists non-empty): the
reference's expander has documented bugs on missing/empty list data
(duplicate rule paths via the fall-through at validator.py:322-332,
TypeError on null parents) that the engine deliberately does not
replicate (SURVEY §7.5). The model does carry the fall-through
duplicate, which test_list2_segment_and_missing_inner_list_parity
states exactly."""

from __future__ import annotations

import json
import random

import pytest

from dev_dot_cvp_metadata_ingestion_spark.operators.validation import validate
from dev_dot_cvp_metadata_ingestion_spark.sources.rules import parse_rules_ini

from .validator_model import validate_records

FUZZ_CONFIG = """
[_settings]
DataType = json
Sequential = False

[rsus.list.rsuTarget]
Type = string
EqualsValue = {"conditions": [{"ifPart": {"fieldName": "source", "fieldValues": ["EV"]}, "thenPart": {"matchAgainst": ["10.0.0.1", "10.0.0.2"]}}, {"ifPart": {"fieldName": "source", "fieldValues": ["RSU"]}, "thenPart": {"startsWithField": "prefix"}}]}

[rsus.list.rsuRetries]
Type = decimal
LowerLimit = 0
UpperLimit = 5
EqualsValue = {"conditions": [{"ifPart": {"fieldName": "strict", "fieldValues": ["1"]}, "thenPart": {"matchAgainst": [0, 1, 2]}}]}

[readings.list.v]
Type = decimal
LowerLimit = 0
UpperLimit = 10

[zones.list.sensors.list.reading]
Type = decimal
LowerLimit = 0
UpperLimit = 100
EqualsValue = {"conditions": [{"ifPart": {"fieldName": "flag"}, "thenPart": {"matchAgainst": [1, 2, 3]}}]}
"""

TARGET_POOL = ["10.0.0.1", "10.0.0.2", "10.9.9.9", "172.16.0.1", ""]
PREFIX_POOL = ["10.", "172.", ""]


def gen_record(rng: random.Random, i: int) -> dict:
    rec: dict = {"line_no": i}
    rec["source"] = rng.choice(["EV", "RSU", "OTHER", ""])
    if rng.random() < 0.8:
        rec["prefix"] = rng.choice(PREFIX_POOL)
    if rng.random() < 0.6:
        rec["strict"] = rng.choice(["1", "0"])
    if rng.random() < 0.5:
        rec["flag"] = rng.choice([0, 1, "x", ""])
    rsus = []
    for _ in range(rng.randint(1, 4)):
        el: dict = {}
        if rng.random() < 0.85:
            el["rsuTarget"] = rng.choice(TARGET_POOL)
        if rng.random() < 0.85:
            el["rsuRetries"] = rng.choice([0, 1, 2, 3, 5, 7, -1])
        if not el:
            el["pad"] = 1  # keep schema inference happy, never all-empty
        rsus.append(el)
    rec["rsus"] = rsus
    rec["readings"] = [
        {"v": rng.choice([0, 5, 10, 11, -2])} for _ in range(rng.randint(1, 3))
    ]
    rec["zones"] = [
        {"sensors": [
            {"reading": rng.choice([1, 2, 3, 50, 101, -5])}
            for _ in range(rng.randint(1, 3))
        ]}
        for _ in range(rng.randint(1, 2))
    ]
    return rec


@pytest.mark.parametrize("seed", [11, 97])
def test_fuzzed_conditional_list_verdicts_match(spark, tmp_path, seed):
    rng = random.Random(seed)
    records = [gen_record(rng, i) for i in range(1, 31)]

    results, _ = validate_records(
        FUZZ_CONFIG,
        [{k: v for k, v in rec.items() if k != "line_no"} for rec in records],
    )
    ref = {(sid, path): valid for sid, path, valid, _ in results}

    path = tmp_path / "fuzzlist.json"
    with open(path, "w") as fh:
        for rec in records:
            fh.write(json.dumps(rec) + "\n")
    df = spark.read.json(str(path))
    ruleset = parse_rules_ini(FUZZ_CONFIG)
    mine = {
        (r.line_no, r.field_path): r.valid
        for r in validate(df, ruleset, ["line_no"]).collect()
    }

    assert set(ref) == set(mine), (
        f"only-ref={sorted(set(ref) - set(mine))[:6]} "
        f"only-mine={sorted(set(mine) - set(ref))[:6]}"
    )
    diffs = [(k, ref[k], mine[k]) for k in ref if ref[k] != mine[k]]
    assert not diffs, f"{len(diffs)} verdict mismatches: {diffs[:8]}"


LIST2_CFG = """
[_settings]
DataType = json
Sequential = False

[a.list2.b]
Type = decimal
LowerLimit = 0
UpperLimit = 5

[zones.list.sensors.list.reading]
Type = decimal
LowerLimit = 0
UpperLimit = 100
"""

LIST2_RECORDS = [
    # in-range scalar at the list2 path; nested list fully populated
    {"line_no": 1, "a": {"list2": {"b": 3}},
     "zones": [{"sensors": [{"reading": 5}, {"reading": 150}]}]},
    # out-of-range scalar; inner list missing for zone 0 only (dynamic
    # missing: the schema HAS sensors because zone 1 provides it)
    {"line_no": 2, "a": {"list2": {"b": 9}},
     "zones": [{"nosensors": 1}, {"sensors": [{"reading": 7}]}]},
    # scalar path absent; inner list missing for every zone element
    {"line_no": 3, "a": {}, "zones": [{"x": 1}, {"x": 2}]},
]


def test_list2_segment_and_missing_inner_list_parity(spark, tmp_path):
    """ADVICE/VERDICT r4 item 5: (a) ``a.list2.b`` contains the
    substring ``.list`` so both engines route it to the list expander,
    but only a whole segment equal to ``list`` is a marker
    (validator.py:318 ``keys[0] == 'list'``) — it must be validated at
    the literal path; (b) when only the inner array is absent from a
    record, the "Field missing" verdict must be emitted per OUTER
    element with its real index (``zones{0}...``, ``zones{1}...``),
    not collapsed to a single ``{0}`` row.

    Parity is field-for-field EXCEPT the reference's fall-through bug
    (validator.py:322-332: the ``data == ''`` branch is not an elif, so
    a second recursion drops the scalar tail and emits a truncated
    duplicate like ``zones{0}.sensors{0}``) — those extra rows are a
    documented divergence (SURVEY §7.5) asserted exactly here."""
    results, _ = validate_records(
        LIST2_CFG,
        [{k: v for k, v in rec.items() if k != "line_no"} for rec in LIST2_RECORDS],
    )
    ref = {(sid, path): (valid, details) for sid, path, valid, details in results}

    path = tmp_path / "list2.json"
    with open(path, "w") as fh:
        for rec in LIST2_RECORDS:
            fh.write(json.dumps(rec) + "\n")
    df = spark.read.json(str(path))
    ruleset = parse_rules_ini(LIST2_CFG)
    mine = {
        (r.line_no, r.field_path): (r.valid, r.details)
        for r in validate(df, ruleset, ["line_no"]).collect()
    }

    # reference-only rows must be exactly the truncated fall-through
    # duplicates: full path minus the scalar tail
    ref_only = set(ref) - set(mine)
    assert ref_only == {
        (2, "zones{0}.sensors{0}"),
        (3, "zones{0}.sensors{0}"),
        (3, "zones{1}.sensors{0}"),
    }, f"unexpected divergence: {sorted(ref_only)}"
    assert not set(mine) - set(ref), sorted(set(mine) - set(ref))
    diffs = [(k, ref[k], mine[k]) for k in mine if ref[k] != mine[k]]
    assert not diffs, f"{len(diffs)} verdict mismatches: {diffs[:8]}"
