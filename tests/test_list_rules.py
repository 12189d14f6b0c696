"""P13: ``.list.`` rule expansion (validator.py:304-378) — per-element
verdicts via posexplode, with reference parity on well-formed data
against the plain-Python model of the reference in
tests/validator_model.py.

The reference's recursive expander has edge-case bugs on missing data
(duplicate/odd rule paths, SURVEY §7.5); parity here is asserted on the
well-formed cases, and our documented semantics (one ``{0}`` missing
verdict for absent lists) are tested standalone.
"""

from __future__ import annotations

import json

import pytest

from dev_dot_cvp_metadata_ingestion_spark.operators.validation import validate
from dev_dot_cvp_metadata_ingestion_spark.sources.rules import parse_rules_ini

from .validator_model import validate_records

LIST_CONFIG = """
[_settings]
DataType = json
Sequential = False

[rsus.list.rsuTarget]
Type = string

[rsus.list.rsuRetries]
Type = decimal
LowerLimit = 0
UpperLimit = 5
"""

RECORDS = [
    {"line_no": 1, "rsus": [
        {"rsuTarget": "10.0.0.1", "rsuRetries": 2},
        {"rsuTarget": "10.0.0.2", "rsuRetries": 3},
    ]},
    {"line_no": 2, "rsus": [
        {"rsuTarget": "10.0.0.3", "rsuRetries": 9},   # out of range
        {"rsuRetries": 1},                             # missing target
    ]},
]


@pytest.fixture(scope="module")
def engine_results(spark, tmp_path_factory):
    path = tmp_path_factory.mktemp("listrules") / "r.json"
    with open(path, "w") as fh:
        for rec in RECORDS:
            fh.write(json.dumps(rec) + "\n")
    df = spark.read.json(str(path))
    ruleset = parse_rules_ini(LIST_CONFIG)
    rows = validate(df, ruleset, ["line_no"]).collect()
    return {(r.line_no, r.field_path): (r.valid, r.details) for r in rows}


def test_per_element_expansion(engine_results):
    res = engine_results
    # record 1: both elements pass both rules
    assert res[(1, "rsus{0}.rsuTarget")] == (True, "")
    assert res[(1, "rsus{1}.rsuTarget")] == (True, "")
    assert res[(1, "rsus{0}.rsuRetries")] == (True, "")
    assert res[(1, "rsus{1}.rsuRetries")] == (True, "")
    # record 2: element 0 retries out of range, element 1 target missing
    valid, details = res[(2, "rsus{0}.rsuRetries")]
    assert not valid and "greater than upper limit" in details
    valid, details = res[(2, "rsus{1}.rsuTarget")]
    assert not valid and details.startswith("Field missing")


def test_reference_parity_well_formed(engine_results):
    results, _ = validate_records(LIST_CONFIG, RECORDS)
    ref = {(sid, path): valid for sid, path, valid, _ in results}

    mine = {k: v for k, (v, _) in engine_results.items()}
    assert ref == mine, (
        f"only-ref={sorted(set(ref) - set(mine))} "
        f"only-mine={sorted(set(mine) - set(ref))} "
        f"diff={[k for k in set(ref) & set(mine) if ref[k] != mine[k]]}"
    )


NESTED_CONFIG = """
[_settings]
DataType = json
Sequential = False

[zones.list.sensors.list.reading]
Type = decimal
LowerLimit = 0
UpperLimit = 10
"""

NESTED_RECORDS = [
    {"line_no": 1, "zones": [
        {"sensors": [{"reading": 5}, {"reading": 11}]},   # 11 out of range
        {"sensors": [{"reading": 2}]},
    ]},
    {"line_no": 2, "zones": [
        {"sensors": [{"reading": -3}, {"other": 1}]},     # -3 low, missing
    ]},
]


@pytest.fixture(scope="module")
def nested_results(spark, tmp_path_factory):
    path = tmp_path_factory.mktemp("nestedlist") / "r.json"
    with open(path, "w") as fh:
        for rec in NESTED_RECORDS:
            fh.write(json.dumps(rec) + "\n")
    df = spark.read.json(str(path))
    ruleset = parse_rules_ini(NESTED_CONFIG)
    rows = validate(df, ruleset, ["line_no"]).collect()
    return {(r.line_no, r.field_path): (r.valid, r.details) for r in rows}


def test_depth2_expansion(nested_results):
    res = nested_results
    assert res[(1, "zones{0}.sensors{0}.reading")] == (True, "")
    valid, details = res[(1, "zones{0}.sensors{1}.reading")]
    assert not valid and "greater than upper limit" in details
    assert res[(1, "zones{1}.sensors{0}.reading")] == (True, "")
    valid, details = res[(2, "zones{0}.sensors{0}.reading")]
    assert not valid and "less than lower limit" in details
    valid, details = res[(2, "zones{0}.sensors{1}.reading")]
    assert not valid
    assert details == "Field missing: zones{0}.sensors{1}.reading"
    assert len(res) == 5


def test_depth2_reference_parity(nested_results):
    """Depth-2 fixture matches the reference validator field-for-field
    (validator.py:304-378 recurses to any depth)."""
    results, _ = validate_records(NESTED_CONFIG, NESTED_RECORDS)
    ref = {(sid, path): valid for sid, path, valid, _ in results}

    mine = {k: v for k, (v, _) in nested_results.items()}
    assert ref == mine, (
        f"only-ref={sorted(set(ref) - set(mine))} "
        f"only-mine={sorted(set(mine) - set(ref))} "
        f"diff={[k for k in set(ref) & set(mine) if ref[k] != mine[k]]}"
    )


def test_missing_list_yields_missing_verdict(spark, tmp_path):
    path = tmp_path / "r.json"
    path.write_text(json.dumps({"line_no": 1, "other": 1}) + "\n")
    df = spark.read.json(str(path))
    ruleset = parse_rules_ini(LIST_CONFIG)
    rows = validate(df, ruleset, ["line_no"]).collect()
    by_path = {r.field_path: r for r in rows}
    assert not by_path["rsus{0}.rsuTarget"].valid
    assert by_path["rsus{0}.rsuTarget"].details.startswith("Field missing")


CONDITIONAL_LIST_CONFIG = """
[_settings]
DataType = json
Sequential = False

[rsus.list.rsuTarget]
Type = string
EqualsValue = {"conditions": [{"ifPart": {"fieldName": "source", "fieldValues": ["EV"]}, "thenPart": {"matchAgainst": ["10.0.0.1", "10.0.0.2"]}}]}
"""

CONDITIONAL_RECORDS = [
    # condition met, both targets allowed
    {"line_no": 1, "source": "EV", "rsus": [
        {"rsuTarget": "10.0.0.1"}, {"rsuTarget": "10.0.0.2"},
    ]},
    # condition met, second target NOT in matchAgainst
    {"line_no": 2, "source": "EV", "rsus": [
        {"rsuTarget": "10.0.0.1"}, {"rsuTarget": "10.9.9.9"},
    ]},
    # condition not met → unconditional check (presence) only
    {"line_no": 3, "source": "RSU", "rsus": [
        {"rsuTarget": "10.9.9.9"},
    ]},
]


@pytest.fixture(scope="module")
def conditional_results(spark, tmp_path_factory):
    path = tmp_path_factory.mktemp("condlist") / "r.json"
    with open(path, "w") as fh:
        for rec in CONDITIONAL_RECORDS:
            fh.write(json.dumps(rec) + "\n")
    df = spark.read.json(str(path))
    ruleset = parse_rules_ini(CONDITIONAL_LIST_CONFIG)
    rows = validate(df, ruleset, ["line_no"]).collect()
    return {(r.line_no, r.field_path): (r.valid, r.details) for r in rows}


def test_conditional_list_rule(conditional_results):
    """Expanded list Fields carry the full config section — conditions
    included (validator.py:316) — so EqualsValue applies per element."""
    res = conditional_results
    assert res[(1, "rsus{0}.rsuTarget")] == (True, "")
    assert res[(1, "rsus{1}.rsuTarget")] == (True, "")
    assert res[(2, "rsus{0}.rsuTarget")] == (True, "")
    valid, details = res[(2, "rsus{1}.rsuTarget")]
    assert not valid and "not one of the expected values" in details
    # condition not met → falls back to unconditional presence check
    assert res[(3, "rsus{0}.rsuTarget")] == (True, "")


def test_conditional_list_reference_parity(conditional_results):
    results, _ = validate_records(CONDITIONAL_LIST_CONFIG, CONDITIONAL_RECORDS)
    ref = {(sid, path): valid for sid, path, valid, _ in results}

    mine = {k: v for k, (v, _) in conditional_results.items()}
    assert ref == mine, (
        f"only-ref={sorted(set(ref) - set(mine))} "
        f"only-mine={sorted(set(mine) - set(ref))} "
        f"diff={[k for k in set(ref) & set(mine) if ref[k] != mine[k]]}"
    )


def test_list2_segment_is_not_a_marker(spark, tmp_path):
    """'a.list2.b' is CLASSIFIED as a list rule (substring '.list',
    validator.py:290) but contains no exact 'list' segment — the
    reference navigates 'list2' as an ordinary key, so the rule
    validates the literal path."""
    cfg = """
[_settings]
DataType = json
Sequential = False

[data.list2.code]
Type = decimal
LowerLimit = 0
UpperLimit = 5
"""
    path = tmp_path / "r.json"
    with open(path, "w") as fh:
        fh.write(json.dumps({"line_no": 1, "data": {"list2": {"code": 3}}}) + "\n")
        fh.write(json.dumps({"line_no": 2, "data": {"list2": {"code": 9}}}) + "\n")
        fh.write(json.dumps({"line_no": 3, "data": {}}) + "\n")
    df = spark.read.json(str(path))
    ruleset = parse_rules_ini(cfg)
    assert len(ruleset.list_rules) == 1  # classifier parity: mis-binned
    rows = validate(df, ruleset, ["line_no"]).collect()
    res = {(r.line_no, r.field_path): (r.valid, r.details) for r in rows}
    assert res[(1, "data.list2.code")] == (True, "")
    valid, details = res[(2, "data.list2.code")]
    assert not valid and "greater than upper limit" in details
    valid, details = res[(3, "data.list2.code")]
    assert not valid and details == "Field missing: data.list2.code"


def test_static_missing_inner_emits_per_outer_element(spark, tmp_path):
    """When the outer array exists in the schema but the inner one
    doesn't, the missing verdict is emitted once per actual outer
    element with real indices (the reference iterates the data,
    validator.py:337-346) — not a single all-{0} row."""
    path = tmp_path / "r.json"
    with open(path, "w") as fh:
        fh.write(json.dumps({"line_no": 1, "zones": [{"a": 1}, {"a": 2}, {"a": 3}]}) + "\n")
        fh.write(json.dumps({"line_no": 2, "zones": [{"a": 1}]}) + "\n")
    df = spark.read.json(str(path))
    ruleset = parse_rules_ini(NESTED_CONFIG)  # zones.list.sensors.list.reading
    rows = validate(df, ruleset, ["line_no"]).collect()
    res = {(r.line_no, r.field_path): r.details for r in rows}
    assert set(res) == {
        (1, "zones{0}.sensors{0}.reading"),
        (1, "zones{1}.sensors{0}.reading"),
        (1, "zones{2}.sensors{0}.reading"),
        (2, "zones{0}.sensors{0}.reading"),
    }
    assert res[(1, "zones{1}.sensors{0}.reading")] == (
        "Field missing: zones{1}.sensors{0}.reading"
    )


EDGE_RECORDS = [
    {"rsus": []},                           # empty list: no element
    {"rsus": None},                         # JSON null
    {},                                     # absent
    {"rsus": 5},                            # a number, not a list
    {"rsus": "x"},                          # a string, not a list
    {"rsus": {"rsuTarget": "10.0.0.1"}},    # an object, not a list
    {"rsus": [None]},                       # a list holding null
    {"rsus": [{"rsuTarget": "10.0.0.1", "rsuRetries": 1}]},
]


def test_empty_null_missing_and_non_list_values_match_model(spark):
    """SURVEY P13 (validator.py:304-378): the expander walks the actual
    elements, so ``[]`` yields no verdict, while a missing, null or
    non-list value yields one ``{0}`` verdict so that absence can
    invalidate. Each record is parsed on its own, as the file sources
    parse each line, so no record's type changes another's.

    The model also carries the reference's fall-through duplicate for
    an absent or null list (``rsus{0}``, validator.py:322-332), which
    the engine does not copy; those rows are stated exactly."""
    df = spark.createDataFrame(
        [(i, json.dumps(r)) for i, r in enumerate(EDGE_RECORDS, start=1)],
        "line_no int, line string",
    ).selectExpr("line_no", "try_parse_json(line) AS rec")
    rows = validate(df, parse_rules_ini(LIST_CONFIG), ["line_no"]).collect()
    mine = {(r.line_no, r.field_path): (r.valid, r.details) for r in rows}

    results, _ = validate_records(LIST_CONFIG, EDGE_RECORDS)
    ref = {(sid, path): (valid, details) for sid, path, valid, details in results}

    assert set(ref) - set(mine) == {(2, "rsus{0}"), (3, "rsus{0}")}
    assert not set(mine) - set(ref), sorted(set(mine) - set(ref))
    assert {k: ref[k] for k in mine} == mine
    assert not any(k[0] == 1 for k in mine)  # [] expands to nothing
