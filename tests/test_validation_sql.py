"""The rule compiler emits SQL text: INI values that reach it must be
escaped, and building the validation plan must stay a handful of JVM
round trips however many rules the INI declares. So must building the
whole pipeline, whose sequential checks are SQL text too."""

from __future__ import annotations

import json

import pytest
from py4j import protocol as proto

from dev_dot_cvp_metadata_ingestion_spark.operators.validation import validate
from dev_dot_cvp_metadata_ingestion_spark.plans.pipeline import run_cv_pipeline
from dev_dot_cvp_metadata_ingestion_spark.sources.rules import (
    fixture_rules_path,
    load_rules_file,
    parse_rules_ini,
)

from .test_pipeline import _record

# INI escapes: JSON ``\\`` is one backslash, ``$$`` one dollar sign
ESCAPE_INI = r"""
[_settings]
DataType = json
Sequential = False

[a.kind]
Type = enum
Values = ["it's", "back\\slash", "$${spark.app.name}"]

[a.odd-name]
Type = decimal
UpperLimit = 10

[a.`tick]
Type = string

[a.stamp]
Type = timestamp
DateFormat = %Y-%m-%dT%H:%M:%SZ
LatestTime = 2020-01-01T00:00:00Z
"""

KNOWN = "[it's, back\\slash, ${spark.app.name}]"


def _verdicts(spark, tmp_path, ini: str, records: list[dict]) -> dict:
    path = tmp_path / "records.json"
    path.write_text(
        "".join(json.dumps({"a": r, "n": i}) + "\n" for i, r in enumerate(records))
    )
    df = spark.read.json(str(path))
    rows = validate(df, parse_rules_ini(ini), ["n"]).collect()
    return {(r.n, r.field_path): (r.valid, r.details) for r in rows}


def test_enum_values_with_quote_backslash_and_dollar(spark, tmp_path):
    kinds = ["it's", "IT'S", "back\\slash", "${spark.app.name}", "nope", "cvp"]
    got = _verdicts(spark, tmp_path, ESCAPE_INI, [{"kind": k} for k in kinds])
    assert [got[(i, "a.kind")] for i in range(len(kinds))] == [
        (True, ""),
        (True, ""),
        (True, ""),
        (True, ""),
        (False, f"Value 'nope' not in list of known values: {KNOWN}"),
        # a substituted ${spark.app.name} would make this one valid
        (False, f"Value 'cvp' not in list of known values: {KNOWN}"),
    ]


def test_field_path_segments_that_need_backticks(spark, tmp_path):
    got = _verdicts(spark, tmp_path, ESCAPE_INI, [
        {"odd-name": 11, "`tick": "x"},
        {"odd-name": 3, "`tick": ""},
        {},
    ])
    assert got[(0, "a.odd-name")] == (
        False, "Value '11' is greater than upper limit '10'"
    )
    assert got[(1, "a.odd-name")] == (True, "")
    assert got[(0, "a.`tick")] == (True, "")
    assert got[(1, "a.`tick")] == (False, "Field empty")
    assert got[(2, "a.`tick")] == (False, "Field missing: a.`tick")


def test_date_format_with_quoted_letters(spark, tmp_path):
    stamps = ["2019-05-05T10:11:12Z", "2021-01-01T00:00:00Z", "2019-05-05 10:11:12"]
    got = _verdicts(spark, tmp_path, ESCAPE_INI, [{"stamp": s} for s in stamps])
    assert [got[(i, "a.stamp")] for i in range(len(stamps))] == [
        (True, ""),
        (False, "Timestamp value '2021-01-01 00:00:00' occurs after latest "
                "limit '2020-01-01 00:00:00+00:00'"),
        (False, "failure to perform timestamp validation"),
    ]


# rule paths are JSON paths over the record: these keys need quoting
QUOTED_INI = r"""
[_settings]
DataType = json
Sequential = False

[a.say"hi]
Type = string

[a.x]y]
Type = string

[a.back\slash.it's]
Type = decimal
UpperLimit = 10
"""


def test_field_names_with_quotes_brackets_and_backslash(spark, tmp_path):
    got = _verdicts(spark, tmp_path, QUOTED_INI, [
        {'say"hi': "x", "x]y": "", "back\\slash": {"it's": 11}},
        {"back\\slash": {"it's": 3}},
    ])
    assert got[(0, 'a.say"hi')] == (True, "")
    assert got[(0, "a.x]y")] == (False, "Field empty")
    assert got[(0, "a.back\\slash.it's")] == (
        False, "Value '11' is greater than upper limit '10'"
    )
    assert got[(1, 'a.say"hi')] == (False, 'Field missing: a.say"hi')
    assert got[(1, "a.x]y")] == (False, "Field missing: a.x]y")
    assert got[(1, "a.back\\slash.it's")] == (True, "")


def test_field_name_with_both_quotes_is_refused(spark, tmp_path):
    ini = QUOTED_INI + "\n[a.both\"'q]\nType = string\n"
    with pytest.raises(ValueError, match="both quote characters"):
        _verdicts(spark, tmp_path, ini, [{}])


def test_repeated_key_keeps_its_last_value(spark):
    """A line that repeats a key reads as ``json.loads`` reads it: the
    last value wins (a NULL parse would read "Field missing")."""
    lines = [
        '{"a": {"kind": "nope", "kind": "it\'s"}}',
        '{"a": {"kind": "it\'s", "kind": "nope"}}',
    ]
    assert [json.loads(x)["a"]["kind"] for x in lines] == ["it's", "nope"]
    df = spark.createDataFrame(list(enumerate(lines)), "n int, line string")
    rows = validate(
        df.selectExpr("n", "try_parse_json(line) AS rec"),
        parse_rules_ini(ESCAPE_INI), ["n"],
    ).collect()
    got = {(r.n, r.field_path): (r.valid, r.details) for r in rows}
    assert got[(0, "a.kind")] == (True, "")
    assert got[(1, "a.kind")] == (
        False, f"Value 'nope' not in list of known values: {KNOWN}"
    )


def test_scan_reads_only_the_columns_rules_read(spark, tmp_path):
    """A typed frame's columns that no rule names stay out of ``rec``,
    so the scan prunes them."""
    path = tmp_path / "records.json"
    path.write_text(json.dumps({"a": {"kind": "x"}, "n": 0, "unread_col": "y"}) + "\n")
    out = validate(spark.read.json(str(path)), parse_rules_ini(ESCAPE_INI), ["n"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in plan and "unread_col" not in plan
    assert out.count() == 4


def _py4j_commands(spark, monkeypatch, build):
    """(py4j commands that ``build()`` sends, its result)."""
    client = spark.sparkContext._gateway._gateway_client
    sent = []
    send = client.send_command
    # py4j's finalizer thread releases objects earlier tests dropped;
    # those memory-delete commands are not part of this plan build
    release = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME

    def counting(command, *args, **kwargs):
        if not command.startswith(release):
            sent.append(1)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    try:
        out = build()
    finally:
        monkeypatch.undo()
    return len(sent), out


def test_plan_build_is_a_handful_of_jvm_calls(spark, tmp_path, monkeypatch):
    """validate() over the shipped 43-rule INI sends its rules to the
    JVM as SQL text: at most 100 py4j commands in all."""
    path = tmp_path / "records.json"
    path.write_text(json.dumps({"n": 0, **_record(0)}) + "\n")
    df = spark.read.json(str(path))
    ruleset = load_rules_file(fixture_rules_path())
    assert len(ruleset.rules) == 43

    sent, out = _py4j_commands(
        spark, monkeypatch, lambda: validate(df, ruleset, ["n"])
    )
    assert sent <= 100, f"{sent} py4j commands to build the plan"
    assert out.count() == 43


def test_pipeline_build_is_a_handful_of_jvm_calls(spark, tmp_path, monkeypatch):
    """run_cv_pipeline with sequential checks on: the lines, records,
    rules, sequential checks and tallies reach the JVM as SQL text, at
    most 150 py4j commands in all."""
    (tmp_path / "in").mkdir()
    (tmp_path / "in" / "a.json").write_text(
        "".join(json.dumps(_record(i)) + "\n" for i in range(3))
    )
    ruleset = load_rules_file(fixture_rules_path())
    ruleset.sequential = True

    sent, res = _py4j_commands(
        spark, monkeypatch,
        lambda: run_cv_pipeline(spark, str(tmp_path / "in"), ruleset),
    )
    try:
        assert sent <= 150, f"{sent} py4j commands to build the pipeline"
        assert [tuple(r) for r in res.sequential.select("field_path", "valid").collect()] == [
            ("SequentialCheck", True)
        ]
    finally:
        res.unpersist()
