"""Randomized reference parity (SURVEY §5.4): seeded random mutations
of a valid ODE record — dropped fields, out-of-range numbers, wrong
enums, empty strings, broken conditionals — validated by BOTH the
reference validator (modelled in plain Python by
tests/validator_model.py) and this engine in one batch; every
(record, rule) verdict must agree."""

from __future__ import annotations

import copy
import json
import random

import pytest

from dev_dot_cvp_metadata_ingestion_spark.operators.validation import validate
from dev_dot_cvp_metadata_ingestion_spark.sources.rules import (
    fixture_rules_path,
    load_rules_file,
)

from .test_validation_parity import NOW_RULES, make_record
from .validator_model import validate_records

CONFIG = fixture_rules_path("config_2.ini")

MUTATIONS = [
    ("drop", "metadata.recordGeneratedBy"),
    ("drop", "metadata.serialId.streamId"),
    ("drop", "metadata.receivedMessageDetails.locationData.speed"),
    ("drop", "metadata.payloadType"),
    ("drop", "metadata.receivedMessageDetails"),
    ("set", "metadata.recordGeneratedBy", "MARS"),
    ("set", "metadata.recordType", "telepathy"),
    ("set", "metadata.sanitized", "maybe"),
    ("set", "metadata.securityResultCode", "nope"),
    ("set", "metadata.bsmSource", "XX"),
    ("set", "metadata.receivedMessageDetails.locationData.latitude", 91.5),
    ("set", "metadata.receivedMessageDetails.locationData.latitude", -95.25),
    ("set", "metadata.receivedMessageDetails.locationData.longitude", 181.0),
    ("set", "metadata.receivedMessageDetails.locationData.speed", 200.0),
    ("set", "metadata.receivedMessageDetails.locationData.heading", 400.0),
    ("set", "metadata.receivedMessageDetails.locationData.elevation", ""),
    ("set", "metadata.serialId.bundleSize", 0),
    ("set", "metadata.serialId.bundleId", -1),
    ("set", "metadata.serialId.recordId", -3),
    ("set", "metadata.logFileName", "zzz.log"),
    ("set", "metadata.logFileName", ""),
    ("set", "metadata.recordType", "rxMsg"),
    ("set", "metadata.sanitized", "True"),
    ("set", "metadata.recordGeneratedBy", "TMC"),
    ("set", "metadata.receivedMessageDetails.rxSource", "MOON"),
    ("set", "metadata.payloadType", "us.dot.its.jpo.ode.model.OdeTimPayload"),
]


def _apply(rec: dict, op) -> None:
    kind, path, *rest = op
    keys = path.split(".")
    cur = rec
    for k in keys[:-1]:
        cur = cur.setdefault(k, {})
    if kind == "drop":
        cur.pop(keys[-1], None)
    else:
        cur[keys[-1]] = rest[0]


def gen_records(n: int, seed: int) -> list[dict]:
    rng = random.Random(seed)
    out = []
    for i in range(1, n + 1):
        rec = copy.deepcopy(make_record())
        for op in rng.sample(MUTATIONS, rng.randint(0, 4)):
            _apply(rec, op)
        rec["line_no"] = i
        out.append(rec)
    return out


@pytest.mark.parametrize("seed", [7, 42])
def test_fuzzed_verdicts_match(spark, tmp_path, seed):
    records = gen_records(40, seed)

    with open(CONFIG, encoding="utf-8") as fh:
        results, _ = validate_records(
            fh.read(),
            [{k: v for k, v in rec.items() if k != "line_no"} for rec in records],
        )
    ref = {(sid, path): valid for sid, path, valid, _ in results}

    path = tmp_path / f"fuzz{seed}.json"
    with open(path, "w") as fh:
        for rec in records:
            fh.write(json.dumps(rec) + "\n")
    df = spark.read.json(str(path))
    ruleset = load_rules_file(CONFIG)
    mine = {
        (r.line_no, r.field_path): r.valid
        for r in validate(df, ruleset, ["line_no"]).collect()
    }

    assert set(ref) == set(mine)
    diffs = [
        (k, ref[k], mine[k])
        for k in ref
        if ref[k] != mine[k] and k[1] not in NOW_RULES
    ]
    assert not diffs, f"{len(diffs)} verdict mismatches: {diffs[:8]}"
