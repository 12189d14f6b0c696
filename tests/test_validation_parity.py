"""Reference-parity: run a plain-Python model of the reference
validator (tests/validator_model.py) on fixture NDJSON and assert the
engine's SQL-text rule compiler produces the same verdicts
field-for-field.

This is the strongest correctness signal available (the reference ships
no tests, SURVEY §5). Fixtures cover: valid records, range violations,
enum misses, missing/empty fields, conditional (matchAgainst /
startsWithField / existence-style) rules, scalar-EqualsValue no-ops,
and the sequential skip set.
"""

from __future__ import annotations

import json

import pytest

from dev_dot_cvp_metadata_ingestion_spark.operators.validation import (
    skip_flag_exprs,
    validate,
    with_rec,
)
from dev_dot_cvp_metadata_ingestion_spark.sources.rules import (
    fixture_rules_path,
    load_rules_file,
)

from .validator_model import validate_records

CONFIG = fixture_rules_path("config_2.ini")

# rules whose invalid-details embed the frozen NOW (differs between the
# two engines' parse instants) — verdicts compared, messages not
NOW_RULES = {"metadata.recordGeneratedAt", "metadata.odeReceivedAt"}
# messages we deliberately render differently (documented deviations:
# exception text omitted, engine-neutral timestamp rendering)
LOOSE_DETAIL_PREFIXES = ("failure to perform",)


def make_record(**overrides):
    rec = {
        "metadata": {
            "recordGeneratedAt": "2019-01-01T00:00:00.000Z",
            "recordGeneratedBy": "OBU",
            "recordType": "bsmTx",
            "sanitized": "False",
            "schemaVersion": 6,
            "securityResultCode": "success",
            "bsmSource": "EV",
            "payloadType": "us.dot.its.jpo.ode.model.OdeBsmPayload",
            "logFileName": "bsmTx_file.log",
            "odeReceivedAt": "2019-01-01T00:00:01.000Z",
            "serialId": {
                "streamId": "stream-1",
                "bundleSize": 1,
                "bundleId": 0,
                "recordId": 0,
                "serialNumber": 0,
            },
            "receivedMessageDetails": {
                "locationData": {
                    "latitude": 40.0,
                    "longitude": -105.0,
                    "elevation": "1600",
                    "speed": 10.0,
                    "heading": 90.0,
                },
                "rxSource": "NA",
            },
        },
        "payload": {"dataType": "us.dot.its.jpo.ode.plugin.j2735.J2735Bsm"},
    }
    for path, value in overrides.items():
        cur = rec
        keys = path.split(".")
        for k in keys[:-1]:
            cur = cur.setdefault(k, {})
        if value is ...:
            cur.pop(keys[-1], None)
        else:
            cur[keys[-1]] = value
    return rec


def tmc_record(**overrides):
    base = make_record(
        **{
            "metadata.recordGeneratedBy": "TMC",
            "metadata.recordType": "unsupported",
            "metadata.payloadType": "x",
            "metadata.request.ode.verb": "POST",
            "metadata.request.ode.version": 3,
            "metadata.request.sdw.recordId": "rec-1",
            "metadata.request.sdw.ttl": "oneday",
            "metadata.request.sdw.serviceRegion.nwCorner.latitude": 44.0,
            "metadata.request.sdw.serviceRegion.nwCorner.longitude": -100.0,
            "metadata.request.sdw.serviceRegion.seCorner.latitude": 41.0,
            "metadata.request.sdw.serviceRegion.seCorner.longitude": -96.0,
            "metadata.request.snmp.mode": 1,
            "metadata.request.snmp.deliverystart": "2017-06-01T17:47:11-05:00",
            "metadata.request.snmp.deliverystop": "2018-01-01T17:47:11-05:00",
            "metadata.request.snmp.rsuid": 3,
            "metadata.request.snmp.enable": 1,
            "metadata.request.snmp.channel": 178,
            "metadata.request.snmp.msgid": 31,
            "metadata.request.snmp.interval": 1,
            "metadata.request.snmp.status": 4,
        }
    )
    return make_record(**overrides) if False else _merge(base, overrides)


def _merge(base, overrides):
    for path, value in overrides.items():
        cur = base
        keys = path.split(".")
        for k in keys[:-1]:
            cur = cur.setdefault(k, {})
        if value is ...:
            cur.pop(keys[-1], None)
        else:
            cur[keys[-1]] = value
    return base


FIXTURES = [
    make_record(),  # 1: fully valid OBU/bsmTx
    tmc_record(),  # 2: valid TMC (request.* unconditional branch)
    make_record(  # 3: bsmSource out of matchAgainst
        **{"metadata.recordType": "bsmLogDuringEvent", "metadata.bsmSource": "unknown",
           "metadata.logFileName": "bsmLogDuringEvent_x.log"}
    ),
    make_record(  # 4: locationData range violations
        **{
            "metadata.receivedMessageDetails.locationData.latitude": 95.5,
            "metadata.receivedMessageDetails.locationData.speed": -1.0,
            "metadata.receivedMessageDetails.locationData.heading": 360.5,
        }
    ),
    make_record(**{"metadata.logFileName": ...}),  # 5: required missing
    make_record(**{"metadata.logFileName": "wrongPrefix.log"}),  # 6: startsWith
    make_record(  # 7: payloadType mismatch for dnMsg
        **{"metadata.recordType": "dnMsg", "metadata.logFileName": "dnMsg_y.log",
           "metadata.payloadType": "us.dot.its.jpo.ode.model.OdeBsmPayload"}
    ),
    make_record(  # 8: empty strings (AllowEmpty vs not)
        **{
            "metadata.receivedMessageDetails.locationData.elevation": "",
            "metadata.serialId.streamId": "",
        }
    ),
    make_record(**{"metadata.recordGeneratedBy": "ALIEN"}),  # 9: enum miss
    make_record(**{"metadata.schemaVersion": 99}),  # 10: no-op rule passes
    make_record(  # 11: rxMsg + sanitized → skip-set membership
        **{"metadata.recordType": "rxMsg", "metadata.sanitized": "True",
           "metadata.logFileName": "rxMsg_z.log",
           "metadata.receivedMessageDetails.rxSource": "RSU",
           "metadata.payloadType": "us.dot.its.jpo.ode.model.OdeTimPayload"}
    ),
    make_record(**{"metadata.odeReceivedAt": "2030-01-01T00:00:00.000Z"}),  # 12: future ts
    make_record(  # 13: securityResultCode matchAgainst miss
        **{"metadata.securityResultCode": "bogus"}
    ),
    tmc_record(**{"metadata.request.ode.verb": "GET"}),  # 14: TMC verb not in [POST,PUT]
    tmc_record(**{"metadata.request.ode.version": 3.0}),  # 15: numeric matchAgainst 3.0∈[3]
    tmc_record(**{"metadata.request.snmp.enable": 2}),  # 16: TMC snmp range violation
]


@pytest.fixture(scope="module")
def reference_results():
    with open(CONFIG, encoding="utf-8") as fh:
        results, skips = validate_records(fh.read(), FIXTURES)
    out = {(sid, path): (valid, details) for sid, path, valid, details in results}
    return out, skips


@pytest.fixture(scope="module")
def engine_results(spark, tmp_path_factory):
    path = tmp_path_factory.mktemp("ndjson") / "records.json"
    with open(path, "w") as fh:
        for i, rec in enumerate(FIXTURES, start=1):
            fh.write(json.dumps({**rec, "line_no": i}) + "\n")
    df = spark.read.json(str(path))
    ruleset = load_rules_file(CONFIG)
    results = validate(df, ruleset, ["line_no"]).collect()
    out = {(r.line_no, r.field_path): (r.valid, r.details) for r in results}

    flags = skip_flag_exprs(ruleset)
    df = with_rec(df, ruleset)
    if flags:
        row = df.agg(
            *[F_max(c).alias(p) for p, c in flags.items()]
        ).collect()[0]
        skips = {p for p in flags if row[p]}
    else:
        skips = set()
    return out, skips


def F_max(c):
    from pyspark.sql import functions as F

    return F.max(c.cast("int")) == 1


def test_verdicts_match(reference_results, engine_results):
    ref, _ = reference_results
    mine, _ = engine_results
    assert set(ref) == set(mine), (
        f"result-key sets differ: only-ref={sorted(set(ref) - set(mine))[:5]} "
        f"only-engine={sorted(set(mine) - set(ref))[:5]}"
    )
    mismatches = []
    for key in sorted(ref):
        rv, rd = ref[key]
        mv, md = mine[key]
        if rv != mv:
            mismatches.append((key, "valid", rv, mv, rd, md))
            continue
        if not rv and key[1] not in NOW_RULES:
            if rd.startswith(LOOSE_DETAIL_PREFIXES) and md.startswith(
                LOOSE_DETAIL_PREFIXES
            ):
                continue
            if rd != md:
                mismatches.append((key, "details", rv, mv, rd, md))
    assert not mismatches, "\n".join(str(m) for m in mismatches[:10])


def test_skip_set_matches(reference_results, engine_results):
    _, ref_skips = reference_results
    _, my_skips = engine_results
    assert ref_skips == my_skips
