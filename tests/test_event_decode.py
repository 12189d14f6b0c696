"""S1 event decode: parity with the reference's _fetchS3DetailsFromEvent,
as modelled in plain Python by tests/validator_model.py, for both the
driver-side helper and the Column form."""

from __future__ import annotations

import json

from dev_dot_cvp_metadata_ingestion_spark.sources.events import (
    decode_s3_event,
    decode_s3_events,
)

from .validator_model import decode_event


def make_event(bucket: str, key: str) -> dict:
    s3_event = {"Records": [{"s3": {"bucket": {"name": bucket}, "object": {"key": key}}}]}
    return {"Records": [{"Sns": {"Message": json.dumps(s3_event)}}]}


CASES = [
    ("submissions", "cv/provider/bsm/file.json"),
    ("submissions", "waze/state%3DCO/type%3Dalert/f.json"),  # %3D → '='
    ("curated", "path/with+plus/and%20space.json.gz"),
]


def test_driver_side_matches_reference():
    for bucket, key in CASES:
        event = make_event(bucket, key)
        assert decode_s3_event(event) == decode_event(event)


def test_column_form_matches_driver_side(spark):
    rows = [(json.dumps(make_event(b, k)),) for b, k in CASES]
    df = spark.createDataFrame(rows, "event_json string")
    got = {
        (r.bucket, r.key) for r in decode_s3_events(df).collect()
    }
    want = {decode_s3_event(make_event(b, k)) for b, k in CASES}
    assert got == want
