"""Parity for the sequential operator vs the reference Sequential class
(odevalidator/sequential.py), modelled in plain Python by
tests/sequential_model.py, compared as multisets of (valid, details)
per scenario (the reference attaches serialId dicts; we attach serial
numbers — the payload strings are the comparable surface)."""

from __future__ import annotations

from collections import Counter
from datetime import datetime, timedelta, timezone

import pytest

from dev_dot_cvp_metadata_ingestion_spark.operators.sequential import (
    SequentialSpec,
    sequential_results,
)

from .sequential_model import validate_file

T0 = datetime(2019, 1, 1, 0, 0, 0, tzinfo=timezone.utc)


def rec(sn, rid, bid, bs, gen_off=None, recv_off=None, logf=True):
    return {
        "sn": sn,
        "rid": rid,
        "bid": bid,
        "bs": bs,
        "gen": T0 + timedelta(seconds=gen_off if gen_off is not None else sn),
        "recv": T0 + timedelta(seconds=recv_off if recv_off is not None else sn),
        "logf": logf,
    }


SCENARIOS = {
    "clean": [rec(0, 0, 1, 3), rec(1, 1, 1, 3), rec(2, 2, 1, 3),
              rec(3, 0, 2, 2), rec(4, 1, 2, 2)],
    "serial_gap": [rec(0, 0, 1, 3), rec(2, 1, 1, 3), rec(3, 2, 1, 3)],
    "record_id_gap": [rec(0, 0, 1, 3), rec(1, 2, 1, 3), rec(2, 3, 1, 3)],
    "ts_regression": [rec(0, 0, 1, 2, gen_off=10), rec(1, 1, 1, 2, gen_off=5)],
    "recv_regression": [rec(0, 0, 1, 2, recv_off=10), rec(1, 1, 1, 2, recv_off=5)],
    "full_count_mismatch": [rec(0, 0, 1, 3), rec(1, 1, 1, 3), rec(2, 1, 1, 3),
                            rec(3, 2, 1, 3)],
    "tail_partial": [rec(0, 3, 1, 6), rec(1, 4, 1, 6)],
    "tail_mixed_bs": [rec(0, 1, 1, 5), rec(1, 2, 1, 3), rec(2, 3, 1, 5)],
    "bundle_reappears": [rec(0, 0, 1, 1), rec(1, 0, 2, 1), rec(2, 0, 1, 1)],
    "no_logfile_suppresses_full": [rec(0, 0, 1, 3, logf=False),
                                   rec(1, 1, 1, 3, logf=False),
                                   rec(2, 1, 1, 3, logf=False),
                                   rec(3, 2, 1, 3, logf=False)],
}


def reference_errors(records, skips=()):
    results = validate_file(records, set(skips))
    return Counter((valid, details) for _, _, valid, details in results)


def engine_errors(spark, records, skips=()):
    df = spark.createDataFrame(
        [
            (
                "f1",
                r["bid"],
                r["sn"],
                r["rid"],
                r["bs"],
                r["gen"],
                r["recv"],
                r["logf"],
                bool(skips),
            )
            for r in records
        ],
        "file string, bid long, sn long, rid long, bs long, gen timestamp, "
        "recv timestamp, logf boolean, skipflag boolean",
    )
    spec = SequentialSpec(
        file="file",
        bundle_id="bid",
        serial_number="sn",
        record_id="rid",
        bundle_size="bs",
        record_generated_at="gen",
        ode_received_at="recv",
        has_log_file_name="logf",
        skip_flags={p: "skipflag" for p in skips},
    )
    rows = sequential_results(df, spec).collect()
    return Counter((r.valid, r.details) for r in rows)


@pytest.mark.parametrize("name", sorted(SCENARIOS))
def test_sequential_scenario(spark, name):
    records = SCENARIOS[name]
    assert engine_errors(spark, records) == reference_errors(records), name


def test_skip_gating(spark):
    records = SCENARIOS["serial_gap"]
    skips = ["metadata.serialId.serialNumber"]
    assert engine_errors(spark, records, skips) == reference_errors(records, skips)
