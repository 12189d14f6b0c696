"""Seeded generator of ODE BSM NDJSON files plus their ground truth.

Every record matches ``fixtures/config_2.ini`` (43 scalar rules, zero
errors) unless a fault is planted in it:

* a field fault changes one field to a value that trips exactly one
  rule (one invalid row per faulty record);
* an ordering fault skips one serialNumber inside a bundle, which trips
  exactly one sequential check and removes the file's passing
  ``SequentialCheck`` row.

File sizes and the number of faults depend only on the workload's
shape; the seed chooses the record contents and where faults go, so
every seed gives the same amount of work.
"""

from __future__ import annotations

import gzip
import json
import os
import random
from dataclasses import asdict, dataclass
from datetime import datetime, timedelta, timezone

N_RULES = 43  # scalar rules in fixtures/config_2.ini
FIELD_FAULT_EVERY = 7  # about one record in seven carries a field fault
BUNDLE_SIZE = 10

PROVIDERS = ("wydot", "thea", "nycdot")
DATA_TYPES = ("BSM", "TIM")

# (field setter, value) pairs; each trips exactly one rule
_FIELD_FAULTS = (
    ("latitude", 95.0),
    ("longitude", -181.5),
    ("speed", 200.0),
    ("heading", 400.0),
    ("elevation", "-500"),
    ("securityResultCode", "bogusResultCode"),
    ("sanitized", "Maybe"),
)

_EPOCH = datetime(2023, 1, 1, tzinfo=timezone.utc)


@dataclass
class FileTruth:
    """Expected pipeline output for one generated file."""

    key: str  # path relative to the input root, ``cv/<provider>/<type>/...``
    provider: str
    data_type: str
    records: int  # MessageCount
    error_messages: int  # num_error_messages
    errors: int  # num_errors
    sequential_pass: bool  # one passing SequentialCheck row expected


def _iso(ts: datetime) -> str:
    return ts.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ts.microsecond // 1000:03d}Z"


def _record(rng: random.Random, i: int, serial: int, start: datetime,
            stream_id: str) -> dict:
    kind = rng.random()
    if kind < 0.5:
        rtype, source = "bsmTx", "EV"
    else:
        rtype, source = "bsmLogDuringEvent", rng.choice(("RV", "EV"))
    gen = start + timedelta(milliseconds=100 * i)
    lat = round(rng.uniform(40.0, 42.0), 7)
    lon = round(rng.uniform(-111.0, -104.0), 7)
    speed = round(rng.uniform(0.0, 35.0), 2)
    heading = round(rng.uniform(0.0, 359.0), 4)
    elev = f"{rng.uniform(1200.0, 2500.0):.1f}"
    return {
        "metadata": {
            "recordGeneratedAt": _iso(gen),
            "recordGeneratedBy": "OBU",
            "recordType": rtype,
            "sanitized": "False",
            "schemaVersion": 6,
            "securityResultCode": "success",
            "bsmSource": source,
            "payloadType": "us.dot.its.jpo.ode.model.OdeBsmPayload",
            "logFileName": f"{rtype}_{stream_id}.gz",
            "odeReceivedAt": _iso(gen + timedelta(milliseconds=250)),
            "serialId": {
                "streamId": stream_id,
                "bundleSize": BUNDLE_SIZE,
                "bundleId": i // BUNDLE_SIZE,
                "recordId": i % BUNDLE_SIZE,
                "serialNumber": serial,
            },
            "receivedMessageDetails": {
                "locationData": {
                    "latitude": lat,
                    "longitude": lon,
                    "elevation": elev,
                    "speed": speed,
                    "heading": heading,
                },
                "rxSource": "NA",
            },
        },
        "payload": {
            "dataType": "us.dot.its.jpo.ode.plugin.j2735.J2735Bsm",
            "data": {
                "coreData": {
                    "msgCnt": i % 128,
                    "id": f"{rng.getrandbits(32):08X}",
                    "secMark": (100 * i) % 60000,
                    "position": {"latitude": lat, "longitude": lon,
                                 "elevation": float(elev)},
                    "accelSet": {"accelLat": 0.0, "accelLong": round(rng.uniform(-2, 2), 2),
                                 "accelVert": 0.0, "accelYaw": 0.0},
                    "accuracy": {"semiMajor": 2.0, "semiMinor": 2.0},
                    "speed": speed,
                    "heading": heading,
                    "brakes": {"wheelBrakes": {"leftFront": False, "rightFront": False,
                                               "unavailable": True},
                               "traction": "unavailable", "abs": "unavailable"},
                    "size": {"width": 190, "length": 570},
                },
            },
        },
    }


def _plant_field_fault(rec: dict, fault: tuple[str, object]) -> None:
    name, value = fault
    meta = rec["metadata"]
    loc = meta["receivedMessageDetails"]["locationData"]
    if name in loc:
        loc[name] = value
    else:
        meta[name] = value


def write_file(path: str, rng: random.Random, n_records: int, *,
               start: datetime, ordering_fault: bool,
               key: str, provider: str, data_type: str) -> FileTruth:
    """Write one NDJSON file (gzip when ``path`` ends in ``.gz``) and
    return its ground truth."""
    stream_id = f"{rng.getrandbits(48):012x}"
    n_faults = n_records // FIELD_FAULT_EVERY
    faulty = set(rng.sample(range(n_records), n_faults))
    # skip one serial number before record ``gap``; the serialNumber
    # check runs within a bundle, so ``gap`` is never a bundle's first
    gap = None
    if ordering_fault:
        gap = rng.choice([i for i in range(1, n_records) if i % BUNDLE_SIZE])
    serial0 = rng.randrange(0, 1 << 20)
    lines = []
    for i in range(n_records):
        serial = serial0 + i + (1 if gap is not None and i >= gap else 0)
        rec = _record(rng, i, serial, start, stream_id)
        if i in faulty:
            _plant_field_fault(rec, rng.choice(_FIELD_FAULTS))
        lines.append(json.dumps(rec, separators=(",", ":")))
    data = ("\n".join(lines) + "\n").encode()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    if path.endswith(".gz"):
        data = gzip.compress(data, compresslevel=1, mtime=0)
    with open(path, "wb") as fh:
        fh.write(data)
    return FileTruth(key=key, provider=provider, data_type=data_type,
                     records=n_records, error_messages=n_faults,
                     errors=n_faults, sequential_pass=not ordering_fault)


def file_key(index: int, start: datetime, *, gz: bool) -> tuple[str, str, str]:
    """Hive-style relative key ``cv/<provider>/<type>/year=/month=/name``."""
    provider = PROVIDERS[index % len(PROVIDERS)]
    data_type = DATA_TYPES[(index // len(PROVIDERS)) % len(DATA_TYPES)]
    name = f"{data_type.lower()}_{index:05d}.json" + (".gz" if gz else "")
    key = (f"cv/{provider}/{data_type}/year={start.year}/"
           f"month={start.month:02d}/{name}")
    return key, provider, data_type


def file_sizes(n_files: int, total_records: int) -> list[int]:
    """Similar-sized files (±20%) summing to ``total_records``; fixed by
    the shape alone so that every seed does the same work."""
    weights = [1.0 + 0.2 * ((i * 7919) % 11 - 5) / 5 for i in range(n_files)]
    scale = total_records / sum(weights)
    sizes = [max(BUNDLE_SIZE, int(w * scale)) for w in weights]
    sizes[0] += total_records - sum(sizes)
    return sizes


def generate_batch(root: str, seed: int, *, n_files: int, total_records: int,
                   gz_share: float, ordering_faults: int) -> list[FileTruth]:
    """Write ``n_files`` files under ``root`` and return the manifest."""
    rng = random.Random(seed)
    sizes = file_sizes(n_files, total_records)
    bad_order = set(rng.sample(range(n_files), ordering_faults))
    n_gz = round(n_files * gz_share)
    truth = []
    for i, n in enumerate(sizes):
        start = _EPOCH + timedelta(days=rng.randrange(0, 540),
                                   seconds=rng.randrange(0, 86400))
        key, provider, data_type = file_key(i, start, gz=i < n_gz)
        truth.append(write_file(os.path.join(root, key), rng, n, start=start,
                                ordering_fault=i in bad_order, key=key,
                                provider=provider, data_type=data_type))
    return truth


def write_manifest(path: str, truth: list[FileTruth]) -> None:
    with open(path, "w") as fh:
        json.dump([asdict(t) for t in truth], fh, indent=1)
