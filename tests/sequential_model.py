"""Plain-Python model of the reference's sequential (ordering) checks,
W1-W8 (SURVEY §2.5, odevalidator/sequential.py:14-110).

It is written in the reference's imperative shape, not as window
algebra: sort one file's records by serialNumber (W1), walk the
contiguous runs of equal bundleId (W2), compare each record with its
predecessor in the bundle (W3-W5), run the two bundle-size checks with
their previous-bundleSize trackers (W6), gate every check by the
file-wide skip set (W7), and emit the single all-pass row when nothing
failed (W8). It never imports the engine, so tests can pin
``operators.sequential`` to it.

A record is a dict with keys ``sn``, ``rid``, ``bid``, ``bs`` (ints),
``gen``, ``recv`` (datetimes; naive ones are read as local time, as
PySpark's ``createDataFrame`` reads them) and ``logf`` (bool:
'logFileName' present). A result is a (serial_number, field_path,
valid, details) tuple.

Missing values (None) are outside the reference's domain: it would fail
on ``int(None)``. The model gives them the meaning SQL NULL has, which
is what the engine does: a comparison with a missing value is unknown,
an unknown check emits nothing, missing serial numbers sort first, and
a record whose bundleId is missing continues the run before it, while
the record after it starts a new run. Records with equal serial numbers
have no defined order.
"""

from __future__ import annotations

from datetime import datetime, timezone

SEQUENTIAL_CHECK = "SequentialCheck"

RECORD_ID = "metadata.serialId.recordId"
SERIAL_NUMBER = "metadata.serialId.serialNumber"
GENERATED_AT = "metadata.recordGeneratedAt"
RECEIVED_AT = "metadata.odeReceivedAt"
BUNDLE_SIZE = "metadata.serialId.bundleSize"


def _known(*values) -> bool:
    return all(v is not None for v in values)


def _second(ts: datetime | None) -> datetime | None:
    # the reference truncates to whole seconds before comparing
    # (sequential.py:32-40) and renders str() of an aware UTC datetime
    if ts is None:
        return None
    return ts.astimezone(timezone.utc).replace(microsecond=0)


def _bundles(records: list[dict]) -> list[list[dict]]:
    """W2: maximal contiguous runs of equal bundleId, in serial order —
    a bundleId that reappears later starts a new bundle
    (sequential.py:89-110)."""
    bundles: list[list[dict]] = []
    prev_bid = None
    for r in records:
        starts = (
            not bundles
            or prev_bid is None
            or (r["bid"] is not None and r["bid"] != prev_bid)
        )
        if starts:
            bundles.append([r])
        else:
            bundles[-1].append(r)
        prev_bid = r["bid"]
    return bundles


def _record_checks(bundle: list[dict], skips: set[str]) -> list[tuple]:
    """W3-W5: each record against its predecessor in the bundle."""
    out = []
    for prev, cur in zip(bundle, bundle[1:]):
        if prev["sn"] is None:
            # no known predecessor to compare with
            continue
        sn, rid, bs = cur["sn"], cur["rid"], cur["bs"]
        if (
            RECORD_ID not in skips
            and _known(bs, rid, prev["rid"])
            and bs > 1
            and rid != prev["rid"] + 1
        ):
            out.append((sn, RECORD_ID, False,
                        "Detected incorrectly incremented recordId. "
                        f"Expected recordId '{prev['rid'] + 1}' but got "
                        f"'{rid}'"))
        # a known predecessor sorts before any missing serial number,
        # so ``sn`` is known here
        if SERIAL_NUMBER not in skips and sn != prev["sn"] + 1:
            out.append((sn, SERIAL_NUMBER, False,
                        "Detected incorrectly incremented serialNumber. "
                        f"Expected serialNumber '{prev['sn'] + 1}' but got "
                        f"'{sn}'"))
        for key, path, name in (
            ("gen", GENERATED_AT, "recordGeneratedAt"),
            ("recv", RECEIVED_AT, "odeReceivedAt"),
        ):
            old, new = _second(prev[key]), _second(cur[key])
            if path not in skips and _known(old, new) and new < old:
                out.append((sn, path, False,
                            f"Detected non-chronological {name}. Previous "
                            f"timestamp was '{old}' but current timestamp "
                            f"is '{new}'"))
    return out


def _bundle_size_checks(bundle: list[dict], skips: set[str]) -> list[tuple]:
    """W6 (sequential.py:61-86): a full bundle (first recordId 0, last
    recordId bundleSize-1) must hold bundleSize records when the record
    names a log file; the tail of a partial bundle must end on recordId
    bundleSize-1. Each check walks the bundle's records and reports one
    error per run of equal bundleSize among the records it fires on,
    via its previous-bundleSize tracker."""
    if BUNDLE_SIZE in skips:
        return []
    first, last = bundle[0], bundle[-1]
    first_rid, last_rid, last_sn = first["rid"], last["rid"], last["sn"]
    count = len(bundle)
    full_shape = (
        _known(first_rid, last_rid, first["bs"])
        and first_rid == 0
        and last_rid == first["bs"] - 1
    )
    tail = _known(first_rid) and first_rid != 0
    out = []
    prev_full = prev_tail = None
    for r in bundle:
        bs = r["bs"]
        if full_shape and r["logf"] and _known(bs) and count != bs:
            if prev_full != bs:
                out.append((last_sn, BUNDLE_SIZE, False,
                            "bundleSize doesn't match number of records. "
                            f"Number of records: '{count}' != "
                            f"bundlSize: '{bs}'"))
            prev_full = bs
        if tail and _known(bs, last_rid) and last_rid != bs - 1:
            if prev_tail != bs:
                out.append((last_sn, BUNDLE_SIZE, False,
                            "bundleSize doesn't match last recordId. "
                            f"Last recordId: '{last_rid}' != "
                            f"(bundleSize-1: '{bs - 1}')"))
            prev_tail = bs
    return out


def validate_file(records: list[dict], skips=frozenset()) -> list[tuple]:
    """The sequential results of one file. ``skips`` is the file's W7
    skip set: the rule paths whose skipSequentialValidation condition
    held on any of its records (validator.py:110-112)."""
    skips = set(skips)
    ordered = sorted(
        records, key=lambda r: (r["sn"] is not None, r["sn"] or 0)
    )
    out = []
    for bundle in _bundles(ordered):
        out += _record_checks(bundle, skips)
        out += _bundle_size_checks(bundle, skips)
    if not out:
        out.append((None, SEQUENTIAL_CHECK, True, ""))
    return out
