"""Stateful streaming extension (SURVEY §2.9, M6): per-bundle
sequential checks that survive micro-batch boundaries.

The batch-parity path (stream.py) needs no state because the reference
groups only within one file. This extension handles the generalized
case — bundles arriving SPLIT ACROSS micro-batches (e.g. a producer
that appends records for the same bundle over time): per
(stream_key, bundle_id) group state carries the last-seen
(serialNumber, recordId, timestamps) so W3-W5 checks fire across
batches exactly as they would in one batch.

Built on ``applyInPandasWithState``: Arrow-batched per-group pandas
with explicit GroupState — the documented Spark pattern for custom
stateful operators. State size is O(1) per live bundle (five scalars),
so a 1000-executor stream holds state proportional to concurrent
bundles, not history.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("bundle_key", StringType()),
        StructField("serial_number", LongType()),
        StructField("field_path", StringType()),
        StructField("valid", BooleanType()),
        StructField("details", StringType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("last_sn", LongType()),
        StructField("last_rid", LongType()),
        StructField("last_gen", LongType()),   # epoch seconds
        StructField("last_recv", LongType()),
        StructField("n_seen", LongType()),
    ]
)


def _check_transitions(
    key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    bundle_key = "/".join(str(k) for k in key)
    if state.exists:
        last_sn, last_rid, last_gen, last_recv, n_seen = state.get
    else:
        last_sn = last_rid = last_gen = last_recv = None
        n_seen = 0

    out: list[dict[str, Any]] = []
    # Arrow hands a group to us as MULTIPLE chunks (~10k rows each) in
    # nondeterministic shuffle-fetch order; sorting per-chunk would
    # interleave wrong. Materialize the whole group, then sort ONCE —
    # group state is already O(rows-in-group) here, so this does not
    # change the memory class.
    chunks = [pdf for pdf in pdf_iter if len(pdf)]
    if chunks:
        whole = pd.concat(chunks, ignore_index=True).sort_values(["sn", "rid"])
        for row in whole.itertuples(index=False):
            sn, rid, bs = int(row.sn), int(row.rid), int(row.bs)
            gen, recv = int(row.gen_epoch), int(row.recv_epoch)
            if last_sn is not None:
                if bs > 1 and rid != last_rid + 1:
                    out.append(
                        dict(
                            bundle_key=bundle_key, serial_number=sn,
                            field_path="metadata.serialId.recordId",
                            valid=False,
                            details=(
                                "Detected incorrectly incremented recordId. "
                                f"Expected recordId '{last_rid + 1}' but got '{rid}'"
                            ),
                        )
                    )
                if sn != last_sn + 1:
                    out.append(
                        dict(
                            bundle_key=bundle_key, serial_number=sn,
                            field_path="metadata.serialId.serialNumber",
                            valid=False,
                            details=(
                                "Detected incorrectly incremented serialNumber. "
                                f"Expected serialNumber '{last_sn + 1}' but got '{sn}'"
                            ),
                        )
                    )
                if gen < last_gen:
                    out.append(
                        dict(
                            bundle_key=bundle_key, serial_number=sn,
                            field_path="metadata.recordGeneratedAt",
                            valid=False,
                            details="Detected non-chronological recordGeneratedAt.",
                        )
                    )
                if recv < last_recv:
                    out.append(
                        dict(
                            bundle_key=bundle_key, serial_number=sn,
                            field_path="metadata.odeReceivedAt",
                            valid=False,
                            details="Detected non-chronological odeReceivedAt.",
                        )
                    )
            last_sn, last_rid, last_gen, last_recv = sn, rid, gen, recv
            n_seen += 1

    state.update((last_sn, last_rid, last_gen, last_recv, n_seen))
    yield pd.DataFrame(
        out,
        columns=[
            "bundle_key", "serial_number", "field_path", "valid", "details",
        ],
    )


def stateful_sequential_checks(records: DataFrame) -> DataFrame:
    """Streaming per-bundle monotonicity with cross-batch state.

    ``records`` must be a STREAMING DataFrame with columns:
    stream_key (string), bid, sn, rid, bs (long), gen_epoch, recv_epoch
    (long, epoch seconds). Returns the error stream.
    """
    return records.groupBy("stream_key", "bid").applyInPandasWithState(
        _check_transitions,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


WATERMARKED_CHECK_STATE = StructType(
    [
        StructField("buf_sn", ArrayType(LongType())),
        StructField("buf_rid", ArrayType(LongType())),
        StructField("buf_bs", ArrayType(LongType())),
        StructField("buf_gen", ArrayType(LongType())),   # epoch micros
        StructField("buf_recv", ArrayType(LongType())),
        StructField("buf_logf", ArrayType(BooleanType())),
        StructField("last_sn", LongType()),
        StructField("last_rid", LongType()),
        StructField("last_gen", LongType()),             # epoch seconds
        StructField("last_recv", LongType()),
        StructField("n_seen", LongType()),
        # W6 close-time summary: first validated record's (rid, bs),
        # max event time ever accepted (micros), and the per-validated-
        # record (bs, has_logf) sequence — O(bundle), the same memory
        # class as the batch window partition that computes W6
        StructField("first_rid", LongType()),
        StructField("first_bs", LongType()),
        StructField("max_gen", LongType()),
        StructField("val_bs", ArrayType(LongType())),
        StructField("val_logf", ArrayType(BooleanType())),
    ]
)


def _w6_close_rows(
    bundle_key: str,
    n_seen: int,
    first_rid: int | None,
    first_bs: int | None,
    last_rid: int | None,
    last_sn: int | None,
    val_bs: list[int],
    val_logf: list[bool],
) -> list[dict[str, Any]]:
    """Bundle-size consistency (W6) verdicts at bundle close — the
    reference's full-bundle and tail-of-partial checks
    (odevalidator/sequential.py:61-86), one error per run of equal
    bundleSize among qualifying records, exactly the batch window
    form's last-qualifying-bs dedup (operators/sequential.py, W6).
    Runs over the validated-record summary, so it needs the CLOSED
    bundle: streaming closes a bundle when the watermark passes its
    max accepted event time."""
    out: list[dict[str, Any]] = []
    if n_seen == 0:
        return out
    is_full_shape = first_rid == 0 and last_rid == first_bs - 1
    prev_qf: int | None = None
    prev_qt: int | None = None
    for bs_i, logf_i in zip(val_bs, val_logf):
        if is_full_shape and logf_i and n_seen != bs_i:
            if prev_qf is None or prev_qf != bs_i:
                out.append(
                    dict(
                        bundle_key=bundle_key, serial_number=last_sn,
                        field_path="metadata.serialId.bundleSize",
                        valid=False,
                        details=(
                            "bundleSize doesn't match number of records. "
                            f"Number of records: '{n_seen}' != "
                            f"bundlSize: '{bs_i}'"
                        ),
                    )
                )
            prev_qf = bs_i
        if first_rid != 0 and last_rid != bs_i - 1:
            if prev_qt is None or prev_qt != bs_i:
                out.append(
                    dict(
                        bundle_key=bundle_key, serial_number=last_sn,
                        field_path="metadata.serialId.bundleSize",
                        valid=False,
                        details=(
                            "bundleSize doesn't match last recordId. "
                            f"Last recordId: '{last_rid}' != "
                            f"(bundleSize-1: '{bs_i - 1}')"
                        ),
                    )
                )
            prev_qt = bs_i
    return out


def _check_transitions_watermarked(
    key: tuple,
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
    w6: bool = False,
) -> Iterator[pd.DataFrame]:
    bundle_key = "/".join(str(k) for k in key)
    wm_ms = state.getCurrentWatermarkMs()
    if state.exists:
        (buf_sn, buf_rid, buf_bs, buf_gen, buf_recv, buf_logf,
         last_sn, last_rid, last_gen, last_recv, n_seen,
         first_rid, first_bs, max_gen, val_bs, val_logf) = state.get
        buf = list(zip(buf_gen, buf_sn, buf_rid, buf_bs, buf_recv, buf_logf))
        val_bs = list(val_bs)
        val_logf = list(val_logf)
    else:
        buf = []
        last_sn = last_rid = last_gen = last_recv = None
        n_seen = 0
        first_rid = first_bs = None
        max_gen = 0
        val_bs = []
        val_logf = []

    # beyond-allowance arrivals drop deterministically, but NOT
    # silently: each drop emits its own violation row, because the
    # dropped population is exactly the one the W4 time-regression
    # check exists to flag — a bare continue would make beyond-
    # allowance anomalies invisible (ADVICE r7)
    dropped: list[dict[str, Any]] = []
    for pdf in pdf_iter:
        for row in pdf.itertuples(index=False):
            gen_us = int(row.gen_micros)
            if gen_us < wm_ms * 1000:
                dropped.append(
                    dict(
                        bundle_key=bundle_key,
                        serial_number=int(row.sn),
                        field_path="operator.watermarkLateDrop",
                        valid=False,
                        details=(
                            "Dropped record beyond lateness allowance: "
                            f"recordGeneratedAt {gen_us // 1_000_000} is "
                            f"behind watermark {wm_ms // 1000}"
                        ),
                    )
                )
                continue
            buf.append(
                (gen_us, int(row.sn), int(row.rid), int(row.bs),
                 int(row.recv_epoch), bool(getattr(row, "has_logf", True)))
            )
            max_gen = max(max_gen, gen_us)

    buf.sort()
    ripe = [e for e in buf if e[0] < wm_ms * 1000]
    keep = buf[len(ripe):]

    # the reference validates in serial order, not arrival order: the
    # ripened slice is re-sorted by (sn, rid) before chaining — this is
    # what repairs in-allowance arrival reordering exactly
    out: list[dict[str, Any]] = dropped
    for gen_us, sn, rid, bs, recv, logf in sorted(
        ripe, key=lambda e: (e[1], e[2])
    ):
        gen = gen_us // 1_000_000
        if last_sn is not None:
            if bs > 1 and rid != last_rid + 1:
                out.append(
                    dict(
                        bundle_key=bundle_key, serial_number=sn,
                        field_path="metadata.serialId.recordId",
                        valid=False,
                        details=(
                            "Detected incorrectly incremented recordId. "
                            f"Expected recordId '{last_rid + 1}' but got '{rid}'"
                        ),
                    )
                )
            if sn != last_sn + 1:
                out.append(
                    dict(
                        bundle_key=bundle_key, serial_number=sn,
                        field_path="metadata.serialId.serialNumber",
                        valid=False,
                        details=(
                            "Detected incorrectly incremented serialNumber. "
                            f"Expected serialNumber '{last_sn + 1}' but got '{sn}'"
                        ),
                    )
                )
            if gen < last_gen:
                out.append(
                    dict(
                        bundle_key=bundle_key, serial_number=sn,
                        field_path="metadata.recordGeneratedAt",
                        valid=False,
                        details="Detected non-chronological recordGeneratedAt.",
                    )
                )
            if recv < last_recv:
                out.append(
                    dict(
                        bundle_key=bundle_key, serial_number=sn,
                        field_path="metadata.odeReceivedAt",
                        valid=False,
                        details="Detected non-chronological odeReceivedAt.",
                    )
                )
        last_sn, last_rid, last_gen, last_recv = sn, rid, gen, recv
        if first_rid is None:
            first_rid, first_bs = rid, bs
        val_bs.append(bs)
        val_logf.append(logf)
        n_seen += 1

    if w6 and not keep and wm_ms * 1000 > max_gen:
        # bundle CLOSED: the watermark passed every accepted event
        # time, so no record can still join it (a later arrival would
        # be beyond-allowance by definition) — emit the bundle-size
        # verdicts and drop the state
        out.extend(
            _w6_close_rows(
                bundle_key, n_seen, first_rid, first_bs,
                last_rid, last_sn, val_bs, val_logf,
            )
        )
        if state.exists:
            state.remove()
        yield pd.DataFrame(
            out,
            columns=[
                "bundle_key", "serial_number", "field_path", "valid",
                "details",
            ],
        )
        return

    state.update(
        (
            [e[1] for e in keep],
            [e[2] for e in keep],
            [e[3] for e in keep],
            [e[0] for e in keep],
            [e[4] for e in keep],
            [e[5] for e in keep],
            last_sn, last_rid, last_gen, last_recv, n_seen,
            first_rid, first_bs, max_gen, val_bs, val_logf,
        )
    )
    if keep:
        state.setTimeoutTimestamp(max(keep[0][0] // 1000, wm_ms + 1))
    elif w6 and n_seen > 0:
        # nothing buffered but the bundle is still open: wake up when
        # the watermark passes its max accepted event time to close it
        state.setTimeoutTimestamp(max(max_gen // 1000 + 1, wm_ms + 1))
    yield pd.DataFrame(
        out,
        columns=[
            "bundle_key", "serial_number", "field_path", "valid", "details",
        ],
    )


def stateful_sequential_checks_watermarked(
    records: DataFrame,
    lateness: str = "10 minutes",
    bundle_size_checks: bool = False,
) -> DataFrame:
    """Per-bundle monotonicity checks (W3-W5) that survive OUT-OF-ORDER
    ARRIVAL — the watermark-buffered form of
    ``stateful_sequential_checks`` (which replays an ordered log).
    Records buffer in group state until the watermark passes their
    recordGeneratedAt; the ripened slice is validated in the
    reference's (serialNumber, recordId) order chained onto the
    cross-batch state, so arrival reordering inside the allowance is
    repaired exactly and genuinely non-monotone serials still raise
    the reference's errors. Beyond-allowance arrivals drop
    deterministically (operator-enforced, same contract as
    ``stateful_event_transitions_watermarked``) — and each drop emits
    an ``operator.watermarkLateDrop`` violation row so beyond-allowance
    time regressions stay observable instead of vanishing.

    ``records`` must be a STREAMING DataFrame with columns stream_key
    (string), bid, sn, rid, bs (long), ts (timestamp — the
    recordGeneratedAt event time), recv_epoch (long, epoch seconds).
    State per live bundle = the ripening buffer (rate × allowance)
    plus scalars (plus, under W6, the per-validated-record (bs,
    has_logf) summary — O(bundle), the batch form's memory class).

    ``bundle_size_checks=True`` adds the reference's W6 bundle-size
    consistency verdicts (full-bundle count mismatch +
    tail-of-partial last-recordId mismatch, reference
    odevalidator/sequential.py:61-86): a bundle CLOSES when the
    watermark passes its max accepted event time (enforced via
    event-time timeout), at which point the close-time verdicts are
    emitted exactly as the batch window form computes them — proven
    stream-equals-batch over out-of-order feeds with mid-bundle
    micro-batch splits in tests/test_watermarked_sequential.py. An
    optional boolean ``has_logf`` input column gates the full-bundle
    check (defaults to true when absent, matching records whose
    metadata carries logFileName)."""
    import functools

    cols = [
        F.col("stream_key"),
        F.col("bid"),
        F.col("sn"),
        F.col("rid"),
        F.col("bs"),
        F.col("ts"),  # keep the watermarked column in-plan (timeout needs it)
        F.unix_micros(F.col("ts")).alias("gen_micros"),
        F.col("recv_epoch"),
    ]
    if bundle_size_checks:
        cols.append(
            F.col("has_logf").cast("boolean")
            if "has_logf" in records.columns
            else F.lit(True).alias("has_logf")
        )
    return (
        records.withWatermark("ts", lateness)
        .select(*cols)
        .groupBy("stream_key", "bid")
        .applyInPandasWithState(
            functools.partial(
                _check_transitions_watermarked, w6=bundle_size_checks
            ),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=WATERMARKED_CHECK_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


TRANSITION_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("from_type", StringType()),
        StructField("to_type", StringType()),
    ]
)

TRANSITION_STATE = StructType(
    [
        StructField("last_ts", LongType()),       # epoch micros
        StructField("last_event_id", LongType()),
        StructField("last_type", StringType()),
    ]
)


def _emit_transitions(
    key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    user_id = int(key[0])
    if state.exists:
        last_ts, last_event_id, last_type = state.get
    else:
        last_ts = last_event_id = last_type = None

    out: list[dict[str, Any]] = []
    # Same chunking hazard as _check_transitions: one group arrives as
    # many Arrow chunks in nondeterministic order — concat, sort once.
    chunks = [pdf for pdf in pdf_iter if len(pdf)]
    if chunks:
        whole = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts_micros", "event_id"]
        )
        for row in whole.itertuples(index=False):
            if last_type is not None:
                out.append(
                    dict(
                        user_id=user_id,
                        from_type=last_type,
                        to_type=str(row.event_type),
                    )
                )
            last_ts = int(row.ts_micros)
            last_event_id = int(row.event_id)
            last_type = str(row.event_type)

    state.update((last_ts, last_event_id, last_type))
    yield pd.DataFrame(out, columns=["user_id", "from_type", "to_type"])


WATERMARKED_TRANSITION_STATE = StructType(
    [
        StructField("buf_ts", ArrayType(LongType())),    # epoch micros
        StructField("buf_id", ArrayType(LongType())),
        StructField("buf_type", ArrayType(StringType())),
        StructField("last_type", StringType()),          # last EMITTED event
    ]
)


def _emit_transitions_watermarked(
    key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    user_id = int(key[0])
    wm_ms = state.getCurrentWatermarkMs()
    if state.exists:
        buf_ts, buf_id, buf_type, last_type = state.get
        buf = list(zip(buf_ts, buf_id, buf_type))
    else:
        buf, last_type = [], None

    # buffer arrivals, enforcing the watermark drop OURSELVES so the
    # operator's late-row semantics are deterministic (Spark only
    # guarantees rows later than the threshold are EVENTUALLY dropped;
    # rows it lets through in the gray zone would otherwise emit or
    # not depending on fetch timing)
    for pdf in pdf_iter:
        for row in pdf.itertuples(index=False):
            ts = int(row.ts_micros)
            if ts < wm_ms * 1000:
                continue
            buf.append((ts, int(row.event_id), str(row.event_type)))

    # an event is safe to emit once no smaller event time can still
    # arrive: strictly below the watermark
    buf.sort()
    ripe = [e for e in buf if e[0] < wm_ms * 1000]
    keep = buf[len(ripe):]

    out: list[dict[str, Any]] = []
    for ts, eid, etype in ripe:
        if last_type is not None:
            out.append(
                dict(user_id=user_id, from_type=last_type, to_type=etype)
            )
        last_type = etype

    state.update(
        (
            [e[0] for e in keep],
            [e[1] for e in keep],
            [e[2] for e in keep],
            last_type,
        )
    )
    if keep:
        # wake this group (even with no new data) once the watermark
        # passes its oldest buffered event (timeout fires when the
        # watermark moves strictly past this); must be > current wm
        state.setTimeoutTimestamp(max(keep[0][0] // 1000, wm_ms + 1))
    yield pd.DataFrame(out, columns=["user_id", "from_type", "to_type"])


def stateful_event_transitions_watermarked(
    events: DataFrame, lateness: str = "10 minutes"
) -> DataFrame:
    """Transition mining that survives OUT-OF-ORDER ARRIVAL — the
    watermark-buffered form of ``stateful_event_transitions`` (which
    requires per-user time-monotone batches). Events buffer in group
    state until the watermark (max seen event time − ``lateness``)
    passes them; only then do they join the emission chain, sorted by
    (event time, event_id), so an event arriving batches late but
    within the allowance still lands in its correct sequence position.
    Events arriving after the watermark passed their timestamp are
    dropped deterministically (the operator enforces the drop itself
    rather than relying on Spark's eventual late-row filter).

    ``events`` must be a STREAMING DataFrame with columns user_id
    (long), event_id (long), ts (timestamp), event_type (string).
    Output rows (user_id, from_type, to_type) appear once the later
    event of each pair ripens; the tail inside the lateness horizon
    stays buffered until the watermark advances past it (same
    finalization contract as append-mode session windows). State per
    user is the O(rate × lateness) ripening buffer plus one scalar —
    bounded by the allowance, independent of stream length; event-time
    timeouts re-invoke idle users so buffers drain without new data.
    """
    return (
        events.withWatermark("ts", lateness)
        # NB: the watermarked `ts` column must survive the projection —
        # event-time timeout resolves the watermark from the plan, and
        # projecting the column away severs it (AnalysisException)
        .select(
            "user_id",
            "event_id",
            "ts",
            F.unix_micros(F.col("ts")).alias("ts_micros"),
            "event_type",
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            _emit_transitions_watermarked,
            outputStructType=TRANSITION_OUTPUT,
            stateStructType=WATERMARKED_TRANSITION_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stateful_event_transitions(events: DataFrame) -> DataFrame:
    """Streaming first-order transition mining with cross-batch state —
    the streaming form of the batch ``events_top_transitions`` query.

    A per-user clickstream split across micro-batches still yields the
    BOUNDARY transition (last event of batch N → first event of batch
    N+1) because the group state carries each user's last
    (ts, event_id, event_type): a stateless per-batch lead() window
    would silently drop one transition per user per batch boundary.

    ``events`` must be a STREAMING DataFrame with columns user_id
    (long), event_id (long), ts_micros (long, epoch micros),
    event_type (string). Emits one row per observed transition;
    downstream aggregation (the global (from, to) counts) is an
    ordinary streaming groupBy, or a batch rollup over the emitted
    log. State is O(1) per live user (three scalars). Ordering
    contract: rows are sorted within each batch and batches must be
    per-user time-monotone (ordered-log replay, the
    ``stateful_sequential_checks`` contract); out-of-order ARRIVAL
    needs the watermark/session forms instead
    (streaming/windows.py)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _emit_transitions,
        outputStructType=TRANSITION_OUTPUT,
        stateStructType=TRANSITION_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
