"""Chunk-stitched sequential validation (VERDICT r13 item 1): the
``n_chunks`` form of sequential_results/sequential_stats must be
BIT-IDENTICAL to the single-window form for ANY chunk count — chunk
boundaries are a physical layout decision, never visible in results.

The fixture plants every cross-boundary hazard: bundles spanning
multiple chunks, a giant single-bundle file, runs of equal-bundleSize
tail errors (W6 dedup state crossing a boundary), skip flags confined
to one end of a file (W7 gating must stay file-wide), NULL bundle ids
(whose change-flag is NULL → continues-the-run semantics), error-free
files (W8), and a bundle id that reappears later (new run, not a
group)."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest

from pyspark.sql import functions as F

from dev_dot_cvp_metadata_ingestion_spark.operators.sequential import (
    SequentialSpec,
    sequential_results,
    sequential_stats,
)

T0 = datetime(2019, 1, 1, 0, 0, 0)


def _rows():
    out = []

    def add(file, sn, rid, bid, bs, gen_off=None, recv_off=None,
            logf=True, skip=False):
        out.append((
            file, bid, sn, rid, bs,
            T0 + timedelta(seconds=gen_off if gen_off is not None else sn),
            T0 + timedelta(seconds=recv_off if recv_off is not None else sn),
            logf, skip,
        ))

    # f1: clean file, several bundles (W8 all-pass row)
    sn = 0
    for bid, bs in [(1, 3), (2, 2), (3, 4)]:
        for rid in range(bs):
            add("f1", sn, rid, bid, bs)
            sn += 1

    # f2: every error type — serial gap, recordId gap, ts regression,
    # recv regression, full-bundle count mismatch, tail partials with a
    # RUN of equal bundleSize (W6 dedup across whatever boundary lands
    # mid-run)
    add("f2", 0, 0, 1, 3)
    add("f2", 2, 1, 1, 3)            # serial gap
    add("f2", 3, 3, 1, 3)            # recordId gap + count mismatch shape
    add("f2", 4, 1, 2, 6)            # tail partial, bs 6
    add("f2", 5, 2, 2, 6)
    add("f2", 6, 3, 3, 6)            # second tail run, same bs → dedup
    add("f2", 7, 4, 3, 6)
    add("f2", 8, 1, 4, 9)            # tail run, new bs
    add("f2", 9, 2, 4, 9, gen_off=1)  # gen regression
    add("f2", 10, 3, 4, 9, recv_off=2)  # recv regression

    # f3: one giant bundle spanning many chunks, with a planted rid gap
    # deep inside (stitched lag must see it exactly once)
    for i in range(60):
        rid = i if i < 40 else i + 1   # rid gap at i=40
        add("f3", i, rid, 7, 61)
    # tail shape: first_rid 0 → not a tail; count 60 != bs 61 → full
    # mismatch requires last_rid == bs-1: last rid = 60 == 61-1 → FULL
    # qualifying mismatch (cnt 60 != bs 61)

    # f4: NULL bundle ids interleaved (change-flag NULL → continue-run)
    add("f4", 0, 0, 5, 2)
    out.append(("f4", None, 1, 1, 2,
                T0 + timedelta(seconds=1), T0 + timedelta(seconds=1),
                True, False))
    out.append(("f4", None, 2, 2, 2,
                T0 + timedelta(seconds=2), T0 + timedelta(seconds=2),
                True, False))
    add("f4", 3, 0, 6, 1)

    # f5: skip flag ONLY on the first record; serial gap at the END —
    # file-wide gating must suppress it no matter where the chunk
    # boundary falls
    add("f5", 0, 0, 1, 2, skip=True)
    add("f5", 1, 1, 1, 2)
    add("f5", 5, 0, 2, 2)
    add("f5", 7, 1, 2, 2)            # in-bundle serial gap (skip-gated)

    # f6: bundle id reappears → new contiguous run, not a merged group
    add("f6", 0, 0, 1, 1)
    add("f6", 1, 0, 2, 1)
    add("f6", 2, 0, 1, 1)
    return out


SCHEMA = (
    "file string, bid long, sn long, rid long, bs long, gen timestamp, "
    "recv timestamp, logf boolean, skipflag boolean"
)

SKIP_PATH = "metadata.serialId.serialNumber"


def _spec(with_skip: bool) -> SequentialSpec:
    return SequentialSpec(
        file=F.col("file"),
        bundle_id=F.col("bid"),
        serial_number=F.col("sn"),
        record_id=F.col("rid"),
        bundle_size=F.col("bs"),
        record_generated_at=F.col("gen"),
        ode_received_at=F.col("recv"),
        has_log_file_name=F.col("logf"),
        skip_flags={SKIP_PATH: F.col("skipflag")} if with_skip else {},
    )


def _canon(df):
    return sorted(
        (r.file, r.serial_number, r.field_path, r.valid, r.details)
        for r in df.collect()
    )


@pytest.fixture(scope="module")
def data(spark):
    return spark.createDataFrame(_rows(), SCHEMA).localCheckpoint()


@pytest.mark.parametrize("n_chunks", [1, 2, 3, 7, 32])
def test_results_bit_identical(spark, data, n_chunks):
    spec = _spec(with_skip=True)
    single = _canon(sequential_results(data, spec))
    chunked = _canon(sequential_results(data, spec, n_chunks=n_chunks))
    assert chunked == single
    # sanity: the fixture actually exercises errors AND all-pass rows
    assert any(r[2] == "SequentialCheck" for r in single)
    assert any(not r[3] for r in single)


@pytest.mark.parametrize("n_chunks", [1, 3, 17])
def test_results_without_skip_flags(spark, data, n_chunks):
    spec = _spec(with_skip=False)
    single = _canon(sequential_results(data, spec))
    chunked = _canon(sequential_results(data, spec, n_chunks=n_chunks))
    assert chunked == single
    # without gating, f5's serial gap IS an error
    assert any(r[0] == "f5" and not r[3] for r in single)


@pytest.mark.parametrize("n_chunks", [1, 2, 5, 32])
def test_stats_bit_identical(spark, data, n_chunks):
    spec = _spec(with_skip=True)
    single = sorted(
        (r.file, r.seq_rows, r.seq_errors)
        for r in sequential_stats(data, spec).collect()
    )
    chunked = sorted(
        (r.file, r.seq_rows, r.seq_errors)
        for r in sequential_stats(data, spec, n_chunks=n_chunks).collect()
    )
    assert chunked == single


def test_giant_single_file_many_chunks(spark):
    """One file, one long bundle sequence, chunk count ≫ bundles: every
    chunk boundary lands inside some run."""
    rows = []
    sn = 0
    for bid in range(1, 9):
        for rid in range(10):
            rows.append((
                "big", bid, sn, rid if rid != 5 or bid != 4 else 6, 10,
                T0 + timedelta(seconds=sn), T0 + timedelta(seconds=sn),
                True, False,
            ))
            sn += 1
    df = spark.createDataFrame(rows, SCHEMA)
    spec = _spec(with_skip=False)
    single = _canon(sequential_results(df, spec))
    for n in (2, 8, 40):
        assert _canon(sequential_results(df, spec, n_chunks=n)) == single


def test_empty_input(spark):
    df = spark.createDataFrame([], SCHEMA)
    spec = _spec(with_skip=True)
    assert sequential_results(df, spec, n_chunks=4).count() == 0
    assert sequential_stats(df, spec, n_chunks=4).count() == 0


def test_chunked_plan_has_no_file_only_sn_window(spark, data):
    """The parallelism property itself, asserted on the physical plan
    (bit-identical pins can't catch a regression back to the per-file
    window): the chunked form must contain NO window partitioned by
    file alone and ordered by sn — that's the one-task-per-file funnel
    it exists to remove. The single-window form is the planted
    positive control for the pattern."""
    import re

    spec = _spec(with_skip=True)
    pat = re.compile(r"windowspecdefinition\(file#\d+, sn#\d+L ASC")

    # default maxToStringFields elides wide Window specs with "..." —
    # widen it for the assertion, restore after
    old = spark.conf.get("spark.sql.debug.maxToStringFields", "25")
    spark.conf.set("spark.sql.debug.maxToStringFields", "10000")
    try:
        single_plan = (
            sequential_results(data, spec)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert pat.search(single_plan), "positive control lost its pattern"

        chunked_plan = (
            sequential_results(data, spec, n_chunks=8)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert not pat.search(chunked_plan)
    finally:
        spark.conf.set("spark.sql.debug.maxToStringFields", old)


def test_null_sn_bundle_start_bit_identical(spark):
    """r14 review finding: a bundle STARTING with a NULL-sn record must
    not split at the sentinel-chunk boundary (min_by/max_by skip NULL
    ordering keys unless coalesced) — the single window's nulls-first
    order keeps it one run, and the chunked form must agree, W6
    included."""
    rows = [
        ("f", 5, None, 0, 4, T0, T0, True, False),
        ("f", 5, 0, 1, 4, T0, T0, True, False),
        ("f", 5, 1, 3, 4, T0, T0, True, False),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    spec = _spec(with_skip=False)
    single = _canon(sequential_results(df, spec))
    # the bundle must be ONE run: cnt 3 != bs 4 with last_rid == bs-1
    assert any("number of records" in r[4] for r in single)
    for n in (2, 4, 8):
        assert _canon(sequential_results(df, spec, n_chunks=n)) == single


def test_null_condition_does_not_poison_error_count(spark):
    """r14 review finding: a NULL check condition (NULL bundleSize →
    ``bs > 1`` NULL) must not NULL out the row's error sum — the file
    has an emitted serial-gap error, so W8 must NOT fire and
    seq_errors must count the emitted row, in BOTH forms."""
    rows = [
        ("f", 1, 0, 0, 2, T0, T0, True, False),
        ("f", 1, 5, None, None, T0, T0, True, False),  # serial gap row
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    spec = _spec(with_skip=False)
    for kwargs in ({}, {"n_chunks": 3}):
        res = _canon(sequential_results(df, spec, **kwargs))
        assert any(not r[3] for r in res), kwargs          # error emitted
        assert not any(r[2] == "SequentialCheck" for r in res), kwargs
        stats = sequential_stats(df, spec, **kwargs).collect()
        assert [(r.seq_rows, r.seq_errors) for r in stats] == [(1, 1)], kwargs


def test_offset_sn_domain_does_not_collapse_chunking(spark):
    """r14 review finding: the chunk span derives from the largest
    PER-FILE sn range — one small file with epoch-scale serials must
    not inflate a global span and collapse the dense giant file into
    one chunk."""
    from dev_dot_cvp_metadata_ingestion_spark.operators.sequential import (
        _base_projection,
        _chunk_span,
    )

    rows = [("big", 1, sn, sn % 10, 10, T0, T0, True, False)
            for sn in range(1000)]
    rows += [("tiny", 1, 10**12 + i, i, 3, T0, T0, True, False)
             for i in range(3)]
    df = spark.createDataFrame(rows, SCHEMA)
    d, _ = _base_projection(df, _spec(with_skip=False))
    lo, span = _chunk_span(d, 8)
    assert span == 1000 // 8  # the big file's range, not the 1e12 gap
    # and the full pipeline stays bit-identical on this shape
    spec = _spec(with_skip=False)
    single = _canon(sequential_results(df, spec))
    assert _canon(sequential_results(df, spec, n_chunks=8)) == single
