"""Open-loop file arrivals into ``stream_cv_pipeline``.

A generator thread renames pre-written files into the watched directory
on a fixed schedule that does not slow when the stream does. The query
runs with ``available_now=False`` and one file per trigger, so
micro-batch k holds the k-th file to arrive. Each file's latency runs
from its scheduled arrival to the end of the sink call for its batch.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from dev_dot_cvp_metadata_ingestion_spark.streaming.stream import (
    idempotent_parquet_sink,
    stream_cv_pipeline,
)

from counters import median


@dataclass
class Arrival:
    key: str  # path under the watched directory
    staged: str  # pre-written file, renamed into place when due
    due: float = 0.0  # scheduled arrival, perf_counter seconds
    arrived: float = 0.0


@dataclass
class StreamRun:
    query: object
    input_dir: str
    out_dir: str
    sink_calls: dict[int, tuple[float, float]] = field(default_factory=dict)
    lock: threading.Lock = field(default_factory=threading.Lock)

    def committed(self) -> int:
        with self.lock:
            return len(self.sink_calls)


def start_stream(spark, ruleset, schema, work_dir: str) -> StreamRun:
    """Start the query on ``work_dir/input``; the sink wrapper times
    every sink call."""
    input_dir = f"{work_dir}/input"
    os.makedirs(input_dir, exist_ok=True)
    out_dir = f"{work_dir}/validation_results_stream"
    inner = idempotent_parquet_sink(out_dir)
    run = StreamRun(None, input_dir, out_dir)

    def sink(df, batch_id):
        start = time.perf_counter()
        inner(df, batch_id)
        with run.lock:
            run.sink_calls[batch_id] = (start, time.perf_counter())

    run.query = stream_cv_pipeline(
        spark, input_dir, ruleset, schema, sink, f"{work_dir}/checkpoint",
        available_now=False,
    )
    return run


def wait_committed(run: StreamRun, n: int, timeout_s: float) -> None:
    """Block until ``n`` micro-batches reached the sink and the query's
    progress shows them committed, so stopping interrupts nothing."""
    # the sink count is read without the gateway; the query is asked
    # rarely, so polling does not compete with the micro-batch's own
    # Python and gateway calls
    deadline = time.perf_counter() + timeout_s
    polls = 0
    while time.perf_counter() < deadline:
        if run.committed() >= n:
            last = run.query.lastProgress
            if last and last["batchId"] >= n - 1:
                return
        elif polls % 50 == 0 and not run.query.isActive:
            raise RuntimeError(f"stream failed: {run.query.exception()}")
        polls += 1
        time.sleep(0.02)
    raise TimeoutError(f"{run.committed()} of {n} micro-batches committed")


def deliver(arrivals: list[Arrival], input_dir: str, start: float,
            interval_s: float) -> threading.Thread:
    """Generator thread: arrival j is renamed into place at
    ``start + j * interval_s``."""

    def loop():
        for j, a in enumerate(arrivals):
            a.due = start + j * interval_s
            delay = a.due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            dest = os.path.join(input_dir, a.key)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            os.rename(a.staged, dest)
            a.arrived = time.perf_counter()

    thread = threading.Thread(target=loop, daemon=True)
    thread.start()
    return thread


def run_arrivals(spark, run: StreamRun, arrivals: list[Arrival],
                 interval_s: float, first_batch: int) -> dict:
    """Deliver ``arrivals``, wait for all their batches to commit and
    return the end-to-end and stream-layer figures."""
    progress_before = len(run.query.recentProgress)
    start = time.perf_counter()
    thread = deliver(arrivals, run.input_dir, start, interval_s)
    thread.join()
    wait_committed(run, first_batch + len(arrivals), 60 + 10 * len(arrivals))

    batch_of = {
        r.key: r.batch_id
        for r in spark.read.parquet(run.out_dir)
        .select(F.regexp_extract("file_path", r"/input/(cv/.*)$", 1).alias("key"),
                "batch_id")
        .distinct().collect()
    }
    latencies, sink_s = [], []
    for a in arrivals:
        s, e = run.sink_calls[batch_of[a.key]]
        latencies.append(e - a.due)
        sink_s.append(e - s)
    # backlog: files arrived but not yet through the sink, at each arrival
    ends = sorted(run.sink_calls[batch_of[a.key]][1] for a in arrivals)
    backlog = max(
        sum(1 for b in arrivals if b.arrived <= a.arrived)
        - sum(1 for e in ends if e <= a.arrived)
        for a in arrivals
    )
    progress = list(run.query.recentProgress)[progress_before:]
    progress = [p for p in progress if p["numInputRows"] > 0]

    def p50(key):
        return median([p["durationMs"].get(key, 0) for p in progress])

    return {
        "latencies": latencies,
        "stream.arrival_interval_s": interval_s,
        "trigger_s": [p["durationMs"]["triggerExecution"] / 1e3 for p in progress],
        "stream.trigger_ms_p50": p50("triggerExecution"),
        "stream.query_planning_ms_p50": p50("queryPlanning"),
        "stream.add_batch_ms_p50": p50("addBatch"),
        "stream.latest_offset_ms_p50": p50("latestOffset"),
        "stream.wal_commit_ms_p50": p50("walCommit"),
        "stream.sink_s_p50": median(sink_s),
        "stream.backlog_files_max": backlog,
        "stream.generator_late_s_max": max(a.arrived - a.due for a in arrivals),
    }


def validation_digest(df) -> dict[str, tuple[int, int, int, int, int]]:
    """Per-file (rows, records, invalid rows, records with an invalid
    row, order-free hash sum) of validation rows."""
    invalid = ~F.col("valid")
    h = F.xxhash64("record_uid", "field_path", "valid", "details").cast("decimal(38,0)")
    return {
        r.key: (r.rows, r.records, r.errors, r.error_records, r.h)
        for r in df.groupBy(
            F.regexp_extract("file_path", r"/input/(cv/.*)$", 1).alias("key")
        ).agg(
            F.count(F.lit(1)).alias("rows"),
            F.count_distinct("record_uid").alias("records"),
            F.sum(invalid.cast("long")).alias("errors"),
            F.count_distinct(F.when(invalid, F.col("record_uid"))).alias("error_records"),
            F.sum(h).alias("h"),
        ).collect()
    }
