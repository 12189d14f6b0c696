#!/usr/bin/env python3
"""CVP ingest benchmark.

    python3 perfbench/run.py --workload fleet_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's input from the
seed, drives the package's public ingest calls, checks every output
against the generator's manifest and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones and writes the run's spans under ``.bench_work/traces``.
See perfbench/README.md for the workloads and what every metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import tempfile
import time
from datetime import datetime, timedelta, timezone

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".bench_work")
TMP = os.path.join(WORK_ROOT, "tmp")
sys.path.insert(0, ROOT)

from dev_dot_cvp_metadata_ingestion_spark.session import get_spark  # noqa: E402
from dev_dot_cvp_metadata_ingestion_spark.sources.rules import (  # noqa: E402
    fixture_rules_path,
    load_rules_file,
)

from dev_dot_cvp_metadata_ingestion_spark.plans.pipeline import (  # noqa: E402
    run_cv_pipeline,
)

import gen  # noqa: E402
from counters import RssSampler, SparkCounters, median  # noqa: E402
from ingest import (  # noqa: E402
    TABLES,
    check_pass,
    file_catalog,
    run_pass,
    traced_pass,
)
from spans import Tracer  # noqa: E402
from stream import (  # noqa: E402
    Arrival,
    deliver,
    run_arrivals,
    start_stream,
    validation_digest,
    wait_committed,
)

FLEET = dict(n_files=48, total_records=7_200, gz_share=0.5, ordering_faults=3)
# the same records in one plain object: every stage is one task
GIANT = dict(n_files=1, total_records=7_200, gz_share=0.0, ordering_faults=1)
# Arrivals come at about half the rate the stream sustains: the warm-up
# batches run about 1.3 times as long as later ones, so the interval is
# 1.5 times their median, capped so that a run ends in time.
STREAM = dict(sizes=(100, 300, 500, 200, 400), warmup_files=3, files=4,
              interval_factor=1.5, max_interval_s=10.0)
SETUPS = 3  # set-up is repeated and its median reported; once when tracing

END_TO_END = {
    "setup_s": "s",
    "ingest_s": "s",
    "records_per_s": "1/s",
}
PER_LAYER = {
    "file_latency_p50_s": "s",
    "file_latency_tail_s": "s",
    "files_per_s": "1/s",
    "peak_rss_mb": "MB",
    "session.get_spark_s": "s",
    "rules.load_s": "s",
    "sources.schema_infer_s": "s",
    "sources.records_s": "s",
    "sources.input_bytes": "bytes",
    "sources.scan_tasks": "count",
    "sources.read_amplification": "ratio",
    "sources.task_skew": "ratio",
    "validation.self_s": "s",
    "validation.rows_out": "count",
    "validation.invalid_rows": "count",
    "sequential.self_s": "s",
    "sequential.rows_out": "count",
    "sequential.shuffle_bytes": "bytes",
    "sequential.task_skew": "ratio",
    "aggregate.self_s": "s",
    "sink.validation_results_s": "s",
    "sink.sequential_results_s": "s",
    "sink.file_tallies_s": "s",
    "sink.file_counts_s": "s",
    "sink.bytes_written": "bytes",
    "metadata.self_s": "s",
    "spark.busy_share": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "stream.trigger_ms_p50": "ms",
    "stream.query_planning_ms_p50": "ms",
    "stream.add_batch_ms_p50": "ms",
    "stream.latest_offset_ms_p50": "ms",
    "stream.wal_commit_ms_p50": "ms",
    "stream.sink_s_p50": "s",
    "stream.backlog_files_max": "count",
    "stream.generator_late_s_max": "s",
    "stream.arrival_interval_s": "s",
    "scaling.records_per_s_1core": "1/s",
    "trace.ingest_s": "s",
    "trace.self_sum_s": "s",
    "trace.unattributed_s": "s",
    "failed_ops_ratio": "ratio",
}

SESSION_CONF = {
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={TMP}",
}


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


class Bench:
    """State of one benchmark run: its session, inputs and tallies of
    checked outputs."""

    def __init__(self, seed: int, work: str, setups: int):
        self.seed = seed
        self.work = work
        self.setups = setups
        self.tracer = Tracer()
        self.spark = None
        self.ruleset = None
        self.attempted = 0
        self.failed = 0
        self.setup_s: list[float] = []

    # ------------------------------------------------------------ set-up

    def start_session(self, cores: int | None = None) -> float:
        """Start a session and parse the rules; returns the start time."""
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        with self.tracer.span("session"):
            self.spark = get_spark("cvp-bench", cores=cores, extra_conf=SESSION_CONF)
        with self.tracer.span("sources.rules"):
            self.ruleset = load_rules_file(fixture_rules_path())
            self.ruleset.sequential = True
        return t0

    def setup_batch(self) -> None:
        """JVM launch, session start and rule parse, as the batch CLI
        pays them on every run, repeated ``setups`` times."""
        for i in range(self.setups):
            self.stop()
            t0 = self.start_session()
            self.setup_s.append(time.perf_counter() - t0)
            log(f"setup {i}: {self.setup_s[-1]:.2f}s")

    def stop(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    # ------------------------------------------------------------ checks

    def checked_pass(self, input_dir, truth, catalog, *, tag="pass"):
        p = run_pass(self.spark, input_dir, f"{self.work}/{tag}", self.ruleset, catalog)
        log(f"{tag}: {p.seconds:.2f}s")
        self.record(truth, check_pass(self.spark, p.tables, truth))
        return p

    def record(self, truth, bad: set[str]) -> None:
        self.attempted += len(truth)
        self.failed += len(bad)
        for key in sorted(bad):
            print(f"mismatch: {key}", file=sys.stderr)

    def check_stream(self, out_dir: str, batch_validation, truth) -> None:
        """Each streamed file's validation rows equal the batch run's
        over the same file, and its tallies equal the manifest's."""
        got = validation_digest(self.spark.read.parquet(out_dir))
        want = validation_digest(batch_validation)
        bad = {
            t.key for t in truth
            if t.key not in got or got[t.key] != want.get(t.key)
            or got[t.key][:4] != (t.records * gen.N_RULES, t.records,
                                  t.errors, t.error_messages)
        }
        self.record(truth, bad)


# ------------------------------------------------------------ helpers


def tail(samples: list[float]) -> float:
    """Highest percentile with at least ten samples beyond it; the
    maximum when there are fewer than eleven samples."""
    s = sorted(samples)
    return s[len(s) - 11] if len(s) >= 11 else s[-1]


def layer_metrics(bench: Bench, ref, input_dir: str, truth, cores: int) -> dict:
    """Per-layer figures read from the counters of a traced pass."""
    st = ref.stats
    input_bytes = sum(os.path.getsize(os.path.join(input_dir, t.key)) for t in truth)
    seq_rows = bench.spark.read.parquet(ref.tables["sequential_results"]).count()
    return {
        "session.get_spark_s": median(bench.tracer.durations("session")),
        "rules.load_s": median(bench.tracer.durations("sources.rules")),
        "sources.input_bytes": input_bytes,
        "sources.scan_tasks": st.scan_tasks,
        "sources.read_amplification": ref.bytes_read / input_bytes,
        "sources.task_skew": st.skew(st.scan_stages),
        "validation.rows_out": ref.progress["validation"]["n_validations"],
        "validation.invalid_rows": ref.progress["validation"]["n_errors"],
        "sequential.rows_out": seq_rows,
        **{f"sink.{name}_s": s for name, s in zip(TABLES, ref.sink_seconds)},
        "sink.bytes_written": ref.sink_bytes,
        "spark.busy_share": st.run_ms / 1e3 / (ref.seconds * cores),
        "spark.jobs": st.jobs,
        "spark.stages": st.stages,
        "spark.tasks": st.tasks,
        "spark.shuffle_write_bytes": st.shuffle_write_bytes,
        "spark.spill_bytes": st.spill_bytes,
        "spark.gc_s": st.gc_ms / 1e3,
    }


def one_core_rate(bench: Bench, input_dir, truth, catalog_fn) -> float:
    """Records per second of one pass in a one-core session."""
    bench.start_session(cores=1)
    p = bench.checked_pass(input_dir, truth, catalog_fn(), tag="pass_1core")
    return sum(t.records for t in truth) / p.seconds


# ------------------------------------------------------------ batch


def run_batch(bench: Bench, spec: dict, trace: bool) -> dict:
    input_dir = f"{bench.work}/input"
    truth = gen.generate_batch(input_dir, bench.seed, **spec)
    gen.write_manifest(f"{bench.work}/manifest.json", truth)
    records = sum(t.records for t in truth)
    bench.setup_batch()
    catalog = lambda: file_catalog(bench.spark, input_dir, truth)  # noqa: E731

    if not trace:
        # one pass, the first in the JVM, as the batch CLI runs it: the
        # CLI is a new process every time, so its users pay the JIT and
        # first-use costs on every run
        p = bench.checked_pass(input_dir, truth, catalog())
        return {
            "setup_s": median(bench.setup_s),
            "ingest_s": p.seconds,
            "records_per_s": records / p.seconds,
        }

    out = traced_layers(bench, input_dir, truth, catalog)
    out.update(stream_probe(bench))
    out["scaling.records_per_s_1core"] = one_core_rate(bench, input_dir, truth, catalog)
    return out


def traced_layers(bench: Bench, input_dir: str, truth, catalog) -> dict:
    """Per-layer figures of one checked, traced batch pass, the first in
    the JVM like the untraced runs' pass."""
    cores = bench.spark.sparkContext.defaultParallelism
    with RssSampler() as rss:
        out, ref = traced_pass(bench.spark, input_dir, f"{bench.work}/traced",
                               bench.ruleset, catalog(), bench.tracer,
                               SparkCounters(bench.spark))
    log(f"traced pass: {out['trace.ingest_s']:.2f}s")
    bench.record(truth, check_pass(bench.spark, ref.tables, truth))
    out.update(layer_metrics(bench, ref, input_dir, truth, cores))
    out["peak_rss_mb"] = rss.peak_bytes / 2**20
    return out


# ------------------------------------------------------------ stream


def stream_files(rng: random.Random, staged_dir: str,
                 sizes: list[int]) -> list[tuple[Arrival, gen.FileTruth]]:
    """Pre-write one file per size into ``staged_dir``."""
    out = []
    for j, n in enumerate(sizes):
        start = datetime(2024, 1, 1, tzinfo=timezone.utc) + timedelta(
            days=rng.randrange(0, 300), seconds=rng.randrange(0, 86400))
        key, provider, data_type = gen.file_key(j, start, gz=False)
        staged = f"{staged_dir}/{j:05d}.json"
        t = gen.write_file(staged, rng, n, start=start, ordering_fault=j % 4 == 3,
                           key=key, provider=provider, data_type=data_type)
        out.append((Arrival(key, staged), t))
    return out


def stream_probe(bench: Bench) -> dict:
    """The streaming layer, measured in a batch workload's traced run:
    ``stream_cv_pipeline`` over generated 100-500-record files arriving
    in an open loop, one file per micro-batch. The streamed validation
    rows must equal a batch run's over the same files."""
    spec = STREAM
    k, n, sizes = spec["warmup_files"], spec["files"], spec["sizes"]
    work = f"{bench.work}/stream"
    files = stream_files(random.Random(bench.seed + 1), f"{work}/staged",
                         [sizes[j % len(sizes)] for j in range(k + n)])
    warmup, measured = files[:k], files[k:]
    schema = bench.spark.read.json(files[0][0].staged).schema
    run = start_stream(bench.spark, bench.ruleset, schema, work)
    try:
        # warm-up: a micro-batch's time falls over the query's first
        # batches, so these files arrive at once and run back to back
        deliver([a for a, _ in warmup], run.input_dir, time.perf_counter(), 0.0).join()
        wait_committed(run, k, 60 + 10 * k)
        warm_s = [p["durationMs"]["triggerExecution"] / 1e3
                  for p in run.query.recentProgress if p["numInputRows"] > 0]
        interval = min(spec["max_interval_s"], spec["interval_factor"] * median(warm_s))
        with bench.tracer.span("streaming.stream"):
            res = run_arrivals(bench.spark, run, [a for a, _ in measured], interval, k)
    finally:
        run.query.stop()
    log(f"stream: interval {interval:.2f}s, latencies "
        + " ".join(f"{x:.2f}" for x in res["latencies"]))
    batch = run_cv_pipeline(bench.spark, run.input_dir, bench.ruleset, schema)
    bench.check_stream(run.out_dir, batch.validation, [t for _, t in files])
    return {
        "file_latency_p50_s": median(res["latencies"]),
        "file_latency_tail_s": tail(res["latencies"]),
        # arrivals come at half the sustained rate, so the rate the window
        # shows is set by the schedule; this is the rate the stream
        # sustains while a micro-batch runs
        "files_per_s": n / sum(res["trigger_s"]),
        **{k: v for k, v in res.items() if k.startswith("stream.")},
    }


RUNNERS = {"fleet_batch": FLEET, "giant_file_batch": GIANT}


# ------------------------------------------------------------ main


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(RUNNERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # Spark, the JVM and Python temp files stay inside the checkout; the
    # environment is read when the session launches the JVM
    os.makedirs(TMP, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = TMP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK_ROOT, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    bench = Bench(args.seed, work, 1 if args.trace else SETUPS)
    try:
        metrics = run_batch(bench, RUNNERS[args.workload], bool(args.trace))
    finally:
        bench.stop()
    if args.trace:
        units = PER_LAYER
        metrics["failed_ops_ratio"] = bench.failed / bench.attempted
        traces = os.path.join(WORK_ROOT, "traces")
        os.makedirs(traces, exist_ok=True)
        bench.tracer.dump(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"))
    else:
        units = END_TO_END
    if bench.failed:
        log(f"outputs and manifest kept in {work}")
    else:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {name: {"value": metrics[name], "unit": unit}
                    for name, unit in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
