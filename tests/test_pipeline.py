"""End-to-end pipeline tests: NDJSON directory → validation/sequential/
tally tables (batch), and the streaming variant's batch-parity."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from collections import Counter

import pytest

from pyspark.sql import functions as F

from dev_dot_cvp_metadata_ingestion_spark.plans.pipeline import run_cv_pipeline
from dev_dot_cvp_metadata_ingestion_spark.sources.files import (
    csv_records,
    file_lines,
    static_prefix_filter,
)
from dev_dot_cvp_metadata_ingestion_spark.sources.rules import (
    fixture_rules_path,
    parse_rules_ini,
)
from dev_dot_cvp_metadata_ingestion_spark.streaming.stream import (
    idempotent_parquet_sink,
    stream_cv_pipeline,
)

CONFIG = fixture_rules_path()


def _record(i: int, *, bad_lat: bool = False) -> dict:
    return {
        "metadata": {
            "recordGeneratedAt": f"2019-01-01T00:00:{i:02d}.000Z",
            "recordGeneratedBy": "OBU",
            "recordType": "bsmTx",
            "sanitized": "False",
            "schemaVersion": 6,
            "securityResultCode": "success",
            "bsmSource": "EV",
            "payloadType": "us.dot.its.jpo.ode.model.OdeBsmPayload",
            "logFileName": "bsmTx_f.log",
            "odeReceivedAt": f"2019-01-01T00:00:{i:02d}.500Z",
            "serialId": {
                "streamId": "s",
                "bundleSize": 3,
                "bundleId": i // 3,
                "recordId": i % 3,
                "serialNumber": i,
            },
            "receivedMessageDetails": {
                "locationData": {
                    "latitude": 95.0 if bad_lat else 40.0,
                    "longitude": -105.0,
                    "elevation": "1600",
                    "speed": 10.0,
                    "heading": 90.0,
                },
                "rxSource": "NA",
            },
        },
        "payload": {},
    }


@pytest.fixture(scope="module")
def ndjson_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("cvfiles")
    for fname, n, bad in [("a.json", 6, 2), ("b.json", 3, None)]:
        with open(d / fname, "w") as fh:
            for i in range(n):
                fh.write(json.dumps(_record(i, bad_lat=(i == bad))) + "\n")
    return str(d)


def test_batch_pipeline(spark, ndjson_dir):
    ruleset = parse_rules_ini(open(CONFIG).read())
    ruleset.sequential = True
    res = run_cv_pipeline(spark, ndjson_dir, ruleset)

    counts = {r.file_path.split("/")[-1]: r.MessageCount
              for r in res.file_counts.collect()}
    assert counts == {"a.json": 6, "b.json": 3}

    tallies = {r.file_path.split("/")[-1]: r for r in res.tallies.collect()}
    assert tallies["a.json"].num_messages_total == 6
    assert tallies["a.json"].num_error_messages == 1  # the bad-lat record
    assert tallies["b.json"].num_error_messages == 0

    seq = res.sequential
    # clean serials in both files → one SequentialCheck pass row each
    pass_rows = seq.filter(F.col("field_path") == "SequentialCheck").collect()
    assert len(pass_rows) == 2 and all(r.valid for r in pass_rows)


def test_streaming_matches_batch(spark, ndjson_dir, tmp_path):
    ruleset = parse_rules_ini(open(CONFIG).read())
    schema = spark.read.json(ndjson_dir).schema

    collected = []

    def sink(df, batch_id):
        collected.extend(
            (r.file_path.split("/")[-1], r.field_path, r.valid)
            for r in df.collect()
        )

    q = stream_cv_pipeline(
        spark, ndjson_dir, ruleset, schema, sink,
        str(tmp_path / "ckpt"), available_now=True,
    )
    assert q.awaitTermination(120), "availableNow drain timed out"

    batch = run_cv_pipeline(spark, ndjson_dir, ruleset)
    expected = sorted(
        (r.file_path.split("/")[-1], r.field_path, r.valid)
        for r in batch.validation.collect()
    )
    assert sorted(collected) == expected


def test_stream_takes_each_object_once(spark, tmp_path):
    """A second drain on the same checkpoint takes only the objects the
    file source has not logged: an object delivered again with the same
    bytes and a newer mtime starts no micro-batch, so each file's rows
    appear once under the idempotent sink."""
    ruleset = parse_rules_ini(open(CONFIG).read())
    src = tmp_path / "src"
    src.mkdir()

    def put(name, n):
        with open(src / name, "w") as fh:
            for i in range(n):
                fh.write(json.dumps(_record(i, bad_lat=(i == 1))) + "\n")

    out = str(tmp_path / "out")

    def drain():
        q = stream_cv_pipeline(
            spark, str(src), ruleset, None, idempotent_parquet_sink(out),
            str(tmp_path / "ckpt"), available_now=True,
        )
        assert q.awaitTermination(120), "availableNow drain timed out"
        return {
            r.batch_id: r.file_path.split("/")[-1]
            for r in spark.read.parquet(out)
            .select("batch_id", "file_path").distinct().collect()
        }

    put("a.json", 3)
    put("b.json", 2)
    first = drain()
    assert sorted(first.values()) == ["a.json", "b.json"]

    again = src / "a.json"
    again.write_bytes(again.read_bytes())
    mtime = again.stat().st_mtime + 60
    os.utime(again, (mtime, mtime))
    put("c.json", 4)
    second = drain()
    assert {b: f for b, f in second.items() if b not in first} == {
        max(first) + 1: "c.json"
    }

    key = lambda r: (  # noqa: E731
        r.file_path.split("/")[-1], r.record_uid, r.field_path, r.valid,
    )
    got = sorted(map(key, spark.read.parquet(out).collect()))
    batch = run_cv_pipeline(spark, str(src), ruleset)
    try:
        assert got == sorted(map(key, batch.validation.collect()))
    finally:
        batch.unpersist()


def test_plan_build_launches_no_job(spark, ndjson_dir):
    """Building the pipeline's plan runs nothing: no pass over the
    input infers a schema before the tables are written. And the plan
    runs no Python on any row."""
    ruleset = parse_rules_ini(open(CONFIG).read())
    ruleset.sequential = True
    sc = spark.sparkContext
    group = "test_plan_build_launches_no_job"
    sc.setJobGroup(group, "build the pipeline plan")
    try:
        res = run_cv_pipeline(spark, ndjson_dir, ruleset)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    try:
        # the pass stays JVM-only: no Python row code in either plan.
        # The tree string prints the plan of every cached relation a
        # scan reads, so what these frames cache is checked too.
        for df in (res.records, res.validation):
            plan = df._jdf.queryExecution().executedPlan().treeString()
            assert "InMemoryRelation" in plan
            for node in ("MapInPandas", "PythonMapInArrow",
                         "BatchEvalPython", "ArrowEvalPython"):
                assert node not in plan, (node, plan)
    finally:
        res.unpersist()


def _plan_leaves(df) -> list[str]:
    """Leaf operators of the physical plan; a cached frame's leaf is
    InMemoryTableScan, whose own plan is not a child."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    return [leaves.apply(i).nodeName() for i in range(leaves.size())]


def _executions(spark, last: int = 20) -> list[tuple[int, int, str]]:
    """(id, root id, description) of the ``last`` SQL executions the
    status store holds, oldest first."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    ran = store.executionsList(max(store.executionsCount() - last, 0), last)
    return [
        (e.executionId(), e.rootExecutionId(), e.description())
        for e in (ran.apply(i) for i in range(ran.size()))
    ]


def test_write_tables_roundtrip(spark, ndjson_dir, tmp_path):
    from pyspark import StorageLevel

    from dev_dot_cvp_metadata_ingestion_spark.plans.pipeline import write_tables

    ruleset = parse_rules_ini(open(CONFIG).read())
    ruleset.sequential = True
    res = run_cv_pipeline(spark, ndjson_dir, ruleset)
    # every output reads the persisted records/verdicts, not the files
    for df in (res.tallies, res.file_counts, res.sequential):
        leaves = _plan_leaves(df)
        assert leaves and set(leaves) == {"InMemoryTableScan"}, leaves

    before = max((i for i, _, _ in _executions(spark)), default=-1)
    paths = write_tables(res, str(tmp_path / "tables"))
    frames = {
        "validation_results": res.validation,
        "sequential_results": res.sequential,
        "file_tallies": res.tallies,
        "file_counts": res.file_counts,
    }
    assert set(paths) == set(frames)
    # each write is a SQL execution of its own, named after its table
    writes = [d for i, root, d in _executions(spark) if i > before and i == root]
    assert sorted(writes) == sorted(f"write_tables:{name}" for name in frames)
    for name, df in frames.items():
        back = spark.read.parquet(paths[name])
        assert back.columns == df.columns
        assert Counter(map(tuple, back.collect())) == Counter(
            map(tuple, df.collect())
        ), name

    res.unpersist()
    assert res.records.storageLevel == StorageLevel.NONE
    assert res.validation.storageLevel == StorageLevel.NONE


def test_write_tables_surfaces_a_failed_write(spark, ndjson_dir, tmp_path):
    """One table's write fails; write_tables raises that error once the
    other writes are done, and does not hang."""
    from concurrent.futures import ThreadPoolExecutor

    from dev_dot_cvp_metadata_ingestion_spark.plans.pipeline import write_tables

    ruleset = parse_rules_ini(open(CONFIG).read())
    ruleset.sequential = True
    res = run_cv_pipeline(spark, ndjson_dir, ruleset)
    out = tmp_path / "tables"
    out.mkdir()
    # overwrite mode deletes a regular file in a table's place, so the
    # blocker is a dangling symlink, which Spark can neither remove nor
    # create a directory at
    (out / "file_tallies").symlink_to(tmp_path / "absent" / "target")
    pool = ThreadPoolExecutor(1)
    call = pool.submit(write_tables, res, str(out))
    pool.shutdown(wait=False)
    with pytest.raises(Exception, match="file_tallies"):
        call.result(timeout=300)
    for name in ("validation_results", "sequential_results", "file_counts"):
        assert spark.read.parquet(str(out / name)).count() > 0, name
    res.unpersist()


def test_file_lines_and_prefix_filter(spark, ndjson_dir):
    lines = file_lines(spark, ndjson_dir)
    assert lines.count() == 9
    per_file = {
        r.file_path.split("/")[-1]: r.n for r in
        lines.groupBy("file_path").agg(F.max("line_no").alias("n")).collect()
    }
    assert per_file == {"a.json": 6, "b.json": 3}

    files = spark.createDataFrame(
        [("cv/provider/bsm/deep/f.json",), ("cv/root.json",), ("waze/x/y/z.json",)],
        "file_path string",
    )
    kept = static_prefix_filter(files, ["cv"]).collect()
    assert [r.file_path for r in kept] == ["cv/provider/bsm/deep/f.json"]


def test_csv_records(spark, tmp_path):
    csv_dir = tmp_path / "csv"
    csv_dir.mkdir()
    (csv_dir / "vsl.csv").write_text(
        "deviceid,utc,local,blank,vsl_mph\n"
        "42,2019-01-01T00:00:00Z,2019-01-01T00:00:00,x,55.5\n"
        "9999,2019-01-01T00:00:01Z,2019-01-01T00:00:01,y,101\n"
    )
    ruleset = parse_rules_ini(open(fixture_rules_path("csvconfig_2.ini")).read())
    df = csv_records(spark, str(csv_dir), ruleset)
    rows = df.orderBy("deviceid").collect()
    assert [r.deviceid for r in rows] == ["42", "9999"]
    assert rows[0].vsl_mph == "55.5"

    from dev_dot_cvp_metadata_ingestion_spark.operators.validation import validate

    results = validate(df, ruleset, ["deviceid"])
    bad = {(r.deviceid, r.field_path) for r in results.filter("NOT valid").collect()}
    assert ("9999", "vsl_mph") in bad  # 101 > UpperLimit 100
    assert ("42", "vsl_mph") not in bad


def test_pipeline_refuses_csv_rule_file(spark, tmp_path):
    """A ``DataType = csv`` rule file is refused by name: parsing its
    lines as JSON would report every field missing and count the
    header as a message."""
    csv_dir = tmp_path / "csv"
    csv_dir.mkdir()
    (csv_dir / "vsl.csv").write_text(
        "deviceid,utc,local,blank,vsl_mph\n"
        "42,2019-01-01T00:00:00Z,2019-01-01T00:00:00,x,55.5\n"
    )
    ruleset = parse_rules_ini(open(fixture_rules_path("csvconfig_2.ini")).read())
    with pytest.raises(ValueError, match="DataType = csv"):
        run_cv_pipeline(spark, str(csv_dir), ruleset)
    with pytest.raises(ValueError, match="DataType = csv"):
        stream_cv_pipeline(
            spark, str(csv_dir), ruleset, None, lambda df, batch_id: None,
            str(tmp_path / "ckpt"),
        ).stop()


def test_message_metrics_shapes(spark):
    """A5: the four CloudWatch counter shapes fold per-file puts into
    grouped sums (cvp_bucket_event_lambda_handler.py:177-221)."""
    from dev_dot_cvp_metadata_ingestion_spark.operators.metadata import (
        message_metrics,
    )

    tallies = spark.createDataFrame(
        [
            ("f0", "p0", "bsm", 8, 2),
            ("f1", "p0", "bsm", 10, 0),
            ("f2", "p1", "tim", 3, 4),
        ],
        "file string, DataProvider string, DataType string, "
        "num_valid_messages long, num_error_messages long",
    )
    out = message_metrics(tallies)
    rows = {
        (r.metric_name, r.dim1_value, r.dim2_value): r.value
        for r in out.collect()
    }
    assert rows[("Counts by provider and datatype", "p0", "bsm")] == 2.0
    assert rows[("Valid counts by provider and datatype", "p0", "bsm")] == 18.0
    assert rows[("Invalid counts by provider and datatype", "p0", "bsm")] == 2.0
    assert rows[("Data file count by provider and datatype", "p1", "tim")] == 1.0
    assert rows[("Invalid counts by provider and datatype", "p1", "tim")] == 4.0
    first = out.first()
    assert first.namespace == "dot-sdc-cv-submissions-bucket-metric"
    assert first.unit == "Count"
    assert len(rows) == 8


def test_observe_pipeline_progress_counters(spark, ndjson_dir, tmp_path):
    """S10: progress/error counters via the Observation API — values
    materialize from the write actions themselves, no extra jobs."""
    from dev_dot_cvp_metadata_ingestion_spark.plans.pipeline import (
        log_progress,
        observe_pipeline,
        write_tables,
    )

    ruleset = parse_rules_ini(open(CONFIG).read())
    ruleset.sequential = True
    res = run_cv_pipeline(spark, ndjson_dir, ruleset)
    observed, obs = observe_pipeline(res)
    # write_tables alone must fire BOTH observations (file_counts is
    # rebuilt over the observed records frame) — no extra jobs
    write_tables(observed, str(tmp_path / "tables"))

    metrics = log_progress(obs)
    assert metrics["records"]["n_records"] == 9
    assert metrics["records"]["n_files"] == 2
    n_rules = len(ruleset.rules)
    assert metrics["validation"]["n_validations"] == 9 * n_rules
    # exactly the bad-lat record's range error
    assert metrics["validation"]["n_errors"] == 1


def test_cli_list_queries_covers_registry(capsys):
    """`list-queries` must print every registered query in registration
    order (no Spark session needed — pure registry access)."""
    from dev_dot_cvp_metadata_ingestion_spark.__main__ import main
    from dev_dot_cvp_metadata_ingestion_spark.plans import registry

    assert main(["list-queries"]) == 0
    out = capsys.readouterr().out.splitlines()
    names = [line.split()[0] for line in out if line.strip()]
    assert names == list(registry.ordered_queries())


def test_cvp_entry_points_load_only_cvp_modules():
    """The CLI, the batch and stream pipelines and the metadata operator
    load the CVP modules and nothing else: no table catalog, corpus
    operator or query plan module rides along."""
    pkg = "dev_dot_cvp_metadata_ingestion_spark"
    entry = ["__main__", "plans.pipeline", "streaming.stream",
             "operators.metadata"]
    code = (
        "import importlib, json, sys\n"
        f"for m in {entry!r}:\n"
        f"    importlib.import_module('{pkg}.' + m)\n"
        f"print(json.dumps(sorted(m for m in sys.modules"
        f" if m.split('.')[0] == '{pkg}')))\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True,
        text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    loaded = {m.removeprefix(pkg).lstrip(".") for m in json.loads(proc.stdout)}
    assert loaded == {
        "", "__main__",
        "operators", "operators.metadata", "operators.sequential",
        "operators.validation",
        "plans", "plans.pipeline", "plans.registry",
        "sources", "sources.files", "sources.rules",
        "streaming", "streaming.stream",
    }


@pytest.fixture(scope="module")
def hive_dir(tmp_path_factory):
    """Two providers under Hive-style ``k=v`` keys, as the sweep sees
    them: the partition base paths differ, so partition inference over
    the tree is ambiguous."""
    d = tmp_path_factory.mktemp("hive")
    for provider, month, n, bad in [("p1", "01", 6, 2), ("p2", "02", 3, None)]:
        leaf = d / "cv" / provider / "bsm" / "year=2019" / f"month={month}"
        leaf.mkdir(parents=True)
        with open(leaf / f"{provider}.json", "w") as fh:
            for i in range(n):
                fh.write(json.dumps(_record(i, bad_lat=(i == bad))) + "\n")
    return str(d)


@pytest.mark.parametrize(
    "mode,table",
    [("batch", "validation_results"), ("streaming", "validation_results_stream")],
)
def test_cli_runs_on_hive_style_input(spark, hive_dir, tmp_path, mode, table):
    """The CLI, batch and --streaming, over a year=/month= tree writes
    the same validation rows the batch pipeline computes; the batch
    form prints the per-file tallies it wrote. A streamed micro-batch
    replayed after a crash between its sink and its checkpoint commit
    rewrites its rows instead of appending them again."""
    out = str(tmp_path / "out")
    argv = ["--input", hive_dir, "--config", CONFIG, "--output", out,
            "--cores", "2"]
    if mode == "streaming":
        argv.append("--streaming")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def run_cli():
        # a process of its own: main() stops the session it runs on
        proc = subprocess.run(
            [sys.executable, "-m", "dev_dot_cvp_metadata_ingestion_spark",
             *argv],
            cwd=root, capture_output=True, text=True, timeout=600,
        )
        assert proc.returncode == 0, proc.stderr[-4000:]
        return proc.stdout

    key = lambda r: (  # noqa: E731
        r.file_path.split("/")[-1], r.record_uid, r.field_path, r.valid,
    )

    def written():
        return sorted(map(key, spark.read.parquet(f"{out}/{table}").collect()))

    stdout = run_cli()
    got = written()
    ruleset = parse_rules_ini(open(CONFIG).read())
    res = run_cv_pipeline(spark, hive_dir, ruleset)
    expected = sorted(map(key, res.validation.collect()))
    assert got == expected
    assert ("p1.json", 3, "metadata.receivedMessageDetails.locationData.latitude",
            False) in got

    if mode == "batch":
        def files(rows):
            return {
                r.file_path: {"total": r.num_messages_total,
                              "errors": r.num_errors}
                for r in rows
            }

        printed = json.loads(stdout.strip().splitlines()[-1])["files"]
        tallies = files(spark.read.parquet(f"{out}/file_tallies").collect())
        assert printed == tallies
        assert tallies == files(res.tallies.collect())
        assert len(tallies) == 2

    if mode == "streaming":
        # the last micro-batch's commit is lost: the restart replays it
        commits = os.path.join(out, "_checkpoint", "commits")
        last = max(
            (f for f in os.listdir(commits) if f.isdigit()), key=int
        )
        for name in (last, f".{last}.crc"):
            if os.path.exists(os.path.join(commits, name)):
                os.remove(os.path.join(commits, name))
        run_cli()
        assert os.path.exists(os.path.join(commits, last))
        assert written() == expected
