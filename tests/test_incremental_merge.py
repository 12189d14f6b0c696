"""Incremental last-writer-wins compaction (merge_latest_partitioned):
correctness vs a python oracle, partition-pruned read, and — the
100 TB property — untouched partitions' files byte-stable across the
merge (cost scales with the update batch, never the table)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from dev_dot_cvp_metadata_ingestion_spark.sources.catalog import (
    merge_latest_partitioned,
)

SCHEMA = (
    "bucket string, key string, dt string, last_modified long, "
    "seq long, size long"
)

BASE = [
    # (bucket, key, dt, last_modified, seq, size)
    ("b", "k1", "2024-01-01", 100, 1, 10),
    ("b", "k2", "2024-01-01", 100, 2, 20),
    ("b", "k3", "2024-01-02", 100, 3, 30),
    ("b", "k4", "2024-01-02", 100, 4, 40),
    ("b", "k5", "2024-01-03", 100, 5, 50),
    ("b", "k6", "2024-01-04", 100, 6, 60),
]

UPDATES = [
    ("b", "k1", "2024-01-01", 200, 7, 11),    # newer version
    ("b", "k3", "2024-01-02", 50, 8, 31),     # OLDER arrival — must lose
    ("b", "k7", "2024-01-02", 200, 9, 70),    # brand-new key
    ("b", "k8", "2024-01-05", 200, 10, 80),   # brand-new partition
]


def _oracle(rows):
    best = {}
    for r in rows:
        k = (r[0], r[1])
        if k not in best or (r[3], r[4]) > (best[k][3], best[k][4]):
            best[k] = r
    return sorted(best.values())


def _partition_files(root):
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                part = os.path.relpath(dirpath, root)
                st = os.stat(p)
                out.setdefault(part, set()).add((f, st.st_size, st.st_mtime_ns))
    return out


def test_merge_latest_partitioned(spark, tmp_path):
    path = str(tmp_path / "meta")
    (
        spark.createDataFrame(BASE, SCHEMA)
        .write.partitionBy("dt")
        .parquet(path)
    )
    before = _partition_files(path)

    touched = merge_latest_partitioned(
        spark,
        path,
        spark.createDataFrame(UPDATES, SCHEMA),
        key_cols=["bucket", "key"],
        order_cols=["last_modified", "seq"],
        partition_col="dt",
    )
    assert sorted(touched) == ["2024-01-01", "2024-01-02", "2024-01-05"]

    got = sorted(
        tuple(r)
        for r in spark.read.parquet(path)
        .select(
            "bucket",
            "key",
            F.col("dt").cast("string").alias("dt"),  # partition-col
            "last_modified",                         # inference yields
            "seq",                                   # DateType
            "size",
        )
        .collect()
    )
    assert got == _oracle(BASE + UPDATES)

    after = _partition_files(path)
    # untouched partitions: identical files, byte for byte
    for part in ("dt=2024-01-03", "dt=2024-01-04"):
        assert after[part] == before[part], f"{part} was rewritten"
    # touched partitions: actually rewritten
    for part in ("dt=2024-01-01", "dt=2024-01-02"):
        assert after[part] != before[part]
    assert "dt=2024-01-05" in after


def test_merge_reads_only_touched_partitions(spark, tmp_path):
    """The existing-table read must carry a static partition filter —
    pruning happens at planning time, before any data file is opened."""
    path = str(tmp_path / "meta")
    (
        spark.createDataFrame(BASE, SCHEMA)
        .write.partitionBy("dt")
        .parquet(path)
    )
    touched = ["2024-01-01"]
    pruned = spark.read.parquet(path).filter(F.col("dt").isin(touched))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "dt" in plan.split(
        "PartitionFilters"
    )[1][:200], plan
    # planned input is exactly the one partition's rows
    assert pruned.count() == 2


def test_merge_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "meta")
    (
        spark.createDataFrame(BASE, SCHEMA)
        .write.partitionBy("dt")
        .parquet(path)
    )
    upd = spark.createDataFrame(UPDATES, SCHEMA)
    for _ in range(2):  # replaying the same batch must be a no-op
        merge_latest_partitioned(
            spark,
            path,
            upd,
            key_cols=["bucket", "key"],
            order_cols=["last_modified", "seq"],
            partition_col="dt",
        )
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(path)
        .select(
            "bucket",
            "key",
            F.col("dt").cast("string").alias("dt"),  # partition-col
            "last_modified",                         # inference yields
            "seq",                                   # DateType
            "size",
        )
        .collect()
    )
    assert got == _oracle(BASE + UPDATES)


def test_table_exists_hadoop_fs(spark, tmp_path):
    """ADVICE r7: existence detection goes through the Hadoop
    FileSystem API, and a directory with no committed parquet data
    file (a partially-written bootstrap) counts as absent."""
    from dev_dot_cvp_metadata_ingestion_spark.sources.catalog import (
        table_exists,
    )

    path = str(tmp_path / "t")
    assert not table_exists(spark, path)
    # directory exists but holds no committed data file → still absent
    import os

    os.makedirs(path)
    open(os.path.join(path, "_SUCCESS"), "w").close()
    open(os.path.join(path, ".part-000.parquet.crc"), "w").close()
    assert not table_exists(spark, path)
    spark.range(3).write.mode("overwrite").parquet(path)
    assert table_exists(spark, path)


# r16 fast-tier split (VERDICT r15 item 3): this module is in the SLOW
# tier — long layout/stream/property sweeps excluded from the default
# `-m "not slow"` run (pytest.ini) so the driver's verify-window pytest
# completes; run the FULL suite with `pytest -m ""`.
import pytest as _pytest_r16

pytestmark = _pytest_r16.mark.slow
