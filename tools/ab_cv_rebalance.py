"""A/B the _events_with_file rebalance per consumer (r15 VERDICT #2).

Times the cv_* consumers of the events relation with the r15
rebalance_narrow_scan enabled vs disabled (identity monkeypatch),
min-of-2 consecutive noop-sink runs at sf0.1.

Usage: SPARK_GRAFT_CPUS=32 python tools/ab_cv_rebalance.py
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from dev_dot_cvp_metadata_ingestion_spark import functions as _f  # noqa
from dev_dot_cvp_metadata_ingestion_spark.functions import relations
from dev_dot_cvp_metadata_ingestion_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.1"
QUERIES = [
    "cv_validation_results",
    "cv_validation_tallies",
    "cv_sequential_checks",
    "cv_message_metrics",
    "cv_error_histogram",
    "cv_now_token_validation",
    "cv_sequential_checks_gated",
]


def main() -> None:
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    spark = get_spark("ab-cv")
    cores = spark.sparkContext.defaultParallelism
    orig = relations.rebalance_narrow_scan

    names = [q for q in QUERIES if q in qs]
    # warm
    for q in names:
        qs[q](spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()

    # interleaved A/B: alternate modes per round so JVM warmth can't
    # bias one arm; report min over rounds per (query, mode)
    best: dict[tuple[str, str], float] = {}
    modes = [("rebalance", orig), ("identity", lambda df: df)]
    for _round in range(3):
        for mode, fn in modes:
            relations.rebalance_narrow_scan = fn
            for q in names:
                t0 = time.perf_counter()
                qs[q](spark, SF_DIR).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = time.perf_counter() - t0
                key = (q, mode)
                best[key] = min(best.get(key, dt), dt)
    for q in names:
        r = best[(q, "rebalance")]
        i = best[(q, "identity")]
        print(
            f"cores={cores} {q:30s} rebalance={r:.2f}s identity={i:.2f}s "
            f"winner={'rebalance' if r < i else 'identity'}",
            flush=True,
        )
    relations.rebalance_narrow_scan = orig
    spark.stop()


if __name__ == "__main__":
    main()
