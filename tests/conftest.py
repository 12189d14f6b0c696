from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from dev_dot_cvp_metadata_ingestion_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

# The CVP ingest queries of plans/cvp.py: registry-wide sweeps run these
# in the default tier and the corpus/relational rest in the slow tier.
CVP_QUERIES = (
    "cv_validation_results",
    "cv_now_token_validation",
    "cv_conditional_validation",
    "cv_validation_tallies",
    "cv_message_metrics",
    "cv_error_histogram",
    "cv_sequential_checks",
    "cv_sequential_checks_gated",
    "file_metadata_docs",
    "file_metrics_counters",
    "url_decoded_keys",
    "rules_catalog",
    "csv_rule_validation",
)


def cvp_tiered(names):
    """Parametrize values for a registry sweep: CVP queries as-is, every
    other name marked ``slow``."""
    return [
        n if n in CVP_QUERIES else pytest.param(n, marks=pytest.mark.slow)
        for n in names
    ]


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


def levenshtein_py(a: str, b: str) -> int:
    """Plain-Python edit distance — the tests' independent model for
    verifying Spark/DuckDB ``levenshtein`` results (shared so the
    SymSpell property suite and the streaming spelling pins can't
    diverge)."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]
