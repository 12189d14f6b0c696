"""Query registry: the declared correctness surface.

Every operator from SURVEY.md §2 is exposed as a named query
``(spark, sf_dir) -> DataFrame`` with (where SQL-expressible) a
DuckDB oracle SQL string computing the same result. The driver
hash-compares the two at sf0.01 — column names must match exactly,
so every computed column is aliased identically on both sides.

Determinism rules used throughout this repo:

* Money/measure arithmetic goes through exact ``DECIMAL`` casts and is
  only converted to ``double`` at the very end — double summation order
  differs between engines, exact decimal aggregation does not.
* Timestamps cross the comparison boundary as formatted strings or
  epoch numbers, never as raw timestamp values.
* Window tie-breaks always include a unique key so row_number is
  deterministic.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query; ``oracle`` is the equivalent DuckDB SQL (or None
    for non-SQL-expressible ops, which get a weaker rows-only check)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def query_names() -> list[str]:
    return sorted(QUERIES)


def ordered_queries() -> dict[str, QueryFn]:
    """Registered queries in registration order."""
    return dict(QUERIES)


def load_all() -> None:
    """Import every plan module so registration side-effects run."""
    from . import relational  # noqa: F401
    from . import cvp  # noqa: F401
    from . import datapipe  # noqa: F401
