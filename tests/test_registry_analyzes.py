"""Analysis-only smoke test over the whole query registry.

The round-4 blocker (`events_funnel` / `events_sessionize` throwing
`AnalysisException` at plan time) would have been caught in seconds by
simply *analyzing* every registered query — no execution needed.
`df.schema` forces Catalyst analysis (column resolution, type checks,
function signature checks) without running a single task, so this
covers the entire registered surface at sf0.001 in well under a
minute and guards against the whole class of analysis-time breakage:
missing columns, type mismatches (e.g. TIMESTAMP_NTZ vs TIMESTAMP),
bad function arity, unresolvable references.
"""

from __future__ import annotations

import pytest

from dev_dot_cvp_metadata_ingestion_spark.plans import registry

from .conftest import SF_SMOKE, cvp_tiered

registry.load_all()


@pytest.mark.parametrize("name", cvp_tiered(registry.query_names()))
def test_query_analyzes(spark, name):
    df = registry.QUERIES[name](spark, SF_SMOKE)
    # .schema triggers full Catalyst analysis but zero execution
    assert len(df.schema.fields) > 0


@pytest.mark.parametrize("name", cvp_tiered(registry.query_names()))
def test_registered_schemas_scalar_only(spark, name):
    """Every registered query's output schema must be scalar-only at
    the top level. The driver canonicalizes results via pandas
    sort_values over all columns, which crashes on Python lists/dicts
    (round-8 finding: embedding_quantize's array<double> columns
    shipped green locally — tools/check_oracle.py stringified lists —
    then failed the driver with "unhashable type: 'list'"). Schema-only
    check: Catalyst analysis, zero execution. Queries with naturally
    vector-valued results register a long form (one row per component,
    e.g. embedding_centroids / embedding_quantize) or a deterministic
    string serialization instead."""
    df = registry.QUERIES[name](spark, SF_SMOKE)
    complex_cols = [
        f.name
        for f in df.schema.fields
        if f.dataType.typeName() in ("array", "struct", "map")
    ]
    assert not complex_cols, (
        f"{name} outputs driver-unhashable complex columns {complex_cols}; "
        "register a scalar surface (long form or serialized strings)"
    )
