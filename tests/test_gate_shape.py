"""Mechanical pin: every driver-gated query emits SCALAR top-level
columns only (VERDICT r12 item 2).

The driver's correctness canon sorts a pandas frame over all columns;
a top-level ``array``/``map``/``struct`` column makes that sort raise
``TypeError: unhashable type: 'list'`` and voids the row (the round-12
``embedding_quantize`` red row — CORRECTNESS_r12.json ``err``). The
builder's local harness used to silently convert lists→tuples before
sorting, so the mismatch was invisible locally; the harness now warns
loudly (tools/check_correctness.py) and this test makes the constraint
a suite failure at registration time instead of a driver-round loss.

Array-valued RESULTS are still fine — reshape them for the gate row
(``posexplode`` → one row per element, mirrored with DuckDB's parallel
``unnest`` zip, which keeps the pin bitwise-elementwise) or emit a
deterministic digest. Overflow (non-gated) rows may keep arrays: the
local harness handles them and the driver never sees them.
"""

import pytest
from pyspark.sql.types import ArrayType, MapType, StructType

from spark_sorted_spark import queries as q

GATED = list(q.QUERIES)[:50]


@pytest.mark.parametrize("name", GATED)
def test_gate_row_emits_scalar_columns_only(query_schema, name):
    bad = [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in query_schema(name).fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not bad, (
        f"gate-window query {name!r} emits complex top-level columns "
        f"{bad}; the driver canon cannot sort these (round-12 "
        "embedding_quantize failure). posexplode the array (mirror "
        "with DuckDB parallel-unnest zip) or emit a digest column."
    )
