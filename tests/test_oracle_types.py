"""Oracle column-TYPE audit — the round-7 driver failure class.

The driver's value-hash is type-sensitive in one specific way the old
local gate could not see: DuckDB widens integer ``sum`` to HUGEINT
(int128), which its pandas export renders as float — so a Spark BIGINT
``3`` hash-mismatches an oracle ``3.0`` even though the stringified
compare in tools/check_correctness.py passes. (Integer WIDTH is safe:
r7 driver-passed many spark-int vs oracle-BIGINT rows.)

This test runs every oracle through DuckDB with ``LIMIT 0`` and
asserts its column types land in the same hash-equivalence class as
the Spark schema — catching any future uncast aggregate at pytest
time instead of at the driver.
"""

import sys

import duckdb
import pytest

sys.path.insert(0, "/root/repo/tools")

from check_correctness import type_mismatches  # noqa: E402

from spark_sorted_spark import queries as q


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


def test_every_oracle_type_matches_spark_schema(query_schema, duck):
    bad = {}
    for name in q.QUERIES:
        if name not in q.ORACLE:
            continue
        ddf = duck.sql(f"SELECT * FROM ({q.ORACLE[name]}) LIMIT 0")
        mism = type_mismatches(
            query_schema(name), list(ddf.columns), list(ddf.types)
        )
        if mism:
            bad[name] = mism
    assert not bad, (
        "oracle/Spark type mismatches (latent driver hash-fails; cast "
        f"the oracle side, e.g. ::BIGINT on integer sums): {bad}"
    )


def test_type_mismatch_detects_hugeint():
    # the exact round-7 failure shape: uncast integer sum -> HUGEINT
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("session_id", LongType())])
    assert type_mismatches(schema, ["session_id"], ["HUGEINT"])
    assert not type_mismatches(schema, ["session_id"], ["BIGINT"])
    assert not type_mismatches(schema, ["session_id"], ["INTEGER"])
    assert type_mismatches(schema, ["session_id"], ["DOUBLE"])


def test_scratch_registration_cannot_bypass_audit(spark, sf_dir, duck):
    """VERDICT r8 item 6 pin: the audit iterates the LIVE registry, so
    a newly @query-registered entry with an uncast integer-sum oracle
    (DuckDB widens to HUGEINT -> float in the pandas export -> driver
    hash-fail) is flagged the moment it exists. Simulated by inserting
    a scratch entry and running the exact audit loop body."""
    scratch_q = lambda sp, d: sp.range(3).selectExpr(  # noqa: E731
        "sum(id) AS s"
    )
    scratch_oracle = "SELECT sum(x) AS s FROM (SELECT 1 AS x UNION ALL SELECT 2)"
    q.QUERIES["__scratch_uncast_sum"] = scratch_q
    q.ORACLE["__scratch_uncast_sum"] = scratch_oracle
    try:
        bad = {}
        for name, fn in q.QUERIES.items():
            if name != "__scratch_uncast_sum":
                continue
            sdf = fn(spark, sf_dir)
            ddf = duck.sql(f"SELECT * FROM ({q.ORACLE[name]}) LIMIT 0")
            mism = type_mismatches(
                sdf.schema, list(ddf.columns), list(ddf.types)
            )
            if mism:
                bad[name] = mism
        assert "__scratch_uncast_sum" in bad, (
            "an uncast integer-sum oracle was NOT flagged — the "
            "HUGEINT audit class regressed"
        )
        # and the cast form passes, so the audit is not a false alarm
        ddf = duck.sql(
            "SELECT * FROM "
            "(SELECT sum(x)::BIGINT AS s FROM (SELECT 1 AS x)) LIMIT 0"
        )
        sdf = scratch_q(spark, sf_dir)
        assert not type_mismatches(
            sdf.schema, list(ddf.columns), list(ddf.types)
        )
    finally:
        del q.QUERIES["__scratch_uncast_sum"]
        del q.ORACLE["__scratch_uncast_sum"]
