"""Output verification against the catalog's DuckDB oracles.

Every result is checked the way ``tools/check_correctness.py`` checks
the catalog: column names, the Spark-vs-DuckDB type compatibility that
the oracle gate's type-sensitive hash needs (its ``type_mismatches`` is
imported, not copied), row count, and order-insensitive exact values.
The value compare runs as a multiset difference inside DuckDB
(``EXCEPT ALL`` both ways) instead of the checker's Python sort, which
does not scale to the hundreds of thousands of rows a benchmark op
returns; float columns are still compared bit for bit.
"""

from __future__ import annotations

import os
import sys

import duckdb

# the checker edits sys.path on import; keep the caller's path intact
_path = list(sys.path)
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))
from check_correctness import type_mismatches  # noqa: E402

sys.path[:] = _path

TABLES = ("events", "orders", "lineitem", "documents", "embeddings")


def connect(data_dir: str, extra: dict[str, str] | None = None):
    """A DuckDB connection with one view per table present in
    ``data_dir``. ``extra`` maps a view name to a parquet glob (or a
    list of them) that replaces the default file, e.g. the nightly
    corpus plus its batch as one ``documents`` view."""
    con = duckdb.connect()
    extra = extra or {}
    for t in TABLES:
        src = extra.get(t, f"{data_dir}/{t}.parquet")
        if isinstance(src, str) and not os.path.exists(src):
            continue
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet({src!r})")
    return con


def _canon(cols, schema_of):
    """Canonical projection: columns in name order, integers widened to
    BIGINT, so width differences the oracle gate's hash accepts do not read
    as value differences."""
    out = []
    for c in cols:
        t = schema_of[c].upper()
        if t in ("TINYINT", "SMALLINT", "INTEGER", "INT", "BIGINT"):
            out.append(f'CAST("{c}" AS BIGINT) AS "{c}"')
        elif t in ("FLOAT", "REAL"):
            out.append(f'CAST("{c}" AS DOUBLE) AS "{c}"')
        else:
            out.append(f'"{c}"')
    return ", ".join(out)


def compare_arrow(con, got, spark_schema, oracle_sql) -> str | None:
    """Compare an Arrow result (and, when given, its Spark schema) with
    ``oracle_sql``; ``None`` when equal, else a one-line reason."""
    try:
        want = con.sql(oracle_sql)
        dcols, dtypes = list(want.columns), [str(t) for t in want.types]
        want = want.arrow()
    except duckdb.Error as ex:
        return f"duckdb error: {ex}"
    scols = sorted(got.column_names)
    if scols != sorted(dcols):
        return f"columns {scols} vs oracle {sorted(dcols)}"
    if spark_schema is not None:
        bad = type_mismatches(spark_schema, dcols, dtypes)
        if bad:
            return "type mismatch: " + "; ".join(bad)
    if got.num_rows != want.num_rows:
        return f"rows {got.num_rows} vs oracle {want.num_rows}"
    con.register("_got", got)
    con.register("_want", want)
    try:
        rel = con.sql("SELECT * FROM _got")
        g_types = dict(zip(rel.columns, map(str, rel.types)))
        w_types = dict(zip(dcols, dtypes))
        g = f"SELECT {_canon(scols, g_types)} FROM _got"
        w = f"SELECT {_canon(scols, w_types)} FROM _want"
        extra = con.sql(f"SELECT count(*) FROM ({g} EXCEPT ALL {w})").fetchone()[0]
        missing = con.sql(f"SELECT count(*) FROM ({w} EXCEPT ALL {g})").fetchone()[0]
    finally:
        con.unregister("_got")
        con.unregister("_want")
    if extra or missing:
        return f"{extra} rows not in oracle, {missing} oracle rows missing"
    return None
