"""In-repo replica of the driver's correctness gate: every queries()
entry vs its oracle_sql() twin via DuckDB on sf0.01 — row-count, column
names, and order-insensitive values."""

from __future__ import annotations

import glob
import math

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for p in glob.glob(f"{SF_DIR}/*.parquet"):
        name = p.split("/")[-1].removesuffix(".parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    return con


def _norm(v):
    if isinstance(v, float):
        if not math.isfinite(v):
            return str(v)
        v = round(v, 6)
        # integral floats -> int: one engine may type a column BIGINT
        # where the other types DOUBLE (5 vs 5.0, also -0.0 vs 0.0);
        # equal values must get identical sort keys under key=repr
        return int(v) if v == int(v) else v
    return v


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    # key=repr: rows with NULLs (e.g. rollup markers) sort without
    # None-vs-value type errors; multiset equality is unaffected
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows), key=repr
    )


QUERIES = sorted(entrymod.queries())


@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_oracle(spark, duck, name):
    q = entrymod.queries()[name]
    sql = entrymod.oracle_sql().get(name)
    sdf = q(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    if sql is None:
        assert len(srows) >= 0  # rows-only check for non-SQL ops
        return
    res = duck.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert sorted(scols) == sorted(dcols), f"{name}: column names differ"
    assert len(srows) == len(drows), f"{name}: row count differs"
    assert _canon(scols, srows) == _canon(dcols, drows), f"{name}: values differ"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert df.schema is not None


def test_every_query_has_an_exact_oracle():
    """Registry invariant: every queries() entry ships an oracle_sql()
    twin — a new operator silently landing rows-only would weaken the
    driver's gate without anyone noticing (the driver degrades to a
    rows-only check when the key is absent)."""
    missing = sorted(set(entrymod.queries()) - set(entrymod.oracle_sql()))
    assert missing == [], f"rows-only queries: {missing}"
    # and no orphaned oracles either
    orphaned = sorted(set(entrymod.oracle_sql()) - set(entrymod.queries()))
    assert orphaned == [], f"oracles without queries: {orphaned}"


def test_no_oracle_column_is_hugeint(duck):
    """Type gate the value comparison above cannot see: DuckDB widens
    SUM over integers to HUGEINT, which renders as a float (0.0) where
    Spark's BIGINT renders 0 — a hash mismatch under a type-sensitive
    gate even when every value agrees. DuckDB binds each oracle at
    sf0.01 without running it, so this needs no Spark."""
    wide = []
    for name, sql in sorted(entrymod.oracle_sql().items()):
        rel = duck.sql(sql)
        wide += [
            f"{name}.{col}"
            for col, ty in zip(rel.columns, rel.types)
            if str(ty) in ("HUGEINT", "UHUGEINT")
        ]
    assert wide == [], f"HUGEINT oracle columns (CAST them AS BIGINT): {wide}"
