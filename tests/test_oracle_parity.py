"""In-repo replica of the driver's correctness gate: every queries()
entry vs its oracle_sql() twin via DuckDB on sf0.01 — row-count, column
names, numeric type classes, and order-insensitive values."""

from __future__ import annotations

import glob
import math
import os
import subprocess
import sys

import duckdb
import pytest
from pyspark.sql import types as T

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
        # + 0.0 maps -0.0 to 0.0: equal values must get identical sort
        # keys under key=repr
        return round(v, 6) + 0.0
    return v


def _spark_class(dt):
    if isinstance(dt, T.IntegralType):
        return "integral"
    if isinstance(dt, T.FractionalType):
        return "decimal" if isinstance(dt, T.DecimalType) else "floating"
    return None


def _duck_class(ty):
    ty = str(ty)
    if ty.startswith("DECIMAL"):
        return "decimal"
    if ty in ("FLOAT", "DOUBLE"):
        return "floating"
    integral = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT")
    if ty.removeprefix("U") in integral:
        return "integral"
    return None


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
    sql = entrymod.oracle_sql()[name]
    sdf = q(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    rel = duck.sql(sql)
    dcols = rel.columns
    drows = rel.fetchall()
    assert sorted(scols) == sorted(dcols), f"{name}: column names differ"
    # type drift the value compare cannot see: 5 (BIGINT) vs 5.0 (DOUBLE)
    # hash differently in the driver's type-sensitive gate
    sclass = {f.name: _spark_class(f.dataType) for f in sdf.schema.fields}
    dclass = dict(zip(dcols, map(_duck_class, rel.types)))
    assert sclass == dclass, f"{name}: numeric type classes differ"
    assert len(srows) == len(drows), f"{name}: row count differs"
    assert _canon(scols, srows) == _canon(dcols, drows), f"{name}: values differ"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert df.schema is not None


def test_gate_registry_names_unique_and_oracled():
    """queries()/oracle_sql() project the table into dicts, which would
    silently drop a duplicated name; every row must carry real SQL."""
    names = [name for name, _, _ in entrymod.gates()]
    dups = sorted({n for n in names if names.count(n) > 1})
    assert dups == [], f"duplicate gate names: {dups}"
    empty = [
        name
        for name, _, sql in entrymod.gates()
        if not (isinstance(sql, str) and sql.strip())
    ]
    assert empty == [], f"gates without oracle SQL: {empty}"


def test_gate_dir_removed_at_exit(tmp_path):
    """Sink and stream-source outputs live in one per-process directory
    that the interpreter removes at exit — nothing leaks into TMPDIR."""
    code = (
        "import __spark_entry__ as e; d = e._gate_dir();"
        " open(d + '/probe', 'w').write('x'); print(d)"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=repo,
        env={**os.environ, "TMPDIR": str(tmp_path)},
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()
    assert os.path.basename(out).startswith("btd_gate_")
    assert os.path.dirname(out) == str(tmp_path)
    assert not os.path.exists(out)
    assert list(tmp_path.iterdir()) == []


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
