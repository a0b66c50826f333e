"""Pre-flight for the driver's CORRECTNESS gate: run every queries() entry
and its oracle_sql() DuckDB twin at sf0.001, compare row count, column names,
and order-insensitive values (the driver does the same at sf0.01).

The testdata directory is read from SPARK_GRAFT_SF_DIR (default: sf0.001);
the same check at the sf0.01 correctness scale is

    SPARK_GRAFT_SF_DIR=<testdata>/sf0.01 \\
        python -m pytest tests/test_driver_oracles.py -q -p no:cacheprovider
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", SF_DIR)
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "nan"
                else:
                    v = f"{v:.9g}"
            elif isinstance(v, bool):
                v = str(v)
            elif v is None:
                v = "NULL"
            else:
                v = str(v)
            vals.append(v)
        out.append(tuple(vals))
    out.sort()
    return out


ORACLES = entrymod.oracle_sql()
QUERIES = entrymod.queries()


def test_all_oracle_keys_have_queries():
    missing = set(ORACLES) - set(QUERIES)
    assert not missing, f"oracle without query: {missing}"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, ddb, name):
    sdf = QUERIES[name](spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    res = ddb.execute(ORACLES[name])
    dcols = [c[0] for c in res.description]
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: column names differ"
    assert len(srows) == len(drows), (
        f"{name}: rowcount spark={len(srows)} duckdb={len(drows)}"
    )
    a = _canon(srows, scols)
    b = _canon(drows, dcols)
    if a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diff}")


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0


def test_every_query_is_oracled():
    """Round-2 milestone, pinned: NO rows-only queries remain — every
    driver query has a DuckDB twin (the parametrization above is empty by
    design and only exists as a safety net for future additions)."""
    assert set(QUERIES) == set(ORACLES)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
