"""Replicates the driver's correctness gate: run every queries() entry on
Spark at sf0.01 and its oracle_sql() on DuckDB over the same parquet,
compare row count + column names + order-insensitive values."""

import math
import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def vhash(df: pd.DataFrame) -> str:
    """Strict order-insensitive value hash: stringify every cell verbatim
    (no rounding, no dtype coercion) — dtype drift like HUGEINT→float64
    ('1.0' vs '1') must fail here, as it would in the driver."""
    import hashlib

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].astype(str)
    rows = sorted("|".join(r) for r in df.values.tolist())
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


NAMES = sorted(entrymod.queries())


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(spark, ddb, name):
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    got = qs[name](spark, SF_DIR).toPandas()
    if name not in oracles:
        assert len(got) >= 0  # rows-only check (driver's weaker path)
        return
    exp = ddb.execute(oracles[name]).fetchdf()
    assert sorted(got.columns) == sorted(exp.columns), (
        f"{name}: columns {sorted(got.columns)} != {sorted(exp.columns)}"
    )
    assert len(got) == len(exp), f"{name}: rows {len(got)} != {len(exp)}"
    assert vhash(got) == vhash(exp), f"{name}: value-hash mismatch"


def test_entry_runs(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert df.columns == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
