"""Oracle gate for the query registry: run every ``queries.registry()``
entry on Spark at sf0.01 and its SQL on DuckDB over the same parquet,
compare row count + column names + order-insensitive values."""

import os

import duckdb
import pandas as pd
import pytest

from crba_etl_spark import queries as Q

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["events", "documents"]


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
    ('1.0' vs '1') must fail here."""
    import hashlib

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].astype(str)
    rows = sorted("|".join(r) for r in df.values.tolist())
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


NAMES = sorted(Q.registry())


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(spark, ddb, name):
    fn, sql = Q.registry()[name]
    got = fn(spark, SF_DIR).toPandas()
    exp = ddb.execute(sql).fetchdf()
    assert sorted(got.columns) == sorted(exp.columns), (
        f"{name}: columns {sorted(got.columns)} != {sorted(exp.columns)}"
    )
    assert len(got) == len(exp), f"{name}: rows {len(got)} != {len(exp)}"
    assert vhash(got) == vhash(exp), f"{name}: value-hash mismatch"
