"""Local mirror of the driver's oracle harness: every queries() entry runs
on Spark AND (when an oracle exists) on DuckDB over the same parquet;
results must match after column-name sort + row sort — the same shape as
the driver's order-insensitive value-hash (driver contract,
__spark_entry__.py docstring)."""

import math
import os

import duckdb
import pandas as pd
import pytest

from foundry_es_spark.queries import all_oracles, all_queries

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{SF_DIR}/{t}.parquet')"
        )
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: tuple(v) if isinstance(v, (list, tuple)) else v
            )
        if "datetime" in str(df[c].dtype):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def _values_equal(a, b) -> bool:
    if a is b:
        return True
    if pd.isna(a) and pd.isna(b):
        return True
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


QUERIES = all_queries()
ORACLES = all_oracles()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_vs_oracle(spark, ddb, name):
    got = QUERIES[name](spark, SF_DIR).toPandas()
    if name not in ORACLES:
        # rows-only contract: runs, stable schema, deterministic row count
        again = QUERIES[name](spark, SF_DIR).toPandas()
        assert list(got.columns) == list(again.columns)
        assert len(got) == len(again)
        return
    exp = ddb.execute(ORACLES[name]).fetchdf()
    g, e = _normalize(got), _normalize(exp)
    assert sorted(g.columns) == sorted(e.columns), (
        f"{name}: column mismatch {list(g.columns)} vs {list(e.columns)}"
    )
    assert len(g) == len(e), f"{name}: row count {len(g)} vs {len(e)}"
    for c in g.columns:
        ga, ea = g[c].tolist(), e[c].tolist()
        bad = [
            (i, x, y) for i, (x, y) in enumerate(zip(ga, ea)) if not _values_equal(x, y)
        ]
        assert not bad, f"{name}.{c}: first mismatches {bad[:5]}"


def test_stratified_split_oracle_sum_is_bigint(spark, ddb):
    """DuckDB widens sum(BIGINT) to HUGEINT, which reaches pandas as
    float64, so a dtype-sensitive value hash no longer matches Spark's
    long; the oracle casts the sum back to BIGINT."""
    exp = ddb.execute(ORACLES["sample_stratified_split"]).fetchdf()
    assert exp["sum_chars"].dtype == "int64"
    got = QUERIES["sample_stratified_split"](spark, SF_DIR).toPandas()
    assert got["sum_chars"].dtype == exp["sum_chars"].dtype
