"""Shared test harness: Spark-vs-DuckDB comparison mirroring the driver's
correctness gate (row count + schema-name + order-insensitive value hash)."""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd

SF_DIR = os.environ.get("OZS_TEST_SF_DIR", "/root/testdata/sf0.001")

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def duck_con(sf_dir: str = SF_DIR) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # repr = shortest round-trip (r6: strictER than any plausible
        # driver canonicalization — %.9g hid the r5 HUGEINT float reds)
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(str(_norm_cell(x)) for x in v) + "]"
    if isinstance(v, dict):
        # map columns: PySpark -> {k: v}; DuckDB -> {'key': [...], 'value': [...]}
        if set(v.keys()) == {"key", "value"} and isinstance(v["key"], (list, tuple)):
            v = dict(zip(v["key"], v["value"]))
        items = sorted((str(k), str(_norm_cell(x))) for k, x in v.items())
        return "{" + ",".join(f"{k}={x}" for k, x in items) + "}"
    return str(v)


def canon(df: pd.DataFrame) -> list[tuple]:
    df = df[sorted(df.columns)]
    rows = [tuple(_norm_cell(v) for v in row) for row in df.itertuples(index=False)]
    return sorted(rows)


def assert_match(spark_df, oracle_sql: str, con, name: str = "query"):
    sp = spark_df.toPandas()
    du = con.execute(oracle_sql).fetchdf()
    assert sorted(sp.columns) == sorted(du.columns), (
        f"{name}: column mismatch spark={sorted(sp.columns)} duck={sorted(du.columns)}"
    )
    assert len(sp) == len(du), f"{name}: row count spark={len(sp)} duck={len(du)}"
    cs, cd = canon(sp), canon(du)
    if cs != cd:
        diffs = [(a, b) for a, b in zip(cs, cd) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


def count_jobs(spark, group: str, fn) -> int:
    """Spark jobs `fn()` launches, counted under its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))
