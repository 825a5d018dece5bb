"""Shared fixtures: one SparkSession per test run + the DuckDB oracle
comparator that mirrors the driver's t2 check (SURVEY.md §5.2.3).
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _half_host_mem() -> str:
    """Half of MemTotal as a JVM size: the whole suite runs in one
    local-mode JVM, and session.py's 16g default can exceed the host."""
    with open("/proc/meminfo") as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return f"{kb // 2 // 1024}m"


# Must precede the package import: session.py reads it at import time.
# An explicitly set SPARK_GRAFT_DRIVER_MEM still wins.
if os.path.exists("/proc/meminfo"):
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", _half_host_mem())

from kafka_hadoop_consumer_spark import TABLES, get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="pytest")
    yield spark


@pytest.fixture(scope="session")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Canonical form mirroring an order-insensitive value comparison:
    columns sorted by name, rows sorted by all columns, index dropped."""
    df = df.reindex(sorted(df.columns), axis=1)
    # Stringify for a total order across NaN/None/mixed types, like a hash
    # of printed values would see.
    key = df.astype(str)
    order = key.sort_values(by=list(key.columns)).index
    return df.loc[order].reset_index(drop=True)


def assert_matches_oracle(spark, oracle_con, name: str, sf_dir: str = SF_DIR):
    """Run QUERIES[name] on Spark and ORACLES[name] on DuckDB; require
    identical row count and exactly identical normalized values."""
    from kafka_hadoop_consumer_spark.queries import ORACLES, QUERIES

    sdf = QUERIES[name](spark, sf_dir).toPandas()
    odf = oracle_con.execute(ORACLES[name]).df()
    assert len(sdf) == len(odf), f"{name}: row count {len(sdf)} != oracle {len(odf)}"
    assert sorted(sdf.columns) == sorted(odf.columns), (
        f"{name}: columns {sorted(sdf.columns)} != {sorted(odf.columns)}"
    )
    s, o = normalize(sdf), normalize(odf)
    for col in s.columns:
        sv, ov = s[col], o[col]
        if sv.dtype.kind == "f" or ov.dtype.kind == "f":
            sa = sv.astype(float).to_numpy()
            oa = ov.astype(float).to_numpy()
            both_nan = np.isnan(sa) & np.isnan(oa)
            eq = (sa == oa) | both_nan
        else:
            eq = sv.astype(str).to_numpy() == ov.astype(str).to_numpy()
        if not eq.all():
            bad = int(np.argmin(eq))
            raise AssertionError(
                f"{name}: column {col!r} mismatch at normalized row {bad}: "
                f"spark={s[col].iloc[bad]!r} oracle={o[col].iloc[bad]!r}"
            )
