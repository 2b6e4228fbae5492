"""Shared test fixtures: one local SparkSession per test run, DuckDB
oracle connection, parity comparison helper replicating the driver's
compare (row count + schema shape + order-insensitive values)."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdc_poc_spark.session import get_spark
from cdc_poc_spark.tables import TABLES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("cdc-poc-tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    yield s
    s.stop()


@pytest.fixture
def partition_size(spark):
    """Set the advisory partition size a bucketed state sizes its width
    by (``partition_size("1")``: every state is as wide as its cap);
    the session's value is restored after the test."""
    conf = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    was = spark.conf.get(conf)
    yield lambda size: spark.conf.set(conf, size)
    spark.conf.set(conf, was)


@pytest.fixture
def tiny_partitions(partition_size):
    """A 1-byte advisory partition size for the whole test: every
    bucketed state hashes with its full ``n_buckets``."""
    partition_size("1")


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _norm(v):
    """Normalize a cell for cross-engine comparison."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    # datetimes/dates/Decimals compare by repr; lists normalized recursively
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _sortable(row):
    return tuple((x is None, repr(x)) for x in row)


def assert_parity(spark_df, duck_con, sql, name=""):
    """Exact value parity, order-insensitive, columns sorted by name —
    mirrors the driver's CORRECTNESS compare."""
    sdf = spark_df.toPandas()
    ddf = duck_con.execute(sql).fetchdf()
    s_cols, d_cols = sorted(sdf.columns), sorted(ddf.columns)
    assert s_cols == d_cols, f"{name}: column names differ: {s_cols} vs {d_cols}"
    assert len(sdf) == len(ddf), f"{name}: row count {len(sdf)} vs {len(ddf)}"
    s_rows = sorted(
        (tuple(_norm(v) for v in row) for row in sdf[s_cols].itertuples(index=False)),
        key=_sortable,
    )
    d_rows = sorted(
        (tuple(_norm(v) for v in row) for row in ddf[d_cols].itertuples(index=False)),
        key=_sortable,
    )
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b
    ]
    assert not mismatches, (
        f"{name}: {len(mismatches)} row mismatches; first 3: {mismatches[:3]}"
    )
