"""Shared fixtures: one local SparkSession, a DuckDB oracle, and the
parity checker that mirrors the driver's t2 gate (row count + column
names + order-insensitive value comparison)."""

from __future__ import annotations

import datetime
import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from selfhealingdatapipeline_gcp_spark.session import get_spark  # noqa: E402
from selfhealingdatapipeline_gcp_spark import catalog  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("shdp-tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in catalog.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_ORACLE}/{t}.parquet'")
    yield con
    con.close()


def _norm(v, float_places=6):
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, float_places)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x, float_places) for x in v)
    if isinstance(v, (int, str, bytes)):
        return v
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x, float_places)) for k, x in v.items()))
    return str(v)


def assert_parity(spark_df, duck_con, sql, float_places=6):
    """Mirror of the driver's correctness compare: identical column
    name sets, row counts, and multisets of rows (columns sorted by
    name, floats rounded)."""
    duck_res = duck_con.execute(sql)
    duck_cols = [d[0] for d in duck_res.description]
    duck_rows = duck_res.fetchall()

    spark_cols = spark_df.columns
    assert sorted(spark_cols) == sorted(duck_cols), (
        f"column mismatch: spark={sorted(spark_cols)} duck={sorted(duck_cols)}")

    spark_rows = [tuple(r) for r in spark_df.collect()]
    assert len(spark_rows) == len(duck_rows), (
        f"row count mismatch: spark={len(spark_rows)} duck={len(duck_rows)}")

    s_order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
    d_order = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])
    def _key(t):
        # None-safe total order: NULLs sort together regardless of the
        # column's type in the other rows
        return tuple((v is None, str(type(v)), str(v)) for v in t)

    s_set = sorted(
        (tuple(_norm(r[i], float_places) for i in s_order)
         for r in spark_rows), key=_key)
    d_set = sorted(
        (tuple(_norm(r[i], float_places) for i in d_order)
         for r in duck_rows), key=_key)
    for i, (a, b) in enumerate(zip(s_set, d_set)):
        assert a == b, f"row {i} differs:\n  spark={a}\n  duck ={b}"


def marker_job(spark, name: str) -> int:
    """Run a one-task job in job group ``name`` and return its job id
    once Spark's status store lists it. The store is fed asynchronously
    but in submission order, so by then every job submitted before the
    marker is visible too; the jobs a block of code launched are the
    ids strictly between a marker before it and a marker after it."""
    import time

    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc._jsc.clearJobGroup()
    deadline = time.monotonic() + 60
    while not sc.statusTracker().getJobIdsForGroup(name):
        assert time.monotonic() < deadline, f"marker job {name} never listed"
        time.sleep(0.05)
    return max(sc.statusTracker().getJobIdsForGroup(name))


def codegen_compiles(spark) -> int:
    """Generated classes Janino has compiled in this driver so far
    (Spark's CodegenMetrics counts one sample per compile)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    return metrics.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
