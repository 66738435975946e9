"""Shared fixtures: one local SparkSession per test run, DuckDB oracle."""

from __future__ import annotations

import os
import sys
import uuid

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from jobbench import trace  # noqa: E402
from taar_gcp_etl_spark.io import TABLE_NAMES  # noqa: E402
from taar_gcp_etl_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"
# the oracle-parity harness defaults to the smoke sf for speed; export
# SPARK_GRAFT_ORACLE_SF=/root/testdata/sf0.01 to replicate the driver's
# exact correctness gate locally (same sf, all registry entries — the
# driver's artifact records only the first 50)
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF", SF_SMOKE)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="taar-spark-tests",
        cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"),
        extra_conf={"spark.sql.warehouse.dir": "/tmp/taar-spark-warehouse"},
    )
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for sf, prefix in ((SF_ORACLE, ""),):
        for t in TABLE_NAMES:
            con.execute(
                f"CREATE OR REPLACE VIEW {prefix}{t} AS "
                f"SELECT * FROM '{sf}/{t}.parquet'"
            )
    yield con


def spark_jobs(spark, fn):
    """(fn(), Spark jobs it ran) — counted by job group, which AQE and
    broadcast sub-jobs inherit."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def files_written(path, fn):
    """(fn(), (files, bytes) new or changed under ``path``) — the same
    before/after snapshot diff the benchmark's traced spans count."""
    before = trace.snapshot([path])
    out = fn()
    return out, trace.written(before, trace.snapshot([path]))
