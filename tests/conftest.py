"""Shared pytest fixtures: one SparkSession + one DuckDB connection per run."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_TEST = os.environ.get("LOGFLOW_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from logflow.session import get_spark

    s = get_spark(app_name="logflow-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_TEST}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_TEST


@pytest.fixture(scope="session")
def last_job_id(spark):
    """Callable returning the id of the last Spark job started so far (-1
    before the first): the difference of two calls is the number of jobs
    started in between. Drains the listener bus first, because the status
    tracker learns of jobs through it."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    tracker = sc.statusTracker()

    def last() -> int:
        bus.waitUntilEmpty()
        return max(tracker.getJobIdsForGroup(None), default=-1)

    return last
