from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: sustained-load / long-wall tests"
    )


def pytest_collection_modifyitems(items):
    """The run-record readers go last, after the oracle sweep has run
    every query once; run alone, they run the queries they read."""
    items.sort(key=lambda item: item.path.name == "test_run_records.py")


SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from oem_gateway_spark import get_spark

    s = get_spark(app_name="oem-gateway-spark-tests", extra_conf={
        "spark.sql.shuffle.partitions": "8",
    })
    yield s


@pytest.fixture(scope="session")
def runs(spark):
    """``runs(name, sf_dir=SF_ORACLE)``: the session's one ``run`` record
    per (query, sf_dir).  The oracle sweep and the witness tests read
    the same record, so each streaming query runs once per session."""
    from oem_gateway_spark.suite.registry import run

    memo = {}

    def get(name: str, sf_dir: str = SF_ORACLE):
        if (name, sf_dir) not in memo:
            memo[name, sf_dir] = run(name, spark, sf_dir)
        return memo[name, sf_dir]

    return get


@pytest.fixture(autouse=True)
def no_active_streams(request):
    """Every test leaves no streaming query running.  Leftovers are
    stopped before the assertion, so one leak does not fail later tests."""
    yield
    if "spark" not in request.fixturenames:
        return
    active = request.getfixturevalue("spark").streams.active
    names = [q.name for q in active]
    for q in active:
        q.stop()
    assert names == [], f"streaming queries left running: {names}"


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_ORACLE}/{t}.parquet')"
        )
    yield con
    con.close()
