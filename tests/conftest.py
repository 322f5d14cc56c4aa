from __future__ import annotations

import os

import duckdb
import pytest

from streaming_forex_data_pipeline_spark.session import get_spark
from streaming_forex_data_pipeline_spark.sources.tables import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

def pytest_terminal_summary(terminalreporter):
    # pytest.ini's default lane deselects the slow tests: say how many,
    # and how to run the full gate
    slow = [
        i
        for i in terminalreporter.stats.get("deselected", [])
        if i.get_closest_marker("slow") is not None
    ]
    if slow:
        terminalreporter.write_line(
            f"{len(slow)} slow tests deselected (default lane); "
            'full gate: python -m pytest tests/ -q -m ""'
        )


@pytest.fixture(scope="session")
def spark():
    s = get_spark("sfdp-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()
