from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

# Default to sf0.01 — the driver's t2 correctness scale — so a green local
# run actually predicts the driver's CORRECTNESS gate (round-1 lesson: a
# tie-order bug was invisible at sf0.001 and red at sf0.01).
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from spark_file_mover_spark.session import get_spark

    # Small core count keeps JVM startup + per-query overhead low in tests.
    spark = get_spark("spark_file_mover_spark-tests", cpus=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the testdata tables registered as views,
    mirroring the driver's oracle environment."""
    from spark_file_mover_spark.profile import oracle_connection

    con = oracle_connection(SF_DIR)
    yield con
    con.close()
