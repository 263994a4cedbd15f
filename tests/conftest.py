from __future__ import annotations

import os
import sys
from pathlib import Path

import duckdb
import pytest

REPO = str(Path(__file__).resolve().parent.parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from iceberg_rs_spark.session import get_spark  # noqa: E402
from iceberg_rs_spark.sources.fixtures import TABLES  # noqa: E402

# Correctness tests default to the smallest sf for speed; set
# SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 to mimic the driver.
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # r15: 8 shuffle partitions for the suite (default = core count =
    # 32). The tests verify CORRECTNESS on KB-scale fixtures where 32
    # near-empty tasks per exchange are pure scheduling overhead —
    # the suite must fit the driver's verify budget (VERDICT r14 #1).
    # Operators that derive parallelism from the conf are exercised at
    # 8 exactly as they would be at any cluster width; the one test
    # that pins the conf-tracking behavior sets its own value.
    s = get_spark(app_name="iceberg_rs_spark-tests", shuffle_partitions=8)
    # Fill the Python worker pool to full width once per test session:
    # the first K-wide Arrow/pandas stage otherwise pays K cold worker
    # forks + numpy/pandas imports (measured ~25 s for a 32-wide first
    # stage) inside whichever test reaches it first, and tests that
    # never reach full width re-pay a few cold workers each. One
    # 1-row-per-partition mapInPandas pass amortizes it for the whole
    # suite via spark.python.worker.reuse.
    def _warm_pool(batches):
        import time as _t

        import numpy  # noqa: F401
        import pandas  # noqa: F401

        _t.sleep(0.3)
        yield from batches

    width = s.sparkContext.defaultParallelism
    s.range(0, width, 1, width).mapInPandas(_warm_pool, schema="id long").count()
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    yield con
    con.close()
