"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash). ``queries()`` lists every corpus name
exactly once, in registration order; ``oracle_sql()`` covers the
hash-checkable subset.

The corpus itself lives in ``iceberg_rs_spark.plans`` — one
registered (builder, oracle) pair per operator from SURVEY.md §2.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

# Make the repo importable no matter where the driver runs us from.
_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from iceberg_rs_spark.plans import corpus  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape) on /root/testdata/sf0.001."""
    return corpus.CORPUS["q1_pricing_summary"].builder(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return corpus.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every hash-checkable corpus query."""
    return corpus.oracle_sql()
