"""Query-corpus registry.

Each entry in :data:`CORPUS` declares one operator/query from
SURVEY.md §2C as an executable contract:

- ``builder(spark, sf_dir) -> DataFrame`` — the Spark-first
  implementation (DataFrame API; Catalyst plans it).
- ``oracle`` — equivalent ANSI SQL that DuckDB runs over the same
  parquet fixtures; ``None`` for genuinely non-SQL-expressible ops
  (the driver then records a weaker rows-only check).

Determinism rules (FIXTURES.md): every query ends with a total ORDER BY
over a unique key set, float aggregates are ROUND(x, 2), timestamps are
compared in UTC, no approx/random functions in hash-checked queries.
Column names are aliased identically on both sides — the driver sorts
columns by name before hashing.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


#: name -> QuerySpec; populated by the @query decorator at import time.
#: :func:`queries` and :func:`oracle_sql` emit names in this
#: registration order, i.e. the import order in ``plans/__init__.py``.
CORPUS: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Register a corpus query. Use as a decorator over the builder."""

    def deco(fn: Builder) -> Builder:
        if name in CORPUS:
            raise ValueError(f"duplicate corpus query name: {name}")
        CORPUS[name] = QuerySpec(
            name=name, builder=fn, oracle=oracle, tags=tags, doc=(fn.__doc__ or "")
        )
        return fn

    return deco


def queries() -> dict[str, Builder]:
    return {name: spec.builder for name, spec in CORPUS.items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in CORPUS.items() if spec.oracle}
