"""Partition transforms as Spark Column expressions (SURVEY.md §1.3).

Semantics pinned to the reference's Transform enum
(/root/reference/src/model/partition.rs:15-35):

- void      → always null
- identity  → unmodified value
- year      → years since 1970
- month     → months since 1970-01
- day       → days since 1970-01-01
- hour      → hours since epoch
- bucket[N] → hash of value mod N
- truncate[W] → value truncated to width W (floored for ints,
  prefix for strings)

DEVIATION (documented): Iceberg's bucket uses Murmur3-x86-32 with
seed 0 over spec-defined byte layouts. We use Spark's built-in
``hash()`` (Murmur3, seed 42) so bucketing stays JVM-side and
codegen-able; write-side bucketing and query-side pruning both go
through this one function, so the engine is self-consistent. Only
cross-engine Iceberg interop would need the spec hash.

Spark's ``hash()`` is type-sensitive, so a bucket partition field
hashes the representation the spec fixes, not the column's type: an
``int`` hashes as ``long`` and a decimal at precision 38 (same scale).
That keeps every bucket valid across the type promotions schema
evolution allows (``int → long``, decimal precision widening), as in
the spec. ``float → double`` changes the hash, so, as in the spec,
float and double columns cannot be bucketed.

All expressions are tz-independent for TIMESTAMP_NTZ inputs (calendar
arithmetic, not epoch-seconds arithmetic).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iceberg_rs_spark.model.partition import Transform

EPOCH_DATE = "1970-01-01"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def years_from_epoch(col: Column | str) -> Column:
    return (F.year(_c(col)) - F.lit(1970)).cast("int")


def months_from_epoch(col: Column | str) -> Column:
    c = _c(col)
    return ((F.year(c) - 1970) * 12 + F.month(c) - 1).cast("int")


def days_from_epoch(col: Column | str) -> Column:
    return F.datediff(F.to_date(_c(col)), F.to_date(F.lit(EPOCH_DATE))).cast("int")


def hours_from_epoch(col: Column | str) -> Column:
    c = _c(col)
    return (days_from_epoch(c) * 24 + F.hour(c)).cast("int")


def bucket(n: int, col: Column | str) -> Column:
    """hash mod N, non-negative (see module DEVIATION note)."""
    return F.pmod(F.hash(_c(col)), F.lit(n)).cast("int")


def truncate(width: int, col: Column | str) -> Column:
    """Iceberg truncate for numerics: floor to a multiple of W
    (v - (((v % W) + W) % W), which is exactly pmod)."""
    c = _c(col)
    return c - F.pmod(c, F.lit(width))


def truncate_string(width: int, col: Column | str) -> Column:
    return F.substring(_c(col), 1, width)


def transform_column(
    transform: Transform, col: Column | str, source_type: T.DataType | None = None
) -> Column:
    """Transform → Column factory (the query-side realization of
    partition.rs:15-35). ``source_type`` is the source column's Spark
    type; bucket and truncate depend on it."""
    kind, param = transform.kind, transform.param
    c = _c(col)
    if kind == "void":
        return F.lit(None)
    if kind == "identity":
        return c
    if kind == "year":
        return years_from_epoch(c)
    if kind == "month":
        return months_from_epoch(c)
    if kind == "day":
        return days_from_epoch(c)
    if kind == "hour":
        return hours_from_epoch(c)
    if kind == "bucket":
        # hash the promotion-stable representation (module docstring)
        if isinstance(source_type, (T.ByteType, T.ShortType, T.IntegerType)):
            c = c.cast(T.LongType())
        elif isinstance(source_type, T.DecimalType):
            c = c.cast(T.DecimalType(38, source_type.scale))
        return bucket(param, c)
    if kind == "truncate":
        if isinstance(source_type, T.StringType):
            return truncate_string(param, c)
        return truncate(param, c)
    raise ValueError(f"unknown transform: {transform.name}")
