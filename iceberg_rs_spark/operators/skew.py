"""Skew mitigation (SURVEY.md §2C / the 100 TB posture): salting for
hot keys, complementing AQE's runtime skew-join splitting.

Both operators are *deterministic* (salt is a hash of a row column,
not rand()) so they stay oracle-checkable: salted results must equal
their unsalted equivalents exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    key_cols: list[str],
    aggs: dict[str, str],
    salt_col: str,
    buckets: int = 16,
) -> DataFrame:
    """Two-stage aggregation for skewed group keys.

    Stage 1 groups by (key, salt) — a hot key's rows spread over
    `buckets` reducers instead of one; stage 2 combines the partials
    by key. Only sums/counts/min/max re-aggregate losslessly (avg must
    be decomposed into sum+count by the caller).

    aggs: {column: "sum"|"count"|"min"|"max"}.
    """
    salt = F.pmod(F.xxhash64(F.col(salt_col)), F.lit(buckets)).alias("_salt")
    stage1 = df.withColumn("_salt", salt).groupBy(*key_cols, "_salt")
    partial_exprs = []
    for col, how in aggs.items():
        if how == "count":
            partial_exprs.append(F.count(col).alias(f"_p_{col}"))
        else:
            partial_exprs.append(getattr(F, how)(col).alias(f"_p_{col}"))
    partials = stage1.agg(*partial_exprs)
    final_exprs = []
    for col, how in aggs.items():
        combine = "sum" if how == "count" else how
        final_exprs.append(getattr(F, combine)(f"_p_{col}").alias(f"{how}_{col}"))
    return partials.groupBy(*key_cols).agg(*final_exprs)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_source_col: str,
    buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: the big side gets a deterministic salt in
    [0, buckets); the small side is replicated once per salt value, so
    a hot key's rows land on `buckets` different reducers. Equivalent
    to `big.join(small, key, how)` row-for-row for every big-side-
    preserving join type. Small-side-preserving joins (right/full
    outer) are REJECTED: the small side is exploded ``buckets`` times,
    so an unmatched small row would surface once per salt replica —
    ``buckets`` duplicate null-padded rows, not one. Flip the sides
    (salt what you preserve) or pre-aggregate instead."""
    _small_preserving = {"right", "rightouter", "right_outer", "full",
                         "outer", "fullouter", "full_outer"}
    if how.lower().replace(" ", "") in _small_preserving:
        raise ValueError(
            f"salted_join does not support how={how!r}: the replicated "
            "small side would emit one null-padded row per salt bucket "
            "for every unmatched small row"
        )
    big_s = big.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(salt_source_col)), F.lit(buckets))
    )
    small_s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)).cast("array<long>"))
    )
    return big_s.join(small_s, [key, "_salt"], how).drop("_salt")


#: Default for ``spark.icelake.spread.targetBytesPerTask``: how many
#: (optimizer-estimated) input bytes one spread task should carry.
#: Sized from measured fixed per-task cost on the reference box —
#: ~20-60 ms of scheduling + (for kernel operators) Python round-trip
#: per task, vs per-row heavy work worth ~0.2-1 ms/KB — so a task
#: under ~a few hundred KB is mostly overhead. At any real scale the
#: ceiling (shuffle partitions / cluster width) binds long before this
#: constant matters: it only governs the tiny-input regime, where
#: fixed 32-task fan-out measurably LOSES to narrower plans (the r14
#: driver's 8-core run beat the 32-core run on exactly these queries).
SPREAD_TARGET_BYTES_CONF = "spark.icelake.spread.targetBytesPerTask"
SPREAD_TARGET_BYTES_DEFAULT = 256 << 10

#: Per-callsite override for pipelines whose per-byte COMPUTE is an
#: order of magnitude above a plain projection (seeded-hash families:
#: 12 md5s per shingle row, k-gram winnowing) — input bytes understate
#: their work, so they saturate full width at ~10x fewer bytes.
#: Measured: minhash signatures at sf0.1 ran 4.7 s on the 2 partitions
#: the default target chose vs ~1.2 s at full width.
HASH_PIPELINE_TARGET_BYTES = 16 << 10


def spread_partitions(
    df: DataFrame, cap: int, target_bytes: "int | None" = None
) -> int:
    """Input-size-derived partition count for spreading a NARROW
    relation before per-row-heavy work: ceil(estimated bytes / target)
    clamped to [2, cap]; a ``cap`` below 2 wins, so the result never
    exceeds ``cap``. The estimate is the optimizer's sizeInBytes
    (file-size-based for scans — computed without running a job); when
    unavailable, falls back to ``cap`` (the pre-r15 behavior).
    ``target_bytes`` overrides the conf for compute-dense callsites
    (see :data:`HASH_PIPELINE_TARGET_BYTES`)."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return cap
    if size <= 0 or size > (64 << 40):  # unknown/default-huge estimate
        return cap
    target = target_bytes
    if target is None:
        try:
            target = int(
                df.sparkSession.conf.get(
                    SPREAD_TARGET_BYTES_CONF, str(SPREAD_TARGET_BYTES_DEFAULT)
                )
            )
        except (TypeError, ValueError):
            target = SPREAD_TARGET_BYTES_DEFAULT
    return min(cap, max(2, -(-size // target)))


def spread_by_range(
    df: DataFrame,
    *order_cols,
    num_partitions: "int | None" = None,
    target_bytes: "int | None" = None,
) -> DataFrame:
    """Range-repartition a NARROW relation by its final presentation
    order BEFORE per-row-heavy projections (r14, guide §2.5 input
    skew / §2.4).

    Two problems with ``heavy_select(scan).orderBy(k)`` that this
    helper fixes at once:

    1. A small single-file scan arrives as ONE partition (the sf0.1
       documents fixture is one 1.5 MB parquet split), serializing
       every downstream per-row expression on one core. At real scale
       the scan has many splits and the repartition is a cheap
       constant-factor reshuffle of the narrow input.
    2. A terminal ``orderBy`` is a range exchange whose partitioner
       SAMPLES its child — i.e. the heavy projection is evaluated a
       second time just to pick range bounds. Range-partitioning the
       narrow input first and finishing with
       ``sortWithinPartitions(k)`` keeps the exact same total order
       (range partitions are globally ordered; the local sort orders
       within) while sampling only the narrow scan and evaluating the
       heavy projection exactly once.

    Partition count defaults to the input-size-derived
    :func:`spread_partitions` capped at ``spark.sql.shuffle.partitions``
    — the knob the cluster sizes for every other shuffle — never a
    dev-box literal (same rationale as packing._resolve_partitions).
    r15: the cap alone over-fans tiny inputs (32 near-empty tasks per
    downstream stage on a sub-MB scan — the r14 driver's 8-core run
    beat 32 cores on exactly these queries); real inputs still
    saturate the cap. Callers MUST pair this with
    ``sortWithinPartitions`` on the same key prefix when the query's
    declared output is ordered.
    """
    if num_partitions is None:
        try:
            cap = int(
                df.sparkSession.conf.get("spark.sql.shuffle.partitions")
            )
        except (TypeError, ValueError):
            cap = int(df.sparkSession.sparkContext.defaultParallelism)
        num_partitions = spread_partitions(df, cap, target_bytes)
    return df.repartitionByRange(num_partitions, *[F.col(c) if isinstance(c, str) else c for c in order_cols])
