"""Distributed global window functions (VERDICT r4 §Next-round #3).

``Window.orderBy(...)`` with no partition key funnels every row of the
input through ONE task — correct at sf0.1, dead at 100 TB. This module
provides the global window functions the corpus actually uses —
row_number, rank, ntile, running sum — built on the two-pass
partition-offset prefix sum in :mod:`~iceberg_rs_spark.operators.
packing` (range partition → per-partition totals to the driver →
broadcast offsets + within-partition window), so the plan never
contains a single-partition Exchange over an unbounded relation:

- the range repartition spreads the total order across
  ``num_partitions`` tasks;
- the driver sees one row per partition (metadata, not data);
- each partition finishes its own slice with an ordinary
  partition-local window.

Semantics are identical to the SQL window functions — ntile uses the
exact SQL fill rule (first N mod n tiles get the extra row), rank
shares numbers across ties — and every function is property-tested
against the native single-partition ``Window.orderBy`` result in
tests/test_distwin.py, so the corpus queries routed through here kept
their DuckDB oracles unchanged.

Callers pass sort expressions (``F.col("x").desc()`` works; tiebreak
to a unique key for deterministic output, same as the SQL side).
Persisted barrier frames register with packing's cache registry;
``packing.release_caches()`` (call it after each consuming action) frees
them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from iceberg_rs_spark.operators.packing import with_global_offset

__all__ = [
    "row_number_global",
    "rank_global",
    "ntile_global",
    "running_sum_global",
    "running_max_global",
    "prefix_scan_keyed",
]


def _order_list(order_by) -> list:
    return list(order_by) if isinstance(order_by, (list, tuple)) else [order_by]


def row_number_global(
    df: DataFrame,
    order_by,
    out_col: str = "rn",
    num_partitions: "int | None" = None,
) -> DataFrame:
    """``ROW_NUMBER() OVER (ORDER BY ...)`` without the
    single-partition window: exclusive prefix sum of weight 1, plus
    one. ``order_by`` must reach a unique key for the numbering to be
    deterministic (same requirement the hash-checked oracles impose
    on the SQL side). Total row count rides along as
    ``_icelake_prefix_totals`` for ntile-style consumers."""
    tagged = df.withColumn("_w1", F.lit(1).cast("long"))
    out = with_global_offset(
        tagged, _order_list(order_by), "_w1", num_partitions, out_col="_off"
    )
    res = out.withColumn(out_col, (F.col("_off") + 1).cast("int")).drop(
        "_off", "_w1"
    )
    res._icelake_packing_cache = getattr(out, "_icelake_packing_cache", None)
    res._icelake_prefix_totals = getattr(out, "_icelake_prefix_totals", {})
    return res


def rank_global(
    df: DataFrame,
    order_by,
    tie_cols: "list[str | Column]",
    out_col: str = "rank",
    num_partitions: "int | None" = None,
) -> DataFrame:
    """``RANK() OVER (ORDER BY ...)``: row_number with an arbitrary
    tiebreak, then the minimum row number within each tie group. Ties
    share the smallest number and the next distinct value jumps past
    them, exactly the SQL rule.

    Tie resolution is a grouped MIN + equi-join back on ``tie_cols``,
    NOT ``Window.partitionBy(tie_cols)`` — a window partitioned by a
    low-cardinality metric funnels every row of one value through one
    task (the single-task shape this module exists to kill), while the
    grouped min partial-aggregates map-side (reduce input is one row
    per distinct value) and AQE turns the join back into a BROADCAST
    join when the distinct set is small, leaving the fact side's
    partitioning untouched (ADVICE r5 #4).

    The join back is NULL-SAFE (``<=>``): SQL RANK() treats NULL order
    values as one tie group, and a plain equi-join would silently drop
    every NULL-keyed row. Column expressions in ``tie_cols`` are
    materialized as temp columns first so they are resolvable as
    group/join keys."""
    # Materialize Column-typed tie expressions so groupBy/join can
    # resolve them by name; plain strings pass through untouched.
    exprs = {
        f"_tie{i}": c
        for i, c in enumerate(tie_cols)
        if not isinstance(c, str)
    }
    work = df
    for name, c in exprs.items():
        work = work.withColumn(name, c)
    tie_names = [
        c if isinstance(c, str) else f"_tie{i}"
        for i, c in enumerate(tie_cols)
    ]
    rn = row_number_global(work, order_by, "_rn_tie", num_partitions)
    mins = rn.groupBy(*tie_names).agg(
        F.min("_rn_tie").cast("int").alias("_rank_min")
    )
    cond = None
    for t in tie_names:
        clause = F.col(f"_l.{t}").eqNullSafe(F.col(f"_r.{t}"))
        cond = clause if cond is None else cond & clause
    keep = [c for c in rn.columns if c != "_rn_tie" and c not in exprs]
    res = (
        rn.alias("_l")
        .join(mins.alias("_r"), cond)
        .select(
            *[F.col(f"_l.{c}") for c in keep],
            F.col("_r._rank_min").alias(out_col),
        )
    )
    res._icelake_packing_cache = getattr(rn, "_icelake_packing_cache", None)
    res._icelake_prefix_totals = getattr(rn, "_icelake_prefix_totals", {})
    return res


def ntile_global(
    df: DataFrame,
    n: int,
    order_by,
    out_col: str = "tile",
    num_partitions: "int | None" = None,
) -> DataFrame:
    """``NTILE(n) OVER (ORDER BY ...)`` with the exact SQL fill rule:
    with N rows, the first ``N mod n`` tiles hold ``N div n + 1`` rows
    and the rest ``N div n``. N comes free from the prefix-sum pass
    (per-partition totals are already on the driver), so this is the
    same two shuffles as row_number — no extra count action."""
    rn = row_number_global(df, order_by, "_rn_ntile", num_partitions)
    total = getattr(rn, "_icelake_prefix_totals", {}).get((), 0)
    q, r = divmod(int(total), n)
    c = F.col("_rn_ntile")
    if q == 0:
        # Fewer rows than tiles: row i lands alone in tile i.
        tile = c
    elif r == 0:
        tile = F.floor((c - 1) / F.lit(q)) + 1
    else:
        big = r * (q + 1)  # rows covered by the (q+1)-sized tiles
        tile = F.when(c <= big, F.floor((c - 1) / F.lit(q + 1)) + 1).otherwise(
            F.lit(r) + F.floor((c - big - 1) / F.lit(q)) + 1
        )
    res = rn.withColumn(out_col, tile.cast("int")).drop("_rn_ntile")
    res._icelake_packing_cache = getattr(rn, "_icelake_packing_cache", None)
    return res


def running_sum_global(
    df: DataFrame,
    order_by,
    weight_col,
    out_col="running_sum",
    num_partitions: "int | None" = None,
    group_cols: "list[str] | None" = None,
    keep_pid: bool = False,
) -> DataFrame:
    """``SUM(w) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)`` — the
    inclusive prefix sum: exclusive offset from the two-pass scheme
    plus the row's own weight. The sweep-line concurrency counter and
    any cumulative-total readout route through here instead of a
    global-order window.

    ``weight_col``/``out_col`` may be matching LISTS: all the running
    sums share one range partition, one totals pass, and one local
    window (the cumulative-tokens-AND-cumulative-vocab shape costs the
    same two passes as a single sum).

    ``group_cols`` makes it a GROUPED running sum (restarts per
    group) — unlike ``Window.partitionBy(group)``, whose parallelism
    is capped at the number of DISTINCT group values (a 3-value flag
    column funnels a 100 TB relation through 3 tasks), the grouped
    two-pass scheme range-partitions on (group, order) so one group
    spreads across many partitions."""
    multi = not isinstance(weight_col, str)
    weights = list(weight_col) if multi else [weight_col]
    outs = list(out_col) if multi else [out_col]
    offs = [f"_off{i}" for i in range(len(weights))]
    out = with_global_offset(
        df,
        _order_list(order_by),
        weights,
        num_partitions,
        out_col=offs,
        group_cols=group_cols,
        keep_pid=keep_pid,
    )
    res = out
    for w, oc, off in zip(weights, outs, offs):
        res = res.withColumn(oc, (F.col(off) + F.col(w)).cast("long"))
    res = res.drop(*offs)
    res._icelake_packing_cache = getattr(out, "_icelake_packing_cache", None)
    res._icelake_prefix_totals = getattr(out, "_icelake_prefix_totals", {})
    res._icelake_partition_offsets = getattr(
        out, "_icelake_partition_offsets", []
    )
    return res


def prefix_scan_keyed(
    df: DataFrame,
    key_cols,
    order_by,
    weight_col,
    out_col="running_sum",
    num_partitions: "int | None" = None,
    count_col: "str | None" = None,
) -> DataFrame:
    """Per-KEY running sum(s) — ``SUM(w) OVER (PARTITION BY key
    ORDER BY ... ROWS UNBOUNDED PRECEDING)`` — without a per-key
    window anywhere in the plan (VERDICT r13 ask #5: the
    generalization of ``operators/sessionize.py``'s chunked pattern to
    the whole per-key running-aggregate family).

    ``Window.partitionBy(key)`` serializes each key's history into one
    task, and ``packing.with_global_offset(group_cols=key)`` — the
    right plan for LOW-cardinality groups — collects one totals row
    per (partition, group), which is O(distinct keys): data-sized for
    a per-user key at 100 TB. This operator keeps the driver traffic
    at O(num_partitions) regardless of key cardinality:

    1. range-partition on ``(key..., order...)`` — a hot key spans
       many partitions, each holding a contiguous slice of its
       timeline (the skew guard), while small keys pack contiguously;
    2. per-(partition, key) totals are aggregated DISTRIBUTED
       (map-side partial combine), then reduced to one row per
       partition — first key, last key, and each one's in-partition
       totals via ``min_by``/``max_by`` — before crossing to the
       driver: two boundary aggregates per partition, metadata, never
       one row per key;
    3. the driver walks partitions in range order stitching the at
       most ONE key that straddles each boundary (the RangePartitioner
       contract: partition i's keys precede partition i+1's), and
       broadcasts back at most one offset row per partition;
    4. a partition-LOCAL window (``partitionBy(_pid, key...)`` — every
       chunk bounded by partition size, so its implied shuffle is
       skew-free) finishes each slice, plus the broadcast offset.

    Null weights follow SQL SUM: a running value is NULL only while
    every weight seen so far for that key is NULL (the null/non-null
    combine is applied identically driver-side and in the final
    expression). Null KEYS form one ordinary group (struct min/max and
    the null-safe offset join order NULL first, same as the range
    partitioner).

    ``weight_col``/``out_col`` may be matching lists — all scans share
    the one range partition, one totals pass, and one local window.
    ``count_col`` additionally emits the per-key running row COUNT
    (a constant-1 weight riding the same passes). ``order_by`` must
    reach a per-key-unique tiebreak for deterministic output, same as
    the SQL side. Differential-pinned against the native per-key
    window plan (random, hot-key, null, and multi-weight arms) in
    tests/test_distwin.py; scale curve measured by the prefix arm of
    ``window_skew_probe.py`` (last present in commit e5511a3)."""
    from pyspark.storagelevel import StorageLevel

    from iceberg_rs_spark.operators.packing import _PERSISTED, _resolve_partitions

    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    order_exprs = [
        F.col(c) if isinstance(c, str) else c for c in _order_list(order_by)
    ]
    multi = not isinstance(weight_col, str)
    weights = list(weight_col) if multi else [weight_col]
    outs = list(out_col) if multi else [out_col]
    if len(weights) != len(outs):
        raise ValueError("weight_col and out_col lengths differ")
    work = df
    if count_col is not None:
        work = work.withColumn("_psk_one", F.lit(1).cast("long"))
        weights.append("_psk_one")
        outs.append(count_col)

    num_partitions = _resolve_partitions(work, num_partitions)
    ranged = work.repartitionByRange(
        num_partitions, *[F.col(k) for k in keys], *order_exprs
    ).withColumn("_pid", F.spark_partition_id())
    # Same barrier rationale as with_global_offset: the boundary pass
    # and the final pass must see identical partition contents.
    ranged = ranged.persist(StorageLevel.MEMORY_AND_DISK)
    _PERSISTED.append(ranged)

    kstruct = F.struct(*[F.col(k) for k in keys])
    per_key = ranged.groupBy("_pid", *keys).agg(
        *[F.sum(w).alias(f"_t{i}") for i, w in enumerate(weights)]
    )
    tstruct = F.struct(*[F.col(f"_t{i}") for i in range(len(weights))])
    edges = (
        per_key.groupBy("_pid")
        .agg(
            F.min(kstruct).alias("_lo"),
            F.max(kstruct).alias("_hi"),
            F.min_by(tstruct, kstruct).alias("_lo_t"),
            F.max_by(tstruct, kstruct).alias("_hi_t"),
        )
        .collect()
    )
    edges.sort(key=lambda r: r["_pid"])

    def _combine(a, b):  # SQL SUM null semantics, element-wise
        return tuple(
            y if x is None else (x if y is None else x + y)
            for x, y in zip(a, b)
        )

    carry_key: "tuple | None" = None
    carry: "tuple | None" = None
    corrections = []  # one row per chain-continuing partition, max
    for e in edges:
        lo, hi = tuple(e["_lo"]), tuple(e["_hi"])
        hi_t = tuple(e["_hi_t"])
        if carry_key is not None and lo == carry_key:
            corrections.append((int(e["_pid"]), *lo, *carry))
            if hi == carry_key:
                carry = _combine(carry, hi_t)
                continue
        carry_key, carry = hi, hi_t

    ttypes = dict(per_key.dtypes)
    ktypes = dict(work.select(*keys).dtypes)
    corr_schema = ", ".join(
        ["_pid int"]
        + [f"{k} {ktypes[k]}" for k in keys]
        + [f"_pso{i} {ttypes[f'_t{i}']}" for i in range(len(weights))]
    )
    off_df = work.sparkSession.createDataFrame(corrections, corr_schema)
    cond = F.col(f"_l._pid") == F.col("_r._pid")
    for k in keys:
        cond = cond & F.col(f"_l.{k}").eqNullSafe(F.col(f"_r.{k}"))
    joined = ranged.alias("_l").join(
        F.broadcast(off_df).alias("_r"), cond, "left"
    ).select(
        *[F.col(f"_l.{c}") for c in ranged.columns],
        *[F.col(f"_r._pso{i}") for i in range(len(weights))],
    )
    win = (
        Window.partitionBy("_pid", *keys)
        .orderBy(*order_exprs)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    res = joined
    for i, (w, oc) in enumerate(zip(weights, outs)):
        local = F.sum(w).over(win)
        off = F.col(f"_pso{i}")
        res = res.withColumn(
            oc,
            F.when(off.isNull() & local.isNull(), F.lit(None)).otherwise(
                F.coalesce(off, F.lit(0)) + F.coalesce(local, F.lit(0))
            ),
        )
    res = res.drop("_pid", *[f"_pso{i}" for i in range(len(weights))])
    if count_col is not None:
        res = res.withColumn(count_col, F.col(count_col).cast("long")).drop(
            "_psk_one"
        )
    res._icelake_packing_cache = ranged
    return res


def running_max_global(
    df: DataFrame,
    order_by,
    value_col: str,
    out_col: str = "running_max",
    num_partitions: "int | None" = None,
    inclusive: bool = True,
) -> DataFrame:
    """``MAX(v) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING [AND -1])``
    via the same two-pass scheme, specialized for the max combine:
    per-partition maxima go to the driver (one row per partition),
    each partition receives the max over all PRECEDING partitions, and
    a partition-local window finishes its slice —
    ``greatest(local_running_max, preceding_partitions_max)`` with
    Spark's null-skipping greatest handling the no-predecessor edges.
    ``inclusive=False`` gives the strictly-before frame (..., -1):
    NULL for the global first row, exactly like the native window —
    the skyline/dominance shape."""
    from pyspark.storagelevel import StorageLevel

    from iceberg_rs_spark.operators.packing import _PERSISTED, _resolve_partitions

    order_exprs = [
        F.col(c) if isinstance(c, str) else c for c in _order_list(order_by)
    ]
    num_partitions = _resolve_partitions(df, num_partitions)
    ranged = df.repartitionByRange(num_partitions, *order_exprs).withColumn(
        "_pid", F.spark_partition_id()
    )
    ranged = ranged.persist(StorageLevel.MEMORY_AND_DISK)
    _PERSISTED.append(ranged)
    totals = (
        ranged.groupBy("_pid").agg(F.max(value_col).alias("_mx")).collect()
    )
    vtype = dict(df.dtypes)[value_col]
    rows, run = [], None
    for row in sorted(totals, key=lambda r: r["_pid"]):
        rows.append((int(row["_pid"]), run))
        m = row["_mx"]
        if m is not None and (run is None or m > run):
            run = m
    off_df = df.sparkSession.createDataFrame(
        rows, f"_pid int, _pmax {vtype}"
    )
    hi = Window.currentRow if inclusive else -1
    win = (
        Window.partitionBy("_pid")
        .orderBy(*order_exprs)
        .rowsBetween(Window.unboundedPreceding, hi)
    )
    res = (
        ranged.join(F.broadcast(off_df), "_pid")
        .withColumn(
            out_col,
            F.greatest(F.max(value_col).over(win), F.col("_pmax")),
        )
        .drop("_pid", "_pmax")
    )
    res._icelake_packing_cache = ranged
    return res
