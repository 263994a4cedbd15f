"""Skew-proof per-key sessionization (the r13 window-skew audit's fix).

``Window.partitionBy(user_id).orderBy(ts)`` — the gaps-and-islands
shape behind the events family — serializes a key's entire history
into ONE task: a bot user holding 20% of a 100 TB stream turns the
window stage into a single-core scan of 20 TB, and neither AQE skew
handling (joins/aggregations only) nor salting (sessions need a total
order per key) helps. ``window_skew_probe.py`` (last present in commit
e5511a3) measured the penalty, which tends to cores x hot-share: at
8M rows the window plan's 20%-hot arm ran 2.46x its uniform arm,
while this chunked plan stayed flat (0.79x).

``session_counts_distributed`` computes the same per-user
``(n_sessions, n_events)`` without ever holding a key in one task —
the distributed-chain pattern of ``operators/dedup.py``'s hot-bucket
guard and ``operators/packing.py``'s prefix sum:

1. range-partition on ``(user, ts, id)`` and sort within partitions —
   a hot user spans MANY partitions, each holding a contiguous slice
   of its timeline;
2. one ``mapInPandas`` pass aggregates per-partition per-user partials
   (events, provisional session starts) with vectorized gap flags and
   one carried row of state across Arrow batches — the first row of
   each partition provisionally opens a session;
3. the provisional opens that straddle a partition boundary are
   corrected from a metadata-sized per-partition edge aggregate (the
   first and last ``(user, ts)`` of each partition — two rows per
   partition cross the driver, never data): when partition p's first
   row continues the previous non-empty partition's last row (same
   user, gap not exceeded), subtract one session.

The result is partitioning-invariant and matches the window plan
bit-for-bit (differential-pinned in tests/test_sessionize.py across
partition counts, seeds, and a hot-key arm), including the boundary
rule the streaming operators pin (FIXTURES rule 10): an event landing
EXACTLY ``gap`` after the previous one MERGES; only a strictly
greater gap opens a session.

Not wired into any corpus query (the corpus is frozen at 295): the
events fixtures are per-user-bounded, so the window plans stand; this
operator is the documented scale path when a key can hold a constant
fraction of the stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iceberg_rs_spark.operators.dedup import barrier


def session_counts_distributed(
    events: DataFrame,
    gap: str = "2 hours",
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    num_partitions: "int | None" = None,
) -> DataFrame:
    """``(user_id, n_sessions, n_events)`` per user under gap-based
    sessionization, with no per-key window anywhere in the plan. See
    the module docstring for the three-stage shape."""
    import pandas as pd

    gap_s = float(pd.Timedelta(gap).total_seconds())

    base = events.select(
        F.col(user_col).alias("u"),
        F.col(ts_col).alias("ts"),
        F.col(id_col).alias("eid"),
    )
    parts = [num_partitions] if num_partitions else []
    sorted_df = barrier(
        base.repartitionByRange(*parts, "u", "ts", "eid").sortWithinPartitions(
            "u", "ts", "eid"
        )
    )

    out_schema = T.StructType(
        [
            T.StructField("u", sorted_df.schema["u"].dataType),
            T.StructField("n_events", T.LongType()),
            T.StructField("n_sessions", T.LongType()),
        ]
    )

    def per_partition(batches):
        import pandas as pd  # worker-side import, like the dedup chain

        acc: dict = {}  # u -> [n_events, n_sessions]
        tail = None  # last row of the previous batch (1-row frame)
        for pdf in batches:
            if pdf.empty:
                continue
            cur = (
                pdf
                if tail is None
                else pd.concat([tail, pdf], ignore_index=True)
            )
            carried = tail is not None
            u = cur["u"]
            new_u = u.ne(u.shift())
            over_gap = cur["ts"].diff().dt.total_seconds() > gap_s
            flag = (new_u | over_gap).astype("int64")
            sub = pd.DataFrame({"u": u, "f": flag})
            if carried:
                # row 0 is the carried state row, already counted in a
                # previous batch; it only seeds shift()/diff()
                sub = sub.iloc[1:]
            g = sub.groupby("u", sort=False)["f"].agg(["count", "sum"])
            for uu, row in g.iterrows():
                a = acc.setdefault(uu, [0, 0])
                a[0] += int(row["count"])
                a[1] += int(row["sum"])
            tail = cur.tail(1)
        if acc:
            yield pd.DataFrame(
                {
                    "u": list(acc.keys()),
                    "n_events": [v[0] for v in acc.values()],
                    "n_sessions": [v[1] for v in acc.values()],
                }
            )

    partials = sorted_df.mapInPandas(per_partition, schema=out_schema)

    # Boundary corrections: two edge rows per partition, driver-side.
    # min/max of struct(u, ts, eid) under lexicographic struct order ==
    # the partition's first/last row in the sorted order.
    edges = (
        sorted_df.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(
            F.min(F.struct("u", "ts", "eid")).alias("_lo"),
            F.max(F.struct("u", "ts", "eid")).alias("_hi"),
        )
        .collect()
    )
    edges.sort(key=lambda r: r["_pid"])
    corrections = []
    for prev, cur in zip(edges, edges[1:]):
        same_user = prev["_hi"]["u"] == cur["_lo"]["u"]
        if not same_user:
            continue
        delta = (cur["_lo"]["ts"] - prev["_hi"]["ts"]).total_seconds()
        if delta <= gap_s:
            # partition cur's provisional first-row session open
            # actually continues partition prev's last session
            corrections.append((cur["_lo"]["u"], 0, -1))

    if corrections:
        partials = partials.unionByName(
            events.sparkSession.createDataFrame(corrections, out_schema)
        )

    return partials.groupBy("u").agg(
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum("n_sessions").cast("long").alias("n_sessions"),
    ).select(
        F.col("u").alias(user_col), "n_sessions", "n_events"
    )


def session_counts_window(
    events: DataFrame,
    gap: str = "2 hours",
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """The classic per-key window plan — the differential reference
    (and the right plan when per-key volume is bounded: one shuffle,
    no driver round-trip). Gaps compare EXACT fractional seconds
    (timestamp cast to double = epoch seconds incl. microseconds), the
    same comparison ``session_counts_distributed`` runs — whole-second
    ``unix_timestamp`` truncation would merge a ``gap + 0.5s`` split
    the distributed plan keeps (ADVICE r13 #1)."""
    import pandas as pd

    from pyspark.sql import Window

    gap_s = float(pd.Timedelta(gap).total_seconds())
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    ts_d = F.col(ts_col).cast("double")
    flagged = events.withColumn(
        "_new",
        (
            F.coalesce(
                ts_d - F.lag(ts_d).over(w),
                F.lit(gap_s + 1.0),
            )
            > gap_s
        ).cast("long"),
    )
    return flagged.groupBy(user_col).agg(
        F.sum("_new").cast("long").alias("n_sessions"),
        F.count("*").cast("long").alias("n_events"),
    )
