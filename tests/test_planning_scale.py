"""Scan-planning cost at metadata scale (VERDICT r1 item 7).

icelake plans scans on the driver: one JSON manifest per snapshot. A
scan binds its predicate once (`_bind_predicate`: each literal's image
under every partition field, all bucket images in one Spark eval), then
classifies the manifest's entries in one Python loop. This file
*measures* that ceiling so it is a documented number, not a guess:
planning is O(files) at a few µs per entry, so 100k files plan in well
under a second, on stats alone or through a day partition; and a
bucket `IN` list costs at most one Spark job however long it is. Past
that, reused manifests that are pruned as a whole (Iceberg's manifest
list) are the route, not a faster loop.
"""

from __future__ import annotations

import time

from datetime import date, timedelta

from iceberg_rs_spark.model import TableMetadata
from iceberg_rs_spark.sources.icelake import Catalog, DataFileEntry, _split_by_predicate

N_FILES = 20_000


def _synthetic_entries(n: int) -> list[DataFileEntry]:
    """n file entries shaped like a day-partitioned events table:
    disjoint event_id ranges, ~100 partitions."""
    out = []
    for i in range(n):
        lo, hi = i * 1000, (i + 1) * 1000 - 1
        out.append(
            DataFileEntry(
                path=f"/wh/db/t/data/c{i // 500}/ts_day={19723 + i % 100}/part-{i}.parquet",
                record_count=1000,
                file_size_bytes=1 << 20,
                schema_id=0,
                spec_id=0,
                partition={"ts_day": str(19723 + i % 100)},
                stats={  # keyed by field id: event_id = 1, value = 2
                    1: {"min": lo, "max": hi, "nulls": 0},
                    2: {"min": 0.0, "max": 100.0, "nulls": 0},
                },
            )
        )
    return out


def _day_partitioned_entries(n: int) -> list[DataFileEntry]:
    """n file entries of a table partitioned by day(ts) over 100 days
    from 2024-01-01, each file's ts stats inside its day."""
    out = []
    for i in range(n):
        day = date(2024, 1, 1) + timedelta(days=i % 100)
        out.append(
            DataFileEntry(
                path=f"/wh/db/t/data/c{i // 500}/part-{i}.parquet",
                record_count=1000,
                file_size_bytes=1 << 20,
                schema_id=0,
                spec_id=0,
                partition={"ts_day": str((day - date(1970, 1, 1)).days)},
                stats={
                    1: {"min": i * 1000, "max": i * 1000 + 999, "nulls": 0},
                    3: {
                        "min": f"{day.isoformat()}T00:00:00",
                        "max": f"{day.isoformat()}T23:59:59",
                        "nulls": 0,
                    },
                },
            )
        )
    return out


def _metadata_stub(spark, partition_by_day: bool = False):
    from iceberg_rs_spark.model import (
        IceField,
        IcePrimitive,
        IceSchema,
        IceStruct,
        PartitionField,
        PartitionSpec,
        SortOrder,
        Transform,
    )

    schema = IceSchema(
        schema_id=0,
        struct=IceStruct(
            (
                IceField(1, "event_id", True, IcePrimitive("long")),
                IceField(2, "value", False, IcePrimitive("double")),
                IceField(3, "ts", False, IcePrimitive("timestamp")),
            )
        ),
    )
    fields = (
        (PartitionField(3, 1000, "ts_day", Transform.parse("day")),)
        if partition_by_day
        else ()
    )
    return TableMetadata(
        table_uuid="00000000-0000-0000-0000-000000000000",
        location="/wh/db/t",
        last_sequence_number=1,
        last_updated_ms=0,
        last_column_id=3,
        schemas=(schema,),
        current_schema_id=0,
        partition_specs=(PartitionSpec(spec_id=0, fields=fields),),
        default_spec_id=0,
        last_partition_id=1000 if fields else 999,
        sort_orders=(SortOrder(order_id=0),),
        default_sort_order_id=0,
    )


class TestPlanningScale:
    def test_stats_pruning_20k_files_under_budget(self, spark):
        """Planning 20k files must stay under 2 s (measured ~0.1-0.4 s)
        and prune to exactly the files whose [min,max] admits rows."""
        entries = _synthetic_entries(N_FILES)
        md = _metadata_stub(spark)
        t0 = time.perf_counter()
        may, no = _split_by_predicate(
            entries, "event_id >= 1000000 AND event_id < 2000000", md, table=None
        )
        elapsed = time.perf_counter() - t0
        # selectivity: 1000 files of 20k
        assert len(may) == 1000
        assert len(no) == N_FILES - 1000
        assert elapsed < 2.0, f"planning 20k files took {elapsed:.2f}s"

    def test_stats_pruning_100k_files_hard_gate(self, spark):
        """HARD gate (VERDICT r3 #6): driver-side planning of a
        100k-entry manifest must finish in under 1 s (measured
        ~0.15 s; the assertion is the contract, not the measurement).
        Every scan plans through this one loop, at any table size."""
        entries = _synthetic_entries(100_000)
        md = _metadata_stub(spark)
        _split_by_predicate(entries[:2000], "event_id = 1", md, table=None)  # warm
        t0 = time.perf_counter()
        may, no = _split_by_predicate(
            entries, "event_id >= 1000000 AND event_id < 2000000", md, table=None
        )
        elapsed = time.perf_counter() - t0
        assert len(may) == 1000 and len(no) == 99_000
        assert elapsed < 1.0, f"planning 100k files took {elapsed:.2f}s"

    def test_day_partitioned_range_100k_files_hard_gate(self, spark):
        """HARD gate: a one-day ``ts`` range over 100k day-partitioned
        entries plans in under 1 s. Each literal's day image is
        computed once per query, not once per entry, and the day
        partition rules out all but two days before any stats are
        read."""
        entries = _day_partitioned_entries(100_000)
        md = _metadata_stub(spark, partition_by_day=True)
        where = (
            "ts >= TIMESTAMP '2024-01-10 00:00:00' "
            "AND ts < TIMESTAMP '2024-01-11 00:00:00'"
        )
        _split_by_predicate(entries[:2000], where, md, table=None)  # warm
        t0 = time.perf_counter()
        may, no = _split_by_predicate(entries, where, md, table=None)
        elapsed = time.perf_counter() - t0
        # 1000 files per day; the next day's files are ruled out by stats
        assert len(may) == 1000 and len(no) == 99_000
        assert {e.partition["ts_day"] for e in may} == {"19732"}
        assert elapsed < 1.0, f"planning 100k day-partitioned files took {elapsed:.2f}s"

    def test_planning_cost_is_linear(self, spark):
        """Per-entry cost must not blow up with file count (no
        accidental O(n^2) in the pruning loop)."""
        md = _metadata_stub(spark)
        small, big = _synthetic_entries(2000), _synthetic_entries(20_000)

        def plan(entries):
            t0 = time.perf_counter()
            _split_by_predicate(entries, "event_id = 42", md, table=None)
            return time.perf_counter() - t0

        plan(small)  # warm
        t_small, t_big = plan(small), plan(big)
        # 10x the files must cost < 40x the time (generous CI headroom)
        assert t_big < t_small * 40 + 0.05, (t_small, t_big)


class TestInListPlanning:
    def test_in_list_pruning_100k_files_under_budget(self, spark):
        """IN-list pruning (r5) must stay in the same driver budget as
        scalar predicates: 100k entries against a 3-value IN list in
        under 1.5 s, pruning to exactly the admitting files."""
        entries = _synthetic_entries(100_000)
        md = _metadata_stub(spark)
        _split_by_predicate(entries[:2000], "event_id IN (1, 2)", md, table=None)
        t0 = time.perf_counter()
        may, no = _split_by_predicate(
            entries, "event_id IN (500, 1500500, 99999999)", md, table=None
        )
        elapsed = time.perf_counter() - t0
        # each in-range value admits exactly one disjoint-range file
        assert len(may) == 3
        assert len(no) == 100_000 - 3
        assert elapsed < 1.5, f"IN-list planning 100k files took {elapsed:.2f}s"

    def test_bucket_in_list_plans_in_one_spark_job(self, spark, tmp_path):
        """Every bucket image of a query comes from one Spark eval: a
        40-literal IN list on a bucket[8] column issues at most one
        Spark job while the scan plans, and a predicate that names no
        bucket source issues none. Jobs are counted in a job group
        through the status tracker."""
        catalog = Catalog(spark, str(tmp_path / "wh"))
        t = catalog.create_table(
            "db.bucket_in",
            spark.range(80).selectExpr("id", "id % 7 AS v").schema,
            partition_by=[("id", "bucket[8]")],
        )
        t.append(spark.range(80).selectExpr("id", "id % 7 AS v"))
        sc = spark.sparkContext

        def planning_jobs(where, group):
            sc.setJobGroup(group, where)
            try:
                df = t.scan(where=where)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            return df, len(sc.statusTracker().getJobIdsForGroup(group))

        in_list = f"id IN ({', '.join(str(i) for i in range(0, 80, 2))})"
        df, jobs = planning_jobs(in_list, "plan-bucket-in")
        assert jobs <= 1, jobs
        assert sorted(r.id for r in df.collect()) == list(range(0, 80, 2))
        df, jobs = planning_jobs("v = 3", "plan-no-bucket")
        assert jobs == 0, jobs
        assert df.count() == len(range(3, 80, 7))


class TestDeleteFilePlanning:
    def test_position_delete_scan_plans_without_spark_jobs(self, spark, tmp_path):
        """Position-delete files are read with their fixed schema, so a
        scan over live position deletes issues no Spark job while it
        plans: a schema-less read would run a schema-inference job.
        Jobs are counted in a job group through the status tracker."""
        catalog = Catalog(spark, str(tmp_path / "wh"))
        df = spark.range(40).selectExpr("id", "id % 5 AS v")
        t = catalog.create_table("db.posdel_plan", df.schema)
        t.append(df)
        assert t.delete("v = 1", mode="merge-on-read") == 8
        assert t.files().where("content = 'position-deletes'").count() > 0
        sc = spark.sparkContext
        sc.setJobGroup("plan-pos-dels", "scan")
        try:
            out = t.scan()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup("plan-pos-dels")) == 0
        assert sorted(r.id for r in out.collect()) == [i for i in range(40) if i % 5 != 1]
