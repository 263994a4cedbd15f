"""Physical-plan quality gates (SURVEY.md §4.3; the 100 TB posture).

Correctness tests prove the answer is right; these prove the *plan* is
the one we'd want on a 1000-executor cluster: filters and projections
reach the parquet scan, small dimensions broadcast instead of
shuffling the fact table, aggregations are partial (map-side combine),
and bucketed self-joins never degenerate into cartesian products.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iceberg_rs_spark.plans import CORPUS


def final_plan(df) -> str:
    """Executed (post-AQE) physical plan as text."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def logical_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


class TestScanPushdown:
    def test_filter_pushdown_reaches_parquet(self, spark, sf_dir):
        df = CORPUS["q6_forecast_revenue"].builder(spark, sf_dir)
        plan = final_plan(df)
        assert "PushedFilters: [" in plan
        # at least one concrete predicate made it into the scan
        assert "PushedFilters: []" not in plan

    def test_column_pruning_reaches_parquet(self, spark, sf_dir):
        """q6 touches 4 of lineitem's 16 columns; ReadSchema must show
        only those — a scan reading all columns for a narrow
        projection is wrong at any scale."""
        df = CORPUS["q6_forecast_revenue"].builder(spark, sf_dir)
        plan = final_plan(df)
        read_schema = next(
            line for line in plan.splitlines() if "ReadSchema" in line
        )
        assert "l_extendedprice" in read_schema and "l_discount" in read_schema
        assert "l_comment" not in read_schema and "l_orderkey" not in read_schema

    def test_events_scan_prunes_unused_columns(self, spark, sf_dir):
        from iceberg_rs_spark.sources.fixtures import load_table

        df = load_table(spark, sf_dir, "events").select("event_type").distinct()
        plan = final_plan(df)
        read_schema = next(line for line in plan.splitlines() if "ReadSchema" in line)
        assert "props" not in read_schema and "user_id" not in read_schema


class TestJoinStrategy:
    def test_small_dims_broadcast_in_q5(self, spark, sf_dir):
        """region/nation/customer/supplier are all far below the 64m
        broadcast threshold — the five-way join must be all
        BroadcastHashJoin, zero fact-table shuffles for the joins."""
        df = CORPUS["q5_region_revenue"].builder(spark, sf_dir)
        plan = final_plan(df)
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_lsh_candidate_join_is_not_cartesian(self, spark, sf_dir):
        from iceberg_rs_spark.operators.dedup import minhash_candidate_pairs
        from iceberg_rs_spark.sources.fixtures import load_table

        docs = load_table(spark, sf_dir, "documents")
        plan = final_plan(minhash_candidate_pairs(docs))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_embedding_near_dup_blocks_on_lsh_bucket(self, spark, sf_dir):
        """The near-dup self-join must key on the LSH sign bucket (the
        key whose block size shrinks 2^planes — skew-immune at 100 TB),
        never on a data column like label, and never degenerate into a
        cartesian product."""
        from iceberg_rs_spark.operators.similarity import embedding_near_dup_pairs
        from iceberg_rs_spark.sources.fixtures import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        df = embedding_near_dup_pairs(emb, threshold=0.35)
        lplan = logical_plan(df)
        assert "_bucket" in lplan
        plan = final_plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # the equi-join key is the bucket, not a data column
        join_lines = [ln for ln in plan.splitlines() if "Join" in ln]
        assert any("_bucket" in ln for ln in join_lines)
        assert not any("label" in ln for ln in join_lines)

    def test_dedup_barrier_modes(self, spark, sf_dir):
        """barrier(reliable=True) — the cluster posture — must read a
        persisted MEMORY_AND_DISK relation on both self-join sides
        (spill-safe, lineage-retaining, single derivation). The local
        default picks localCheckpoint: a single-JVM master has no
        executor-loss mode for the persist path to protect against."""
        from iceberg_rs_spark.operators.dedup import barrier, minhash_signatures
        from iceberg_rs_spark.sources.fixtures import load_table

        docs = load_table(spark, sf_dir, "documents")
        sigs = barrier(minhash_signatures(docs), reliable=True)
        a, b = sigs.alias("a"), sigs.alias("b")
        pair = a.join(b, F.col("a.doc_id") < F.col("b.doc_id")).select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        plan = final_plan(pair.limit(5))
        # both self-join aliases read the persisted signatures — the
        # pipeline below the barrier ran once, at barrier() time
        assert plan.count("InMemoryTableScan") >= 2
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        assert infos, "barrier left nothing cached"
        assert any(i.storageLevel().useDisk() for i in infos), (
            "barrier cache must be spill-safe (MEMORY_AND_DISK)"
        )
        spark.catalog.clearCache()
        # local default: localCheckpoint (materialized RDD scan, no
        # SQL cache entry) — and still a single derivation by design
        ckpt = barrier(minhash_signatures(docs))
        assert "ExistingRDD" in ckpt._jdf.queryExecution().executedPlan().toString()

    def test_topk_broadcasts_query_side(self, spark, sf_dir):
        df = CORPUS["sim_topk_bruteforce"].builder(spark, sf_dir)
        plan = final_plan(df)
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


class TestAggregationShape:
    def test_partial_aggregation_before_shuffle(self, spark, sf_dir):
        """Map-side combine: q1's HashAggregate pair (partial → final)
        means only pre-aggregated rows cross the exchange."""
        df = CORPUS["q1_pricing_summary"].builder(spark, sf_dir)
        plan = final_plan(df)
        assert "partial_sum" in plan or "partial" in plan.lower()
        assert "HashAggregate" in plan

    def test_minhash_signature_aggregates_map_side(self, spark, sf_dir):
        """The shingle explosion must be reduced to 12-long partials
        before its shuffle — the property that makes MinHash viable at
        100 TB."""
        from iceberg_rs_spark.operators.dedup import minhash_signatures
        from iceberg_rs_spark.sources.fixtures import load_table

        docs = load_table(spark, sf_dir, "documents")
        plan = final_plan(minhash_signatures(docs))
        assert "partial_min" in plan

    def test_topk_plans_take_ordered(self, spark, sf_dir):
        """orderBy().limit(k) must plan TakeOrderedAndProject — a full
        sort of 100 TB to keep 10 rows is the classic scale bug."""
        from iceberg_rs_spark.sources.fixtures import load_table

        li = load_table(spark, sf_dir, "lineitem")
        df = li.orderBy(F.col("l_extendedprice").desc()).limit(10)
        plan = final_plan(df)
        assert "TakeOrderedAndProject" in plan


class TestCodegen:
    def test_scalar_pipeline_stays_in_wholestage(self, spark, sf_dir):
        """Text stats are pure column expressions; the scan→project
        pipeline must appear inside a WholeStageCodegen span."""
        df = CORPUS["text_stats_profile"].builder(spark, sf_dir)
        plan = final_plan(df)
        # codegen spans print as "*(n) Operator" in plan text
        assert "*(1)" in plan or "WholeStageCodegen" in plan

    def test_no_python_udf_in_jvm_operators(self, spark, sf_dir):
        """Operators documented as JVM-side must not smuggle in Python
        evaluation (BatchEvalPython/ArrowEvalPython nodes)."""
        for name in [
            "q1_pricing_summary",
            "text_stats_profile",
            "dedup_simhash_fingerprints",
            "win_running_totals",
        ]:
            plan = final_plan(CORPUS[name].builder(spark, sf_dir))
            assert "EvalPython" not in plan, name


class TestMergeOnReadPlans:
    """The v2 delete-file read path must cost nothing when absent and
    stay broadcast-able when present."""

    def _table(self, spark, tmp_path, sf_dir):
        import tempfile

        from iceberg_rs_spark.sources.fixtures import load_table
        from iceberg_rs_spark.sources.icelake import Catalog

        events = load_table(spark, sf_dir, "events").limit(200)
        cat = Catalog(spark, tempfile.mkdtemp(prefix="icelake_plan_"))
        t = cat.create_table("db.morplan", events.schema)
        t.append(events)
        return t, events

    def test_clean_scan_has_no_join_or_metadata(self, spark, tmp_path, sf_dir):
        """A table with NO delete files must read as a pure scan: the
        MOR machinery may not tax the common case (at 100 TB almost
        every scan is delete-free after compaction)."""
        t, _ = self._table(spark, tmp_path, sf_dir)
        plan = final_plan(t.scan())
        assert "Join" not in plan
        assert "_metadata" not in plan
        assert "__icelake" not in plan

    def test_position_delete_scan_is_single_anti_join(self, spark, tmp_path, sf_dir):
        t, _ = self._table(spark, tmp_path, sf_dir)
        t.delete("event_type = 'click'", mode="merge-on-read")
        # AQE's toString repeats the pre-adaptive plan under
        # "== Initial Plan ==" — count joins in the FINAL section only
        plan = final_plan(t.scan()).split("== Initial Plan ==")[0]
        assert plan.count("LeftAnti") == 1
        # delete side is tiny → AQE must broadcast, never shuffle the fact side
        assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan

    def test_equality_delete_scan_broadcasts_keys(self, spark, tmp_path, sf_dir):
        from pyspark.sql import functions as F  # noqa: F811

        t, events = self._table(spark, tmp_path, sf_dir)
        ids = [r.event_id for r in events.limit(5).collect()]
        batch = events.where(F.col("event_id").isin(ids)).withColumn(
            "value", F.col("value") + F.lit(1.0)
        )
        t.merge(batch, on=["event_id"], mode="merge-on-read")
        plan = final_plan(t.scan()).split("== Initial Plan ==")[0]
        assert plan.count("LeftAnti") == 1
        assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
        # The path → sequence map is folded into the join condition, so
        # only key-matching rows look their sequence up; a projected
        # lookup would run on every scanned row.
        assert "__icelake_seq" not in plan


class TestTpchWideningPlans:
    """Round-3 TPC-H shapes: the joins that must broadcast, do."""

    def test_q18_semi_join_broadcasts(self, spark, sf_dir):
        """The HAVING-filtered qualifying-order set is tiny — the semi
        join back onto lineitem must be a broadcast, and the top-25
        must plan TakeOrderedAndProject (never a full sort)."""
        plan = final_plan(CORPUS["q18_large_volume_customers"].builder(spark, sf_dir))
        assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
        assert "TakeOrderedAndProject" in plan

    def test_q10_top20_no_global_sort(self, spark, sf_dir):
        plan = final_plan(CORPUS["q10_returned_items"].builder(spark, sf_dir))
        assert "TakeOrderedAndProject" in plan
        # both selective filters reached the scans
        assert "PushedFilters: []" not in plan

    def test_q22_anti_join_broadcasts(self, spark, sf_dir):
        """NOT EXISTS must plan as a broadcast left-anti against the
        filtered orders keys — no shuffle of the customer side."""
        plan = final_plan(CORPUS["q22_idle_customers"].builder(spark, sf_dir))
        assert "LeftAnti" in plan and "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


class TestPipelinePlans:
    """Round-3 training-pipeline additions."""

    def test_sequence_packing_has_no_global_window(self, spark, sf_dir):
        """The prefix sum must be the two-pass partition-offset scheme:
        every Window in the plan is partitioned (no Exchange
        SinglePartition feeding a window), so no task ever sees the
        whole corpus."""
        df = CORPUS["pipeline_sequence_packing"].builder(spark, sf_dir)
        plan = final_plan(df)
        assert "Window" in plan
        assert "SinglePartition" not in plan.split("== Initial Plan ==")[0]

    def test_sequence_packing_offsets_are_exact(self, spark, sf_dir):
        """Cross-check the distributed prefix sum against a local one,
        at several partition counts (partitioning must not change the
        answer)."""
        import pandas as pd

        from iceberg_rs_spark.operators import packing as P
        from iceberg_rs_spark.operators import text as T
        from iceberg_rs_spark.sources.fixtures import load_table

        toks = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", T.token_count(F.col("text")).alias("n_tok"))
        )
        local = toks.orderBy("doc_id").toPandas()
        expected = (local["n_tok"].cumsum() - local["n_tok"]).astype("int64")
        for n_part in (1, 5, 32):
            got = (
                P.with_global_offset(toks, "doc_id", "n_tok", n_part)
                .orderBy("doc_id")
                .select("start_offset")
                .toPandas()["start_offset"]
            )
            pd.testing.assert_series_equal(
                got, expected, check_names=False, check_index=False
            )

    def test_repetition_signals_stay_jvm_side(self, spark, sf_dir):
        """The repetition signals must contain no Python evaluation and
        (r14) no keyed shuffle at all: the top-gram fractions are
        per-row sorted-run expressions, so the only exchange in the
        plan is the narrow range partition that spreads the scan and
        carries the output order — not a gram explode + aggregation."""
        df = CORPUS["text_repetition_signals"].builder(spark, sf_dir)
        plan = final_plan(df)
        assert "EvalPython" not in plan
        assert "hashpartitioning" not in plan
        assert "Generate" not in plan  # no gram explode
        assert "rangepartitioning" in plan

    def test_lateral_topn_decorrelates_to_ranked_join(self, spark, sf_dir):
        """The correlated LATERAL subquery must compile to one windowed
        ranked join (WindowGroupLimit pushes the per-group top-k below
        the shuffle) — never a per-outer-row subquery execution or a
        nested-loop product."""
        plan = final_plan(CORPUS["join_lateral_topn"].builder(spark, sf_dir))
        assert "Window" in plan and "WindowGroupLimit" in plan
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_unpivot_is_single_pass_expand(self, spark, sf_dir):
        """unpivot must plan as one Expand over one scan — not a UNION
        of per-measure re-scans."""
        plan = final_plan(CORPUS["fn_unpivot_melt"].builder(spark, sf_dir))
        final = plan.split("== Initial Plan ==")[0]
        assert "Expand" in final
        assert final.count("FileScan parquet") == 1

    def test_grouped_prefix_sum_is_exact_and_partition_invariant(self, spark, sf_dir):
        """The grouped variant must equal a per-group local cumsum at
        any partition count — running totals reset at group
        boundaries."""
        import pandas as pd

        from iceberg_rs_spark.operators import packing as P
        from iceberg_rs_spark.operators import text as Tx
        from iceberg_rs_spark.sources.fixtures import load_table

        toks = (
            load_table(spark, sf_dir, "documents")
            .select(
                "doc_id",
                (F.col("doc_id") % 3).cast("string").alias("grp"),
                Tx.token_count(F.col("text")).alias("n_tok"),
            )
        )
        local = toks.orderBy("grp", "doc_id").toPandas()
        expected = (
            local.groupby("grp")["n_tok"].cumsum() - local["n_tok"]
        ).astype("int64")
        for n_part in (1, 7, 32):
            got = (
                P.with_global_offset(
                    toks, "doc_id", "n_tok", n_part, group_cols=["grp"]
                )
                .orderBy("grp", "doc_id")
                .select("start_offset")
                .toPandas()["start_offset"]
            )
            pd.testing.assert_series_equal(
                got, expected, check_names=False, check_index=False
            )


class TestTpchCompletionPlans:
    """The round-3 TPC-H completions: the plans that must avoid the
    classic scale bugs, do."""

    def test_q2_uses_window_not_self_join_for_min(self, spark, sf_dir):
        """The per-part minimum must be a window over the derived
        relation, not a groupBy+rejoin that scans it twice."""
        plan = final_plan(CORPUS["q2_min_cost_supplier"].builder(spark, sf_dir))
        final = plan.split("== Initial Plan ==")[0]
        assert "Window" in final
        # one lineitem scan only (the derived ps relation is not re-read)
        assert final.count("lineitem.parquet") == 1

    def test_q21_semi_and_anti_join_present_no_cartesian(self, spark, sf_dir):
        plan = final_plan(CORPUS["q21_waiting_suppliers"].builder(spark, sf_dir))
        assert "LeftSemi" in plan and "LeftAnti" in plan
        assert "CartesianProduct" not in plan

    def test_q13_left_join_survives_filter(self, spark, sf_dir):
        """The order-priority filter lives in the join condition, so
        zero-order customers must still appear: the c_count=0 histogram
        bucket exists and the join stays outer in the plan."""
        from iceberg_rs_spark.sources.fixtures import load_table

        df = CORPUS["q13_customer_order_counts"].builder(spark, sf_dir)
        plan = final_plan(df)
        assert "LeftOuter" in plan or "RightOuter" in plan
        # every customer appears in exactly one histogram bucket
        total = sum(r.custdist for r in df.collect())
        assert total == load_table(spark, sf_dir, "customer").count()

    def test_q20_single_lineitem_scan(self, spark, sf_dir):
        """The filtered-year partial sum rides the same grouped pass as
        the all-time sum — Q20's nested-subquery formulation would scan
        lineitem twice."""
        plan = final_plan(CORPUS["q20_excess_shippers"].builder(spark, sf_dir))
        final = plan.split("== Initial Plan ==")[0]
        assert final.count("lineitem.parquet") == 1


class TestRound4Plans:
    """Round-4 additions: every windowed query partitions its windows,
    the bloom prefilter broadcasts only the bit set, and the n-gram
    joins key on fixed-width values."""

    def test_sessionization_windows_are_partitioned(self, spark, sf_dir):
        plan = final_plan(CORPUS["events_sessionization_batch"].builder(spark, sf_dir))
        assert "Window" in plan
        assert "SinglePartition" not in plan.split("== Initial Plan ==")[0]

    def test_attribution_window_is_partitioned(self, spark, sf_dir):
        plan = final_plan(
            CORPUS["events_attribution_last_touch"].builder(spark, sf_dir)
        )
        assert "Window" in plan
        assert "SinglePartition" not in plan.split("== Initial Plan ==")[0]

    def test_bloom_prefilter_broadcasts_bits_not_dim(self, spark, sf_dir):
        """The three left joins (two bit-set, one truth-accounting)
        must all be broadcast at this scale, and none may degenerate —
        the whole point of the operator is that the fact table never
        shuffles."""
        plan = final_plan(CORPUS["join_bloom_prefilter"].builder(spark, sf_dir))
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" not in plan

    def test_decontamination_joins_on_hash_not_gram(self, spark, sf_dir):
        """The contamination join must key on the fixed-width h60 of
        the 8-gram, never the gram string (shuffle bytes per key stay
        constant as documents grow)."""
        plan = final_plan(
            CORPUS["pipeline_decontaminate_ngrams"].builder(spark, sf_dir)
        )
        assert "gh" in plan  # the hashed key is the join column
        assert "CartesianProduct" not in plan

    def test_pii_redaction_has_no_shuffle_before_sort(self, spark, sf_dir):
        """Redaction is embarrassingly parallel: the only exchange in
        the plan is the final presentation ORDER BY."""
        df = CORPUS["text_pii_redaction"].builder(spark, sf_dir)
        plan = final_plan(df)
        final = plan.split("== Initial Plan ==")[0]
        import re

        exchanges = [
            ln for ln in final.splitlines() if re.search(r"\bExchange\b", ln)
        ]
        assert all("rangepartitioning" in ln.lower() for ln in exchanges), exchanges


class TestEventAnalyticsPlans:
    """The funnel/cohort anchor sides are PER-USER aggregates — they
    scale with the user population, so the code must NOT force a
    broadcast (a forced broadcast of a population-sized relation OOMs
    every executor at 100 TB). At test scale AQE chooses broadcast on
    its own, which these tests pin; what the code guarantees at any
    scale is the absence of a degenerate join."""

    def test_funnel_stage_anchors_broadcast_via_aqe(self, spark, sf_dir):
        plan = final_plan(CORPUS["events_funnel_conversion"].builder(spark, sf_dir))
        # AQE picks broadcast at sf0.01 without any hint in the code
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_funnel_code_has_no_forced_broadcast(self):
        import inspect

        from iceberg_rs_spark.plans import misc

        src = inspect.getsource(misc.events_funnel_conversion)
        src += inspect.getsource(misc.events_cohort_retention)
        assert "broadcast(" not in src  # no forced hint on an unbounded side

    def test_cohort_anchor_broadcasts_via_aqe(self, spark, sf_dir):
        plan = final_plan(CORPUS["events_cohort_retention"].builder(spark, sf_dir))
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan


class TestRound4cPlans:
    """Batch-2 round-4 additions: sampling stays map-side, windows are
    partitioned by their stratum, and the corpus-stats rankers sort
    only vocabulary-sized relations."""

    def test_stratified_sample_single_shuffle(self, spark, sf_dir):
        """Hash-bucket membership is a row-local expression; the only
        exchanges are the per-lang rollup and the presentation sort."""
        df = CORPUS["pipeline_stratified_sample"].builder(spark, sf_dir)
        final = final_plan(df).split("== Initial Plan ==")[0]
        import re

        exchanges = [
            ln for ln in final.splitlines() if re.search(r"\bExchange\b", ln)
        ]
        assert len(exchanges) <= 2, exchanges
        assert "partial" in final.lower()  # map-side combine before the rollup

    def test_domain_cap_window_is_partitioned(self, spark, sf_dir):
        plan = final_plan(CORPUS["pipeline_domain_cap"].builder(spark, sf_dir))
        assert "Window" in plan
        assert "SinglePartition" not in plan.split("== Initial Plan ==")[0]

    def test_path_transitions_user_window_partitioned(self, spark, sf_dir):
        """The per-user lag window must partition by user_id; only the
        |event_types|²-sized share window may be narrow."""
        plan = final_plan(CORPUS["events_path_transitions"].builder(spark, sf_dir))
        final = plan.split("== Initial Plan ==")[0]
        assert "partitionBy=[user_id" in final.replace(" ", "") or "user_id" in final

    def test_tfidf_no_cartesian_and_partial_agg(self, spark, sf_dir):
        """The df-join must hash on term (no cartesian beyond the 1-row
        corpus-size broadcast) and both counts partial-aggregate."""
        plan = final_plan(CORPUS["text_tfidf_keywords"].builder(spark, sf_dir))
        final = plan.split("== Initial Plan ==")[0]
        assert "CartesianProduct" not in final
        assert final.lower().count("partial") >= 2

    def test_changelog_append_fastpath_no_diff(self, spark, sf_dir):
        """An append-only history must produce a changelog WITHOUT any
        exceptAll machinery — appended files are read directly."""
        import tempfile

        from iceberg_rs_spark.sources.fixtures import load_table
        from iceberg_rs_spark.sources.icelake import Catalog

        ev = load_table(spark, sf_dir, "events").limit(200)
        cat = Catalog(spark, tempfile.mkdtemp(prefix="icelake_clplan_"))
        t = cat.create_table("db.clplan", ev.schema)
        t.append(ev)
        plan = final_plan(t.changelog_scan())
        # exceptAll compiles to a left-anti join; the fast path has none
        assert "LeftAnti" not in plan


class TestRound4dePlans:
    """Batch-3/4 round-4 additions: the PIT join stays an equi-join,
    segmentation has no global-sort window, the centroid relation
    broadcasts, and the profiling aggregates partial-combine."""

    def test_pit_join_is_keyed_not_nested_loop(self, spark, sf_dir):
        """facts × SCD2 must hash/sort-merge on user_id with the
        interval as a residual — a nested-loop over the full corpus
        would be quadratic at scale."""
        plan = final_plan(CORPUS["join_pit_dimension"].builder(spark, sf_dir))
        final = plan.split("== Initial Plan ==")[0]
        assert "CartesianProduct" not in final
        assert "BroadcastNestedLoopJoin" not in final

    def test_rfm_has_no_global_sort_window(self, spark, sf_dir):
        """Quartile scoring must come from the percentile aggregate +
        1-row broadcast, never an unpartitioned NTILE window funnelling
        the user population through one partition."""
        plan = final_plan(CORPUS["events_rfm_segments"].builder(spark, sf_dir))
        final = plan.split("== Initial Plan ==")[0]
        assert "Window" not in final
        assert "partial" in final.lower()

    def test_centroid_join_broadcasts(self, spark, sf_dir):
        """The |labels|×|dims| centroid relation must broadcast back
        onto the exploded stream (it is metadata-sized at any SF)."""
        plan = final_plan(CORPUS["sim_centroid_per_label"].builder(spark, sf_dir))
        final = plan.split("== Initial Plan ==")[0]
        assert "BroadcastHashJoin" in final
        assert "CartesianProduct" not in final

    def test_histogram_and_moments_partial_aggregate(self, spark, sf_dir):
        for name in ("agg_histogram_numeric", "agg_higher_moments"):
            plan = final_plan(CORPUS[name].builder(spark, sf_dir))
            final = plan.split("== Initial Plan ==")[0]
            assert "partial" in final.lower(), name

    def test_bitwise_family_stays_in_codegen(self, spark, sf_dir):
        plan = final_plan(CORPUS["fn_bitwise_family"].builder(spark, sf_dir))
        # post-AQE text renders codegen stages as "*(n)" prefixes
        assert "*(" in plan or "WholeStageCodegen" in plan
        assert "BatchEvalPython" not in plan

    def test_trending_rank_window_is_partitioned(self, spark, sf_dir):
        """The final rank runs per window-start — never a single
        global partition."""
        plan = final_plan(CORPUS["stream_trending_topk"].builder(spark, sf_dir))
        final = plan.split("== Initial Plan ==")[0]
        assert "Window" in final
        assert "SinglePartition" not in final

    def test_dedup_purge_no_cartesian(self, spark, sf_dir):
        plan = final_plan(CORPUS["pipeline_dedup_purge"].builder(spark, sf_dir))
        final = plan.split("== Initial Plan ==")[0]
        assert "CartesianProduct" not in final


class TestRound4Batch56Plans:
    """Batch-5/6 additions: the iterative and sketch-based operators
    must stay distributed (no cartesians beyond 1-row scalar frames, no
    single-partition funnels, broadcasts only on bounded relations)."""

    def test_pagerank_has_no_cartesian(self, spark, sf_dir):
        """The per-iteration crossJoins are 1-row broadcast scalar
        frames (dangling mass) — they must plan as broadcast nested
        loops, never a CartesianProduct over data-sized relations."""
        plan = final_plan(CORPUS["graph_pagerank_trade"].builder(spark, sf_dir))
        assert "CartesianProduct" not in plan

    def test_vocab_topn_uses_ordered_limit_not_global_window(self, spark, sf_dir):
        """Top-300 vocab selection must plan TakeOrderedAndProject
        (per-partition heaps), not a row_number over an unpartitioned
        window funnelling the whole vocabulary through one task."""
        plan = final_plan(CORPUS["pipeline_vocab_coverage"].builder(spark, sf_dir))
        assert "TakeOrderedAndProject" in plan
        assert "Window" not in plan.split("== Initial Plan ==")[0]

    def test_heavy_hitters_recount_is_broadcast(self, spark, sf_dir):
        """Pass-2 exact recount joins the corpus against the O(k·parts)
        candidate set — broadcast semi-join, never a shuffle of the
        token stream against itself."""
        plan = final_plan(CORPUS["agg_heavy_hitters_mg"].builder(spark, sf_dir))
        assert "MapInPandas" in plan  # the MG candidate pass ran
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_quality_checks_single_scan_plus_broadcast_ri(self, spark, sf_dir):
        plan = final_plan(CORPUS["quality_expectations"].builder(spark, sf_dir))
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_m4_windows_share_one_partitioning(self, spark, sf_dir):
        """All four M4 ranks partition by (event_type, bucket): no
        single-partition window may appear in the executed plan."""
        plan = final_plan(CORPUS["ts_downsample_m4"].builder(spark, sf_dir))
        final = plan.split("== Initial Plan ==")[0]
        assert "Window" in plan
        assert "SinglePartition" not in final

    def test_decay_join_and_triangles_have_no_cartesian(self, spark, sf_dir):
        for name in ("ts_exp_decay_features", "graph_triangle_count"):
            plan = final_plan(CORPUS[name].builder(spark, sf_dir))
            assert "CartesianProduct" not in plan, name


class TestRound4Batch910Plans:
    """Batch-9/10 additions: the new iterative graph operators stay
    cartesian-free, the bucketed layout actually removes the join
    exchange, and the sketch/selection stages keep their reduced
    shapes."""

    def test_bucketed_join_has_no_exchange(self, spark, sf_dir):
        """After the bucketed write, a key-equijoin of the two catalog
        tables must be a SortMergeJoin with ZERO Exchange operators —
        the bucket layout replaces the shuffle. Broadcast is disabled
        so the test proves the bucket path, not the broadcast path."""
        CORPUS["join_bucketed_colocate"].builder(spark, sf_dir).collect()
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            o = spark.table("bkt_orders")
            c = spark.table("bkt_customer")
            plan = final_plan(o.join(c, o["o_custkey"] == c["c_custkey"]))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan

    def test_lpa_and_bfs_have_no_cartesian(self, spark, sf_dir):
        for name in ("graph_label_propagation", "graph_bfs_shortest_hops"):
            plan = final_plan(CORPUS[name].builder(spark, sf_dir))
            assert "CartesianProduct" not in plan, name

    def test_countmin_cells_aggregate_partially(self, spark, sf_dir):
        """The (seed, bucket) cell build must show a partial_sum before
        the exchange — the sketch merges map-side, never shuffling the
        token stream raw."""
        plan = final_plan(
            CORPUS["agg_countmin_heavy_terms"].builder(spark, sf_dir)
        )
        assert "partial_sum" in plan or "partial_count" in plan
        assert "CartesianProduct" not in plan

    def test_knn_and_mmr_windows_are_partitioned(self, spark, sf_dir):
        """Per-query rank windows must partition by qid — a global
        window would funnel every candidate through one task."""
        for name in ("sim_knn_classify", "sim_mmr_rerank"):
            plan = final_plan(CORPUS[name].builder(spark, sf_dir))
            final = plan.split("== Initial Plan ==")[0]
            assert "SinglePartition" not in final, name

    def test_mmr_greedy_runs_as_cogroup(self, spark, sf_dir):
        plan = final_plan(CORPUS["sim_mmr_rerank"].builder(spark, sf_dir))
        assert "FlatMapCoGroupsInPandas" in plan


class TestRound4Batch11Plans:
    def test_dpp_subquery_reaches_fact_scan(self, spark, sf_dir):
        """The dim-side filter must turn into a runtime partition
        pruning subquery on the partitioned fact scan."""
        df = CORPUS["join_dynamic_partition_pruning"].builder(spark, sf_dir)
        plan = final_plan(df)
        assert "dynamicpruning" in plan.lower()

    def test_span_corruption_is_scan_shaped(self, spark, sf_dir):
        """Mask-and-reassemble happens inside the row: no explode-born
        Generate, no join, no Python stage — the only exchange allowed
        is the presentation sort."""
        plan = final_plan(CORPUS["pipeline_span_corruption"].builder(spark, sf_dir))
        final = plan.split("== Initial Plan ==")[0]
        assert "Generate" not in final
        assert "Join" not in final
        assert "InPandas" not in final and "ArrowEvalPython" not in final

    def test_ztest_single_pass_over_events(self, spark, sf_dir):
        """Both halves aggregate in ONE conditional pass: exactly one
        scan of the events fixture in the final plan (plus the 1-row
        bounds subplan), never a per-half rescan union."""
        plan = final_plan(CORPUS["events_rate_change_ztest"].builder(spark, sf_dir))
        final = plan.split("== Initial Plan ==")[0]
        assert "CartesianProduct" not in final
        assert final.count("BroadcastNestedLoopJoin") <= 1


class TestRound4Batch1213Plans:
    def test_bpe_top_pairs_use_ordered_limit(self, spark, sf_dir):
        """Top-20 merge candidates must plan TakeOrderedAndProject,
        never a global sort of the whole pair table."""
        plan = final_plan(CORPUS["pipeline_bpe_pair_merges"].builder(spark, sf_dir))
        assert "TakeOrderedAndProject" in plan

    def test_link_prediction_and_kcore_no_cartesian(self, spark, sf_dir):
        for name in ("graph_jaccard_link_prediction", "graph_kcore_peel"):
            plan = final_plan(CORPUS[name].builder(spark, sf_dir))
            assert "CartesianProduct" not in plan, name

    def test_conversation_assembly_has_no_window(self, spark, sf_dir):
        """Ordering comes from sort_array inside the aggregate — the
        plan must not contain a Window (the slow per-row alternative)."""
        plan = final_plan(
            CORPUS["pipeline_conversation_assembly"].builder(spark, sf_dir)
        )
        final = plan.split("== Initial Plan ==")[0]
        assert "Window" not in final
        assert "partial_count" in plan or "partial" in plan

    def test_time_range_window_partitions_by_user(self, spark, sf_dir):
        plan = final_plan(CORPUS["win_time_range_rolling"].builder(spark, sf_dir))
        final = plan.split("== Initial Plan ==")[0]
        assert "Window" in plan
        # the frame window itself must not collapse to one partition;
        # the only SinglePartition allowed is the final presentation sort
        assert "rangeBetween" not in final or "SinglePartition" not in final.split("Sort")[0]

    def test_pmi_marginals_broadcast(self, spark, sf_dir):
        plan = final_plan(CORPUS["agg_pmi_type_dayofweek"].builder(spark, sf_dir))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


class TestRound4Batch14Plans:
    def test_orc_scan_gets_pushdown(self, spark, sf_dir):
        """ORC scans must participate in column pruning like parquet —
        the 5-column aggregate reads only the needed columns."""
        CORPUS["ingest_orc_roundtrip"].builder(spark, sf_dir).collect()
        df = spark.read.orc("/tmp/iceberg_rs_spark_orc/part").select(
            "p_brand"
        ).where(F.col("p_brand") == "Brand#11")
        plan = final_plan(df)
        read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
        assert "p_retailprice" not in read_schema
        assert "PushedFilters: []" not in plan

    def test_null_safe_join_is_hash_join(self, spark, sf_dir):
        """EqualNullSafe must plan as a hash-keyed join, never a
        nested-loop over the cross product."""
        plan = final_plan(CORPUS["join_null_safe_keys"].builder(spark, sf_dir))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_threshold_sweep_single_pair_pass(self, spark, sf_dir):
        """Three thresholds must fan out from ONE pair computation:
        the pair join appears once, not once per threshold."""
        plan = final_plan(CORPUS["sim_threshold_sweep"].builder(spark, sf_dir))
        final = plan.split("== Initial Plan ==")[0]
        assert final.count("SortMergeJoin") + final.count("BroadcastHashJoin") + final.count("BroadcastNestedLoopJoin") <= 2

    def test_resampling_is_scan_shaped(self, spark, sf_dir):
        plan = final_plan(
            CORPUS["pipeline_importance_resampling"].builder(spark, sf_dir)
        )
        final = plan.split("== Initial Plan ==")[0]
        assert "Join" not in final
        assert "InPandas" not in final


def _sp_fed_windows(plan: str) -> list[str]:
    """Window nodes whose child (within the next few plan lines) is an
    Exchange SinglePartition — the global-window anti-pattern distwin
    exists to remove. A Window's child subtree prints directly below
    it (Sort, then the Exchange), so a 4-line lookahead captures it."""
    final = plan.split("== Initial Plan ==")[0]
    lines = final.splitlines()
    hits = []
    for i, line in enumerate(lines):
        if "Window " in line and "windowspecdefinition" in line:
            for j in range(i + 1, min(i + 5, len(lines))):
                if "Exchange SinglePartition" in lines[j]:
                    hits.append(line)
                    break
    return hits


class TestDistributedGlobalWindows:
    """VERDICT r4 #3: the five user/doc/event-scale global windows now
    route through operators/distwin.py — no Window in their plans may
    sit on a single-partition Exchange, except over bounded rollups."""

    @pytest.mark.parametrize(
        "name",
        [
            "pipeline_curriculum_stages",
            "events_powerlaw_rank_fit",
            "events_concurrent_peak",
        ],
    )
    def test_no_single_partition_window(self, spark, sf_dir, name):
        df = CORPUS[name].builder(spark, sf_dir)
        plan = final_plan(df)
        assert "Window" in plan  # distwin's _pid-partitioned window
        assert _sp_fed_windows(plan) == []
        from iceberg_rs_spark.operators import packing

        packing.release_caches()

    def test_smoothed_rate_top20_pushes_down(self, spark, sf_dir):
        """Only the top-20 survive, so the right plan has NO global
        ranking at all: a distributed TakeOrderedAndProject produces
        the leaderboard and a k-bounded broadcast count recovers the
        global row numbers — no Window anywhere, no single-partition
        exchange over the user relation."""
        df = CORPUS["agg_smoothed_rate_ranking"].builder(spark, sf_dir)
        plan = final_plan(df)
        final = plan.split("== Initial Plan ==")[0]
        assert "TakeOrderedAndProject" in final
        assert _sp_fed_windows(plan) == []
        assert "Window" not in final

    def test_pareto_global_window_only_on_decile_rollup(self, spark, sf_dir):
        """The only global-ordered window left is the cumulative share
        over the 10-row decile rollup — bounded by construction. The
        user-scale NTILE must not appear as a single-partition
        window."""
        df = CORPUS["events_revenue_pareto_deciles"].builder(spark, sf_dir)
        plan = final_plan(df)
        sp_windows = _sp_fed_windows(plan)
        assert len(sp_windows) <= 1
        for w in sp_windows:
            assert "decile" in w and "user_id" not in w
        from iceberg_rs_spark.operators import packing

        packing.release_caches()


class TestKnnPlan:
    def test_knn_classify_no_cartesian(self, spark, sf_dir):
        """VERDICT r4 #2: candidate generation is an equi-join on the
        LSH sign bucket — the 5%-holdout × corpus cartesian (and its
        broadcast-nested-loop variant) must not exist anywhere in the
        executed plan. Scoring must run in the Arrow path, not an
        interpreted per-pair HOF fold."""
        plan = final_plan(CORPUS["sim_knn_classify"].builder(spark, sf_dir))
        final = plan.split("== Initial Plan ==")[0]
        assert "CartesianProduct" not in final
        assert "BroadcastNestedLoopJoin" not in final
        assert "ArrowEvalPython" in final  # cosine_arrow_exact scoring


class TestSessionizationDistributedPlan:
    def test_no_per_key_window_anywhere(self, spark, sf_dir):
        """VERDICT r13 ask #2's plan gate for corpus entry #296: the
        whole point of the chunked sessionizer is that no
        ``Window.partitionBy`` node exists — a hot key must never
        serialize into one task. The plan is range-partition →
        MapInPandas partials → hash aggregation; the per-user rollup
        must partial-combine map-side."""
        plan = final_plan(
            CORPUS["events_sessionization_distributed"].builder(spark, sf_dir)
        )
        final = plan.split("== Initial Plan ==")[0]
        assert "Window" not in final
        assert "MapInPandas" in final
        assert "partial" in plan.lower()


class TestGlobalWindowWhitelist:
    """VERDICT r4 #3's repo-wide gate: every unpartitioned
    ``Window.orderBy(`` in plans/ source must be on this explicit
    whitelist, each entry justified by a BOUNDED input relation
    (day-/decile-/vocabulary-level rollup or an explicitly limited
    slice). A new global window over an unbounded relation fails this
    test until it is either routed through operators/distwin.py or
    consciously whitelisted with a bounded-input justification."""

    #: (file basename, stripped source line) -> why the input is bounded
    ALLOWED = {
        ("round4aa.py", 'w = Window.orderBy("d").rowsBetween(-6, Window.currentRow)'):
            "day-level rollup (one row per calendar day)",
        ("round4ad.py", 'w = Window.orderBy("d").rowsBetween('):
            "day-level rollup",
        ("round4af.py", 'w = Window.orderBy("d").rowsBetween('):
            "day-level rollup",
        ("round4c.py", 'w_rank = Window.orderBy(F.col("n").desc(), F.col("term").asc())'):
            "vocabulary Zipf head (term rollup, language-bounded)",
        ("round4m.py", 'F.sum("cents").over(Window.orderBy("decile")) / F.col("t"), 6'):
            "10-row decile rollup",
        ("round4t.py", 'wcum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)'):
            "day-level rollup",
        ("windows.py", 'mk = lambda order: F.row_number().over(Window.orderBy(order, F.col("c_custkey")))'):
            "explicit 50-row slice (c_custkey <= 50) certifying null-order semantics",
    }

    def test_every_global_window_site_is_whitelisted(self):
        import os

        plans_dir = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "iceberg_rs_spark",
            "plans",
        )
        found = set()
        for fname in sorted(os.listdir(plans_dir)):
            if not fname.endswith(".py"):
                continue
            with open(os.path.join(plans_dir, fname)) as f:
                for line in f:
                    if "Window.orderBy(" in line and not line.lstrip().startswith("#"):
                        found.add((fname, line.strip().rstrip(",")))
        allowed = {(f, l.rstrip(",")) for f, l in self.ALLOWED}
        unexpected = found - allowed
        assert not unexpected, (
            "unwhitelisted global Window.orderBy site(s) — route through "
            f"operators/distwin.py or whitelist with justification: {unexpected}"
        )
        gone = allowed - found
        assert not gone, f"stale whitelist entries (site changed/removed): {gone}"
