"""Operator-library tests (SURVEY.md §5 engine test plan): behavioral
properties the duckdb-oracle corpus can't express — LSH recall vs the
exact baseline, dedup end-to-end survivors, stub-decoder plumbing, and
hypothesis round-trips on the text normalizer.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from iceberg_rs_spark.operators import dedup as D
from iceberg_rs_spark.operators import multimodal as M
from iceberg_rs_spark.operators import similarity as S
from iceberg_rs_spark.operators import text as T


def _docs(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])


class TestExactDedup:
    def test_keeps_min_id_per_content(self, spark):
        df = _docs(
            spark,
            [
                (1, "the quick brown fox"),
                (2, "THE  quick Brown fox!"),  # same after normalize
                (3, "a different document"),
                (4, "the quick brown fox"),
            ],
        )
        out = D.exact_dedup(df)
        assert sorted(r.doc_id for r in out.collect()) == [1, 3]

    def test_no_duplicates_is_identity(self, spark, sf_dir):
        from iceberg_rs_spark.sources.fixtures import load_table

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(50)
        assert D.exact_dedup(docs).count() == docs.distinct().count()


class TestConnectedComponents:
    @staticmethod
    def _truth(edges):
        """Union-find ground truth: node -> min id of its component."""
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in edges:
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        return {n: find(n) for n in parent}

    def _check(self, spark, edges):
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {r.node: r.component for r in D.connected_components(df).collect()}
        assert got == self._truth(edges)

    def test_chain_star_cycle_and_islands(self, spark):
        # long chain (worst case for label propagation), a star, a
        # cycle, disjoint pairs, and duplicate/reversed edges
        chain = [(i, i + 1) for i in range(100, 140)]
        star = [(7, x) for x in (201, 202, 203, 204)]
        cycle = [(300, 301), (301, 302), (302, 303), (303, 300)]
        pairs = [(400, 401), (402, 403)]
        noise = [(140, 139), (100, 101), (401, 400)]  # reversed + dupes
        self._check(spark, chain + star + cycle + pairs + noise)

    def test_random_graphs_match_union_find(self, spark):
        import random

        for seed in (1, 2, 3):
            rnd = random.Random(seed)
            nodes = list(range(rnd.randint(20, 60)))
            edges = [
                (rnd.choice(nodes), rnd.choice(nodes)) for _ in range(rnd.randint(10, 80))
            ]
            edges = [(u, v) for u, v in edges if u != v]
            if not edges:
                continue
            self._check(spark, edges)

    def test_merges_exact_and_near_dup_edges_transitively(self, spark):
        """A~B near-dup plus A~A' and B~B' copy edges must collapse all
        four into one component rooted at the minimum id."""
        edges = [(8, 245), (8, 100008), (245, 100245), (9, 100009)]
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {r.node: r.component for r in D.connected_components(df).collect()}
        assert got == {
            8: 8, 245: 8, 100008: 8, 100245: 8,
            9: 9, 100009: 9,
        }


class TestMinHashLSH:
    def test_near_dup_pairs_find_planted_duplicates(self, spark, sf_dir):
        """Plant near-copies (one word changed) of real fixture docs;
        MinHash+LSH must recover every planted pair at threshold 0.6."""
        from iceberg_rs_spark.sources.fixtures import load_table

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(40)
        clones = docs.select(
            (F.col("doc_id") + 10000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" clonedmarker")).alias("text"),
        )
        pairs = D.near_dup_pairs_minhash(docs.unionByName(clones), threshold=0.6)
        found = {(r.id_a, r.id_b) for r in pairs.collect()}
        planted = {(i, i + 10000) for i in [r.doc_id for r in docs.collect()]}
        recall = len(found & planted) / len(planted)
        assert recall >= 0.8, f"planted-pair recall {recall}"

    def test_near_dedup_drops_higher_id_member(self, spark, sf_dir):
        from iceberg_rs_spark.sources.fixtures import load_table

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(20)
        clones = docs.select((F.col("doc_id") + 10000).alias("doc_id"), "text")
        both = docs.unionByName(clones)
        out = D.near_dedup_minhash(both, threshold=0.9)
        kept = {r.doc_id for r in out.collect()}
        # no clone survives (its original has the lower id) ...
        assert not any(k >= 10000 for k in kept)
        # ... and originals that are unique among the originals survive
        dup_originals = {
            r.id_b for r in D.near_dup_pairs_minhash(docs, threshold=0.9).collect()
        }
        assert {r.doc_id for r in docs.collect()} - dup_originals <= kept

    def test_jaccard_of_identical_docs_is_one(self, spark):
        df = _docs(spark, [(1, "one two three four five"), (2, "one two three four five")])
        pairs = spark.createDataFrame([Row(id_a=1, id_b=2)])
        jac = D.jaccard_pairs(df, pairs).collect()[0]
        assert jac.jaccard == 1.0

    def test_shingle_rows_drops_short_docs(self, spark):
        df = _docs(spark, [(1, "only two"), (2, "this one has enough tokens")])
        ids = {r.doc_id for r in D.shingle_rows(df, shingle_k=3).select("doc_id").distinct().collect()}
        assert ids == {2}


class TestHotBucketGuard:
    """max_bucket_width (VERDICT r10 #5): the adversarial-duplication
    regime — one template's near-identical variants all collide into a
    hot band bucket holding a constant fraction of the corpus, making
    the all-pairs output O(n²) no matter how the join is bucketed. The
    guard switches over-cap buckets to a sorted-id chain: linear
    output, connectivity preserved, forgone pairs explicitly accounted."""

    HOT, COLD = 20, 30

    def _hot_corpus(self, spark):
        rows = [
            (i, "identical boilerplate template body with many shared tokens here")
            for i in range(self.HOT)
        ]
        rows += [
            (100 + i, f"distinct document number {i} concerning topic {i * 7} and unrelated subject {i * 13}")
            for i in range(self.COLD)
        ]
        return _docs(spark, rows)

    def _components(self, pair_rows):
        parent: dict[int, int] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in pair_rows:
            ra, rb = find(r.id_a), find(r.id_b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in parent}

    def test_cap_bounds_pairs_and_preserves_connectivity(self, spark):
        both = self._hot_corpus(spark)
        n_uncapped = D.minhash_candidate_pairs(both).count()
        capped = D.minhash_candidate_pairs(both, max_bucket_width=5).collect()
        # quadratic without the guard (the 20-doc cluster alone is 190
        # pairs), linear with it (19 chain links however many bands the
        # cluster collides in — the chain is the same sorted-id walk)
        assert n_uncapped >= 190
        assert len(capped) < 60
        # connectivity: every hot doc still lands in ONE component
        roots = self._components(capped)
        hot_roots = {roots[i] for i in range(self.HOT)}
        assert hot_roots == {0}
        # and the distributed clustering agrees
        cc = D.connected_components(
            spark.createDataFrame(capped, "id_a long, id_b long")
        )
        hot_comp = {
            r.component for r in cc.collect() if r.node < self.HOT
        }
        assert hot_comp == {0}

    def test_cap_that_never_fires_is_pair_identical(self, spark, sf_dir):
        from iceberg_rs_spark.sources.fixtures import load_table

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(40)
        uncapped = {
            (r.id_a, r.id_b)
            for r in D.minhash_candidate_pairs(docs).collect()
        }
        capped = {
            (r.id_a, r.id_b)
            for r in D.minhash_candidate_pairs(docs, max_bucket_width=1000).collect()
        }
        assert capped == uncapped
        assert D.lsh_bucket_width_stats(docs, max_bucket_width=1000).count() == 0

    def test_accounting_reconciles_forgone_pairs(self, spark):
        both = self._hot_corpus(spark)
        stats = D.lsh_bucket_width_stats(both, max_bucket_width=5).collect()
        assert stats, "the hot bucket must be reported"
        for r in stats:
            assert r.width > 5
            assert r.exact_pairs == r.width * (r.width - 1) // 2
            assert r.chain_pairs == r.width - 1
            assert r.pairs_forgone == r.exact_pairs - r.chain_pairs
        # identical docs have identical signatures: all 4 bands hold
        # the full 20-doc hot bucket
        assert sorted(r.width for r in stats if r.width == self.HOT) == [self.HOT] * 4

    def test_distributed_chain_is_partitioning_invariant(self, spark):
        """The chain pass must never hold a hot bucket in one task: it
        range-partitions on (bucket, id), links within partitions via
        Arrow batches, and stitches partition boundaries from fragment
        endpoints. Pin that the emitted pair set is EXACTLY the global
        consecutive-id walk — across partition boundaries AND Arrow
        batch boundaries — and that buckets never cross-link."""
        from iceberg_rs_spark.operators.dedup import _chain_pairs_distributed

        n = 500
        keyed = spark.range(n).select(
            F.lit(0).alias("_band_idx"),
            # two interleaved hot buckets: even ids vs odd ids
            (F.col("id") % 2).cast("string").alias("_band_sig"),
            F.col("id").alias("doc_id"),
            # a 60-bit carry value: pins that no float64 widening
            # corrupts values past 2^53 on any internal path
            (F.col("id") + F.lit((1 << 59) + 7)).alias("_fp"),
        )
        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        old = spark.conf.get(key, "10000")
        spark.conf.set(key, "37")  # force many batches per partition
        try:
            pairs = _chain_pairs_distributed(
                keyed, "doc_id", ["_band_idx", "_band_sig"], ["_fp"]
            ).collect()
        finally:
            spark.conf.set(key, old)
        got = sorted((r.id_a, r.id_b) for r in pairs)
        expect = sorted(
            [(i, i + 2) for i in range(0, n - 2, 2)]
            + [(i, i + 2) for i in range(1, n - 2, 2)]
        )
        assert got == expect
        base = (1 << 59) + 7
        assert all(
            r._fp_a == r.id_a + base and r._fp_b == r.id_b + base
            for r in pairs
        )

    def test_distributed_chain_randomized_differential(self, spark):
        """Seeded random bucket layouts (skewed widths, empty-ish
        buckets, singletons) vs a Python oracle: the chain must emit
        exactly the consecutive-sorted-id walk of every bucket,
        whatever the layout."""
        import random

        from iceberg_rs_spark.operators.dedup import _chain_pairs_distributed

        for seed in (11, 23, 47):
            rng = random.Random(seed)
            n_buckets = rng.randint(2, 9)
            rows = []
            for doc in range(rng.randint(40, 300)):
                # skew: bucket 0 is hot, the rest thin; some docs in
                # several buckets, some in none
                for b in range(n_buckets):
                    p = 0.8 if b == 0 else 0.1
                    if rng.random() < p:
                        rows.append((b, f"sig{b}", doc))
            expect = set()
            by_bucket: dict[int, list[int]] = {}
            for b, _s, doc in rows:
                by_bucket.setdefault(b, []).append(doc)
            for ids in by_bucket.values():
                ids.sort()
                expect.update(zip(ids, ids[1:]))
            keyed = spark.createDataFrame(
                rows, "_band_idx int, _band_sig string, doc_id long"
            ).repartition(7)  # scramble the input layout
            got = {
                (r.id_a, r.id_b)
                for r in _chain_pairs_distributed(
                    keyed, "doc_id", ["_band_idx", "_band_sig"], []
                ).collect()
            }
            assert got == expect, f"seed {seed}"

    def test_simhash_guard_chain_passes_verify_and_connects(self, spark):
        both = self._hot_corpus(spark)
        capped = D.simhash_near_dup_pairs(
            both, max_hamming=3, max_bucket_width=5
        ).collect()
        # identical docs: fingerprints equal, so every chain link has
        # hamming 0 and survives the verify
        hot_pairs = [r for r in capped if r.id_a < self.HOT and r.id_b < self.HOT]
        assert all(r.hamming == 0 for r in hot_pairs)
        roots = self._components(hot_pairs)
        assert {roots[i] for i in range(self.HOT)} == {0}
        # linear, not quadratic, over the hot cluster
        assert len(hot_pairs) == self.HOT - 1
        n_uncapped = D.simhash_near_dup_pairs(both, max_hamming=3).where(
            (F.col("id_a") < self.HOT) & (F.col("id_b") < self.HOT)
        ).count()
        assert n_uncapped == self.HOT * (self.HOT - 1) // 2

    def test_composed_purge_survives_adversarial_corpus_with_cap(
        self, spark, tmp_path
    ):
        """VERDICT r11 #5: the flagship purge pipeline itself, run with
        the guard armed over a boilerplate-heavy corpus. The capped
        composed run must complete, purge the WHOLE template cluster
        (chain links between near-identical variants pass the Jaccard
        gate, so clustering still collapses the cluster), match the
        uncapped run on this fixture, and the width-stats accounting
        must report exactly the capped buckets."""
        from iceberg_rs_spark.plans.llm import BANDS, NUM_HASHES, SHINGLE_K
        from iceberg_rs_spark.plans.round4d import pipeline_dedup_purge

        hot_text = (
            "identical boilerplate template body with many shared tokens here"
        )
        texts = [(i, hot_text) for i in range(self.HOT)] + [
            (
                100 + i,
                f"distinct document number {i} concerning topic {i * 7} "
                f"and unrelated subject {i * 13}",
            )
            for i in range(self.COLD)
        ]
        rows = [(i, "en", len(t), t) for i, t in texts]
        df = spark.createDataFrame(
            rows, "doc_id long, lang string, n_chars long, text string"
        )
        sf = str(tmp_path / "sf_adv")
        df.repartition(4).write.parquet(f"{sf}/documents.parquet")

        out = pipeline_dedup_purge(spark, sf, max_bucket_width=5).collect()
        assert [r.lang for r in out] == ["en"]
        assert out[0].n_purged == self.HOT - 1
        # the accounting attached to the run: every over-cap bucket is
        # a band copy of the 20-doc template cluster
        docs = df.select("doc_id", "text")
        stats = D.lsh_bucket_width_stats(
            docs,
            max_bucket_width=5,
            num_hashes=NUM_HASHES,
            bands=BANDS,
            shingle_k=SHINGLE_K,
        ).collect()
        assert stats and all(r.width == self.HOT for r in stats)
        assert all(r.pairs_forgone > 0 for r in stats)
        # on this fixture the cap changes nothing downstream: the purge
        # decision and its audit numbers equal the uncapped run's
        unc = pipeline_dedup_purge(spark, sf).collect()
        assert [tuple(r) for r in out] == [tuple(r) for r in unc]


class TestSimHash:
    def test_identical_docs_have_equal_fingerprints(self, spark):
        df = _docs(spark, [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta")])
        fps = {r._fp for r in D.simhash_fingerprints(df).collect()}
        assert len(fps) == 1

    def test_column_and_staged_simhash_agree(self, spark, sf_dir):
        from iceberg_rs_spark.sources.fixtures import load_table

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(30)
        col_fp = {
            r.doc_id: r.fp
            for r in docs.select("doc_id", D.simhash(F.col("text")).alias("fp")).collect()
        }
        staged_fp = {r.doc_id: r._fp for r in D.simhash_fingerprints(docs).collect()}
        assert col_fp == staged_fp

    def test_near_pairs_complete_for_small_hamming(self, spark, sf_dir):
        """The 4-chunk pigeonhole join must find exactly the pairs a
        brute-force fingerprint cross-compare finds at distance ≤ 3."""
        from itertools import combinations

        from iceberg_rs_spark.sources.fixtures import load_table

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(60)
        clones = docs.limit(5).select((F.col("doc_id") + 10000).alias("doc_id"), "text")
        both = docs.unionByName(clones)
        fps = {r.doc_id: r._fp for r in D.simhash_fingerprints(both).collect()}
        expect = {
            (a, b)
            for a, b in combinations(sorted(fps), 2)
            if bin(fps[a] ^ fps[b]).count("1") <= 3
        }
        got = {
            (r.id_a, r.id_b)
            for r in D.simhash_near_dup_pairs(both, max_hamming=3).collect()
        }
        assert got == expect


class TestSimilarity:
    @pytest.fixture(scope="class")
    def emb(self, spark, sf_dir):
        return spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def _queries(self, emb, n=10):
        return emb.where(F.col("vec_id") < n).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )

    def test_topk_scores_are_unrounded(self, emb):
        """Operator contract since r8 (ADVICE r7 #2): top-k operators
        return the RAW cos/adc score — display rounding is the plan
        layer's job, applied exactly once (rhalf on raw, matching the
        oracles). An operator-side F.round would silently compose
        Spark's HALF_UP under the portable floor and reintroduce the
        near-half hash flake this contract removed."""
        q = self._queries(emb, n=3)
        frames = {
            "brute": S.brute_force_topk(emb, q, k=3),
            "lsh": S.lsh_topk(emb, q, k=3, num_planes=2),
            "ivf": S.ivf_topk(emb, q, k=3, n_centroids=8, n_probe=8),
        }
        for name, df in frames.items():
            vals = [r.cos for r in df.collect()]
            assert vals, name
            # a genuinely raw float64 cosine over 64-dim float vectors
            # is 4-decimal-quantized with probability ~0; if EVERY
            # value survives quantization intact, a round snuck back in
            assert any(
                abs(v * 1e4 - round(v * 1e4)) > 1e-6 for v in vals
            ), f"{name}: all scores 4-decimal-quantized — operator re-rounds"
        adc = [
            r.adc_dist
            for r in S.pq_topk(emb, q, k=3, m=16, ksub=16).collect()
        ]
        assert any(abs(v * 1e4 - round(v * 1e4)) > 1e-6 for v in adc), (
            "pq: all ADC distances 4-decimal-quantized — operator re-rounds"
        )

    def test_lsh_recall_vs_brute_force(self, emb):
        """SURVEY.md §7 risk 5: LSH recall over a fixed seed must stay
        above threshold against the exact baseline."""
        q = self._queries(emb)
        exact = {
            (r.query_id, r.vec_id) for r in S.brute_force_topk(emb, q, k=5).collect()
        }
        approx = {
            (r.query_id, r.vec_id)
            for r in S.lsh_topk(emb, q, k=5, num_planes=2, probe_hamming=0).collect()
        }
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.3, f"LSH recall@5 {recall}"

    def test_lsh_multi_probe_recall(self, emb):
        """Multi-probe (Hamming-r neighbor buckets) lifts recall
        monotonically with the probe radius, and probing EVERY bucket
        must reproduce the exact top-k bit-for-bit.

        The fixture's embeddings are isotropic (no planted duplicates),
        so bucket recall on it tracks the fraction of buckets scanned —
        the ≥0.8 planted-neighbor claim is asserted separately on data
        that actually has near-dups (test_lsh_multi_probe_planted)."""
        q = self._queries(emb)
        exact = {
            (r.query_id, r.vec_id) for r in S.brute_force_topk(emb, q, k=5).collect()
        }
        recalls = []
        for ph in (0, 1, 2):
            got = {
                (r.query_id, r.vec_id)
                for r in S.lsh_topk(
                    emb, q, k=5, num_planes=4, probe_hamming=ph
                ).collect()
            }
            recalls.append(len(exact & got) / len(exact))
        assert recalls == sorted(recalls), f"recall not monotone: {recalls}"
        assert recalls[1] >= 0.35, f"H1 multi-probe recall@5 {recalls[1]}"
        # radius = num_planes probes all 2^planes buckets → exact result
        full = {
            (r.query_id, r.vec_id)
            for r in S.lsh_topk(emb, q, k=5, num_planes=4, probe_hamming=4).collect()
        }
        assert full == exact

    def test_lsh_multi_probe_planted(self, spark):
        """On data WITH true near-dups (cos ≈ 0.995), Hamming-1
        multi-probe at 4 planes must find the planted neighbor for
        ≥0.8 of the queries — the recall claim the operator's
        docstring makes for real dedup corpora."""
        import numpy as np

        rng = np.random.RandomState(7)
        base = rng.standard_normal((200, 64))
        rows = [(i, [float(x) for x in base[i]]) for i in range(200)]
        # plant 40 near-dups: id 1000+i is a tiny perturbation of id i
        planted = []
        for i in range(40):
            v = base[i] + 0.05 * rng.standard_normal(64)
            planted.append((1000 + i, [float(x) for x in v]))
        emb = spark.createDataFrame(rows + planted, "vec_id long, embedding array<double>")
        q = spark.createDataFrame(planted, "query_id long, query_vec array<double>")
        exact1 = {r.query_id: r.vec_id for r in S.brute_force_topk(emb, q, k=1).collect()}
        # sanity: the planted source really is the nearest neighbor
        assert sum(1 for k, v in exact1.items() if v == k - 1000) >= 38
        got1 = {
            r.query_id: r.vec_id
            for r in S.lsh_topk(
                emb, q, k=1, num_planes=4, probe_hamming=1
            ).collect()
        }
        hits = sum(1 for k, v in exact1.items() if got1.get(k) == v)
        recall = hits / len(exact1)
        assert recall >= 0.8, f"planted-neighbor multi-probe recall {recall}"

    def test_near_dup_pairs_multi_probe_recall(self, spark):
        """Pair-level multi-probe: planted near-dup pairs split across
        adjacent buckets (one sign bit apart) are recovered by
        probe_hamming=1 without ever going all-pairs. Each pair can
        match only one xor mask, so multi-probe must add no dupes."""
        import numpy as np

        rng = np.random.RandomState(11)
        base = rng.standard_normal((150, 64))
        rows = [(i, [float(x) for x in base[i]]) for i in range(150)]
        for i in range(50):
            v = base[i] + 0.04 * rng.standard_normal(64)
            rows.append((1000 + i, [float(x) for x in v]))
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        truth = {(i, 1000 + i) for i in range(50)}
        single = {
            (r.id_a, r.id_b)
            for r in S.embedding_near_dup_pairs(
                emb, threshold=0.97, num_planes=6, probe_hamming=0
            ).collect()
        }
        multi_rows = S.embedding_near_dup_pairs(
            emb, threshold=0.97, num_planes=6, probe_hamming=1
        ).collect()
        multi = {(r.id_a, r.id_b) for r in multi_rows}
        assert len(multi_rows) == len(multi)  # no duplicate pairs
        assert single <= multi
        assert len(truth & multi) / len(truth) >= 0.9
        assert len(truth & multi) > len(truth & single) or single >= truth

    def test_auto_blocking_params_scale_with_corpus(self, spark):
        """The derived blocking parameters keep the expected block size
        bounded as the corpus grows (the 100 TB posture is automatic,
        not caller-tuned) — asserted at two fixture scales."""
        target = 256
        for sf in ("sf0.001", "sf0.01"):
            df = spark.read.parquet(f"/root/testdata/{sf}/embeddings.parquet")
            n = df.count()
            planes = S.auto_num_planes(n, target_block=target)
            assert n / (1 << planes) <= target  # expected block bounded
            cents = S.auto_n_centroids(n)
            assert 4 <= cents <= max(n, 4)
            assert n / cents <= 4 * (n ** 0.5) + 4  # list length ~sqrt(n)
        # growth: 100× the corpus adds ~log2(100) ≈ 6.6 planes, not 100× block
        growth = S.auto_num_planes(10**6, target_block=target) - S.auto_num_planes(
            10**4, target_block=target
        )
        assert 6 <= growth <= 7
        assert S.auto_num_planes(100, target_block=target) == 2  # lo clamp
        assert S.auto_num_planes(10**12, target_block=1) == 24  # hi clamp
        assert S.auto_n_centroids(2) == 2  # never more lists than vectors
        # auto defaults actually engage end-to-end
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = self._queries(emb, n=3)
        assert S.ivf_topk(emb, q, k=3).count() == 9  # n_centroids=None path
        S.embedding_near_dup_pairs(emb, threshold=0.99).count()  # num_planes=None path

    def test_probe_masks(self):
        assert S.probe_masks(4, 0) == [0]
        assert sorted(S.probe_masks(4, 1)) == [0, 1, 2, 4, 8]
        assert len(S.probe_masks(4, 2)) == 1 + 4 + 6
        # radius clamped to num_planes
        assert len(S.probe_masks(2, 5)) == 4

    def test_ivf_recall_vs_brute_force(self, emb):
        """IVF with n_probe=6 of 16 lists must recover most exact
        neighbors while scanning ~3/8 of the data."""
        q = self._queries(emb)
        exact = {
            (r.query_id, r.vec_id) for r in S.brute_force_topk(emb, q, k=5).collect()
        }
        approx = {
            (r.query_id, r.vec_id)
            for r in S.ivf_topk(emb, q, k=5, n_centroids=16, n_probe=6).collect()
        }
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.5, f"IVF recall@5 {recall}"

    def test_pq_recall_and_subspace_monotonicity(self, emb):
        """PQ/ADC recall vs brute-force cosine: the isotropic fixture
        is PQ's worst case (no cluster structure to quantize around),
        so the floor mirrors the LSH one; finer sub-spaces (smaller
        dsub → lower quantization error) must not lose recall."""
        q = self._queries(emb)
        exact = {
            (r.query_id, r.vec_id) for r in S.brute_force_topk(emb, q, k=5).collect()
        }
        coarse = {
            (r.query_id, r.vec_id)
            for r in S.pq_topk(emb, q, k=5, m=8, ksub=16).collect()
        }
        fine = {
            (r.query_id, r.vec_id)
            for r in S.pq_topk(emb, q, k=5, m=16, ksub=16).collect()
        }
        r_coarse = len(exact & coarse) / len(exact)
        r_fine = len(exact & fine) / len(exact)
        assert r_fine >= 0.3, f"PQ m=16 recall@5 {r_fine}"
        assert r_fine >= r_coarse, f"finer sub-spaces lost recall: {r_coarse} -> {r_fine}"

    def test_pq_deterministic_across_runs(self, emb):
        """Codebook training (hash-sampled seeds + Lloyd means) and ADC
        scoring contain no randomness: two independent builds must
        produce identical top-k."""
        q = self._queries(emb, n=5)
        a = S.pq_topk(emb, q, k=5, m=16, ksub=16).collect()
        b = S.pq_topk(emb, q, k=5, m=16, ksub=16).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]

    def test_ivf_seeding_is_order_independent(self, emb):
        """Centroid seeds are a deterministic hash-sample of the id
        space (TakeOrdered on h60(id)), NOT the first n ids — so the
        index, and therefore the result, must be identical whether the
        input arrives id-sorted or shuffled (first-n-by-id seeding
        would put every seed in one corner of a sorted corpus;
        VERDICT r3 §What's-wrong #3)."""
        q = self._queries(emb, n=5)
        sorted_in = emb.orderBy("vec_id")
        shuffled_in = emb.orderBy(F.md5(F.col("vec_id").cast("string")))
        a = S.ivf_topk(sorted_in, q, k=5, n_centroids=16, n_probe=4)
        b = S.ivf_topk(shuffled_in, q, k=5, n_centroids=16, n_probe=4)
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    def test_ivf_recall_holds_on_clustered_ids(self, emb):
        """Recall with hash-sampled seeding on an id-sorted (worst case
        for first-n seeding) corpus — the regression the reseed fixed."""
        q = self._queries(emb)
        exact = {
            (r.query_id, r.vec_id) for r in S.brute_force_topk(emb, q, k=5).collect()
        }
        approx = {
            (r.query_id, r.vec_id)
            for r in S.ivf_topk(
                emb.orderBy("vec_id"), q, k=5, n_centroids=16, n_probe=6
            ).collect()
        }
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.5, f"IVF recall@5 on sorted ids {recall}"

    def test_ivf_probes_subset_only(self, emb):
        """With n_probe == n_centroids the IVF result must equal the
        exact top-k (every list probed); with fewer probes the result
        set per query stays exactly k (lists are unioned, ranked,
        truncated)."""
        q = self._queries(emb, n=5)
        full = S.ivf_topk(emb, q, k=5, n_centroids=8, n_probe=8)
        exact = S.brute_force_topk(emb, q, k=5)
        assert {
            (r.query_id, r.vec_id) for r in full.collect()
        } == {(r.query_id, r.vec_id) for r in exact.collect()}
        partial = S.ivf_topk(emb, q, k=5, n_centroids=8, n_probe=2)
        counts = {r.query_id: 0 for r in partial.collect()}
        for r in partial.collect():
            counts[r.query_id] += 1
        assert all(c == 5 for c in counts.values())

    def test_serving_paths_reject_oversized_query_batch(self, emb):
        """ivf_topk/pq_topk collect-or-broadcast per-query structures
        (probe relation, ADC LUT) — the bounded-query-batch serving
        contract. Passing a corpus-sized frame as `queries` must raise
        loudly BEFORE any driver-side materialization, and an explicit
        higher ceiling must lift the guard."""
        import pytest

        q = self._queries(emb, n=5)
        with pytest.raises(ValueError, match="ivf_topk.*max_query_batch"):
            S.ivf_topk(emb, q, k=3, n_centroids=8, max_query_batch=4)
        with pytest.raises(ValueError, match="pq_topk.*max_query_batch"):
            S.pq_topk(emb, q, k=3, m=8, ksub=16, max_query_batch=4)
        with pytest.raises(ValueError, match="brute_force_topk.*max_query_batch"):
            S.brute_force_topk(emb, q, k=3, max_query_batch=4)
        with pytest.raises(ValueError, match="lsh_topk.*max_query_batch"):
            S.lsh_topk(emb, q, k=3, max_query_batch=4)
        # raising the ceiling explicitly restores the serving path
        assert S.ivf_topk(emb, q, k=3, n_centroids=8, max_query_batch=5).count() > 0

    def test_lsh_scores_match_exact_scores(self, emb):
        """Every (query, neighbor) the LSH path returns must carry the
        same cosine the exact path assigns to that pair."""
        q = self._queries(emb, n=5)
        exact = {
            (r.query_id, r.vec_id): r.cos
            for r in S.brute_force_topk(emb, q, k=2000).collect()
        }
        for r in S.lsh_topk(emb, q, k=5, num_planes=2).collect():
            assert abs(exact[(r.query_id, r.vec_id)] - r.cos) < 1e-9

    def test_arrow_cosine_matches_jvm_fold(self, emb):
        paired = (
            emb.where(F.col("vec_id") < 50)
            .alias("a")
            .crossJoin(emb.where(F.col("vec_id").between(50, 60)).alias("b"))
        )
        both = paired.select(
            S.cosine(F.col("a.embedding"), F.col("b.embedding")).alias("jvm"),
            S.cosine_arrow(F.col("a.embedding"), F.col("b.embedding")).alias("arrow"),
        ).collect()
        for r in both:
            assert abs(r.jvm - r.arrow) < 1e-9


class TestTextOps:
    def test_empty_and_punct_only_token_count_zero(self, spark):
        df = _docs(spark, [(1, ""), (2, "!!! ... ???"), (3, "one")])
        out = {r.doc_id: r.n for r in df.select("doc_id", T.token_count(F.col("text")).alias("n")).collect()}
        assert out == {1: 0, 2: 0, 3: 1}

    def test_quality_score_bounded(self, spark, sf_dir):
        from iceberg_rs_spark.sources.fixtures import load_table

        docs = load_table(spark, sf_dir, "documents").limit(100)
        rows = docs.select(T.quality_score(F.col("text")).alias("q")).collect()
        assert all(0.0 <= r.q <= 1.0 for r in rows)

    def test_detect_language_tie_break_and_und(self, spark):
        df = _docs(spark, [(1, "zzz qqq"), (2, "the der")])  # no markers / en-de tie
        out = {r.doc_id: r.lang for r in df.select(
            "doc_id", T.detect_language(F.col("text")).alias("lang")).collect()}
        assert out[1] == "und"
        assert out[2] == "en"  # declaration order breaks the tie

    @settings(max_examples=25, deadline=None)
    @given(st.text(max_size=80))
    def test_normalize_idempotent(self, spark, s):
        df = spark.createDataFrame([Row(text=s)])
        row = df.select(
            T.normalize(F.col("text")).alias("n1"),
            T.normalize(T.normalize(F.col("text"))).alias("n2"),
        ).collect()[0]
        assert row.n1 == row.n2


    def test_text_stats_profile_matches_raw_scalars(self, spark, sf_dir):
        """text_stats is the library's convenience profile over the same
        scalar functions the certified plans call directly — pin the
        composition so the two surfaces cannot drift apart."""
        from iceberg_rs_spark.sources.fixtures import load_table

        docs = load_table(spark, sf_dir, "documents").limit(50)
        prof = {r.doc_id: r for r in T.text_stats(docs).collect()}
        c = F.col("text")
        raw = {
            r.doc_id: r
            for r in docs.select(
                "doc_id",
                T.token_count(c).alias("n_tokens"),
                F.round(T.avg_word_len(c), 4).alias("avg_word_len"),
                F.round(T.quality_score(c), 4).alias("quality"),
                T.fingerprint(c).alias("fingerprint"),
            ).collect()
        }
        assert prof.keys() == raw.keys()
        for k in raw:
            assert prof[k].n_tokens == raw[k].n_tokens
            assert prof[k].avg_word_len == raw[k].avg_word_len
            assert prof[k].quality == raw[k].quality
            assert prof[k].fingerprint == raw[k].fingerprint

    def test_min_shingle_fingerprint_semantics(self, spark):
        """MinHash-1 fingerprint: the min over seeded shingle hashes —
        NULL on shingle-less input, unchanged by an edit whose shingles
        don't displace the minimum (the robust-to-local-edits claim),
        changed when the minimum's own region is edited."""
        text1 = "one two three four five six"
        df = _docs(spark, [(1, text1), (2, ""), (3, "only two")])
        out = {
            r.doc_id: r.fp
            for r in df.select(
                "doc_id", T.min_shingle_fingerprint(F.col("text")).alias("fp")
            ).collect()
        }
        assert out[2] is None  # empty: no shingles
        assert out[3] is None  # two tokens < k=3 words: no shingles
        assert out[1] is not None
        # manual min over the same seeded shingle hashes
        manual = (
            _docs(spark, [(1, text1)])
            .select(
                F.array_min(
                    F.transform(
                        T.shingles(F.col("text"), 3),
                        lambda s: T.h60_seeded(0, s),
                    )
                ).alias("m")
            )
            .collect()[0]
            .m
        )
        assert out[1] == manual


class TestMultimodal:
    def test_unknown_format_rejected(self):
        with pytest.raises(ValueError, match="unsupported image format"):
            M.decode_image(b"abc")

    def test_bmp_roundtrip(self):
        """synth → decode recovers exact dimensions; truncation and
        garbage headers are rejected."""
        for w, h in [(1, 1), (16, 48), (33, 7)]:  # odd widths hit row padding
            payload = M.synth_bmp(w, h, seed=5)
            assert M.decode_image(payload) == (w, h, 3)
        with pytest.raises(ValueError, match="truncated"):
            M.decode_image(M.synth_bmp(16, 16)[:40])
        with pytest.raises(ValueError, match="pixel data short"):
            M.decode_image(M.synth_bmp(16, 16)[:-4])

    def test_bmp_compressed_rejected(self):
        """biCompression != 0 (BI_RGB) means the uncompressed row-stride
        validation is meaningless — the decoder must refuse, not report
        dimensions for a payload it cannot validate."""
        import struct

        payload = bytearray(M.synth_bmp(16, 16, seed=5))
        struct.pack_into("<I", payload, 30, 1)  # BI_RLE8
        with pytest.raises(ValueError, match="compression"):
            M.decode_image(bytes(payload))

    def test_ppm_decode(self):
        img = b"P6\n# a comment\n3 2\n255\n" + bytes(range(18))
        assert M.decode_image(img) == (3, 2, 3)
        with pytest.raises(ValueError, match="pixel data short"):
            M.decode_image(b"P6\n4 4\n255\n" + b"\x00" * 10)

    def test_real_decode_through_map_in_pandas(self, spark, sf_dir):
        from iceberg_rs_spark.sources.fixtures import load_table

        docs = load_table(spark, sf_dir, "documents").limit(10)
        feats = M.decode_and_featurize(M.attach_image_payload(docs), fake=False)
        for r in feats.select("doc_id", "byte_len", "width", "height", "n_channels").collect():
            w, h = 16 + r.doc_id % 32, 16 + (r.doc_id // 32) % 32
            assert (r.width, r.height, r.n_channels) == (w, h, 3)
            assert r.byte_len == 54 + h * ((w * 3 + 3) // 4 * 4)

    def test_map_in_pandas_plumbing(self, spark, sf_dir):
        from iceberg_rs_spark.sources.fixtures import load_table

        docs = load_table(spark, sf_dir, "documents").limit(20)
        feats = M.decode_and_featurize(M.attach_binary_payload(docs), fake=True)
        names = set(feats.columns)
        assert {"payload", "media_meta", "byte_len", "width", "height", "n_channels"} <= names
        rows = feats.select("doc_id", "byte_len", "width", "height").collect()
        lens = {
            r.doc_id: r["len"]
            for r in docs.select("doc_id", F.length("text").alias("len")).collect()
        }
        for r in rows:
            assert r.byte_len == lens[r.doc_id]
            assert r.width == 16 + (r.byte_len % 64)
            assert r.height == 16 + ((r.byte_len // 64) % 64)


class TestMultimodalResize:
    def test_resize_pixel_exactness(self):
        """NN resize picks source pixel (x*w//dw, y*h//dh); verify the
        whole resized raster against the synth formula."""
        from iceberg_rs_spark.operators.multimodal import (
            _bmp_pixel_rows,
            resize_image,
            synth_bmp,
        )

        src = synth_bmp(20, 30, seed=5)
        out = resize_image(src, 8, 8)
        w, h, rows = _bmp_pixel_rows(out)
        assert (w, h) == (8, 8)
        for y in range(8):
            sy = y * 30 // 8
            for x in range(8):
                sx = x * 20 // 8
                v = (sx * 7 + sy * 13 + 5) % 256
                assert rows[y][x * 3 : x * 3 + 3] == bytes(
                    (v, (v * 3) % 256, (v * 5) % 256)
                )

    def test_resize_output_is_decodable_bmp(self):
        from iceberg_rs_spark.operators.multimodal import (
            decode_image,
            resize_image,
            synth_bmp,
        )

        out = resize_image(synth_bmp(33, 17), 5, 9)
        assert decode_image(out) == (5, 9, 3)

    def test_resize_rejects_non_bmp(self):
        import pytest as _pytest

        from iceberg_rs_spark.operators.multimodal import resize_image

        with _pytest.raises(ValueError, match="not a BMP"):
            resize_image(b"P6 2 2 255\n" + b"\x00" * 12, 2, 2)

    def test_resize_rejects_truncated(self):
        import pytest as _pytest

        from iceberg_rs_spark.operators.multimodal import resize_image, synth_bmp

        with _pytest.raises(ValueError, match="truncated"):
            resize_image(synth_bmp(16, 16)[:100], 4, 4)


class TestMultimodalAudio:
    def test_wav_roundtrip_features(self):
        import numpy as np

        from iceberg_rs_spark.operators.multimodal import _decode_wav, synth_wav

        ch, rate, s = _decode_wav(synth_wav(100, 8000, seed=3))
        assert (ch, rate, len(s)) == (1, 8000, 100)
        i = np.arange(100, dtype=np.int64)
        expected = (i * 7919 + 3 * 104729) % 65536 - 32768
        assert (s.astype(np.int64) == expected).all()

    def test_wav_chunk_walk_tolerates_extra_chunks(self):
        import struct

        from iceberg_rs_spark.operators.multimodal import _decode_wav, synth_wav

        raw = synth_wav(10)
        # splice a LIST chunk between header and fmt
        extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
        spliced = raw[:12] + extra + raw[12:]
        ch, rate, s = _decode_wav(spliced)
        assert (ch, rate, len(s)) == (1, 8000, 10)

    def test_wav_rejects_non_riff_and_truncated(self):
        import pytest as _pytest

        from iceberg_rs_spark.operators.multimodal import _decode_wav, synth_wav

        with _pytest.raises(ValueError, match="not a RIFF"):
            _decode_wav(b"OggS" + b"\x00" * 60)
        with _pytest.raises(ValueError, match="truncated|fmt/data"):
            _decode_wav(synth_wav(10)[:40])
        with _pytest.raises(ValueError, match="data chunk short"):
            _decode_wav(synth_wav(30)[:50])  # header ok, data chunk cut

    def test_wav_rejects_non_pcm16(self):
        import struct

        import pytest as _pytest

        from iceberg_rs_spark.operators.multimodal import _decode_wav, synth_wav

        raw = bytearray(synth_wav(10))
        struct.pack_into("<H", raw, 34, 8)  # bits-per-sample -> 8
        with _pytest.raises(ValueError, match="16-bit PCM"):
            _decode_wav(bytes(raw))


class TestFrameSamplePlan:
    def test_explode_fanout_arithmetic(self, spark):
        """frame_sample_plan is the metadata-only fan-out shape (one
        row per sampled frame index from content_length, no decode) —
        pin its arithmetic: indices are 0, n, 2n, ... strictly below
        ceil(content_length/100)+1 frames."""
        from pyspark.sql import Row

        from iceberg_rs_spark.operators.multimodal import frame_sample_plan

        df = spark.createDataFrame(
            [
                Row(doc_id=1, media_meta=Row(content_length=950)),
                Row(doc_id=2, media_meta=Row(content_length=100)),
                Row(doc_id=3, media_meta=Row(content_length=0)),
            ]
        )
        out = frame_sample_plan(df, every_nth=4)
        got = {
            d: sorted(r.frame_idx for r in rows)
            for d, rows in __import__("itertools").groupby(
                sorted(out.collect(), key=lambda r: r.doc_id),
                key=lambda r: r.doc_id,
            )
        }
        # n_frames = content_length//100 + 1 -> 10, 2, 1 frames
        assert got == {1: [0, 4, 8], 2: [0], 3: [0]}


class TestMultimodalVideo:
    def test_container_roundtrip(self):
        from iceberg_rs_spark.operators.multimodal import (
            _video_frames,
            decode_image,
            synth_video,
        )

        vid = synth_video(5, 20, 16, seed=7)
        frames = _video_frames(vid)
        assert len(frames) == 5
        assert all(decode_image(f) == (20, 16, 3) for f in frames)

    def test_frame_pixels_vary_by_seed(self):
        from iceberg_rs_spark.operators.multimodal import (
            _bmp_pixel_rows,
            _video_frames,
            synth_video,
        )

        f0, f1 = _video_frames(synth_video(2, 16, 16, seed=0))
        assert _bmp_pixel_rows(f0)[2] != _bmp_pixel_rows(f1)[2]

    def test_truncated_and_bad_magic_rejected(self):
        import pytest as _pytest

        from iceberg_rs_spark.operators.multimodal import _video_frames, synth_video

        with _pytest.raises(ValueError, match="not a VID0"):
            _video_frames(b"MOOV" + b"\x00" * 20)
        with _pytest.raises(ValueError, match="truncated"):
            _video_frames(synth_video(3, 16, 16)[:-10])


class TestQuantization:
    def test_quantized_grid_bounds_and_zero_guard(self, spark):
        import pyspark.sql.functions as F
        from pyspark.sql import Row

        from iceberg_rs_spark.operators.similarity import quantize_int8

        df = spark.createDataFrame(
            [Row(vec_id=1, embedding=[1.0, -0.5, 0.25, 0.0]),
             Row(vec_id=2, embedding=[0.0, 0.0, 0.0, 0.0])]
        )
        rows = {r.vec_id: r.qvec for r in quantize_int8(df).collect()}
        assert rows[1] == [127, -63, 32, 0]   # floor(x/scale + 0.5)
        assert rows[2] == [0, 0, 0, 0]        # zero vector stays zero
        assert all(-127 <= v <= 127 for q in rows.values() for v in q)

    def test_quantized_topk_recall_vs_exact(self, spark, sf_dir):
        """int8 cosine must agree with exact cosine on nearly all of
        the top-5 sets (quantization error ~1e-3 vs typical score gaps)."""
        import pyspark.sql.functions as F

        from iceberg_rs_spark.operators.similarity import (
            brute_force_topk,
            quantized_topk,
        )
        from iceberg_rs_spark.sources.fixtures import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        queries = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        exact = {
            (r.query_id, r.vec_id)
            for r in brute_force_topk(emb, queries, k=5).collect()
        }
        quant = {
            (r.query_id, r.vec_id)
            for r in quantized_topk(emb, queries, k=5).collect()
        }
        recall = len(exact & quant) / len(exact)
        assert recall >= 0.9, f"quantized top-5 recall {recall}"

    def test_quantized_topk_selfnorm_range_matches_cross_dot(self, spark):
        """ADVICE r12: the HOF self-norm must sum exactly elements
        1..dim — the same range the unrolled cross dot reads — so for
        an input vector LONGER than dim, qcos equals the Python oracle
        that quantizes over the FULL array (the documented grid:
        scale = max|x|/127, q = floor(x/scale + 0.5)) but takes BOTH
        the dot product and the norms over elements 1..dim only. The
        pre-fix self-norm folded the tail into the norms but not the
        cross score, deflating qcos for over-length inputs."""
        import math

        from pyspark.sql import Row

        from iceberg_rs_spark.operators.similarity import quantized_topk

        dim = 4
        base = {
            1: [0.9, 0.1, -0.4, 0.2, 5.0, -5.0],
            2: [0.1, 0.8, 0.3, -0.5, 5.0, -5.0],
            3: [-0.6, 0.2, 0.7, 0.1, 5.0, -5.0],
        }
        qvec = [0.5, 0.5, 0.0, -0.1]
        emb = spark.createDataFrame(
            [Row(vec_id=i, embedding=v) for i, v in base.items()]
        )
        q = spark.createDataFrame([Row(query_id=0, query_vec=qvec)])

        def quant(v):
            scale = max(abs(x) for x in v) / 127.0
            return [
                max(-127, min(127, math.floor(x / scale + 0.5))) for x in v
            ]

        qb = quant(qvec)
        got = {
            r.vec_id: r.qcos
            for r in quantized_topk(emb, q, k=3, dim=dim).collect()
        }
        assert set(got) == set(base)
        for i, v in base.items():
            qa = quant(v)
            num = sum(a * b for a, b in zip(qa[:dim], qb[:dim]))
            den = math.sqrt(sum(a * a for a in qa[:dim])) * math.sqrt(
                sum(b * b for b in qb[:dim])
            )
            assert got[i] == pytest.approx(num / den, rel=1e-12, abs=1e-12)


class TestWinnowing:
    def test_staged_matches_unstaged_reference(self, spark, sf_dir):
        """winnowing_fingerprints_staged exists purely as the O(n)
        evaluation of winnowing_fingerprints (which re-derives the
        k-gram array per window position under interpreted HOF
        lambdas). Differential-pin the two on fixture documents plus
        the short-document edge cases (empty / below k / below k+w-1),
        so a change to the staging can never silently change the
        sketch."""
        from pyspark.sql import Row

        from iceberg_rs_spark.operators.text import (
            winnowing_fingerprints,
            winnowing_fingerprints_staged,
        )
        from iceberg_rs_spark.sources.fixtures import load_table

        # r15: the unstaged reference is deliberately O(positions * w)
        # under interpreted HOF lambdas — at 40 full-length docs this
        # one test cost 290 s (the whole suite must fit the driver's
        # verify budget; VERDICT r14 #1). 12 docs truncated to 600
        # chars exercise identical code paths (tokenization variety,
        # k-gram windows, min-ties) at under 1/20 the reference cost;
        # the short-document edge cases below are unchanged.
        docs = load_table(spark, sf_dir, "documents").limit(12).select(
            "doc_id", F.substring("text", 1, 600).alias("text")
        )
        edge = spark.createDataFrame(
            [
                Row(doc_id=10_001, text=""),
                Row(doc_id=10_002, text="abc"),        # < k
                Row(doc_id=10_003, text="abcdefgh"),   # == k, < k+w-1
                Row(doc_id=10_004, text="a b c d e f g h i j"),
            ]
        )
        both = docs.unionByName(edge)
        staged = {
            r.doc_id: r.fingerprints
            for r in winnowing_fingerprints_staged(
                both, "text", k=8, window=6
            ).collect()
        }
        unstaged = {
            r.doc_id: r.fp
            for r in both.select(
                "doc_id",
                winnowing_fingerprints(F.col("text"), k=8, window=6).alias("fp"),
            ).collect()
        }
        assert staged == unstaged

    def _sketches(self, spark, texts):
        from pyspark.sql import Row

        from iceberg_rs_spark.operators.text import winnowing_fingerprints_staged

        df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(texts)])
        out = winnowing_fingerprints_staged(df, "text", k=8, window=6)
        return {r.doc_id: set(r.fingerprints) for r in out.collect()}

    @settings(max_examples=15, deadline=None)
    @given(
        common=st.text(alphabet="abcdefgh", min_size=13, max_size=40),
        prefix=st.text(alphabet="abcdefgh", min_size=0, max_size=30),
        suffix=st.text(alphabet="abcdefgh", min_size=0, max_size=30),
    )
    def test_winnowing_guarantee_property(self, spark, common, prefix, suffix):
        """Property form of the winnowing theorem (VERDICT r3 #8): for
        ARBITRARY documents sharing an exact substring of length
        >= k + w - 1 (= 13 at k=8, w=6), the two sketches must
        intersect. The alphabet is letters-only so normalize() is the
        identity and the generated substring is shared verbatim."""
        fps = self._sketches(spark, [prefix + common, common + suffix])
        assert fps[0] & fps[1], (
            f"no shared fingerprint for shared substring {common!r} "
            f"(lens {len(prefix + common)}, {len(common + suffix)})"
        )

    def test_guarantee_shared_long_substring_shares_fingerprint(self, spark):
        """The winnowing theorem: any exact match of length >= k+w-1
        (= 13 here) between two documents shares at least one
        fingerprint — for arbitrary surroundings."""
        import random

        rnd = random.Random(11)
        words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
        cases = []
        for _ in range(10):
            common = " ".join(rnd.choices(words, k=6))  # >= 13 chars shared
            left = " ".join(rnd.choices(words, k=4)) + " " + common
            right = common + " " + " ".join(rnd.choices(words, k=4))
            cases.append((left, right))
        texts = [t for pair in cases for t in pair]
        fps = self._sketches(spark, texts)
        for i in range(0, len(texts), 2):
            assert fps[i] & fps[i + 1], f"case {i//2}: no shared fingerprint"

    def test_disjoint_texts_share_nothing(self, spark):
        fps = self._sketches(
            spark,
            ["aaaa bbbb cccc dddd eeee ffff", "gggg hhhh iiii jjjj kkkk llll"],
        )
        assert not (fps[0] & fps[1])

    def test_sketch_stable_under_prefix_shift(self, spark):
        """Winnowing is position-robust: prepending text preserves the
        tail's fingerprints (unlike fixed-stride chunk hashing)."""
        base = "the quick brown fox jumps over the lazy dog again and again"
        fps = self._sketches(spark, [base, "zzzz yyyy xxxx " + base])
        shared = fps[0] & fps[1]
        assert len(shared) >= len(fps[0]) * 0.7


class TestPageRank:
    def _ranks(self, spark, edges, **kw):
        from iceberg_rs_spark.operators.graph import pagerank

        df = spark.createDataFrame(edges, "src long, dst long, w double")
        return {
            r["node"]: r["rank"]
            for r in pagerank(df, weight="w", **kw).collect()
        }

    def test_symmetric_cycle_is_uniform(self, spark):
        ranks = self._ranks(spark, [(1, 2, 1.0), (2, 1, 1.0)])
        assert ranks[1] == pytest.approx(0.5)
        assert ranks[2] == pytest.approx(0.5)

    def test_mass_conserved_with_dangling(self, spark):
        # node 3 has no outgoing edge: its mass must be redistributed,
        # keeping the total at 1 every iteration
        ranks = self._ranks(spark, [(1, 2, 1.0), (2, 3, 1.0)], iterations=7)
        assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-12)
        assert ranks[3] > ranks[1]  # sink accumulates more than the source

    def test_matches_dense_reference(self, spark):
        """Distributed ranks == a driver-side numpy power iteration on
        the same weighted recurrence."""
        import numpy as np

        edges = [
            (0, 1, 2.0), (0, 2, 1.0), (1, 2, 3.0), (2, 0, 1.0), (3, 0, 5.0)
        ]
        n, d, iters = 4, 0.85, 5
        P = np.zeros((n, n))
        for s, t, w in edges:
            P[s, t] = w
        out = P.sum(axis=1)
        has_out = out > 0
        P[has_out] = P[has_out] / out[has_out, None]
        r = np.full(n, 1.0 / n)
        for _ in range(iters):
            dangling = r[~has_out].sum()
            r = (1 - d) / n + d * (P.T @ r + dangling / n)
        got = self._ranks(spark, edges, iterations=iters, damping=d)
        for v in range(n):
            assert got[v] == pytest.approx(r[v], abs=1e-12), v

    def test_weights_steer_rank(self, spark):
        # 1 sends 9x more weight to 2 than to 3 -> 2 outranks 3
        ranks = self._ranks(
            spark, [(1, 2, 9.0), (1, 3, 1.0), (2, 1, 1.0), (3, 1, 1.0)]
        )
        assert ranks[2] > ranks[3]


class TestHeavyHitters:
    def _tokens(self, spark, counts, n_parts):
        rows = [(tok,) for tok, c in counts.items() for _ in range(c)]
        return spark.createDataFrame(rows, "token string").repartition(n_parts)

    @pytest.mark.parametrize("n_parts", [1, 4, 13])
    def test_exact_and_partition_invariant(self, spark, n_parts):
        from iceberg_rs_spark.operators.topk import heavy_hitters

        counts = {f"t{i}": 3 for i in range(120)}  # long tail
        counts.update({"heavy_a": 200, "heavy_b": 90, "heavy_c": 41})
        n = sum(counts.values())  # 691
        k = 19  # hitter = count > n/20 = 34.55
        df = self._tokens(spark, counts, n_parts)
        got = {
            r["token"]: r["n"] for r in heavy_hitters(df, "token", k).collect()
        }
        expect = {t: c for t, c in counts.items() if c * (k + 1) > n}
        assert got == expect  # exact counts, no tail item leaks through

    def test_mg_candidates_are_superset(self, spark):
        """Pigeonhole guarantee: every true hitter survives pass 1 even
        when partitions are adversarially skewed."""
        from iceberg_rs_spark.operators.topk import heavy_hitters

        counts = {f"noise{i}": 1 for i in range(400)}
        counts["hot"] = 120
        df = self._tokens(spark, counts, 7)
        got = {r["token"] for r in heavy_hitters(df, "token", 9).collect()}
        assert got == {"hot"}


class TestLabelPropagation:
    def _labels(self, spark, edges, **kw):
        from iceberg_rs_spark.operators.graph import label_propagation

        df = spark.createDataFrame(edges, "src long, dst long, w double")
        return {
            r["node"]: r["lbl"]
            for r in label_propagation(df, weight="w", **kw).collect()
        }

    def test_heaviest_neighbour_wins_round_one(self, spark):
        # path 0-1 (w=1), 1-2 (w=10), symmetric
        edges = [(0, 1, 1.0), (1, 0, 1.0), (1, 2, 10.0), (2, 1, 10.0)]
        got = self._labels(spark, edges, iterations=1)
        assert got == {0: 1, 1: 2, 2: 1}

    def test_tie_breaks_to_smallest_label(self, spark):
        edges = [(0, 1, 5.0), (1, 0, 5.0), (0, 2, 5.0), (2, 0, 5.0)]
        got = self._labels(spark, edges, iterations=1)
        assert got[0] == 1  # 1 and 2 tie at w=5 -> smallest label

    def test_two_triangles_with_weak_bridge_separate(self, spark):
        tri1 = [(a, b, 10.0) for a in (0, 1, 2) for b in (0, 1, 2) if a != b]
        tri2 = [(a, b, 10.0) for a in (3, 4, 5) for b in (3, 4, 5) if a != b]
        bridge = [(2, 3, 1.0), (3, 2, 1.0)]
        got = self._labels(spark, tri1 + tri2 + bridge, iterations=3)
        assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3}


class TestBfsHops:
    def _hops(self, spark, edges, source, rounds):
        from iceberg_rs_spark.operators.graph import bfs_hops

        df = spark.createDataFrame(edges, "src long, dst long")
        return {
            r["node"]: r["hops"]
            for r in bfs_hops(df, source=source, rounds=rounds).collect()
        }

    def test_chain_distances_bounded_by_rounds(self, spark):
        chain = [(i, i + 1) for i in range(5)]  # 0->1->...->5
        got = self._hops(spark, chain, source=0, rounds=4)
        assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4}  # 5 needs round 5

    def test_shorter_of_two_paths_wins(self, spark):
        edges = [(0, 1), (1, 2), (2, 3), (0, 3)]
        got = self._hops(spark, edges, source=0, rounds=4)
        assert got[3] == 1

    def test_isolated_source_returns_only_itself(self, spark):
        got = self._hops(spark, [(7, 8)], source=0, rounds=3)
        assert got == {0: 0}


class TestSkewSafeWedges:
    """VERDICT r12 ask #3: the graph wedge shapes are Σdeg² — a
    power-law hub is the graph analog of the dedup hot bucket. The
    degree-ordered orientation must keep triangle results EXACT while
    killing the hub's wedge fan-out; the common-neighbour cap must be
    auditable via hub_exclusion_stats, never silent."""

    @staticmethod
    def _naive_triangles(spark, edges):
        # the pre-r13 u<v wedge reference implementation
        import itertools

        nbrs: dict = {}
        for u, v in edges:
            nbrs.setdefault(u, set()).add(v)
            nbrs.setdefault(v, set()).add(u)
        tris = set()
        for a, b, c in itertools.combinations(sorted(nbrs), 3):
            if b in nbrs[a] and c in nbrs[a] and c in nbrs[b]:
                tris.add((a, b, c))
        return tris

    def _edges_df(self, spark, edges):
        from pyspark.sql import functions as F

        return (
            spark.createDataFrame(edges, "u long, v long")
            .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
            .distinct()
        )

    def test_oriented_triangles_exact_on_random_graphs(self, spark):
        """Each triangle exactly once, same set as the brute-force
        reference, across seeds — orientation must not change results."""
        import random

        from iceberg_rs_spark.operators.graph import triangles_degree_oriented

        for seed in (7, 23):
            rng = random.Random(seed)
            edges = {
                tuple(sorted(rng.sample(range(30), 2))) for _ in range(120)
            }
            df = self._edges_df(spark, sorted(edges))
            got = [
                tuple(sorted((r["a"], r["b"], r["c"])))
                for r in triangles_degree_oriented(df).collect()
            ]
            want = self._naive_triangles(spark, edges)
            assert len(got) == len(set(got)), "triangle emitted twice"
            assert set(got) == want

    def test_self_loops_cannot_fabricate_triangles(self, spark):
        """ADVICE r13 #2: a (u,u) row must not survive into the
        orientation — it would orient to src=dst with equal ranks and
        pair with a real out-edge into a degenerate wedge the closing
        left_semi join can confirm, fabricating a 'triangle' {u,u,w}.
        With loops filtered, a loop-augmented graph counts exactly the
        triangles of the loop-free graph."""
        from pyspark.sql import functions as F

        from iceberg_rs_spark.operators.graph import triangles_degree_oriented

        # one real triangle {0,1,2} plus loops on every node incl. a
        # loop-only node 9; loops also on both endpoints of the real
        # edges so equal-rank orientation is exercised
        edges = [(0, 1), (1, 2), (0, 2), (2, 3)]
        loops = [(n, n) for n in (0, 1, 2, 3, 9)]
        df = spark.createDataFrame(sorted(edges + loops), "u long, v long")
        got = [
            tuple(sorted((r["a"], r["b"], r["c"])))
            for r in triangles_degree_oriented(df).collect()
        ]
        assert got == [(0, 1, 2)]

    def test_hub_generates_no_oriented_wedges(self, spark):
        """A star (hub + leaves, no leaf-leaf edges) has zero
        triangles; under orientation the hub has out-degree 0, so the
        wedge stage emits nothing — the quadratic regime is closed at
        the intermediate, not just filtered at the output."""
        from iceberg_rs_spark.operators.graph import triangles_degree_oriented

        star = [(50, i) for i in range(40)]
        df = self._edges_df(spark, star)
        assert triangles_degree_oriented(df).count() == 0

    def test_common_neighbor_pairs_uncapped_matches_bruteforce(self, spark):
        from iceberg_rs_spark.operators.graph import common_neighbor_pairs

        edges = [(0, 2), (1, 2), (0, 3), (1, 3), (4, 2)]
        adj_rows = [(a, b) for a, b in edges] + [(b, a) for a, b in edges]
        adj = spark.createDataFrame(adj_rows, "node long, nbr long")
        got = {
            (r["a"], r["b"]): r["common"]
            for r in common_neighbor_pairs(adj).collect()
        }
        # 0,1 share {2,3}; 0,4 share {2}; 1,4 share {2}; 2,3 share {0,1}
        assert got == {(0, 1): 2, (0, 4): 1, (1, 4): 1, (2, 3): 2}

    def test_cap_excludes_hub_with_exact_accounting(self, spark):
        from iceberg_rs_spark.operators.graph import (
            common_neighbor_pairs,
            hub_exclusion_stats,
        )

        # hub 100 adjacent to 0..9 (degree 10), plus organic wedge via 50
        edges = [(100, i) for i in range(10)] + [(0, 50), (1, 50)]
        adj_rows = [(a, b) for a, b in edges] + [(b, a) for a, b in edges]
        adj = spark.createDataFrame(adj_rows, "node long, nbr long")
        capped = {
            (r["a"], r["b"]): r["common"]
            for r in common_neighbor_pairs(
                adj, max_neighbor_degree=5
            ).collect()
        }
        # hub-MEDIATED pairs gone (the 45 pairs among 0..9 whose only
        # shared neighbour is hub 100); wedges through low-degree
        # shared neighbours survive — including (50, 100), which share
        # {0, 1}: the cap is on the SHARED neighbour's degree, a hub as
        # an endpoint still gets scored
        assert capped == {(0, 1): 1, (50, 100): 2}
        stats = hub_exclusion_stats(adj, 5).collect()
        assert [(r["hub"], r["degree"], r["forgone_wedges"]) for r in stats] == [
            (100, 10, 45)
        ]
        # uncapped: the hub's C(10,2)=45 pairs (0-1 among them, which
        # also shares 50) plus (50, 100)
        uncapped = common_neighbor_pairs(adj).collect()
        assert len(uncapped) == 46

    def test_capped_total_plus_forgone_bounds_uncapped(self, spark):
        """The accounting identity the probe relies on: forgone_wedges
        counts pair-generation events, so capped pairs + forgone >=
        uncapped pairs (equality when no pair shares both a hub and a
        non-hub neighbour)."""
        import random

        from iceberg_rs_spark.operators.graph import (
            common_neighbor_pairs,
            hub_exclusion_stats,
        )

        rng = random.Random(11)
        edges = {tuple(sorted(rng.sample(range(40), 2))) for _ in range(100)}
        edges |= {(i, 99) for i in range(20)}  # hub 99
        adj_rows = [(a, b) for a, b in edges] + [(b, a) for a, b in edges]
        adj = spark.createDataFrame(adj_rows, "node long, nbr long")
        cap = 10
        uncapped = common_neighbor_pairs(adj).count()
        capped = common_neighbor_pairs(adj, max_neighbor_degree=cap).count()
        forgone = sum(
            r["forgone_wedges"]
            for r in hub_exclusion_stats(adj, cap).collect()
        )
        assert capped < uncapped <= capped + forgone


class TestKCore:
    def _core(self, spark, edges, k, rounds=3):
        from iceberg_rs_spark.operators.graph import k_core

        df = spark.createDataFrame(edges, "src long, dst long")
        return {
            r["node"]: r["deg"]
            for r in k_core(df, k=k, rounds=rounds).collect()
        }

    def test_pendant_vertices_peel_off(self, spark):
        # triangle 0-1-2 plus pendant 3 hanging off 2
        edges = [(0, 1), (1, 2), (0, 2), (2, 3)]
        got = self._core(spark, edges, k=2)
        assert got == {0: 2, 1: 2, 2: 2}

    def test_cascading_peel_needs_multiple_rounds(self, spark):
        # chain 3-4-5 attached to a triangle: peeling 5 drops 4, then 3
        edges = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (4, 5)]
        got = self._core(spark, edges, k=2, rounds=3)
        assert got == {0: 2, 1: 2, 2: 2}

    def test_whole_graph_below_k_empties(self, spark):
        got = self._core(spark, [(0, 1), (1, 2)], k=2)
        assert got == {}


class TestCosineArrowExact:
    def test_bit_identical_to_jvm_fold(self, spark, sf_dir):
        """cosine_arrow_exact's vectorized-across-rows / sequential-
        across-dims reduction must reproduce the JVM left-fold cosine
        BITWISE (no rounding) — that equivalence is what lets a
        hash-checked ranking cut run in the Arrow path."""
        from iceberg_rs_spark.sources.fixtures import load_table

        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        a = emb.where(F.col("vec_id") < 40).alias("a")
        b = emb.where((F.col("vec_id") >= 40) & (F.col("vec_id") < 80)).alias("b")
        pairs = a.crossJoin(b).select(
            S.cosine(F.col("a.v"), F.col("b.v")).alias("jvm"),
            S.cosine_arrow_exact(F.col("a.v"), F.col("b.v")).alias("arrow"),
        )
        assert pairs.where(F.col("jvm") != F.col("arrow")).count() == 0


class TestAsofJoinNullSemantics:
    """asof_join must preserve EQUI-join NULL semantics: a NULL right
    timestamp has no defined 'prior' position (nulls-first ordering
    would make it the match for every early left row), and NULL keys
    never equi-match — even though the union+window idiom would happily
    group NULL keys into one window partition."""

    def _frames(self, spark):
        from pyspark.sql import functions as F  # noqa: F401

        left = spark.createDataFrame(
            [(1, 3, "l0"), (1, 10, "l1"), (1, 20, "l2"), (None, 15, "lnull")],
            "k int, ts int, lv string",
        )
        right = spark.createDataFrame(
            [(1, 5, "r5"), (1, None, "rnull_ts"), (None, 1, "rnull_key")],
            "k int, ts int, rv string",
        )
        return left, right

    def test_null_right_ts_never_matches(self, spark):
        from iceberg_rs_spark.operators.joins import asof_join

        left, right = self._frames(spark)
        out = asof_join(left, right, ["k"], "ts", "ts").collect()
        by_lv = {r["lv"]: r["rv_right"] for r in out}
        # l0 precedes every REAL right row: unmatched — a NULL-ts right
        # row must not pose as its "prior" match (nulls sort first)
        assert by_lv["l0"] is None
        assert by_lv["l1"] == "r5"
        assert by_lv["l2"] == "r5"

    def test_null_keys_do_not_pair_up(self, spark):
        from iceberg_rs_spark.operators.joins import asof_join

        left, right = self._frames(spark)
        out = asof_join(left, right, ["k"], "ts", "ts").collect()
        by_lv = {r["lv"]: r["rv_right"] for r in out}
        # the NULL-key left row must come back unmatched (NULL != NULL
        # under equi-join), not paired with the NULL-key right row
        assert by_lv["lnull"] is None
        assert len(out) == 4  # every left row preserved exactly once


class TestSaltedJoinHowGuard:
    """salted_join explodes the small side once per salt bucket, so a
    small-side-preserving join would duplicate unmatched small rows
    `buckets` times — those join types must be rejected, and the
    big-side-preserving types must stay row-for-row equivalent."""

    def _frames(self, spark):
        big = spark.createDataFrame(
            [(i, "a" if i % 3 else "b") for i in range(30)] + [(100, "zz")],
            "event_id long, event_type string",
        )
        dim = spark.createDataFrame(
            [("a", 1), ("b", 2), ("unused", 9)], "event_type string, w int"
        )
        return big, dim

    @pytest.mark.parametrize("how", ["right", "full", "full_outer"])
    def test_small_preserving_rejected(self, spark, how):
        from iceberg_rs_spark.operators.skew import salted_join

        big, dim = self._frames(spark)
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(big, dim, "event_type", "event_id", how=how)

    @pytest.mark.parametrize("how", ["inner", "left", "left_anti", "left_semi"])
    def test_big_preserving_equivalent(self, spark, how):
        from iceberg_rs_spark.operators.skew import salted_join

        big, dim = self._frames(spark)
        got = salted_join(big, dim, "event_type", "event_id", how=how)
        exp = big.join(dim, "event_type", how)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, exp.collect())
        )


class TestSpreadPartitions:
    def test_cap_bounds_the_result(self, spark):
        """The result lies in [2, cap], except that a cap below 2 wins:
        a caller that allows one partition must never get two."""
        from iceberg_rs_spark.operators.skew import spread_partitions

        df = spark.range(1000)
        assert spread_partitions(df, cap=1, target_bytes=1) == 1
        assert spread_partitions(df, cap=1, target_bytes=1 << 30) == 1
        assert spread_partitions(df, cap=8, target_bytes=1 << 30) == 2
        assert spread_partitions(df, cap=8, target_bytes=1) == 8


class TestDedupGeometryGuards:
    def test_indivisible_band_geometry_rejected(self, spark):
        """12 hashes / 5 bands would silently drop 2 signature rows and
        shift the tuned s-curve — must raise instead."""
        from iceberg_rs_spark.operators.dedup import minhash_candidate_pairs

        df = _docs(spark, [(1, "one two three four")])
        with pytest.raises(ValueError, match="not divisible"):
            minhash_candidate_pairs(df, num_hashes=12, bands=5)

    def test_simhash_blank_and_null_contract(self, spark):
        """Blank text tokenizes to the [""] pseudo-token, so BOTH
        simhash forms agree on it bit-for-bit; NULL text is the one
        divergence — NULL fingerprint from the column expression, row
        dropped by the explode-based variant. Pinned so neither
        silently changes."""
        from iceberg_rs_spark.operators.dedup import (
            simhash,
            simhash_fingerprints,
        )

        df = spark.createDataFrame(
            [(1, "hello world hello"), (2, "   "), (3, None)],
            "doc_id long, text string",
        )
        col_fp = {
            r["doc_id"]: r["fp"]
            for r in df.select("doc_id", simhash(F.col("text")).alias("fp")).collect()
        }
        assert col_fp[1] != 0 and col_fp[2] is not None and col_fp[3] is None
        agg_fp = {
            r["doc_id"]: r["_fp"] for r in simhash_fingerprints(df).collect()
        }
        assert set(agg_fp) == {1, 2}            # NULL-text row dropped
        assert agg_fp[1] == col_fp[1]           # bit-identical
        assert agg_fp[2] == col_fp[2]           # blank text agrees too


class TestAsofJoinDeterminism:
    """Exact-(key, ts) ties among right rows must resolve the same way
    on every run and every partition layout — the union+window idiom
    otherwise picks whichever duplicate arrived last in the shuffle."""

    def test_duplicate_right_ts_resolves_to_greatest_payload(self, spark):
        from iceberg_rs_spark.operators.joins import asof_join

        left = spark.createDataFrame([(1, 10, "l")], "k int, ts int, lv string")
        right = spark.createDataFrame(
            [(1, 5, "a"), (1, 5, "z"), (1, 5, "m")],
            "k int, ts int, rv string",
        ).repartition(3)
        for _ in range(3):  # stable across repeated shuffles
            out = asof_join(left, right, ["k"], "ts", "ts").collect()
            assert [r["rv_right"] for r in out] == ["z"]

    def test_map_payload_still_works_without_tiebreak(self, spark):
        # maps are not orderable sort keys: the tie-break must be
        # skipped, not crash the plan
        from pyspark.sql import functions as F

        from iceberg_rs_spark.operators.joins import asof_join

        left = spark.createDataFrame([(1, 10, "l")], "k int, ts int, lv string")
        right = spark.createDataFrame(
            [(1, 5, "x")], "k int, ts int, tag string"
        ).select("k", "ts", F.create_map(F.lit("t"), F.col("tag")).alias("m"))
        out = asof_join(left, right, ["k"], "ts", "ts").collect()
        assert out[0]["m_right"] == {"t": "x"}

    def test_reserved_column_names_rejected(self, spark):
        import pytest

        from iceberg_rs_spark.operators.joins import asof_join

        left = spark.createDataFrame([(1, 10, 0)], "k int, ts int, _side int")
        right = spark.createDataFrame([(1, 5, "r")], "k int, ts int, rv string")
        with pytest.raises(ValueError, match="_side"):
            asof_join(left, right, ["k"], "ts", "ts")


class TestAsofJoinRandomizedDifferential:
    """Fixed-seed randomized cross-check of asof_join against an
    independent python reference on adversarial frames — duplicate
    (key, ts) right rows, exact left/right ts ties, NULL keys and
    timestamps, keys present on only one side — under a shuffled
    partition layout. The reference implements the declared contract
    directly: most recent right_ts <= left_ts per key, exact ties
    matching, duplicate-(key, ts) ties resolving to the GREATEST
    payload tuple."""

    def _reference(self, left_rows, right_rows):
        out = {}
        for lk, lts, lv in left_rows:
            best = None
            if lk is not None and lts is not None:
                for rk, rts, rv in right_rows:
                    if rk is None or rts is None or rk != lk or rts > lts:
                        continue
                    key = (rts, rv)
                    if best is None or key > best:
                        best = key
            out[lv] = best[1] if best else None
        return out

    def test_matches_reference_on_random_frames(self, spark):
        import random

        from iceberg_rs_spark.operators.joins import asof_join

        for seed in (7, 23, 101):
            rng = random.Random(seed)
            keys = [None, 1, 2, 3]
            left_rows = [
                (rng.choice(keys), rng.choice([None] + list(range(0, 20, 2))), f"l{i}")
                for i in range(30)
            ]
            right_rows = [
                (rng.choice(keys), rng.choice([None] + list(range(0, 20, 2))), f"r{i % 7}")
                for i in range(25)
            ]
            left = spark.createDataFrame(left_rows, "k int, ts int, lv string")
            right = spark.createDataFrame(
                right_rows, "k int, ts int, rv string"
            ).repartition(5)
            got = {
                r["lv"]: r["rv_right"]
                for r in asof_join(left, right, ["k"], "ts", "ts").collect()
            }
            want = self._reference(left_rows, right_rows)
            assert got == want, f"seed={seed}"
