"""End-to-end pipeline gates on the planted corpus (FIXTURES.md):
recall >= 0.99, zero false merges, canonical rule parity, DRAFT handling,
quarantine, and the no-merge classes (boilerplate D4, cross-lang D6)."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F


def _assign_map(dedup_result) -> dict[str, str]:
    return {
        r.url: r.cluster_id for r in dedup_result.assignments.collect()
    }


class TestRecall:
    def test_dup_pair_recall_ge_099(self, dedup_result, corpus):
        """The headline gate (BASELINE.json): cluster-wise dup-pair recall —
        two urls count as found when they share a cluster_id."""
        _, exp_pairs, _, _ = corpus
        cl = _assign_map(dedup_result)
        found = sum(
            1 for r in exp_pairs.itertuples() if cl.get(r.url_a) == cl.get(r.url_b)
        )
        recall = found / len(exp_pairs)
        assert recall >= 0.99, f"recall {recall:.4f} ({found}/{len(exp_pairs)})"

    def test_no_false_merges(self, dedup_result, corpus):
        """Precision side: no cluster mixes expected families (distinct
        texts NOT merged — test_prededup.py:118-126)."""
        _, _, exp_clusters, _ = corpus
        expected_canon = dict(zip(exp_clusters.url, exp_clusters.canonical_url))
        cl = _assign_map(dedup_result)
        members = defaultdict(list)
        for u, c in cl.items():
            members[c].append(u)
        for c, urls in members.items():
            if len(urls) > 1:
                fams = {expected_canon.get(u, u) for u in urls}
                assert len(fams) == 1, f"false merge in cluster {c}: {urls[:8]}"


class TestCanonicalRule:
    def test_a1_canonical_parity(self, dedup_result, corpus):
        """Canonical = longest text -> lexicographically-min url
        (prededup.py:177-196 total order)."""
        _, _, exp_clusters, _ = corpus
        expected = dict(zip(exp_clusters.url, exp_clusters.canonical_url))
        got = {
            r.url: r.canonical_url for r in dedup_result.assignments.collect()
        }
        mism = {u: (got[u], expected[u]) for u in expected if got.get(u) != expected[u]}
        assert mism == {}


class TestDraftSemantics:
    def test_flagged_pairs_in_review_not_clustered(self, dedup_result, corpus):
        """DRAFT proposals are never applied (test_resolve.py:256-270)."""
        _, _, _, exp_flagged = corpus
        review = {
            (r.url_a, r.url_b) for r in dedup_result.review_pairs.collect()
        }
        cl = _assign_map(dedup_result)
        for r in exp_flagged.itertuples():
            assert (r.url_a, r.url_b) in review
            assert cl.get(r.url_a) != cl.get(r.url_b)


class TestNoMergeClasses:
    def test_boilerplate_group_not_merged(self, dedup_result):
        """D4: shared template, different bodies — the hot-band skew class."""
        d4 = dedup_result.assignments.filter(F.col("url").contains("/d4/"))
        rows = d4.collect()
        assert len(rows) > 5
        clusters = defaultdict(list)
        for r in rows:
            clusters[r.cluster_id].append(r.url)
        assert all(len(v) == 1 for v in clusters.values())

    def test_cross_lang_not_merged(self, dedup_result):
        d6 = dedup_result.assignments.filter(F.col("url").contains("/d6/")).collect()
        fams = defaultdict(set)
        for r in d6:
            fams[r.url.rsplit("/", 2)[1]].add(r.cluster_id)
        for fam, cids in fams.items():
            assert len(cids) == 2, f"cross-lang family {fam} merged"

    def test_containment_merged_via_suffix_or_jaccard(self, dedup_result):
        d5 = dedup_result.assignments.filter(F.col("url").contains("/d5/")).collect()
        fams = defaultdict(set)
        for r in d5:
            fams[r.url.rsplit("/", 2)[1]].add(r.cluster_id)
        merged = sum(1 for cids in fams.values() if len(cids) == 1)
        assert merged == len(fams)


class TestQuarantine:
    def test_near_empty_and_failed_rows_quarantined(self, dedup_result):
        rows = dedup_result.quarantine.collect()
        reasons = {r.reason for r in rows}
        assert reasons <= {"near_empty", "extraction_failed"}
        # quarantined rows never appear in assignments
        assigned = {r.url for r in dedup_result.assignments.collect()}
        assert all(r.url not in assigned for r in rows)


class TestPairTable:
    def test_statuses_and_channels(self, dedup_result):
        pairs = dedup_result.dup_pairs
        stats = {
            (r.status, r.decided_by)
            for r in pairs.select("status", "decided_by").distinct().collect()
        }
        assert ("confirmed", "exact") in stats
        assert ("confirmed", "jaccard") in stats
        assert any(s == "rejected" for s, _ in stats)

    def test_pair_ordering_invariant(self, dedup_result):
        bad = dedup_result.dup_pairs.filter(
            (F.col("channel") != "exact") & (F.col("url_a") >= F.col("url_b"))
        ).count()
        assert bad == 0


class TestUidCollisionRescue:
    def test_colliding_uids_rekeyed(self, spark):
        """Two urls landing on the same 64-bit uid must be deterministically
        re-keyed apart (round-1 advice: ~27k colliding pairs expected at the
        10^12 design point — rescued, not assumed away)."""
        from sift_kg_spark.pipeline import rekey_uid_collisions

        df = spark.createDataFrame(
            [(1, "u1"), (1, "u2"), (5, "u3")], "doc_uid long, url string"
        )
        out = {r.url: r.doc_uid for r in rekey_uid_collisions(df).collect()}
        assert out["u3"] == 5            # non-colliding rows untouched
        assert out["u1"] != out["u2"]    # collision resolved
        # deterministic: same input -> same rekeyed values
        out2 = {r.url: r.doc_uid for r in rekey_uid_collisions(df).collect()}
        assert out == out2


class TestPreparedScanParallelism:
    """prepare_stage must NOT reshuffle the raw corpus when the scan
    already supplies cluster parallelism (at crawl scale that exchange
    ships the entire input, html included), and MUST when the input
    arrives as too few splits (narrow UDF chain would run at file
    parallelism)."""

    @staticmethod
    def _pages(spark, n=40):
        from sift_kg_spark.config import DedupConfig

        rows = [
            (f"https://ex.com/{i}", "en", "word " * 40 + str(i), None)
            for i in range(n)
        ]
        return spark.createDataFrame(
            rows, "url string, lang string, text string, html binary"
        )

    def test_wide_scan_keeps_source_partitioning(self, spark):
        from sift_kg_spark.config import DedupConfig
        from sift_kg_spark.pipeline import prepare_stage

        pages = self._pages(spark).repartition(12)  # >= defaultParallelism
        out = prepare_stage(pages, DedupConfig(), n_partitions=8)
        assert out.rdd.getNumPartitions() == 12  # no second exchange
        assert out.count() == 40

    def test_narrow_input_is_repartitioned(self, spark):
        from sift_kg_spark.config import DedupConfig
        from sift_kg_spark.pipeline import prepare_stage

        pages = self._pages(spark).coalesce(1)
        out = prepare_stage(pages, DedupConfig(), n_partitions=8)
        assert out.rdd.getNumPartitions() == 8
        assert out.count() == 40


class TestJobBudget:
    # Spark jobs of one fresh-workdir run_dedup over the 400-page test
    # corpus in this suite's session (local[8], 8 shuffle partitions):
    # 33, measured 2026-10-19 on three consecutive calls. The count is a
    # fixed per-call floor (commits, AQE stage materializations,
    # broadcasts), so a stage that starts an extra job shows here.
    JOB_BUDGET = 33

    def test_fresh_run_within_job_budget(self, spark, pages_df, cfg, tmp_path):
        from sift_kg_spark.pipeline import run_dedup

        sc = spark.sparkContext
        sc.setJobGroup("job-budget", "run_dedup job budget")
        try:
            run_dedup(spark, pages_df, cfg, workdir=str(tmp_path / "wd"))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup("job-budget"))
        assert 0 < n_jobs <= self.JOB_BUDGET, n_jobs

    # Spark jobs of one run_dedup_incremental appending the 5% url-hash
    # batch of the same corpus onto a committed base run of the rest
    # (the base run is not counted): 66, measured 2026-10-20 before the
    # append read its base through one dict of manifest-schema reads, both
    # alone and after the fresh run above; 66 after it as well.
    APPEND_JOB_BUDGET = 66

    def test_append_within_job_budget(self, spark, pages_df, cfg, tmp_path):
        from sift_kg_spark.incremental import run_dedup_incremental
        from sift_kg_spark.pipeline import run_dedup

        in_batch = F.pmod(F.xxhash64("url"), F.lit(20)) == 0
        base_wd = str(tmp_path / "base")
        run_dedup(spark, pages_df.filter(~in_batch), cfg, workdir=base_wd)
        sc = spark.sparkContext
        sc.setJobGroup("append-job-budget", "run_dedup_incremental job budget")
        try:
            run_dedup_incremental(
                spark,
                pages_df.filter(in_batch),
                cfg,
                base_workdir=base_wd,
                workdir=str(tmp_path / "inc"),
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        n_jobs = len(
            sc.statusTracker().getJobIdsForGroup("append-job-budget")
        )
        assert 0 < n_jobs <= self.APPEND_JOB_BUDGET, n_jobs
