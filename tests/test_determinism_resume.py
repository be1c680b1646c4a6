"""Determinism under partitioning + checkpoint/resume (north-rule
resumability contract)."""

from __future__ import annotations

import os

from sift_kg_spark.config import DedupConfig
from sift_kg_spark.fixtures import generate_corpus
from sift_kg_spark.pipeline import run_dedup


def _assignments_sorted(res) -> list[tuple]:
    return sorted(
        (r.url, r.cluster_id, r.canonical_url, r.cluster_size)
        for r in res.assignments.collect()
    )


class TestDeterminism:
    def test_partition_count_invariance(self, spark, cfg):
        """Identical assignments at different input partitionings — every
        tie-break in the pipeline is a total order (SURVEY.md §4)."""
        pages_pdf, *_ = generate_corpus(150, seed=7)
        pdf = pages_pdf.drop(columns=["true_text"])
        a = run_dedup(spark, spark.createDataFrame(pdf).repartition(2), cfg)
        b = run_dedup(spark, spark.createDataFrame(pdf).repartition(11), cfg)
        assert _assignments_sorted(a) == _assignments_sorted(b)


class TestResume:
    def test_resume_skips_committed_stages(self, spark, cfg, tmp_path):
        pages_pdf, *_ = generate_corpus(120, seed=9)
        pages = spark.createDataFrame(pages_pdf.drop(columns=["true_text"]))
        wd = str(tmp_path / "run1")

        first = run_dedup(spark, pages, cfg, workdir=wd)
        expected = _assignments_sorted(first)
        manifests = set(os.listdir(os.path.join(wd, "_manifests")))
        assert {"prepared.json", "features.json", "candidates.json",
                "dup_pairs.json", "assignments.json"} <= manifests

        # simulate a mid-pipeline crash: the last two stages lost their commit
        for name in ("assignments.json", "clusters.json"):
            os.remove(os.path.join(wd, "_manifests", name))

        resumed = run_dedup(spark, pages.limit(0), cfg, workdir=wd)
        # pages input is EMPTY on resume: committed early stages must be
        # read back, proving no upstream recompute happened
        assert _assignments_sorted(resumed) == expected

        # -- metrics + lineage recorded for the same run (one store run
        # shared with the resume assertions to keep the suite fast) --
        # both logs are read with their fixed schemas: no inference job
        sc = spark.sparkContext
        sc.setJobGroup("read-logs", "metrics and lineage reads")
        try:
            metrics = resumed.store.metrics()
            lineage = resumed.store.lineage()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup("read-logs") == []
        stages = {r.stage for r in lineage.collect()}
        assert {"prepared", "features", "candidates", "verified",
                "dup_pairs", "assignments", "clusters"} <= stages
        # per-partition rows recorded for each stage
        m = metrics.toPandas()
        assert {"partition_id", "rows", "stage", "run_id"} <= set(m.columns)
        assert (m.groupby("stage")["rows"].sum() > 0).any()
        # lineage records inputs per stage
        lin = {r.stage: r.inputs for r in lineage.collect()}
        assert "prepared" in lin["features"]
        assert "dup_pairs" in lin["assignments"]


class TestStaleInputInvalidation:
    def test_rebuilt_input_invalidates_downstream(self, spark, tmp_path):
        """Round-1 advice: a snapshot must not be served when its INPUT
        stage was rebuilt — manifests record input fingerprints
        (run/rows/schema) and exists() validates the chain."""
        from sift_kg_spark.tableio import StageStore

        store = StageStore(spark, str(tmp_path / "wd"), context={"v": 1})
        a1 = spark.range(5).toDF("x")
        store.write("a", a1)
        store.write("b", a1.selectExpr("x * 2 AS y"), inputs=("a",))
        assert store.exists("a") and store.exists("b")

        # rebuild A with different data (new run fingerprint)
        store2 = StageStore(spark, str(tmp_path / "wd"), context={"v": 1})
        store2.write("a", spark.range(9).toDF("x"))
        assert store2.exists("a")
        assert not store2.exists("b")  # stale chain detected

        # recommitting B against the new A heals the chain
        store2.write("b", store2.read("a").selectExpr("x * 2 AS y"), inputs=("a",))
        assert store2.exists("b")


class TestInferredReadBackWorkdir:
    def test_workdir_committed_with_inferred_schema_resumes(
        self, spark, cfg, tmp_path, monkeypatch
    ):
        """StageStore used to read each committed table back with a schema
        inferred from its Parquet footers. It now reads it back with the
        written schema made nullable, which records the same manifest
        schema byte for byte, so a workdir committed the old way resumes
        without rebuilding any stage."""
        import json

        from pyspark.sql import DataFrameReader

        from sift_kg_spark.tableio import StageStore

        pages_pdf, *_ = generate_corpus(120, seed=9)
        pages = spark.createDataFrame(pages_pdf.drop(columns=["true_text"]))

        def schemas(wd: str) -> dict[str, str]:
            mdir = os.path.join(wd, "_manifests")
            out = {}
            for name in os.listdir(mdir):
                with open(os.path.join(mdir, name)) as fh:
                    out[name] = json.load(fh)["schema"]
            return out

        legacy_wd = str(tmp_path / "inferred")
        with monkeypatch.context() as m:
            # the old read-back: the reader gets no schema and infers one
            m.setattr(DataFrameReader, "schema", lambda self, schema: self)
            expected = _assignments_sorted(
                run_dedup(spark, pages, cfg, workdir=legacy_wd)
            )
        fresh_wd = str(tmp_path / "known")
        run_dedup(spark, pages, cfg, workdir=fresh_wd)
        legacy = schemas(legacy_wd)
        assert len(legacy) >= 10
        assert schemas(fresh_wd) == legacy

        rebuilt = []
        write = StageStore.write

        def recording_write(self, name, *args, **kwargs):
            rebuilt.append(name)
            return write(self, name, *args, **kwargs)

        monkeypatch.setattr(StageStore, "write", recording_write)
        resumed = run_dedup(spark, pages.limit(0), cfg, workdir=legacy_wd)
        assert _assignments_sorted(resumed) == expected
        assert rebuilt == []
