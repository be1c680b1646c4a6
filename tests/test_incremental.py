"""Incremental append-batch dedup vs the full-corpus run.

The contract (incremental.py): per-pair decisions are identical, and the
final partition (cluster membership, min-url cluster ids, A1 canonicals,
sizes) equals a full run over the combined corpus. The corpus is split
even/odd so planted duplicate classes straddle the base/batch boundary —
cross-batch exact dups, near dups, and containment pairs all exercise the
base-attachment paths.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sift_kg_spark import DedupConfig
from sift_kg_spark.incremental import run_dedup_incremental
from sift_kg_spark.pipeline import run_dedup


@pytest.fixture(scope="module")
def split_corpus(corpus):
    pages = corpus[0].drop(columns=["true_text"])
    return pages.iloc[::2].reset_index(drop=True), pages.iloc[1::2].reset_index(
        drop=True
    )


def _assignments_map(df):
    return {
        r["url"]: (r["cluster_id"], r["canonical_url"], r["cluster_size"])
        for r in df.collect()
    }


def _a1_takeover_pages(like):
    """Batch docs that join a base cluster and take its A1 canonical:
    ``/long/9`` by longer text (its url is the family's largest), and
    ``/tie/0`` by an equal-length text and the smaller url. Returns
    (base rows, batch rows, expected canonical per url), as frames with
    the columns of ``like``. The vocabulary is disjoint from the corpus."""
    import pandas as pd

    def words(fam, n):
        return [f"{fam}{i:03d}q" for i in range(n)]

    long_t = " ".join(words("lng", 80))
    tie_w = words("tie", 80)
    tie_t = " ".join(tie_w)
    tie_edit = " ".join(tie_w[:40] + ["tiezzzq"] + tie_w[41:])  # same length
    base = [
        ("https://a1.example/long/0", long_t),
        ("https://a1.example/long/1", long_t),
        ("https://a1.example/tie/5", tie_t),
        ("https://a1.example/tie/6", tie_t),
    ]
    batch = [
        ("https://a1.example/long/9", long_t + " lngxtra1q lngxtra2q lngxtra3q"),
        ("https://a1.example/tie/0", tie_edit),
    ]
    expected = {u: "https://a1.example/long/9" for u, _ in base[:2] + batch[:1]}
    expected.update({u: "https://a1.example/tie/0" for u, _ in base[2:] + batch[1:]})

    def frame(rows):
        return pd.DataFrame(
            {
                "url": [u for u, _ in rows],
                "warc_ts": like["warc_ts"].iloc[0],
                "html": None,
                "text": [t for _, t in rows],
                "lang": "en",
            }
        )[list(like.columns)]

    return frame(base), frame(batch), expected


def test_incremental_matches_full_run(spark, cfg, corpus, split_corpus, tmp_path_factory):
    import pandas as pd

    all_pdf = corpus[0].drop(columns=["true_text"])
    a1_base, a1_batch, a1_canonical = _a1_takeover_pages(all_pdf)
    base_pdf = pd.concat([split_corpus[0], a1_base], ignore_index=True)
    batch_pdf = pd.concat([split_corpus[1], a1_batch], ignore_index=True)
    all_pdf = pd.concat([all_pdf, a1_base, a1_batch], ignore_index=True)

    wd = tmp_path_factory.mktemp("inc")
    full = run_dedup(
        spark, spark.createDataFrame(all_pdf), cfg, workdir=str(wd / "full")
    )
    base = run_dedup(
        spark, spark.createDataFrame(base_pdf), cfg, workdir=str(wd / "base")
    )
    inc = run_dedup_incremental(
        spark,
        spark.createDataFrame(batch_pdf),
        cfg,
        base_workdir=str(wd / "base"),
        workdir=str(wd / "incr"),
    )

    got = _assignments_map(inc.assignments)
    want = _assignments_map(full.assignments)
    assert set(got) == set(want)
    mismatches = {u: (got[u], want[u]) for u in want if got[u] != want[u]}
    assert not mismatches, f"{len(mismatches)} mismatches, e.g. {list(mismatches.items())[:3]}"
    # a batch doc took over a base cluster's canonical, once by length and
    # once by url (checked against the A1 rule itself, not the full run)
    assert {u: got[u][1] for u in a1_canonical} == a1_canonical

    # clusters table agrees too
    gc = {r["cluster_id"]: (r["size"], r["canonical_url"])
          for r in inc.clusters.collect()}
    wc = {r["cluster_id"]: (r["size"], r["canonical_url"])
          for r in full.clusters.collect()}
    assert gc == wc

    # the increment never recomputed a base signature: its feature stage
    # holds only shas absent from the base run
    inc_feats = inc.store.read("features").select("url").collect()
    base_urls = set(base_pdf["url"])
    assert all(r["url"] not in base_urls for r in inc_feats)


def test_incremental_empty_batch(spark, cfg, split_corpus, tmp_path_factory):
    base_pdf, batch_pdf = split_corpus
    wd = tmp_path_factory.mktemp("inc_empty")
    base = run_dedup(
        spark, spark.createDataFrame(base_pdf), cfg, workdir=str(wd / "base")
    )
    inc = run_dedup_incremental(
        spark,
        spark.createDataFrame(batch_pdf).limit(0),
        cfg,
        base_workdir=str(wd / "base"),
        workdir=str(wd / "incr"),
    )
    assert _assignments_map(inc.assignments) == _assignments_map(base.assignments)


def test_incremental_requires_base(spark, cfg, split_corpus, tmp_path_factory):
    _, batch_pdf = split_corpus
    wd = tmp_path_factory.mktemp("inc_nobase")
    with pytest.raises(ValueError, match="lacks committed stage|requires base"):
        run_dedup_incremental(
            spark,
            spark.createDataFrame(batch_pdf),
            cfg,
            base_workdir=str(wd / "missing"),
            workdir=str(wd / "incr"),
        )


def test_incremental_hot_buckets_match_full_run(spark, tmp_path_factory):
    """r2 ADVICE (medium): with hot_band_cap tiny, most LSH buckets take
    the star path — dup families straddling base/batch must still land in
    one cluster, exactly as the full run clusters them. Pre-fix, a hot
    bucket whose global-min uid was a NEW doc emitted zero new<->base
    pairs and split such families."""
    from sift_kg_spark.fixtures import generate_corpus

    hot_cfg = DedupConfig(hot_band_cap=2)
    pages_pdf = generate_corpus(160, seed=11)[0].drop(columns=["true_text"])
    base_pdf = pages_pdf.iloc[::2].reset_index(drop=True)
    batch_pdf = pages_pdf.iloc[1::2].reset_index(drop=True)

    wd = tmp_path_factory.mktemp("inc_hot")
    full = run_dedup(
        spark, spark.createDataFrame(pages_pdf), hot_cfg,
        workdir=str(wd / "full"),
    )
    run_dedup(
        spark, spark.createDataFrame(base_pdf), hot_cfg,
        workdir=str(wd / "base"),
    )
    want = _assignments_map(full.assignments)
    # with and without a workdir: an in-memory append pins its stages with
    # localCheckpoint instead of committing them
    for incr_workdir in (str(wd / "incr"), None):
        inc = run_dedup_incremental(
            spark,
            spark.createDataFrame(batch_pdf),
            hot_cfg,
            base_workdir=str(wd / "base"),
            workdir=incr_workdir,
        )
        got = _assignments_map(inc.assignments)
        assert set(got) == set(want)
        mism = {u: (got[u], want[u]) for u in want if got[u] != want[u]}
        assert not mism, (
            f"workdir={incr_workdir}: {len(mism)} mismatches, "
            f"e.g. {list(mism.items())[:3]}"
        )


def test_incremental_resume_rebuilds_nothing(spark, cfg, tmp_path_factory):
    """An append re-run on its own committed workdir reads every stage
    back: with an EMPTY batch it returns the same assignments, and its
    store commits no stage."""
    from sift_kg_spark.fixtures import generate_corpus

    pages_pdf = generate_corpus(120, seed=9)[0].drop(columns=["true_text"])
    base_pdf = pages_pdf.iloc[::2].reset_index(drop=True)
    batch = spark.createDataFrame(pages_pdf.iloc[1::2].reset_index(drop=True))
    wd = tmp_path_factory.mktemp("inc_resume")
    run_dedup(
        spark, spark.createDataFrame(base_pdf), cfg, workdir=str(wd / "base")
    )

    def append(pages):
        return run_dedup_incremental(
            spark, pages, cfg, base_workdir=str(wd / "base"),
            workdir=str(wd / "incr"), resume=True,
        )

    first = append(batch)
    expected = _assignments_map(first.assignments)
    resumed = append(batch.limit(0))
    assert _assignments_map(resumed.assignments) == expected
    lineage = resumed.store.lineage()
    assert {"prepared", "candidates", "assignments_delta", "clusters"} <= {
        r.stage for r in lineage.collect()
    }
    rebuilt = lineage.filter(F.col("run_id") == resumed.store.run_id)
    assert [r.stage for r in rebuilt.collect()] == []


def test_incremental_candidates_skip_base_features(
    spark, cfg, corpus, tmp_path_factory
):
    """VERDICT r2 #1: the increment's candidate plan must read the base
    run's committed KEY snapshot, never the base feature table, and its
    base-side key volume must track the touched buckets, not the corpus."""
    from sift_kg_spark.incremental import incremental_candidates
    from sift_kg_spark.operators.lsh import explode_keys
    from sift_kg_spark.pipeline import run_context
    from sift_kg_spark.tableio import StageStore

    pages_pdf = corpus[0].drop(columns=["true_text"])
    base_pdf = pages_pdf.iloc[:-10].reset_index(drop=True)
    batch_pdf = pages_pdf.iloc[-10:].reset_index(drop=True)

    wd = tmp_path_factory.mktemp("inc_plan")
    base_wd = str(wd / "base")
    run_dedup(spark, spark.createDataFrame(base_pdf), cfg, workdir=base_wd)
    inc = run_dedup_incremental(
        spark,
        spark.createDataFrame(batch_pdf),
        cfg,
        base_workdir=base_wd,
        workdir=str(wd / "incr"),
    )

    base = StageStore(spark, base_wd, context=run_context(cfg))
    assert base.exists("keys"), "run_dedup must commit the key snapshot"
    base_keys = base.read("keys")
    new_keys = explode_keys(inc.store.read("features"), cfg)
    cand = incremental_candidates(new_keys, base_keys, cfg)

    # The files the plan scans, as absolute paths: unlike the plan text,
    # which Spark truncates, they do not depend on how long the workdir
    # path is.
    from urllib.parse import urlparse

    scanned = [urlparse(f).path for f in cand.inputFiles()]
    assert not [f for f in scanned if f.startswith(f"{base_wd}/features.parquet/")], (
        "incremental candidate plan re-reads the base FEATURE table"
    )
    assert any(f.startswith(f"{base_wd}/keys.parquet/") for f in scanned)

    # base-side rows entering the exchange ~ O(touched buckets)
    key_cols = ["lang", "key"] if cfg.partition_by_lang else ["key"]
    touched = base_keys.join(
        new_keys.select(*key_cols).distinct(), key_cols, "leftsemi"
    ).count()
    total = base_keys.count()
    assert touched < 0.3 * total, (touched, total)


def test_incremental_rejects_stale_feature_format(spark, cfg):
    """r2 ADVICE: a base written under the old int64-shingle format must
    be rejected, not silently union-coerced into ~0 Jaccards."""
    from sift_kg_spark.incremental import check_base_features_schema

    bad = spark.sql(
        "SELECT CAST(1 AS BIGINT) doc_uid, 'en' lang, "
        "array(CAST(1 AS BIGINT)) shingles, CAST(7 AS BIGINT) simhash, "
        "array(CAST(3 AS BIGINT)) keys"
    )
    with pytest.raises(ValueError, match="incompatible feature format"):
        check_base_features_schema(bad)

    good = spark.sql(
        "SELECT CAST(1 AS BIGINT) doc_uid, 'en' lang, "
        "array(CAST(1 AS INT)) shingles, CAST(7 AS BIGINT) simhash, "
        "array(CAST(3 AS BIGINT)) keys"
    )
    check_base_features_schema(good)  # current format passes


def test_incremental_rejects_corpus_stateful_tiers(spark, tmp_path_factory):
    """Both corpus-stateful tiers now compose with appends — each on its
    own, each demanding its committed base state. A base without the
    capture snapshots (captures/dup_pairs) or the span storage switch
    (extracted/chunk_counts/chunk_docs/dup_pairs) must fail with
    guidance, not silently skip supersession/re-cleaning. The tiers
    TOGETHER stay refused: capture supersession breaks the span tier's
    count-monotonicity contract (docs/ICEBERG.md §6.3)."""
    import pytest

    from sift_kg_spark import DedupConfig
    from sift_kg_spark.fixtures import generate_corpus
    from sift_kg_spark.incremental import run_dedup_incremental

    pages_pdf = generate_corpus(40, seed=3)[0].drop(columns=["true_text"])
    batch = spark.createDataFrame(pages_pdf.iloc[:10])
    base_tables = {
        "prepared": batch.limit(0),
        "features": batch.limit(0),
        "assignments": batch.limit(0),
    }
    with pytest.raises(ValueError, match="storage switch"):
        run_dedup_incremental(
            spark, batch, DedupConfig(span_dedup=True), base_tables=base_tables
        )
    with pytest.raises(ValueError, match="captures"):
        run_dedup_incremental(
            spark,
            batch,
            DedupConfig(capture_dedup=True),
            base_tables=base_tables,
        )
    with pytest.raises(ValueError, match="cannot compose"):
        run_dedup_incremental(
            spark,
            batch,
            DedupConfig(span_dedup=True, capture_dedup=True),
            base_tables=base_tables,
        )


# --------------------------------------------------------------------------
# capture tier: combined-vs-full equality with re-crawls straddling the
# batch split (supersession, tombstones, pair rewrite, cluster repair)
# --------------------------------------------------------------------------

def _ts(day: int):
    import datetime

    return datetime.datetime(2024, 1, day)


def _words(prefix: str, n: int) -> str:
    return " ".join(f"{prefix}{i:03d}" for i in range(n))


_A_RUN = _words("alpha", 30)
_B_RUN = _words("beta", 30)

CAPTURE_CFG = DedupConfig(
    min_text_chars=10, capture_dedup=True, approve_jaccard=0.4
)

# base corpus: every scenario's day-1 captures
_BASE_ROWS = [
    # (1) same-url re-crawl will replace this content entirely
    ("http://a.com/1", 1, _words("acontent", 25)),
    ("http://a.com/twin", 1, _words("acontent", 25)),  # exact twin stays
    # (2) tracking-param spelling; batch re-crawl uses the clean form
    ("http://b.com/x?utm_source=z", 1, _words("bcontent", 25)),
    # (3) base wins: batch arrives with an EARLIER ts
    ("http://c.com/1", 5, _words("ccontent", 25)),
    # (4) containment chain X - BR - Y: BR confirmed against both ends,
    #     X and Y unrelated; superseding BR must SPLIT the cluster
    ("http://d.com/x", 1, _A_RUN + " " + _words("xfill", 6)),
    ("http://d.com/bridge", 1, _A_RUN + " " + _B_RUN),
    ("http://d.com/y", 1, _B_RUN + " " + _words("yfill", 6)),
    # (5) exact family whose min-url member (= rep = label) dies:
    #     u1 < u2 < u3; u3 is a near-dup connected through the rep
    ("http://e.com/u1", 1, _words("econtent", 40)),
    ("http://e.com/u2", 1, _words("econtent", 40)),
    ("http://e.com/u3", 1, _words("econtent", 38) + " odd trailer"),
    # (6) idempotent redelivery target
    ("http://f.com/1", 1, _words("fcontent", 25)),
    # untouched background docs
    ("http://g.com/1", 1, _words("gcontent", 25)),
    ("http://g.com/2", 1, _words("hcontent", 25)),
]

_BATCH_ROWS = [
    # (1) supersede with UNRELATED content: a.com/1 leaves its exact
    #     family; the twin must survive as a singleton
    ("http://a.com/1", 2, _words("newacontent", 25)),
    # (2) clean spelling, same canonical, later ts
    ("http://b.com/x", 2, _words("newbcontent", 25)),
    # (3) loses to the base capture (earlier ts) -> dropped
    ("http://c.com/1#frag", 2, _words("staleccontent", 25)),
    # (4) bridge superseded by unrelated text -> X/Y split
    ("http://d.com/bridge", 2, _words("newdcontent", 25)),
    # (5) kill the exact family's min member/rep/label ...
    ("http://e.com/u1", 2, _words("newecontent", 25)),
    # ... and in the SAME batch add a near-dup of that family: it must
    # pair THROUGH the re-homed representative's keys/features
    ("http://e.com/u9", 2, _words("econtent", 39) + " tail"),
    # (6) byte-identical redelivery: ties the base winner, must drop
    ("http://f.com/1", 1, _words("fcontent", 25)),
    # ordinary new doc
    ("http://h.com/new", 2, _words("icontent", 25)),
    # in-batch re-crawl: later capture of the same canonical wins
    ("http://k.com/p", 3, _words("kcontent", 25)),
    ("http://k.com/p#sec", 4, _words("kcontent2", 25)),
]


def _pages_df(spark, rows):
    return spark.createDataFrame(
        [(u, _ts(d), None, t, "en") for u, d, t in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )


class TestIncrementalCaptureDedup:
    def _run_pair(self, spark, tmp_path_factory, base_rows, batch_rows):
        wd = tmp_path_factory.mktemp("cap")
        full = run_dedup(
            spark,
            _pages_df(spark, base_rows + batch_rows),
            CAPTURE_CFG,
            workdir=str(wd / "full"),
        )
        run_dedup(
            spark,
            _pages_df(spark, base_rows),
            CAPTURE_CFG,
            workdir=str(wd / "base"),
        )
        inc = run_dedup_incremental(
            spark,
            _pages_df(spark, batch_rows),
            CAPTURE_CFG,
            base_workdir=str(wd / "base"),
            workdir=str(wd / "incr"),
        )
        return full, inc

    def test_combined_equals_full(self, spark, tmp_path_factory):
        full, inc = self._run_pair(
            spark, tmp_path_factory, _BASE_ROWS, _BATCH_ROWS
        )
        got = _assignments_map(inc.assignments)
        want = _assignments_map(full.assignments)
        assert set(got) == set(want)
        mism = {u: (got[u], want[u]) for u in want if got[u] != want[u]}
        assert not mism, f"{len(mism)} mismatches: {list(mism.items())[:5]}"
        gc = {r["cluster_id"]: (r["size"], r["canonical_url"])
              for r in inc.clusters.collect()}
        wc = {r["cluster_id"]: (r["size"], r["canonical_url"])
              for r in full.clusters.collect()}
        assert gc == wc

        # the scenarios actually exercised what they claim:
        # (1) the superseded a.com/1 is GONE; its twin survives
        assert "http://a.com/1" in got
        assert got["http://a.com/1"][0] != got["http://a.com/twin"][0]
        assert got["http://a.com/twin"][2] == 1
        # (3) base won: the stale batch capture never appears
        assert "http://c.com/1" in got
        # (4) the bridge's death split X and Y
        assert got["http://d.com/x"][0] != got["http://d.com/y"][0]
        # (5) rep death: u2+u3 stay one cluster with a new label, and the
        # batch near-dup u9 joined it through the RE-HOMED rep's keys
        assert got["http://e.com/u2"][0] == got["http://e.com/u3"][0]
        assert got["http://e.com/u2"][0] == got["http://e.com/u9"][0]
        assert got["http://e.com/u2"][0] == "http://e.com/u2"
        # (6) idempotent redelivery: f.com/1 unchanged as a singleton
        assert got["http://f.com/1"][2] == 1
        # in-batch re-crawl collapsed to the later capture
        assert "http://k.com/p#sec" in got and "http://k.com/p" not in got

    def test_full_run_prestate_is_nontrivial(self, spark, tmp_path_factory):
        """The scenarios only test something if the BASE state really has
        the claimed shape: bridge chain co-clustered, exact family of 3."""
        wd = tmp_path_factory.mktemp("cap_pre")
        base = run_dedup(
            spark, _pages_df(spark, _BASE_ROWS), CAPTURE_CFG,
            workdir=str(wd / "base"),
        )
        m = _assignments_map(base.assignments)
        assert (
            m["http://d.com/x"][0]
            == m["http://d.com/bridge"][0]
            == m["http://d.com/y"][0]
        )
        assert (
            m["http://e.com/u1"][0]
            == m["http://e.com/u2"][0]
            == m["http://e.com/u3"][0]
            == "http://e.com/u1"
        )
        assert m["http://a.com/1"][0] == m["http://a.com/twin"][0]

    def test_batch_capture_needs_warc_ts(self, spark, tmp_path_factory):
        wd = tmp_path_factory.mktemp("cap_nots")
        run_dedup(
            spark, _pages_df(spark, _BASE_ROWS[:3]), CAPTURE_CFG,
            workdir=str(wd / "base"),
        )
        batch = _pages_df(spark, _BATCH_ROWS[:1]).drop("warc_ts")
        with pytest.raises(ValueError, match="warc_ts"):
            run_dedup_incremental(
                spark, batch, CAPTURE_CFG,
                base_workdir=str(wd / "base"), workdir=str(wd / "incr"),
            )


# --------------------------------------------------------------------------
# span tier: combined-vs-full equality when chunks cross min_docs at the
# batch boundary (re-clean tombstones, cluster split, quarantine-on-clean,
# rep death + re-homed pairing, redelivery count idempotency)
# --------------------------------------------------------------------------

def _swords(prefix: str, n: int) -> str:
    return " ".join(f"{prefix}{i:03d}" for i in range(n))


# all shared runs sit at token offset 0 with lengths that are multiples of
# the 4-token chunk grid, so their chunks line up across carriers
_GLUE = _swords("glue", 40)          # 10 chunks; 2 base carriers
_S2 = _swords("pure", 24)            # 6 chunks; 2 base carriers
_CASE_LC = "caseglue aa bb cc"       # 1 chunk, lowercase raw
_CASE_UC = "Caseglue Aa Bb Cc"       # same chunk after NORMALIZATION only
_EBODY = _swords("ebody", 36)
_SHARE3 = "shared3 xx yy zz"         # 1 chunk; 2 base carriers

SPAN_CFG = DedupConfig(
    min_text_chars=10,
    span_dedup=True,
    span_dedup_chunk_tokens=4,
    span_dedup_min_docs=3,
    approve_jaccard=0.4,
)

_SPAN_BASE = [
    # (1) near-dup pair glued ONLY by _GLUE: crossing must split it
    ("http://a.com/1", _GLUE + " " + _swords("afill", 8)),
    ("http://a.com/2", _GLUE + " " + _swords("bfill", 8)),
    # (2) _S2 pure-boilerplate doc: crossing quarantines it (C4 floor)
    ("http://q.com/only", _S2),
    ("http://q.com/other", _S2 + " " + _swords("qfill", 8)),
    # (3) case-variant exact family: same text_norm, DIFFERENT raw chunks.
    #     The lowercase chunk will cross; only b.com/1 (the group's rep —
    #     min url) carries it raw, so the rep dies while b.com/2 survives
    #     and must be re-homed.
    ("http://b.com/1", _CASE_LC + " " + _EBODY),
    ("http://b.com/2", _CASE_UC + " " + _EBODY),
    # background + redelivery trap: _SHARE3 has exactly 2 base carriers;
    # a re-delivered carrier must NOT count again (else it falsely
    # crosses and re-cleans bg.com/3/4, diverging from the full run)
    ("http://bg.com/1", _swords("gfill", 25)),
    ("http://bg.com/3", _SHARE3 + " " + _swords("hfill", 20)),
    ("http://bg.com/4", _SHARE3 + " " + _swords("ifill", 20)),
]

_SPAN_BATCH = [
    # third _GLUE carrier -> crossing -> re-clean a.com/1, a.com/2
    ("http://n.com/1", _GLUE + " " + _swords("nfill", 8)),
    # third _S2 carrier -> q.com/only becomes pure boilerplate
    ("http://n.com/2", _S2 + " " + _swords("mfill", 20)),
    # two lowercase-case-chunk carriers -> _CASE_LC crosses (1 base + 2)
    ("http://n.com/c1", _CASE_LC + " " + _swords("cfill", 20)),
    ("http://n.com/c2", _CASE_LC + " " + _swords("dfill", 20)),
    # near-dup of the SURVIVING case variant: must pair through the
    # re-homed representative's keys/features. Its body is TITLE-cased so
    # its raw chunks are all fresh (count 1 — no accidental crossing of
    # the base family's lowercase ebody chunks) while its NORMALIZED text
    # stays a near-dup of the family.
    (
        "http://b.com/9",
        _CASE_UC
        + " "
        + " ".join(
            f"Ebody{i:03d}" for i in range(34)
        )
        + " oddend zz",
    ),
    # byte-identical redelivery of a _SHARE3 carrier: dropped, NOT counted
    ("http://bg.com/3", _SHARE3 + " " + _swords("hfill", 20)),
    # ordinary new doc
    ("http://n.com/5", _swords("zfill", 25)),
]


def _span_pages(spark, rows):
    return spark.createDataFrame(
        [(u, None, t, "en") for u, t in rows],
        "url string, html binary, text string, lang string",
    )


class TestIncrementalSpanDedup:
    def _run_pair(self, spark, tmp_path_factory):
        wd = tmp_path_factory.mktemp("span")
        # the full-run comparator sees each url ONCE: redelivery is the
        # increment's at-least-once concern, not a property of the corpus
        seen, full_rows = set(), []
        for u, t in _SPAN_BASE + _SPAN_BATCH:
            if u not in seen:
                seen.add(u)
                full_rows.append((u, t))
        full = run_dedup(
            spark, _span_pages(spark, full_rows), SPAN_CFG,
            workdir=str(wd / "full"),
        )
        run_dedup(
            spark, _span_pages(spark, _SPAN_BASE), SPAN_CFG,
            workdir=str(wd / "base"),
        )
        inc = run_dedup_incremental(
            spark,
            _span_pages(spark, _SPAN_BATCH),
            SPAN_CFG,
            base_workdir=str(wd / "base"),
            workdir=str(wd / "incr"),
        )
        return full, inc, wd

    def test_combined_equals_full(self, spark, tmp_path_factory):
        full, inc, wd = self._run_pair(spark, tmp_path_factory)
        got = _assignments_map(inc.assignments)
        want = _assignments_map(full.assignments)
        assert set(got) == set(want)
        mism = {u: (got[u], want[u]) for u in want if got[u] != want[u]}
        assert not mism, f"{len(mism)} mismatches: {list(mism.items())[:5]}"
        gc = {r["cluster_id"]: (r["size"], r["canonical_url"])
              for r in inc.clusters.collect()}
        wc = {r["cluster_id"]: (r["size"], r["canonical_url"])
              for r in full.clusters.collect()}
        assert gc == wc

        # the scenarios actually exercised what they claim:
        # (1) the glue crossing split the a-pair
        assert got["http://a.com/1"][0] != got["http://a.com/2"][0]
        # (2) the pure-boilerplate doc left assignments via quarantine
        assert "http://q.com/only" not in got
        quar = {
            r["url"]: r["reason"] for r in inc.quarantine.collect()
        }
        assert quar.get("http://q.com/only") == "near_empty"
        # (3) rep death: the surviving case variant kept its family and
        # the batch near-dup joined THROUGH the re-homed features
        assert got["http://b.com/9"][0] == got["http://b.com/2"][0]
        # redelivered carrier unchanged, its twin untouched
        assert got["http://bg.com/3"][0] == "http://bg.com/3"
        assert got["http://bg.com/4"][0] == "http://bg.com/4"

    def test_full_run_prestate_is_nontrivial(self, spark, tmp_path_factory):
        """The scenarios only test something if the BASE state has the
        claimed shape: glue pair clustered, q-family clustered with the
        pure-boilerplate doc UNquarantined, case family labeled by the
        doomed rep."""
        wd = tmp_path_factory.mktemp("span_pre")
        base = run_dedup(
            spark, _span_pages(spark, _SPAN_BASE), SPAN_CFG,
            workdir=str(wd / "base"),
        )
        m = _assignments_map(base.assignments)
        assert m["http://a.com/1"][0] == m["http://a.com/2"][0]
        assert "http://q.com/only" in m
        assert m["http://q.com/only"][0] == m["http://q.com/other"][0]
        assert (
            m["http://b.com/1"][0]
            == m["http://b.com/2"][0]
            == "http://b.com/1"
        )

    def test_state_writes_are_batch_scale(self, spark, tmp_path_factory):
        """The increment's chunk state commits are DELTAS: the count
        snapshot covers only the batch's distinct chunks, never the
        corpus vocabulary (O(batch) writes per generation)."""
        _, _, wd = self._run_pair(spark, tmp_path_factory)

        def chunks_of(text):
            toks = text.split(" ")
            return {
                " ".join(toks[i : i + 4]) for i in range(0, len(toks), 4)
            }

        # exactly the batch's own vocabulary (redelivered carrier
        # excluded), with per-chunk counts = distinct batch carriers —
        # never the corpus vocabulary
        expected = {}
        for u, t in _SPAN_BATCH:
            if u == "http://bg.com/3":
                continue
            for c in chunks_of(t):
                expected.setdefault(c, set()).add(u)
        inc_counts = {
            r["chunk"]: r["n_docs"]
            for r in spark.read.parquet(
                str(wd / "incr" / "chunk_counts.parquet")
            ).collect()
        }
        assert inc_counts == {c: len(us) for c, us in expected.items()}
        ext = spark.read.parquet(str(wd / "incr" / "extracted.parquet"))
        batch_urls = {r["url"] for r in ext.select("url").collect()}
        assert batch_urls == {
            u for u, _ in _SPAN_BATCH if u != "http://bg.com/3"
        }, "extracted must hold batch originals minus redelivered urls"
