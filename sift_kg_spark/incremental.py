"""Incremental (append-batch) dedup: new pages join an existing corpus.

The reference re-runs its resolve loop over the whole graph whenever new
documents arrive (/root/reference/src/sift_kg/resolve/engine.py:11-137 —
iterative full-graph passes). At crawl scale that is untenable: a daily
batch must cost O(batch), not O(corpus). This module implements the
append workflow against a completed base run's snapshot directory. It
reads the base, runs the corpus-stateful tiers' prelude
(``_tier_prelude``), then runs the full run's stages
(``pipeline._run_stages``) on the batch; each step below is the base arm
of one of them:

  1. ``prepared``: re-delivered urls drop; doc_uids colliding with the
     base corpus re-key (``batch_prepared``);
  2. ``exact_pairs``: new shas join base representatives;
  3. ``features``: signatures ONLY for new distinct texts — base
     signatures are read back, never recomputed;
  4. ``candidates``: only the base keys in buckets a batch key touches
     enter the exchange (``incremental_candidates``);
  5. ``verified`` / ``spans`` / ``dup_pairs``: base features, texts and
     urls pruned to the uids the new pairs name (broadcast semi-joins,
     no base-side shuffle), plus the rewritten evidence of tombstoned
     docs (``rewritten_evidence``);
  6. ``assignments_delta``: clustering by CONTRACTION
     (``build_assignments_delta``): base clusters enter the component
     graph as single supernodes, so connected components runs over a
     graph orders of magnitude smaller than the corpus. Untouched base
     clusters are carried over without rewriting; only merged clusters
     recompute the A1 canonical.

Cost model per batch: every base-side access is either a broadcast
semi/anti join (narrow scan, no exchange) or a broadcast hash join whose
build side is batch-derived; the only remaining O(corpus) cost is the
narrow columnar base scans themselves (an Iceberg/bloom-filter index is
the seam that would prune those too). Assignments are committed as a
DELTA (``assignments_delta``: every member of every cluster the batch
touched, plus all new docs, each row carrying ``prev_cluster_id``) —
O(touched clusters), not O(corpus); the COMBINED view is derived lazily
from base ∪ delta and only materialized on request
(``materialize_assignments``). At the Iceberg seam the delta is exactly
a MERGE INTO payload (delete prev_cluster_id groups, insert new rows).

Equivalence contract: per-pair decisions are identical to the full run
(same deterministic scores/thresholds); the final partition equals the
full run on the combined corpus whenever candidate coverage does (planted
-class equivalence is pinned by tests/test_incremental.py). cluster_id =
min member url and the A1 canonical rule hold globally because min-label
contraction composes: min(min(A), min(B)) = min(A ∪ B).

Capture tier (``cfg.capture_dedup``): keep-latest-per-canonical-URL is a
monotone max_by fold, so it incrementalizes against a committed
``captures`` snapshot (canonical_url -> winning (warc_ts, url)). A batch
capture that beats the base winner turns that base doc into a TOMBSTONE:
its prepared/features/keys rows leave every base view (broadcast
anti-joins, applied physically only at compaction), its pair evidence is
rewritten onto a surviving same-(sha,lang) doc — identical text, so
scores carry verbatim — or dies with it, and its cluster re-enters
connected components at MEMBER level (removal can split a cluster; the
old label may be the dead doc), with deletion rows (cluster_id NULL) in
the assignments delta carrying the MERGE INTO delete half. Cost stays
O(batch + blast radius); combined == full is pinned by
tests/test_incremental.py::TestIncrementalCaptureDedup across batch
splits where re-crawls straddle the split.

Span tier (``cfg.span_dedup``): chunk occurrence counts are MONOTONE
under appends, so a chunk crosses ``span_dedup_min_docs`` at most once
and carries < min_docs base docs when it does. The base run commits the
storage switch (docs/ICEBERG.md §6.2): ``extracted`` (original text),
``chunk_counts`` (every distinct chunk's count) and ``chunk_docs`` (the
sub-threshold inverted index). An append batch counts its own chunks,
probes the base counts narrowly (broadcast batch chunk set), cleans
itself against the MERGED vocabulary, and re-cleans exactly the base
carriers of newly-crossing chunks — those docs' text changes, so they
ride the same tombstone machinery as superseded captures (old evidence
re-attributed to an identical-text_norm survivor or recomputed) and
re-enter the pipeline as batch docs. Per-generation writes are count
DELTAS (batch-scale); the current count is a sum over base + deltas.
capture_dedup + span_dedup together are refused: supersession replaces
text, counts stop being monotone, and restoring a de-crossed chunk's
spans would need a full O(corpus-tokens) inverted index (§6.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sift_kg_spark.config import DEFAULT_CONFIG, DedupConfig
from sift_kg_spark.functions.features import FEATURE_BASE_DTYPES
from sift_kg_spark.operators.components import connected_components
from sift_kg_spark.operators.lsh import candidate_pairs_incremental, explode_keys
from sift_kg_spark.pipeline import (
    PAIR_COLUMNS,
    BaseViews,
    DedupResult,
    _committer,
    _run_stages,
    featurize,
    prepare_docs,
    run_context,
    with_canonical,
)
from sift_kg_spark.tableio import StageStore


# Base stages an append reads, when the base committed them: the required
# three, the "keys" table (derived from features when missing), and the
# capture and span tiers' state.
BASE_STAGES = (
    "prepared",
    "features",
    "assignments",
    "keys",
    "captures",
    "dup_pairs",
    "extracted",
    "chunk_counts",
    "chunk_docs",
)

ASSIGNMENT_COLUMNS = ("url", "cluster_id", "canonical_url", "cluster_size")


def check_tiers_compose(cfg: DedupConfig) -> None:
    """Refuse ``span_dedup`` with ``capture_dedup`` on the append and
    stream paths.

    Each tier appends on its own: capture supersession through tombstones,
    the span tier through append-monotone chunk counts. Together, a
    supersession replaces text, so a crossed chunk can fall back below
    ``span_dedup_min_docs``, and restoring its spans would need a full
    O(corpus-tokens) inverted index instead of the sub-threshold one the
    span tier keeps (docs/ICEBERG.md §6.3).
    """
    if cfg.span_dedup and cfg.capture_dedup:
        raise ValueError(
            "span_dedup + capture_dedup cannot compose in incremental or "
            "streaming mode: capture supersession replaces document text, "
            "so chunk occurrence counts are no longer append-monotone — "
            "a boilerplate chunk can de-cross min_docs, and restoring its "
            "spans would require a full inverted index over every chunk "
            "(O(corpus tokens) state). Run the combined tiers as a batch "
            "rebuild, or append with one tier at a time. See "
            "docs/ICEBERG.md §6.3."
        )


def fold_assignments_delta(combined: DataFrame, delta: DataFrame) -> DataFrame:
    """MERGE an ``assignments_delta`` into a combined assignments table.

    The delta carries every member of every cluster it touched, each base
    row tagged with its ``prev_cluster_id``: drop those clusters, then
    append the delta rows. Deletion rows (``cluster_id`` null, capture
    tombstones) drop their previous cluster and insert nothing. The
    touched-id probe set is one row per merged cluster, batch-scale, so
    it broadcasts safely where the delta's full membership might not.
    """
    touched = (
        delta.select(F.col("prev_cluster_id").alias("cluster_id"))
        .filter(F.col("cluster_id").isNotNull())
        .distinct()
    )
    untouched = combined.join(
        F.broadcast(touched), "cluster_id", "leftanti"
    ).select(*ASSIGNMENT_COLUMNS)
    return untouched.unionByName(
        delta.filter(F.col("cluster_id").isNotNull()).select(
            *ASSIGNMENT_COLUMNS
        )
    )


def check_base_features_schema(base_features: DataFrame) -> None:
    """Reject a base feature snapshot written under another format.

    StageStore's context fingerprint (pipeline.run_context) already
    rejects cross-version bases at the manifest level; this direct check
    also covers the ``base_tables`` path and hand-assembled bases. Without
    it Spark would coerce e.g. an int64-shingle base union to
    array<bigint> and every cross-generation Jaccard would compute ~0 —
    silent recall loss.
    """
    actual = dict(base_features.dtypes)
    for col, want in FEATURE_BASE_DTYPES.items():
        got = actual.get(col)
        if got != want:
            raise ValueError(
                f"base feature snapshot column '{col}' has type {got!r}, "
                f"current format requires {want!r} — the base was produced "
                "under an incompatible feature format; re-run the base "
                "pipeline (or migrate the snapshot) before appending"
            )


def incremental_candidates(
    new_keys: DataFrame, base_keys: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """Candidate pairs for an append batch, base side pruned BY KEY.

    ``new_keys``/``base_keys``: (doc_uid, lang, key) exploded key tables
    (pipeline "keys" stage shape). The batch's distinct key set is
    broadcast against the base key snapshot, so only base keys landing in
    a bucket the batch touches ever enter the pairing exchange — the
    base-side shuffle is O(touched), not O(corpus). The base FEATURE
    table is never read here at all.

    Broadcast sizing: the probe set is ~44 distinct int64 keys per batch
    doc (~1 MB per 3k docs) — far under the 8 GB broadcast ceiling for
    any sane micro-batch; a backfill large enough to breach it should run
    as a fresh base build (run_dedup), which is cheaper than incremental
    at that size anyway.
    """
    key_cols = ["lang", "key"] if cfg.partition_by_lang else ["key"]
    tagged_new = new_keys.withColumn("is_new", F.lit(True))
    new_key_set = new_keys.select(*key_cols).distinct()
    touched = base_keys.join(
        F.broadcast(new_key_set), on=key_cols, how="leftsemi"
    ).withColumn("is_new", F.lit(False))
    return candidate_pairs_incremental(
        tagged_new.unionByName(touched), cfg
    )


def _tier_prelude(
    new_pages: DataFrame,
    cfg: DedupConfig,
    base_tables: dict[str, DataFrame],
    commit,
) -> tuple[DataFrame, BaseViews]:
    """Section 0 of an append: the corpus-stateful tiers' decisions.

    Returns the effective batch and the base views without the base docs
    the tiers kill. ``commit`` is the stage commit of the append
    (``pipeline._committer``); ``base_tables`` holds a ``keys`` table."""
    base_prepared = base_tables["prepared"]
    base_features = base_tables["features"]
    base_keys = base_tables["keys"]
    base_captures = base_tables.get("captures")
    base_pairs = base_tables.get("dup_pairs")
    base_extracted = base_tables.get("extracted")
    base_chunk_counts = base_tables.get("chunk_counts")
    base_chunk_docs = base_tables.get("chunk_docs")
    group_cols = ["sha", "lang"] if cfg.partition_by_lang else ["sha"]

    # ---- 0. corpus-stateful tiers: supersede/re-clean decisions ------------
    # Each active tier computes (a) the EFFECTIVE batch (surviving
    # captures, or span-cleaned batch ∪ re-cleaned base docs) and (b) the
    # base docs it kills (``dead_urls_src``); the shared tombstone
    # machinery below then removes those docs from every base view,
    # re-attributes their evidence to identical-text survivors, and
    # repairs their clusters at member level. Everything here is
    # batch-scale probes against narrow base scans — no base-side shuffle.
    tombstones: DataFrame | None = None
    rewrite_map: DataFrame | None = None
    dead_urls_src: DataFrame | None = None
    if cfg.capture_dedup:
        # keep-latest-per-canonical-URL against the committed captures
        # snapshot. A batch capture SURVIVES iff its (warc_ts, url) total
        # order beats the base winner for its canonical URL (ties lose —
        # re-delivered identical captures drop out, the idempotency rule
        # of this tier).
        from sift_kg_spark.functions.urls import canonicalize, latest_captures

        if "warc_ts" not in new_pages.columns:
            raise ValueError(
                "capture_dedup in incremental mode needs a warc_ts column "
                "on the batch"
            )
        bcano = canonicalize(latest_captures(new_pages)).localCheckpoint(
            eager=False
        )
        base_hit = base_captures.join(
            F.broadcast(bcano.select("canonical_url").distinct()),
            "canonical_url",
            "leftsemi",
        ).select(
            "canonical_url",
            F.col("url").alias("_base_url"),
            F.col("warc_ts").alias("_base_ts"),
        )
        joined = bcano.join(F.broadcast(base_hit), "canonical_url", "left")
        batch_wins = F.col("_base_url").isNull() | (
            F.struct(F.col("warc_ts"), F.col("url"))
            > F.struct(F.col("_base_ts"), F.col("_base_url"))
        )
        surviving = joined.filter(batch_wins)
        commit(
            "captures",
            lambda: surviving.select("canonical_url", "url", "warc_ts"),
            ("pages",),
        )
        dead_urls_src = surviving.filter(
            F.col("_base_url").isNotNull()
        ).select(F.col("_base_url").alias("url"))

        # the surviving batch rows ARE the effective batch; warc_ts is
        # dropped so prepare_stage's own capture branch (batch-local
        # latest_captures — already applied here) stays off.
        page_cols = [c for c in new_pages.columns if c != "warc_ts"]
        new_pages = surviving.select(*page_cols)
    elif cfg.span_dedup:
        # C4 span tier against the committed chunk state. Counts are
        # append-MONOTONE, so a chunk crosses span_dedup_min_docs at most
        # once; at crossing time its base carriers number < min_docs
        # (they are read from the sub-threshold inverted index) and must
        # be RE-CLEANED: their text changes, so they tombstone out of
        # every base view and re-enter the pipeline as batch docs — the
        # same life cycle as a superseded capture, minus nothing.
        from sift_kg_spark.operators.linededup import (
            chunk_segments,
            clean_against,
        )

        min_docs = cfg.span_dedup_min_docs

        def build_batch_ext() -> DataFrame:
            # original extracted text of the batch (column pruning drops
            # prepare_docs' normalize UDF — only url/lang/text are read),
            # minus re-delivered urls: the base decision stands for them,
            # and counting them again would double-count chunk carriers
            # the base snapshot already counted.
            ext = prepare_docs(new_pages, cfg).select("url", "lang", "text")
            hits = base_prepared.select("url").join(
                F.broadcast(ext.select("url").distinct()), "url", "leftsemi"
            )
            return ext.join(F.broadcast(hits), "url", "leftanti")

        # committed so chained generations count THIS batch's originals
        # and re-clean them when a later crossing hits one
        batch_ext = commit("extracted", build_batch_ext, ("pages",))
        batch_chunks = chunk_segments(
            batch_ext, "url", "text", cfg.span_dedup_chunk_tokens
        )
        # per-generation COUNT DELTA (chunk, n_docs) — batch-scale write;
        # the current corpus count of a chunk is the SUM over the base
        # snapshot + deltas, so readers aggregate after probing.
        batch_counts = commit(
            "chunk_counts",
            lambda: batch_chunks.groupBy("chunk").agg(
                F.countDistinct("url").alias("n_docs")
            ),
            ("extracted",),
        )
        probe = batch_counts.select("chunk").distinct()
        base_n = (
            base_chunk_counts.join(F.broadcast(probe), "chunk", "leftsemi")
            .groupBy("chunk")
            .agg(F.sum("n_docs").alias("base_n"))
        )
        merged = (
            batch_counts.withColumnRenamed("n_docs", "batch_n")
            .join(base_n, "chunk", "left")
            .withColumn(
                "total", F.col("batch_n") + F.coalesce("base_n", F.lit(0))
            )
            .localCheckpoint(eager=False)
        )
        # chunks crossing min_docs NOW with >= 1 base carrier. Index rows
        # of chunks that crossed in an EARLIER generation are stale but
        # harmless: their current base count is already >= min_docs, so
        # base_n < min_docs excludes them here.
        crossing = merged.filter(
            (F.col("total") >= min_docs)
            & F.col("base_n").isNotNull()
            & (F.col("base_n") < min_docs)
        ).select("chunk")
        recleans = (
            base_chunk_docs.join(F.broadcast(crossing), "chunk", "leftsemi")
            .select("url")
            .distinct()
            .localCheckpoint(eager=False)
        )
        # sub-threshold index ADDITIONS for the next increment: batch
        # carriers of chunks still below min_docs after the merge
        commit(
            "chunk_docs",
            lambda: batch_chunks.select("chunk", "url")
            .distinct()
            .join(
                F.broadcast(
                    merged.filter(F.col("total") < min_docs).select("chunk")
                ),
                "chunk",
                "leftsemi",
            ),
            ("chunk_counts",),
        )
        # re-clean (batch ∪ crossing carriers) against the MERGED
        # vocabulary: every chunk THEY carry whose corpus-wide count
        # reaches min_docs. A re-cleaned doc's own chunks are already in
        # the base counts (batch_counts covers batch urls only), so the
        # sum never double-counts.
        reclean_ext = base_extracted.join(
            F.broadcast(recleans), "url", "leftsemi"
        )
        work_ext = batch_ext.unionByName(reclean_ext).localCheckpoint(
            eager=False
        )
        work_chunks = chunk_segments(
            work_ext, "url", "text", cfg.span_dedup_chunk_tokens
        )
        wprobe = work_chunks.select("chunk").distinct()
        base_n_w = (
            base_chunk_counts.join(F.broadcast(wprobe), "chunk", "leftsemi")
            .groupBy("chunk")
            .agg(F.sum("n_docs").alias("_bn"))
        )
        vocab = (
            wprobe.join(base_n_w, "chunk", "left")
            .join(
                batch_counts.withColumnRenamed("n_docs", "_cn"),
                "chunk",
                "left",
            )
            .filter(
                F.coalesce("_bn", F.lit(0)) + F.coalesce("_cn", F.lit(0))
                >= min_docs
            )
            .select("chunk")
        )
        cleaned = clean_against(work_chunks, vocab, "url")
        # null-text docs have no chunks (no ``cleaned`` row) and keep
        # their null text -> extraction_failed quarantine, exactly as the
        # full run's prepare; every non-null text has >= 1 chunk row.
        work_pages = (
            work_ext.join(
                cleaned.select("url", F.col("clean_text").alias("_ct")),
                "url",
                "left",
            )
            .select(
                "url",
                F.lit(None).cast("binary").alias("html"),
                F.when(
                    F.col("text").isNotNull(), F.coalesce("_ct", F.lit(""))
                )
                .otherwise(F.lit(None).cast("string"))
                .alias("text"),
                "lang",
            )
        )
        dead_urls_src = recleans
        # the effective batch: span-cleaned batch docs ∪ re-cleaned base
        # docs. Text is already extracted + cleaned, so prepare runs with
        # the span tier off (build_prepared switches the flag).
        new_pages = work_pages

    if dead_urls_src is not None:
        # ---- shared tombstone machinery (capture supersession OR span
        # re-clean): the dead doc's prepared/features/keys rows leave
        # every base view below via broadcast anti-joins (applied
        # physically only at compaction), its pair evidence is rewritten
        # onto a surviving same-(sha,lang) doc — identical text_norm, so
        # scores carry verbatim — or dies with it, and its cluster is
        # repaired at member level in the delta builder.
        def build_tombstones() -> DataFrame:
            return base_prepared.select(
                "url", "doc_uid", "sha", "lang", "reason"
            ).join(F.broadcast(dead_urls_src), "url", "leftsemi")

        tombstones = commit("tombstones", build_tombstones, ("pages",))
        tomb_urls = tombstones.select("url")
        tomb_uids = tombstones.select("doc_uid")

        # every base view downstream sees the corpus WITHOUT the dead
        # docs — exactly the corpus a full run over (base ∪ batch) sees
        base_prepared = base_prepared.join(
            F.broadcast(tomb_urls), "url", "leftanti"
        )

        # rewrite map: dead url -> min surviving base doc of the same
        # (sha, lang) group (identical text, so every pair/edge naming
        # the dead doc re-attributes to it verbatim); null when the
        # group has no base survivor (the pair dies with the doc).
        dead_live = tombstones.filter(F.col("reason").isNull())
        surv_min = (
            base_prepared.filter(F.col("reason").isNull())
            .join(
                F.broadcast(dead_live.select(*group_cols).distinct()),
                group_cols,
                "leftsemi",
            )
            .groupBy(*group_cols)
            .agg(F.min("url").alias("repl_url"))
        )
        rewrite_map = dead_live.select("url", *group_cols, "doc_uid").join(
            F.broadcast(surv_min), group_cols, "left"
        ).select(F.col("url").alias("dead_url"), "doc_uid", "repl_url")

        # re-home the feature/key rows of (sha, lang) groups whose stored
        # representative died but that keep base survivors: the new rep is
        # the group's min surviving url (what a full run would pick), its
        # signature recomputed from the identical text — one UDF call per
        # such group, bounded by the tombstone count.
        def build_features_rehomed() -> DataFrame:
            dead_rep_uids = base_features.select("doc_uid").join(
                F.broadcast(tomb_uids), "doc_uid", "leftsemi"
            )
            rehome_groups = (
                dead_live.join(
                    F.broadcast(dead_rep_uids), "doc_uid", "leftsemi"
                )
                .join(F.broadcast(surv_min), group_cols, "inner")
                .select(*group_cols, F.col("repl_url").alias("url"))
                .distinct()
            )
            reps = base_prepared.filter(F.col("reason").isNull()).join(
                F.broadcast(rehome_groups), [*group_cols, "url"], "inner"
            )
            return featurize(reps, cfg)

        features_rehomed = commit(
            "features_rehomed", build_features_rehomed, ("tombstones",)
        )
        keys_rehomed = commit(
            "keys_rehomed",
            lambda: explode_keys(features_rehomed, cfg),
            ("features_rehomed",),
        )
        base_features = base_features.join(
            F.broadcast(tomb_uids), "doc_uid", "leftanti"
        ).unionByName(features_rehomed)
        base_keys = base_keys.join(
            F.broadcast(tomb_uids), "doc_uid", "leftanti"
        ).unionByName(keys_rehomed)

    return new_pages, BaseViews(
        prepared=base_prepared,
        features=base_features,
        keys=base_keys,
        assignments=base_tables["assignments"],
        pairs=base_pairs,
        tombstones=tombstones,
        rewrite_map=rewrite_map,
    )


def batch_prepared(
    prepared: DataFrame, base_prepared: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """The batch's ``prepared`` rows against the base: re-delivered urls
    dropped, and doc_uids that collide with a base uid re-keyed."""
    # checkpoint the extracted batch once: it feeds the main plan plus
    # two broadcast probe sets below, and the pandas-UDF extraction
    # chain should run once per batch, not once per reference.
    inc = prepared.localCheckpoint(eager=False)
    if not cfg.capture_dedup:
        # Idempotent re-delivery: urls already in the base corpus are
        # not re-deduped (the base decision stands). The redelivered
        # set is found by streaming the base url column against the
        # BROADCAST batch url set (narrow base scan, no exchange),
        # then anti-joining the tiny hit set back — the batch side is
        # small by definition; the base side never shuffles. (In
        # capture mode the supersede logic above IS the idempotency
        # rule: a re-delivered capture ties its own base row and
        # loses, and a same-url re-CRAWL legitimately replaces it.
        # In span mode the batch was already redelivery-filtered in
        # section 0; re-cleaned base docs pass here BECAUSE the base
        # view is tombstone-filtered — their old rows are gone.)
        url_hits = base_prepared.select("url").join(
            F.broadcast(inc.select("url").distinct()), "url", "leftsemi"
        )
        inc = inc.join(F.broadcast(url_hits), "url", "leftanti")
    # uid uniqueness must hold across base ∪ batch: within-batch
    # collisions were rescued inside prepare_stage; cross-base ones
    # re-key here. Same pattern: narrow base uid scan vs broadcast
    # batch uid set -> tiny collision table -> broadcast back.
    uid_hits = (
        base_prepared.select("doc_uid")
        .join(
            F.broadcast(inc.select("doc_uid").distinct()),
            "doc_uid",
            "leftsemi",
        )
        .withColumn("_in_base", F.lit(True))
    )
    return (
        inc.join(F.broadcast(uid_hits), "doc_uid", "left")
        .withColumn(
            "doc_uid",
            F.when(
                F.col("_in_base").isNotNull(),
                F.xxhash64("url", F.lit("#uid-rekey-base")),
            ).otherwise(F.col("doc_uid")),
        )
        .drop("_in_base")
    )


def rewritten_evidence(
    base_pairs: DataFrame, rewrite_map: DataFrame
) -> DataFrame:
    """Base pair evidence that named a dead doc, re-attributed through
    ``rewrite_map(dead_url, repl_url)``."""
    # A dead doc is a superseded capture or a span re-clean. (dead, x)
    # rewrites to (repl, x) — identical text, so every score/status
    # carries over verbatim; pairs whose dead side has no surviving
    # same-sha doc die with it; rewrites that collapse both ends onto one
    # doc become self-loops and drop. Committing the rewritten rows with
    # the batch's dup_pairs keeps the evidence readable by future
    # generations after the tombstone filter hides the originals. One
    # narrow scan of the base pair table against the broadcast
    # (batch-scale) rewrite map.
    rm = rewrite_map.select("dead_url", "repl_url")
    pab = base_pairs
    for end in ("a", "b"):
        pab = pab.join(
            F.broadcast(
                rm.select(
                    F.col("dead_url").alias(f"url_{end}"),
                    F.col("repl_url").alias(f"_r{end}"),
                    F.lit(True).alias(f"_d{end}"),
                )
            ),
            f"url_{end}",
            "left",
        )
    touched = pab.filter(F.col("_da").isNotNull() | F.col("_db").isNotNull())
    ok = touched.filter(
        (F.col("_da").isNull() | F.col("_ra").isNotNull())
        & (F.col("_db").isNull() | F.col("_rb").isNotNull())
    )
    return (
        ok.withColumn("_na", F.coalesce("_ra", F.col("url_a")))
        .withColumn("_nb", F.coalesce("_rb", F.col("url_b")))
        .filter(F.col("_na") != F.col("_nb"))
        .withColumn("url_a", F.least("_na", "_nb"))
        .withColumn("url_b", F.greatest("_na", "_nb"))
        .select(*PAIR_COLUMNS)
        .dropDuplicates(PAIR_COLUMNS)
    )


def build_assignments_delta(
    dup_pairs: DataFrame, docs: DataFrame, base: BaseViews, cfg: DedupConfig
) -> DataFrame:
    """An append's clustering by contraction (step 6 above): the
    ``assignments_delta`` of the batch's confirmed edges ``dup_pairs``
    and its docs ``docs`` against the base."""
    tombstones = base.tombstones
    edges = dup_pairs.filter(F.col("status") == "confirmed").select(
        "url_a", "url_b"
    )
    # Capture repair: any base cluster that lost a member to a
    # tombstone re-enters connected components at MEMBER level — its
    # old label may be the dead doc's url, and removing a bridge doc
    # can legitimately SPLIT it — with its surviving internal
    # evidence. Edges incident to the dead doc arrive as the
    # REWRITTEN rows already in dup_pairs; the untouched live-live
    # edges are pulled from the base pair table here (one narrow
    # scan against the blast-radius member set).
    dead_clusters = live_members = None
    if tombstones is not None:
        dead_urls_df = tombstones.select("url")
        dead_assigned = base.assignments.join(
            F.broadcast(dead_urls_df), "url", "leftsemi"
        )
        dead_clusters = dead_assigned.select("cluster_id").distinct()
        dead_members = base.assignments.join(
            F.broadcast(dead_clusters), "cluster_id", "leftsemi"
        )
        live_members = dead_members.join(
            F.broadcast(dead_urls_df), "url", "leftanti"
        ).localCheckpoint(eager=False)
        internal = (
            base.pairs.filter(F.col("status") == "confirmed")
            .select("url_a", "url_b")
            # confirmed edges never cross clusters, so membership of
            # one endpoint implies the pair belongs to the cluster
            .join(
                live_members.select(F.col("url").alias("url_a")),
                "url_a",
                "leftsemi",
            )
        )
        for end in ("url_a", "url_b"):
            internal = internal.join(
                F.broadcast(dead_urls_df.select(F.col("url").alias(end))),
                end,
                "leftanti",
            )
        edges = edges.unionByName(internal)
    # contract base clusters to their cluster_id supernode (the label
    # IS the cluster's min url, so min-label CC composes globally).
    # Only urls that appear in a new edge need their supernode lookup:
    # prune the assignment map to the (tiny) edge-url set first, then
    # broadcast it into the left joins — the base assignment table is
    # scanned narrowly, never shuffled. Dead-touched clusters are
    # EXCLUDED from contraction (their members stay member-level).
    edge_urls = (
        edges.select(F.col("url_a").alias("url"))
        .unionByName(edges.select(F.col("url_b").alias("url")))
        .distinct()
    )
    node_src = base.assignments.select("url", "cluster_id")
    if tombstones is not None:
        node_src = node_src.join(
            F.broadcast(dead_clusters), "cluster_id", "leftanti"
        )
    node_of = node_src.select(
        "url", F.col("cluster_id").alias("node")
    ).join(F.broadcast(edge_urls), "url", "leftsemi")
    contracted = edges
    for end in ("a", "b"):
        contracted = contracted.join(
            F.broadcast(
                node_of.withColumnRenamed("url", f"url_{end}")
                .withColumnRenamed("node", f"_n{end}")
            ),
            f"url_{end}",
            "left",
        )
    contracted = contracted.select(
        F.coalesce("_na", "url_a").alias("url_a"),
        F.coalesce("_nb", "url_b").alias("url_b"),
    ).filter(F.col("url_a") != F.col("url_b"))
    merged = connected_components(contracted, cfg.max_cc_iterations)
    # merged: (url=supernode-or-member-or-new-url, cluster_id=label)

    # members of every affected SUPERNODE cluster, with n_chars for
    # the A1 rule. The label map is restricted to actual supernode
    # ids (node_of's node values — batch-scale by construction), so
    # the broadcast stays safe even when capture repair makes
    # ``merged`` blast-radius-sized, and a member url that happens to
    # EQUAL a dead cluster's id can never re-import that cluster.
    super_ids = node_of.select(F.col("node").alias("url")).distinct()
    label_map = merged.join(F.broadcast(super_ids), "url", "leftsemi")
    affected_base = base.assignments.join(
        F.broadcast(
            label_map.select(
                F.col("url").alias("cluster_id"),
                F.col("cluster_id").alias("_label"),
            )
        ),
        "cluster_id",
    ).select("url", F.col("cluster_id").alias("prev_cluster_id"), "_label")
    # affected_base is CLUSTER-scale (the full membership of every
    # base cluster a new edge touched), NOT batch-scale: one new doc
    # merging into a giant boilerplate cluster makes it that cluster's
    # size. No broadcast hint here — AQE broadcasts it only when the
    # measured build side is actually small (r3 ADVICE).
    base_members = base.prepared.select("url", "n_chars").join(
        affected_base, "url"
    ).select(
        "url", F.col("_label").alias("cluster_id"), "n_chars",
        "prev_cluster_id",
    )
    label_all = merged.withColumnRenamed("cluster_id", "_label")
    # capture repair makes ``merged`` blast-radius-sized; drop the
    # broadcast hint there and let AQE size the join
    lbl = label_all if tombstones is not None else F.broadcast(label_all)
    new_members = (
        docs.select("url", "n_chars")
        .join(lbl, "url", "left")
        .select(
            "url",
            F.coalesce("_label", F.col("url")).alias("cluster_id"),
            "n_chars",
            F.lit(None).cast("string").alias("prev_cluster_id"),
        )
    )
    affected = base_members.unionByName(new_members)
    if tombstones is not None:
        # surviving members of repaired clusters: CC label when they
        # kept an edge, singleton (their own url) otherwise — and an
        # edgeless survivor is still a delta row (its old cluster id
        # is being dropped). Dead docs themselves become DELETION
        # rows: cluster_id NULL, prev_cluster_id = the cluster to
        # drop — the MERGE INTO delete half with nothing re-inserted.
        dead_rows = (
            live_members.select(
                "url", F.col("cluster_id").alias("prev_cluster_id")
            )
            .join(label_all, "url", "left")
            .join(base.prepared.select("url", "n_chars"), "url")
            .select(
                "url",
                F.coalesce("_label", F.col("url")).alias("cluster_id"),
                "n_chars",
                "prev_cluster_id",
            )
        )
        affected = affected.unionByName(dead_rows)
    out = with_canonical(affected)
    if tombstones is not None:
        prev_hits = dead_assigned.select(
            "url", F.col("cluster_id").alias("prev_cluster_id")
        )
        tomb_rows = (
            dead_urls_df.join(F.broadcast(prev_hits), "url", "left")
            .select(
                "url",
                F.lit(None).cast("string").alias("cluster_id"),
                F.lit(None).cast("string").alias("canonical_url"),
                F.lit(None).cast("long").alias("cluster_size"),
                "prev_cluster_id",
            )
        )
        out = out.unionByName(tomb_rows)
    return out


def run_dedup_incremental(
    spark: SparkSession,
    new_pages: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    base_workdir: str | None = None,
    workdir: str | None = None,
    resume: bool = True,
    base_tables: dict[str, DataFrame] | None = None,
    materialize_assignments: bool = True,
) -> DedupResult:
    """Dedup an append batch against a completed base run.

    ``base_workdir``: snapshot dir of the base :func:`run_dedup` run
    (read-only here); every committed stage of :data:`BASE_STAGES` is read
    with its manifest schema. Alternatively ``base_tables`` supplies the
    same dict directly ({"prepared", "features", "assignments"} required,
    the rest optional) — the streaming wrapper uses this to present a
    UNION of per-batch generation tables without ever rewriting them.
    ``workdir``: snapshot dir for this increment's own stages. Returns a
    :class:`DedupResult` whose ``assignments`` / ``clusters`` cover the
    COMBINED corpus (base + batch) and whose ``dup_pairs`` /
    ``review_pairs`` carry only the new evidence.

    ``materialize_assignments``: when True (default, the one-shot append
    workflow) the combined assignments/clusters tables are committed to
    ``workdir`` like every other stage. When False (the streaming
    wrapper) only the O(touched-clusters) ``assignments_delta`` stage is
    written; the returned combined tables are lazy views over
    base ∪ delta, and the per-generation write volume is bounded by the
    batch's blast radius instead of the corpus.
    """
    check_tiers_compose(cfg)
    if base_tables is None:
        if base_workdir is None:
            raise ValueError(
                "run_dedup_incremental requires base_workdir or base_tables"
            )
        base_store = StageStore(spark, base_workdir, context=run_context(cfg))
        for required in ("prepared", "features", "assignments"):
            if not base_store.exists(required):
                raise ValueError(
                    f"base run at {base_workdir} lacks committed stage "
                    f"'{required}' (or was produced under a different config)"
                )
        base_tables = {
            name: base_store.read(name)
            for name in BASE_STAGES
            if base_store.exists(name)
        }
    has = {name for name, df in base_tables.items() if df is not None}
    if cfg.capture_dedup and not {"captures", "dup_pairs"} <= has:
        raise ValueError(
            "capture_dedup in incremental mode needs the base run's "
            "'captures' and 'dup_pairs' snapshots (a capture_dedup=True "
            "run_dedup with a workdir commits both); the supplied base "
            "lacks them"
        )
    if cfg.span_dedup and not {
        "extracted", "chunk_counts", "chunk_docs", "dup_pairs"
    } <= has:
        raise ValueError(
            "span_dedup in incremental mode needs the base run's "
            "'extracted', 'chunk_counts', 'chunk_docs' and 'dup_pairs' "
            "snapshots — the span tier's storage switch (a "
            "span_dedup=True run_dedup with a workdir commits all four; "
            "see docs/ICEBERG.md §6.2); the supplied base lacks them"
        )
    check_base_features_schema(base_tables["features"])
    if "keys" not in has:
        # pre-"keys"-stage base (or hand-assembled base_tables): derive the
        # key table once from the base features — the one path that still
        # re-explodes the base; committed bases never take it.
        base_tables = {
            **base_tables,
            "keys": explode_keys(
                base_tables["features"].select("doc_uid", "lang", "keys"), cfg
            ),
        }

    store = (
        StageStore(
            spark, workdir, context={**run_context(cfg), "base": base_workdir}
        )
        if workdir
        else None
    )
    new_pages, base = _tier_prelude(
        new_pages, cfg, base_tables, _committer(store, resume, append=True)
    )
    return _run_stages(
        spark, new_pages, cfg, store, resume, base, materialize_assignments
    )
