"""End-to-end dedup pipeline: pages -> duplicate clusters.

Stage map (each stage = one committed snapshot when a ``workdir`` is given;
arrows are DataFrame transformations, shuffles marked):

    pages(url, warc_ts, html, text, lang)
      │  extract: text := coalesce(text, extract_text_udf(html))   [narrow]
      │  normalize + sha2(text_norm)                               [narrow]
      ├─ quarantine (null/near-empty text)                         [narrow]
      ▼
    docs ──► exact_pairs (groupBy sha)                       [shuffle: sha]
      │  exact representatives (one per distinct sha)        [shuffle: sha]
      ▼
    features (signature UDF over representatives)                  [narrow]
      ▼
    keys (posexplode bands/chunks/anchors)                         [narrow]
      ▼
    candidates (bucket sizes + self-join, hot-band star)     [shuffle: key]
      ▼
    verified (2 joins on uid + array_intersect + bit_count)  [shuffle: uid]
      ▼
    spans (suffix-array over still-flagged pairs)            [shuffle: uid]
      ▼
    dup_pairs = exact ∪ confirmed;  review_pairs = flagged
      ▼
    assignments (connected components: edge list finished on the driver,
      │          star rounds only above the edge budget;
      │          A1 canonical rule per cluster)          [shuffle: cluster]
      ▼
    clusters (size + canonical per cluster)              [shuffle: cluster]

Decision semantics per stage are documented in the operator modules; this
module wires them together and owns checkpoint/resume ordering. The stage
list above is wired once, in ``_run_stages``, and runs in two modes:

- a full run (``run_dedup``): no base; clustering is global connected
  components plus the A1 canonical;
- an append (``incremental.run_dedup_incremental``, which every stream
  generation also runs): ``pages`` is the batch, each stage's ``base``
  arm adds the base-side rows or probes, the keys table is always
  committed, and clustering is by contraction
  (``incremental.build_assignments_delta``) into an ``assignments_delta``
  folded onto the base assignments.
"""

from __future__ import annotations

from dataclasses import asdict, dataclass, replace

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sift_kg_spark.config import DEFAULT_CONFIG, DedupConfig
from sift_kg_spark.functions.features import FEATURE_FORMAT, make_features_udf
from sift_kg_spark.functions.text import extract_text_udf, normalize_text_udf
from sift_kg_spark.operators.components import connected_components
from sift_kg_spark.operators.exact import exact_dup_pairs, exact_representatives
from sift_kg_spark.operators.lsh import candidate_pairs, explode_keys
from sift_kg_spark.operators.suffix import confirm_spans
from sift_kg_spark.operators.verify import verify_pairs
from sift_kg_spark.tableio import StageStore

PAIR_COLUMNS = [
    "url_a",
    "url_b",
    "channel",
    "n_keys",
    "jaccard",
    "hamming",
    "span",
    "status",
    "decided_by",
]


def run_context(cfg: DedupConfig) -> dict:
    """Snapshot-context fingerprint: config + persisted-feature format.

    The format version makes a base snapshot written under an older
    feature encoding fail ``StageStore.exists`` instead of being silently
    union-coerced by an incremental run (ADVICE r2: int64-shingle bases
    would Jaccard near 0 against int32 batches)."""
    return {**asdict(cfg), "feature_format": FEATURE_FORMAT}


@dataclass
class DedupResult:
    docs: DataFrame
    quarantine: DataFrame
    dup_pairs: DataFrame      # every scored pair: confirmed/rejected/flagged
    review_pairs: DataFrame   # the DRAFT zone (excluded from clustering)
    assignments: DataFrame    # url, cluster_id, canonical_url, cluster_size
    clusters: DataFrame       # cluster_id, size, canonical_url
    store: StageStore | None = None


def prepare_docs(pages: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Extraction + normalization; adds text, text_norm, sha, n_chars.

    ``text`` is reused when the source already carries extracted text
    (input contract: byte-identical extracted text per url — rows with
    html get the same pandas-UDF walk the oracle uses).
    """
    if not cfg.redact_pii and not cfg.span_dedup:
        # Fast path: one fused Python pass (extract where text is NULL +
        # normalize) — the chained two-UDF shape shipped the whole
        # corpus text across the JVM/Python boundary twice (guide §4.1).
        # Not used when redact_pii (a JVM regexp projection must run
        # BETWEEN extraction and normalization) or span_dedup (that
        # branch reads only url/lang/text and relies on column pruning
        # to drop the normalize cost — a fused struct UDF would compute
        # text_norm it throws away).
        from sift_kg_spark.functions.text import extract_normalize_udf

        en = extract_normalize_udf(F.col("html"), F.col("text"))
        return (
            pages.select("url", "lang", en.alias("_en"))
            .select(
                "url",
                "lang",
                F.col("_en.text").alias("text"),
                F.col("_en.text_norm").alias("text_norm"),
            )
            .withColumn("n_chars", F.length("text"))
            .select("url", "lang", "text", "text_norm", "n_chars")
        )
    text = F.coalesce(F.col("text"), extract_text_udf(F.col("html")))
    if cfg.redact_pii:
        # PII scrub tier (functions/pii): emails/phones/IPs rewrite to
        # typed placeholders BEFORE normalization/hashing, so two pages
        # differing only in an embedded identifier hash identically and
        # no raw identifier survives into any committed stage. Pure JVM
        # regexp projection; off by default (byte-identity contract).
        from sift_kg_spark.functions.pii import redact_pii

        text = redact_pii(text)
    return (
        pages.withColumn("text", text)
        .withColumn("text_norm", normalize_text_udf(F.col("text")))
        .withColumn("n_chars", F.length("text"))
        .select("url", "lang", "text", "text_norm", "n_chars")
    )


def prepare_stage(
    pages: DataFrame,
    cfg: DedupConfig,
    n_partitions: int,
    store: StageStore | None = None,
    resume: bool = True,
) -> DataFrame:
    """One pass over the raw pages: extraction + normalization + the
    quarantine verdict, slim-projected.

    Near-empty / failed-extraction quarantine mirrors the reference's
    thresholds (ingest/kreuzberg_extractor.py:44-45; errored extractions
    skipped, graph/prededup.py:92-93); quarantined rows carry a non-null
    ``reason`` and never merge.

    The input is repartitioned ONLY when the scan's own parallelism is
    below the cluster's: a raw crawl dump that arrives as a few large
    unsplittable files would otherwise run the narrow extraction UDF
    chain at file parallelism. When the scan already yields at least
    defaultParallelism splits (the normal case — parquet splits by row
    group under spark.sql.files.maxPartitionBytes), the exchange is
    skipped: it would ship the ENTIRE raw corpus (html bytes included)
    through the shuffle just to rebalance work the scan already
    byte-balanced — at crawl scale that shuffle is the whole input.
    html/text are dropped once text_norm exists (every downstream stage
    reads text_norm/n_chars only), so the materialized stage is a third
    the size of the raw input.
    """
    if cfg.capture_dedup and "warc_ts" in pages.columns:
        # Crawl-native tier: collapse re-crawls of the same canonical
        # URL to the latest capture BEFORE the extraction UDF chain, so
        # superseded captures never pay for extraction or hashing. Runs
        # inside the 'prepared' stage build, so snapshots/resume
        # fingerprint it via the config context.
        from sift_kg_spark.functions.urls import latest_captures

        pages = latest_captures(pages)
    src_parallelism = pages.rdd.getNumPartitions()
    floor = min(
        pages.sparkSession.sparkContext.defaultParallelism, n_partitions
    )
    if src_parallelism < floor:
        pages = pages.repartition(n_partitions)
    docs = prepare_docs(pages, cfg)
    if cfg.span_dedup:
        # C4-style corpus span dedup (operators/linededup): strip token
        # chunks shared by >= span_dedup_min_docs docs BEFORE
        # normalization/hashing, so boilerplate never drives Jaccard.
        # Column pruning drops prepare_docs' normalize UDF from this
        # branch (only url/lang/text are read); the cleaned text is
        # re-normalized below. The extracted projection is pinned once —
        # the chunk pass and the rebuild join both read it (a real
        # deployment snapshots this projection at the Iceberg seam; the
        # quarantine checks below then run on the CLEANED text, so a doc
        # that was pure boilerplate lands in near_empty quarantine —
        # C4's post-dedup length floor).
        from sift_kg_spark.operators.linededup import (
            boilerplate_chunks,
            chunk_segments,
            clean_against,
        )

        if store is not None:
            # The span tier's STORAGE SWITCH (docs/ICEBERG.md §6.2): a
            # base run that wants incremental appends later must commit
            #   extracted    (url, lang, text) — original extracted text,
            #                ALL pages incl. eventually-quarantined ones
            #                (chunk counts are defined over every page
            #                with text, exactly as this full run counts);
            #   chunk_counts (chunk, n_docs) — counts for EVERY distinct
            #                chunk, not just boilerplate: an append batch
            #                must read sub-threshold counts to detect
            #                min_docs crossings;
            #   chunk_docs   (chunk, url) — inverted index of
            #                SUB-threshold chunks only (each has
            #                < min_docs carriers by construction), the
            #                re-clean blast-radius lookup.
            # At the Iceberg seam these are bucket(chunk)-partitioned
            # MERGE INTO targets; here they are ordinary stage snapshots.
            extracted = store.stage(
                "extracted",
                lambda: docs.select("url", "lang", "text"),
                inputs=("pages",),
                resume=resume,
            )
        else:
            extracted = docs.select("url", "lang", "text").persist(
                StorageLevel.MEMORY_AND_DISK
            )
        chunks = chunk_segments(
            extracted, "url", "text", cfg.span_dedup_chunk_tokens
        )
        if store is not None:
            counts = store.stage(
                "chunk_counts",
                lambda: chunks.groupBy("chunk").agg(
                    F.countDistinct("url").alias("n_docs")
                ),
                inputs=("extracted",),
                resume=resume,
            )
            store.stage(
                "chunk_docs",
                lambda: chunks.select("chunk", "url")
                .distinct()
                .join(
                    counts.filter(
                        F.col("n_docs") < cfg.span_dedup_min_docs
                    ).select("chunk"),
                    "chunk",
                    "leftsemi",
                ),
                inputs=("chunk_counts",),
                resume=resume,
            )
            bp = counts.filter(F.col("n_docs") >= cfg.span_dedup_min_docs)
        else:
            bp = boilerplate_chunks(chunks, "url", cfg.span_dedup_min_docs)
        cleaned = clean_against(chunks, bp, "url")
        docs = (
            extracted.select("url", "lang")
            .join(
                cleaned.select("url", F.col("clean_text").alias("text")),
                "url",
                "left",
            )
            .withColumn("text_norm", normalize_text_udf(F.col("text")))
            .withColumn("n_chars", F.length("text"))
            .select("url", "lang", "text", "text_norm", "n_chars")
        )
    if cfg.decontaminate:
        if not cfg.decontam_benchmark_path:
            raise ValueError(
                "decontaminate=True requires decontam_benchmark_path "
                "(parquet with a 'text' column)"
            )
        # Benchmark decontamination tier (operators/decontam): docs
        # sharing >= decontam_min_hits n-grams with the benchmark
        # quarantine as 'contaminated' — the GPT-3/PaLM eval-overlap
        # hygiene pass, run on the EXTRACTED text (pre-normalization).
        # The benchmark is static state (never corpus-derived), so this
        # join rides along unchanged in incremental/streaming batches.
        from sift_kg_spark.operators.decontam import decontaminate

        bench = docs.sparkSession.read.parquet(
            cfg.decontam_benchmark_path
        )
        # Pin the (url, text) projection ONCE before decontaminate forks
        # it (gram explode + sizes scan read it independently, and the
        # un-persisted plan would re-run the pandas-UDF extraction chain
        # for each consumer — 3 full corpus passes of the most expensive
        # stage; ADVICE r5 medium). A workdir run commits the span tier's
        # `extracted` snapshot for the same reason; the in-memory path
        # persists.
        txt = docs.select("url", "text").filter(
            F.col("text").isNotNull()
        ).persist(StorageLevel.MEMORY_AND_DISK)
        contaminated = (
            decontaminate(
                txt,
                bench,
                n=cfg.decontam_ngram,
                id_col="url",
                min_hits=cfg.decontam_min_hits,
            )
            .filter(F.col("contaminated"))
            .select("url", F.lit(True).alias("_contam"))
        )
        # No forced broadcast: a heavily contaminated corpus would OOM
        # the driver building an unbounded broadcast relation. AQE sizes
        # the join from the actual hit-table size and still broadcasts
        # the (normally tiny) contaminated set at runtime.
        docs = docs.join(contaminated, "url", "left")
    else:
        docs = docs.withColumn("_contam", F.lit(None).cast("boolean"))
    is_bad = (
        F.col("text").isNull()
        | (F.length(F.trim(F.col("text"))) < cfg.min_text_chars)
        # Defense in depth: a page whose NORMALIZED text collapses to
        # nothing (markup-only content, pure diacritics) must never reach
        # the hash stages — near-empty normalized keys would mass-merge
        # unrelated pages.
        | (F.length("text_norm") < F.lit(max(1, cfg.min_text_chars // 2)))
        | F.col("_contam").isNotNull()
    )
    reason_chain = F.when(
        F.col("text").isNull(), "extraction_failed"
    ).when(
        F.length(F.trim(F.col("text"))) < cfg.min_text_chars, "near_empty"
    ).when(
        F.length("text_norm") < F.lit(max(1, cfg.min_text_chars // 2)),
        "normalized_empty",
    ).when(F.col("_contam").isNotNull(), "contaminated")
    if cfg.quality_gate:
        # Gopher rule gate (functions/quality.py) — same quarantine
        # surface as near-empty detection: rejected docs carry a reason
        # and never reach the hash stages, but stay in the lineage.
        from sift_kg_spark.functions.quality import gopher_keep

        quality_fail = ~gopher_keep(
            F.col("text"), min_words=cfg.quality_min_words
        )
        is_bad = is_bad | quality_fail
        reason_chain = reason_chain.when(quality_fail, "quality_reject")
    reason = F.when(is_bad, reason_chain)
    prepared = docs.select(
        "url",
        # compact 64-bit doc id: the candidate exchange and verify joins
        # shuffle this instead of ~60-byte url strings (urls are joined
        # back only onto the small verified-pair table). Birthday math:
        # expected colliding pairs ~= n^2 / 2^65 — negligible below ~10^9
        # docs but ~27,000 pairs at the 10^12 design point, so collisions
        # are RESCUED below (rekey_uid_collisions), not assumed away.
        F.xxhash64("url").alias("doc_uid"),
        "lang",
        "text_norm",
        "n_chars",
        F.sha2(F.col("text_norm"), 256).alias("sha"),
        reason.alias("reason"),
    )
    return rekey_uid_collisions(prepared)


def rekey_uid_collisions(prepared: DataFrame) -> DataFrame:
    """Deterministically re-key docs whose 64-bit uid collides.

    One aggregation finds colliding uids (expected ~n^2/2^65 pairs: ~27k
    at 10^12 docs — a broadcastable table at any realistic scale); those
    rows get a reseeded uid. Residual risk after one round is the chance a
    REKEYED uid collides again (~|collisions| * n / 2^64 ~= 1.5e-3 events
    globally at 10^12) — far below the pipeline's decision noise floor.
    Deterministic: depends only on the url set, not on partitioning.
    """
    collisions = (
        prepared.groupBy("doc_uid")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > 1)
        .select("doc_uid", F.lit(True).alias("_collides"))
    )
    return (
        prepared.join(F.broadcast(collisions), "doc_uid", "left")
        .withColumn(
            "doc_uid",
            F.when(
                F.col("_collides").isNotNull(),
                F.xxhash64("url", F.lit("#uid-rekey-1")),
            ).otherwise(F.col("doc_uid")),
        )
        .drop("_collides")
    )


def featurize(reps: DataFrame, cfg: DedupConfig) -> DataFrame:
    """The feature table of ``reps`` (one row per distinct text).

    Slim projection: the 128-element minhash vector exists only to
    derive the band keys inside the UDF; materializing it would be the
    single largest column in the stage for no downstream reader."""
    features_udf = make_features_udf(cfg)
    return reps.select(
        "doc_uid",
        "url",
        "lang",
        "n_chars",
        features_udf(F.col("text_norm")).alias("f"),
    ).select(
        "doc_uid", "url", "lang", "n_chars",
        "f.n_tokens", "f.shingles", "f.simhash", "f.keys",
    )


def _join_uid(
    df: DataFrame, table: DataFrame, value: str, side: str, alias: str
) -> DataFrame:
    """Join ``table``'s ``value`` column onto ``df`` as ``alias``, matching
    ``table.doc_uid`` to ``df``'s ``uid_<side>``."""
    uid = f"uid_{side}"
    return df.join(
        table.select(F.col("doc_uid").alias(uid), F.col(value).alias(alias)),
        uid,
    )


def span_scores(
    verified: DataFrame, texts: DataFrame, cfg: DedupConfig, n_partitions: int
) -> DataFrame:
    """Suffix-span scores of the still-flagged pairs of ``verified``;
    ``texts`` is a ``(doc_uid, text_norm)`` table covering them."""
    flagged = verified.filter(F.col("status") == "flagged").select(
        "uid_a", "uid_b"
    )
    flagged_texts = _join_uid(
        _join_uid(flagged, texts, "text_norm", "a", "text_a"),
        texts, "text_norm", "b", "text_b",
    ).select("uid_a", "uid_b", "text_a", "text_b")
    # Explicit exchange: the flagged-pair join output is small in BYTES,
    # so AQE coalesces it to 1-2 partitions — but the suffix stage is
    # Python-CPU-bound per ROW; re-spread it across the cluster before
    # mapInPandas.
    return confirm_spans(flagged_texts.repartition(n_partitions), cfg)


def scored_pairs(
    verified: DataFrame,
    spans: DataFrame,
    exact_pairs: DataFrame,
    urls: DataFrame,
    cfg: DedupConfig,
) -> DataFrame:
    """The url-named evidence table: verified pairs with the suffix
    upgrade applied, named through ``urls(doc_uid, url)``, plus the exact
    edges as confirmed pairs."""
    scored = verified.join(spans, ["uid_a", "uid_b"], "left")
    span_confirm = (F.col("status") == "flagged") & (
        F.col("span") >= cfg.min_span_bytes
    )
    upgraded = scored.withColumn(
        "decided_by",
        F.when(span_confirm, F.lit("suffix")).otherwise(F.col("decided_by")),
    ).withColumn(
        "status",
        F.when(span_confirm, F.lit("confirmed")).otherwise(F.col("status")),
    )
    # map the compact uids back to urls — only on the small pair table
    named = (
        _join_uid(
            _join_uid(upgraded, urls, "url", "a", "_ua"), urls, "url", "b", "_ub"
        )
        .withColumn("url_a", F.least("_ua", "_ub"))
        .withColumn("url_b", F.greatest("_ua", "_ub"))
    )
    exact = (
        exact_pairs.withColumn("n_keys", F.lit(None).cast("bigint"))
        .withColumn("hamming", F.lit(0))
        .withColumn("span", F.lit(None).cast("int"))
        .withColumn("status", F.lit("confirmed"))
        .withColumn("decided_by", F.lit("exact"))
    )
    return exact.select(*PAIR_COLUMNS).unionByName(named.select(*PAIR_COLUMNS))


def with_canonical(assigned: DataFrame) -> DataFrame:
    """Add ``canonical_url`` and ``cluster_size`` to ``assigned(url,
    cluster_id, n_chars, ...)``; ``n_chars`` is dropped, other columns
    are carried through.

    A1 canonical rule (prededup.py:177-196): most frequent (ties for
    pages) -> longest text -> lexicographically smallest url. Total order
    => deterministic under any partitioning. Expressed as
    min(struct(-n_chars, url)) per cluster: the aggregation partially
    combines map-side and needs no per-cluster sort of the whole corpus
    (a first_value-over-ordered-window shape sorts every row by
    (cluster_id, -n_chars, url) in one pass); the join back rides the
    same cluster_id exchange or a runtime broadcast of the per-cluster
    table, whichever AQE finds cheaper.
    """
    canon = assigned.groupBy("cluster_id").agg(
        F.min(
            F.struct((-F.col("n_chars")).alias("_neg_chars"), F.col("url"))
        ).alias("_best"),
        F.count("*").alias("cluster_size"),
    ).select(
        "cluster_id",
        F.col("_best.url").alias("canonical_url"),
        "cluster_size",
    )
    extra = [
        c for c in assigned.columns if c not in ("url", "cluster_id", "n_chars")
    ]
    return assigned.join(canon, "cluster_id").select(
        "url", "cluster_id", "canonical_url", "cluster_size", *extra
    )


def cluster_table(assignments: DataFrame) -> DataFrame:
    """One row per cluster: ``(cluster_id, size, canonical_url)``."""
    return assignments.groupBy("cluster_id").agg(
        F.count("*").alias("size"),
        F.min("canonical_url").alias("canonical_url"),
    )


@dataclass
class BaseViews:
    """An append's base, as the base arms of ``_run_stages`` read it.
    ``prepared``, ``features`` and ``keys`` exclude the docs the tier
    prelude (``incremental._tier_prelude``) tombstoned (``features`` and
    ``keys`` with the re-homed rows added); ``pairs`` is the base pair
    evidence (None when the base has none to offer); ``tombstones`` and
    ``rewrite_map`` are None when no corpus-stateful tier runs."""

    prepared: DataFrame
    features: DataFrame
    keys: DataFrame
    assignments: DataFrame
    pairs: DataFrame | None
    tombstones: DataFrame | None
    rewrite_map: DataFrame | None


def _committer(store: StageStore | None, resume: bool, append: bool):
    """The commit of every stage of every mode, tier prelude included:
    ``store.stage`` with a workdir, otherwise an in-memory pin (a lazy
    ``localCheckpoint`` for an append, ``persist`` for a full run)."""

    def commit(name: str, build, inputs: tuple[str, ...] = ()) -> DataFrame:
        if store is not None:
            return store.stage(name, build, inputs=inputs, resume=resume)
        if append:
            # localCheckpoint (lazy), not bare persist: the increment's
            # stages reference base/batch subtrees many times over
            # (broadcast uid/key/url sets), and without per-stage PLAN
            # truncation Catalyst re-analyzes the exponentially nested
            # lineage on every downstream Dataset build — minutes of
            # driver time before any job runs. Blocks are stored
            # MEMORY_AND_DISK either way; a workdir store gets the same
            # truncation from its parquet round-trip.
            return build().localCheckpoint(eager=False)
        # No snapshot dir: cache instead, so multi-consumer stages (docs,
        # features, dup_pairs feed 2+ downstream stages) are computed
        # once per run, not once per downstream action. Serialized level:
        # the feature stage's shingle arrays cached deserialized exceed
        # executor memory past ~500k docs and thrash; production runs
        # should pass a workdir (per-stage snapshots free memory stage by
        # stage).
        return build().persist(StorageLevel.MEMORY_AND_DISK)

    return commit


def _pair_rows(base_rows: DataFrame, pairs: DataFrame) -> DataFrame:
    """The rows of ``base_rows`` whose ``doc_uid`` a pair of ``pairs(uid_a,
    uid_b)`` names: a narrow base scan against the broadcast (batch-scale)
    uid set, never a base-side shuffle."""
    uids = (
        pairs.select(F.col("uid_a").alias("doc_uid"))
        .unionByName(pairs.select(F.col("uid_b").alias("doc_uid")))
        .distinct()
    )
    return base_rows.join(F.broadcast(uids), "doc_uid", "leftsemi")


def _global_assignments(
    dup_pairs: DataFrame, docs: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """A full run's clustering: connected components over every
    confirmed edge, singletons for the rest, then the A1 canonical."""
    edges = dup_pairs.filter(F.col("status") == "confirmed").select(
        "url_a", "url_b"
    )
    cc = connected_components(edges, cfg.max_cc_iterations)
    assigned = docs.select("url", "n_chars").join(cc, "url", "left")
    return with_canonical(
        assigned.withColumn(
            "cluster_id", F.coalesce(F.col("cluster_id"), F.col("url"))
        )
    )


def _run_stages(
    spark: SparkSession,
    pages: DataFrame,
    cfg: DedupConfig,
    store: StageStore | None,
    resume: bool,
    base: BaseViews | None = None,
    materialize_assignments: bool = True,
) -> DedupResult:
    """Build and commit the stage list.

    ``base`` is None for a full run. For an append it holds the base
    views the tier prelude left, ``pages`` is the effective batch, and
    each ``base`` arm below adds base-side rows or probes to the full-run
    expression. ``materialize_assignments`` (append only): commit the
    combined assignments and clusters, not just the delta.

    Trace contract: ``dedupbench/trace.py`` traces a full run by
    wrapping names this function reaches at call time, so every commit
    goes through ``StageStore.stage(name, build, inputs=..., resume=...)``,
    ``exact_representatives`` and ``connected_components`` are looked up
    as this module's globals while a stage is built, and no Spark job
    group is set here: callers count a call's jobs by their own group.
    """
    # incremental imports this module, so the append's operators are
    # imported at call time
    from sift_kg_spark import incremental

    commit = _committer(store, resume, append=base is not None)
    n_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    group_cols = ["sha", "lang"] if cfg.partition_by_lang else ["sha"]

    def build_prepared() -> DataFrame:
        # an append's span tier already cleaned the batch against the
        # merged vocabulary (tier prelude): batch-local re-cleaning would
        # diverge from the full-run contract
        prep_cfg = cfg if base is None else replace(cfg, span_dedup=False)
        prepared = prepare_stage(
            pages, prep_cfg, n_partitions, store=store, resume=resume
        )
        if base is None:
            return prepared
        return incremental.batch_prepared(prepared, base.prepared, cfg)

    prepared = commit("prepared", build_prepared, ("pages",))
    if cfg.capture_dedup and "warc_ts" in pages.columns and store is not None:
        # Capture snapshot: (canonical_url, url, warc_ts) of every
        # surviving winner — the state an APPEND batch compares its own
        # captures against (the tier prelude commits an append's own).
        # Derived directly from the raw pages (one max_by groupBy; a real
        # deployment shares the winner computation with prepare_stage at
        # the Iceberg seam instead of re-aggregating).
        from sift_kg_spark.functions.urls import canonicalize, latest_captures

        commit(
            "captures",
            lambda: canonicalize(latest_captures(pages)).select(
                "canonical_url", "url", "warc_ts"
            ),
            ("pages",),
        )
    docs = prepared.filter(F.col("reason").isNull()).drop("reason")
    quarantine = prepared.filter(F.col("reason").isNotNull()).select(
        "url", "lang", "reason"
    )
    if base is not None:
        base_docs = base.prepared.filter(F.col("reason").isNull())

    def build_exact() -> DataFrame:
        pairs = exact_dup_pairs(docs, cfg)
        if base is None:
            return pairs
        # cross-base attachment: a batch doc whose group has base docs
        # pairs with the group's min base url
        new_shas = docs.select(*group_cols).distinct()
        base_reps = (
            base_docs.join(F.broadcast(new_shas), on=group_cols, how="leftsemi")
            .groupBy(*group_cols)
            .agg(F.min("url").alias("rep_url"))
        )
        cross = (
            docs.select("url", *group_cols)
            .join(F.broadcast(base_reps), on=group_cols, how="inner")
            .select(
                F.col("url").alias("url_a"),
                F.col("rep_url").alias("url_b"),
                F.lit("exact").alias("channel"),
                F.lit(1.0).alias("jaccard"),
            )
        )
        return pairs.unionByName(cross)

    exact_pairs = commit("exact_pairs", build_exact, ("prepared",))

    def build_features() -> DataFrame:
        reps_of = docs
        if base is not None:
            # One representative per NEW distinct sha — "seen in base"
            # means a NON-quarantined base row carries it: a sha whose
            # only base occurrences were quarantined has no base
            # signature and no base cluster to attach to, so the new doc
            # must be featured itself (full-run parity for the
            # raw-short/normalized-same edge case). Base shas
            # intersecting the batch are found narrowly (broadcast
            # batch-sha set), then anti-joined back — the base sha column
            # is scanned once, never shuffled.
            batch_shas = docs.select(*group_cols).distinct()
            base_sha_hits = (
                base_docs.select(*group_cols)
                .join(F.broadcast(batch_shas), on=group_cols, how="leftsemi")
                .distinct()
            )
            reps_of = docs.join(
                F.broadcast(base_sha_hits), on=group_cols, how="leftanti"
            )
        return featurize(exact_representatives(reps_of, cfg), cfg)

    features = commit("features", build_features, ("prepared",))

    if store is None and base is None:
        # An in-memory full run keeps the key table a plan: nothing will
        # ever append to it.
        keys = explode_keys(features, cfg)
    else:
        # The exploded key table is committed as its own snapshot so an
        # APPEND batch (and each later stream generation) can semi-join
        # it by key instead of re-reading + re-exploding the whole base
        # feature table per batch — the difference between O(corpus) and
        # O(batch) increments. At the Iceberg seam this table would be
        # bucketed by `key`.
        keys = commit(
            "keys", lambda: explode_keys(features, cfg), ("features",)
        )

    def build_candidates() -> DataFrame:
        if base is None:
            return candidate_pairs(keys, cfg)
        # only the buckets a batch key touches
        return incremental.incremental_candidates(keys, base.keys, cfg)

    candidates = commit("candidates", build_candidates, ("keys",))

    # verify + spans + naming: an append's base-side lookups are pruned
    # to the uids its pairs name
    def build_verified() -> DataFrame:
        feats = features
        if base is not None:
            cols = ["doc_uid", "shingles", "simhash"]
            feats = features.select(*cols).unionByName(
                _pair_rows(base.features.select(*cols), candidates)
            )
        return verify_pairs(candidates, feats, cfg)

    verified = commit("verified", build_verified, ("candidates", "features"))

    def build_spans() -> DataFrame:
        texts = docs.select("doc_uid", "text_norm")
        if base is not None:
            flagged = verified.filter(F.col("status") == "flagged")
            texts = texts.unionByName(
                _pair_rows(base_docs.select("doc_uid", "text_norm"), flagged)
            )
        return span_scores(verified, texts, cfg, n_partitions)

    spans = commit("spans", build_spans, ("verified", "prepared"))

    def build_pairs() -> DataFrame:
        urls = docs.select("doc_uid", "url")
        if base is not None:
            urls = urls.unionByName(
                _pair_rows(base.prepared.select("doc_uid", "url"), verified)
            )
        pairs = scored_pairs(verified, spans, exact_pairs, urls, cfg)
        if base is not None and base.rewrite_map is not None:
            pairs = pairs.unionByName(
                incremental.rewritten_evidence(base.pairs, base.rewrite_map)
            )
        return pairs

    dup_pairs = commit(
        "dup_pairs", build_pairs, ("verified", "spans", "exact_pairs")
    )
    review_pairs = dup_pairs.filter(F.col("status") == "flagged")

    keep = commit
    if base is None:
        assignments = commit(
            "assignments",
            lambda: _global_assignments(dup_pairs, docs, cfg),
            ("dup_pairs", "prepared"),
        )
    else:
        # The per-generation WRITE: every member of every touched cluster
        # plus all new docs — O(batch blast radius), never O(corpus).
        # prev_cluster_id (null for new docs) is the delete key an
        # Iceberg MERGE INTO would use.
        delta = commit(
            "assignments_delta",
            lambda: incremental.build_assignments_delta(
                dup_pairs, docs, base, cfg
            ),
            ("dup_pairs", "prepared"),
        )
        if not materialize_assignments:
            # the stream keeps the combined tables in memory
            keep = _committer(None, resume, append=True)
        assignments = keep(
            "assignments",
            lambda: incremental.fold_assignments_delta(base.assignments, delta),
            ("assignments_delta",),
        )
    clusters = keep(
        "clusters", lambda: cluster_table(assignments), ("assignments",)
    )

    return DedupResult(
        docs=docs,
        quarantine=quarantine,
        dup_pairs=dup_pairs,
        review_pairs=review_pairs,
        assignments=assignments,
        clusters=clusters,
        store=store,
    )


def run_dedup(
    spark: SparkSession,
    pages: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    workdir: str | None = None,
    resume: bool = True,
) -> DedupResult:
    store = (
        StageStore(spark, workdir, context=run_context(cfg)) if workdir else None
    )
    return _run_stages(spark, pages, cfg, store, resume)
