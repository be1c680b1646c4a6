"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: the full near-duplicate pipeline over the
sf0.001 ``documents`` table mapped to the canonical pages schema.

``queries()`` / ``oracle_sql()`` — one entry per operator family from
SURVEY.md §2, expressed over the driver testdata tables and mirrored in
DuckDB SQL. Dedup-pipeline stages that are not SQL-expressible (MinHash
LSH, the full pipeline) are rows-only entries (no oracle).

Column-name discipline: every computed column is aliased identically in
the Spark plan and the oracle SQL. Float-valued results are either exact
(integer-valued doubles / rounded) or avoided in favor of integer counts,
so the driver's order-insensitive value-hash matches.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

_DEF_SF = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _tp(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table scan with a scan-parallelism floor (guide §2.5 input skew /
    §6 split sizing): the driver testdata parquets are single-row-group
    files, so their scans produce ONE task and every narrow chain built
    on them (pandas-UDF featurizers, gram explodes, HOF dot products)
    runs serially until the first exchange. When the scan yields fewer
    splits than the cluster's parallelism, spread it once; at real scale
    the scan already has more splits than cores and this is a no-op (the
    same conditional prepare_stage applies to raw crawl dumps). Round-
    robin repartition is deterministic (sort-before-repartition) and
    every consumer below is partitioning-agnostic (total-order windows /
    set aggregations), so results are unchanged."""
    df = _t(spark, sf_dir, name)
    floor = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < floor:
        df = df.repartition(floor)
    return df


def _docs_as_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map the driver's documents table onto the canonical pages schema."""
    return _tp(spark, sf_dir, "documents").select(
        F.format_string("doc://%s/%06d", F.col("source"), F.col("doc_id")).alias(
            "url"
        ),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


_NORM = "lower(trim(regexp_replace(text, '\\\\s+', ' ')))"          # spark SQL
_NORM_DUCK = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"  # duckdb


def _with_max_doc_id(d: DataFrame) -> DataFrame:
    """Attach max(doc_id) as a column via a crossJoin on the 1-row agg —
    one job per query (the DuckDB oracles use the same `mx AS (...)` CTE)
    instead of a driver-side scalar collect()."""
    return d.crossJoin(F.broadcast(d.agg(F.max("doc_id").alias("_mx"))))


def _chain_edges(d: DataFrame, mod: int, keep: int) -> DataFrame:
    """Synthetic doc_id -> doc_id+1 chain edges (doc_id % mod < keep)."""
    return (
        _with_max_doc_id(d)
        .filter((F.col("doc_id") % mod < keep) & (F.col("doc_id") < F.col("_mx")))
        .select(
            F.col("doc_id").alias("src"), (F.col("doc_id") + 1).alias("dst")
        )
    )


def _incremental_vs_full(
    spark: SparkSession, base_pages: DataFrame, batch: DataFrame, cfg, prefix: str
) -> tuple[DataFrame, DataFrame]:
    """Commit a base run over ``base_pages``, append ``batch`` to it, and
    run the full pipeline over base ∪ batch. Returns the incremental
    COMBINED assignments (url, i_cl, i_ca, i_sz) and a one-row
    ``_any_bad`` flag: 1 when any url's (cluster_id, canonical_url,
    cluster_size) differs between the two, or is missing from either."""
    import tempfile

    from sift_kg_spark.incremental import run_dedup_incremental
    from sift_kg_spark.pipeline import run_dedup

    base_wd = tempfile.mkdtemp(prefix=prefix)
    run_dedup(spark, base_pages, cfg, workdir=base_wd)
    inc = run_dedup_incremental(spark, batch, cfg, base_workdir=base_wd)
    full = run_dedup(spark, base_pages.unionByName(batch), cfg)

    fa = full.assignments.select(
        "url",
        F.col("cluster_id").alias("f_cl"),
        F.col("canonical_url").alias("f_ca"),
        F.col("cluster_size").alias("f_sz"),
    )
    ia = inc.assignments.select(
        "url",
        F.col("cluster_id").alias("i_cl"),
        F.col("canonical_url").alias("i_ca"),
        F.col("cluster_size").alias("i_sz"),
    )
    j = fa.join(ia, "url", "full_outer")
    bad = (
        F.col("f_cl").isNull()
        | F.col("i_cl").isNull()
        | (F.col("f_cl") != F.col("i_cl"))
        | (F.col("f_ca") != F.col("i_ca"))
        | (F.col("f_sz") != F.col("i_sz"))
    )
    global_bad = j.select(F.max(F.when(bad, 1).otherwise(0)).alias("_any_bad"))
    return ia, global_bad


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: dedup pipeline over sf0.001 documents -> cluster assignments."""
    from sift_kg_spark.config import DedupConfig
    from sift_kg_spark.pipeline import run_dedup

    pages = _docs_as_pages(spark, _DEF_SF)
    res = run_dedup(spark, pages, DedupConfig(min_text_chars=10))
    return res.assignments


# ---------------------------------------------------------------------------
# queries (spark side)
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---- scans / filters / exact dedup family (S*, F*, J3, A1) ----------

    def exact_dup_clusters(spark, sf):
        # J3 analog: groupBy(hash of text) — the Layer-1 exact-dup stage.
        # The driver corpus has no exact text dups, so exact copies are
        # PLANTED (same %17 recipe as dedup_full_pipeline) — this oracle
        # row has real rows and can actually fail (r3 VERDICT #4).
        d = _t(spark, sf, "documents").select("doc_id", "text", "n_chars")
        copies = d.filter(
            (F.col("doc_id") % 17 == 3) & (F.col("n_chars") >= 200)
        ).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"), "text", "n_chars"
        )
        return (
            d.unionByName(copies)
            .groupBy(F.md5("text").alias("text_hash"))
            .agg(
                F.count("*").alias("cluster_size"),
                F.min("doc_id").alias("canonical_doc_id"),
            )
            .filter(F.col("cluster_size") > 1)
        )

    q["exact_dup_clusters"] = exact_dup_clusters

    def normalized_fingerprints(spark, sf):
        # X1/X4 analog + fingerprinting: md5 of whitespace-collapsed lower text
        return _t(spark, sf, "documents").select(
            "doc_id",
            F.substring(F.md5(F.expr(_NORM)), 1, 16).alias("fp16"),
        )

    q["normalized_fingerprints"] = normalized_fingerprints

    def canonical_pick_a1(spark, sf):
        # A1 canonical rule on 2-token blocks: longest text -> min doc_id
        d = _t(spark, sf, "documents").withColumn(
            "block", F.md5(F.expr("array_join(slice(split(trim(text), '\\\\s+'), 1, 2), ' ')"))
        )
        w = Window.partitionBy("block")
        wo = w.orderBy(F.desc("n_chars"), F.asc("doc_id"))
        return (
            d.withColumn("canonical_doc_id", F.first("doc_id").over(wo))
            .withColumn("block_size", F.count("*").over(w))
            .filter(F.col("block_size") > 1)
            .select("doc_id", "block", "canonical_doc_id", "block_size")
        )

    q["canonical_pick_a1"] = canonical_pick_a1

    def quarantine_near_empty(spark, sf):
        # S6/F1: near-empty detection -> quarantine
        return (
            _t(spark, sf, "documents")
            .filter(F.length(F.trim("text")) < 100)
            .select("doc_id", "n_chars", F.lit("near_empty").alias("reason"))
        )

    q["quarantine_near_empty"] = quarantine_near_empty

    def lang_histogram(spark, sf):
        # A5 frequency counter
        return (
            _t(spark, sf, "documents")
            .groupBy("lang")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_chars").alias("total_chars"),
            )
        )

    q["lang_histogram"] = lang_histogram

    # ---- text analysis (token counting, quality, lang-id) ----------------

    def token_stats(spark, sf):
        toks = F.split(F.trim("text"), r"\s+")
        return _t(spark, sf, "documents").select(
            "doc_id",
            F.size(toks).alias("n_tokens"),
            F.size(F.array_distinct(toks)).alias("n_uniq_tokens"),
        )

    q["token_stats"] = token_stats

    def quality_scores(spark, sf):
        d = _t(spark, sf, "documents")
        n_tokens = F.size(F.split(F.trim("text"), r"\s+"))
        n_punct = F.length("text") - F.length(
            F.regexp_replace("text", r"[.,;:!?]", "")
        )
        the_hits = (
            F.length("text") - F.length(F.regexp_replace("text", " the ", ""))
        ) / 5
        return d.select(
            "doc_id",
            F.length("text").alias("len_chars"),
            n_tokens.alias("n_tokens"),
            n_punct.cast("int").alias("n_punct"),
            the_hits.cast("int").alias("the_hits"),
            (n_tokens >= 30).cast("int").alias("is_quality"),
        )

    q["quality_scores"] = quality_scores

    def gopher_quality_flags(spark, sf):
        # Gopher rule-based quality gate (Rae et al. 2021 A1.1) as a
        # library operator: word-count / mean-word-length / symbol-ratio
        # / distinct-stopword rules + conjunctive keep bit, at the
        # PUBLISHED default stop-word list (the/be/to/of/and/that/have/
        # with, >= 2 distinct). The synthetic vocabulary carries only
        # 'the' of those, so even docs deterministically gain a
        # function-word tail (mirrored in the oracle) to keep the
        # stopword rule non-vacuous; thresholds tuned so the corpus
        # splits on every rule.
        from sift_kg_spark.functions.quality import gopher_flags

        d = _t(spark, sf, "documents").withColumn(
            "text",
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(F.col("text"), F.lit(" and of that age")),
            ).otherwise(F.col("text")),
        )
        return gopher_flags(
            d,
            min_words=40,
            max_words=100_000,
            min_mean_word_len=4.0,
            max_mean_word_len=10.0,
            max_symbol_ratio=0.1,
            min_stopwords=2,
        ).withColumn(
            "mean_word_len", F.round("mean_word_len", 6)
        ).withColumn("symbol_ratio", F.round("symbol_ratio", 6))

    q["gopher_quality_flags"] = gopher_quality_flags

    def url_canonical_dedup(spark, sf):
        # Crawl-native URL tier: canonicalize (case, ports, fragments,
        # tracking params, param order, trailing slash) then collapse
        # captures per canonical URL. URLs are synthesized
        # deterministically from doc_id so the oracle builds the exact
        # same raw strings and re-derives the canonical form in SQL.
        from sift_kg_spark.functions.urls import canonical_url

        d = _t(spark, sf, "documents")
        i = F.col("doc_id")
        scheme = (
            F.when(i % 3 == 0, "HTTP://")
            .when(i % 3 == 1, "https://")
            .otherwise("HTTPS://")
        )
        host = F.concat(F.lit("WWW.Site"), (i % 7).cast("string"), F.lit(".COM"))
        port = (
            F.when(i % 4 == 0, ":80")
            .when(i % 4 == 1, ":443")
            .when(i % 4 == 2, ":8080")
            .otherwise("")
        )
        path = F.concat(
            F.lit("/Page/"),
            (i % 13).cast("string"),
            F.when(i % 5 == 0, "/").otherwise(""),
        )
        query = (
            F.when(i % 6 == 0, "?utm_source=feed&b=2&a=1")
            .when(i % 6 == 1, "?b=2&a=1")
            .when(i % 6 == 2, "?gclid=x")
            .when(i % 6 == 3, "?a=1&utm_campaign=Q&b=2")
            .otherwise("")
        )
        frag = F.when(i % 2 == 1, "#sec").otherwise("")
        raw = F.concat(scheme, host, port, path, query, frag)
        return (
            d.select(canonical_url(raw).alias("canonical_url"))
            .groupBy("canonical_url")
            .agg(F.count(F.lit(1)).alias("n_captures"))
        )

    q["url_canonical_dedup"] = url_canonical_dedup

    def url_latest_capture(spark, sf):
        # The capture-pick half of the crawl tier (functions/urls.py
        # dedup_captures): re-crawl streams synthesized from events
        # (user_id -> site, event_id -> page + spelling variant, ts ->
        # capture time); keep the latest capture per canonical URL via
        # one max_by groupBy. Oracle re-derives with a SQL window.
        from sift_kg_spark.functions.urls import dedup_captures

        e = _t(spark, sf, "events")
        i = F.col("event_id")
        raw = F.concat(
            F.lit("http://u"),
            F.col("user_id").cast("string"),
            F.lit(".com/p/"),
            (i % 5).cast("string"),
            F.when(i % 3 == 0, "?utm_source=crawl").otherwise(""),
            F.when(i % 2 == 0, "#top").otherwise(""),
        )
        pages = e.select(raw.alias("url"), F.col("ts").alias("warc_ts"))
        return dedup_captures(pages).select(
            "canonical_url",
            F.col("url").alias("winning_url"),
            F.col("warc_ts").alias("latest_ts"),
            "n_captures",
        )

    q["url_latest_capture"] = url_latest_capture

    def lang_id_stopword_votes(spark, sf):
        d = _t(spark, sf, "documents")
        padded = F.concat(F.lit(" "), F.lower("text"), F.lit(" "))

        def hits(word):
            pat = f" {word} "
            return (
                (F.length(padded) - F.length(F.regexp_replace(padded, pat, "")))
                / len(pat)
            ).cast("int")

        v_en = (hits("the") + hits("and")).alias("votes_en")
        v_es = (hits("el") + hits("de")).alias("votes_es")
        v_de = (hits("der") + hits("und")).alias("votes_de")
        out = d.select("doc_id", v_en, v_es, v_de)
        guess = (
            F.when(
                (F.col("votes_en") >= F.col("votes_es"))
                & (F.col("votes_en") >= F.col("votes_de"))
                & (F.col("votes_en") > 0),
                "en",
            )
            .when(
                (F.col("votes_es") >= F.col("votes_de")) & (F.col("votes_es") > 0),
                "es",
            )
            .when(F.col("votes_de") > 0, "de")
            .otherwise("und")
        )
        return out.withColumn("guess", guess)

    q["lang_id_stopword_votes"] = lang_id_stopword_votes

    # ---- span (line) dedup + repetition filters (C4/CCNet/Gopher) --------
    # operators/linededup: corpus-level chunk dedup and per-doc repetition
    # stats, fully SQL-expressible -> directly oracled (no invariant
    # projection needed).

    def boilerplate_chunk_stats(spark, sf):
        from sift_kg_spark.operators.linededup import (
            boilerplate_chunks,
            chunk_segments,
        )

        chunks = chunk_segments(
            _t(spark, sf, "documents"), "doc_id", "text", chunk_tokens=4
        )
        return boilerplate_chunks(chunks, "doc_id", min_docs=3).select(
            "chunk", "n_docs"
        )

    q["boilerplate_chunk_stats"] = boilerplate_chunk_stats

    def line_dedup_clean(spark, sf):
        from sift_kg_spark.operators.linededup import line_dedup

        return line_dedup(
            _t(spark, sf, "documents"),
            "doc_id",
            "text",
            chunk_tokens=4,
            min_docs=3,
        ).select("doc_id", "n_chunks", "n_boilerplate", "clean_text")

    q["line_dedup_clean"] = line_dedup_clean

    def doc_repetition_stats(spark, sf):
        from sift_kg_spark.operators.linededup import repetition_stats

        return repetition_stats(
            _tp(spark, sf, "documents"), "doc_id", "text", chunk_tokens=4
        ).select("doc_id", "n_chunks", "dup_chunk_frac", "top_bigram_frac")

    q["doc_repetition_stats"] = doc_repetition_stats

    # ---- winnowing fingerprints (rolling-hash doc fingerprint family) ----
    # operators/winnow: MOSS-style winnowing (min k-gram md5 per w-window),
    # corpus-level shared-span index; pairs reuse the LSH one-exchange
    # hot-bucket star shape. Fully SQL-expressible -> directly oracled.

    def winnow_fingerprint_profile(spark, sf):
        from sift_kg_spark.operators.winnow import winnow_fingerprints

        fps = winnow_fingerprints(
            _tp(spark, sf, "documents"), "doc_id", "text", k=3, w=4
        )
        return fps.groupBy("doc_id").agg(
            F.count("*").alias("n_fps"),
            F.min("fp").alias("min_fp"),
            F.max("fp").alias("max_fp"),
        )

    q["winnow_fingerprint_profile"] = winnow_fingerprint_profile

    def winnow_dup_pairs(spark, sf):
        from sift_kg_spark.operators.winnow import (
            fingerprint_pairs,
            winnow_fingerprints,
        )

        d = _tp(spark, sf, "documents").select("doc_id", "text", "n_chars")
        # planted near-dups (the %17 recipe): an 80%-token-prefix copy of
        # every eligible doc, so the pair detector has real rows to find
        # and the guarantee (shared run >= w+k-1 tokens) is exercised on
        # partial overlap, not just identical copies.
        toks = F.split(F.trim("text"), r"\s+")
        prefix = F.array_join(
            F.slice(toks, 1, F.floor(F.size(toks) * 0.8).cast("int")), " "
        )
        copies = d.filter(
            (F.col("doc_id") % 17 == 3) & (F.col("n_chars") >= 200)
        ).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"),
            prefix.alias("text"),
            "n_chars",
        )
        fps = winnow_fingerprints(
            d.unionByName(copies), "doc_id", "text", k=3, w=4
        )
        return fingerprint_pairs(fps, "doc_id", min_shared=3, hot_cap=64)

    q["winnow_dup_pairs"] = winnow_dup_pairs

    # ---- benchmark decontamination (training-data hygiene tier) ----------

    def decontaminate_benchmark(spark, sf):
        from sift_kg_spark.operators.decontam import decontaminate

        d = _t(spark, sf, "documents").select("doc_id", "text")
        # planted benchmark (the %13 recipe): a 20-token mid-slice of
        # every eligible doc, so each slice's source doc is contaminated
        # by construction and short/clean docs are provably not.
        toks = F.split(F.trim("text"), r"\s+")
        bench = d.filter(
            (F.col("doc_id") % 13 == 5) & (F.size(toks) >= 30)
        ).select(F.array_join(F.slice(toks, 4, 20), " ").alias("text"))
        out = decontaminate(d, bench, n=8)
        return out.select(
            "doc_id",
            F.col("n_grams").cast("long").alias("n_grams"),
            F.col("n_hits").cast("long").alias("n_hits"),
            "contaminated",
        )

    q["decontaminate_benchmark"] = decontaminate_benchmark

    # ---- hash-deterministic sampling / corpus mixing ---------------------

    def stratified_sample_docs(spark, sf):
        from sift_kg_spark.operators.sampling import stratified_sample

        d = _t(spark, sf, "documents").select("doc_id", "lang")
        rates = spark.createDataFrame(
            [("en", 0.5), ("de", 0.25), ("es", 0.75), ("fr", 0.125),
             ("zh", 1.0)],
            ["lang", "rate"],
        )
        out = stratified_sample(d, rates, "lang", "doc_id", salt="mix1")
        return out.select("doc_id", "lang")

    q["stratified_sample_docs"] = stratified_sample_docs

    def token_budget_mix(spark, sf):
        from sift_kg_spark.operators.sampling import token_budget_sample

        d = _t(spark, sf, "documents").select(
            "doc_id",
            "lang",
            F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias(
                "n_tokens"
            ),
        )
        out = token_budget_sample(
            d, budget_tokens=400.0, stratum_col="lang",
            token_col="n_tokens", key_col="doc_id", salt="budget",
        )
        return out.select("doc_id", "lang", "n_tokens")

    q["token_budget_mix"] = token_budget_mix

    def pii_redaction_stats(spark, sf):
        from sift_kg_spark.functions.pii import PII_PATTERNS, redact_pii

        d = _t(spark, sf, "documents").select("doc_id", "text")
        # planted PII (the %19 recipe): three disjoint doc families get
        # an email / phone / IP suffix, so every pattern has non-vacuous
        # rows and the untouched majority pins the no-op path.
        planted = d.withColumn(
            "text",
            F.concat(
                "text",
                F.when(
                    F.col("doc_id") % 19 == 2,
                    F.lit(" contact bob@example.com or"
                          " sue+tag@mail.example.org now"),
                ).when(
                    F.col("doc_id") % 19 == 7,
                    F.lit(" call +1 555 123 4567 or (212) 555-0199 today"),
                ).when(
                    F.col("doc_id") % 19 == 11,
                    F.lit(" server at 10.0.0.1 and 192.168.255.254 up"),
                ).otherwise(F.lit("")),
            ),
        )
        cnts = [
            F.regexp_count(F.col("text"), F.lit(PII_PATTERNS[k][0]))
            .cast("long").alias(f"n_{k}")
            for k in ("email", "phone", "ip")
        ]
        return planted.select(
            "doc_id",
            *cnts,
            F.length(redact_pii(F.col("text"))).cast("long").alias(
                "len_redacted"
            ),
        )

    q["pii_redaction_stats"] = pii_redaction_stats

    def top_bigrams(spark, sf):
        from sift_kg_spark.operators.ngramstats import top_ngrams

        d = _tp(spark, sf, "documents").select("doc_id", "text")
        return top_ngrams(d, n=2, k=50)

    q["top_bigrams"] = top_bigrams

    def pack_training_shards(spark, sf):
        from sift_kg_spark.operators.packing import assign_shards

        d = _t(spark, sf, "documents").select(
            "doc_id",
            F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias(
                "n_tokens"
            ),
        )
        shards = assign_shards(d, shard_tokens=2000)
        return shards.groupBy("shard_id").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
        )

    q["pack_training_shards"] = pack_training_shards

    # ---- n-gram Jaccard near-dup (J4 verify analog, integer-exact) -------

    def ngram_jaccard_pairs(spark, sf):
        # r6 shape change (same result set, pinned by the unchanged
        # oracle): the old self-join generated the gram table FOUR times
        # (join sides a/b + two sizes subtrees) and broadcast the full
        # multi-million-row gram side as a hash relation (stats from the
        # tiny parquet footer made every side look broadcastable). Now
        # the distinct gram ARRAY is computed once per doc and pinned
        # (persist), sizes are a map-side F.size over it (0 shuffles),
        # and co-occurring pairs come from ONE groupBy(block, gram) +
        # an in-group pair explode — gram strings shuffle once instead
        # of being broadcast-built, and pair multiplicity per (a, b) is
        # identical (each shared distinct gram contributes exactly one
        # pair row, exactly as the join did).
        from pyspark import StorageLevel

        # tokens materialized as a column BEFORE the gram transform: a
        # split() captured inside the HOF lambda would re-tokenize the
        # text per gram (the O(tokens^2) trap, PLANS.md §17).
        base = _tp(spark, sf, "documents").select(
            "doc_id", F.split(F.trim("text"), r"\s+").alias("toks")
        )
        dg = base.select(
            "doc_id",
            F.md5(
                F.expr("array_join(slice(toks, 1, 2), ' ')")
            ).alias("block"),
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, greatest(size(toks) - 2, 1)),"
                    " i -> array_join(slice(toks, i, 3), ' '))"
                )
            ).alias("gs"),
        ).persist(StorageLevel.MEMORY_AND_DISK)
        sizes = dg.select("doc_id", F.size("gs").alias("n_grams"))
        grams = dg.select("doc_id", "block", F.explode("gs").alias("gram"))
        shared = (
            grams.groupBy("block", "gram")
            .agg(F.collect_list("doc_id").alias("ds"))
            .filter(F.size("ds") > 1)
        )
        pairs = shared.select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) ->"
                    " transform(slice(ds, i + 2, size(ds) - i - 1),"
                    " y -> struct(least(x, y) as doc_a, greatest(x, y) as doc_b))))"
                )
            ).alias("p")
        ).select("p.doc_a", "p.doc_b")
        inter = pairs.groupBy("doc_a", "doc_b").agg(
            F.count("*").alias("n_inter")
        )
        return (
            inter.join(
                sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_grams").alias("grams_a")),
                "doc_a",
            )
            .join(
                sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_grams").alias("grams_b")),
                "doc_b",
            )
            .select("doc_a", "doc_b", "n_inter", "grams_a", "grams_b")
        )

    q["ngram_jaccard_pairs"] = ngram_jaccard_pairs

    # ---- similarity search over embeddings --------------------------------

    def embedding_cosine_topk(spark, sf):
        e = _tp(spark, sf, "embeddings")
        dot = F.expr(
            "aggregate(zip_with(q_emb, n_emb, (x, y) -> x * y),"
            " cast(0.0 as double), (acc, v) -> acc + v)"
        )
        # norms hoisted BELOW the cross join (computed once per vector,
        # not once per (query, neighbor) pair — the old plan re-derived
        # norm_n for every one of the 10 query copies of each row).
        # Same doubles, same cosine expression tree: dot / (nq * nn).
        norm = F.expr(
            "sqrt(aggregate(embedding, cast(0.0 as double),"
            " (acc, v) -> acc + v * v))"
        )
        queries_df = e.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            norm.alias("norm_q"),
        )
        neigh = e.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("n_emb"),
            norm.alias("norm_n"),
        )
        scored = (
            queries_df.crossJoin(neigh)
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .withColumn("cosine", dot / (F.col("norm_q") * F.col("norm_n")))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("neighbor_id")
        )
        return (
            scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 5)
            .select("query_id", "neighbor_id", "rnk")
        )

    q["embedding_cosine_topk"] = embedding_cosine_topk

    def embedding_near_dup_pairs(spark, sf):
        e = _tp(spark, sf, "embeddings")
        a = e.select(
            F.col("vec_id").alias("vec_a"), F.col("label"), F.col("embedding").alias("ea")
        )
        b = e.select(
            F.col("vec_id").alias("vec_b"), F.col("label"), F.col("embedding").alias("eb")
        )
        dot = F.expr(
            "aggregate(zip_with(ea, eb, (x, y) -> x * y),"
            " cast(0.0 as double), (acc, v) -> acc + v)"
        )
        na = F.expr("sqrt(aggregate(ea, cast(0.0 as double), (acc, v) -> acc + v * v))")
        nb = F.expr("sqrt(aggregate(eb, cast(0.0 as double), (acc, v) -> acc + v * v))")
        return (
            a.join(b, "label")
            .filter(F.col("vec_a") < F.col("vec_b"))
            .withColumn("cosine", dot / (na * nb))
            .filter(F.col("cosine") >= 0.35)
            .select("vec_a", "vec_b", "label")
        )

    q["embedding_near_dup_pairs"] = embedding_near_dup_pairs

    def semantic_dedup_prune(spark, sf):
        # SemDeDup-style embedding dedup (Abbas et al. 2023): cosine
        # near-dup pairs -> connected components -> keep the min-id
        # representative per semantic cluster. At sf0.01 the pair stage
        # is the exact label-blocked cosine join (the oracle); at scale
        # the same prune runs over IVF-cell-scoped pairs (operators/ann).
        e = _tp(spark, sf, "embeddings")
        node = F.lpad(F.col("vec_id").cast("string"), 8, "0")
        pairs = embedding_near_dup_pairs(spark, sf).select(
            F.lpad(F.col("vec_a").cast("string"), 8, "0").alias("url_a"),
            F.lpad(F.col("vec_b").cast("string"), 8, "0").alias("url_b"),
        )
        from sift_kg_spark.operators.components import connected_components

        cc = connected_components(pairs).select(
            F.col("url").alias("node"), F.col("cluster_id").alias("comp")
        )
        return (
            e.select(node.alias("node"), "vec_id")
            .join(cc, "node", "left")
            .select(
                "vec_id",
                F.coalesce("comp", "node").alias("component"),
                (
                    F.coalesce("comp", "node") == F.col("node")
                ).cast("int").alias("is_kept"),
            )
        )

    q["semantic_dedup_prune"] = semantic_dedup_prune

    # ---- joins / aggregations / windows on the star schema ----------------

    def tpch_q1_pricing(spark, sf):
        li = _t(spark, sf, "lineitem").filter(
            F.col("l_shipdate") <= F.lit("1998-09-02")
        )
        return li.groupBy("l_returnflag", "l_linestatus").agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 1).alias(
                "revenue"
            ),
            F.count("*").alias("count_order"),
        )

    q["tpch_q1_pricing"] = tpch_q1_pricing

    def region_revenue(spark, sf):
        o = _t(spark, sf, "orders")
        c = _t(spark, sf, "customer")
        n = _t(spark, sf, "nation")
        r = _t(spark, sf, "region")
        return (
            o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("r_name")
            .agg(
                F.count("*").alias("n_orders"),
                F.round(F.sum("o_totalprice"), 1).alias("revenue"),
            )
        )

    q["region_revenue"] = region_revenue

    def part_brand_nation_profit(spark, sf):
        # TPC-H Q9 analog (J1/J2 broadcast dim chain through BOTH part and
        # supplier): revenue by supplier nation x part brand x ship year.
        # All three dims broadcast; the fact table never re-partitions
        # until the final group-by exchange.
        li = _t(spark, sf, "lineitem")
        p = _t(spark, sf, "part").select("p_partkey", "p_brand")
        s = _t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
        n = _t(spark, sf, "nation").select("n_nationkey", "n_name")
        return (
            li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
            .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
            .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
            .groupBy(
                F.col("n_name").alias("nation"),
                "p_brand",
                F.year("l_shipdate").alias("ship_year"),
            )
            .agg(
                F.count("*").alias("n_lines"),
                # exact decimal accumulation: double sums are
                # order-sensitive and one group in the driver data lands
                # exactly on a 0.05 rounding boundary
                F.round(
                    F.sum(
                        F.col("l_extendedprice").cast("decimal(18,4)")
                        * (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)"))
                    ),
                    1,
                )
                .cast("double")
                .alias("revenue"),
            )
        )

    q["part_brand_nation_profit"] = part_brand_nation_profit

    def top3_customers_per_nation(spark, sf):
        o = _t(spark, sf, "orders")
        c = _t(spark, sf, "customer")
        n = _t(spark, sf, "nation")
        per_cust = (
            o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .groupBy("n_name", "c_custkey")
            .agg(F.count("*").alias("n_orders"))
        )
        w = Window.partitionBy("n_name").orderBy(
            F.desc("n_orders"), F.asc("c_custkey")
        )
        return (
            per_cust.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 3)
            .select("n_name", "c_custkey", "n_orders", "rnk")
        )

    q["top3_customers_per_nation"] = top3_customers_per_nation

    def customers_without_orders(spark, sf):
        c = _t(spark, sf, "customer")
        o = _t(spark, sf, "orders")
        return c.join(
            o, c.c_custkey == o.o_custkey, "left_anti"
        ).select("c_custkey", "c_name")

    q["customers_without_orders"] = customers_without_orders

    def events_user_degree(spark, sf):
        # A6 degree computation analog over the events table
        return (
            _t(spark, sf, "events")
            .groupBy("user_id")
            .agg(
                F.count("*").alias("n_events"),
                F.countDistinct("event_type").alias("n_event_types"),
            )
        )

    q["events_user_degree"] = events_user_degree

    def confidence_product_complement(spark, sf):
        # A4: edge-confidence aggregation conf = 1 - prod(1 - c)
        e = _t(spark, sf, "events").withColumn(
            "c", F.least(F.greatest(F.col("value") / 1000.0, F.lit(0.0)), F.lit(0.99))
        )
        return e.groupBy("user_id").agg(
            F.round(1 - F.exp(F.sum(F.log1p(-F.col("c")))), 4).alias("conf"),
            F.count("*").alias("support_count"),
        )

    q["confidence_product_complement"] = confidence_product_complement

    def sessionize_events(spark, sf):
        # W-family: lag + gap>30min cumulative session counting
        e = _t(spark, sf, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        ep = F.unix_micros(F.col("ts").cast("timestamp"))
        gap = ep - F.lag(ep).over(w)
        flagged = e.withColumn(
            "new_sess", F.when(gap > 1800 * 1_000_000, 1).otherwise(0)
        )
        return flagged.groupBy("user_id").agg(
            (F.sum("new_sess") + 1).alias("n_sessions"),
            F.count("*").alias("n_events"),
        )

    q["sessionize_events"] = sessionize_events

    # ---- connected components kernel vs recursive-SQL oracle --------------

    def cc_chain_components(spark, sf):
        from sift_kg_spark.operators.components import connected_components

        d = _t(spark, sf, "documents").select("doc_id")
        edges = _chain_edges(d, 10, 3).select(
            F.lpad(F.col("src").cast("string"), 8, "0").alias("url_a"),
            F.lpad(F.col("dst").cast("string"), 8, "0").alias("url_b"),
        )
        cc = connected_components(edges)
        return cc.select(
            F.col("url").alias("node"), F.col("cluster_id").alias("component")
        )

    q["cc_chain_components"] = cc_chain_components

    # ---- reference operator analogs: search / joins / sets / graph --------

    def search_pages(spark, sf):
        # F5: case-insensitive substring search via the library operator
        # (operators/search.py; ref cli.py:603-622 name/alias scan)
        from sift_kg_spark.operators.search import search_substring

        d = _t(spark, sf, "documents")
        return (
            search_substring(d, "table", cols=("text",))
            .filter(F.col("lang") == "en")
            .select("doc_id", "source", "n_chars")
        )

    q["search_pages"] = search_pages

    def cross_lang_block_dups(spark, sf):
        # J7: exact-key match across partitions (reference: same name across
        # entity types, resolver.py:190-245) -> blocks spanning >= 2 langs
        d = _t(spark, sf, "documents").withColumn(
            "block",
            F.md5(F.expr("array_join(slice(split(trim(text), '\\\\s+'), 1, 2), ' ')")),
        )
        return (
            d.groupBy("block")
            .agg(
                F.countDistinct("lang").alias("n_langs"),
                F.count("*").alias("n_docs"),
                F.min("doc_id").alias("canonical_doc_id"),
            )
            .filter(F.col("n_langs") >= 2)
        )

    q["cross_lang_block_dups"] = cross_lang_block_dups

    def edge_rewrite_self_loop_drop(spark, sf):
        # J8+G6: rewrite edge endpoints through the member->canonical map,
        # drop self-loops, collapse parallel edges with support counts
        # (engine.py:34-76; knowledge_graph.py:176-263)
        d = _t(spark, sf, "documents").withColumn(
            "block",
            F.md5(F.expr("array_join(slice(split(trim(text), '\\\\s+'), 1, 2), ' ')")),
        )
        w = Window.partitionBy("block").orderBy(F.desc("n_chars"), F.asc("doc_id"))
        assign = d.withColumn("canonical_doc_id", F.first("doc_id").over(w)).select(
            "doc_id", "canonical_doc_id"
        )
        edges = _chain_edges(_t(spark, sf, "documents").select("doc_id"), 7, 2)
        a_src = assign.select(
            F.col("doc_id").alias("src"), F.col("canonical_doc_id").alias("new_src")
        )
        a_dst = assign.select(
            F.col("doc_id").alias("dst"), F.col("canonical_doc_id").alias("new_dst")
        )
        return (
            edges.join(a_src, "src")
            .join(a_dst, "dst")
            .filter(F.col("new_src") != F.col("new_dst"))
            .groupBy("new_src", "new_dst")
            .agg(F.count("*").alias("support_count"))
        )

    q["edge_rewrite_self_loop_drop"] = edge_rewrite_self_loop_drop

    def max_value_event_per_user(spark, sf):
        # A2: keep the max-confidence mention per key (extractor.py:291-316)
        return (
            _t(spark, sf, "events")
            .groupBy("user_id")
            .agg(
                F.max_by("event_id", F.struct("value", "event_id")).alias(
                    "best_event_id"
                ),
                F.round(F.max("value"), 6).alias("max_value"),
            )
        )

    q["max_value_event_per_user"] = max_value_event_per_user

    def user_event_type_sets(spark, sf):
        # U1/A3: alias/source-document set union on merge. The set is
        # emitted as a '|'-joined string: the driver's canonicalizer hashes
        # column values and array cells are not hashable.
        return (
            _t(spark, sf, "events")
            .groupBy("user_id")
            .agg(
                F.array_join(
                    F.sort_array(F.collect_set("event_type")), "|"
                ).alias("event_types"),
                F.size(F.collect_set("event_type")).alias("n_types"),
            )
        )

    q["user_event_type_sets"] = user_event_type_sets

    def slugify_sources(spark, sf):
        # X4: entity-id slugification (builder.py:26-38): lowercase ASCII,
        # non-alnum -> '_', collapse repeats, 'type:slug'
        d = _t(spark, sf, "documents")
        slug = F.regexp_replace(
            F.regexp_replace(F.lower(F.col("source")), "[^a-z0-9]+", "_"),
            "^_+|_+$",
            "",
        )
        return d.select(
            "doc_id",
            F.concat(F.col("lang"), F.lit(":"), slug).alias("slug_id"),
        )

    q["slugify_sources"] = slugify_sources

    def isolated_docs(spark, sf):
        # G4: degree-0 nodes = docs on neither end of any chain edge
        d = _t(spark, sf, "documents").select("doc_id")
        edges = _chain_edges(d, 10, 3)
        endpoints = edges.select(F.col("src").alias("doc_id")).unionByName(
            edges.select(F.col("dst").alias("doc_id"))
        )
        return d.join(endpoints, "doc_id", "left_anti")

    q["isolated_docs"] = isolated_docs

    def two_hop_neighbors(spark, sf):
        # G5: ego-subgraph BFS depth 2 via the library operator
        # (operators/graphstats.ego_bfs; ref communities.py:292-376).
        # ego_bfs returns first-reach hops; the node SET within depth 2
        # equals the hop1 ∪ hop2 shape the oracle expresses.
        from sift_kg_spark.operators.graphstats import ego_bfs

        d = _t(spark, sf, "documents").select("doc_id")
        edges = _chain_edges(d, 10, 3).select(
            F.col("src").alias("url_a"), F.col("dst").alias("url_b")
        )
        seeds = d.filter(F.col("doc_id") % 100 == 0).select(
            F.col("doc_id").alias("seed")
        )
        return ego_bfs(edges, seeds, depth=2).select("seed", "node")

    q["two_hop_neighbors"] = two_hop_neighbors

    def binary_payload_stats(spark, sf):
        # multimodal plumbing: opaque binary column + typed metadata
        # (byte length, magic-byte sniff) — decode itself is stubbed in
        # sift_kg_spark.functions.multimodal
        d = _t(spark, sf, "documents").withColumn(
            "payload", F.encode(F.col("text"), "UTF-8")
        )
        return d.select(
            "doc_id",
            F.octet_length("payload").alias("n_bytes"),
            (F.octet_length("payload") - F.length("text")).alias("multibyte_overhead"),
        )

    q["binary_payload_stats"] = binary_payload_stats

    def multimodal_frame_sample_stats(spark, sf):
        # video frame-sampling plumbing (functions/multimodal
        # sample_video_frames over mapInPandas): the fake codec emits one
        # frame per 1024 payload bytes, evenly sampled up to n_frames —
        # so the per-doc frame COUNT is a SQL-expressible contract
        # (least(n, greatest(1, bytes div 1024))) even though the frame
        # features themselves are seeded numpy vectors.
        from sift_kg_spark.functions.multimodal import sample_video_frames

        d = (
            _t(spark, sf, "documents")
            .filter(F.col("text").isNotNull())
            .select(
                F.col("doc_id").cast("string").alias("url"),
                F.encode("text", "UTF-8").alias("payload"),
            )
        )
        frames = sample_video_frames(d, "payload", n_frames=3)
        return frames.groupBy(
            F.col("url").cast("bigint").alias("doc_id")
        ).agg(
            F.count("*").alias("n_frames"),
            F.max("frame_idx").cast("int").alias("max_idx"),
        )

    q["multimodal_frame_sample_stats"] = multimodal_frame_sample_stats

    def ann_lsh_topk_embeddings(spark, sf):
        # scale-path ANN (random-hyperplane LSH buckets + exact re-rank),
        # oracled through an invariant projection: per query, how many of
        # the ANN top-5 appear in the EXACT cosine top-5 (DuckDB-computable)
        # — emitted as a recall gate (>= 4 of 5), which the deterministic
        # seeded ANN satisfies for every query at this data.
        from sift_kg_spark.operators.ann import ann_lsh_topk

        e = _t(spark, sf, "embeddings")
        # narrow 4-bit bands: the driver embeddings are near-uniform (low
        # top-5 cosines), so recall needs many high-collision bands; at
        # corpus scale the wide-band default + bucket cap applies instead.
        ann = ann_lsh_topk(
            e, "vec_id", "embedding", dim=64, k=5,
            n_planes=256, bits_per_band=4,
            query_filter=F.col("vec_id") < 10,
        ).select("query_id", "neighbor_id")
        exact = embedding_cosine_topk(spark, sf).select(
            "query_id", "neighbor_id"
        )
        hits = (
            ann.join(exact, ["query_id", "neighbor_id"], "left_semi")
            .groupBy("query_id")
            .agg(F.count("*").alias("n_hits"))
        )
        all_q = e.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id")
        )
        return all_q.join(hits, "query_id", "left").select(
            "query_id",
            (F.coalesce(F.col("n_hits"), F.lit(0)) >= 4)
            .cast("int")
            .alias("recall_ge_4_of_5"),
        )

    q["ann_lsh_topk_embeddings"] = ann_lsh_topk_embeddings

    def ann_ivf_topk_embeddings(spark, sf):
        # the data-ADAPTIVE ANN scale path (IVF-flat: deterministic
        # hash-sampled coarse centroids, n_probe nearest cells probed per
        # query, exact re-rank inside — operators/ann.ann_ivf_topk),
        # oracled through the same invariant projection as the LSH path:
        # per query, ANN top-5 ∩ exact top-5 as a recall gate. The driver
        # embeddings are near-uniform random (worst case for IVF —
        # neighborhood structure is weak), so the gate is >= 3 of 5 at a
        # high probe fraction (24/32 cells; measured min 4/5, sum 47/50);
        # clustered corpora reach ~1.0 recall at n_probe/n_centroids
        # ~0.4% (tests/test_operators blob test).
        from sift_kg_spark.operators.ann import ann_ivf_topk

        e = _t(spark, sf, "embeddings")
        ann = ann_ivf_topk(
            e, "vec_id", "embedding", dim=64, k=5,
            n_centroids=32, n_probe=24,
            query_filter=F.col("vec_id") < 10,
        ).select("query_id", "neighbor_id")
        exact = embedding_cosine_topk(spark, sf).select(
            "query_id", "neighbor_id"
        )
        hits = (
            ann.join(exact, ["query_id", "neighbor_id"], "left_semi")
            .groupBy("query_id")
            .agg(F.count("*").alias("n_hits"))
        )
        all_q = e.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id")
        )
        return all_q.join(hits, "query_id", "left").select(
            "query_id",
            (F.coalesce(F.col("n_hits"), F.lit(0)) >= 3)
            .cast("int")
            .alias("recall_ge_3_of_5"),
        )

    q["ann_ivf_topk_embeddings"] = ann_ivf_topk_embeddings

    # ---- dedup pipeline invariants (oracled projections) -------------------
    # MinHash/LSH band hashing is not SQL-expressible, but SQL-checkable
    # invariant PROJECTIONS of the operators are (VERDICT r01 item 1):
    # plant duplicates deterministically, assert the operator finds them.

    def dedup_lsh_candidates(spark, sf):
        # invariant: for every planted near-duplicate (one token replaced
        # in a >=400-char doc), the LSH exchange MUST produce the pair as
        # a candidate (minhash P[miss] < 1e-11 at J>=0.87, plus the
        # deterministic simchunk channel; seeded, so exactly reproducible).
        from sift_kg_spark.config import DedupConfig
        from sift_kg_spark.functions.features import make_features_udf
        from sift_kg_spark.functions.text import normalize_text_udf
        from sift_kg_spark.operators.lsh import candidate_pairs, explode_keys

        cfg = DedupConfig(min_text_chars=10)
        base = _docs_as_pages(spark, sf)
        d = _tp(spark, sf, "documents")
        url_of = F.format_string(
            "doc://%s/%06d", F.col("source"), F.col("doc_id")
        )
        planted = d.filter(
            (F.col("doc_id") % 17 == 3) & (F.col("n_chars") >= 400)
        )
        edited = F.expr(
            "array_join(transform(split(trim(text), '\\\\s+'),"
            " (t, i) -> IF(i = 2, 'zqx7', t)), ' ')"
        )
        copies = planted.select(
            F.concat(url_of, F.lit("#near")).alias("url"),
            F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
            F.lit(None).cast("binary").alias("html"),
            edited.alias("text"),
            F.col("lang"),
        )
        pages = base.unionByName(copies)
        docs = pages.withColumn("text_norm", normalize_text_udf("text"))
        udf = make_features_udf(cfg)
        # Pin the feature table: candidate_pairs' pairing self-join
        # re-executes its input subtree once per side (AQE same-round
        # stage materialization does not deduplicate identical sibling
        # exchanges), and here that subtree is the normalize + signature
        # UDF chain over the whole corpus — run it once (the pipeline
        # proper commits/persists its features stage for the same
        # reason).
        from pyspark import StorageLevel

        feats = docs.select(
            F.xxhash64("url").alias("doc_uid"),
            "lang",
            udf(F.col("text_norm")).alias("f"),
        ).select("doc_uid", "lang", "f.*").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        cands = candidate_pairs(explode_keys(feats, cfg), cfg).select(
            "uid_a", "uid_b"
        )
        want = planted.select(
            "doc_id",
            F.xxhash64(url_of).alias("u1"),
            F.xxhash64(F.concat(url_of, F.lit("#near"))).alias("u2"),
        ).select(
            "doc_id",
            F.least("u1", "u2").alias("uid_a"),
            F.greatest("u1", "u2").alias("uid_b"),
        )
        found = want.join(cands, ["uid_a", "uid_b"], "left_semi").select(
            "doc_id", F.lit(1).alias("pair_in_candidates")
        )
        return (
            want.select("doc_id")
            .join(found, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("pair_in_candidates", F.lit(0)).alias(
                    "pair_in_candidates"
                ),
            )
        )

    q["dedup_lsh_candidates"] = dedup_lsh_candidates

    def simhash_near_dups(spark, sf):
        # Standalone SimHash-Hamming near-dup operator (operators/
        # simhash): 64-bit fingerprint -> chunk-pair blocking keys ->
        # bit_count(xor) confirm, no MinHash anywhere. Invariant: a
        # planted EXACT copy has Hamming 0, every chunk clean, so the
        # deterministic pigeonhole channel MUST surface the pair and the
        # confirm must score it 0. (Near-dup distances are pinned against
        # a brute-force kernel oracle in tests/test_simhash_op.py — the
        # planted-copy projection here keeps the driver oracle exact.)
        from sift_kg_spark.operators.simhash import simhash_near_dup_pairs

        d = _tp(spark, sf, "documents")
        url_of = F.format_string(
            "doc://%s/%06d", F.col("source"), F.col("doc_id")
        )
        planted = d.filter(
            (F.col("doc_id") % 17 == 3) & (F.col("n_chars") >= 400)
        )
        base = d.select(url_of.alias("id"), "text")
        copies = planted.select(
            F.concat(url_of, F.lit("#sim")).alias("id"), "text"
        )
        pairs = simhash_near_dup_pairs(
            base.unionByName(copies), id_col="id", text_col="text",
            max_hamming=6,
        )
        want = planted.select(
            "doc_id",
            url_of.alias("id_a"),
            F.concat(url_of, F.lit("#sim")).alias("id_b"),
        )
        hit = want.join(pairs, ["id_a", "id_b"], "inner").select(
            "doc_id", F.lit(1).alias("pair_found"), F.col("hamming")
        )
        return (
            want.select("doc_id")
            .join(hit, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("pair_found", F.lit(0)).alias("pair_found"),
                F.coalesce("hamming", F.lit(-1)).alias("hamming"),
            )
        )

    q["simhash_near_dups"] = simhash_near_dups

    def dedup_full_pipeline(spark, sf):
        # invariants over the FULL pipeline on documents + planted exact
        # copies: (1) every planted copy pair is co-clustered; (2) the
        # cluster canonical A1-dominates both members under the
        # (-n_chars, url) total order (prededup.py:177-196 semantics).
        from sift_kg_spark.config import DedupConfig
        from sift_kg_spark.pipeline import run_dedup

        base = _docs_as_pages(spark, sf)
        d = _t(spark, sf, "documents")
        url_of = F.format_string(
            "doc://%s/%06d", F.col("source"), F.col("doc_id")
        )
        planted = d.filter(
            (F.col("doc_id") % 17 == 3) & (F.col("n_chars") >= 200)
        )
        copies = planted.select(
            F.concat(url_of, F.lit("#copy")).alias("url"),
            F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
            F.lit(None).cast("binary").alias("html"),
            F.col("text"),
            F.col("lang"),
        )
        res = run_dedup(
            spark, base.unionByName(copies), DedupConfig(min_text_chars=10)
        )
        a = res.assignments
        nchars = res.docs.select("url", "n_chars")
        canon_chars = nchars.select(
            F.col("url").alias("canonical_url"),
            F.col("n_chars").alias("canon_chars"),
        )
        checked = (
            a.join(nchars, "url")
            .join(canon_chars, "canonical_url")
            .withColumn(
                "a1_dominates",
                (
                    (F.col("canon_chars") > F.col("n_chars"))
                    | (
                        (F.col("canon_chars") == F.col("n_chars"))
                        & (F.col("canonical_url") <= F.col("url"))
                    )
                ).cast("int"),
            )
            .select("url", "cluster_id", "a1_dominates")
        )
        pl = planted.select(
            "doc_id",
            url_of.alias("url_o"),
            F.concat(url_of, F.lit("#copy")).alias("url_c"),
        )
        o = checked.select(
            F.col("url").alias("url_o"),
            F.col("cluster_id").alias("cl_o"),
            F.col("a1_dominates").alias("a1_o"),
        )
        c = checked.select(
            F.col("url").alias("url_c"),
            F.col("cluster_id").alias("cl_c"),
            F.col("a1_dominates").alias("a1_c"),
        )
        return (
            pl.join(o, "url_o")
            .join(c, "url_c")
            .select(
                "doc_id",
                (F.col("cl_o") == F.col("cl_c")).cast("int").alias("co_clustered"),
                (F.col("a1_o") * F.col("a1_c")).alias("canonical_a1_ok"),
            )
        )

    q["dedup_full_pipeline"] = dedup_full_pipeline

    def dedup_incremental_append(spark, sf):
        # §2.10 streaming/incremental (VERDICT r2 #3): base corpus = the
        # documents table; append batch = planted exact copies (+ near
        # edits for longer docs), so every dup family straddles the
        # base/batch boundary. Invariants: (1) the incremental run's
        # COMBINED assignments equal a full run over base ∪ batch row for
        # row (cluster_id, canonical_url, cluster_size); (2) each planted
        # original co-clusters with its copy in the incremental result.
        from sift_kg_spark.config import DedupConfig

        cfg = DedupConfig(min_text_chars=10)
        base_pages = _docs_as_pages(spark, sf)
        d = _t(spark, sf, "documents")
        url_of = F.format_string(
            "doc://%s/%06d", F.col("source"), F.col("doc_id")
        )
        planted = d.filter(
            (F.col("doc_id") % 17 == 3) & (F.col("n_chars") >= 200)
        )
        ts = F.to_timestamp(F.lit("2024-01-01 00:00:00"))
        copies = planted.select(
            F.concat(url_of, F.lit("#copy")).alias("url"),
            ts.alias("warc_ts"),
            F.lit(None).cast("binary").alias("html"),
            F.col("text"),
            F.col("lang"),
        )
        edited = F.expr(
            "array_join(transform(split(trim(text), '\\\\s+'),"
            " (t, i) -> IF(i = 2, 'zqx7', t)), ' ')"
        )
        near = planted.filter(F.col("n_chars") >= 400).select(
            F.concat(url_of, F.lit("#near")).alias("url"),
            ts.alias("warc_ts"),
            F.lit(None).cast("binary").alias("html"),
            edited.alias("text"),
            F.col("lang"),
        )
        batch = copies.unionByName(near)

        ia, global_bad = _incremental_vs_full(
            spark, base_pages, batch, cfg, "skg_incq_base_"
        )
        pl = planted.select(
            "doc_id",
            url_of.alias("url_o"),
            F.concat(url_of, F.lit("#copy")).alias("url_c"),
        )
        io_ = ia.select(F.col("url").alias("url_o"), F.col("i_cl").alias("cl_o"))
        ic = ia.select(F.col("url").alias("url_c"), F.col("i_cl").alias("cl_c"))
        per = (
            pl.join(io_, "url_o")
            .join(ic, "url_c")
            .select(
                "doc_id",
                (F.col("cl_o") == F.col("cl_c")).cast("int").alias("_co"),
            )
        )
        return per.crossJoin(F.broadcast(global_bad)).select(
            "doc_id",
            (
                (F.col("_co") == 1) & (F.col("_any_bad") == 0)
            ).cast("int").alias("combined_equals_full"),
        )

    q["dedup_incremental_append"] = dedup_incremental_append

    def dedup_incremental_capture(spark, sf):
        # Capture tier in incremental mode (r4 VERDICT item 1): the batch
        # RE-CRAWLS existing urls at a later warc_ts — half with edited
        # near-dup text (stays in the family via new pairing), half with
        # unrelated text (leaves its exact-dup cluster; the superseded
        # capture's rows must vanish and its cluster repair). Invariant:
        # the incremental COMBINED assignments equal a full capture-mode
        # run over every raw capture, row for row.
        from sift_kg_spark.config import DedupConfig

        cfg = DedupConfig(min_text_chars=10, capture_dedup=True)
        base_pages = _docs_as_pages(spark, sf)
        d = _t(spark, sf, "documents")
        url_of = F.format_string(
            "doc://%s/%06d", F.col("source"), F.col("doc_id")
        )
        planted = d.filter(
            (F.col("doc_id") % 23).isin(5, 7) & (F.col("n_chars") >= 200)
        )
        ts2 = F.to_timestamp(F.lit("2024-02-01 00:00:00"))
        edited = F.expr(
            "array_join(transform(split(trim(text), '\\\\s+'),"
            " (t, i) -> IF(i = 1, 'recrawl9', t)), ' ')"
        )
        unrelated = F.concat(
            F.lit("entirely fresh recrawl body "),
            F.expr("array_join(transform(sequence(1, 30),"
                   " i -> concat('fresh', doc_id, 'w', i)), ' ')"),
        )
        batch = planted.select(
            url_of.alias("url"),
            ts2.alias("warc_ts"),
            F.lit(None).cast("binary").alias("html"),
            F.when(F.col("doc_id") % 23 == 5, edited)
            .otherwise(unrelated)
            .alias("text"),
            F.col("lang"),
        )

        ia, global_bad = _incremental_vs_full(
            spark, base_pages, batch, cfg, "skg_capq_base_"
        )
        # per planted doc: its url must carry the RE-CRAWLED assignment
        # (present in the incremental result at all)
        per = planted.select("doc_id", url_of.alias("url")).join(
            ia.select("url", F.lit(1).alias("_present")), "url", "left"
        )
        return per.crossJoin(F.broadcast(global_bad)).select(
            "doc_id",
            (
                (F.coalesce("_present", F.lit(0)) == 1)
                & (F.col("_any_bad") == 0)
            ).cast("int").alias("combined_equals_full"),
        )

    q["dedup_incremental_capture"] = dedup_incremental_capture

    def dedup_incremental_span(spark, sf):
        # Span tier in incremental mode (r4 VERDICT item 2): the base
        # corpus is the documents table plus TWO planted carriers of a
        # 40-token boilerplate run (their only shared text — a confirmed
        # near-dup cluster) and one synthetic family-"a" doc per planted
        # doc_id. The batch lands the THIRD boilerplate carrier —
        # crossing span_dedup_min_docs=3, so the base carriers re-clean
        # (tombstone + re-enter) and their glue cluster must SPLIT — plus
        # a one-token-edited family-"b" near-dup per planted doc_id that
        # must co-cluster with its base "a" through the append path.
        # Synthetic family tokens embed the doc_id, so no chunk is shared
        # across families or with the natural corpus: the only crossing
        # is the planted one, and the natural corpus's own span cleaning
        # is identical in base and full runs. Invariant: the incremental
        # COMBINED assignments equal a full span-mode run, row for row.
        from sift_kg_spark.config import DedupConfig

        cfg = DedupConfig(
            min_text_chars=10,
            span_dedup=True,
            span_dedup_chunk_tokens=4,
            span_dedup_min_docs=3,
            approve_jaccard=0.4,
        )
        bp = " ".join(f"spanglue{i:03d}" for i in range(40))

        def _syn(rows):
            return spark.createDataFrame(
                [(u, None, t, "en") for u, t in rows],
                "url string, html binary, text string, lang string",
            )

        fill = lambda p, n: " ".join(f"{p}{i:03d}" for i in range(n))
        carriers = _syn(
            [
                ("span://base/1", bp + " " + fill("afill", 8)),
                ("span://base/2", bp + " " + fill("bfill", 8)),
            ]
        )
        d = _t(spark, sf, "documents")
        planted = d.filter(
            (F.col("doc_id") % 19 == 4) & (F.col("n_chars") >= 200)
        )
        fam_text = F.expr(
            "concat_ws(' ', transform(sequence(0, 29),"
            " i -> concat('fam', doc_id, 'w', i)))"
        )
        fam_edit = F.expr(
            "concat_ws(' ', transform(sequence(0, 29),"
            " i -> IF(i = 2, 'zqx9', concat('fam', doc_id, 'w', i))))"
        )
        fam_a = planted.select(
            F.format_string("span://fam/%06d/a", F.col("doc_id")).alias("url"),
            F.lit(None).cast("binary").alias("html"),
            fam_text.alias("text"),
            F.lit("en").alias("lang"),
        )
        fam_b = planted.select(
            F.format_string("span://fam/%06d/b", F.col("doc_id")).alias("url"),
            F.lit(None).cast("binary").alias("html"),
            fam_edit.alias("text"),
            F.lit("en").alias("lang"),
        )
        base_pages = (
            _docs_as_pages(spark, sf)
            .drop("warc_ts")
            .unionByName(carriers)
            .unionByName(fam_a)
        )
        batch = _syn(
            [("span://batch/1", bp + " " + fill("nfill", 8))]
        ).unionByName(fam_b)

        ia, global_bad = _incremental_vs_full(
            spark, base_pages, batch, cfg, "skg_spanq_base_"
        )
        # global flags: no row mismatch, and the crossing actually split
        # the glue-only carrier cluster in the incremental result
        carrier_cl = ia.filter(
            F.col("url").isin("span://base/1", "span://base/2")
        ).agg(
            (F.countDistinct("i_cl") == 2).cast("int").alias("_split_ok")
        )
        global_bad = global_bad.crossJoin(F.broadcast(carrier_cl))
        # per planted doc: its base family-"a" co-clusters with the
        # batch family-"b" near-dup
        pl = planted.select(
            "doc_id",
            F.format_string("span://fam/%06d/a", F.col("doc_id")).alias(
                "url_o"
            ),
            F.format_string("span://fam/%06d/b", F.col("doc_id")).alias(
                "url_c"
            ),
        )
        io_ = ia.select(F.col("url").alias("url_o"), F.col("i_cl").alias("cl_o"))
        ic = ia.select(F.col("url").alias("url_c"), F.col("i_cl").alias("cl_c"))
        per = (
            pl.join(io_, "url_o")
            .join(ic, "url_c")
            .select(
                "doc_id",
                (F.col("cl_o") == F.col("cl_c")).cast("int").alias("_co"),
            )
        )
        return per.crossJoin(F.broadcast(global_bad)).select(
            "doc_id",
            (
                (F.col("_co") == 1)
                & (F.col("_any_bad") == 0)
                & (F.col("_split_ok") == 1)
            ).cast("int").alias("combined_equals_full"),
        )

    q["dedup_incremental_span"] = dedup_incremental_span

    # ---- cluster-graph stats + exports (A8 / G3 / W3 / S12+X10) -----------

    def _block_assign(spark, sf):
        d = _t(spark, sf, "documents").withColumn(
            "block",
            F.md5(F.expr("array_join(slice(split(trim(text), '\\\\s+'), 1, 2), ' ')")),
        )
        w = Window.partitionBy("block").orderBy(F.desc("n_chars"), F.asc("doc_id"))
        return d.withColumn(
            "cluster_id", F.first("doc_id").over(w)
        ).select(F.col("doc_id").alias("url"), "cluster_id")

    def cluster_pair_stats(spark, sf):
        # A8: cross-cluster pair counts + distinct bridge docs over the
        # chain-edge graph vs the block assignment (communities.py:264-289)
        from sift_kg_spark.operators.graphstats import cross_cluster_pair_counts

        edges = _chain_edges(_t(spark, sf, "documents").select("doc_id"), 7, 2)
        assign = _block_assign(spark, sf)
        return cross_cluster_pair_counts(
            edges, assign, col_a="src", col_b="dst"
        )

    q["cluster_pair_stats"] = cluster_pair_stats

    def bridge_doc_stats(spark, sf):
        # G3: docs with neighbors in >= 1 foreign cluster
        from sift_kg_spark.operators.graphstats import bridge_docs

        edges = _chain_edges(_t(spark, sf, "documents").select("doc_id"), 7, 2)
        assign = _block_assign(spark, sf)
        return bridge_docs(edges, assign, col_a="src", col_b="dst")

    q["bridge_doc_stats"] = bridge_doc_stats

    def top_hubs_neighbors(spark, sf):
        # W3: top-N hubs by degree + their 1-hop neighbors
        from sift_kg_spark.operators.graphstats import top_hubs_with_neighbors

        edges = _chain_edges(_t(spark, sf, "documents").select("doc_id"), 10, 3)
        return top_hubs_with_neighbors(edges, n=5, col_a="src", col_b="dst")

    q["top_hubs_neighbors"] = top_hubs_neighbors

    def export_csv_roundtrip(spark, sf):
        # S12+X10: CSV export of an aggregate, read back (export.py parity)
        import os
        import tempfile

        from sift_kg_spark.exports import export_csv, read_csv_export

        out = os.path.join(
            tempfile.gettempdir(),
            f"skg_export_{os.path.basename(os.path.normpath(sf))}",
        )
        export_csv(lang_histogram(spark, sf), out, single_file=True)
        back = read_csv_export(spark, out)
        return back.select(
            F.col("lang").cast("string").alias("lang"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("total_chars").cast("bigint").alias("total_chars"),
        )

    q["export_csv_roundtrip"] = export_csv_roundtrip

    def multimodal_ann_twins(spark, sf):
        # multimodal -> embedding -> ANN end to end (VERDICT r01 item 8):
        # planted twin payloads (identical bytes -> identical deterministic
        # fake features -> cosine 1.0) must come back as the rank-1 ANN
        # neighbor of their original. Exercises the binary column, the
        # mapInPandas featurizer, and the LSH bucketing in one plan.
        from sift_kg_spark.functions.multimodal import extract_features
        from sift_kg_spark.operators.ann import ann_lsh_topk

        d = _tp(spark, sf, "documents")
        planted = d.filter(F.col("doc_id") % 20 == 0)
        orig = d.select(
            F.format_string("o%06d", F.col("doc_id")).alias("url"),
            F.encode(F.col("text"), "UTF-8").alias("payload"),
        )
        twins = planted.select(
            F.format_string("t%06d", F.col("doc_id")).alias("url"),
            F.encode(F.col("text"), "UTF-8").alias("payload"),
        )
        feats = extract_features(
            orig.unionByName(twins), payload_col="payload", fake=True
        )
        ann = ann_lsh_topk(
            feats, "url", "feature", dim=16, k=1,
            n_planes=64, bits_per_band=8,
            query_filter=F.col("url").startswith("o")
            & ((F.col("url").substr(F.lit(2), F.lit(6)).cast("bigint") % 20) == 0),
        )
        hit = ann.filter(F.col("rnk") == 1).select(
            F.col("query_id").substr(F.lit(2), F.lit(6)).cast("bigint").alias("doc_id"),
            (
                F.col("neighbor_id")
                == F.concat(F.lit("t"), F.col("query_id").substr(F.lit(2), F.lit(6)))
            )
            .cast("int")
            .alias("twin_is_rank1"),
        )
        return (
            planted.select("doc_id")
            .join(hit, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("twin_is_rank1", F.lit(0)).alias("twin_is_rank1"),
            )
        )

    q["multimodal_ann_twins"] = multimodal_ann_twins

    def entity_name_keys(spark, sf):
        # X2/X3: entity-name blocking key (ref prededup.py:104-117) —
        # fixpoint title strip + rule-based per-word singularization, all
        # JVM-side (one regexp_replace + transform/when; no UDF). Names
        # are derived deterministically from the documents table: two
        # stacked titles (exercises the fixpoint) + the first three text
        # words + a plural tail.
        from sift_kg_spark.functions.names import entity_name_key

        t1 = F.array(
            F.lit("dr."), F.lit("special agent"), F.lit("mrs."),
            F.lit("vice president"), F.lit("judge"),
        )
        t2 = F.array(
            F.lit("det."), F.lit("prof."), F.lit("lady"),
            F.lit("sen."), F.lit("miss"),
        )
        idx = (F.col("doc_id") % 5 + 1).cast("int")
        raw = F.concat_ws(
            " ",
            F.element_at(t1, idx),
            F.element_at(t2, idx),
            F.substring_index(F.col("text"), " ", 3),
            F.lit("studies"),
        )
        return _t(spark, sf, "documents").select(
            "doc_id", entity_name_key(raw).alias("name_key")
        )

    q["entity_name_keys"] = entity_name_keys

    return q


# ---------------------------------------------------------------------------
# oracle SQL (duckdb side)
# ---------------------------------------------------------------------------

def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    o["exact_dup_clusters"] = """
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 10000000 AS doc_id, text
            FROM documents WHERE doc_id % 17 = 3 AND n_chars >= 200
        )
        SELECT md5(text) AS text_hash,
               count(*) AS cluster_size,
               min(doc_id) AS canonical_doc_id
        FROM corpus GROUP BY 1 HAVING count(*) > 1
    """

    o["normalized_fingerprints"] = f"""
        SELECT doc_id, substr(md5({_NORM_DUCK}), 1, 16) AS fp16
        FROM documents
    """

    o["canonical_pick_a1"] = """
        WITH blocked AS (
            SELECT doc_id, n_chars,
                   md5(array_to_string(regexp_split_to_array(trim(text), '\\s+')[1:2], ' ')) AS block
            FROM documents
        ), ranked AS (
            SELECT doc_id, block,
                   first_value(doc_id) OVER (
                       PARTITION BY block ORDER BY n_chars DESC, doc_id ASC
                   ) AS canonical_doc_id,
                   count(*) OVER (PARTITION BY block) AS block_size
            FROM blocked
        )
        SELECT doc_id, block, canonical_doc_id, block_size
        FROM ranked WHERE block_size > 1
    """

    o["quarantine_near_empty"] = """
        SELECT doc_id, n_chars, 'near_empty' AS reason
        FROM documents WHERE length(trim(text)) < 100
    """

    o["lang_histogram"] = """
        SELECT lang, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY lang
    """

    o["token_stats"] = """
        SELECT doc_id,
               len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
               len(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS n_uniq_tokens
        FROM documents
    """

    o["quality_scores"] = """
        SELECT doc_id,
               length(text) AS len_chars,
               len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
               CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS INT) AS n_punct,
               CAST((length(text) - length(replace(text, ' the ', ''))) / 5 AS INT) AS the_hits,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) >= 30 AS INT) AS is_quality
        FROM documents
    """

    o["gopher_quality_flags"] = """
        WITH aug AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0
                        THEN text || ' and of that age' ELSE text END AS text
            FROM documents
        ), s AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS t,
                   length(text) - length(regexp_replace(text, '[#.,;:!?]', '', 'g'))
                       AS n_symbols
            FROM aug
        ), sig AS (
            SELECT doc_id,
                   len(t) AS n_words,
                   CAST(list_sum(list_transform(t, x -> len(x)))
                        / greatest(len(t), 1) AS DOUBLE) AS mean_word_len,
                   CAST(n_symbols / greatest(len(t), 1) AS DOUBLE)
                       AS symbol_ratio,
                   len(list_intersect(t, ['the','be','to','of','and',
                                          'that','have','with']))
                       AS n_stopwords
            FROM s
        )
        SELECT doc_id, n_words,
               round(mean_word_len, 6) AS mean_word_len,
               round(symbol_ratio, 6) AS symbol_ratio,
               n_stopwords,
               CAST(n_words BETWEEN 40 AND 100000 AS INT) AS words_ok,
               CAST(mean_word_len BETWEEN 4.0 AND 10.0 AS INT) AS word_len_ok,
               CAST(symbol_ratio <= 0.1 AS INT) AS symbol_ok,
               CAST(n_stopwords >= 2 AS INT) AS stopword_ok,
               CAST(n_words BETWEEN 40 AND 100000
                    AND mean_word_len BETWEEN 4.0 AND 10.0
                    AND symbol_ratio <= 0.1
                    AND n_stopwords >= 2 AS INT) AS keep
        FROM sig
    """

    o["url_canonical_dedup"] = """
        WITH raw AS (
            SELECT (CASE doc_id % 3 WHEN 0 THEN 'HTTP://'
                                    WHEN 1 THEN 'https://'
                                    ELSE 'HTTPS://' END)
                || 'WWW.Site' || CAST(doc_id % 7 AS VARCHAR) || '.COM'
                || (CASE doc_id % 4 WHEN 0 THEN ':80' WHEN 1 THEN ':443'
                                    WHEN 2 THEN ':8080' ELSE '' END)
                || '/Page/' || CAST(doc_id % 13 AS VARCHAR)
                || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
                || (CASE doc_id % 6
                        WHEN 0 THEN '?utm_source=feed&b=2&a=1'
                        WHEN 1 THEN '?b=2&a=1'
                        WHEN 2 THEN '?gclid=x'
                        WHEN 3 THEN '?a=1&utm_campaign=Q&b=2'
                        ELSE '' END)
                || (CASE WHEN doc_id % 2 = 1 THEN '#sec' ELSE '' END)
                AS u
            FROM documents
        ), nofrag AS (
            SELECT regexp_replace(u, '#.*$', '') AS u FROM raw
        ), lowhead AS (
            SELECT lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?]*)', 1))
                   || substr(u, length(regexp_extract(u,
                          '^([A-Za-z][A-Za-z0-9+.-]*://[^/?]*)', 1)) + 1) AS u
            FROM nofrag
        ), noport AS (
            SELECT regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                       u,
                       '^(http://[^/:?]+):80([/?])', '\\1\\2'),
                       '^(http://[^/:?]+):80$', '\\1'),
                       '^(https://[^/:?]+):443([/?])', '\\1\\2'),
                       '^(https://[^/:?]+):443$', '\\1') AS u
            FROM lowhead
        ), qsplit AS (
            SELECT regexp_replace(u, '\\?.*$', '') AS base,
                   CASE WHEN contains(u, '?')
                        THEN regexp_replace(u, '^[^?]*\\?', '')
                        ELSE '' END AS qs
            FROM noport
        ), rejoined AS (
            SELECT CASE WHEN len(p) > 0
                        THEN base || '?' || array_to_string(p, '&')
                        ELSE base END AS u
            FROM (
                SELECT base,
                       list_sort(list_filter(string_split(qs, '&'),
                           x -> x <> '' AND NOT regexp_matches(x,
                               '^(utm_[A-Za-z]+|fbclid|gclid|msclkid|ref)=')))
                           AS p
                FROM qsplit
            )
        ), canon AS (
            SELECT regexp_replace(regexp_replace(
                       u,
                       '(://[^/?]+/[^?]*[^/?])/\\?', '\\1?'),
                       '(://[^/?]+/[^?]*[^/?])/$', '\\1') AS canonical_url
            FROM rejoined
        )
        SELECT canonical_url, count(*) AS n_captures
        FROM canon GROUP BY 1
    """

    o["url_latest_capture"] = """
        WITH raw AS (
            SELECT 'http://u' || CAST(user_id AS VARCHAR) || '.com/p/'
                   || CAST(event_id % 5 AS VARCHAR)
                   || (CASE WHEN event_id % 3 = 0 THEN '?utm_source=crawl'
                            ELSE '' END)
                   || (CASE WHEN event_id % 2 = 0 THEN '#top' ELSE '' END)
                   AS url,
                   ts AS warc_ts
            FROM events
        ), canon AS (
            -- all-lowercase synthetic urls: canonicalization reduces to
            -- fragment strip + query rewrite (utm-only queries vanish)
            SELECT url, warc_ts,
                   regexp_replace(regexp_replace(url, '#.*$', ''),
                                  '\\?utm_source=crawl$', '')
                       AS canonical_url
            FROM raw
        ), ranked AS (
            SELECT canonical_url, url, warc_ts,
                   row_number() OVER (
                       PARTITION BY canonical_url
                       ORDER BY warc_ts DESC, url DESC) AS rn,
                   count(*) OVER (PARTITION BY canonical_url)
                       AS n_captures
            FROM canon
        )
        SELECT canonical_url, url AS winning_url, warc_ts AS latest_ts,
               n_captures
        FROM ranked WHERE rn = 1
    """

    o["lang_id_stopword_votes"] = """
        WITH padded AS (
            SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents
        ), votes AS (
            SELECT doc_id,
                   CAST((length(p) - length(replace(p, ' the ', ''))) / 5
                      + (length(p) - length(replace(p, ' and ', ''))) / 5 AS INT) AS votes_en,
                   CAST((length(p) - length(replace(p, ' el ', ''))) / 4
                      + (length(p) - length(replace(p, ' de ', ''))) / 4 AS INT) AS votes_es,
                   CAST((length(p) - length(replace(p, ' der ', ''))) / 5
                      + (length(p) - length(replace(p, ' und ', ''))) / 5 AS INT) AS votes_de
            FROM padded
        )
        SELECT doc_id, votes_en, votes_es, votes_de,
               CASE WHEN votes_en >= votes_es AND votes_en >= votes_de AND votes_en > 0 THEN 'en'
                    WHEN votes_es >= votes_de AND votes_es > 0 THEN 'es'
                    WHEN votes_de > 0 THEN 'de'
                    ELSE 'und' END AS guess
        FROM votes
    """

    # span dedup / repetition (operators/linededup, K=4 non-overlapping
    # token chunks; DuckDB lateral-unnest over range() mirrors Spark's
    # transform(sequence) chunker)
    _CHUNKS_CTE = """
        toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        chunks AS (
            SELECT doc_id, i AS chunk_idx,
                   array_to_string(t[i*4+1 : i*4+4], ' ') AS chunk
            FROM toks,
                 LATERAL UNNEST(range(CAST(ceil(len(t)/4.0) AS BIGINT))) AS u(i)
        ),
        bp AS (
            SELECT chunk, count(DISTINCT doc_id) AS n_docs
            FROM chunks GROUP BY 1 HAVING count(DISTINCT doc_id) >= 3
        )
    """

    o["boilerplate_chunk_stats"] = f"""
        WITH {_CHUNKS_CTE}
        SELECT chunk, n_docs FROM bp
    """

    o["line_dedup_clean"] = f"""
        WITH {_CHUNKS_CTE}
        SELECT c.doc_id,
               count(*) AS n_chunks,
               count(bp.chunk) AS n_boilerplate,
               coalesce(
                   string_agg(CASE WHEN bp.chunk IS NULL THEN c.chunk END,
                              ' ' ORDER BY c.chunk_idx),
                   '') AS clean_text
        FROM chunks c LEFT JOIN bp ON c.chunk = bp.chunk
        GROUP BY c.doc_id
    """

    o["doc_repetition_stats"] = f"""
        WITH {_CHUNKS_CTE},
        cstats AS (
            SELECT doc_id, count(*) AS n_chunks,
                   1.0 - count(DISTINCT chunk) / CAST(count(*) AS DOUBLE)
                       AS dup_chunk_frac
            FROM chunks GROUP BY 1
        ),
        bigrams AS (
            SELECT doc_id, t[i] || ' ' || t[i+1] AS bg
            FROM toks, LATERAL UNNEST(range(1, CAST(len(t) AS BIGINT))) AS u(i)
        ),
        bstats AS (
            SELECT doc_id, max(c) / CAST(sum(c) AS DOUBLE) AS top_bigram_frac
            FROM (SELECT doc_id, bg, count(*) AS c FROM bigrams GROUP BY 1, 2)
            GROUP BY doc_id
        )
        SELECT c.doc_id, c.n_chunks, c.dup_chunk_frac,
               coalesce(b.top_bigram_frac, 0.0) AS top_bigram_frac
        FROM cstats c LEFT JOIN bstats b ON c.doc_id = b.doc_id
    """

    # winnowing fingerprints (operators/winnow, k=3 token grams, w=4
    # windows, full windows only; md5-hex-16 gram hash, lexicographic min)
    def _winnow_fps_cte(source: str) -> str:
        return f"""
        toks AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
            FROM {source}
        ),
        grams AS (
            SELECT doc_id, i AS pos,
                   substr(md5(array_to_string(t[i : i+2], ' ')), 1, 16)
                       AS gram_hash,
                   len(t) - 3 + 1 AS n_grams
            FROM toks,
                 LATERAL UNNEST(range(1, CAST(len(t) - 3 + 2 AS BIGINT))) AS u(i)
            WHERE len(t) >= 3
        ),
        mins AS (
            SELECT doc_id, pos, n_grams,
                   min(gram_hash) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
            FROM grams
        ),
        fps AS (
            SELECT DISTINCT doc_id, fp FROM mins WHERE pos <= n_grams - 4 + 1
        )
        """

    o["winnow_fingerprint_profile"] = f"""
        WITH {_winnow_fps_cte("documents")}
        SELECT doc_id, count(*) AS n_fps, min(fp) AS min_fp, max(fp) AS max_fp
        FROM fps GROUP BY doc_id
    """

    o["winnow_dup_pairs"] = f"""
        WITH planted AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 10000000 AS doc_id,
                   array_to_string(
                       (regexp_split_to_array(trim(text), '\\s+'))
                           [1 : CAST(floor(len(regexp_split_to_array(trim(text), '\\s+')) * 0.8) AS INT)],
                       ' ') AS text
            FROM documents WHERE doc_id % 17 = 3 AND n_chars >= 200
        ),
        {_winnow_fps_cte("planted")},
        sized AS (
            SELECT doc_id, fp,
                   count(*) OVER (PARTITION BY fp) AS n_docs,
                   min(doc_id) OVER (PARTITION BY fp) AS rep
            FROM fps
        ),
        normal AS (SELECT * FROM sized WHERE n_docs > 1 AND n_docs <= 64),
        hot AS (SELECT * FROM sized WHERE n_docs > 64),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM normal a JOIN normal b USING (fp) WHERE a.doc_id < b.doc_id
            UNION ALL
            SELECT least(doc_id, rep) AS doc_a, greatest(doc_id, rep) AS doc_b
            FROM hot WHERE doc_id <> rep
        )
        SELECT doc_a, doc_b, count(*) AS n_shared FROM pairs
        GROUP BY 1, 2 HAVING count(*) >= 3
    """

    o["pack_training_shards"] = """
        WITH t AS (
            SELECT doc_id,
                   CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                        AS BIGINT) AS n_tokens
            FROM documents
        ),
        c AS (
            SELECT doc_id, n_tokens,
                   sum(n_tokens) OVER (ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) AS cum
            FROM t
        )
        SELECT CAST(floor((cum - n_tokens) / 2000.0) AS BIGINT) AS shard_id,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        FROM c GROUP BY 1
    """

    o["top_bigrams"] = """
        WITH toks AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents
        ),
        grams AS (
            SELECT doc_id, t[i] || ' ' || t[i+1] AS gram
            FROM toks,
                 LATERAL UNNEST(range(1, CAST(len(t) AS BIGINT))) AS u(i)
            WHERE len(t) >= 2
        )
        SELECT gram, count(*) AS n_occurrences,
               count(DISTINCT doc_id) AS n_docs
        FROM grams GROUP BY gram
        ORDER BY n_occurrences DESC, gram ASC
        LIMIT 50
    """

    o["pii_redaction_stats"] = r"""
        WITH planted AS (
            SELECT doc_id,
                   text || CASE
                       WHEN doc_id % 19 = 2 THEN
                           ' contact bob@example.com or'
                           || ' sue+tag@mail.example.org now'
                       WHEN doc_id % 19 = 7 THEN
                           ' call +1 555 123 4567 or (212) 555-0199 today'
                       WHEN doc_id % 19 = 11 THEN
                           ' server at 10.0.0.1 and 192.168.255.254 up'
                       ELSE ''
                   END AS text
            FROM documents
        )
        SELECT doc_id,
               len(regexp_extract_all(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                   AS n_email,
               len(regexp_extract_all(text,
                   '\+\d[\d -]{7,14}\d|\(\d{3}\) ?\d{3}-\d{4}'))
                   AS n_phone,
               len(regexp_extract_all(text,
                   '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS n_ip,
               length(
                   regexp_replace(regexp_replace(regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                       '\+\d[\d -]{7,14}\d|\(\d{3}\) ?\d{3}-\d{4}',
                       '<PHONE>', 'g'),
                       '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g')
               ) AS len_redacted
        FROM planted
    """

    o["stratified_sample_docs"] = """
        WITH rates(lang, rate) AS (
            VALUES ('en', 0.5), ('de', 0.25), ('es', 0.75), ('fr', 0.125),
                   ('zh', 1.0)
        )
        SELECT d.doc_id, d.lang
        FROM documents d JOIN rates r USING (lang)
        WHERE r.rate >= 1.0
           OR substr(md5('mix1:' || CAST(d.doc_id AS VARCHAR)), 1, 8)
              < printf('%08x',
                       CAST(floor(r.rate * 4294967296.0) AS BIGINT))
    """

    o["token_budget_mix"] = """
        WITH t AS (
            SELECT doc_id, lang,
                   CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                        AS BIGINT) AS n_tokens
            FROM documents
        ),
        rates AS (
            SELECT lang, least(1.0, 400.0 / sum(n_tokens)) AS rate
            FROM t GROUP BY lang
        )
        SELECT t.doc_id, t.lang, t.n_tokens
        FROM t JOIN rates r USING (lang)
        WHERE r.rate >= 1.0
           OR substr(md5('budget:' || CAST(t.doc_id AS VARCHAR)), 1, 8)
              < printf('%08x',
                       CAST(floor(r.rate * 4294967296.0) AS BIGINT))
    """

    o["decontaminate_benchmark"] = """
        WITH toks AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents
        ),
        bench AS (
            SELECT array_to_string(t[4:23], ' ') AS btext
            FROM toks WHERE doc_id % 13 = 5 AND len(t) >= 30
        ),
        btoks AS (
            SELECT regexp_split_to_array(trim(btext), '\\s+') AS bt FROM bench
        ),
        bgrams AS (
            SELECT DISTINCT
                   substr(md5(array_to_string(bt[i : i+7], ' ')), 1, 16) AS g
            FROM btoks,
                 LATERAL UNNEST(range(1, CAST(len(bt) - 8 + 2 AS BIGINT))) AS u(i)
            WHERE len(bt) >= 8
        ),
        cgrams AS (
            SELECT doc_id,
                   substr(md5(array_to_string(t[i : i+7], ' ')), 1, 16) AS g
            FROM toks,
                 LATERAL UNNEST(range(1, CAST(len(t) - 8 + 2 AS BIGINT))) AS u(i)
            WHERE len(t) >= 8
        ),
        hits AS (
            SELECT doc_id, count(DISTINCT g) AS n_hits
            FROM cgrams JOIN bgrams USING (g) GROUP BY 1
        )
        SELECT c.doc_id,
               greatest(len(c.t) - 8 + 1, 0) AS n_grams,
               coalesce(h.n_hits, 0) AS n_hits,
               coalesce(h.n_hits, 0) >= 1 AS contaminated
        FROM toks c LEFT JOIN hits h USING (doc_id)
    """

    o["ngram_jaccard_pairs"] = """
        WITH toks AS (
            SELECT doc_id,
                   md5(array_to_string(regexp_split_to_array(trim(text), '\\s+')[1:2], ' ')) AS block,
                   regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents
        ), grams AS (
            SELECT DISTINCT doc_id, block,
                   unnest(list_transform(
                       generate_series(1, greatest(len(t) - 2, 1)),
                       i -> array_to_string(t[i:i+2], ' ')
                   )) AS gram
            FROM toks
        ), sizes AS (
            SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
            FROM grams a JOIN grams b
              ON a.block = b.block AND a.gram = b.gram AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, n_inter,
               sa.n_grams AS grams_a, sb.n_grams AS grams_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
    """

    o["embedding_cosine_topk"] = """
        WITH scored AS (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                   list_cosine_similarity(q.embedding, n.embedding) AS cosine
            FROM embeddings q JOIN embeddings n ON q.vec_id <> n.vec_id
            WHERE q.vec_id < 10
        )
        SELECT query_id, neighbor_id,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
               ) AS rnk
        FROM scored
        QUALIFY rnk <= 5
    """

    o["embedding_near_dup_pairs"] = """
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.35
    """

    o["semantic_dedup_prune"] = """
        WITH RECURSIVE pairs AS (
            SELECT lpad(CAST(a.vec_id AS VARCHAR), 8, '0') AS a,
                   lpad(CAST(b.vec_id AS VARCHAR), 8, '0') AS b
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.35
        ),
        sym AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
        nodes AS (SELECT DISTINCT a AS node FROM sym),
        reach(node, label) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT s.b, r.label FROM reach r JOIN sym s ON s.a = r.node
        ),
        comp AS (SELECT node, min(label) AS comp FROM reach GROUP BY node)
        SELECT e.vec_id,
               coalesce(c.comp, lpad(CAST(e.vec_id AS VARCHAR), 8, '0'))
                   AS component,
               CAST(coalesce(c.comp, lpad(CAST(e.vec_id AS VARCHAR), 8, '0'))
                    = lpad(CAST(e.vec_id AS VARCHAR), 8, '0') AS INT)
                   AS is_kept
        FROM embeddings e
        LEFT JOIN comp c ON c.node = lpad(CAST(e.vec_id AS VARCHAR), 8, '0')
    """

    o["tpch_q1_pricing"] = """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice * (1 - l_discount)), 1) AS revenue,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """

    o["region_revenue"] = """
        SELECT r_name, count(*) AS n_orders,
               round(sum(o_totalprice), 1) AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
    """

    o["part_brand_nation_profit"] = """
        SELECT n_name AS nation, p_brand,
               CAST(year(l_shipdate) AS INT) AS ship_year,
               count(*) AS n_lines,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                              * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 1)
                    AS DOUBLE) AS revenue
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        GROUP BY 1, 2, 3
    """

    o["top3_customers_per_nation"] = """
        WITH per_cust AS (
            SELECT n_name, c_custkey, count(*) AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name, c_custkey
        )
        SELECT n_name, c_custkey, n_orders,
               row_number() OVER (
                   PARTITION BY n_name ORDER BY n_orders DESC, c_custkey ASC
               ) AS rnk
        FROM per_cust QUALIFY rnk <= 3
    """

    o["customers_without_orders"] = """
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """

    o["events_user_degree"] = """
        SELECT user_id, count(*) AS n_events,
               count(DISTINCT event_type) AS n_event_types
        FROM events GROUP BY user_id
    """

    o["confidence_product_complement"] = """
        SELECT user_id,
               round(1 - exp(sum(ln(1 - least(greatest(value / 1000.0, 0.0), 0.99)))), 4) AS conf,
               count(*) AS support_count
        FROM events GROUP BY user_id
    """

    o["sessionize_events"] = """
        WITH lagged AS (
            SELECT user_id,
                   CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id
                        ) > 1800 * 1000000 THEN 1 ELSE 0 END AS new_sess
            FROM events
        )
        SELECT user_id, CAST(sum(new_sess) + 1 AS BIGINT) AS n_sessions,
               count(*) AS n_events
        FROM lagged GROUP BY user_id
    """

    o["cc_chain_components"] = """
        WITH RECURSIVE mx AS (SELECT max(doc_id) AS m FROM documents),
        edges AS (
            SELECT lpad(CAST(doc_id AS VARCHAR), 8, '0') AS a,
                   lpad(CAST(doc_id + 1 AS VARCHAR), 8, '0') AS b
            FROM documents, mx
            WHERE doc_id % 10 < 3 AND doc_id < mx.m
        ),
        sym AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
        nodes AS (SELECT DISTINCT a AS node FROM sym),
        reach(node, label) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT s.b, r.label FROM reach r JOIN sym s ON s.a = r.node
        )
        SELECT node, min(label) AS component FROM reach GROUP BY node
    """

    o["search_pages"] = """
        SELECT doc_id, source, n_chars FROM documents
        WHERE lower(text) LIKE '%table%' AND lang = 'en'
    """

    o["cross_lang_block_dups"] = """
        SELECT md5(array_to_string(regexp_split_to_array(trim(text), '\\s+')[1:2], ' ')) AS block,
               count(DISTINCT lang) AS n_langs,
               count(*) AS n_docs,
               min(doc_id) AS canonical_doc_id
        FROM documents GROUP BY 1 HAVING count(DISTINCT lang) >= 2
    """

    o["edge_rewrite_self_loop_drop"] = """
        WITH blocked AS (
            SELECT doc_id,
                   first_value(doc_id) OVER (
                       PARTITION BY md5(array_to_string(regexp_split_to_array(trim(text), '\\s+')[1:2], ' '))
                       ORDER BY n_chars DESC, doc_id ASC
                   ) AS canonical_doc_id
            FROM documents
        ), mx AS (SELECT max(doc_id) AS m FROM documents),
        edges AS (
            SELECT doc_id AS src, doc_id + 1 AS dst
            FROM documents, mx WHERE doc_id % 7 < 2 AND doc_id < mx.m
        )
        SELECT a.canonical_doc_id AS new_src, b.canonical_doc_id AS new_dst,
               count(*) AS support_count
        FROM edges
        JOIN blocked a ON edges.src = a.doc_id
        JOIN blocked b ON edges.dst = b.doc_id
        WHERE a.canonical_doc_id <> b.canonical_doc_id
        GROUP BY 1, 2
    """

    o["max_value_event_per_user"] = """
        WITH ranked AS (
            SELECT user_id, event_id, value,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY value DESC, event_id DESC
                   ) AS rn
            FROM events
        )
        SELECT user_id, event_id AS best_event_id,
               round((SELECT max(value) FROM events e2 WHERE e2.user_id = ranked.user_id), 6) AS max_value
        FROM ranked WHERE rn = 1
    """

    o["user_event_type_sets"] = """
        SELECT user_id,
               array_to_string(list_sort(list(DISTINCT event_type)), '|') AS event_types,
               CAST(len(list(DISTINCT event_type)) AS INT) AS n_types
        FROM events GROUP BY user_id
    """

    o["slugify_sources"] = """
        SELECT doc_id,
               lang || ':' || regexp_replace(regexp_replace(lower(source), '[^a-z0-9]+', '_', 'g'), '^_+|_+$', '', 'g') AS slug_id
        FROM documents
    """

    o["isolated_docs"] = """
        WITH mx AS (SELECT max(doc_id) AS m FROM documents),
        edges AS (
            SELECT doc_id AS src, doc_id + 1 AS dst
            FROM documents, mx WHERE doc_id % 10 < 3 AND doc_id < mx.m
        ),
        endpoints AS (SELECT src AS doc_id FROM edges UNION SELECT dst FROM edges)
        SELECT doc_id FROM documents
        WHERE doc_id NOT IN (SELECT doc_id FROM endpoints)
    """

    o["two_hop_neighbors"] = """
        WITH mx AS (SELECT max(doc_id) AS m FROM documents),
        edges AS (
            SELECT doc_id AS src, doc_id + 1 AS dst
            FROM documents, mx WHERE doc_id % 10 < 3 AND doc_id < mx.m
        ),
        sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
        seeds AS (SELECT doc_id AS seed FROM documents WHERE doc_id % 100 = 0),
        hop1 AS (SELECT seed, dst AS node FROM seeds JOIN sym ON seed = src),
        hop2 AS (SELECT seed, s.dst AS node FROM hop1 JOIN sym s ON hop1.node = s.src)
        SELECT DISTINCT seed, node
        FROM (SELECT * FROM hop1 UNION ALL SELECT * FROM hop2)
        WHERE node <> seed
    """

    o["binary_payload_stats"] = """
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS INT) AS n_bytes,
               CAST(octet_length(encode(text)) - length(text) AS INT) AS multibyte_overhead
        FROM documents
    """

    # frame-sampling contract (functions/multimodal sample_video_frames):
    # one fake frame per 1024 payload bytes, evenly sampled up to 3
    o["multimodal_frame_sample_stats"] = """
        SELECT doc_id,
               CAST(least(3, greatest(1, octet_length(encode(text)) // 1024))
                   AS BIGINT) AS n_frames,
               CAST(least(3, greatest(1, octet_length(encode(text)) // 1024)) - 1
                   AS INT) AS max_idx
        FROM documents WHERE text IS NOT NULL
    """

    # ---- invariant oracles for the previously rows-only queries ----------
    # The operators themselves (MinHash/LSH, hyperplane ANN, the iterative
    # pipeline) are not SQL-expressible; their driver queries therefore emit
    # SQL-checkable invariant PROJECTIONS (planted duplicates found,
    # co-clustering, A1 canonical dominance, ANN recall gate) whose expected
    # values ARE pure SQL over the same parquet.

    o["ann_lsh_topk_embeddings"] = """
        SELECT vec_id AS query_id, 1 AS recall_ge_4_of_5
        FROM embeddings WHERE vec_id < 10
    """

    o["ann_ivf_topk_embeddings"] = """
        SELECT vec_id AS query_id, 1 AS recall_ge_3_of_5
        FROM embeddings WHERE vec_id < 10
    """

    o["dedup_lsh_candidates"] = """
        SELECT doc_id, 1 AS pair_in_candidates
        FROM documents WHERE doc_id % 17 = 3 AND n_chars >= 400
    """

    o["simhash_near_dups"] = """
        SELECT doc_id, 1 AS pair_found, 0 AS hamming
        FROM documents WHERE doc_id % 17 = 3 AND n_chars >= 400
    """

    o["dedup_full_pipeline"] = """
        SELECT doc_id, 1 AS co_clustered, 1 AS canonical_a1_ok
        FROM documents WHERE doc_id % 17 = 3 AND n_chars >= 200
    """

    o["dedup_incremental_append"] = """
        SELECT doc_id, 1 AS combined_equals_full
        FROM documents WHERE doc_id % 17 = 3 AND n_chars >= 200
    """

    o["dedup_incremental_capture"] = """
        SELECT doc_id, 1 AS combined_equals_full
        FROM documents WHERE doc_id % 23 IN (5, 7) AND n_chars >= 200
    """

    o["dedup_incremental_span"] = """
        SELECT doc_id, 1 AS combined_equals_full
        FROM documents WHERE doc_id % 19 = 4 AND n_chars >= 200
    """

    o["cluster_pair_stats"] = """
        WITH assign AS (
            SELECT doc_id AS url,
                   first_value(doc_id) OVER (
                       PARTITION BY md5(array_to_string(regexp_split_to_array(trim(text), '\\s+')[1:2], ' '))
                       ORDER BY n_chars DESC, doc_id ASC
                   ) AS cluster_id
            FROM documents
        ), mx AS (SELECT max(doc_id) AS m FROM documents),
        edges AS (
            SELECT doc_id AS src, doc_id + 1 AS dst
            FROM documents, mx WHERE doc_id % 7 < 2 AND doc_id < mx.m
        ),
        crossed AS (
            SELECT least(a.cluster_id, b.cluster_id) AS cluster_a,
                   greatest(a.cluster_id, b.cluster_id) AS cluster_b,
                   e.src, e.dst
            FROM edges e
            JOIN assign a ON e.src = a.url
            JOIN assign b ON e.dst = b.url
            WHERE a.cluster_id <> b.cluster_id
        ),
        counts AS (
            SELECT cluster_a, cluster_b, count(*) AS n_edges
            FROM crossed GROUP BY 1, 2
        ),
        endpoints AS (
            SELECT cluster_a, cluster_b, src AS doc FROM crossed
            UNION ALL SELECT cluster_a, cluster_b, dst FROM crossed
        )
        SELECT e.cluster_a, e.cluster_b, c.n_edges,
               CAST(count(DISTINCT e.doc) AS INT) AS n_bridge_docs
        FROM endpoints e JOIN counts c
          ON e.cluster_a = c.cluster_a AND e.cluster_b = c.cluster_b
        GROUP BY 1, 2, 3
    """

    o["bridge_doc_stats"] = """
        WITH assign AS (
            SELECT doc_id AS url,
                   first_value(doc_id) OVER (
                       PARTITION BY md5(array_to_string(regexp_split_to_array(trim(text), '\\s+')[1:2], ' '))
                       ORDER BY n_chars DESC, doc_id ASC
                   ) AS cluster_id
            FROM documents
        ), mx AS (SELECT max(doc_id) AS m FROM documents),
        edges AS (
            SELECT doc_id AS src, doc_id + 1 AS dst
            FROM documents, mx WHERE doc_id % 7 < 2 AND doc_id < mx.m
        ),
        crossed AS (
            SELECT e.src, e.dst, a.cluster_id AS ca, b.cluster_id AS cb
            FROM edges e
            JOIN assign a ON e.src = a.url
            JOIN assign b ON e.dst = b.url
            WHERE a.cluster_id <> b.cluster_id
        ),
        per_endpoint AS (
            SELECT src AS url, ca AS own_cluster, cb AS foreign_cluster FROM crossed
            UNION ALL
            SELECT dst AS url, cb AS own_cluster, ca AS foreign_cluster FROM crossed
        )
        SELECT url, own_cluster,
               count(DISTINCT foreign_cluster) AS n_foreign_clusters,
               count(*) AS n_cross_edges
        FROM per_endpoint GROUP BY url, own_cluster
    """

    o["top_hubs_neighbors"] = """
        WITH mx AS (SELECT max(doc_id) AS m FROM documents),
        edges AS (
            SELECT doc_id AS src, doc_id + 1 AS dst
            FROM documents, mx WHERE doc_id % 10 < 3 AND doc_id < mx.m
        ),
        deg AS (
            SELECT url, count(*) AS degree FROM (
                SELECT src AS url FROM edges UNION ALL SELECT dst FROM edges
            ) GROUP BY url
        ),
        hubs AS (
            SELECT url AS hub_url, degree,
                   row_number() OVER (ORDER BY degree DESC, url ASC) AS rank
            FROM deg QUALIFY rank <= 5
        ),
        sym AS (
            SELECT src AS hub_url, dst AS neighbor_url FROM edges
            UNION ALL SELECT dst, src FROM edges
        )
        SELECT h.hub_url, h.degree, h.rank, s.neighbor_url
        FROM hubs h JOIN sym s ON h.hub_url = s.hub_url
    """

    o["export_csv_roundtrip"] = """
        SELECT lang, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY lang
    """

    o["multimodal_ann_twins"] = """
        SELECT doc_id, 1 AS twin_is_rank1
        FROM documents WHERE doc_id % 20 = 0
    """

    # Same frozen prefix list / rule set as sift_kg_spark/functions/names.py
    # (import kept out of the SQL string: the driver only sees the dict).
    from sift_kg_spark.functions.names import TITLE_PREFIX_REGEX

    o["entity_name_keys"] = f"""
        WITH raw AS (
            SELECT doc_id,
                concat_ws(' ',
                    (['dr.', 'special agent', 'mrs.', 'vice president',
                      'judge'])[CAST(doc_id % 5 + 1 AS INT)],
                    (['det.', 'prof.', 'lady', 'sen.', 'miss'])
                        [CAST(doc_id % 5 + 1 AS INT)],
                    array_to_string(list_slice(string_split(text, ' '), 1, 3), ' '),
                    'studies') AS name
            FROM documents
        ),
        stripped AS (
            SELECT doc_id,
                trim(regexp_replace(lower(trim(name)),
                                    '{TITLE_PREFIX_REGEX}', '')) AS k
            FROM raw
        )
        SELECT doc_id,
            array_to_string(list_transform(string_split(k, ' '), w -> CASE
                WHEN w = 'men' THEN 'man'
                WHEN w = 'women' THEN 'woman'
                WHEN w = 'children' THEN 'child'
                WHEN w = 'people' THEN 'person'
                WHEN w = 'mice' THEN 'mouse'
                WHEN w = 'geese' THEN 'goose'
                WHEN w = 'feet' THEN 'foot'
                WHEN w = 'teeth' THEN 'tooth'
                WHEN ends_with(w, 'ss') OR ends_with(w, 'us')
                     OR ends_with(w, 'is') THEN w
                WHEN ends_with(w, 'ies') AND length(w) >= 5
                     THEN left(w, length(w) - 3) || 'y'
                WHEN ends_with(w, 'sses') OR ends_with(w, 'xes')
                     OR ends_with(w, 'ches') OR ends_with(w, 'shes')
                     OR ends_with(w, 'zes') THEN left(w, length(w) - 2)
                WHEN ends_with(w, 's') THEN left(w, length(w) - 1)
                ELSE w END), ' ') AS name_key
        FROM stripped
    """

    return o
