"""Candidate generation — the salted band-hash exchange (Layer 2 blocking).

Replaces the reference's blocking strategies (sorted sliding windows
100/20 at /root/reference/src/sift_kg/resolve/resolver.py:248-269, KMeans
clusters at resolve/clustering.py:23-92, SemHash at graph/prededup.py:
120-139) with three deterministic key channels, all flowing through ONE
shuffle exchange of a single packed int64 key column (channel tag in the
low 2 bits, packed inside the signature UDF):

  * ``minhash``  (tag 0) — LSH band keys: P[pair in >=1 band] =
    1-(1-J^r)^b (probabilistic recall channel; b=32, r=4 by default).
  * ``simchunk`` (tag 1) — SimHash chunk-pair keys: pigeonhole-
    deterministic for pairs with Hamming <= n_chunks-2.
  * ``anchor``   (tag 2) — bottom-k shingle anchors: containment channel —
    if A ⊆ B, P[bottom-k sketches disjoint] ≈ (1-|A|/|B|)^k.

Skew handling (north rule, explicit half): a boilerplate-heavy corpus makes
some band keys enormous. Bucket sizes are computed as WINDOW aggregates
over the (single) key-partitioned exchange and filtered to actual
collisions before any pairing — buckets over ``hot_band_cap`` switch from
all-pairs (O(n^2)) to STAR pairing against the bucket's min-uid member
(O(n)), preserving intra-bucket connectivity for true dup families while
bounding pair volume. AQE skew-join splitting (session.py) is the
built-in half.

Precision gate: a full MinHash band match is strong evidence on its own,
and so is a single simchunk key (32 matching SimHash bits; random
collisions negligible until ~10^9 docs per lang partition) — gating
simchunk at >= 2 keys would silently break the channel's pigeonhole
guarantee for pairs at Hamming n_chunks-2, whose two clean chunks form
exactly ONE pair-key. Only anchor-only pairs must co-fire >= 2 keys (a
single shared shingle between unrelated docs is common at corpus scale
and was the dominant junk-pair source).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sift_kg_spark.config import DedupConfig
from sift_kg_spark.functions.features import (  # noqa: F401 (re-export)
    CHANNEL_MINHASH,
    N_ANCHORS,
)

def _channel_name():
    return (
        F.when(F.col("channel_tag") == 0, "minhash")
        .when(F.col("channel_tag") == 1, "simchunk")
        .otherwise("anchor")
    )


def explode_keys(features: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(doc_uid, lang, key) — one row per packed blocking key.

    The exchange ships the compact int64 doc_uid, not the url string —
    the key table is the largest shuffle in the pipeline and the id swap
    cuts its row width ~4x."""
    return features.select(
        "doc_uid", "lang", F.explode("keys").alias("key")
    )


def sized_buckets(
    rows: DataFrame,
    key_cols: list[str],
    id_col: str,
    salted: bool = False,
    salt_fanout: int = 32,
) -> DataFrame:
    """Append ``bucket_size`` / ``bucket_rep`` per key; keep collision
    buckets only. Two physically different plans, bit-identical output:

    * ``salted=False`` (default): a window over the single key exchange —
      the cheapest shape (the pairing join reuses the same exchange), but
      a mega-bucket's count/min runs inside the ONE task that owns its
      key (WindowExec has no map-side combine and AQE cannot split a
      window partition). Measured envelope in BENCH/SKEW.md: linear and
      bounded to ~1 s per 1M-member bucket — fine until extreme skew.
    * ``salted=True``: the two-level pre-salted count — partial
      (count, min) per (key, xxhash64(id) pmod ``salt_fanout``), which
      map-side combines so no task ever buffers a whole mega-bucket,
      re-aggregated per key (tiny: one row per colliding key) and
      hash-joined back onto the key exchange. Costs one extra exchange
      of the key table (the join side) — worth it only when the
      bucket-size histogram (``bucket_size_histogram``, computed on
      demand; no run records it) shows buckets far past the SKEW.md
      envelope (~10^7+ members: a boilerplate fingerprint shared by a
      whole crawl). Enable via ``DedupConfig.salted_sizing``.

    The sized table is not persisted: the pairing joins in this module
    keep both sides on ONE key exchange (merge-hinted, see
    ``candidate_pairs``), where ReusedExchange makes the duplicate
    subtree free and a 28M-row cache materialization would cost more
    than the duplicated window it saves (measured on the sf1.0
    candidates stage: persisted 17.3 s vs reuse 12.5 s).
    """
    if not salted:
        w = Window.partitionBy(*key_cols)
        sized = (
            rows.withColumn("bucket_size", F.count("*").over(w))
            .withColumn("bucket_rep", F.min(id_col).over(w))
            .filter(F.col("bucket_size") > 1)
        )
    else:
        salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_fanout))
        partial = rows.groupBy(*key_cols, salt.alias("_salt")).agg(
            F.count("*").alias("_c"), F.min(id_col).alias("_m")
        )
        sizes = (
            partial.groupBy(*key_cols)
            .agg(
                F.sum("_c").alias("bucket_size"),
                F.min("_m").alias("bucket_rep"),
            )
            .filter(F.col("bucket_size") > 1)
        )
        sized = rows.join(sizes, on=key_cols, how="inner")
    return sized


def candidate_pairs(keys: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Distinct (uid_a < uid_b) candidate pairs from the key exchange.

    Returns: uid_a, uid_b, channel (strongest channel that produced the
    pair), n_keys (co-firing key count — similarity prior + skew metric).

    Plan shape: bucket size/rep come from a WINDOW over the key exchange,
    not a separate aggregation joined back — so the key table is shuffled
    by key exactly ONCE, that exchange is reused by the second side of
    the single pairing join (both sides already hash-partitioned on the
    join key; the join adds no exchange), and no collision table is ever
    collected driver-side for a broadcast build. The previous
    agg + broadcast-join shape shuffled the key table three times and its
    driver-side broadcast build was the largest level-invariant cost in
    the whole pipeline (BENCH/SCALING.md round-3 decomposition).

    Skew tradeoff of the window (r3 ADVICE, measured in BENCH/SKEW.md):
    WindowExec has no map-side partial aggregation and AQE's skew-join
    splitter cannot split a window partition, so a mega-bucket's sizing
    runs in the one task that owns its key. The buffer is spillable
    (UnsafeExternalSorter) and the work is O(bucket) counting, not
    O(bucket^2) pairing — the measured straggler cost of a planted
    100k-member bucket is seconds, bounded and linear, while the pairing
    itself stays O(n) via the star branch below. Keys are near-uniform
    int64 hashes, so bucket skew never compounds with partition skew
    (many buckets share a partition). For corpora past that envelope
    (~10^7+-member boilerplate buckets), ``cfg.salted_sizing`` switches
    to the two-level pre-salted count (``sized_buckets``) — map-side-
    combined partials, no single-task bucket scan — at the cost of one
    extra key-table exchange; outputs are bit-identical either way
    (BENCH/SKEW.md carries the crossover measurement).
    """
    key_cols = ["lang", "key"] if cfg.partition_by_lang else ["key"]
    keyed = sized_buckets(
        keys, key_cols, "doc_uid", salted=cfg.salted_sizing
    )

    # ONE join, no union-of-branches: because bucket_rep is the bucket's
    # MIN uid, a hot bucket's star pairs (rep, member) always satisfy
    # rep < member — so "all a<b pairs inside normal buckets, plus star
    # pairs inside hot buckets" is a single equi-join of [all members]
    # against [normal members + hot reps] under uid_a < uid_b. The union
    # form made the hot branch a third consumer of the key exchange,
    # which AQE's runtime stage-reuse cannot deduplicate once sibling
    # stages materialize in the same round (it re-ran the sizing window
    # into a duplicate exchange); with one consumer pair the exchange is
    # computed once and ReusedExchange covers the other side (PLANS.md
    # §11 receipts re-verified on the final adaptive plan).
    a_side = keyed.filter(
        (F.col("bucket_size") <= cfg.hot_band_cap)
        | (F.col("doc_uid") == F.col("bucket_rep"))
    ).select(*key_cols, F.col("doc_uid").alias("uid_a"))
    b_side = keyed.select(*key_cols, F.col("doc_uid").alias("uid_b"))
    # merge hint: when the key table's size ESTIMATE is tiny (raw
    # parquet footers on the entry-query path), the planner broadcast-
    # BUILDS one side, which re-executes the whole upstream — feature
    # UDF chain included — into a driver-collected hash relation instead
    # of reusing the key exchange (r6 plan audit). The hint keeps both
    # sides on the one exchange (ReusedExchange covers the second); the
    # window output is already hash-partitioned AND sorted on the key
    # columns, so the merge join adds no exchange and no sort.
    pairs = (
        a_side.join(b_side.hint("merge"), on=key_cols, how="inner")
        .filter(F.col("uid_a") < F.col("uid_b"))
        .select("uid_a", "uid_b", "key")
    )
    return _collapse(pairs)


def _collapse(pairs: DataFrame) -> DataFrame:
    """One row per (uid_a, uid_b) from its shared keys: ``n_keys`` counts
    them and ``channel`` is the strongest co-firing channel (min tag).
    Only pairs whose SOLE evidence is the anchor channel face the >= 2
    gate."""
    collapsed = (
        pairs.withColumn(
            "channel_tag", (F.col("key").bitwiseAND(F.lit(3))).cast("int")
        )
        .groupBy("uid_a", "uid_b")
        .agg(
            F.count("*").alias("n_keys"),
            F.min("channel_tag").alias("channel_tag"),
        )
        .withColumn("channel", _channel_name())
        .drop("channel_tag")
        .select("uid_a", "uid_b", "channel", "n_keys")
    )
    return collapsed.filter(
        (F.col("channel") != "anchor") | (F.col("n_keys") >= 2)
    )


def candidate_pairs_incremental(keys: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Candidate pairs touching at least one NEW doc (append workflow).

    ``keys``: (doc_uid, lang, key, is_new boolean). Emits the same
    (uid_a, uid_b, channel, n_keys) shape as :func:`candidate_pairs`, but
    only pairs with >= 1 new member: base×base pairs were already decided
    by the base run and never regenerate. Buckets with no new member are
    dropped right after the sizing window, so per-increment cost tracks
    the NEW keys plus the buckets they touch, not the corpus (the caller
    additionally prunes the base key table BY KEY before this function —
    incremental.incremental_candidates).

    Pair orientation: a pair is emitted exactly once per shared key —
    new×new by the uid order on the new side, new×base always from the
    new side (the base side never drives).
    """
    key_cols = ["lang", "key"] if cfg.partition_by_lang else ["key"]

    w = Window.partitionBy(*key_cols)
    keyed = (
        keys
        # Same rep as the full run: global min uid over ALL members — any
        # other choice (e.g. min over base only) makes the star structure
        # diverge from the full run's and breaks the equivalence contract
        # in the opposite direction.
        .withColumn("bucket_size", F.count("*").over(w))
        .withColumn("bucket_rep", F.min("doc_uid").over(w))
        # is_new of the rep member: when the rep is a NEW doc, the
        # bucket's BASE members must also star to it (they have never met
        # this rep), otherwise a dup family spanning base+batch whose
        # only shared key lands in a hot bucket splits in two (r2
        # ADVICE). When the rep is a base doc, base<->rep pairing already
        # happened in the base run.
        .withColumn(
            "_rep_is_new", F.min_by(F.col("is_new"), F.col("doc_uid")).over(w)
        )
        .withColumn("_has_new", F.max(F.col("is_new").cast("int")).over(w))
        .filter((F.col("bucket_size") > 1) & (F.col("_has_new") == 1))
        .drop("_has_new")
    )

    normal = keyed.filter(F.col("bucket_size") <= cfg.hot_band_cap)
    hot = keyed.filter(F.col("bucket_size") > cfg.hot_band_cap)

    left = normal.filter(F.col("is_new")).select(
        *key_cols, F.col("doc_uid").alias("uid_x")
    )
    right = normal.select(
        *key_cols,
        F.col("doc_uid").alias("uid_y"),
        F.col("is_new").alias("_new_y"),
    )
    # merge hint: same estimate pathology as candidate_pairs — without
    # it the planner can broadcast-BUILD the right side from tiny
    # plan-time estimates, re-running the sizing window (and, on the
    # base side, the key-table scan) into a hash relation per side.
    all_pairs = (
        left.join(right.hint("merge"), on=key_cols, how="inner")
        .filter(
            (F.col("uid_x") < F.col("uid_y"))
            | (~F.col("_new_y") & (F.col("uid_x") != F.col("uid_y")))
        )
        .select(
            F.least("uid_x", "uid_y").alias("uid_a"),
            F.greatest("uid_x", "uid_y").alias("uid_b"),
            "key",
        )
    )

    star_pairs = (
        hot.filter(
            (F.col("is_new") | F.col("_rep_is_new"))
            & (F.col("doc_uid") != F.col("bucket_rep"))
        )
        .select(
            F.least("doc_uid", "bucket_rep").alias("uid_a"),
            F.greatest("doc_uid", "bucket_rep").alias("uid_b"),
            "key",
        )
    )

    return _collapse(all_pairs.unionByName(star_pairs))


def bucket_size_histogram(keys: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Skew diagnostic, computed on demand (no run records it):
    bucket-size distribution per channel (log2 buckets)."""
    key_cols = ["lang", "key"] if cfg.partition_by_lang else ["key"]
    return (
        keys.groupBy(*key_cols)
        .count()
        .withColumn(
            "channel_tag", (F.col("key").bitwiseAND(F.lit(3))).cast("int")
        )
        .withColumn("channel", _channel_name())
        .withColumn("log2_size", F.floor(F.log2("count")))
        .groupBy("channel", "log2_size")
        .agg(F.count("*").alias("n_buckets"), F.sum("count").alias("n_keys"))
        .orderBy("channel", "log2_size")
    )
