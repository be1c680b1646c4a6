"""Exact-duplicate stage — Layer 1 phase 1 of the reference workflow.

The reference groups entities by a normalized key and merges every group
(/root/reference/src/sift_kg/graph/prededup.py:104-117). The webtext analog
groups pages by ``sha2(text_norm)`` (optionally per ``lang``, mirroring the
reference's per-entity-type grouping at prededup.py:95-100) — a single hash
aggregation, no shuffle beyond the groupBy, with map-side partial
aggregation for free.

The group representative follows the reference's deterministic canonical
rule (prededup.py:177-196: most frequent -> longest -> lexicographically
first). Exact-dup members share identical text, so frequency and length tie
by construction and the rule reduces to min(url) — a total order, hence
deterministic under any partitioning (SURVEY.md §4).

Emitting member<->representative STAR edges (not all pairs) keeps the edge
count linear in the group size — the planted heavy-hitter family (~1% of a
corpus can be one boilerplate page) would otherwise produce O(n^2) pairs.
Connected components restores the full cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sift_kg_spark.config import DedupConfig


def exact_dup_pairs(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Star edges (url_a=member, url_b=representative) per exact-dup group.

    ``docs`` needs columns: url, lang, text_norm (or a precomputed ``sha``).
    """
    if "sha" in docs.columns:
        keyed = docs.select("url", "lang", "sha")
    else:
        keyed = docs.select(
            "url", "lang", F.sha2(F.col("text_norm"), 256).alias("sha")
        )
    group_cols = ["sha", "lang"] if cfg.partition_by_lang else ["sha"]

    reps = (
        keyed.groupBy(*group_cols)
        .agg(F.min("url").alias("rep_url"), F.count("*").alias("group_size"))
        .filter(F.col("group_size") > 1)
    )
    return (
        keyed.join(reps, on=group_cols, how="inner")
        .filter(F.col("url") != F.col("rep_url"))
        .select(
            F.col("url").alias("url_a"),
            F.col("rep_url").alias("url_b"),
            F.lit("exact").alias("channel"),
            F.lit(1.0).alias("jaccard"),
        )
    )


def exact_representatives(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """One representative row per distinct normalized text.

    Mirrors the reference running its fuzzy phase over the UNIQUE normalized
    forms only (prededup.py:121-127): downstream MinHash/LSH work never sees
    exact duplicates twice, which also removes exact-dup-driven skew from
    the band exchange.

    Shape (guide §2.3 — shuffle keys, not payloads): the old
    ``groupBy(sha).agg(min_by(struct(ALL columns)))`` shuffled every
    row's full text_norm through the exchange just to pick min-url rows.
    Almost every sha is unique (its row IS the representative), so only
    the DUPLICATED groups need deciding: aggregate the narrow
    (sha, lang, url) projection into a per-dup-group min-url table —
    small by construction — and join it back; a row survives when its
    sha has no duplicate at all or it is the group's min-url row.
    Identical rows out (total order, deterministic); the corpus text
    never exchanges, and AQE broadcasts the dup-group table when it is
    small (falling back to a shuffle join for pathological corpora that
    are mostly exact duplicates).

    Contract: ``url`` is unique within ``docs`` (one call's documents).
    The caller of ``run_dedup`` guarantees it for ``pages`` (with
    ``capture_dedup`` on, ``latest_captures`` keeps one row per canonical
    url); the append path drops batch urls already in the base, and the
    batch's own urls are its caller's. Nothing here checks it, since a
    check would cost a Spark job per call: two rows sharing a url and a
    text both survive as representatives (both equal the group's min url).
    """
    group_cols = ["sha", "lang"] if cfg.partition_by_lang else ["sha"]
    dup_groups = (
        docs.groupBy(*group_cols)
        .agg(F.min("url").alias("_rep_url"), F.count("*").alias("_n"))
        .filter(F.col("_n") > 1)
        .select(*group_cols, "_rep_url")
    )
    return (
        docs.join(dup_groups, on=group_cols, how="left")
        .filter(
            F.col("_rep_url").isNull() | (F.col("url") == F.col("_rep_url"))
        )
        .select(*docs.columns)
    )
