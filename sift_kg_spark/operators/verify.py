"""Pair verification + threshold review — Layers 2 (judgment) and 3.

The reference judges candidate groups with an LLM and then gates them with
auto-approve / auto-reject confidence thresholds, leaving the middle zone
as DRAFT for review (/root/reference/src/sift_kg/resolve/reviewer.py:39-77,
resolve/models.py:12-41). Our deterministic equivalents:

  score 1: exact Jaccard over the k-shingle hash sets of the pair —
           JVM-side, ``size(array_intersect)`` over the duplicate-free
           int32 arrays both docs already carry, no Python;
  score 2: SimHash64 Hamming distance — JVM-side, just
           ``bit_count(simhash_a ^ simhash_b)``, no Python;
  score 3: longest shared byte span (suffix-array stage, operators/suffix) —
           run ONLY for the gray zone that scores 1-2 leave undecided.

Decision (cfg thresholds; see config.py for the mapping rationale):
  J >= approve_jaccard                  -> CONFIRMED  decided_by=jaccard
  J <  reject_jaccard                   -> REJECTED
  gray zone & hamming <= h_confirm      -> CONFIRMED  decided_by=simhash
  gray zone & shared span >= min_span   -> CONFIRMED  decided_by=suffix
  otherwise                             -> FLAGGED (review table; excluded
                                           from clustering = DRAFT-not-
                                           applied semantics)

Pairs are keyed by the compact int64 ``doc_uid`` end-to-end; urls are
joined back onto the (small) verified table by the pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sift_kg_spark.config import DedupConfig


def verify_pairs(
    pairs: DataFrame, features: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """Score candidate pairs; emit status CONFIRMED/REJECTED/FLAGGED.

    ``pairs``: uid_a, uid_b, channel, n_keys.
    ``features``: doc_uid, shingles, simhash (plus anything else; pruned
    here — Catalyst pushes this projection into the feature-table scan).

    FLAGGED rows still carry both scores; the suffix stage upgrades some of
    them afterwards. Two shuffle hash joins on the int64 uid.
    """
    feat = features.select("doc_uid", "shingles", "simhash")

    # Only docs that appear in at least one candidate pair need to carry
    # their (wide) shingle arrays into the pair joins — typically a
    # fraction of the corpus (62% at sf0.3, far less on clean crawls).
    # Declarative semi-join: AQE broadcasts the distinct-uid set when it
    # is small and falls back to a shuffle semi when pairs rival the
    # corpus (where the filter is moot anyway).
    uids = (
        pairs.select(F.col("uid_a").alias("doc_uid"))
        .unionByName(pairs.select(F.col("uid_b").alias("doc_uid")))
        .distinct()
    )
    feat = feat.join(uids, "doc_uid", "leftsemi")

    a = feat.select(
        F.col("doc_uid").alias("uid_a"),
        F.col("shingles").alias("_sh_a"),
        F.col("simhash").alias("_sim_a"),
    )
    b = feat.select(
        F.col("doc_uid").alias("uid_b"),
        F.col("shingles").alias("_sh_b"),
        F.col("simhash").alias("_sim_b"),
    )

    # Jaccard in the JVM (guide §4.1 — prefer built-ins): both shingle
    # sets are duplicate-free, so |A ∩ B| = size(array_intersect) and
    # union = |A| + |B| - inter; either side empty/null -> 0.0. Integer
    # operands and one IEEE division, so the double equals a set-based
    # oracle's — and the pair table, which carries BOTH members' shingle
    # arrays (~1.6 KB/pair), never round-trips through Arrow/Python.
    la = F.coalesce(F.size("_sh_a"), F.lit(0))
    lb = F.coalesce(F.size("_sh_b"), F.lit(0))
    inter = F.coalesce(
        F.size(F.array_intersect("_sh_a", "_sh_b")), F.lit(0)
    )
    union = la + lb - inter
    jaccard_jvm = F.when(
        (union > 0) & (la > 0) & (lb > 0),
        inter.cast("double") / union.cast("double"),
    ).otherwise(F.lit(0.0))
    scored = (
        pairs.join(a, "uid_a")
        .join(b, "uid_b")
        .withColumn("jaccard", jaccard_jvm)
        .withColumn(
            "hamming",
            F.bit_count(F.col("_sim_a").bitwiseXOR(F.col("_sim_b"))).cast("int"),
        )
        .drop("_sh_a", "_sh_b", "_sim_a", "_sim_b")
    )

    status = (
        F.when(F.col("jaccard") >= cfg.approve_jaccard, F.lit("confirmed"))
        .when(F.col("jaccard") < cfg.reject_jaccard, F.lit("rejected"))
        .when(
            F.col("hamming") <= cfg.simhash_confirm_hamming, F.lit("confirmed")
        )
        .otherwise(F.lit("flagged"))
    )
    decided_by = (
        F.when(F.col("jaccard") >= cfg.approve_jaccard, F.lit("jaccard"))
        .when(F.col("jaccard") < cfg.reject_jaccard, F.lit("jaccard"))
        .when(F.col("hamming") <= cfg.simhash_confirm_hamming, F.lit("simhash"))
        .otherwise(F.lit(None).cast("string"))
    )
    return scored.withColumn("status", status).withColumn("decided_by", decided_by)
