"""spark-submit entry point for the dedup pipeline.

Usage (the north-rule launch mode):

    zip -r /tmp/sift_kg_spark.zip sift_kg_spark
    spark-submit --master local[32] --py-files /tmp/sift_kg_spark.zip \\
        scripts/run_pipeline.py --pages /path/to/pages.parquet \\
        --workdir /path/to/workdir

Reads the pages table, runs extract -> exact -> MinHash/LSH -> verify ->
suffix -> connected components, commits every stage snapshot + metrics +
lineage under --workdir, and prints a one-line JSON summary. Re-running
with the same --workdir resumes from the last committed stage.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--pages", required=True, help="pages parquet path")
    p.add_argument("--workdir", required=True, help="stage-snapshot directory")
    p.add_argument("--no-resume", action="store_true",
                   help="recompute every stage even if committed")
    p.add_argument("--shingle-k", type=int, default=None)
    p.add_argument("--num-perm", type=int, default=None)
    # crawl-native tiers (all off by default; see DedupConfig docstrings)
    p.add_argument("--capture-dedup", action="store_true",
                   help="canonicalize URLs, keep latest capture per URL")
    p.add_argument("--quality-gate", action="store_true",
                   help="Gopher rule gate -> quarantine quality_reject")
    p.add_argument("--span-dedup", action="store_true",
                   help="C4-style corpus chunk dedup before hashing")
    p.add_argument("--span-chunk-tokens", type=int, default=None)
    p.add_argument("--span-min-docs", type=int, default=None)
    p.add_argument("--redact-pii", action="store_true",
                   help="rewrite emails/phones/IPs to placeholders "
                        "before hashing")
    p.add_argument("--decontam-benchmark", default=None,
                   help="benchmark parquet ('text' column): docs sharing "
                        "an n-gram quarantine as contaminated")
    p.add_argument("--decontam-ngram", type=int, default=None)
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from sift_kg_spark.config import DedupConfig
    from sift_kg_spark.pipeline import run_dedup
    from sift_kg_spark.session import SESSION_CONF

    overrides = {}
    if args.shingle_k is not None:
        overrides["shingle_k"] = args.shingle_k
    if args.num_perm is not None:
        overrides["num_perm"] = args.num_perm
    if args.capture_dedup:
        overrides["capture_dedup"] = True
    if args.quality_gate:
        overrides["quality_gate"] = True
    if args.span_dedup:
        overrides["span_dedup"] = True
    if args.span_chunk_tokens is not None:
        overrides["span_dedup_chunk_tokens"] = args.span_chunk_tokens
    if args.span_min_docs is not None:
        overrides["span_dedup_min_docs"] = args.span_min_docs
    if args.redact_pii:
        overrides["redact_pii"] = True
    if args.decontam_benchmark is not None:
        overrides["decontaminate"] = True
        overrides["decontam_benchmark_path"] = args.decontam_benchmark
    if args.decontam_ngram is not None:
        overrides["decontam_ngram"] = args.decontam_ngram
    cfg = DedupConfig(**overrides)

    # Respect the spark-submit master; only fill in defaults.
    spark = (
        SparkSession.builder.appName("sift_kg_spark.run_pipeline")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config(map=SESSION_CONF)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    t0 = time.monotonic()
    pages = spark.read.parquet(args.pages)
    result = run_dedup(
        spark, pages, cfg, workdir=args.workdir, resume=not args.no_resume
    )
    n_docs = result.assignments.count()
    n_clusters = result.clusters.count()
    n_dup_rows = n_docs - n_clusters
    n_confirmed = result.dup_pairs.filter("status = 'confirmed'").count()
    n_flagged = result.review_pairs.count()
    n_quarantined = result.quarantine.count()
    elapsed = time.monotonic() - t0

    print(
        json.dumps(
            {
                "docs": n_docs,
                "clusters": n_clusters,
                "duplicate_rows_removed": n_dup_rows,
                "confirmed_pairs": n_confirmed,
                "flagged_pairs": n_flagged,
                "quarantined": n_quarantined,
                "elapsed_sec": round(elapsed, 2),
                "docs_per_sec": round(n_docs / elapsed, 1) if elapsed else None,
                "workdir": args.workdir,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
