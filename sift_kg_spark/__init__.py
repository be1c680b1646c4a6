"""sift_kg_spark — PySpark-native near-duplicate detection + clustering.

A from-scratch reimplementation of the *decision semantics* of sift-kg's
4-layer entity-resolution workflow (reference: /root/reference/README.md,
"Entity Resolution" — Layer 1 deterministic pre-dedup, Layer 2 candidate
generation, Layer 3 threshold review, Layer 4 merge application) as a
deterministic, horizontally-scalable Spark dataflow over Common-Crawl-style
web pages:

    pages(url, warc_ts, html, text, lang)
      -> extract (Arrow pandas UDF, byte-identical per url)
      -> normalize (NFKD fold / casefold / whitespace collapse)
      -> exact dedup (sha2 groupBy)                     [Layer 1 phase 1]
      -> MinHash signatures + LSH band exchange          [Layer 2 blocking]
      -> verify: exact Jaccard + SimHash + suffix-array  [Layer 2 judgment]
      -> threshold split confirm/flag/reject             [Layer 3 review]
      -> connected components -> duplicate clusters      [Layer 4 merges,
                                                          transitive closure]

Everything is pyspark.sql DataFrame + vectorized pandas/Arrow UDFs; no
row-at-a-time Python UDFs, no RDD code paths in the pipeline.
"""

from pyspark import SparkFiles

from sift_kg_spark.config import DedupConfig
from sift_kg_spark.session import get_spark

if SparkFiles._is_running_on_worker:
    # Every engine UDF unpickles in a Python worker by importing this
    # package, after pyspark's per-task set-up has set the flag; the
    # Spark driver process is never patched.
    from sift_kg_spark import _worker

    _worker.install()

__all__ = ["DedupConfig", "get_spark"]

# heavier entry points, imported lazily by most callers:
#   sift_kg_spark.pipeline.run_dedup            — full batch run
#   sift_kg_spark.incremental.run_dedup_incremental — append batch
#   sift_kg_spark.streaming.stream_dedup        — continuous ingest
#   sift_kg_spark.exports                        — CSV / node-link JSON
__version__ = "0.1.0"
