"""Pipeline configuration.

Threshold semantics mirror the reference's Layer-3 review gates
(/root/reference/src/sift_kg/resolve/reviewer.py:39-77 — auto-approve,
auto-reject, in-between flagged as DRAFT) but operate on deterministic
similarity scores instead of LLM confidences:

* ``approve_jaccard`` / ``reject_jaccard`` — three-way split of verified
  candidate pairs on the exact k-shingle Jaccard. The reference's 0.85/0.5
  numbers apply to LLM confidence and do not transfer numerically to a
  Jaccard scale; defaults here are chosen so that the documented near-dup
  contract ("<= 5% token edits is a duplicate") is auto-approved:
  a 4% token-substitution rate under 5-gram shingling yields J ~= 0.69.
* flagged pairs (the DRAFT zone) get two deterministic confirmations,
  replacing the reference's human/LLM review:
  SimHash Hamming <= ``simhash_confirm_hamming``, or a shared exact
  substring >= ``min_span_bytes`` found by the suffix-array stage.
  Unconfirmed flagged pairs land in the review table and are EXCLUDED
  from clustering — exactly the reference's DRAFT-not-applied semantics
  (/root/reference/src/sift_kg/resolve/engine.py:27,
  tests/test_resolve.py:256-270).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class DedupConfig:
    # --- shingling / MinHash signature config (the "same shingle/signature
    # config" axis the recall target is defined over) ---
    shingle_k: int = 5          # word k-grams
    num_perm: int = 128         # MinHash permutations
    bands: int = 32             # LSH bands (bands * rows_per_band == num_perm)
    rows_per_band: int = 4

    # --- Layer-3 threshold review analog ---
    approve_jaccard: float = 0.60   # >= : auto-confirm (dup edge)
    reject_jaccard: float = 0.30    # <  : auto-reject (non-dup)
    simhash_confirm_hamming: int = 6   # flagged pair confirm via SimHash64
    min_span_bytes: int = 256          # flagged pair confirm via suffix-array
    max_span_doc_bytes: int = 2_000_000  # safety cap for the suffix-array stage

    # --- crawl-native capture tier (functions/urls.py): canonicalize
    # URLs and keep only the latest capture per canonical URL before
    # extraction. Off by default: it changes which raw rows exist, so
    # corpora that are already one-capture-per-url (the driver testdata,
    # the golden fixtures) run byte-identically with the flag off.
    capture_dedup: bool = False

    # --- Gopher rule-based quality gate (functions/quality.py): when on,
    # docs failing the word-count / mean-word-length / symbol-ratio /
    # stopword rules quarantine with reason='quality_reject' instead of
    # entering the hash stages. Off by default (the reference gates only
    # on near-empty text). min_words is the rule most corpora need to
    # tune; the remaining thresholds use the published Gopher defaults.
    quality_gate: bool = False
    quality_min_words: int = 50

    # --- C4-style corpus span dedup (operators/linededup): when on,
    # fixed-grid token chunks occurring in >= span_dedup_min_docs
    # DISTINCT docs are removed from every doc after extraction and
    # before normalization/hashing — the C4 "any three-sentence span
    # occurring more than once" rule, token-chunk flavored. Off by
    # default: it rewrites the extracted text, so the byte-identity
    # contract (and the doc-level golden fixtures) hold with it off.
    # Docs reduced to nothing quarantine as near_empty, mirroring C4's
    # post-dedup length floor. Chunks are grid-aligned from the document
    # start, so repeated spans dedup when their offsets agree modulo the
    # chunk size (boilerplate headers/footers at fixed positions; a
    # sentence-segmented corpus would chunk on sentences instead).
    span_dedup: bool = False
    span_dedup_chunk_tokens: int = 20
    span_dedup_min_docs: int = 4

    # --- PII scrub tier (functions/pii): when on, emails / phone
    # numbers / IPv4 addresses rewrite to typed placeholders at
    # extraction time, before normalization/hashing — pages differing
    # only in an embedded identifier then dedup together, and no raw
    # identifier reaches any committed stage. Off by default (the
    # byte-identity extraction contract holds with it off). Composes
    # with incremental/streaming unchanged: the rewrite is a pure
    # per-row projection.
    redact_pii: bool = False

    # --- benchmark decontamination tier (operators/decontam): when on,
    # docs sharing >= decontam_min_hits token n-grams with the benchmark
    # parquet at decontam_benchmark_path (one 'text' column) quarantine
    # with reason='contaminated' before the hash stages. Off by default.
    # Unlike span/capture, the benchmark is STATIC state (a path, never
    # derived from the corpus), so this tier composes with
    # incremental/streaming mode unchanged: every batch probes the same
    # broadcast gram set.
    decontaminate: bool = False
    decontam_benchmark_path: str | None = None
    decontam_ngram: int = 13
    decontam_min_hits: int = 1

    # --- quarantine (reference near-empty detection,
    # /root/reference/src/sift_kg/ingest/kreuzberg_extractor.py:44-45) ---
    min_text_chars: int = 50

    # --- grouping: reference pre-dedup groups per entity_type
    # (/root/reference/src/sift_kg/graph/prededup.py:95-100); the webtext
    # analog is grouping per lang: cross-lang identical text never merges.
    partition_by_lang: bool = True

    # --- skew handling (north rule: salted band-hash exchange with
    # hot-band splitting) ---
    hot_band_cap: int = 64      # buckets larger than this pair against the
    # bucket representative (star) instead of all-pairs; boilerplate-driven
    # mega-buckets otherwise generate O(n^2) pairs.

    # Bucket SIZING strategy for the candidate/winnow exchanges. False
    # (default): window over the single key exchange — cheapest plan, but
    # a mega-bucket's count/min runs in one task (measured envelope in
    # BENCH/SKEW.md: ~1 s per 1M-member bucket). True: two-level
    # pre-salted count (operators/lsh.sized_buckets) — map-side-combined
    # partials, no single-task bucket scan, one extra key-table exchange.
    # Flip it when lsh.bucket_size_histogram, run on the key table,
    # shows buckets past ~10^7 members. Pair output is bit-identical either way
    # (pinned by tests + the SKEW.md checksum column).
    salted_sizing: bool = False

    # --- connected components ---
    max_cc_iterations: int = 50

    seed: int = 42

    # SimHash chunk-PAIR candidates: the 64-bit SimHash is split into
    # ``simhash_chunks`` pieces and every pair of chunks is combined into
    # one blocking key (functions/features.py). Pigeonhole guarantee: a
    # doc pair at Hamming distance <= simhash_chunks - 2 has >= 2 clean
    # (identical) chunks and therefore shares >= 1 chunk-pair key — a
    # *deterministic* recall channel alongside probabilistic MinHash-LSH.
    # (Single-chunk keys would extend the guarantee to Hamming <=
    # simhash_chunks - 1 but collide quadratically on large corpora; the
    # pair-key trade-off is deliberate.)
    simhash_chunks: int = 4

    def __post_init__(self) -> None:
        if self.bands * self.rows_per_band != self.num_perm:
            raise ValueError(
                f"bands*rows ({self.bands}*{self.rows_per_band}) != num_perm ({self.num_perm})"
            )
        if not (0.0 <= self.reject_jaccard <= self.approve_jaccard <= 1.0):
            raise ValueError("need 0 <= reject_jaccard <= approve_jaccard <= 1")
        if 64 % self.simhash_chunks != 0:
            raise ValueError("simhash_chunks must divide 64")


DEFAULT_CONFIG = DedupConfig()
