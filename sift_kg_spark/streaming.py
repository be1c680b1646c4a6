"""Continuous ingest: Structured Streaming -> incremental dedup.

The reference is a one-shot batch CLI (SURVEY §2.10); a production crawl
is a continuously landing directory of page files. This module wires
Spark Structured Streaming over that landing zone to the incremental
engine (incremental.py): each micro-batch is deduplicated against
everything ingested so far — signatures only for unseen texts, candidate
buckets only where a new key lands, supernode-contracted clustering — so
steady-state cost per micro-batch tracks the batch, not the corpus.

Design notes for cluster scale:

* ``foreachBatch`` (not a streaming agg): the dedup decision procedure is
  a multi-stage batch dataflow with its own exactly-once story (StageStore
  snapshots + manifests), so the stream is used purely for incremental
  file discovery + scheduling. This is the documented Spark pattern for
  stateful jobs whose state lives in external tables.
* State between micro-batches IS the snapshot directory: every
  generation (``gen=<n>``) and every compacted snapshot (``compact=<g>``)
  is a StageStore directory of Parquet tables with their manifests.
  Batch N's batch-only `prepared`/`features`/`keys` snapshots plus its
  `assignments_delta` become part of batch N+1's base, read with the
  manifest schemas (no footer-inference job per read; snapshots
  compacted before they carried manifests read by inference). A crashed
  micro-batch replays idempotently — re-delivered urls are dropped by
  the increment's broadcast anti-join, and the streaming checkpoint
  prevents double-processing of input files.
* Generation COMPACTION bounds plan depth: the base is the union of every
  generation's immutable batch-only snapshot, so after hundreds of
  micro-batches file listing + logical-plan size would grow
  O(generations). Every ``compact_every``-th generation the union is
  rewritten through StageStore into one consolidated snapshot
  (``compact=<g>``) and the latest-pointer records it; subsequent
  batches read 1 compacted snapshot + at most ``compact_every - 1`` live
  generations. The rewrite is O(corpus) but amortizes to
  O(corpus / compact_every) per batch — at the Iceberg seam this is the
  table-maintenance `rewrite_data_files` job.
* Watermarks/event-time operators are deliberately absent: dedup keys on
  content, not arrival time; late data is just another append batch.

* Assignments are committed as per-generation DELTAS (every member of
  every cluster the batch touched, tagged with prev_cluster_id): the
  per-batch write volume is O(touched clusters), never O(corpus). The
  combined table is a bounded fold — compacted snapshot + at most
  ``compact_every`` deltas, each applied as drop-touched-ids ∪ delta —
  materialized on disk only by compaction (``read_assignments`` is the
  read path). At the Iceberg seam each delta is literally a MERGE INTO.

The first micro-batch bootstraps a base run (full assignments table);
subsequent ones run incrementally and land their batch-only snapshots +
assignment deltas in ``workdir/gen=<n>``; the `latest` pointer file flips
atomically once the generation is complete.
"""

from __future__ import annotations

import json
import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sift_kg_spark.config import DEFAULT_CONFIG, DedupConfig
from sift_kg_spark.incremental import (
    ASSIGNMENT_COLUMNS,
    check_tiers_compose,
    fold_assignments_delta,
    run_dedup_incremental,
)
from sift_kg_spark.pipeline import run_dedup
from sift_kg_spark.tableio import StageStore

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def _gen_dir(workdir: str, gen: int) -> str:
    return os.path.join(workdir, f"gen={gen}")


def _compact_dir(workdir: str, gen: int) -> str:
    return os.path.join(workdir, f"compact={gen}")


def _read_state(workdir: str) -> dict | None:
    ptr = os.path.join(workdir, "_latest.json")
    if not os.path.exists(ptr):
        return None
    with open(ptr) as fh:
        return json.load(fh)


def latest_generation(workdir: str) -> int | None:
    """Highest complete generation, or None before the first batch."""
    state = _read_state(workdir)
    return None if state is None else state["gen"]


def _commit_latest(
    workdir: str, gen: int, batch_id: int, compact_gen: int | None
) -> None:
    ptr = os.path.join(workdir, "_latest.json")
    tmp = ptr + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(
            {"gen": gen, "batch_id": batch_id, "compact_gen": compact_gen}, fh
        )
    os.replace(tmp, ptr)  # atomic generation flip


def base_sources(workdir: str, upto_gen: int) -> tuple[int | None, list[int]]:
    """(compact_gen, live_generations) the base state is assembled from.

    The compacted snapshot (when present) covers generations
    0..compact_gen; live generations are read individually. Exposed so
    tests can assert the compaction bound.
    """
    state = _read_state(workdir)
    cg = state.get("compact_gen") if state else None
    if cg is not None and cg <= upto_gen:
        return cg, list(range(cg + 1, upto_gen + 1))
    return None, list(range(upto_gen + 1))


def _union_all(frames: list[DataFrame]) -> DataFrame:
    return reduce(lambda a, b: a.unionByName(b), frames)


def _read_table(
    spark: SparkSession, directory: str, name: str
) -> DataFrame | None:
    """``name`` as committed in a generation or compacted snapshot
    directory, read with its manifest schema; None when it is absent."""
    store = StageStore(spark, directory)
    return store.read(name) if store.has_table(name) else None


def _assignments_through(
    spark: SparkSession, workdir: str, upto_gen: int
) -> DataFrame:
    """Combined assignments as of ``upto_gen``: the compacted snapshot (or
    the bootstrap generation's full table) with every later generation's
    delta folded in, oldest first. The fold depth is bounded by
    ``compact_every`` (deltas since the last compaction)."""
    cg, live = base_sources(workdir, upto_gen)
    combined: DataFrame | None = None
    if cg is not None:
        # legacy state dirs compacted before assignments joined the
        # compact snapshot: every legacy generation committed the full
        # combined table, so generation cg's copy is the fold base
        combined = _read_table(spark, _compact_dir(workdir, cg), "assignments")
        if combined is None:
            combined = _read_table(spark, _gen_dir(workdir, cg), "assignments")
    for g in live:
        full = _read_table(spark, _gen_dir(workdir, g), "assignments")
        if full is not None:
            # bootstrap generation (or legacy combined commit): replaces
            # everything before it
            combined = full
            continue
        if combined is None:
            raise FileNotFoundError(
                f"generation {g} committed an assignments delta but no "
                "earlier full assignments table exists to fold it into "
                f"(state dir {workdir})"
            )
        delta = StageStore(spark, _gen_dir(workdir, g)).read(
            "assignments_delta"
        )
        combined = fold_assignments_delta(combined, delta)
    if combined is None:
        raise FileNotFoundError(
            f"no assignments table found through generation {upto_gen} "
            f"in {workdir}"
        )
    return combined.select(*ASSIGNMENT_COLUMNS)


def _base_tables(spark: SparkSession, workdir: str, upto_gen: int) -> dict:
    """Assemble the accumulated base state for generation ``upto_gen + 1``.

    Every table is the union over one ordered list of sources — the
    compacted snapshot (standing for generation ``cg``), then each live
    generation — each source read with its manifest schema, so assembly
    runs no Spark job. Nothing is rewritten outside compaction.
    assignments are the compacted combined table with the live
    generations' DELTAS folded in (``_assignments_through``).

    Tombstones (docs a later capture superseded or a span crossing
    re-cleaned) are GENERATION-SCOPED: a tombstone from generation g
    targets docs committed by generations < g. A re-crawl re-adds the
    SAME url (hence the same doc_uid) in the generation that issued the
    tombstone, so each source is anti-joined (broadcast, batch-scale
    set) only against tombstones from LATER generations; compaction
    applies them physically. Re-homed feature/key rows (capture repair)
    union into features/keys; the ``captures`` winners and the ``dup_pairs``
    evidence join the dict so the incremental engine can run its
    supersede + cluster-repair logic. A pair dies when EITHER endpoint is
    tombstoned (the issuing generation committed the rewritten
    replacements alongside).

    The span tier's tables are plain unions, deliberately NOT
    tombstone-filtered:
    - ``extracted`` rows hold ORIGINAL text: a re-cleaned doc's original
      stays valid — a later crossing re-cleans it again from the same
      original.
    - ``chunk_counts`` rows are per-generation COUNT DELTAS over
      originals (readers sum after probing); originals never change
      under append-only ingest, so no row ever retracts.
    - ``chunk_docs`` rows map chunks to their ORIGINAL carriers; rows for
      chunks that crossed in an earlier generation are stale but inert
      (the incremental crossing filter requires the current summed count
      to still be below min_docs).
    """
    cg, live = base_sources(workdir, upto_gen)
    sources = [(g, _gen_dir(workdir, g)) for g in live]
    if cg is not None:
        sources.insert(0, (cg, _compact_dir(workdir, cg)))
    tombs = [
        (g, t)
        for g, d in sources
        if (t := _read_table(spark, d, "tombstones")) is not None
    ]

    def gather(
        name: str, tomb_keys: tuple[str, ...], every_source: bool
    ) -> DataFrame | None:
        """Union ``name`` over the sources, each anti-joined on
        ``tomb_keys`` (``doc_uid``, else matched to the tombstone url)
        against the tombstones of strictly later generations. With
        ``every_source`` a source lacking the table omits it altogether:
        legacy state written before the stage existed, which
        run_dedup_incremental derives instead (keys: re-exploded from
        features)."""
        parts = []
        for g, d in sources:
            df = _read_table(spark, d, name)
            if df is None:
                if every_source:
                    return None
                continue
            later = [t for tg, t in tombs if tg > g]
            if later and tomb_keys:
                dead = _union_all(later)
                for col in tomb_keys:
                    src = "doc_uid" if col == "doc_uid" else "url"
                    df = df.join(
                        F.broadcast(dead.select(F.col(src).alias(col))),
                        col,
                        "leftanti",
                    )
            parts.append(df)
        return _union_all(parts) if parts else None

    tables = {
        "prepared": gather("prepared", ("url",), True),
        "features": gather("features", ("doc_uid",), True),
        "keys": gather("keys", ("doc_uid",), True),
        "captures": gather("captures", ("url",), True),
        "extracted": gather("extracted", (), False),
        "chunk_counts": gather("chunk_counts", (), False),
        "chunk_docs": gather("chunk_docs", (), False),
    }
    for name in ("features", "keys"):
        rehomed = gather(f"{name}_rehomed", ("doc_uid",), False)
        if tables[name] is not None and rehomed is not None:
            tables[name] = tables[name].unionByName(rehomed)
    if tables["captures"] is not None or tables["chunk_counts"] is not None:
        # pair evidence feeds only the capture and span cluster repair
        tables["dup_pairs"] = gather("dup_pairs", ("url_a", "url_b"), False)
    tables["assignments"] = _assignments_through(spark, workdir, upto_gen)
    return {name: df for name, df in tables.items() if df is not None}


def _compact(spark: SparkSession, workdir: str, upto_gen: int) -> None:
    """Rewrite the base-table unions through ``upto_gen`` into one
    consolidated snapshot, committed table by table through
    :class:`StageStore` (so it carries manifests like any generation).
    Written FULLY before the pointer flips, so a crash mid-compaction
    leaves the previous (still valid) sources live and the half-written
    dir is simply overwritten next time.

    The snapshot is exactly the assembled base view: tombstones applied
    physically, re-homed rows folded in, assignment deltas folded into
    one combined table — the rewrite_data_files-shaped maintenance job
    at the Iceberg seam. Per-batch writes stay O(touched clusters);
    tombstone accumulation restarts at zero here.
    """
    out = StageStore(spark, _compact_dir(workdir, upto_gen))
    for name, df in _base_tables(spark, workdir, upto_gen).items():
        out.write(name, df)


def process_batch(
    spark: SparkSession,
    pages: DataFrame,
    workdir: str,
    cfg: DedupConfig = DEFAULT_CONFIG,
    batch_id: int = 0,
    compact_every: int = 8,
) -> None:
    """Dedup one micro-batch against the accumulated corpus state.

    Exposed separately from the stream wiring so tests (and backfills)
    can drive it with plain DataFrames. ``compact_every`` bounds how many
    per-generation snapshots the base union may span before they are
    rewritten into one (0/None disables compaction).
    """
    prev = latest_generation(workdir)
    gen = 0 if prev is None else prev + 1
    gen_wd = _gen_dir(workdir, gen)

    if prev is None:
        run_dedup(spark, pages, cfg, workdir=gen_wd, resume=False)
    else:
        # materialize_assignments=False: the generation writes only the
        # O(touched-clusters) assignments_delta; the combined table exists
        # as a fold over (compacted base + deltas), rewritten on disk only
        # by compaction.
        run_dedup_incremental(
            spark,
            pages,
            cfg,
            workdir=gen_wd,
            resume=False,
            base_tables=_base_tables(spark, workdir, prev),
            materialize_assignments=False,
        )

    state = _read_state(workdir) or {}
    compact_gen = state.get("compact_gen")
    n_live = gen - (compact_gen if compact_gen is not None else -1)
    if compact_every and n_live >= compact_every:
        _compact(spark, workdir, upto_gen=gen)
        compact_gen = gen
    _commit_latest(workdir, gen, batch_id, compact_gen)


def read_assignments(
    spark: SparkSession, workdir: str, gen: int | None = None
) -> DataFrame:
    """Combined cluster assignments as of generation ``gen`` (default:
    latest). This is THE read path for the streaming state — per-batch
    generations commit only assignment DELTAS, so the combined table is a
    bounded fold (compacted snapshot + <= compact_every deltas), not a
    file on disk except right after a compaction."""
    if gen is None:
        gen = latest_generation(workdir)
        if gen is None:
            raise FileNotFoundError(f"no completed generation in {workdir}")
    return _assignments_through(spark, workdir, gen)


def stream_dedup(
    spark: SparkSession,
    input_dir: str,
    workdir: str,
    cfg: DedupConfig = DEFAULT_CONFIG,
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
    max_files_per_trigger: int = 64,
    compact_every: int = 8,
):
    """Stream a landing directory of parquet page files into the dedup
    state at ``workdir``. Returns the StreamingQuery.

    ``trigger_available_now=True`` drains everything currently in the
    directory and stops (batch-style backfill, also what tests use);
    ``False`` runs continuously with the default micro-batch trigger.
    """
    # refuse BEFORE the query starts: generation 0 (a full run) would
    # accept both tiers, and generation 1 would then fail mid-stream
    check_tiers_compose(cfg)
    os.makedirs(workdir, exist_ok=True)
    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        # landing zones commonly contain per-batch SUBDIRECTORIES of part
        # files (each writer commit is a dir); without this the source
        # lists only top-level files and silently sees nothing
        .option("recursiveFileLookup", "true")
        .parquet(input_dir)
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        process_batch(
            spark, batch_df, workdir, cfg, batch_id=batch_id,
            compact_every=compact_every,
        )

    writer = stream.writeStream.foreachBatch(_sink).option(
        "checkpointLocation",
        checkpoint_dir or os.path.join(workdir, "_stream_checkpoint"),
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
