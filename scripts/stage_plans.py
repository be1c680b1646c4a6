"""Dump the optimized logical plan of every stage commit, for plan diffs.

Usage: python scripts/stage_plans.py OUT_DIR

Runs the engine on ``generate_corpus(400, seed=42)`` at ``local[2]`` with
4 shuffle partitions and writes one text file per ``StageStore.write``
call, ``OUT_DIR/<mode>/<seq>_<stage>.txt``, holding the optimized logical
plan of the table being committed. Expression ids, plan ids, object
addresses and adaptive stage and codegen ids are stripped, so two runs
of the same code write the same files. The modes, under the default, ``capture_dedup`` and ``span_dedup``
configs each:

- ``<cfg>_base``: ``run_dedup`` of the 95% base (``pmod(xxhash64(url),
  20) != 0``) with a workdir;
- ``<cfg>_append``: ``run_dedup_incremental`` of the 5% batch onto it;
- ``<cfg>_memory`` / ``<cfg>_append_memory``: the same two calls without
  a workdir; the plans of the returned ``dup_pairs``, ``assignments``
  and ``clusters`` are written as ``result_<name>.txt``;

plus ``stream``: ``streaming.process_batch`` over three url-hash thirds
with ``compact_every=3`` (the third generation compacts).

To compare two trees, run it once per tree and ``diff -r`` the outputs;
``PYTHONPATH`` picks the tree whose ``sift_kg_spark`` runs::

    PYTHONPATH=/path/to/other/checkout python scripts/stage_plans.py out_a
    python scripts/stage_plans.py out_b
    diff -r out_a out_b
"""

from __future__ import annotations

import os
import re
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# PYTHONPATH, when set, wins: that is how another tree's plans are dumped
os.environ.setdefault("PYTHONPATH", REPO)
sys.path.append(REPO)

_IDS = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id]"),
    (re.compile(r"@[0-9a-f]{4,}"), "@"),
    # a cached table's plan embeds its physical plan, whose adaptive stage
    # and codegen ids follow the order the stages ran in
    (re.compile(r"QueryStage \d+"), "QueryStage"),
    (re.compile(r"\*\(\d+\)"), "*"),
]


def plan_text(df, workdir: str) -> str:
    text = df._jdf.queryExecution().optimizedPlan().toString()
    for pattern, repl in _IDS:
        text = pattern.sub(repl, text)
    return text.replace(workdir, "<WORKDIR>")


def main(out_dir: str) -> None:
    from pyspark.sql import functions as F

    from sift_kg_spark import DedupConfig, get_spark
    from sift_kg_spark.fixtures import generate_corpus
    from sift_kg_spark.incremental import run_dedup_incremental
    from sift_kg_spark.pipeline import run_dedup
    from sift_kg_spark.streaming import process_batch
    from sift_kg_spark.tableio import StageStore

    spark = get_spark(
        app_name="stage_plans", cores=2, shuffle_partitions=4,
        driver_memory="2g",
    )
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="stage_plans_")
    state = {"mode": None, "seq": 0}

    def dump(name: str, text: str) -> None:
        d = os.path.join(out_dir, state["mode"])
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, name), "w") as fh:
            fh.write(text + "\n")

    write0 = StageStore.write

    def write(self, name, df, *args, **kwargs):
        dump(f"{state['seq']:03d}_{name}.txt", plan_text(df, work))
        state["seq"] += 1
        return write0(self, name, df, *args, **kwargs)

    def mode(name: str) -> None:
        state.update(mode=name, seq=0)
        os.makedirs(os.path.join(out_dir, name), exist_ok=True)

    def dump_results(res) -> None:
        for name in ("dup_pairs", "assignments", "clusters"):
            dump(f"result_{name}.txt", plan_text(getattr(res, name), work))

    StageStore.write = write
    try:
        pages_pdf = generate_corpus(400, seed=42)[0].drop(columns=["true_text"])
        pages = spark.createDataFrame(pages_pdf)
        in_batch = F.pmod(F.xxhash64("url"), F.lit(20)) == 0
        base_pages, batch = pages.filter(~in_batch), pages.filter(in_batch)
        configs = {
            "default": DedupConfig(),
            "capture": DedupConfig(capture_dedup=True),
            "span": DedupConfig(span_dedup=True),
        }
        for label, cfg in configs.items():
            base_wd = os.path.join(work, label, "base")
            mode(f"{label}_base")
            run_dedup(spark, base_pages, cfg, workdir=base_wd)
            mode(f"{label}_append")
            run_dedup_incremental(
                spark, batch, cfg, base_workdir=base_wd,
                workdir=os.path.join(work, label, "append"),
            )
            mode(f"{label}_memory")
            dump_results(run_dedup(spark, base_pages, cfg))
            mode(f"{label}_append_memory")
            dump_results(
                run_dedup_incremental(spark, batch, cfg, base_workdir=base_wd)
            )
            spark.catalog.clearCache()
        mode("stream")
        third = F.pmod(F.xxhash64("url"), F.lit(3))
        for gen in range(3):
            process_batch(
                spark, pages.filter(third == gen), os.path.join(work, "stream"),
                batch_id=gen, compact_every=3,
            )
    finally:
        StageStore.write = write0
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    n = sum(len(files) for _, _, files in os.walk(out_dir))
    print(f"stage_plans: {n} plan files under {out_dir}")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__.split("\n\n")[1])
    main(sys.argv[1])
