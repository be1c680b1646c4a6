"""Round-6 measurement harness (guide §1) — NOT the frozen bench.py.

Three sub-commands:

  stages  — per-stage wall clock of ``run_dedup`` over the webtext corpus
            (same corpus/config as bench.py's headline), committed to a
            temporary workdir. A stage's time is its ``elapsed_sec`` in the
            store's lineage table: build + commit, since the build is lazy
            and runs inside the commit's write. TOTAL is the whole call.
  queries — noop-sink wall clock of selected declared queries over the
            driver testdata tables (same clearCache discipline as
            bench.py), best-of-N.
  plans   — dump .explain("formatted") of selected queries to
            plans/r06/<query>_<tag>.txt.

Usage:
  python bench_extra.py stages  [sf]
  python bench_extra.py queries [sf] q1 q2 ...
  python bench_extra.py plans   <tag> [sf] q1 q2 ...

Env: SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import BENCH_QUERIES, _sf_from_dir, ensure_corpus  # noqa: E402


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _spark(sf):
    from sift_kg_spark import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return get_spark(
        app_name=f"bench_extra_sf{sf}", cores=cpus,
        shuffle_partitions=max(cpus, 8),
    )


def cmd_stages(sf_dir: str) -> None:
    sf = _sf_from_dir(sf_dir)
    repo_root = os.path.dirname(os.path.abspath(__file__))
    corpus_dir = ensure_corpus(sf, repo_root)
    spark = _spark(sf)

    from sift_kg_spark import DedupConfig
    from sift_kg_spark.pipeline import run_dedup

    pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
    pages.count()  # warm scan
    with tempfile.TemporaryDirectory(prefix="bench_extra_stages_") as wd:
        t0 = time.monotonic()
        store = run_dedup(spark, pages, DedupConfig(), workdir=wd).store
        total = round(time.monotonic() - t0, 2)
        timings = {
            r.stage: round(r.elapsed_sec, 2)
            for r in store.lineage().orderBy("committed_at").collect()
        }
    for name, sec in timings.items():
        print(f"  {name}: {sec} s", file=sys.stderr)
    timings["TOTAL"] = total
    print(json.dumps({"mode": "stages", "sf": sf, "timings": timings}))
    spark.stop()


def cmd_queries(sf_dir: str, names: list[str], n_runs: int = 2) -> None:
    sf = _sf_from_dir(sf_dir)
    spark = _spark(sf)
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    out: dict[str, list[float]] = {}
    for name in names or BENCH_QUERIES:
        runs = []
        for _ in range(n_runs):
            spark.sparkContext.setJobDescription(f"r6-query: {name}")
            t0 = time.monotonic()
            _noop(qs[name](spark, sf_dir))
            runs.append(round(time.monotonic() - t0, 3))
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(None)
        out[name] = runs
        print(f"  {name}: {runs}", file=sys.stderr)
    print(json.dumps({"mode": "queries", "sf": sf, "runs": out}))
    spark.stop()


def cmd_plans(tag: str, sf_dir: str, names: list[str], execute: bool = False) -> None:
    sf = _sf_from_dir(sf_dir)
    spark = _spark(sf)
    import __spark_entry__ as entrymod

    repo_root = os.path.dirname(os.path.abspath(__file__))
    outdir = os.path.join(repo_root, "plans", "r06")
    os.makedirs(outdir, exist_ok=True)
    qs = entrymod.queries()
    for name in names or BENCH_QUERIES:
        df = qs[name](spark, sf_dir)
        if execute:
            # run it so the dumped plan is the FINAL adaptive plan
            # (AQE runtime join rewrites + ReusedExchange visible)
            _noop(df)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        spark.catalog.clearCache()
        print(f"  wrote {path}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    rest = sys.argv[2:]
    default_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if mode == "stages":
        cmd_stages(rest[0] if rest else default_dir)
    elif mode == "queries":
        sfd = rest[0] if rest and "/" in rest[0] else default_dir
        names = [r for r in rest if "/" not in r]
        cmd_queries(sfd, names)
    elif mode == "plans":
        tag = rest[0]
        rest = rest[1:]
        execute = "--exec" in rest
        rest = [r for r in rest if r != "--exec"]
        sfd = rest[0] if rest and "/" in rest[0] else default_dir
        names = [r for r in rest if "/" not in r]
        cmd_plans(tag, sfd, names, execute=execute)
    else:
        raise SystemExit(f"unknown mode {mode}")
