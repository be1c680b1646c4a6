"""Dedup benchmark: one workload, one seed, one JSON result line.

    python3 dedupbench/run.py --workload near_dup_dense --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. The engine (``sift_kg_spark``) runs from
outside, in local mode on half the host's cores (``nproc // 2``), over a
corpus generated from ``--seed`` (see ``workloads.py``) and cached under
``.dedupbench/``. Closed loop: one driver process, one pipeline call at a
time.

Untraced (``--trace 0``): set-up is ``setup_s``: corpus, session start,
input scan and two discarded warm-up calls. Then ``run_dedup`` calls run
back to back until ``--seconds`` have passed, at least ``MIN_CALLS``;
timings are medians over them. Each call
starts from the parquet scan and ends when every stage, ``assignments``
and ``clusters`` included, is committed to a fresh workdir. Every call's
output, the warm-up's too, is checked (``checks.py``); a call that
raises or fails a check counts in ``failed``. Prints the end-to-end
metrics of ``BENCHMARK.json``.

Traced (``--trace 1``): a cold call commits the base of a 95/5 url-hash
split; one untraced warm call over the whole corpus gives the reference
checksum, the job count and the idle time; then the same ``run_dedup``
runs again with a span around each call into a layer
(``trace.traced_engine``) and must reproduce that checksum; last,
``run_dedup_incremental`` appends the 5% batch onto the base, and its
combined assignments must equal the full run. Prints the per-layer
metrics.

Exit code 0 when a result was printed; 2 when the engine's sources are
not next to this directory.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import uuid

T_START = time.monotonic()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".dedupbench")
DRIVER_MEMORY = "1g"
BATCH_MODULUS = 20  # append batch = urls with pmod(xxhash64(url), 20) == 0
WARMUP_MODULUS = 16  # cold warm-up call = urls with pmod(xxhash64(url), 16) == 0
# Timed calls per untraced run, at least; timings are their medians.
MIN_CALLS = 2
UNTRACED_GROUP = "dedupbench-untraced"

CHANNELS = ("minhash", "simchunk", "anchor")
# (status, decided_by) outcomes a candidate channel's pair can end in
PAIR_OUTCOMES = (
    ("confirmed", "jaccard"),
    ("confirmed", "simhash"),
    ("confirmed", "suffix"),
    ("rejected", "jaccard"),
    ("flagged", "none"),
)


def _benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _median(xs):
    return float(statistics.median(xs)) if xs else 0.0


def _engine_digest() -> str:
    """Digest of the engine's sources: a cached reference checksum is only
    valid for the code that produced it."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "sift_kg_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, pkg).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


class Context:
    """One run: pinned environment, corpus, session and its JVM."""

    def __init__(self, args) -> None:
        from dedupbench.workloads import WORKLOADS, ensure_corpus

        import pandas as pd

        self.args = args
        self.workload = WORKLOADS[args.workload]
        # Half the cores: the JVM's JIT and GC threads, the driver thread and
        # the Python workers need the rest. On 4 cores, local[4] calls ran
        # slower, on more CPU, and spread twice as wide as local[2] ones.
        self.host_cores = len(os.sched_getaffinity(0))
        self.cores = max(1, self.host_cores // 2)
        self.corpus = ensure_corpus(
            os.path.join(STATE, "cache"), self.workload, args.seed,
            args.size or self.workload.size,
        )
        self.golden_pairs = pd.read_parquet(os.path.join(self.corpus, "pairs.parquet"))
        self.families = pd.read_parquet(os.path.join(self.corpus, "families.parquet"))
        self.input_pages = len(self.families)  # one row per generated page
        self.ref_path = os.path.join(
            self.corpus, f"reference-{_engine_digest()}.json"
        )
        self.run_dir = os.path.join(STATE, "runs", uuid.uuid4().hex[:12])
        os.makedirs(self.run_dir)
        self.eventlog_dir = os.path.join(self.run_dir, "eventlog")
        self.spark = None
        self.jvm_pid = None

    # -- session -------------------------------------------------------------
    def env_record(self) -> dict:
        with open("/proc/meminfo") as fh:
            mem_kb = int(fh.readline().split()[1])
        return {
            "host_cores": self.host_cores,
            "cores": self.cores,
            "master": f"local[{self.cores}]",
            "shuffle_partitions": self.cores,
            "driver_memory": DRIVER_MEMORY,
            "host_mem_gb": round(mem_kb / 1024**2, 1),
            "SPARK_GRAFT_LOCAL_DIR": os.environ["SPARK_GRAFT_LOCAL_DIR"],
            "PYTHONPATH": os.environ["PYTHONPATH"],
            "workload": self.workload.name,
            "pages": self.input_pages,
            "seed": self.args.seed,
            "trace": self.args.trace,
        }

    def start(self) -> None:
        from pyspark import SparkContext

        from sift_kg_spark import get_spark

        extra = {}
        if self.args.trace:
            os.makedirs(self.eventlog_dir)
            extra = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.eventlog_dir,
                "spark.eventLog.compress": "false",
            }
        self.spark = get_spark(
            app_name=f"dedupbench-{self.workload.name}",
            cores=self.cores,
            shuffle_partitions=self.cores,
            driver_memory=DRIVER_MEMORY,
            extra_conf=extra,
        )
        self.jvm_pid = SparkContext._gateway.proc.pid

    def stop(self) -> None:
        """Stop the session, end the JVM and wait for every process of
        its tree (the Python workers included) to exit."""
        from pyspark import SparkContext

        from dedupbench.procstat import tree, wait_gone

        if self.spark is None:
            return
        pids = set(tree(self.jvm_pid))
        self.spark.stop()
        gateway = SparkContext._gateway
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
        if not wait_gone(pids, 30):
            for pid in pids:
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
            wait_gone(pids, 10)
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None

    def pages(self):
        return self.spark.read.parquet(os.path.join(self.corpus, "pages.parquet"))

    def workdir(self, tag: str) -> str:
        return os.path.join(self.run_dir, f"{tag}-{uuid.uuid4().hex[:8]}")

    # -- reference checksum --------------------------------------------------
    def reference(self) -> str | None:
        try:
            with open(self.ref_path) as fh:
                return json.load(fh)["checksum"]
        except (OSError, ValueError, KeyError):
            return None

    def save_reference(self, checksum: str) -> None:
        tmp = f"{self.ref_path}.{uuid.uuid4().hex[:6]}"
        with open(tmp, "w") as fh:
            json.dump({"checksum": checksum}, fh)
        os.replace(tmp, self.ref_path)


def pipeline_call(ctx: Context, pages, workdir: str):
    """One ``run_dedup`` call; returns once every stage, assignments and
    clusters included, is committed to ``workdir``."""
    from sift_kg_spark import DedupConfig
    from sift_kg_spark.pipeline import run_dedup

    return run_dedup(ctx.spark, pages, DedupConfig(), workdir=workdir, resume=False)


def collect(res):
    return res.assignments.toPandas(), res.clusters.toPandas()


class Call:
    """Wall, epoch bounds and CPU of one timed engine call, and the
    engine's peak RSS so far (set-up is lighter than any call)."""

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx

    def __enter__(self):
        from dedupbench.procstat import cpu_seconds

        self._cpu0 = cpu_seconds(self.ctx.jvm_pid)
        self.start = time.time()
        self._t0 = time.monotonic()
        return self

    def __exit__(self, *exc) -> None:
        from dedupbench.procstat import cpu_seconds, peak_rss_bytes

        self.wall_s = time.monotonic() - self._t0
        self.end = time.time()
        self.cpu_s = cpu_seconds(self.ctx.jvm_pid) - self._cpu0
        self.peak_rss_mb = peak_rss_bytes(self.ctx.jvm_pid) / (1024 * 1024)


def check_against(ctx, assignments, clusters, reference=None, urls=None) -> list[str]:
    """``check_result`` against the golden tables. A call that saw only
    ``urls`` is checked for false merges and consistency, not recall: a
    planted chain whose middle page is missing need not merge."""
    from dedupbench.checks import check_result

    pairs, families = ctx.golden_pairs, ctx.families
    if urls is not None:
        families = families[families["url"].isin(urls)]
        pairs = pairs.iloc[:0]
    return check_result(assignments, clusters, pairs, families, reference)


def checked_call(ctx: Context, pages):
    """One timed, checked ``run_dedup`` call over the whole corpus:
    ``(call, assignments, failures)``; a call that raises is a failure."""
    from dedupbench.checks import checksum

    wd = ctx.workdir("call")
    call = assignments = None
    try:
        with Call(ctx) as call:
            res = pipeline_call(ctx, pages, wd)
        assignments, clusters = collect(res)
        failures = check_against(ctx, assignments, clusters, ctx.reference())
    except Exception as exc:  # a failed call is counted, not fatal
        traceback.print_exc()
        failures = [f"raised {type(exc).__name__}: {exc}"]
    if not failures and ctx.reference() is None:
        ctx.save_reference(checksum(assignments))
    ctx.spark.catalog.clearCache()
    shutil.rmtree(wd, ignore_errors=True)
    return call, assignments, failures


def run_untraced(ctx: Context) -> dict:
    from pyspark.sql import functions as F

    from dedupbench.checks import cluster_purity, dup_pair_recall

    pages = ctx.pages()
    pages.schema  # file listing + footer read belong to set-up
    walls, cpus, rss, recalls, purities = [], [], [], [], []
    # Warm-up, two discarded calls. The first, over a url-hash sixteenth of
    # the pages, loads the classes and starts the Python workers: a
    # session's first call costs about twice a warm one, mostly whatever
    # the input size. Its output is checked for false merges and
    # consistency, not recall: a planted chain need not be whole in a sample.
    attempted, failed = 1, 0
    wd = ctx.workdir("warmup")
    try:
        sample = pages.filter(F.pmod(F.xxhash64("url"), F.lit(WARMUP_MODULUS)) == 0)
        urls = set(sample.select("url").toPandas()["url"])
        failures = check_against(ctx, *collect(pipeline_call(ctx, sample, wd)), urls=urls)
    except Exception as exc:  # a failed call is counted, not fatal
        traceback.print_exc()
        failures = [f"raised {type(exc).__name__}: {exc}"]
    if failures:
        failed += 1
        print(f"dedupbench: warm-up failed: {failures}", file=sys.stderr)
    ctx.spark.catalog.clearCache()
    shutil.rmtree(wd, ignore_errors=True)
    # The second, over the whole corpus and checked like a timed call: the
    # JIT keeps compiling for several calls, most in the first full-size
    # one. With local[4] on 4 cores, the next call's wall time spread by
    # 13% of its median across five seeds, the call after that by 2%.
    attempted += 1
    call, _, failures = checked_call(ctx, pages)
    if failures:
        failed += 1
        print(f"dedupbench: full-size warm-up failed: {failures}", file=sys.stderr)
    else:
        print(f"dedupbench: full-size warm-up: {call.wall_s:.2f} s", file=sys.stderr)
    setup_s = time.monotonic() - T_START
    _phase("set-up done")
    t_measure = time.monotonic()
    timed = 0
    while True:
        attempted += 1
        timed += 1
        call, assignments, failures = checked_call(ctx, pages)
        if failures:
            failed += 1
            print(f"dedupbench: timed call {timed} failed: {failures}", file=sys.stderr)
        else:
            print(f"dedupbench: timed call {timed}: {call.wall_s:.2f} s", file=sys.stderr)
            walls.append(call.wall_s)
            cpus.append(call.cpu_s)
            rss.append(call.peak_rss_mb)
            recalls.append(dup_pair_recall(assignments, ctx.golden_pairs))
            purities.append(cluster_purity(assignments, ctx.families))
        if timed >= MIN_CALLS and time.monotonic() - t_measure >= ctx.args.seconds:
            break
    _phase("timed calls done")
    wall = _median(walls)
    metrics = {
        "wall_s": wall,
        "docs_per_s": ctx.input_pages / wall if wall else 0.0,
        "cpu_s_per_kdoc": _median(cpus) * 1000.0 / ctx.input_pages,
        "peak_rss_mb": max(rss) if rss else 0.0,
        "setup_s": setup_s,
        "dup_pair_recall": _median(recalls),
        "cluster_purity": _median(purities),
    }
    return {"attempted": attempted, "failed": failed, "metrics": metrics}


def _pair_stats(store, assignments) -> dict:
    """Candidate, verify, suffix and CC counts, read from the stage
    tables the traced call committed."""
    import pandas as pd
    from pyspark.sql import functions as F

    from sift_kg_spark import DedupConfig
    from sift_kg_spark.operators.lsh import bucket_size_histogram

    cfg = DedupConfig()

    def table(name):
        return pd.read_parquet(os.path.join(store.workdir, f"{name}.parquet"))

    out = {}
    cand = table("candidates")["channel"].value_counts()
    verified = table("verified")
    conf = verified.loc[verified["status"] == "confirmed", "channel"].value_counts()
    for ch in CHANNELS:
        out[f"lsh.candidates.{ch}"] = float(cand.get(ch, 0))
        out[f"verify.yield.{ch}"] = conf.get(ch, 0) / cand[ch] if cand.get(ch) else 0.0
    top = bucket_size_histogram(store.read("keys"), cfg).agg(F.max("log2_size")).collect()[0][0]
    out["lsh.max_bucket"] = float(2 ** top) if top is not None else 0.0
    pairs_in = int((verified["status"] == "flagged").sum())
    spanned = int((table("spans")["span"] >= cfg.min_span_bytes).sum())
    out["suffix.pairs_in"] = float(pairs_in)
    out["suffix.confirm_ratio"] = spanned / pairs_in if pairs_in else 0.0
    pairs = table("dup_pairs")
    out["components.edges_in"] = float((pairs["status"] == "confirmed").sum())
    # every CC node has an edge, so CC clusters are the multi-member ones
    out["components.clusters"] = float(
        (assignments.groupby("cluster_id").size() > 1).sum()
    )
    outcome = pairs.fillna({"channel": "exact", "decided_by": "none"}).groupby(
        ["channel", "status", "decided_by"]
    ).size()
    out["pairs.exact.confirmed.exact"] = float(outcome.get(("exact", "confirmed", "exact"), 0))
    for ch in CHANNELS:
        for status, by in PAIR_OUTCOMES:
            out[f"pairs.{ch}.{status}.{by}"] = float(outcome.get((ch, status, by), 0))
    out["tableio.bytes_written_mb"] = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(store.workdir) for f in files
    ) / (1024 * 1024)
    return out


def _phase(name: str) -> None:
    print(f"dedupbench: {name} at {time.monotonic() - T_START:.1f} s", file=sys.stderr)


def write_spans(ctx: Context, tracer) -> None:
    """Keep the run's spans (with self time) under .dedupbench/traces."""
    from dataclasses import asdict

    out_dir = os.path.join(STATE, "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(
        out_dir,
        f"{ctx.workload.name}-s{ctx.args.seed}-{os.path.basename(ctx.run_dir)}.json",
    )
    with open(path, "w") as fh:
        json.dump(
            [{**asdict(s), "self_s": tracer.self_time(s)} for s in tracer.spans],
            fh, indent=1,
        )
    print(f"dedupbench: spans written to {path}", file=sys.stderr)


def run_traced(ctx: Context) -> dict:
    from pyspark.sql import functions as F

    from sift_kg_spark import DedupConfig
    from sift_kg_spark.incremental import run_dedup_incremental

    from dedupbench.checks import checksum
    from dedupbench.trace import (
        Tracer,
        idle_seconds,
        layer_metrics,
        parse_eventlog,
        traced_engine,
    )

    cfg = DedupConfig()
    sc = ctx.spark.sparkContext
    pages = ctx.pages()

    # cold call: warms the session and commits the append's base
    sc.setJobGroup("dedupbench-cold", "cold")
    base_wd = ctx.workdir("base")
    in_batch = F.pmod(F.xxhash64("url"), F.lit(BATCH_MODULUS)) == 0
    batch = pages.filter(in_batch)
    base_pages = pages.filter(~in_batch)
    base_urls = set(base_pages.select("url").toPandas()["url"])
    failures = [
        f"base: {f}"
        for f in check_against(
            ctx, *collect(pipeline_call(ctx, base_pages, base_wd)), urls=base_urls
        )
    ]
    ctx.spark.catalog.clearCache()
    _phase("cold call done")

    # untraced warm call: the reference checksum, the overhead baseline
    # and the job count and idle time of the production call
    sc.setJobGroup(UNTRACED_GROUP, "untraced")
    with Call(ctx) as untraced:
        res = pipeline_call(ctx, pages, ctx.workdir("full"))
    sc.setLocalProperty("spark.jobGroup.id", None)
    assignments, clusters = collect(res)
    failures += check_against(ctx, assignments, clusters, ctx.reference())
    ref = checksum(assignments)
    ctx.spark.catalog.clearCache()
    _phase("untraced call done")

    # traced call: the same run_dedup, with a span per layer call
    tracer = Tracer(ctx.spark)
    with traced_engine(tracer), tracer.span("pipeline", "pipeline") as root:
        res = pipeline_call(ctx, pages, ctx.workdir("traced"))
    assignments, clusters = collect(res)
    failures += [f"traced: {f}" for f in check_against(ctx, assignments, clusters, ref)]
    sc.setJobGroup("dedupbench-stats", "stats")
    stats = _pair_stats(res.store, assignments)
    ctx.spark.catalog.clearCache()
    _phase("traced call done")

    with tracer.span("run_dedup_incremental", "incremental") as inc:
        res = run_dedup_incremental(
            ctx.spark, batch, cfg,
            base_workdir=base_wd, workdir=ctx.workdir("increment"),
        )
    failures += [f"increment: {f}" for f in check_against(ctx, *collect(res), ref)]
    _phase("increment done")

    ctx.stop()
    _phase("session stopped")
    write_spans(ctx, tracer)
    log = parse_eventlog(ctx.eventlog_dir)
    metrics = layer_metrics(tracer, [root, inc], log)
    metrics.update(stats)
    metrics["pipeline.jobs_total"] = float(
        sum(1 for g, _, _ in log.jobs.values() if g == UNTRACED_GROUP)
    )
    metrics["pipeline.idle_s"] = idle_seconds(
        log, {UNTRACED_GROUP}, untraced.start, untraced.end
    )
    metrics["tableio.write_s"] = sum(
        tracer.self_time(s) for s in tracer.subtree(root) if s.layer == "tableio"
    )
    metrics["tracing.wall_s"] = root.duration
    metrics["tracing.untraced_wall_s"] = untraced.wall_s
    metrics["tracing.overhead_s"] = root.duration - untraced.wall_s
    # share of the traced wall inside a stage or operator span; the rest
    # is driver-side glue between them (the root span's self time)
    metrics["tracing.span_share"] = 1.0 - tracer.self_time(root) / root.duration
    for f in failures:
        print(f"dedupbench: traced run check failed: {f}", file=sys.stderr)
    return {"attempted": 1, "failed": 1 if failures else 0, "metrics": metrics}


def _pin_environment() -> None:
    """Environment of the engine's processes, fixed by the benchmark."""
    local = os.path.join(STATE, "spark-local")
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    for var in ("SPARK_GRAFT_KEEP_MASTER", "SPARK_GRAFT_PRETOUCH", "SPARK_GRAFT_TMPFS",
                "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_MAX_RESULT"):
        os.environ.pop(var, None)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    # Python workers import the engine from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files in /tmp from either JVM (launcher and driver)
    jvm_tmp = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_tmp
    # The driver heap is faulted in once at JVM start (set-up), as
    # session.py's SPARK_GRAFT_PRETOUCH does: first-touch page faults on a
    # memory-ballooned VM are slow and would land inside timed calls.
    os.environ["SPARK_GRAFT_JAVA_OPTS"] = (
        f"-XX:+UseG1GC -XX:+AlwaysPreTouch -Xms{DRIVER_MEMORY} {jvm_tmp}"
    )
    import tempfile

    tempfile.tempdir = tmp


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", type=int, default=0,
                   help="pages per corpus (default: the workload's size)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "sift_kg_spark")):
        print(f"dedupbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from dedupbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"dedupbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    spec = _benchmark_spec()
    _pin_environment()
    ctx = Context(args)
    try:
        ctx.start()
        _phase("session started")
        print(json.dumps({"env": ctx.env_record()}), file=sys.stderr)
        out = run_traced(ctx) if args.trace else run_untraced(ctx)
    finally:
        ctx.stop()
        shutil.rmtree(ctx.run_dir, ignore_errors=True)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {
        m["name"]: {"value": float(out["metrics"][m["name"]]), "unit": m["unit"]}
        for m in wanted
    }
    result = {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
