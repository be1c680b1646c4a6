"""Spans around calls into the engine's layers, plus the Spark event-log
parse that attributes task metrics to them.

``traced_engine`` traces the real ``run_dedup``: while it is active, the
names ``run_dedup`` looks up at call time (``StageStore.stage`` and the
two operators it calls inside a stage build) are wrapped in spans.

Each span sets its own Spark job group, so every job a layer launches is
counted (``statusTracker``) and its TaskEnd metrics are summed (event
log) against that span alone; a child span's jobs never count toward its
parent. Spans are kept in memory and turned into metrics after the
session stops, once the event log is complete.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

LAYERS = (
    "prepare",
    "exact",
    "features",
    "lsh",
    "verify",
    "suffix",
    "components",
    "pipeline",
    "tableio",
    "incremental",
)

# (name, unit, better) of the metrics every layer reports
LAYER_FIELDS = (
    ("self_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("rows_out", "rows", "lower"),
    ("shuffle_read_mb", "MB", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
    ("gc_s", "s", "lower"),
    ("exec_cpu_s", "s", "lower"),
)

_MB = 1024 * 1024

# committed stage -> the layer whose public function builds it; every
# other stage (dup_pairs, assignments, clusters) is the pipeline's glue
STAGE_LAYERS = {
    "prepared": "prepare",
    "exact_pairs": "exact",
    "features": "features",
    "keys": "lsh",
    "candidates": "lsh",
    "verified": "verify",
    "spans": "suffix",
}


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    parent: int | None
    group: str
    start: float                  # epoch seconds
    end: float = 0.0
    jobs: int = 0
    rows_out: int = 0
    children: list = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Nested spans; one Spark job group per span."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, layer, parent, f"dedupbench-{sid}-{name}", time.time())
        self.spans.append(s)
        if parent is not None:
            self.spans[parent].children.append(sid)
        self._stack.append(sid)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            s.jobs = len(self.sc.statusTracker().getJobIdsForGroup(s.group))
            if parent is not None:
                p = self.spans[parent]
                self.sc.setJobGroup(p.group, p.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def materialize(self, span: Span, df: DataFrame) -> None:
        """Run ``df`` through the noop sink; its row count rides the same
        action (an Observation), so counting adds no job."""
        obs = Observation(f"dedupbench_rows_{span.sid}_{len(self.spans)}")
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
            "noop"
        ).mode("overwrite").save()
        span.rows_out += int(obs.get["n"])

    def self_time(self, s: Span) -> float:
        """Span duration minus the union of its children's intervals."""
        ivs = sorted((self.spans[c].start, self.spans[c].end) for c in s.children)
        covered, cur = 0.0, None
        for a, b in ivs:
            a, b = max(a, s.start), min(b, s.end)
            if cur is None or a > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur:
            covered += cur[1] - cur[0]
        return max(0.0, s.duration - covered)

    def subtree(self, root: Span) -> list[Span]:
        out, todo = [], [root.sid]
        while todo:
            s = self.spans[todo.pop()]
            out.append(s)
            todo.extend(s.children)
        return out


@contextlib.contextmanager
def traced_engine(tracer: Tracer):
    """While active, each ``StageStore.stage`` build runs and materializes
    inside a span of the stage's layer and commits inside a ``tableio``
    span; ``exact_representatives`` and ``connected_components``, which
    ``run_dedup`` calls inside a stage build, get child spans of their
    own. Their outputs stay cached until the stage that reads them is
    committed, so the parent stage does not recompute them."""
    from pyspark import StorageLevel

    from sift_kg_spark import pipeline
    from sift_kg_spark.tableio import StageStore

    stage0 = StageStore.stage
    reps0 = pipeline.exact_representatives
    cc0 = pipeline.connected_components
    held: list[DataFrame] = []

    def materialized(name, layer, build):
        with tracer.span(name, layer) as sp:
            df = build().persist(StorageLevel.MEMORY_AND_DISK)
            tracer.materialize(sp, df)
        return df

    def stage(store, name, build, inputs=(), resume=True, repartition_by=None):
        if resume and store.exists(name):
            return stage0(store, name, build, inputs, resume, repartition_by)
        df = materialized(name, STAGE_LAYERS.get(name, "pipeline"), build)
        with tracer.span(f"write:{name}", "tableio") as sp:
            out = store.write(name, df, inputs=inputs, repartition_by=repartition_by)
            sp.rows_out = store.manifest(name)["rows"]
        df.unpersist()
        while held:
            held.pop().unpersist()
        return out

    def exact_representatives(*args, **kwargs):
        held.append(materialized("representatives", "exact", lambda: reps0(*args, **kwargs)))
        return held[-1]

    def connected_components(*args, **kwargs):
        held.append(materialized("components", "components", lambda: cc0(*args, **kwargs)))
        return held[-1]

    StageStore.stage = stage
    pipeline.exact_representatives = exact_representatives
    pipeline.connected_components = connected_components
    try:
        yield
    finally:
        StageStore.stage = stage0
        pipeline.exact_representatives = reps0
        pipeline.connected_components = cc0


# -- event log ---------------------------------------------------------------


def _event_lines(eventlog_root: str):
    """Lines of the one application's event log under ``eventlog_root``
    (a plain file, or a rolling ``eventlog_v2_*`` directory)."""
    apps = sorted(glob.glob(os.path.join(eventlog_root, "*")))
    for app in apps:
        if os.path.isdir(app):
            parts = glob.glob(os.path.join(app, "events_*"))
            parts.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
        else:
            parts = [app]
        for part in parts:
            with open(part) as fh:
                yield from fh


@dataclass
class EventLog:
    # job id -> (group, submit ms, completion ms)
    jobs: dict
    # group -> metric -> summed value
    by_group: dict


def parse_eventlog(eventlog_root: str) -> EventLog:
    """Jobs with their group and interval, and TaskEnd metrics summed per
    job group: shuffle read/write bytes, spill, GC and executor CPU."""
    jobs: dict[int, list] = {}
    stage_group: dict[int, str | None] = {}
    by_group: dict = defaultdict(lambda: defaultdict(float))
    for line in _event_lines(eventlog_root):
        if "SparkListenerJob" not in line and "SparkListenerTaskEnd" not in line:
            continue
        e = json.loads(line)
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            jobs[e["Job ID"]] = [group, e["Submission Time"], None]
            for sid in e["Stage IDs"]:
                stage_group[sid] = group
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]][2] = e["Completion Time"]
        elif ev == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            g = by_group[stage_group.get(e["Stage ID"])]
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            g["tasks"] += 1
            g["shuffle_read_mb"] += (
                rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            ) / _MB
            g["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / _MB
            g["spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / _MB
            g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            g["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    return EventLog(
        jobs={j: tuple(v) for j, v in jobs.items()},
        by_group={k: dict(v) for k, v in by_group.items()},
    )


def idle_seconds(log: EventLog, groups: set, start: float, end: float) -> float:
    """Wall time in [start, end] (epoch s) with no job of ``groups``
    running — the driver-side orchestration floor."""
    ivs = sorted(
        (max(s / 1e3, start), min((e or s) / 1e3, end))
        for g, s, e in log.jobs.values()
        if g in groups
    )
    busy, cur = 0.0, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur is None or a > cur[1]:
            if cur:
                busy += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur:
        busy += cur[1] - cur[0]
    return max(0.0, (end - start) - busy)


def layer_metrics(tracer: Tracer, roots: list[Span], log: EventLog) -> dict:
    """``<layer>.<field>`` for every layer, summed over the spans under
    ``roots``; layers with no span report 0."""
    out = {f"{L}.{f}": 0.0 for L in LAYERS for f, _, _ in LAYER_FIELDS}
    for root in roots:
        for s in tracer.subtree(root):
            L = s.layer
            out[f"{L}.self_s"] += tracer.self_time(s)
            out[f"{L}.jobs"] += s.jobs
            out[f"{L}.rows_out"] += s.rows_out
            for f in ("shuffle_read_mb", "shuffle_write_mb", "spill_mb", "gc_s", "exec_cpu_s"):
                out[f"{L}.{f}"] += log.by_group.get(s.group, {}).get(f, 0.0)
    return out
