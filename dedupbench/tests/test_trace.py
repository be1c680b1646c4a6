"""Span self time, idle time and the event-log parse, on synthetic input;
the engine wrapper installs and removes itself."""

import json

from dedupbench.trace import (
    LAYER_FIELDS,
    LAYERS,
    EventLog,
    Span,
    Tracer,
    idle_seconds,
    layer_metrics,
    parse_eventlog,
    traced_engine,
)


def _tracer(spans):
    t = Tracer.__new__(Tracer)
    t.spans = spans
    t._stack = []
    for s in spans:
        if s.parent is not None:
            spans[s.parent].children.append(s.sid)
    return t


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span(0, "root", "pipeline", None, "g0", 0.0, 10.0),
        Span(1, "a", "verify", 0, "g1", 1.0, 4.0),
        Span(2, "b", "suffix", 0, "g2", 3.0, 5.0),   # overlaps a
        Span(3, "c", "tableio", 1, "g3", 2.0, 3.0),  # grandchild
    ]
    t = _tracer(spans)
    assert t.self_time(spans[0]) == 6.0
    assert t.self_time(spans[1]) == 2.0
    assert sum(t.self_time(s) for s in t.subtree(spans[0])) == 10.0 + 1.0  # b overlaps a by 1 s


def test_idle_seconds_counts_gaps_between_jobs():
    log = EventLog(
        jobs={
            0: ("g", 1000, 2000),
            1: ("g", 1500, 3000),
            2: ("other", 3000, 9000),
            3: ("g", 6000, 7000),
        },
        by_group={},
    )
    assert idle_seconds(log, {"g"}, 0.0, 10.0) == 7.0


def test_parse_eventlog_groups_task_metrics(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "g1"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor CPU Time": 2_000_000_000, "JVM GC Time": 500,
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 1048576,
            "Shuffle Read Metrics": {"Remote Bytes Read": 1048576, "Local Bytes Read": 1048576},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 3145728}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 4000},
    ]
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = parse_eventlog(str(tmp_path))
    assert log.jobs == {0: ("g1", 1000, 4000)}
    g = log.by_group["g1"]
    assert g["shuffle_read_mb"] == 2.0
    assert g["shuffle_write_mb"] == 3.0
    assert g["spill_mb"] == 1.0
    assert g["gc_s"] == 0.5
    assert g["exec_cpu_s"] == 2.0


def test_layer_metrics_report_every_layer():
    spans = [
        Span(0, "root", "pipeline", None, "g0", 0.0, 4.0, jobs=1),
        Span(1, "verify", "verify", 0, "g1", 1.0, 3.0, jobs=2, rows_out=7),
    ]
    t = _tracer(spans)
    log = EventLog(jobs={}, by_group={"g1": {"exec_cpu_s": 1.5}})
    m = layer_metrics(t, [spans[0]], log)
    assert set(m) == {f"{L}.{f}" for L in LAYERS for f, _, _ in LAYER_FIELDS}
    assert m["verify.self_s"] == 2.0 and m["pipeline.self_s"] == 2.0
    assert m["verify.jobs"] == 2 and m["verify.rows_out"] == 7
    assert m["verify.exec_cpu_s"] == 1.5
    assert m["incremental.self_s"] == 0.0


def test_traced_engine_wraps_what_run_dedup_looks_up_and_restores_it():
    from sift_kg_spark import pipeline
    from sift_kg_spark.tableio import StageStore

    before = (StageStore.stage, pipeline.exact_representatives, pipeline.connected_components)
    with traced_engine(_tracer([])):
        during = (StageStore.stage, pipeline.exact_representatives, pipeline.connected_components)
        assert all(a is not b for a, b in zip(before, during))
    assert (StageStore.stage, pipeline.exact_representatives, pipeline.connected_components) == before
