"""BENCHMARK.json keeps its documented format and limits, and the
benchmark exits non-zero without a result where the engine's sources are absent."""

import json
import os
import re
import shutil
import subprocess
import sys

from dedupbench.run import CHANNELS, PAIR_OUTCOMES
from dedupbench.trace import LAYER_FIELDS, LAYERS
from dedupbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_spec_format_and_limits():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 1 <= spec["run_seconds"] <= 60
    assert 2 <= len(spec["workloads"]) <= 8
    assert 1 <= len(spec["end_to_end"]) <= 16
    assert 1 <= len(spec["per_layer"]) <= 128
    names = [w["name"] for w in spec["workloads"]] + [
        m["name"] for m in spec["end_to_end"] + spec["per_layer"]
    ]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and "\n" not in w["why"] and len(w["why"]) <= 200
        assert w["name"] in WORKLOADS
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25 and UNIT.match(m["unit"])
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower",
                      "bound": max(m["bound"] for m in spec["end_to_end"])}]


def test_per_layer_names_match_what_the_traced_run_reports():
    expected = {f"{L}.{f}" for L in LAYERS for f, _, _ in LAYER_FIELDS}
    expected |= {f"lsh.candidates.{c}" for c in CHANNELS}
    expected |= {f"verify.yield.{c}" for c in CHANNELS}
    expected |= {f"pairs.{c}.{s}.{b}" for c in CHANNELS for s, b in PAIR_OUTCOMES}
    expected |= {
        "lsh.max_bucket", "suffix.pairs_in", "suffix.confirm_ratio",
        "components.edges_in", "components.clusters", "pipeline.jobs_total",
        "pipeline.idle_s", "tableio.write_s", "tableio.bytes_written_mb",
        "tracing.wall_s", "tracing.untraced_wall_s", "tracing.overhead_s",
        "tracing.span_share", "pairs.exact.confirmed.exact",
    }
    assert {m["name"] for m in _spec()["per_layer"]} == expected


def test_fails_without_engine_sources(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "dedupbench"), tmp_path / "dedupbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    spec = _spec()
    proc = subprocess.run(
        [sys.executable, *spec["command"][1:], "--workload", spec["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
