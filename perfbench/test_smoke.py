"""Smoke test of the benchmark at the tiny input size.

    python3 -m pytest -q perfbench/test_smoke.py

Runs every workload twice: once untraced with one expected result
deliberately corrupted (the check must count it), once traced (every
per-layer metric must be printed, and the workload's own layers must be
non-zero).  Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]

# Layers each workload must exercise (their traced metrics are non-zero).
OWN_LAYERS = {
    "osm_pipeline": [
        "sources.pbf.decode_s", "sources.pbf.tasks", "sources.pbf_codec.blobs",
        "sources.pbf.entities_per_s", "sources.changeset_xml.parse_s",
        "sources.changeset_xml.tasks", "sources.changeset_xml.changesets_per_s",
        "sinks.orc.encode_s", "sinks.orc.embed_metadata_s", "sinks.orc.files",
        "sinks.orc.stripes", "sinks.orc.bytes", "sinks.orc.bytes_per_row",
        "sinks.orc.read_orc_s", "sinks.orc.scan_rows", "sinks.orc.scan_bytes",
        "sinks.orc.rows_read_per_row_out", "queries.osm_corpus.build_s",
    ],
    "corpus_headline": [
        m["name"] for m in SPEC["per_layer"]
        if m["name"].endswith((".build_s", ".plan_s", ".exec_s"))
        and m["name"].split(".")[0] in ("queries", "operators")
        and m["name"] != "queries.osm_corpus.build_s"
    ],
}


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--size", "smoke", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def assert_metrics(result: dict, spec: list[dict]) -> dict:
    got = result["metrics"]
    assert sorted(got) == sorted(m["name"] for m in spec)
    for m in spec:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], (int, float)), m["name"]
    return {k: v["value"] for k, v in got.items()}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_wrong_result_is_counted(workload):
    result = run(workload, 0, "--break-check")
    values = assert_metrics(result, SPEC["end_to_end"])
    assert result["failed"] > 0 and not result["correct"]
    assert values["correct_ratio"] < 1
    assert values["setup_s"] > 0 and values["wall_s"] > 0 and values["peak_rss_mb"] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_reports_every_layer(workload):
    result = run(workload, 1)
    values = assert_metrics(result, SPEC["per_layer"])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert values["spark.failed_tasks"] == 0 and values["spark.jobs"] > 0
    for name in OWN_LAYERS[workload]:
        assert values[name] > 0, name
    if workload == "osm_pipeline":
        # The full noop write does the decode probe's work and more, so
        # rows_s is at least 0 up to the noise of two best-of-three walls.
        assert values["sources.pbf.rows_s"] >= -0.25 * values["sources.pbf.decode_s"]
    if workload == "corpus_headline":
        phases = sum(v for k, v in values.items()
                     if k.endswith((".build_s", ".plan_s", ".exec_s"))
                     and k != "queries.osm_corpus.build_s")
        assert abs(phases - values["trace.wall_s"]) <= 0.05 * values["trace.wall_s"]


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0 and proc.stdout == ""
