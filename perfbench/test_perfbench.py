"""The benchmark's own test: traced runs repeat their exact counters and
cover every per-layer metric BENCHMARK.json names.

    python3 -m pytest perfbench/test_perfbench.py -q

Each workload is run twice, traced, with one seed and a one-second loop
(one pass). This takes several minutes: it starts the engine four times.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
SEED = 1

# Counts the engine produces from seeded inputs: equal on every run of one
# seed. Not spark.stages_per_op: when two overlapped writes share a
# shuffle, whether its stage is skipped depends on timing.
EXACT = [
    "spark.jobs_per_op",
    "spark.tasks_per_op",
    "lake.bytes_written_per_row",
    "lake.live_bytes_per_row",
    "lake.live_files",
    "lake.manifest_files",
    "parquet_lake.fsync_calls",
    "maintenance.commit_calls",
]

# Per-layer metrics each workload must exercise (non-zero in a traced run).
EXERCISED = {
    "analyst_reads": [
        "session.start_s", "registry.load_s", "warmup_s",
        "plans.build_s", "plans.exec_s", "plans.jobs", "plans.tasks",
        "operators.build_s", "operators.exec_s", "operators.jobs", "operators.tasks",
        "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
        "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
        "spark.job_busy_s", "spark.between_jobs_s",
    ],
    "ingest_refresh": [
        "session.start_s", "registry.load_s", "warmup_s",
        "operators.build_s", "operators.exec_s", "operators.jobs",
        "sources.build_s", "sources.jobs",
        "pipeline.build_s", "pipeline.exec_s", "pipeline.jobs",
        "streaming.build_s", "streaming.exec_s", "streaming.jobs",
        "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
        "spark.job_busy_s", "spark.between_jobs_s",
        "parquet_lake.write_partitioned_s", "parquet_lake.publish_s",
        "parquet_lake.rewrite_atomic_s", "parquet_lake.fsync_s", "parquet_lake.fsync_calls",
        "maintenance.merge_s", "maintenance.commit_s", "maintenance.commit_calls",
        "maintenance.compact_s", "maintenance.expire_s", "maintenance.vacuum_s",
        "maintenance.snapshot_plan_s",
        "lake.bytes_written_per_row", "lake.live_bytes_per_row", "lake.live_files",
        "lake.manifest_files", "lake.write_p50_s", "lake.read_p50_s", "lake.fresh_p50_s",
        "pipeline.crawl_s",
    ],
}


def _traced(workload: str) -> dict:
    cmd = [sys.executable, *BENCH["command"][1:], "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", "1"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module", params=[w["name"] for w in BENCH["workloads"]])
def runs(request):
    return request.param, _traced(request.param), _traced(request.param)


def test_outputs_checked_and_correct(runs):
    _name, a, b = runs
    for r in (a, b):
        assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1


def test_every_per_layer_metric_reported(runs):
    name, a, _b = runs
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in a["metrics"].items()} == want
    missing = [k for k in EXERCISED[name] if not a["metrics"][k]["value"] > 0]
    assert not missing, f"{name}: layers not exercised: {missing}"


def test_exact_counters_repeat(runs):
    name, a, b = runs
    diff = {k: (a["metrics"][k]["value"], b["metrics"][k]["value"])
            for k in EXACT if a["metrics"][k]["value"] != b["metrics"][k]["value"]}
    assert not diff, f"{name}: exact counters differ between runs of seed {SEED}: {diff}"
