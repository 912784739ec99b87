"""Smoke test of the benchmark: every workload at tiny size, traced and not.

    python3 -m pytest perfbench/test_smoke.py -q

Asserts that each run exits 0, prints every metric BENCHMARK.json names with
its unit, and that every output check of the workload ran.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)

# output checks each workload must report as passed (prefixes of check names)
CHECKS = {
    "batch_full_suite": ["batch.verdicts", "batch.violations", "batch.dur_drift"],
    "service_mixed": [
        "service.warmup.reduce", "service.warmup.transcripts", "service.warmup.full",
        "service.warmup.multi", "service.warmup.cycle", "service.0.",
    ],
}
# checks only a traced run makes
TRACED_CHECKS = {
    "batch_full_suite": [
        "probe.audio", "probe.drift", "probe.summarize", "probe.incremental",
        "probe.incremental.violations", "probe.full_rerun",
    ],
    "service_mixed": [],
}
# per-layer metrics each workload measures; the rest it reports as 0
MEASURED = {
    "batch_full_suite": {
        "engine.plan_s", "engine.exec_s", "ops.audio.snr_s", "ops.drift.drift_s",
        "verdicts.summarize_s", "revalidate.affected_s", "revalidate.affected_entities",
        "revalidate.useful_frac", "revalidate.incremental_s", "revalidate.full_rerun_s",
        "datagen.gen_s", "trace.overhead_frac",
    },
    "service_mixed": {
        "compiler.compile_s", "sources.load_s", "engine.jobs", "engine.stages",
        "engine.tasks", "engine.fixpoint_s", "engine.cached_rdds_end",
        "engine.cached_mb_end", "service.overhead_s", "service.response_bytes",
        "datagen.gen_s", "trace.overhead_frac",
    },
}
# unbounded metrics printed by name next to the bounded ones
ALIASES = {
    "batch_full_suite": [("clips_per_s", "clips/s")],
    "service_mixed": [("req_p50_s", "s"), ("req_per_s", "1/s"), ("req_p90_s", "s")],
}


def _run(workload: str, trace: int) -> tuple[dict, str]:
    cmd = list(SPEC["command"]) + [
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--clips", "300",
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_prints_every_metric_and_checks(workload, trace):
    result, out = _run(workload, trace)
    assert result["correct"] is True
    assert result["attempted"] >= 1 and result["failed"] == 0
    specs = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in specs}
    for m in specs:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float)) and got["value"] == got["value"]
        assert f"metric {m['name']} = " in out
    checks = out.split("checks passed: ", 1)[1].splitlines()[0]
    for name in CHECKS[workload] + (TRACED_CHECKS[workload] if trace else []):
        assert name in checks, (name, checks)
    if trace:
        names = {m["name"] for m in specs}
        assert MEASURED[workload] <= names
        for name in names - MEASURED[workload]:
            assert result["metrics"][name]["value"] == 0, name
        line = re.search(r"^not measured on \S+ \(reported as 0\): (.*)$", out, re.M)[1]
        assert set(line.split(", ")) == names - MEASURED[workload]
    else:
        assert "metric failed_frac = 0 ratio" in out
        for name, unit in ALIASES[workload]:
            assert re.search(rf"^metric {name} = \S+ {re.escape(unit)}", out, re.M), name


def test_fails_without_the_package(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero
    without printing a result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    cmd = list(SPEC["command"]) + ["--workload", "batch_full_suite", "--seed", "1",
                                   "--seconds", "1", "--trace", "0"]
    p = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
