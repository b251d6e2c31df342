"""End-to-end smoke runs of the benchmark command at scale 0.001.

Each run starts a Spark session (about 30 s). The command is launched
from a directory outside the checkout, so Python-UDF queries only work
if the command itself puts the repository on the workers' path.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from conftest import BENCH, ROOT
from tracing import LAYER_UNITS

END_TO_END = ("setup_s", "cold_pass_s", "pass_s", "query_p50_s", "query_p90_s", "shard_bytes")
RUN = os.path.join(BENCH, "run.py")
WORK = os.path.join(ROOT, ".perfbench_work")


def run(tmp_path, workload, seed, trace=0, script=RUN):
    proc = subprocess.run(
        [sys.executable, script, "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--scale", "0.001"],
        cwd=tmp_path, capture_output=True, text=True, timeout=600)
    return proc


def leftovers() -> list[int]:
    """Processes still running with a benchmark run's environment (the
    gateway JVM and the Python worker daemon inherit it)."""
    marker = ("SPARK_LOCAL_DIRS=" + os.path.join(WORK, "runs")).encode()
    found = []
    for entry in os.listdir("/proc"):
        try:
            with open(f"/proc/{entry}/environ", "rb") as fh:
                if marker in fh.read():
                    found.append(int(entry))
        except (OSError, ValueError):
            continue
    return found


def result(proc) -> dict:
    assert leftovers() == [], "the run left processes running"
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 2, proc.stderr[-3000:]
    return out


def digest(workload, seed):
    with open(os.path.join(WORK, "digests", f"{workload}-sf0.001-s{seed}.json")) as fh:
        return json.load(fh)


@pytest.mark.parametrize("workload", ["training_pipeline", "query_mix"])
def test_timed_runs_are_checked_and_seed_invariant(tmp_path, workload):
    a = result(run(tmp_path, workload, 1))
    assert set(a["metrics"]) == set(END_TO_END)
    assert all(m["value"] > 0 for m in a["metrics"].values())
    b = result(run(tmp_path, workload, 2))
    assert digest(workload, 1) == digest(workload, 2)
    assert a["metrics"]["shard_bytes"] == b["metrics"]["shard_bytes"]


def test_traced_run_reports_every_layer(tmp_path):
    out = result(run(tmp_path, "training_pipeline", 1, trace=1))
    assert set(out["metrics"]) == set(LAYER_UNITS)
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["spark.jobs"] > 0 and m["exec.output_bytes"] > 0
    assert m["pipeline.rows.export"] > 0
    spans = os.path.join(WORK, "traces", "training_pipeline-s1.spans.jsonl")
    with open(spans) as fh:
        names = {json.loads(line).get("name") for line in fh}
    assert {"pass", "query", "construct", "execute", "job"} <= names


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = run(tmp_path, "query_mix", 1, script=str(tmp_path / "perfbench" / "run.py"))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
