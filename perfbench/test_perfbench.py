"""The benchmark's own tests: every workload at a tiny size, one JVM per run.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
TINY = ["--seed", "3", "--seconds", "1", "--scale", "0.05"]


def run(*args: str, root: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(root, "perfbench", "run.py"), *args],
        cwd=root, capture_output=True, text=True, timeout=600,
    )


def result(p: subprocess.CompletedProcess) -> tuple[dict, dict]:
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_prints_with_its_unit(workload, trace):
    report, res = result(run("--workload", workload, "--trace", str(trace), *TINY))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in want
    }
    assert all(isinstance(v["value"], float) for v in res["metrics"].values())
    assert report["fail_rate"] == 0.0
    assert report["host"]["nproc"] == len(os.sched_getaffinity(0))


def test_a_corrupted_span_counts_in_fail_rate():
    report, res = result(
        run("--workload", "extract", "--trace", "0", "--corrupt-pass", "2", *TINY)
    )
    assert not res["correct"] and res["failed"] == 1
    assert report["fail_rate"] == 1 / res["attempted"]


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__")
    )
    p = run("--workload", "extract", "--trace", "0", *TINY, root=str(tmp_path))
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_same_seed_same_inputs():
    a, pa, _ = gen.near_dup_docs(200, seed=5)
    b, pb, _ = gen.near_dup_docs(200, seed=5)
    c, _, _ = gen.near_dup_docs(200, seed=6)
    assert (a, pa) == (b, pb) and a != c
    text = {d["doc_id"]: d["text"] for d in a}
    assert pa and all(gen.jaccard(text[x], text[y]) >= gen.THRESHOLD for x, y in pa)
    assert gen.corpus_seed(5, 400) == gen.corpus_seed(5, 400)
