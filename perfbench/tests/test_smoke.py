"""Tiny inputs through every workload's code path, traced and untraced."""

import argparse
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

import run
import spans
import workloads

REPO = Path(__file__).resolve().parents[2]


def test_cli_fails_without_the_package(tmp_path):
    shutil.copytree(REPO / "perfbench", tmp_path / "perfbench")
    shutil.copy(REPO / "BENCHMARK.json", tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "codegraph",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""


@pytest.fixture(scope="module")
def jvm():
    yield
    run.shutdown_jvm()


@pytest.mark.parametrize("name", workloads.WORKLOADS)
def test_tiny_traced_run(name, tmp_path, jvm):
    run.pin_environment(tmp_path)
    wl = workloads.make(name, str(tmp_path), tiny=True)
    r = run.Run(wl, seed=5, traced=True, work=tmp_path)
    capture = getattr(wl, "capturing", None)
    try:
        if capture:
            with capture():
                runs = r.safely(lambda: r.execute(spans.Patches(r.tracer)))
        else:
            runs = r.safely(lambda: r.execute(spans.Patches(r.tracer)))
    finally:
        app_id = r.spark.sparkContext.applicationId
        r.spark.stop()
        r.spark = None
    assert r.failures == [] and runs is not None
    args = argparse.Namespace(workload=name, seed=5, trace=1)
    report, metrics = run.summarize(
        args, r, runs, {}, tmp_path / "events" / app_id
    )
    assert r.failures == []
    assert [(k, u) for k, (_v, u) in metrics.items()] == spans.per_layer_specs()
    busy = {
        "codegraph": ("kernels.pagerank_s", "extract.repo_edges_s", "kernels.pagerank.spark_jobs"),
        "csr_pagerank": ("graph.build_csr_s", "checkpoint.save_s", "checkpoint.spark_jobs"),
        "motif_local": ("motifs.extractor_s", "mdl.score_s", "mdl.spark_jobs"),
    }[name]
    for metric in busy:
        assert metrics[metric][0] > 0, metric
    assert any(line.startswith("dominant layer:") for line in report)


def test_cli_prints_the_end_to_end_metrics(tmp_path):
    env = dict(os.environ)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "csr_pagerank",
         "--seed", "2", "--seconds", "1", "--trace", "0", "--tiny"],
        cwd=REPO, capture_output=True, text=True, timeout=300, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    import json

    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == dict(run.END_TO_END)
    assert all(v["value"] > 0 for v in result["metrics"].values())
