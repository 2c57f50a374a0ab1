"""The benchmark's own tests: every workload at its seconds-long smoke size.

Each traced smoke run goes through the whole benchmark, oracle included,
and must report a correct result with every declared per-layer metric.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join("perfbench", "run.py")

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def run(workload: str, trace: int, cwd: str = ROOT, seed: int = 3):
    proc = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", "2", "--trace", str(trace), "--size", "smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    return proc


def result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_declared_workloads_are_runnable():
    from perfbench.run import WORKLOADS

    assert {w["name"] for w in BENCH["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("workload", ["apache_log", "netflow_nali", "query_mix"])
def test_traced_smoke_run(workload):
    r = result(run(workload, trace=1))
    assert r["correct"] and r["failed"] == 0 and r["attempted"] > 0
    layers = {k: v["value"] for k, v in r["metrics"].items()}
    assert set(layers) == {m["name"] for m in BENCH["per_layer"]}
    assert layers["session.start_s"] > 0
    if workload == "query_mix":
        assert all(v > 0 for k, v in layers.items() if k.startswith("operators."))
        return
    assert all(v == 0 for k, v in layers.items() if k.startswith("operators."))
    assert layers["sources.rows"] > 0 and layers["pipeline.epochs"] > 0
    enrich = [layers[f"enrich.{k}"] for k in ("geo_s", "service_s")]
    if workload == "apache_log":
        # the negative control: no enrichment runs, so no self time
        assert enrich == [0.0, 0.0]
        from perfbench.streaming import SPECS, smoke, stream_batch

        spec = smoke(SPECS[workload])
        injected = stream_batch(workload, 3, spec, int(spec.rate * 2)).malformed
        cold_and_backlog = spec.cold + spec.backlog
        assert layers["parsers.parse_errors"] == injected[:cold_and_backlog].sum()
    else:
        assert all(v != 0 for v in enrich)
        assert 0.8 < layers["enrich.geo_hit_ratio"] < 1.0
        assert layers["sinks.shard_skew"] > 1.0


def test_end_to_end_metrics():
    r = result(run("netflow_nali", trace=0))
    assert r["correct"]
    assert {k: v["unit"] for k, v in r["metrics"].items()} == {
        m["name"]: m["unit"] for m in BENCH["end_to_end"]
    }
    assert all(v["value"] > 0 for v in r["metrics"].values())


def test_refuses_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = run("apache_log", trace=0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert not proc.stdout.strip()
