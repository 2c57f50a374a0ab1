"""Ingest benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload netflow_nali --seed 1 --seconds 10 --trace 0

Workloads (BENCHMARK.json declares the gated ones and why each is in the
set):

- ``netflow_nali``, ``apache_log``: streaming ingest through
  ``streaming.pipeline`` from kafkasim partition logs written by a
  separate producer process (perfbench/streaming.py); ``apache_log`` is
  kept for the smoke tests, where it is the negative control of the
  enrichment layer;
- ``query_mix``: closed-loop passes over eleven registered operator
  queries (perfbench/querymix.py).

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (self times from a cumulative-prefix replay, counters, tracing
overhead) and writes the spans to ``.perfbench/<workload>-trace.json``.
``--size smoke`` shrinks every input to a seconds-long run for the
benchmark's own tests.

Every run checks the program's outputs against an oracle outside the
timed windows; the result line carries ``correct``, ``attempted`` and
``failed``.  A run whose load generator fell behind its schedule is
invalid: it prints no result and exits 3.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T_PROC0 = time.time()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("apache_log", "netflow_nali", "query_mix")
PACKAGE = "clickhouse_sinker_nali_spark"


def declared_units(kind: str) -> dict[str, str]:
    """Metric name → unit for ``end_to_end`` or ``per_layer``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def stop_spark() -> None:
    """Stop the session, the driver JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gw.shutdown()
    finally:
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None


def wait_children(rss, timeout: float = 20.0) -> None:
    """Wait for every descendant (python workers) to exit."""
    deadline = time.time() + timeout
    while time.time() < deadline and len(rss._tree()) > 1:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    a = ap.parse_args()

    missing = [
        p for p in (PACKAGE, "__spark_entry__.py", "scripts/check_oracle.py")
        if not os.path.exists(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"perfbench: program files missing from {ROOT}: {missing}", file=sys.stderr)
        return 2

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    from perfbench.common import (
        RssSampler,
        cpu_ticks,
        host_probe_ms,
        size_environment,
        start_spark,
    )

    env = size_environment(ROOT, work)
    sys.path.insert(0, ROOT)
    os.chdir(work)  # Spark's relative defaults (derby.log, warehouse) land here

    def spark_factory():
        return start_spark(f"perfbench-{a.workload}", work)

    # a terminated run still stops the JVM and the producer it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    steal0, total0 = cpu_ticks()
    with RssSampler() as rss:
        try:
            if a.workload == "query_mix":
                from perfbench import querymix

                result = querymix.run(spark_factory, ROOT, a.seed, a.seconds, work,
                                      bool(a.trace), a.size, rss, T_PROC0)
            else:
                from perfbench import streaming

                result = streaming.run(spark_factory, a.workload, a.seed, a.seconds,
                                       work, bool(a.trace), a.size, rss, T_PROC0)
            rss.sample()
            peak_mb = rss.peak_mb
        finally:
            stop_spark()
            wait_children(rss)
            os.chdir(ROOT)
            shutil.rmtree(work, ignore_errors=True)

    steal1, total1 = cpu_ticks()
    probe_ms = host_probe_ms()
    e2e = result["end_to_end"]
    units = declared_units("end_to_end")
    print(f"workload {a.workload} seed {a.seed} seconds {a.seconds:g} size {a.size} "
          f"cpus {env['SPARK_GRAFT_CPUS']} heap {env['SPARK_GRAFT_DRIVER_MEM']}")
    for k, v in e2e.items():
        print(f"  {k:<18} {v:14.4f} {units[k]}")
    # reported, not gated: G1 heap growth and the number of live python
    # workers move it by a third between runs of the same inputs
    print(f"  {'peak_rss_mb':<18} {peak_mb:14.4f} MB")
    # CPU time the hypervisor gave to other guests: a noisy neighbour shows
    # here before it shows as a slow run
    print(f"  note host_steal_share: {(steal1 - steal0) / max(1, total1 - total0):.4f}")
    print(f"  note host_probe_ms: {probe_ms:.1f}")
    for k, v in result["notes"].items():
        print(f"  note {k}: {v}")
    print(f"  failed_share {result['failed'] / max(1, result['attempted']):.6f} "
          f"({result['failed']} of {result['attempted']})")
    for p in result["problems"][:20]:
        print(f"  problem: {p}")
    if not result["valid"]:
        print("perfbench: run invalid, the load generator fell behind its schedule",
              file=sys.stderr)
        return 3

    if a.trace:
        layers = dict(result["layers"], **{"session.peak_rss_mb": peak_mb})
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                   for n, u in declared_units("per_layer").items()}
        result["tracer"].dump(os.path.join(out_dir, f"{a.workload}-trace.json"))
        for k, v in layers.items():
            print(f"  layer {k:<44} {v:.6g}")
    else:
        metrics = {k: {"value": float(v), "unit": units[k]} for k, v in e2e.items()}
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
