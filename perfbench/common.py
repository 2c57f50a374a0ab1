"""Shared plumbing: host sizing, the Spark session, RSS sampling, spans,
order-independent frame hashes and percentiles."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

# the JVM options session.get_spark sets; repeated here because adding
# java.io.tmpdir replaces the whole option string
_JAVA_OPTS = "-XX:+UseG1GC -XX:G1HeapRegionSize=16m"


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def host_probe_ms(repeats: int = 5) -> float:
    """Median wall time of a fixed single-threaded Python loop.  Taken
    after the run, it shows which speed the shared host ran at: on a
    4-vCPU VM that speed changed by up to 2x between runs minutes apart,
    with no steal time to show for it."""
    times = []
    for _ in range(repeats):
        t = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i * i
        times.append((time.perf_counter() - t) * 1000.0)
    return median(times)


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_gb() -> int:
    """Heap for local[N]: a share of available memory, in coarse steps so
    small drifts in free memory do not change the heap between runs."""
    avail_kb = 0
    with open("/proc/meminfo") as f:
        for ln in f:
            if ln.startswith("MemAvailable:"):
                avail_kb = int(ln.split()[1])
    avail_gb = avail_kb / (1 << 20)
    return 3 if avail_gb >= 8 else 2 if avail_gb >= 4 else 1


def size_environment(root: str, work: str) -> dict[str, str]:
    """Point Spark at this host and keep every file it writes under
    ``work``.  Must run before pyspark starts the JVM."""
    dirs = {k: os.path.join(work, k) for k in ("spark-local", "tmp", "scan-cache")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(host_cpus()),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mem_gb()}g",
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "SPARK_GRAFT_CACHE_DIR": dirs["scan-cache"],
        "TMPDIR": dirs["tmp"],
        # python workers and python data sources import the package
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON", "python3"),
    }
    os.environ.update(env)
    return env


def start_spark(app: str, work: str):
    from clickhouse_sinker_nali_spark.session import get_spark

    cpus = host_cpus()
    spark = get_spark(
        app,
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"{_JAVA_OPTS} -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            ),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class RssSampler:
    """Peak summed RSS of this process and its descendants (the driver
    JVM and its python workers), minus processes named in ``exclude``."""

    def __init__(self, period_s: float = 0.5) -> None:
        self.period_s = period_s
        self.exclude: set[int] = set()
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    def _tree(self) -> list[int]:
        parent: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            # the command name may hold spaces: fields resume after ')'
            parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
        tree, frontier = [], [os.getpid()]
        while frontier:
            pid = frontier.pop()
            if pid in self.exclude:
                continue
            tree.append(pid)
            frontier.extend(c for c, p in parent.items() if p == pid)
        return tree

    def sample(self) -> None:
        total = 0
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for ln in f:
                        if ln.startswith("VmRSS:"):
                            total += int(ln.split()[1])
                            break
            except OSError:
                continue
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period_s)


@dataclass
class Tracer:
    """In-memory spans and counters, written out once when the run ends."""

    enabled: bool
    spans: list[dict] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)

    @contextmanager
    def span(self, name: str, parent: str | None = None):
        start = time.perf_counter()
        try:
            yield
        finally:
            if self.enabled:
                self.spans.append(
                    {"name": name, "parent": parent, "start": start,
                     "end": time.perf_counter()}
                )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counters": self.counters}, f)


def frame_hash(columns: dict[str, np.ndarray]) -> int:
    """Order-independent hash of a table: the wrapping uint64 sum of
    per-row hashes over the columns in name order.  Values must already be
    normalised (timestamps as int64 microseconds, integers as int64)."""
    import pandas as pd

    frame = pd.DataFrame({k: columns[k] for k in sorted(columns)})
    rows = pd.util.hash_pandas_object(frame, index=False).to_numpy(np.uint64)
    return int(rows.sum(dtype=np.uint64))


def normalise(values) -> np.ndarray:
    """Column values → the dtype ``frame_hash`` expects."""
    arr = np.asarray(values)
    if np.issubdtype(arr.dtype, np.datetime64):
        return arr.astype("datetime64[us]").astype(np.int64)
    if np.issubdtype(arr.dtype, np.integer):
        return arr.astype(np.int64)
    if np.issubdtype(arr.dtype, np.floating):
        return arr.astype(np.float64)
    return arr.astype(object)


def quantile(values, q: float) -> float:
    """The ``q``-quantile (0 < q < 1), linear interpolation."""
    return float(np.quantile(np.asarray(values, dtype=np.float64), q))


def median(values) -> float:
    return float(statistics.median(values))
