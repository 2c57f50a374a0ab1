"""Streaming workloads: kafkasim → start_pipeline → streaming.sinks.

One run drives one long-running pipeline query, the way the sinker runs a
task, over one topic written by a separate producer process:

1. setup: ``get_spark``, then the query starts on a small pre-written
   head; ``setup_s`` ends when the sink write of that first (cold) epoch
   returns;
2. warm-up: the producer appends a backlog at once and the query catches
   up in epochs of ``maxOffsetsPerTrigger`` rows (unmeasured: per-epoch
   rates still climb through it as the JIT compiles);
3. live: the producer appends at a fixed rate for ``--seconds`` (open
   loop); each message's latency runs from its due time to the return of
   the sink write of the epoch holding its offset (epoch offset ranges
   from ``StreamingQueryProgress``);
4. drain: the producer appends a second backlog at once; throughput is
   the median over its epochs of rows / trigger time;
5. oracle (untimed): the sink is read back and checked against the
   generator's own typed values.

With tracing on, alternate epochs are traced (the gap to the others
is the tracing overhead), and the head of the drained topic is replayed as
a static DataFrame through cumulative prefixes of the pipeline; a layer's
self time is the difference between consecutive prefixes.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import subprocess
import sys
import time
from dataclasses import dataclass, replace
from datetime import datetime

import numpy as np

from perfbench import messages
from perfbench.common import Tracer, frame_hash, median, normalise, quantile

PARTS = 4
TOPIC = "stream"
TRIGGER_S = 1  # TaskConfig's minimum flush interval
TAIL_TIMEOUT_S = 60.0
READY_TIMEOUT_S = 120.0
REPLAY_REPEATS = 3
# the replay reads this many messages from the head of the topic: enough
# for stable differences, few enough that a traced run stays well inside
# its time limit (the geo join alone runs near 30k rows/s on 4 cores)
REPLAY_MESSAGES = 1 << 15
# a run whose producer fell this far behind its schedule measured the
# host, not the pipeline: it is reported invalid instead of slow
LATE_P90_LIMIT_MS = 100.0
LATE_MAX_LIMIT_MS = 1000.0


@dataclass(frozen=True)
class StreamSpec:
    dims: list
    cold: int  # messages in the first epoch
    buffer_size: int  # maxOffsetsPerTrigger, a power of two
    backlog_epochs: int  # each of the two backlogs holds this many full epochs
    # live messages/s, about a quarter of the drain rate on a 4-core host.
    # Every epoch pays ~1 s of fixed cost, so epochs run back to back and
    # each holds what arrived during the last; at half the drain rate a
    # slower epoch holds more rows and slows the next, and latency swung
    # by 40% between runs with the host's load.
    rate: float
    shards: int = 1
    sharding_policy: str = ""
    sharding_key: str = ""
    enrich: bool = False

    @property
    def backlog(self) -> int:
        return self.buffer_size * self.backlog_epochs


SPECS = {
    "apache_log": StreamSpec(
        dims=messages.APACHE_DIMS,
        cold=2048,
        buffer_size=1 << 13,
        backlog_epochs=4,
        rate=2000,
    ),
    "netflow_nali": StreamSpec(
        dims=messages.NETFLOW_DIMS,
        cold=2048,
        buffer_size=1 << 14,
        backlog_epochs=4,
        rate=2400,
        shards=4,
        sharding_policy="hash",
        sharding_key="ip_src",
        enrich=True,
    ),
}


def smoke(spec: StreamSpec) -> StreamSpec:
    """Seconds-long size of a workload for the benchmark's own tests."""
    return replace(spec, cold=256, buffer_size=512, backlog_epochs=2, rate=500)


# ---------------------------------------------------------------- sinks


class TimedSink:
    """Wraps the sink object's ``write``: records when each epoch's write
    returned (the latency end point) and, for traced epochs, a span."""

    def __init__(self, inner, tracer: Tracer) -> None:
        self.inner = inner
        self.tracer = tracer
        self.returned: dict[int, float] = {}

    def traced(self, epoch_id: int) -> bool:
        # odd epochs only, so the untraced even ones measure the overhead
        return self.tracer.enabled and epoch_id % 2 == 1

    def write(self, df, epoch_id: int) -> None:
        tracer = self.tracer if self.traced(epoch_id) else Tracer(enabled=False)
        with tracer.span("sinks.write", parent=f"epoch{epoch_id}"):
            self.inner.write(df, epoch_id)
        self.returned[epoch_id] = time.time()


def with_ip_longs(df):
    from clickhouse_sinker_nali_spark.enrich import ipv4_to_long
    from pyspark.sql import functions as F

    return df.withColumn("__src_ip", ipv4_to_long(F.col("ip_src"))).withColumn(
        "__dst_ip", ipv4_to_long(F.col("ip_dst"))
    )


def geo_step(df, geo):
    """The geo half of :class:`EnrichingSink` on a static DataFrame."""
    from clickhouse_sinker_nali_spark.enrich import enrich_ips

    out = enrich_ips(with_ip_longs(df), geo, "__src_ip", out_prefix="src_")
    return enrich_ips(out, geo, "__dst_ip", out_prefix="dst_")


def service_step(df, spark):
    from clickhouse_sinker_nali_spark.enrich import join_service_map, normalize_class
    from pyspark.sql import functions as F

    out = join_service_map(df, spark)
    return out.withColumn(
        "class",
        normalize_class(F.col("class"), F.col("src_service"), F.col("dst_service")),
    ).drop("src_service", "dst_service", "__src_ip", "__dst_ip")


class EnrichingSink:
    """The nali path inside foreachBatch: ``ipv4_to_long`` on both IPs, each
    through ``refresh.geo_enriched_batch_writer`` (the geo interval join
    against the refresher's current table), then the serviceMap class
    rewrite, then the sink."""

    def __init__(self, spark, inner) -> None:
        from clickhouse_sinker_nali_spark.enrich import build_geo_ranges
        from clickhouse_sinker_nali_spark.streaming.refresh import (
            GeoDbRefresher,
            geo_enriched_batch_writer,
        )

        refresher = GeoDbRefresher(load=lambda: build_geo_ranges(spark))

        def classify(df, epoch_id: int) -> None:
            inner.write(service_step(df, spark), epoch_id)

        dst = geo_enriched_batch_writer(refresher, "__dst_ip", classify, out_prefix="dst_")
        self._write = geo_enriched_batch_writer(refresher, "__src_ip", dst, out_prefix="src_")

    def write(self, df, epoch_id: int) -> None:
        self._write(with_ip_longs(df), epoch_id)


def parquet_sink(spec: StreamSpec, path: str):
    from clickhouse_sinker_nali_spark.streaming.sinks import ParquetSink

    return ParquetSink(
        path=path,
        shards=spec.shards,
        sharding_policy=spec.sharding_policy,
        sharding_key=spec.sharding_key,
    )


# ---------------------------------------------------------------- queries


def task_config(spec: StreamSpec, name: str, root: str):
    from clickhouse_sinker_nali_spark.streaming.pipeline import TaskConfig

    return TaskConfig(
        name=name,
        topic=TOPIC,
        table=name,
        dims=spec.dims,
        flush_interval_s=TRIGGER_S,
        buffer_size=spec.buffer_size,
        kafka_options={"path": root, "parallel": "true"},
    )


def kafka_source(spark, spec: StreamSpec, name: str, root: str):
    from clickhouse_sinker_nali_spark.streaming.pipeline import build_kafka_source

    cfg = task_config(spec, name, root)
    return cfg, build_kafka_source(spark, cfg, "localhost:9092", fmt="kafkasim")


def progress_of(query) -> list[dict]:
    out = []
    for p in query.recentProgress:
        d = json.loads(p.json)
        for s in d.get("sources") or []:
            for k in ("startOffset", "endOffset"):
                if isinstance(s.get(k), str):
                    s[k] = json.loads(s[k])
        out.append(d)
    return out


def offsets_sum(off) -> int:
    return sum(int(v) for v in (off or {}).values())


def consumed(progress: list[dict]) -> int:
    return max((offsets_sum(p["sources"][0]["endOffset"]) for p in progress), default=0)


def observed_sum(progress: list[dict], key: str) -> int:
    return sum(
        int((p.get("observedMetrics") or {}).get("sinker_metrics", {}).get(key) or 0)
        for p in progress
    )


def epoch_rate(p: dict) -> float:
    return p["numInputRows"] / (p["durationMs"]["triggerExecution"] / 1000.0)


def _ts(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


# ---------------------------------------------------------------- oracle


def stream_batch(workload: str, seed: int, spec: StreamSpec, n_live: int) -> messages.Batch:
    """The whole topic as the producer wrote it (see producer.STREAM):
    cold head, first backlog, live, second backlog."""
    gen = messages.GENERATORS[workload]
    parts = [gen(seed, 1, spec.cold), gen(seed, 2, spec.backlog), gen(seed, 3, n_live),
             gen(seed, 4, spec.backlog)]
    cols = {k: np.concatenate([b.columns[k] for b in parts]) for k in parts[0].columns}
    bad = np.concatenate([b.malformed for b in parts])
    return messages.Batch(bad.size, cols, bad, None)


def expected_rows(batch: messages.Batch) -> dict[str, np.ndarray]:
    keep = ~batch.malformed
    idx = np.nonzero(keep)[0]
    cols = {c: normalise(v[keep]) for c, v in batch.columns.items()}
    cols["__kafka_partition"] = (idx % PARTS).astype(np.int64)
    cols["__kafka_offset"] = (idx // PARTS).astype(np.int64)
    return cols


def expected_shards(ip_src: np.ndarray, shards: int) -> np.ndarray:
    """``functions.shard_hash``: top 60 bits of md5(key) mod shards."""
    return np.array(
        [int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % shards for s in ip_src],
        dtype=np.int64,
    )


def read_sink(path: str) -> dict[str, np.ndarray]:
    """A ParquetSink directory as columns, ``__shard`` from its partition
    directory names."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tables = []
    for f in sorted(glob.glob(os.path.join(path, "__shard=*", "*.parquet"))):
        t = pq.read_table(f)
        shard = int(os.path.basename(os.path.dirname(f)).split("=", 1)[1])
        tables.append(t.append_column("__shard", pa.array(np.full(t.num_rows, shard))))
    if not tables:
        return {}
    table = pa.concat_tables(tables)
    return {
        name: normalise(table[name].to_numpy(zero_copy_only=False))
        for name in table.column_names
    }


def check_sink(got: dict, batch: messages.Batch, spec: StreamSpec) -> tuple[int, list[str]]:
    """Failed-message count and problems for the sink against the
    generator: lost, duplicated or wrong rows, shard routing, table hash."""
    want = expected_rows(batch)
    got = dict(got)
    shard = got.pop("__shard", None)
    if sorted(got) != sorted(want):
        return batch.n, [f"columns {sorted(got)} != {sorted(want)}"]
    key_got = got["__kafka_partition"] + got["__kafka_offset"] * PARTS
    key_want = want["__kafka_partition"] + want["__kafka_offset"] * PARTS
    uniq, counts = np.unique(key_got, return_counts=True)
    dup = int((counts - 1).sum())
    lost = int(np.setdiff1d(key_want, uniq).size)
    extra = int(np.setdiff1d(uniq, key_want).size)
    failed, problems = dup + lost + extra, []
    if failed:
        problems.append(f"lost {lost}, duplicated {dup}, unexpected {extra}")
    if frame_hash(got) != frame_hash(want):
        # count the wrong rows: align both sides on (partition, offset)
        w_pos = {k: i for i, k in enumerate(key_want.tolist())}
        wrong = 0
        for gi, k in enumerate(key_got.tolist()):
            wi = w_pos.get(k)
            if wi is not None and any(got[c][gi] != want[c][wi] for c in batch.columns):
                wrong += 1
        failed += wrong
        problems.append(f"value hash mismatch ({wrong} wrong rows)")
    if spec.sharding_policy == "hash":
        w_shard = expected_shards(batch.columns["ip_src"][~batch.malformed], spec.shards)
        g_hist = np.bincount(shard, minlength=spec.shards)
        w_hist = np.bincount(w_shard, minlength=spec.shards)
        if not np.array_equal(g_hist, w_hist):
            failed += int(np.abs(g_hist - w_hist).sum())
            problems.append(f"shard rows {g_hist.tolist()} != {w_hist.tolist()}")
    return failed, problems


def check_counters(progress: list[dict], batch: messages.Batch) -> tuple[int, list[str]]:
    """``statistics.observed_metrics`` totals against produced/errored."""
    bad = int(batch.malformed.sum())
    want = {
        "rows_total": batch.n,
        "parse_errors_total": bad,
        "flush_rows_total": batch.n - bad,
    }
    failed, problems = 0, []
    for key, n in want.items():
        got = observed_sum(progress, key)
        if got != n:
            failed += abs(got - n)
            problems.append(f"{key} {got} != {n}")
    return failed, problems


# ---------------------------------------------------------------- producer


def start_producer(workload: str, spec: StreamSpec, seed: int, root: str, seconds: float):
    os.makedirs(root, exist_ok=True)
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(root, "producer.log"), "w") as log:
        return subprocess.Popen(
            [
                sys.executable,
                os.path.join(here, "producer.py"),
                "--workload", workload,
                "--seed", str(seed),
                "--root", root,
                "--cold", str(spec.cold),
                "--backlog", str(spec.backlog),
                "--rate", str(spec.rate),
                "--seconds", str(seconds),
                "--parts", str(PARTS),
            ],
            stdout=log,
            stderr=subprocess.STDOUT,
        )


def wait_for(path: str, proc, timeout: float) -> None:
    deadline = time.time() + timeout
    while not os.path.exists(path):
        if proc.poll() is not None:
            raise RuntimeError(f"producer exited with {proc.returncode}")
        if time.time() > deadline:
            raise RuntimeError(f"producer not ready after {timeout}s")
        time.sleep(0.02)


def stop_producer(proc) -> None:
    if proc.poll() is None:
        proc.terminate()
        try:
            proc.wait(10)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------- the run


def live_latency(live: list[dict], timed: TimedSink, batch, first: int, t0: float,
                 rate: float) -> np.ndarray:
    """Per-message latency (s): due time to the sink-write return of the
    epoch holding the message's offset.  Malformed messages never reach
    the sink and are left out."""
    lat = []
    for p in live:
        src, ret = p["sources"][0], timed.returned[p["batchId"]]
        start = src.get("startOffset") or {}
        for part, hi in src["endOffset"].items():
            g = np.arange(int(start.get(part, 0)), int(hi)) * PARTS + int(part)
            g = g[~batch.malformed[g]]
            lat.append(ret - (t0 + (g - first) / rate))
    return np.concatenate(lat) if lat else np.zeros(0)


def wait_consumed(q, target: int, deadline: float) -> list[dict]:
    while True:
        if q.exception() is not None:
            raise RuntimeError(f"pipeline query failed: {q.exception()}")
        progress = progress_of(q)
        if consumed(progress) >= target:
            return progress
        if time.time() > deadline:
            raise RuntimeError(f"pipeline consumed {consumed(progress)} of {target}")
        time.sleep(0.05)


def run(spark_factory, workload: str, seed: int, seconds: float, work: str,
        trace: bool, size: str, rss, t_proc0: float) -> dict:
    spec = SPECS[workload] if size == "full" else smoke(SPECS[workload])
    root = os.path.join(work, "topics")
    proc = start_producer(workload, spec, seed, root, seconds)
    rss.exclude.add(proc.pid)
    try:
        return _run(spark_factory, workload, spec, seed, seconds, work,
                    Tracer(enabled=trace), proc, root, t_proc0)
    finally:
        stop_producer(proc)


def _run(spark_factory, workload, spec, seed, seconds, work, tracer, proc, root, t_proc0):
    from clickhouse_sinker_nali_spark.sources.datasources import register_all
    from clickhouse_sinker_nali_spark.streaming.pipeline import start_pipeline

    t = time.time()
    spark = spark_factory()
    session_start_s = time.time() - t
    register_all(spark)
    out = os.path.join(work, "sink")
    timed = TimedSink(parquet_sink(spec, out), tracer)
    sink = EnrichingSink(spark, timed) if spec.enrich else timed
    wait_for(os.path.join(root, "ready"), proc, READY_TIMEOUT_S)

    def signal(name: str, text: str) -> None:
        with open(os.path.join(root, name + ".tmp"), "w") as f:
            f.write(text)
        os.replace(os.path.join(root, name + ".tmp"), os.path.join(root, name))

    cfg, src = kafka_source(spark, spec, workload, root)
    q = start_pipeline(spark, cfg, src, sink, os.path.join(work, "checkpoints"))
    first_live = spec.cold + spec.backlog
    n_live = int(spec.rate * seconds)
    first_drain = first_live + n_live
    try:
        # 1. the cold epoch, 2. warm-up on the first backlog
        wait_consumed(q, spec.cold, time.time() + 150)
        signal("warm", "1")
        warmed = wait_consumed(q, first_live, time.time() + 150)
        # 3. live, open loop
        t0 = time.time() + 0.3
        signal("go", repr(t0))
        wait_consumed(q, first_drain, t0 + seconds + TAIL_TIMEOUT_S)
        # 4. the measured drain of the second backlog
        signal("drain", "1")
        progress = wait_consumed(q, first_drain + spec.backlog, time.time() + 150)
    finally:
        q.stop()
    proc.wait(30)
    with open(os.path.join(root, "health.json")) as f:
        health = json.load(f)

    busy = [p for p in progress if p.get("numInputRows")]
    start = lambda p: offsets_sum(p["sources"][0].get("startOffset"))  # noqa: E731
    end = lambda p: offsets_sum(p["sources"][0]["endOffset"])  # noqa: E731
    warm = [p for p in busy if start(p) >= spec.cold and end(p) <= first_live]
    live = [p for p in busy if start(p) >= first_live and end(p) <= first_drain]
    measured = [p for p in busy if start(p) >= first_drain]
    setup_s = timed.returned[busy[0]["batchId"]] - t_proc0
    drain_rate = median([epoch_rate(p) for p in measured])
    batch = stream_batch(workload, seed, spec, n_live)
    lat = live_latency(live, timed, batch, first_live, t0, spec.rate)

    # 4. oracle, outside every timed window
    sunk = read_sink(out)
    f1, p1 = check_sink(sunk, batch, spec)
    f2, p2 = check_counters(progress, batch)
    valid = (
        health["late_p90_ms"] <= LATE_P90_LIMIT_MS
        and health["late_max_ms"] <= LATE_MAX_LIMIT_MS
    )
    result = {
        "attempted": batch.n,
        "failed": f1 + f2,
        "problems": p1 + p2,
        "valid": valid,
        "tracer": tracer,
        "end_to_end": {
            "throughput_per_s": drain_rate,
            "latency_p50_ms": quantile(lat, 0.5) * 1000.0,
            "latency_p90_ms": quantile(lat, 0.9) * 1000.0,
            "setup_s": setup_s,
        },
        "notes": {
            "drain_rows_per_s": drain_rate,
            "drain_epochs": len(measured),
            "epoch_rates_warm_drain": [
                [round(epoch_rate(p)) for p in warm], [round(epoch_rate(p)) for p in measured]
            ],
            "live_epoch_ms": [p["durationMs"]["triggerExecution"] for p in live],
            "live_epoch_rows": [p["numInputRows"] for p in live],
            "latency_messages": int(lat.size),
            "latency_epochs": len(live),
            "live_rate_per_s": spec.rate,
            "generator_late_p90_ms": health["late_p90_ms"],
            "generator_late_max_ms": health["late_max_ms"],
            "valid": valid,
            "elapsed_s": round(time.time() - t_proc0, 2),
        },
    }
    if tracer.enabled:
        result["layers"] = layers(
            spark, spec, work, root, tracer, timed, measured, live, warmed, sunk, t0,
            session_start_s, health,
        )
    return result


# ---------------------------------------------------------------- layers


def _noop(df) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def _timed(fn) -> float:
    return median([fn() for _ in range(REPLAY_REPEATS)])


def _dir_stats(path: str) -> tuple[int, int]:
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return len(files), sum(os.path.getsize(f) for f in files)


def capture_head(root: str, n: int, out: str) -> str:
    """The topic's first ``n`` messages, all from the cold head and the
    first backlog, as a parquet file with the kafkasim source's schema:
    the static input of the replay."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows: dict[str, list] = {"value": [], "partition": [], "offset": [], "timestamp": []}
    for part in range(PARTS):
        with open(os.path.join(root, TOPIC, f"partition-{part}.jsonl"), "rb") as f:
            for off, line in enumerate(f):
                if off * PARTS + part >= n:
                    break
                d = json.loads(line)
                rows["value"].append(d["value"].encode())
                rows["partition"].append(part)
                rows["offset"].append(off)
                rows["timestamp"].append(datetime.fromisoformat(d["ts"]))
    k = len(rows["value"])
    pq.write_table(pa.table({
        "key": pa.nulls(k, pa.binary()),
        "value": pa.array(rows["value"], pa.binary()),
        "topic": pa.array([TOPIC] * k, pa.string()),
        "partition": pa.array(rows["partition"], pa.int32()),
        "offset": pa.array(rows["offset"], pa.int64()),
        "timestamp": pa.array(rows["timestamp"], pa.timestamp("us")),
        "timestampType": pa.array([0] * k, pa.int32()),
    }), out)
    return out


def layers(spark, spec, work, root, tracer, timed, measured, live, warmed, sunk, t0,
           session_start_s, health) -> dict:
    from clickhouse_sinker_nali_spark.parsers import with_parse_errors
    from clickhouse_sinker_nali_spark.streaming.pipeline import transform
    from pyspark.sql import functions as F

    # source-only drain of the whole topic: the source's own time
    cfg, src = kafka_source(spark, spec, "src_only", root)
    with tracer.span("sources.drain"):
        q = (src.writeStream.format("noop").trigger(availableNow=True)
             .option("checkpointLocation", os.path.join(work, "checkpoints", "src_only"))
             .start())
        q.awaitTermination()
    src_progress = progress_of(q)
    raw = capture_head(root, min(REPLAY_MESSAGES, spec.cold + spec.backlog),
                       os.path.join(work, "raw.parquet"))

    base = spark.read.parquet(raw).withColumn("value", F.col("value").cast("string"))
    probed = with_parse_errors(base).filter(~F.col("__parse_error"))
    typed = transform(probed, cfg)
    prefixes = {"source": base, "probe": probed, "parse": typed}
    if spec.enrich:
        from clickhouse_sinker_nali_spark.enrich import build_geo_ranges

        prefixes["geo"] = geo_step(typed, build_geo_ranges(spark))
        prefixes["service"] = service_step(prefixes["geo"], spark)
    times = {}
    for name, df in prefixes.items():
        with tracer.span(f"replay.{name}"):
            times[name] = _timed(lambda df=df: _noop(df))
    last = list(prefixes.values())[-1]
    runs = iter(range(REPLAY_REPEATS))

    def sink_once() -> float:
        sink = parquet_sink(spec, os.path.join(work, f"replay-sink-{next(runs)}"))
        t = time.perf_counter()
        sink.write(last, 0)
        return time.perf_counter() - t

    with tracer.span("replay.sink"):
        times["sink"] = _timed(sink_once)

    out: dict[str, float] = {"session.start_s": session_start_s}
    out["sources.read_s"] = sum(p["durationMs"].get("addBatch", 0) for p in src_progress) / 1000.0
    out["sources.rows"] = float(sum(p["numInputRows"] for p in src_progress))
    out["sources.latest_offset_ms"] = median([p["durationMs"].get("latestOffset", 0) for p in live])
    def produced(t: float) -> float:
        return spec.cold + spec.backlog + min(max(0.0, t - t0) * spec.rate, health["produced"])

    out["sources.lag_rows_max"] = max(
        produced(_ts(p["timestamp"])) - offsets_sum(p["sources"][0].get("startOffset"))
        for p in live
    )
    out["parsers.probe_s"] = times["probe"] - times["source"]
    out["parsers.parse_s"] = times["parse"] - times["probe"]
    out["parsers.parse_errors"] = float(observed_sum(warmed, "parse_errors_total"))
    out["parsers.rows_out"] = float(typed.count())
    if spec.enrich:
        from clickhouse_sinker_nali_spark.enrich import join_service_map, normalize_class

        out["enrich.geo_s"] = times["geo"] - times["parse"]
        out["enrich.service_s"] = times["service"] - times["geo"]
        hits = np.concatenate([sunk["src_loc"], sunk["dst_loc"]])
        out["enrich.geo_hit_ratio"] = float(np.mean(hits != messages.GEO_UNKNOWN))
        svc = join_service_map(typed, spark)
        out["enrich.class_rewritten"] = float(svc.filter(
            normalize_class(F.col("class"), F.col("src_service"), F.col("dst_service"))
            != F.col("class")).count())
    else:
        for k in ("geo_s", "service_s", "geo_hit_ratio", "class_rewritten"):
            out[f"enrich.{k}"] = 0.0
    traced = [p for p in measured if timed.traced(p["batchId"])]
    untraced = [p for p in measured if not timed.traced(p["batchId"])]
    out["sinks.write_s"] = median([
        s["end"] - s["start"] for s in tracer.spans if s["name"] == "sinks.write"])
    out["sinks.self_s"] = times["sink"] - times[list(prefixes)[-1]]
    out["sinks.files"], out["sinks.bytes"] = map(float, _dir_stats(os.path.join(work, "sink")))
    hist = np.bincount(sunk["__shard"], minlength=spec.shards)
    out["sinks.shard_skew"] = float(hist.max() / hist.mean())
    out["pipeline.epochs"] = float(len(live))
    dur = lambda key: median([p["durationMs"].get(key, 0) for p in live])  # noqa: E731
    out["pipeline.planning_ms"] = dur("queryPlanning")
    out["pipeline.commit_ms"] = median([
        p["durationMs"].get("walCommit", 0) + p["durationMs"].get("commitOffsets", 0)
        for p in live])
    out["pipeline.trigger_ms"] = dur("triggerExecution")
    out["generator.late_p90_ms"] = health["late_p90_ms"]
    out["generator.late_max_ms"] = health["late_max_ms"]
    out["trace.overhead_share"] = 1.0 - (
        median([epoch_rate(p) for p in traced]) / median([epoch_rate(p) for p in untraced])
    )
    tracer.counters.update(out)
    return out
