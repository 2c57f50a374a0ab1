"""Open-loop load generator: writes one kafkasim topic for one run.

Runs as its own process, separate from the Spark driver it feeds.  It

1. writes a small ``--cold`` head, the first epoch the pipeline sees,
   pre-renders everything else and signals ``ready``;
2. on a ``warm`` file, appends a ``--backlog`` of messages at once: the
   pipeline's first epoch is never admission-capped, so a backlog it
   drains in capped epochs must arrive after that epoch;
3. on a ``go`` file holding the start time ``t0``, appends live message
   ``i`` when it falls due at ``t0 + i / rate``, whatever the pipeline is
   doing (open loop), then writes ``health.json``: how late the appends
   ran against the schedule;
4. on a ``drain`` file, appends a second backlog at once.

Message ``g`` of the topic (cold, first backlog, live, second backlog)
goes to partition
``g % parts`` at offset ``g // parts`` and carries its creation time in
``ts``; for live messages that is the due time, so latency measured from
it includes any stall of the generator itself.

Usage: python3 perfbench/producer.py --workload W --seed N --root DIR
       --cold N --backlog N --rate R --seconds S [--parts 4]

Each signal file lives in ``--root``; the producer gives up after 170 s
without one.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from datetime import datetime, timezone

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.messages import GENERATORS  # noqa: E402

TICK_S = 0.005
GO_TIMEOUT_S = 170.0
TOPIC = "stream"
# generator stream ids, see messages.py
STREAM = {"cold": 1, "warm": 2, "live": 3, "drain": 4}


def iso(t: float) -> str:
    return datetime.fromtimestamp(t, timezone.utc).replace(tzinfo=None).isoformat(
        timespec="microseconds"
    )


def line(ts: str, escaped_value: str) -> str:
    return f'{{"ts": "{ts}", "value": {escaped_value}}}\n'


def atomic_write(path: str, text: str) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def wait_file(path: str) -> str | None:
    deadline = time.time() + GO_TIMEOUT_S
    while not os.path.exists(path):
        if time.time() > deadline:
            return None
        time.sleep(0.005)
    with open(path) as f:
        return f.read()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--root", required=True)
    ap.add_argument("--cold", type=int, required=True)
    ap.add_argument("--backlog", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--parts", type=int, default=4)
    a = ap.parse_args()
    gen = GENERATORS[a.workload]

    if a.cold % a.parts or a.backlog % a.parts:
        raise SystemExit("--cold and --backlog must be multiples of --parts")
    topic_dir = os.path.join(a.root, TOPIC)
    os.makedirs(topic_dir, exist_ok=True)
    files = [
        open(os.path.join(topic_dir, f"partition-{p}.jsonl"), "w") for p in range(a.parts)
    ]

    def append(values: list[str], first: int) -> None:
        ts = iso(time.time())
        chunks: list[list[str]] = [[] for _ in files]
        for g, v in enumerate(values, start=first):
            chunks[g % a.parts].append(line(ts, v))
        for f, chunk in zip(files, chunks):
            f.write("".join(chunk))
            f.flush()

    def rendered(stream: str, n: int) -> list[str]:
        b = gen(a.seed, STREAM[stream], n)
        return [json.dumps(b.render(i)) for i in range(n)]

    append(rendered("cold", a.cold), 0)
    warm = rendered("warm", a.backlog)
    n_live = int(a.rate * a.seconds)
    escaped = rendered("live", n_live)
    drain = rendered("drain", a.backlog)
    atomic_write(os.path.join(a.root, "ready"), "1")

    if wait_file(os.path.join(a.root, "warm")) is None:
        return 2
    append(warm, a.cold)
    go = wait_file(os.path.join(a.root, "go"))
    if go is None:
        return 2
    t0 = float(go)
    first_live = a.cold + a.backlog
    late = np.zeros(n_live)
    due = t0 + np.arange(n_live) / a.rate
    sent = 0
    while sent < n_live:
        now = time.time()
        k = min(n_live, int((now - t0) * a.rate) + 1) if now >= t0 else 0
        if k > sent:
            for i in range(sent, k):
                files[(first_live + i) % a.parts].write(line(iso(due[i]), escaped[i]))
            for f in files:
                f.flush()
            late[sent:k] = time.time() - due[sent:k]
            sent = k
        nxt = t0 + sent / a.rate
        time.sleep(max(0.0, min(TICK_S, nxt - time.time())))
    late_ms = np.maximum(late, 0.0) * 1000.0
    atomic_write(
        os.path.join(a.root, "health.json"),
        json.dumps(
            {
                "produced": n_live,
                "t0": t0,
                "rate": a.rate,
                "late_p50_ms": float(np.percentile(late_ms, 50)) if n_live else 0.0,
                "late_p90_ms": float(np.percentile(late_ms, 90)) if n_live else 0.0,
                "late_max_ms": float(late_ms.max()) if n_live else 0.0,
            }
        ),
    )

    if wait_file(os.path.join(a.root, "drain")) is None:
        return 2
    append(drain, first_live + n_live)
    for f in files:
        f.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
