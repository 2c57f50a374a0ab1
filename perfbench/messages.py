"""Seeded message generators for the streaming workloads.

Each generator returns a :class:`Batch`: the typed column values the sink
should end up holding (the oracle's side) and a ``render(i)`` that turns
row ``i`` into the JSON message the program receives (the producer's side).
Both come from the same numpy draws, so the load-generator process and the
oracle agree without exchanging anything but the seed.

Streams are numbered so one seed gives independent inputs for each part
of a run (the cold head, the backlog and the live messages).  Rows flagged ``malformed`` render as truncated JSON: the
pipeline must count them as parse errors and drop them (drop-but-ack).
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Callable

import numpy as np

from clickhouse_sinker_nali_spark import loadgen as L
from clickhouse_sinker_nali_spark.enrich import (
    GEO_BASE,
    GEO_BLOCK,
    GEO_BLOCKS,
    GEO_ISPS,
    GEO_LOCS,
    GEO_UNKNOWN,
    load_service_map,
)

KAFKA_DIMS = [
    {"name": "__kafka_partition", "type": "Int64"},
    {"name": "__kafka_offset", "type": "Int64"},
]

APACHE_DIMS = L.APACHE_LOG_DIMS + KAFKA_DIMS

NETFLOW_DIMS = [
    {"name": "ip_src", "type": "String"},
    {"name": "ip_dst", "type": "String"},
    {"name": "proto", "type": "LowCardinality(String)"},
    {"name": "port_src", "type": "Int32"},
    {"name": "port_dst", "type": "Int32"},
    {"name": "class", "type": "String"},
    {"name": "bytes", "type": "Int64"},
    {"name": "packets", "type": "Int64"},
    {"name": "stamp_inserted", "type": "DateTime"},
] + KAFKA_DIMS

APACHE_MALFORMED_SHARE = 0.01
NETFLOW_OUTSIDE_SHARE = 0.06  # IPs outside every geo range → 未知
NETFLOW_UNKNOWN_CLASS_SHARE = 0.30
_BASE_S = 1709251200  # 2024-03-01 00:00:00 UTC, the loadgen epoch


@dataclass
class Batch:
    """``n`` generated messages: typed expected columns + a renderer."""

    n: int
    columns: dict[str, np.ndarray]  # expected sink values, malformed rows included
    malformed: np.ndarray  # bool[n]
    render: Callable[[int], str] | None  # None for a concatenation of batches


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _pick(rng: np.random.Generator, pool: list[str], n: int) -> np.ndarray:
    return np.asarray(pool, dtype=object)[rng.integers(0, len(pool), n)]


def _fmt_seconds(secs: np.ndarray) -> np.ndarray:
    """Epoch seconds → 'yyyy-MM-dd HH:mm:ss' strings (UTC)."""
    dt = secs.astype("datetime64[s]").astype(str)
    return np.char.replace(dt, "T", " ").astype(object)


def apache_log(seed: int, stream: int, n: int) -> Batch:
    """The loadgen apache-access-log shape: 26 fields, ~750 B per message."""
    rng = _rng(seed, stream)
    coll_s = _BASE_S + rng.integers(0, 86400, n)
    ts_ms = (_BASE_S + rng.integers(0, 86400, n)) * 1000 + rng.integers(0, 1000, n)
    req_a = rng.integers(0, 1000, n)
    req_b = rng.integers(0, 17, n)
    request = np.array(
        [f"/api/v1/resource/{a}?page={b}" for a, b in zip(req_a, req_b)], dtype=object
    )
    nbytes = rng.integers(200, 90200, n)
    cols: dict[str, np.ndarray] = {
        "collectiontime": coll_s.astype("datetime64[s]").astype("datetime64[us]"),
        "hostname": _pick(rng, L._HOSTNAMES, n),
        "ip": _pick(rng, L._IPS, n),
        "path": np.array(
            [f"/var/log/app/access_{j}.log" for j in rng.integers(0, 50, n)],
            dtype=object,
        ),
        "lineno": rng.integers(0, 100000, n),
        "agent": np.full(n, L._AGENT, dtype=object),
        "auth": np.full(n, "RFC1413身份", dtype=object),
        "bytes": nbytes,
        "clientIp": _pick(rng, L._CLIENT_IPS, n),
        "device_family": _pick(rng, L._DEVICE_FAMILIES, n),
        "httpversion": _pick(rng, L._HTTP_VERSIONS, n),
        "ident": np.full(n, "-", dtype=object),
        "os_family": _pick(rng, L._OS_FAMILIES, n),
        "os_major": _pick(rng, L._OS_MAJORS, n),
        "os_minor": _pick(rng, L._OS_MINORS, n),
        "referrer": np.full(n, "-", dtype=object),
        "request": request,
        "requesttime": rng.integers(0, 5000, n).astype(np.float64),
        "response": _pick(rng, L._RESPONSES, n),
        "timestamp": ts_ms.astype("datetime64[ms]").astype("datetime64[us]"),
        "userAgent_family": _pick(rng, L._UA_FAMILIES, n),
        "userAgent_major": _pick(rng, L._UA_MAJORS, n),
        "userAgent_minor": _pick(rng, L._UA_MINORS, n),
        "verb": _pick(rng, L._VERBS, n),
        "xforwardfor": _pick(rng, L._CLIENT_IPS, n),
    }
    cols["message"] = np.array(
        [
            f'{c} - - [01/Mar/2024] "{v} {r} HTTP/{h}" {s} {b} "-" "{L._AGENT}"'
            for c, v, r, h, s, b in zip(
                cols["clientIp"], cols["verb"], request, cols["httpversion"],
                cols["response"], nbytes,
            )
        ],
        dtype=object,
    )
    malformed = rng.random(n) < APACHE_MALFORMED_SHARE
    coll_txt = _fmt_seconds(coll_s)
    ts_txt = np.char.add(
        _fmt_seconds(ts_ms // 1000).astype(str),
        np.char.add(".", np.char.zfill((ts_ms % 1000).astype(str), 3)),
    )
    # JSON keys in APACHE_LOG_DIMS order, source names where the DDL has them
    keys = [d.get("sourcename", d["name"]) for d in L.APACHE_LOG_DIMS]
    names = [d["name"] for d in L.APACHE_LOG_DIMS]
    text = {"collectiontime": coll_txt, "timestamp": ts_txt}
    numeric = {"lineno", "bytes", "requesttime"}

    def render(i: int) -> str:
        body = {}
        for k, name in zip(keys, names):
            v = text[name][i] if name in text else cols[name][i]
            body[k] = int(v) if name in numeric else v
        s = json.dumps(body)
        return s[: len(s) // 2] if malformed[i] else s

    return Batch(n, cols, malformed, render)


_SERVICE_PORTS = [80, 443, 53, 22, 25, 3306, 8080, 123, 6379, 5432, 110, 143]
_CLASSES = ["HTTP", "HTTPS", "DNS", "SSH", "MySQL", "TLS", "QUIC", "SMTP"]
_SRC_POOL = 4096
_ZIPF_S = 1.1


def _dotted(ip: np.ndarray) -> np.ndarray:
    return np.array(
        [f"{v >> 24}.{(v >> 16) & 255}.{(v >> 8) & 255}.{v & 255}" for v in ip.tolist()],
        dtype=object,
    )


def _draw_ips(rng: np.random.Generator, n: int, inside: np.ndarray) -> np.ndarray:
    """The addresses in ``inside``, with a fixed share replaced by
    addresses just past the last geo block."""
    span = GEO_BLOCKS * GEO_BLOCK
    outside = rng.random(n) < NETFLOW_OUTSIDE_SHARE
    spill = GEO_BASE + span + rng.integers(0, span // 16, n)
    return np.where(outside, spill, inside)


def geo_of(ip: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Expected (loc, isp) per IP from the GEO_* constants, the way
    ``operators.ingest.GEOIP_SQL`` derives them."""
    span = GEO_BLOCKS * GEO_BLOCK
    hit = (ip >= GEO_BASE) & (ip < GEO_BASE + span)
    block = np.where(hit, (ip - GEO_BASE) // GEO_BLOCK, 0)
    locs = np.asarray(GEO_LOCS, dtype=object)[block % len(GEO_LOCS)]
    isps = np.asarray(GEO_ISPS, dtype=object)[block % len(GEO_ISPS)]
    return np.where(hit, locs, GEO_UNKNOWN), np.where(hit, isps, GEO_UNKNOWN)


def expected_class(
    cls: np.ndarray, proto: np.ndarray, psrc: np.ndarray, pdst: np.ndarray
) -> np.ndarray:
    """``enrich.normalize_class`` semantics over ``load_service_map()``."""
    svc = load_service_map()
    out = []
    for c, p, s, d in zip(cls.tolist(), proto.tolist(), psrc.tolist(), pdst.tolist()):
        if c == "Unknown/Unknown":
            out.append(svc.get(f"{p}:{s}") or svc.get(f"{p}:{d}") or c)
        else:
            a, _, b = c.partition("/")
            out.append(b if b and a != b else c)
    return np.asarray(out, dtype=object)


def netflow(seed: int, stream: int, n: int) -> Batch:
    """pmacct-shaped flow records (~200 B) with a Zipf-skewed ``ip_src``."""
    rng = _rng(seed, stream)
    span = GEO_BLOCKS * GEO_BLOCK
    # the address pool is part of the workload, not of the seed: the hot
    # keys, and so the shard skew they cause, are the same in every run
    pool = GEO_BASE + np.random.default_rng(0).choice(span, _SRC_POOL, replace=False)
    weights = 1.0 / np.arange(1, _SRC_POOL + 1) ** _ZIPF_S
    src = _draw_ips(rng, n, pool[rng.choice(_SRC_POOL, n, p=weights / weights.sum())])
    dst = _draw_ips(rng, n, GEO_BASE + rng.integers(0, span, n))
    proto = np.where(rng.random(n) < 0.7, "tcp", "udp").astype(object)
    port_src = rng.integers(1024, 65536, n)
    port_dst = np.where(
        rng.random(n) < 0.7,
        np.asarray(_SERVICE_PORTS)[rng.integers(0, len(_SERVICE_PORTS), n)],
        rng.integers(1024, 65536, n),
    )
    a = np.asarray(_CLASSES, dtype=object)[rng.integers(0, len(_CLASSES), n)]
    b = np.asarray(_CLASSES, dtype=object)[rng.integers(0, len(_CLASSES), n)]
    kind = rng.random(n)
    raw_class = np.where(
        kind < NETFLOW_UNKNOWN_CLASS_SHARE,
        "Unknown/Unknown",
        np.where(kind < 0.65, a + "/" + a, a + "/" + b),
    ).astype(object)
    stamp_s = _BASE_S + rng.integers(0, 86400, n)
    nbytes = rng.integers(40, 1_500_000, n)
    packets = rng.integers(1, 1000, n)
    src_loc, src_isp = geo_of(src)
    dst_loc, dst_isp = geo_of(dst)
    ip_src, ip_dst = _dotted(src), _dotted(dst)
    cols = {
        "ip_src": ip_src,
        "ip_dst": ip_dst,
        "proto": proto,
        "port_src": port_src.astype(np.int32),
        "port_dst": port_dst.astype(np.int32),
        "class": expected_class(raw_class, proto, port_src, port_dst),
        "bytes": nbytes,
        "packets": packets,
        "stamp_inserted": stamp_s.astype("datetime64[s]").astype("datetime64[us]"),
        "src_loc": src_loc,
        "src_isp": src_isp,
        "dst_loc": dst_loc,
        "dst_isp": dst_isp,
    }
    stamp_txt = _fmt_seconds(stamp_s)

    def render(i: int) -> str:
        return (
            f'{{"ip_src": "{ip_src[i]}", "ip_dst": "{ip_dst[i]}", '
            f'"proto": "{proto[i]}", "port_src": {port_src[i]}, '
            f'"port_dst": {port_dst[i]}, "class": "{raw_class[i]}", '
            f'"bytes": {nbytes[i]}, "packets": {packets[i]}, '
            f'"stamp_inserted": "{stamp_txt[i]}"}}'
        )

    return Batch(n, cols, np.zeros(n, dtype=bool), render)


GENERATORS = {"apache_log": apache_log, "netflow_nali": netflow}
