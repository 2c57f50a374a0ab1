"""The operator query mix: a closed loop over eleven registered queries.

Inputs are tables in the shape the registered queries read (TPC-H-ish
star schema, ``events``, ``documents``, ``embeddings``), generated from the
seed into the run's work directory.  One run:

1. setup: generate the tables, ``get_spark``, then the cold pass;
   ``setup_s`` ends at the cold pass's first query result;
2. warm passes, one query at a time with Spark's caches cleared between
   queries, until ``--seconds`` have elapsed (at least one pass);
3. oracle (untimed): every result of every pass is value-hashed against
   ``__spark_entry__.oracle_sql()`` run by DuckDB on the same files, with
   ``scripts/check_oracle.py``'s canonicalisation.
"""

from __future__ import annotations

import importlib.util
import os
import time

import numpy as np

from perfbench.common import Tracer, median, quantile

QUERIES = [
    "q1_pricing_summary",
    "q5_star_join",
    "window_user_events",
    "asof_join_events_orders",
    "dedup_minhash_lsh",
    "ann_ivf_topk",
    "tfidf_top_terms",
    "curation_pipeline",
    "doc_pagerank",
    "bpe_encode",
    "geoip_enrich",
]

# rows per table: "full" matches the sf0.01 test data, "smoke" sf0.001
SIZES = {
    "full": {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
             "events": 10000, "users": 150, "documents": 500, "embeddings": 500},
    "smoke": {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
              "events": 1000, "users": 15, "documents": 200, "embeddings": 200},
}

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group big "
    "sort query fast the"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["small", "red", "blue", "green", "large", "shiny", "plain", "steel"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "nut", "pipe", "valve", "spring"]
_PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_DUP_SHARE = 0.05  # near-duplicate documents for the dedup and graph queries


def generate_tables(out: str, seed: int, size: str) -> None:
    """Write the query-mix parquet tables for ``seed`` into ``out``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = SIZES[size]
    rng = np.random.default_rng([seed, 100])
    os.makedirs(out, exist_ok=True)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    def pick(pool, k, p=None):
        return np.asarray(pool, dtype=object)[rng.choice(len(pool), k, p=p)]

    def money(lo, hi, k):
        return np.round(rng.uniform(lo, hi, k), 2)

    write("region", {"r_regionkey": pa.array(np.arange(5), pa.int32()),
                     "r_name": _REGIONS})
    write("nation", {"n_nationkey": pa.array(np.arange(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    nc, ns, npart, no = n["customer"], n["supplier"], n["part"], n["orders"]
    write("customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, nc),
        "c_mktsegment": pick(_SEGMENTS, nc),
    })
    write("supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, ns),
    })
    retail = 900.0 + (np.arange(npart) % 1000) / 10.0
    write("part", {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(pick(_PART_ADJ, npart), pick(_PART_NOUN, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": pick(_PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": retail,
    })
    day = np.timedelta64(1, "D")
    odate = np.datetime64("1995-01-01") + rng.integers(0, 2400, no) * day
    lines = rng.integers(1, 8, no)
    okey = np.repeat(np.arange(no, dtype=np.int64), lines)
    nl = okey.size
    lpart = rng.integers(0, npart, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ext = np.round(qty * retail[lpart], 2)
    write("orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": pick(["F", "O", "P"], no),
        "o_totalprice": money(1000.0, 500000.0, no),
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": pick(_PRIORITIES, no),
    })
    write("lineitem", {
        "l_orderkey": okey,
        "l_partkey": lpart.astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": ext,
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], nl),
        "l_linestatus": pick(["F", "O"], nl),
        "l_shipdate": (np.repeat(odate, lines) + rng.integers(1, 122, nl) * day).astype("datetime64[us]"),
    })
    ne = n["events"]
    ts = np.datetime64("2024-01-01", "us") + np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    write("events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n["users"], ne),
        "event_type": pick(_EVENT_TYPES, ne),
        "value": np.round(rng.exponential(40.0, ne) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts = []
    for i in range(nd):
        if texts and rng.random() < _DUP_SHARE:
            texts.append(texts[rng.integers(0, len(texts))] + " dup")
        else:
            texts.append(" ".join(pick(_WORDS, int(rng.integers(10, 100)))))
    write("documents", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": pick(_LANGS, nd, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 0.14, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.125, (nv, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def _check_oracle_module(root: str):
    """``scripts/check_oracle.py``: canon, pandas_rows, value_hash, TABLES."""
    path = os.path.join(root, "scripts", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_hashes(root: str, sf_dir: str) -> dict[str, tuple[int, str]]:
    """(rows, value hash) of every mix query's DuckDB oracle."""
    import duckdb

    import __spark_entry__ as entry

    co = _check_oracle_module(root)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in co.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    sql = entry.oracle_sql()
    out = {}
    for name in QUERIES:
        cols, rows = co.pandas_rows(con.execute(sql[name]).fetchdf())
        out[name] = (len(rows), co.value_hash(cols, rows))
    con.close()
    return out


def run(spark_factory, root: str, seed: int, seconds: float, work: str, trace: bool,
        size: str, rss, t_proc0: float) -> dict:
    import __spark_entry__ as entry

    co = _check_oracle_module(root)
    sf_dir = os.path.join(work, "sf")
    generate_tables(sf_dir, seed, size)
    t = time.perf_counter()
    spark = spark_factory()
    session_start_s = time.perf_counter() - t
    fns = entry._all_queries()
    tracer = Tracer(enabled=trace)

    # (query, pass, (rows, value hash) or None when the query failed)
    results: list[tuple[str, int, tuple[int, str] | None]] = []
    errors: list[str] = []
    first_result: list[float] = []  # wall clock of the cold pass's first result

    def one_pass(k: int, tr: Tracer) -> dict[str, float]:
        times = {}
        for name in QUERIES:
            module = fns[name].__module__.rsplit(".", 1)[-1]
            with tr.span(f"operators.{module}.{name}", parent=f"pass{k}"):
                t = time.perf_counter()
                try:
                    pdf = fns[name](spark, sf_dir).toPandas()
                except Exception as e:  # a failing query is counted, not fatal
                    pdf = None
                    errors.append(f"{name}: {type(e).__name__}: {e}")
                times[name] = time.perf_counter() - t
            if not first_result:
                first_result.append(time.time())
            spark.catalog.clearCache()
            got = None
            if pdf is not None:
                cols, rows = co.pandas_rows(pdf)
                got = (len(rows), co.value_hash(cols, rows))
            results.append((name, k, got))
        return times

    one_pass(0, Tracer(enabled=False))  # cold
    passes: list[tuple[float, dict, bool]] = []  # (wall, per-query times, traced)
    t_warm = time.perf_counter()
    while not passes or time.perf_counter() - t_warm < seconds or (trace and len(passes) < 2):
        traced = trace and len(passes) % 2 == 0
        t = time.perf_counter()
        times = one_pass(len(passes) + 1, tracer if traced else Tracer(enabled=False))
        passes.append((time.perf_counter() - t, times, traced))

    t_oracle = time.time()
    want = oracle_hashes(root, sf_dir)
    oracle_s = time.time() - t_oracle
    failed, problems = 0, list(errors)
    for name, k, got in results:
        if got != want[name]:
            failed += 1
            if got is not None:
                problems.append(f"{name} pass {k}: {got} != oracle {want[name]}")
    latencies = [s for _, times, _ in passes for s in times.values()]
    mix_s = median([w for w, _, _ in passes])
    result = {
        "attempted": len(results),
        "failed": failed,
        "problems": problems,
        "valid": True,
        "tracer": tracer,
        "end_to_end": {
            "throughput_per_s": len(QUERIES) / mix_s,
            "latency_p50_ms": quantile(latencies, 0.5) * 1000.0,
            "latency_p90_ms": quantile(latencies, 0.9) * 1000.0,
            "setup_s": first_result[0] - t_proc0,
        },
        "notes": {
            "query_mix_s": mix_s,
            "warm_passes": len(passes),
            "latency_samples": len(latencies),
            "pass_s": [round(w, 3) for w, _, _ in passes],
            "query_s": {n: round(median([t[n] for _, t, _ in passes]), 3) for n in QUERIES},
            "oracle_s": round(oracle_s, 2),
            "elapsed_s": round(time.time() - t_proc0, 2),
        },
    }
    if trace:
        layers = {"session.start_s": session_start_s}
        for name in QUERIES:
            module = fns[name].__module__.rsplit(".", 1)[-1]
            layers[f"operators.{module}.{name}_s"] = median(
                [times[name] for _, times, traced in passes if traced]
            )
        traced = median([w for w, _, tr in passes if tr])
        untraced = median([w for w, _, tr in passes if not tr])
        layers["trace.overhead_share"] = traced / untraced - 1.0
        tracer.counters.update(layers)
        result["layers"] = layers
    return result
