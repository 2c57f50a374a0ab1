"""Ingest-engine parity queries: the reference's dataflow stages exercised
as oracle-checked batch operators over the driver's test tables.

Each query routes real engine code (parsers.parse_json / parse_csv,
coerce.coerce_expr, datetimes cascade, functions.shard_*, enrich.*) over
synthesized message payloads derived deterministically from the test
tables, with a DuckDB twin that recomputes the expected result from first
principles.  This is how the streaming hot path (SURVEY.md §3.2) gets a
correctness oracle without a Kafka broker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..datetimes import parse_datetime_str
from ..enrich import (
    GEO_BASE,
    GEO_BLOCK,
    GEO_BLOCKS,
    GEO_ISPS,
    GEO_LOCS,
    GEO_UNKNOWN,
    SERVICE_MAP_TSV,
    build_geo_ranges,
    enrich_ips,
    join_service_map,
    normalize_class,
)
from ..functions import portable_hash64_sql, shard_hash, shard_stripe
from ..parsers import Staging, parse_csv, parse_json
from ..schema import TableSchema
from ..session import load_table


# --------------------------------------------------------------------------
# P1 + §1.2 coercion: JSON parse with lenient defaults + virtual columns
# --------------------------------------------------------------------------


def ingest_json_coerce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.props through the real JSON parse/coerce pipeline.

    Schema: ``k`` Int64 (missing/bad → 0), ``s`` String sourced from an
    absent field (→ ''), ``f`` Nullable(Float64) from an absent field
    (→ NULL), plus the ``__kafka_offset`` virtual column (filled from the
    message offset — here the event id).  Exercises P1, PR1-PR2, and the
    §1.2 default-value semantics end-to-end, all inside whole-stage codegen.
    """
    ev = load_table(spark, sf_dir, "events")
    msgs = ev.select(
        F.col("event_id").alias("offset"), F.col("props").alias("value")
    )
    schema = TableSchema.from_dims(
        [
            {"name": "__kafka_offset", "type": "Int64"},
            {"name": "k", "type": "Int64"},
            {"name": "s", "type": "String", "sourcename": "missing_str"},
            {"name": "f", "type": "Nullable(Float64)", "sourcename": "missing_f"},
        ]
    )
    out = parse_json(msgs, schema).drop("offset")
    return out.withColumnRenamed("__kafka_offset", "event_id").orderBy("event_id")


INGEST_JSON_SQL = """
SELECT event_id,
       COALESCE(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT), 0) AS k,
       '' AS s,
       NULL::DOUBLE AS f
FROM events
ORDER BY event_id
"""


# --------------------------------------------------------------------------
# P3: CSV parse round-trip
# --------------------------------------------------------------------------


def ingest_csv_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders rendered as CSV messages, re-parsed by the real CSV pipeline.

    Round-trip property: parse(render(row)) == row.  The oracle just reads
    the original columns, so any drift in the parser or coercion shows up
    as a hash mismatch.  Doubles survive because Spark's double→string is
    shortest-roundtrip (Ryu).
    """
    orders = load_table(spark, sf_dir, "orders")
    value = F.concat_ws(
        ",",
        F.col("o_orderkey"),
        F.col("o_orderstatus"),
        F.col("o_totalprice"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"),
    )
    msgs = orders.select(value.alias("value"))
    schema = TableSchema.from_dims(
        [
            {"name": "o_orderkey", "type": "Int64"},
            {"name": "o_orderstatus", "type": "String"},
            {"name": "o_totalprice", "type": "Float64"},
            {"name": "o_orderdate", "type": "DateTime"},
        ]
    )
    out = parse_csv(
        msgs, schema, ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"]
    )
    return out.orderBy("o_orderkey")


INGEST_CSV_SQL = """
SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
FROM orders
ORDER BY o_orderkey
"""


# --------------------------------------------------------------------------
# P4: multi-layout datetime cascade
# --------------------------------------------------------------------------


def ingest_datetime_layouts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """o_orderdate rendered in 3 different layouts (keyed by orderkey % 3),
    re-parsed through the 27-layout cascade.

    Round-trip property: the cascade must recover the original timestamp
    regardless of which layout each row used — including the RFC1123 form
    with a day-name prefix and GMT zone (the cascade strips day names;
    SURVEY §2.1 P4).
    """
    orders = load_table(spark, sf_dir, "orders")
    branch = F.col("o_orderkey") % 3
    rendered = (
        F.when(branch == 0, F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"))
        .when(branch == 1, F.date_format("o_orderdate", "dd/MM/yyyy HH:mm:ss"))
        .otherwise(F.date_format("o_orderdate", "EEE, dd MMM yyyy HH:mm:ss 'GMT'"))
    )
    msgs = orders.select("o_orderkey", rendered.alias("raw_ts"))
    staging = Staging()
    parsed = parse_datetime_str(F.col("raw_ts"), staging.chain("__ts"))
    return (
        staging.apply(msgs)
        .select("o_orderkey", "raw_ts", parsed.alias("parsed_ts"))
        .orderBy("o_orderkey")
    )


INGEST_DATETIME_SQL = """
SELECT o_orderkey,
       CASE o_orderkey % 3
            WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')
            WHEN 1 THEN strftime(o_orderdate, '%d/%m/%Y %H:%M:%S')
            ELSE strftime(o_orderdate, '%a, %d %b %Y %H:%M:%S GMT')
       END AS raw_ts,
       o_orderdate AS parsed_ts
FROM orders
ORDER BY o_orderkey
"""


# --------------------------------------------------------------------------
# K2/F5: shard routing
# --------------------------------------------------------------------------


def shard_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stripe + hash shard assignment over orders, summarized per shard.

    stripe: (o_custkey / 8) % 4 (reference task/sharding.go:62-76);
    hash: portable_hash64(orderkey string) % 4 (:91-98, portable variant —
    see functions module docstring for the xxhash64 parity note).
    In the sink these exprs feed ``df.repartition(n, expr)`` so each writer
    partition maps 1:1 to a ClickHouse shard connection.
    """
    orders = load_table(spark, sf_dir, "orders")
    assigned = orders.select(
        shard_stripe("o_custkey", 8, 4).alias("stripe_shard"),
        shard_hash(F.col("o_orderkey"), 4).alias("hash_shard"),
        "o_orderkey",
    )
    return (
        assigned.groupBy("stripe_shard", "hash_shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        .orderBy("stripe_shard", "hash_shard")
    )


SHARD_SQL = f"""
SELECT (o_custkey // 8) % 4 AS stripe_shard,
       {portable_hash64_sql("o_orderkey::VARCHAR")} % 4 AS hash_shard,
       COUNT(*) AS n_rows,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM orders
GROUP BY 1, 2
ORDER BY stripe_shard, hash_shard
"""


# --------------------------------------------------------------------------
# J1/F1: GeoIP interval enrichment
# --------------------------------------------------------------------------


def geoip_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic-IP GeoIP enrichment via the broadcast interval join.

    ip = GEO_BASE + (user_id·97777) % (blocks·block + spill) — the spill
    keeps ~6% of IPs outside every interval to exercise the 未知 default.
    """
    ev = load_table(spark, sf_dir, "events")
    span = GEO_BLOCKS * GEO_BLOCK
    ip_int = (F.lit(GEO_BASE) + (F.col("user_id") * 97777) % int(span * 1.0625)).alias(
        "ip_int"
    )
    df = ev.select("event_id", "user_id", ip_int)
    out = enrich_ips(df, build_geo_ranges(spark), "ip_int")
    return (
        out.groupBy("loc", "isp")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("loc", "isp")
    )


_LOCS_SQL = "[" + ", ".join(f"'{x}'" for x in GEO_LOCS) + "]"
_ISPS_SQL = "[" + ", ".join(f"'{x}'" for x in GEO_ISPS) + "]"

GEOIP_SQL = f"""
WITH ips AS (
    SELECT event_id,
           (user_id * 97777) % CAST({GEO_BLOCKS * GEO_BLOCK} * 1.0625 AS BIGINT)
               AS off
    FROM events
), tagged AS (
    SELECT event_id,
           CASE WHEN off < {GEO_BLOCKS * GEO_BLOCK}
                THEN ({_LOCS_SQL})[(off // {GEO_BLOCK}) % {len(GEO_LOCS)} + 1]
                ELSE '{GEO_UNKNOWN}' END AS loc,
           CASE WHEN off < {GEO_BLOCKS * GEO_BLOCK}
                THEN ({_ISPS_SQL})[(off // {GEO_BLOCK}) % {len(GEO_ISPS)} + 1]
                ELSE '{GEO_UNKNOWN}' END AS isp
    FROM ips
)
SELECT loc, isp, COUNT(*) AS n_events
FROM tagged
GROUP BY loc, isp
ORDER BY loc, isp
"""


# --------------------------------------------------------------------------
# J2/F2: serviceMap class normalization
# --------------------------------------------------------------------------


def class_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nali class-normalization pipeline on synthetic flow rows.

    proto/ports/class derived deterministically from events; the
    normalization applies the reference's actual rules, including the
    keep-ClassList[1] quirk for 'A/B' classes.
    """
    ev = load_table(spark, sf_dir, "events")
    proto = F.when(F.col("event_id") % 2 == 0, "tcp").otherwise("udp")
    port_src = F.when(F.col("user_id") % 3 == 0, 80).otherwise(
        F.col("user_id") % 1024
    )
    port_dst = F.when(F.col("user_id") % 5 == 0, 53).otherwise(
        (F.col("user_id") * 7) % 1024
    )
    cls = (
        F.when(F.col("value") < 50, "Unknown/Unknown")
        .when(F.col("value") < 150, "HTTP/HTTPS")
        .otherwise("SSH/SSH")
    )
    flows = ev.select(
        "event_id",
        proto.alias("proto"),
        port_src.alias("port_src"),
        port_dst.alias("port_dst"),
        cls.alias("class"),
    )
    hit = join_service_map(flows, spark)
    out = hit.withColumn(
        "class_norm",
        normalize_class(F.col("class"), F.col("src_service"), F.col("dst_service")),
    )
    return (
        out.groupBy("proto", "class", "class_norm")
        .agg(F.count(F.lit(1)).alias("n_flows"))
        .orderBy("proto", "class", "class_norm")
    )


CLASS_NORMALIZE_SQL = f"""
WITH svc AS (
    SELECT * FROM read_csv('{SERVICE_MAP_TSV}', delim='\t', header=false,
                           columns={{'key': 'VARCHAR', 'service': 'VARCHAR'}})
),
flows AS (
    SELECT event_id,
           CASE WHEN event_id % 2 = 0 THEN 'tcp' ELSE 'udp' END AS proto,
           CASE WHEN user_id % 3 = 0 THEN 80 ELSE user_id % 1024 END AS port_src,
           CASE WHEN user_id % 5 = 0 THEN 53 ELSE (user_id * 7) % 1024 END AS port_dst,
           CASE WHEN value < 50 THEN 'Unknown/Unknown'
                WHEN value < 150 THEN 'HTTP/HTTPS'
                ELSE 'SSH/SSH' END AS class
    FROM events
), norm AS (
    SELECT f.proto, f.class,
           CASE WHEN f.class = 'Unknown/Unknown'
                THEN COALESCE(s1.service, s2.service, f.class)
                WHEN string_split(f.class, '/')[1] <> string_split(f.class, '/')[2]
                THEN string_split(f.class, '/')[2]
                ELSE f.class END AS class_norm
    FROM flows f
    LEFT JOIN svc s1 ON s1.key = f.proto || ':' || f.port_src
    LEFT JOIN svc s2 ON s2.key = f.proto || ':' || f.port_dst
)
SELECT proto, class, class_norm, COUNT(*) AS n_flows
FROM norm
GROUP BY proto, class, class_norm
ORDER BY proto, class, class_norm
"""


# --------------------------------------------------------------------------
# Prometheus mode: metric/series split with deduped series ids
# --------------------------------------------------------------------------


def prometheus_series_split(
    spark: SparkSession, sf_dir: str, faithful: bool = False
) -> DataFrame:
    """The Prometheus-schema split (reference model/message.go:171-212):
    string dims become a deduplicated series table keyed by a hash of the
    sorted ``###name###value`` label pairs; numeric dims + the series id go
    to the metric table.

    Here: labels = (event_type, user_id) over events; the query returns the
    deduplicated series table (first-occurrence-wins ≡ min event_id, the
    reference's CheckedAdd bitmap semantics).  Series id uses the portable
    hash by default; ``faithful=True`` switches to byte-parity xxhash64 so
    ids match a live Go deployment's (functions/xxh64.py).
    """
    from ..functions import portable_hash64

    ev = load_table(spark, sf_dir, "events")
    label_str = F.concat(
        F.lit("###event_type###"),
        F.col("event_type"),
        F.lit("###user_id###"),
        F.col("user_id").cast("string"),
    )
    if faithful:
        from ..functions.xxh64 import series_id_faithful

        sid = series_id_faithful(label_str)
    else:
        sid = portable_hash64(label_str)
    tagged = ev.select(
        sid.alias("series_id"),
        "event_type",
        "user_id",
        "event_id",
    )
    return (
        tagged.groupBy("series_id", "event_type", "user_id")
        .agg(F.min("event_id").alias("first_event_id"), F.count(F.lit(1)).alias("n_points"))
        .orderBy("series_id")
    )


_SERIES_HASH = portable_hash64_sql(
    "'###event_type###' || event_type || '###user_id###' || user_id::VARCHAR"
)

PROMETHEUS_SQL = f"""
SELECT {_SERIES_HASH} AS series_id,
       event_type, user_id,
       MIN(event_id) AS first_event_id,
       COUNT(*) AS n_points
FROM events
GROUP BY series_id, event_type, user_id
ORDER BY series_id
"""


# --------------------------------------------------------------------------
# F4: find-all IP/domain entity extraction with geo annotation
# --------------------------------------------------------------------------

_ENT_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_ENT_DOMAIN = r"\bh\d+\.example\.com\b"
_ENT_SPAN = int(GEO_BLOCKS * GEO_BLOCK * 1.0625)  # ~6% spill past the ranges


def entity_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Free-text entity extraction (reference ``ipHandle/entity/parse.go:
    12-67``): regex find-ALL IPv4s and domains in a log line, annotate every
    IP hit with geo loc/isp via the broadcast interval join, count hits per
    (entity_type, loc, isp).

    The reference walks each input string with compiled IPv4/IPv6/domain
    regexes and geo-annotates every match (``ipHandle/re/re.go:6-9``); here
    the line is synthesized from events (two IPs + one hostname per line,
    deterministic), the find-all is ``regexp_extract_all`` + ``explode``
    (codegen'd, no UDF), and the dotted-quad → int round-trip is exact
    integer octet arithmetic in both engines.  Scale shape: scan-side
    projection + explode (×3 rows), broadcast interval join, one small
    aggregation — the fact side never shuffles on data size.
    """
    ev = load_table(spark, sf_dir, "events")
    ip_a = F.lit(GEO_BASE) + (F.col("user_id") * 97777) % _ENT_SPAN
    ip_b = F.lit(GEO_BASE) + (F.col("event_id") * 31337) % _ENT_SPAN

    def dotted(ip_int):
        return F.concat_ws(
            ".",
            (ip_int.cast("bigint") / F.lit(16777216)).cast("bigint") % 256,
            (ip_int.cast("bigint") / F.lit(65536)).cast("bigint") % 256,
            (ip_int.cast("bigint") / F.lit(256)).cast("bigint") % 256,
            ip_int.cast("bigint") % 256,
        )

    line = F.concat(
        F.lit("conn src="),
        dotted(ip_a),
        F.lit(" dst="),
        dotted(ip_b),
        F.lit(" host=h"),
        (F.col("event_id") % 1000).cast("string"),
        F.lit(".example.com proto=tcp"),
    )
    lines = ev.select("event_id", line.alias("line"))
    ips = lines.select(
        F.lit("ip").alias("entity_type"),
        F.explode(F.regexp_extract_all("line", F.lit(_ENT_IPV4), 0)).alias("entity"),
    )
    o = F.split(F.col("entity"), r"\.")
    ip_int = (
        o.getItem(0).cast("bigint") * 16777216
        + o.getItem(1).cast("bigint") * 65536
        + o.getItem(2).cast("bigint") * 256
        + o.getItem(3).cast("bigint")
    )
    ips_geo = enrich_ips(
        ips.select("entity_type", ip_int.alias("ip_int")),
        build_geo_ranges(spark),
        "ip_int",
    )
    doms = lines.select(
        F.lit("domain").alias("entity_type"),
        F.explode(F.regexp_extract_all("line", F.lit(_ENT_DOMAIN), 0)).alias("entity"),
    ).select("entity_type", F.lit("-").alias("loc"), F.lit("-").alias("isp"))
    return (
        ips_geo.select("entity_type", "loc", "isp")
        .unionByName(doms)
        .groupBy("entity_type", "loc", "isp")
        .agg(F.count(F.lit(1)).alias("n_entities"))
        .orderBy("entity_type", "loc", "isp")
    )


ENTITY_EXTRACT_SQL = f"""
WITH lines AS (
    SELECT event_id,
           'conn src=' ||
           (({GEO_BASE} + (user_id * 97777) % {_ENT_SPAN}) // 16777216) % 256 || '.' ||
           (({GEO_BASE} + (user_id * 97777) % {_ENT_SPAN}) // 65536) % 256 || '.' ||
           (({GEO_BASE} + (user_id * 97777) % {_ENT_SPAN}) // 256) % 256 || '.' ||
           ({GEO_BASE} + (user_id * 97777) % {_ENT_SPAN}) % 256 ||
           ' dst=' ||
           (({GEO_BASE} + (event_id * 31337) % {_ENT_SPAN}) // 16777216) % 256 || '.' ||
           (({GEO_BASE} + (event_id * 31337) % {_ENT_SPAN}) // 65536) % 256 || '.' ||
           (({GEO_BASE} + (event_id * 31337) % {_ENT_SPAN}) // 256) % 256 || '.' ||
           ({GEO_BASE} + (event_id * 31337) % {_ENT_SPAN}) % 256 ||
           ' host=h' || event_id % 1000 || '.example.com proto=tcp' AS line
    FROM events
), ips AS (
    SELECT unnest(regexp_extract_all(line, '{_ENT_IPV4}')) AS entity FROM lines
), ip_geo AS (
    SELECT CASE WHEN off >= 0 AND off < {GEO_BLOCKS * GEO_BLOCK}
                THEN ({_LOCS_SQL})[(off // {GEO_BLOCK}) % {len(GEO_LOCS)} + 1]
                ELSE '{GEO_UNKNOWN}' END AS loc,
           CASE WHEN off >= 0 AND off < {GEO_BLOCKS * GEO_BLOCK}
                THEN ({_ISPS_SQL})[(off // {GEO_BLOCK}) % {len(GEO_ISPS)} + 1]
                ELSE '{GEO_UNKNOWN}' END AS isp
    FROM (
        SELECT string_split(entity, '.')[1]::BIGINT * 16777216
             + string_split(entity, '.')[2]::BIGINT * 65536
             + string_split(entity, '.')[3]::BIGINT * 256
             + string_split(entity, '.')[4]::BIGINT - {GEO_BASE} AS off
        FROM ips
    )
), doms AS (
    SELECT unnest(regexp_extract_all(line, '{_ENT_DOMAIN}')) AS entity FROM lines
), tagged AS (
    SELECT 'ip' AS entity_type, loc, isp FROM ip_geo
    UNION ALL
    SELECT 'domain' AS entity_type, '-' AS loc, '-' AS isp FROM doms
)
SELECT entity_type, loc, isp, COUNT(*) AS n_entities
FROM tagged
GROUP BY entity_type, loc, isp
ORDER BY entity_type, loc, isp
"""


# --------------------------------------------------------------------------
# Ingest provenance (file lineage + content fingerprint audit columns)
# --------------------------------------------------------------------------


def ingest_provenance(
    spark: SparkSession, sf_dir: str, per_file: bool = False
) -> DataFrame:
    """Audit columns every ingested row should carry: which SOURCE it came
    from (``input_file_name``-derived, the partition-pruning-safe lineage
    pointer) and a content FINGERPRINT independent of row order and file
    layout — what makes a 100 TB backfill auditable ("which files fed
    this partition, and did re-ingestion produce identical content?").

    ``input_file_name()`` is evaluated at the scan (zero cost, no
    shuffle); the fingerprint is the portable 60-bit hash over the full
    serialized row, so any silent value drift flips it.  Aggregated here
    per source: row count + XOR-free order-insensitive content checksum
    (sum of row hashes mod 2^60 — associative, so map-side combinable
    and layout-independent).

    The default ``file`` label is LAYOUT-NORMALIZED: when the scanned
    file sits inside a ``<table>.parquet/`` directory (a Spark-written
    table), the directory name is reported — so the label is stable
    whether the table is one file or a thousand part files (the r7 sf1
    sweep caught the raw basename diverging on directory corpora: part
    file names are write-time-random, useless as a durable lineage key).
    ``per_file=True`` keeps the raw inner-file basename for true
    file-granular lineage (pytest-pinned on a multi-file layout).
    """
    from pyspark.sql import functions as F

    from ..functions import portable_hash64
    from ..session import load_table

    # rebalance=False: input_file_name() must evaluate in the SAME stage
    # as the scan — above a rebalance exchange it returns "".
    docs = load_table(spark, sf_dir, "documents", rebalance=False)
    row_fp = portable_hash64(
        F.concat_ws(
            "\x1f",
            F.col("doc_id").cast("string"),
            F.col("text"),
            F.col("lang"),
            F.col("source"),
            F.col("n_chars").cast("string"),
        )
    )
    parts = F.split(F.input_file_name(), "/")
    leaf = F.element_at(parts, -1)
    parent = F.element_at(parts, -2)
    label = (
        leaf
        if per_file
        else F.when(parent.endswith(".parquet"), parent).otherwise(leaf)
    )
    return (
        docs.select(
            label.alias("file"),
            row_fp.alias("fp"),
        )
        .groupBy("file")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            # sum in DECIMAL(38,0): fp is 60-bit, so a BIGINT sum would wrap
            # after ~8 rows — only "correct" under non-ANSI overflow
            # semantics; ANSI mode (the Spark 4 default for caller-supplied
            # sessions) would throw at runtime.  The decimal sum matches the
            # oracle's HUGEINT sum exactly.
            F.pmod(
                F.sum(F.col("fp").cast("decimal(38,0)")),
                F.lit(1 << 60).cast("decimal(38,0)"),
            )
            .cast("bigint")
            .alias("content_checksum"),
        )
        .orderBy("file")
    )


_PROV_FP = (
    "(('0x' || substr(md5(doc_id::VARCHAR || chr(31) || text || chr(31) "
    "|| lang || chr(31) || source || chr(31) || n_chars::VARCHAR), "
    "1, 15))::BIGINT)"
)

# the harness registers tables as plain views (no filename column), so the
# oracle pins the normalized label as a literal and checks the aggregation;
# Spark derives it genuinely from input_file_name() — the label is the
# table file OR its .parquet directory, identical across layouts, so this
# oracle holds at every scale (single-file driver testdata AND the
# directory-shaped sf1/sf10 corpora); per-file granularity is pytest-pinned
INGEST_PROVENANCE_SQL = f"""
SELECT 'documents.parquet' AS file,
       COUNT(*) AS n_rows,
       CAST(SUM({_PROV_FP}) % {1 << 60} AS BIGINT) AS content_checksum
FROM documents
ORDER BY file
"""
