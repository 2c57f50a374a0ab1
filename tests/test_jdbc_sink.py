"""Real-JDBC integration tests for the sink path (K1/K3/K4 + PR5).

Every prior round exercised the sink through the parquet twin only; these
tests drive the ACTUAL JDBC branch against embedded Apache Derby — the
JDBC database that ships on Spark's own classpath — so the
``JdbcClickHouseSink`` write path, the bad-row-skipping transaction
rewrite (reference output/clickhouse_util.go:32-93), replica
rotation (reference pool/conn.go:75-126), and the ALTER round-trip
(reference output/clickhouse.go:369-460) all execute against a live JDBC
connection.  No ClickHouse server exists in this container; Derby stands
in for the wire protocol, not for ClickHouse semantics (those stay covered
by the DDL/unit twins).

Identifier casing: Derby folds unquoted identifiers to UPPERCASE while
Spark's JDBC writer quotes column names verbatim — tables and DataFrame
columns here are uppercase throughout so both access paths agree.
"""

from __future__ import annotations

import os

import pytest

from clickhouse_sinker_nali_spark.streaming.dynamic import alter_statements
from clickhouse_sinker_nali_spark.streaming.sinks import (
    JdbcClickHouseSink,
    write_rows_skipping_bad,
)

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
# user=APP: Derby derives the default SCHEMA from the JDBC user, and raw
# DriverManager connections (no user) land in APP — without this the sink's
# default user would read/write a different schema than the setup statements
DERBY_PROPS = {"driver": DERBY_DRIVER, "user": "APP"}


def _derby_url(tmp_path, name: str) -> str:
    return f"jdbc:derby:{os.path.join(str(tmp_path), name)};create=true"


def _connect(spark, url: str):
    """Open a REAL java.sql.Connection through the session JVM."""
    jvm = spark._jvm
    jvm.java.lang.Class.forName(DERBY_DRIVER)
    return jvm.java.sql.DriverManager.getConnection(url)


def _exec(conn, sql: str) -> None:
    st = conn.createStatement()
    try:
        st.execute(sql)
    finally:
        st.close()


def _query_rows(conn, sql: str) -> list[tuple]:
    st = conn.createStatement()
    rs = st.executeQuery(sql)
    meta = rs.getMetaData()
    n = meta.getColumnCount()
    out = []
    while rs.next():
        out.append(tuple(rs.getObject(i + 1) for i in range(n)))
    st.close()
    return out


def test_jdbc_sink_real_write_roundtrip(spark, tmp_path):
    """K1: the JDBC branch of JdbcClickHouseSink writes a micro-batch over
    a live connection and the rows read back through JDBC."""
    url = _derby_url(tmp_path, "k1db")
    conn = _connect(spark, url)
    _exec(conn, "CREATE TABLE EVENTS_K1 (ID BIGINT, NAME VARCHAR(100))")
    conn.close()
    df = spark.createDataFrame(
        [(i, f"name{i}") for i in range(50)], "ID BIGINT, NAME STRING"
    )
    sink = JdbcClickHouseSink(
        urls=[[url]], table="EVENTS_K1", properties=DERBY_PROPS
    )
    sink.write(df, epoch_id=0)

    back = spark.read.jdbc(url, "EVENTS_K1", properties=DERBY_PROPS)
    assert back.count() == 50
    assert sorted(r.ID for r in back.collect()) == list(range(50))


def test_jdbc_replica_failover_rotates_to_good_replica(spark, tmp_path):
    """K3: first replica URL is unreachable (nonexistent database,
    create=false); the retry loop must rotate to the healthy replica and
    complete the write."""
    bad = f"jdbc:derby:{os.path.join(str(tmp_path), 'missing-db')}"  # no create
    good = _derby_url(tmp_path, "k3db")
    conn = _connect(spark, good)
    _exec(conn, "CREATE TABLE EVENTS_K3 (ID BIGINT, NAME VARCHAR(100))")
    conn.close()
    df = spark.createDataFrame([(1, "a"), (2, "b")], "ID BIGINT, NAME STRING")
    sink = JdbcClickHouseSink(
        urls=[[bad, good]], table="EVENTS_K3", retry_times=3,
        properties=DERBY_PROPS,
    )
    sink.write(df, epoch_id=0)
    back = spark.read.jdbc(good, "EVENTS_K3", properties=DERBY_PROPS)
    assert back.count() == 2


def test_jdbc_replicas_all_down_raises(spark, tmp_path):
    bad1 = f"jdbc:derby:{os.path.join(str(tmp_path), 'no1')}"
    bad2 = f"jdbc:derby:{os.path.join(str(tmp_path), 'no2')}"
    df = spark.createDataFrame([(1, "a")], "ID BIGINT, NAME STRING")
    sink = JdbcClickHouseSink(
        urls=[[bad1, bad2]], table="T", retry_times=2, properties=DERBY_PROPS
    )
    with pytest.raises(Exception):
        sink.write(df, epoch_id=0)


def test_write_rows_skipping_bad_real_jdbc(spark, tmp_path):
    """PR5 against a live transaction: a CHECK constraint rejects one row
    mid-batch; the first transaction rolls back entirely and the rewrite
    commits exactly the good rows (reference output/clickhouse_util.go:32-93
    semantics, with Derby's CHECK playing the server-side rejection)."""
    url = _derby_url(tmp_path, "pr5db")
    conn = _connect(spark, url)
    _exec(conn, "CREATE TABLE GUARDED (ID BIGINT, V INT CHECK (V < 100))")
    conn.setAutoCommit(False)

    class DerbyTx:
        def __init__(self):
            self.ps = conn.prepareStatement(
                "INSERT INTO GUARDED (ID, V) VALUES (?, ?)"
            )

        def exec(self, row):
            self.ps.setLong(1, int(row[0]))
            self.ps.setInt(2, int(row[1]))
            self.ps.executeUpdate()

        def commit(self):
            conn.commit()

        def rollback(self):
            conn.rollback()

    rows = [(0, 10), (1, 20), (2, 500), (3, 30), (4, 999)]  # 2 and 4 violate
    stats = write_rows_skipping_bad(rows, DerbyTx)
    assert stats.n_total == 5
    assert stats.n_bad == 2
    assert stats.bad_indices == [2, 4]
    assert stats.first_error is not None

    kept = sorted(int(r[0]) for r in _query_rows(conn, "SELECT ID FROM GUARDED"))
    assert kept == [0, 1, 3]
    conn.commit()  # the verification SELECT opened a fresh transaction
    conn.close()


def test_write_rows_all_good_single_transaction(spark, tmp_path):
    url = _derby_url(tmp_path, "pr5okdb")
    conn = _connect(spark, url)
    _exec(conn, "CREATE TABLE PLAIN (ID BIGINT, V INT)")
    conn.setAutoCommit(False)

    class DerbyTx:
        def __init__(self):
            self.ps = conn.prepareStatement(
                "INSERT INTO PLAIN (ID, V) VALUES (?, ?)"
            )

        def exec(self, row):
            self.ps.setLong(1, int(row[0]))
            self.ps.setInt(2, int(row[1]))
            self.ps.executeUpdate()

        def commit(self):
            conn.commit()

        def rollback(self):
            conn.rollback()

    stats = write_rows_skipping_bad([(i, i) for i in range(10)], DerbyTx)
    assert stats.n_bad == 0
    assert len(_query_rows(conn, "SELECT ID FROM PLAIN")) == 10
    conn.commit()  # the verification SELECT opened a fresh transaction
    conn.close()


def test_alter_roundtrip_real_jdbc(spark, tmp_path):
    """K4: dynamic-schema ALTER executed over a real JDBC Statement, then a
    widened write lands in the new column — the §3.3 DDL path end-to-end."""
    from clickhouse_sinker_nali_spark.schema import InternalType

    url = _derby_url(tmp_path, "k4db")
    conn = _connect(spark, url)
    _exec(conn, "CREATE TABLE EVOLVING (ID BIGINT, NAME VARCHAR(100))")

    # epoch 1: original schema through the real JDBC sink
    sink = JdbcClickHouseSink(urls=[[url]], table="EVOLVING", properties=DERBY_PROPS)
    sink.write(
        spark.createDataFrame([(1, "a")], "ID BIGINT, NAME STRING"), epoch_id=0
    )

    # new keys detected -> ANSI ALTER over the live connection
    stmts = alter_statements(
        "ignored", "EVOLVING",
        {"NEWKEY01": InternalType.INT, "NEWKEY02": InternalType.FLOAT},
        dialect="ansi",
    )
    assert stmts == [
        "ALTER TABLE EVOLVING ADD COLUMN NEWKEY01 BIGINT",
        "ALTER TABLE EVOLVING ADD COLUMN NEWKEY02 DOUBLE",
    ]
    for s in stmts:
        _exec(conn, s)

    # epoch 2: widened schema through the same sink
    sink.write(
        spark.createDataFrame(
            [(2, "b", 7, 1.5)],
            "ID BIGINT, NAME STRING, NEWKEY01 BIGINT, NEWKEY02 DOUBLE",
        ),
        epoch_id=1,
    )
    rows = _query_rows(
        conn, "SELECT ID, NEWKEY01 FROM EVOLVING ORDER BY ID"
    )
    assert [(int(a), b if b is None else int(b)) for a, b in rows] == [
        (1, None),
        (2, 7),
    ]
    conn.close()


@pytest.mark.slow
def test_mid_batch_sink_crash_recovers_exactly_once(spark, tmp_path):
    """§2.9 exactly-once under a MID-BATCH sink crash (r6 VERDICT task 5).

    A sharded epoch dies halfway: shard 0's JDBC transaction COMMITS, then
    shard 1's endpoint is down and the foreachBatch raises after the retry
    budget — exactly the window the reference's ordered group commit
    guards (model/message.go:70-92: offsets only advance once every shard
    flushed).  Spark's checkpoint plays the same role: the failed epoch is
    uncommitted, so a restart replays it identically (deterministic hash
    routing).  End state: the committed shard holds at-least-once
    duplicates — and the keyed read (the ReplacingMergeTree-FINAL
    equivalent of the engine's sink claim, streaming/sinks.py K1 note)
    collapses to exactly the input key set; the recovered shard, whose
    transaction never committed before the crash, holds each row exactly
    once even at the raw level.
    """
    import json as _json

    from pyspark.sql import functions as F

    from clickhouse_sinker_nali_spark.streaming.pipeline import (
        TaskConfig,
        build_file_source,
        start_pipeline,
    )

    n = 2000
    src = str(tmp_path / "msgs")
    os.makedirs(src)
    with open(os.path.join(src, "part-0.txt"), "w") as f:
        for i in range(n):
            f.write(_json.dumps({"id": i, "name": f"name{i % 7}"}) + "\n")

    url_a = _derby_url(tmp_path, "xo_a")
    conn = _connect(spark, url_a)
    _exec(conn, "CREATE TABLE EVENTS_XO (ID BIGINT, NAME VARCHAR(100))")
    conn.close()
    # shard 1's only replica: DB does not exist yet (no ;create=true) ->
    # every write attempt fails until the "server" comes back
    b_path = os.path.join(str(tmp_path), "xo_b")
    url_b = f"jdbc:derby:{b_path}"

    cfg = TaskConfig(
        name="xo_task", topic="file", table="EVENTS_XO",
        dims=[
            {"name": "ID", "type": "Int64", "sourcename": "id"},
            {"name": "NAME", "type": "String", "sourcename": "name"},
        ],
    )
    ckpt = str(tmp_path / "ckpt")

    def make_sink():
        return JdbcClickHouseSink(
            urls=[[url_a], [url_b]], table="EVENTS_XO", retry_times=1,
            sharding_policy="hash", sharding_key="NAME",
            properties=DERBY_PROPS,
        )

    # run 1: shard 0 commits, shard 1 crashes the epoch mid-batch
    q = start_pipeline(
        spark, cfg, build_file_source(spark, src), make_sink(), ckpt,
        available_now=True,
    )
    with pytest.raises(Exception):
        q.awaitTermination(300)
    partial = spark.read.jdbc(url_a, "EVENTS_XO", properties=DERBY_PROPS)
    n_partial = partial.count()
    assert n_partial > 0  # the crash really was mid-batch: shard 0 landed

    # shard 1's database comes back up (with the table), stream restarts
    # from the SAME checkpoint
    conn = _connect(spark, url_b + ";create=true")
    _exec(conn, "CREATE TABLE EVENTS_XO (ID BIGINT, NAME VARCHAR(100))")
    conn.close()
    q2 = start_pipeline(
        spark, cfg, build_file_source(spark, src), make_sink(), ckpt,
        available_now=True,
    )
    q2.awaitTermination(300)

    a = spark.read.jdbc(url_a, "EVENTS_XO", properties=DERBY_PROPS)
    b = spark.read.jdbc(url_b, "EVENTS_XO", properties=DERBY_PROPS)
    # the replayed epoch re-wrote shard 0: raw rows show the at-least-once
    # duplicates of the pre-crash partial commit...
    assert a.count() == 2 * n_partial
    assert b.count() > 0
    # ...and the FINAL-equivalent keyed read collapses to exactly-once
    final = a.unionByName(b).groupBy("ID").agg(F.max("NAME").alias("NAME"))
    assert final.count() == n
    assert sorted(r.ID for r in final.collect()) == list(range(n))
    # deterministic routing: no key ever lands on both shards
    assert (
        a.select("NAME").distinct().join(b.select("NAME").distinct(), "NAME").count()
        == 0
    )
    # the shard whose transaction never committed pre-crash is exactly-once
    # even RAW (per-epoch transactionality, no FINAL needed)
    assert b.count() == b.select("ID").distinct().count()
    assert b.count() + n_partial == n


def test_null_and_negative_shard_keys_are_routed_not_dropped(spark, tmp_path):
    """A NULL sharding key and a key below -stripe used to give a NULL or a
    negative shard, so the per-shard filters matched no shard and the rows
    were silently dropped.  Both sinks now route by one ``__shard`` mapped
    into [0, shards): pmod for negative shards, shard 0 for a NULL key."""
    from clickhouse_sinker_nali_spark.streaming.sinks import ParquetSink

    shards = 4
    # stripe,10 on 4 shards: NULL -> 0, -15 -> -1 -> 3, 5 -> 0, 25 -> 2, 37 -> 3
    expected = {None: 0, -15: 3, 5: 0, 25: 2, 37: 3}
    df = spark.createDataFrame(
        [(k, f"row{k}") for k in expected], "ID bigint, NAME string"
    )
    urls = [_derby_url(tmp_path, f"shard_{s}") for s in range(shards)]
    for url in urls:
        conn = _connect(spark, url)
        _exec(conn, "CREATE TABLE EVENTS_SH (ID BIGINT, NAME VARCHAR(100))")
        conn.close()
    sink = JdbcClickHouseSink(
        urls=[[u] for u in urls], table="EVENTS_SH",
        sharding_policy="stripe,10", sharding_key="ID", properties=DERBY_PROPS,
    )
    sink.write(df, epoch_id=0)
    got = {}
    for s, url in enumerate(urls):
        for r in spark.read.jdbc(url, "EVENTS_SH", properties=DERBY_PROPS).collect():
            got[r.ID] = s
    assert got == expected

    out = str(tmp_path / "parquet")
    ParquetSink(
        path=out, shards=shards, sharding_policy="stripe,10", sharding_key="ID"
    ).write(df, epoch_id=0)
    rows = spark.read.parquet(out).collect()
    assert {r.ID: r["__shard"] for r in rows} == expected
