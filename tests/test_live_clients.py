"""Live-connector wiring tests — fakes stand in for the network clients
(the sandbox has no gspread/mariadb), the argument plumbing and dialect
SQL are what's under test."""

from __future__ import annotations

import datetime as dt
import sqlite3

import pytest
from pyspark.sql import functions as F

from etl_acordos_spark.sources.dbapi_sink import (
    _insert_sql,
    ddl_from_schema,
    write_dbapi_append,
    write_dbapi_upsert,
)
from etl_acordos_spark.sources.live_clients import (
    mariadb_connection_factory,
    read_gsheet,
)
from etl_acordos_spark.sources.records import EmptySourceError


def test_read_gsheet_routes_fetch_into_records_df(spark):
    seen = {}

    def fake_fetch(sheet_id, worksheet_title, service_account_path=None,
                   expected_headers=None):
        seen.update(
            sheet_id=sheet_id,
            worksheet=worksheet_title,
            creds=service_account_path,
            headers=expected_headers,
        )
        return [
            {"acordo": "A1", "valor": "10"},
            {"acordo": "A2", "valor": "20"},
        ]

    df = read_gsheet(
        spark,
        "sheet-key-123",
        "Página1",
        service_account_path="/secrets/sa.json",
        expected_headers=["acordo", "valor"],
        fetch=fake_fetch,
    )
    assert seen == {
        "sheet_id": "sheet-key-123",
        "worksheet": "Página1",
        "creds": "/secrets/sa.json",
        "headers": ["acordo", "valor"],
    }
    assert df.columns == ["acordo", "valor"]
    assert df.count() == 2


def test_read_gsheet_empty_payload_is_hard_error(spark):
    with pytest.raises(EmptySourceError):
        read_gsheet(spark, "k", "w", fetch=lambda *a, **kw: [])


def test_mariadb_factory_passes_connection_args():
    captured = {}

    def fake_connect(**kw):
        captured.update(kw)
        return "CONN"

    factory = mariadb_connection_factory(
        "db.internal", 3306, "etl", "pw", "acordos", connect=fake_connect
    )
    assert factory() == "CONN"
    assert captured == {
        "host": "db.internal",
        "port": 3306,
        "user": "etl",
        "password": "pw",
        "database": "acordos",
    }


def test_mariadb_upsert_sql_dialect():
    sql = _insert_sql("acordos", ["id", "valor"], "id", dialect="mariadb")
    assert sql == (
        "INSERT INTO `acordos` (`id`, `valor`) VALUES (?, ?)"
        " ON DUPLICATE KEY UPDATE `valor` = VALUES(`valor`)"
    )
    # pymysql flavor: %s placeholders
    sql = _insert_sql("acordos", ["id", "valor"], "id", dialect="mysql")
    assert "VALUES (%s, %s)" in sql


def test_mariadb_ddl_backtick_quoting():
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("valor", T.DoubleType())])
    ddl = ddl_from_schema(
        "acordos", schema, auto_increment_pk="id", dialect="mariadb"
    )
    assert ddl == (
        "CREATE TABLE IF NOT EXISTS `acordos` ("
        "`id` INTEGER AUTO_INCREMENT PRIMARY KEY, `valor` DOUBLE PRECISION)"
    )


def test_ansi_sink_still_round_trips_sqlite(spark, tmp_path):
    """The dialect refactor must not disturb the default (ansi) sink."""
    db = str(tmp_path / "sink.db")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "k int, v string"
    )
    write_dbapi_upsert(
        df, "t", lambda: sqlite3.connect(db), upsert_key="k",
        writer_partitions=1,
    )
    df2 = spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string")
    write_dbapi_upsert(
        df2, "t", lambda: sqlite3.connect(db), upsert_key="k",
        writer_partitions=1,
    )
    got = sorted(
        sqlite3.connect(db).execute("SELECT k, v FROM t").fetchall()
    )
    assert got == [(1, "a"), (2, "B"), (3, "c")]


class _CursorOnlyConnection:
    """The PEP 249 minimum — cursor/commit/rollback/close, none of the
    connection-level ``execute`` shortcuts — as the mariadb and pymysql
    connections expose it. Executed parameter rows land in *executed*."""

    def __init__(self, db: sqlite3.Connection, executed: list):
        self._db = db
        self._executed = executed
        self.closed = False

    def cursor(self):
        return _RecordingCursor(self._db.cursor(), self._executed)

    def commit(self):
        self._db.commit()

    def rollback(self):
        self._db.rollback()

    def close(self):
        self.closed = True


class _RecordingCursor:
    def __init__(self, cur: sqlite3.Cursor, executed: list):
        self._cur = cur
        self._executed = executed

    def execute(self, sql, params=()):
        return self._cur.execute(sql, params)

    def executemany(self, sql, rows):
        rows = [tuple(r) for r in rows]
        self._executed.extend(rows)
        return self._cur.executemany(sql, rows)


def test_sink_runs_statements_through_a_cursor(spark):
    """mariadb/pymysql connections have no ``conn.execute``; the sink must
    go through ``conn.cursor()``, on a connection opened on the driver."""
    db = sqlite3.connect(":memory:")
    executed: list = []
    opened: list = []

    def factory():
        opened.append(_CursorOnlyConnection(db, executed))
        return opened[-1]

    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, None)], "k int, v string")
    write_dbapi_append(df, "t", factory, batch_size=2, dialect="mariadb")
    want = [(1, "a"), (2, "b"), (3, None)]
    assert sorted(executed, key=repr) == want
    assert sorted(db.execute("SELECT k, v FROM t").fetchall(), key=repr) == want
    db.close()
    assert opened and all(c.closed for c in opened)


def _typed_frame(spark):
    rows = []
    for i in range(30):
        rows.append((
            i,
            None if i % 5 == 0 else f"s{i}",
            None if i % 7 == 0 else i * 0.25,
            None if i % 4 == 0 else dt.date(2024, 1, 1) + dt.timedelta(days=i),
            None if i % 6 == 0
            else dt.datetime(2024, 1, 1, 8, 30, 15, 123456) + dt.timedelta(hours=i),
        ))
    return spark.createDataFrame(
        rows, "k int, s string, x double, d date, ts timestamp"
    ).repartition(4)


@pytest.mark.parametrize("mode", ["append", "upsert"])
def test_sink_round_trips_typed_partitioned_frame(spark, tmp_path, mode):
    df = _typed_frame(spark)
    assert df.rdd.getNumPartitions() == 4
    db = str(tmp_path / "typed.db")

    def factory():
        return sqlite3.connect(db)

    if mode == "append":
        write_dbapi_append(df, "t", factory, batch_size=7)
    else:
        stale = df.withColumn("s", F.lit("STALE"))
        write_dbapi_upsert(stale, "t", factory, "k", batch_size=7)
        write_dbapi_upsert(df, "t", factory, "k", batch_size=7)
    conn = sqlite3.connect(db, detect_types=sqlite3.PARSE_DECLTYPES)
    try:
        got = conn.execute("SELECT k, s, x, d, ts FROM t").fetchall()
    finally:
        conn.close()
    want = [tuple(r) for r in df.collect()]
    assert sorted(got, key=repr) == sorted(want, key=repr)


def test_sink_failure_partway_raises_and_commits_nothing(spark, tmp_path):
    db = str(tmp_path / "check.db")
    conn = sqlite3.connect(db)
    conn.execute('CREATE TABLE "t" ("k" INTEGER CHECK ("k" < 20), "v" TEXT)')
    conn.commit()
    conn.close()
    # four ordered slices: batches k 0-6 and 7-13 insert, 14-20 fails
    rows = spark.sparkContext.parallelize([(i, f"v{i}") for i in range(30)], 4)
    df = spark.createDataFrame(rows, "k int, v string")
    with pytest.raises(sqlite3.IntegrityError):
        write_dbapi_append(df, "t", lambda: sqlite3.connect(db), batch_size=7)
    conn = sqlite3.connect(db)
    try:
        assert conn.execute('SELECT count(*) FROM "t"').fetchone() == (0,)
    finally:
        conn.close()


def test_sink_rejects_parallel_writers_and_empty_batches(spark):
    df = spark.createDataFrame([(1,)], "k int")
    with pytest.raises(ValueError, match=r"df\.write\.jdbc"):
        write_dbapi_append(df, "t", sqlite3.connect, writer_partitions=2)
    # an empty batch would end the write loop before the first row
    with pytest.raises(ValueError, match="batch_size"):
        write_dbapi_append(df, "t", sqlite3.connect, batch_size=0)
