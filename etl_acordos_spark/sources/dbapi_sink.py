"""Warehouse sink: typed DDL generation + batched DBAPI upsert/append.

The reference dual-writes every layer to MariaDB with name-based DDL
typing and a two-statements-per-row upsert loop (reference
tasks/bronze.py:94-121, tasks/silver.py:95-139, tasks/gold.py:74-193).

Spark-first re-expression:
  - DDL comes from the DataFrame's *typed* schema (StructType → SQL
    types), replacing the reference's name-based map (bronze.py:96).
  - The upsert is written from the driver over ONE connection: the frame
    is coalesced to one partition and streamed with ``toLocalIterator``
    into batched ``executemany`` statements — O(rows / batch_size)
    round-trips instead of O(rows), one commit, and no Python worker.
  - Statements go through ``conn.cursor()`` (PEP 249), so drivers without
    connection-level ``execute`` shortcuts (mariadb, pymysql) work.
  - Divergence (bug fix): sink errors propagate — the reference swallows
    bronze DB errors (tasks/bronze.py:123-124).

The connection factory is any zero-arg callable returning a DBAPI
connection (sqlite3, mysql/mariadb driver, psycopg...), so the sink is
testable without a database server. For plain replace/append semantics on
a real JDBC database, prefer Spark's built-in ``df.write.jdbc`` — this
custom sink exists because Spark has no native MERGE for JDBC. The frame
passes through the driver: one serialized partition sits in the JVM while
Python streams it in ``batch_size`` batches, so a bulk load that outgrows
the driver belongs on ``df.write.jdbc`` too.
"""

from __future__ import annotations

from collections.abc import Callable
from itertools import islice
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import types as T

_SQL_TYPES: dict[type, str] = {
    T.StringType: "TEXT",
    T.IntegerType: "INTEGER",
    T.LongType: "BIGINT",
    T.ShortType: "SMALLINT",
    T.DoubleType: "DOUBLE PRECISION",
    T.FloatType: "REAL",
    T.BooleanType: "BOOLEAN",
    T.DateType: "DATE",
    T.TimestampType: "TIMESTAMP",
    T.TimestampNTZType: "TIMESTAMP",
}


# Dialect table: identifier quote char, DBAPI placeholder (paramstyle),
# upsert conflict clause family, and the spelling of an auto-increment
# integer surrogate key — the reference's tables all carry one
# (reference tasks/silver.py:97-113, tasks/gold.py:76-126 use MariaDB
# `id INT AUTO_INCREMENT PRIMARY KEY`).
#   - "ansi"    : sqlite3 / DuckDB / Postgres-family (qmark, ON CONFLICT)
#   - "sqlite"  : ansi quoting with sqlite's AUTOINCREMENT spelling
#   - "mariadb" : MariaDB Connector/Python (qmark, backticks, ON
#                 DUPLICATE KEY UPDATE)
#   - "mysql"   : PyMySQL-style drivers (format/%s placeholders)
_DIALECTS: dict[str, dict[str, str]] = {
    "ansi": {
        "quote": '"',
        "placeholder": "?",
        "conflict": "excluded",
        "autoinc": "INTEGER GENERATED BY DEFAULT AS IDENTITY PRIMARY KEY",
    },
    "sqlite": {
        "quote": '"',
        "placeholder": "?",
        "conflict": "excluded",
        "autoinc": "INTEGER PRIMARY KEY AUTOINCREMENT",
    },
    "mariadb": {
        "quote": "`",
        "placeholder": "?",
        "conflict": "values",
        "autoinc": "INTEGER AUTO_INCREMENT PRIMARY KEY",
    },
    "mysql": {
        "quote": "`",
        "placeholder": "%s",
        "conflict": "values",
        "autoinc": "INTEGER AUTO_INCREMENT PRIMARY KEY",
    },
}


def _dialect(name: str) -> dict[str, str]:
    try:
        return _DIALECTS[name]
    except KeyError:
        raise ValueError(
            f"unknown dialect {name!r}; expected one of {sorted(_DIALECTS)}"
        ) from None


def ddl_from_schema(
    table: str,
    schema: T.StructType,
    primary_key: str | None = None,
    auto_increment_pk: str | None = None,
    dialect: str = "ansi",
) -> str:
    """``CREATE TABLE IF NOT EXISTS`` DDL from a typed Spark schema.

    Replaces the reference's column-NAME-based type map
    (tasks/bronze.py:94-99) with type-based mapping — Spark schemas are
    typed, so no inference leak.

    *primary_key* marks an EXISTING schema column as the PK (the upsert
    sinks use this for their conflict target). *auto_increment_pk*
    instead PREPENDS a database-assigned integer surrogate key named
    after it — the reference's MariaDB table shape (tasks/silver.py:
    97-113); *dialect* picks the spelling (mariadb/mysql, sqlite, ansi
    identity). The two options are mutually exclusive: a table has one
    primary key.
    """
    d = _dialect(dialect)
    q = d["quote"]
    if auto_increment_pk is not None:
        if primary_key is not None:
            raise ValueError(
                "primary_key and auto_increment_pk are mutually exclusive"
            )
        if any(f.name == auto_increment_pk for f in schema.fields):
            raise ValueError(
                f"auto_increment_pk {auto_increment_pk!r} collides with a "
                "schema column — surrogate keys are database-assigned"
            )
    cols = []
    if auto_increment_pk is not None:
        cols.append(f"{q}{auto_increment_pk}{q} {d['autoinc']}")
    for f in schema.fields:
        sql_t = _SQL_TYPES.get(type(f.dataType), "TEXT")
        pk = " PRIMARY KEY" if primary_key == f.name else ""
        cols.append(f"{q}{f.name}{q} {sql_t}{pk}")
    return f"CREATE TABLE IF NOT EXISTS {q}{table}{q} ({', '.join(cols)})"


def _insert_sql(
    table: str,
    columns: list[str],
    upsert_key: str | None,
    dialect: str = "ansi",
) -> str:
    d = _dialect(dialect)
    q, ph = d["quote"], d["placeholder"]
    collist = ", ".join(f"{q}{c}{q}" for c in columns)
    qs = ", ".join(ph for _ in columns)
    sql = f"INSERT INTO {q}{table}{q} ({collist}) VALUES ({qs})"
    if upsert_key:
        others = [c for c in columns if c != upsert_key]
        if d["conflict"] == "values":
            # MariaDB/MySQL upsert (reference tasks/bronze.py:102-121's
            # target database)
            sets = ", ".join(f"{q}{c}{q} = VALUES({q}{c}{q})" for c in others)
            sql += f" ON DUPLICATE KEY UPDATE {sets}"
        else:
            sets = ", ".join(f"{q}{c}{q} = excluded.{q}{c}{q}" for c in others)
            sql += f" ON CONFLICT ({q}{upsert_key}{q}) DO UPDATE SET {sets}"
    return sql


def write_dbapi_upsert(
    df: DataFrame,
    table: str,
    connection_factory: Callable[[], Any],
    upsert_key: str,
    batch_size: int = 1000,
    writer_partitions: int = 1,
    dialect: str = "ansi",
) -> None:
    """Batched upsert keyed on *upsert_key* (reference tasks/bronze.py:102-121,
    which does per-row UPDATE+INSERT; here ``executemany`` over batches).
    Pass ``dialect="mariadb"`` against the reference's actual warehouse
    (backtick quoting + ON DUPLICATE KEY UPDATE).
    """
    _write_dbapi(
        df, table, connection_factory, upsert_key, batch_size,
        writer_partitions, dialect,
    )


def write_dbapi_append(
    df: DataFrame,
    table: str,
    connection_factory: Callable[[], Any],
    batch_size: int = 1000,
    writer_partitions: int = 1,
    dialect: str = "ansi",
) -> None:
    """Batched append (reference tasks/silver.py:95-139 insert loops)."""
    _write_dbapi(
        df, table, connection_factory, None, batch_size,
        writer_partitions, dialect,
    )


def _write_dbapi(
    df: DataFrame,
    table: str,
    connection_factory: Callable[[], Any],
    upsert_key: str | None,
    batch_size: int,
    writer_partitions: int,
    dialect: str = "ansi",
) -> None:
    """DDL, then every row in ``executemany`` batches, then one commit —
    all on one driver-side connection, closed in ``finally`` (an error
    leaves the inserts uncommitted, and closing rolls them back).
    *writer_partitions* is kept for its callers and must be 1.
    """
    if writer_partitions != 1:
        raise ValueError(
            f"writer_partitions={writer_partitions!r}: the DBAPI sink "
            "writes through one driver connection; use df.write.jdbc for "
            "parallel writers"
        )
    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size!r}")
    sql = _insert_sql(table, df.columns, upsert_key, dialect)
    ddl = ddl_from_schema(
        table, df.schema, primary_key=upsert_key, dialect=dialect
    )
    conn = connection_factory()
    try:
        cur = conn.cursor()
        cur.execute(ddl)
        conn.commit()
        # coalesce(1): a bare toLocalIterator runs one job per partition.
        # A Row is a tuple in column order, so it binds as-is.
        rows = df.coalesce(1).toLocalIterator()
        while batch := list(islice(rows, batch_size)):
            cur.executemany(sql, batch)
        conn.commit()
    finally:
        conn.close()
