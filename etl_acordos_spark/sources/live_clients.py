"""Thin live-connector wiring: Google Sheets (gspread) and MariaDB.

The engine-level abstractions are network-free and fully tested:
``records_to_df`` (sources/records.py) consumes any list[dict] producer,
and the DBAPI sink (sources/dbapi_sink.py) consumes any zero-arg
connection factory. This module contains the ONLY production-specific
lines a drop-in deployment of the reference pipeline needs — the calls
that actually open a network client:

- reference tasks/bronze.py:22-47 pulls a sheet via
  ``gspread.service_account().open_by_key(...).get_all_records()``;
  :func:`read_gsheet` is that fetch routed into ``records_to_df`` with
  the same pinned-headers fallback and empty-payload error.
- reference tasks/bronze.py:88 writes MariaDB through Airflow's
  ``MySqlHook``; :func:`mariadb_connection_factory` builds the
  equivalent DBAPI factory for ``write_dbapi_upsert/append`` with
  ``dialect="mariadb"``.

Neither client library ships in this sandbox, so both are import-gated
behind :class:`MissingClientError` with the package named; the argument
plumbing is unit-tested with injected fakes (tests/test_live_clients.py).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from etl_acordos_spark.sources.records import records_to_df


class MissingClientError(ImportError):
    """A live connector was invoked without its client library installed."""


def gsheet_records(
    sheet_id: str,
    worksheet_title: str,
    service_account_path: str | None = None,
    expected_headers: Sequence[str] | None = None,
) -> list[dict[str, Any]]:
    """Fetch one worksheet as list[dict] via gspread (reference
    tasks/bronze.py:22-47). Network call — production path only."""
    try:
        import gspread
    except ImportError as exc:  # pragma: no cover - sandbox has no gspread
        raise MissingClientError(
            "read_gsheet requires the 'gspread' package (pip install "
            "gspread) and a service-account credential"
        ) from exc
    client = (
        gspread.service_account(filename=service_account_path)
        if service_account_path
        else gspread.service_account()
    )
    worksheet = client.open_by_key(sheet_id).worksheet(worksheet_title)
    if expected_headers is not None:
        # duplicate/dirty-header fallback, reference tasks/bronze.py:30-39
        return worksheet.get_all_records(
            expected_headers=list(expected_headers)
        )
    return worksheet.get_all_records()


def read_gsheet(
    spark: SparkSession,
    sheet_id: str,
    worksheet_title: str,
    service_account_path: str | None = None,
    expected_headers: Sequence[str] | None = None,
    fetch: Callable[..., list[dict[str, Any]]] = gsheet_records,
) -> DataFrame:
    """Google-Sheets ingest → DataFrame with the reference's guard
    semantics (empty payload is a hard error; pinned headers re-project
    dirty records). *fetch* is injectable for tests / alternate APIs."""
    records = fetch(
        sheet_id,
        worksheet_title,
        service_account_path=service_account_path,
        expected_headers=expected_headers,
    )
    return records_to_df(spark, records, expected_headers=expected_headers)


def mariadb_connection_factory(
    host: str,
    port: int,
    user: str,
    password: str,
    database: str,
    connect: Callable[..., Any] | None = None,
) -> Callable[[], Any]:
    """Zero-arg DBAPI connection factory for the DBAPI sink
    (reference tasks/bronze.py:88's MySqlHook connection, minus Airflow).

    Resolution order: explicit *connect* (tests / custom drivers), the
    ``mariadb`` connector (qmark placeholders — pair with
    ``dialect="mariadb"``), then ``pymysql`` (format placeholders — pair
    with ``dialect="mysql"``). The sink calls the factory once, on the
    driver, and runs every statement through ``conn.cursor()``.
    """

    def factory() -> Any:
        opener = connect
        if opener is None:
            try:
                import mariadb

                opener = mariadb.connect
            except ImportError:
                try:
                    import pymysql

                    opener = pymysql.connect
                except ImportError as exc:  # pragma: no cover
                    raise MissingClientError(
                        "mariadb_connection_factory requires the 'mariadb' "
                        "or 'pymysql' package"
                    ) from exc
        return opener(
            host=host,
            port=port,
            user=user,
            password=password,
            database=database,
        )

    return factory
