"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All implementations live in `etl_acordos_spark`; this module is the thin
registry adapter.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = str(Path(__file__).resolve().parent)
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from etl_acordos_spark.flagship import FLAGSHIP_ORACLE, flagship  # noqa: E402
from etl_acordos_spark.queries.base import (  # noqa: E402
    all_queries,
    ensure_package_shipped,
    rotate_unchecked_first,
)


def _shipped(
    fn: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """Ship the package zip to executors before the first plan builds —
    operators that pickle package functions (pandas UDFs, mapInPandas)
    must import `etl_acordos_spark` inside workers even when the driver
    harness launches from an arbitrary cwd."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_package_shipped(spark)
        return fn(spark, sf_dir)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    ensure_package_shipped(spark)
    return flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ flagship).

    Key order is the driver-verification schedule: never-driver-green
    keys rotate to the front of the (capped) CORRECTNESS window, green
    keys follow in registry order — see ``rotate_unchecked_first``.
    """
    regs = {name: _shipped(qd.fn) for name, qd in all_queries().items()}
    regs["flagship"] = _shipped(flagship)
    return {k: regs[k] for k in rotate_unchecked_first(list(regs))}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query key (omitted → rows-only check)."""
    out = {
        name: qd.oracle
        for name, qd in all_queries().items()
        if qd.oracle is not None
    }
    out["flagship"] = FLAGSHIP_ORACLE
    return out
