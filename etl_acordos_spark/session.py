"""SparkSession factory.

The reference runs each pipeline step as a single-threaded pandas process
under Airflow's LocalExecutor (reference docker-compose.yml:68,
tasks/bronze.py:43). Here one Spark application owns the whole dataflow:
the driver plans, executors run partitioned tasks, and all intra-layer
ordering falls out of lazy evaluation.

Defaults are chosen for correctness-at-scale first:
  - AQE on (runtime partition coalescing, skew-join splitting, join
    re-planning) — at 100 TB the static plan is always wrong somewhere.
  - UTC session timezone so timestamp semantics are stable across the
    cluster and reproducible against external oracles.
  - Arrow enabled for the Python boundary (Pandas UDFs, toPandas).
  - shuffle partitions default to the local core count
    (`SPARK_GRAFT_CPUS`, else 32); a real cluster deployment overrides
    via `extra_conf` (rule of thumb: 2-3x total executor cores, with AQE
    coalescing the tail).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM`` if set, else 48g clamped to the box's
    physical RAM in whole GiB (rounded down)."""
    explicit = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if explicit is not None:
        return explicit
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48, ram >> 30)}g"


def get_spark(
    app_name: str = "etl_acordos_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's default tuning."""
    # read once, at call time, so master and shuffle width always agree
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    conf = {
        "spark.sql.shuffle.partitions": cpus,
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        # 48g (clamped to RAM) for interactive work; tests/conftest.py,
        # bench.py and perfbench pin 8g (BASELINE.md neutrality check) so
        # recorded timings aren't flattered by an oversized driver heap.
        "spark.driver.memory": _default_driver_memory(),
        # Files >128MB split into tasks; at 100 TB this keeps scan tasks
        # memory-bounded regardless of file layout.
        "spark.sql.files.maxPartitionBytes": "134217728",
        # Managed (e.g. bucketed) tables land in scratch, not the repo.
        "spark.sql.warehouse.dir": os.environ.get(
            "SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"
        ),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def skew_profile(
    hot_block_raw_bytes: int,
    compression_ratio: float = 20.0,
    target_splits: int = 16,
) -> dict[str, str]:
    """``extra_conf`` preset encoding the round-11 skew adjudication
    (BASELINE.md "Round-11 skew stress extended to 30x").

    AQE's skew-split detector reads COMPRESSED shuffle bytes. A hot
    partition whose rows share one join key is pathologically
    compressible (~20-30x measured on the Zipf tile), so a 280 MB raw
    hot block can hide under a 16 MB compressed reading and never trip
    the default 256 MB threshold. This preset sizes the three knobs
    against compressed reality:

    - ``skewedPartitionThresholdInBytes`` / ``advisoryPartitionSizeInBytes``
      = compressed hot-block size / *target_splits* (floor 64 KB), so
      the detector fires AND the split advisory actually carves it;
    - ``spark.sql.files.maxPartitionBytes`` lowered so the scan yields
      enough map outputs — split granularity is capped by map-output
      count (a 2-file input can split a reduce partition at most ~2
      ways no matter the thresholds).

    With the r11 measurements (raw hot block 280 MB, ratio ~20, 16
    splits) this reproduces the adjudication ladder exactly —
    threshold/advisory ~1 MB, maxPartitionBytes 16 MB — which
    collapsed the measured 30x skew ratio 1.766 -> 1.160. Estimate
    *hot_block_raw_bytes* as hot-key row count x average row width;
    when the ratio is unknown, 20 is the measured floor for a
    constant-key block (overshooting the ratio only makes splits
    finer). For keys too hot even for splitting, use
    ``operators.relational.salted_join`` (reads 0.78 on the same tile
    with no tuning).
    """
    compressed = max(1, int(hot_block_raw_bytes / compression_ratio))
    piece = max(64 * 1024, compressed // target_splits)
    scan_bytes = min(134217728, max(piece * target_splits, 16 * 1024 * 1024))
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": str(
            piece
        ),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(piece),
        "spark.sql.files.maxPartitionBytes": str(scan_bytes),
    }
