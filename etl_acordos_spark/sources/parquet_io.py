"""Parquet layer IO — the lake side of the medallion architecture.

The reference stores one Parquet object per table per layer in MinIO with
a ``brz_/slv_/gld_`` prefix convention (reference tasks/bronze.py:79-82,
tasks/silver.py:77-90, tasks/gold.py:53-68) and does a list-bucket
existence check before each read (tasks/silver.py:25-30,
tasks/gold.py:25-30).

Spark-first re-expression: `spark.read.parquet` / `df.write.parquet` —
predicate pushdown, column pruning, and partition pruning come from
Catalyst for free. Layer naming stays a path convention; on a cluster the
same paths are `s3a://` URIs (hadoop-aws), nothing here changes.

Layer reads take their schema from the writer. Spark records the frame's
schema in every Parquet footer it writes; `read_parquet` reads that
footer on the driver and passes the schema to the reader, so reading a
layer back starts no schema-inference Spark job. Foreign-written files,
hive-partitioned layers, merged schemas and object-store URIs (`s3a://`)
still infer as `spark.read.parquet` does.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

LAYER_PREFIXES = {"bronze": "brz", "silver": "slv", "gold": "gld"}


def layer_key(layer: str, name: str) -> str:
    """``('silver', 'acordos') -> 'silver/slv_acordos'`` — the reference's
    object-key convention (tasks/bronze.py:82, tasks/silver.py:84-89)."""
    prefix = LAYER_PREFIXES[layer]
    return f"{layer}/{prefix}_{name}"


# Footer key under which Spark's Parquet writer stores the row schema as
# JSON (ParquetReadSupport.SPARK_METADATA_KEY).
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _hidden(name: str) -> bool:
    """Spark's file-index rule for names a directory listing skips."""
    return (
        name.startswith(".")
        or (name.startswith("_") and "=" not in name)
        or name.endswith("._COPYING_")
    )


def _footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema Spark's writer recorded for the table at *path*, or
    ``None`` when Spark's own inference must run.

    With ``mergeSchema`` off, Spark infers a schema from one footer: a
    summary file if there is one, else a data file, where it takes the
    writer's schema key verbatim. This reads the same key from the
    lexicographically first data file, on the driver. Only a local,
    absolute directory of data files qualifies; a URI (no local path), a
    partition subdirectory (partition columns come from the directory
    names), a summary file, ``mergeSchema=true`` and a footer without the
    key all return ``None``.
    """
    if not os.path.isabs(path):
        return None
    if spark.conf.get("spark.sql.parquet.mergeSchema", "false").lower() == "true":
        return None
    try:
        with os.scandir(path) as it:
            entries = sorted(it, key=lambda e: e.name)
    except OSError:  # missing, or a file rather than a directory
        return None
    data = []
    for entry in entries:
        if entry.name.startswith(("_metadata", "_common_metadata")):
            return None
        if _hidden(entry.name):
            continue
        if entry.is_dir():
            return None
        data.append(entry.path)
    if not data:
        return None
    import pyarrow.parquet as pq

    try:
        footer = pq.read_metadata(data[0]).metadata or {}
    except (OSError, ValueError):  # unreadable: let Spark report it
        return None
    raw = footer.get(_SPARK_SCHEMA_KEY)
    if raw is None:
        return None
    try:
        return StructType.fromJson(json.loads(raw))
    except ValueError:  # a legacy schema string Spark parses itself
        return None


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read a Parquet table (reference tasks/silver.py:32-34). Lazy —
    filters/projections applied later are pushed into this scan.

    The schema comes from the footer Spark wrote (see `_footer_schema`),
    so the read starts no Spark job; Spark makes it nullable exactly as
    it does an inferred one. Anything else falls back to
    ``spark.read.parquet(path)`` and its inference job: files written by
    another library, hive-partitioned layers, an empty directory,
    ``spark.sql.parquet.mergeSchema=true``, and object-store or other
    URIs (``s3a://``), whose footers are not read from the driver, and
    relative paths. An absolute scheme-less path is read as a
    driver-local file, as in local mode.
    """
    schema = _footer_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one of the testdata tables from a scale-factor directory."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def parquet_exists(spark: SparkSession, path: str) -> bool:
    """Existence check before read (reference tasks/silver.py:25-30).

    Uses the Hadoop FileSystem API so it works identically for local
    paths and object stores — no data read, metadata only.
    """
    sc = spark.sparkContext
    hadoop_path = sc._jvm.org.apache.hadoop.fs.Path(path)  # type: ignore[union-attr]
    fs = hadoop_path.getFileSystem(sc._jsc.hadoopConfiguration())  # type: ignore[union-attr]
    return bool(fs.exists(hadoop_path))


def write_bucketed_table(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int,
    path: str,
    fingerprint: str | None = None,
) -> DataFrame:
    """Write *df* as a bucketed + sorted Parquet table and return the
    catalog-backed read of it.

    Bucketing is the co-located-join layout for 100 TB facts: both sides
    of a recurring equi-join are written hash-bucketed by the join key
    with the same bucket count, so every subsequent join between them is
    exchange-free — the scan itself satisfies the join's distribution
    requirement. The `repartition(buckets, key)` before the write aligns
    write-partitions with buckets (repartition and the bucket spec use
    the same murmur3 pmod), yielding exactly one file per bucket.

    Pass *fingerprint* (any string identifying the source data + bucket
    spec) to get the pay-once-reuse contract bucketing exists for: when
    the catalog already holds *table* and the marker written alongside
    the buckets matches, the write is skipped and the existing layout is
    served. A changed source (new mtime/size) changes the fingerprint
    and forces a rewrite — stale buckets are never silently reused.
    """
    spark = df.sparkSession
    marker = os.path.join(path, "_BUCKET_FINGERPRINT")
    if fingerprint is not None and spark.catalog.tableExists(table):
        try:
            with open(marker, encoding="utf-8") as fh:
                if fh.read() == fingerprint:
                    return spark.table(table)
        except OSError:
            pass
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    (
        df.repartition(buckets, F.col(key))
        .write.format("parquet")
        .mode("overwrite")
        .bucketBy(buckets, key)
        .sortBy(key)
        .option("path", path)
        .saveAsTable(table)
    )
    if fingerprint is not None:
        with open(marker, "w", encoding="utf-8") as fh:
            fh.write(fingerprint)
    return spark.table(table)


def write_parquet_layer(
    df: DataFrame,
    base_dir: str,
    layer: str,
    name: str,
    partition_by: list[str] | None = None,
) -> str:
    """Write a DataFrame as a medallion-layer Parquet table.

    Reference writes a single whole-table object (tasks/silver.py:77-90);
    here the write is partitioned (directory of part-files, optionally
    hive-partitioned by e.g. a year column) so downstream scans prune and
    parallelize — the 100 TB-safe layout.
    """
    path = os.path.join(base_dir, layer_key(layer, name))
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return path
