"""`read_parquet` takes the schema Spark's writer put in the footer.

For a Spark-written layer it must return the same schema and rows as
`spark.read.parquet` without starting a Spark job; every other layout
falls back to Spark's own inference.
"""

from __future__ import annotations

import datetime as dt
import time
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from etl_acordos_spark.sources.parquet_io import read_parquet

TYPED_SQL = """
SELECT
  CAST(id AS STRING)                                   AS s,
  CAST(id AS INT)                                      AS i,
  id * 10000000000                                     AS l,
  id / 3.0D                                            AS d,
  CAST(id * 1.25 AS DECIMAL(10,2))                     AS dec,
  date_add(DATE'2020-01-01', CAST(id AS INT))          AS dt,
  TIMESTAMP'2021-03-04 05:06:07' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts,
  TIMESTAMP_NTZ'2021-03-04 05:06:07'                   AS ntz,
  id % 2 = 0                                           AS b,
  CAST(CAST(id AS STRING) AS BINARY)                   AS bin,
  array(id, id + 1)                                    AS arr,
  map(CAST(id AS STRING), id)                          AS m,
  named_struct('x', id, 'y', CAST(id AS STRING))       AS st,
  CAST(NULL AS DOUBLE)                                 AS all_null,
  CAST(CAST(id AS STRING) AS VARCHAR(5))               AS vc
FROM range(12)
"""


def _rows(df):
    return sorted(df.collect(), key=lambda r: tuple(map(repr, r)))


def _clear_job_group(sc):
    for key in ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel"):
        sc.setLocalProperty(key, None)


@pytest.mark.parametrize("files", [1, 3, 0], ids=["one", "three", "empty"])
def test_typed_layer_matches_inferred_read(spark, tmp_path, files):
    df = spark.sql(TYPED_SQL)
    df = df.limit(0) if files == 0 else df.repartition(files)
    path = str(tmp_path / "layer")
    df.write.parquet(path)

    got, want = read_parquet(spark, path), spark.read.parquet(path)
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)
    assert len(want.columns) == 15


def test_spark_written_layer_read_starts_no_job(spark, tmp_path):
    path = str(tmp_path / "layer")
    spark.range(5).withColumn("v", F.col("id") * 2).write.parquet(path)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("parquet_io_footer", "read_parquet")
        read_parquet(spark, path)
        # control: the inferred read of the same layer does start a job;
        # the listener bus is FIFO, so once the control's job is visible
        # any job from the read above is visible too
        sc.setJobGroup("parquet_io_control", "spark.read.parquet")
        spark.read.parquet(path)
    finally:
        _clear_job_group(sc)
    deadline = time.monotonic() + 30
    while (not tracker.getJobIdsForGroup("parquet_io_control")
           and time.monotonic() < deadline):
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup("parquet_io_control")
    assert list(tracker.getJobIdsForGroup("parquet_io_footer")) == []


def test_pyarrow_written_file_falls_back(spark, tmp_path):
    path = tmp_path / "foreign"
    path.mkdir()
    pq.write_table(
        pa.table({
            "k": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array([dt.datetime(2020, 1, 1)] * 3, pa.timestamp("us")),
            "amt": pa.array([Decimal("1.50")] * 3, pa.decimal128(10, 2)),
        }),
        str(path / "part-0.parquet"),
    )
    got, want = read_parquet(spark, str(path)), spark.read.parquet(str(path))
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)


def test_partitioned_layer_falls_back(spark, tmp_path):
    path = str(tmp_path / "by_year")
    (spark.range(6).withColumn("ano", (F.col("id") % 2 + 2020).cast("int"))
     .write.partitionBy("ano").parquet(path))
    got, want = read_parquet(spark, path), spark.read.parquet(path)
    assert got.schema == want.schema
    assert dict(got.dtypes)["ano"] == "int"
    assert _rows(got) == _rows(want)


def test_merge_schema_falls_back(spark, tmp_path):
    path = str(tmp_path / "evolving")
    spark.range(3).withColumn("a", F.lit("x")).write.parquet(path)
    spark.range(3, 5).withColumn("b", F.lit(1.5)).write.mode("append").parquet(path)
    key = "spark.sql.parquet.mergeSchema"
    prior = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        got, want = read_parquet(spark, path), spark.read.parquet(path)
        assert got.schema == want.schema
        assert set(got.columns) == {"id", "a", "b"}
        assert _rows(got) == _rows(want)
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


def test_object_store_uri_never_touches_a_filesystem(spark, monkeypatch):
    """An `s3a://` path goes straight to Spark: no local listing, no
    footer read (the hadoop-aws connector is not on this classpath, so
    only the helper's decision is checked, not the read)."""
    from etl_acordos_spark.sources import parquet_io

    def refuse(*args, **kwargs):
        raise AssertionError("filesystem touched for an object-store URI")

    monkeypatch.setattr(parquet_io.os, "scandir", refuse)
    monkeypatch.setattr(pq, "read_metadata", refuse)
    assert parquet_io._footer_schema(spark, "s3a://lake/silver/slv_acordos") is None
