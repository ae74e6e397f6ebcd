"""Core operator queries — the reference's own capability surface.

One declared query per SURVEY.md §2.1-2.5 key, each demonstrating the
operator over the driver testdata with a DuckDB oracle where expressible.
Reference citations are on the underlying implementations in
`etl_acordos_spark.functions` / `sources` / `plans`; here each query just
drives them.

Missing/dirty values are *injected deterministically* (keyed on stable
integer columns) because the testdata is clean — both the Spark plan and
the oracle SQL inject identically, so the cleaning operators are actually
exercised.
"""

from __future__ import annotations

import os
import sqlite3

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_acordos_spark.functions.cleaning import (
    cast_str,
    concat_sep,
    fill_default,
    left_n,
    normalize_column_names,
    parse_date_ddmmyyyy,
    sentinel_to_default,
    titlecase,
    trim_ws,
    year_of,
)
from etl_acordos_spark.plans.medallion import (
    MedallionConfig,
    bronze_transform,
    gold_fanout,
    silver_transform,
)
from etl_acordos_spark.plans.retry import RetryPolicy, run_with_retry
from etl_acordos_spark.queries.base import QueryDef, scratch_dir, t
from etl_acordos_spark.sources.dbapi_sink import (
    ddl_from_schema,
    write_dbapi_append,
    write_dbapi_upsert,
)
from etl_acordos_spark.sources.parquet_io import (
    parquet_exists,
    read_parquet,
    write_parquet_layer,
)
from etl_acordos_spark.sources.records import records_to_df
from etl_acordos_spark.sources.text_io import (
    read_csv,
    read_jsonl,
    read_orc,
    write_csv,
    write_jsonl,
    write_orc,
)

# ---------------------------------------------------------------- sources


def q_src_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet batch source (SURVEY §2.1 src_parquet; reference tasks/silver.py:32-34)."""
    return t(spark, sf_dir, "nation")


def q_src_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`binaryFile` source: the object-store entry point of a
    multimodal lake — raw files read as (path, content) rows, decoded
    downstream. Fixture PNGs (the SAME deterministic gradients as
    ext_mm_decode, stdlib codec) are materialized once into a fixed,
    generator-versioned scratch dir; the query then reads them back via
    spark.read.format("binaryFile"), parses the id out of the
    filename, and reduces each payload to integer-exact features whose
    closed form the SQL oracle replays over generate_series. At scale
    the fixture step is the part that already exists (files on object
    storage); the read path — distributed file listing, per-file tasks,
    payloads never shuffling — is what this key exercises."""
    import os

    import numpy as np

    from etl_acordos_spark.functions.png import encode_png
    from etl_acordos_spark.operators.multimodal import (
        extract_image_features,
    )

    # fixed SHARED dir (the content is fully deterministic, so every
    # process reuses it — a PID-scoped name would orphan one dir per
    # run), but versioned by the generator recipe: files are only
    # written when absent, so without the version tag a formula/dims
    # change would silently keep serving stale fixtures and diverge
    # from the closed-form oracle. Bump the tag whenever the gradient
    # formula, the dims derivation, or encode_png's output changes.
    # Concurrent writers are safe via write-to-tmp + atomic os.replace.
    root = os.path.join(scratch_dir(), "binary_src_xygrad256_8p9_8p7_v1")
    os.makedirs(root, exist_ok=True)
    for d in range(64):
        path = os.path.join(root, f"img_{d:04d}.png")
        if not os.path.exists(path):
            w, h = 8 + d % 9, 8 + d % 7
            yy, xx = np.mgrid[0:h, 0:w]
            tmp = f"{path}.{os.getpid()}.tmp"
            with open(tmp, "wb") as f:
                f.write(encode_png(((xx + yy + d) % 256).astype(np.uint8)))
            os.replace(tmp, path)
    media = (
        spark.read.format("binaryFile")
        .load(root)
        .select(
            F.regexp_extract(F.col("path"), r"img_(\d+)\.png$", 1)
            .cast("bigint")
            .alias("doc_id"),
            F.col("content").alias("payload"),
        )
    )
    return extract_image_features(media)


def q_src_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External list[dict] records source with pinned headers (SURVEY §2.1
    src_records; reference tasks/bronze.py:22-47). All values arrive as
    strings, like a Sheets payload."""
    import pyarrow.parquet as pq

    records = pq.read_table(os.path.join(sf_dir, "region.parquet")).to_pylist()
    df = records_to_df(spark, records, expected_headers=["r_regionkey", "r_name"])
    return df.select(
        F.col("r_regionkey").alias("r_regionkey"), F.col("r_name").alias("r_name")
    )


def q_snk_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet layer sink + read-back (SURVEY §2.1 snk_parquet; reference
    tasks/silver.py:77-90 single-object write → partitioned directory)."""
    path = write_parquet_layer(
        t(spark, sf_dir, "region"), scratch_dir(), "gold", "region_roundtrip"
    )
    return read_parquet(spark, path)


def q_snk_dbapi_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched DBAPI upsert sink (SURVEY §2.1 snk_jdbc_upsert; reference
    tasks/bronze.py:102-121 per-row UPDATE+INSERT → batched
    ``executemany`` upsert from the driver).

    Demonstrated against SQLite (same DBAPI shape as the MariaDB driver):
    first writes every nation row with a STALE name, then upserts the real
    rows keyed on n_nationkey — the final table must equal `nation`
    exactly, proving update-on-conflict semantics. The sink writes over
    one driver connection; parallel bulk loads belong on
    ``df.write.jdbc``.
    """
    db = os.path.join(scratch_dir(), "upsert_demo.sqlite")
    if os.path.exists(db):
        os.remove(db)
    nation = t(spark, sf_dir, "nation")
    stale = nation.withColumn("n_name", F.lit("STALE"))
    conn_factory = lambda: sqlite3.connect(db)  # noqa: E731
    write_dbapi_upsert(stale, "nation_sink", conn_factory, "n_nationkey", writer_partitions=1)
    write_dbapi_upsert(nation, "nation_sink", conn_factory, "n_nationkey", writer_partitions=1)
    with sqlite3.connect(db) as conn:
        rows = conn.execute(
            "SELECT n_nationkey, n_name, n_regionkey FROM nation_sink"
        ).fetchall()
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


def q_snk_dbapi_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched DBAPI append sink (SURVEY §2.1 snk_jdbc_append; reference
    tasks/silver.py:95-139 DDL + per-row insert loop → batched
    ``executemany`` append from the driver). Rerun-stable: the demo table
    is dropped before each run, matching the reference's CREATE-then-load
    shape."""
    db = os.path.join(scratch_dir(), "append_demo.sqlite")
    if os.path.exists(db):
        os.remove(db)
    region = t(spark, sf_dir, "region")
    conn_factory = lambda: sqlite3.connect(db)  # noqa: E731
    write_dbapi_append(region, "region_sink", conn_factory, writer_partitions=1)
    with sqlite3.connect(db) as conn:
        rows = conn.execute(
            "SELECT r_regionkey, r_name FROM region_sink"
        ).fetchall()
    schema = T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


def q_src_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV interchange source: export `region` to CSV, read it back with a
    pinned schema (no inference pass — the 100 TB posture; see
    sources/text_io.py). Extends the reference's parquet-only surface."""
    path = os.path.join(scratch_dir(), "csv_roundtrip")
    write_csv(t(spark, sf_dir, "region").select("r_regionkey", "r_name"), path)
    schema = T.StructType(
        [
            T.StructField("r_regionkey", T.LongType()),
            T.StructField("r_name", T.StringType()),
        ]
    )
    return read_csv(spark, path, schema)


def q_src_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines interchange source: export `nation` to JSONL, read back
    with a pinned schema."""
    path = os.path.join(scratch_dir(), "jsonl_roundtrip")
    write_jsonl(
        t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey"),
        path,
    )
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.LongType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.LongType()),
        ]
    )
    return read_jsonl(spark, path, schema)


def q_src_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC interchange: export `supplier` to ORC, read it back from the
    file footer's schema. Columnar with stripe stats (pushdown/pruning
    like Parquet) — the lake format when the ecosystem is ORC-native."""
    path = os.path.join(scratch_dir(), "orc_roundtrip")
    write_orc(
        t(spark, sf_dir, "supplier").select(
            "s_suppkey", "s_name", "s_nationkey"
        ),
        path,
    )
    return read_orc(spark, path)


def q_snk_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned layer write + pruned read-back.

    Writes `orders` partitioned by derived `ano`, then reads back ONE
    partition — the scan lists only `ano=1995/` (partition pruning: the
    filter never touches other years' files). This is the layout the
    medallion writes use for 100 TB scans; tests/test_scale_paths.py
    asserts the pruning on inputFiles.
    """
    src = t(spark, sf_dir, "orders").withColumn("ano", F.year("o_orderdate"))
    path = write_parquet_layer(
        src,
        scratch_dir(),
        "gold",
        "orders_by_year",
        partition_by=["ano"],
    )
    # read back with the writer's schema: a hive-partitioned write of
    # an EMPTY table leaves no data files to infer from, and any real
    # medallion reader knows the layer schema it expects anyway
    return (
        spark.read.schema(src.schema).parquet(path)
        .filter(F.col("ano") == 1995)
        .select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.col("ano").cast("int").alias("ano"),
        )
    )


def q_chk_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-read existence check (SURVEY §2.1 chk_exists; reference
    tasks/silver.py:25-30). Metadata-only Hadoop FS call."""
    keys = ["region.parquet", "no_such_table.parquet"]
    rows = [(k, parquet_exists(spark, os.path.join(sf_dir, k))) for k in keys]
    return spark.createDataFrame(rows, "key string, exists boolean")


def q_ddl_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed DDL generation (SURVEY §2.1 ddl_infer; reference
    tasks/bronze.py:94-99 name-based map → schema-type-based)."""
    schema = t(spark, sf_dir, "orders").schema
    ddl = ddl_from_schema("orders_wh", schema)
    body = ddl.split("(", 1)[1].rsplit(")", 1)[0]
    rows = []
    for part in body.split(", "):
        name, sql_type = part.split(" ", 1)
        rows.append((name.strip('"'), sql_type))
    return spark.createDataFrame(rows, "column_name string, sql_type string")


# ------------------------------------------------- projections / filters


def q_prj_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-subset projection (SURVEY §2.2 prj_select; reference
    tasks/silver.py:72). Column pruning reaches the parquet scan."""
    return t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


def q_prj_rename_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-name normalization (SURVEY §2.2 prj_rename_norm; reference
    tasks/bronze.py:49-51). Dirty headers in, snake_case out."""
    region = t(spark, sf_dir, "region")
    dirty = region.select(
        F.col("r_regionkey").alias("R RegionKey"), F.col("r_name").alias("R Name")
    )
    return normalize_column_names(dirty).select(
        F.col("r_regionkey"), F.col("r_name")
    )


def q_flt_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-equality row filter (SURVEY §2.2 flt_eq; reference
    tasks/gold.py:42-43). Predicate pushes down to the parquet scan."""
    return (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


# ------------------------------------------------------ scalar functions


def q_fn_to_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd/MM/yyyy parse with coerce-to-null (SURVEY §2.3 fn_to_date;
    reference tasks/bronze.py:55-58). Malformed values (here an invalid
    calendar date) parse to NULL, never error."""
    orders = t(spark, sf_dir, "orders")
    raw = F.when(F.col("o_orderkey") % 97 == 0, F.lit("31/02/2020")).otherwise(
        F.date_format("o_orderdate", "dd/MM/yyyy")
    )
    return orders.select(
        "o_orderkey", parse_date_ddmmyyyy(raw).alias("celebrado_em")
    )


def q_fn_cast_str(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String casts (SURVEY §2.3 fn_cast_str; reference tasks/bronze.py:60)."""
    orders = t(spark, sf_dir, "orders")
    return orders.select(
        cast_str("o_orderkey").alias("key_str"),
        cast_str(F.col("o_orderdate").cast("date")).alias("date_str"),
    )


def q_fn_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace trim (SURVEY §2.3 fn_trim; reference tasks/bronze.py:61)."""
    customer = t(spark, sf_dir, "customer")
    padded = F.concat(F.lit("  "), F.col("c_name"), F.lit("   "))
    return customer.select("c_custkey", trim_ws(padded).alias("c_name"))


def q_fn_left255(spark: SparkSession, sf_dir: str) -> DataFrame:
    """255-char truncation (SURVEY §2.3 fn_left255; reference
    tasks/bronze.py:59-62 — dead code there, live here)."""
    docs = t(spark, sf_dir, "documents")
    return docs.select("doc_id", left_n("text", 255).alias("text_head"))


def q_fn_fillna_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-marker normalization (SURVEY §2.3 fn_fillna_norm; reference
    tasks/bronze.py:66-68 replaces ''/'NaN'/NaT with a single NA). In
    Spark every marker collapses to SQL NULL."""
    customer = t(spark, sf_dir, "customer")
    dirty = (
        F.when(F.col("c_custkey") % 4 == 0, F.lit(""))
        .when(F.col("c_custkey") % 4 == 1, F.lit("NaN"))
        .otherwise(F.col("c_mktsegment"))
    )
    normalized = F.when(dirty.isin("", "NaN", "nan", "None"), F.lit(None)).otherwise(
        dirty
    )
    return customer.select("c_custkey", normalized.alias("segment"))


def q_fn_fill_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL → 'não informado' (SURVEY §2.3 fn_fill_default; reference
    tasks/silver.py:37-52, with the continente-discard bug fixed)."""
    customer = t(spark, sf_dir, "customer")
    dirty = F.when(F.col("c_custkey") % 4 == 0, F.lit(None)).otherwise(
        F.col("c_mktsegment")
    )
    return customer.select(
        "c_custkey", fill_default(dirty).alias("segment")
    )


def q_fn_sentinel_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'-' sentinel → 'não informado' (SURVEY §2.3 fn_sentinel_replace;
    reference tasks/silver.py:38-52)."""
    customer = t(spark, sf_dir, "customer")
    dirty = F.when(F.col("c_custkey") % 5 == 0, F.lit("-")).otherwise(
        F.col("c_mktsegment")
    )
    return customer.select(
        "c_custkey", sentinel_to_default(dirty).alias("segment")
    )


def q_fn_titlecase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Title-casing (SURVEY §2.3 fn_titlecase; reference
    tasks/silver.py:56-65). Covers multi-word ('MIDDLE EAST') and
    non-alpha-adjacent ('NATION_3') inputs."""
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    joined = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    )
    full = F.concat(F.col("r_name"), F.lit(" "), F.col("n_name"))
    return joined.select(
        "n_nationkey", titlecase(F.lower(full)).alias("place")
    )


def q_fn_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year derivation (SURVEY §2.3 fn_year; reference tasks/silver.py:69)."""
    orders = t(spark, sf_dir, "orders")
    return orders.select("o_orderkey", year_of("o_orderdate").alias("ano"))


def q_fn_concat_sep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-propagating separator concat (SURVEY §2.3 fn_concat_sep;
    reference tasks/gold.py:37-39 — pandas `+` nulls out on NaN, so
    `concat`, NOT `concat_ws`). NULLs injected on one region to prove
    propagation."""
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    joined = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    )
    r_maybe_null = F.when(F.col("r_name") == "ASIA", F.lit(None)).otherwise(
        F.col("r_name")
    )
    return joined.select(
        "n_nationkey",
        concat_sep([r_maybe_null, F.col("n_name")], " > ").alias("hierarquia"),
    )


# --------------------------------------------------- aggregation / dedup


def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + exact dedup (SURVEY §2.4 agg_distinct; reference
    tasks/silver.py:72 drop_duplicates → spillable HashAggregate)."""
    return t(spark, sf_dir, "customer").select("c_nationkey", "c_mktsegment").distinct()


# ------------------------------------------------------- dataflow shape


def q_flow_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One enriched frame → N outputs computed once (SURVEY §2.5
    flow_fanout; reference tasks/gold.py:36-68 + the 4× recompute bug in
    dag_main.py:62-77, fixed here)."""
    customer = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    enriched = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    )
    outputs = gold_fanout(
        enriched,
        derived={
            "nation_segment": concat_sep(["n_name", "c_mktsegment"], " :: ")
        },
        branches={
            "acordos": None,
            "pais": F.col("c_mktsegment") == "BUILDING",
            "org": F.col("c_mktsegment") == "MACHINERY",
        },
        branch_select={
            "acordos": ["nation_segment"],
            "pais": ["c_custkey", "nation_segment"],
            "org": ["c_custkey", "nation_segment"],
        },
    )
    counts = [
        df.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(name).alias("branch"), "n"
        )
        for name, df in outputs.items()
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


def q_flow_dag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full bronze→silver→gold medallion run with real parquet layer
    boundaries (SURVEY §2.5 flow_dag; reference dag_main.py:39-79).

    Dirty raw input is derived deterministically from `orders` (ugly
    headers, dd/MM/yyyy date strings with malformed values, '-' sentinels,
    NULLs), then each layer is written to scratch parquet and re-read —
    the medallion contract, restartable at every boundary.
    """
    base = scratch_dir()
    orders = t(spark, sf_dir, "orders")
    raw = orders.select(
        cast_str("o_orderkey").alias("Order Key"),
        F.when(F.col("o_orderkey") % 97 == 0, F.lit("31/02/2020"))
        .otherwise(F.date_format("o_orderdate", "dd/MM/yyyy"))
        .alias("Order Date"),
        F.when(F.col("o_orderkey") % 5 == 0, F.lit("-"))
        .otherwise(F.col("o_orderpriority"))
        .alias("Priority"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("o_orderstatus"))
        .alias("Status"),
    )
    cfg = MedallionConfig(
        date_columns=["order_date"],
        default_columns=["priority", "status"],
        year_source="order_date",
        keep_columns=["priority", "status", "ano"],
    )
    bronze = bronze_transform(raw, cfg)
    bronze_path = write_parquet_layer(bronze, base, "bronze", "pedidos")
    silver = silver_transform(read_parquet(spark, bronze_path), cfg)
    silver_path = write_parquet_layer(silver, base, "silver", "pedidos")
    gold = (
        read_parquet(spark, silver_path)
        .groupBy("ano", "status")
        .agg(F.count(F.lit(1)).alias("n_combos"))
    )
    gold_path = write_parquet_layer(gold, base, "gold", "pedidos")
    return read_parquet(spark, gold_path)


def q_flow_retry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink retry policy (SURVEY §2.5 flow_retry; reference
    dag_main.py:18-19 — but failing loudly after retries, unlike
    tasks/bronze.py:123-124). Demonstrated with a once-flaky action."""
    state = {"attempts": 0}

    def flaky() -> int:
        state["attempts"] += 1
        if state["attempts"] == 1:
            raise RuntimeError("transient sink failure")
        return t(spark, sf_dir, "region").count()

    n = run_with_retry(flaky, RetryPolicy(retries=1, delay_seconds=0))
    return spark.createDataFrame(
        [(state["attempts"], int(n))], "attempts int, region_rows int"
    )


# ---------------------------------------------------------------- oracles

_ORACLES: dict[str, str | None] = {
    "src_parquet": "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    "src_records": (
        "SELECT CAST(r_regionkey AS VARCHAR) AS r_regionkey, r_name FROM region"
    ),
    "snk_parquet": "SELECT r_regionkey, r_name FROM region",
    "src_csv": "SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name FROM region",
    "src_json": (
        "SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,"
        " CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation"
    ),
    "src_orc": "SELECT s_suppkey, s_name, s_nationkey FROM supplier",
    "src_binary": (
        # closed-form replay of the gradient fixtures (same algebra as
        # ext_mm_decode's oracle, over generate_series instead of docs)
        "WITH dims AS (SELECT unnest(generate_series(0, 63)) AS doc_id),"
        " d2 AS (SELECT doc_id,"
        "  CAST(8 + doc_id % 9 AS INTEGER) AS width,"
        "  CAST(8 + doc_id % 7 AS INTEGER) AS height FROM dims),"
        " px AS (SELECT doc_id, width, height,"
        "   (x.v + y.v + doc_id) % 256 AS p"
        "  FROM d2,"
        "  LATERAL (SELECT unnest(generate_series(0,"
        "   CAST(width AS BIGINT) - 1)) AS v) x,"
        "  LATERAL (SELECT unnest(generate_series(0,"
        "   CAST(height AS BIGINT) - 1)) AS v) y)"
        " SELECT doc_id, width, height, 1 AS channels,"
        "  CAST(sum(p) AS BIGINT) AS sum_px"
        " FROM px GROUP BY doc_id, width, height"
    ),
    "snk_partitioned": (
        "SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice,"
        " CAST(year(o_orderdate) AS INTEGER) AS ano"
        " FROM orders WHERE year(o_orderdate) = 1995"
    ),
    "snk_dbapi_upsert": "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    # contract oracle (the ext_compaction recipe): the probe's expected
    # answer is fully determined — region.parquet exists in every
    # testdata dir, no_such_table.parquet never does — so a broken FS
    # probe hash-mismatches instead of passing a rows-only check
    "chk_exists": (
        "SELECT * FROM (VALUES ('region.parquet', TRUE),"
        " ('no_such_table.parquet', FALSE)) t(key, \"exists\")"
    ),
    "ddl_infer": (
        "SELECT * FROM (VALUES"
        " ('o_orderkey','BIGINT'), ('o_custkey','BIGINT'),"
        " ('o_orderstatus','TEXT'), ('o_totalprice','DOUBLE PRECISION'),"
        " ('o_orderdate','TIMESTAMP'), ('o_orderpriority','TEXT')"
        ") AS t(column_name, sql_type)"
    ),
    "prj_select": "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders",
    "prj_rename_norm": "SELECT r_regionkey, r_name FROM region",
    "flt_eq": (
        "SELECT c_custkey, c_name, c_mktsegment FROM customer"
        " WHERE c_mktsegment = 'BUILDING'"
    ),
    "fn_to_date": (
        "SELECT o_orderkey,"
        " CASE WHEN o_orderkey % 97 = 0 THEN NULL"
        " ELSE CAST(o_orderdate AS DATE) END AS celebrado_em"
        " FROM orders"
    ),
    "fn_cast_str": (
        "SELECT CAST(o_orderkey AS VARCHAR) AS key_str,"
        " CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS date_str FROM orders"
    ),
    "fn_trim": (
        "SELECT c_custkey, trim('  ' || c_name || '   ') AS c_name FROM customer"
    ),
    "fn_left255": "SELECT doc_id, substring(text, 1, 255) AS text_head FROM documents",
    "fn_fillna_norm": (
        "SELECT c_custkey,"
        " CASE WHEN c_custkey % 4 IN (0, 1) THEN NULL"
        " ELSE c_mktsegment END AS segment FROM customer"
    ),
    "fn_fill_default": (
        "SELECT c_custkey,"
        " CASE WHEN c_custkey % 4 = 0 THEN 'não informado'"
        " ELSE c_mktsegment END AS segment FROM customer"
    ),
    "fn_sentinel_replace": (
        "SELECT c_custkey,"
        " CASE WHEN c_custkey % 5 = 0 THEN 'não informado'"
        " ELSE c_mktsegment END AS segment FROM customer"
    ),
    "fn_titlecase": (
        "SELECT n_nationkey,"
        " array_to_string(list_transform("
        "   string_split(lower(r_name || ' ' || n_name), ' '),"
        "   x -> upper(x[1]) || x[2:]), ' ') AS place"
        " FROM nation JOIN region ON n_regionkey = r_regionkey"
    ),
    "fn_year": (
        "SELECT o_orderkey, CAST(year(o_orderdate) AS INTEGER) AS ano FROM orders"
    ),
    "fn_concat_sep": (
        "SELECT n_nationkey,"
        " (CASE WHEN r_name = 'ASIA' THEN NULL ELSE r_name END"
        "  || ' > ' || n_name) AS hierarquia"
        " FROM nation JOIN region ON n_regionkey = r_regionkey"
    ),
    "agg_distinct": "SELECT DISTINCT c_nationkey, c_mktsegment FROM customer",
    "flow_fanout": (
        "SELECT 'acordos' AS branch, count(*) AS n FROM ("
        "  SELECT DISTINCT n_name || ' :: ' || c_mktsegment"
        "  FROM customer JOIN nation ON c_nationkey = n_nationkey)"
        " UNION ALL"
        " SELECT 'pais', count(*) FROM customer WHERE c_mktsegment = 'BUILDING'"
        " UNION ALL"
        " SELECT 'org', count(*) FROM customer WHERE c_mktsegment = 'MACHINERY'"
    ),
    "flow_dag": (
        "WITH raw AS ("
        "  SELECT CAST(o_orderkey AS VARCHAR) AS order_key,"
        "    CASE WHEN o_orderkey % 97 = 0 THEN '31/02/2020'"
        "      ELSE strftime(o_orderdate, '%d/%m/%Y') END AS order_date,"
        "    CASE WHEN o_orderkey % 5 = 0 THEN '-'"
        "      ELSE o_orderpriority END AS priority,"
        "    CASE WHEN o_orderkey % 7 = 0 THEN NULL"
        "      ELSE o_orderstatus END AS status"
        "  FROM orders"
        "), bronze AS ("
        "  SELECT order_key,"
        "    CAST(try_strptime(order_date, '%d/%m/%Y') AS DATE) AS order_date,"
        "    priority, status"
        "  FROM raw"
        "), silver AS ("
        "  SELECT DISTINCT"
        "    COALESCE(NULLIF(priority, '-'), 'não informado') AS priority,"
        "    COALESCE(NULLIF(status, '-'), 'não informado') AS status,"
        "    CAST(year(order_date) AS INTEGER) AS ano"
        "  FROM bronze"
        ")"
        " SELECT ano, status, count(*) AS n_combos FROM silver GROUP BY ano, status"
    ),
    # contract oracle: attempts == 2 IS the policy contract (one
    # transient failure + one retry), and the retried action's result
    # is SQL-derived — a policy that stops retrying, retries forever,
    # or drops the result now hash-mismatches
    "flow_retry": (
        "SELECT CAST(2 AS INTEGER) AS attempts,"
        " CAST(count(*) AS INTEGER) AS region_rows FROM region"
    ),
}

QUERIES: dict[str, QueryDef] = {
    "src_parquet": QueryDef(q_src_parquet, _ORACLES["src_parquet"]),
    "src_binary": QueryDef(q_src_binary, _ORACLES["src_binary"]),
    "src_records": QueryDef(q_src_records, _ORACLES["src_records"]),
    "snk_parquet": QueryDef(q_snk_parquet, _ORACLES["snk_parquet"]),
    "src_csv": QueryDef(q_src_csv, _ORACLES["src_csv"]),
    "src_json": QueryDef(q_src_json, _ORACLES["src_json"]),
    "src_orc": QueryDef(q_src_orc, _ORACLES["src_orc"]),
    "snk_partitioned": QueryDef(q_snk_partitioned, _ORACLES["snk_partitioned"]),
    "snk_dbapi_append": QueryDef(
        q_snk_dbapi_append,
        "SELECT CAST(r_regionkey AS INTEGER) AS r_regionkey, r_name FROM region",
    ),
    "snk_dbapi_upsert": QueryDef(q_snk_dbapi_upsert, _ORACLES["snk_dbapi_upsert"]),
    "chk_exists": QueryDef(q_chk_exists, _ORACLES["chk_exists"]),
    "ddl_infer": QueryDef(q_ddl_infer, _ORACLES["ddl_infer"]),
    "prj_select": QueryDef(q_prj_select, _ORACLES["prj_select"]),
    "prj_rename_norm": QueryDef(q_prj_rename_norm, _ORACLES["prj_rename_norm"]),
    "flt_eq": QueryDef(q_flt_eq, _ORACLES["flt_eq"]),
    "fn_to_date": QueryDef(q_fn_to_date, _ORACLES["fn_to_date"]),
    "fn_cast_str": QueryDef(q_fn_cast_str, _ORACLES["fn_cast_str"]),
    "fn_trim": QueryDef(q_fn_trim, _ORACLES["fn_trim"]),
    "fn_left255": QueryDef(q_fn_left255, _ORACLES["fn_left255"]),
    "fn_fillna_norm": QueryDef(q_fn_fillna_norm, _ORACLES["fn_fillna_norm"]),
    "fn_fill_default": QueryDef(q_fn_fill_default, _ORACLES["fn_fill_default"]),
    "fn_sentinel_replace": QueryDef(
        q_fn_sentinel_replace, _ORACLES["fn_sentinel_replace"]
    ),
    "fn_titlecase": QueryDef(q_fn_titlecase, _ORACLES["fn_titlecase"]),
    "fn_year": QueryDef(q_fn_year, _ORACLES["fn_year"]),
    "fn_concat_sep": QueryDef(q_fn_concat_sep, _ORACLES["fn_concat_sep"]),
    "agg_distinct": QueryDef(q_agg_distinct, _ORACLES["agg_distinct"]),
    "flow_fanout": QueryDef(q_flow_fanout, _ORACLES["flow_fanout"]),
    "flow_dag": QueryDef(q_flow_dag, _ORACLES["flow_dag"]),
    "flow_retry": QueryDef(q_flow_retry, _ORACLES["flow_retry"]),
}
