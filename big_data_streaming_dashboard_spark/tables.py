"""Fixture table loaders + the radiation-analog bronze view.

The driver fixtures (/root/testdata/sf*/ -- TESTDATA.md) are TPC-H-ish
tables plus ``events``/``documents``/``embeddings``. The reference
pipeline operates on radiation records (captured_time, lat, lon, value,
unit -- SURVEY.md section 1.2); we derive a deterministic *bronze
radiation* table from ``events`` so every reference operator has real
(and really dirty) input, and the exact same derivation is expressed in
ANSI SQL for the DuckDB oracle (plans/fragments.py::BRONZE_SQL).

Dirt injection is modulus-based on event_id so it is reproducible and
SQL-expressible: out-of-range coords, non-numeric strings, bad units,
nulls, timestamp format variants -- every rejection reason of the
reference's validator (flink_process/flink_process.py:105-137) gets rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .physical import session_cached

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# columns stored as TIMESTAMP(NANOS) in the fixtures -- Spark reads them
# as long (nanosAsLong, session.py); convert to micros-truncated
# timestamps exactly like DuckDB's reader does
_NANO_TS_COLUMNS = {"events": ["ts"]}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # session-cached: what a real engine's CATALOG does -- the scan
    # DataFrame is an immutable plan, and re-deriving it costs a parquet
    # schema-inference round trip per call (a star query touches 5 tables)
    return session_cached(
        spark, ("table", sf_dir, name), lambda: _read_table(spark, sf_dir, name)
    )


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name in _NANO_TS_COLUMNS:
        # runtime-set so it also holds on a caller-provided session (the
        # driver builds its own SparkSession without our factory config)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for col in _NANO_TS_COLUMNS.get(name, []):
        if dict(df.dtypes).get(col) == "bigint":
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    return df


def spread(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Fan a small scan out to all cores before expression-heavy stages.

    Local-scale artifact fix: a few-MB parquet file yields ONE input
    partition (below maxPartitionBytes), serializing every downstream
    projection. On a real cluster the scan already produces >= cores
    splits and this is a no-op branch; the round-robin shuffle it adds
    here moves only the raw few MB.
    """
    n = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (for spark.sql use)."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def bronze_radiation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radiation-analog bronze table derived from ``events``.

    Schema mirrors the raw Kafka record (SURVEY.md section 1.2(b)):
    stringly-typed ``captured_time/latitude/longitude/value/unit`` plus
    ``ingestion_timestamp`` (epoch ms) and the originating ``event_id``
    (kept for deterministic ordering/dedup tie-breaks).

    Must stay in lock-step with plans/fragments.py::BRONZE_SQL.
    """
    # session-cached: an immutable logical plan, safe to reuse across
    # queries. Building one costs ~2.5 s (parquet schema read + the
    # spread() partition probe + the dirt-injection CASE trees) and ~15
    # registry queries start from it
    return session_cached(
        spark, ("bronze", sf_dir), lambda: _derive_bronze(spark, sf_dir)
    )


def _derive_bronze(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spread(load_table(spark, sf_dir, "events"), spark)
    ts_str = F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
    lat = (((F.col("user_id") * 37 + F.col("event_id")) % 18000).cast("double") / 100.0) - 90.0
    lon = (((F.col("user_id") * 73 + F.col("event_id") * 7) % 36000).cast("double") / 100.0) - 180.0
    cpm = F.col("value") * 4.0

    captured_time = (
        F.when(F.col("event_id") % 401 == 0, F.lit(None).cast("string"))  # missing field (F1)
        .when(F.col("event_id") % 997 == 0, F.lit("not-a-time"))  # unparseable (P4)
        .when(F.col("event_id") % 13 == 0, F.concat(ts_str, F.lit("+09:00")))  # tz suffix
        .when(F.col("event_id") % 17 == 0, F.concat(ts_str, F.lit("Z")))  # zulu suffix
        .when(F.col("event_id") % 19 == 0, F.concat(ts_str, F.lit(".123")))  # fractional
        .otherwise(ts_str)
    )
    latitude = (
        F.when(F.col("event_id") % 211 == 0, F.lit("abc"))  # non-numeric
        .when(F.col("event_id") % 103 == 0, F.format_string("%.2f", lat + 200.0))  # out of range
        .otherwise(F.format_string("%.2f", lat))
    )
    longitude = (
        F.when(F.col("event_id") % 223 == 0, F.lit(""))  # empty -> non-numeric
        .when(F.col("event_id") % 113 == 0, F.format_string("%.2f", lon + 400.0))  # out of range
        .otherwise(F.format_string("%.2f", lon))
    )
    value = (
        F.when(F.col("event_id") % 227 == 0, F.lit("oops"))  # non-numeric
        # 0.0 - cpm (not -cpm): keeps IEEE +0.0 when cpm == 0 so Java and
        # DuckDB printf('%.2f') agree ("0.00", not "-0.00")
        .when(F.col("event_id") % 107 == 0, F.format_string("%.2f", F.lit(0.0) - cpm))  # negative
        .when(F.col("event_id") % 109 == 0, F.lit("0"))  # rounds to <= 0
        .otherwise(F.format_string("%.2f", cpm))
    )
    unit = (
        F.when(F.col("event_id") % 101 == 0, F.lit("usv"))  # wrong unit
        .when(F.col("event_id") % 97 == 0, F.lit("CPM"))  # case-normalization test
        .otherwise(F.lit("cpm"))
    )
    return ev.select(
        F.col("event_id"),
        captured_time.alias("captured_time"),
        latitude.alias("latitude"),
        longitude.alias("longitude"),
        value.alias("value"),
        unit.alias("unit"),
        (F.unix_timestamp("ts") * 1000).alias("ingestion_timestamp"),
    )
