"""Loaders for the driver-provided parquet star schema.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file each under
``{sf_dir}/{name}.parquet``. Parquet scans get predicate pushdown and
column pruning from Catalyst for free; loaders never cache or collect.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        return _load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet has shipped ``ts`` two ways across driver testdata
    generations: TIMESTAMP(MICROS, isAdjustedToUTC=false) — reads
    natively as TIMESTAMP_NTZ, nothing to do — and TIMESTAMP(NANOS),
    which the reader only accepts as a raw long (legacy conf); that
    long is rebuilt at microsecond precision with integer division (ns
    since epoch exceeds 2^53, so no double round-trip). Downstream
    event-time code must therefore stay NTZ-tolerant: compare
    timestamps with interval arithmetic, not ``unix_micros`` (which
    rejects NTZ)."""
    from pyspark.sql import functions as F
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(df.dtypes).get("ts") in ("bigint", "long"):
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL API."""
    for name in TABLE_NAMES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
