"""Loaders for the driver-provided parquet star schema.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file each under
``{sf_dir}/{name}.parquet``. Parquet scans get predicate pushdown and
column pruning from Catalyst for free; loaders never cache or collect
rows.

What they do keep is the schema Spark infers, once per process.
``spark.read.parquet(path)`` with no schema runs a one-task Spark job
on every call to read the footer again, so each read goes through a
memo: on a hit it is ``spark.read.schema(s).parquet(path)``, which runs
no job; on a miss it is the plain read, and Spark's inferred schema is
stored. The key covers every input of that inference:

- the files: the relative name and the SHA-1 of the parquet footer of
  each file ``plans.incremental.listed_files`` lists under the path
  (the path itself when it is one file). Footers, not ``stat``: file
  timestamps tick at a coarse clock, and an in-place rewrite keeps the
  inode;
- the settings: the values of the session settings that Spark's
  parquet schema converter reads (``_SCHEMA_CONF``).

The memo holds one ``StructType`` per distinct (footers, settings) key
a process reads, never rows; callers share it and must not mutate it.
Two concurrent misses on one key both infer and store the same schema.
A path with no local file behind it (a missing path, a non-local URI)
is read without the memo.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from pmc_conversion_spark.plans.incremental import listed_files

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: The settings Spark 4.1's ``ParquetToSparkSchemaConverter(SQLConf)``
#: reads; with the footers they fix the inferred schema.
_SCHEMA_CONF = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.caseSensitive",
    "spark.sql.legacy.parquet.nanosAsLong",
)

_SCHEMAS: dict[tuple, StructType] = {}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        return _load_events(spark, sf_dir)
    return _read(spark, f"{sf_dir}/{name}.parquet")


def file_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """The schema Spark infers for ``{sf_dir}/{name}.parquet``, as the
    file stores it (for events, before ``_load_events`` rebuilds a
    nanos ``ts``): what a stream over the same file must declare."""
    return _schema(spark, f"{sf_dir}/{name}.parquet")


def _footer_sha1(path: str) -> str:
    """SHA-1 of a parquet file's footer and its 8-byte tail (footer
    length, then the magic)."""
    with open(path, "rb") as f:
        tail = f.seek(-8, os.SEEK_END)
        n = int.from_bytes(f.read(4), "little")
        f.seek(max(0, tail - n))
        return hashlib.sha1(f.read()).hexdigest()


def _schema(spark: SparkSession, path: str) -> StructType:
    files = ([(os.path.basename(path), path)] if os.path.isfile(path)
             else listed_files(path))
    if not files:
        return spark.read.parquet(path).schema
    key = (tuple((rel, _footer_sha1(full)) for rel, full in files),
           tuple(spark.conf.get(k, None) for k in _SCHEMA_CONF))
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = _SCHEMAS[key] = spark.read.parquet(path).schema
    return schema


def _read(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(_schema(spark, path)).parquet(path)


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
    df = _read(spark, f"{sf_dir}/events.parquet")
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
