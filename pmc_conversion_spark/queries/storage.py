"""Registry: partition-layout storage queries (SURVEY.md §2.13).

The reference publishes flat TSV directories per entity
(luigi-pipeline/main.py:109-112) and swaps whole staging directories
atomically (main.py:122-126). At 100 TB the same needs are served by
partitioned parquet layouts: directory-level pruning on scan, dynamic
partition overwrite for incremental publish, and size-targeted
compaction for small-file control. Each query round-trips driver test
data through the real writer and returns a frame the DuckDB oracle can
reproduce from the source views, so layout never changes values.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pmc_conversion_spark import tables
from pmc_conversion_spark.queries import register
from pmc_conversion_spark.sources import partitioned as P


def _scratch(name: str) -> str:
    from pmc_conversion_spark.util import scratch_dir
    return scratch_dir(name)


ORDER_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")


@register("sink_partitioned_parquet", oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
FROM orders WHERE o_orderstatus = 'F'""")
def sink_partitioned_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-layout write + partition-pruned read-back: the filter on the
    partition column becomes ``PartitionFilters`` on the scan (asserted
    in tests/test_plan_quality.py) — excluded status directories are
    never opened. This is the scan-side contract that makes 100 TB
    tables queryable by date/source/language."""
    d = _scratch("sink_partitioned_parquet")
    orders = tables.load(spark, sf_dir, "orders").select(*ORDER_COLS)
    P.write_partitioned(orders, d, "o_orderstatus")
    back = spark.read.parquet(d).filter(F.col("o_orderstatus") == "F")
    return back.select(*ORDER_COLS)


@register("sink_dynamic_overwrite", oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus,
       CASE WHEN o_orderstatus = 'O' THEN o_totalprice + 10.0
            ELSE o_totalprice END AS o_totalprice
FROM orders""")
def sink_dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-level incremental publish: write the full table, then
    re-publish ONLY the ``O`` partition with patched prices via dynamic
    partition overwrite. Untouched ``F``/``P`` directories are not
    rewritten — the partition analogue of the reference's staging-swap
    (main.py:122-126), at per-partition granularity."""
    d = _scratch("sink_dynamic_overwrite")
    orders = tables.load(spark, sf_dir, "orders").select(*ORDER_COLS)
    P.write_partitioned(orders, d, "o_orderstatus")
    patch = (orders.filter(F.col("o_orderstatus") == "O")
             .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(10.0)))
    P.overwrite_partitions_dynamic(patch, d, "o_orderstatus")
    return spark.read.parquet(d).select(*ORDER_COLS)


@register("sink_compacted_files", oracle="""
SELECT CAST(ceil(count(*) / 2500.0) AS INT) AS n_files,
       count(*) AS n_rows
FROM orders""")
def sink_compacted_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-targeted compaction: ceil(rows/2500) uniform files via one
    round-robin repartition (never a single-task coalesce). Returns the
    observed distinct file count from ``input_file_name`` so the oracle
    checks the layout itself, not just the rows."""
    d = _scratch("sink_compacted_files")
    orders = tables.load(spark, sf_dir, "orders")
    P.write_compacted(orders, d, rows_per_file=2500)
    back = spark.read.parquet(d)
    return (back.select(F.input_file_name().alias("f"))
            .agg(F.countDistinct("f").cast("int").alias("n_files"),
                 F.count(F.lit(1)).alias("n_rows")))


@register("join_partition_pruned_dim", oracle="""
SELECT c_custkey, c_name, c_nationkey, n_name
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE n_regionkey = 1""")
def join_partition_pruned_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: fact partitioned on the join key, dim
    filtered at runtime — Catalyst injects a ``dynamicpruningexpression``
    subquery (reusing the broadcast exchange) so the fact scan opens
    only the nation directories that survive the region filter. At
    100 TB this is the difference between scanning 25 partitions and 5,
    with no change to the query text. Plan-asserted in
    tests/test_plan_quality.py."""
    d = _scratch("join_partition_pruned_dim")
    cust = tables.load(spark, sf_dir, "customer")
    P.write_partitioned(cust, d, "c_nationkey")
    fact = spark.read.parquet(d)
    dim = tables.load(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 1)
    return (fact.join(dim,
                      fact.c_nationkey == dim.n_nationkey)
            .select("c_custkey", "c_name", "c_nationkey", "n_name"))


@register("agg_incremental_merge", oracle="""
SELECT o_orderstatus,
       count(*) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders GROUP BY o_orderstatus""")
def agg_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance by partial-aggregate merge: the
    stored aggregate of the base slice (materialized to parquet — the
    'MV') merges with the delta slice's aggregate via re-aggregation of
    (count, decimal-sum) partials. Base ROWS are never rescanned — the
    merge input is one row per group per side — which is what keeps a
    daily refresh of a 100 TB rollup proportional to the delta, not the
    table. Decimal sums make the merge exact and order-insensitive."""
    d = _scratch("agg_incremental_merge")
    orders = tables.load(spark, sf_dir, "orders")

    def slice_agg(df):
        return (df.groupBy("o_orderstatus")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                      .alias("total")))

    pivot = F.col("o_orderkey") % 10 < 7  # base ≈ 70%, delta ≈ 30%
    slice_agg(orders.filter(pivot)).write.mode("overwrite").parquet(d)
    stored_mv = spark.read.parquet(d)
    delta_agg = slice_agg(orders.filter(~pivot))
    return (stored_mv.unionByName(delta_agg)
            .groupBy("o_orderstatus")
            .agg(F.sum("n").alias("n"),
                 F.sum("total").cast("double").alias("total")))


@register("sink_sorted_rowgroups", oracle="""
SELECT o_orderkey, o_orderdate, o_totalprice
FROM orders WHERE o_orderdate >= '1997-06-01'""")
def sink_sorted_rowgroups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-on-write for min/max data skipping: the table lands sorted
    by the filter column with SMALL row groups, so every row group's
    parquet min/max statistics cover a narrow, disjoint date range and
    a range predicate skips most of the file WITHOUT reading it — the
    columnar cousin of partition pruning, and the layout that makes
    needle-in-100 TB date scans cheap when a directory partition per
    day would be too many files. Row-group disjointness is asserted
    from the real footers in tests/test_plan_quality.py; the oracle
    pins that sorting never changes results."""
    d = _scratch("sink_sorted_rowgroups")
    orders = tables.load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice")
    (orders.repartition(1)
     .sortWithinPartitions("o_orderdate")
     .write.mode("overwrite")
     .option("parquet.block.size", 8 * 1024)
     .parquet(d))
    back = spark.read.parquet(d)
    return back.filter(F.col("o_orderdate") >= "1997-06-01")


@register(
    "dq_schema_snapshot_diff",
    oracle="""
    SELECT * FROM (VALUES
      ('o_custkey',      'unchanged',    'bigint', 'bigint'),
      ('o_orderdate',    'added',        NULL,     'date'),
      ('o_orderkey',     'unchanged',    'bigint', 'bigint'),
      ('o_orderpriority','removed',      'string', NULL),
      ('o_totalprice',   'type_changed', 'double', 'float')
    ) AS t(col_name, status, type_a, type_b)
    """)
def dq_schema_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift detection between two table snapshots: write two
    parquet generations with a dropped column, an added column, and a
    narrowed type, then diff the schemas READ BACK from storage (what
    a nightly contract check sees — parquet footers, not the writer's
    intent). This is metadata-only: the snapshots' FOOTERS are read,
    no data pages; at 100 TB the check costs the same as at 100 MB.
    Complements dq_dataset_drift (value distributions) with the
    structural half of drift."""
    o = tables.load(spark, sf_dir, "orders")
    d = _scratch("dq_schema_snapshot_diff")
    snap_a = o.select(
        F.col("o_orderkey").cast("bigint"),
        F.col("o_custkey").cast("bigint"),
        F.col("o_totalprice").cast("double"),
        F.col("o_orderpriority").cast("string"))
    snap_b = o.select(
        F.col("o_orderkey").cast("bigint"),
        F.col("o_custkey").cast("bigint"),
        F.col("o_totalprice").cast("float"),
        F.to_date("o_orderdate").alias("o_orderdate"))
    snap_a.write.mode("overwrite").parquet(f"{d}/a")
    snap_b.write.mode("overwrite").parquet(f"{d}/b")
    sa = {f.name: f.dataType.simpleString()
          for f in spark.read.parquet(f"{d}/a").schema.fields}
    sb = {f.name: f.dataType.simpleString()
          for f in spark.read.parquet(f"{d}/b").schema.fields}
    rows = []
    for col in sorted(set(sa) | set(sb)):
        ta, tb = sa.get(col), sb.get(col)
        status = ("removed" if tb is None else
                  "added" if ta is None else
                  "unchanged" if ta == tb else "type_changed")
        rows.append((col, status, ta, tb))
    from pmc_conversion_spark.util import local_df
    return local_df(
        spark, rows,
        "col_name string, status string, type_a string, type_b string")


@register("sink_merge_on_read", oracle="""
WITH log AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 97 = 0 THEN 'D' ELSE 'U' END AS op,
         o_totalprice + 5.0 AS o_totalprice
  FROM orders WHERE o_orderstatus = 'O' OR o_orderkey % 97 = 0
)
SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice
FROM orders o LEFT JOIN log ON log.o_orderkey = o.o_orderkey
WHERE log.o_orderkey IS NULL
UNION ALL
SELECT l.o_orderkey, o.o_orderstatus, l.o_totalprice
FROM log l JOIN orders o ON o.o_orderkey = l.o_orderkey
WHERE l.op = 'U'""")
def sink_merge_on_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read table layout with plain parquet: a base snapshot
    plus an append-only delta log of upserts ('U') and tombstones
    ('D'); the READ reconciles — base rows anti-joined against logged
    keys, union the live upserts. This is the write-cheap half of the
    lakehouse trade (copy-on-write = sink_dynamic_overwrite rewrites
    partitions on every change; MOR appends a small log and pays a
    key-join at read). The log is delta-sized, so the reconcile join
    broadcasts at daily-increment scale."""
    d = _scratch("sink_merge_on_read")
    orders = tables.load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    orders.write.mode("overwrite").parquet(f"{d}/base")
    log = (orders.filter((F.col("o_orderstatus") == "O")
                         | (F.col("o_orderkey") % 97 == 0))
           .select("o_orderkey",
                   F.when(F.col("o_orderkey") % 97 == 0, "D")
                   .otherwise("U").alias("op"),
                   (F.col("o_totalprice") + 5.0).alias("o_totalprice")))
    log.write.mode("overwrite").parquet(f"{d}/log")
    base = spark.read.parquet(f"{d}/base")
    logged = spark.read.parquet(f"{d}/log")
    untouched = base.join(logged.select("o_orderkey"), "o_orderkey",
                          "left_anti")
    upserts = (logged.filter(F.col("op") == "U")
               .join(base.select("o_orderkey", "o_orderstatus"),
                     "o_orderkey")
               .select("o_orderkey", "o_orderstatus", "o_totalprice"))
    return untouched.unionByName(upserts)


@register("gen_surrogate_incremental", oracle="""
WITH base AS (
  SELECT o_orderkey, row_number() OVER (ORDER BY o_orderkey) AS sk
  FROM orders WHERE o_orderkey % 10 < 7
), hwm AS (SELECT max(sk) AS m FROM base),
delta AS (
  SELECT o_orderkey,
         (SELECT m FROM hwm)
           + row_number() OVER (ORDER BY o_orderkey) AS sk
  FROM orders WHERE o_orderkey % 10 >= 7
)
SELECT o_orderkey, CAST(sk AS BIGINT) AS sk, 'base' AS generation
FROM base
UNION ALL
SELECT o_orderkey, CAST(sk AS BIGINT), 'delta' FROM delta""")
def gen_surrogate_incremental(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """High-watermark surrogate keys across load generations: the base
    load numbers its rows 1..N (two-phase distributed numbering, no
    single-partition sort) and PERSISTS them; the nightly delta reads
    the stored max (one driver-side scalar from a stored aggregate —
    metadata cost) and numbers its rows N+1... — the pattern every
    warehouse dimension uses so keys never recycle across loads.
    Both generations round-trip through parquet; the oracle replays
    the numbering with plain window SQL."""
    from pmc_conversion_spark.operators.windows import \
        surrogate_key_distributed
    d = _scratch("gen_surrogate_incremental")
    orders = tables.load(spark, sf_dir, "orders").select("o_orderkey")
    base = surrogate_key_distributed(
        orders.filter(F.col("o_orderkey") % 10 < 7), "o_orderkey",
        out_col="sk")
    base.write.mode("overwrite").parquet(f"{d}/base")
    stored = spark.read.parquet(f"{d}/base")
    hwm = stored.agg(F.max("sk").alias("m")).collect()[0]["m"]
    delta = (surrogate_key_distributed(
        orders.filter(F.col("o_orderkey") % 10 >= 7), "o_orderkey",
        out_col="sk0")
        .select("o_orderkey",
                (F.col("sk0") + F.lit(int(hwm))).alias("sk")))
    delta.write.mode("append").parquet(f"{d}/delta")
    return (stored.select("o_orderkey",
                          F.col("sk").cast("long").alias("sk"),
                          F.lit("base").alias("generation"))
            .unionByName(spark.read.parquet(f"{d}/delta").select(
                "o_orderkey", F.col("sk").cast("long").alias("sk"),
                F.lit("delta").alias("generation"))))


@register(
    "pipeline_quarantine_split",
    oracle="""
    WITH tagged AS (
      SELECT o_orderkey,
             CASE WHEN o_totalprice > 300000 THEN 'price_gt_300k'
                  WHEN o_orderpriority = '5-LOW' THEN 'low_priority_hold'
                  ELSE 'ok' END AS reason,
             CAST(round(o_totalprice, 2) AS DECIMAL(18,2)) AS p
      FROM orders
    )
    SELECT CASE WHEN reason = 'ok' THEN 'valid'
                ELSE 'quarantine' END AS bucket,
           reason, count(*) AS n_rows,
           CAST(sum(p) AS DOUBLE) AS total_price
    FROM tagged GROUP BY 1, 2
    """)
def pipeline_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level quarantine: every row is tagged with its FIRST failed
    expectation (price cap, priority hold) and the stream splits into
    a valid sink and a quarantine sink carrying the reason column —
    the operational complement of dq_constraint_check (which only
    counts violations): bad rows are preserved for triage, good rows
    ship, and neither blocks the other. Both sinks are REAL parquet
    writes read back before reporting, so the summary counts prove the
    split round-trips. One scan tags everything; the two filtered
    writes each prune to their slice; reasons partial-agg map-side."""
    d = _scratch("pipeline_quarantine_split")
    o = tables.load(spark, sf_dir, "orders")
    tagged = o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 300000, "price_gt_300k")
        .when(F.col("o_orderpriority") == "5-LOW", "low_priority_hold")
        .otherwise("ok").alias("reason"),
        F.round("o_totalprice", 2).cast("decimal(18,2)").alias("p"))
    valid_path = os.path.join(d, "valid")
    quar_path = os.path.join(d, "quarantine")
    tagged.filter(F.col("reason") == "ok").write.mode("overwrite") \
        .parquet(valid_path)
    tagged.filter(F.col("reason") != "ok").write.mode("overwrite") \
        .parquet(quar_path)
    back = (spark.read.parquet(valid_path)
            .select(F.lit("valid").alias("bucket"), "reason", "p")
            .unionAll(spark.read.parquet(quar_path)
                      .select(F.lit("quarantine").alias("bucket"),
                              "reason", "p")))
    return (back.groupBy("bucket", "reason")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("p").cast("double").alias("total_price")))
