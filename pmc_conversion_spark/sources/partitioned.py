"""Partition-layout sinks: the storage side of the 100 TB posture.

The reference writes flat TSV directories (luigi-pipeline/main.py:109-112
— one file per CSR entity); at reference scale that is fine, but a 100 TB
corpus lives or dies by its directory layout. These helpers are the
engine's standing answers:

* :func:`write_partitioned` — hive-style ``partitionBy`` parquet layout,
  so downstream scans with a partition predicate prune directories
  instead of reading them (``PartitionFilters`` in the scan node, zero
  I/O for excluded partitions).
* :func:`overwrite_partitions_dynamic` — incremental re-publish of only
  the partitions present in the patch frame (Spark's dynamic partition
  overwrite). The partition-level analogue of the reference's
  whole-directory staging swap (sinks.tx_swap_write): untouched
  partitions are never rewritten, so a daily delta load touches one
  date directory, not the whole table.
* :func:`write_compacted` — size-targeted file compaction. Streams and
  incremental loads accumulate small files; a scan over millions of
  tiny files is scheduler-bound, not I/O-bound. One round-robin
  repartition to ``ceil(rows / rows_per_file)`` tasks bounds file count
  while keeping every writer busy (no single-task coalesce funnel).

All three are plain ``DataFrameWriter`` plans — no driver-side loops, no
collect; file layout is decided by the shuffle, so the same code runs
unchanged on a 1000-executor cluster.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

from pmc_conversion_spark.util import session_conf


def write_partitioned(df: DataFrame, path: str, *partition_cols: str) -> None:
    """Hive-layout parquet write: one directory per partition value.

    At scale the partition column should be low-cardinality and
    query-aligned (event date, source, language) — each distinct value
    is a directory, and every scan predicate on it becomes partition
    pruning instead of data I/O.
    """
    (df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path))


def overwrite_partitions_dynamic(df: DataFrame, path: str,
                                 *partition_cols: str) -> None:
    """Overwrite ONLY the partitions present in ``df`` (dynamic mode).

    Static overwrite mode would drop the whole table first; dynamic mode
    replaces just the directories the patch frame touches — the correct
    incremental-publish primitive for partitioned tables. The conf is
    session-scoped, so set/restore it around the write.
    """
    with session_conf(df.sparkSession,
                      {"spark.sql.sources.partitionOverwriteMode":
                       "dynamic"}):
        (df.write.mode("overwrite").partitionBy(*partition_cols)
         .parquet(path))


def write_compacted(df: DataFrame, path: str, *,
                    rows_per_file: int = 2500) -> int:
    """Compact ``df`` into ``ceil(rows / rows_per_file)`` parquet files.

    Returns the target file count. The count() is one cheap
    metadata-ish job (parquet rowcount scan); the write is a single
    round-robin shuffle, so file sizes are uniform regardless of input
    skew — unlike ``coalesce``, which merges existing partitions and
    inherits their imbalance (and can collapse upstream parallelism).
    """
    n_rows = df.count()
    n_files = max(1, math.ceil(n_rows / rows_per_file))
    df.repartition(n_files).write.mode("overwrite").parquet(path)
    return n_files
