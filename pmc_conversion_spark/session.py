"""SparkSession factory and the engine's Spark conf.

``ENGINE_CONF`` is the one definition of the runtime-settable SQL conf
the engine relies on. ``get_spark`` puts it on the builder next to the
launch-only settings; ``apply_engine_conf`` sets it on a session the
caller built (the registry boundary runs it, so queries also see it on
a vanilla session). Adaptive execution, partition coalescing and skew
joins are left at Spark's defaults, which are on.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ENGINE_CONF = {
    # at the data sizes this engine runs locally, task scheduling and
    # shuffle-file overhead dominate (measured 2-5x on the heavy
    # operators; the clinical DAG runs the same jobs and bytes with
    # half the tasks of 32); AQE coalesces from here and splits skew
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # InferFiltersFromGenerate synthesizes size(child)>0 filters
    # whose pushdown INLINES the generator child below exchanges —
    # for expensive children (tokenize+shingle chains) the filter
    # re-runs the whole expression, single-partition, twice
    # (measured 4x on the shingle family at sf0.1). Our explodes
    # never cross a shuffle before the Generate, so the inferred
    # prune buys nothing here.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    # older testdata generations ship events.parquet ts as
    # TIMESTAMP(NANOS), which the reader only accepts as a raw long;
    # tables.load rebuilds it at microsecond precision
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def default_driver_memory() -> str:
    """Half the host's physical RAM, in whole GiB, at least ``1g``."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, ram // 2 // 2**30)}g"


def apply_engine_conf(spark: SparkSession) -> None:
    """Set ``ENGINE_CONF`` on a session built elsewhere (the registry
    boundary: a harness may call queries on its own session, and the
    returned frames are lazy, so the conf must be set before they run).
    Shuffle partitions are only ever lowered, never raised, so a
    caller's smaller setting survives."""
    conf = spark.conf
    for key, value in ENGINE_CONF.items():
        if (key == "spark.sql.shuffle.partitions"
                and int(conf.get(key)) <= int(value)):
            continue
        conf.set(key, value)


def get_spark(app_name: str = "pmc-conversion-spark",
              cpus: int | str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession carrying ``ENGINE_CONF``.

    Deployment settings: ``SPARK_GRAFT_CPUS`` is the local parallelism
    (default 32), ``SPARK_DRIVER_MEMORY`` the driver heap (default
    :func:`default_driver_memory`) and ``SPARK_LOCAL_DIRS`` the
    shuffle/spill directory.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config(map=ENGINE_CONF)
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", default_driver_memory()))
        # long-lived sessions running hundreds of distinct queries
        # generate thousands of codegen classes; at the JVM default
        # (240 MB) the code cache can fill mid-run, silently disabling
        # the JIT so later queries run interpreted FOR THE REST OF THE
        # PROCESS (observed as a whole-process 3x slow mode on the
        # shingle ops). 1 GB keeps compilation alive for the full
        # registry; local mode, so driver==executor.
        .config("spark.driver.extraJavaOptions",
                "-XX:ReservedCodeCacheSize=1g")
        .config("spark.ui.enabled", "false")
        # shuffle/spill files on tmpfs: this host's disk FS shows long
        # syscall stalls under many small shuffle files; RAM-backed
        # local dirs sidestep it (plenty of headroom at test SFs)
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS",
                                                  "/dev/shm/spark-local"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
