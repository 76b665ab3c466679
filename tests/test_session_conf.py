"""The engine's Spark conf is defined once (``session.ENGINE_CONF``):
``get_spark`` builds sessions with it, the registry boundary applies
it without changing a ``get_spark`` session, and the events loader
relies on it for TIMESTAMP(NANOS) files."""

from __future__ import annotations

import os

from pmc_conversion_spark.session import (ENGINE_CONF, apply_engine_conf,
                                          default_driver_memory)
from tests.conftest import SF_DIR, jobs_run_by


def test_get_spark_session_carries_engine_conf(spark):
    for key, value in ENGINE_CONF.items():
        assert spark.conf.get(key) == value, key


def test_registry_boundary_leaves_get_spark_conf_unchanged(spark):
    """Includes two transformWithState queries, whose operators set the
    RocksDB state store provider (the key starts unset, since an earlier
    test may have left it set), and ``join_skew_aqe``, which lowers AQE
    settings that are unset in a ``get_spark`` session."""
    import __spark_entry__ as E
    from pmc_conversion_spark.streaming.stateful import TWS_CONF
    qs = E.queries()
    for key in TWS_CONF:
        spark.conf.unset(key)
    before = dict(spark.conf.getAll)
    for name in ("join_fk_transitive", "f_jaro_winkler",
                 "pipeline_sources2csr", "stream_running_count_tws",
                 "stream_topn_liststate_tws", "join_skew_aqe"):
        qs[name](spark, SF_DIR)
    assert dict(spark.conf.getAll) == before


def test_apply_engine_conf_only_lowers_shuffle_partitions(spark):
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "32")
        apply_engine_conf(spark)
        assert spark.conf.get(key) == "8"
        spark.conf.set(key, "3")
        apply_engine_conf(spark)
        assert spark.conf.get(key) == "3"
    finally:
        spark.conf.set(key, saved)


def test_events_loader_reads_timestamp_nanos(spark, tmp_path):
    """Older testdata generations store ``ts`` as TIMESTAMP(NANOS); the
    loader rebuilds it at microsecond precision (truncating)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from pmc_conversion_spark import tables

    ns = [1_700_000_000_123_456_789, 1_600_000_000_000_000_999]
    pq.write_table(
        pa.table({"event_id": [1, 2],
                  "ts": pa.array(ns, pa.timestamp("ns"))}),
        str(tmp_path / "events.parquet"), version="2.6")
    assert "nanoseconds" in str(
        pq.ParquetFile(str(tmp_path / "events.parquet")).schema)

    df = tables.load(spark, str(tmp_path), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = (df.select("event_id", F.unix_micros("ts").alias("us"))
           .orderBy("event_id").collect())
    assert [r.us for r in got] == [n // 1000 for n in ns]
    # the second load reuses the inferred schema: no job
    jobs, again = jobs_run_by(
        spark, lambda: tables.load(spark, str(tmp_path), "events"))
    assert jobs == 0
    assert again.dtypes == df.dtypes


def test_default_driver_memory_fits_the_host():
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mem = default_driver_memory()
    assert mem.endswith("g")
    assert int(mem[:-1]) * 2**30 <= ram
