"""The star-table loaders infer each schema once per process: a repeat
load of the same bytes under the same settings runs no Spark job, and
anything Spark's inference reads (the footers, the schema settings, the
set of files) re-infers when it changes."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from conftest import jobs_run_by
from pmc_conversion_spark import tables


def _load_jobs(spark, sf_dir, name):
    """(jobs one ``tables.load`` runs, the frame's dtypes)."""
    jobs, df = jobs_run_by(spark, lambda: tables.load(spark, str(sf_dir),
                                                      name))
    return jobs, df.dtypes


def test_second_load_runs_no_job(spark, tmp_path):
    pq.write_table(pa.table({"memo_first": [1, 2, 3]}),
                   str(tmp_path / "region.parquet"))
    assert _load_jobs(spark, tmp_path, "region") == (
        1, [("memo_first", "bigint")])
    assert _load_jobs(spark, tmp_path, "region") == (
        0, [("memo_first", "bigint")])
    assert [r.memo_first for r in
            tables.load(spark, str(tmp_path), "region").collect()] == [1, 2, 3]


def test_in_place_rewrite_with_same_stat_reinfers(spark, tmp_path):
    """Same size, same inode, old mtime restored: only the footer tells
    the two files apart."""
    path = str(tmp_path / "nation.parquet")
    pq.write_table(pa.table({"memo_a": [7, 8]}), path)
    before = os.stat(path)
    assert _load_jobs(spark, tmp_path, "nation")[1] == [("memo_a", "bigint")]
    pq.write_table(pa.table({"memo_b": [7, 8]}), path)
    os.utime(path, ns=(before.st_atime_ns, before.st_mtime_ns))
    after = os.stat(path)
    assert (after.st_ino, after.st_size, after.st_mtime_ns) == (
        before.st_ino, before.st_size, before.st_mtime_ns)
    assert _load_jobs(spark, tmp_path, "nation") == (
        1, [("memo_b", "bigint")])
    assert [r.memo_b for r in
            tables.load(spark, str(tmp_path), "nation").collect()] == [7, 8]


def test_schema_setting_change_reinfers(spark, tmp_path):
    key = "spark.sql.parquet.binaryAsString"
    pq.write_table(pa.table({"memo_bin": pa.array([b"x", b"y"], pa.binary())}),
                   str(tmp_path / "part.parquet"))
    saved = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "false")
        assert _load_jobs(spark, tmp_path, "part") == (
            1, [("memo_bin", "binary")])
        spark.conf.set(key, "true")
        assert _load_jobs(spark, tmp_path, "part") == (
            1, [("memo_bin", "string")])
        assert [r.memo_bin for r in tables.load(
            spark, str(tmp_path), "part").collect()] == ["x", "y"]
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)


def test_part_file_directory_hits_and_new_part_reinfers(spark, tmp_path):
    path = str(tmp_path / "orders.parquet")
    spark.range(10).selectExpr("id AS memo_dir").repartition(2) \
        .write.parquet(path)
    assert len([f for f in os.listdir(path) if f.startswith("part-")]) == 2
    assert _load_jobs(spark, tmp_path, "orders")[0] == 1
    assert _load_jobs(spark, tmp_path, "orders") == (
        0, [("memo_dir", "bigint")])
    spark.range(10, 15).selectExpr("id AS memo_dir").coalesce(1) \
        .write.mode("append").parquet(path)
    assert _load_jobs(spark, tmp_path, "orders") == (
        1, [("memo_dir", "bigint")])
    assert tables.load(spark, str(tmp_path), "orders").count() == 15


def test_file_schema_is_the_raw_file_schema(spark, tmp_path):
    """``file_schema`` is what the file stores (a nanos ``ts`` as a long
    under the engine's legacy setting); ``load`` rebuilds it."""
    pq.write_table(
        pa.table({"event_id": [1],
                  "ts": pa.array([1_700_000_000_123_456_789],
                                 pa.timestamp("ns"))}),
        str(tmp_path / "events.parquet"), version="2.6")
    raw = tables.file_schema(spark, str(tmp_path), "events")
    assert raw.simpleString() == "struct<event_id:bigint,ts:bigint>"
    assert dict(_load_jobs(spark, tmp_path, "events")[1])["ts"] == "timestamp"
