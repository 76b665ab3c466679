"""Structured Streaming surface: real readStream execution of the
drop-zone ingest (availableNow ticks, checkpoint no-op semantics) and
event-time windowing with watermarks — the streaming twins of the batch
queries the driver verifies.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pmc_conversion_spark.sources.sinks import SnapshotStore, tx_swap_write, write_tsv
from pmc_conversion_spark.sources.scans import scan_csv_delim
from pmc_conversion_spark.streaming import ingest as I


def test_dropzone_two_ticks_exactly_once(spark, tmp_path, fixture_df):
    drop = str(tmp_path / "drop")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    batch1 = fixture_df([("PAT1", "1"), ("PAT2", "2")], "id string, v string")
    write_tsv(batch1, drop + "/b1")

    stream = I.dropzone_stream(spark, drop + "/*", "id string, v string")
    I.run_available_now(stream, ckpt, out)
    assert spark.read.schema("id string, v string").parquet(out).count() == 2

    # tick 2 with no new files: no-op ("No changes detected. Exit.")
    stream = I.dropzone_stream(spark, drop + "/*", "id string, v string")
    I.run_available_now(stream, ckpt, out)
    assert spark.read.schema("id string, v string").parquet(out).count() == 2

    # tick 3 with one new file: only the new rows are appended
    batch2 = fixture_df([("PAT3", "3")], "id string, v string")
    write_tsv(batch2, drop + "/b2")
    stream = I.dropzone_stream(spark, drop + "/*", "id string, v string")
    I.run_available_now(stream, ckpt, out)
    back = spark.read.schema("id string, v string").parquet(out)
    assert sorted(r.id for r in back.collect()) == ["PAT1", "PAT2", "PAT3"]


@pytest.mark.slow
def test_streaming_tumbling_window_with_watermark(spark, tmp_path, fixture_df):
    """Windowed streaming aggregation with watermark over a file source;
    availableNow drains everything, then the final batch read must match
    the batch twin."""
    src = str(tmp_path / "events")
    out = str(tmp_path / "win_out")
    ck = str(tmp_path / "ck")

    def _write(rows, subdir):
        fixture_df(rows, "event_id long, ts_s string, event_type string") \
            .select("event_id", F.col("ts_s").cast("timestamp").alias("ts"),
                    "event_type") \
            .coalesce(1).write.mode("overwrite").parquet(f"{src}/{subdir}")

    def _drain():
        stream = (spark.readStream
                  .schema("event_id long, ts timestamp, event_type string")
                  .parquet(src + "/*")
                  .withWatermark("ts", "10 minutes")
                  .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
                  .agg(F.count(F.lit(1)).alias("n")))
        q = (stream.writeStream.outputMode("append")
             .format("parquet").option("path", out)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    _write([(1, "2024-01-01 00:01:00", "click"),
            (2, "2024-01-01 00:04:00", "click"),
            (3, "2024-01-01 00:07:00", "view")], "b1")
    _drain()
    # tick 2 carries an event past 01:10, so the watermark (max - 10min)
    # passes the [00:00, 01:00) window end; append mode emits the closed
    # windows one batch later (watermark is computed from the previous
    # batch), hence tick 3
    _write([(4, "2024-01-01 02:30:00", "click")], "b2")
    _drain()
    _write([(5, "2024-01-01 03:30:00", "view")], "b3")
    _drain()
    got = {(r["window"].start.hour, r.event_type, r.n)
           for r in spark.read.parquet(out).collect()}
    assert ((0, "click", 2) in got and (0, "view", 1) in got)
    # the last window (03:00) must still be open
    assert all(h != 3 for h, _, _ in got)


def test_streaming_dedup_within_watermark(spark, tmp_path, fixture_df):
    src = str(tmp_path / "events2")
    fixture_df(
        [(1, "2024-01-01 00:01:00", "u1"), (2, "2024-01-01 00:02:00", "u1"),
         (3, "2024-01-01 00:03:00", "u2")],
        "event_id long, ts_s string, user string").select(
        "event_id", F.col("ts_s").cast("timestamp").alias("ts"), "user"
    ).write.mode("overwrite").parquet(src)
    stream = (spark.readStream
              .schema("event_id long, ts timestamp, user string")
              .parquet(src)
              .withWatermark("ts", "1 hour")
              .dropDuplicatesWithinWatermark(["user"]))
    q = (stream.writeStream.outputMode("append")
         .format("memory").queryName("dedup_out")
         .option("checkpointLocation", str(tmp_path / "ck2"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    users = sorted(r.user for r in spark.sql(
        "SELECT * FROM dedup_out").collect())
    assert users == ["u1", "u2"]


def test_tx_swap_survives_failed_write(spark, tmp_path, fixture_df):
    """All-or-nothing contract: a failing publish leaves live intact
    (README.md:181-183)."""
    live = str(tmp_path / "live")
    good = fixture_df([("a", 1)], "k string, v int")
    tx_swap_write(good, live)

    exploding = good.withColumn(
        "v", F.assert_true(F.col("v") > 100).cast("int"))
    with pytest.raises(Exception):
        tx_swap_write(exploding, live)
    back = scan_csv_delim(spark, live, schema="k string, v int").collect()
    assert [(r.k, r.v) for r in back] == [("a", 1)]


def test_snapshot_store_commit_if_changed(spark, tmp_path, fixture_df):
    store = SnapshotStore(str(tmp_path / "snap"))
    df1 = fixture_df([("a", 1), ("b", 2)], "k string, v int")
    e1 = store.commit(df1)
    e2 = store.commit(df1.orderBy(F.desc("k")))  # same content -> skip
    assert e1["version"] == e2["version"] == 1
    df2 = fixture_df([("a", 1)], "k string, v int")
    e3 = store.commit(df2)
    assert e3["version"] == 2
    # read any pinned version
    v1 = store.read(spark, 1, schema="k string, v int").collect()
    assert len(v1) == 2


def test_snapshot_store_rollback_moves_head(spark, tmp_path, fixture_df):
    store = SnapshotStore(str(tmp_path / "snap"))
    df1 = fixture_df([("a", 1), ("b", 2)], "k string, v int")
    df2 = fixture_df([("a", 1)], "k string, v int")
    e1 = store.commit(df1)
    store.commit(df2)
    rb = store.rollback(e1["version"])
    assert rb["version"] == 1
    # head read follows the moved pointer
    assert len(store.read(spark, schema="k string, v int").collect()) == 2
    # head digest is v1's -> committing v1's content again is clean
    assert store.commit(df1)["version"] == 1
    # committing v2's content is dirty again and NEVER reuses a dir
    assert store.commit(df2)["version"] == 3
    with pytest.raises(ValueError):
        store.rollback(99)


def test_snapshot_store_rollback_to_vacuumed_version_raises(
        spark, tmp_path, fixture_df):
    """r4 ADVICE #4: after vacuum() deletes a version's snapshot dir,
    rollback() to that version must fail loudly instead of re-pointing
    HEAD at unreadable data (which would also defeat vacuum's
    HEAD-is-always-kept invariant)."""
    store = SnapshotStore(str(tmp_path / "snap"))
    store.commit(fixture_df([("a", 1)], "k string, v int"))
    store.commit(fixture_df([("b", 2)], "k string, v int"))
    store.commit(fixture_df([("c", 3)], "k string, v int"))
    gc = store.vacuum(keep_last=1)
    assert 1 in gc["removed"]
    with pytest.raises(ValueError, match="expired by"):
        store.rollback(1)
    # surviving versions still roll back fine
    assert store.rollback(3)["version"] == 3


@pytest.mark.slow
def test_dedup_persisted_caches_are_releasable(spark, fixture_df):
    """r4 ADVICE #3: the pair generators persist intermediates whose
    lifecycle is caller-owned; release_persisted_caches() must leave
    zero cached RDD blocks behind in a long-lived session."""
    from pmc_conversion_spark.functions.dedup import (
        bbit_minhash_pairs, release_persisted_caches)
    release_persisted_caches()  # drain handles from earlier tests
    jsc = spark.sparkContext._jsc.sc()
    # baseline-relative: the shared test session may hold OTHER
    # persisted RDDs (localCheckpoint lineage cuts from earlier
    # tests); this op's cache must come and go against that baseline
    baseline = jsc.getPersistentRDDs().size()
    docs = fixture_df(
        [(1, "the quick brown fox jumps over the lazy dog again"),
         (2, "the quick brown fox jumps over the lazy dog again"),
         (3, "a completely different document about spark plans")],
        "doc_id long, text string")
    bbit_minhash_pairs(docs, min_agree=1).collect()
    assert jsc.getPersistentRDDs().size() >= baseline + 1
    assert release_persisted_caches() >= 1
    assert jsc.getPersistentRDDs().size() == baseline


def test_poll_status_unit():
    from pmc_conversion_spark.plans.post_load import (
        StatusPollTimeout, poll_status)
    seq = iter(["RUNNING", "RUNNING", "COMPLETED"])
    assert poll_status(lambda: next(seq), max_retries=5,
                       sleep=lambda s: None) == "COMPLETED"
    with pytest.raises(StatusPollTimeout):
        poll_status(lambda: "RUNNING", max_retries=3, sleep=lambda s: None)


@pytest.mark.slow
def test_stateful_sessionize_carries_state_across_batches(
        spark, tmp_path, fixture_df):
    """applyInPandasWithState sessionizer: an open session from batch 1
    must merge with batch 2's events (the property the built-in
    session_window only gets within one query run, and the whole point
    of carrying custom state)."""
    import pandas as pd
    from pmc_conversion_spark.streaming.stateful import sessionize_with_state

    drop = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")

    def write_batch(rows, name):
        pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id"])
        sdf = spark.createDataFrame(pdf)
        sdf.write.mode("append").parquet(drop)

    t0 = pd.Timestamp("2026-01-01 10:00:00")
    m = pd.Timedelta(minutes=1)
    # batch 1: user 1 has an open session of 2 events
    write_batch([(1, t0, 1), (2, t0 + 5 * m, 1)], "b1")

    def run_tick(qname):
        # memory sink cannot recover from a checkpoint; foreachBatch can
        got = []
        stream = (spark.readStream
                  .schema("event_id long, ts timestamp, user_id long")
                  .parquet(drop))
        q = (sessionize_with_state(stream, gap_minutes=30)
             .writeStream.foreachBatch(
                 lambda df, epoch: got.extend(df.collect()))
             .outputMode("update")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return {(r.user_id, r.session_start, r.n_events) for r in got}

    got1 = run_tick("sess_t1")
    assert got1 == {(1, t0.to_pydatetime(), 2)}

    # batch 2: +10 min continues the session; +2 h starts a new one
    write_batch([(3, t0 + 15 * m, 1), (4, t0 + 135 * m, 1)], "b2")
    got2 = run_tick("sess_t2")
    # closed session = merged 3 events from batches 1+2; open = the new one
    assert (1, t0.to_pydatetime(), 3) in got2
    assert (1, (t0 + 135 * m).to_pydatetime(), 1) in got2


def test_stream_static_enrich_matches_batch(spark, tmp_path, fixture_df):
    """Stream-static join through real readStream machinery: the static
    dim re-broadcasts per micro-batch; result must equal the batch
    join."""
    events = fixture_df(
        [(1, 10, "click"), (2, 11, "view"), (3, 10, "click"),
         (4, 99, "view")],  # user 99 not in the dim: dropped (inner)
        "event_id long, user_id long, event_type string")
    dim = fixture_df([(10, "A"), (11, "B")],
                     "user_id long, segment string")
    src = str(tmp_path / "events")
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    joined = stream.join(dim, "user_id").select("event_id", "segment")
    q = (joined.writeStream.format("memory").queryName("sse")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = sorted((r.event_id, r.segment)
                 for r in spark.table("sse").collect())
    assert got == [(1, "A"), (2, "B"), (3, "A")]


def test_tws_running_count_matches_batch_or_env_gated(spark, tmp_path):
    """transformWithStateInPandas twin: equals the batch groupBy count
    after one availableNow tick. Skips (rather than fails) where the
    worker-side protobuf dependency is unavailable."""
    import pytest as _pytest

    import __spark_entry__ as E
    registered = "stream_running_count_tws" in E.queries()
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        # outcome A: env lacks protobuf → op gated AND not registered
        assert not registered, (
            "stream_running_count_tws must not register without protobuf")
        from pmc_conversion_spark.streaming.stateful import \
            running_count_tws
        df = spark.range(1).selectExpr("id AS user_id")
        with _pytest.raises(NotImplementedError):
            running_count_tws(df)
        _pytest.skip("google.protobuf unavailable in this environment")
    # outcome B: env has protobuf → op must be a registered query
    assert registered, (
        "protobuf available but stream_running_count_tws not registered")
    import uuid
    from pmc_conversion_spark.streaming.stateful import running_count_tws
    sf = "/root/testdata/sf0.001"
    raw = spark.read.parquet(f"{sf}/events.parquet")
    stream = (spark.readStream.schema(raw.schema)
              .option("pathGlobFilter", "events.parquet").parquet(sf))
    counts = running_count_tws(stream)
    name = f"tws_{uuid.uuid4().hex[:8]}"
    q = (counts.writeStream.format("memory").queryName(name)
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {r.user_id: r.n_events for r in spark.table(name).collect()}
    want = {r.user_id: r.n for r in
            raw.groupBy("user_id").count()
            .withColumnRenamed("count", "n").collect()}
    assert got == want
