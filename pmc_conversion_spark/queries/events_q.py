"""Registry: event-time operators (SURVEY.md §2.9) in their batch form.

The reference is micro-batch-by-cron; these are the ∅ event-time ops the
driver events table requires. Each query here is the *batch* semantics
of the corresponding streaming transform — the actual readStream
versions (same transform functions) live in
``pmc_conversion_spark/streaming`` and are exercised by tests; the
DuckDB oracle pins the windowing semantics.

Money-style doubles are summed as DECIMAL(18,2) on both sides so the
hash comparison is exact regardless of summation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pmc_conversion_spark import tables
from pmc_conversion_spark.queries import register


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tables.load(spark, sf_dir, "events")


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a file stream over ``sf_dir``, NTZ-tolerant as
    ``tables.load`` is. The stream declares the file's raw schema
    (``tables.file_schema``), not the loader's rebuilt one: under the
    engine's legacy nanos conf the parquet source yields a nanos ``ts``
    as a long, which is rebuilt on the stream as ``_load_events`` does
    (ADVICE r2)."""
    stream = (spark.readStream
              .schema(tables.file_schema(spark, sf_dir, "events"))
              .option("pathGlobFilter", "events.parquet")
              .parquet(sf_dir))
    if dict(stream.dtypes)["ts"] == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream


@register(
    "stream_tumbling_window",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             AS total_value
    FROM events
    GROUP BY 1, 2
    """)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows per event type."""
    e = _events(spark, sf_dir)
    return (e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("value").cast("decimal(18,2)"))
                 .cast("double").alias("total_value"))
            .select(F.col("w.start").alias("w_start"), "event_type",
                    "n", "total_value"))


@register(
    "stream_sliding_window",
    oracle="""
    SELECT time_bucket(INTERVAL '10 minutes', ts)
             - k * INTERVAL '10 minutes' AS w_start,
           count(*) AS n
    FROM events, (VALUES (0), (1), (2)) AS off(k)
    GROUP BY 1
    """)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 30-minute width, 10-minute slide (each event lands
    in 3 windows)."""
    e = _events(spark, sf_dir)
    return (e.groupBy(F.window("ts", "30 minutes", "10 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("w_start"), "n"))


@register(
    "stream_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged
    )
    SELECT user_id, min(ts) AS session_start, count(*) AS n_events
    FROM sess GROUP BY user_id, sess_id
    """)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 30-minute inactivity gap per user; the
    oracle pins the semantics via gaps-and-islands SQL."""
    e = _events(spark, sf_dir)
    return (e.groupBy("user_id",
                      F.session_window("ts", "30 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("ts").alias("session_start"))
            .select("user_id", "session_start", "n_events"))


@register(
    "stream_watermark_late",
    oracle="""
    WITH wm AS (SELECT max(ts) - INTERVAL '7 days' AS cutoff FROM events)
    SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start,
           event_type, count(*) AS n
    FROM events, wm
    WHERE ts >= wm.cutoff
    GROUP BY 1, 2
    """)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark semantics in batch: events older than (max event time −
    7 days) count as late and are dropped before windowing; the streaming
    twin uses withWatermark (tests)."""
    e = _events(spark, sf_dir)
    cutoff = e.agg((F.max("ts") - F.expr("INTERVAL 7 DAYS")).alias("cutoff"))
    return (e.crossJoin(cutoff)
            .filter(F.col("ts") >= F.col("cutoff"))
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("w_start"), "event_type", "n"))


@register(
    "stream_funnel_detect",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type, 2) OVER w AS t2,
             lag(event_type, 1) OVER w AS t1,
             lag(ts, 2) OVER w AS ts2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id AS purchase_event_id, ts AS purchase_ts,
           (epoch_us(ts) - epoch_us(ts2)) // 60000000 AS funnel_minutes
    FROM seq
    WHERE event_type = 'purchase' AND t1 = 'click' AND t2 = 'click'
    """)
def stream_funnel_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence pattern detection (the MATCH_RECOGNIZE shape
    Spark lacks): purchases immediately preceded by two clicks, the
    conversion funnel, with the funnel duration reported. Expressed as lag-chains over ONE per-user window (single
    shuffle, deterministic (ts, event_id) order); no self-joins, no
    per-user collect. The same window serves any fixed-length pattern;
    variable-length patterns graduate to the sessionizer."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (e.withColumn("t1", F.lag("event_type", 1).over(w))
           .withColumn("t2", F.lag("event_type", 2).over(w))
           .withColumn("ts2", F.lag("ts", 2).over(w)))
    return (seq.filter((F.col("event_type") == "purchase")
                       & (F.col("t1") == "click")
                       & (F.col("t2") == "click"))
            .select("user_id",
                    F.col("event_id").alias("purchase_event_id"),
                    F.col("ts").alias("purchase_ts"),
                    # exact epoch-us floor-div on both engines: DuckDB
                    # date_diff counts boundary CROSSINGS, Spark
                    # timestampdiff counts full durations — neither
                    # matches the other at sub-unit precision
                    F.expr("(unix_micros(cast(ts as timestamp)) - "
                           "unix_micros(cast(ts2 as timestamp))) "
                           "div 60000000").alias("funnel_minutes")))


@register(
    "stream_watermark_dropped",
    oracle="""
    WITH wm AS (SELECT max(ts) - INTERVAL '7 days' AS cutoff FROM events)
    SELECT event_type,
           count(*) AS n_total,
           count(CASE WHEN ts < wm.cutoff THEN 1 END) AS n_dropped
    FROM events, wm
    GROUP BY event_type
    """)
def stream_watermark_dropped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data OBSERVABILITY: per event type, how many rows the
    7-day watermark would drop (the numDroppedRows metric of a real
    streaming query, stated declaratively so it is oracle-checkable).
    stream_watermark_late keeps the survivors; production pipelines
    need the complement reported, not silently discarded — one
    aggregation pass computes kept and dropped together."""
    e = _events(spark, sf_dir)
    cutoff = e.agg((F.max("ts") - F.expr("INTERVAL 7 DAYS")).alias("cutoff"))
    return (e.crossJoin(cutoff)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_total"),
                 F.count(F.when(F.col("ts") < F.col("cutoff"), 1))
                 .alias("n_dropped")))


@register(
    "stream_custom_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged
    )
    SELECT user_id, min(ts) AS session_start, count(*) AS n_events
    FROM sess GROUP BY user_id, sess_id
    """)
def stream_custom_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator through the REAL streaming machinery:
    gap sessionization via applyInPandasWithState (open-session state
    per user key), run as an availableNow streaming query into a memory
    sink. One bounded batch -> exactly the batch sessionization, so the
    gaps-and-islands oracle checks it value-exactly."""
    import tempfile
    import uuid

    from pmc_conversion_spark.streaming.stateful import sessionize_with_state

    sessions = sessionize_with_state(_events_stream(spark, sf_dir),
                                     gap_minutes=30)
    name = f"sessions_{uuid.uuid4().hex[:8]}"
    q = (sessions.writeStream.format("memory").queryName(name)
         .outputMode("update")
         .option("checkpointLocation",
                 tempfile.mkdtemp(prefix="pmc_sessionize_ckpt_"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.table(name)


def _protobuf_available() -> bool:
    """transformWithStateInPandas serializes state between the JVM and
    the Python worker over protobuf; probe it ONCE at import (via
    ensure_protobuf, which falls back to the bundled-runtime shim) so
    the Spark-4 stateful API registers wherever a runtime exists and
    stays cleanly absent (not broken) where none does."""
    from pmc_conversion_spark.streaming.stateful import ensure_protobuf
    return ensure_protobuf()


if _protobuf_available():
    @register(
        "stream_running_count_tws",
        oracle="""
        SELECT user_id, count(*) AS n_events
        FROM events GROUP BY user_id
        """)
    def stream_running_count_tws(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
        """Per-key running count through transformWithStateInPandas
        (Spark 4 typed-state API, RocksDB-backed), run availableNow
        into a memory sink. Update mode emits one row per key per
        micro-batch with the monotone running total, so max() per key
        is the final count — which equals the batch groupBy count the
        oracle pins. CONDITIONALLY registered: requires a working
        google.protobuf in the Python workers (see
        streaming/stateful.py running_count_tws)."""
        from pmc_conversion_spark.streaming.stateful import \
            running_count_tws

        return (_tws_run(spark, sf_dir, running_count_tws)
                .groupBy("user_id")
                .agg(F.max("n_events").alias("n_events")))

    def _tws_run(spark: SparkSession, sf_dir: str, build,
                 mode: str = "update") -> DataFrame:
        """Shared harness for the transformWithState registry entries:
        events file stream (NTZ-tolerant ts) → build(stream) → memory
        sink, availableNow, ``mode`` output → the sink table. The
        RocksDB provider that the operator sets is scoped to the run,
        from the build through the query's end, so the session's
        settings come back as they were."""
        import tempfile
        import uuid

        from pmc_conversion_spark.streaming.stateful import TWS_CONF
        from pmc_conversion_spark.util import session_conf

        name = f"tws_{uuid.uuid4().hex[:8]}"
        with session_conf(spark, TWS_CONF):
            out = build(_events_stream(spark, sf_dir))
            q = (out.writeStream.format("memory").queryName(name)
                 .outputMode(mode)
                 .option("checkpointLocation",
                         tempfile.mkdtemp(prefix="pmc_tws_ckpt_"))
                 .trigger(availableNow=True)
                 .start())
            q.awaitTermination()
        return spark.table(name)

    @register(
        "stream_topn_liststate_tws",
        oracle="""
        SELECT user_id, rn::INT AS rn, value_cents, event_id FROM (
          SELECT user_id,
                 CAST(round(value * 100) AS BIGINT) AS value_cents,
                 event_id,
                 ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(round(value * 100) AS BIGINT) DESC,
                            event_id) AS rn
          FROM events)
        WHERE rn <= 3
        """)
    def stream_topn_liststate_tws(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
        """Per-user running TOP-3 event values through a
        transformWithState LIST state (streaming/stateful.py
        topn_liststate_tws), availableNow into a memory sink. Each
        batch emits the monotone top-3-so-far, so re-ranking the
        distinct union of emissions equals the batch top-3 the oracle
        pins — ties broken by event_id, values as exact cents."""
        from pmc_conversion_spark.streaming.stateful import \
            topn_liststate_tws

        got = _tws_run(
            spark, sf_dir,
            lambda s: topn_liststate_tws(
                s.select(
                    "user_id", "event_id",
                    F.round(F.col("value") * 100).cast("long")
                    .alias("value_cents"))))
        w = Window.partitionBy("user_id").orderBy(
            F.col("value_cents").desc(), "event_id")
        return (got.select("user_id", "value_cents", "event_id")
                .distinct()
                .withColumn("rn", F.row_number().over(w).cast("int"))
                .filter(F.col("rn") <= 3)
                .select("user_id", "rn", "value_cents", "event_id"))

    @register(
        "stream_pertype_mapstate_tws",
        oracle="""
        SELECT user_id, event_type,
               count(*) AS n_events,
               epoch_us(max(ts)) AS last_us
        FROM events GROUP BY user_id, event_type
        """)
    def stream_pertype_mapstate_tws(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
        """Per-(user, event_type) running count + last-seen through a
        transformWithState MAP state (streaming/stateful.py
        per_type_stats_tws), availableNow into a memory sink. Every
        emission carries the full per-type map, so max-per-group over
        all emissions equals the batch aggregate the oracle pins;
        timestamps ride as epoch micros to stay NTZ-exact."""
        from pmc_conversion_spark.streaming.stateful import \
            per_type_stats_tws

        got = _tws_run(
            spark, sf_dir,
            lambda s: per_type_stats_tws(
                s.select("user_id", "event_type", "ts")))
        return (got.groupBy("user_id", "event_type")
                .agg(F.max("n_events").alias("n_events"),
                     F.max("last_us").alias("last_us")))

    @register(
        "stream_timer_flush_tws",
        oracle="""
        SELECT user_id, count(*) AS n_events
        FROM events GROUP BY user_id
        """)
    def stream_timer_flush_tws(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
        """Per-key count flushed by a transformWithState EVENT-TIME
        TIMER (streaming/stateful.py flush_on_watermark_tws): data
        batches only accumulate state; the no-data batch availableNow
        runs to advance the watermark fires each key's timer, and
        handleExpiredTimer emits the final total — exactly one append
        row per key, equal to the batch count the oracle pins. This is
        the session-timeout/TTL-flush shape for unbounded streams,
        exercising the one TWS surface (timers + EventTime mode) the
        Update-mode trio does not. Append mode, 0-second watermark on
        ts (cast to instant-typed TIMESTAMP — EventTime rejects NTZ)."""
        from pmc_conversion_spark.streaming.stateful import \
            flush_on_watermark_tws

        return _tws_run(
            spark, sf_dir,
            lambda s: flush_on_watermark_tws(
                s.withColumn("ts", F.col("ts").cast("timestamp"))
                .withWatermark("ts", "0 seconds")),
            mode="append")


@register(
    "stream_stateful_dedup",
    oracle="""
    SELECT user_id, event_type, event_id, ts
    FROM events
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts, event_id) = 1
    """)
def stream_stateful_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the first event per (user, type) — deterministic dedup via an
    explicit total order (dropDuplicates keeps an arbitrary row; the
    streaming twin bounds state with a watermark)."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (e.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("user_id", "event_type", "event_id", "ts"))


@register(
    "stream_static_enrich",
    oracle="""
    SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment AS segment
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    """)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: enrich an event stream with a bounded
    dimension (user profile). In streaming form the static side needs
    no watermark and re-broadcasts per micro-batch (exercised with real
    readStream machinery in tests/test_streaming.py); this batch twin
    pins the join semantics. The planner broadcasts the dimension while
    it is under ``autoBroadcastJoinThreshold``; the event side then
    never shuffles."""
    e = _events(spark, sf_dir)
    c = (tables.load(spark, sf_dir, "customer")
         .select("c_custkey", F.col("c_mktsegment").alias("segment")))
    return (e.join(c, e.user_id == c.c_custkey)
            .select("event_id", "user_id", "event_type", "segment"))


@register(
    "win_sessionize_batch",
    oracle="""
    WITH g AS (
      SELECT user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_ts
      FROM events
    ), f AS (
      SELECT user_id, event_id, ts,
             CASE WHEN prev_ts IS NULL
                       OR date_diff('us', prev_ts, ts) > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM g
    )
    SELECT user_id, event_id, ts,
           CAST(sum(is_new) OVER (PARTITION BY user_id
                ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS session_id
    FROM f
    """)
def win_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: 30-minute-gap rule as lag + running sum of
    new-session flags — the batch twin of stream_custom_sessionize. Both
    windows share ONE key-partitioned sort (same (user_id, ts, event_id)
    ordering), so the plan is a single shuffle + sort per key, no global
    window. Gap compare is integer microseconds on both engines."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    # Interval arithmetic works for TIMESTAMP and TIMESTAMP_NTZ alike
    # (unix_micros rejects NTZ, which is what the micros-NTZ parquet
    # testdata loads as).
    gap_over = (F.col("ts") - prev) > F.expr("INTERVAL 30 MINUTE")
    is_new = F.when(prev.isNull() | gap_over,
                    F.lit(1)).otherwise(F.lit(0))
    return (ev.withColumn("is_new", is_new)
            .withColumn("session_id",
                        F.sum("is_new").over(
                            w.rowsBetween(Window.unboundedPreceding,
                                          Window.currentRow)).cast("long"))
            .select("user_id", "event_id", "ts", "session_id"))


@register(
    "stream_foreach_batch_upsert",
    oracle="""
    SELECT user_id, event_id, ts, value FROM (
      SELECT user_id, event_id, ts, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events WHERE user_id < 50) t
    WHERE rn = 1
    """)
def stream_foreach_batch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming upsert sink: foreachBatch merges each micro-batch into
    a keyed parquet table (keep latest per user by (ts, event_id)),
    publishing each epoch via the atomic staging swap
    (sinks.tx_swap_write_parquet). Three fixture files stream one per
    micro-batch (maxFilesPerTrigger=1, availableNow), so the merge runs
    three times; keep-latest is associative, so the final table equals
    the one-shot batch answer regardless of file arrival order —
    checkpoint + idempotent publish = exactly-once."""
    import glob as G
    import os
    import shutil

    from pmc_conversion_spark.queries.scans import _scratch
    from pmc_conversion_spark.sources.sinks import tx_swap_write_parquet
    from pmc_conversion_spark.streaming.ingest import run_foreach_batch

    d = _scratch("stream_foreach_batch_upsert")
    drop, ckpt, table = (os.path.join(d, x) for x in
                         ("drop", "ckpt", "table"))
    os.makedirs(drop, exist_ok=True)
    ev = (_events(spark, sf_dir).filter(F.col("user_id") < 50)
          .select("user_id", "event_id", "ts", "value"))
    for i in range(3):  # three arrival files = three micro-batches
        part = os.path.join(d, f"slice{i}")
        (ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == i)
         .coalesce(1).write.mode("overwrite").parquet(part))
        src = G.glob(os.path.join(part, "part-*.parquet"))[0]
        shutil.copy(src, os.path.join(drop, f"arrival_{i}.parquet"))

    schema = "user_id bigint, event_id bigint, ts timestamp, value double"

    def upsert(batch_df: DataFrame, epoch_id: int) -> None:
        s = batch_df.sparkSession
        merged = batch_df
        if os.path.exists(os.path.join(table, "_SUCCESS")):
            merged = s.read.parquet(table).unionByName(batch_df)
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc())
        latest = (merged.withColumn("__rn", F.row_number().over(w))
                  .filter(F.col("__rn") == 1).drop("__rn"))
        tx_swap_write_parquet(latest, table)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(drop))
    run_foreach_batch(stream, ckpt, upsert)
    return spark.read.parquet(table).select(
        "user_id", "event_id", "ts", "value")


@register(
    "ts_resample_gapfill",
    oracle="""
    WITH b AS (
      SELECT user_id, date_trunc('hour', ts) AS h, count(*) AS n,
             arg_max(value, event_id) AS lastv
      FROM events GROUP BY 1, 2
    ),
    sp AS (
      SELECT user_id,
             unnest(generate_series(min(h), max(h), INTERVAL 1 HOUR)) AS h
      FROM b GROUP BY user_id
    )
    SELECT sp.user_id, sp.h AS bin_ts,
           coalesce(b.n, 0) AS n_events,
           last_value(b.lastv IGNORE NULLS) OVER (
               PARTITION BY sp.user_id ORDER BY sp.h
               ROWS UNBOUNDED PRECEDING) AS value_ffill
    FROM sp LEFT JOIN b USING (user_id, h)
    """)
def ts_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + gap-fill: per-user hourly bins from the
    user's own first to last event, empty bins carried forward with
    the last observed value (sensor/metric densification). The
    calendar spine is generated PER KEY from that key's min/max via
    sequence+explode — never a global calendar cross join, so spine
    size is bounded by each key's own span and the whole op is
    key-partitioned: the bin aggregation, the spine left-join, and the
    forward-fill window all share one (user_id) shuffle lineage. The
    in-bin "last" is max_by over the unique event_id — deterministic
    under any partitioning (and arg_max on the oracle side)."""
    e = _events(spark, sf_dir)
    b = (e.groupBy("user_id", F.date_trunc("hour", "ts").alias("h"))
         .agg(F.count(F.lit(1)).alias("n"),
              F.max_by("value", "event_id").alias("lastv")))
    sp = (b.groupBy("user_id")
          .agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
          .select("user_id",
                  F.explode(F.sequence(
                      "h0", "h1",
                      F.expr("INTERVAL 1 HOUR"))).alias("h")))
    w = (Window.partitionBy("user_id").orderBy("h")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (sp.join(b, ["user_id", "h"], "left")
            .select("user_id", F.col("h").alias("bin_ts"),
                    F.coalesce("n", F.lit(0)).alias("n_events"),
                    F.last("lastv", ignorenulls=True).over(w)
                    .alias("value_ffill")))


@register(
    "ts_interval_union",
    oracle="""
    WITH iv AS (
      SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS s,
             CAST(floor(epoch(ts)) AS BIGINT) + 600 AS e
      FROM events
    ), m AS (
      SELECT user_id, event_id, s, e,
             max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prev_max_e
      FROM iv
    ), f AS (
      SELECT user_id, s, e,
             CASE WHEN prev_max_e IS NULL OR s > prev_max_e
                  THEN 1 ELSE 0 END AS is_new
      FROM m
    ), isl AS (
      SELECT user_id, s, e,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY s, e
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS island
      FROM f
    )
    SELECT user_id, island,
           min(s) AS start_s, max(e) AS end_s,
           max(e) - min(s) AS covered_s,
           count(*) AS n_events
    FROM isl GROUP BY user_id, island
    """)
def ts_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval union (merge overlapping intervals): every event opens
    a 10-minute activity interval; touching/overlapping intervals per
    user merge into maximal islands with coverage seconds — the
    classic uptime/exposure primitive a point-event sessionizer
    (``win_sessionize_batch``) can't express, because membership
    depends on the RUNNING MAX of interval ends, not the previous
    event's gap.

    Plan: two windows + the closing agg, all partitioned on user_id —
    one shuffle total, no self-join (the naive formulation is an
    O(N²) interval self-join). Epoch-second integers keep both
    engines' island boundaries exact."""
    e = _events(spark, sf_dir)
    s = F.col("ts").cast("timestamp").cast("long")
    iv = e.select("user_id", "event_id", s.alias("s"),
                  (s + 600).alias("e"))
    w_order = (Window.partitionBy("user_id").orderBy("s", "event_id")
               .rowsBetween(Window.unboundedPreceding, -1))
    m = iv.withColumn("prev_max_e", F.max("e").over(w_order))
    f = m.withColumn(
        "is_new",
        F.when(F.col("prev_max_e").isNull()
               | (F.col("s") > F.col("prev_max_e")), 1).otherwise(0))
    w_cum = (Window.partitionBy("user_id").orderBy("s", "e")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    isl = f.withColumn("island", F.sum("is_new").over(w_cum))
    return (isl.groupBy("user_id", "island")
            .agg(F.min("s").alias("start_s"), F.max("e").alias("end_s"),
                 (F.max("e") - F.min("s")).alias("covered_s"),
                 F.count(F.lit(1)).alias("n_events")))


@register(
    "stream_left_outer_interval",
    oracle="""
    WITH p AS (SELECT user_id, event_id AS p_event_id, ts AS p_ts
               FROM events WHERE event_type = 'purchase'),
    c AS (SELECT user_id, event_id AS c_event_id, ts AS c_ts
          FROM events WHERE event_type = 'click')
    SELECT p.user_id, p.p_event_id, p.p_ts, c.c_event_id, c.c_ts
    FROM p LEFT JOIN c ON c.user_id = p.user_id
       AND c.c_ts >= p.p_ts - INTERVAL '1 hour'
       AND c.c_ts <= p.p_ts
    """)
def stream_left_outer_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER interval join: every purchase with its
    preceding-hour clicks, AND purchases with no such click as
    null-padded rows — the batch semantics of the watermarked
    left-outer stream-stream join (Spark emits the null row once the
    watermark passes p_ts; here the batch fixpoint). The inner twin is
    ``stream_stream_join``; outer-ness is what state cleanup actually
    has to get right in production, so it deserves its own gate.
    Equality key keeps the plan a hash join, the time band prunes
    within it."""
    e = _events(spark, sf_dir)
    purch = (e.filter(F.col("event_type") == "purchase")
             .select("user_id", F.col("event_id").alias("p_event_id"),
                     F.col("ts").alias("p_ts")))
    clicks = (e.filter(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user_id"),
                      F.col("event_id").alias("c_event_id"),
                      F.col("ts").alias("c_ts")))
    cond = ((purch.user_id == clicks.c_user_id)
            & (clicks.c_ts >= purch.p_ts - F.expr("INTERVAL 1 HOUR"))
            & (clicks.c_ts <= purch.p_ts))
    return (purch.join(clicks, cond, "left")
            .select("user_id", "p_event_id", "p_ts", "c_event_id", "c_ts"))


@register(
    "dq_freshness_sla",
    oracle="""
    WITH s AS (
      SELECT event_type, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec
      FROM events
    ), g AS (
      SELECT event_type, sec,
             sec - lag(sec) OVER (PARTITION BY event_type
                                  ORDER BY sec, event_id) AS gap_s,
             max(sec) OVER (PARTITION BY event_type) AS last_s
      FROM s
    )
    SELECT event_type,
           count(*) AS n_events,
           max(sec) AS last_s,
           max(gap_s) AS max_gap_s,
           CAST(sum(CASE WHEN sec >= last_s - 3600 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_last_hour
    FROM g GROUP BY event_type
    """)
def dq_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline-freshness audit per event type: arrival count, last
    arrival, the WORST inter-arrival gap (the SLA killer a plain
    max(ts) check misses — a feed can be 'fresh now' after a 6-hour
    hole), and volume in the type's own final hour.

    The reference polls for dropzone arrivals on a cron cadence
    (luigi-pipeline, scripts/run.sh); this is that liveness check as
    one partitioned window pass + partial agg — one shuffle on
    event_type, integer-second arithmetic on both engines."""
    e = _events(spark, sf_dir)
    sec = F.col("ts").cast("timestamp").cast("long")
    s = e.select("event_type", "event_id", sec.alias("sec"))
    w = Window.partitionBy("event_type").orderBy("sec", "event_id")
    wt = Window.partitionBy("event_type")
    g = s.select(
        "event_type", "sec",
        (F.col("sec") - F.lag("sec").over(w)).alias("gap_s"),
        F.max("sec").over(wt).alias("last_s"))
    return (g.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.max("sec").alias("last_s"),
                 F.max("gap_s").alias("max_gap_s"),
                 F.sum(F.when(F.col("sec") >= F.col("last_s") - 3600, 1)
                       .otherwise(0)).alias("n_last_hour")))


@register(
    "agg_new_vs_returning",
    oracle="""
    WITH d AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
      FROM events
    ), firsts AS (
      SELECT user_id, min(day) AS first_day FROM d GROUP BY user_id
    ), daily AS (
      SELECT day, count(DISTINCT user_id) AS active_users FROM d GROUP BY day
    ), news AS (
      SELECT first_day AS day, count(*) AS new_users
      FROM firsts GROUP BY first_day
    )
    SELECT daily.day, daily.active_users,
           coalesce(news.new_users, 0) AS new_users,
           daily.active_users - coalesce(news.new_users, 0)
             AS returning_users
    FROM daily LEFT JOIN news ON news.day = daily.day
    """)
def agg_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: per day, active users split into NEW (first
    ever appearance) vs RETURNING — the first-touch attribution
    primitive every activation dashboard runs.

    Two partial-aggregable passes (per-user first day; per-day
    distinct actives) joined on the day key — the distinct is the only
    wide op and shuffles 16-byte pairs, never events. No window: the
    naive formulation (min(ts) OVER user + per-row compare) drags the
    whole event table through a per-user window for what is an
    aggregate-sized question."""
    e = _events(spark, sf_dir)
    day = (F.col("ts").cast("timestamp").cast("long") / 86400) \
        .cast("bigint").alias("day")
    d = e.select("user_id", day)
    firsts = d.groupBy("user_id").agg(F.min("day").alias("first_day"))
    daily = (d.groupBy("day")
             .agg(F.countDistinct("user_id").alias("active_users")))
    news = (firsts.groupBy(F.col("first_day").alias("day"))
            .agg(F.count(F.lit(1)).alias("new_users")))
    return (daily.join(news, "day", "left")
            .select("day", "active_users",
                    F.coalesce("new_users", F.lit(0)).alias("new_users"),
                    (F.col("active_users")
                     - F.coalesce("new_users", F.lit(0)))
                    .alias("returning_users")))


@register(
    "agg_retention_cohorts",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
      FROM events
    ), firsts AS (
      SELECT user_id, min(day) AS cohort FROM d GROUP BY user_id
    )
    SELECT f.cohort, d.day - f.cohort AS day_offset,
           count(*) AS n_active
    FROM d JOIN firsts f USING (user_id)
    GROUP BY 1, 2
    """)
def agg_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen day
    (cohort), activity counted at each day-offset since — the
    triangle every retention dashboard plots, and the companion to
    ``agg_new_vs_returning``'s daily totals.

    (user, day) is deduped FIRST so the cohort join moves one row per
    user-day, not per event; the firsts table joins back on user_id —
    the natural shuffle key, partial-aggregable on both sides. The
    distinct-then-count(*) form replaces count(DISTINCT) in the final
    agg, keeping every aggregate map-side combinable."""
    e = _events(spark, sf_dir)
    day = (F.col("ts").cast("timestamp").cast("long") / 86400) \
        .cast("bigint").alias("day")
    d = e.select("user_id", day).distinct()
    firsts = d.groupBy("user_id").agg(F.min("day").alias("cohort"))
    return (d.join(firsts, "user_id")
            .groupBy("cohort", (F.col("day") - F.col("cohort"))
                     .alias("day_offset"))
            .agg(F.count(F.lit(1)).alias("n_active")))


@register(
    "win_active_streaks",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
      FROM events
    ), g AS (
      SELECT user_id, day,
             day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
               AS grp
      FROM d
    ), streaks AS (
      SELECT user_id, count(*) AS streak_len, min(day) AS streak_start
      FROM g GROUP BY user_id, grp
    )
    SELECT user_id,
           max(streak_len) AS longest_streak,
           CAST(count(*) AS BIGINT) AS n_streaks,
           min(streak_start) AS first_day
    FROM streaks GROUP BY user_id
    """)
def win_active_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user (plus streak
    count and first active day) — the engagement metric behind every
    'N-day streak' product surface, and the integer gaps-and-islands
    identity: consecutive days share ``day - row_number()``.

    (user, day) dedups first (one row per user-day moves, not per
    event); both the numbering window and the aggregations partition
    on user_id — one shuffle key end to end, integer-exact."""
    e = _events(spark, sf_dir)
    day = (F.col("ts").cast("timestamp").cast("long") / 86400) \
        .cast("bigint").alias("day")
    d = e.select("user_id", day).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    g = d.withColumn("grp", F.col("day") - F.row_number().over(w))
    streaks = (g.groupBy("user_id", "grp")
               .agg(F.count(F.lit(1)).alias("streak_len"),
                    F.min("day").alias("streak_start")))
    return (streaks.groupBy("user_id")
            .agg(F.max("streak_len").alias("longest_streak"),
                 F.count(F.lit(1)).alias("n_streaks"),
                 F.min("streak_start").alias("first_day")))


@register(
    "dq_observe_inline_metrics",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE)
             AS total_value
    FROM events WHERE value >= 0
    GROUP BY event_type
    """)
def dq_observe_inline_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline pipeline observability via ``DataFrame.observe``: the
    per-type aggregate result ships WITH accumulator-style metrics
    (rows scanned, rows dropped by the value filter) collected during
    the SAME execution — no second audit pass over the data, which at
    100 TB is the difference between monitoring and doubling the
    bill. The observation rides the plan as a zero-shuffle
    CollectMetrics node; tests/test_analytics.py asserts the emitted
    metric values, the oracle pins the data result."""
    from pyspark.sql import Observation
    e = _events(spark, sf_dir)
    obs = Observation("dq")
    observed = e.observe(
        obs,
        F.count(F.lit(1)).alias("rows_scanned"),
        F.sum(F.when(F.col("value") < 0, 1).otherwise(0))
        .alias("rows_dropped"))
    out = (observed.filter(F.col("value") >= 0)
           .groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.round("value", 6).cast("decimal(18,6)"))
                .cast("double").alias("total_value")))
    # stash the Observation so callers/tests can read obs.get after the
    # action; the registry contract only materializes the DataFrame
    out._dq_observation = obs
    return out


@register(
    "win_moving_median",
    oracle="""
    WITH v AS (
      SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    )
    SELECT user_id, event_id,
           CAST(median(cents) OVER (
             PARTITION BY user_id ORDER BY sec, event_id
             ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS DOUBLE)
             AS med_cents
    FROM v
    """)
def win_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centered 5-row moving MEDIAN per user — the robust smoother a
    moving average can't replace when the series has spikes. Spark
    has no median window aggregate, so the engine states it as
    collect-the-frame → sort → middle element(s): the frame is
    CONSTANT-SIZED (≤5), so per-row state is bounded and the trick
    never becomes the unbounded-group percentile hazard
    ``agg_quantiles`` documents. Integer cents in, exact halves out
    (even frames average the two middles) — both engines agree
    without float sorting."""
    e = _events(spark, sf_dir)
    v = e.select("user_id", "event_id",
                 F.col("ts").cast("timestamp").cast("long").alias("sec"),
                 F.round(F.col("value") * 100).cast("bigint").alias("cents"))
    w = (Window.partitionBy("user_id").orderBy("sec", "event_id")
         .rowsBetween(-2, 2))
    frame = F.sort_array(F.collect_list("cents").over(w))
    n = F.size(frame)
    lo = F.element_at(frame, ((n + 1) / 2).cast("int"))
    hi = F.element_at(frame, (n / 2 + 1).cast("int"))
    return v.select("user_id", "event_id",
                    ((lo + hi) / 2.0).alias("med_cents"))


@register(
    "win_hampel_filter",
    oracle="""
    WITH v AS (
      SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    lw AS (
      SELECT user_id, event_id, cents,
             list_sort(list(cents) OVER (
               PARTITION BY user_id ORDER BY sec, event_id
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS ls
      FROM v),
    m AS (SELECT *, len(ls) AS k,
                 (ls[(len(ls)+1)//2] + ls[len(ls)//2 + 1])
                   * 0.5::DOUBLE AS med
          FROM lw),
    d AS (SELECT *,
                 list_sort(list_transform(ls, e -> abs(e - med))) AS dl
          FROM m),
    h AS (SELECT *, (dl[(k+1)//2] + dl[k//2 + 1]) * 0.5::DOUBLE AS mad
          FROM d)
    SELECT user_id, event_id, cents,
           round(med, 2) AS med, round(mad, 2) AS mad
    FROM h
    WHERE mad > 0 AND abs(cents - med) > 4.4478::DOUBLE * mad
    """)
def win_hampel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel outlier filter on each user's value series: flag points
    more than 3 scaled MADs (3·1.4826 = 4.4478) from the centered
    7-point rolling MEDIAN — the robust despiker used on sensor/price
    series where a z-score filter (``win_zscore_rolling``) gets
    dragged by the very outliers it should catch. Median AND MAD both
    come from the CONSTANT-SIZED collected frame (≤7 integer cents →
    exact halves), the ``win_moving_median`` discipline extended one
    level: the MAD is the median of |neighbor − this row's median|,
    which no precomputed-column window aggregate can state.

    Plan: one partitioned window per user series (one shuffle), all
    list algebra per-row JVM expressions; output only flagged rows."""
    e = _events(spark, sf_dir)
    v = e.select("user_id", "event_id",
                 F.col("ts").cast("timestamp").cast("long").alias("sec"),
                 F.round(F.col("value") * 100).cast("bigint")
                 .alias("cents"))
    w7 = (Window.partitionBy("user_id").orderBy("sec", "event_id")
          .rowsBetween(-3, 3))
    ls = F.sort_array(F.collect_list("cents").over(w7))
    lw = v.select("user_id", "event_id", "cents", ls.alias("ls"))
    k = F.size("ls")
    med = ((F.element_at("ls", ((k + 1) / 2).cast("int"))
            + F.element_at("ls", (k / 2 + 1).cast("int")))
           * F.lit(0.5))
    m = lw.select("*", k.alias("k"), med.alias("med"))
    dl = F.sort_array(F.transform(
        "ls", lambda x: F.abs(x - F.col("med"))))
    d = m.select("*", dl.alias("dl"))
    kk = F.col("k")
    mad = ((F.element_at("dl", ((kk + 1) / 2).cast("int"))
            + F.element_at("dl", (kk / 2 + 1).cast("int")))
           * F.lit(0.5))
    h = d.select("*", mad.alias("mad"))
    return (h.filter((F.col("mad") > 0)
                     & (F.abs(F.col("cents") - F.col("med"))
                        > F.lit(4.4478) * F.col("mad")))
            .select("user_id", "event_id", "cents",
                    F.round("med", 2).alias("med"),
                    F.round("mad", 2).alias("mad")))


@register(
    "agg_markov_transitions",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                 ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id)
               AS prev_type
      FROM events
    ), c AS (
      SELECT prev_type AS from_type, event_type AS to_type,
             count(*) AS n
      FROM o WHERE prev_type IS NOT NULL GROUP BY 1, 2
    ), t AS (
      SELECT from_type, sum(n) AS row_total FROM c GROUP BY from_type
    )
    SELECT c.from_type, c.to_type, c.n,
           round(CAST(c.n AS DOUBLE) / t.row_total, 6) AS p
    FROM c JOIN t USING (from_type)
    """)
def agg_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: (from, to) counts and row-normalized probabilities —
    the behavioral model behind next-action prediction and funnel
    diagnostics (``stream_funnel_detect`` matches one fixed path;
    this estimates ALL of them). One per-user lag window (the
    sequence order is (second, event_id) — total and portable), then
    two partial-aggregable counts; the row-total join is
    transition-matrix-sized, so the planner broadcasts it while it is
    under ``autoBroadcastJoinThreshold``."""
    e = _events(spark, sf_dir)
    w = (Window.partitionBy("user_id")
         .orderBy(F.col("ts").cast("timestamp").cast("long"), "event_id"))
    o = e.select("user_id", "event_type",
                 F.lag("event_type").over(w).alias("prev_type"))
    c = (o.filter(F.col("prev_type").isNotNull())
         .groupBy(F.col("prev_type").alias("from_type"),
                  F.col("event_type").alias("to_type"))
         .agg(F.count(F.lit(1)).alias("n")))
    t = c.groupBy("from_type").agg(F.sum("n").alias("row_total"))
    return (c.join(t, "from_type")
            .select("from_type", "to_type", "n",
                    F.round(F.col("n").cast("double")
                            / F.col("row_total"), 6).alias("p")))


@register(
    "agg_ab_lift",
    oracle="""
    WITH g AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN 'control' ELSE 'treatment' END
               AS grp,
             CAST(round(value, 6) AS DECIMAL(18,6)) AS v
      FROM events WHERE event_type = 'purchase'
    ), s AS (
      SELECT grp, count(*) AS n,
             CAST(sum(v) AS DOUBLE) AS s1,
             CAST(sum(v * v) AS DOUBLE) AS s2
      FROM g GROUP BY grp
    ), w AS (
      SELECT
        max(CASE WHEN grp = 'control' THEN n END) AS n_c,
        max(CASE WHEN grp = 'control' THEN s1 END) AS s1_c,
        max(CASE WHEN grp = 'control' THEN s2 END) AS s2_c,
        max(CASE WHEN grp = 'treatment' THEN n END) AS n_t,
        max(CASE WHEN grp = 'treatment' THEN s1 END) AS s1_t,
        max(CASE WHEN grp = 'treatment' THEN s2 END) AS s2_t
      FROM s
    )
    SELECT n_c, n_t,
           round(s1_c / n_c, 6) AS mean_control,
           round(s1_t / n_t, 6) AS mean_treatment,
           round((s1_t / n_t - s1_c / n_c) / (s1_c / n_c), 6) AS rel_lift,
           round((s1_t / n_t - s1_c / n_c)
                 / sqrt((s2_c / n_c - (s1_c/n_c)*(s1_c/n_c)) / n_c
                        + (s2_t / n_t - (s1_t/n_t)*(s1_t/n_t)) / n_t), 4)
             AS z_score
    FROM w
    """)
def agg_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B lift analysis: purchase values split by a deterministic
    user-id assignment into control/treatment, reporting group means,
    relative lift, and the two-sample z statistic from power sums —
    the experiment-readout query, computed the moments way
    (``agg_higher_moments``'s policy) so the variance terms are
    partitioning-exact. One partial-agg pass, then a two-row pivot
    into one comparison row; no per-user state."""
    e = _events(spark, sf_dir)
    g = (e.filter(F.col("event_type") == "purchase")
         .select(F.when(F.col("user_id") % 2 == 0, "control")
                 .otherwise("treatment").alias("grp"),
                 F.round("value", 6).cast("decimal(18,6)").alias("v")))
    s = (g.groupBy("grp")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("v").cast("double").alias("s1"),
              F.sum(F.col("v") * F.col("v")).cast("double").alias("s2")))
    w = s.agg(
        F.max(F.when(F.col("grp") == "control", F.col("n"))).alias("n_c"),
        F.max(F.when(F.col("grp") == "control", F.col("s1"))).alias("s1_c"),
        F.max(F.when(F.col("grp") == "control", F.col("s2"))).alias("s2_c"),
        F.max(F.when(F.col("grp") == "treatment", F.col("n"))).alias("n_t"),
        F.max(F.when(F.col("grp") == "treatment", F.col("s1"))).alias("s1_t"),
        F.max(F.when(F.col("grp") == "treatment", F.col("s2"))).alias("s2_t"))
    mc = F.col("s1_c") / F.col("n_c")
    mt = F.col("s1_t") / F.col("n_t")
    var_c = F.col("s2_c") / F.col("n_c") - mc * mc
    var_t = F.col("s2_t") / F.col("n_t") - mt * mt
    return w.select(
        "n_c", "n_t",
        F.round(mc, 6).alias("mean_control"),
        F.round(mt, 6).alias("mean_treatment"),
        F.round((mt - mc) / mc, 6).alias("rel_lift"),
        F.round((mt - mc) / F.sqrt(var_c / F.col("n_c")
                                   + var_t / F.col("n_t")), 4)
        .alias("z_score"))


@register(
    "dq_json_schema_validate",
    oracle="""
    WITH raw AS (
      SELECT event_id, props FROM events
      UNION ALL
      SELECT event_id + 1000000,
             CASE event_id % 3
               WHEN 0 THEN '{"k": "oops"}'
               WHEN 1 THEN '{"k": 1, "extra": true}'
               ELSE '{broken'
             END
      FROM events WHERE event_id < 30
    )
    SELECT event_id,
           CASE
             WHEN NOT json_valid(props) THEN 'malformed'
             WHEN list_sort(json_keys(props::JSON)) <> ['k']
               THEN 'unexpected_keys'
             WHEN json_type(props::JSON, '$.k') NOT IN
                  ('BIGINT', 'UBIGINT') THEN 'wrong_type'
             ELSE 'ok'
           END AS verdict
    FROM raw
    """)
def dq_json_schema_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row JSON contract validation for the semi-structured props
    column: malformed syntax, unexpected keys, and wrong value types
    each get a distinct verdict — the triage a schema-on-read feed
    needs BEFORE ``scan_variant_json`` trusts the column (planted
    violations: a string where an int belongs, an extra key, a broken
    literal). All checks are map-side JVM JSON functions; the verdict
    taxonomy means a downstream quarantine can route rows instead of
    failing the batch."""
    e = _events(spark, sf_dir)
    bad = (e.filter(F.col("event_id") < 30)
           .select((F.col("event_id") + 1000000).alias("event_id"),
                   F.when(F.col("event_id") % 3 == 0,
                          F.lit('{"k": "oops"}'))
                   .when(F.col("event_id") % 3 == 1,
                         F.lit('{"k": 1, "extra": true}'))
                   .otherwise(F.lit("{broken")).alias("props")))
    raw = e.select("event_id", "props").unionByName(bad)
    keys = F.json_object_keys("props")
    kval = F.get_json_object("props", "$.k")
    verdict = (
        F.when(keys.isNull(), "malformed")
        .when(F.sort_array(keys) != F.array(F.lit("k")), "unexpected_keys")
        .when(kval.isNull() | ~kval.rlike(r"^-?\d+$"), "wrong_type")
        .otherwise("ok"))
    return raw.select("event_id", verdict.alias("verdict"))


@register(
    "win_time_weighted_average",
    oracle="""
    WITH s AS (
      SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec,
             CAST(round(value, 6) AS DECIMAL(18,6)) AS v
      FROM events
    ), g AS (
      SELECT user_id, v,
             lead(sec) OVER (PARTITION BY user_id
                             ORDER BY sec, event_id) - sec AS held_s
      FROM s
    )
    SELECT user_id,
           CAST(sum(held_s) AS BIGINT) AS total_held_s,
           round(CAST(sum(v * held_s) AS DOUBLE)
                 / CAST(sum(held_s) AS DOUBLE), 6) AS twap
    FROM g WHERE held_s IS NOT NULL AND held_s > 0
    GROUP BY user_id
    """)
def win_time_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP) per user: each observation is
    weighted by how long it HELD (until the next event) — the correct
    mean for irregularly-sampled series, where the plain average
    over-weights bursts (the finance/metrics standard). One lead
    window per user for the holding interval, then a partial-agg
    decimal dot product; integer seconds × decimal values make the
    weighted sum order-exact. Final observations (no successor) have
    no holding period and drop out, as the definition requires."""
    e = _events(spark, sf_dir)
    s = e.select("user_id", "event_id",
                 F.col("ts").cast("timestamp").cast("long").alias("sec"),
                 F.round("value", 6).cast("decimal(18,6)").alias("v"))
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    g = s.select("user_id", "v",
                 (F.lead("sec").over(w) - F.col("sec")).alias("held_s"))
    return (g.filter(F.col("held_s").isNotNull() & (F.col("held_s") > 0))
            .groupBy("user_id")
            .agg(F.sum("held_s").alias("total_held_s"),
                 F.round(F.sum(F.col("v") * F.col("held_s")).cast("double")
                         / F.sum("held_s").cast("double"), 6)
                 .alias("twap")))


@register(
    "win_drawdown",
    oracle="""
    WITH s AS (
      SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec,
             CAST(round(value, 6) AS DECIMAL(18,6)) AS v
      FROM events
    ), cs AS (
      SELECT user_id, sec, event_id,
             sum(v) OVER (PARTITION BY user_id ORDER BY sec, event_id
                          ROWS UNBOUNDED PRECEDING) AS cum
      FROM s
    ), c AS (
      SELECT user_id, cum,
             max(cum) OVER (PARTITION BY user_id ORDER BY sec, event_id
                            ROWS UNBOUNDED PRECEDING) AS peak
      FROM cs
    )
    SELECT user_id,
           CAST(max(peak - cum) AS DOUBLE) AS max_drawdown,
           CAST(max(peak) AS DOUBLE) AS peak_value
    FROM c GROUP BY user_id
    """)
def win_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per user: the largest peak-to-trough fall of
    the cumulative value series — the risk metric a running total
    alone can't show (a series can end positive after a deep dip).
    Two stacked windows on the same (user, time) order — running sum,
    then running max of it — and a closing partial agg; exact decimal
    cumulative sums make peak and trough partitioning-exact."""
    e = _events(spark, sf_dir)
    s = e.select("user_id", "event_id",
                 F.col("ts").cast("timestamp").cast("long").alias("sec"),
                 F.round("value", 6).cast("decimal(18,6)").alias("v"))
    w = (Window.partitionBy("user_id").orderBy("sec", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c = (s.withColumn("cum", F.sum("v").over(w))
         .withColumn("peak", F.max("cum").over(w)))
    return (c.groupBy("user_id")
            .agg(F.max(F.col("peak") - F.col("cum")).cast("double")
                 .alias("max_drawdown"),
                 F.max("peak").cast("double").alias("peak_value")))


@register(
    "agg_survival_curve",
    oracle="""
    WITH d AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
      FROM events
    ), spans AS (
      SELECT user_id, max(day) - min(day) AS span_days
      FROM d GROUP BY user_id
    ), t AS (SELECT count(*) AS n_users FROM spans),
    ks AS (SELECT unnest(range(0, 8)) AS k)
    SELECT ks.k AS day_k,
           CAST(sum(CASE WHEN spans.span_days >= ks.k THEN 1 ELSE 0 END)
                AS BIGINT) AS n_surviving,
           round(CAST(sum(CASE WHEN spans.span_days >= ks.k
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / t.n_users, 6) AS survival
    FROM ks, spans, t
    GROUP BY ks.k, t.n_users
    """)
def agg_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-lifetime survival curve: the share of users whose active
    span (last minus first day) reaches at least k days, for k=0..7 —
    the population-level decay function the per-cohort retention
    triangle (``agg_retention_cohorts``) aggregates into. The span
    table is one per-user partial agg; the curve is a bounded
    k-domain cross join over it (8 × users rows, but the span table
    is the small side after aggregation). Monotone by construction —
    a non-monotone curve is a bug the values expose."""
    e = _events(spark, sf_dir)
    day = (F.col("ts").cast("timestamp").cast("long") / 86400) \
        .cast("bigint").alias("day")
    spans = (e.select("user_id", day)
             .groupBy("user_id")
             .agg((F.max("day") - F.min("day")).alias("span_days")))
    t = spans.agg(F.count(F.lit(1)).alias("n_users"))
    ks = spark.range(0, 8).select(F.col("id").alias("day_k"))
    joined = ks.crossJoin(spans).crossJoin(t)
    return (joined.groupBy("day_k", "n_users")
            .agg(F.sum(F.when(F.col("span_days") >= F.col("day_k"), 1)
                       .otherwise(0)).alias("n_surviving"))
            .select("day_k", "n_surviving",
                    F.round(F.col("n_surviving").cast("double")
                            / F.col("n_users"), 6).alias("survival")))


@register(
    "win_zscore_rolling",
    oracle="""
    WITH s AS (
      SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec,
             CAST(round(value, 6) AS DECIMAL(18,6)) AS v
      FROM events
    ), f AS (
      SELECT user_id, event_id, v,
             count(*) OVER w AS n,
             CAST(sum(v) OVER w AS DOUBLE) AS s1,
             CAST(sum(v * v) OVER w AS DOUBLE) AS s2
      FROM s
      WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id,
           CASE WHEN n >= 3 AND s2 / n - (s1/n)*(s1/n) > 1e-12
                THEN round((CAST(v AS DOUBLE) - s1/n)
                           / sqrt(s2/n - (s1/n)*(s1/n)), 4)
           END AS rolling_z
    FROM f
    """)
def win_zscore_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling standardization: each observation's z-score against its
    own trailing 5-row window — the per-entity anomaly signal where
    the GLOBAL z (``dq_outlier_zscore``) would drown slow drift. Frame
    moments come from exact decimal power sums (constant frame, no
    value buffering); warm-up rows (n<3) and near-zero variance yield
    NULL rather than a division artifact — the contract a paging
    alert needs."""
    e = _events(spark, sf_dir)
    s = e.select("user_id", "event_id",
                 F.col("ts").cast("timestamp").cast("long").alias("sec"),
                 F.round("value", 6).cast("decimal(18,6)").alias("v"))
    w = (Window.partitionBy("user_id").orderBy("sec", "event_id")
         .rowsBetween(-4, 0))
    f = s.select("user_id", "event_id", "v",
                 F.count(F.lit(1)).over(w).alias("n"),
                 F.sum("v").over(w).cast("double").alias("s1"),
                 F.sum(F.col("v") * F.col("v")).over(w).cast("double")
                 .alias("s2"))
    mean = F.col("s1") / F.col("n")
    var = F.col("s2") / F.col("n") - mean * mean
    z = F.round((F.col("v").cast("double") - mean) / F.sqrt(var), 4)
    return f.select("user_id", "event_id",
                    F.when((F.col("n") >= 3) & (var > 1e-12), z)
                    .alias("rolling_z"))


@register(
    "win_discounted_return",
    oracle="""
    WITH s AS (
      SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec,
             round(value, 6) AS v
      FROM events
    ), l AS (
      SELECT user_id, event_id, v,
             lead(v, 1) OVER w AS v1,
             lead(v, 2) OVER w AS v2,
             lead(v, 3) OVER w AS v3,
             lead(v, 4) OVER w AS v4
      FROM s
      WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
    )
    SELECT user_id, event_id,
           round(v + 0.9 * coalesce(v1, 0) + 0.81 * coalesce(v2, 0)
                 + 0.729 * coalesce(v3, 0) + 0.6561 * coalesce(v4, 0), 6)
             AS return_g
    FROM l
    """)
def win_discounted_return(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted forward return: G_t = Σ γ^k·v_{t+k} over the next 4
    events (γ=0.9) per user — the n-step return that labels reward-
    model / RL training rows from event logs. A bounded horizon makes
    it pure lead algebra (4 leads sharing ONE window sort — no
    recursion, no self-join); episode ends (missing leads) contribute
    zero, which is the standard terminal-state convention. Explicit
    γ^k literals keep both engines' arithmetic identical."""
    e = _events(spark, sf_dir)
    s = e.select("user_id", "event_id",
                 F.col("ts").cast("timestamp").cast("long").alias("sec"),
                 F.round("value", 6).alias("v"))
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    l = s.select(
        "user_id", "event_id", "v",
        *[F.lead("v", k).over(w).alias(f"v{k}") for k in (1, 2, 3, 4)])
    g = (F.col("v")
         + 0.9 * F.coalesce("v1", F.lit(0.0))
         + 0.81 * F.coalesce("v2", F.lit(0.0))
         + 0.729 * F.coalesce("v3", F.lit(0.0))
         + 0.6561 * F.coalesce("v4", F.lit(0.0)))
    return l.select("user_id", "event_id",
                    F.round(g, 6).alias("return_g"))


@register(
    "stream_throttle_bucket_first",
    oracle="""
    WITH s AS (
      SELECT user_id, event_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec
      FROM events
    ), b AS (
      SELECT user_id, event_id, event_type, sec,
             sec // 30 AS bucket
      FROM s
    )
    SELECT user_id, bucket,
           min(struct_pack(sec := sec, event_id := event_id)).event_id
             AS kept_event_id,
           count(*) AS n_suppressed
    FROM b GROUP BY user_id, bucket
    """)
def stream_throttle_bucket_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate limiting by bucket-first: one kept event per (user, 30 s
    bucket) with the suppressed count — the alert/notification
    throttle. True debouncing (suppress within N s of the last KEPT
    event) is inherently sequential state; the bucket form is the
    standard distributed approximation that needs only a struct-min
    partial agg — no window, no state store in batch, and in
    streaming it is exactly a tumbling-window first-value. Tie order
    (sec, event_id) makes the kept representative portable."""
    e = _events(spark, sf_dir)
    s = e.select("user_id", "event_id",
                 F.col("ts").cast("timestamp").cast("long").alias("sec"))
    b = s.withColumn("bucket", (F.col("sec") / 30).cast("bigint"))
    return (b.groupBy("user_id", "bucket")
            .agg(F.min(F.struct("sec", "event_id")).alias("m"),
                 F.count(F.lit(1)).alias("n_suppressed"))
            .select("user_id", "bucket",
                    F.col("m.event_id").alias("kept_event_id"),
                    "n_suppressed"))


@register(
    "agg_active_user_ratios",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
      FROM events
    ), anchor AS (SELECT max(day) AS maxd FROM d),
    dau AS (SELECT count(DISTINCT user_id) AS n FROM d, anchor
            WHERE day = anchor.maxd),
    wau AS (SELECT count(DISTINCT user_id) AS n FROM d, anchor
            WHERE day > anchor.maxd - 7),
    mau AS (SELECT count(DISTINCT user_id) AS n FROM d, anchor
            WHERE day > anchor.maxd - 30)
    SELECT dau.n AS dau, wau.n AS wau, mau.n AS mau,
           round(CAST(dau.n AS DOUBLE) / mau.n, 6) AS stickiness
    FROM dau, wau, mau
    """)
def agg_active_user_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / MAU and the DAU/MAU stickiness ratio, anchored on
    the dataset's own last day (wall-clock free) — the engagement
    header of every growth dashboard, and the numerator/denominator
    discipline behind it: all three windows count DISTINCT users over
    the SAME deduped (user, day) frame, so the ratios can't disagree
    with the retention ops built on that frame. One dedup pass, three
    conditional distinct counts."""
    e = _events(spark, sf_dir)
    day = (F.col("ts").cast("timestamp").cast("long") / 86400) \
        .cast("bigint").alias("day")
    d = e.select("user_id", day).distinct()
    anchor = d.agg(F.max("day").alias("maxd"))
    j = d.crossJoin(F.broadcast(anchor))
    out = j.agg(
        F.countDistinct(F.when(F.col("day") == F.col("maxd"),
                               F.col("user_id"))).alias("dau"),
        F.countDistinct(F.when(F.col("day") > F.col("maxd") - 7,
                               F.col("user_id"))).alias("wau"),
        F.countDistinct(F.when(F.col("day") > F.col("maxd") - 30,
                               F.col("user_id"))).alias("mau"))
    return out.select(
        "dau", "wau", "mau",
        F.round(F.col("dau").cast("double") / F.col("mau"), 6)
        .alias("stickiness"))


@register(
    "win_last_value_ignore_nulls",
    oracle="""
    WITH s AS (
      SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec,
             CASE WHEN value >= 0.1 THEN round(value, 6) END AS v
      FROM events
    )
    SELECT user_id, event_id, v,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY sec, event_id
             ROWS UNBOUNDED PRECEDING) AS filled
    FROM s
    """)
def win_last_value_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill via ``last_value(... IGNORE NULLS)`` — the
    sensor/telemetry gap-repair primitive (a reading holds until the
    next one arrives), surfaced as its own op because IGNORE NULLS is
    the windowing feature migrations most often discover missing
    (``ts_resample_gapfill`` composes it behind a calendar join;
    here it is the bare contract). Rows before any observation stay
    null — fabricating a reading would be worse than missing one.
    Fixture nulls every value below 0.1."""
    e = _events(spark, sf_dir)
    s = e.select("user_id", "event_id",
                 F.col("ts").cast("timestamp").cast("long").alias("sec"),
                 F.when(F.col("value") >= 0.1,
                        F.round("value", 6)).alias("v"))
    w = (Window.partitionBy("user_id").orderBy("sec", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return s.select("user_id", "event_id", "v",
                    F.last("v", ignorenulls=True).over(w).alias("filled"))


@register(
    "agg_repeat_interval",
    oracle="""
    WITH s AS (
      SELECT o_custkey,
             CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS day
      FROM orders
    ), gaps AS (
      SELECT o_custkey,
             day - lag(day) OVER (PARTITION BY o_custkey ORDER BY day)
               AS gap_days
      FROM s
    )
    SELECT CASE WHEN gap_days = 0 THEN 'same_day'
                WHEN gap_days <= 30 THEN 'within_month'
                WHEN gap_days <= 90 THEN 'within_quarter'
                ELSE 'longer' END AS interval_band,
           count(*) AS n_gaps,
           round(avg(CAST(gap_days AS DOUBLE)), 4) AS avg_gap_days
    FROM gaps WHERE gap_days IS NOT NULL
    GROUP BY 1
    """)
def agg_repeat_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase interval distribution: consecutive-order gaps
    per customer, banded — the repurchase-cadence profile that sets
    win-back campaign timing and the churn-definition threshold
    (calling 90 quiet days 'churned' is only defensible after seeing
    this table). One lag window per customer on day integers, then a
    banded partial agg; date ties band as same_day rather than being
    silently dropped."""
    o = tables.load(spark, sf_dir, "orders")
    day = (F.col("o_orderdate").cast("timestamp").cast("long") / 86400) \
        .cast("bigint").alias("day")
    s = o.select("o_custkey", day)
    w = Window.partitionBy("o_custkey").orderBy("day")
    gaps = s.select(
        (F.col("day") - F.lag("day").over(w)).alias("gap_days"))
    band = (F.when(F.col("gap_days") == 0, "same_day")
            .when(F.col("gap_days") <= 30, "within_month")
            .when(F.col("gap_days") <= 90, "within_quarter")
            .otherwise("longer"))
    return (gaps.filter(F.col("gap_days").isNotNull())
            .groupBy(band.alias("interval_band"))
            .agg(F.count(F.lit(1)).alias("n_gaps"),
                 F.round(F.avg(F.col("gap_days").cast("double")), 4)
                 .alias("avg_gap_days")))


@register(
    "agg_burstiness",
    oracle="""
    WITH s AS (
      SELECT event_type, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec
      FROM events
    ), gaps AS (
      SELECT event_type,
             CAST(sec - lag(sec) OVER (PARTITION BY event_type
                                       ORDER BY sec, event_id)
                  AS DOUBLE) AS g
      FROM s
    ), m AS (
      SELECT event_type, count(*) AS n,
             sum(g) AS s1, sum(g * g) AS s2
      FROM gaps WHERE g IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, n,
           round(s1 / n, 4) AS mean_gap_s,
           round((sqrt(s2 / n - (s1/n)*(s1/n)) - s1/n)
                 / (sqrt(s2 / n - (s1/n)*(s1/n)) + s1/n), 6)
             AS burstiness
    FROM m
    """)
def agg_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness coefficient B = (σ−μ)/(σ+μ) over inter-arrival gaps
    per event type (Goh–Barabási): −1 is a metronome, 0 is Poisson,
    →1 is bursty — the single number that says whether a feed's
    'average rate' means anything, and the right prior for capacity
    and watermark-lateness settings. Gap moments from power sums
    after one per-type lag window; integer seconds in, 6-dp rounding
    out."""
    e = _events(spark, sf_dir)
    s = e.select("event_type", "event_id",
                 F.col("ts").cast("timestamp").cast("long").alias("sec"))
    w = Window.partitionBy("event_type").orderBy("sec", "event_id")
    gaps = s.select(
        "event_type",
        (F.col("sec") - F.lag("sec").over(w)).cast("double").alias("g"))
    m = (gaps.filter(F.col("g").isNotNull())
         .groupBy("event_type")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("g").alias("s1"),
              F.sum(F.col("g") * F.col("g")).alias("s2")))
    mean = F.col("s1") / F.col("n")
    sd = F.sqrt(F.col("s2") / F.col("n") - mean * mean)
    return m.select("event_type", "n",
                    F.round(mean, 4).alias("mean_gap_s"),
                    F.round((sd - mean) / (sd + mean), 6)
                    .alias("burstiness"))


@register(
    "stream_disorder_ratio",
    oracle="""
    WITH s AS (
      SELECT event_type, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec
      FROM events
    ), runs AS (
      SELECT event_type, sec,
             max(sec) OVER (PARTITION BY event_type ORDER BY event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS max_seen
      FROM s
    )
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CASE WHEN sec < max_seen THEN 1 ELSE 0 END) AS BIGINT)
             AS n_out_of_order,
           round(CAST(sum(CASE WHEN sec < max_seen THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS disorder_ratio,
           max(CASE WHEN sec < max_seen THEN max_seen - sec END)
             AS max_lateness_s
    FROM runs GROUP BY event_type
    """)
def stream_disorder_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order arrival measurement: per event type, how often an
    event's TIME runs behind the maximum already seen in ARRIVAL
    order (event_id), and the worst observed lateness — the two
    numbers a watermark delay should be SET FROM instead of guessed
    (``stream_watermark_dropped`` then shows what a chosen delay
    would drop; this measures the disorder that forces the choice).
    One running-max window per type in arrival order, integer
    seconds."""
    e = _events(spark, sf_dir)
    s = e.select("event_type", "event_id",
                 F.col("ts").cast("timestamp").cast("long").alias("sec"))
    w = (Window.partitionBy("event_type").orderBy("event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    runs = s.withColumn("max_seen", F.max("sec").over(w))
    late = F.when(F.col("sec") < F.col("max_seen"), 1).otherwise(0)
    return (runs.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(late).alias("n_out_of_order"),
                 F.round(F.sum(late).cast("double")
                         / F.count(F.lit(1)), 6).alias("disorder_ratio"),
                 F.max(F.when(F.col("sec") < F.col("max_seen"),
                              F.col("max_seen") - F.col("sec")))
                 .alias("max_lateness_s")))


@register(
    "ts_ewma",
    oracle="""
    WITH v AS (
      SELECT user_id, ts, event_id, round(value, 6) AS x
      FROM events WHERE value IS NOT NULL
    ), series AS (
      SELECT user_id, list(x ORDER BY ts, event_id) AS xs
      FROM v GROUP BY user_id
    )
    SELECT user_id, len(xs) AS n_events,
           round(list_reduce(xs, (acc, x) -> 0.7 * acc + 0.3 * x), 6)
             AS ewma
    FROM series
    """)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average per key (α = 0.3, first
    observation seeds the state) — the classic streaming smoother that
    plain SQL windows cannot express because each step depends on the
    previous RESULT, not a previous row. Composed Spark-first: the
    per-key series is assembled with sort_array(collect_list(struct)),
    then folded JVM-side with the higher-order ``aggregate`` lambda —
    no Python, no iteration, one shuffle on the key. Per-key state is
    the series itself; at 100 TB keys are numerous and individually
    bounded (a user's events), which is exactly the regime groupBy
    distributes. The oracle folds the same series with DuckDB's
    list_reduce; identical fold order gives identical doubles, pinned
    at 6 dp."""
    e = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    series = (e.select("user_id",
                       F.struct(F.col("ts"), F.col("event_id"),
                                F.round("value", 6).alias("x")).alias("s"))
              .groupBy("user_id")
              .agg(F.sort_array(F.collect_list("s")).alias("ss")))
    xs = F.expr("transform(ss, s -> s.x)")
    ewma = F.expr(
        "aggregate(slice(xs, 2, greatest(size(xs) - 1, 0)), xs[0], "
        "(acc, x) -> 0.7D * acc + 0.3D * x)")
    return (series.withColumn("xs", xs)
            .select("user_id",
                    F.size("xs").cast("long").alias("n_events"),
                    F.round(ewma, 6).alias("ewma")))


@register(
    "agg_bounce_rate",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged
    ), sized AS (
      SELECT user_id, sess_id, count(*) AS n_events
      FROM sess GROUP BY user_id, sess_id
    )
    SELECT user_id,
           count(*) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           round(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS bounce_rate
    FROM sized GROUP BY user_id
    """)
def agg_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate per user: share of 30-minute-gap sessions containing
    exactly one event — the product-analytics KPI built on the same
    gaps-and-islands sessionization the streaming path uses
    (win_sessionize_batch), closed with a per-user aggregate. Windows
    partition by user (parallel), then one partial-agg shuffle."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.col("ts").cast("timestamp").cast("long")
    gap_min = (sec - F.lag(sec).over(w)) / 60
    flagged = e.withColumn(
        "new_sess",
        F.when(gap_min.isNull() | (gap_min >= 30), 1).otherwise(0))
    sess = flagged.withColumn(
        "sess_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    sized = (sess.groupBy("user_id", "sess_id")
             .agg(F.count(F.lit(1)).alias("n_events")))
    bounce = F.when(F.col("n_events") == 1, 1).otherwise(0)
    return (sized.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_sessions"),
                 F.sum(bounce).alias("n_bounces"),
                 F.round(F.sum(bounce) / F.count(F.lit(1)).cast("double"),
                         6).alias("bounce_rate")))


@register(
    "win_running_distinct_count",
    oracle="""
    WITH seen AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN row_number() OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY ts, event_id) = 1
                  THEN 1 ELSE 0 END AS first_seen
      FROM events
    )
    SELECT user_id, event_id,
           CAST(sum(first_seen) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS distinct_types_so_far
    FROM seen
    """)
def win_running_distinct_count(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Expanding DISTINCT count per key — how many distinct event
    types a user has touched as of each event. SQL windows don't
    support count(DISTINCT) over a frame; the distributed form is the
    first-seen-flag decomposition: row_number()=1 over (user, type)
    marks first occurrences, a running sum over (user) accumulates
    them. Two partitioned windows, zero joins, no per-row set state."""
    e = _events(spark, sf_dir)
    w_first = (Window.partitionBy("user_id", "event_type")
               .orderBy("ts", "event_id"))
    w_run = (Window.partitionBy("user_id").orderBy("ts", "event_id")
             .rowsBetween(Window.unboundedPreceding, 0))
    seen = e.withColumn(
        "first_seen",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0))
    return seen.select(
        "user_id", "event_id",
        F.sum("first_seen").over(w_run).alias("distinct_types_so_far"))


@register(
    "stream_windowed_topk",
    oracle="""
    WITH wc AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start,
             event_type, count(*) AS n
      FROM events GROUP BY 1, 2
    ), ranked AS (
      SELECT w_start, event_type, n,
             row_number() OVER (PARTITION BY w_start
                                ORDER BY n DESC, event_type) AS r
      FROM wc
    )
    SELECT w_start, event_type, n, CAST(r AS BIGINT) AS r
    FROM ranked WHERE r <= 3
    """)
def stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 event types per tumbling hour — the 'trending now' query:
    event-time windowed counts (the streaming aggregate shape) closed
    with a per-window rank. The rank window partitions by the TIME
    window, so at any scale each partition holds at most |event
    types| rows — windowed top-k never becomes a global sort."""
    e = _events(spark, sf_dir)
    wc = (e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
          .agg(F.count(F.lit(1)).alias("n"))
          .select(F.col("w.start").alias("w_start"), "event_type", "n"))
    r = F.row_number().over(
        Window.partitionBy("w_start").orderBy(F.col("n").desc(),
                                              "event_type"))
    return (wc.withColumn("r", r.cast("long"))
            .filter(F.col("r") <= 3))


@register(
    "stream_dedup_within_watermark",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """)
def stream_dedup_within_watermark(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Streaming dedup with BOUNDED state via
    ``dropDuplicatesWithinWatermark`` (Spark 3.5+): unlike plain
    dropDuplicates — whose key state grows forever — expired keys are
    evicted once the watermark passes, which is the only form that
    survives an unbounded stream. Run availableNow into a memory
    sink; the surviving ROW per key is arrival-order-dependent, so
    the registered output is the deduplicated KEY SET, which is
    deterministic and equals batch DISTINCT (the oracle)."""
    import tempfile
    import uuid

    stream = (_events_stream(spark, sf_dir)
              .withColumn("ts", F.col("ts").cast("timestamp")))
    deduped = (stream.withWatermark("ts", "2 hours")
               .dropDuplicatesWithinWatermark(["user_id", "event_type"]))
    name = f"ddww_{uuid.uuid4().hex[:8]}"
    q = (deduped.writeStream.format("memory").queryName(name)
         .outputMode("append")
         .option("checkpointLocation",
                 tempfile.mkdtemp(prefix="pmc_ddww_ckpt_"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.table(name).select("user_id", "event_type").distinct()


@register(
    "agg_time_to_convert",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
             min(CASE WHEN event_type = 'purchase' THEN ts END)
               AS first_purchase
      FROM events GROUP BY user_id
    )
    SELECT user_id, first_view, first_purchase,
           CAST(CASE WHEN first_purchase >= first_view
                THEN floor(epoch(first_purchase) - epoch(first_view))
                END AS BIGINT) AS secs_to_convert
    FROM firsts
    WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
    """)
def agg_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-conversion: seconds between a user's first view and
    first purchase — conditional-min aggregation, ONE pass over the
    events (no per-type self-joins, the classic anti-pattern this
    replaces: N event types would mean N scans + N−1 joins; here they
    are N conditional partial aggs in one shuffle). Users who
    purchased before ever viewing surface as NULL rather than a
    negative artifact."""
    e = _events(spark, sf_dir)
    firsts = (e.groupBy("user_id")
              .agg(F.min(F.when(F.col("event_type") == "view",
                                F.col("ts"))).alias("first_view"),
                   F.min(F.when(F.col("event_type") == "purchase",
                                F.col("ts"))).alias("first_purchase")))
    # floor AFTER subtracting (floor(a)-floor(b) != floor(a-b)); both
    # engines compute micros/1e6 doubles, so the difference is
    # bit-identical before the floor
    sec = lambda c: F.col(c).cast("timestamp").cast("double")
    return (firsts
            .filter(F.col("first_view").isNotNull()
                    & F.col("first_purchase").isNotNull())
            .select("user_id", "first_view", "first_purchase",
                    F.when(F.col("first_purchase") >= F.col("first_view"),
                           F.floor(sec("first_purchase")
                                   - sec("first_view")))
                    .cast("long").alias("secs_to_convert")))


@register(
    "ts_autocorr_lag",
    oracle="""
    WITH hourly AS (
      SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS h,
             count(*) AS x
      FROM events GROUP BY 1, 2
    ), lagged AS (
      SELECT event_type, k, x, y FROM (
        SELECT event_type, x,
               lag(x, 1) OVER w AS y1,
               lag(x, 2) OVER w AS y2,
               lag(x, 3) OVER w AS y3
        FROM hourly
        WINDOW w AS (PARTITION BY event_type ORDER BY h)
      ) s, LATERAL (VALUES (1, s.y1), (2, s.y2), (3, s.y3)) AS l(k, y)
      WHERE y IS NOT NULL
    ), sums AS (
      SELECT event_type, k, count(*) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy
      FROM lagged GROUP BY 1, 2
    )
    SELECT event_type, k AS lag_hours, CAST(n AS BIGINT) AS n_pairs,
           round((n*sxy - sx*sy)
                 / sqrt(CAST((n*sxx - sx*sx) AS DOUBLE)
                        * (n*syy - sy*sy)), 6) AS autocorr
    FROM sums
    """)
def ts_autocorr_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the hourly event-count series at lags 1–3 —
    the seasonality detector that decides whether a forecast needs an
    hourly term. Pearson r over (x_t, x_{t−k}) pairs computed from
    INTEGER power sums (n·Σxy − ΣxΣy …), so the only float op is one
    final quotient+sqrt (IEEE sqrt is correctly rounded) — engine-
    identical at 6 dp. One windowed lag per type + one partial-agg
    shuffle; series are per-type partitions."""
    e = _events(spark, sf_dir)
    hourly = (e.groupBy("event_type",
                        F.window("ts", "1 hour").alias("w"))
              .agg(F.count(F.lit(1)).alias("x"))
              .select("event_type", F.col("w.start").alias("h"), "x"))
    w = Window.partitionBy("event_type").orderBy("h")
    s = hourly.select(
        "event_type", "x",
        *[F.lag("x", k).over(w).alias(f"y{k}") for k in (1, 2, 3)])
    lagged = (s.select("event_type", "x", F.explode(F.array(*[
        F.struct(F.lit(k).alias("k"), F.col(f"y{k}").alias("y"))
        for k in (1, 2, 3)])).alias("p"))
        .select("event_type", F.col("p.k").alias("k"), "x",
                F.col("p.y").alias("y"))
        .filter(F.col("y").isNotNull()))
    sums = (lagged.groupBy("event_type", "k")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("x").alias("sx"), F.sum("y").alias("sy"),
                 F.sum(F.col("x") * F.col("x")).alias("sxx"),
                 F.sum(F.col("y") * F.col("y")).alias("syy"),
                 F.sum(F.col("x") * F.col("y")).alias("sxy")))
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    r = ((n * F.col("sxy") - sx * sy)
         / F.sqrt((n * F.col("sxx") - sx * sx).cast("double")
                  * (n * F.col("syy") - sy * sy)))
    return sums.select("event_type", F.col("k").alias("lag_hours"),
                       F.col("n").alias("n_pairs"),
                       F.round(r, 6).alias("autocorr"))


#: Shared DuckDB prefix for the lag-1..3 autocorrelations of the
#: daily-revenue series, assembled from n²-scaled INTEGER power sums
#: (the series mean never materializes as a float): rw = one row of
#: (n_days, r1, r2, r3). Consumed by ts_pacf_durbin / ts_ljung_box.
_ACF3_SQL = """
    daily AS MATERIALIZED (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders GROUP BY 1),
    tot AS (SELECT count(*) AS n,
                   CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0))
                     AS s,
                   CAST(sum(CAST(x AS DECIMAL(38,0)) * x)
                        AS DECIMAL(38,0)) AS sxx
            FROM daily),
    lagged AS (
      SELECT j, x, y FROM (
        SELECT x, lead(x, 1) OVER w AS y1, lead(x, 2) OVER w AS y2,
               lead(x, 3) OVER w AS y3
        FROM daily WINDOW w AS (ORDER BY d)
      ) s, LATERAL (VALUES (1, s.y1), (2, s.y2), (3, s.y3)) AS l(j, y)
      WHERE y IS NOT NULL),
    cj AS (
      SELECT j, count(*) AS m,
             CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0))
               AS sxy,
             CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
             CAST(sum(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy
      FROM lagged GROUP BY j),
    r AS (
      SELECT cj.j,
             CAST(t.n*t.n*cj.sxy - t.n*t.s*(cj.sx + cj.sy)
                  + cj.m*t.s*t.s AS DOUBLE)
             / CAST(t.n*t.n*t.sxx - t.n*t.s*t.s AS DOUBLE) AS rj
      FROM cj, tot t),
    rw AS (
      SELECT (SELECT n FROM tot) AS n_days,
             max(CASE WHEN j = 1 THEN rj END) AS r1,
             max(CASE WHEN j = 2 THEN rj END) AS r2,
             max(CASE WHEN j = 3 THEN rj END) AS r3
      FROM r)
"""


def _acf3_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _ACF3_SQL: one row (n_days, r1, r2, r3) of
    daily-revenue autocorrelations from n²-scaled integer power sums."""
    o = tables.load(spark, sf_dir, "orders")
    daily = (o.withColumn("d", F.to_date("o_orderdate"))
             .groupBy("d")
             .agg(F.sum(F.round(F.col("o_totalprice") * 100)
                        .cast("bigint")).cast("bigint").alias("x")))
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    tot = daily.agg(F.count(F.lit(1)).alias("n"),
                    F.sum(dec("x")).cast("decimal(38,0)").alias("s"),
                    F.sum(dec("x") * F.col("x")).cast("decimal(38,0)")
                    .alias("sxx"))
    w = Window.orderBy("d")
    s = daily.select(
        "x", *[F.lead("x", j).over(w).alias(f"y{j}") for j in (1, 2, 3)])
    lagged = (s.select("x", F.explode(F.array(*[
        F.struct(F.lit(j).alias("j"), F.col(f"y{j}").alias("y"))
        for j in (1, 2, 3)])).alias("p"))
        .select(F.col("p.j").alias("j"), "x", F.col("p.y").alias("y"))
        .filter(F.col("y").isNotNull()))
    cj = (lagged.groupBy("j")
          .agg(F.count(F.lit(1)).alias("m"),
               F.sum(dec("x") * F.col("y")).cast("decimal(38,0)")
               .alias("sxy"),
               F.sum(dec("x")).cast("decimal(38,0)").alias("sx"),
               F.sum(dec("y")).cast("decimal(38,0)").alias("sy")))
    n, ss = F.col("n"), F.col("s")
    rj = ((n * n * F.col("sxy") - n * ss * (F.col("sx") + F.col("sy"))
           + F.col("m") * ss * ss).cast("double")
          / (n * n * F.col("sxx") - n * ss * ss).cast("double"))
    return (cj.crossJoin(F.broadcast(tot))
            .agg(F.first("n").alias("n_days"),
                 *[F.max(F.when(F.col("j") == j, rj)).alias(f"r{j}")
                   for j in (1, 2, 3)]))


@register(
    "ts_pacf_durbin",
    oracle=f"""
    WITH {_ACF3_SQL.strip()},
    phi AS (
      SELECT n_days, r1 AS phi11,
             (r2 - r1*r1) / (1 - r1*r1) AS phi22,
             r1, r2, r3
      FROM rw),
    phi2 AS (
      SELECT n_days, phi11, phi22,
             phi11 - phi22 * phi11 AS phi21, r1, r2, r3
      FROM phi)
    SELECT n_days,
           round(phi11, 6) AS pacf1,
           round(phi22, 6) AS pacf2,
           round((r3 - phi21*r2 - phi22*r1)
                 / (1 - phi21*r1 - phi22*r2), 6) AS pacf3
    FROM phi2
    """)
def ts_pacf_durbin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of the daily-revenue series at lags
    1–3 via the Durbin–Levinson recursion — the AR-order selector
    (where the PACF cuts off is the p of an AR(p) fit) that plain
    autocorrelation (``ts_autocorr_lag``) cannot give because it
    confounds direct and propagated dependence. Every autocovariance
    is assembled from INTEGER power sums scaled by n² (so the series
    mean never materializes as a float — the ts_autocorr_lag
    discipline), leaving one double division per lag and the
    constant-size recursion algebra; engine-identical at 6 dp.

    Plan: one fact scan to the date-keyed daily frame, three windowed
    leads over it (bounded by the date span, never the fact table),
    one 3-row aggregate, then scalar algebra."""
    rw = _acf3_frame(spark, sf_dir)
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    phi = rw.select(
        "n_days", "r1", "r2", "r3", r1.alias("phi11"),
        ((r2 - r1 * r1) / (F.lit(1) - r1 * r1)).alias("phi22"))
    phi2 = phi.withColumn(
        "phi21", F.col("phi11") - F.col("phi22") * F.col("phi11"))
    return phi2.select(
        F.col("n_days").cast("bigint").alias("n_days"),
        F.round("phi11", 6).alias("pacf1"),
        F.round("phi22", 6).alias("pacf2"),
        F.round((r3 - F.col("phi21") * r2 - F.col("phi22") * r1)
                / (F.lit(1) - F.col("phi21") * r1
                   - F.col("phi22") * r2), 6).alias("pacf3"))


@register(
    "ts_ljung_box",
    oracle=f"""
    WITH {_ACF3_SQL.strip()}
    SELECT n_days,
           3 AS df,
           round(n_days * (n_days + 2.0::DOUBLE)
                 * (r1*r1 / (n_days - 1) + r2*r2 / (n_days - 2)
                    + r3*r3 / (n_days - 3)), 4) AS q_stat
    FROM rw
    """)
def ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box portmanteau test on the daily-revenue series (lags
    1–3): Q = n(n+2)·Σ r_j²/(n−j) — the 'is there ANY autocorrelation
    left' test run on forecast residuals to decide whether a model
    (``ts_holt_winters``, ``ts_ses_alpha_sweep``) is done, here on the
    raw series where it complements ``ts_pacf_durbin`` (which says
    WHICH lag carries the dependence). Same n²-scaled integer power
    sums as the PACF, so both engines agree at 4 dp via identical
    double algebra on one row."""
    rw = _acf3_frame(spark, sf_dir)
    n = F.col("n_days")
    q = n * (n + F.lit(2.0)) * (
        F.col("r1") * F.col("r1") / (n - 1)
        + F.col("r2") * F.col("r2") / (n - 2)
        + F.col("r3") * F.col("r3") / (n - 3))
    return rw.select(n.cast("bigint").alias("n_days"),
                     F.lit(3).cast("int").alias("df"),
                     F.round(q, 4).alias("q_stat"))


@register(
    "stream_union_two_sources",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start,
           CASE WHEN event_type IN ('purchase', 'click')
                THEN 'txn' ELSE 'telemetry' END AS feed,
           count(*) AS n
    FROM events GROUP BY 1, 2
    """)
def stream_union_two_sources(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Two independent streaming feeds UNIONED before one event-time
    aggregate — the multi-source topology where the engine must run
    each source's watermark and take the MINIMUM as the global one
    (a lagging feed holds back window finalization rather than
    dropping the other feed's data). Both feeds are real readStream
    sources (disjoint type filters over the drop zone), unioned,
    watermarked, and aggregated availableNow into a memory sink; the
    oracle is the batch union-then-window."""
    import tempfile
    import uuid

    def feed(types, label):
        s = (_events_stream(spark, sf_dir)
             .withColumn("ts", F.col("ts").cast("timestamp")))
        return (s.filter(F.col("event_type").isin(*types))
                .withColumn("feed", F.lit(label)))

    txn = feed(["purchase", "click"], "txn")
    telem = feed(["view", "signup", "error"], "telemetry")
    unioned = txn.unionByName(telem).withWatermark("ts", "2 hours")
    agg = (unioned.groupBy(F.window("ts", "1 hour").alias("w"), "feed")
           .agg(F.count(F.lit(1)).alias("n"))
           .select(F.col("w.start").alias("w_start"), "feed", "n"))
    name = f"u2s_{uuid.uuid4().hex[:8]}"
    # complete mode: append would withhold windows the end-of-stream
    # watermark has not passed (the last 2h of data would never emit)
    q = (agg.writeStream.format("memory").queryName(name)
         .outputMode("complete")
         .option("checkpointLocation",
                 tempfile.mkdtemp(prefix="pmc_u2s_ckpt_"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.table(name)


@register(
    "ts_dow_hour_matrix",
    oracle="""
    SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
           CAST(sum(CASE WHEN hour(ts) BETWEEN 0 AND 5
                         THEN 1 ELSE 0 END) AS BIGINT) AS night,
           CAST(sum(CASE WHEN hour(ts) BETWEEN 6 AND 11
                         THEN 1 ELSE 0 END) AS BIGINT) AS morning,
           CAST(sum(CASE WHEN hour(ts) BETWEEN 12 AND 17
                         THEN 1 ELSE 0 END) AS BIGINT) AS afternoon,
           CAST(sum(CASE WHEN hour(ts) BETWEEN 18 AND 23
                         THEN 1 ELSE 0 END) AS BIGINT) AS evening
    FROM events GROUP BY 1
    """)
def ts_dow_hour_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × day-part activity matrix — the ops-dashboard
    heatmap behind capacity planning, widened with conditional sums
    (one pass, 7 output rows) rather than a pivot (same shape, no
    second aggregation). Engine gotcha pinned by the oracle: Spark's
    dayofweek is 1=Sunday..7, DuckDB's 0=Sunday..6."""
    e = _events(spark, sf_dir)
    h = F.hour("ts")
    part = lambda lo, hi: F.sum(
        F.when(h.between(lo, hi), 1).otherwise(0))
    return (e.groupBy(F.dayofweek("ts").cast("long").alias("dow"))
            .agg(part(0, 5).alias("night"),
                 part(6, 11).alias("morning"),
                 part(12, 17).alias("afternoon"),
                 part(18, 23).alias("evening")))


@register(
    "agg_funnel_steps",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 ON s1.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 ON s2.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM s1) AS n_step1_view,
           (SELECT count(*) FROM s2) AS n_step2_click,
           (SELECT count(*) FROM s3) AS n_step3_purchase,
           round((SELECT count(*) FROM s3)
                 / CAST((SELECT count(*) FROM s1) AS DOUBLE), 6)
             AS full_funnel_rate
    """)
def agg_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: a user
    counts at step k only if the step-k event happened AFTER their
    step-(k−1) time (the ordering constraint that separates a funnel
    from three independent counts). Each stage is a per-user
    conditional-min aggregate joined forward — k−1 key-partitioned
    joins for a k-step funnel, shuffles on user_id only, no event
    self-joins. Complements the streaming pattern-match form
    (stream_funnel_detect) with the whole-history batch answer."""
    e = _events(spark, sf_dir)
    s1 = (e.filter(F.col("event_type") == "view")
          .groupBy("user_id").agg(F.min("ts").alias("t1")))
    s2 = (e.filter(F.col("event_type") == "click")
          .join(s1, "user_id")
          .filter(F.col("ts") > F.col("t1"))
          .groupBy("user_id").agg(F.min("ts").alias("t2")))
    s3 = (e.filter(F.col("event_type") == "purchase")
          .join(s2, "user_id")
          .filter(F.col("ts") > F.col("t2"))
          .groupBy("user_id").agg(F.min("ts").alias("t3")))
    c1 = s1.agg(F.count(F.lit(1)).alias("n_step1_view"))
    c2 = s2.agg(F.count(F.lit(1)).alias("n_step2_click"))
    c3 = s3.agg(F.count(F.lit(1)).alias("n_step3_purchase"))
    return (c1.crossJoin(c2).crossJoin(c3)
            .select("n_step1_view", "n_step2_click", "n_step3_purchase",
                    F.round(F.col("n_step3_purchase")
                            / F.col("n_step1_view").cast("double"), 6)
                    .alias("full_funnel_rate")))


@register(
    "win_max_concurrency",
    oracle="""
    WITH sess AS (
      SELECT user_id, event_type, ts AS start_ts,
             ts + INTERVAL 10 MINUTE AS end_ts
      FROM events
    ), deltas AS (
      SELECT event_type, start_ts AS t, 1 AS d FROM sess
      UNION ALL
      SELECT event_type, end_ts, -1 FROM sess
    ), running AS (
      SELECT event_type, t, d,
             sum(d) OVER (PARTITION BY event_type
                          ORDER BY t, d
                          ROWS UNBOUNDED PRECEDING) AS live
      FROM deltas
    )
    SELECT event_type,
           CAST(max(live) AS BIGINT) AS max_concurrent,
           count(*) / 2 AS n_intervals
    FROM running GROUP BY event_type
    """)
def win_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per type — the classic sweep-line: each
    10-minute activity interval contributes a +1 at its start and a
    −1 at its end; the running sum over the time-ordered deltas is the
    live count, and its max is the capacity number (−1 sorts before
    +1 at the same instant via the (t, d) order, so back-to-back
    intervals don't double-count). One partitioned window over 2N
    delta rows — never an interval×interval overlap join."""
    e = _events(spark, sf_dir)
    sess = e.select("event_type",
                    F.col("ts").alias("start_ts"),
                    (F.col("ts") + F.expr("INTERVAL 10 MINUTES"))
                    .alias("end_ts"))
    deltas = (sess.select("event_type",
                          F.col("start_ts").alias("t"), F.lit(1).alias("d"))
              .unionByName(sess.select("event_type",
                                       F.col("end_ts").alias("t"),
                                       F.lit(-1).alias("d"))))
    w = (Window.partitionBy("event_type").orderBy("t", "d")
         .rowsBetween(Window.unboundedPreceding, 0))
    running = deltas.withColumn("live", F.sum("d").over(w))
    return (running.groupBy("event_type")
            .agg(F.max("live").cast("long").alias("max_concurrent"),
                 (F.count(F.lit(1)) / 2).alias("n_intervals")))


@register(
    "ts_cusum_changepoint",
    oracle="""
    WITH hourly AS (
      SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS h,
             count(*) AS x
      FROM events GROUP BY 1, 2
    ), tot AS (
      SELECT event_type, count(*) AS n, sum(x) AS s
      FROM hourly GROUP BY event_type
    ), cs AS (
      SELECT h.event_type, h.h, t.n, t.s,
             row_number() OVER w AS k,
             sum(h.x * t.n - t.s) OVER (PARTITION BY h.event_type
                                        ORDER BY h.h
                                        ROWS UNBOUNDED PRECEDING)
               AS cusum_scaled
      FROM hourly h JOIN tot t USING (event_type)
      WINDOW w AS (PARTITION BY h.event_type ORDER BY h.h)
    )
    SELECT event_type,
           CAST(max(abs(cusum_scaled)) AS BIGINT) AS max_cusum_scaled,
           CAST(9999 - max(abs(cusum_scaled) * 10000 + (9999 - k))
                % 10000 AS BIGINT) AS changepoint_k,
           CAST(any_value(n) AS BIGINT) AS n_buckets
    FROM cs GROUP BY event_type
    """)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection on the hourly series: the running
    sum of deviations from the series mean peaks (in absolute value)
    at the most likely level-shift point — the monitoring primitive
    that catches 'volume quietly dropped 20% on Tuesday' when
    threshold alerts miss it. Deviations are scaled by n (x·n − S) so
    the whole statistic stays in EXACT integers; the argmax position
    uses the packed-integer trick (earliest bucket wins ties).
    Per-type partitioned windows; one closing aggregate."""
    e = _events(spark, sf_dir)
    hourly = (e.groupBy("event_type", F.window("ts", "1 hour").alias("w"))
              .agg(F.count(F.lit(1)).alias("x"))
              .select("event_type", F.col("w.start").alias("h"), "x"))
    tot = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"))
    w = Window.partitionBy("event_type").orderBy("h")
    cs = (hourly.join(F.broadcast(tot), "event_type")
          .withColumn("k", F.row_number().over(w))
          .withColumn("cusum_scaled",
                      F.sum(F.col("x") * F.col("n") - F.col("s"))
                      .over(w.rowsBetween(Window.unboundedPreceding, 0))))
    # Packing radix guard (r4 ADVICE #2): beyond 9999 hourly buckets
    # per event_type (~14 months) the 9999-k term would go negative
    # and silently corrupt both the tie-break and the decode — and the
    # oracle computes the same packing, so it could never catch it.
    # Fail LOUD instead of silently: raise_error inside the packing
    # expression trips the query the moment the radix is exceeded.
    k_term = F.when(F.col("k") <= 9999, F.lit(9999) - F.col("k")) \
        .otherwise(F.raise_error(F.lit(
            "ts_cusum_changepoint: >9999 hourly buckets per event_type"
            " exceeds the argmax packing radix; raise the radix")))
    packed = F.max(F.abs("cusum_scaled") * 10000 + k_term)
    return (cs.groupBy("event_type")
            .agg(F.max(F.abs("cusum_scaled")).alias("max_cusum_scaled"),
                 (F.lit(9999) - packed % 10000).cast("long")
                 .alias("changepoint_k"),
                 F.first("n").cast("long").alias("n_buckets")))


@register(
    "agg_attribution_touch",
    oracle="""
    WITH conv AS (
      SELECT user_id, min(ts) AS conv_ts
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id
    ),
    touches AS (
      SELECT e.user_id, e.ts, e.event_id, e.event_type
      FROM events e JOIN conv c ON c.user_id = e.user_id
      WHERE e.event_type IN ('click', 'view') AND e.ts < c.conv_ts
    ),
    ranked AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn_first,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC)
               AS rn_last
      FROM touches
    ),
    ft AS (SELECT user_id, event_type AS first_touch
           FROM ranked WHERE rn_first = 1),
    lt AS (SELECT user_id, event_type AS last_touch
           FROM ranked WHERE rn_last = 1)
    SELECT coalesce(f.first_touch, 'none') AS first_touch,
           coalesce(l.last_touch, 'none') AS last_touch,
           count(*) AS n_users
    FROM conv c
    LEFT JOIN ft f ON f.user_id = c.user_id
    LEFT JOIN lt l ON l.user_id = c.user_id
    GROUP BY 1, 2
    """)
def agg_attribution_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch conversion attribution: for every
    converting user (first 'purchase'), which touch type (click/view)
    opened the path and which closed it — the marketing-credit query
    every growth team runs, and a two-window pattern (ascending and
    descending row_number over the same per-user sort) that costs ONE
    shuffle+sort because both windows share the partitioning. Users
    who convert with no prior touch surface as 'none' via the outer
    joins instead of silently dropping. Ties on timestamp break on
    the unique event_id, so attribution is deterministic under any
    partitioning. The Spark plan replaces the oracle's two
    row_number windows + two self-joins with ONE grouped
    min_by/max_by over the (ts, event_id) struct — identical
    semantics (the struct order IS the window order), one shuffle
    instead of a window sort plus re-joins."""
    e = _events(spark, sf_dir)
    conv = (e.filter(F.col("event_type") == "purchase")
            .groupBy("user_id").agg(F.min("ts").alias("conv_ts")))
    touches = (e.join(conv, "user_id")
               .filter(F.col("event_type").isin("click", "view")
                       & (F.col("ts") < F.col("conv_ts")))
               .select("user_id", "ts", "event_id", "event_type"))
    tl = touches.groupBy("user_id").agg(
        F.min_by("event_type", F.struct("ts", "event_id"))
        .alias("first_touch"),
        F.max_by("event_type", F.struct("ts", "event_id"))
        .alias("last_touch"))
    return (conv.join(tl, "user_id", "left")
            .groupBy(F.coalesce("first_touch", F.lit("none"))
                     .alias("first_touch"),
                     F.coalesce("last_touch", F.lit("none"))
                     .alias("last_touch"))
            .agg(F.count(F.lit(1)).alias("n_users")))


@register(
    "stream_chained_windows",
    oracle="""
    WITH hourly AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS h,
             event_type, count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT time_bucket(INTERVAL '1 day', h) AS d, event_type,
           max(n) AS peak_hourly,
           count(*) AS active_hours,
           CAST(sum(n) AS BIGINT) AS total
    FROM hourly GROUP BY 1, 2
    """)
def stream_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained event-time window aggregations: hourly counts per event
    type re-windowed into daily peak / active-hour / total rollups —
    the two-level cascade Spark 4's multiple-stateful-operator support
    runs as ONE streaming query (window-on-window, each level with its
    own watermark-tracked state; pre-Spark-3.4 this required two jobs
    and an intermediate sink). Registered on the batch-equivalent
    frame (identical results for complete data); the cascade shape —
    second groupBy keyed on the first window's START, integer-only
    aggregates — is exactly what the streaming form executes. The
    hourly level partial-aggregates map-side, so the daily level sees
    at most 24 rows per (day, type)."""
    e = _events(spark, sf_dir)
    hourly = (e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
              .agg(F.count(F.lit(1)).alias("n"))
              .select(F.col("w.start").alias("h"), "event_type", "n"))
    return (hourly.groupBy(F.window("h", "1 day").alias("w"), "event_type")
            .agg(F.max("n").alias("peak_hourly"),
                 F.count(F.lit(1)).alias("active_hours"),
                 F.sum("n").alias("total"))
            .select(F.col("w.start").alias("d"), "event_type",
                    "peak_hourly", "active_hours", "total"))


@register(
    "agg_time_decay_engagement",
    oracle="""
    WITH ref AS (SELECT max(ts) AS t_max FROM events),
    scored AS (
      SELECT e.user_id,
             CAST(round(
               CAST(e.value AS DOUBLE)
               * exp(-(date_diff('microsecond', e.ts, r.t_max)
                       / 1000000.0)
                     / 604800.0), 6) AS DECIMAL(18,6)) AS w
      FROM events e, ref r
      WHERE e.event_type IN ('click', 'view', 'purchase')
    )
    SELECT user_id,
           count(*) AS n_events,
           round(CAST(sum(w) AS DOUBLE), 4) AS decayed_score
    FROM scored GROUP BY user_id
    """)
def agg_time_decay_engagement(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Exponentially time-decayed engagement per user (one-week
    half-life-ish decay, λ = 1/604800 s) — the recency-weighted
    feature every recommender and churn model starts from: yesterday's
    click outweighs last month's purchase, with no arbitrary window
    cliff. The anchor is max(ts) (one-row broadcast), each event's
    decayed weight is computed map-side and ROUNDED TO 6 PLACES before
    a DECIMAL sum — the order-free-aggregation policy — so per-user
    scores are identical under any partitioning. NTZ-tolerant: ages
    come from interval seconds, not unix epoch."""
    e = _events(spark, sf_dir)
    ref = e.agg(F.max("ts").alias("t_max"))
    scored = (e.filter(F.col("event_type")
                       .isin("click", "view", "purchase"))
              .crossJoin(ref)
              .select(
                  "user_id",
                  F.round(
                      F.col("value").cast("double")
                      * F.exp(-(F.expr(
                          "timestampdiff(MICROSECOND, ts, t_max)")
                          / F.lit(1000000.0))
                          / F.lit(604800.0)), 6)
                  .cast("decimal(18,6)").alias("w")))
    return (scored.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("w").cast("double"), 4)
                 .alias("decayed_score")))


@register(
    "ts_fourier_energy",
    oracle="""
    WITH hourly AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS h, count(*) AS c
      FROM events GROUP BY 1
    ),
    t0 AS (SELECT min(h) AS t0 FROM hourly),
    idx AS (
      SELECT date_diff('hour', t0.t0, h.h) AS n, h.c
      FROM hourly h, t0
    ),
    per AS (SELECT unnest([12, 24, 168]) AS period),
    terms AS (
      SELECT p.period, i.n,
             i.c * cos(2 * pi() * i.n / p.period) AS ct,
             i.c * sin(2 * pi() * i.n / p.period) AS st
      FROM idx i, per p
    ),
    folded AS (
      SELECT period,
             list_reduce(list(ct ORDER BY n), (a, x) -> a + x) AS ca,
             list_reduce(list(st ORDER BY n), (a, x) -> a + x) AS sb,
             count(*) AS n_hours
      FROM terms GROUP BY period
    )
    SELECT period, n_hours,
           round(sqrt(ca * ca + sb * sb) / n_hours, 2) AS amplitude
    FROM folded
    """)
def ts_fourier_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-frequency Fourier probes of the hourly event series at
    candidate periods (12 h, 24 h, 1 week): amplitude =
    |Σ cₙ·e^(2πi·n/P)| / N — the spectral test that CONFIRMS
    seasonality instead of assuming it (agg_dow_seasonality measures
    the daily profile; this measures whether the daily cycle
    dominates the half-day and weekly ones). The series is the
    hourly-count frame (bounded by the time RANGE, never row count);
    each period's cos/sin reductions fold in hour order (ts_ewma
    policy) so the float sums are association-fixed on both engines;
    rounding at 2 decimals absorbs the per-term libm ulp. One
    events-sized partial agg, then everything runs on the tiny
    series."""
    import math

    e = _events(spark, sf_dir)
    hourly = (e.groupBy(F.window("ts", "1 hour").alias("w"))
              .agg(F.count(F.lit(1)).alias("c"))
              .select(F.col("w.start").alias("h"), "c"))
    t0 = hourly.agg(F.min("h").alias("t0"))
    idx = (hourly.crossJoin(t0)
           .select(F.expr("timestampdiff(HOUR, t0, h)").alias("n"), "c"))
    periods = F.array(F.lit(12), F.lit(24), F.lit(168))
    terms = (idx.select("n", "c", F.explode(periods).alias("period"))
             .select(
                 "period", "n",
                 (F.col("c") * F.cos(2 * math.pi * F.col("n")
                                     / F.col("period"))).alias("ct"),
                 (F.col("c") * F.sin(2 * math.pi * F.col("n")
                                     / F.col("period"))).alias("st")))

    def fold(col: str) -> F.Column:
        return F.aggregate(
            F.transform(
                F.sort_array(F.collect_list(
                    F.struct(F.col("n"), F.col(col).alias("v")))),
                lambda x: x.v),
            F.lit(0.0), lambda acc, x: acc + x)

    folded = (terms.groupBy("period")
              .agg(fold("ct").alias("ca"), fold("st").alias("sb"),
                   F.count(F.lit(1)).alias("n_hours")))
    return folded.select(
        "period", "n_hours",
        F.round(F.sqrt(F.col("ca") * F.col("ca")
                       + F.col("sb") * F.col("sb"))
                / F.col("n_hours"), 2).alias("amplitude"))


@register(
    "ts_seasonal_decompose",
    oracle="""
    WITH hourly AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS h, count(*) AS c
      FROM events GROUP BY 1
    ),
    t0 AS (SELECT min(h) AS t0 FROM hourly),
    s AS (
      SELECT date_diff('hour', t0.t0, h.h) AS n,
             EXTRACT(hour FROM h.h) AS hod, h.c
      FROM hourly h, t0
    ),
    tr AS (
      SELECT n, hod, c,
             CAST(sum(c) OVER w AS DOUBLE) / count(*) OVER w AS trend
      FROM s
      WINDOW w AS (ORDER BY n ROWS BETWEEN 12 PRECEDING
                   AND 12 FOLLOWING)
    ),
    dt AS (SELECT n, hod,
                  CAST(round(c - trend, 6) AS DECIMAL(18,6)) AS d
           FROM tr),
    se AS (SELECT hod, count(*) AS n_obs,
                  CAST(sum(d) AS DOUBLE) / count(*) AS seasonal
           FROM dt GROUP BY hod),
    re AS (SELECT dt.d,
                  CAST(round(dt.d - se.seasonal, 6) AS DECIMAL(18,6))
                    AS r
           FROM dt JOIN se USING (hod)),
    v AS (SELECT CAST(sum(d * d) AS DOUBLE) AS tv,
                 CAST(sum(r * r) AS DOUBLE) AS rv
          FROM re)
    SELECT se.hod, se.n_obs, round(se.seasonal, 4) AS seasonal,
           round(1 - v.rv / v.tv, 4) AS var_explained
    FROM se, v
    """)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite decomposition of the hourly event series: trend = the
    centered 25-hour moving average, seasonal = the mean detrended
    value per hour-of-day, and the share of detrended variance the
    daily profile explains — the additive decomposition behind every
    'is traffic actually up, or is it just 3 pm' question
    (ts_fourier_energy asks IF seasonality dominates; this extracts
    the shape and prices the fit). Determinism: the moving average is
    an exact integer-sum/count ratio; detrended values and residuals
    are ROUNDED THEN DECIMAL-SUMMED (order-free), so per-hour means
    and both variance sums match bit-for-bit. The series windows run
    over the hourly frame — bounded by the time range, never by row
    count."""
    e = _events(spark, sf_dir)
    # r9 opt (guide §5): hourly feeds t0 + the series projection, and
    # the detrended frame feeds the seasonal agg + the residual join —
    # each consumer replayed the events scan (plan: 6 scans → 1). Both
    # frames are bounded by the TIME RANGE, not the row count.
    hourly = (e.groupBy(F.window("ts", "1 hour").alias("w"))
              .agg(F.count(F.lit(1)).alias("c"))
              .select(F.col("w.start").alias("h"), "c")
              .localCheckpoint(eager=True))
    t0 = hourly.agg(F.min("h").alias("t0"))
    s = (hourly.crossJoin(t0)
         .select(F.expr("timestampdiff(HOUR, t0, h)").alias("n"),
                 F.hour("h").alias("hod"), "c"))
    w = Window.orderBy("n").rowsBetween(-12, 12)  # bounded series frame
    tr = s.select("n", "hod", "c",
                  (F.sum("c").over(w).cast("double")
                   / F.count(F.lit(1)).over(w)).alias("trend"))
    dt = tr.select("n", "hod",
                   F.round(F.col("c") - F.col("trend"), 6)
                   .cast("decimal(18,6)").alias("d")) \
        .localCheckpoint(eager=True)
    se = (dt.groupBy("hod")
          .agg(F.count(F.lit(1)).alias("n_obs"),
               (F.sum("d").cast("double") / F.count(F.lit(1)))
               .alias("seasonal")))
    re = (dt.join(se, "hod")
          .select("d", F.round(F.col("d") - F.col("seasonal"), 6)
                  .cast("decimal(18,6)").alias("r")))
    v = re.agg(F.sum(F.col("d") * F.col("d")).cast("double").alias("tv"),
               F.sum(F.col("r") * F.col("r")).cast("double").alias("rv"))
    return (se.crossJoin(v)
            .select("hod", "n_obs",
                    F.round("seasonal", 4).alias("seasonal"),
                    F.round(1 - F.col("rv") / F.col("tv"), 4)
                    .alias("var_explained")))


@register(
    "ts_linear_interpolate",
    oracle="""
    WITH b AS (
      SELECT user_id, date_trunc('hour', ts) AS h,
             CAST(round(arg_max(value, event_id) * 100) AS BIGINT)
               AS vcents
      FROM events GROUP BY 1, 2
    ),
    sp AS (
      SELECT user_id,
             unnest(generate_series(min(h), max(h), INTERVAL 1 HOUR))
               AS h
      FROM b GROUP BY user_id
    ),
    j AS (
      SELECT sp.user_id, sp.h, b.vcents,
             date_diff('hour', (SELECT min(h) FROM b b2
                                WHERE b2.user_id = sp.user_id), sp.h)
               AS n
      FROM sp LEFT JOIN b USING (user_id, h)
    ),
    f AS (
      SELECT user_id, h, n, vcents,
             last_value(vcents IGNORE NULLS) OVER wp AS pv,
             last_value(CASE WHEN vcents IS NOT NULL THEN n END
                        IGNORE NULLS) OVER wp AS pn,
             first_value(vcents IGNORE NULLS) OVER wf AS nv,
             first_value(CASE WHEN vcents IS NOT NULL THEN n END
                         IGNORE NULLS) OVER wf AS nn
      FROM j
      WINDOW wp AS (PARTITION BY user_id ORDER BY n
                    ROWS UNBOUNDED PRECEDING),
             wf AS (PARTITION BY user_id ORDER BY n
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, h AS bin_ts,
           vcents IS NOT NULL AS observed,
           floor(CASE
             WHEN vcents IS NOT NULL THEN CAST(vcents AS DOUBLE)
             WHEN pv IS NULL THEN CAST(nv AS DOUBLE)
             WHEN nv IS NULL THEN CAST(pv AS DOUBLE)
             ELSE pv + (nv - pv) * CAST(n - pn AS DOUBLE) / (nn - pn)
           END + 0.5) / 100.0 AS value_interp
    FROM f
    """)
def ts_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of missing hourly points — the
    densification rule for CONTINUOUS signals (sensor readings,
    prices), where forward-fill (ts_resample_gapfill) would hold a
    stale value flat across the gap: each missing bin takes
    prev + (next-prev)·Δt/T between its nearest observed neighbors,
    with edge gaps falling back to the single available neighbor. All
    inputs are exact integers (cents, hour indexes), the ratio is one
    double expression both engines evaluate identically, and the
    floor-cent rounding avoids round-half divergence. Everything —
    spine, neighbor windows (both directions), interpolation — shares
    one user_id partitioning; per-key spine bounds the frame."""
    e = _events(spark, sf_dir)
    b = (e.groupBy("user_id", F.date_trunc("hour", "ts").alias("h"))
         .agg(F.round(F.max_by("value", "event_id") * 100)
              .cast("bigint").alias("vcents")))
    span = b.groupBy("user_id").agg(F.min("h").alias("h0"),
                                    F.max("h").alias("h1"))
    sp = span.select(
        "user_id", "h0",
        F.explode(F.sequence("h0", "h1",
                             F.expr("INTERVAL 1 HOUR"))).alias("h"))
    j = (sp.join(b, ["user_id", "h"], "left")
         .select("user_id", "h", "vcents",
                 F.expr("timestampdiff(HOUR, h0, h)").alias("n")))
    wp = (Window.partitionBy("user_id").orderBy("n")
          .rowsBetween(Window.unboundedPreceding, 0))
    wf = (Window.partitionBy("user_id").orderBy("n")
          .rowsBetween(0, Window.unboundedFollowing))
    obs_n = F.when(F.col("vcents").isNotNull(), F.col("n"))
    f = j.select(
        "user_id", "h", "n", "vcents",
        F.last("vcents", ignorenulls=True).over(wp).alias("pv"),
        F.last(obs_n, ignorenulls=True).over(wp).alias("pn"),
        F.first("vcents", ignorenulls=True).over(wf).alias("nv"),
        F.first(obs_n, ignorenulls=True).over(wf).alias("nn"))
    interp = (
        F.when(F.col("vcents").isNotNull(), F.col("vcents").cast("double"))
        .when(F.col("pv").isNull(), F.col("nv").cast("double"))
        .when(F.col("nv").isNull(), F.col("pv").cast("double"))
        .otherwise(F.col("pv")
                   + (F.col("nv") - F.col("pv"))
                   * (F.col("n") - F.col("pn")).cast("double")
                   / (F.col("nn") - F.col("pn"))))
    return f.select(
        "user_id", F.col("h").alias("bin_ts"),
        F.col("vcents").isNotNull().alias("observed"),
        (F.floor(interp + 0.5) / 100.0).alias("value_interp"))


@register(
    "dedup_event_neartime",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id, event_type
                           ORDER BY ts, event_id) AS prev_ts
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_type,
             CASE WHEN prev_ts IS NOT NULL
                   AND date_diff('microsecond', prev_ts, ts)
                       < 120000000
                  THEN 1 ELSE 0 END AS is_dup
      FROM ranked
    )
    SELECT user_id, event_type,
           count(*) AS n_events,
           CAST(sum(is_dup) AS BIGINT) AS n_neartime_dups,
           count(*) - CAST(sum(is_dup) AS BIGINT) AS n_kept
    FROM flagged GROUP BY user_id, event_type
    """)
def dedup_event_neartime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-time event dedup — the telemetry rule for double-fired
    beacons and retried webhooks: an event is a duplicate if the SAME
    (user, type) emitted one less than 2 minutes earlier (chained
    semantics: each event compares to its immediate predecessor, so a
    burst collapses to its first firing plus sub-2-minute followers
    flagged). The batch twin of stream_stateful_dedup's
    watermark-bounded state: one lag window per (user, type) —
    partitioned, never global — with microsecond-exact interval
    arithmetic (NTZ-safe), and integer outputs. At 100 TB the window
    key is the dedup key, so state never exceeds a partition."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type") \
        .orderBy("ts", "event_id")
    ranked = e.select("user_id", "event_type", "ts",
                      F.lag("ts").over(w).alias("prev_ts"))
    is_dup = F.when(
        F.col("prev_ts").isNotNull()
        & (F.expr("timestampdiff(MICROSECOND, prev_ts, ts)")
           < 120_000_000), 1).otherwise(0)
    return (ranked.select("user_id", "event_type",
                          is_dup.alias("is_dup"))
            .groupBy("user_id", "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("is_dup").cast("bigint").alias("n_neartime_dups"),
                 (F.count(F.lit(1)) - F.sum("is_dup")).cast("bigint")
                 .alias("n_kept")))


@register(
    "agg_covisitation_topk",
    oracle="""
    WITH sess AS (
      SELECT user_id, event_id, ts,
             CAST(props ->> 'k' AS BIGINT) AS item,
             CASE WHEN date_diff('microsecond',
                    lag(ts) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id), ts)
                    > 1800000000
                   OR lag(ts) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events WHERE event_type IN ('view', 'click', 'purchase')
    ),
    numbered AS (
      SELECT user_id, item,
             sum(new_sess) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS sess_id
      FROM sess
    ),
    items AS (
      SELECT DISTINCT user_id, sess_id, item FROM numbered
    ),
    pairs AS (
      SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_co
      FROM items a JOIN items b
        ON b.user_id = a.user_id AND b.sess_id = a.sess_id
       AND b.item <> a.item
      GROUP BY 1, 2
    )
    SELECT item_a, item_b, n_co, rnk FROM (
      SELECT item_a, item_b, n_co,
             ROW_NUMBER() OVER (PARTITION BY item_a
                 ORDER BY n_co DESC, item_b) AS rnk
      FROM pairs)
    WHERE rnk <= 5
    """)
def agg_covisitation_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session co-visitation candidates — the batch job behind
     'people who viewed this also viewed': items (the ``k`` field of
    the event props JSON) sharing a 30-minute-gap session pair up,
    pair counts aggregate, and each item keeps its top-5 co-visited
    neighbors (the candidate-generation stage of every production
    recommender before any model scores). Scale shape:
    sessionization is the gaps-and-islands pattern (two partitioned
    windows, one user_id shuffle lineage); the pair join is
    WITHIN-(user, session) — bounded by session length, never a
    cross-user explosion; the per-item rank partitions by item.
    Deterministic: distinct items per session, count-then-id
    tie-break."""
    e = _events(spark, sf_dir).filter(
        F.col("event_type").isin("view", "click", "purchase"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sess = e.select(
        "user_id", "ts", "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("item"),
        F.when(F.lag("ts").over(w).isNull()
               | (F.expr("timestampdiff(MICROSECOND, "
                         "lag(ts) OVER (PARTITION BY user_id "
                         "ORDER BY ts, event_id), ts)")
                  > 1_800_000_000), 1).otherwise(0).alias("new_sess"))
    wc = (Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, 0))
    numbered = sess.select(
        "user_id", "item", F.sum("new_sess").over(wc).alias("sess_id"))
    items = numbered.select("user_id", "sess_id", "item").distinct()
    a = items.alias("a")
    b = items.alias("b")
    pairs = (a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
                    & (F.col("a.sess_id") == F.col("b.sess_id"))
                    & (F.col("a.item") != F.col("b.item")))
             .groupBy(F.col("a.item").alias("item_a"),
                      F.col("b.item").alias("item_b"))
             .agg(F.count(F.lit(1)).alias("n_co")))
    wr = Window.partitionBy("item_a").orderBy(
        F.col("n_co").desc(), "item_b")
    return (pairs.withColumn("rnk", F.row_number().over(wr))
            .filter(F.col("rnk") <= 5)
            .select("item_a", "item_b", "n_co", "rnk"))


@register(
    "pipeline_contrastive_triplets",
    oracle="""
    WITH sess AS (
      SELECT user_id, event_id, ts,
             CAST(props ->> 'k' AS BIGINT) AS item,
             CASE WHEN date_diff('microsecond',
                    lag(ts) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id), ts)
                    > 1800000000
                   OR lag(ts) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events WHERE event_type IN ('view', 'click', 'purchase')
    ),
    numbered AS (
      SELECT user_id, item,
             sum(new_sess) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS sess_id
      FROM sess
    ),
    items AS (SELECT DISTINCT user_id, sess_id, item FROM numbered),
    pairs AS (
      SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_co
      FROM items a JOIN items b
        ON b.user_id = a.user_id AND b.sess_id = a.sess_id
       AND b.item <> a.item
      GROUP BY 1, 2
    ),
    pos AS (
      SELECT item_a AS anchor, item_b AS positive FROM (
        SELECT item_a, item_b,
               ROW_NUMBER() OVER (PARTITION BY item_a
                   ORDER BY n_co DESC, item_b) AS rnk
        FROM pairs) WHERE rnk = 1
    ),
    dom AS (
      SELECT item,
             ROW_NUMBER() OVER (ORDER BY item) - 1 AS idx,
             count(*) OVER () AS n
      FROM (SELECT DISTINCT item FROM items)
    ),
    trip AS (
      SELECT p.anchor, p.positive, d.item AS negative
      FROM pos p
      JOIN dom d
        ON d.idx = ('0x' || substr(md5('neg1:'
                    || CAST(p.anchor AS VARCHAR)), 1, 15))::BIGINT
                   % d.n
    )
    SELECT anchor, positive, negative
    FROM trip
    WHERE negative <> anchor AND negative <> positive
    """)
def pipeline_contrastive_triplets(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Contrastive training triplets (anchor, positive, negative) for
    embedding models: the positive is the anchor's strongest session
    co-visitation neighbor (real behavioral signal), the negative a
    SALTED-HASH draw from the item domain — deterministic, so the
    training set is bit-reproducible across runs and cluster sizes
    (the rand() version never is). Hash collisions with the
    anchor/positive are DROPPED, not re-rolled (the standard
    noise-contrastive simplification — a bounded, deterministic
    undersample), which keeps the plan join-shaped: top-1 positives
    from the covisitation ranks, one numbered-domain equi-join for
    negatives, no loops. The item domain is numbered through
    surrogate_key_distributed's two-phase range bucketing
    (operators/windows.py) — unconditional, not just
    bounded-by-catalog-size (r4 verdict task #7) — and the domain
    cardinality rides along as a broadcast 1-row aggregate."""
    from pmc_conversion_spark.functions.dedup import md5_int60
    from pmc_conversion_spark.operators.windows import (
        surrogate_key_distributed)
    pairs = agg_covisitation_topk(spark, sf_dir)
    pos = (pairs.filter(F.col("rnk") == 1)
           .select(F.col("item_a").alias("anchor"),
                   F.col("item_b").alias("positive")))
    e = _events(spark, sf_dir).filter(
        F.col("event_type").isin("view", "click", "purchase"))
    items = (e.select(F.get_json_object("props", "$.k").cast("bigint")
                      .alias("item")).distinct())
    domsk = surrogate_key_distributed(items, "item", out_col="sk")
    dom = domsk.select("item", (F.col("sk") - 1).cast("bigint")
                       .alias("idx"))
    n_items = domsk.agg(F.max("sk").cast("bigint").alias("n"))
    neg_idx = md5_int60(F.concat(F.lit("neg1:"),
                                 F.col("anchor").cast("string"))) \
        % F.col("n")
    trip = (pos.crossJoin(F.broadcast(n_items))
            .join(F.broadcast(dom), F.col("idx") == neg_idx)
            .select("anchor", "positive",
                    F.col("item").alias("negative")))
    return trip.filter((F.col("negative") != F.col("anchor"))
                       & (F.col("negative") != F.col("positive")))


@register(
    "win_forecast_backtest",
    oracle="""
    WITH hourly AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS h, count(*) AS c
      FROM events GROUP BY 1
    ),
    t0 AS (SELECT min(h) AS t0 FROM hourly),
    s AS (SELECT date_diff('hour', t0.t0, h.h) AS n, h.c
          FROM hourly h, t0),
    pred AS (
      SELECT n, c,
             lag(c, 1) OVER (ORDER BY n) AS naive,
             lag(c, 24) OVER (ORDER BY n) AS snaive
      FROM s
    ),
    scored AS (SELECT * FROM pred WHERE snaive IS NOT NULL)
    SELECT count(*) AS n_hours,
           CAST(sum(abs(c - naive)) AS BIGINT) AS mae_naive_x,
           CAST(sum(abs(c - snaive)) AS BIGINT) AS mae_snaive_x,
           round(CAST(sum(abs(c - naive)) AS DOUBLE) / count(*), 4)
             AS mae_naive,
           round(CAST(sum(abs(c - snaive)) AS DOUBLE) / count(*), 4)
             AS mae_snaive,
           round(CAST(sum(abs(c - snaive)) AS DOUBLE)
                 / sum(abs(c - naive)), 4) AS mase_ratio
    FROM scored
    """)
def win_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast BACKTESTING with the two baselines every model must
    beat: naive (last hour) and seasonal-naive (same hour yesterday),
    scored by MAE and their ratio (the MASE idea: a model whose error
    ratio vs seasonal-naive exceeds 1 is worse than knowing
    yesterday). Absolute errors are exact integers (counts), so both
    MAEs and the ratio derive from exact sums — no float drift — and
    the whole backtest is two lag windows over the hourly frame
    (bounded by the time range). Scoring starts where the 24-hour lag
    exists, so both baselines grade the same hours."""
    e = _events(spark, sf_dir)
    hourly = (e.groupBy(F.window("ts", "1 hour").alias("w"))
              .agg(F.count(F.lit(1)).alias("c"))
              .select(F.col("w.start").alias("h"), "c"))
    t0 = hourly.agg(F.min("h").alias("t0"))
    s = (hourly.crossJoin(t0)
         .select(F.expr("timestampdiff(HOUR, t0, h)").alias("n"), "c"))
    w = Window.orderBy("n")  # bounded hourly series frame
    pred = s.select(
        "n", "c",
        F.lag("c", 1).over(w).alias("naive"),
        F.lag("c", 24).over(w).alias("snaive"))
    scored = pred.filter(F.col("snaive").isNotNull())
    ae_n = F.abs(F.col("c") - F.col("naive"))
    ae_s = F.abs(F.col("c") - F.col("snaive"))
    return scored.agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(ae_n).cast("bigint").alias("mae_naive_x"),
        F.sum(ae_s).cast("bigint").alias("mae_snaive_x"),
        F.round(F.sum(ae_n).cast("double") / F.count(F.lit(1)), 4)
        .alias("mae_naive"),
        F.round(F.sum(ae_s).cast("double") / F.count(F.lit(1)), 4)
        .alias("mae_snaive"),
        F.round(F.sum(ae_s).cast("double") / F.sum(ae_n), 4)
        .alias("mase_ratio"))


@register(
    "ts_anomaly_residual",
    oracle="""
    WITH hourly AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS h, count(*) AS c
      FROM events GROUP BY 1
    ),
    t0 AS (SELECT min(h) AS t0 FROM hourly),
    s AS (
      SELECT date_diff('hour', t0.t0, h.h) AS n,
             EXTRACT(hour FROM h.h) AS hod, h.h, h.c
      FROM hourly h, t0
    ),
    tr AS (
      SELECT n, hod, h, c,
             CAST(sum(c) OVER w AS DOUBLE) / count(*) OVER w AS trend
      FROM s
      WINDOW w AS (ORDER BY n ROWS BETWEEN 12 PRECEDING
                   AND 12 FOLLOWING)
    ),
    dt AS (SELECT n, hod, h, c,
                  CAST(round(c - trend, 6) AS DECIMAL(18,6)) AS d
           FROM tr),
    se AS (SELECT hod, CAST(sum(d) AS DOUBLE) / count(*) AS seasonal
           FROM dt GROUP BY hod),
    re AS (SELECT dt.n, dt.h, dt.c,
                  CAST(round(dt.d - se.seasonal, 6)
                       AS DECIMAL(18,6)) AS r
           FROM dt JOIN se USING (hod)),
    mo AS (SELECT count(*) AS k,
                  CAST(sum(r) AS DOUBLE) AS sr,
                  CAST(sum(r * r) AS DOUBLE) AS srr
           FROM re)
    SELECT re.h AS hour_ts, re.c AS observed,
           round(CAST(re.r AS DOUBLE), 2) AS residual,
           round((re.r - mo.sr / mo.k)
                 / sqrt((mo.srr - mo.sr * mo.sr / mo.k)
                        / (mo.k - 1)), 2) AS z_score
    FROM re, mo
    WHERE abs((re.r - mo.sr / mo.k)
              / sqrt((mo.srr - mo.sr * mo.sr / mo.k)
                     / (mo.k - 1))) > 3
    """)
def ts_anomaly_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly detection: hours whose RESIDUAL
    (after removing the 25-hour trend and the hour-of-day profile —
    the ts_seasonal_decompose components) sits beyond 3σ of the
    residual distribution. Detecting on residuals is the whole
    point: a 3 pm spike that is merely 'normal 3 pm' never fires,
    and a quiet-hour bump that raw thresholds miss does. Residuals
    are rounded-then-decimal (order-free sums); σ comes from exact
    residual moments; the z boundary is partitioning-independent.
    Series frames are bounded by the time range."""
    e = _events(spark, sf_dir)
    hourly = (e.groupBy(F.window("ts", "1 hour").alias("w"))
              .agg(F.count(F.lit(1)).alias("c"))
              .select(F.col("w.start").alias("h"), "c"))
    t0 = hourly.agg(F.min("h").alias("t0"))
    s = (hourly.crossJoin(F.broadcast(t0))
         .select(F.expr("timestampdiff(HOUR, t0, h)").alias("n"),
                 F.hour("h").alias("hod"), "h", "c"))
    w = Window.orderBy("n").rowsBetween(-12, 12)
    tr = s.select("n", "hod", "h", "c",
                  (F.sum("c").over(w).cast("double")
                   / F.count(F.lit(1)).over(w)).alias("trend"))
    dt = tr.select("n", "hod", "h", "c",
                   F.round(F.col("c") - F.col("trend"), 6)
                   .cast("decimal(18,6)").alias("d"))
    se = dt.groupBy("hod").agg(
        (F.sum("d").cast("double") / F.count(F.lit(1)))
        .alias("seasonal"))
    re = (dt.join(F.broadcast(se), "hod")
          .select("n", "h", "c",
                  F.round(F.col("d") - F.col("seasonal"), 6)
                  .cast("decimal(18,6)").alias("r")))
    mo = re.agg(F.count(F.lit(1)).alias("k"),
                F.sum("r").cast("double").alias("sr"),
                F.sum(F.col("r") * F.col("r")).cast("double")
                .alias("srr"))
    j = re.crossJoin(F.broadcast(mo))
    mean_r = F.col("sr") / F.col("k")
    sd_r = F.sqrt((F.col("srr") - F.col("sr") * F.col("sr")
                   / F.col("k")) / (F.col("k") - 1))
    z = (F.col("r") - mean_r) / sd_r
    return (j.filter(F.abs(z) > 3)
            .select(F.col("h").alias("hour_ts"),
                    F.col("c").alias("observed"),
                    F.round(F.col("r").cast("double"), 2)
                    .alias("residual"),
                    F.round(z, 2).alias("z_score")))


@register(
    "agg_littles_law",
    oracle="""
    WITH sess AS (
      SELECT user_id,
             min(ts) AS t_in, max(ts) AS t_out
      FROM events GROUP BY user_id
    ),
    horizon AS (
      SELECT min(t_in) AS h0, max(t_out) AS h1 FROM sess
    ),
    m AS (
      SELECT count(*) AS n_users,
             CAST(sum(date_diff('microsecond', s.t_in, s.t_out))
                  AS BIGINT) AS busy_us,
             (SELECT date_diff('microsecond', h0, h1) FROM horizon)
               AS span_us
      FROM sess s
    )
    SELECT n_users,
           round(n_users / (span_us / 3600e6), 4) AS lambda_per_hour,
           round(busy_us / CAST(n_users AS DOUBLE) / 3600e6, 4)
             AS w_hours,
           round(CAST(busy_us AS DOUBLE) / span_us, 4)
             AS l_avg_in_system,
           round((n_users / (span_us / 3600e6))
                 * (busy_us / CAST(n_users AS DOUBLE) / 3600e6)
                 - CAST(busy_us AS DOUBLE) / span_us, 6)
             AS littles_residual
    FROM m
    """)
def agg_littles_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's law (L = λ·W) measured from both sides on user
    activity spans: arrival rate λ (users per hour over the horizon),
    mean time-in-system W (each user's first-to-last event span), and
    average concurrency L computed INDEPENDENTLY as total busy time
    over the horizon — the queueing identity that turns two cheap
    aggregates into a capacity model, and whose residual is an
    internal-consistency audit (here exactly 0 by construction:
    λW = (N/T)·(Σspan/N) = Σspan/T = L — the engine must reproduce
    the algebra bit-for-bit through three separately-computed
    ratios). Microsecond-exact integer spans; two grouped aggregates
    and a one-row report."""
    e = _events(spark, sf_dir)
    sess = e.groupBy("user_id").agg(F.min("ts").alias("t_in"),
                                    F.max("ts").alias("t_out"))
    span = F.expr("timestampdiff(MICROSECOND, t_in, t_out)")
    horizon = sess.agg(F.min("t_in").alias("h0"),
                       F.max("t_out").alias("h1"))
    m = (sess.agg(F.count(F.lit(1)).alias("n_users"),
                  F.sum(span).cast("bigint").alias("busy_us"))
         .crossJoin(horizon.select(
             F.expr("timestampdiff(MICROSECOND, h0, h1)")
             .alias("span_us"))))
    lam = F.col("n_users") / (F.col("span_us") / 3600e6)
    w = F.col("busy_us") / F.col("n_users").cast("double") / 3600e6
    l = F.col("busy_us").cast("double") / F.col("span_us")
    return m.select(
        "n_users",
        F.round(lam, 4).alias("lambda_per_hour"),
        F.round(w, 4).alias("w_hours"),
        F.round(l, 4).alias("l_avg_in_system"),
        F.round(lam * w - l, 6).alias("littles_residual"))


@register(
    "ts_locf_limited",
    oracle="""
    WITH b AS (
      SELECT user_id, date_trunc('hour', ts) AS h,
             CAST(round(arg_max(value, event_id) * 100) AS BIGINT)
               AS vcents
      FROM events GROUP BY 1, 2
    ),
    sp AS (
      SELECT user_id,
             unnest(generate_series(min(h), max(h), INTERVAL 1 HOUR))
               AS h
      FROM b GROUP BY user_id
    ),
    j AS (
      SELECT sp.user_id, sp.h, b.vcents,
             date_diff('hour', (SELECT min(h) FROM b b2
                                WHERE b2.user_id = sp.user_id), sp.h)
               AS n
      FROM sp LEFT JOIN b USING (user_id, h)
    ),
    f AS (
      SELECT user_id, h, n, vcents,
             last_value(vcents IGNORE NULLS) OVER wp AS pv,
             last_value(CASE WHEN vcents IS NOT NULL THEN n END
                        IGNORE NULLS) OVER wp AS pn
      FROM j
      WINDOW wp AS (PARTITION BY user_id ORDER BY n
                    ROWS UNBOUNDED PRECEDING)
    )
    SELECT user_id, h AS bin_ts,
           vcents IS NOT NULL AS observed,
           CASE WHEN vcents IS NOT NULL THEN round(vcents / 100.0, 2)
                WHEN n - pn <= 3 THEN round(pv / 100.0, 2)
                ELSE NULL END AS value_ffill_max3
    FROM f
    """)
def ts_locf_limited(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill with a STALENESS LIMIT: carry the last observation
    at most 3 hours, then surface NULL — the honest sensor
    densification (unbounded LOCF, ts_resample_gapfill's rule, will
    happily report a dead sensor's last reading for a week; the limit
    is what turns 'filled' into 'stale, escalate'). One extra
    last-observed-INDEX column alongside the last-observed-value
    window decides staleness by integer subtraction; same single
    per-user partitioning as the other densifiers."""
    e = _events(spark, sf_dir)
    b = (e.groupBy("user_id", F.date_trunc("hour", "ts").alias("h"))
         .agg(F.round(F.max_by("value", "event_id") * 100)
              .cast("bigint").alias("vcents")))
    span = b.groupBy("user_id").agg(F.min("h").alias("h0"),
                                    F.max("h").alias("h1"))
    sp = span.select("user_id", "h0",
                     F.explode(F.sequence("h0", "h1",
                                          F.expr("INTERVAL 1 HOUR")))
                     .alias("h"))
    j = (sp.join(b, ["user_id", "h"], "left")
         .select("user_id", "h", "vcents",
                 F.expr("timestampdiff(HOUR, h0, h)").alias("n")))
    wp = (Window.partitionBy("user_id").orderBy("n")
          .rowsBetween(Window.unboundedPreceding, 0))
    obs_n = F.when(F.col("vcents").isNotNull(), F.col("n"))
    f = j.select("user_id", "h", "n", "vcents",
                 F.last("vcents", ignorenulls=True).over(wp).alias("pv"),
                 F.last(obs_n, ignorenulls=True).over(wp).alias("pn"))
    return f.select(
        "user_id", F.col("h").alias("bin_ts"),
        F.col("vcents").isNotNull().alias("observed"),
        F.when(F.col("vcents").isNotNull(),
               F.round(F.col("vcents") / 100.0, 2))
        .when(F.col("n") - F.col("pn") <= 3,
              F.round(F.col("pv") / 100.0, 2))
        .alias("value_ffill_max3"))


@register(
    "agg_slo_burn_rate",
    oracle="""
    WITH hourly AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS h,
             count(*) AS n,
             sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
               AS errs
      FROM events GROUP BY 1
    ),
    w AS (
      SELECT h, n, errs,
             CAST(sum(n) OVER w6 AS BIGINT) AS n6,
             CAST(sum(errs) OVER w6 AS BIGINT) AS e6
      FROM hourly
      WINDOW w6 AS (ORDER BY h ROWS BETWEEN 5 PRECEDING
                    AND CURRENT ROW)
    )
    SELECT h AS hour_ts,
           round(CAST(errs AS DOUBLE) / n / 0.2, 4) AS burn_1h,
           round(CAST(e6 AS DOUBLE) / n6 / 0.2, 4) AS burn_6h,
           CASE WHEN CAST(errs AS DOUBLE) / n / 0.2 > 1.2
                 AND CAST(e6 AS DOUBLE) / n6 / 0.2 > 1.2
                THEN 'page'
                WHEN CAST(e6 AS DOUBLE) / n6 / 0.2 > 1.0
                THEN 'ticket' ELSE 'ok' END AS verdict
    FROM w
    ORDER BY h
    LIMIT 100
    """)
def agg_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiwindow SLO burn-rate alerting (the SRE-workbook policy):
    with an 80% success SLO (error budget 0.2), the burn rate is
    observed-error-ratio / budget per 1-hour and 6-hour windows, and
    the verdict pages only when BOTH windows burn hot — the two-window
    AND is what kills flappy single-spike pages while still catching
    sustained burns fast. Error ratios are exact integer counts over
    window sums (bounded series frames); thresholds compare
    engine-identical doubles. The first-100-hours report keeps the
    demo reviewable."""
    e = _events(spark, sf_dir)
    hourly = (e.groupBy(F.window("ts", "1 hour").alias("w"))
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum(F.when(F.col("event_type") == "error", 1)
                         .otherwise(0)).alias("errs"))
              .select(F.col("w.start").alias("h"), "n", "errs"))
    w6 = Window.orderBy("h").rowsBetween(-5, 0)
    w = hourly.select(
        "h", "n", "errs",
        F.sum("n").over(w6).cast("bigint").alias("n6"),
        F.sum("errs").over(w6).cast("bigint").alias("e6"))
    burn1 = F.col("errs").cast("double") / F.col("n") / 0.2
    burn6 = F.col("e6").cast("double") / F.col("n6") / 0.2
    return (w.select(
        F.col("h").alias("hour_ts"),
        F.round(burn1, 4).alias("burn_1h"),
        F.round(burn6, 4).alias("burn_6h"),
        F.when((burn1 > 1.2) & (burn6 > 1.2), "page")
        .when(burn6 > 1.0, "ticket").otherwise("ok").alias("verdict"))
        .orderBy("hour_ts").limit(100))


@register(
    "agg_spc_control_chart",
    oracle="""
    WITH hourly AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS h, count(*) AS c
      FROM events GROUP BY 1
    ),
    mr AS (
      SELECT h, c,
             abs(c - lag(c) OVER (ORDER BY h)) AS moving_range
      FROM hourly
    ),
    lim AS (
      SELECT CAST(sum(c) AS DOUBLE) / count(*) AS xbar,
             CAST(sum(moving_range) AS DOUBLE)
               / count(moving_range) AS mrbar
      FROM mr
    )
    SELECT mr.h AS hour_ts, mr.c AS observed,
           round(lim.xbar, 2) AS center,
           round(lim.xbar - 2.66 * lim.mrbar, 2) AS lcl,
           round(lim.xbar + 2.66 * lim.mrbar, 2) AS ucl,
           mr.c < lim.xbar - 2.66 * lim.mrbar
             OR mr.c > lim.xbar + 2.66 * lim.mrbar AS out_of_control
    FROM mr, lim
    WHERE mr.c < lim.xbar - 2.66 * lim.mrbar
       OR mr.c > lim.xbar + 2.66 * lim.mrbar
    """)
def agg_spc_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The individuals/moving-range (X-mR) control chart — Shewhart's
    SPC applied to pipeline throughput: control limits are
    x̄ ± 2.66·(mean moving range), estimating short-term variation
    from CONSECUTIVE differences so a slow drift doesn't inflate the
    limits that are supposed to catch it (the classic failure of
    naive ±3σ on a trending series; 2.66 = 3/d₂ for n=2). Out-of-
    control hours are the report. Moving ranges are exact integer
    |Δcount| from one lag window over the bounded hourly frame; both
    means derive from exact sums; the limit compare is
    engine-identical."""
    e = _events(spark, sf_dir)
    hourly = (e.groupBy(F.window("ts", "1 hour").alias("w"))
              .agg(F.count(F.lit(1)).alias("c"))
              .select(F.col("w.start").alias("h"), "c"))
    w = Window.orderBy("h")  # bounded hourly series frame
    mr = hourly.select(
        "h", "c",
        F.abs(F.col("c") - F.lag("c").over(w)).alias("moving_range"))
    lim = mr.agg(
        (F.sum("c").cast("double") / F.count(F.lit(1))).alias("xbar"),
        (F.sum("moving_range").cast("double")
         / F.count("moving_range")).alias("mrbar"))
    j = mr.crossJoin(lim)
    lcl = F.col("xbar") - 2.66 * F.col("mrbar")
    ucl = F.col("xbar") + 2.66 * F.col("mrbar")
    return (j.filter((F.col("c") < lcl) | (F.col("c") > ucl))
            .select(F.col("h").alias("hour_ts"),
                    F.col("c").alias("observed"),
                    F.round(F.col("xbar"), 2).alias("center"),
                    F.round(lcl, 2).alias("lcl"),
                    F.round(ucl, 2).alias("ucl"),
                    ((F.col("c") < lcl) | (F.col("c") > ucl))
                    .alias("out_of_control")))


@register(
    "ts_holt_forecast",
    oracle="""
    -- Recursive CTE with SCALAR l/b columns: DuckDB 1.0.0's
    -- list_reduce mis-evaluates struct accumulators (the second
    -- field's expression sees the FIRST field's freshly written
    -- value — in-place aliasing), so the fold is stated as a
    -- per-step recursion instead; each step applies the identical
    -- IEEE sequence the engine's higher-order `aggregate` runs.
    WITH RECURSIVE v AS (
      SELECT user_id, ts, event_id, round(value, 6)::DOUBLE AS x
      FROM events WHERE value IS NOT NULL
    ), series AS (
      SELECT user_id, list(x ORDER BY ts, event_id) AS xs,
             count(*) AS n
      FROM v GROUP BY user_id
      HAVING count(*) >= 2
    ), step AS (
      SELECT user_id, xs, n, 2 AS k,
             xs[2]::DOUBLE AS l,
             (xs[2] - xs[1])::DOUBLE AS b
      FROM series
      UNION ALL
      SELECT user_id, xs, n, k + 1,
             0.3::DOUBLE * xs[k + 1] + 0.7::DOUBLE * (l + b),
             0.2::DOUBLE * ((0.3::DOUBLE * xs[k + 1]
                + 0.7::DOUBLE * (l + b)) - l) + 0.8::DOUBLE * b
      FROM step WHERE k < n
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_events,
           round(l, 6) AS level,
           round(b, 6) AS trend,
           round(l + 3 * b, 6) AS forecast_3
    FROM step WHERE k = n
    """)
def ts_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's LINEAR (double-exponential) smoothing per key — level
    AND trend state (α=0.3, β=0.2), the forecaster that extrapolates
    a drifting series where plain EWMA (ts_ewma) flattens it. Like
    every state-fold in this family the recurrence depends on the
    previous RESULT, so SQL windows can't express it: the per-key
    series is assembled once (sort_array ∘ collect_list, one shuffle)
    and folded JVM-side with the higher-order ``aggregate`` carrying a
    (level, trend) STRUCT accumulator — no Python, no iteration, and
    per-key state bounded by that key's own history, the regime groupBy
    distributes at 100 TB. Initialization is the textbook l₂=x₂,
    b₂=x₂−x₁; output includes the h=3 forecast l+3b. The oracle steps
    the same recurrence with a recursive CTE carrying SCALAR l/b
    columns (DuckDB 1.0.0's list_reduce aliases struct accumulators in
    place, so a struct fold there is wrong; literals pinned to DOUBLE
    on both engines so the fold is the same IEEE sequence), rounded at
    6 dp."""
    e = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    series = (e.select("user_id",
                       F.struct(F.col("ts"), F.col("event_id"),
                                F.round("value", 6).cast("double")
                                .alias("x")).alias("s"))
              .groupBy("user_id")
              .agg(F.sort_array(F.collect_list("s")).alias("ss"))
              .filter(F.size("ss") >= 2))
    fitted = series.withColumn("xs", F.expr("transform(ss, s -> s.x)")) \
        .withColumn("st", F.expr(
            "aggregate(slice(xs, 3, greatest(size(xs) - 2, 0)), "
            "named_struct('l', xs[1], 'b', xs[1] - xs[0]), "
            "(acc, x) -> named_struct("
            "'l', 0.3D * x + 0.7D * (acc.l + acc.b), "
            "'b', 0.2D * ((0.3D * x + 0.7D * (acc.l + acc.b)) - acc.l) "
            "+ 0.8D * acc.b))"))
    return fitted.select(
        "user_id",
        F.size("xs").cast("long").alias("n_events"),
        F.round(F.col("st.l"), 6).alias("level"),
        F.round(F.col("st.b"), 6).alias("trend"),
        F.round(F.col("st.l") + 3 * F.col("st.b"), 6).alias("forecast_3"))


@register(
    "win_ewma_irregular",
    oracle="""
    WITH RECURSIVE v AS (
      SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec,
             round(value, 6)::DOUBLE AS x
      FROM events WHERE value IS NOT NULL
    ),
    d AS (
      SELECT user_id, event_id, sec, x,
             sec - lag(sec) OVER (PARTITION BY user_id
                                  ORDER BY sec, event_id) AS dt
      FROM v
    ),
    series AS (
      SELECT user_id,
             list({'dt': dt, 'x': x} ORDER BY sec, event_id) AS xs,
             count(*) AS n
      FROM d GROUP BY user_id HAVING count(*) >= 2
    ),
    step AS (
      SELECT user_id, xs, n, 1 AS k, xs[1].x::DOUBLE AS y
      FROM series
      UNION ALL
      SELECT user_id, xs, n, k + 1,
             y + (1.0::DOUBLE - exp(-(xs[k + 1].dt::DOUBLE)
                                    / 3600.0::DOUBLE))
                 * (xs[k + 1].x - y)
      FROM step WHERE k < n
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_events,
           round(y, 6) AS ewma_irregular
    FROM step WHERE k = n
    """)
def win_ewma_irregular(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA over an IRREGULARLY-SAMPLED series — the effective
    smoothing weight adapts to the actual gap between observations
    (α_eff = 1 − e^(−Δt/τ), τ = 1 h), which is the correct
    exponential decay for event streams where fixed-α EWMA (ts_ewma)
    over-weights bursts and under-weights sparse stretches. The
    recurrence depends on the previous RESULT, so windows can't
    express it: per-user gaps come from one key-partitioned lag
    window, the (Δt, x) series is assembled with sort_array ∘
    collect_list (one shuffle, per-key state bounded by that key's
    history), and the fold runs JVM-side with a SCALAR double
    accumulator through the higher-order ``aggregate`` — the safe
    list_reduce shape, but the oracle still uses the recursive-CTE
    restatement because element structs + scalar init can't share a
    list_reduce type in DuckDB. 6-dp rounding at the boundary."""
    e = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    sec = F.col("ts").cast("timestamp").cast("long")
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    d = (e.select("user_id", "event_id", sec.alias("sec"),
                  F.round("value", 6).cast("double").alias("x"))
         .withColumn("dt", F.col("sec") - F.lag("sec").over(w)))
    series = (d.select("user_id",
                       F.struct("sec", "event_id", "dt", "x").alias("s"))
              .groupBy("user_id")
              .agg(F.sort_array(F.collect_list("s")).alias("ss"))
              .filter(F.size("ss") >= 2))
    folded = series.withColumn("y", F.expr(
        "aggregate(slice(ss, 2, greatest(size(ss) - 1, 0)), "
        "CAST(ss[0].x AS DOUBLE), "
        "(acc, s) -> acc + (1.0D - exp(-CAST(s.dt AS DOUBLE) / 3600.0D))"
        " * (s.x - acc))"))
    return folded.select(
        "user_id",
        F.size("ss").cast("long").alias("n_events"),
        F.round(F.col("y"), 6).alias("ewma_irregular"))


@register(
    "ts_holt_winters",
    oracle="""
    WITH RECURSIVE hourly AS (
      SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS h,
             count(*)::DOUBLE AS x
      FROM events GROUP BY 1, 2
    ),
    series AS (
      SELECT event_type, list(x ORDER BY h) AS xs, count(*) AS n
      FROM hourly GROUP BY event_type HAVING count(*) >= 49
    ),
    init AS (
      SELECT event_type, xs, n,
             list_sum(xs[1:24]) / 24.0::DOUBLE AS l0
      FROM series
    ),
    start AS (
      SELECT event_type, xs, n, 24 AS k,
             l0 AS l,
             (list_sum(xs[25:48]) / 24.0::DOUBLE - l0)
               / 24.0::DOUBLE AS b,
             list_transform(xs[1:24], v -> v - l0) AS s
      FROM init
    ),
    step AS (
      SELECT event_type, xs, n, k, l, b, s FROM start
      UNION ALL
      SELECT event_type, xs, n, k + 1,
             0.3::DOUBLE * (xs[k + 1] - s[1])
               + 0.7::DOUBLE * (l + b),
             0.1::DOUBLE * ((0.3::DOUBLE * (xs[k + 1] - s[1])
                             + 0.7::DOUBLE * (l + b)) - l)
               + 0.9::DOUBLE * b,
             list_append(s[2:],
               0.2::DOUBLE * (xs[k + 1]
                 - (0.3::DOUBLE * (xs[k + 1] - s[1])
                    + 0.7::DOUBLE * (l + b)))
               + 0.8::DOUBLE * s[1])
      FROM step WHERE k < n
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_hours,
           round(l, 6) AS level, round(b, 6) AS trend,
           round(l + 1 * b + s[1], 6) AS forecast_1,
           round(l + 2 * b + s[2], 6) AS forecast_2,
           round(l + 3 * b + s[3], 6) AS forecast_3
    FROM step WHERE k = n
    """)
def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (triple exponential smoothing) on hourly
    event volume per type: level + trend + a 24-slot DAILY seasonal
    profile (α=0.3, β=0.1, γ=0.2) — the classic capacity-planning
    forecaster that ts_holt_forecast cannot be when the series has a
    within-day shape. Textbook init: level = mean of season 1,
    trend = (mean of season 2 − mean of season 1)/24, seasonals =
    deviations from season 1's mean (counts are integers, so both
    init means are EXACT and the fold starts from identical state on
    both engines). The recurrence carries (l, b, s[24]) — state
    depends on the previous RESULT, inexpressible as a window — so
    the per-type series is assembled once (sort_array ∘ collect_list)
    and folded JVM-side by the higher-order ``aggregate`` with a
    struct{double, double, array} accumulator that ROTATES the
    seasonal array each step. Per-key state is bounded by that key's
    own history; the type-keyed groupBy distributes. The oracle steps
    the same recurrence as a recursive CTE (scalar l/b + list s
    columns — never a DuckDB struct-accumulator list_reduce, which
    r4 proved aliased). Forecasts at h=1..3 include the seasonal
    slot; 6-dp rounding."""
    e = _events(spark, sf_dir)
    hourly = (e.groupBy("event_type",
                        F.window("ts", "1 hour").alias("w"))
              .agg(F.count(F.lit(1)).cast("double").alias("x"))
              .select("event_type", F.col("w.start").alias("h"), "x"))
    series = (hourly.select("event_type",
                            F.struct("h", "x").alias("s"))
              .groupBy("event_type")
              .agg(F.sort_array(F.collect_list("s")).alias("ss"))
              .filter(F.size("ss") >= 49)
              .withColumn("xs", F.expr("transform(ss, s -> s.x)")))
    upd_l = ("0.3D * (x - element_at(acc.s, 1)) "
             "+ 0.7D * (acc.l + acc.b)")
    fitted = series.withColumn("st", F.expr(
        "aggregate(slice(xs, 25, greatest(size(xs) - 24, 0)), "
        "named_struct("
        "'l', aggregate(slice(xs, 1, 24), 0D, (a, v) -> a + v) / 24.0D, "
        "'b', (aggregate(slice(xs, 25, 24), 0D, (a, v) -> a + v) / 24.0D"
        "      - aggregate(slice(xs, 1, 24), 0D, (a, v) -> a + v)"
        "        / 24.0D) / 24.0D, "
        "'s', transform(slice(xs, 1, 24), v -> "
        "     v - aggregate(slice(xs, 1, 24), 0D, (a, w) -> a + w)"
        "         / 24.0D)), "
        f"(acc, x) -> named_struct("
        f"'l', {upd_l}, "
        f"'b', 0.1D * (({upd_l}) - acc.l) + 0.9D * acc.b, "
        f"'s', concat(slice(acc.s, 2, 23), "
        f"array(0.2D * (x - ({upd_l})) "
        f"+ 0.8D * element_at(acc.s, 1)))))"))
    h = [(F.col("st.l") + k * F.col("st.b")
          + F.element_at(F.col("st.s"), k)) for k in (1, 2, 3)]
    return fitted.select(
        "event_type",
        F.size("xs").cast("long").alias("n_hours"),
        F.round(F.col("st.l"), 6).alias("level"),
        F.round(F.col("st.b"), 6).alias("trend"),
        F.round(h[0], 6).alias("forecast_1"),
        F.round(h[1], 6).alias("forecast_2"),
        F.round(h[2], 6).alias("forecast_3"))


@register(
    "ts_piecewise_trend",
    oracle="""
    WITH hourly AS (
      SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS h,
             count(*) AS x
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, x,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY h) AS k,
             count(*) OVER (PARTITION BY event_type) AS n,
             sum(x) OVER (PARTITION BY event_type) AS s
      FROM hourly
    ),
    cs AS (
      SELECT event_type, x, k, n,
             sum(x * n - s) OVER (PARTITION BY event_type ORDER BY k)
               AS cusum
      FROM idx
    ),
    cp AS (
      SELECT event_type,
             CAST(9999 - max(abs(cusum) * 10000 + (9999 - k)) % 10000
                  AS BIGINT) AS kstar
      FROM cs GROUP BY event_type
    ),
    seg AS (
      SELECT c.event_type, c.kstar,
             sum(CASE WHEN i.k <= c.kstar THEN 1 ELSE 0 END) AS m1,
             sum(CASE WHEN i.k <= c.kstar THEN i.k ELSE 0 END) AS k1,
             sum(CASE WHEN i.k <= c.kstar THEN i.k * i.k ELSE 0 END)
               AS kk1,
             sum(CASE WHEN i.k <= c.kstar THEN i.x ELSE 0 END) AS x1,
             sum(CASE WHEN i.k <= c.kstar THEN i.k * i.x ELSE 0 END)
               AS kx1,
             sum(CASE WHEN i.k > c.kstar THEN 1 ELSE 0 END) AS m2,
             sum(CASE WHEN i.k > c.kstar THEN i.k ELSE 0 END) AS k2,
             sum(CASE WHEN i.k > c.kstar THEN i.k * i.k ELSE 0 END)
               AS kk2,
             sum(CASE WHEN i.k > c.kstar THEN i.x ELSE 0 END) AS x2,
             sum(CASE WHEN i.k > c.kstar THEN i.k * i.x ELSE 0 END)
               AS kx2
      FROM idx i JOIN cp c ON c.event_type = i.event_type
      GROUP BY 1, 2
    )
    SELECT event_type, kstar AS changepoint_k,
           CAST(m1 AS BIGINT) AS n_before,
           CAST(m2 AS BIGINT) AS n_after,
           round((CAST(m1 AS DOUBLE) * kx1 - CAST(k1 AS DOUBLE) * x1)
                 / (CAST(m1 AS DOUBLE) * kk1
                    - CAST(k1 AS DOUBLE) * k1), 6) AS slope_before,
           round((CAST(m2 AS DOUBLE) * kx2 - CAST(k2 AS DOUBLE) * x2)
                 / (CAST(m2 AS DOUBLE) * kk2
                    - CAST(k2 AS DOUBLE) * k2), 6) AS slope_after
    FROM seg
    """)
def ts_piecewise_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIECEWISE-LINEAR trend: split each event type's hourly series
    at its CUSUM changepoint (ts_cusum_changepoint's argmax, same
    packed-integer tie-break with the same loud radix guard) and fit
    closed-form least-squares slopes on each side — the 'did growth
    actually bend, and by how much' readout behind every
    trajectory-change postmortem, and the 2-segment core of
    Prophet-style piecewise trend models. Every regression moment
    (Σk, Σk², Σx, Σkx per side) is an EXACT integer conditional sum
    collected in ONE pass after the changepoint broadcast-joins back;
    the two slope divisions are the only doubles. Per-type windows
    partition; nothing global."""
    e = _events(spark, sf_dir)
    hourly = (e.groupBy("event_type",
                        F.window("ts", "1 hour").alias("w"))
              .agg(F.count(F.lit(1)).alias("x"))
              .select("event_type", F.col("w.start").alias("h"), "x"))
    wt = Window.partitionBy("event_type")
    wk = wt.orderBy("h")
    idx = hourly.select(
        "event_type", "x",
        F.row_number().over(wk).alias("k"),
        F.count(F.lit(1)).over(wt).alias("n"),
        F.sum("x").over(wt).alias("s"))
    cs = idx.withColumn(
        "cusum", F.sum(F.col("x") * F.col("n") - F.col("s"))
        .over(wt.orderBy("k")
              .rowsBetween(Window.unboundedPreceding, 0)))
    k_term = F.when(F.col("k") <= 9999, F.lit(9999) - F.col("k")) \
        .otherwise(F.raise_error(F.lit(
            "ts_piecewise_trend: >9999 hourly buckets per event_type"
            " exceeds the argmax packing radix")))
    cp = (cs.groupBy("event_type")
          .agg((F.lit(9999)
                - F.max(F.abs("cusum") * 10000 + k_term) % 10000)
               .cast("bigint").alias("kstar")))
    j = idx.join(cp, "event_type")
    pre = F.col("k") <= F.col("kstar")

    def s(cond, expr):
        return F.sum(F.when(cond, expr).otherwise(F.lit(0)))

    seg = j.groupBy("event_type", "kstar").agg(
        s(pre, F.lit(1)).alias("m1"), s(pre, F.col("k")).alias("k1"),
        s(pre, F.col("k") * F.col("k")).alias("kk1"),
        s(pre, F.col("x")).alias("x1"),
        s(pre, F.col("k") * F.col("x")).alias("kx1"),
        s(~pre, F.lit(1)).alias("m2"), s(~pre, F.col("k")).alias("k2"),
        s(~pre, F.col("k") * F.col("k")).alias("kk2"),
        s(~pre, F.col("x")).alias("x2"),
        s(~pre, F.col("k") * F.col("x")).alias("kx2"))

    def slope(m, kk, k, x, kx):
        md = F.col(m).cast("double")
        return ((md * F.col(kx) - F.col(k).cast("double") * F.col(x))
                / (md * F.col(kk)
                   - F.col(k).cast("double") * F.col(k)))

    return seg.select(
        "event_type", F.col("kstar").alias("changepoint_k"),
        F.col("m1").cast("bigint").alias("n_before"),
        F.col("m2").cast("bigint").alias("n_after"),
        F.round(slope("m1", "kk1", "k1", "x1", "kx1"), 6)
        .alias("slope_before"),
        F.round(slope("m2", "kk2", "k2", "x2", "kx2"), 6)
        .alias("slope_after"))


@register(
    "agg_quantile_forecast_pinball",
    oracle="""
    WITH hourly AS (
      SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS h,
             count(*) AS x
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, x,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY h) AS k,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM hourly
    ),
    train AS (
      SELECT event_type,
             quantile_cont(x, 0.1) AS q10,
             quantile_cont(x, 0.5) AS q50,
             quantile_cont(x, 0.9) AS q90
      FROM idx WHERE k <= n // 2 GROUP BY event_type
    ),
    test AS (SELECT event_type, x FROM idx WHERE k > n // 2)
    SELECT t.event_type, count(*) AS n_test,
           round(q10, 2) AS q10, round(q50, 2) AS q50,
           round(q90, 2) AS q90,
           round(avg(greatest(0.1 * (t.x - tr.q10),
                              -0.9 * (t.x - tr.q10))), 4)
             AS pinball_10,
           round(avg(greatest(0.5 * (t.x - tr.q50),
                              -0.5 * (t.x - tr.q50))), 4)
             AS pinball_50,
           round(avg(greatest(0.9 * (t.x - tr.q90),
                              -0.1 * (t.x - tr.q90))), 4)
             AS pinball_90
    FROM test t JOIN train tr ON tr.event_type = t.event_type
    GROUP BY t.event_type, tr.q10, tr.q50, tr.q90
    """)
def agg_quantile_forecast_pinball(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """PINBALL (quantile) LOSS backtest — the proper scoring rule for
    quantile forecasts, which MAE/MASE (win_forecast_backtest) cannot
    grade: fit q10/q50/q90 of hourly volume on the FIRST HALF of each
    type's history (exact interpolated percentiles, identical
    semantics both engines), score them on the second half with
    τ·(y−q)⁺ + (1−τ)·(q−y)⁺. A well-calibrated q90 scores low
    precisely because it over-covers — this asymmetry is why capacity
    planners use pinball, not MAE, for percentile SLAs. Time split by
    per-type row number (partitioned window); quantiles broadcast
    back; one conditional-sum scoring pass."""
    e = _events(spark, sf_dir)
    hourly = (e.groupBy("event_type",
                        F.window("ts", "1 hour").alias("w"))
              .agg(F.count(F.lit(1)).alias("x"))
              .select("event_type", F.col("w.start").alias("h"), "x"))
    wt = Window.partitionBy("event_type")
    idx = hourly.select(
        "event_type", "x",
        F.row_number().over(wt.orderBy("h")).alias("k"),
        F.count(F.lit(1)).over(wt).alias("n"))
    train = (idx.filter(F.col("k") <= F.expr("n div 2"))
             .groupBy("event_type")
             .agg(F.expr("percentile(x, 0.1)").alias("q10"),
                  F.expr("percentile(x, 0.5)").alias("q50"),
                  F.expr("percentile(x, 0.9)").alias("q90")))
    test = idx.filter(F.col("k") > F.expr("n div 2"))

    def pinball(tau, q):
        d = F.col("x") - F.col(q)
        return F.avg(F.greatest(tau * d, (tau - 1) * d))

    return (test.join(F.broadcast(train), "event_type")
            .groupBy("event_type", "q10", "q50", "q90")
            .agg(F.count(F.lit(1)).alias("n_test"),
                 F.round(pinball(0.1, "q10"), 4).alias("pinball_10"),
                 F.round(pinball(0.5, "q50"), 4).alias("pinball_50"),
                 F.round(pinball(0.9, "q90"), 4).alias("pinball_90"))
            .select("event_type", "n_test",
                    F.round("q10", 2).alias("q10"),
                    F.round("q50", 2).alias("q50"),
                    F.round("q90", 2).alias("q90"),
                    "pinball_10", "pinball_50", "pinball_90"))


@register(
    "agg_shapley_attribution",
    oracle="""
    WITH touched AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS a,
             max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS b,
             max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS c,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS conv
      FROM events GROUP BY user_id
    ),
    sets AS (
      SELECT a, b, c, count(*) AS n, sum(conv) AS k,
             CAST(sum(conv) AS DOUBLE) / count(*) AS v
      FROM touched GROUP BY a, b, c
    ),
    vfn AS (
      SELECT
        max(CASE WHEN a=0 AND b=0 AND c=0 THEN v ELSE 0 END) AS v000,
        max(CASE WHEN a=1 AND b=0 AND c=0 THEN v ELSE 0 END) AS v100,
        max(CASE WHEN a=0 AND b=1 AND c=0 THEN v ELSE 0 END) AS v010,
        max(CASE WHEN a=0 AND b=0 AND c=1 THEN v ELSE 0 END) AS v001,
        max(CASE WHEN a=1 AND b=1 AND c=0 THEN v ELSE 0 END) AS v110,
        max(CASE WHEN a=1 AND b=0 AND c=1 THEN v ELSE 0 END) AS v101,
        max(CASE WHEN a=0 AND b=1 AND c=1 THEN v ELSE 0 END) AS v011,
        max(CASE WHEN a=1 AND b=1 AND c=1 THEN v ELSE 0 END) AS v111
      FROM sets
    )
    SELECT t.channel, round(t.shapley, 6) AS shapley FROM (
      SELECT 'view' AS channel,
             ((v100 - v000) * 2 + (v110 - v010) + (v101 - v001)
              + (v111 - v011) * 2) / 6.0 AS shapley FROM vfn
      UNION ALL
      SELECT 'click',
             ((v010 - v000) * 2 + (v110 - v100) + (v011 - v001)
              + (v111 - v101) * 2) / 6.0 FROM vfn
      UNION ALL
      SELECT 'signup',
             ((v001 - v000) * 2 + (v101 - v100) + (v011 - v010)
              + (v111 - v110) * 2) / 6.0 FROM vfn
    ) t
    """)
def agg_shapley_attribution(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """SHAPLEY-VALUE channel attribution — the game-theoretic split
    of conversion credit across touch channels that first/last-touch
    (agg_attribution_touch) cannot give: each channel's Shapley value
    averages its marginal contribution over every arrival order
    (weights 2/6, 1/6, 1/6, 2/6 for the 3-player coalitions), the
    attribution marketing platforms actually ship. The coalition
    value function is the observed conversion rate per EXACT touched
    set — 8 cells from one user-level flag aggregate (two partial-agg
    passes over events, nothing else); the Shapley sum is then a
    constant-size closed-form expression. Exact integer cell counts;
    doubles only in the final rates."""
    e = _events(spark, sf_dir)
    touched = e.groupBy("user_id").agg(
        *[F.max(F.when(F.col("event_type") == t, 1).otherwise(0))
          .alias(n) for t, n in (("view", "a"), ("click", "b"),
                                 ("signup", "c"))],
        F.max(F.when(F.col("event_type") == "purchase", 1)
              .otherwise(0)).alias("conv"))
    sets = (touched.groupBy("a", "b", "c")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("conv").alias("k"))
            .withColumn("v", F.col("k").cast("double") / F.col("n")))
    cells = [(a, b, c) for a in (0, 1) for b in (0, 1) for c in (0, 1)]
    vfn = sets.agg(*[
        F.max(F.when((F.col("a") == a) & (F.col("b") == b)
                     & (F.col("c") == c), F.col("v")).otherwise(0.0))
        .alias(f"v{a}{b}{c}") for a, b, c in cells])

    def v(s):
        return F.col(f"v{s}")

    shap = {
        "view": ((v("100") - v("000")) * 2 + (v("110") - v("010"))
                 + (v("101") - v("001")) + (v("111") - v("011")) * 2)
        / 6.0,
        "click": ((v("010") - v("000")) * 2 + (v("110") - v("100"))
                  + (v("011") - v("001")) + (v("111") - v("101")) * 2)
        / 6.0,
        "signup": ((v("001") - v("000")) * 2 + (v("101") - v("100"))
                   + (v("011") - v("010")) + (v("111") - v("110")) * 2)
        / 6.0,
    }
    rows = None
    for ch, expr in shap.items():
        r = vfn.select(F.lit(ch).alias("channel"),
                       F.round(expr, 6).alias("shapley"))
        rows = r if rows is None else rows.unionAll(r)
    return rows


@register(
    "agg_growth_accounting",
    oracle="""
    WITH am AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS m
      FROM events
    ),
    flags AS (
      SELECT user_id, m,
             min(m) OVER (PARTITION BY user_id) AS first_m,
             lag(m) OVER (PARTITION BY user_id ORDER BY m) AS prev_m
      FROM am
    ),
    cls AS (
      SELECT m,
             CASE WHEN m = first_m THEN 'new'
                  WHEN prev_m = m - 1 THEN 'retained'
                  ELSE 'resurrected' END AS c
      FROM flags
    ),
    per AS (
      SELECT m, count(*) AS active,
             sum(CASE WHEN c = 'new' THEN 1 ELSE 0 END) AS n_new,
             sum(CASE WHEN c = 'retained' THEN 1 ELSE 0 END)
               AS n_retained,
             sum(CASE WHEN c = 'resurrected' THEN 1 ELSE 0 END)
               AS n_resurrected
      FROM cls GROUP BY m
    )
    SELECT p.m AS week_idx,
           CAST(p.active AS BIGINT) AS active,
           CAST(p.n_new AS BIGINT) AS new_users,
           CAST(p.n_retained AS BIGINT) AS retained,
           CAST(p.n_resurrected AS BIGINT) AS resurrected,
           CAST(coalesce(prev.active, 0) - p.n_retained AS BIGINT)
             AS churned
    FROM per p LEFT JOIN per prev ON prev.m = p.m - 1
    """)
def agg_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAU GROWTH ACCOUNTING — the new / retained / resurrected /
    churned identity (active(w) = new + retained + resurrected;
    churned(w) = active(w−1) − retained(w)) that product teams close
    every period, and the decomposition behind 'growth is hiding a
    leaky bucket'. Weekly grain (epoch-week index — the fixture spans
    ~a month, so weeks populate every class where months degenerate).
    One distinct (user, week) projection, each user's classification
    from a per-user lag window (new = first active week, retained =
    consecutive, else resurrected), then week-level integer counts
    with churn from a self-join on the week-sized frame. Everything
    after the distinct is bounded by users x active-weeks; the week
    frame is tiny."""
    e = _events(spark, sf_dir)
    am = (e.select("user_id",
                   F.expr("CAST(cast(ts as timestamp) as long)"
                          " div 604800").alias("m"))
          .distinct())
    wu = Window.partitionBy("user_id")
    flags = am.select(
        "user_id", "m",
        F.min("m").over(wu).alias("first_m"),
        F.lag("m").over(wu.orderBy("m")).alias("prev_m"))
    cls = flags.select(
        "m",
        F.when(F.col("m") == F.col("first_m"), "new")
        .when(F.col("prev_m") == F.col("m") - 1, "retained")
        .otherwise("resurrected").alias("c"))
    per = cls.groupBy("m").agg(
        F.count(F.lit(1)).alias("active"),
        F.sum(F.when(F.col("c") == "new", 1).otherwise(0))
        .alias("n_new"),
        F.sum(F.when(F.col("c") == "retained", 1).otherwise(0))
        .alias("n_retained"),
        F.sum(F.when(F.col("c") == "resurrected", 1).otherwise(0))
        .alias("n_resurrected"))
    prev = per.select((F.col("m") + 1).alias("m"),
                      F.col("active").alias("prev_active"))
    return (per.join(prev, "m", "left")
            .select(F.col("m").alias("week_idx"),
                    F.col("active").cast("bigint").alias("active"),
                    F.col("n_new").cast("bigint").alias("new_users"),
                    F.col("n_retained").cast("bigint").alias("retained"),
                    F.col("n_resurrected").cast("bigint")
                    .alias("resurrected"),
                    (F.coalesce(F.col("prev_active"), F.lit(0))
                     - F.col("n_retained")).cast("bigint")
                    .alias("churned")))


@register(
    "agg_retention_curve_expfit",
    oracle="""
    WITH am AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS w
      FROM events WHERE event_type = 'purchase'
    ),
    cohorted AS (
      SELECT user_id, w,
             min(w) OVER (PARTITION BY user_id) AS c
      FROM am
    ),
    cohort_sizes AS (
      SELECT c, count(DISTINCT user_id) AS n0 FROM cohorted GROUP BY c
    ),
    points AS (
      SELECT co.c, co.w - co.c AS o,
             count(DISTINCT co.user_id) AS k, any_value(s.n0) AS n0
      FROM cohorted co JOIN cohort_sizes s ON s.c = co.c
      WHERE co.w > co.c
      GROUP BY co.c, co.w - co.c
    ),
    xy AS (
      SELECT CAST(o AS DOUBLE) AS x,
             ln(CAST(k AS DOUBLE) / n0) AS y
      FROM points WHERE k > 0
    )
    SELECT count(*) AS n_points,
           round((count(*) * sum(x * y) - sum(x) * sum(y))
                 / (count(*) * sum(x * x) - sum(x) * sum(x)), 6)
             AS decay_slope,
           round((sum(y) - (count(*) * sum(x * y) - sum(x) * sum(y))
                  / (count(*) * sum(x * x) - sum(x) * sum(x)) * sum(x))
                 / count(*), 6) AS log_intercept,
           round(-ln(2) / ((count(*) * sum(x * y) - sum(x) * sum(y))
                 / (count(*) * sum(x * x) - sum(x) * sum(x))), 4)
             AS halflife_weeks
    FROM xy
    """)
def agg_retention_curve_expfit(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """EXPONENTIAL-DECAY FIT of the retention curve — pool every
    (cohort, week-offset) retention point, fit ln(retention) = a + b·o
    by closed-form least squares, and report the decay slope and
    HALF-LIFE in weeks (−ln2/b) — the single number that turns
    agg_retention_cohorts' triangle into a forecastable model ('half
    the cohort is gone every N weeks') and prices LTV projections.
    Weekly cohorts from a per-user min window; per-point rates are
    exact integer ratios; the regression moments are one
    partial-agg pass over the offset-bounded point frame. 6-dp/4-dp
    rounding absorbs double-sum ordering."""
    e = _events(spark, sf_dir).filter(
        F.col("event_type") == "purchase")
    am = (e.select("user_id",
                   F.expr("CAST(cast(ts as timestamp) as long)"
                          " div 604800").alias("w"))
          .distinct())
    cohorted = am.withColumn(
        "c", F.min("w").over(Window.partitionBy("user_id")))
    sizes = cohorted.groupBy("c").agg(
        F.countDistinct("user_id").alias("n0"))
    points = (cohorted.filter(F.col("w") > F.col("c"))
              .join(sizes, "c")
              .groupBy("c", (F.col("w") - F.col("c")).alias("o"))
              .agg(F.countDistinct("user_id").alias("k"),
                   F.first("n0").alias("n0")))
    xy = (points.filter(F.col("k") > 0)
          .select(F.col("o").cast("double").alias("x"),
                  F.log(F.col("k").cast("double") / F.col("n0"))
                  .alias("y")))
    n = F.count(F.lit(1))
    slope = ((n * F.sum(F.col("x") * F.col("y"))
              - F.sum("x") * F.sum("y"))
             / (n * F.sum(F.col("x") * F.col("x"))
                - F.sum("x") * F.sum("x")))
    return xy.agg(
        n.alias("n_points"),
        F.round(slope, 6).alias("decay_slope"),
        F.round((F.sum("y") - slope * F.sum("x")) / n, 6)
        .alias("log_intercept"),
        F.round(-F.log(F.lit(2.0)) / slope, 4).alias("halflife_weeks"))


@register(
    "win_rolling_corr",
    oracle="""
    WITH hourly AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS h,
             sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS y
      FROM events GROUP BY 1
    ),
    rolled AS (
      SELECT h, x, y,
             count(*) OVER w AS n,
             sum(x) OVER w AS sx, sum(y) OVER w AS sy,
             sum(x * y) OVER w AS sxy,
             sum(x * x) OVER w AS sxx, sum(y * y) OVER w AS syy
      FROM hourly
      WINDOW w AS (ORDER BY h ROWS BETWEEN 23 PRECEDING
                   AND CURRENT ROW)
    )
    SELECT h AS hour_ts, CAST(n AS BIGINT) AS n_window,
           round((n * sxy - sx * sy)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
             AS rolling_corr
    FROM rolled WHERE n = 24
    """)
def win_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING 24-hour Pearson correlation between view and click
    volume — the co-movement monitor that catches decoupling ('views
    are flat but clicks fell — the button broke') long before either
    single-series alert (ts_anomaly_residual) fires. All five moments
    are exact integer sums over the 24-row frame of the HOURLY
    aggregate — the window runs on the time-range-bounded frame after
    the partial agg, never on raw events (the benign pattern the
    registry-wide window test whitelists structurally: an Aggregate
    sits below). One double expression per row at the boundary;
    emitted only for full windows, so every correlation is a true
    24-point estimate."""
    e = _events(spark, sf_dir)
    hourly = (e.groupBy(F.window("ts", "1 hour").alias("w"))
              .agg(F.sum(F.when(F.col("event_type") == "view", 1)
                         .otherwise(0)).alias("x"),
                   F.sum(F.when(F.col("event_type") == "click", 1)
                         .otherwise(0)).alias("y"))
              .select(F.col("w.start").alias("h"), "x", "y"))
    w = Window.orderBy("h").rowsBetween(-23, 0)
    rolled = hourly.select(
        "h", F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"), F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"))
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = (F.sqrt((F.col("n") * F.col("sxx")
                   - F.col("sx") * F.col("sx")).cast("double"))
           * F.sqrt((F.col("n") * F.col("syy")
                     - F.col("sy") * F.col("sy")).cast("double")))
    return (rolled.filter(F.col("n") == 24)
            .select(F.col("h").alias("hour_ts"),
                    F.col("n").cast("bigint").alias("n_window"),
                    F.round(num / den, 6).alias("rolling_corr")))


@register(
    "ts_kalman_1d",
    oracle="""
    -- Scalar m/p recursion (NOT a struct-accumulator list_reduce —
    -- see ts_holt_forecast for the DuckDB 1.0.0 aliasing bug); each
    -- step applies the identical IEEE double sequence the engine's
    -- higher-order `aggregate` fold runs.
    WITH RECURSIVE v AS (
      SELECT user_id, ts, event_id, round(value, 6)::DOUBLE AS x
      FROM events WHERE value IS NOT NULL
    ), series AS (
      SELECT user_id, list(x ORDER BY ts, event_id) AS xs,
             count(*) AS n
      FROM v GROUP BY user_id
      HAVING count(*) >= 2
    ), step AS (
      SELECT user_id, xs, n, 1 AS k,
             xs[1]::DOUBLE AS m, 1.0::DOUBLE AS p
      FROM series
      UNION ALL
      SELECT user_id, xs, n, k + 1,
             m + ((p + 0.01::DOUBLE) / (p + 0.01::DOUBLE + 1.0::DOUBLE))
                 * (xs[k + 1] - m),
             (1.0::DOUBLE - (p + 0.01::DOUBLE)
                / (p + 0.01::DOUBLE + 1.0::DOUBLE)) * (p + 0.01::DOUBLE)
      FROM step WHERE k < n
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_events,
           round(m, 6) AS estimate,
           round(p, 6) AS variance,
           round((p + 0.01) / (p + 0.01 + 1.0), 6) AS gain
    FROM step WHERE k = n
    """)
def ts_kalman_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D KALMAN FILTER per key — the random-walk state-space model
    (process noise Q=0.01, measurement noise R=1.0) that underlies
    every online sensor-smoothing / metric-denoising loop. Unlike the
    fixed-α EWMA family, the gain ADAPTS: it starts high (uncertain
    prior, trust the data) and converges to the steady-state Riccati
    fixed point, so the filter self-tunes its memory. The recurrence
    m' = m + K(x − m), p' = (1−K)(p+Q), K = (p+Q)/(p+Q+R) depends on
    the previous RESULT — no SQL window expresses it — so the per-key
    series is assembled once (sort_array ∘ collect_list, one shuffle)
    and folded JVM-side with the higher-order ``aggregate`` carrying a
    (m, p) STRUCT accumulator; per-key state is bounded by that key's
    own history, the regime groupBy distributes at 100 TB. The oracle
    steps the same recurrence with a recursive CTE carrying SCALAR
    m/p columns (the holt-forecast discipline), rounded at 6 dp."""
    e = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    series = (e.select("user_id",
                       F.struct(F.col("ts"), F.col("event_id"),
                                F.round("value", 6).cast("double")
                                .alias("x")).alias("s"))
              .groupBy("user_id")
              .agg(F.sort_array(F.collect_list("s")).alias("ss"))
              .filter(F.size("ss") >= 2))
    fitted = (series
              .withColumn("xs", F.expr("transform(ss, s -> s.x)"))
              .withColumn("st", F.expr(
                  "aggregate(slice(xs, 2, greatest(size(xs) - 1, 0)), "
                  "named_struct('m', xs[0], 'p', 1.0D), "
                  "(acc, x) -> named_struct("
                  "'m', acc.m + ((acc.p + 0.01D) "
                  "/ (acc.p + 0.01D + 1.0D)) * (x - acc.m), "
                  "'p', (1.0D - (acc.p + 0.01D) "
                  "/ (acc.p + 0.01D + 1.0D)) * (acc.p + 0.01D)))")))
    return fitted.select(
        "user_id",
        F.size("xs").cast("long").alias("n_events"),
        F.round(F.col("st.m"), 6).alias("estimate"),
        F.round(F.col("st.p"), 6).alias("variance"),
        F.round((F.col("st.p") + 0.01)
                / (F.col("st.p") + 0.01 + 1.0), 6).alias("gain"))


@register(
    "agg_negbin_fit",
    oracle="""
    WITH c AS (
      SELECT event_type, user_id, CAST(ts AS DATE) AS d,
             count(*) AS k
      FROM events GROUP BY 1, 2, 3
    ),
    s AS (
      SELECT event_type, count(*) AS n,
             sum(k) AS sk, sum(k * k) AS skk
      FROM c GROUP BY 1
    ),
    mv AS (
      SELECT event_type, n,
             sk / CAST(n AS DOUBLE) AS m,
             (skk - sk * sk / CAST(n AS DOUBLE)) / (n - 1) AS v
      FROM s WHERE n >= 2
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_cells,
           round(m, 6) AS mean_count,
           round(v, 6) AS var_count,
           round(v / m, 6) AS dispersion,
           CASE WHEN v > m
                THEN round(m * m / (v - m), 6) END AS nb_r,
           CASE WHEN v > m THEN round(m / v, 6) END AS nb_p,
           CASE WHEN v / m > 1.5 THEN 'overdispersed'
                WHEN v / m < 0.67 THEN 'underdispersed'
                ELSE 'poisson_like' END AS verdict
    FROM mv
    """)
def agg_negbin_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT-MODEL diagnosis per event type — are per-user daily
    event counts Poisson, or overdispersed enough to need a NEGATIVE
    BINOMIAL (the single most common modeling mistake in event-rate
    alerting: a Poisson threshold on bursty traffic pages constantly)?
    Method-of-moments everything: the count cells are one partial agg,
    the moments another, and the NB parameters have closed forms
    r = m²/(v−m), p = m/v — no likelihood iteration, no driver math.
    The dispersion index v/m and its verdict bands mirror the
    agg_burstiness family but at the DISTRIBUTION-FIT level the
    on-call runbook actually consumes ('use NB(r,p) for this
    signal'). Two shuffles total, both keyed on (type[, user, day]) —
    the 100 TB shape. Sample variance (n−1); guarded NULL fit when
    v ≤ m (NB undefined — the Poisson-or-better case)."""
    e = _events(spark, sf_dir)
    c = (e.groupBy("event_type", "user_id",
                   F.col("ts").cast("date").alias("d"))
         .agg(F.count(F.lit(1)).alias("k")))
    s = (c.groupBy("event_type")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("k").alias("sk"),
              F.sum(F.col("k") * F.col("k")).alias("skk"))
         .filter(F.col("n") >= 2))
    nn = F.col("n").cast("double")
    mv = s.select(
        "event_type", "n",
        (F.col("sk") / nn).alias("m"),
        ((F.col("skk") - F.col("sk") * F.col("sk") / nn)
         / (F.col("n") - 1)).alias("v"))
    disp = F.col("v") / F.col("m")
    return mv.select(
        "event_type", F.col("n").cast("bigint").alias("n_cells"),
        F.round("m", 6).alias("mean_count"),
        F.round("v", 6).alias("var_count"),
        F.round(disp, 6).alias("dispersion"),
        F.when(F.col("v") > F.col("m"),
               F.round(F.col("m") * F.col("m")
                       / (F.col("v") - F.col("m")), 6)).alias("nb_r"),
        F.when(F.col("v") > F.col("m"),
               F.round(F.col("m") / F.col("v"), 6)).alias("nb_p"),
        F.when(disp > 1.5, F.lit("overdispersed"))
        .when(disp < 0.67, F.lit("underdispersed"))
        .otherwise(F.lit("poisson_like")).alias("verdict"))


@register(
    "agg_seq_pattern_count",
    oracle="""
    WITH s AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), ''
                        ORDER BY ts, event_id) AS seq
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(seq) AS BIGINT) AS n_events,
           CAST(len(regexp_extract_all(seq, 'v[vc]*p')) AS BIGINT)
             AS n_browse_buy,
           CAST(len(regexp_extract_all(seq, 'e')) AS BIGINT) AS n_errors
    FROM s
    WHERE len(regexp_extract_all(seq, 'v[vc]*p')) >= 1
    """)
def agg_seq_pattern_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE-PATTERN matching over per-user event histories — the
    poor man's MATCH_RECOGNIZE (a SQL:2016 feature Spark lacks):
    encode each user's time-ordered event types as a one-char-per-
    event string, then count behavioral motifs with a REGEX —
    here `v[vc]*p`, the 'view, keep browsing, then purchase'
    conversion run (leftmost non-overlapping; the character class
    excludes the terminator, so RE2 and Java's engines agree
    exactly). The encode step is the usual sort_array∘collect_list
    per-key assembly (one shuffle, state bounded by each user's own
    history); matching is a JVM-side regexp_extract_all — no
    Python, no per-event join chain like agg_funnel_steps needs per
    step, and arbitrarily complex motifs are one pattern edit away.
    This is how a 100 TB behavioral cohort ('users who error-loop
    then convert') gets selected with one scan + one shuffle."""
    e = _events(spark, sf_dir)
    s = (e.select("user_id",
                  F.struct("ts", "event_id",
                           F.substring("event_type", 1, 1)
                           .alias("ch")).alias("r"))
         .groupBy("user_id")
         .agg(F.array_join(F.transform(
                  F.array_sort(F.collect_list("r")),
                  lambda r: r.ch), "").alias("seq")))
    n_bb = F.size(F.regexp_extract_all(F.col("seq"),
                                       F.lit("v[vc]*p"), F.lit(0)))
    return (s.select("user_id",
                     F.length("seq").cast("bigint").alias("n_events"),
                     n_bb.cast("bigint").alias("n_browse_buy"),
                     F.size(F.regexp_extract_all(
                         F.col("seq"), F.lit("e"), F.lit(0)))
                     .cast("bigint").alias("n_errors"))
            .filter(n_bb >= 1))


@register(
    "ts_ses_alpha_sweep",
    oracle="""
    WITH RECURSIVE v AS (
      SELECT user_id, ts, event_id, round(value, 6)::DOUBLE AS x
      FROM events WHERE value IS NOT NULL
    ), series AS (
      SELECT user_id, list(x ORDER BY ts, event_id) AS xs,
             count(*) AS n
      FROM v GROUP BY user_id
      HAVING count(*) >= 2
    ), alphas AS (
      SELECT unnest([0.1, 0.3, 0.5, 0.7, 0.9])::DOUBLE AS alpha
    ), grid AS (
      SELECT s.user_id, a.alpha, s.xs, s.n FROM series s, alphas a
    ), step AS (
      SELECT user_id, alpha, xs, n, 1 AS k,
             xs[1]::DOUBLE AS l, 0.0::DOUBLE AS sse
      FROM grid
      UNION ALL
      SELECT user_id, alpha, xs, n, k + 1,
             l + alpha * (xs[k + 1] - l),
             sse + (xs[k + 1] - l) * (xs[k + 1] - l)
      FROM step WHERE k < n
    ), fin AS (
      SELECT user_id, alpha,
             round(sse, 6)::DECIMAL(18,6) AS sse_r
      FROM step WHERE k = n
    )
    SELECT alpha, CAST(count(*) AS BIGINT) AS n_series,
           CAST(sum(sse_r) AS DOUBLE) AS total_sse
    FROM fin GROUP BY alpha
    """)
def ts_ses_alpha_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYPERPARAMETER SWEEP for simple exponential smoothing — the
    one-step-ahead SSE of five candidate α values over every series,
    evaluated in a single job: the α grid is a VALUE-BOUNDED 5-row
    frame cross-joined onto the assembled per-key series, and the
    fold lambda reads α as an ordinary column, so one higher-order
    `aggregate` pass scores all (series × α) cells with no Python
    and no per-candidate rescan of the fact table (the series
    assembly — the only corpus-sized shuffle — happens ONCE and is
    reused by all five folds). This is the pattern any fold-based
    model selection takes at 100 TB: data shuffles once,
    hyperparameters ride a tiny broadcast. Per-cell SSE is rounded
    at 6 dp and summed as DECIMAL(18,6), so the cross-series total
    is bit-identical in any aggregation order (the pagerank
    policy); the oracle replays the identical IEEE fold with a
    recursive CTE over the (user × α) grid."""
    e = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    series = (e.select("user_id",
                       F.struct(F.col("ts"), F.col("event_id"),
                                F.round("value", 6).cast("double")
                                .alias("x")).alias("s"))
              .groupBy("user_id")
              .agg(F.sort_array(F.collect_list("s")).alias("ss"))
              .filter(F.size("ss") >= 2)
              .withColumn("xs", F.expr("transform(ss, s -> s.x)")))
    from pmc_conversion_spark.util import local_df
    alphas = local_df(
        spark, [(0.1,), (0.3,), (0.5,), (0.7,), (0.9,)], "alpha double")
    grid = series.crossJoin(alphas)
    fin = grid.withColumn("st", F.expr(
        "aggregate(slice(xs, 2, greatest(size(xs) - 1, 0)), "
        "named_struct('l', xs[0], 'sse', 0.0D), "
        "(acc, x) -> named_struct("
        "'l', acc.l + alpha * (x - acc.l), "
        "'sse', acc.sse + (x - acc.l) * (x - acc.l)))"))
    return (fin.select("alpha",
                       F.round(F.col("st.sse"), 6)
                       .cast("decimal(18,6)").alias("sse_r"))
            .groupBy("alpha")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_series"),
                 F.sum("sse_r").cast("double").alias("total_sse")))


@register(
    "agg_gmm_em_step",
    oracle="""
    WITH v AS (
      SELECT value AS x FROM events WHERE value IS NOT NULL
    ),
    resp AS (
      SELECT x,
             (0.5 * exp(-(x - 75.0) * (x - 75.0) / (2.0 * 400.0)))
             / (0.5 * exp(-(x - 25.0) * (x - 25.0) / (2.0 * 400.0))
                + 0.5 * exp(-(x - 75.0) * (x - 75.0) / (2.0 * 400.0)))
               AS r
      FROM v
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(sum(r) / count(*), 6) AS pi2_new,
           round(sum((1 - r) * x) / sum(1 - r), 6) AS mu1_new,
           round(sum(r * x) / sum(r), 6) AS mu2_new,
           round(sqrt(sum((1 - r) * x * x) / sum(1 - r)
                      - (sum((1 - r) * x) / sum(1 - r))
                        * (sum((1 - r) * x) / sum(1 - r))), 6)
             AS sigma1_new
    FROM resp
    """)
def agg_gmm_em_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One EXPECTATION-MAXIMIZATION step for a 2-component Gaussian
    mixture on the event-value distribution — the E-step
    responsibilities are CLOSED-FORM per row (softmax of two
    log-densities; fixed current params μ=(25,75), σ=20, π=0.5, so
    the step is deterministic and exactly replayable), and the
    M-step is nothing but WEIGHTED partial-agg moments: π' = Σr/n,
    μ'ₖ = Σrx/Σr. That is the whole scale story of EM on a cluster —
    every iteration is one map-side-weighted aggregation pass, state
    is a handful of scalars, and a full fit is this op in a short
    driver loop (the graph_pagerank iteration discipline applied to
    ML fitting). σ₁' uses the μ₁'-centered second moment in one
    window-free identity pass."""
    e = (_events(spark, sf_dir).filter(F.col("value").isNotNull())
         .select(F.col("value").alias("x")))
    d1 = F.exp(-(F.col("x") - 25.0) * (F.col("x") - 25.0)
               / (2.0 * 400.0))
    d2 = F.exp(-(F.col("x") - 75.0) * (F.col("x") - 75.0)
               / (2.0 * 400.0))
    resp = e.select("x", (0.5 * d2 / (0.5 * d1 + 0.5 * d2)).alias("r"))
    s = resp.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r").alias("sr"),
        F.sum((1 - F.col("r")) * F.col("x")).alias("s1x"),
        F.sum(F.col("r") * F.col("x")).alias("s2x"),
        F.sum(1 - F.col("r")).alias("s1"),
        F.sum((1 - F.col("r")) * F.col("x") * F.col("x")).alias("s1xx"))
    mu1 = F.col("s1x") / F.col("s1")
    return s.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("sr") / F.col("n"), 6).alias("pi2_new"),
        F.round(mu1, 6).alias("mu1_new"),
        F.round(F.col("s2x") / F.col("sr"), 6).alias("mu2_new"),
        F.round(F.sqrt(F.col("s1xx") / F.col("s1") - mu1 * mu1), 6)
        .alias("sigma1_new"))


@register(
    "agg_capture_recapture",
    oracle="""
    WITH w1 AS (
      SELECT DISTINCT user_id FROM events
      WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
    ),
    w2 AS (
      SELECT DISTINCT user_id FROM events
      WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
    ),
    s AS (
      SELECT (SELECT count(*) FROM w1) AS n1,
             (SELECT count(*) FROM w2) AS n2,
             (SELECT count(*) FROM w1 JOIN w2 USING (user_id)) AS m
    )
    SELECT CAST(n1 AS BIGINT) AS n_first,
           CAST(n2 AS BIGINT) AS n_second,
           CAST(m AS BIGINT) AS n_recaptured,
           round(n1 * CAST(n2 AS DOUBLE) / m, 4) AS lincoln_petersen,
           round((n1 + 1) * CAST(n2 + 1 AS DOUBLE) / (m + 1) - 1, 4)
             AS chapman,
           round(sqrt((n1 + 1.0) * (n2 + 1) * (n1 - m)
                      * (CAST(n2 AS DOUBLE) - m)
                      / ((m + 1.0) * (m + 1) * (m + 2))), 4)
             AS chapman_se
    FROM s
    """)
def agg_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPTURE–RECAPTURE population estimation (Lincoln–Petersen +
    the bias-corrected Chapman estimator with its SE) — the ecology
    method that answers a data-platform question nothing else here
    does: how many TOTAL users/entities exist, including the ones we
    have never observed, from the overlap of two observation windows
    (N̂ = n₁n₂/m: if the second sample recaptures half of the first,
    we have seen half the population). The same estimator sizes
    hidden duplicate populations and un-crawled corpus mass. Two
    DISTINCT passes + one semi-join-shaped overlap count — all
    partial-agg/shuffle-on-key shapes; output is one row of
    scalars."""
    e = _events(spark, sf_dir)
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    w1 = e.filter(F.col("ts") < cut).select("user_id").distinct()
    w2 = e.filter(F.col("ts") >= cut).select("user_id").distinct()
    s = (w1.agg(F.count(F.lit(1)).alias("n1"))
         .crossJoin(w2.agg(F.count(F.lit(1)).alias("n2")))
         .crossJoin(w1.join(w2, "user_id")
                    .agg(F.count(F.lit(1)).alias("m"))))
    n1c, n2c, mc = F.col("n1"), F.col("n2"), F.col("m")
    return s.select(
        n1c.cast("bigint").alias("n_first"),
        n2c.cast("bigint").alias("n_second"),
        mc.cast("bigint").alias("n_recaptured"),
        F.round(n1c * n2c.cast("double") / mc, 4)
        .alias("lincoln_petersen"),
        F.round((n1c + 1) * (n2c + 1).cast("double") / (mc + 1) - 1, 4)
        .alias("chapman"),
        F.round(F.sqrt((n1c + 1.0) * (n2c + 1) * (n1c - mc)
                       * (n2c.cast("double") - mc)
                       / ((mc + 1.0) * (mc + 1) * (mc + 2))), 4)
        .alias("chapman_se"))


def _markov_iter_sql(prev: str, out: str) -> str:
    """One power-iteration step pi' = pi · P on the state-bounded
    transition frame, decimal-rounded (the pagerank policy)."""
    return f"""
    {out} AS (
      SELECT p.to_type AS state,
             round(sum(round(pi.pr * p.pr_t, 12)::DECIMAL(28,12))
                   ::DOUBLE, 12) AS pr
      FROM tm p JOIN {prev} pi ON pi.state = p.from_type
      GROUP BY p.to_type
    )"""


@register(
    "agg_markov_stationary",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id
               ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id)
               AS prev_type
      FROM events
    ),
    c AS (
      SELECT prev_type AS from_type, event_type AS to_type,
             count(*) AS n
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
    ),
    tm AS (
      SELECT from_type, to_type,
             n / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE)
               AS pr_t
      FROM c
    ),
    pi0 AS (
      SELECT from_type AS state, 0.2::DOUBLE AS pr
      FROM tm GROUP BY from_type
    ),
    {','.join(_markov_iter_sql(f'pi{i}', f'pi{i + 1}').strip()
              for i in range(8))}
    SELECT state, round(pr, 6) AS stationary_p
    FROM pi8
    """)
def agg_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATIONARY DISTRIBUTION of the behavioral Markov chain — where
    user activity settles in the long run, the single vector that
    turns agg_markov_transitions' matrix into 'X% of steady-state
    attention is purchases'. Eight power iterations π' = πP — but
    unlike PageRank's node-sized vector, EVERYTHING here lives on the
    STATE-BOUNDED frame (5 event types → ≤25 transition cells), so
    after one corpus-sized lag-window pass the entire eigenproblem
    costs nothing at any data scale: the fact table is touched ONCE,
    the iteration runs on a frame the size of the state space.
    Contributions are decimal-rounded per step (the pagerank
    bit-identical policy) so both engines converge through the same
    IEEE sequence; uniform 1/5 start, rounded at 6 dp."""
    e = _events(spark, sf_dir)
    w = (Window.partitionBy("user_id")
         .orderBy(F.col("ts").cast("timestamp").cast("long"), "event_id"))
    o = e.select("user_id", "event_type",
                 F.lag("event_type").over(w).alias("prev_type"))
    c = (o.filter(F.col("prev_type").isNotNull())
         .groupBy(F.col("prev_type").alias("from_type"),
                  F.col("event_type").alias("to_type"))
         .agg(F.count(F.lit(1)).alias("n")))
    tw = Window.partitionBy("from_type")
    tm = c.select("from_type", "to_type",
                  (F.col("n") / F.sum("n").over(tw).cast("double"))
                  .alias("pr_t"))
    pi = (tm.select("from_type").distinct()
          .select(F.col("from_type").alias("state"),
                  F.lit(0.2).alias("pr")))
    for _ in range(8):
        pi = (tm.join(F.broadcast(pi),
                      pi.state == tm.from_type)
              .select(F.col("to_type").alias("state"),
                      F.round(F.col("pr") * F.col("pr_t"), 12)
                      .cast("decimal(28,12)").alias("contrib"))
              .groupBy("state")
              .agg(F.round(F.sum("contrib").cast("double"), 12)
                   .alias("pr")))
    return pi.select("state", F.round("pr", 6).alias("stationary_p"))


@register(
    "win_ema_crossover",
    oracle="""
    -- scalar-column recursion (fast, slow, prev sign, crossings):
    -- the list_reduce struct-aliasing rule (see ts_holt_forecast)
    WITH RECURSIVE v AS (
      SELECT user_id, ts, event_id, round(value, 6)::DOUBLE AS x
      FROM events WHERE value IS NOT NULL
    ), series AS (
      SELECT user_id, list(x ORDER BY ts, event_id) AS xs,
             count(*) AS n
      FROM v GROUP BY user_id
      HAVING count(*) >= 8
    ), step AS (
      SELECT user_id, xs, n, 1 AS k,
             xs[1]::DOUBLE AS f, xs[1]::DOUBLE AS s,
             0 AS sgn, 0 AS golden, 0 AS death
      FROM series
      UNION ALL
      SELECT user_id, xs, n, k + 1,
             f + 0.4::DOUBLE * (xs[k + 1] - f),
             s + 0.1::DOUBLE * (xs[k + 1] - s),
             CASE WHEN f + 0.4::DOUBLE * (xs[k + 1] - f)
                       > s + 0.1::DOUBLE * (xs[k + 1] - s) THEN 1
                  WHEN f + 0.4::DOUBLE * (xs[k + 1] - f)
                       < s + 0.1::DOUBLE * (xs[k + 1] - s) THEN -1
                  ELSE sgn END,
             golden + CASE WHEN sgn <= 0
                            AND f + 0.4::DOUBLE * (xs[k + 1] - f)
                                > s + 0.1::DOUBLE * (xs[k + 1] - s)
                            AND sgn <> 0
                           THEN 1 ELSE 0 END,
             death + CASE WHEN sgn >= 0
                           AND f + 0.4::DOUBLE * (xs[k + 1] - f)
                               < s + 0.1::DOUBLE * (xs[k + 1] - s)
                           AND sgn <> 0
                          THEN 1 ELSE 0 END
      FROM step WHERE k < n
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_events,
           round(f, 6) AS ema_fast, round(s, 6) AS ema_slow,
           CAST(golden AS BIGINT) AS golden_crosses,
           CAST(death AS BIGINT) AS death_crosses,
           CASE WHEN sgn > 0 THEN 'above'
                WHEN sgn < 0 THEN 'below' ELSE 'flat' END AS regime
    FROM step WHERE k = n
    """)
def win_ema_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMA CROSSOVER state machine per key — the fast(α=0.4)/slow
    (α=0.1) moving-average crossing detector (finance's golden/death
    cross, ops' 'short-term load has crossed the baseline' alarm) —
    the first fold in this family whose accumulator is a genuine
    MULTI-FIELD state MACHINE: two filter states, the previous
    relative-position sign, and two event counters that fire only on
    sign CHANGES (flat start doesn't count as a cross). SQL windows
    can't express it (each output depends on the previous RESULT);
    the per-key series folds JVM-side once assembled
    (sort_array ∘ collect_list — one shuffle, per-key state bounded
    by that key's history). The oracle steps the identical IEEE
    sequence with scalar recursion columns. Crossing counts are
    integer-exact; filter states at 6 dp."""
    e = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    series = (e.select("user_id",
                       F.struct(F.col("ts"), F.col("event_id"),
                                F.round("value", 6).cast("double")
                                .alias("x")).alias("s"))
              .groupBy("user_id")
              .agg(F.sort_array(F.collect_list("s")).alias("ss"))
              .filter(F.size("ss") >= 8)
              .withColumn("xs", F.expr("transform(ss, s -> s.x)")))
    st = series.withColumn("st", F.expr(
        "aggregate(slice(xs, 2, greatest(size(xs) - 1, 0)), "
        "named_struct('f', xs[0], 's', xs[0], "
        "'sgn', 0, 'golden', 0, 'death', 0), "
        "(acc, x) -> named_struct("
        "'f', acc.f + 0.4D * (x - acc.f), "
        "'s', acc.s + 0.1D * (x - acc.s), "
        "'sgn', CASE WHEN acc.f + 0.4D * (x - acc.f) "
        "> acc.s + 0.1D * (x - acc.s) THEN 1 "
        "WHEN acc.f + 0.4D * (x - acc.f) "
        "< acc.s + 0.1D * (x - acc.s) THEN -1 ELSE acc.sgn END, "
        "'golden', acc.golden + CASE WHEN acc.sgn <= 0 "
        "AND acc.f + 0.4D * (x - acc.f) > acc.s + 0.1D * (x - acc.s) "
        "AND acc.sgn <> 0 THEN 1 ELSE 0 END, "
        "'death', acc.death + CASE WHEN acc.sgn >= 0 "
        "AND acc.f + 0.4D * (x - acc.f) < acc.s + 0.1D * (x - acc.s) "
        "AND acc.sgn <> 0 THEN 1 ELSE 0 END))"))
    return st.select(
        "user_id",
        F.size("xs").cast("bigint").alias("n_events"),
        F.round(F.col("st.f"), 6).alias("ema_fast"),
        F.round(F.col("st.s"), 6).alias("ema_slow"),
        F.col("st.golden").cast("bigint").alias("golden_crosses"),
        F.col("st.death").cast("bigint").alias("death_crosses"),
        F.when(F.col("st.sgn") > 0, F.lit("above"))
        .when(F.col("st.sgn") < 0, F.lit("below"))
        .otherwise(F.lit("flat")).alias("regime"))


@register(
    "agg_theil_sen_slope",
    oracle="""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day, count(*) AS v
      FROM events GROUP BY 1
    ),
    dd AS (
      SELECT date_diff('day', DATE '1970-01-01', day) AS t,
             CAST(v AS DOUBLE) AS v
      FROM d
    ),
    pairs AS (
      SELECT (b.v - a.v) / (b.t - a.t) AS slope
      FROM dd a JOIN dd b ON b.t > a.t
    )
    SELECT CAST((SELECT count(*) FROM dd) AS BIGINT) AS n_days,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(median(slope), 6) AS theil_sen_slope,
           round(avg(slope), 6) AS mean_pairwise_slope
    FROM pairs
    """)
def agg_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL–SEN robust trend — the median of all pairwise slopes,
    the estimator that shrugs off the outlier days that drag
    agg_trend_slope's least-squares line around (29% breakdown point
    vs zero). The textbook objection — it's O(n²) — dissolves under
    the bounded-domain discipline: the pairwise frame is built over
    the DAILY AGGREGATE (one partial-agg pass collapses the corpus
    to ~30 rows; the quadratic lives on days², never events²), the
    same move agg_tukey_hsd makes on groups and agg_mann_whitney_u
    on values. Median via exact interpolated percentile on both
    engines; the mean pairwise slope sits alongside to show what
    robustness changed."""
    e = _events(spark, sf_dir)
    d = (e.groupBy(F.col("ts").cast("date").alias("day"))
         .agg(F.count(F.lit(1)).alias("v")))
    dd = d.select(
        F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
        .alias("t"),
        F.col("v").cast("double").alias("v"))
    a = dd.select(F.col("t").alias("ta"), F.col("v").alias("va"))
    b = dd.select(F.col("t").alias("tb"), F.col("v").alias("vb"))
    pairs = (a.join(b, F.col("tb") > F.col("ta"))
             .select(((F.col("vb") - F.col("va"))
                      / (F.col("tb") - F.col("ta"))).alias("slope")))
    n_days = dd.agg(F.count(F.lit(1)).alias("n_days"))
    return (pairs.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
                      F.round(F.expr("percentile(slope, 0.5D)"), 6)
                      .alias("theil_sen_slope"),
                      F.round(F.avg("slope"), 6)
                      .alias("mean_pairwise_slope"))
            .crossJoin(n_days)
            .select(F.col("n_days").cast("bigint").alias("n_days"),
                    "n_pairs", "theil_sen_slope",
                    "mean_pairwise_slope"))


@register(
    "win_runs_test",
    oracle="""
    WITH v AS (
      SELECT user_id, ts, event_id, value
      FROM events WHERE value IS NOT NULL
    ),
    m AS (
      SELECT user_id, round(avg(value), 6) AS mu, count(*) AS n
      FROM v GROUP BY user_id HAVING count(*) >= 20
    ),
    s AS (
      SELECT v.user_id,
             CASE WHEN v.value > m.mu THEN 1 ELSE 0 END AS a,
             lag(CASE WHEN v.value > m.mu THEN 1 ELSE 0 END)
               OVER (PARTITION BY v.user_id
                     ORDER BY v.ts, v.event_id) AS pa
      FROM v JOIN m ON m.user_id = v.user_id
    ),
    r AS (
      SELECT user_id,
             sum(a) AS n1, sum(1 - a) AS n2,
             1 + sum(CASE WHEN pa IS NOT NULL AND a <> pa
                          THEN 1 ELSE 0 END) AS runs
      FROM s GROUP BY user_id
    )
    SELECT user_id,
           CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(runs AS BIGINT) AS runs,
           round(1 + 2.0 * n1 * n2 / (n1 + n2), 4) AS expected_runs,
           round((runs - (1 + 2.0 * n1 * n2 / (n1 + n2)))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                        / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2)
                           * (n1 + n2 - 1))), 6) AS z
    FROM r WHERE n1 > 0 AND n2 > 0 AND n1 + n2 > 2
    """)
def win_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WALD–WOLFOWITZ RUNS TEST per key — is a sequence RANDOM, or
    does it trend/oscillate? Count the maximal runs of above-mean vs
    below-mean observations; too FEW runs means trending (an
    autocorrelated metric, a drifting sensor), too MANY means
    oscillation (overcorrection, thermostat wars) — the sequence
    diagnostic the distribution tests (KS, Mann-Whitney) are blind
    to because they ignore ORDER entirely. One per-key mean
    (partial agg, rejoined on the key), one per-key lag window for
    the sign changes, one partial-agg rollup — all key-partitioned,
    the regime groupBy distributes at any scale. The per-key mean is
    6-dp-rounded on both engines before the comparison so the
    above/below encoding is engine-exact; z uses the standard
    normal approximation."""
    e = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    m = (e.groupBy("user_id")
         .agg(F.round(F.avg("value"), 6).alias("mu"),
              F.count(F.lit(1)).alias("n"))
         .filter(F.col("n") >= 20))
    a = F.when(F.col("value") > F.col("mu"), 1).otherwise(0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = (e.join(m.select("user_id", "mu"), "user_id")
         .select("user_id", "ts", "event_id", a.alias("a"))
         .withColumn("pa", F.lag("a").over(w)))
    r = (s.groupBy("user_id")
         .agg(F.sum("a").alias("n1"),
              F.sum(1 - F.col("a")).alias("n2"),
              (1 + F.sum(F.when(F.col("pa").isNotNull()
                                & (F.col("a") != F.col("pa")), 1)
                         .otherwise(0))).alias("runs")))
    n1, n2 = F.col("n1"), F.col("n2")
    er = 1 + 2.0 * n1 * n2 / (n1 + n2)
    sd = F.sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                / ((n1 + n2).cast("double") * (n1 + n2)
                   * (n1 + n2 - 1)))
    return (r.filter((n1 > 0) & (n2 > 0) & (n1 + n2 > 2))
            .select("user_id",
                    n1.cast("bigint").alias("n1"),
                    n2.cast("bigint").alias("n2"),
                    F.col("runs").cast("bigint").alias("runs"),
                    F.round(er, 4).alias("expected_runs"),
                    F.round((F.col("runs") - er) / sd, 6).alias("z")))


# ------------------------------------------------------------- r7 wave

@register(
    "ts_ar2_forecast",
    oracle=f"""
    WITH {_ACF3_SQL.strip()},
    phi AS (
      SELECT n_days, r1 * (1 - r2) / (1 - r1 * r1) AS phi1,
             (r2 - r1 * r1) / (1 - r1 * r1) AS phi2
      FROM rw),
    last2 AS (
      SELECT arg_max(x, d) AS xt, arg_min(x, d) AS xt1
      FROM (SELECT d, x FROM daily ORDER BY d DESC LIMIT 2)),
    mu AS (SELECT CAST(s AS DOUBLE) / n AS xbar FROM tot),
    f1 AS (
      SELECT n_days, phi1, phi2, xbar, xt, xt1,
             xbar + phi1 * (xt - xbar) + phi2 * (xt1 - xbar) AS fc1
      FROM phi, last2, mu),
    f2 AS (
      SELECT *, xbar + phi1 * (fc1 - xbar) + phi2 * (xt - xbar) AS fc2
      FROM f1)
    SELECT n_days,
           round(phi1, 6) AS phi1, round(phi2, 6) AS phi2,
           round(fc1, 4) AS fc1, round(fc2, 4) AS fc2,
           round(xbar + phi1 * (fc2 - xbar) + phi2 * (fc1 - xbar), 4)
             AS fc3
    FROM f2
    """)
def ts_ar2_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YULE–WALKER AR(2) fit + 3-step forecast of the daily-revenue
    series (cents) — the modeling step the diagnostics point at:
    ``ts_pacf_durbin`` says WHERE the PACF cuts off; this fits the
    AR(2) those coefficients imply (φ1 = r1(1−r2)/(1−r1²),
    φ2 = (r2−r1²)/(1−r1²)) and iterates the demeaned recursion
    x̂(t+h) = x̄ + φ1(x̂(t+h−1)−x̄) + φ2(x̂(t+h−2)−x̄) three steps out.
    Same n²-scaled INTEGER power sums as the PACF (the mean never
    materializes until the last division), last two observations via
    arg_max over a TakeOrdered-2 — all remaining algebra is
    constant-size doubles, engine-identical at 4/6 dp.

    Plan: one fact scan to the date-bounded daily frame, the shared
    3-lag windowed-lead aggregate, a top-2 TakeOrdered, scalar
    algebra on one row."""
    rw = _acf3_frame(spark, sf_dir)
    o = tables.load(spark, sf_dir, "orders")
    daily = (o.withColumn("d", F.to_date("o_orderdate"))
             .groupBy("d")
             .agg(F.sum(F.round(F.col("o_totalprice") * 100)
                        .cast("bigint")).cast("bigint").alias("x")))
    last2 = (daily.orderBy(F.col("d").desc()).limit(2)
             .agg(F.max_by("x", "d").alias("xt"),
                  F.min_by("x", "d").alias("xt1")))
    mu = daily.agg((F.sum(F.col("x").cast("decimal(38,0)"))
                    .cast("double")
                    / F.count(F.lit(1))).alias("xbar"))
    r1, r2 = F.col("r1"), F.col("r2")
    j = (rw.crossJoin(last2).crossJoin(mu)
         .select("n_days", "xbar", "xt", "xt1",
                 (r1 * (1 - r2) / (1 - r1 * r1)).alias("phi1"),
                 ((r2 - r1 * r1) / (1 - r1 * r1)).alias("phi2")))
    xbar, p1, p2 = F.col("xbar"), F.col("phi1"), F.col("phi2")
    f1 = j.withColumn(
        "fc1", xbar + p1 * (F.col("xt") - xbar)
        + p2 * (F.col("xt1") - xbar))
    f2 = f1.withColumn(
        "fc2", xbar + p1 * (F.col("fc1") - xbar)
        + p2 * (F.col("xt") - xbar))
    return f2.select(
        F.col("n_days").cast("bigint").alias("n_days"),
        F.round(p1, 6).alias("phi1"), F.round(p2, 6).alias("phi2"),
        F.round(F.col("fc1"), 4).alias("fc1"),
        F.round(F.col("fc2"), 4).alias("fc2"),
        F.round(xbar + p1 * (F.col("fc2") - xbar)
                + p2 * (F.col("fc1") - xbar), 4).alias("fc3"))


@register(
    "win_max_subarray",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
                           WHEN event_type = 'click' THEN -1
                           ELSE 0 END) AS BIGINT) AS net
      FROM events GROUP BY 1),
    pp AS (
      SELECT d, CAST(sum(net) OVER (ORDER BY d) AS BIGINT) AS pfx
      FROM daily),
    p AS (
      SELECT d, pfx,
             CAST(coalesce(min(pfx)
                    OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS BIGINT) AS minb
      FROM pp),
    g AS (
      SELECT d, pfx - least(minb, 0) AS gain FROM p),
    best AS (SELECT max(gain) AS max_gain FROM g)
    SELECT CAST(b.max_gain AS BIGINT) AS max_gain,
           min(g.d) AS end_day,
           (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n_days
    FROM g, best b WHERE g.gain = b.max_gain
    GROUP BY b.max_gain
    """)
def win_max_subarray(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMUM-SUBARRAY (Kadane) over the daily purchase-minus-click
    net series: the best contiguous run of days where purchases
    outpace clicks — the streak detector behind "longest winning
    stretch" product analytics, and the classic divide-and-conquer
    algorithm re-expressed as pure prefix algebra: gain ending at day
    t = P(t) − min(0, min prefix before t), answer = max gain, with
    the earliest achieving day as the deterministic tie-break. All
    integers end to end — counts, prefix sums, running minima — so
    engines agree exactly.

    Plan: one partial-agg scan to the date-bounded daily frame, two
    ordered windows over it (bounded by the date span, never the
    fact table), one max + equality filter."""
    ev = _events(spark, sf_dir)
    # withColumn-then-groupBy so the date key stays a NAMED attribute
    # in the partial aggregate (the key-aware window audit's gate)
    daily = (ev.withColumn("d", F.to_date("ts"))
             .groupBy("d")
             .agg(F.sum(F.when(F.col("event_type") == "purchase", 1)
                        .when(F.col("event_type") == "click", -1)
                        .otherwise(0)).cast("bigint").alias("net")))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    wb = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    p = (daily.withColumn("pfx", F.sum("net").over(w))
         .withColumn("minb", F.coalesce(F.min(F.col("pfx")).over(wb),
                                        F.lit(0))))
    g = p.select("d", (F.col("pfx")
                       - F.least(F.col("minb"), F.lit(0))).alias("gain"))
    best = g.agg(F.max("gain").alias("max_gain"))
    nd = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    return (g.join(best, F.col("gain") == F.col("max_gain"))
            .groupBy("max_gain")
            .agg(F.min("d").alias("end_day"))
            .crossJoin(nd)
            .select(F.col("max_gain").cast("bigint").alias("max_gain"),
                    "end_day", "n_days"))


@register(
    "win_rsi_wilder",
    oracle="""
    WITH RECURSIVE v AS (
      SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec,
             round(value, 6)::DOUBLE AS x
      FROM events WHERE value IS NOT NULL
    ),
    d AS (
      SELECT user_id, event_id, sec,
             x - lag(x) OVER (PARTITION BY user_id
                              ORDER BY sec, event_id) AS dx
      FROM v
    ),
    series AS (
      SELECT user_id,
             list({'g': greatest(dx, 0.0::DOUBLE),
                   'l': greatest(-dx, 0.0::DOUBLE)}
                  ORDER BY sec, event_id) AS xs,
             count(*) AS n
      FROM d WHERE dx IS NOT NULL
      GROUP BY user_id HAVING count(*) >= 15
    ),
    step AS (
      SELECT user_id, xs, n, 14 AS k,
             list_sum(list_transform(xs[1:14], s -> s.g))
               / 14.0::DOUBLE AS ag,
             list_sum(list_transform(xs[1:14], s -> s.l))
               / 14.0::DOUBLE AS al
      FROM series
      UNION ALL
      SELECT user_id, xs, n, k + 1,
             (ag * 13.0::DOUBLE + xs[k + 1].g) / 14.0::DOUBLE,
             (al * 13.0::DOUBLE + xs[k + 1].l) / 14.0::DOUBLE
      FROM step WHERE k < n
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_deltas,
           round(CASE WHEN al = 0.0::DOUBLE THEN 100.0::DOUBLE
                      ELSE 100.0::DOUBLE
                           - 100.0::DOUBLE / (1.0::DOUBLE + ag / al)
                 END, 6) AS rsi14
    FROM step WHERE k = n
    """)
def win_rsi_wilder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WILDER RSI(14) over each user's event-value series — the
    momentum oscillator whose smoothing is a RECURRENCE on the
    previous result (avg_t = (avg_{t-1}·13 + x_t)/14), which no
    window frame can express: like ``win_ewma_irregular``, the
    per-user (gain, loss) series is assembled with sort_array ∘
    collect_list (one shuffle, state bounded by that key's history)
    and folded JVM-side through the higher-order ``aggregate`` with a
    STRUCT accumulator carrying both smoothed averages at once. Seed
    = simple mean of the first 14 gains/losses (Wilder's convention),
    fold over the rest, RSI = 100 − 100/(1 + ag/al) with the all-loss
    branch pinned to 100. The oracle restates the fold as a
    recursive CTE (struct elements + struct init can't share a
    list_reduce type in DuckDB). 6-dp boundary."""
    e = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    sec = F.col("ts").cast("timestamp").cast("long")
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    d = (e.select("user_id", "event_id", sec.alias("sec"),
                  F.round("value", 6).cast("double").alias("x"))
         .withColumn("dx", F.col("x") - F.lag("x").over(w))
         .filter(F.col("dx").isNotNull()))
    series = (d.select(
        "user_id",
        F.struct("sec", "event_id",
                 F.greatest(F.col("dx"), F.lit(0.0)).alias("g"),
                 F.greatest(-F.col("dx"), F.lit(0.0)).alias("l"))
        .alias("s"))
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list("s")).alias("ss"))
        .filter(F.size("ss") >= 15))
    folded = series.withColumn("acc", F.expr(
        "aggregate(slice(ss, 15, greatest(size(ss) - 14, 0)), "
        "named_struct("
        "  'ag', aggregate(slice(ss, 1, 14), 0D, (a, s) -> a + s.g) / 14.0D, "
        "  'al', aggregate(slice(ss, 1, 14), 0D, (a, s) -> a + s.l) / 14.0D), "
        "(acc, s) -> named_struct("
        "  'ag', (acc.ag * 13.0D + s.g) / 14.0D, "
        "  'al', (acc.al * 13.0D + s.l) / 14.0D))"))
    rsi = F.when(F.col("acc.al") == 0.0, F.lit(100.0)).otherwise(
        F.lit(100.0) - F.lit(100.0)
        / (F.lit(1.0) + F.col("acc.ag") / F.col("acc.al")))
    return folded.select(
        "user_id",
        F.size("ss").cast("long").alias("n_deltas"),
        F.round(rsi, 6).alias("rsi14"))


def _register_tws_initial_state() -> None:
    """Registered via the same protobuf gate as the other TWS ops."""
    from pmc_conversion_spark.streaming.stateful import ensure_protobuf
    if not ensure_protobuf():  # pragma: no cover - env without protobuf
        return

    @register(
        "stream_tws_initial_state",
        oracle="""
        SELECT user_id, count(*) AS n_events
        FROM events GROUP BY user_id
        HAVING sum(CASE WHEN event_id % 2 <> 0 THEN 1 ELSE 0 END) >= 1
        """)
    def stream_tws_initial_state(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
        """transformWithState WARM START (streaming/stateful.py
        warm_start_count_tws): per-user counts of the even-event_id
        half are planted as ``initialState`` (the state-migration /
        backfill-cutover surface), the odd half streams in, and the
        emitted totals equal the FULL batch per-user count — the
        oracle's HAVING guard pins the Update-mode contract that
        seed-only keys (no streamed rows) never emit."""
        from pmc_conversion_spark.streaming.stateful import \
            warm_start_count_tws

        seed = (_events(spark, sf_dir)
                .filter(F.col("event_id") % 2 == 0)
                .groupBy("user_id")
                .agg(F.count(F.lit(1)).alias("n_seed")))
        return (_tws_run(
                    spark, sf_dir,
                    lambda s: warm_start_count_tws(
                        s.filter(F.col("event_id") % 2 != 0), seed))
                .groupBy("user_id")
                .agg(F.max("n_events").alias("n_events")))


_register_tws_initial_state()


@register(
    "ts_adf_test",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS d, count(*) AS y
      FROM orders GROUP BY 1),
    lagd AS (
      SELECT y - lag(y) OVER (ORDER BY d) AS dy,
             lag(y) OVER (ORDER BY d) AS x
      FROM daily),
    v AS (SELECT dy, x FROM lagd WHERE x IS NOT NULL),
    s AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(dy) AS sdy,
             sum(CAST(x AS HUGEINT) * dy) AS sxdy,
             sum(CAST(x AS HUGEINT) * x) AS sxx,
             sum(CAST(dy AS HUGEINT) * dy) AS sdd
      FROM v),
    e AS (
      SELECT n,
        CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) AS sxxn,
        CAST(n * sxdy - CAST(sx AS HUGEINT) * sdy AS DOUBLE) AS sxyn,
        CAST(n * sdd - CAST(sdy AS HUGEINT) * sdy AS DOUBLE) AS syyn
      FROM s)
    SELECT CAST(n AS BIGINT) AS n_obs,
           round(sxyn / sxxn, 6) AS rho_hat,
           round((sxyn / sxxn)
                 / sqrt(((syyn - sxyn * sxyn / sxxn) / n) * n
                        / ((n - 2.0) * sxxn)), 6) AS adf_t
    FROM e
    """)
def ts_adf_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(Augmented) DICKEY-FULLER unit-root test, lag-0 with constant,
    on the daily order-count series: regress delta-y_t on y_{t-1} and
    report rho-hat and its t-statistic (compare to the DF critical
    values; near-0 rho with a large negative t rejects the unit
    root => the series is stationary and differencing would
    OVER-difference it). Both delta-y and the lagged level are exact
    integers, so every normal-equation sum is an exact hugeint and
    the t-stat is one identical double expression in both engines.
    The lag window rides the day-keyed aggregate (date-span domain);
    the full scan is one partial count."""
    o = tables.load(spark, sf_dir, "orders")
    daily = (o.select(F.date_trunc("day", F.col("o_orderdate"))
                      .alias("d"))
             .groupBy("d").agg(F.count(F.lit(1)).alias("y")))
    w = Window.orderBy("d")
    v = (daily.select((F.col("y") - F.lag("y").over(w)).alias("dy"),
                      F.lag("y").over(w).alias("x"))
         .filter(F.col("x").isNotNull()))
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    s = v.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("dy").alias("sdy"),
        F.sum(dec("x") * F.col("dy")).alias("sxdy"),
        F.sum(dec("x") * F.col("x")).alias("sxx"),
        F.sum(dec("dy") * F.col("dy")).alias("sdd"))
    e = s.select(
        "n",
        (F.col("n") * F.col("sxx") - dec("sx") * F.col("sx"))
        .cast("double").alias("sxxn"),
        (F.col("n") * F.col("sxdy") - dec("sx") * F.col("sdy"))
        .cast("double").alias("sxyn"),
        (F.col("n") * F.col("sdd") - dec("sdy") * F.col("sdy"))
        .cast("double").alias("syyn"))
    rho = F.col("sxyn") / F.col("sxxn")
    ssr = (F.col("syyn")
           - F.col("sxyn") * F.col("sxyn") / F.col("sxxn")) / F.col("n")
    se2 = ssr * F.col("n") / ((F.col("n") - 2.0) * F.col("sxxn"))
    return e.select(
        F.col("n").cast("bigint").alias("n_obs"),
        F.round(rho, 6).alias("rho_hat"),
        F.round(rho / F.sqrt(se2), 6).alias("adf_t"))


@register(
    "ts_croston",
    oracle="""
    WITH RECURSIVE pd AS (
      SELECT l_partkey,
             datediff('day', TIMESTAMP '1992-01-01',
                      date_trunc('day', l_shipdate)) AS t,
             round(sum(l_quantity), 6) AS q
      FROM lineitem GROUP BY 1, 2),
    series AS (
      SELECT l_partkey, list({'t': t, 'q': q} ORDER BY t) AS xs,
             count(*) AS n
      FROM pd GROUP BY 1 HAVING count(*) >= 2),
    step AS (
      SELECT l_partkey, xs, n, 1 AS k,
             xs[1].q::DOUBLE AS z, -1.0::DOUBLE AS p, xs[1].t AS tp
      FROM series
      UNION ALL
      SELECT l_partkey, xs, n, k + 1,
             0.2::DOUBLE * xs[k + 1].q + 0.8::DOUBLE * z,
             CASE WHEN p < 0
               THEN (xs[k + 1].t - tp)::DOUBLE
               ELSE 0.2::DOUBLE * (xs[k + 1].t - tp)
                    + 0.8::DOUBLE * p END,
             xs[k + 1].t
      FROM step WHERE k < n)
    SELECT l_partkey, CAST(n AS BIGINT) AS n_demands,
           round(z, 6) AS level_demand,
           round(p, 6) AS level_interval,
           round(z / p, 6) AS forecast_rate
    FROM step WHERE k = n
    """)
def ts_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSTON'S METHOD for INTERMITTENT demand — the forecaster for
    series that are mostly zero (a part sells ~30 days out of 2 400):
    plain SES collapses toward zero between demands, so Croston
    smooths the nonzero demand SIZES and the inter-demand INTERVALS
    separately (both alpha = 0.2) and forecasts their ratio z/p per
    period. Per-part demand days come from one (part, day) partial
    aggregate; each part's series is assembled once (sort_array over
    collect_list, one shuffle, state bounded by that part's own
    history) and folded JVM-side with a (z, p, t_prev) STRUCT
    accumulator through the higher-order ``aggregate`` — the interval
    state seeds lazily (sentinel p = -1 until the first gap), pinned
    identically in the oracle's recursive CTE (scalar columns — the
    DuckDB 1.0.0 list_reduce struct-aliasing rule, see
    ts_holt_forecast)."""
    li = tables.load(spark, sf_dir, "lineitem")
    pd_ = (li.groupBy(
        "l_partkey",
        F.datediff(F.date_trunc("day", F.col("l_shipdate")),
                   F.lit("1992-01-01")).alias("t"))
        .agg(F.round(F.sum("l_quantity"), 6).alias("q")))
    series = (pd_.select("l_partkey",
                         F.struct("t", "q").alias("s"))
              .groupBy("l_partkey")
              .agg(F.sort_array(F.collect_list("s")).alias("xs"))
              .filter(F.size("xs") >= 2))
    folded = series.withColumn("st", F.expr(
        "aggregate(slice(xs, 2, greatest(size(xs) - 1, 0)), "
        "named_struct('z', CAST(xs[0].q AS DOUBLE), "
        "'p', CAST(-1.0 AS DOUBLE), 'tp', xs[0].t), "
        "(acc, s) -> named_struct("
        "'z', 0.2D * s.q + 0.8D * acc.z, "
        "'p', CASE WHEN acc.p < 0 THEN CAST(s.t - acc.tp AS DOUBLE) "
        "ELSE 0.2D * (s.t - acc.tp) + 0.8D * acc.p END, "
        "'tp', s.t))"))
    return folded.select(
        "l_partkey",
        F.size("xs").cast("bigint").alias("n_demands"),
        F.round(F.col("st.z"), 6).alias("level_demand"),
        F.round(F.col("st.p"), 6).alias("level_interval"),
        F.round(F.col("st.z") / F.col("st.p"), 6).alias("forecast_rate"))


@register(
    "ts_theta_forecast",
    oracle="""
    WITH mo AS (
      SELECT date_trunc('month', o_orderdate) AS m,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS rev
      FROM orders GROUP BY 1),
    idx AS (
      SELECT row_number() OVER (ORDER BY m) AS t, rev FROM mo),
    s AS (
      SELECT count(*) AS n, sum(t) AS st, sum(rev) AS sy,
             sum(CAST(t AS HUGEINT) * rev) AS sty,
             sum(CAST(t AS HUGEINT) * t) AS stt
      FROM idx),
    coef AS (
      SELECT n,
        CAST(n * sty - CAST(st AS HUGEINT) * sy AS DOUBLE)
        / CAST(n * stt - CAST(st AS HUGEINT) * st AS DOUBLE) AS b,
        st, sy
      FROM s),
    th AS (
      SELECT list(2.0 * rev
                  - ((CAST(sy AS DOUBLE) - b * st) / n + b * t)
             ORDER BY t) AS ds,
             max(n) AS n,
             max((CAST(sy AS DOUBLE) - b * st) / n) AS a,
             max(b) AS b
      FROM idx, coef),
    ses AS (
      SELECT n, a, b,
             list_reduce(ds, (acc, x) -> 0.5 * x + 0.5 * acc) AS l
      FROM th)
    SELECT CAST(n AS BIGINT) AS n_months,
           round(b / 100.0, 6) AS trend_dollars_per_month,
           round(l / 100.0, 4) AS theta_ses_level,
           round(0.5 * (a + b * (n + 1)) / 100.0
                 + 0.5 * l / 100.0, 4) AS forecast_next
    FROM ses
    """)
def ts_theta_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THETA-METHOD one-step forecast (theta = 2, the M3-winning
    configuration) of monthly revenue: decompose the series into the
    theta = 0 line (the OLS linear trend, here from exact hugeint
    normal equations) and the theta = 2 line (2y_t - trend_t, double
    curvature), SES the theta-2 line (alpha = 0.5, init l1 = d1 — the
    seed-with-first-element fold both engines share), and combine
    half-and-half: forecast = (trend extrapolated to n+1 + SES
    level) / 2. The month aggregate is exact integer cents; the
    84-point fold runs JVM-side via the higher-order ``aggregate``
    with a scalar accumulator (list_reduce-safe shape in the
    oracle)."""
    o = tables.load(spark, sf_dir, "orders")
    mo = (o.select(F.date_trunc("month", F.col("o_orderdate"))
                   .alias("m"), "o_totalprice")
          .groupBy("m")
          .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
               .alias("rev")))
    idx = mo.select(F.row_number().over(Window.orderBy("m"))
                    .alias("t"), "rev")
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    s = idx.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").alias("st"), F.sum("rev").alias("sy"),
        F.sum(dec("t") * F.col("rev")).alias("sty"),
        F.sum(dec("t") * F.col("t")).alias("stt"))
    b = ((F.col("n") * F.col("sty") - dec("st") * F.col("sy"))
         .cast("double")
         / (F.col("n") * F.col("stt") - dec("st") * F.col("st"))
         .cast("double"))
    coef = s.select("n", b.alias("b"), "st", "sy")
    a = (F.col("sy").cast("double") - F.col("b") * F.col("st")) \
        / F.col("n")
    th = (idx.crossJoin(coef)
          .select(F.struct("t",
                           (2.0 * F.col("rev") - (a + F.col("b")
                                                  * F.col("t")))
                           .alias("dv")).alias("sd"),
                  "n", a.alias("a"), "b")
          .groupBy()
          .agg(F.expr("transform(sort_array(collect_list(sd)),"
                      " s -> s.dv)").alias("ds"),
               F.max("n").alias("n"), F.max("a").alias("a"),
               F.max("b").alias("b")))
    ses = th.select(
        "n", "a", "b",
        F.expr("aggregate(slice(ds, 2, greatest(size(ds) - 1, 0)), "
               "CAST(ds[0] AS DOUBLE), "
               "(acc, x) -> 0.5D * x + 0.5D * acc)").alias("l"))
    return ses.select(
        F.col("n").cast("bigint").alias("n_months"),
        F.round(F.col("b") / 100.0, 6).alias("trend_dollars_per_month"),
        F.round(F.col("l") / 100.0, 4).alias("theta_ses_level"),
        F.round(0.5 * (F.col("a") + F.col("b") * (F.col("n") + 1))
                / 100.0 + 0.5 * F.col("l") / 100.0, 4)
        .alias("forecast_next"))


@register(
    "ts_sax",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1),
    idx AS (
      SELECT row_number() OVER (ORDER BY d) AS rn, y FROM daily),
    tot AS (
      SELECT count(*) AS n, sum(y) AS sy,
             sum(CAST(y AS HUGEINT) * y) AS syy
      FROM idx),
    segm AS (
      SELECT CAST(floor((rn - 1) * 16 / CAST(n AS DOUBLE)) AS BIGINT)
               AS seg,
             y, n, sy, syy
      FROM idx, tot),
    paa AS (
      SELECT seg, count(*) AS n_days,
             (CAST(sum(y) AS DOUBLE) / count(*)
              - CAST(max(sy) AS DOUBLE) / max(n))
             / sqrt((CAST(max(n) AS DOUBLE) * max(syy)
                     - CAST(max(sy) AS DOUBLE) * max(sy))
                    / (CAST(max(n) AS DOUBLE) * (max(n) - 1)))
               AS z
      FROM segm GROUP BY seg),
    sym AS (
      SELECT seg, n_days, z,
             CASE WHEN z < -0.6745 THEN 'a'
                  WHEN z < 0.0 THEN 'b'
                  WHEN z < 0.6745 THEN 'c'
                  ELSE 'd' END AS symbol
      FROM paa),
    word AS (SELECT string_agg(symbol, '' ORDER BY seg) AS w FROM sym)
    SELECT seg, CAST(n_days AS BIGINT) AS n_days,
           round(z, 6) AS paa_z, symbol,
           (SELECT w FROM word) AS sax_word
    FROM sym
    """)
def ts_sax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX (Symbolic Aggregate approXimation) of the daily-revenue
    series: PAA into 16 equal-width segments, z-normalized against
    the whole series, quantized to a 4-letter alphabet at the
    standard N(0,1) quartile breakpoints (-0.6745, 0, 0.6745) -- the
    classic time-series indexing/motif representation (Lin-Keogh).
    The z-normalization is applied ALGEBRAICALLY to the per-segment
    integer sums ((sum/cnt - mu)/sigma with mu/sigma from exact
    global hugeint sums), so no per-row double ever feeds an
    unordered sum and the letters are engine-identical by
    construction. Segment assignment floor((rn-1)*w/n) is exact
    double math below 2^53. The 16-row symbol frame folds into the
    SAX word with an ORDER BY string_agg."""
    o = tables.load(spark, sf_dir, "orders")
    daily = (o.select(F.date_trunc("day", F.col("o_orderdate"))
                      .alias("d"), "o_totalprice")
             .groupBy("d")
             .agg(F.sum(F.round(F.col("o_totalprice") * 100)
                        .cast("long")).alias("y")))
    idx = daily.select(F.row_number().over(Window.orderBy("d"))
                       .alias("rn"), "y")
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    tot = idx.agg(F.count(F.lit(1)).alias("n"),
                  F.sum("y").alias("sy"),
                  F.sum(dec("y") * F.col("y")).alias("syy"))
    segm = (idx.crossJoin(tot)
            .select(F.floor((F.col("rn") - 1) * 16
                            / F.col("n").cast("double"))
                    .cast("bigint").alias("seg"),
                    "y", "n", "sy", "syy"))
    paa = segm.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n_days"),
        ((F.sum("y").cast("double") / F.count(F.lit(1))
          - F.max("sy").cast("double") / F.max("n"))
         / F.sqrt((F.max("n").cast("double") * F.max("syy")
                   - F.max("sy").cast("double") * F.max("sy"))
                  / (F.max("n").cast("double") * (F.max("n") - 1))))
        .alias("z"))
    sym = paa.select(
        "seg", "n_days", "z",
        F.when(F.col("z") < -0.6745, "a")
        .when(F.col("z") < 0.0, "b")
        .when(F.col("z") < 0.6745, "c")
        .otherwise("d").alias("symbol"))
    word = (sym.select(F.struct("seg", "symbol").alias("s"))
            .agg(F.concat_ws(
                "", F.expr("transform(sort_array(collect_list(s)),"
                           " x -> x.symbol)")).alias("w")))
    return (sym.crossJoin(word)
            .select("seg", F.col("n_days").cast("bigint")
                    .alias("n_days"),
                    F.round("z", 6).alias("paa_z"), "symbol",
                    F.col("w").alias("sax_word")))


@register(
    "ts_ccf",
    oracle="""
    WITH xd AS (
      SELECT datediff('day', TIMESTAMP '1992-01-01',
                      date_trunc('day', o_orderdate)) AS t,
             count(*) AS x
      FROM orders GROUP BY 1),
    yd AS (
      SELECT datediff('day', TIMESTAMP '1992-01-01',
                      date_trunc('day', l_shipdate)) AS t,
             CAST(round(sum(l_quantity)) AS BIGINT) AS y
      FROM lineitem GROUP BY 1),
    lags AS (SELECT unnest(range(-7, 8)) AS lag),
    j AS (
      SELECT l.lag, x.x, y.y
      FROM lags l
      JOIN xd x ON TRUE
      JOIN yd y ON y.t = x.t + l.lag),
    s AS (
      SELECT lag, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(CAST(x AS HUGEINT) * y) AS sxy,
             sum(CAST(x AS HUGEINT) * x) AS sxx,
             sum(CAST(y AS HUGEINT) * y) AS syy
      FROM j GROUP BY 1)
    SELECT lag, CAST(n AS BIGINT) AS n_obs,
           round(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - CAST(sx AS HUGEINT) * sx
                             AS DOUBLE)
                        * CAST(n * syy - CAST(sy AS HUGEINT) * sy
                               AS DOUBLE)), 6) AS ccf
    FROM s ORDER BY lag
    """)
def ts_ccf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-CORRELATION FUNCTION between two daily series — order
    arrivals (count) vs shipped quantity — at lags -7..+7: the
    lead/lag detector that answers 'how many days after demand does
    fulfilment peak' before anyone fits a transfer-function model.
    Each lag's Pearson correlation comes from n-scaled EXACT hugeint
    sums over the lag-shifted day join (integer day keys, a 15-row
    broadcast lag dimension fanned against the 2.4k-day frames), so
    all 15 coefficients are engine-identical doubles. The two daily
    partial aggregates are the only corpus scans; everything after is
    dimension-sized."""
    o = tables.load(spark, sf_dir, "orders")
    li = tables.load(spark, sf_dir, "lineitem")
    xd = (o.select(F.datediff(F.date_trunc("day", F.col("o_orderdate")),
                              F.lit("1992-01-01")).alias("t"))
          .groupBy("t").agg(F.count(F.lit(1)).alias("x")))
    yd = (li.select(F.datediff(F.date_trunc("day", F.col("l_shipdate")),
                               F.lit("1992-01-01")).alias("t"),
                    "l_quantity")
          .groupBy("t")
          .agg(F.round(F.sum("l_quantity")).cast("long").alias("y")))
    lags = spark.range(-7, 8).select(F.col("id").cast("int")
                                     .alias("lag"))
    j = (xd.crossJoin(lags)
         .join(yd.withColumnRenamed("t", "ty"),
               F.col("ty") == F.col("t") + F.col("lag"))
         .select("lag", "x", "y"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    s = j.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(dec("x") * F.col("y")).alias("sxy"),
        F.sum(dec("x") * F.col("x")).alias("sxx"),
        F.sum(dec("y") * F.col("y")).alias("syy"))
    num = (F.col("n") * F.col("sxy") - dec("sx") * F.col("sy")) \
        .cast("double")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - dec("sx") * F.col("sx"))
        .cast("double")
        * (F.col("n") * F.col("syy") - dec("sy") * F.col("sy"))
        .cast("double"))
    return (s.select("lag", F.col("n").cast("bigint").alias("n_obs"),
                     F.round(num / den, 6).alias("ccf"))
            .orderBy("lag"))


# ------------------------------------------------- r7 diagnostics wave

@register(
    "ts_arch_lm_test",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS d, count(*) AS y
      FROM orders GROUP BY 1),
    dif AS (
      SELECT d, y - lag(y) OVER (ORDER BY d) AS dy
      FROM daily),
    sq AS (
      SELECT CAST(dy AS HUGEINT) * dy AS e2,
             lag(CAST(dy AS HUGEINT) * dy) OVER (ORDER BY d) AS e2l
      FROM dif WHERE dy IS NOT NULL),
    v AS (SELECT e2, e2l FROM sq WHERE e2l IS NOT NULL),
    s AS (
      SELECT count(*) AS n, sum(e2) AS sy, sum(e2l) AS sx,
             sum(e2 * e2l) AS sxy,
             sum(e2l * e2l) AS sxx,
             sum(e2 * e2) AS syy
      FROM v),
    e AS (
      SELECT n,
             CAST(n * sxy - sx * sy AS DOUBLE) AS axy,
             CAST(n * sxx - sx * sx AS DOUBLE) AS axx,
             CAST(n * syy - sy * sy AS DOUBLE) AS ayy
      FROM s)
    SELECT CAST(n AS BIGINT) AS n_obs,
           round(axy / axx, 6) AS arch_slope,
           round(n * (axy * axy) / (axx * ayy), 6) AS lm_stat
    FROM e
    """)
def ts_arch_lm_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENGLE'S ARCH LM TEST for conditional heteroskedasticity on the
    daily order-count changes: regress the SQUARED innovation e2_t on
    e2_{t-1}; LM = n*R2 ~ chi2(1) under the no-ARCH null. Volatility
    clustering (today's variance predicting tomorrow's) is invisible
    to autocorrelation tests on the LEVELS (`ts_ljung_box` on dy can
    pass while dy^2 is strongly dependent) -- this is the standard
    pre-test before reaching for GARCH. The innovations are exact
    integer differences, their squares exact, and every
    normal-equation sum an exact decimal, so slope and LM are single
    identical double expressions. One day-grouped aggregate + two lag
    windows on the 2.4k-row date-span frame: the row scan never
    shuffles more than the daily partial counts."""
    o = tables.load(spark, sf_dir, "orders")
    daily = (o.select(F.date_trunc("day", F.col("o_orderdate"))
                      .alias("d"))
             .groupBy("d").agg(F.count(F.lit(1)).alias("y")))
    w = Window.orderBy("d")
    dec38 = "decimal(38,0)"
    dif = (daily.select((F.col("y") - F.lag("y").over(w)).alias("dy"),
                        F.col("d"))
           .filter(F.col("dy").isNotNull()))
    sq = dif.select(
        (F.col("dy").cast(dec38) * F.col("dy")).alias("e2"), "d")
    v = (sq.select("e2", F.lag("e2").over(Window.orderBy("d"))
                   .alias("e2l"))
         .filter(F.col("e2l").isNotNull()))
    s = v.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("e2").alias("sy"), F.sum("e2l").alias("sx"),
        F.sum(F.col("e2") * F.col("e2l")).alias("sxy"),
        F.sum(F.col("e2l") * F.col("e2l")).alias("sxx"),
        F.sum(F.col("e2") * F.col("e2")).alias("syy"))
    e = s.select(
        "n",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("double").alias("axy"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("double").alias("axx"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        .cast("double").alias("ayy"))
    return e.select(
        F.col("n").cast("bigint").alias("n_obs"),
        F.round(F.col("axy") / F.col("axx"), 6).alias("arch_slope"),
        F.round(F.col("n") * (F.col("axy") * F.col("axy"))
                / (F.col("axx") * F.col("ayy")), 6).alias("lm_stat"))


@register(
    "ts_granger_f",
    oracle="""
    WITH oy AS (
      SELECT date_trunc('day', o_orderdate) AS d, count(*) AS y
      FROM orders GROUP BY 1),
    lx AS (
      SELECT date_trunc('day', l_shipdate) AS d, count(*) AS x
      FROM lineitem GROUP BY 1),
    z AS (
      SELECT oy.y,
             lag(oy.y) OVER (ORDER BY oy.d) AS u,
             lag(lx.x) OVER (ORDER BY oy.d) AS v
      FROM oy JOIN lx ON oy.d = lx.d),
    r AS (SELECT y, u, v FROM z WHERE u IS NOT NULL AND v IS NOT NULL),
    s AS (
      SELECT count(*) AS n, sum(y) AS sy, sum(u) AS su, sum(v) AS sv,
             sum(CAST(u AS HUGEINT) * y) AS suy,
             sum(CAST(v AS HUGEINT) * y) AS svy,
             sum(CAST(u AS HUGEINT) * v) AS suv,
             sum(CAST(u AS HUGEINT) * u) AS suu,
             sum(CAST(v AS HUGEINT) * v) AS svv,
             sum(CAST(y AS HUGEINT) * y) AS syy
      FROM r),
    a AS (
      SELECT n,
             CAST(n * suu - CAST(su AS HUGEINT) * su AS DOUBLE) AS auu,
             CAST(n * svv - CAST(sv AS HUGEINT) * sv AS DOUBLE) AS avv,
             CAST(n * suv - CAST(su AS HUGEINT) * sv AS DOUBLE) AS auv,
             CAST(n * suy - CAST(su AS HUGEINT) * sy AS DOUBLE) AS auy,
             CAST(n * svy - CAST(sv AS HUGEINT) * sy AS DOUBLE) AS avy,
             CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE) AS ayy
      FROM s),
    f AS (
      SELECT n, ayy - auy * auy / auu AS sser,
             ayy - (avv * auy * auy - 2 * auv * auy * avy
                    + auu * avy * avy) / (auu * avv - auv * auv)
               AS sseu
      FROM a)
    SELECT CAST(n AS BIGINT) AS n_obs,
           round((sser - sseu) * (n - 3) / sseu, 6) AS granger_f
    FROM f
    """)
def ts_granger_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRANGER CAUSALITY F-TEST (lag 1): does yesterday's SHIPMENT
    volume improve today's ORDER-count forecast beyond yesterday's
    order count alone? Restricted model y_t ~ y_{t-1}; unrestricted
    adds x_{t-1}; F = (SSE_r - SSE_u) / (SSE_u / (n-3)). Both SSEs
    come from CLOSED-FORM normal equations on centered second moments
    -- no iterative fit, no matrix library: six exact-integer moment
    sums per model, one scalar expression each. The two engines cast
    the exact centered moments to double and evaluate the identical
    expression tree, so the F statistic hashes equal. Cost at any
    scale: two day-grouped partial counts (orders, lineitem), a
    2.4k-row day join, two lag windows, one 10-cell aggregate."""
    o = tables.load(spark, sf_dir, "orders")
    li = tables.load(spark, sf_dir, "lineitem")
    oy = (o.select(F.date_trunc("day", F.col("o_orderdate")).alias("d"))
          .groupBy("d").agg(F.count(F.lit(1)).alias("y")))
    lx = (li.select(F.date_trunc("day", F.col("l_shipdate")).alias("d"))
          .groupBy("d").agg(F.count(F.lit(1)).alias("x")))
    w = Window.orderBy("d")
    z = (oy.join(lx, "d")
         .select("d", "y", F.lag("y").over(w).alias("u"),
                 F.lag("x").over(w).alias("v"))
         .filter(F.col("u").isNotNull() & F.col("v").isNotNull()))
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    s = z.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sy"), F.sum("u").alias("su"),
        F.sum("v").alias("sv"),
        F.sum(dec("u") * F.col("y")).alias("suy"),
        F.sum(dec("v") * F.col("y")).alias("svy"),
        F.sum(dec("u") * F.col("v")).alias("suv"),
        F.sum(dec("u") * F.col("u")).alias("suu"),
        F.sum(dec("v") * F.col("v")).alias("svv"),
        F.sum(dec("y") * F.col("y")).alias("syy"))
    cm = lambda sab, sa, sb: (F.col("n") * F.col(sab)
                              - dec(sa) * F.col(sb)).cast("double")
    a = s.select(
        "n",
        cm("suu", "su", "su").alias("auu"),
        cm("svv", "sv", "sv").alias("avv"),
        cm("suv", "su", "sv").alias("auv"),
        cm("suy", "su", "sy").alias("auy"),
        cm("svy", "sv", "sy").alias("avy"),
        cm("syy", "sy", "sy").alias("ayy"))
    sser = F.col("ayy") - F.col("auy") * F.col("auy") / F.col("auu")
    sseu = (F.col("ayy")
            - (F.col("avv") * F.col("auy") * F.col("auy")
               - 2 * F.col("auv") * F.col("auy") * F.col("avy")
               + F.col("auu") * F.col("avy") * F.col("avy"))
            / (F.col("auu") * F.col("avv") - F.col("auv") * F.col("auv")))
    f = a.select("n", sser.alias("sser"), sseu.alias("sseu"))
    return f.select(
        F.col("n").cast("bigint").alias("n_obs"),
        F.round((F.col("sser") - F.col("sseu")) * (F.col("n") - 3)
                / F.col("sseu"), 6).alias("granger_f"))


@register(
    "ts_matrix_profile",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS d, count(*) AS y
      FROM orders GROUP BY 1),
    pos AS (SELECT row_number() OVER (ORDER BY d) AS p, y FROM daily),
    win AS (
      SELECT p, y AS w0,
             lead(y, 1) OVER (ORDER BY p) AS w1,
             lead(y, 2) OVER (ORDER BY p) AS w2,
             lead(y, 3) OVER (ORDER BY p) AS w3,
             lead(y, 4) OVER (ORDER BY p) AS w4,
             lead(y, 5) OVER (ORDER BY p) AS w5,
             lead(y, 6) OVER (ORDER BY p) AS w6
      FROM pos),
    v AS (
      SELECT p, w0, w1, w2, w3, w4, w5, w6,
             w0 + w1 + w2 + w3 + w4 + w5 + w6 AS s1,
             CAST(w0 AS HUGEINT) * w0 + CAST(w1 AS HUGEINT) * w1
             + CAST(w2 AS HUGEINT) * w2 + CAST(w3 AS HUGEINT) * w3
             + CAST(w4 AS HUGEINT) * w4 + CAST(w5 AS HUGEINT) * w5
             + CAST(w6 AS HUGEINT) * w6 AS s2
      FROM win WHERE w6 IS NOT NULL),
    st AS (
      SELECT p, w0, w1, w2, w3, w4, w5, w6,
             CAST(s1 AS DOUBLE) / 7.0 AS mu,
             sqrt(CAST(s2 AS DOUBLE) / 7.0
                  - (CAST(s1 AS DOUBLE) / 7.0)
                    * (CAST(s1 AS DOUBLE) / 7.0)) AS sg
      FROM v),
    g AS (SELECT * FROM st WHERE sg > 0),
    mp AS (
      SELECT a.p AS pos,
             min(sqrt(greatest(0.0, 14.0 * (1.0 -
               (CAST(CAST(a.w0 AS HUGEINT) * b.w0
                     + CAST(a.w1 AS HUGEINT) * b.w1
                     + CAST(a.w2 AS HUGEINT) * b.w2
                     + CAST(a.w3 AS HUGEINT) * b.w3
                     + CAST(a.w4 AS HUGEINT) * b.w4
                     + CAST(a.w5 AS HUGEINT) * b.w5
                     + CAST(a.w6 AS HUGEINT) * b.w6 AS DOUBLE)
                - 7.0 * a.mu * b.mu)
               / (7.0 * a.sg * b.sg))))) AS nn_dist_raw
      FROM g a JOIN g b ON abs(a.p - b.p) >= 4
      GROUP BY 1)
    SELECT CAST(pos AS BIGINT) AS pos,
           round(nn_dist_raw, 4) AS nn_dist
    FROM mp
    """)
def ts_matrix_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRIX PROFILE (Yeh et al., ICDM 2016) over the daily
    order-count series, m=7: for every length-7 subsequence, the
    z-normalized Euclidean distance to its nearest non-trivial match
    (exclusion zone |i-j| >= m/2). Low profile values = MOTIFS
    (repeated weekly shapes), high values = DISCORDS (anomalous
    weeks) -- the one structure that answers both queries at once.
    dist = sqrt(2m(1 - r)) where r is the Pearson correlation of the
    two windows, computed from an exact-integer dot product and
    window moments (counts are ints, so s1/s2/dot are exact; mu and
    sigma are identical double expressions in both engines;
    zero-variance windows are excluded as z-norm-undefined). The
    all-pairs form here is O(n^2) over the DATE-SPAN domain (2.4k
    positions -> 5.7M pairs, a broadcast nested-loop the 60k-row
    corpus scan never joins into); at 100 TB the series length is
    still calendar-bounded, and for genuinely long series the same
    pair frame bands into SCRIMP-style diagonal blocks (each block an
    independent task) -- the composition, not the cross join, is the
    scale path."""
    o = tables.load(spark, sf_dir, "orders")
    daily = (o.select(F.date_trunc("day", F.col("o_orderdate"))
                      .alias("d"))
             .groupBy("d").agg(F.count(F.lit(1)).alias("y")))
    pos = daily.select(
        F.row_number().over(Window.orderBy("d")).alias("p"), "y")
    wp = Window.orderBy("p")
    ws = [F.col("y").alias("w0")] + [
        F.lead("y", k).over(wp).alias(f"w{k}") for k in range(1, 7)]
    win = pos.select("p", *ws).filter(F.col("w6").isNotNull())
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    s1 = sum(F.col(f"w{k}") for k in range(7))
    s2 = sum(dec(f"w{k}") * F.col(f"w{k}") for k in range(7))
    mu = s1.cast("double") / 7.0
    st = win.select(
        "p", *[f"w{k}" for k in range(7)],
        mu.alias("mu"),
        F.sqrt(s2.cast("double") / 7.0 - mu * mu).alias("sg"))
    # r9 opt (guide §5): both sides of the all-pairs self-join
    # replayed the orders scan + daily agg + lead window (plan: 2
    # scans → 1); the window frame is calendar-bounded (~2.4k rows)
    g = st.filter(F.col("sg") > 0).localCheckpoint(eager=True)
    b = g.select(F.col("p").alias("q"), F.col("mu").alias("mu_b"),
                 F.col("sg").alias("sg_b"),
                 *[F.col(f"w{k}").alias(f"v{k}") for k in range(7)])
    pairs = g.join(b,
                   F.abs(F.col("p") - F.col("q")) >= 4)
    dot = sum(dec(f"w{k}") * F.col(f"v{k}") for k in range(7))
    r = ((dot.cast("double") - 7.0 * F.col("mu") * F.col("mu_b"))
         / (7.0 * F.col("sg") * F.col("sg_b")))
    dist = F.sqrt(F.greatest(F.lit(0.0), 14.0 * (F.lit(1.0) - r)))
    return (pairs.groupBy("p")
            .agg(F.min(dist).alias("nn_dist_raw"))
            .select(F.col("p").cast("bigint").alias("pos"),
                    F.round("nn_dist_raw", 4).alias("nn_dist")))


@register(
    "ts_binseg_changepoint",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS d, count(*) AS y
      FROM orders GROUP BY 1),
    pos AS (
      SELECT row_number() OVER (ORDER BY d) AS k, d, y,
             sum(y) OVER (ORDER BY d) AS cs1,
             sum(CAST(y AS HUGEINT) * y) OVER (ORDER BY d) AS cs2,
             count(*) OVER () AS n,
             sum(y) OVER () AS t1,
             sum(CAST(y AS HUGEINT) * y) OVER () AS t2
      FROM daily),
    cost AS (
      SELECT k, d, n, t1, t2,
             (CAST(cs2 AS DOUBLE)
              - CAST(cs1 AS DOUBLE) * cs1 / k)
             + (CAST(t2 - cs2 AS DOUBLE)
                - CAST(t1 - cs1 AS DOUBLE) * (t1 - cs1) / (n - k))
               AS sse,
             CAST(cs1 AS DOUBLE) / k AS mean_l,
             CAST(t1 - cs1 AS DOUBLE) / (n - k) AS mean_r
      FROM pos WHERE k >= 30 AND k <= n - 30)
    SELECT CAST(k AS BIGINT) AS split_k,
           CAST(d AS DATE) AS split_day,
           round(mean_l, 6) AS mean_left,
           round(mean_r, 6) AS mean_right,
           round((CAST(t2 AS DOUBLE)
                  - CAST(t1 AS DOUBLE) * t1 / n) - sse, 6)
             AS sse_reduction
    FROM cost ORDER BY sse, k LIMIT 1
    """)
def ts_binseg_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY-SEGMENTATION CHANGEPOINT (one split) on the daily
    order-count series: the split k minimizing SSE_left + SSE_right,
    where each segment SSE collapses to cs2 - cs1^2/len from PREFIX
    SUMS -- so evaluating ALL candidate splits costs one cumulative
    window pass, not n refits (the identity that makes binary
    segmentation O(n) per level; recursing on each side yields the
    full changepoint tree). CUSUM (`ts_cusum_changepoint`) detects
    drift against a global mean; this finds the LS-optimal mean
    break, with both segment means reported. Min-segment guard of 30
    days; counts are exact ints so prefix sums are exact and each
    candidate's SSE is one identical double expression; the argmin is
    a TakeOrdered(1). The windows ride the 2.4k-row date-span frame,
    never the corpus."""
    o = tables.load(spark, sf_dir, "orders")
    daily = (o.select(F.date_trunc("day", F.col("o_orderdate"))
                      .alias("d"))
             .groupBy("d").agg(F.count(F.lit(1)).alias("y")))
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    wc = Window.orderBy("d").rowsBetween(Window.unboundedPreceding,
                                         Window.currentRow)
    wall = Window.orderBy("d").rowsBetween(Window.unboundedPreceding,
                                           Window.unboundedFollowing)
    pos = daily.select(
        F.row_number().over(Window.orderBy("d")).alias("k"), "d",
        F.sum("y").over(wc).alias("cs1"),
        F.sum(dec("y") * F.col("y")).over(wc).alias("cs2"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("y").over(wall).alias("t1"),
        F.sum(dec("y") * F.col("y")).over(wall).alias("t2"))
    rl = F.col("cs1").cast("double")
    rr = (F.col("t1") - F.col("cs1")).cast("double")
    sse = ((F.col("cs2").cast("double") - rl * F.col("cs1") / F.col("k"))
           + ((F.col("t2") - F.col("cs2")).cast("double")
              - rr * (F.col("t1") - F.col("cs1"))
              / (F.col("n") - F.col("k"))))
    cost = (pos.filter((F.col("k") >= 30)
                       & (F.col("k") <= F.col("n") - 30))
            .select("k", "d", "n", "t1", "t2", sse.alias("sse"),
                    (rl / F.col("k")).alias("mean_l"),
                    (rr / (F.col("n") - F.col("k"))).alias("mean_r")))
    return (cost.orderBy("sse", "k").limit(1)
            .select(F.col("k").cast("bigint").alias("split_k"),
                    F.col("d").cast("date").alias("split_day"),
                    F.round("mean_l", 6).alias("mean_left"),
                    F.round("mean_r", 6).alias("mean_right"),
                    F.round((F.col("t2").cast("double")
                             - F.col("t1").cast("double") * F.col("t1")
                             / F.col("n")) - F.col("sse"), 6)
                    .alias("sse_reduction")))


@register(
    "ts_garch11_filter",
    oracle="""
    -- Scalar rp/sig2 recursion (same shape as ts_kalman_1d; see the
    -- struct-accumulator caveat there).
    WITH RECURSIVE v AS (
      SELECT user_id, ts, event_id, round(value, 6)::DOUBLE AS x
      FROM events WHERE value IS NOT NULL
    ), series AS (
      SELECT user_id, list(x ORDER BY ts, event_id) AS xs,
             count(*) AS n
      FROM v GROUP BY user_id
      HAVING count(*) >= 3
    ), step AS (
      SELECT user_id, xs, n, 2 AS i,
             (xs[2] - xs[1])::DOUBLE AS rp,
             ((xs[2] - xs[1]) * (xs[2] - xs[1]))::DOUBLE AS sig2,
             ((xs[2] - xs[1]) * (xs[2] - xs[1]))::DOUBLE AS mx
      FROM series
      UNION ALL
      SELECT user_id, xs, n, i + 1,
             (xs[i + 1] - xs[i])::DOUBLE,
             0.1::DOUBLE + 0.2::DOUBLE * rp * rp
               + 0.7::DOUBLE * sig2,
             greatest(mx, 0.1::DOUBLE + 0.2::DOUBLE * rp * rp
               + 0.7::DOUBLE * sig2)
      FROM step WHERE i <= n - 1
    )
    SELECT user_id, CAST(n - 1 AS BIGINT) AS n_diffs,
           round(sig2, 6) AS sigma2_last,
           round(mx, 6) AS sigma2_peak
    FROM step WHERE i = n
    """)
def ts_garch11_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GARCH(1,1) VOLATILITY FILTER per key (omega=0.1, alpha=0.2,
    beta=0.7, sigma2_1 = r_1^2) over each user's value-difference
    series: sigma2_t = omega + alpha*r_{t-1}^2 + beta*sigma2_{t-1} --
    the conditional-variance recursion that turns the ARCH-effect
    DIAGNOSIS (`ts_arch_lm_test`) into a usable per-step volatility
    estimate; the peak/last ratio flags users whose variance spiked
    and has not yet decayed (persistence alpha+beta = 0.9). The
    recursion depends on its own previous output, so -- like
    `ts_kalman_1d` -- the per-key series is assembled once
    (sort_array of structs, one shuffle) and folded JVM-side with the
    higher-order ``aggregate``: keys parallelize across the cluster,
    the fold is O(n) per key, and no Python touches the hot path."""
    e = _events(spark, sf_dir)
    s = (e.filter(F.col("value").isNotNull())
         .select("user_id",
                 F.struct(F.col("ts").alias("ts"),
                          F.col("event_id").alias("event_id"),
                          F.round("value", 6).cast("double").alias("x"))
                 .alias("s")))
    series = (s.groupBy("user_id")
              .agg(F.sort_array(F.collect_list("s")).alias("ss"))
              .filter(F.size("ss") >= 3))
    fitted = (series
              .withColumn("xs", F.expr("transform(ss, s -> s.x)"))
              .withColumn("rs", F.expr(
                  "transform(sequence(1, size(xs) - 1), "
                  "i -> xs[i] - xs[i - 1])"))
              .withColumn("st", F.expr(
                  "aggregate(slice(rs, 2, greatest(size(rs) - 1, 0)), "
                  "named_struct('rp', rs[0], "
                  "'sig2', rs[0] * rs[0], 'mx', rs[0] * rs[0]), "
                  "(acc, r) -> named_struct("
                  "'rp', r, "
                  "'sig2', 0.1D + 0.2D * acc.rp * acc.rp "
                  "+ 0.7D * acc.sig2, "
                  "'mx', greatest(acc.mx, 0.1D + 0.2D * acc.rp "
                  "* acc.rp + 0.7D * acc.sig2)))")))
    return fitted.select(
        "user_id",
        F.size("rs").cast("bigint").alias("n_diffs"),
        F.round(F.col("st.sig2"), 6).alias("sigma2_last"),
        F.round(F.col("st.mx"), 6).alias("sigma2_peak"))


@register(
    "ts_dtw_distance",
    oracle="""
    -- Anti-diagonal wavefront DP: diagonal d depends only on d-1 and
    -- d-2, so the recursive CTE carries two 52-wide lists and never
    -- needs same-row recursion. Costs are exact cross-normalized
    -- integers (share comparison without division).
    WITH RECURSIVE weeks AS (SELECT unnest(range(0, 52)) AS w),
    wk AS (
      SELECT n_name,
             least(51, (dayofyear(o_orderdate) - 1) // 7) AS w,
             count(*) AS c
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2),
    nat AS (SELECT DISTINCT n_name FROM wk),
    a AS (
      SELECT nat.n_name, weeks.w, coalesce(wk.c, 0) AS c
      FROM nat CROSS JOIN weeks
      LEFT JOIN wk ON wk.n_name = nat.n_name AND wk.w = weeks.w),
    al AS (SELECT n_name, list(c ORDER BY w) AS av, sum(c) AS na
           FROM a GROUP BY 1),
    gw AS (
      SELECT least(51, (dayofyear(o_orderdate) - 1) // 7) AS w,
             count(*) AS c
      FROM orders GROUP BY 1),
    gd AS (
      SELECT weeks.w, coalesce(gw.c, 0) AS c
      FROM weeks LEFT JOIN gw ON gw.w = weeks.w),
    gl AS (SELECT list(c ORDER BY w) AS bv, sum(c) AS nb FROM gd),
    dtw AS (
      SELECT al.n_name, al.av, al.na, gl.bv, gl.nb, 2 AS d,
             list_transform(range(1, 53), i ->
               CASE WHEN i = 1 THEN
                 abs(CAST(al.av[1] AS HUGEINT) * gl.nb
                     - CAST(gl.bv[1] AS HUGEINT) * al.na)
               END) AS cur,
             list_transform(range(1, 53),
                            i -> CAST(NULL AS HUGEINT)) AS prev
      FROM al, gl
      UNION ALL
      SELECT n_name, av, na, bv, nb, d + 1,
             list_transform(range(1, 53), i ->
               CASE WHEN d + 1 - i BETWEEN 1 AND 52
                         AND abs(2 * i - (d + 1)) <= 3 THEN
                 abs(CAST(av[i] AS HUGEINT) * nb
                     - CAST(bv[d + 1 - i] AS HUGEINT) * na)
                 + least(CASE WHEN i > 1 THEN cur[i - 1] END,
                         cur[i],
                         CASE WHEN i > 1 THEN prev[i - 1] END)
               END),
             cur
      FROM dtw WHERE d < 104)
    SELECT n_name,
           CAST(cur[52] AS BIGINT) AS dtw_dist,
           round(CAST(cur[52] AS DOUBLE)
                 / (52.0 * na * nb), 8) AS dtw_norm
    FROM dtw WHERE d = 104
    """)
def ts_dtw_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC TIME WARPING distance (Sakoe-Chiba band r=3) between
    each nation's 52-week order-count profile and the global profile:
    unlike the lockstep L1/L2 or correlation, DTW aligns SHIFTED
    seasonality (a nation whose holiday peak lands two weeks late
    matches cheaply along the warped path instead of paying twice).
    Local cost |a_i*N_b - b_j*N_a| is the share difference
    CROSS-MULTIPLIED into exact integers -- the whole DP is
    integer-exact in both engines, no float drift on any path. The
    corpus contributes one grouped count; the DP runs per key over
    52x52 banded cells inside one Arrow-batched mapInPandas stage --
    keys parallelize across executors (the scale story for
    fleet-sized profile collections), and the oracle replays the DP
    as an anti-diagonal wavefront so no same-row recursion is needed.
    Band width 3 bounds warping to +/-3 weeks and cuts the DP to
    O(n*r)."""
    o = tables.load(spark, sf_dir, "orders")
    c = tables.load(spark, sf_dir, "customer")
    n = tables.load(spark, sf_dir, "nation")
    wcol = F.least(F.lit(51),
                   ((F.dayofyear("o_orderdate") - 1) / 7).cast("int"))
    wk = (o.join(c, o.o_custkey == c.c_custkey)
          .join(n, c.c_nationkey == n.n_nationkey)
          .groupBy("n_name", wcol.alias("w"))
          .agg(F.count(F.lit(1)).alias("c")))
    al = (wk.groupBy("n_name")
          .agg(F.map_from_entries(F.collect_list(
              F.struct("w", "c"))).alias("m"),
               F.sum("c").alias("na"))
          .select("n_name", "na", F.expr(
              "transform(sequence(0, 51), "
              "w -> coalesce(element_at(m, w), 0L))").alias("av")))
    gw = (o.groupBy(wcol.alias("w"))
          .agg(F.count(F.lit(1)).alias("c")))
    gl = (gw.agg(F.map_from_entries(F.collect_list(
        F.struct("w", "c"))).alias("m"), F.sum("c").alias("nb"))
        .select("nb", F.expr(
            "transform(sequence(0, 51), "
            "w -> coalesce(element_at(m, w), 0L))").alias("bv")))
    frame = al.crossJoin(gl)

    def _dtw(batches):
        import numpy as np
        import pandas as pd
        BIG = np.int64(2) ** 62
        for pdf in batches:
            rows = []
            for nm, na, av, nb, bv in zip(
                    pdf["n_name"], pdf["na"], pdf["av"],
                    pdf["nb"], pdf["bv"]):
                a = np.asarray(av, dtype=np.int64)
                b = np.asarray(bv, dtype=np.int64)
                na_i, nb_i = int(na), int(nb)
                m = 52
                D = np.full((m, m), BIG, dtype=np.int64)
                for i in range(m):
                    for j in range(max(0, i - 3),
                                   min(m, i + 4)):
                        cst = abs(a[i] * nb_i - b[j] * na_i)
                        if i == 0 and j == 0:
                            D[i, j] = cst
                            continue
                        best = BIG
                        if i > 0 and D[i - 1, j] < best:
                            best = D[i - 1, j]
                        if j > 0 and D[i, j - 1] < best:
                            best = D[i, j - 1]
                        if i > 0 and j > 0 and D[i - 1, j - 1] < best:
                            best = D[i - 1, j - 1]
                        D[i, j] = cst + best
                rows.append((nm, int(D[m - 1, m - 1]), na_i, nb_i))
            yield pd.DataFrame(rows, columns=[
                "n_name", "dtw_dist", "na", "nb"])

    from pmc_conversion_spark.util import ensure_parallelism
    res = ensure_parallelism(frame).mapInPandas(
        _dtw, "n_name string, dtw_dist long, na long, nb long")
    return res.select(
        "n_name", "dtw_dist",
        F.round(F.col("dtw_dist").cast("double")
                / (52.0 * F.col("na") * F.col("nb")), 8)
        .alias("dtw_norm"))


@register(
    "ts_spectral_entropy",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS d, count(*) AS y
      FROM orders GROUP BY 1),
    t0 AS (SELECT min(d) AS t0, count(*) AS nn FROM daily),
    idx AS (
      SELECT date_diff('day', t0.t0, daily.d) AS n, daily.y, t0.nn
      FROM daily, t0),
    ks AS (SELECT unnest(range(1, 17)) AS k),
    terms AS (
      SELECT ks.k, i.n, i.nn,
             i.y * cos(2 * pi() * ks.k * i.n / i.nn) AS ct,
             i.y * sin(2 * pi() * ks.k * i.n / i.nn) AS st
      FROM idx i, ks),
    folded AS (
      SELECT k, any_value(nn) AS nn,
             list_reduce(list(ct ORDER BY n), (a, x) -> a + x) AS ca,
             list_reduce(list(st ORDER BY n), (a, x) -> a + x) AS sb
      FROM terms GROUP BY k),
    pw AS (SELECT k, nn, ca * ca + sb * sb AS p FROM folded),
    tot AS (
      SELECT list_reduce(list(p ORDER BY k), (a, x) -> a + x) AS tp,
             list_reduce(list(ln(p) ORDER BY k), (a, x) -> a + x)
               AS tlp
      FROM pw),
    ent AS (
      SELECT list_reduce(
               list(-(p / tot.tp) * ln(p / tot.tp) ORDER BY k),
               (a, x) -> a + x) / ln(16.0) AS h,
             exp(tot.tlp / 16.0) / (tot.tp / 16.0) AS flat
      FROM pw, tot GROUP BY tot.tp, tot.tlp),
    peak AS (
      SELECT k FROM pw, tot
      ORDER BY round(p / tot.tp, 6) DESC, k LIMIT 1)
    SELECT (SELECT CAST(any_value(nn) AS BIGINT) FROM pw) AS n_days,
           (SELECT CAST(k AS BIGINT) FROM peak) AS peak_harmonic,
           round((SELECT h FROM ent), 4) AS spectral_entropy_norm,
           round((SELECT flat FROM ent), 4) AS spectral_flatness
    """)
def ts_spectral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPECTRAL ENTROPY + FLATNESS of the daily order series over the
    first 16 Fourier harmonics: H = -sum p_k ln p_k / ln K on the
    normalized periodogram, flatness = geometric/arithmetic power
    mean (Wiener entropy). H near 1 = white noise (no structure to
    forecast); H near 0 = one dominant cycle -- THE one-number
    forecastability screen run before fitting any seasonal model
    (`ts_holt_winters`, `ts_seasonal_decompose` assume what this
    measures). The peak harmonic is reported on the 6dp-rounded
    normalized power with a deterministic tie-break. Per-harmonic
    cos/sin reductions fold in day order (`ts_fourier_energy`
    policy) so float sums are association-fixed; the 16-term entropy
    and log-power sums fold in k order for the same reason; 4dp
    rounding absorbs per-term libm ulps. One day-grouped partial agg
    scans the corpus; all spectral math rides the 2.4k-row frame."""
    import math

    o = tables.load(spark, sf_dir, "orders")
    daily = (o.select(F.date_trunc("day", F.col("o_orderdate"))
                      .alias("d"))
             .groupBy("d").agg(F.count(F.lit(1)).alias("y")))
    t0 = daily.agg(F.min("d").alias("t0"),
                   F.count(F.lit(1)).alias("nn"))
    idx = (daily.crossJoin(t0)
           .select(F.datediff(F.col("d"), F.col("t0")).alias("n"),
                   "y", "nn"))
    ks = spark.range(1, 17).select(F.col("id").alias("k"))
    ang = 2 * math.pi * F.col("k") * F.col("n") / F.col("nn")
    terms = (idx.crossJoin(ks)
             .select("k", "n", "nn",
                     (F.col("y") * F.cos(ang)).alias("ct"),
                     (F.col("y") * F.sin(ang)).alias("st")))
    fold = lambda c: F.expr(
        f"aggregate(slice({c}, 2, greatest(size({c}) - 1, 0)), "
        f"{c}[0], (a, x) -> a + x)")
    folded = (terms.groupBy("k")
              .agg(F.max("nn").alias("nn"),
                   F.expr("transform(array_sort(collect_list("
                          "struct(n, ct))), s -> s.ct)").alias("cl"),
                   F.expr("transform(array_sort(collect_list("
                          "struct(n, st))), s -> s.st)").alias("sl"))
              .select("k", "nn", fold("cl").alias("ca"),
                      fold("sl").alias("sb")))
    pw = folded.select(
        "k", "nn",
        (F.col("ca") * F.col("ca") + F.col("sb") * F.col("sb"))
        .alias("p"))
    tot = (pw.agg(
        F.expr("transform(array_sort(collect_list(struct(k, p))), "
               "s -> s.p)").alias("pl"))
        .select(fold("pl").alias("tp"),
                F.expr("aggregate(slice(transform(pl, x -> ln(x)), 2, "
                       "greatest(size(pl) - 1, 0)), "
                       "transform(pl, x -> ln(x))[0], "
                       "(a, x) -> a + x)").alias("tlp")))
    pt = pw.crossJoin(tot)
    ent = (pt.agg(
        F.expr("transform(array_sort(collect_list(struct(k, "
               "-(p / tp) * ln(p / tp) as e))), s -> s.e)")
        .alias("el"),
        F.max("tp").alias("tp2"), F.max("tlp").alias("tlp2"))
        .select((fold("el") / math.log(16.0)).alias("h"),
                (F.exp(F.col("tlp2") / 16.0)
                 / (F.col("tp2") / 16.0)).alias("flat")))
    peak = (pt.select("k", F.round(F.col("p") / F.col("tp"), 6)
                      .alias("pn"))
            .orderBy(F.desc("pn"), "k").limit(1))
    nd = pw.agg(F.max("nn").cast("bigint").alias("n_days"))
    return (nd.crossJoin(peak)
            .crossJoin(ent)
            .select("n_days",
                    F.col("k").cast("bigint").alias("peak_harmonic"),
                    F.round("h", 4).alias("spectral_entropy_norm"),
                    F.round("flat", 4).alias("spectral_flatness")))


@register(
    "stream_cep_followed_by",
    oracle="""
    WITH v AS (SELECT user_id, ts FROM events
               WHERE event_type = 'view'),
    c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, ts, event_id FROM events
          WHERE event_type = 'purchase'),
    qc AS (
      SELECT DISTINCT c.user_id, c.ts
      FROM c JOIN v ON v.user_id = c.user_id
       AND v.ts < c.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE),
    qp AS (
      SELECT DISTINCT p.user_id, p.event_id
      FROM p JOIN qc ON qc.user_id = p.user_id
       AND qc.ts < p.ts AND p.ts <= qc.ts + INTERVAL 30 MINUTE)
    SELECT p.user_id,
           count(*) AS n_purchases,
           count(qp.event_id) AS n_matched
    FROM p LEFT JOIN qp ON qp.user_id = p.user_id
                       AND qp.event_id = p.event_id
    GROUP BY 1
    """)
def stream_cep_followed_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPLEX-EVENT-PROCESSING 'followedBy' pattern (the RELAXED
    contiguity Flink CEP calls followedBy, vs the strict-adjacency
    lag-chain of `stream_funnel_detect`): purchase matched iff SOME
    click happened in the 30 minutes before it AND that click had
    SOME view in the 30 minutes before IT -- other events may
    interleave freely, which is how real funnels look (error and
    signup events between steps must not break the match). Expressed
    as two per-user interval SEMI-JOIN stages (qualified clicks, then
    qualified purchases): each stage shuffles once on user_id and the
    range predicate prunes inside the per-user group, exactly the
    keyed-state + event-time-timer layout the streaming form would
    run under `transformWithState`. Exact counts, no floats."""
    e = _events(spark, sf_dir)
    v = (e.filter(F.col("event_type") == "view")
         .select(F.col("user_id").alias("vu"),
                 F.col("ts").alias("vts")))
    c = (e.filter(F.col("event_type") == "click")
         .select(F.col("user_id").alias("cu"),
                 F.col("ts").alias("cts")))
    p = (e.filter(F.col("event_type") == "purchase")
         .select("user_id", "ts", "event_id"))
    qc = (c.join(v, (F.col("vu") == F.col("cu"))
                 & (F.col("vts") < F.col("cts"))
                 & (F.col("cts") <= F.col("vts")
                    + F.expr("INTERVAL 30 MINUTES")), "leftsemi")
          .distinct())
    qp = (p.join(qc, (F.col("cu") == F.col("user_id"))
                 & (F.col("cts") < F.col("ts"))
                 & (F.col("ts") <= F.col("cts")
                    + F.expr("INTERVAL 30 MINUTES")), "leftsemi")
          .select("user_id", "event_id").distinct()
          .withColumn("hit", F.lit(1)))
    return (p.join(qp, ["user_id", "event_id"], "left")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_purchases"),
                 F.count("hit").alias("n_matched")))


@register(
    "ts_sample_entropy",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS d, count(*) AS y
      FROM orders GROUP BY 1),
    pos AS (
      SELECT row_number() OVER (ORDER BY d) AS p, y AS w0,
             lead(y, 1) OVER (ORDER BY d) AS w1,
             lead(y, 2) OVER (ORDER BY d) AS w2
      FROM daily),
    pairs AS (
      SELECT
        sum(CASE WHEN a.w2 IS NOT NULL AND b.w2 IS NOT NULL
                  AND greatest(abs(a.w0 - b.w0), abs(a.w1 - b.w1)) <= 2
            THEN 1 ELSE 0 END) AS b_cnt,
        sum(CASE WHEN a.w2 IS NOT NULL AND b.w2 IS NOT NULL
                  AND greatest(abs(a.w0 - b.w0), abs(a.w1 - b.w1),
                               abs(a.w2 - b.w2)) <= 2
            THEN 1 ELSE 0 END) AS a_cnt
      FROM pos a JOIN pos b ON a.p < b.p),
    n AS (SELECT count(*) AS nn FROM daily)
    SELECT (SELECT CAST(nn AS BIGINT) FROM n) AS n_days,
           CAST(b_cnt AS BIGINT) AS template_matches_m2,
           CAST(a_cnt AS BIGINT) AS template_matches_m3,
           round(-ln(CAST(a_cnt AS DOUBLE) / b_cnt), 6) AS sampen
    FROM pairs
    """)
def ts_sample_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLE ENTROPY (Richman & Moorman 2000; m=2, Chebyshev
    tolerance r=2 counts) of the daily order series: SampEn =
    -ln(A/B) where B counts length-2 template matches and A counts
    length-3, BOTH restricted to the first N-m templates (positions
    whose length-3 window exists) so the two counts range over the
    same template set, as the definition requires (r7 ADVICE fix:
    the earlier form let B see one extra template) -- the REGULARITY
    measure from physiologic time-series
    analysis: low SampEn = patterns that repeat (predictable), high =
    each new point is news. Complements the linear diagnostics
    (`ts_autocorr_lag`, `ts_spectral_entropy`) because template
    matching sees NONLINEAR recurrence that autocorrelation misses.
    Counts are exact integers on integer data with an integer
    tolerance -- no float enters until the final log ratio. The
    all-pairs template join is O(n^2) on the DATE-SPAN frame (2.4k
    positions, `ts_matrix_profile` precedent), never the corpus; for
    long series the same counts bucket by value range (templates
    within tolerance share a coarse grid cell) -- the standard
    lattice speedup, same composition as the LSH family."""
    o = tables.load(spark, sf_dir, "orders")
    daily = (o.select(F.date_trunc("day", F.col("o_orderdate"))
                      .alias("d"))
             .groupBy("d").agg(F.count(F.lit(1)).alias("y")))
    w = Window.orderBy("d")
    pos = daily.select(
        F.row_number().over(w).alias("p"),
        F.col("y").alias("w0"),
        F.lead("y", 1).over(w).alias("w1"),
        F.lead("y", 2).over(w).alias("w2"))
    b = pos.select(F.col("p").alias("q"), F.col("w0").alias("v0"),
                   F.col("w1").alias("v1"), F.col("w2").alias("v2"))
    pairs = pos.join(b, F.col("p") < F.col("q"))
    chb2 = F.greatest(F.abs(F.col("w0") - F.col("v0")),
                      F.abs(F.col("w1") - F.col("v1")))
    chb3 = F.greatest(F.abs(F.col("w0") - F.col("v0")),
                      F.abs(F.col("w1") - F.col("v1")),
                      F.abs(F.col("w2") - F.col("v2")))
    agg = pairs.agg(
        F.sum(F.when(F.col("w2").isNotNull() & F.col("v2").isNotNull()
                     & (chb2 <= 2), 1).otherwise(0)).alias("b_cnt"),
        F.sum(F.when(F.col("w2").isNotNull() & F.col("v2").isNotNull()
                     & (chb3 <= 2), 1).otherwise(0)).alias("a_cnt"))
    n = daily.agg(F.count(F.lit(1)).alias("nn"))
    return (agg.crossJoin(n)
            .select(F.col("nn").cast("bigint").alias("n_days"),
                    F.col("b_cnt").cast("bigint")
                    .alias("template_matches_m2"),
                    F.col("a_cnt").cast("bigint")
                    .alias("template_matches_m3"),
                    F.round(-F.log(F.col("a_cnt").cast("double")
                                   / F.col("b_cnt")), 6)
                    .alias("sampen")))


@register(
    "agg_adstock_effect",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT date_trunc('day', o_orderdate) AS d, count(*) AS x,
             sum(CAST(round(o_totalprice * 100) AS HUGEINT)) AS rev
      FROM orders GROUP BY 1),
    seq AS (
      SELECT d, x,
             lead(rev) OVER (ORDER BY d) AS ynext
      FROM daily),
    pairs AS (
      SELECT list(x ORDER BY d) AS xs,
             list(CAST(ynext AS DOUBLE) ORDER BY d) AS ys,
             count(*) AS m
      FROM seq WHERE ynext IS NOT NULL),
    step AS (
      SELECT xs, ys, m, 1 AS k,
             xs[1]::DOUBLE AS a,
             xs[1]::DOUBLE AS sa,
             (xs[1]::DOUBLE * xs[1]) AS saa,
             (xs[1]::DOUBLE * ys[1]) AS say,
             ys[1]::DOUBLE AS sy,
             (ys[1] * ys[1])::DOUBLE AS syy
      FROM pairs
      UNION ALL
      SELECT xs, ys, m, k + 1,
             xs[k + 1] + 0.5::DOUBLE * a,
             sa + (xs[k + 1] + 0.5::DOUBLE * a),
             saa + (xs[k + 1] + 0.5::DOUBLE * a)
                 * (xs[k + 1] + 0.5::DOUBLE * a),
             say + (xs[k + 1] + 0.5::DOUBLE * a) * ys[k + 1],
             sy + ys[k + 1],
             syy + ys[k + 1] * ys[k + 1]
      FROM step WHERE k < m),
    fin AS (SELECT * FROM step WHERE k = m),
    raw AS (
      SELECT count(*) AS n, sum(x) AS sx,
             sum(CAST(x AS HUGEINT) * x) AS sxx,
             sum(CAST(x AS HUGEINT) * CAST(round(ynext) AS HUGEINT))
               AS sxy,
             sum(CAST(round(ynext) AS HUGEINT)) AS syr,
             sum(CAST(round(ynext) AS HUGEINT)
                 * CAST(round(ynext) AS HUGEINT)) AS syy
      FROM seq WHERE ynext IS NOT NULL)
    SELECT CAST(fin.m AS BIGINT) AS n_pairs,
           round(fin.a, 4) AS adstock_final,
           round((fin.m * fin.say - fin.sa * fin.sy)
                 / sqrt((fin.m * fin.saa - fin.sa * fin.sa)
                        * (fin.m * fin.syy - fin.sy * fin.sy)), 6)
             AS r_adstock,
           round(CAST(raw.n * raw.sxy
                      - CAST(raw.sx AS HUGEINT) * raw.syr AS DOUBLE)
                 / sqrt(CAST(raw.n * raw.sxx
                        - CAST(raw.sx AS HUGEINT) * raw.sx AS DOUBLE)
                        * CAST(raw.n * raw.syy
                          - CAST(raw.syr AS HUGEINT) * raw.syr
                          AS DOUBLE)), 6) AS r_raw
    FROM fin, raw
    """)
def agg_adstock_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEOMETRIC ADSTOCK (advertising carryover, lambda=0.5): a_t =
    x_t + 0.5*a_{t-1} turns daily order VOLUME into accumulated
    'pressure', then correlates it with NEXT-day revenue alongside
    the raw same-lag correlation -- r_adstock > r_raw is the
    marketing-mix-model evidence that impact DECAYS rather than
    expires (the transform every MMM fits before regression; lambda
    would be grid-searched, here pinned at the half-life-one-day
    point). The recursion and all five adstock moment sums run in
    ONE sequential fold over the day-ordered series (a single
    accumulator struct -- `ts_kalman_1d` discipline, so both engines
    execute the identical IEEE sequence); the raw correlation uses
    exact integer moments. One day-grouped scan; the fold rides the
    2.4k-row date-span frame."""
    o = tables.load(spark, sf_dir, "orders")
    # project the day key BEFORE grouping: groupBy(expr.alias("d"))
    # would surface as `_groupingexpression` in the physical plan and
    # hide the date-span boundedness from the registry window audit
    daily = (o.select(F.date_trunc("day", F.col("o_orderdate"))
                      .alias("d"), "o_totalprice")
             .groupBy("d")
             .agg(F.count(F.lit(1)).alias("x"),
                  F.sum(F.round(F.col("o_totalprice") * 100)
                        .cast("decimal(38,0)")).alias("rev")))
    w = Window.orderBy("d")
    seq = daily.select("d", "x",
                       F.lead("rev").over(w).cast("double")
                       .alias("ynext"))
    pairs = (seq.filter(F.col("ynext").isNotNull())
             .agg(F.sort_array(F.collect_list(
                 F.struct("d", "x", "ynext"))).alias("ss"),
                 F.count(F.lit(1)).alias("m")))
    folded = pairs.select("m", F.expr(
        "aggregate(slice(ss, 2, greatest(size(ss) - 1, 0)), "
        "named_struct("
        "'a', CAST(ss[0].x AS DOUBLE), "
        "'sa', CAST(ss[0].x AS DOUBLE), "
        "'saa', CAST(ss[0].x AS DOUBLE) * ss[0].x, "
        "'say', CAST(ss[0].x AS DOUBLE) * ss[0].ynext, "
        "'sy', ss[0].ynext, "
        "'syy', ss[0].ynext * ss[0].ynext), "
        "(acc, s) -> named_struct("
        "'a', s.x + 0.5D * acc.a, "
        "'sa', acc.sa + (s.x + 0.5D * acc.a), "
        "'saa', acc.saa + (s.x + 0.5D * acc.a) "
        "* (s.x + 0.5D * acc.a), "
        "'say', acc.say + (s.x + 0.5D * acc.a) * s.ynext, "
        "'sy', acc.sy + s.ynext, "
        "'syy', acc.syy + s.ynext * s.ynext))").alias("st"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    raw = (seq.filter(F.col("ynext").isNotNull())
           .select("x", F.round("ynext").cast("bigint").alias("yr"))
           .agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("sx"),
                F.sum(dec("x") * F.col("x")).alias("sxx"),
                F.sum(dec("x") * F.col("yr")).alias("sxy"),
                F.sum("yr").alias("syr"),
                F.sum(dec("yr") * F.col("yr")).alias("syy")))
    r_ad = ((F.col("m") * F.col("st.say")
             - F.col("st.sa") * F.col("st.sy"))
            / F.sqrt((F.col("m") * F.col("st.saa")
                      - F.col("st.sa") * F.col("st.sa"))
                     * (F.col("m") * F.col("st.syy")
                        - F.col("st.sy") * F.col("st.sy"))))
    r_raw = ((F.col("n") * F.col("sxy") - dec("sx") * F.col("syr"))
             .cast("double")
             / F.sqrt((F.col("n") * F.col("sxx")
                       - dec("sx") * F.col("sx")).cast("double")
                      * (F.col("n") * F.col("syy")
                         - dec("syr") * F.col("syr")).cast("double")))
    return (folded.crossJoin(F.broadcast(raw))
            .select(F.col("m").cast("bigint").alias("n_pairs"),
                    F.round(F.col("st.a"), 4).alias("adstock_final"),
                    F.round(r_ad, 6).alias("r_adstock"),
                    F.round(r_raw, 6).alias("r_raw")))


# ------------------------------------------------- r8 wave

@register(
    "ts_variance_ratio",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS d, count(*) AS y
      FROM orders GROUP BY 1),
    lg AS (
      SELECT y - lag(y, 1) OVER (ORDER BY d) AS d1,
             y - lag(y, 5) OVER (ORDER BY d) AS d5
      FROM daily),
    s AS (
      SELECT CAST(count(d1) AS HUGEINT) AS m1,
             CAST(sum(d1) AS HUGEINT) AS s1,
             CAST(sum(CAST(d1 AS HUGEINT) * d1) AS HUGEINT) AS q1,
             CAST(count(d5) AS HUGEINT) AS m5,
             CAST(sum(d5) AS HUGEINT) AS s5,
             CAST(sum(CAST(d5 AS HUGEINT) * d5) AS HUGEINT) AS q5
      FROM lg),
    v AS (
      SELECT m1, m5,
             CAST(m1 * q1 - s1 * s1 AS DOUBLE)
               / CAST(m1 AS DOUBLE) / m1 AS v1,
             CAST(m5 * q5 - s5 * s5 AS DOUBLE)
               / CAST(m5 AS DOUBLE) / m5 AS v5
      FROM s)
    SELECT CAST(m1 AS BIGINT) AS n_diffs,
           round(v5 / 5.0 / v1, 6) AS vr5,
           round((v5 / 5.0 / v1 - 1.0)
                 * sqrt(CAST(m5 AS DOUBLE) / (2.0 * (2 * 5 - 1)
                                              * (5 - 1) / (3.0 * 5))),
                 6) AS z_homoskedastic
    FROM v
    """)
def ts_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LO–MACKINLAY VARIANCE RATIO test (q = 5) on daily order
    counts: a random walk has Var(5-day change) = 5·Var(1-day
    change), so VR(5) ≈ 1; VR < 1 is mean reversion, VR > 1
    momentum. The standard market-efficiency diagnostic, and the
    natural complement of `ts_adf_test` (unit root) and
    `agg_hurst_exponent` (long memory) — VR localizes WHERE the
    aggregation variance breaks. Overlapping 5-day differences via
    one ordered window; both variances cross-multiplied exact
    (m·Σd² − (Σd)²) before a pinned double chain; the
    homoskedastic z uses the literal Lo–MacKinlay scaling
    2(2q−1)(q−1)/(3q). One day-grouped aggregate + one window on the
    calendar-bounded frame."""
    o = tables.load(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    daily = (o.select(F.date_trunc("day", F.col("o_orderdate"))
                      .alias("d"))
             .groupBy("d").agg(F.count(F.lit(1)).alias("y")))
    w = Window.orderBy("d")
    lg = daily.select(
        (F.col("y") - F.lag("y", 1).over(w)).alias("d1"),
        (F.col("y") - F.lag("y", 5).over(w)).alias("d5"))
    s = lg.agg(
        F.count("d1").cast(dec).alias("m1"),
        F.sum("d1").cast(dec).alias("s1"),
        F.sum(F.col("d1").cast(dec) * F.col("d1")).alias("q1"),
        F.count("d5").cast(dec).alias("m5"),
        F.sum("d5").cast(dec).alias("s5"),
        F.sum(F.col("d5").cast(dec) * F.col("d5")).alias("q5"))
    v1 = (F.col("m1") * F.col("q1") - F.col("s1") * F.col("s1")) \
        .cast("double") / F.col("m1").cast("double") / F.col("m1")
    v5 = (F.col("m5") * F.col("q5") - F.col("s5") * F.col("s5")) \
        .cast("double") / F.col("m5").cast("double") / F.col("m5")
    vr = v5 / 5.0 / v1
    z = (vr - 1.0) * F.sqrt(
        F.col("m5").cast("double")
        / (2.0 * (2 * 5 - 1) * (5 - 1) / (3.0 * 5)))
    return s.select(F.col("m1").cast("bigint").alias("n_diffs"),
                    F.round(vr, 6).alias("vr5"),
                    F.round(z, 6).alias("z_homoskedastic"))


@register(
    "win_ulcer_index",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS HUGEINT))
                  AS HUGEINT) AS y
      FROM orders GROUP BY 1),
    cum AS (
      SELECT d, y,
             sum(y) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS eq
      FROM daily),
    pk AS (
      SELECT d, eq,
             max(eq) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS peak
      FROM cum),
    dd AS (
      SELECT d,
             CAST(round((CAST(peak - eq AS DOUBLE) / CAST(peak AS DOUBLE))
                        * 1000000000.0) AS HUGEINT) AS q
      FROM pk)
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           round(CAST(max(q) AS DOUBLE) / 10000000.0, 6)
             AS max_drawdown_pct,
           round(sqrt(CAST(sum(q * q) AS DOUBLE) / count(*))
                 / 10000000.0, 6) AS ulcer_index_pct
    FROM dd
    """)
def win_ulcer_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ULCER INDEX of the cumulative-revenue equity curve: the RMS of
    percentage drawdowns from the running peak — Peter Martin's
    risk measure that `win_drawdown`'s single max-drawdown number
    cannot replace: UI integrates DEPTH × DURATION of every
    underwater stretch, which is what an allocator actually suffers.
    Running sum and running max ride one ordered pass over the
    calendar-bounded daily frame; each drawdown ratio is ONE pinned
    double division quantized to a 1e-9 grid (exact hugeints from
    there), so the RMS is a single documented double expression.
    Reported in percent alongside max drawdown for scale."""
    o = tables.load(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    daily = (o.select(F.date_trunc("day", F.col("o_orderdate"))
                      .cast("date").alias("d"),
                      F.round(F.col("o_totalprice") * 100).cast(dec)
                      .alias("pc"))
             .groupBy("d").agg(F.sum("pc").alias("y")))
    w = (Window.orderBy("d")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = daily.select("d", F.sum("y").over(w).alias("eq"))
    pk = cum.select("d", "eq", F.max("eq").over(
        Window.orderBy("d").rowsBetween(Window.unboundedPreceding,
                                        Window.currentRow))
        .alias("peak"))
    dd = pk.select(
        "d",
        F.round(((F.col("peak") - F.col("eq")).cast("double")
                 / F.col("peak").cast("double")) * 1000000000.0)
        .cast(dec).alias("q"))
    return dd.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.round(F.max("q").cast("double") / 10000000.0, 6)
        .alias("max_drawdown_pct"),
        F.round(F.sqrt(F.sum(F.col("q") * F.col("q")).cast("double")
                       / F.count(F.lit(1))) / 10000000.0, 6)
        .alias("ulcer_index_pct"))


@register(
    "win_kaufman_er",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS HUGEINT))
                  AS HUGEINT) AS y
      FROM orders GROUP BY 1),
    chg AS (
      SELECT d, y,
             abs(y - lag(y, 1) OVER (ORDER BY d)) AS a1,
             abs(y - lag(y, 10) OVER (ORDER BY d)) AS net10,
             count(*) OVER (ORDER BY d ROWS BETWEEN 9 PRECEDING
                            AND CURRENT ROW) AS nwin
      FROM daily),
    vol AS (
      SELECT d, y, net10, nwin,
             sum(a1) OVER (ORDER BY d ROWS BETWEEN 9 PRECEDING
                           AND CURRENT ROW) AS vol10
      FROM chg)
    SELECT d, CAST(round(CAST(y AS DOUBLE) / 100.0, 2) AS DOUBLE)
             AS revenue,
           CASE WHEN nwin = 10 AND net10 IS NOT NULL AND vol10 > 0
             THEN round(CAST(net10 AS DOUBLE) / CAST(vol10 AS DOUBLE),
                        6) END AS efficiency_ratio
    FROM vol
    """)
def win_kaufman_er(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAUFMAN EFFICIENCY RATIO over daily revenue: net 10-day move
    divided by the sum of the 10 daily absolute moves — 1.0 is a
    straight-line trend, →0 is pure churn. The adaptive-moving-
    average literature's trend/noise discriminator, complementing
    the level-based indicators (`win_stochastic_osc`, RSI family)
    with a PATH-quality measure: two series can end at the same
    price with wildly different ER. All numerators/denominators are
    exact revenue-cent integers from lag and a 10-row bounded frame;
    one final guarded double division (flat windows → NULL, pinned).
    Day-keyed aggregate + bounded-frame windows: calendar domain."""
    o = tables.load(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    daily = (o.select(F.date_trunc("day", F.col("o_orderdate"))
                      .cast("date").alias("d"),
                      F.round(F.col("o_totalprice") * 100).cast(dec)
                      .alias("pc"))
             .groupBy("d").agg(F.sum("pc").alias("y")))
    w = Window.orderBy("d")
    wf = Window.orderBy("d").rowsBetween(-9, Window.currentRow)
    chg = daily.select(
        "d", "y",
        F.abs(F.col("y") - F.lag("y", 1).over(w)).alias("a1"),
        F.abs(F.col("y") - F.lag("y", 10).over(w)).alias("net10"),
        F.count(F.lit(1)).over(wf).alias("nwin"))
    vol = chg.select("d", "y", "net10", "nwin",
                     F.sum("a1").over(
                         Window.orderBy("d")
                         .rowsBetween(-9, Window.currentRow))
                     .alias("vol10"))
    er = F.when((F.col("nwin") == 10) & F.col("net10").isNotNull()
                & (F.col("vol10") > 0),
                F.round(F.col("net10").cast("double")
                        / F.col("vol10").cast("double"), 6))
    return vol.select(
        "d",
        F.round(F.col("y").cast("double") / 100.0, 2).alias("revenue"),
        er.alias("efficiency_ratio"))


@register(
    "stream_cep_negation",
    oracle="""
    WITH p AS (SELECT user_id, ts, event_id FROM events
               WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    cold AS (
      SELECT p.user_id, p.event_id
      FROM p
      WHERE NOT EXISTS (
        SELECT 1 FROM c
        WHERE c.user_id = p.user_id
          AND c.ts < p.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE))
    SELECT p.user_id,
           count(*) AS n_purchases,
           count(cold.event_id) AS n_cold
    FROM p LEFT JOIN cold ON cold.user_id = p.user_id
                         AND cold.event_id = p.event_id
    GROUP BY 1
    """)
def stream_cep_negation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP NEGATION pattern ('purchase NOT preceded by click within
    30 minutes') — the absence patterns Flink CEP writes as
    notFollowedBy/notPrecededBy and SQL MATCH_RECOGNIZE cannot
    express at all: a match is defined by what DIDN'T happen in a
    window. The dual of `stream_cep_followed_by`: that op qualifies
    events by interval SEMI-join, this one DISqualifies by interval
    ANTI-join — same per-user keyed-state layout under
    transformWithState (a purchase waits 30 minutes of event time;
    if no click timer cancels it, it emits as 'cold'). Cold
    purchases are attribution leaks / bot signals in funnel
    analytics. One shuffle per side on user_id, range predicate
    pruned inside the group; exact counts."""
    e = _events(spark, sf_dir)
    p = (e.filter(F.col("event_type") == "purchase")
         .select("user_id", "ts", "event_id"))
    c = (e.filter(F.col("event_type") == "click")
         .select(F.col("user_id").alias("cu"),
                 F.col("ts").alias("cts")))
    cold = (p.join(c, (F.col("cu") == F.col("user_id"))
                   & (F.col("cts") < F.col("ts"))
                   & (F.col("ts") <= F.col("cts")
                      + F.expr("INTERVAL 30 MINUTES")), "leftanti")
            .select("user_id", "event_id").withColumn("hit", F.lit(1)))
    return (p.join(cold, ["user_id", "event_id"], "left")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_purchases"),
                 F.count("hit").alias("n_cold")))


@register(
    "ts_turning_points",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS d, count(*) AS y
      FROM orders GROUP BY 1),
    tri AS (
      SELECT lag(y) OVER (ORDER BY d) AS yp, y,
             lead(y) OVER (ORDER BY d) AS yn
      FROM daily),
    t AS (
      SELECT count(*) AS n_interior,
             sum(CASE WHEN (yp < y AND y > yn)
                        OR (yp > y AND y < yn) THEN 1 ELSE 0 END) AS tp
      FROM tri WHERE yp IS NOT NULL AND yn IS NOT NULL),
    s AS (SELECT n_interior, tp,
                 CAST(n_interior + 2 AS BIGINT) AS n FROM t)
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(tp AS BIGINT) AS turning_points,
           round(2.0 * (n - 2) / 3.0, 6) AS expected,
           round((tp - 2.0 * (n - 2) / 3.0)
                 / sqrt((16.0 * n - 29.0) / 90.0), 6) AS z_stat
    FROM s
    """)
def ts_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TURNING-POINTS test of randomness on the daily order series:
    count strict local extrema (peaks and troughs); under iid the
    expected count is 2(n−2)/3 with variance (16n−29)/90, so the z
    score flags EITHER too-smooth (trend/persistence → few turns)
    OR too-oscillatory (negative autocorrelation → many turns)
    series — the cheap nonparametric screen Kendall's classic text
    runs before any model fit, complementing `win_runs_test` (sign
    runs) with a SHAPE-based randomness check that needs no median
    split. Strict inequalities pinned (plateau points are not
    extrema); counts exact; mean/variance formulas literal. One
    day-grouped aggregate + one lag/lead window on the calendar
    frame."""
    o = tables.load(spark, sf_dir, "orders")
    daily = (o.select(F.date_trunc("day", F.col("o_orderdate"))
                      .alias("d"))
             .groupBy("d").agg(F.count(F.lit(1)).alias("y")))
    w = Window.orderBy("d")
    tri = (daily.select(F.lag("y").over(w).alias("yp"), "y",
                        F.lead("y").over(w).alias("yn"))
           .filter(F.col("yp").isNotNull() & F.col("yn").isNotNull()))
    t = tri.agg(
        F.count(F.lit(1)).alias("n_interior"),
        F.sum(F.when(((F.col("yp") < F.col("y"))
                      & (F.col("y") > F.col("yn")))
                     | ((F.col("yp") > F.col("y"))
                        & (F.col("y") < F.col("yn"))), 1)
              .otherwise(0)).alias("tp"))
    s = t.select("tp", (F.col("n_interior") + 2).alias("n"))
    exp = 2.0 * (F.col("n") - 2) / 3.0
    z = (F.col("tp") - exp) / F.sqrt((16.0 * F.col("n") - 29.0) / 90.0)
    return s.select(F.col("n").cast("bigint").alias("n_days"),
                    F.col("tp").cast("bigint").alias("turning_points"),
                    F.round(exp, 6).alias("expected"),
                    F.round(z, 6).alias("z_stat"))


@register(
    "ts_kpss_test",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS d, count(*) AS y
      FROM orders GROUP BY 1),
    s0 AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(y) AS HUGEINT) AS sy
      FROM daily),
    e AS (
      SELECT d,
             s0.n * y - s0.sy AS ne,
             s0.n * sum(y) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
                                 PRECEDING AND CURRENT ROW)
               - (row_number() OVER (ORDER BY d)) * s0.sy AS ns
      FROM daily, s0),
    lx AS (
      SELECT ne, ns,
             lag(ne, 1) OVER (ORDER BY d) AS e1,
             lag(ne, 2) OVER (ORDER BY d) AS e2,
             lag(ne, 3) OVER (ORDER BY d) AS e3,
             lag(ne, 4) OVER (ORDER BY d) AS e4,
             lag(ne, 5) OVER (ORDER BY d) AS e5
      FROM e),
    g AS (
      SELECT CAST(sum(ns * ns) AS HUGEINT) AS ss2,
             CAST(sum(ne * ne) AS HUGEINT) AS g0,
             CAST(sum(ne * e1) AS HUGEINT) AS g1,
             CAST(sum(ne * e2) AS HUGEINT) AS g2,
             CAST(sum(ne * e3) AS HUGEINT) AS g3,
             CAST(sum(ne * e4) AS HUGEINT) AS g4,
             CAST(sum(ne * e5) AS HUGEINT) AS g5
      FROM lx),
    f AS (
      SELECT ss2,
             6 * g0 + 2 * (5 * g1 + 4 * g2 + 3 * g3 + 2 * g4 + g5)
               AS lrv6
      FROM g)
    SELECT (SELECT CAST(n AS BIGINT) FROM s0) AS n_days,
           round(6.0 * CAST(ss2 AS DOUBLE)
                 / ((SELECT CAST(n AS DOUBLE) FROM s0)
                    * CAST(lrv6 AS DOUBLE)), 6) AS kpss_stat,
           CAST(6.0 * CAST(ss2 AS DOUBLE)
                / ((SELECT CAST(n AS DOUBLE) FROM s0)
                   * CAST(lrv6 AS DOUBLE)) > 0.463 AS BOOLEAN)
             AS reject_level_stationary_5pct
    FROM f
    """)
def ts_kpss_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPSS level-stationarity test on daily order counts — the
    NULL-reversed complement of `ts_adf_test`: ADF's null is a unit
    root (failure to reject ⇏ stationary), KPSS's null IS
    stationarity, so running both brackets the answer the way the
    econometrics cookbooks prescribe. η = n⁻²ΣS_t² / s²(l) with
    S_t the partial sums of demeaned counts and s²(l) the l=5
    Bartlett long-run variance (the `agg_newey_west_se` kernel).
    Exactness: both nS_t = n·prefix_t − t·Σy and ne_t = n·y_t − Σy
    are exact integers, every sum of their products an exact
    hugeint, and the statistic reduces to 6·Σ(nS)² / (n·[6γ̃₀ +
    2Σ(6−l)γ̃_l]) — one double division against the literal 5%
    critical value 0.463. One day aggregate + one ordered window
    pass on the calendar frame."""
    o = tables.load(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    daily = (o.select(F.date_trunc("day", F.col("o_orderdate"))
                      .alias("d"))
             .groupBy("d").agg(F.count(F.lit(1)).alias("y")))
    s0 = daily.agg(F.count(F.lit(1)).cast(dec).alias("n"),
                   F.sum("y").cast(dec).alias("sy"))
    w = Window.orderBy("d")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e = (daily.crossJoin(s0)
         .select("d",
                 (F.col("n") * F.col("y") - F.col("sy")).alias("ne"),
                 (F.col("n") * F.sum("y").over(wrun)
                  - F.row_number().over(w) * F.col("sy")).alias("ns")))
    lx = e.select(
        "ne", "ns",
        *[F.lag("ne", l).over(Window.orderBy("d")).alias(f"e{l}")
          for l in range(1, 6)])
    g = lx.agg(
        F.sum(F.col("ns") * F.col("ns")).alias("ss2"),
        F.sum(F.col("ne") * F.col("ne")).alias("g0"),
        *[F.sum(F.col("ne") * F.col(f"e{l}")).alias(f"g{l}")
          for l in range(1, 6)])
    lrv6 = (6 * F.col("g0")
            + 2 * (5 * F.col("g1") + 4 * F.col("g2") + 3 * F.col("g3")
                   + 2 * F.col("g4") + F.col("g5")))
    f = (g.crossJoin(s0)
         .select("ss2", lrv6.alias("lrv6"), "n"))
    stat = 6.0 * F.col("ss2").cast("double") \
        / (F.col("n").cast("double") * F.col("lrv6").cast("double"))
    return f.select(F.col("n").cast("bigint").alias("n_days"),
                    F.round(stat, 6).alias("kpss_stat"),
                    (stat > 0.463)
                    .alias("reject_level_stationary_5pct"))


# --------------------------------------------------------------------------
# round-8 wave 5: changepoint / homogeneity / complexity diagnostics on the
# calendar-bounded daily frame. Reference scope: thehyve/pmc-conversion
# validates incoming data drops with ad-hoc shell checks
# (scripts/check_input.sh); this wave is the engine-native generalization —
# distribution-shift and signal-complexity tests a curation pipeline runs
# over arrival-rate series before admitting a batch. Every statistic is
# computed from exact integer/hugeint sums (the KPSS discipline above), so
# the 6-dp rounded outputs are bit-identical across engines; every window
# rides the day-truncated calendar frame, bounded by date span, not corpus
# size — at 100 TB the daily aggregate is still ~2.4 k rows.
# --------------------------------------------------------------------------


@register(
    "ts_pettitt_test",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS d, count(*) AS y
      FROM orders GROUP BY 1),
    n0 AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM daily),
    r AS (
      SELECT d,
             CAST(2 * rank() OVER (ORDER BY y)
                  + count(*) OVER (PARTITION BY y) - 1 AS HUGEINT) AS m2
      FROM daily),
    u AS (
      SELECT row_number() OVER (ORDER BY d) AS t,
             CAST(sum(m2) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
                                PRECEDING AND CURRENT ROW) AS HUGEINT) AS w2
      FROM r),
    s AS (
      SELECT t, w2 - CAST(t AS HUGEINT) * (n0.n + 1) AS ut
      FROM u, n0 WHERE t < n0.n),
    k AS (SELECT t, abs(ut) AS a FROM s
          ORDER BY abs(ut) DESC, t ASC LIMIT 1)
    SELECT (SELECT CAST(n AS BIGINT) FROM n0) AS n_days,
           CAST(k.a AS BIGINT) AS k_stat,
           CAST(k.t AS BIGINT) AS cp_t,
           round(2.0 * exp(-6.0 * CAST(k.a AS DOUBLE) * CAST(k.a AS DOUBLE)
                 / (CAST(n0.n AS DOUBLE) * CAST(n0.n AS DOUBLE)
                    * CAST(n0.n AS DOUBLE)
                    + CAST(n0.n AS DOUBLE) * CAST(n0.n AS DOUBLE))), 6)
             AS p_approx,
           2.0 * exp(-6.0 * CAST(k.a AS DOUBLE) * CAST(k.a AS DOUBLE)
                 / (CAST(n0.n AS DOUBLE) * CAST(n0.n AS DOUBLE)
                    * CAST(n0.n AS DOUBLE)
                    + CAST(n0.n AS DOUBLE) * CAST(n0.n AS DOUBLE)))
             < 0.05 AS changepoint_5pct
    FROM k, n0
    """)
def ts_pettitt_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt (1979) rank changepoint test on daily order counts.

    U_t = Σ_{i≤t}Σ_{j>t} sgn(x_i − x_j) collapses to the rank
    identity U_t = Σ_{i≤t} M_i − t(n+1) with M_i = 2·midrank_i =
    2·min-rank + #ties − 1 (exact integers even under the heavy
    integer-count ties of a daily frame), so the O(n²) double sum is
    ONE value-ordered rank window plus ONE time-ordered prefix sum —
    both over the bounded calendar frame. K = max|U_t| with the
    earliest-t tie-break pinned on both engines; the approximate
    significance is the standard 2·exp(−6K²/(n³+n²)). All integer
    until the final exp. Plan: day aggregate → two bounded windows →
    TakeOrdered(1)."""
    o = tables.load(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    daily = (o.select(F.date_trunc("day", F.col("o_orderdate"))
                      .alias("d"))
             .groupBy("d").agg(F.count(F.lit(1)).alias("y")))
    n0 = daily.agg(F.count(F.lit(1)).cast(dec).alias("n"))
    m2 = (2 * F.rank().over(Window.orderBy("y"))
          + F.count(F.lit(1)).over(Window.partitionBy("y")) - 1)
    r = daily.select("d", m2.cast(dec).alias("m2"))
    wd = Window.orderBy("d")
    u = r.select(
        F.row_number().over(wd).alias("t"),
        F.sum("m2").over(wd.rowsBetween(Window.unboundedPreceding,
                                        Window.currentRow))
        .cast(dec).alias("w2"))
    s = (u.crossJoin(n0)
         .filter(F.col("t") < F.col("n"))
         .select("t", "n",
                 (F.col("w2") - F.col("t").cast(dec)
                  * (F.col("n") + 1)).alias("ut")))
    k = s.orderBy(F.abs("ut").desc(), F.col("t").asc()).limit(1)
    nd = F.col("n").cast("double")
    ka = F.abs("ut").cast("double")
    p = 2.0 * F.exp(-6.0 * ka * ka / (nd * nd * nd + nd * nd))
    return k.select(F.col("n").cast("bigint").alias("n_days"),
                    F.abs("ut").cast("bigint").alias("k_stat"),
                    F.col("t").cast("bigint").alias("cp_t"),
                    F.round(p, 6).alias("p_approx"),
                    (p < 0.05).alias("changepoint_5pct"))


@register(
    "ts_buishand_range",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS d, count(*) AS y
      FROM orders GROUP BY 1),
    s0 AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
      FROM daily),
    a AS (
      SELECT s0.n * CAST(sum(y) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
                         PRECEDING AND CURRENT ROW) AS HUGEINT)
               - CAST(row_number() OVER (ORDER BY d) AS HUGEINT) * s0.sy
               AS at
      FROM daily, s0),
    m AS (SELECT CAST(max(at) AS HUGEINT) AS amax,
                 CAST(min(at) AS HUGEINT) AS amin FROM a)
    SELECT CAST(s0.n AS BIGINT) AS n_days,
           round(CAST(m.amax - m.amin AS DOUBLE)
                 / (sqrt(CAST(s0.n * s0.syy - s0.sy * s0.sy AS DOUBLE))
                    * sqrt(CAST(s0.n AS DOUBLE))), 6) AS rb_stat,
           CAST(m.amax AS DOUBLE)
                 / (sqrt(CAST(s0.n * s0.syy - s0.sy * s0.sy AS DOUBLE))
                    * sqrt(CAST(s0.n AS DOUBLE)))
             - CAST(m.amin AS DOUBLE)
                 / (sqrt(CAST(s0.n * s0.syy - s0.sy * s0.sy AS DOUBLE))
                    * sqrt(CAST(s0.n AS DOUBLE))) > 1.55
             AS inhomogeneous_5pct
    FROM s0, m
    """)
def ts_buishand_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Buishand (1982) cumulative-deviation range homogeneity test.

    The rescaled partial sum S*_t = Σ_{i≤t}(x_i − x̄) is kept exact as
    A_t = n·prefix_t − t·Σy (hugeint); the statistic R/√n =
    (max A − min A)/(√(nΣy²−(Σy)²)·√n) is one double expression over
    four exact integers (the n² factors cancel: σ̂·n = √Q with
    Q = nΣy² − Σ²). Compared against the asymptotic 5% critical value
    1.55. One day aggregate, one bounded prefix window, one min/max
    aggregate. The inhomogeneity flag is computed from the same two
    scaled terms the oracle uses so both engines branch identically."""
    o = tables.load(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    daily = (o.select(F.date_trunc("day", F.col("o_orderdate"))
                      .alias("d"))
             .groupBy("d").agg(F.count(F.lit(1)).alias("y")))
    s0 = daily.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("y").cast(dec) * F.col("y")).cast(dec).alias("syy"))
    wd = Window.orderBy("d")
    a = (daily.crossJoin(F.broadcast(s0))
         .select((F.col("n")
                  * F.sum("y").over(wd.rowsBetween(
                      Window.unboundedPreceding, Window.currentRow))
                  .cast(dec)
                  - F.row_number().over(wd).cast(dec) * F.col("sy"))
                 .alias("at")))
    m = a.agg(F.max("at").alias("amax"), F.min("at").alias("amin"))
    j = m.crossJoin(F.broadcast(s0))
    q = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    den = F.sqrt(q.cast("double")) * F.sqrt(F.col("n").cast("double"))
    hi = F.col("amax").cast("double") / den
    lo = F.col("amin").cast("double") / den
    return j.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.round((F.col("amax") - F.col("amin")).cast("double") / den, 6)
        .alias("rb_stat"),
        (hi - lo > 1.55).alias("inhomogeneous_5pct"))


@register(
    "ts_snht",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS d, count(*) AS y
      FROM orders GROUP BY 1),
    s0 AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
      FROM daily),
    a AS (
      SELECT row_number() OVER (ORDER BY d) AS t,
             s0.n * CAST(sum(y) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
                         PRECEDING AND CURRENT ROW) AS HUGEINT)
               - CAST(row_number() OVER (ORDER BY d) AS HUGEINT) * s0.sy
               AS at,
             s0.n AS n, s0.n * s0.syy - s0.sy * s0.sy AS q
      FROM daily, s0),
    tt AS (
      SELECT t,
             CAST(at AS DOUBLE) * CAST(at AS DOUBLE) * CAST(n AS DOUBLE)
               / (CAST(t AS DOUBLE) * CAST(n - t AS DOUBLE)
                  * CAST(q AS DOUBLE)) AS tstat
      FROM a WHERE t < n),
    k AS (SELECT t, tstat FROM tt ORDER BY tstat DESC, t ASC LIMIT 1)
    SELECT (SELECT CAST(n AS BIGINT) FROM s0) AS n_days,
           round(k.tstat, 6) AS t0_stat,
           CAST(k.t AS BIGINT) AS cp_t,
           k.tstat > 9.2 AS shift_detected_5pct
    FROM k
    """)
def ts_snht(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alexandersson's Standard Normal Homogeneity Test on the daily
    frame.

    T_t = t·z̄₁² + (n−t)·z̄₂² reduces — with the exact n-scaled partial
    deviation A_t = n·prefix_t − t·Σy and Q = nΣy² − (Σy)² — to
    T_t = A_t²·n / (t·(n−t)·Q): every input to the per-t double is an
    exact hugeint, so argmax and max agree across engines bit-for-bit
    (earliest-t tie-break pinned). Flag against the ~5% asymptotic
    critical value 9.2. Same bounded-calendar plan shape as
    `ts_buishand_range`; the two tests share the A_t frame and bracket
    mean-shift inhomogeneity the way the climate-homogenization
    literature pairs them."""
    o = tables.load(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    daily = (o.select(F.date_trunc("day", F.col("o_orderdate"))
                      .alias("d"))
             .groupBy("d").agg(F.count(F.lit(1)).alias("y")))
    s0 = daily.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("y").cast(dec) * F.col("y")).cast(dec).alias("syy"))
    wd = Window.orderBy("d")
    a = (daily.crossJoin(s0)
         .select(F.row_number().over(wd).alias("t"),
                 (F.col("n")
                  * F.sum("y").over(wd.rowsBetween(
                      Window.unboundedPreceding, Window.currentRow))
                  .cast(dec)
                  - F.row_number().over(wd).cast(dec) * F.col("sy"))
                 .alias("at"),
                 F.col("n"),
                 (F.col("n") * F.col("syy")
                  - F.col("sy") * F.col("sy")).alias("q")))
    ad = F.col("at").cast("double")
    tstat = (ad * ad * F.col("n").cast("double")
             / (F.col("t").cast("double")
                * (F.col("n") - F.col("t")).cast("double")
                * F.col("q").cast("double")))
    tt = (a.filter(F.col("t") < F.col("n"))
          .select("t", F.col("n"), tstat.alias("tstat")))
    k = tt.orderBy(F.col("tstat").desc(), F.col("t").asc()).limit(1)
    return k.select(F.col("n").cast("bigint").alias("n_days"),
                    F.round("tstat", 6).alias("t0_stat"),
                    F.col("t").cast("bigint").alias("cp_t"),
                    (F.col("tstat") > 9.2).alias("shift_detected_5pct"))


@register(
    "ts_bartels_rank",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS d, count(*) AS y
      FROM orders GROUP BY 1),
    n0 AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM daily),
    r AS (
      SELECT d,
             CAST(2 * rank() OVER (ORDER BY y)
                  + count(*) OVER (PARTITION BY y) - 1 AS HUGEINT) AS m2
      FROM daily),
    lx AS (
      SELECT m2, lead(m2) OVER (ORDER BY d) AS m2n, n0.n AS n
      FROM r, n0),
    g AS (
      SELECT CAST(sum((m2 - m2n) * (m2 - m2n)) AS HUGEINT) AS nm4,
             CAST(sum((m2 - (n + 1)) * (m2 - (n + 1))) AS HUGEINT) AS d4,
             any_value(n) AS n
      FROM lx)
    SELECT CAST(n AS BIGINT) AS n_days,
           round(CAST(nm4 AS DOUBLE) / CAST(d4 AS DOUBLE), 6) AS rvn,
           round((CAST(nm4 AS DOUBLE) / CAST(d4 AS DOUBLE) - 2.0)
                 / sqrt(4.0 * CAST(n - 2 AS DOUBLE)
                        * (5.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                           - 2.0 * CAST(n AS DOUBLE) - 9.0)
                        / (5.0 * CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)
                           * CAST(n - 1 AS DOUBLE)
                           * CAST(n - 1 AS DOUBLE))), 6) AS z_stat,
           abs((CAST(nm4 AS DOUBLE) / CAST(d4 AS DOUBLE) - 2.0)
                 / sqrt(4.0 * CAST(n - 2 AS DOUBLE)
                        * (5.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                           - 2.0 * CAST(n AS DOUBLE) - 9.0)
                        / (5.0 * CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)
                           * CAST(n - 1 AS DOUBLE)
                           * CAST(n - 1 AS DOUBLE)))) > 1.96
             AS nonrandom_5pct
    FROM g
    """)
def ts_bartels_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartels (1982) rank version of the von Neumann ratio — the
    nonparametric randomness test that complements `win_runs_test`
    (signs) and `ts_turning_points` (local extrema) with rank
    *magnitudes* of successive differences.

    With doubled midranks M_i (exact under ties), RVN = Σ(r_i−r_{i+1})²
    / Σ(r_i−r̄)² = Σ(M_i−M_{i+1})² / Σ(M_i−(n+1))² — the factor 4
    cancels, r̄ = (n+1)/2 doubles to the exact integer n+1. Both sums
    are exact hugeints; z uses the exact finite-sample variance
    4(n−2)(5n²−2n−9)/(5n(n+1)(n−1)²). One rank window + one lead
    window on the calendar frame."""
    o = tables.load(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    daily = (o.select(F.date_trunc("day", F.col("o_orderdate"))
                      .alias("d"))
             .groupBy("d").agg(F.count(F.lit(1)).alias("y")))
    n0 = daily.agg(F.count(F.lit(1)).cast(dec).alias("n"))
    m2 = (2 * F.rank().over(Window.orderBy("y"))
          + F.count(F.lit(1)).over(Window.partitionBy("y")) - 1)
    r = daily.select("d", m2.cast(dec).alias("m2"))
    lx = (r.crossJoin(n0)
          .select("m2", F.lead("m2").over(Window.orderBy("d"))
                  .alias("m2n"), "n"))
    g = lx.agg(
        F.sum((F.col("m2") - F.col("m2n"))
              * (F.col("m2") - F.col("m2n"))).alias("nm4"),
        F.sum((F.col("m2") - (F.col("n") + 1))
              * (F.col("m2") - (F.col("n") + 1))).alias("d4"),
        F.any_value("n").alias("n"))
    nd = F.col("n").cast("double")
    rvn = F.col("nm4").cast("double") / F.col("d4").cast("double")
    var = (4.0 * (nd - 2.0) * (5.0 * nd * nd - 2.0 * nd - 9.0)
           / (5.0 * nd * (nd + 1.0) * (nd - 1.0) * (nd - 1.0)))
    z = (rvn - 2.0) / F.sqrt(var)
    return g.select(F.col("n").cast("bigint").alias("n_days"),
                    F.round(rvn, 6).alias("rvn"),
                    F.round(z, 6).alias("z_stat"),
                    (F.abs(z) > 1.96).alias("nonrandom_5pct"))


@register(
    "ts_dfa_alpha",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS d, count(*) AS y
      FROM orders GROUP BY 1),
    s0 AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(y) AS HUGEINT) AS sy
      FROM daily),
    p AS (
      SELECT row_number() OVER (ORDER BY d) AS t,
             s0.n * CAST(sum(y) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
                         PRECEDING AND CURRENT ROW) AS HUGEINT)
               - CAST(row_number() OVER (ORDER BY d) AS HUGEINT) * s0.sy
               AS pv,
             s0.n AS n
      FROM daily, s0),
    wframe AS (
      SELECT sc.s, (p.t - 1) // sc.s AS widx,
             CAST(((p.t - 1) % sc.s) + 1 AS HUGEINT) AS i,
             p.pv, p.n
      FROM p CROSS JOIN (VALUES (4), (8), (16), (32), (64)) AS sc(s)),
    wg AS (
      SELECT s, widx,
             count(*) AS c,
             CAST(sum(i * pv) AS HUGEINT) AS sipv,
             CAST(sum(i) AS HUGEINT) AS si,
             CAST(sum(pv) AS HUGEINT) AS sp,
             CAST(sum(pv * pv) AS HUGEINT) AS spp,
             any_value(n) AS n
      FROM wframe GROUP BY s, widx),
    nm AS (
      SELECT s,
             sum((CAST(s AS HUGEINT) * spp - sp * sp)
                 * (CAST(s AS HUGEINT) * CAST(s AS HUGEINT)
                    * (CAST(s AS HUGEINT) * CAST(s AS HUGEINT) - 1) // 12)
                 - (CAST(s AS HUGEINT) * sipv - si * sp)
                   * (CAST(s AS HUGEINT) * sipv - si * sp)) AS num,
             count(*) AS nw,
             any_value(n) AS n
      FROM wg WHERE c = s GROUP BY s),
    lf AS (
      SELECT s,
             0.5 * ln(CAST(num AS DOUBLE))
             - 0.5 * ln(CAST(CAST(s AS HUGEINT) * CAST(s AS HUGEINT)
                        * (CAST(s AS HUGEINT) * CAST(s AS HUGEINT)
                           * (CAST(s AS HUGEINT) * CAST(s AS HUGEINT) - 1)
                           // 12) * nw AS DOUBLE))
             - ln(CAST(n AS DOUBLE)) AS logf,
             n
      FROM nm),
    pv2 AS (
      SELECT any_value(n) AS n,
             max(CASE WHEN s = 4 THEN logf END) AS f4,
             max(CASE WHEN s = 8 THEN logf END) AS f8,
             max(CASE WHEN s = 16 THEN logf END) AS f16,
             max(CASE WHEN s = 32 THEN logf END) AS f32,
             max(CASE WHEN s = 64 THEN logf END) AS f64
      FROM lf)
    SELECT CAST(n AS BIGINT) AS n_days,
           round((-2.0 * f4 - f8 + f32 + 2.0 * f64)
                 / (10.0 * ln(2.0)), 6) AS dfa_alpha,
           round(f4, 6) AS logf_s4,
           round(f64, 6) AS logf_s64
    FROM pv2
    """)
def ts_dfa_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detrended fluctuation analysis (Peng et al. 1994) scaling
    exponent of the daily order-count series.

    The profile is kept exact via the n-scaled form P_t = n·prefix_t −
    t·Σy; within each size-s window the least-squares detrend residual
    satisfies SS_res·s·SxxS = SyyS·SxxS − SxyS² where SxyS = sΣiP −
    ΣiΣP, SyyS = sΣP² − (ΣP)², SxxS = s²(s²−1)/12 — ALL exact
    hugeints, so the per-scale fluctuation Σ_w SS_res is a single
    exact integer and log F(s) is one deterministic double expression
    (no order-dependent float summation anywhere). Scales are the
    dyadic grid {4,…,64}, so ln s is affine in j and the log-log slope
    collapses to (−2f₄−f₈+f₃₂+2f₆₄)/(10 ln 2) over ONE pivoted row —
    the 5-point regression never aggregates doubles. α≈0.5 ⇒ white
    noise; α→1 ⇒ 1/f long-range dependence. Plan: day aggregate →
    bounded prefix window → 5× fan-out over a constant scale array →
    two partial-agg groupBys; linear, shuffle keys bounded by
    (scale × window-count), i.e. by the calendar."""
    o = tables.load(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    daily = (o.select(F.date_trunc("day", F.col("o_orderdate"))
                      .alias("d"))
             .groupBy("d").agg(F.count(F.lit(1)).alias("y")))
    s0 = daily.agg(F.count(F.lit(1)).cast(dec).alias("n"),
                   F.sum("y").cast(dec).alias("sy"))
    wd = Window.orderBy("d")
    p = (daily.crossJoin(s0)
         .select(F.row_number().over(wd).alias("t"),
                 (F.col("n")
                  * F.sum("y").over(wd.rowsBetween(
                      Window.unboundedPreceding, Window.currentRow))
                  .cast(dec)
                  - F.row_number().over(wd).cast(dec) * F.col("sy"))
                 .alias("pv"),
                 "n"))
    scales = spark.range(0, 5).select(
        F.expr("shiftleft(4, cast(id AS int))").alias("s"))
    wframe = (p.crossJoin(scales)
              .select("s",
                      ((F.col("t") - 1) / F.col("s"))
                      .cast("bigint").alias("widx"),
                      (((F.col("t") - 1) % F.col("s")) + 1)
                      .cast(dec).alias("i"),
                      "pv", "n"))
    wg = (wframe.groupBy("s", "widx")
          .agg(F.count(F.lit(1)).alias("c"),
               F.sum(F.col("i") * F.col("pv")).alias("sipv"),
               F.sum("i").alias("si"),
               F.sum("pv").alias("sp"),
               F.sum(F.col("pv") * F.col("pv")).alias("spp"),
               F.any_value("n").alias("n")))
    sd = F.col("s").cast(dec)
    sxxs = sd * sd * (sd * sd - 1) / 12
    sxys = sd * F.col("sipv") - F.col("si") * F.col("sp")
    syys = sd * F.col("spp") - F.col("sp") * F.col("sp")
    nm = (wg.filter(F.col("c") == F.col("s"))
          .groupBy("s")
          .agg(F.sum(syys * sxxs - sxys * sxys).alias("num"),
               F.count(F.lit(1)).alias("nw"),
               F.any_value("n").alias("n")))
    logf = (0.5 * F.log(F.col("num").cast("double"))
            - 0.5 * F.log((sd * sd * sxxs * F.col("nw")).cast("double"))
            - F.log(F.col("n").cast("double")))
    lf = nm.select("s", logf.alias("logf"), "n")
    pv2 = lf.agg(
        F.any_value("n").alias("n"),
        *[F.max(F.when(F.col("s") == s, F.col("logf"))).alias(f"f{s}")
          for s in (4, 8, 16, 32, 64)])
    alpha = ((-2.0 * F.col("f4") - F.col("f8") + F.col("f32")
              + 2.0 * F.col("f64")) / (10.0 * F.log(F.lit(2.0))))
    return pv2.select(F.col("n").cast("bigint").alias("n_days"),
                      F.round(alpha, 6).alias("dfa_alpha"),
                      F.round("f4", 6).alias("logf_s4"),
                      F.round("f64", 6).alias("logf_s64"))


@register(
    "ts_higuchi_fd",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS d, count(*) AS y
      FROM orders GROUP BY 1),
    n0 AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM daily),
    p AS (
      SELECT row_number() OVER (ORDER BY d) AS t, y FROM daily),
    pk AS (
      SELECT kk.k, p.t, p.y FROM p
      CROSS JOIN (VALUES (1), (2), (4), (8), (16)) AS kk(k)),
    df AS (
      SELECT a.k, ((a.t - 1) % a.k) + 1 AS m,
             abs(a.y - b.y) AS ad
      FROM pk a JOIN pk b ON b.k = a.k AND b.t = a.t - a.k),
    gm AS (
      SELECT k, m,
             CAST(sum(ad) AS HUGEINT) AS sd,
             count(*) AS c
      FROM df GROUP BY k, m),
    lm AS (
      SELECT k,
             CAST(round(CAST(sd AS DOUBLE) * CAST(n0.n - 1 AS DOUBLE)
                        / (CAST(c AS DOUBLE) * k * k), 9)
                  AS DECIMAL(28,9)) AS lmv
      FROM gm, n0),
    lk AS (
      SELECT k, ln(CAST(sum(lmv) AS DOUBLE) / count(*)) AS yk
      FROM lm GROUP BY k),
    pv2 AS (
      SELECT max(CASE WHEN k = 1 THEN yk END) AS y1,
             max(CASE WHEN k = 2 THEN yk END) AS y2,
             max(CASE WHEN k = 4 THEN yk END) AS y4,
             max(CASE WHEN k = 8 THEN yk END) AS y8,
             max(CASE WHEN k = 16 THEN yk END) AS y16
      FROM lk)
    SELECT (SELECT CAST(n AS BIGINT) FROM n0) AS n_days,
           round(-(-2.0 * y1 - y2 + y8 + 2.0 * y16)
                 / (10.0 * ln(2.0)), 6) AS higuchi_fd,
           round(y1, 6) AS log_l1
    FROM pv2
    """)
def ts_higuchi_fd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higuchi (1988) fractal dimension of the daily order-count
    curve.

    For each lag k on the dyadic grid {1,2,4,8,16} and each phase
    m ∈ 1..k, the curve length L_m(k) = Σ|y_{m+ik} − y_{m+(i−1)k}| ·
    (n−1)/(c·k²) is computed from exact integer diff sums; the only
    float average (over the ≤k phases) is made order-independent by
    quantizing each L_m to a 9-dp DECIMAL before the exact decimal
    sum. FD is the negated log-log slope; on the dyadic grid that is
    the same one-row 5-point stencil as `ts_dfa_alpha` — no float
    aggregation. FD≈1.5 ⇒ random walk increments; →2 ⇒ space-filling
    jaggedness. The lag-k diff is an equi-join on (k, t−k) rather
    than a per-row variable-offset window (lag offsets must be
    literals), so the plan is two bounded-frame shuffles."""
    o = tables.load(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    daily = (o.select(F.date_trunc("day", F.col("o_orderdate"))
                      .alias("d"))
             .groupBy("d").agg(F.count(F.lit(1)).alias("y")))
    n0 = daily.agg(F.count(F.lit(1)).cast(dec).alias("n"))
    p = daily.select(F.row_number().over(Window.orderBy("d"))
                     .alias("t"), "y")
    ks = spark.range(0, 5).select(
        F.expr("shiftleft(1, cast(id AS int))").alias("k"))
    pk = p.crossJoin(ks)
    a = pk.alias("a")
    b = pk.alias("b")
    df = (a.join(b, (F.col("b.k") == F.col("a.k"))
                 & (F.col("b.t") == F.col("a.t") - F.col("a.k")))
          .select(F.col("a.k").alias("k"),
                  (((F.col("a.t") - 1) % F.col("a.k")) + 1).alias("m"),
                  F.abs(F.col("a.y") - F.col("b.y")).alias("ad")))
    gm = (df.groupBy("k", "m")
          .agg(F.sum("ad").cast(dec).alias("sd"),
               F.count(F.lit(1)).alias("c")))
    lm = (gm.crossJoin(n0)
          .select("k",
                  F.round(F.col("sd").cast("double")
                          * (F.col("n") - 1).cast("double")
                          / (F.col("c").cast("double")
                             * F.col("k") * F.col("k")), 9)
                  .cast("decimal(28,9)").alias("lmv")))
    lk = (lm.groupBy("k")
          .agg(F.log(F.sum("lmv").cast("double")
                     / F.count(F.lit(1))).alias("yk")))
    pv2 = lk.agg(
        *[F.max(F.when(F.col("k") == k, F.col("yk"))).alias(f"y{k}")
          for k in (1, 2, 4, 8, 16)])
    slope = ((-2.0 * F.col("y1") - F.col("y2") + F.col("y8")
              + 2.0 * F.col("y16")) / (10.0 * F.log(F.lit(2.0))))
    return (pv2.crossJoin(n0)
            .select(F.col("n").cast("bigint").alias("n_days"),
                    F.round(-slope, 6).alias("higuchi_fd"),
                    F.round("y1", 6).alias("log_l1")))


@register(
    "ts_permutation_entropy",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS d, count(*) AS y
      FROM orders GROUP BY 1),
    tri AS (
      SELECT y,
             lead(y, 1) OVER (ORDER BY d) AS y1,
             lead(y, 2) OVER (ORDER BY d) AS y2
      FROM daily),
    pat AS (
      SELECT 4 * CAST(y <= y1 AS INT) + 2 * CAST(y1 <= y2 AS INT)
             + CAST(y <= y2 AS INT) AS code
      FROM tri WHERE y1 IS NOT NULL AND y2 IS NOT NULL),
    g AS (SELECT code, count(*) AS c FROM pat GROUP BY code),
    n0 AS (SELECT CAST(sum(c) AS DOUBLE) AS nt,
                  CAST(sum(c) AS BIGINT) AS ntb,
                  count(*) AS np FROM g),
    h AS (
      SELECT CAST(sum(CAST(round(-(c / n0.nt) * ln(c / n0.nt), 12)
                           AS DECIMAL(38,12))) AS DOUBLE) AS hsum
      FROM g, n0)
    SELECT n0.ntb AS n_triples,
           CAST(n0.np AS BIGINT) AS n_patterns,
           round(h.hsum / ln(6.0), 6) AS h_norm
    FROM n0, h
    """)
def ts_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bandt–Pompe (2002) permutation entropy, embedding dimension 3,
    of the daily order-count series.

    Each day contributes the ordinal pattern of (y_t, y_{t+1},
    y_{t+2}); ties are broken toward the EARLIER index (a ≺ b iff
    y_a ≤ y_b for a before b) so integer-count ties produce the same
    pattern code on both engines. The code 4·[y≤y₁]+2·[y₁≤y₂]+[y≤y₂]
    realizes exactly the 6 transitive orderings (8 combinations minus
    2 intransitive). H = −Σp ln p over the ≤6 pattern frequencies is
    made order-independent by quantizing each term to a 12-dp DECIMAL
    before the exact sum (the repo's iterative-op discipline);
    normalized by ln 3! ∈ [0,1]: ≈1 ⇒ patterns equiprobable (noise),
    ≪1 ⇒ deterministic structure. One lead window on the calendar
    frame + one ≤6-group aggregate."""
    o = tables.load(spark, sf_dir, "orders")
    daily = (o.select(F.date_trunc("day", F.col("o_orderdate"))
                      .alias("d"))
             .groupBy("d").agg(F.count(F.lit(1)).alias("y")))
    wd = Window.orderBy("d")
    tri = daily.select("y", F.lead("y", 1).over(wd).alias("y1"),
                       F.lead("y", 2).over(wd).alias("y2"))
    pat = (tri.filter(F.col("y1").isNotNull()
                      & F.col("y2").isNotNull())
           .select((4 * (F.col("y") <= F.col("y1")).cast("int")
                    + 2 * (F.col("y1") <= F.col("y2")).cast("int")
                    + (F.col("y") <= F.col("y2")).cast("int"))
                   .alias("code")))
    g = pat.groupBy("code").agg(F.count(F.lit(1)).alias("c"))
    n0 = g.agg(F.sum("c").cast("double").alias("nt"),
               F.sum("c").cast("bigint").alias("ntb"),
               F.count(F.lit(1)).alias("np"))
    pr = F.col("c") / F.col("nt")
    h = (g.crossJoin(n0)
         .agg(F.sum(F.round(-pr * F.log(pr), 12)
                    .cast("decimal(38,12)")).cast("double")
              .alias("hsum"),
              F.any_value("ntb").alias("ntb"),
              F.any_value("np").alias("np")))
    return h.select(F.col("ntb").alias("n_triples"),
                    F.col("np").cast("bigint").alias("n_patterns"),
                    F.round(F.col("hsum") / F.log(F.lit(6.0)), 6)
                    .alias("h_norm"))


@register(
    "ts_engle_granger",
    oracle="""
    WITH cal AS (
      SELECT date_trunc('day', o_orderdate) AS d FROM orders
      GROUP BY 1),
    seg AS (
      SELECT date_trunc('day', o.o_orderdate) AS d,
             CAST(sum(CASE WHEN c.c_mktsegment = 'BUILDING'
                      THEN CAST(round(o.o_totalprice * 100) AS HUGEINT)
                      ELSE 0 END) AS HUGEINT) AS xr,
             CAST(sum(CASE WHEN c.c_mktsegment = 'AUTOMOBILE'
                      THEN CAST(round(o.o_totalprice * 100) AS HUGEINT)
                      ELSE 0 END) AS HUGEINT) AS yr
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1),
    lvl AS (
      SELECT cal.d,
             CAST(sum(coalesce(seg.xr, 0)) OVER (ORDER BY cal.d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS HUGEINT) AS x,
             CAST(sum(coalesce(seg.yr, 0)) OVER (ORDER BY cal.d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS HUGEINT) AS y
      FROM cal LEFT JOIN seg USING (d)),
    mom AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(x * x) AS HUGEINT) AS sxx,
             CAST(sum(x * y) AS HUGEINT) AS sxy
      FROM lvl),
    fit AS (
      SELECT CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS b,
             (CAST(sy AS DOUBLE)
              - (CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE))
                * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS a,
             n
      FROM mom),
    res AS (
      SELECT d,
             CAST(round((CAST(y AS DOUBLE) - fit.a
                         - fit.b * CAST(x AS DOUBLE)) * 1e6, 0)
                  AS HUGEINT) AS e6
      FROM lvl, fit),
    lagd AS (
      SELECT lag(e6) OVER (ORDER BY d) AS ep,
             e6 - lag(e6) OVER (ORDER BY d) AS de
      FROM res),
    dfm AS (
      SELECT CAST(count(*) AS HUGEINT) AS nd,
             CAST(sum(ep * de) AS HUGEINT) AS sed,
             CAST(sum(ep * ep) AS HUGEINT) AS see,
             CAST(sum(de * de) AS HUGEINT) AS sdd
      FROM lagd WHERE ep IS NOT NULL)
    SELECT (SELECT CAST(n AS BIGINT) FROM fit) AS n_days,
           round((SELECT b FROM fit), 6) AS coint_beta,
           round((CAST(sed AS DOUBLE) / CAST(see AS DOUBLE))
                 / sqrt(((CAST(sdd AS DOUBLE)
                          - 2.0 * (CAST(sed AS DOUBLE)
                                   / CAST(see AS DOUBLE))
                            * CAST(sed AS DOUBLE)
                          + (CAST(sed AS DOUBLE) / CAST(see AS DOUBLE))
                            * (CAST(sed AS DOUBLE) / CAST(see AS DOUBLE))
                            * CAST(see AS DOUBLE))
                         / CAST(nd - 1 AS DOUBLE))
                        / CAST(see AS DOUBLE)), 6) AS df_stat,
           (CAST(sed AS DOUBLE) / CAST(see AS DOUBLE))
                 / sqrt(((CAST(sdd AS DOUBLE)
                          - 2.0 * (CAST(sed AS DOUBLE)
                                   / CAST(see AS DOUBLE))
                            * CAST(sed AS DOUBLE)
                          + (CAST(sed AS DOUBLE) / CAST(see AS DOUBLE))
                            * (CAST(sed AS DOUBLE) / CAST(see AS DOUBLE))
                            * CAST(see AS DOUBLE))
                         / CAST(nd - 1 AS DOUBLE))
                        / CAST(see AS DOUBLE)) < -3.37
             AS cointegrated_5pct
    FROM dfm
    """)
def ts_engle_granger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENGLE–GRANGER two-step cointegration test between two I(1)
    series: cumulative BUILDING-segment revenue vs cumulative
    AUTOMOBILE-segment revenue (both unit-root by construction as
    partial sums; cointegrated iff a linear combination is
    stationary — here both track cumulative total volume). Step 1:
    OLS levels fit y = a + b·x from exact hugeint cent moments.
    Step 2: Dickey–Fuller regression Δe_t = ρ·e_{t−1} on the
    residuals, t(ρ̂) against the Engle–Granger 5% critical value
    −3.37 (2 variables, with constant — MacKinnon); the DF moments
    use the expanded SSR identity Σ(Δe−ρe)² = Σe'Δ² − 2ρΣeΔ + ρ²Σe²
    so no per-row double is ever summed.

    Residuals are quantized to exact integers at 1e-6 cent
    granularity (e6; the t-statistic is scale-invariant, so the
    quantization grid cancels). Calendar LEFT-join zero-fills days a
    segment is silent. Everything rides the bounded daily frame:
    two prefix windows, one lag window, two 1-row reduces."""
    o = tables.load(spark, sf_dir, "orders")
    c = tables.load(spark, sf_dir, "customer")
    dec = "decimal(38,0)"
    cents = F.round(F.col("o_totalprice") * 100).cast(dec)
    cal = (o.select(F.date_trunc("day", F.col("o_orderdate"))
                    .alias("d")).groupBy("d").agg(F.lit(1).alias("_")))
    seg = (o.join(c, c["c_custkey"] == o["o_custkey"])
           .select(F.date_trunc("day", F.col("o_orderdate"))
                   .alias("d"),
                   F.when(F.col("c_mktsegment") == "BUILDING",
                          cents).otherwise(0).alias("xc"),
                   F.when(F.col("c_mktsegment") == "AUTOMOBILE",
                          cents).otherwise(0).alias("yc"))
           .groupBy("d")
           .agg(F.sum("xc").cast(dec).alias("xr"),
                F.sum("yc").cast(dec).alias("yr")))
    wrun = (Window.orderBy("d")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    lvl = (cal.join(seg, "d", "left")
           .select("d",
                   F.sum(F.coalesce("xr", F.lit(0))).over(wrun)
                   .cast(dec).alias("x"),
                   F.sum(F.coalesce("yr", F.lit(0))).over(wrun)
                   .cast(dec).alias("y")))
    mom = lvl.agg(F.count(F.lit(1)).cast(dec).alias("n"),
                  F.sum("x").alias("sx"), F.sum("y").alias("sy"),
                  F.sum(F.col("x") * F.col("x")).alias("sxx"),
                  F.sum(F.col("x") * F.col("y")).alias("sxy"))
    sxys = (F.col("n") * F.col("sxy")
            - F.col("sx") * F.col("sy")).cast("double")
    sxxs = (F.col("n") * F.col("sxx")
            - F.col("sx") * F.col("sx")).cast("double")
    b = sxys / sxxs
    a = ((F.col("sy").cast("double") - b * F.col("sx").cast("double"))
         / F.col("n").cast("double"))
    fit = mom.select("n", b.alias("b"), a.alias("a"))
    res = (lvl.crossJoin(fit)
           .select("d",
                   F.round((F.col("y").cast("double") - F.col("a")
                            - F.col("b") * F.col("x").cast("double"))
                           * 1e6, 0).cast(dec).alias("e6")))
    wd = Window.orderBy("d")
    lagd = res.select(F.lag("e6").over(wd).alias("ep"),
                      (F.col("e6") - F.lag("e6").over(wd)).alias("de"))
    dfm = (lagd.filter(F.col("ep").isNotNull())
           .agg(F.count(F.lit(1)).cast(dec).alias("nd"),
                F.sum(F.col("ep") * F.col("de")).alias("sed"),
                F.sum(F.col("ep") * F.col("ep")).alias("see"),
                F.sum(F.col("de") * F.col("de")).alias("sdd")))
    rho = F.col("sed").cast("double") / F.col("see").cast("double")
    s2 = ((F.col("sdd").cast("double")
           - 2.0 * rho * F.col("sed").cast("double")
           + rho * rho * F.col("see").cast("double"))
          / (F.col("nd") - 1).cast("double"))
    t = rho / F.sqrt(s2 / F.col("see").cast("double"))
    return (dfm.crossJoin(fit)
            .select(F.col("n").cast("bigint").alias("n_days"),
                    F.round("b", 6).alias("coint_beta"),
                    F.round(t, 6).alias("df_stat"),
                    (t < -3.37).alias("cointegrated_5pct")))


# --------------------------------------------------------------------------
# round-8 wave 10: distribution-dependence and operations diagnostics.
# The pairwise statistics ride CALENDAR-BOUNDED frames (the matrix-profile
# precedent: a daily aggregate's O(n²) pair frame is ~5.8M rows at ANY
# corpus scale because n is the date span, not the row count), and the
# Cox-Stuart/Garman-Klass/Erlang-C trio are single-window/grid closed
# forms. Integer-exact everywhere algebra allows.
# --------------------------------------------------------------------------


@register(
    "agg_distance_correlation",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS d,
             CAST(count(*) AS HUGEINT) AS x,
             CAST(sum(CAST(round(o_totalprice * 100) AS HUGEINT))
                  AS HUGEINT) AS y
      FROM orders GROUP BY 1),
    pairs AS (
      SELECT a.d AS da,
             abs(a.x - b.x) AS ax, abs(a.y - b.y) AS ay
      FROM daily a, daily b),
    rows_j AS (
      SELECT da, CAST(sum(ax) AS HUGEINT) AS rx,
             CAST(sum(ay) AS HUGEINT) AS ry
      FROM pairs GROUP BY da),
    s1 AS (
      SELECT CAST(sum(ax * ay) AS HUGEINT) AS sxy,
             CAST(sum(ax * ax) AS HUGEINT) AS sxx,
             CAST(sum(ay * ay) AS HUGEINT) AS syy
      FROM pairs),
    s23 AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(rx * ry) AS HUGEINT) AS s2xy,
             CAST(sum(rx * rx) AS HUGEINT) AS s2xx,
             CAST(sum(ry * ry) AS HUGEINT) AS s2yy,
             CAST(sum(rx) AS HUGEINT) AS tx,
             CAST(sum(ry) AS HUGEINT) AS ty
      FROM rows_j),
    v AS (
      SELECT n,
             CAST(sxy AS DOUBLE) / (CAST(n AS DOUBLE) * n)
               - 2.0 * CAST(s2xy AS DOUBLE)
                 / (CAST(n AS DOUBLE) * n * n)
               + CAST(tx AS DOUBLE) * ty
                 / (CAST(n AS DOUBLE) * n * n * n) AS dcov2,
             CAST(sxx AS DOUBLE) / (CAST(n AS DOUBLE) * n)
               - 2.0 * CAST(s2xx AS DOUBLE)
                 / (CAST(n AS DOUBLE) * n * n)
               + CAST(tx AS DOUBLE) * tx
                 / (CAST(n AS DOUBLE) * n * n * n) AS dvarx,
             CAST(syy AS DOUBLE) / (CAST(n AS DOUBLE) * n)
               - 2.0 * CAST(s2yy AS DOUBLE)
                 / (CAST(n AS DOUBLE) * n * n)
               + CAST(ty AS DOUBLE) * ty
                 / (CAST(n AS DOUBLE) * n * n * n) AS dvary
      FROM s1, s23)
    SELECT CAST(n AS BIGINT) AS n_days,
           round(sqrt(sqrt(greatest(dcov2, 0.0)
                 * greatest(dcov2, 0.0)
                 / (dvarx * dvary))), 6) AS dcor
    FROM v
    """)
def agg_distance_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SZÉKELY's distance correlation between daily order count and
    daily revenue — the dependence measure that is ZERO iff the
    variables are independent (Pearson/Spearman/Kendall all miss
    non-monotone dependence; `agg_hoeffding_d` detects it but has no
    population-independence characterization). Computed via the
    V-statistic identity dCov² = S₁/n² − 2S₂/n³ + S₃/n⁴ over raw
    |Δx||Δy| pair sums, which needs NO centered matrix: S₁ (pair
    products), S₂ (row-sum products), S₃ (grand-sum product) are all
    EXACT hugeints over integer counts/cents, so the statistic is a
    single deterministic double expression — no float ever aggregates.

    The O(n²) pair frame is the calendar-bounded daily frame (the
    `ts_matrix_profile` precedent): ~5.8M pairs at ANY corpus scale.
    dCor = √(dCov²/√(dVarX·dVarY)) with the dCov² ≥ 0 clamp of the
    V-statistic convention."""
    o = tables.load(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    daily = (o.groupBy(F.date_trunc("day", F.col("o_orderdate"))
                       .alias("d"))
             .agg(F.count(F.lit(1)).cast(dec).alias("x"),
                  F.sum(F.round(F.col("o_totalprice") * 100).cast(dec))
                  .cast(dec).alias("y"))
             # r9 opt (guide §5): the calendar-bounded daily frame
             # feeds both cross-join sides and is replayed again for
             # each of the two pair-frame consumers — each replay was
             # a full orders scan + agg (plan: 4 scans → 1); the pair
             # frame itself stays lazy (recomputing the tiny cross
             # join is cheaper than storing ~5.8M rows)
             .localCheckpoint(eager=True))
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = (a.crossJoin(b)
             .select(F.col("a.d").alias("da"),
                     F.abs(F.col("a.x") - F.col("b.x")).alias("ax"),
                     F.abs(F.col("a.y") - F.col("b.y")).alias("ay")))
    rows_j = (pairs.groupBy("da")
              .agg(F.sum("ax").alias("rx"), F.sum("ay").alias("ry")))
    s1 = pairs.agg(F.sum(F.col("ax") * F.col("ay")).alias("sxy"),
                   F.sum(F.col("ax") * F.col("ax")).alias("sxx"),
                   F.sum(F.col("ay") * F.col("ay")).alias("syy"))
    s23 = rows_j.agg(F.count(F.lit(1)).cast(dec).alias("n"),
                     F.sum(F.col("rx") * F.col("ry")).alias("s2xy"),
                     F.sum(F.col("rx") * F.col("rx")).alias("s2xx"),
                     F.sum(F.col("ry") * F.col("ry")).alias("s2yy"),
                     F.sum("rx").alias("tx"), F.sum("ry").alias("ty"))
    j = s1.crossJoin(F.broadcast(s23))
    nd = F.col("n").cast("double")

    def vterm(s1c, s2c, t1, t2):
        return (F.col(s1c).cast("double") / (nd * nd)
                - 2.0 * F.col(s2c).cast("double") / (nd * nd * nd)
                + F.col(t1).cast("double") * F.col(t2).cast("double")
                / (nd * nd * nd * nd))

    dcov2 = vterm("sxy", "s2xy", "tx", "ty")
    dvarx = vterm("sxx", "s2xx", "tx", "tx")
    dvary = vterm("syy", "s2yy", "ty", "ty")
    dcor = F.sqrt(F.sqrt(F.greatest(dcov2, F.lit(0.0))
                         * F.greatest(dcov2, F.lit(0.0))
                         / (dvarx * dvary)))
    return j.select(F.col("n").cast("bigint").alias("n_days"),
                    F.round(dcor, 6).alias("dcor"))


@register(
    "agg_energy_distance",
    oracle="""
    WITH seg AS (
      SELECT date_trunc('day', o.o_orderdate) AS d,
             CAST(sum(CASE WHEN c.c_mktsegment = 'BUILDING'
                      THEN CAST(round(o.o_totalprice * 100) AS HUGEINT)
                      ELSE 0 END) AS HUGEINT) AS xv,
             CAST(sum(CASE WHEN c.c_mktsegment = 'AUTOMOBILE'
                      THEN CAST(round(o.o_totalprice * 100) AS HUGEINT)
                      ELSE 0 END) AS HUGEINT) AS yv
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1),
    exy AS (
      SELECT CAST(sum(abs(a.xv - b.yv)) AS HUGEINT) AS s,
             CAST(count(*) AS HUGEINT) AS k
      FROM seg a, seg b),
    exx AS (
      SELECT CAST(sum(abs(a.xv - b.xv)) AS HUGEINT) AS s,
             CAST(count(*) AS HUGEINT) AS k
      FROM seg a, seg b),
    eyy AS (
      SELECT CAST(sum(abs(a.yv - b.yv)) AS HUGEINT) AS s,
             CAST(count(*) AS HUGEINT) AS k
      FROM seg a, seg b)
    SELECT CAST((SELECT count(*) FROM seg) AS BIGINT) AS n_days,
           round((2.0 * CAST(exy.s AS DOUBLE) / exy.k
                  - CAST(exx.s AS DOUBLE) / exx.k
                  - CAST(eyy.s AS DOUBLE) / eyy.k) / 100.0, 4)
             AS energy_dist_usd,
           round((2.0 * CAST(exy.s AS DOUBLE) / exy.k
                  - CAST(exx.s AS DOUBLE) / exx.k
                  - CAST(eyy.s AS DOUBLE) / eyy.k)
                 / (2.0 * CAST(exy.s AS DOUBLE) / exy.k), 6)
             AS energy_coeff
    FROM exy, exx, eyy
    """)
def agg_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SZÉKELY–RIZZO energy distance between the BUILDING and
    AUTOMOBILE daily-revenue distributions: E = 2E|X−Y| − E|X−X'| −
    E|Y−Y'| ≥ 0, zero iff the distributions are equal — the
    two-sample test that sees EVERY distributional difference
    (location, scale, shape) where `agg_ks_test` weights the middle
    and `agg_wasserstein_1d` is location-dominated; the normalized
    coefficient E/(2E|X−Y|) ∈ [0,1] is the scale-free effect size.

    All three expectation numerators are exact hugeint sums of
    integer-cent absolute differences over the calendar-bounded pair
    frame (~5.8M pairs at any corpus scale); the statistic is one
    double expression. One join+day aggregate, three pair reduces."""
    o = tables.load(spark, sf_dir, "orders")
    c = tables.load(spark, sf_dir, "customer")
    dec = "decimal(38,0)"
    cents = F.round(F.col("o_totalprice") * 100).cast(dec)
    seg = (o.join(c, c["c_custkey"] == o["o_custkey"])
           .groupBy(F.date_trunc("day", F.col("o_orderdate"))
                    .alias("d"))
           .agg(F.sum(F.when(F.col("c_mktsegment") == "BUILDING",
                             cents).otherwise(0)).cast(dec)
                .alias("xv"),
                F.sum(F.when(F.col("c_mktsegment") == "AUTOMOBILE",
                             cents).otherwise(0)).cast(dec)
                .alias("yv")))
    a = seg.alias("a")
    b = seg.alias("b")

    def pair_mean(lcol, rcol, name):
        return (a.crossJoin(b)
                .agg(F.sum(F.abs(F.col(f"a.{lcol}")
                                 - F.col(f"b.{rcol}")))
                     .alias(f"s_{name}"),
                     F.count(F.lit(1)).cast(dec).alias(f"k_{name}")))

    exy = pair_mean("xv", "yv", "xy")
    exx = pair_mean("xv", "xv", "xx")
    eyy = pair_mean("yv", "yv", "yy")
    n = seg.agg(F.count(F.lit(1)).alias("n_days"))
    j = (exy.crossJoin(exx).crossJoin(eyy).crossJoin(n))
    m = lambda nm: (F.col(f"s_{nm}").cast("double")
                    / F.col(f"k_{nm}").cast("double"))
    e = 2.0 * m("xy") - m("xx") - m("yy")
    return j.select(F.col("n_days").cast("bigint").alias("n_days"),
                    F.round(e / 100.0, 4).alias("energy_dist_usd"),
                    F.round(e / (2.0 * m("xy")), 6)
                    .alias("energy_coeff"))


@register(
    "dq_mmd_drift",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS d, count(*) AS y
      FROM orders GROUP BY 1),
    xs AS (SELECT y FROM daily
           WHERE d >= DATE '1996-01-01' AND d < DATE '1997-01-01'),
    ys AS (SELECT y FROM daily
           WHERE d >= DATE '2000-01-01' AND d < DATE '2001-01-01'),
    kxx AS (
      SELECT CAST(sum(CAST(round(exp(-((a.y - b.y) * (a.y - b.y))
                     / 200.0), 12) AS DECIMAL(38,12))) AS DOUBLE) AS s,
             CAST(count(*) AS BIGINT) AS k
      FROM xs a, xs b),
    kyy AS (
      SELECT CAST(sum(CAST(round(exp(-((a.y - b.y) * (a.y - b.y))
                     / 200.0), 12) AS DECIMAL(38,12))) AS DOUBLE) AS s,
             CAST(count(*) AS BIGINT) AS k
      FROM ys a, ys b),
    kxy AS (
      SELECT CAST(sum(CAST(round(exp(-((a.y - b.y) * (a.y - b.y))
                     / 200.0), 12) AS DECIMAL(38,12))) AS DOUBLE) AS s,
             CAST(count(*) AS BIGINT) AS k
      FROM xs a, ys b)
    SELECT CAST((SELECT count(*) FROM xs) AS BIGINT) AS n_ref,
           CAST((SELECT count(*) FROM ys) AS BIGINT) AS n_cur,
           round(kxx.s / kxx.k + kyy.s / kyy.k - 2.0 * kxy.s / kxy.k,
                 6) AS mmd2,
           kxx.s / kxx.k + kyy.s / kyy.k - 2.0 * kxy.s / kxy.k
             > 4.0 / (SELECT count(*) FROM xs) AS drift_flag
    FROM kxx, kyy, kxy
    """)
def dq_mmd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMUM MEAN DISCREPANCY drift detector (Gretton et al. 2012)
    between the 1996 and 2000 daily arrival-count distributions with
    an RBF kernel (bandwidth² = 100 counts²): MMD² = E k(x,x') +
    E k(y,y') − 2E k(x,y) — the kernel two-sample test that completes
    the drift family (`dq_psi_drift` needs binning, `dq_js_divergence`
    needs histograms, `dq_page_hinkley` is sequential; MMD works on
    raw values with a characteristic kernel and detects ANY
    distributional change). Flagged against the 4/√n·1/√n ≈ 4/n
    quick bound (the distribution-free threshold at α ≈ 0.05 scale).

    The three kernel means run over year-bounded pair frames (≤366²
    pairs each, constant in corpus scale); each kernel value — exp of
    an exact-integer squared difference — is quantized to 12-dp
    DECIMAL before the exact sum (the repo's float-sum discipline)."""
    o = tables.load(spark, sf_dir, "orders")
    daily = (o.groupBy(F.date_trunc("day", F.col("o_orderdate"))
                       .alias("d"))
             .agg(F.count(F.lit(1)).alias("y")))
    xs = daily.filter((F.col("d") >= "1996-01-01")
                      & (F.col("d") < "1997-01-01")).select("y")
    ys = daily.filter((F.col("d") >= "2000-01-01")
                      & (F.col("d") < "2001-01-01")).select("y")

    def kmean(l, r, name):
        a = l.select(F.col("y").alias("ya"))
        b = r.select(F.col("y").alias("yb"))
        diff = F.col("ya") - F.col("yb")
        return (a.crossJoin(b)
                .agg(F.sum(F.round(F.exp(-(diff * diff) / 200.0), 12)
                           .cast("decimal(38,12)")).cast("double")
                     .alias(f"s_{name}"),
                     F.count(F.lit(1)).alias(f"k_{name}")))

    kxx = kmean(xs, xs, "xx")
    kyy = kmean(ys, ys, "yy")
    kxy = kmean(xs, ys, "xy")
    nx = xs.agg(F.count(F.lit(1)).alias("n_ref"))
    ny = ys.agg(F.count(F.lit(1)).alias("n_cur"))
    j = (kxx.crossJoin(kyy).crossJoin(kxy)
         .crossJoin(nx).crossJoin(ny))
    m = lambda nm: (F.col(f"s_{nm}")
                    / F.col(f"k_{nm}").cast("double"))
    mmd2 = m("xx") + m("yy") - 2.0 * m("xy")
    return j.select(F.col("n_ref").cast("bigint").alias("n_ref"),
                    F.col("n_cur").cast("bigint").alias("n_cur"),
                    F.round(mmd2, 6).alias("mmd2"),
                    (mmd2 > 4.0 / F.col("n_ref").cast("double"))
                    .alias("drift_flag"))


@register(
    "ts_cox_stuart",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS d, count(*) AS y
      FROM orders GROUP BY 1),
    idx AS (
      SELECT row_number() OVER (ORDER BY d) AS t, y FROM daily),
    n0 AS (SELECT count(*) // 2 AS half FROM idx),
    pairs AS (
      SELECT a.y AS y1, b.y AS y2
      FROM idx a
      JOIN n0 ON a.t <= n0.half
      JOIN idx b ON b.t = a.t + n0.half),
    s AS (
      SELECT CAST(sum(CASE WHEN y2 > y1 THEN 1 ELSE 0 END) AS BIGINT)
               AS splus,
             CAST(sum(CASE WHEN y2 <> y1 THEN 1 ELSE 0 END) AS BIGINT)
               AS m
      FROM pairs)
    SELECT splus AS s_plus, m AS n_untied,
           round((splus - m / 2.0) / sqrt(m / 4.0), 6) AS z_stat,
           abs((splus - m / 2.0) / sqrt(m / 4.0)) > 1.96
             AS trend_5pct
    FROM s
    """)
def ts_cox_stuart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COX–STUART sign test for trend: pair each day in the first
    half of the series with the day one half-length later and count
    how often the later value is larger; under no trend S⁺ ~
    Binomial(m, ½) over the untied pairs. The crudest and most
    robust member of the trend family — no ranks, no variance
    estimate, immune to any monotone transform of the data;
    `agg_mann_kendall_trend` is its efficient refinement, and
    disagreement between the two flags a non-monotone drift shape.

    Pairing is ONE self-equi-join on the half-offset index over the
    bounded daily frame; counts are exact; z is one double. Ties are
    dropped per the test's definition."""
    o = tables.load(spark, sf_dir, "orders")
    daily = (o.select(F.date_trunc("day", F.col("o_orderdate"))
                      .alias("d"))
             .groupBy("d").agg(F.count(F.lit(1)).alias("y")))
    idx = daily.select(F.row_number().over(Window.orderBy("d"))
                       .alias("t"), "y")
    n0 = idx.agg((F.floor(F.count(F.lit(1)) / 2)).alias("half"))
    a = idx.alias("a")
    b = idx.alias("b")
    pairs = (a.crossJoin(n0)
             .filter(F.col("a.t") <= F.col("half"))
             .join(b, F.col("b.t") == F.col("a.t") + F.col("half"))
             .select(F.col("a.y").alias("y1"),
                     F.col("b.y").alias("y2")))
    s = pairs.agg(
        F.sum(F.when(F.col("y2") > F.col("y1"), 1).otherwise(0))
        .cast("bigint").alias("splus"),
        F.sum(F.when(F.col("y2") != F.col("y1"), 1).otherwise(0))
        .cast("bigint").alias("m"))
    md = F.col("m").cast("double")
    z = (F.col("splus") - md / 2.0) / F.sqrt(md / 4.0)
    return s.select(F.col("splus").alias("s_plus"),
                    F.col("m").alias("n_untied"),
                    F.round(z, 6).alias("z_stat"),
                    (F.abs(z) > 1.96).alias("trend_5pct"))


@register(
    "win_garman_klass_vol",
    oracle="""
    WITH px AS (
      SELECT date_trunc('day', o_orderdate) AS d,
             CAST(round(o_totalprice * 100) AS HUGEINT) AS v,
             o_orderkey AS k
      FROM orders),
    ohlc AS (
      SELECT d,
             CAST(max(v) AS HUGEINT) AS hi,
             CAST(min(v) AS HUGEINT) AS lo,
             CAST(min_by(v, k) AS HUGEINT) AS op,
             CAST(max_by(v, k) AS HUGEINT) AS cl,
             count(*) AS n
      FROM px GROUP BY d HAVING count(*) >= 2),
    terms AS (
      SELECT CAST(round(
               0.5 * ln(CAST(hi AS DOUBLE) / lo)
                   * ln(CAST(hi AS DOUBLE) / lo)
               - (2.0 * ln(2.0) - 1.0)
                 * ln(CAST(cl AS DOUBLE) / op)
                 * ln(CAST(cl AS DOUBLE) / op), 12)
               AS DECIMAL(38,12)) AS gk
      FROM ohlc)
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           round(sqrt(CAST(sum(gk) AS DOUBLE) / count(*)), 6)
             AS gk_daily_vol,
           round(sqrt(CAST(sum(gk) AS DOUBLE) / count(*))
                 * sqrt(252.0), 6) AS gk_annualized
    FROM terms
    """)
def win_garman_klass_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GARMAN–KLASS range-based volatility over the daily order-value
    'candles' (high/low/open/close of o_totalprice within each day,
    open/close pinned by orderkey order): σ²_GK = ½·ln(H/L)² −
    (2ln2−1)·ln(C/O)² — ~7.4× more efficient per observation than
    close-to-close variance, completing the range-estimator family
    begun by `win_parkinson_vol` (high-low only) with the
    open-close-corrected member.

    OHLC per day are exact integer cents (min_by/max_by with the
    orderkey tie-break are deterministic on both engines); each
    day's GK term is quantized to 12-dp DECIMAL before the exact
    mean. One day-grouped partial agg + one reduce — the per-day
    candle compresses the fact table before anything wide exists."""
    o = tables.load(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    px = o.select(F.date_trunc("day", F.col("o_orderdate")).alias("d"),
                  F.round(F.col("o_totalprice") * 100).cast(dec)
                  .alias("v"),
                  F.col("o_orderkey").alias("k"))
    ohlc = (px.groupBy("d")
            .agg(F.max("v").alias("hi"), F.min("v").alias("lo"),
                 F.min_by("v", "k").alias("op"),
                 F.max_by("v", "k").alias("cl"),
                 F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= 2))
    lnhl = F.log(F.col("hi").cast("double") / F.col("lo").cast("double"))
    lnco = F.log(F.col("cl").cast("double") / F.col("op").cast("double"))
    gk = (0.5 * lnhl * lnhl
          - (2.0 * F.log(F.lit(2.0)) - 1.0) * lnco * lnco)
    terms = ohlc.select(F.round(gk, 12).cast("decimal(38,12)")
                        .alias("gk"))
    out = terms.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"),
                    F.sum("gk").cast("double").alias("sgk"))
    vol = F.sqrt(F.col("sgk") / F.col("n_days").cast("double"))
    return out.select("n_days",
                      F.round(vol, 6).alias("gk_daily_vol"),
                      F.round(vol * float(252.0 ** 0.5), 6)
                      .alias("gk_annualized"))


@register(
    "agg_erlang_c",
    oracle="""
    WITH lam AS (
      SELECT count(*) / CAST(count(DISTINCT date_trunc('hour', ts))
                             AS DOUBLE) AS l
      FROM events),
    a0 AS (SELECT l / 0.25 AS a FROM lam),
    grid AS (SELECT CAST(range AS INT) AS c FROM range(1, 21)),
    ks AS (SELECT CAST(range AS INT) AS k FROM range(0, 21)),
    terms AS (
      SELECT k, CASE WHEN a0.a < 20
                     THEN CAST(round(pow(a0.a, k) / factorial(k), 12)
                               AS DECIMAL(38,12)) END AS t
      FROM ks, a0),
    s AS (
      SELECT g.c,
             CAST(sum(CASE WHEN t2.k < g.c THEN t2.t END) AS DOUBLE)
               AS head,
             CAST(max(CASE WHEN t2.k = g.c THEN t2.t END) AS DOUBLE)
               AS tc
      FROM grid g, terms t2 GROUP BY g.c)
    SELECT s.c AS agents,
           round(a0.a / s.c, 6) AS rho,
           round(CASE WHEN a0.a >= s.c THEN 1.0
                 ELSE s.tc / ((1.0 - a0.a / s.c) * s.head + s.tc)
                 END, 6) AS p_wait,
           a0.a < s.c AS stable
    FROM s, a0
    """)
def agg_erlang_c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ERLANG-C staffing curve from the measured event arrival rate:
    with offered load a = λ/μ (λ = observed mean hourly arrivals, μ =
    0.25/hour the literal design service rate), the probability an
    arrival must queue under c parallel servers is
    C(c,a) = (aᶜ/c!) / ((1−ρ)·Σ_{k<c} aᵏ/k! + aᶜ/c!) — the classic
    M/M/c answer to 'how many parallel consumers does this ingest
    stream need?', one row per c ∈ 1..20, saturated rows (ρ ≥ 1)
    pinned to P(wait) = 1. The measured-λ side makes it a data query,
    not a formula table: λ is the events-table hourly mean, exactly
    the quantity `agg_littles_law` consumes.

    λ is a ratio of exact counts; each aᵏ/k! term (k ≤ 20, exact
    factorial) is quantized to 12-dp DECIMAL before the grid sums, so
    the c×k fan-out (a fixed 20×21 frame) is order-safe. Where a ≥ 20,
    the largest c, every row is saturated and the terms are unused, so
    they stay NULL: at sf0.1 (a ≈ 556) the largest would be ~3e36,
    past DECIMAL(38,12). One events aggregate + constant-size grid
    math."""
    e = tables.load(spark, sf_dir, "events")
    lam = e.agg((F.count(F.lit(1))
                 / F.countDistinct(F.date_trunc("hour", F.col("ts")))
                 .cast("double")).alias("l"))
    a0 = lam.select((F.col("l") / 0.25).alias("a"))
    spark_s = e.sparkSession
    grid = spark_s.range(1, 21).select(F.col("id").cast("int")
                                       .alias("c"))
    ks = spark_s.range(0, 21).select(F.col("id").cast("int")
                                     .alias("k"))
    terms = (ks.crossJoin(F.broadcast(a0))
             .select("k",
                     F.when(F.col("a") < 20,
                            F.round(F.pow(F.col("a"), F.col("k"))
                                    / F.factorial(F.col("k")), 12)
                            .cast("decimal(38,12)")).alias("t")))
    s = (grid.crossJoin(terms)
         .groupBy("c")
         .agg(F.sum(F.when(F.col("k") < F.col("c"), F.col("t")))
              .cast("double").alias("head"),
              F.max(F.when(F.col("k") == F.col("c"), F.col("t")))
              .cast("double").alias("tc")))
    j = s.crossJoin(F.broadcast(a0))
    rho = F.col("a") / F.col("c")
    pw = F.when(F.col("a") >= F.col("c"), F.lit(1.0)) \
        .otherwise(F.col("tc")
                   / ((1.0 - rho) * F.col("head") + F.col("tc")))
    return j.select(F.col("c").alias("agents"),
                    F.round(rho, 6).alias("rho"),
                    F.round(pw, 6).alias("p_wait"),
                    (F.col("a") < F.col("c")).alias("stable"))
