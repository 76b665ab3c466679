"""Temporal joins (as-of / interval / range-bin) and distributed
connected components: unit semantics the oracle queries can't isolate
— tolerance nulls, singleton handling, star convergence on adversarial
chains, and the streaming twin of the interval join.
"""

from __future__ import annotations

import random

import pytest
from conftest import jobs_run_by
from pyspark.sql import functions as F

from pmc_conversion_spark.functions import graph
from pmc_conversion_spark.functions.graph import connected_components
from pmc_conversion_spark.operators.temporal import (asof_join,
                                                     asof_nearest_join,
                                                     interval_join)


def test_asof_nearest_picks_closer_side_and_breaks_ties(spark, fixture_df):
    left = fixture_df(
        [(1, 10, "2024-01-01 10:00:00"),   # back 1min vs fwd 5min -> back
         (1, 11, "2024-01-01 12:00:00"),   # back 115min vs fwd 3min -> fwd
         (1, 12, "2024-01-01 10:06:00"),   # 1min either way -> back wins
         (2, 13, "2024-01-01 10:00:00")],  # key with no clicks -> dropped
        "k int, lid int, lts string").select(
        "k", "lid", F.to_timestamp("lts").alias("lts"))
    right = fixture_df(
        [(1, 100, "2024-01-01 09:59:00"),
         (1, 101, "2024-01-01 10:05:00"),
         (1, 102, "2024-01-01 10:07:00"),
         (1, 103, "2024-01-01 12:03:00")],
        "k int, rid int, rts string").select(
        "k", "rid", F.to_timestamp("rts").alias("rts"))
    out = asof_nearest_join(left, right, on="k", left_ts="lts",
                            right_ts="rts", right_cols=["rid", "rts"])
    got = {r.lid: r.rid for r in out.collect()}
    assert got == {10: 100, 11: 103, 12: 101}
    # plan: one shuffle (the window partitioning, shared by both
    # direction windows), no join operator. Audit only the AQE final
    # section — the initial plan repeats below it after execution.
    plan = (out._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_asof_nearest_equal_ts_prefers_min_id(spark, fixture_df):
    left = fixture_df([(1, "2024-01-01 10:00:00")], "k int, lts string") \
        .select("k", F.to_timestamp("lts").alias("lts"))
    right = fixture_df(
        [(1, 7, "2024-01-01 10:00:00"), (1, 9, "2024-01-01 10:00:00")],
        "k int, rid int, rts string").select(
        "k", "rid", F.to_timestamp("rts").alias("rts"))
    out = asof_nearest_join(left, right, on="k", left_ts="lts",
                            right_ts="rts",
                            right_cols=["rid", "rts"]).collect()
    assert out[0].rid == 7   # distance-0 tie -> backward -> min id


def test_asof_tolerance_nulls_out_stale_matches(spark, fixture_df):
    left = fixture_df(
        [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 12:00:00")],
        "k int, lts string").select(
        "k", F.to_timestamp("lts").alias("lts"))
    right = fixture_df(
        [(1, 100, "2024-01-01 09:59:00")],
        "k int, rid int, rts string").select(
        "k", "rid", F.to_timestamp("rts").alias("rts"))
    out = asof_join(left, right, on="k", left_ts="lts", right_ts="rts",
                    right_cols=["rid", "rts"], tolerance="'10' minute")
    rows = {r.lts.hour: r.rid for r in out.collect()}
    assert rows[10] == 100          # 1 min old: within tolerance
    assert rows[12] is None         # 2h old: nulled, row kept (left join)


def test_asof_equal_ts_matches_inclusive_and_ties_by_id(spark, fixture_df):
    left = fixture_df([(1, "2024-01-01 10:00:00")], "k int, lts string") \
        .select("k", F.to_timestamp("lts").alias("lts"))
    right = fixture_df(
        [(1, 7, "2024-01-01 10:00:00"), (1, 9, "2024-01-01 10:00:00")],
        "k int, rid int, rts string").select(
        "k", "rid", F.to_timestamp("rts").alias("rts"))
    out = asof_join(left, right, on="k", left_ts="lts", right_ts="rts",
                    right_cols=["rid", "rts"]).collect()
    assert out[0].rid == 9          # same-instant match, highest id wins


@pytest.mark.slow
def test_interval_join_matches_batch_and_stream(spark, tmp_path,
                                                fixture_df):
    rows_l = [(1, 10, "2024-01-01 10:00:00"), (1, 11, "2024-01-01 12:00:00")]
    rows_r = [(1, 20, "2024-01-01 09:30:00"),   # 30 min before 10:00
              (1, 21, "2024-01-01 11:59:00"),   # 1 min before 12:00
              (1, 22, "2024-01-01 06:00:00")]   # too early for both
    lt = fixture_df(rows_l, "k int, lid int, lts string").select(
        "k", "lid", F.to_timestamp("lts").alias("lts"))
    rt = fixture_df(rows_r, "k int, rid int, rts string").select(
        "k", "rid", F.to_timestamp("rts").alias("rts"))
    batch = interval_join(lt, rt, on="k", left_ts="lts", right_ts="rts",
                          lower="1 hour")
    got = sorted((r.lid, r.rid) for r in batch.collect())
    assert got == [(10, 20), (11, 21)]

    # streaming twin over real readStream machinery must agree
    from pmc_conversion_spark.streaming.joins import stream_interval_join
    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    lt.write.parquet(ldir)
    rt.write.parquet(rdir)
    ls = spark.readStream.schema(lt.schema).parquet(ldir)
    rs = spark.readStream.schema(rt.schema).parquet(rdir)
    joined = stream_interval_join(ls, rs, on="k", left_ts="lts",
                                  right_ts="rts", lower="1 hour",
                                  watermark="2 hours")
    q = (joined.writeStream.format("memory").queryName("ivj")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    stream_got = sorted((r.lid, r.rid)
                        for r in spark.table("ivj").collect())
    assert stream_got == got


@pytest.fixture(params=["driver", "distributed"])
def cc_path(request, monkeypatch):
    """Run the test through each side of ``DRIVER_EDGES``."""
    if request.param == "distributed":
        monkeypatch.setattr(graph, "DRIVER_EDGES", 0)
    return request.param


def test_cc_two_components_and_transitivity(spark, fixture_df, cc_path):
    # 1-2, 2-3 transitively one cluster; 10-11 a second; 99 never appears
    edges = fixture_df([(2, 1), (3, 2), (10, 11)], "src long, dst long")
    cc = {r.node: r.component
          for r in connected_components(edges).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


@pytest.mark.slow
def test_cc_converges_on_long_chain(spark, fixture_df, monkeypatch):
    # a 40-node path is the adversarial case for label propagation
    # (diameter 39); alternating star must converge well inside max_iter
    monkeypatch.setattr(graph, "DRIVER_EDGES", 0)
    edges = fixture_df([(i, i + 1) for i in range(40)],
                       "src long, dst long")
    cc = connected_components(edges, max_iter=12)
    comps = cc.select("component").distinct().collect()
    assert [r.component for r in comps] == [0]
    assert cc.count() == 41


def test_cc_self_loops_and_duplicate_edges_ignored(spark, fixture_df,
                                                   cc_path):
    edges = fixture_df([(5, 5), (1, 2), (2, 1), (1, 2)],
                       "src long, dst long")
    cc = {r.node: r.component
          for r in connected_components(edges).collect()}
    assert cc == {1: 1, 2: 1}


def test_cc_driver_and_distributed_agree(spark, fixture_df, monkeypatch):
    # ~2,000 random edges over 3,000 ids (many components), a 200-node
    # path, self-loops and duplicate edges
    rng = random.Random(11)
    rows = [(rng.randrange(3000), rng.randrange(3000)) for _ in range(2000)]
    rows += [(10_000 + i, 10_000 + i + 1) for i in range(199)]
    rows += [(i, i) for i in range(0, 3000, 97)] + rows[:50]
    rng.shuffle(rows)
    edges = fixture_df(rows, "src long, dst long")
    driver = connected_components(edges)
    monkeypatch.setattr(graph, "DRIVER_EDGES", 0)
    distributed = connected_components(edges)
    assert driver.schema == distributed.schema
    rows = sorted(map(tuple, driver.collect()))
    assert rows == sorted(map(tuple, distributed.collect()))
    assert len({component for _, component in rows}) > 100


def test_cc_below_bound_runs_checkpoint_and_collect_only(spark, fixture_df):
    # the checkpoint, then the collect; the result is a local table, so
    # reading it back runs no job at all (hence no shuffle)
    edges = fixture_df([(2, 1), (3, 2), (10, 11)], "src long, dst long")
    jobs, cc = jobs_run_by(spark, lambda: connected_components(edges))
    assert jobs == 2
    assert jobs_run_by(spark, cc.collect)[0] == 0


def test_asof_rejects_nonintegral_tie_column(spark, fixture_df):
    import pytest
    left = fixture_df([(1, "2024-01-01 10:00:00")], "k int, lts string") \
        .select("k", F.to_timestamp("lts").alias("lts"))
    right = fixture_df([(1, "x", "2024-01-01 09:00:00")],
                       "k int, rid string, rts string").select(
        "k", "rid", F.to_timestamp("rts").alias("rts"))
    with pytest.raises(ValueError, match="integral"):
        asof_join(left, right, on="k", left_ts="lts", right_ts="rts",
                  right_cols=["rid", "rts"])


def test_apply_cdc_delete_beats_earlier_update(spark, fixture_df):
    from pmc_conversion_spark.operators.windows import apply_cdc
    base = fixture_df([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    changes = fixture_df(
        [(1, 1, "U", "a2"),     # update k=1
         (1, 2, "D", "a2"),     # then delete it: delete wins
         (2, 1, "U", "b2"),     # plain update
         (9, 1, "I", "new")],   # insert new key
        "k long, seq long, op string, v string")
    out = {r.k: r.v
           for r in apply_cdc(base, changes, "k", "seq", "op",
                              ["v"]).collect()}
    assert out == {2: "b2", 3: "c", 9: "new"}


def test_bloom_prefilter_join_equals_plain_join(spark):
    from pmc_conversion_spark.operators.joins import bloom_prefilter_join
    from pyspark.sql import functions as F
    fact = spark.range(2000).select(
        (F.col("id") % 500).alias("k"), F.col("id").alias("v"))
    dim = spark.range(120).select(
        (F.col("id") * 3).alias("k"), F.lit("d").alias("tag"))
    plain = sorted((r.k, r.v, r.tag) for r in
                   fact.join(dim, "k").collect())
    # normal bitmap: identical result
    got = sorted((r.k, r.v, r.tag) for r in
                 bloom_prefilter_join(fact, dim, "k").collect())
    assert got == plain
    # pathologically tiny bitmap (64 bits): every probe is a false
    # positive, the exact join must still make the result identical
    got_fp = sorted((r.k, r.v, r.tag) for r in
                    bloom_prefilter_join(fact, dim, "k",
                                         m_bits=64, k=1).collect())
    assert got_fp == plain


def test_asof_forward_direction_ties_and_tolerance(spark, fixture_df):
    left = fixture_df(
        [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 13:00:00")],
        "k int, lts string").select(
        "k", F.to_timestamp("lts").alias("lts"))
    right = fixture_df(
        [(1, 7, "2024-01-01 10:00:00"),   # same instant as left #1
         (1, 9, "2024-01-01 10:00:00"),   # tie: lowest id must win
         (1, 5, "2024-01-01 14:30:00")],  # 90 min after left #2
        "k int, rid int, rts string").select(
        "k", "rid", F.to_timestamp("rts").alias("rts"))
    out = asof_join(left, right, on="k", left_ts="lts", right_ts="rts",
                    right_cols=["rid", "rts"], direction="forward")
    rows = {r.lts.hour: r.rid for r in out.collect()}
    assert rows[10] == 7            # same-instant inclusive, LOWEST id
    assert rows[13] == 5            # next future reading
    # tolerance nulls matches further than 1h in the future
    tol = asof_join(left, right, on="k", left_ts="lts", right_ts="rts",
                    right_cols=["rid", "rts"], direction="forward",
                    tolerance="'60' minute")
    rows = {r.lts.hour: r.rid for r in tol.collect()}
    assert rows[10] == 7 and rows[13] is None
    # unknown direction rejected
    import pytest as _pt
    with _pt.raises(ValueError):
        asof_join(left, right, on="k", left_ts="lts", right_ts="rts",
                  right_cols=["rid", "rts"], direction="nearest")


@pytest.mark.slow
def test_left_outer_interval_join_stream_emits_null_rows(spark, tmp_path,
                                                         fixture_df):
    from pmc_conversion_spark.streaming.joins import stream_interval_join
    rows_l = [(1, 10, "2024-01-01 10:00:00"),   # has a match
              (1, 11, "2024-01-01 12:00:00")]   # no click in window
    rows_r = [(1, 20, "2024-01-01 09:30:00")]
    lt = fixture_df(rows_l, "k int, lid int, lts string").select(
        "k", "lid", F.to_timestamp("lts").alias("lts"))
    rt = fixture_df(rows_r, "k int, rid int, rts string").select(
        "k", "rid", F.to_timestamp("rts").alias("rts"))
    ldir, rdir = str(tmp_path / "lo_l"), str(tmp_path / "lo_r")
    ckpt = str(tmp_path / "lo_ckpt")
    lt.write.parquet(ldir)
    rt.write.parquet(rdir)

    outdir = str(tmp_path / "lo_out")

    def run_tick():
        ls = spark.readStream.schema(lt.schema).parquet(ldir)
        rs = spark.readStream.schema(rt.schema).parquet(rdir)
        joined = stream_interval_join(ls, rs, on="k", left_ts="lts",
                                      right_ts="rts", lower="1 hour",
                                      watermark="2 hours", how="leftOuter")
        q = (joined.writeStream.format("parquet")
             .option("path", outdir)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return [(r.lid, r.rid)
                for r in spark.read.parquet(outdir).collect()]

    got1 = run_tick()
    assert sorted(got1) == [(10, 20)]   # unmatched row NOT emitted yet

    # Outer rows are emitted by state EVICTION, which needs the global
    # watermark (min across both inputs) to pass the match window —
    # push it with late disjoint-key events on BOTH sides, then tick.
    fixture_df([(8, 80, "2024-01-01 18:00:00")],
               "k int, lid int, lts string").select(
        "k", "lid", F.to_timestamp("lts").alias("lts"))         .write.mode("append").parquet(ldir)
    fixture_df([(9, 91, "2024-01-01 18:00:00")],
               "k int, rid int, rts string").select(
        "k", "rid", F.to_timestamp("rts").alias("rts"))         .write.mode("append").parquet(rdir)
    got2 = run_tick()
    assert (11, None) in got2           # null-padded after eviction
