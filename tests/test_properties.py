"""Property-based tests (hypothesis): Spark operators vs pure-Python
reference implementations on randomized inputs — catches boundary
algebra the fixture corpora never hit (empty docs, exact-multiple
lengths, single-event users, equal timestamps).

Each example runs ONE Spark job over a generated batch, so example
counts stay small; the reference implementations are deliberately
naive (clarity over speed).
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pmc_conversion_spark.functions import text as TX

_SETTINGS = dict(max_examples=8, deadline=None,
                 suppress_health_check=[HealthCheck.function_scoped_fixture])


def _ref_chunks(tokens: list[str], chunk: int, stride: int):
    n = len(tokens)
    nc = 1 if n <= chunk else math.ceil((n - chunk) / stride) + 1
    for i in range(nc):
        window = tokens[i * stride:i * stride + chunk]
        yield i, i * stride, " ".join(window), len(window)


@settings(**_SETTINGS)
@given(st.lists(st.integers(min_value=0, max_value=150),
                min_size=1, max_size=12),
       st.sampled_from([(6, 4), (8, 8), (5, 2), (64, 48)]))
def test_chunk_documents_matches_reference(spark, doc_lens, params):
    chunk, stride = params
    docs = [(i, " ".join(f"w{j}" for j in range(n)))
            for i, n in enumerate(doc_lens)]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {(r.doc_id, r.chunk_id): (r.start_tok, r.chunk_text, r.n_tokens)
           for r in TX.chunk_documents(df, "text", ("doc_id",),
                                       chunk=chunk, stride=stride).collect()}
    want = {}
    for i, n in enumerate(doc_lens):
        toks = [f"w{j}" for j in range(n)]
        for cid, start, body, nt in _ref_chunks(toks, chunk, stride):
            want[(i, cid)] = (start, body, nt)
    assert got == want


def _ref_sessions(times: list[int], gap: int):
    sid, prev = 0, None
    out = []
    for t in sorted(times):
        if prev is None or t - prev > gap:
            sid += 1
        out.append((t, sid))
        prev = t
    return out


@settings(**_SETTINGS)
@given(st.lists(
    st.tuples(st.integers(min_value=0, max_value=4),       # user
              st.integers(min_value=0, max_value=100_000)),  # seconds
    min_size=1, max_size=60, unique=True))
def test_sessionize_matches_reference(spark, events):
    # same 30-min-gap rule as win_sessionize_batch, distinct (user, ts)
    # pairs so the reference's sort is unambiguous
    gap_s = 1800
    rows = [(u, i, t) for i, (u, t) in enumerate(events)]
    df = spark.createDataFrame(rows, "user_id int, event_id int, ts_s long")
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    prev = F.lag("ts_s").over(w)
    is_new = F.when(prev.isNull() | ((F.col("ts_s") - prev) > gap_s),
                    F.lit(1)).otherwise(F.lit(0))
    got = {(r.user_id, r.ts_s): r.session_id
           for r in df.withColumn(
               "session_id",
               F.sum(is_new).over(
                   w.rowsBetween(Window.unboundedPreceding,
                                 Window.currentRow))).collect()}
    by_user: dict[int, list[int]] = {}
    for u, t in events:
        by_user.setdefault(u, []).append(t)
    for u, times in by_user.items():
        for t, sid in _ref_sessions(times, gap_s):
            assert got[(u, t)] == sid


_URL_CHARS = st.text(
    alphabet="abcXYZ019-._~", min_size=0, max_size=8)


@settings(**_SETTINGS)
@given(st.lists(
    st.tuples(st.sampled_from(["http", "HTTP", "https"]),
              st.sampled_from(["Host.COM", "h", "x.y.z"]),
              st.sampled_from(["", ":80", ":443", ":8080"]),
              _URL_CHARS,
              st.sampled_from(["", "/", "?utm_source=a", "?id=1&utm_x=b",
                               "#frag", "?utm_a=1&utm_b=2#f"])),
    min_size=1, max_size=12))
def test_canonical_url_is_idempotent(spark, parts):
    urls = [(i, f"{s}://{h}{p}/{path}{tail}")
            for i, (s, h, p, path, tail) in enumerate(parts)]
    df = spark.createDataFrame(urls, "id long, url string")
    once = df.select("id", TX.canonical_url(F.col("url")).alias("c"))
    twice = once.select("id", TX.canonical_url(F.col("c")).alias("c2"),
                        "c")
    for r in twice.collect():
        assert r.c2 == r.c, (r.c, r.c2)
        # canonical form never keeps fragments, tracking params,
        # default ports, or a dangling separator
        assert "#" not in r.c and "utm_" not in r.c
        assert ":80/" not in r.c and not r.c.endswith(("?", "&"))


@settings(**_SETTINGS)
@given(st.lists(st.text(alphabet="abcd \t", min_size=0, max_size=40),
                min_size=1, max_size=16))
def test_char_entropy_bounds_and_python_replay(spark, texts):
    import collections
    df = spark.createDataFrame(list(enumerate(texts)),
                               "id long, text string")
    got = {r.id: r.e for r in df.select(
        "id", TX.char_entropy_bits(F.col("text")).alias("e")).collect()}
    for i, t in enumerate(texts):
        cnt = collections.Counter(t)
        n = len(t)
        want = -sum((c / n) * math.log2(c / n) for c in cnt.values()) \
            if n else 0.0
        assert abs(got[i] - want) < 1e-5, (t, got[i], want)
        # the op rounds to 6 decimals, so allow half-ulp slack at the
        # theoretical log2(k) ceiling (round(log2(3), 6) > log2(3))
        assert 0.0 <= got[i] <= math.log2(max(len(cnt), 2)) + 5e-7


def _ref_nearest(lefts, rights):
    """Naive nearest-either-direction with the operator's tie contract:
    min |delta|, then backward (<=) over forward, then min right id."""
    out = {}
    for lid, lts in lefts:
        best = None
        for rid, rts in rights:
            d = abs(rts - lts)
            side = 0 if rts <= lts else 1
            cand = (d, side, rid)
            if best is None or cand < best:
                best = cand
        if best is not None:
            out[lid] = best[2]
    return out


@settings(**_SETTINGS)
@given(st.lists(st.integers(min_value=0, max_value=40),
                min_size=1, max_size=8),
       st.lists(st.integers(min_value=0, max_value=40),
                min_size=0, max_size=8))
@pytest.mark.slow
def test_asof_nearest_matches_reference(spark, lts_list, rts_list):
    from pmc_conversion_spark.operators.temporal import asof_nearest_join
    base = 1_700_000_000
    lefts = [(i, t) for i, t in enumerate(lts_list)]
    rights = [(100 + i, t) for i, t in enumerate(rts_list)]
    ldf = spark.createDataFrame(
        [(1, lid, base + t) for lid, t in lefts],
        "k int, lid int, e long").selectExpr(
        "k", "lid", "timestamp_seconds(e) AS lts")
    rdf = spark.createDataFrame(
        [(1, rid, base + t) for rid, t in rights] or
        [(2, 0, base)],  # non-empty frame, disjoint key when empty
        "k int, rid int, e long").selectExpr(
        "k", "rid", "timestamp_seconds(e) AS rts")
    got = {r.lid: r.rid
           for r in asof_nearest_join(ldf, rdf, on="k", left_ts="lts",
                                      right_ts="rts",
                                      right_cols=["rid", "rts"]).collect()}
    assert got == _ref_nearest(lefts, rights)


def _ref_passages(docs, k):
    """Naive passage dedup: fixed k-token windows, keep a passage only
    in the minimum doc_id carrying its text."""
    owner = {}
    per_doc = {}
    for did, toks in docs:
        ps = [" ".join(toks[i * k:(i + 1) * k])
              for i in range((len(toks) + k - 1) // k)]
        per_doc[did] = ps
        for p in ps:
            owner[p] = min(owner.get(p, did), did)
    return {did: (len(ps), sum(1 for p in ps if owner[p] == did))
            for did, ps in per_doc.items() if ps}


@settings(**_SETTINGS)
@given(st.lists(
    st.lists(st.integers(min_value=0, max_value=3),
             min_size=0, max_size=25),
    min_size=1, max_size=8))
def test_passage_dedup_matches_reference(spark, docs_tokens):
    """Tiny 4-word vocabulary makes cross-doc passage repeats likely;
    covers empty docs, exact-multiple lengths, sub-window docs."""
    import __spark_entry__  # ensure registry import side effects
    from pyspark.sql import Window
    from pmc_conversion_spark.functions import dedup as DD
    from pmc_conversion_spark.functions.text import ws_tokens

    k = 3
    docs = [(i, [f"w{t}" for t in toks])
            for i, toks in enumerate(docs_tokens)]
    df = spark.createDataFrame([(i, " ".join(t)) for i, t in docs],
                               "doc_id long, text string")
    toks = ws_tokens(F.lower(F.col("text")))
    n_pass = F.ceil(F.size(F.col("toks")) / F.lit(float(k))).cast("int")
    passages = F.when(
        F.size(F.col("toks")) > 0,
        F.transform(F.sequence(F.lit(0), n_pass - 1),
                    lambda i: F.array_join(
                        F.slice(F.col("toks"), i * k + 1, k), " "))
    ).otherwise(F.array().cast("array<string>"))
    ps = (df.select("doc_id", toks.alias("toks"))
          .select("doc_id", F.explode(passages).alias("passage"))
          .select("doc_id", DD.md5_int60(F.col("passage")).alias("h")))
    keeper = F.min("doc_id").over(Window.partitionBy("h"))
    got = {r.doc_id: (r.n_passages, r.n_kept)
           for r in (ps.withColumn("keeper", keeper)
                     .groupBy("doc_id")
                     .agg(F.count(F.lit(1)).alias("n_passages"),
                          F.count(F.when(F.col("doc_id")
                                         == F.col("keeper"), 1))
                          .alias("n_kept"))).collect()}
    assert got == _ref_passages(docs, k)


_FOLD_HOF = __import__("re").compile(r"\b(?:aggregate|reduce)\(")
_PY_EVAL = __import__("re").compile(
    r"ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas|MapInPandas"
    r"|PythonMapInArrow|FlatMapCoGroupsInPandas|AggregateInPandas"
    r"|WindowInPandas|MapInArrow")


def _registry_nondeterminism_risk_ops(spark, qs, sf):
    """Auto-derive the invariance sweep from the registry (r5 verdict,
    What's-wrong #2): the two highest-risk classes for
    partitioning-dependent results are (a) higher-order folds over
    collected series — float fold order is fixed by sort_array, but a
    missing sort or an under-specified sort key silently breaks under
    repartitioning — and (b) pandas-UDF stages, whose batch boundaries
    move with the partitioning. Any query whose analyzed plan contains
    an aggregate()/reduce() HOF, or whose executed plan contains a
    Python-eval node, is swept automatically; a hand-curated seed list
    covers the remaining classes (LSH banding, global numbering,
    running-sum packing, clustering, weighted sampling)."""
    derived = set()
    for name, fn in qs.items():
        try:
            qe = fn(spark, sf)._jdf.queryExecution()
            if _FOLD_HOF.search(qe.analyzed().toString()) or \
                    _PY_EVAL.search(qe.executedPlan().toString()):
                derived.add(name)
        except Exception:
            continue  # build errors are the gate's business
    return derived


@pytest.mark.slow
def test_partitioning_invariance_representative_ops(spark):
    """Determinism harness: representative operators from every risky
    family (LSH banding, global numbering, running-sum packing,
    clustering, weighted sampling) must return IDENTICAL rows under
    different shuffle-partition counts — the property that makes
    results reproducible across cluster sizes. The fold/pandas-UDF
    classes are DERIVED from the registry plans, not hand-curated, so
    new ops of those classes join the sweep automatically."""
    import __spark_entry__ as E
    qs = E.queries()
    names = ["dedup_minhash_lsh", "win_surrogate_key", "pack_sequences",
             "sim_kmeans_assign", "sample_weighted_topk",
             "dedup_passage_exact",
             # round-3 additions of the same risk classes: iterative
             # decimal-summed ranks, global curriculum numbering,
             # argmin encodings, hash sketches, cluster composites
             "graph_pagerank", "pipeline_curriculum_order",
             "sim_pq_encode", "sketch_theta_intersect",
             "dedup_minhash_cluster", "split_leakage_safe",
             # round-4 additions of the same classes: bit-sketch
             # candidates, hash featurization, KMV samples, folds
             "dedup_minhash_bbit", "text_feature_hashing",
             "sketch_bottomk_sample", "ts_ewma",
             # round-4 continuation: fold-ordered float reductions,
             # distributed prefix sums, LPA argmax ties, block-hash
             # candidate joins, cogrouped Arrow merges
             "agg_ndcg_eval", "agg_ab_sprt", "agg_ks_test",
             "graph_label_propagation", "mm_image_neardup_ahash",
             "join_cogroup_arrow", "agg_anova_oneway",
             "agg_calibration_ece", "text_boilerplate_strip",
             # later round-4 continuation fold/rank/hash classes:
             "dq_psi_drift", "agg_gtest_mi", "agg_covisitation_topk",
             "pipeline_contrastive_triplets", "agg_uplift_qini",
             "mm_audio_neardup_energy", "agg_tail_risk",
             "pipeline_e2e_llm_capstone", "agg_spearman_rank_corr",
             # round-5 wave 2: state-space/fold recurrences, iterative
             # decimal-normalized scores, token-hash LM ratios,
             # pandas-UDF pair scoring, regex sequence encodes
             "ts_kalman_1d", "ts_ses_alpha_sweep", "graph_hits",
             "pipeline_dsir_select", "f_jaro_winkler",
             "agg_seq_pattern_count", "text_rake_keywords",
             # round-5 wave 3: decimal-iterated eigenvector, hash
             # label reshuffles, bounded-domain prefix-sum splits,
             # fold-encoded geohash cells
             "agg_markov_stationary", "agg_permutation_test",
             "agg_gini_split_finder", "f_geohash_encode"]
    sf = "/root/testdata/sf0.001"
    derived = _registry_nondeterminism_risk_ops(spark, qs, sf)
    # pin that the derivation actually sees the classes it claims to:
    # the three r5 fold ops the hand list missed, plus one per marker
    # (MapInPandas: a query whose returned plan ends in it, not one
    # that checkpoints the Python stage away before returning)
    for must in ("win_ema_crossover", "ts_holt_winters",
                 "win_ewma_irregular", "ts_kalman_1d",
                 "mm_image_grayscale_hist", "f_jaro_winkler"):
        assert must in derived, f"derivation lost {must}"
    sweep = sorted(set(names) | derived)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = {}
        for nparts in ("3", "13"):
            spark.conf.set("spark.sql.shuffle.partitions", nparts)
            for n in sweep:
                # key=repr: derived ops may emit None/array cells that
                # plain tuple ordering cannot compare
                rows = sorted(map(tuple, qs[n](spark, sf).collect()),
                              key=repr)
                results.setdefault(n, []).append(rows)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    for n, (a, b) in results.items():
        assert a == b, f"{n} changed under repartitioning"


def test_bmp_ppm_codec_roundtrip_property():
    """Property: ANY uint8 RGB array round-trips exactly through both
    real codecs, across the stride/padding and header regimes."""
    import numpy as np
    from hypothesis import given, settings, strategies as st

    from pmc_conversion_spark.functions import multimodal as MM

    @settings(max_examples=40, deadline=None)
    @given(w=st.integers(1, 40), h=st.integers(1, 25),
           seed=st.integers(0, 2**31 - 1))
    def check(w, h, seed):
        px = np.random.default_rng(seed).integers(
            0, 256, size=(h, w, 3), dtype=np.uint8)
        assert np.array_equal(MM.decode_bmp(MM.encode_bmp(px)), px)
        assert np.array_equal(MM.decode_ppm(MM.encode_ppm(px)), px)

    check()


def _ref_ntile(n: int, k: int) -> list[int]:
    """SQL ntile reference: first n%k tiles get one extra row."""
    q, rem = divmod(n, k)
    out = []
    for tile in range(1, k + 1):
        out.extend([tile] * (q + (1 if tile <= rem else 0)))
    return out


@pytest.mark.slow
def test_ntile_distributed_matches_sql_ntile_property(spark):
    """Property: ntile_distributed == Window ntile for arbitrary
    (value, id) data, ANY k, ANY bucket count — including the fair-
    division edge the naive floor((r-1)k/N)+1 formula gets wrong
    (e.g. N=27, k=5 must split 6,6,5,5,5 — extras FIRST)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pmc_conversion_spark.operators.windows import ntile_distributed

    @settings(max_examples=12, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(vals=st.lists(st.integers(0, 9), min_size=1, max_size=60),
           k=st.integers(2, 11), buckets=st.sampled_from([2, 7, 32]))
    def check(vals, k, buckets):
        df = spark.createDataFrame(
            [(v, i) for i, v in enumerate(vals)], "z int, rid int")
        key = F.struct((-F.col("z")).alias("nz"),
                       F.col("rid").alias("r"))
        got = {r.rid: r.t for r in ntile_distributed(
            df, key, k, out_col="t", buckets=buckets).collect()}
        exp = {r.rid: r.t for r in df.select(
            "rid", F.ntile(k).over(
                Window.orderBy(F.col("z").desc(), "rid")).alias("t"))
            .collect()}
        assert got == exp
        # and both agree with the closed-form fair division
        order = sorted(range(len(vals)),
                       key=lambda i: (-vals[i], i))
        ref = _ref_ntile(len(vals), k)
        assert [got[rid] for rid in order] == ref[:len(vals)]

    check()


@pytest.mark.slow
def test_next_value_distributed_matches_lead_property(spark):
    """Property: next_value_distributed == lead() OVER (ORDER BY k)
    for arbitrary key sets and bucket counts — bucket boundaries must
    stitch to the NEXT NON-EMPTY bucket's min."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pmc_conversion_spark.operators.windows import (
        next_value_distributed)

    @settings(max_examples=10, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(keys=st.sets(st.integers(0, 10_000), min_size=1,
                        max_size=80),
           buckets=st.sampled_from([2, 7, 32]))
    def check(keys, buckets):
        df = spark.createDataFrame([(x,) for x in keys], "k long")
        got = {r.k: r.nk for r in next_value_distributed(
            df, "k", out_col="nk", buckets=buckets).collect()}
        exp = {r.k: r.nk for r in df.select(
            "k", F.lead("k").over(Window.orderBy("k")).alias("nk"))
            .collect()}
        assert got == exp

    check()


def test_bucket_boundaries_deterministic_across_executions(spark):
    """r7 deterministic-bucketing invariant: the boundary frame is a
    pure function of the DATA — re-executing the sub-plan (as AQE
    branch re-planning does) must yield bit-identical boundaries, and
    the per-row __bucket assignment must be identical no matter which
    physical branch computes it. This is the property whose absence
    was the r6 sf0.1 bug (repartitionByRange re-sampling across plan
    branches)."""
    from pmc_conversion_spark.operators.windows import (
        _bucket_boundaries, _range_bucketed)
    df = (spark.range(0, 5000)
          .select((F.col("id") * 2654435761 % 99991).alias("k")))
    b1 = _bucket_boundaries(df, 16, F.col("k")).collect()[0]["__bnds"]
    b2 = _bucket_boundaries(df, 16, F.col("k")).collect()[0]["__bnds"]
    b3 = _bucket_boundaries(df.repartition(7), 16,
                            F.col("k")).collect()[0]["__bnds"]
    assert b1 == b2 == b3
    assert b1 == sorted(x for x in b1 if x is not None)
    # assignment is monotone in the key and stable across executions
    a1 = {r["k"]: r["__bucket"]
          for r in _range_bucketed(df, 16, F.col("k")).collect()}
    a2 = {r["k"]: r["__bucket"]
          for r in _range_bucketed(df.repartition(13), 16,
                                   F.col("k")).collect()}
    assert a1 == a2
    ks = sorted(a1)
    assert all(a1[ks[i]] <= a1[ks[i + 1]] for i in range(len(ks) - 1))
