"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE COMPACT JSON line (r6 verdict What's-wrong #1: the driver
stores only a bounded output tail, and the ~6 KB single line carrying
63 raw + 63 normalized timings got truncated mid-object, leaving
BENCH_r06.json with parsed:null). The stdout line now carries only the
headline scalars — raw total, normalized total, host factor, drift,
sf, query count — a few hundred bytes that survive any tail capture.
The full per-query detail (raw + normalized + calibration) is written
to the file named by $SPARK_GRAFT_BENCH_DETAIL (default
BENCH_local_latest.json next to this script); the builder commits it
as BENCH_local_r{N}.json each round.

r8 instrument upgrade (r7 verdict What's-wrong #1 / next-round #1):
calibration is no longer two passes at the session's ends —
checkpoints run every CAL_EVERY queries and each query normalizes by
the host factor interpolated between ITS surrounding checkpoints;
per-query repeat sigma ships in the detail file. New driver-line
fields: `drift_span` (max/min checkpoint factor — the raw host
wobble), `residual_segment_drift` (max adjacent-checkpoint ratio —
the normalization error left within one segment),
`median_rel_sigma` (typical per-query repeat noise). A cross-round
per-query movement is attributable iff it clears both
residual_segment_drift and that query's sigma.

$SPARK_GRAFT_BENCH_QUERIES (comma-separated) restricts the run to a
subset of HEADLINE, for pinned-replay comparisons and smoke runs.

A headline query that raises is not timed: it is named on stderr, its
``"Type: message"`` goes under ``errors`` in the detail file, the
driver line lists its name under ``errors`` and counts it out of
``n_queries``, and the other queries still run.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DETAIL_PATH = os.environ.get(
    "SPARK_GRAFT_BENCH_DETAIL",
    os.path.join(os.path.dirname(os.path.abspath(__file__)),
                 "BENCH_local_latest.json"))

#: Repeats per query; the reported time is the MIN across repeats. The
#: bench host is a VM with visible CPU steal (/proc/stat col 8 grows
#: under load), so single-shot wall times swing several-fold run to
#: run. Min-of-N measures the engine, not the hypervisor: every repeat
#: re-executes the full plan (no Spark-side result cache — only the
#: JIT/footer warmup below is shared, as it would be on a long-lived
#: cluster). N=5: a measured r3 steal spike poisoned all 3 repeats of
#: one query (flagship 6.6 s recorded vs 1.0 s min-of-5 re-measured),
#: so 3 is not enough insulation on this host.
REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "5"))

# Headline queries: the flagship EAV pipeline + representative heavy
# operators (joins, windows, event-time) + the LLM-data north-star ops
# (dedup, similarity, text, multimodal plumbing).
HEADLINE = [
    "flagship",
    "join_fk_transitive",
    "join_bridge_m2n",
    "agg_grouping_sets",
    "win_frame_rows",
    "stream_session_window",
    "sort_limit_topk",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine_blocked",
    "dedup_cluster_cc",
    "sim_topk_bruteforce",
    "sim_knn_join",
    "text_fingerprint",
    "text_quality_score",
    "mm_decode_stub",
    "pipeline_corpus_mix",
    "pack_sequences",
    "transmart_observation_fact",
    "dedup_containment",
    "dedup_passage_exact",
    "text_cooccurrence_pmi",
    "sim_kmeans_assign",
    "vocab_bpe_merge_step",
    "graph_triangle_count",
    "graph_pagerank",
    "sketch_theta_intersect",
    "text_tfidf_topk",
    "dedup_semantic_cluster",
    "split_leakage_safe",
    "sql_market_share",
    "dedup_minhash_cluster",
    "pipeline_incremental_dedup",
    "text_zipf_fit",
    "vocab_coverage_curve",
    "mm_decode_real",
    "dedup_minhash_bbit",
    "mm_image_resize_nn",
    "join_geo_grid_radius",
    "vocab_bigram_lm_nll",
    "pack_length_bucketing_eval",
    "text_bm25_topk",
    "agg_ndcg_eval",
    "sim_ivf_recall_eval",
    "sql_product_profit",
    "pipeline_e2e_llm_capstone",
    "mm_image_neardup_ahash",
    "graph_kcore",
    "text_boilerplate_strip",
    "ts_seasonal_decompose",
    "agg_covisitation_topk",
    "dedup_method_agreement",
    # r5: the de-serialized ntile/rank evaluators, perf-tracked so the
    # two-phase plans stay honest (r4 verdict task #8)
    "agg_gains_table",
    "agg_uplift_qini",
    # r5 wave 2: the new heavy families — iterative HITS, the DSIR
    # curation scorer, RAKE (two corpus token passes + windows), and
    # the cross-implementation pandas-UDF jaro-winkler
    "graph_hits",
    "pipeline_dsir_select",
    "text_rake_keywords",
    "f_jaro_winkler",
    # r6: the convergence-loop capstones (iteration cost must stay
    # flat), the typed-state streaming path, and the in-engine
    # classifier trainer
    "graph_pagerank_converged",
    "sim_kmeans_lloyd",
    "stream_running_count_tws",
    "agg_logreg_irls",
    # r7: the seeded-Lloyd composition (two chained loops), the
    # continuous-domain two-phase rank test, the bounded-grid pair
    # collapse, and the broadcast-centroid cluster-quality score
    "sim_kmeans_pp_lloyd",
    "agg_kruskal_wallis",
    "agg_kendall_tau_b",
    "sim_silhouette_simplified",
    # r7 wave 2: the in-plan EM capstone (8 chained rounds, zero
    # driver round-trips), the data-derived log-factorial Fisher tail
    # (two-phase lf frame + three per-k lookups), and the first real
    # COMPRESSED codec (RLE8 packet state machine in Arrow workers)
    "agg_gmm_em_converged",
    "agg_fisher_exact",
    "mm_decode_real_rle8",
    # r7 wave 3: the all-pairs date-span profiles (matrix profile,
    # sample entropy share the bounded pair frame), late-interaction
    # retrieval, per-key numpy DP, and the two word-graph iterators
    "ts_matrix_profile",
    "sim_maxsim_multivector",
    "ts_dtw_distance",
    "graph_eigencentrality_power",
    "text_keyphrase_textrank",
    # r8: the de-scale-risked two-phase anchored VWAP (grouped prefix
    # sum — track that the bucketed form stays in its envelope), the
    # bounded-pair rank statistic, the HAC window pass, the
    # grid-prefix survival concordance, the two real-JPEG Arrow
    # stages (decode and symbolic-size), and the two token-spectrum
    # text statistics
    "win_anchored_vwap",
    "agg_hoeffding_d",
    "agg_newey_west_se",
    "agg_harrell_cindex",
    "mm_decode_real_jpeg",
    "mm_jpeg_entropy_size",
    "text_yule_k",
    "text_gries_dp",
    # r8 session waves: the exact-V-statistic calendar pair frame
    # (distance correlation), grid-blocked DBSCAN (cell join + CC),
    # the lossless PNG Arrow stage, the bounded-histogram JT rank
    # statistic, the checkpointed Heaps fit (two token shuffles), and
    # the pairwise stylometric delta
    "agg_distance_correlation",
    "sim_dbscan_grid",
    "mm_decode_real_png",
    "agg_jonckheere_terpstra",
    "text_heaps_law_fit",
    "text_burrows_delta",
    # r9: the de-constant-ed exact-rank pair (bounded lf blocks / the
    # fused two-phase CVM — track that the ~10x cuts hold), and the
    # two new real codecs (4:2:0 color JPEG, indexed-colour PNG)
    "agg_cvm_test",
    "mm_decode_real_jpeg_color",
    "mm_decode_real_png_palette",
    "mm_decode_real_gif89a",
    "mm_decode_real_png_adam7",
    "mm_decode_real_jpeg_progressive",
    "sketch_tdigest_batch",
]

#: Cross-round normalization (r5 verdict, next-round task #3): this
#: VM's wall clocks drift ±40% BETWEEN sessions (host steal / cache
#: state), which is larger than any real per-round signal. Fix: a
#: small calibration set of plan-stable probes spanning the engine's
#: cost classes (broadcast-join pipeline, map-only JVM, tiny window,
#: hash-agg dedup, Arrow/Python worker path) is timed at the START and
#: END of every bench session. The per-query ratio to the recorded
#: REFERENCE epoch gives this session's host factor; "normalized"
#: timings are raw/host_factor and are the cross-round-comparable
#: numbers. start-vs-end disagreement estimates residual in-session
#: drift (error bar, not correction).
CALIBRATION = ["flagship", "text_fingerprint", "win_frame_rows",
               "dedup_exact", "mm_decode_stub"]
#: reference epoch: the round-5 driver bench session (BENCH_r05.json,
#: sf0.1, local[32]) — chosen because every judged round so far is
#: compared against its numbers.
REFERENCE_CAL = {"flagship": 1.016, "text_fingerprint": 0.103,
                 "win_frame_rows": 0.125, "dedup_exact": 0.505,
                 "mm_decode_stub": 0.377}

#: r7 verdict What's-wrong #1: with ONE calibration pass at each end
#: of a ~30-minute session, a start-vs-end disagreement of 0.62-0.74
#: cannot be localized — 31 queries moved 1.15-1.9x normalized with
#: identical plans and nobody could prove it was host noise. r8 form:
#: a calibration CHECKPOINT (3-repeat min per probe) runs every
#: CAL_EVERY headline queries; each query is normalized by the host
#: factor LINEARLY INTERPOLATED between its two surrounding
#: checkpoints, so a mid-session host-speed shift is corrected where
#: it happens instead of smeared across the whole run. Per-query
#: error bars (sigma of the REPEATS raw times) ship in the detail
#: file so any future cross-round movement can be tested against the
#: measured noise instead of eyeballed.
CAL_EVERY = int(os.environ.get("SPARK_GRAFT_BENCH_CAL_EVERY", "12"))
CAL_REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_CAL_REPEATS", "3"))

#: Output-materialization-bound lane (r8 verdict What's-wrong #3 /
#: next-round #4): queries whose cost is dominated by the ROWS THEY
#: RETURN (win_anchored_vwap legitimately materializes a 600k-row
#: full-table running sum — 27% of the r8 headline sum by itself).
#: They stay measured and reported, but OUT of the core sum, so a
#: regression across the other ~90 queries can't hide inside one
#: bulk query's noise — and vice versa. The driver line carries
#: value_normalized_core (the cross-round comparable), the bulk lane
#: total, a per-query median, and a trimmed core sum (top-1 dropped)
#: as robust summaries.
BULK_OUTPUT = {"win_anchored_vwap"}


def _median(xs):
    xs = sorted(xs)
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def _stdev(xs):
    m = sum(xs) / len(xs)
    return (sum((x - m) ** 2 for x in xs) / max(1, len(xs) - 1)) ** 0.5


def main() -> None:
    from pmc_conversion_spark.session import get_spark
    import __spark_entry__ as E
    from pmc_conversion_spark.plans.flagship import flagship_query

    spark = get_spark("bench")
    qs = E.queries()
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    sigmas: dict[str, float] = {}

    # Warm the JVM/session with a trivial action so timings measure the
    # queries, not session spin-up. The Python-worker pool is part of
    # session spin-up too (first spawn costs ~20-60s): prime it with a
    # no-op mapInPandas over every core's worth of partitions.
    spark.range(1).count()
    n_workers = spark.sparkContext.defaultParallelism
    (spark.range(n_workers).repartition(n_workers)
     .mapInPandas(lambda it: it, "id long").count())
    # Warm whole-stage codegen for the shapes the headline queries use
    # (join + window + agg) on tiny range data, and the parquet footers/
    # schemas of the headline tables — one-time JIT and metadata costs a
    # long-lived cluster amortizes away; steady-state throughput is the
    # number that transfers to 100 TB.
    from pyspark.sql import Window as _W
    from pyspark.sql import functions as _F
    from pmc_conversion_spark import tables as _T
    _a = spark.range(100).withColumnRenamed("id", "k")
    _w = _W.partitionBy(_F.pmod("k", _F.lit(10))).orderBy("k")
    (_a.join(spark.range(100).withColumnRenamed("id", "k"), "k")
     .withColumn("rn", _F.row_number().over(_w))
     .groupBy(_F.pmod("k", _F.lit(10))).count().count())
    for _t in ("customer", "orders", "lineitem", "events",
               "documents", "embeddings"):
        _T.load(spark, SF_DIR, _t).limit(1).count()

    def time_query(name, repeats):
        fn = (lambda: flagship_query(spark, SF_DIR)) if name == "flagship" \
            else (lambda n=name: qs[n](spark, SF_DIR))
        ts = []
        for _ in range(max(1, repeats)):
            t0 = time.time()
            fn().count()
            ts.append(time.time() - t0)
        return ts

    # one untimed pass first: the calibration probes must measure the
    # steady-state host, not residual JIT/footer warmup (which would
    # bias the first checkpoint high and masquerade as drift)
    for n in CALIBRATION:
        (flagship_query(spark, SF_DIR) if n == "flagship"
         else qs[n](spark, SF_DIR)).count()

    def checkpoint():
        """min-of-CAL_REPEATS per probe → this instant's host factor
        (median of per-probe ratios to the reference epoch, robust to
        one probe catching a steal spike)."""
        probes = {n: round(min(time_query(n, CAL_REPEATS)), 3)
                  for n in CALIBRATION}
        return probes, round(_median(
            [probes[n] / REFERENCE_CAL[n] for n in CALIBRATION]), 3)

    names = [n for n in HEADLINE if n == "flagship" or n in qs]
    # optional subset (pinned-replay runs / quick smoke): keep HEADLINE
    # order, filter to the requested names
    only = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if only:
        want = {s.strip() for s in only.split(",") if s.strip()}
        names = [n for n in names if n in want]
    checkpoints = []        # (query_index_reached, probes, factor)
    p0, f0 = checkpoint()
    checkpoints.append((0, p0, f0))
    errors: dict[str, str] = {}
    for i, name in enumerate(names):
        try:
            raw = time_query(name, REPEATS)
        except Exception as e:
            first = (str(e).strip().splitlines() or [""])[0]
            errors[name] = f"{type(e).__name__}: {first}"
            print(f"bench: {name} failed: {errors[name]}", file=sys.stderr)
        else:
            timings[name] = round(min(raw), 3)
            medians[name] = round(_median(raw), 3)
            sigmas[name] = round(_stdev(raw), 3)
        if (i + 1) % CAL_EVERY == 0 and (i + 1) < len(names):
            pc, fc = checkpoint()
            checkpoints.append((i + 1, pc, fc))
    pe, fe = checkpoint()
    checkpoints.append((len(names), pe, fe))

    # host factor per QUERY: linear interpolation between the two
    # surrounding checkpoints (by headline index), so a host-speed
    # shift mid-session corrects the queries it actually affected
    factors = {}
    for i, name in enumerate(names):
        lo = max(c for c in checkpoints if c[0] <= i)
        hi = min(c for c in checkpoints if c[0] >= i + 1)
        span = max(1, hi[0] - lo[0])
        w = (i + 0.5 - lo[0]) / span
        factors[name] = lo[2] + (hi[2] - lo[2]) * w
    host_factor = round(_median([c[2] for c in checkpoints]), 3)
    drift = round(fe / f0, 3)
    cal_factors = [c[2] for c in checkpoints]
    drift_span = round(max(cal_factors) / min(cal_factors), 3)
    normalized = {k: round(v / factors[k], 3) for k, v in timings.items()}
    # residual drift AFTER piecewise normalization: adjacent-checkpoint
    # factor ratios — the error left inside one CAL_EVERY segment
    resid = round(max(max(a, b) / min(a, b) for a, b in
                      zip(cal_factors, cal_factors[1:])), 3)

    total = round(sum(timings.values()), 3)
    total_norm = round(sum(normalized.values()), 3)
    core = {k: v for k, v in normalized.items() if k not in BULK_OUTPUT}
    bulk = {k: v for k, v in normalized.items() if k in BULK_OUTPUT}
    core_total_norm = round(sum(core.values()), 3)
    bulk_total_norm = round(sum(bulk.values()), 3)
    median_norm = round(_median(list(core.values())), 3) if core else 0.0
    trimmed_core = round(sum(sorted(core.values())[:-1]), 3) \
        if len(core) > 1 else core_total_norm
    # median relative sigma: the typical per-query repeat noise, the
    # error bar any cross-round per-query comparison must clear
    rel_sig = round(_median(
        [sigmas[k] / max(1e-9, medians[k]) for k in timings]), 3) \
        if timings else 0.0
    detail = {
        "metric": "headline_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "queries_sigma": sigmas,
        "errors": errors,
        "sf": float(sf),
        "normalization": {
            "reference_epoch": "BENCH_r05.json driver session "
                               "(sf0.1, local[32])",
            "calibration_checkpoints": [
                {"after_query": c[0], "probes": c[1], "factor": c[2]}
                for c in checkpoints],
            "cal_every": CAL_EVERY,
            "host_factor_vs_reference": host_factor,
            "within_session_drift": drift,
            "drift_span": drift_span,
            "residual_segment_drift": resid,
            "median_rel_sigma": rel_sig,
            "value_normalized": total_norm,
            "queries_normalized": normalized,
            "bulk_output_lane": sorted(BULK_OUTPUT & set(normalized)),
            "value_normalized_core": core_total_norm,
            "value_normalized_bulk": bulk_total_norm,
            "median_query_norm": median_norm,
            "trimmed_core_norm": trimmed_core,
        },
    }
    with open(DETAIL_PATH, "w") as fh:
        json.dump(detail, fh)
        fh.write("\n")
    # the driver-facing line: headline scalars PLUS the per-query raw
    # seconds (r9: the driver contract pins the line shape to
    # {"metric", "value", "unit", "queries", "sf"}; the r8 form moved
    # `queries` to the detail file after the r6 mid-object truncation,
    # but raw-only per-query timings are ~2.5 KB — half the size of
    # the line that truncated — and the normalized/calibration bulk
    # stays in the detail file)
    print(json.dumps({
        "metric": "headline_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "value_normalized": total_norm,
        "value_normalized_core": core_total_norm,
        "value_normalized_bulk": bulk_total_norm,
        "median_query_norm": median_norm,
        "trimmed_core_norm": trimmed_core,
        "n_bulk": len(bulk),
        "host_factor": host_factor,
        "within_session_drift": drift,
        "drift_span": drift_span,
        "residual_segment_drift": resid,
        "median_rel_sigma": rel_sig,
        "n_cal_checkpoints": len(checkpoints),
        "sf": float(sf),
        "n_queries": len(timings),
        "errors": sorted(errors),
        "detail": os.path.basename(DETAIL_PATH),
    }))


if __name__ == "__main__":
    main()
