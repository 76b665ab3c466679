"""Physical-plan assertions for the 100 TB posture: filters reach the
parquet scan, small sides broadcast, and the dedup plans keep their
no-join / bounded-shuffle shapes. These are the properties that decide
whether a plan survives a 1000× scale-up — checked here so a refactor
that silently de-optimizes (e.g. re-introduces a posting self-join or
a cartesian product) fails fast.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as E
from pmc_conversion_spark import tables
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def qs():
    return E.queries()


def test_parquet_filter_pushdown(spark):
    docs = tables.load(spark, SF_DIR, "documents")
    plan = plan_of(docs.filter(F.col("doc_id") < 40).select("doc_id"))
    assert "PushedFilters: [" in plan
    assert "LessThan(doc_id,40)" in plan
    # column pruning: the text column must not be read for an id-only query
    assert "ReadSchema: struct<doc_id:bigint>" in plan


def test_flagship_broadcasts_dimension_no_cartesian(spark):
    from pmc_conversion_spark.plans.flagship import flagship_query
    plan = plan_of(flagship_query(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_jaccard_has_no_joins(spark, qs):
    # the in-bucket pair-generation plan: 2 logical shuffles, zero joins
    plan = plan_of(qs["dedup_ngram_jaccard"](spark, SF_DIR))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_minhash_candidates_have_no_self_join(spark, qs):
    # joins exist only in the exact-verify tail (candidate ⨝ sets);
    # candidate *generation* is in-bucket, so no sort-merge self-join
    plan = plan_of(qs["dedup_minhash_lsh"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_topk_bruteforce_broadcasts_queries(spark, qs):
    plan = plan_of(qs["sim_topk_bruteforce"](spark, SF_DIR))
    assert "BroadcastExchange" in plan
    # the corpus side must NOT be shuffled for the scoring pass
    assert "SortMergeJoin" not in plan


def test_codebook_decode_broadcasts(spark, qs):
    plan = plan_of(qs["join_codebook_decode"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_exact_dedup_shuffles_digests_not_bodies(spark, qs):
    # the groupBy key is the 32-hex fingerprint; the document text must
    # be projected away before the exchange
    df = qs["dedup_exact"](spark, SF_DIR)
    plan = plan_of(df)
    exchanges = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert exchanges, "expected a hash exchange for the fingerprint groupBy"
    assert all("text" not in ln for ln in exchanges)


def test_asof_join_is_single_shuffle_no_nested_loop(spark, qs):
    # the union+window as-of plan: no inequality join materializes —
    # no nested-loop/cartesian, and the only wide op is the window
    # partitioning on the key
    plan = plan_of(qs["join_asof"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "Window" in plan


def test_sorted_rowgroups_have_disjoint_minmax(spark, qs):
    # the sorted sink must yield MANY row groups whose date min/max
    # ranges are non-overlapping — the footer property min/max skipping
    # relies on; verified from the real parquet metadata
    import glob
    import pyarrow.parquet as pq
    from pmc_conversion_spark.util import scratch_root
    qs["sink_sorted_rowgroups"](spark, SF_DIR).count()
    files = glob.glob(scratch_root() + "/sink_sorted_rowgroups/*.parquet")
    assert files
    md = pq.ParquetFile(files[0]).metadata
    assert md.num_row_groups >= 4
    col_idx = [md.schema.column(i).name
               for i in range(len(md.schema))].index("o_orderdate")
    ranges = [(md.row_group(g).column(col_idx).statistics.min,
               md.row_group(g).column(col_idx).statistics.max)
              for g in range(md.num_row_groups)]
    ranges.sort()
    for (_, prev_max), (nxt_min, _) in zip(ranges, ranges[1:]):
        assert prev_max <= nxt_min  # sorted write => disjoint-ish spans


def test_aqe_splits_skewed_join_partition(spark):
    # 70% of fact rows on one key + lowered thresholds: AQE must mark
    # the SortMergeJoin skew=true (runtime split), and the confs must
    # be restored for the rest of the session
    from pmc_conversion_spark.queries.relational import (_SKEW_AQE_CONF,
                                                         _skew_aqe_frame)
    from pmc_conversion_spark.util import session_conf
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    with session_conf(spark, _SKEW_AQE_CONF):
        out = _skew_aqe_frame(spark, SF_DIR)
        out.collect()
        plan = (out._jdf.queryExecution().executedPlan().toString()
                .split("== Initial Plan ==")[0])
        assert "skew=true" in plan
        assert "SortMergeJoin" in plan
    assert spark.conf.get(
        "spark.sql.autoBroadcastJoinThreshold") == prev_bc


def test_q5_join_order_broadcasts_all_dimensions(spark, qs):
    # six-table star: every dimension hop must plan as a broadcast
    # hash join; the correlated local-supplier predicate must not
    # degrade to a nested loop
    plan = plan_of(qs["sql_local_supplier_volume"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_interval_overlap_join_is_equi_not_nested_loop(spark, qs):
    # interval×interval overlap with no key: the bin blocking must make
    # it a broadcast HASH join; a raw pairwise overlap predicate would
    # plan BroadcastNestedLoopJoin over the whole fact side
    plan = plan_of(qs["join_interval_overlap"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_range_join_is_broadcast_equi_not_nested_loop(spark, qs):
    # month-binned interval dim => broadcast HASH join on the bin; a raw
    # BETWEEN would have planned a BroadcastNestedLoopJoin
    plan = plan_of(qs["join_range_interval"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_join_has_no_exchange(spark):
    # both sides pre-bucketed on the key: the equi-join must read
    # co-located buckets with zero shuffles (broadcast disabled so the
    # co-location, not dimension size, is what's proven)
    import os

    from pmc_conversion_spark.sources.bucketed import (read_bucketed,
                                                       write_bucketed)
    from pmc_conversion_spark.util import scratch_dir, unique_name
    root = scratch_dir("bucketed_plan_test")
    t_o, t_c = unique_name("bkt_plan_o"), unique_name("bkt_plan_c")
    orders = tables.load(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey")
    cust = tables.load(spark, SF_DIR, "customer").select("c_custkey")
    write_bucketed(orders, t_o, "o_custkey", buckets=4,
                   path=os.path.join(root, "o"))
    write_bucketed(cust, t_c, "c_custkey", buckets=4,
                   path=os.path.join(root, "c"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        o = read_bucketed(spark, t_o)
        c = read_bucketed(spark, t_c)
        plan = plan_of(o.join(c, o.o_custkey == c.c_custkey))
        assert "Exchange" not in plan
        assert "SortMergeJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


@pytest.mark.parametrize("name", ["join_fk_individual",
                                  "join_fk_transitive"])
def test_fk_join_dimension_over_threshold_not_broadcast(spark, qs, name):
    # the planner, not a hint, decides the broadcast: a dimension over
    # autoBroadcastJoinThreshold (here every side, the threshold is
    # off) is shuffled, not collected and broadcast to every task
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = plan_of(qs[name](spark, SF_DIR))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastExchange" not in plan


def test_partitioned_sink_scan_prunes_directories(spark, qs):
    # the status filter must become PartitionFilters (directory pruning,
    # zero I/O for excluded partitions), NOT a data filter evaluated on
    # rows that were already read
    plan = plan_of(qs["sink_partitioned_parquet"](spark, SF_DIR))
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan
    assert "o_orderstatus" in plan.split("PartitionFilters:")[1].split("]")[0]
    assert "DataFilters: []" in plan
    # the partition column itself is directory metadata, never scanned
    assert "ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint," \
           "o_totalprice:double>" in plan


def test_join_partition_pruned_dim_uses_dpp(spark, qs):
    # runtime dim filter must inject a dynamic-pruning subquery on the
    # fact scan (reusing the broadcast exchange) so only surviving
    # nation directories are opened
    plan = plan_of(qs["join_partition_pruned_dim"](spark, SF_DIR))
    assert "dynamicpruning" in plan.lower()
    assert "BroadcastHashJoin" in plan


def test_lm_score_broadcasts_vocab_no_sortmerge(spark, qs):
    # vocab and total are bounded frames: both joins must broadcast —
    # a sort-merge join would shuffle every (doc_id, token) pair twice
    plan = plan_of(qs["text_lm_score"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_incremental_merge_scans_base_rows_zero_times(spark, qs):
    # the merged refresh plan must read the stored MV parquet and the
    # delta slice of orders — never a second scan of the base rows
    plan = plan_of(qs["agg_incremental_merge"](spark, SF_DIR))
    assert plan.count("orders.parquet") == 1
    assert "agg_incremental_merge" in plan  # the stored MV scan


def test_bloom_prefilter_probe_sits_below_fact_exchange(spark):
    # Force the exact join to sort-merge (the 100 TB case: dim too big
    # to broadcast) — the explicit broadcast() hint keeps the 1-row
    # bitmap side broadcast regardless.
    from pmc_conversion_spark.operators.joins import bloom_prefilter_join
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        fact = tables.load(spark, SF_DIR, "lineitem") \
            .select(F.col("l_orderkey").alias("k"), "l_quantity")
        dim = tables.load(spark, SF_DIR, "orders") \
            .filter(F.col("o_orderpriority") == "1-URGENT") \
            .select(F.col("o_orderkey").alias("k"), "o_orderpriority")
        plan = plan_of(bloom_prefilter_join(fact, dim, "k"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # the exact join shuffles both sides...
    smj = plan.index("SortMergeJoin")
    # ...and the bloom probe (try_element_at prints as
    # element_at(..., None, false)) sits BELOW a fact-side Exchange,
    # i.e. it filters map-side before any shuffle.
    ex = plan.index("Exchange hashpartitioning", smj)
    probe = plan.index("element_at(__bloom", smj)
    assert ex < probe, plan
    assert "CartesianProduct" not in plan


def test_decontaminate_broadcasts_heldout_no_sortmerge(spark, qs):
    plan = plan_of(qs["dedup_decontaminate"](spark, SF_DIR))
    # held-out shingle hashes broadcast; the train side must never
    # sort-merge against them (that would shuffle every posting)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_mixture_resampling_is_map_side_only(spark):
    from pmc_conversion_spark.functions.sampling import mixture_weighted
    d = tables.load(spark, SF_DIR, "documents").select("doc_id", "source")
    plan = plan_of(mixture_weighted(d, "source", "doc_id",
                                    {"src0": 2.0, "src2": 0.25}, salt="s"))
    # resampling = filter + generate over the scan; no shuffle, no join
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Generate explode" in plan


def test_dq_audit_is_single_pass(spark, qs):
    # the five-rule audit must cost ONE scan + one reduce: a single
    # pair of partial/final aggregates, no join of per-rule subqueries
    plan = plan_of(qs["dq_constraint_check"](spark, SF_DIR))
    assert "Join" not in plan
    n_scans = plan.count("Scan parquet")
    assert n_scans == 1, f"expected one scan, saw {n_scans}"


def test_topk_per_group_has_no_global_sort(spark, qs):
    # one shuffle on the group key + per-partition sort; a global
    # single-partition Exchange would be the 100 TB killer
    plan = plan_of(qs["win_topk_per_group"](spark, SF_DIR))
    assert "Exchange SinglePartition" not in plan
    assert "rangepartitioning" not in plan


def test_null_safe_join_still_broadcasts(spark, qs):
    # eqNullSafe keys must keep the broadcast-hash strategy (a fall
    # back to BroadcastNestedLoop would scan dim x fact)
    plan = plan_of(qs["join_null_safe"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_share_of_total_avoids_unpartitioned_window(spark, qs):
    # grand total comes from re-aggregating the grouped frame and
    # broadcasting one row back -- never a sum() OVER () on the fact
    plan = plan_of(qs["agg_share_of_total"](spark, SF_DIR))
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_scd2_pointintime_stays_hash_join(spark, qs):
    # the validity band must be a residual inside the equi-join on
    # custkey — never a range-only BroadcastNestedLoopJoin
    plan = plan_of(qs["join_scd2_pointintime"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan


def test_fuzzy_blocked_join_is_equi_on_block_key(spark, qs):
    plan = plan_of(qs["join_fuzzy_blocked"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan


def test_incremental_dedup_pairgen_restriction_is_joinless(spark, qs):
    # pair generation stays in-bucket; the only joins are the final
    # verdict left-join and nothing resembling old-corpus self-joins
    plan = plan_of(qs["pipeline_incremental_dedup"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_triangle_count_no_cartesian_except_counts(spark, qs):
    # wedge closing is equi-joins; the only NLJ-ish nodes are the
    # one-row count cross joins
    plan = plan_of(qs["graph_triangle_count"](spark, SF_DIR))
    assert "CartesianProduct" not in plan


def test_variant_scan_parses_json_once(spark, qs):
    # one parse_json in the plan, not one per extracted field
    plan = plan_of(qs["scan_variant_json"](spark, SF_DIR))
    assert plan.count("parse_json") <= 2   # project + partial-agg echo


@pytest.mark.slow
def test_no_query_outputs_decimal_type(spark, qs):
    """Registry-wide: no queries() entry may RETURN a DecimalType
    column (top-level or nested). The driver's correctness gate
    compares Spark-toPandas against DuckDB-to-pandas stringified; a
    Spark Decimal('1068285.00') and DuckDB's float64 1068285.0 hash
    differently even when numerically identical (r3 verdict,
    What's-wrong #1). Decimals stay legal INSIDE a plan (exact
    order-insensitive sums); the output boundary must cast to double."""
    from pyspark.sql.types import (ArrayType, DecimalType, MapType,
                                   StructType)

    def has_dec(dt):
        if isinstance(dt, DecimalType):
            return True
        if isinstance(dt, ArrayType):
            return has_dec(dt.elementType)
        if isinstance(dt, MapType):
            return has_dec(dt.keyType) or has_dec(dt.valueType)
        if isinstance(dt, StructType):
            return any(has_dec(f.dataType) for f in dt.fields)
        return False

    offenders = {}
    for name, fn in sorted(qs.items()):
        df = fn(spark, SF_DIR)
        bad = [f.name for f in df.schema.fields if has_dec(f.dataType)]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        f"queries returning DecimalType output: {offenders}")


def test_bbit_minhash_no_cartesian_and_bounded_joins(spark, qs):
    # candidates come from band-bucket equi-joins; nothing all-pairs
    plan = plan_of(qs["dedup_minhash_bbit"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bfs_frontier_iteration_no_cartesian(spark, qs):
    plan = plan_of(qs["graph_bfs_distance"](spark, SF_DIR))
    assert "CartesianProduct" not in plan


def test_mm_decode_real_is_two_arrow_stages_no_shuffle(spark, qs):
    # encode + decode are both mapInPandas; no Exchange between them
    plan = plan_of(qs["mm_decode_real"](spark, SF_DIR))
    assert plan.count("MapInPandas") == 2
    assert "Exchange hashpartitioning" not in plan


def test_feature_hashing_no_vocab_join(spark, qs):
    # the hashing trick's point: no dictionary join or broadcast
    plan = plan_of(qs["text_feature_hashing"](spark, SF_DIR))
    assert "Join" not in plan


def test_vocab_rankings_use_take_ordered_not_window(spark, qs):
    # r3 verdict #2: the full-vocabulary rank must pre-cut via a
    # distributed TakeOrdered and never plan a WindowExec
    for name in ("text_zipf_fit", "vocab_coverage_curve"):
        plan = plan_of(qs[name](spark, SF_DIR))
        assert "TakeOrdered" in plan, name
        assert "Window" not in plan, name


# ---------------------------------------------- round-4 continuation

def test_tpch_q6_pushes_all_filters_no_join(spark, qs):
    plan = plan_of(qs["sql_forecast_revenue"](spark, SF_DIR))
    assert "PushedFilters: [" in plan
    assert "l_quantity" in plan  # quantity cap reaches the scan
    assert "Join" not in plan


def test_tpch_star_joins_broadcast_no_cartesian(spark, qs):
    for name in ("sql_product_profit", "sql_volume_shipping",
                 "sql_returned_items", "sql_parts_supplier"):
        plan = plan_of(qs[name](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name


def test_tpch_q19_derives_single_side_pushdown(spark, qs):
    # the OR-of-ANDs must yield implied per-side filters at the scans
    plan = plan_of(qs["sql_disjunct_revenue"](spark, SF_DIR))
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    lineitem_scan = next(ln for ln in scans if "l_quantity" in ln)
    part_scan = next(ln for ln in scans if "p_size" in ln)
    assert "l_quantity" in lineitem_scan
    assert "p_size" in part_scan


def test_bm25_takeordered_not_global_sort(spark, qs):
    plan = plan_of(qs["text_bm25_topk"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_attribution_single_agg_no_window_sort(spark, qs):
    # min_by/max_by over the (ts,event_id) struct replaces two
    # row_number windows + two self-joins: no Window operator at all
    plan = plan_of(qs["agg_attribution_touch"](spark, SF_DIR))
    assert "Window" not in plan
    assert plan.count("Exchange hashpartitioning(user_id") <= 3


def test_ndcg_windows_partition_by_term(spark, qs):
    # per-term rankings must never globalize: every Window partitions
    plan = plan_of(qs["agg_ndcg_eval"](spark, SF_DIR))
    for ln in plan.splitlines():
        if "Window" in ln and "windowspecdefinition" in ln.lower():
            assert "tok" in ln, f"unpartitioned ranking window: {ln[:120]}"


def test_nested_pushdown_reaches_scan(spark, qs):
    plan = plan_of(qs["scan_nested_pushdown"](spark, SF_DIR))
    scan = next(ln for ln in plan.splitlines()
                if "FileScan parquet" in ln and "meta" in ln)
    assert "PushedFilters" in scan
    assert "meta.status" in scan or "status" in scan
    # pruning: the unused struct field must not be read
    assert "unused_field" not in scan.split("ReadSchema")[-1]


# ---------------------------------------------- round-5 continuation

# JVM-tree plan walking: the r4 verdict found tools/plan_report.py's
# text-level `Exchange SinglePartition` count BLIND to window-induced
# single partitions (pipeline_active_learning_select reported
# SinglePart=0 while its executed plan globally sorted the corpus).
# Walking the executed-plan tree and asking each WindowExec for its
# partitionSpec directly cannot be fooled by printing formats.

_WINDOW_NODES = {"WindowExec", "WindowInPandasExec",
                 "WindowGroupLimitExec"}
# Hard boundedness gates: an explicit limit/TakeOrdered pre-cut or a
# local fixture/range dimension below the window caps its input rows
# regardless of what sits underneath.
_MARK_NODES = ("TakeOrderedAndProjectExec", "GlobalLimitExec",
               "LocalLimitExec", "CollectLimitExec",
               "LocalTableScanExec", "RDDScanExec", "RangeExec")
_AGG_NODES = ("HashAggregateExec", "ObjectHashAggregateExec",
              "SortAggregateExec")
# KEY-AWARE aggregate gate (r5 verdict, What's-wrong #1): treating
# *any* Aggregate as bounding is gameable — groupBy(doc_id) keeps
# corpus cardinality. An aggregate bounds its output iff its grouping
# keys all come from data-volume-independent domains. Each entry's
# domain, with why it does not grow with corpus size:
_BOUNDED_GROUP_KEYS = frozenset({
    "__bucket",    # two-phase range-bucket ops: numBuckets-capped
                   # (operators/windows.py caps adaptively, ≤ 10k)
    "decile",      # ntile(10) output ∈ {1..10}
    "quintile",    # ntile(5) output ∈ {1..5}
    "bin",         # fixed-width histogram bin: (max-min)/width cells
    "z",           # score-grid cell in agg_auc_pr (threshold sweep)
    "window",      # time-window struct: domain = date span / slide,
                   # grows with TIME, never with rows-per-window
    "d",           # calendar date key (date-span domain)
    "m",           # calendar month key (date-span domain — agg_sign_test
                   # lags month revenue: ~84 rows per 7 TPC-H years,
                   # grows with TIME, never with rows-per-month)
    "dur",         # day-granular survival duration (date-span domain)
    "n_name",      # nation dimension (25 rows, fixed)
    "l_quantity",  # TPC-H integer quantity domain 1..50
    "p_size",      # TPC-H part size domain 1..50
    "source",      # corpus-mixture source label (handful of corpora)
})
# Known-benign unpartitioned-window queries whose boundedness the
# key-aware walk cannot see (NONE today — keep empty unless a new op
# genuinely needs it, and justify inline).
_UNPART_WINDOW_ALLOWLIST: set[str] = set()

# PROVENANCE verification (r7 ADVICE: "an audit satisfied by column
# naming gives false assurance — a genuinely unbounded key named
# `dur` would pass the same check"). A name in _BOUNDED_GROUP_KEYS is
# no longer load-bearing on its own: the audit resolves the grouping
# attribute back to its DEFINING expression (the Alias with the same
# exprId in the aggregate's subtree, or the FileScan that emits it)
# and requires the expression to match the domain class the name
# claims. A corpus-sized key renamed `dur` resolves to a plain column
# alias, matches nothing below, and the aggregate stops gating.
# Each entry: (regex over the defining expression string | None,
#              scan-table name when the key is a raw table column | None).
import re as _re
_CALENDAR = (r"^(date_trunc\(|datediff\(|cast\(date_trunc\("
             r"|cast\(\w+(#\d+)? as date\))")
_KEY_PROVENANCE: dict[str, tuple[str | None, str | None]] = {
    # count of broadcast boundary values <= key — the two-phase
    # bucket id, numBuckets-capped by construction. r9: the count is
    # a binary search (aggregate over a fixed 18-step sequence whose
    # init struct carries size(__bnds)) instead of the r7 full-array
    # scan; both forms are the same pure function of key and the
    # broadcast boundary array, so either expression shape proves
    # the numBuckets cap.
    # third arm: the r9 scalar fast path (operators/windows.py
    # _scalar_bucketed) — a CASE whose every branch is a literal or an
    # element_at into a LITERAL int array built driver-side with
    # values capped at buckets-1, so the output domain is bounded by
    # the same numBuckets construction; requiring the literal-array
    # `element_at([` prefix keeps the match structural (a corpus-sized
    # key cannot take this shape).
    "__bucket": (r"^(size\(filter\(__bnds"
                 r"|aggregate\([^,]*, struct\(lo, 0, hi, size\(__bnds"
                 r"|CASE WHEN isnull\(cast\(.+ WHEN isnan\(cast\(.+"
                 r" ELSE element_at\(\[)",
                 None),
    # two-phase ntile fair-division arithmetic on (global rank, N)
    "decile": (r"^cast\(CASE WHEN \(__r", None),
    "quintile": (r"^cast\(CASE WHEN \(__r", None),
    # explicit cap (least(floor(x/width), cells)) or a bounded TPC-H
    # value domain (quantity 1..50, discount-cents 0..10)
    "bin": (r"^(least\(FLOOR\(|cast\(l_quantity|"
            r"cast\(round\(\(l_discount)", None),
    # per-document token-count grid (doc-length domain, not corpus)
    "z": (r"^\(?size\(filter\(", None),
    # event-time window struct: domain = date span / slide
    "window": (r"^named_struct\(start, ", None),
    # calendar keys: day/month truncations, date casts, day spans
    "d": (_CALENDAR, None),
    "m": (r"^date_trunc\(month", None),
    "dur": (r"^datediff\(", None),
    # raw bounded-domain table columns: must come off THAT table's
    # scan (or ride a float-normalization wrapper of the column)
    "n_name": (None, "nation"),
    "l_quantity": (r"^knownfloatingpointnormalized\("
                   r"normalizenanandzero\(l_quantity", "lineitem"),
    "p_size": (None, "part"),
    "source": (None, "documents"),
}


def _find_alias_def(e, eid):
    """Defining expression string for exprId `eid` if `e` (an
    expression tree) contains `Alias(child) AS name#eid`."""
    try:
        if (e.getClass().getSimpleName() == "Alias"
                and e.exprId().id() == eid):
            return e.child().toString()
    except Exception:
        pass
    try:
        ch = e.children()
    except Exception:
        return None
    for i in range(ch.length()):
        f = _find_alias_def(ch.apply(i), eid)
        if f:
            return f
    return None


def _key_provenance(sub_root, eid):
    """('alias', defining-expr-string) | ('scan', table-name) | (None,
    None) for the attribute `eid`, resolved within `sub_root`'s
    subtree (definitions sit below their consumers).

    Alias-of-alias chains are CHASED (≤ 4 hops): Spark pre-projects a
    computed grouping key as ``_groupingexpression#N`` and the final
    aggregate re-aliases that attribute to the user name, so the first
    Alias found for the user's exprId is often just a bare attribute
    reference — the DEFINING expression sits one projection deeper.
    Chasing keeps the audit structural (the name is still never
    load-bearing; only the terminal expression is matched) while
    making it robust to the inline-groupBy physical shape."""
    for _hop in range(4):
        found = None
        for n in _walk_exec(sub_root):
            nm = n.getClass().getSimpleName()
            try:
                exprs = n.expressions()
            except Exception:
                exprs = None
            if exprs is not None:
                for i in range(exprs.length()):
                    f = _find_alias_def(exprs.apply(i), eid)
                    if f:
                        found = ("alias", f)
                        break
            if found:
                break
            if "FileSourceScan" in nm or "BatchScan" in nm:
                out = n.output()
                for i in range(out.length()):
                    if out.apply(i).exprId().id() == eid:
                        m = _re.search(r"(\w+)\.parquet", n.toString())
                        return ("scan", m.group(1) if m else "")
        if not found:
            return (None, None)
        ref = _re.fullmatch(r"(\w+)#(\d+)L?", found[1])
        if not ref:
            return found
        eid = int(ref.group(2))  # bare attribute ref: chase one hop
    # hop budget exhausted mid-chain: return the LAST resolved alias
    # rather than (None, None), so a legitimately-deeper projection
    # chain degrades to "unmatched provenance" (auditable, may still
    # match the pattern) instead of a spurious no-provenance failure
    # (r8 ADVICE #4)
    return found


def _key_bounded(agg_node, key_name, expr):
    """True iff the grouping key's NAME is an allowlisted bounded
    domain AND its defining expression structurally matches that
    domain's class — the name alone is never load-bearing."""
    if key_name not in _BOUNDED_GROUP_KEYS:
        return False
    pat, table = _KEY_PROVENANCE.get(key_name, (None, None))
    try:
        eid = expr.exprId().id()
    except Exception:
        return False               # unnamed/computed: unauditable
    kind, prov = _key_provenance(agg_node, eid)
    if kind == "alias" and pat and _re.match(pat, prov):
        return True
    if kind == "scan" and table and prov == table:
        return True
    return False


def _walk_exec(jn):
    nm = jn.getClass().getSimpleName()
    if nm == "AdaptiveSparkPlanExec":
        yield from _walk_exec(jn.initialPlan())
        return
    if nm == "ReusedExchangeExec":
        yield from _walk_exec(jn.child())
        return
    yield jn
    ch = jn.children()
    for i in range(ch.length()):
        yield from _walk_exec(ch.apply(i))


def _subtree_bounded(jn):
    """True iff every root-to-leaf path through `jn` passes a
    boundedness gate before reaching a corpus-sized leaf (FileScan,
    shuffle-read of a scan, ...). Gates: an explicit limit / local
    fixture (_MARK_NODES), or an aggregate whose grouping keys are all
    data-volume-independent (_BOUNDED_GROUP_KEYS; empty grouping = one
    global row). An aggregate on unlisted keys (e.g. doc_id — corpus
    cardinality) does NOT gate: it is bounded only if its own input
    already is. Multi-child nodes (joins, unions) require ALL children
    bounded — bounded ⨝ unbounded is unbounded."""
    nm = jn.getClass().getSimpleName()
    if nm == "AdaptiveSparkPlanExec":
        return _subtree_bounded(jn.initialPlan())
    if nm == "ReusedExchangeExec":
        return _subtree_bounded(jn.child())
    if nm in _MARK_NODES:
        return True
    if nm in _AGG_NODES:
        ge = jn.groupingExpressions()
        pairs = []
        for i in range(ge.length()):
            e = ge.apply(i)
            try:
                pairs.append((e.name(), e))
            except Exception:
                pairs.append((e.toString(), e))
        if all(_key_bounded(jn, k, e) for k, e in pairs):
            return True                      # incl. empty → global agg
        # corpus-keyed aggregate (or a bounded-NAMED key whose
        # provenance does not verify): only as bounded as its input
    ch = jn.children()
    if ch.length() == 0:
        return False                         # scan leaf: corpus-sized
    return all(_subtree_bounded(ch.apply(i)) for i in range(ch.length()))


def _unbounded_unpartitioned_windows(df):
    out = []
    for n in _walk_exec(df._jdf.queryExecution().executedPlan()):
        nm = n.getClass().getSimpleName()
        if nm in _WINDOW_NODES and n.partitionSpec().isEmpty():
            if not _subtree_bounded(n.child()):
                out.append(nm)
    return out


@pytest.mark.slow
def test_registry_wide_no_corpus_sized_unpartitioned_window(spark, qs):
    """REGISTRY-WIDE (r4 verdict, next-round task #3): no query may
    plan an unpartitioned WindowExec whose input subtree lacks a
    partial-aggregate / limit / bounded-dimension marker — the shape
    that serialized the full documents scan through one partition in
    agg_gains_table, agg_uplift_qini, pipeline_active_learning_select,
    agg_spearman_rank_corr and dq_missing_ranges before round 5
    de-serialized them."""
    offenders = {}
    for name, fn in sorted(qs.items()):
        if name in _UNPART_WINDOW_ALLOWLIST:
            continue
        try:
            bad = _unbounded_unpartitioned_windows(fn(spark, SF_DIR))
        except Exception:
            continue  # build errors are other tests' business
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "corpus-sized unpartitioned windows (add a TakeOrdered pre-cut "
        f"or the two-phase operators/windows.py form): {offenders}")


def test_window_audit_flags_corpus_keyed_aggregate(spark):
    """Adversarial fixture pinning the CHECKER itself (r5 verdict,
    What's-wrong #1): groupBy(doc_id) keeps corpus cardinality, so an
    unpartitioned window above it is exactly the r4 serialization
    defect one abstraction level up. The old marker-based audit
    (any Aggregate = bounded) passed this shape; the key-aware audit
    MUST flag it."""
    from pyspark.sql import Window
    docs = tables.load(spark, SF_DIR, "documents")
    evil = (docs.groupBy("doc_id").agg(F.count("*").alias("cnt"))
            .withColumn("run", F.sum("cnt").over(Window.orderBy("doc_id"))))
    assert _unbounded_unpartitioned_windows(evil), (
        "audit failed to flag a corpus-keyed aggregate under an "
        "unpartitioned window")
    # a window straight over the scan must flag too (r4 base case)
    evil2 = docs.withColumn(
        "rn", F.row_number().over(Window.orderBy("doc_id")))
    assert _unbounded_unpartitioned_windows(evil2)
    # and bounded ⨝ unbounded must NOT launder boundedness through
    # the bounded side
    small = docs.groupBy("lang").agg(F.count("*").alias("c")).limit(5)
    evil3 = (docs.join(small, "lang")
             .withColumn("rn", F.row_number().over(Window.orderBy("doc_id"))))
    assert _unbounded_unpartitioned_windows(evil3)


def test_window_audit_accepts_bounded_domain_aggregate(spark):
    """Control for the adversarial fixture: a histogram-bin-keyed
    aggregate whose bin expression carries an explicit cell cap
    (least(floor(x/width), cells) — 64 rows max) under an
    unpartitioned window is the legitimate two-phase shape and must
    stay green. (r8: was `decile = doc_id % 10`, which the hardened
    provenance audit rightly rejects — a mod expression is not the
    ntile fair-division shape the `decile` name claims.)"""
    from pyspark.sql import Window
    docs = tables.load(spark, SF_DIR, "documents")
    dec = (docs.withColumn(
               "bin", F.least(F.floor(F.col("doc_id") / 100.0),
                              F.lit(63)))
           .groupBy("bin").agg(F.count("*").alias("cnt"))
           .withColumn("run", F.sum("cnt").over(Window.orderBy("bin"))))
    assert not _unbounded_unpartitioned_windows(dec)


def test_window_audit_rejects_corpus_key_wearing_bounded_name(spark):
    """The r7 ADVICE adversarial case, pinned: a corpus-cardinality
    key RENAMED to an allowlisted name (`dur`, `d`, `bin`) must not
    launder boundedness through the name — the provenance resolver
    sees a plain column alias where the name claims a calendar span /
    capped histogram expression, and the aggregate stops gating."""
    from pyspark.sql import Window
    docs = tables.load(spark, SF_DIR, "documents")
    for name in ("dur", "d", "bin"):
        evil = (docs.withColumn(name, F.col("doc_id"))
                .groupBy(name).agg(F.count("*").alias("cnt"))
                .withColumn("run",
                            F.sum("cnt").over(Window.orderBy(name))))
        assert _unbounded_unpartitioned_windows(evil), (
            f"corpus key renamed '{name}' laundered boundedness "
            f"through the name allowlist")


def test_r4_weak_five_are_deserialized(spark, qs):
    """The five r4 scale-killers, pinned individually: no unpartitioned
    window over an unbounded frame, and for the ntile pair no
    single-partition exchange carrying the documents scan."""
    for name in ("agg_gains_table", "agg_uplift_qini",
                 "pipeline_active_learning_select",
                 "agg_spearman_rank_corr", "dq_missing_ranges"):
        df = qs[name](spark, SF_DIR)
        assert not _unbounded_unpartitioned_windows(df), name
    # the active-learning top-25 must be a real distributed pre-cut
    plan = plan_of(qs["pipeline_active_learning_select"](spark, SF_DIR))
    assert "TakeOrdered" in plan
    assert "WindowExec" not in plan


def test_auc_running_sum_is_two_phase(spark, qs):
    # r4 task #4: dq_auc_score's cumulative negatives must survive a
    # continuous score domain — range-bucketed prefix sum, window only
    # over the tiny per-bucket count frame. r7: deterministic bucketing
    # (pure-function __bucket from broadcast boundaries) replaced the
    # r6 frozen localCheckpoint, so the END-TO-END executed plan is
    # visible again (r6 verdict What's-wrong #3): assert the two-phase
    # bucket column on the final plan and that no opaque checkpoint
    # scan hides the shape.
    df = qs["dq_auc_score"](spark, SF_DIR)
    assert not _unbounded_unpartitioned_windows(df)
    plan = plan_of(df)
    assert "__bucket" in plan
    assert "ExistingRDD" not in plan


def test_chained_prefix_sums_match_window_form(spark):
    """Regression for the r6 sf0.1 bug: two chained
    running_sum_distributed calls produced offsets under a DIFFERENT
    bucket assignment than the in-bucket sums (repartitionByRange
    re-sampling across physical consumers), corrupting 147k of 150k
    cumulative values in agg_ks_test. The frozen-bucket fix must make
    chained prefix sums exactly equal the single-partition window
    form, under different shuffle settings."""
    from pyspark.sql import Window as W
    from pmc_conversion_spark.operators.windows import \
        running_sum_distributed
    df = spark.range(0, 20000).select(
        (F.col("id") * 37 % 99991).alias("k"),
        (F.col("id") % 7).alias("a"), (F.col("id") % 5).alias("b"))
    df = df.groupBy("k").agg(F.sum("a").alias("a"),
                             F.sum("b").alias("b"))
    got = running_sum_distributed(
        running_sum_distributed(df, "k", "a", "ka", buckets=13),
        "k", "b", "kb", buckets=29)
    w = W.orderBy("k").rowsBetween(W.unboundedPreceding, W.currentRow)
    want = df.select("k", F.sum("a").over(w).alias("ka"),
                     F.sum("b").over(w).alias("kb"))
    expect = {r["k"]: (r["ka"], r["kb"]) for r in want.collect()}
    # r7 done-criterion: green under VARIED shuffle settings — the r6
    # failure was physical-plan-dependent (exchange reuse vs re-plan),
    # so exercise materially different stage layouts.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for parts in ("3", "57"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            g = {r["k"]: (r["ka"], r["kb"]) for r in got.collect()}
            for k, v in expect.items():
                assert g[k] == v, (parts, k)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_operators_index_matches_registry(qs):
    """OPERATORS.md (tools/operators_index.py) is the browsable table
    of contents for the registry; it must list exactly the live
    queries() names, each with a resolvable defining file. When this
    fails: python -u tools/operators_index.py."""
    import os
    import re
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(repo, "OPERATORS.md")
    assert os.path.exists(path), "run tools/operators_index.py"
    listed = {}
    for ln in open(path):
        m = re.match(r"\| `([^`]+)` \| .* \| ([\w/.]+\.py):\d+ \|", ln)
        if m:
            listed[m.group(1)] = m.group(2)
    assert set(listed) == set(qs), (
        f"index drift — regenerate: missing={sorted(set(qs) - set(listed))[:5]} "
        f"stale={sorted(set(listed) - set(qs))[:5]}")
    for name, rel in listed.items():
        assert os.path.exists(os.path.join(repo, rel)), (name, rel)


def test_every_registered_query_is_in_latest_fullgate_log(qs):
    """Process gate (r4 verdict, What's-wrong #1): ts_holt_forecast
    shipped red because it was registered AFTER the last full gate
    run. Every queries() name must appear (as ok/FAIL — presence, not
    verdict; other rows assert verdicts) in the NEWEST FULLGATE_r*.log
    so a registry append can never ship unverified again. When this
    fails: run  python -u tools/check_oracle.py > FULLGATE_r<N>.log."""
    import glob
    import os
    import re
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    logs = glob.glob(os.path.join(repo, "FULLGATE_r*.log"))
    assert logs, "no FULLGATE log — run tools/check_oracle.py first"
    latest = max(logs, key=lambda p: int(re.search(r"_r(\d+)", p).group(1)))
    with open(latest) as fh:
        text = fh.read()
    gated = set(re.findall(r"^(?:ok|FAIL|weak)\s+(\S+)", text, re.M))
    missing = sorted(set(qs) - gated)
    assert not missing, (
        f"registered but absent from {os.path.basename(latest)} "
        f"(gate before shipping): {missing}")


def test_anchored_vwap_has_no_group_sized_window_partition(spark, qs):
    """r7 verdict What's-wrong #3: the anchored-VWAP prefix sum must
    never put a whole anchor month in one window partition (a month of
    lineitem at 100 TB is ~1 TB). The two-phase composition bounds
    every data-bearing window partition at ~N/buckets rows: each
    Window node in the executed plan must either partition on the
    range-bucket column (the in-cell prefix sum) or sit on top of an
    aggregate (the tiny per-cell totals/offsets frame)."""
    df = qs["win_anchored_vwap"](spark, SF_DIR)
    df.count()  # settle AQE so the walked tree is the executed shape

    def walk(jn):
        nm = jn.getClass().getSimpleName()
        if nm == "AdaptiveSparkPlanExec":
            yield from walk(jn.finalPhysicalPlan())
            return
        if nm in ("QueryStageExec", "ShuffleQueryStageExec",
                  "BroadcastQueryStageExec", "TableCacheQueryStageExec",
                  "ResultQueryStageExec"):
            yield from walk(jn.plan())
            return
        yield jn
        ch = jn.children()
        for i in range(ch.length()):
            yield from walk(ch.apply(i))

    windows = [n for n in walk(df._jdf.queryExecution().executedPlan())
               if n.getClass().getSimpleName() in
               ("WindowExec", "WindowInPandasExec")]
    assert windows, "expected window nodes in the anchored-VWAP plan"
    for n in windows:
        spec = n.partitionSpec().toString()
        assert not n.partitionSpec().isEmpty(), "unpartitioned window"
        if "__bucket" in spec:
            continue  # in-cell prefix sum: bounded by bucket width
        subtree = [c.getClass().getSimpleName() for c in walk(n.child())]
        assert any("Aggregate" in s for s in subtree), (
            f"window partitioned only by {spec} over non-aggregated "
            f"input — a group-sized partition that grows with corpus "
            f"scale")


def test_geo_grid_radius_has_no_dedup_aggregate(spark, qs):
    # r9 opt: each qualifying pair is emitted by exactly one probe
    # direction (right side sits in its single home cell, the left
    # side's 9 probe cells are distinct, a.id < b.id kills the
    # reverse), so the result is duplicate-free by construction and
    # the plan must not pay a result-sized distinct shuffle: the only
    # aggregate-free shape is join + filter + project.
    plan = plan_of(qs["join_geo_grid_radius"](spark, SF_DIR))
    assert "HashAggregate" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_maxsim_scores_map_side_no_aggregate(spark, qs):
    # r9 opt: the whole 4x4 sub-pair MaxSim score is one map-side
    # projection per (query, candidate) against the broadcast query
    # frame — the per-i max is greatest(), not a groupBy, so the only
    # shuffle left is the final top-3 rank window. Sub-norms are
    # factored per row: no aggregate may appear below the window.
    plan = plan_of(qs["sim_maxsim_multivector"](spark, SF_DIR))
    assert "HashAggregate" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # corpus x broadcast queries
    assert "SortMergeJoin" not in plan


def test_ndcg_output_stage_reads_checkpoints_not_corpus(spark, qs):
    # r9 opt: doc length derives from the checkpointed (doc, term)
    # count frame (dl = sum of tf — exact integers), so the output
    # stage of the NDCG eval must read checkpoint leaves, never
    # re-scan the corpus: the tokenize+explode runs exactly once, in
    # the checkpoint-materialization job.
    plan = plan_of(qs["agg_ndcg_eval"](spark, SF_DIR))
    assert "Scan parquet" not in plan
    assert "Scan ExistingRDD" in plan


def test_jonckheere_group_sizes_derive_from_histogram(spark, qs):
    # r9 opt: the per-group sizes are exact column sums of the
    # checkpointed bin histogram — the orders scan must not appear in
    # the output stage (it runs once, in the checkpoint job).
    plan = plan_of(qs["agg_jonckheere_terpstra"](spark, SF_DIR))
    assert "Scan parquet" not in plan
    assert "Scan ExistingRDD" in plan
