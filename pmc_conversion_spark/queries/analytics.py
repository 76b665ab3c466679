"""Registry: graph analytics, mergeable set sketches, skyline and
record-linkage operators — the analytics round-out a 100 TB warehouse
needs beyond plain relational algebra.

Graph fixtures derive from the supplier CO-ORDER graph (two suppliers
are adjacent iff they ship lines of the same order) — a real
many-to-many structure the TPC-H-ish tables already contain, standing
in for the doc-similarity graphs the dedup family builds
(``dedup_cluster_cc``). The reference pipeline has no graph surface;
these extend the engine the way SURVEY.md §2's "training-data
pipeline" mandate extends dedup/ANN.

Scale notes (100 TB):
- triangle counting uses DEGREE orientation (count each triangle at
  its lowest-degree apex), the standard bound that caps wedge
  generation at O(m^1.5) instead of sum-of-squares-of-hub-degrees;
- pagerank is join+partial-agg per iteration with the rank vector
  broadcast (node set = dim-table-sized here; swap to a shuffle join
  for doc-scale graphs — the iteration body is unchanged);
- theta/KMV sketches reduce each set to a bottom-k of size 256 via
  per-partition TakeOrdered (no full sort), so union/intersection
  cardinality estimation over N sets moves O(k) rows per set;
- the skyline reduces through a bounded-domain aggregate (distinct
  p_size) before any window runs — the window never sees fact rows;
- record linkage blocks on a (prefix, length-band) key so the
  verify-stage levenshtein runs on candidate pairs only, never N².

Float policy: doubles compared across engines are rounded to ≤6
decimals; any SUM over doubles goes through round→DECIMAL so the
result is independent of partitioning/accumulation order (same policy
as events_q.py / llmdata.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pmc_conversion_spark import tables
from pmc_conversion_spark.functions.dedup import md5_int60
from pmc_conversion_spark.queries import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return tables.load(spark, sf_dir, name)


# ------------------------------------------------- supplier co-order graph

#: minimum co-occurrences for an edge. The raw co-order graph's
#: density is scale-dependent (expected co-occurrences per supplier
#: pair ~ orders/pairs, which swings 200→2 from sf0.001→sf0.1);
#: unthresholded it approaches a complete graph at small SF and a
#: dense one at sf0.1, where wedge generation blows up (measured
#: 22 s at sf0.1). Thresholding to REPEATED partnerships is both the
#: semantically meaningful graph and the density control.
_EDGE_MIN_ORDERS = 5


def _co_order_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected edge list (u < v) of suppliers sharing at least
    ``_EDGE_MIN_ORDERS`` distinct orders.

    One self-equi-join on l_orderkey over the DISTINCT (order,supplier)
    projection: the shuffle key is the order key, so co-partitioned
    lineitem scans build edges without moving supplier payloads; the
    co-occurrence count is a partial-aggregable groupBy on (u, v)."""
    el = (_t(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_suppkey").distinct())
    a = el.select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("u"))
    b = el.select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("v"))
    e = (a.join(b, "o")
         .filter(F.col("u") < F.col("v"))
         .groupBy("u", "v").agg(F.count(F.lit(1)).alias("n_orders"))
         .filter(F.col("n_orders") >= _EDGE_MIN_ORDERS)
         .select("u", "v"))
    # Both graph ops reference the edge list from several branches
    # (three wedge roles / one per PR iteration); truncate lineage so
    # the lineitem self-join runs ONCE, not once per branch — the same
    # localCheckpoint pattern functions/graph.py uses per CC round.
    return e.localCheckpoint(eager=True)


_EDGES_SQL = f"""
    el AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem),
    e AS (SELECT a.s AS u, b.s AS v
          FROM el a JOIN el b ON a.o = b.o AND a.s < b.s
          GROUP BY 1, 2 HAVING count(*) >= {_EDGE_MIN_ORDERS})
"""


@register(
    "graph_triangle_count",
    oracle=f"""
    WITH {_EDGES_SQL.strip()},
    nodes AS (SELECT u AS n FROM e UNION SELECT v FROM e)
    SELECT (SELECT count(*) FROM nodes) AS n_nodes,
           (SELECT count(*) FROM e) AS n_edges,
           (SELECT count(*)
            FROM e e1 JOIN e e2 ON e1.v = e2.u
                      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
             AS n_triangles
    """)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count over the supplier co-order graph.

    Engine plan: orient every edge from its (degree, id)-smaller
    endpoint to the larger, then count directed wedges u→v→w that
    close with u→w. Orientation by a total order makes each triangle
    count EXACTLY once, and degree-ordering bounds the wedge stage by
    O(m^1.5) — the hub node of a skewed graph generates no wedges
    because its edges all point INTO it. The oracle states the same
    count with the naive id-orientation (same total, any total order).
    """
    e = _co_order_edges(spark, sf_dir)
    deg = (e.select(F.col("u").alias("n"))
           .unionAll(e.select(F.col("v").alias("n")))
           .groupBy("n").agg(F.count(F.lit(1)).alias("d")))
    # degree lookup is |V|-sized (dim-table scale) -> broadcast twice
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    keyed = (e.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
             .select(
                 F.when((F.col("du") < F.col("dv"))
                        | ((F.col("du") == F.col("dv"))
                           & (F.col("u") < F.col("v"))),
                        F.struct(F.col("u").alias("src"),
                                 F.col("v").alias("dst")))
                 .otherwise(F.struct(F.col("v").alias("src"),
                                     F.col("u").alias("dst")))
                 .alias("o"))
             .select("o.src", "o.dst")
             # consumed by all three wedge roles (e1/e2/e3): without
             # the cut the degree-orientation joins replay per role
             # (r9, guide §5)
             .localCheckpoint(eager=True))
    e1 = keyed.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = keyed.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = keyed.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = (e1.join(e2, "b").join(e3, ["a", "c"])
           .agg(F.count(F.lit(1)).alias("n_triangles")))
    counts = (deg.agg(F.count(F.lit(1)).alias("n_nodes"))
              .crossJoin(e.agg(F.count(F.lit(1)).alias("n_edges"))))
    return counts.crossJoin(tri)


def _pagerank_iter_sql(prev: str, out: str) -> str:
    """One unrolled PageRank iteration (DuckDB): damped sum of
    neighbor rank/degree, decimal-summed so accumulation order can't
    leak into the hash check."""
    return f"""
    {out} AS (
      SELECT und.v AS node,
             round(0.15 + 0.85 * CAST(sum(CAST(round(p.pr / d.deg, 12)
                        AS DECIMAL(28,12))) AS DOUBLE), 12) AS pr
      FROM und JOIN {prev} p ON p.node = und.u
               JOIN deg d ON d.node = und.u
      GROUP BY und.v)
    """


@register(
    "graph_pagerank",
    oracle=f"""
    WITH {_EDGES_SQL.strip()},
    und AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    deg AS (SELECT u AS node, count(*) AS deg FROM und GROUP BY u),
    pr0 AS (SELECT node, 1.0::DOUBLE AS pr FROM deg),
    {_pagerank_iter_sql('pr0', 'pr1')},
    {_pagerank_iter_sql('pr1', 'pr2')},
    {_pagerank_iter_sql('pr2', 'pr3')}
    SELECT node, round(pr, 6) AS pagerank FROM pr3
    """)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three damped PageRank iterations (d=0.85, uniform start) over
    the undirected co-order graph.

    Each iteration is one edge⨝rank join plus one partial-aggregable
    groupBy on the destination — the Pregel-free DataFrame form. The
    rank vector is |V|-sized and broadcast here; a doc-scale graph
    swaps the broadcast for a shuffle join on `u` with the SAME
    iteration body. Per-edge contributions are rounded and summed as
    DECIMAL(28,12) so both engines reach bit-identical ranks
    regardless of aggregation order (policy of text_lm_score)."""
    e = _co_order_edges(spark, sf_dir)
    und = (e.select("u", "v")
           .unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v"))))
    deg = (und.groupBy(F.col("u").alias("node"))
           .agg(F.count(F.lit(1)).alias("deg"))
           .localCheckpoint(eager=True))
    pr = deg.select("node", F.lit(1.0).alias("pr"))
    for _ in range(3):
        state = (pr.join(deg, "node")
                 .select(F.col("node").alias("u"), "pr", "deg"))
        contrib = (und.join(F.broadcast(state), "u")
                   .select(F.col("v").alias("node"),
                           F.round(F.col("pr") / F.col("deg"), 12)
                           .cast("decimal(28,12)").alias("c")))
        # checkpoint each round's node-sized rank vector: round r's
        # broadcast-build job otherwise replays rounds 1..r-1's edge
        # joins (1+2+3 passes for 3 rounds — r9, guide §5); deg is
        # checkpointed for the same reason (consumed every round)
        pr = (contrib.groupBy("node")
              .agg(F.round(F.lit(0.15) + F.lit(0.85)
                           * F.sum("c").cast("double"), 12).alias("pr"))
              .localCheckpoint(eager=True))
    return pr.select("node", F.round("pr", 6).alias("pagerank"))


#: convergence loop bounds for graph_pagerank_converged: relative-L1
#: tolerance 1/4 (exact decimal compare: 4*diff < base) and a hard
#: iteration cap. With damping 0.85 the L1 delta contracts ~0.85 per
#: round, so tol 1/4 converges in ~9 rounds on a connected graph and
#: the cap is slack, not the expected stop.
_PRC_CAP = 12


def _prc_round_sql(r: int) -> str:
    """One PageRank round + its L1-delta row (DuckDB). MATERIALIZED:
    each round's vector is referenced by the next round, two delta
    CTEs and the final union — default inlining would expand the
    12-round chain exponentially (graph_kcore lesson)."""
    prev, out = f"pr{r - 1}", f"pr{r}"
    return f"""
    {out} AS MATERIALIZED (
      SELECT und.v AS node,
             round(0.15 + 0.85 * CAST(sum(CAST(round(p.pr / d.deg, 12)
                        AS DECIMAL(28,12))) AS DOUBLE), 12) AS pr
      FROM und JOIN {prev} p ON p.node = und.u
               JOIN deg d ON d.node = und.u
      GROUP BY und.v),
    dl{r} AS MATERIALIZED (
      SELECT {r} AS r,
             sum(CAST(round(abs(a.pr - b.pr), 12)
                      AS DECIMAL(28,12))) AS diff,
             sum(CAST(round(b.pr, 12) AS DECIMAL(28,12))) AS base
      FROM {out} a JOIN {prev} b USING (node))
    """


@register(
    "graph_pagerank_converged",
    oracle=f"""
    WITH {_EDGES_SQL.strip()},
    und AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    deg AS MATERIALIZED (SELECT u AS node, count(*) AS deg
                         FROM und GROUP BY u),
    pr0 AS MATERIALIZED (SELECT node, 1.0::DOUBLE AS pr FROM deg),
    {",".join(_prc_round_sql(r) for r in range(1, _PRC_CAP + 1))},
    alldl AS ({" UNION ALL ".join(f"SELECT * FROM dl{r}"
                                  for r in range(1, _PRC_CAP + 1))}),
    conv AS (SELECT coalesce(min(CASE WHEN diff * 4 < base THEN r END),
                             {_PRC_CAP}) AS k FROM alldl),
    allpr AS ({" UNION ALL ".join(
        f"SELECT {r} AS r, node, pr FROM pr{r}"
        for r in range(1, _PRC_CAP + 1))})
    SELECT node, round(pr, 6) AS pagerank, conv.k AS n_iters
    FROM allpr, conv WHERE allpr.r = conv.k
    """)
def graph_pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank iterated TO CONVERGENCE (relative-L1 stop), not a
    fixed round count — the production form of ``graph_pagerank``:
    loop while ``sum|pr_r - pr_{{r-1}}| >= base/4`` (both sums exact
    DECIMAL(28,12) over 12-dp-rounded doubles, so the stop decision is
    bit-identical across engines and partitionings), hard-capped at
    {_PRC_CAP} rounds. The oracle replays the SAME rule by unrolling
    the cap and selecting the first converged round.

    Scale: each round is the unchanged join + partial-agg iteration
    body with the rank vector broadcast; ``localCheckpoint`` truncates
    lineage EVERY round because the convergence test takes a per-round
    action — without it round r would recompute rounds 1..r-1, turning
    O(r) total work into O(r²) (the measured flat-per-round discipline
    of the CC/k-core loops). The delta aggregate moves one row per
    round."""
    e = _co_order_edges(spark, sf_dir)
    und = (e.select("u", "v")
           .unionAll(e.select(F.col("v").alias("u"),
                              F.col("u").alias("v")))
           .localCheckpoint(eager=True))
    deg = (und.groupBy(F.col("u").alias("node"))
           .agg(F.count(F.lit(1)).alias("deg"))
           .localCheckpoint(eager=True))
    pr = (deg.select("node", F.lit(1.0).alias("pr"))
          .localCheckpoint(eager=True))
    n_iters = _PRC_CAP
    from pmc_conversion_spark.util import checkpoint_observed
    for r in range(1, _PRC_CAP + 1):
        state = (pr.join(deg, "node")
                 .select(F.col("node").alias("u"), "pr", "deg"))
        contrib = (und.join(F.broadcast(state), "u")
                   .select(F.col("v").alias("node"),
                           F.round(F.col("pr") / F.col("deg"), 12)
                           .cast("decimal(28,12)").alias("c")))
        # r9 opt (guide §1.2): the L1 delta rides the checkpoint
        # materialization as an observe metric — nxt carries prev
        # through the (key-preserving: every edged node contributes)
        # inner join so one job per round replaces checkpoint +
        # separate delta .first(). Same decimal sums over the same
        # rows, so the stop round is unchanged.
        nxt, m = checkpoint_observed(
            contrib.groupBy("node")
            .agg(F.round(F.lit(0.15) + F.lit(0.85)
                         * F.sum("c").cast("double"), 12).alias("pr"))
            .join(pr.withColumnRenamed("pr", "prev"), "node"),
            diff=F.sum(F.round(F.abs(F.col("pr") - F.col("prev")), 12)
                       .cast("decimal(28,12)")),
            base=F.sum(F.round("prev", 12).cast("decimal(28,12)")))
        pr = nxt.select("node", "pr")
        if m["diff"] * 4 < m["base"]:
            n_iters = r
            break
    return pr.select("node", F.round("pr", 6).alias("pagerank"),
                     F.lit(n_iters).cast("int").alias("n_iters"))


# ------------------------------------------------------ theta/KMV sketch

_THETA_K = 256
_H_SQL = "('0x' || substr(md5('th1:' || CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT"
_TWO60 = float(1 << 60)


@register(
    "sketch_theta_intersect",
    oracle=f"""
    WITH sa AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'),
    sb AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
    ba AS (SELECT {_H_SQL} AS h FROM sa ORDER BY h LIMIT {_THETA_K}),
    bb AS (SELECT {_H_SQL} AS h FROM sb ORDER BY h LIMIT {_THETA_K}),
    ta AS (SELECT CASE WHEN count(*) < {_THETA_K} THEN {1 << 60}
                       ELSE max(h) END AS theta,
                  count(*) AS cnt FROM ba),
    tb AS (SELECT CASE WHEN count(*) < {_THETA_K} THEN {1 << 60}
                       ELSE max(h) END AS theta,
                  count(*) AS cnt FROM bb),
    th AS (SELECT least(ta.theta, tb.theta) AS theta FROM ta, tb),
    common AS (SELECT count(*) AS n FROM ba JOIN bb USING (h), th
               WHERE h <= th.theta)
    SELECT {_THETA_K} AS k,
           round(CASE WHEN ta.cnt < {_THETA_K} THEN ta.cnt
                      ELSE ({_THETA_K} - 1) * {_TWO60!r} / ta.theta END, 3)
             AS est_a,
           round(CASE WHEN tb.cnt < {_THETA_K} THEN tb.cnt
                      ELSE ({_THETA_K} - 1) * {_TWO60!r} / tb.theta END, 3)
             AS est_b,
           round(common.n * {_TWO60!r} / th.theta, 3) AS est_inter,
           (SELECT count(*) FROM sa) AS exact_a,
           (SELECT count(*) FROM sb) AS exact_b,
           (SELECT count(*) FROM sa JOIN sb USING (o_custkey)) AS exact_inter
    FROM ta, tb, th, common
    """)
def sketch_theta_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/KMV sketch set algebra: distinct-cardinality estimates for
    two customer sets AND their INTERSECTION — the estimate HLL cannot
    give (``agg_hll_mergeable`` only unions). Bottom-k (k=256) of a
    portable 60-bit hash per set; θ = k-th smallest hash; |A| ≈
    (k-1)/θ; A∩B ≈ |{{h ∈ botA ∩ botB : h ≤ min θ}}| / min θ. A sketch
    that never fills (|S| < k) retains the whole set: θ snaps to the
    hash-space max and the estimate degrades gracefully to the exact
    retained count — the standard KMV small-set branch.

    Scale: each set collapses to k rows via TakeOrdered (per-partition
    partial bottom-k, no global sort), so estimating pairwise overlaps
    of S sets moves O(S·k) rows — vs the full-distinct shuffle the
    exact twin columns here need. Exact counts ride along to make the
    error visible in the result itself."""
    orders = _t(spark, sf_dir, "orders")

    def bottom(status: str, tag: str):
        # r9 opt (guide §5 lineage replay): each side's distinct set
        # feeds THREE consumers (bottom-k hashes, exact count, exact
        # intersection join) and the 256-row bottom-k feeds two
        # (theta, common) — without truncation the orders scan +
        # distinct replayed 3x per side in one plan. The checkpointed
        # frames are strictly smaller than the pass producing them
        # (distinct keys; k rows).
        s = (orders.filter(F.col("o_orderstatus") == status)
             .select("o_custkey").distinct()
             .localCheckpoint(eager=True))
        h = s.select(md5_int60(
            F.concat(F.lit("th1:"), F.col("o_custkey").cast("string")))
            .alias("h"))
        bot = (h.orderBy("h").limit(_THETA_K)
               .localCheckpoint(eager=True))
        theta = bot.agg(
            F.when(F.count(F.lit(1)) < _THETA_K, F.lit(1 << 60))
            .otherwise(F.max("h")).alias(f"theta_{tag}"),
            F.count(F.lit(1)).alias(f"cnt_{tag}"))
        n = s.agg(F.count(F.lit(1)).alias(f"exact_{tag}"))
        return s, bot, theta, n

    sa, ba, ta, na = bottom("O", "a")
    sb, bb, tb, nb = bottom("F", "b")
    thetas = ta.crossJoin(tb).withColumn(
        "theta", F.least("theta_a", "theta_b"))
    common = (ba.join(bb, "h").crossJoin(thetas)
              .filter(F.col("h") <= F.col("theta"))
              .agg(F.count(F.lit(1)).alias("n_common")))
    exact_i = (sa.join(sb, "o_custkey")
               .agg(F.count(F.lit(1)).alias("exact_inter")))
    k1 = float(_THETA_K - 1)

    def est(tag: str):
        return F.round(
            F.when(F.col(f"cnt_{tag}") < _THETA_K,
                   F.col(f"cnt_{tag}").cast("double"))
            .otherwise(k1 * _TWO60 / F.col(f"theta_{tag}")), 3)

    return (thetas.crossJoin(common).crossJoin(na).crossJoin(nb)
            .crossJoin(exact_i)
            .select(F.lit(_THETA_K).alias("k"),
                    est("a").alias("est_a"),
                    est("b").alias("est_b"),
                    F.round(F.col("n_common") * _TWO60 / F.col("theta"), 3)
                    .alias("est_inter"),
                    F.col("exact_a"), F.col("exact_b"), F.col("exact_inter")))


# ------------------------------------------------------------- skyline

@register(
    "sql_pareto_frontier",
    oracle="""
    SELECT p_partkey, p_size, round(p_retailprice, 2) AS price
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
    """)
def sql_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) of parts: minimize retail price,
    maximize size; a part survives iff no other part is ≤ price AND
    ≥ size with one strict.

    Engine plan — NO quadratic NOT EXISTS: reduce to min-price per
    distinct size (partial-aggregable, bounded by the size domain),
    take the strictly-larger-size running min over that ~50-row
    aggregate (the only window, bounded-domain by construction), then
    broadcast the surviving sizes back onto the fact scan. The oracle
    states the O(N²) textbook definition; the engine computes the same
    set in one scan + one dim-sized window."""
    p = (_t(spark, sf_dir, "part")
         .select("p_partkey", "p_size", "p_retailprice"))
    m = p.groupBy("p_size").agg(F.min("p_retailprice").alias("mp"))
    w = (Window.orderBy(F.col("p_size").desc())
         .rowsBetween(Window.unboundedPreceding, -1))
    keep = (m.withColumn("better", F.min("mp").over(w))
            .filter(F.col("better").isNull()
                    | (F.col("better") > F.col("mp")))
            .select("p_size", "mp"))
    return (p.join(keep, "p_size")
            .filter(F.col("p_retailprice") == F.col("mp"))
            .select("p_partkey", "p_size",
                    F.round("p_retailprice", 2).alias("price")))


# ------------------------------------------------------- record linkage

@register(
    "join_fuzzy_blocked",
    oracle="""
    WITH clean AS (SELECT doc_id AS clean_id,
                          substr(text, 1, 24) AS name FROM documents),
    dirty AS (
      SELECT doc_id AS dirty_id,
             CASE doc_id % 3
               WHEN 0 THEN substr(name, 1, 9) || substr(name, 11)
               WHEN 1 THEN substr(name, 1, 4) || 'x' || substr(name, 6)
               ELSE name END AS name
      FROM (SELECT doc_id, substr(text, 1, 24) AS name FROM documents)),
    cand AS (
      SELECT d.dirty_id, c.clean_id,
             levenshtein(d.name, c.name) AS dist
      FROM dirty d JOIN clean c
        ON substr(d.name, 1, 4) = substr(c.name, 1, 4)
       AND abs(length(d.name) - length(c.name)) <= 2),
    hits AS (SELECT * FROM cand WHERE dist <= 2)
    SELECT dirty_id,
           min(struct_pack(dist := dist, clean_id := clean_id)).clean_id
             AS clean_id,
           min(struct_pack(dist := dist, clean_id := clean_id)).dist
             AS dist
    FROM hits GROUP BY dirty_id
    """)
def join_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage (fuzzy join) with blocking: a 'dirty' feed of
    24-char document titles — one deterministic typo per
    doc_id-class (char deleted at 10 / replaced at 5 / unchanged) —
    is matched back to the clean master by edit distance ≤ 2.

    The blocking key (4-char prefix, ±2 length band) turns the N²
    verify into per-block candidate pairs; levenshtein runs only on
    candidates and is a JVM built-in (no Python). Best match per dirty
    record via a total-ordered struct-min (ties break on the lower
    clean id), so the result is deterministic even when two masters
    tie at the same distance."""
    d0 = (_t(spark, sf_dir, "documents")
          .select("doc_id", F.substring("text", 1, 24).alias("name")))
    clean = d0.select(F.col("doc_id").alias("clean_id"), "name")
    dirty = d0.select(
        F.col("doc_id").alias("dirty_id"),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.substring("name", 1, 9),
                        F.expr("substring(name, 11)")))
        .when(F.col("doc_id") % 3 == 1,
              F.concat(F.substring("name", 1, 4), F.lit("x"),
                       F.expr("substring(name, 6)")))
        .otherwise(F.col("name")).alias("name"))
    c = clean.withColumn("blk", F.substring("name", 1, 4))
    d = dirty.withColumn("blk", F.substring("name", 1, 4))
    cand = (d.join(c.withColumnRenamed("name", "cname"), "blk")
            .filter(F.abs(F.length("name") - F.length("cname")) <= 2)
            .select("dirty_id", "clean_id",
                    F.levenshtein("name", "cname").alias("dist")))
    best = (cand.filter(F.col("dist") <= 2)
            .groupBy("dirty_id")
            .agg(F.min(F.struct("dist", "clean_id")).alias("m"))
            .select("dirty_id", F.col("m.clean_id").alias("clean_id"),
                    F.col("m.dist").alias("dist")))
    return best


# ------------------------------------------- time-range window frames

@register(
    "win_frame_range_time",
    oracle="""
    SELECT event_id, user_id,
           count(*) OVER w AS n_1h,
           round(CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) OVER w
                 AS DOUBLE), 6) AS sum_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """)
def win_frame_range_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour RANGE frame per user: for every event, the
    count and value-sum of that user's events in the preceding hour
    (inclusive). Unlike ``win_frame_rows`` the frame is defined by
    event-TIME distance, so ties and bursts are handled by value
    range, not row position — the standard sessionless 'rate over
    trailing window' primitive.

    Partitioned by user_id (the natural shuffle key; no global
    window), ordered by epoch seconds with rangeBetween(-3600, 0).
    Both engines floor ts to whole seconds and decimal-sum the
    rounded values, so frame membership and sums are exact. (NTZ
    cannot cast straight to long; the session tz is pinned UTC, so
    NTZ→TIMESTAMP→long equals DuckDB's epoch of the naive value.)"""
    e = _t(spark, sf_dir, "events")
    secs = F.col("ts").cast("timestamp").cast("long")
    w = (Window.partitionBy("user_id")
         .orderBy(secs)
         .rangeBetween(-3600, 0))
    return e.select(
        "event_id", "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.round(F.sum(F.round("value", 6).cast("decimal(18,6)")).over(w)
                .cast("double"), 6).alias("sum_1h"))


# ------------------------------------------- SCD2 point-in-time join

_SCD2_CTES = """
    v1 AS (SELECT c_custkey, 1 AS version, c_acctbal, c_mktsegment
           FROM customer),
    v2 AS (SELECT c_custkey, 2,
                  CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100
                       ELSE c_acctbal END, c_mktsegment FROM customer),
    v3 AS (SELECT c_custkey, 3,
                  CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100
                       ELSE c_acctbal END,
                  CASE WHEN c_custkey % 13 = 0 THEN 'MOVED'
                       ELSE c_mktsegment END FROM customer),
    snaps AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2
              UNION ALL SELECT * FROM v3),
    flagged AS (
      SELECT *,
             (lag(version) OVER w IS NULL
              OR c_acctbal IS DISTINCT FROM lag(c_acctbal) OVER w
              OR c_mktsegment IS DISTINCT FROM lag(c_mktsegment) OVER w)
               AS chg
      FROM snaps
      WINDOW w AS (PARTITION BY c_custkey ORDER BY version)
    ),
    changes AS (SELECT * FROM flagged WHERE chg),
    dim AS (
      SELECT c_custkey, c_acctbal, c_mktsegment,
             version AS valid_from,
             lead(version) OVER (PARTITION BY c_custkey
                                 ORDER BY version) AS valid_to
      FROM changes)
"""


@register(
    "join_scd2_pointintime",
    oracle=f"""
    WITH {_SCD2_CTES.strip()}
    SELECT o.o_orderkey, o.o_custkey,
           (o.o_orderkey % 3) + 1 AS as_of_version,
           d.c_acctbal, d.c_mktsegment
    FROM orders o
    JOIN dim d ON d.c_custkey = o.o_custkey
              AND d.valid_from <= (o.o_orderkey % 3) + 1
              AND ((o.o_orderkey % 3) + 1 < d.valid_to
                   OR d.valid_to IS NULL)
    """)
def join_scd2_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension join: each fact row (order) joins the
    SCD-type-2 customer version that was VALID at the fact's
    as-of version — the lookup the ``win_scd2_history`` build exists
    to serve, and the join every time-correct warehouse query runs
    against a changing dimension.

    The equality key (custkey) carries the shuffle/broadcast exactly
    like a plain FK join; the [valid_from, valid_to) band is a
    residual filter inside the hash join, never a range-join blowup —
    each fact matches exactly one version by construction. A late
    re-run gets identical history (versions are data, not wall
    clock)."""
    from pmc_conversion_spark.operators import windows as W
    from pmc_conversion_spark.queries.relational import _scd_snapshots
    dim = W.scd2_history(_scd_snapshots(spark, sf_dir),
                         "c_custkey", "version",
                         ["c_acctbal", "c_mktsegment"])
    o = (_t(spark, sf_dir, "orders")
         .select("o_orderkey", "o_custkey",
                 ((F.col("o_orderkey") % 3) + 1).alias("as_of_version")))
    cond = ((o.o_custkey == dim.c_custkey)
            & (dim.valid_from <= o.as_of_version)
            & (o.as_of_version < F.coalesce(dim.valid_to, F.lit(99))))
    return (o.join(dim, cond)
            .select("o_orderkey", "o_custkey", "as_of_version",
                    "c_acctbal", "c_mktsegment"))


# ------------------------------------------------- Z-order (Morton) layout

def _zorder_sql(x: str, y: str, bits: int = 8) -> str:
    """Portable Morton interleave via div/mod arithmetic (no engine
    bit operators): z = Σ bit_i(x)·4^i·1 + bit_i(y)·4^i·2."""
    terms = []
    for i in range(bits):
        terms.append(f"(({x} // {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"(({y} // {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


@register(
    "sink_zorder_layout",
    oracle=f"""
    WITH pts AS (
      SELECT o_orderkey,
             o_custkey % 256 AS x,
             (CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400) % 256 AS y
      FROM orders
    )
    SELECT o_orderkey, x, y, {_zorder_sql('x', 'y')} AS z
    FROM pts ORDER BY z, o_orderkey LIMIT 100
    """)
def sink_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over two query dimensions
    (customer bucket × order day): the multi-dimensional layout that
    makes min/max row-group stats prune BOTH dimensions at once —
    ``sink_sorted_rowgroups``'s one-column skip generalized. A sort by
    z before write gives every file a tight (x, y) bounding box, so a
    2-D box predicate touches O(perimeter) files instead of all of
    them.

    The interleave is pure div/mod arithmetic (identical in both
    engines — no engine-specific bit operators), map-side, codegen'd;
    the ordered top-100 demonstrates the space-filling curve order
    itself. tests/test_analytics.py pins bijectivity and the
    locality bound vs a row-major layout."""
    o = _t(spark, sf_dir, "orders")
    x = (F.col("o_custkey") % 256).alias("x")
    day = F.floor(F.col("o_orderdate").cast("timestamp").cast("long")
                  / F.lit(86400)).cast("bigint")
    y = (day % 256).alias("y")
    pts = o.select("o_orderkey", x, y)
    z = sum((((F.col("x") / (1 << i)).cast("bigint") % 2)
             * (1 << (2 * i))
             + ((F.col("y") / (1 << i)).cast("bigint") % 2)
             * (1 << (2 * i + 1))) for i in range(8))
    return (pts.withColumn("z", z)
            .orderBy("z", "o_orderkey").limit(100))


# --------------------------------------------- period-over-period change

@register(
    "win_percent_change_yoy",
    oracle="""
    WITH rev AS (
      SELECT n.n_name AS nation,
             EXTRACT(year FROM o.o_orderdate) AS o_year,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS revenue
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n   ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    )
    SELECT nation, o_year,
           CAST(revenue AS DOUBLE) AS revenue,
           round((CAST(revenue AS DOUBLE)
                  - CAST(lag(revenue) OVER w AS DOUBLE))
                 / CAST(lag(revenue) OVER w AS DOUBLE) * 100, 4)
             AS pct_change
    FROM rev
    WINDOW w AS (PARTITION BY nation ORDER BY o_year)
    """)
def win_percent_change_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue change per nation — the
    period-over-period comparison every finance dashboard leads with.
    Aggregate FIRST (partial-aggregable decimal sums shrink the fact
    table to nation×year), THEN lag over that dim-sized frame — the
    window never sees fact rows. First year per nation yields a null
    change (no prior period), preserved on both engines."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (o.join(c, o.o_custkey == c.c_custkey)
           .join(n, F.col("c_nationkey") == n.n_nationkey)
           .groupBy(F.col("n_name").alias("nation"),
                    F.year("o_orderdate").alias("o_year"))
           .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .alias("rev")))
    w = Window.partitionBy("nation").orderBy("o_year")
    prev = F.lag("rev").over(w).cast("double")
    return rev.select(
        "nation", "o_year",
        F.col("rev").cast("double").alias("revenue"),
        F.round((F.col("rev").cast("double") - prev) / prev * 100, 4)
        .alias("pct_change"))


# ------------------------------------------------------- Benford audit

@register(
    "agg_benford_audit",
    oracle="""
    WITH d AS (
      SELECT substr(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
                         AS VARCHAR), 1, 1) AS digit
      FROM orders WHERE o_totalprice > 0
    ), c AS (
      SELECT digit, count(*) AS n FROM d GROUP BY digit
    ), t AS (SELECT sum(n) AS total FROM c)
    SELECT c.digit, c.n,
           round(CAST(c.n AS DOUBLE) / t.total, 6) AS observed_freq,
           round(log10(1.0 + 1.0 / CAST(c.digit AS INT)), 6)
             AS benford_freq
    FROM c, t
    """)
def agg_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the
    classic forensic screen for fabricated monetary data (synthetic
    uniform prices FAIL it, which the result makes visible by
    printing observed vs expected side by side).

    The leading digit comes from integer-cents STRING prefixing —
    never floor(log10(x)) arithmetic, whose last-ulp behavior at
    exact powers of ten differs across engines. One partial-agg
    shuffle over single-char keys; the one-row total joins back
    bounded."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    d = o.select(F.substring(cents.cast("string"), 1, 1).alias("digit"))
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").alias("total"))
    return (c.crossJoin(t)
            .select("digit", "n",
                    F.round(F.col("n").cast("double") / F.col("total"), 6)
                    .alias("observed_freq"),
                    F.round(F.log10(1.0 + 1.0 / F.col("digit").cast("int")),
                            6).alias("benford_freq")))


# ------------------------------------------------------------ geo joins

_WAREHOUSES = [(0, 52.37, 4.90), (1, 40.71, -74.01), (2, 35.68, 139.69),
               (3, -33.87, 151.21), (4, 1.35, 103.82)]


@register(
    "join_nearest_warehouse",
    oracle=f"""
    WITH cust AS (
      SELECT c_custkey,
             (('0x' || substr(md5('lat:' || CAST(c_custkey AS VARCHAR)),
                1, 15))::BIGINT % 140000) / 1000.0 - 70.0 AS lat,
             (('0x' || substr(md5('lon:' || CAST(c_custkey AS VARCHAR)),
                1, 15))::BIGINT % 360000) / 1000.0 - 180.0 AS lon
      FROM customer
    ), wh AS (
      SELECT * FROM (VALUES {", ".join(f"({i}, {la!r}, {lo!r})" for i, la, lo in _WAREHOUSES)})
        AS t(wid, wlat, wlon)
    ), scored AS (
      SELECT c.c_custkey, w.wid,
             round(2 * 6371.0 * asin(sqrt(
               pow(sin(radians(w.wlat - c.lat) / 2), 2)
               + cos(radians(c.lat)) * cos(radians(w.wlat))
                 * pow(sin(radians(w.wlon - c.lon) / 2), 2))), 3) AS km
      FROM cust c, wh w
    )
    SELECT c_custkey,
           min(struct_pack(km := km, wid := wid)).wid AS warehouse_id,
           min(struct_pack(km := km, wid := wid)).km AS km
    FROM scored GROUP BY c_custkey
    """)
def join_nearest_warehouse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo nearest-neighbor assignment: every customer (deterministic
    hash-synthesized coordinates) maps to its closest of five fixed
    warehouses by HAVERSINE distance — the fulfillment/routing join,
    and the geo family's entry in the registry. The warehouse side is
    constant-sized, so the plan is a broadcast cross of 5 rows + a
    struct-argmin: never a geo self-join. Trig runs on identical
    doubles in both engines; the 3-dp rounding before the argmin makes
    ties (and therefore the assignment) portable. At scale the same
    shape holds for thousands of sites (still broadcastable); beyond
    that, geohash/S2 cell pre-bucketing replaces the cross — the
    ``sink_zorder_layout`` interleave is exactly that cell key."""
    from pmc_conversion_spark.functions.dedup import md5_int60
    c = _t(spark, sf_dir, "customer")
    lat = (md5_int60(F.concat(F.lit("lat:"),
                              F.col("c_custkey").cast("string")))
           % 140000) / 1000.0 - 70.0
    lon = (md5_int60(F.concat(F.lit("lon:"),
                              F.col("c_custkey").cast("string")))
           % 360000) / 1000.0 - 180.0
    cust = c.select("c_custkey", lat.alias("lat"), lon.alias("lon"))
    from pmc_conversion_spark.util import local_df
    wh = local_df(spark, _WAREHOUSES, "wid int, wlat double, wlon double")
    km = F.round(2 * 6371.0 * F.asin(F.sqrt(
        F.pow(F.sin(F.radians(F.col("wlat") - F.col("lat")) / 2), 2)
        + F.cos(F.radians("lat")) * F.cos(F.radians("wlat"))
        * F.pow(F.sin(F.radians(F.col("wlon") - F.col("lon")) / 2), 2))), 3)
    scored = (cust.crossJoin(wh)
              .select("c_custkey",
                      F.struct(km.alias("km"),
                               F.col("wid").alias("wid")).alias("s")))
    return (scored.groupBy("c_custkey")
            .agg(F.min("s").alias("m"))
            .select("c_custkey", F.col("m.wid").alias("warehouse_id"),
                    F.col("m.km").alias("km")))


@register(
    "graph_bfs_distance",
    oracle=f"""
    WITH RECURSIVE {_EDGES_SQL.strip()},
    und AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
    seed AS (SELECT min(u) AS node FROM e),
    walk(node, dist) AS (
      SELECT node, 0 FROM seed
      UNION
      SELECT und.v, w.dist + 1
      FROM walk w JOIN und ON und.u = w.node
      WHERE w.dist < 4
    )
    SELECT node, CAST(min(dist) AS BIGINT) AS dist
    FROM walk GROUP BY node
    """)
def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS hop distance (≤4 hops) over the supplier
    co-order graph — the reachability primitive under fraud rings,
    dependency blast-radius, and k-hop feature extraution. Engine
    plan: frontier iteration — each round joins ONLY the newest
    frontier against the edge list and anti-joins already-settled
    nodes, so round r's shuffle is sized by frontier r, not the graph;
    lineage is truncated per round (localCheckpoint) exactly like the
    CC/PageRank loops. The oracle is a recursive CTE taking min(dist).
    """
    e = _co_order_edges(spark, sf_dir)
    und = (e.select("u", "v")
           .unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v"))))
    seed = e.agg(F.min("u").alias("node"))
    dist = seed.withColumn("dist", F.lit(0)).localCheckpoint()
    frontier = dist.select("node")
    for k in range(1, 5):
        nxt = (frontier.join(und, und.u == F.col("node"))
               .select(F.col("v").alias("node")).distinct()
               .join(dist.select("node"), "node", "left_anti")
               .withColumn("dist", F.lit(k)))
        dist = dist.unionByName(nxt).localCheckpoint()
        frontier = nxt.select("node")
    return dist.select("node", F.col("dist").cast("long").alias("dist"))


@register(
    "join_geo_grid_radius",
    oracle="""
    WITH pts AS (
      SELECT c_custkey AS id,
             c_custkey % 83 AS latc,
             c_custkey % 97 AS lonc
      FROM customer
    ), cells AS (
      SELECT id, latc, lonc,
             latc // 5 AS gr, lonc // 5 AS gc
      FROM pts
    ), expanded AS (
      SELECT id, latc, lonc, gr + dr AS gr, gc + dc AS gc
      FROM cells,
           unnest([-1, 0, 1]) AS t1(dr),
           unnest([-1, 0, 1]) AS t2(dc)
    )
    SELECT a.id AS id_a, b.id AS id_b,
           round(sqrt(CAST((a.latc - b.latc) * (a.latc - b.latc)
                 + (a.lonc - b.lonc) * (a.lonc - b.lonc) AS DOUBLE))
                 / 100.0, 6) AS dist
    FROM expanded a JOIN cells b ON a.gr = b.gr AND a.gc = b.gc
                                 AND a.id < b.id
    WHERE (a.latc - b.latc) * (a.latc - b.latc)
          + (a.lonc - b.lonc) * (a.lonc - b.lonc) <= 25
    GROUP BY 1, 2, 3
    """)
def join_geo_grid_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All point pairs within a radius via GRID-CELL blocking — the
    spatial self-join that must never be a cross join: each point
    registers in its own cell plus the 8 neighbors (one side only, so
    every nearby pair meets in exactly one probe direction), the join
    is an EQUI-join on the cell key, and the exact distance filter
    runs only inside matched cells. With cell size ≥ radius the result
    is complete; cost is Σ|cell|² over occupied cells instead of N².
    The geohash/S2 pattern, in INTEGER centi-degree units so the cell
    assignment and the radius test are exact on both engines (a float
    grid would put boundary points in different cells per engine —
    DuckDB evaluates 0.01-literals as exact decimals, Spark as
    doubles).

    No dedup pass (r9 opt): each qualifying pair is emitted by EXACTLY
    one join row — the right side registers in its single home cell,
    the left side's 9 probe cells are distinct, and ``a.id < b.id``
    kills the reverse direction — so the result is duplicate-free by
    construction and the old trailing ``.distinct()`` was a full
    result-sized shuffle + two hash aggregates deduping nothing
    (guide §2.1: remove the shuffle outright). Verified hash-exact
    vs the oracle at sf0.001/0.01/0.1."""
    c = tables.load(spark, sf_dir, "customer")
    pts = c.select(F.col("c_custkey").alias("id"),
                   (F.col("c_custkey") % 83).alias("latc"),
                   (F.col("c_custkey") % 97).alias("lonc"))
    cells = pts.select(
        "id", "latc", "lonc",
        F.floor(F.col("latc") / 5).cast("bigint").alias("gr"),
        F.floor(F.col("lonc") / 5).cast("bigint").alias("gc"))
    offs = [(dr, dc) for dr in (-1, 0, 1) for dc in (-1, 0, 1)]
    expanded = cells.select(
        "id", "latc", "lonc", F.explode(F.array(*[
            F.struct((F.col("gr") + dr).alias("gr"),
                     (F.col("gc") + dc).alias("gc"))
            for dr, dc in offs])).alias("cell")) \
        .select("id", "latc", "lonc", "cell.gr", "cell.gc")
    a, b = expanded.alias("a"), cells.alias("b")
    d2 = ((F.col("a.latc") - F.col("b.latc"))
          * (F.col("a.latc") - F.col("b.latc"))
          + (F.col("a.lonc") - F.col("b.lonc"))
          * (F.col("a.lonc") - F.col("b.lonc")))
    return (a.join(b, (F.col("a.gr") == F.col("b.gr"))
                   & (F.col("a.gc") == F.col("b.gc"))
                   & (F.col("a.id") < F.col("b.id")))
            .filter(d2 <= 25)
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"),
                    F.round(F.sqrt(d2.cast("double")) / 100.0, 6)
                    .alias("dist")))


def _lpa_iter_sql(prev: str, out: str) -> str:
    """One unrolled label-propagation round (DuckDB): each node takes
    the most frequent neighbor label, minimum label on frequency
    ties — the deterministic tie-break that makes LPA replayable."""
    return f"""
    {out} AS (
      SELECT node, min(lbl) AS lbl FROM (
        SELECT und.v AS node, p.lbl, count(*) AS c,
               max(count(*)) OVER (PARTITION BY und.v) AS mx
        FROM und JOIN {prev} p ON p.node = und.u
        GROUP BY und.v, p.lbl)
      WHERE c = mx GROUP BY node)
    """


@register(
    "graph_label_propagation",
    oracle=f"""
    WITH {_EDGES_SQL.strip()},
    und AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM und),
    {_lpa_iter_sql('l0', 'l1')},
    {_lpa_iter_sql('l1', 'l2')},
    {_lpa_iter_sql('l2', 'l3')}
    SELECT lbl AS community, count(*) AS n_members
    FROM l3 GROUP BY lbl
    """)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three synchronous label-propagation rounds over the supplier
    co-order graph — the near-linear community detector (Raghavan et
    al.) that complements PageRank (importance), triangle count
    (cohesion), BFS (reachability) and connected components (the
    degenerate LPA where any touch merges). Deterministic variant:
    every node starts as its own label and adopts the most frequent
    neighbor label with MIN-label tie-break, so rounds are replayable
    — asynchronous/random-order LPA would not oracle-check. Each round
    is one edge⨝label join + a (node,label) partial agg + an argmax
    per node expressed as max(struct(count, -label)) — no windows over
    unbounded frames; label state is |V|-sized and broadcast (doc-scale
    graphs swap the broadcast for a shuffle join on u, same body)."""
    e = _co_order_edges(spark, sf_dir)
    labels = _lpa3_labels(e)
    return (labels.groupBy(F.col("lbl").alias("community"))
            .agg(F.count(F.lit(1)).alias("n_members")))


def _lpa3_labels(e: DataFrame) -> DataFrame:
    """Three deterministic synchronous LPA rounds (the
    graph_label_propagation body) -> (node, lbl)."""
    und = (e.select("u", "v")
           .unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v"))))
    labels = und.select(F.col("u").alias("node")).distinct() \
        .select("node", F.col("node").alias("lbl"))
    for _ in range(3):
        state = labels.select(F.col("node").alias("u"), "lbl")
        cnt = (und.join(F.broadcast(state), "u")
               .groupBy(F.col("v").alias("node"), "lbl")
               .agg(F.count(F.lit(1)).alias("c")))
        # checkpoint the node-sized (node, lbl) state per round: each
        # round's broadcast-build job otherwise replays every prior
        # round's join+aggs (the graph_pagerank replay pattern) —
        # 1+2+3 round executions instead of 3
        labels = (cnt.groupBy("node")
                  .agg(F.max(F.struct(F.col("c"),
                                      (-F.col("lbl")).alias("nl"),
                                      F.col("lbl"))).alias("m"))
                  .select("node", F.col("m.lbl").alias("lbl"))
                  .localCheckpoint(eager=True))
    return labels


@register(
    "graph_modularity",
    oracle=f"""
    WITH {_EDGES_SQL.strip()},
    und AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM und),
    {_lpa_iter_sql('l0', 'l1')},
    {_lpa_iter_sql('l1', 'l2')},
    {_lpa_iter_sql('l2', 'l3')},
    m AS (SELECT count(*) AS m FROM e),
    within AS (
      SELECT count(*) AS lc FROM e
      JOIN l3 a ON a.node = e.u JOIN l3 b ON b.node = e.v
      WHERE a.lbl = b.lbl),
    deg AS (SELECT u AS node, count(*) AS d FROM und GROUP BY u),
    dc AS (SELECT lbl, CAST(sum(d) AS BIGINT) AS dc
           FROM deg JOIN l3 USING (node) GROUP BY lbl),
    dd AS (SELECT count(*) AS n_comm,
                  CAST(sum(CAST(dc AS DECIMAL(38,0)) * dc)
                       AS DECIMAL(38,0)) AS sum_dc2
           FROM dc)
    SELECT dd.n_comm AS n_communities,
           m.m AS n_edges,
           round(CAST(4 * m.m * within.lc - dd.sum_dc2 AS DOUBLE)
                 / CAST(4 * m.m * m.m AS DOUBLE), 6) AS modularity
    FROM m, within, dd
    """)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA communities — the number that says
    whether ``graph_label_propagation``'s partition is actually
    community-like (Q well above 0) or no better than random edge
    placement (Q ≈ 0): Q = Σ_c [L_c/m − (d_c/2m)²]. Assembled as ONE
    exact integer ratio (4m·ΣL_c − Σd_c²) / 4m², so no per-community
    float accumulation exists to order — the cross-engine-exact form
    of a sum over an unbounded community count.

    Plan: the 3-round LPA loop (shared body), then one edge⨝label⨝
    label semi-join for within-community edge count and one degree
    aggregate — label state broadcasts, fact-sized frames shuffle
    once each."""
    e = _co_order_edges(spark, sf_dir)
    lab = _lpa3_labels(e)  # final round is already checkpointed
    und = (e.select("u", "v")
           .unionAll(e.select(F.col("v").alias("u"),
                              F.col("u").alias("v"))))
    m = e.agg(F.count(F.lit(1)).alias("m"))
    la = lab.select(F.col("node").alias("u"), F.col("lbl").alias("la"))
    lb = lab.select(F.col("node").alias("v"), F.col("lbl").alias("lb"))
    within = (e.join(F.broadcast(la), "u").join(F.broadcast(lb), "v")
              .filter(F.col("la") == F.col("lb"))
              .agg(F.count(F.lit(1)).alias("lc")))
    deg = (und.groupBy(F.col("u").alias("node"))
           .agg(F.count(F.lit(1)).alias("d")))
    dc = (deg.join(F.broadcast(lab), "node")
          .groupBy("lbl").agg(F.sum("d").cast("bigint").alias("dc")))
    dd = dc.agg(F.count(F.lit(1)).alias("n_comm"),
                F.sum(F.col("dc").cast("decimal(38,0)") * F.col("dc"))
                .cast("decimal(38,0)").alias("sum_dc2"))
    return (m.crossJoin(within).crossJoin(dd)
            .select(F.col("n_comm").alias("n_communities"),
                    F.col("m").alias("n_edges"),
                    F.round((4 * F.col("m") * F.col("lc")
                             - F.col("sum_dc2")).cast("double")
                            / (4 * F.col("m") * F.col("m"))
                            .cast("double"), 6).alias("modularity")))


def _kcore_round_sql(prev: str, out: str, k: int) -> str:
    """One unrolled peeling round: drop every node whose CURRENT
    degree is below k, keep only edges between survivors.

    Every CTE is ``AS MATERIALIZED``: each round references ``prev``
    twice, and DuckDB's default CTE inlining therefore expands the
    6-round chain EXPONENTIALLY (~2^6 copies of the edge build — the
    gate's measured 89-93 s for this one oracle, r4 verdict task #6).
    Forcing one evaluation per round is semantically identical
    (verified value-equal) and runs in ~0.1 s."""
    return f"""
    d_{out} AS MATERIALIZED (
        SELECT u, count(*) AS d FROM {prev} GROUP BY u),
    k_{out} AS MATERIALIZED (SELECT u FROM d_{out} WHERE d >= {k}),
    {out} AS MATERIALIZED (SELECT e.u, e.v FROM {prev} e
              JOIN k_{out} a ON a.u = e.u
              JOIN k_{out} b ON b.u = e.v)
    """


@register(
    "graph_kcore",
    oracle=f"""
    WITH {_EDGES_SQL.strip()},
    r0 AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    {_kcore_round_sql('r0', 'r1', 3)},
    {_kcore_round_sql('r1', 'r2', 3)},
    {_kcore_round_sql('r2', 'r3', 3)},
    {_kcore_round_sql('r3', 'r4', 3)},
    {_kcore_round_sql('r4', 'r5', 3)},
    {_kcore_round_sql('r5', 'r6', 3)}
    SELECT u AS node, count(*) AS core_degree
    FROM r6 GROUP BY u
    """)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 3-core of the supplier co-order graph — iterative peeling
    (drop nodes with degree < 3, re-count, repeat) until fixpoint:
    the densest-region extractor used for community cores, spam-farm
    detection, and graph sparsification before expensive algorithms
    (triangle counting on the core only). Peeling is monotone, so
    each round is one degree aggregate + two semi-join-shaped edge
    filters (never a window), with per-round localCheckpoint lineage
    truncation like the CC loop; the engine VERIFIES convergence
    (round 6 == round 5 edge count) and raises otherwise, so the
    6-round unrolled oracle states the true fixpoint, not a
    truncation."""
    from pmc_conversion_spark.util import checkpoint_observed
    e = _co_order_edges(spark, sf_dir)
    und = (e.select("u", "v")
           .unionAll(e.select(F.col("v").alias("u"),
                              F.col("u").alias("v"))))
    # per-round edge count rides the checkpoint job as an observe
    # metric instead of a separate count action (guide §1.2)
    cur, m = checkpoint_observed(und, n=F.count(F.lit(1)))
    prev_edges = m["n"]
    for rnd in range(6):
        deg = cur.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.filter(F.col("d") >= 3).select("u")
        cur, m = checkpoint_observed(
            cur.join(F.broadcast(keep), "u")
            .join(F.broadcast(keep.select(F.col("u").alias("v"))), "v")
            .select("u", "v"), n=F.count(F.lit(1)))
        n_edges = m["n"]
        if rnd >= 4 and n_edges == prev_edges:
            break
        prev_edges = n_edges
    final = cur.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    if final.filter(F.col("d") < 3).count() > 0:
        raise AssertionError("3-core peeling did not converge in 6 rounds")
    return final.select(F.col("u").alias("node"),
                        F.col("d").alias("core_degree"))


@register(
    "graph_link_prediction",
    oracle="""
    WITH el AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s
                FROM lineitem),
    pc AS (SELECT a.s AS u, b.s AS v, count(*) AS c
           FROM el a JOIN el b ON a.o = b.o AND a.s < b.s
           GROUP BY 1, 2),
    thr AS (SELECT quantile_cont(c, 0.9) AS t FROM pc),
    e AS (SELECT u, v FROM pc, thr WHERE c >= thr.t),
    und AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    deg AS (SELECT u, count(*) AS d FROM und GROUP BY u),
    cn AS (
      SELECT a.u AS a, b.u AS b, count(*) AS common
      FROM und a JOIN und b ON b.v = a.v AND a.u < b.u
      GROUP BY 1, 2
    ),
    nonadj AS (
      SELECT c.a, c.b, c.common FROM cn c
      WHERE NOT EXISTS (SELECT 1 FROM e
                        WHERE e.u = c.a AND e.v = c.b)
    )
    SELECT n.a AS u, n.b AS v,
           CAST(n.common AS BIGINT) AS common_neighbors,
           round(CAST(n.common AS DOUBLE)
                 / (da.d + db.d - n.common), 6) AS jaccard
    FROM nonadj n JOIN deg da ON da.u = n.a
                  JOIN deg db ON db.u = n.b
    ORDER BY jaccard DESC, common_neighbors DESC, u, v LIMIT 20
    """)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighborhood Jaccard — the top NON-adjacent
    supplier pairs ranked by |Γ(a)∩Γ(b)| / |Γ(a)∪Γ(b)| — the
    recommender/graph-completion primitive ('suppliers that should be
    co-ordered but aren't yet'), and the graph twin of set-based
    dedup similarity. The edge set here is the TOP-DECILE co-order
    pairs (exact p90 of pair counts, Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``) rather than the fixed _EDGE_MIN_ORDERS cut:
    link prediction needs ABSENT edges to predict, and the fixed cut
    leaves the small-SF fixture complete. Common neighbors come from
    ONE wedge equi-join on the shared-neighbor key (same bounded
    shape as graph_triangle_count — never all pairs: only pairs
    within two hops are ever materialized); existing edges drop via a
    broadcast anti-join; degrees broadcast back for the union size.
    Top-20 is a distributed TakeOrdered over the candidate frame with
    a full deterministic tie-break."""
    el = (_t(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_suppkey").distinct())
    a0 = el.select(F.col("l_orderkey").alias("o"),
                   F.col("l_suppkey").alias("u"))
    b0 = el.select(F.col("l_orderkey").alias("o"),
                   F.col("l_suppkey").alias("v"))
    pc = (a0.join(b0, "o")
          .filter(F.col("u") < F.col("v"))
          .groupBy("u", "v").agg(F.count(F.lit(1)).alias("c")))
    thr = pc.agg(F.expr("percentile(c, 0.9)").alias("t"))
    e = (pc.crossJoin(F.broadcast(thr))
         .filter(F.col("c") >= F.col("t"))
         .select("u", "v")
         .localCheckpoint(eager=True))
    und = (e.select("u", "v")
           .unionAll(e.select(F.col("v").alias("u"),
                              F.col("u").alias("v"))))
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    n1 = und.select(F.col("u").alias("a"), F.col("v").alias("w"))
    n2 = und.select(F.col("u").alias("b"), F.col("v").alias("w"))
    cn = (n1.join(n2, "w")
          .filter(F.col("a") < F.col("b"))
          .groupBy("a", "b").agg(F.count(F.lit(1)).alias("common")))
    nonadj = cn.join(
        F.broadcast(e.select(F.col("u").alias("a"),
                             F.col("v").alias("b"))),
        ["a", "b"], "left_anti")
    da = deg.select(F.col("u").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("u").alias("b"), F.col("d").alias("db"))
    scored = (nonadj.join(F.broadcast(da), "a")
              .join(F.broadcast(db), "b")
              .select(F.col("a").alias("u"), F.col("b").alias("v"),
                      F.col("common").cast("bigint")
                      .alias("common_neighbors"),
                      F.round(F.col("common").cast("double")
                              / (F.col("da") + F.col("db")
                                 - F.col("common")), 6)
                      .alias("jaccard")))
    return scored.orderBy(F.col("jaccard").desc(),
                          F.col("common_neighbors").desc(),
                          "u", "v").limit(20)


@register(
    "graph_degree_assortativity",
    oracle="""
    WITH el AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s
                FROM lineitem),
    pc AS (SELECT a.s AS u, b.s AS v, count(*) AS c
           FROM el a JOIN el b ON a.o = b.o AND a.s < b.s
           GROUP BY 1, 2),
    thr AS (SELECT quantile_cont(c, 0.9) AS t FROM pc),
    e AS (SELECT u, v FROM pc, thr WHERE c >= thr.t),
    und AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    deg AS (SELECT u, count(*) AS d FROM und GROUP BY u),
    ed AS (
      SELECT da.d AS x, db.d AS y
      FROM und JOIN deg da ON da.u = und.u
               JOIN deg db ON db.u = und.v
    ),
    s AS (
      SELECT count(*) AS m,
             sum(CAST(x AS DECIMAL(38,0))) AS sx,
             sum(CAST(y AS DECIMAL(38,0))) AS sy,
             sum(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
             sum(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
             sum(CAST(y AS DECIMAL(38,0)) * y) AS syy
      FROM ed
    )
    SELECT CAST(m // 2 AS BIGINT) AS n_edges,
           round((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (sqrt(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * sqrt(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                 6) AS assortativity
    FROM s
    """)
def graph_degree_assortativity(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman's r) of the supplier co-order
    graph — the Pearson correlation of endpoint degrees across
    directed edge stubs: positive = hubs partner with hubs
    (assortative supply webs), negative = hub-and-spoke. The one
    number that says whether the graph will shatter or hold under
    hub removal — a triage input before expensive community or
    robustness analysis. All five moments are EXACT decimal sums of
    integer degree products over the stub list (both edge directions,
    the standard stub formulation); one double expression at the
    boundary. Degrees broadcast back to the edge list — two
    dim-sized joins, one partial-agg pass. Edges are the top-decile
    co-order pairs (like graph_link_prediction): the fixed-cut graph
    is COMPLETE at small SF, where every degree is equal and r is
    undefined (zero variance)."""
    el = (_t(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_suppkey").distinct())
    a0 = el.select(F.col("l_orderkey").alias("o"),
                   F.col("l_suppkey").alias("u"))
    b0 = el.select(F.col("l_orderkey").alias("o"),
                   F.col("l_suppkey").alias("v"))
    pc = (a0.join(b0, "o")
          .filter(F.col("u") < F.col("v"))
          .groupBy("u", "v").agg(F.count(F.lit(1)).alias("c")))
    thr = pc.agg(F.expr("percentile(c, 0.9)").alias("t"))
    e = (pc.crossJoin(F.broadcast(thr))
         .filter(F.col("c") >= F.col("t"))
         .select("u", "v")
         .localCheckpoint(eager=True))
    und = (e.select("u", "v")
           .unionAll(e.select(F.col("v").alias("u"),
                              F.col("u").alias("v"))))
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    da = deg.select(F.col("u").alias("u"), F.col("d").alias("x"))
    db = deg.select(F.col("u").alias("v"), F.col("d").alias("y"))
    ed = und.join(F.broadcast(da), "u").join(F.broadcast(db), "v")

    def dec(c):
        return F.col(c).cast("decimal(38,0)")

    s = ed.agg(F.count(F.lit(1)).alias("m"),
               F.sum(dec("x")).alias("sx"),
               F.sum(dec("y")).alias("sy"),
               F.sum(dec("x") * F.col("y")).alias("sxy"),
               F.sum(dec("x") * F.col("x")).alias("sxx"),
               F.sum(dec("y") * F.col("y")).alias("syy"))
    md = F.col("m").cast("double")
    num = md * F.col("sxy").cast("double") \
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    den = (F.sqrt(md * F.col("sxx").cast("double")
                  - F.col("sx").cast("double") ** 2)
           * F.sqrt(md * F.col("syy").cast("double")
                    - F.col("sy").cast("double") ** 2))
    return s.select(
        F.expr("CAST(m div 2 AS BIGINT)").alias("n_edges"),
        F.round(num / den, 6).alias("assortativity"))


@register(
    "join_record_linkage_fs",
    oracle="""
    WITH pairs AS (
      SELECT c.c_custkey, s.s_suppkey,
             CASE WHEN floor(c.c_acctbal / 1000.0)
                       = floor(s.s_acctbal / 1000.0)
                  THEN 1 ELSE 0 END AS a_band,
             CASE WHEN (c.c_acctbal >= 0) = (s.s_acctbal >= 0)
                  THEN 1 ELSE 0 END AS a_sign,
             CASE WHEN c.c_custkey % 97 = s.s_suppkey % 97
                  THEN 1 ELSE 0 END AS a_key
      FROM customer c JOIN supplier s
        ON s.s_nationkey = c.c_nationkey
    ),
    u AS (
      SELECT avg(a_band) AS u1, avg(a_sign) AS u2, avg(a_key) AS u3
      FROM pairs
    ),
    w AS (
      SELECT
        (CASE WHEN a_band = 1 THEN log2(0.95 / u1)
              ELSE log2(0.05 / (1 - u1)) END)
        + (CASE WHEN a_sign = 1 THEN log2(0.9 / u2)
                ELSE log2(0.1 / (1 - u2)) END)
        + (CASE WHEN a_key = 1 THEN log2(0.85 / u3)
                ELSE log2(0.15 / (1 - u3)) END) AS wt
      FROM pairs, u
    )
    SELECT CAST(floor(wt) AS BIGINT) AS weight_band,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(wt), 6) AS avg_weight
    FROM w GROUP BY 1
    """)
def join_record_linkage_fs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FELLEGI–SUNTER probabilistic record linkage — the 1969
    framework behind Splink/dedupe.io: candidate pairs from BLOCKING
    (equi-join on nation, never a cross join), an agreement VECTOR
    per pair (balance band, balance sign, key residue), and a match
    weight Σᵢ log₂(mᵢ/uᵢ) on agreement vs log₂((1−mᵢ)/(1−uᵢ)) on
    disagreement. The u-probabilities (chance agreement among
    non-matches) are ESTIMATED FROM THE DATA as the observed
    agreement rates over all blocked pairs — one partial-agg pass,
    broadcast back as a 1-row frame — while m is the usual fixed
    prior. Output is the weight-band histogram a linkage analyst
    thresholds on. At 100 TB the plan is: blocked equi-join (the
    standard linkage scale move; block key cardinality controls the
    fan-out), one scalar agg, one broadcast, partial-agg histogram —
    no global sort, no quadratic beyond the block. Weight algebra is
    identical IEEE on both engines (log2 of exact count ratios);
    band boundaries are log2 sums that never land on exact
    integers."""
    c = tables.load(spark, sf_dir, "customer")
    s = tables.load(spark, sf_dir, "supplier")
    pairs = (c.join(s,
                    s.s_nationkey == c.c_nationkey)
             .select(
                 F.when(F.floor(F.col("c_acctbal") / 1000.0)
                        == F.floor(F.col("s_acctbal") / 1000.0), 1)
                 .otherwise(0).alias("a_band"),
                 F.when((F.col("c_acctbal") >= 0)
                        == (F.col("s_acctbal") >= 0), 1)
                 .otherwise(0).alias("a_sign"),
                 F.when(F.col("c_custkey") % 97
                        == F.col("s_suppkey") % 97, 1)
                 .otherwise(0).alias("a_key")))
    u = pairs.agg(F.avg("a_band").alias("u1"),
                  F.avg("a_sign").alias("u2"),
                  F.avg("a_key").alias("u3"))
    wt = (F.when(F.col("a_band") == 1,
                 F.log2(0.95 / F.col("u1")))
          .otherwise(F.log2(0.05 / (1 - F.col("u1"))))
          + F.when(F.col("a_sign") == 1, F.log2(0.9 / F.col("u2")))
          .otherwise(F.log2(0.1 / (1 - F.col("u2"))))
          + F.when(F.col("a_key") == 1, F.log2(0.85 / F.col("u3")))
          .otherwise(F.log2(0.15 / (1 - F.col("u3")))))
    w = pairs.crossJoin(u).select(wt.alias("wt"))
    return (w.groupBy(F.floor("wt").cast("bigint").alias("weight_band"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
                 F.round(F.avg("wt"), 6).alias("avg_weight")))


def _hits_iter_sql(prev_h: str, prev_a: str, h_out: str, a_out: str) -> str:
    """One HITS iteration (auth from hubs, then hubs from NEW auth),
    L1-normalized, all sums over DECIMAL(28,12) rounded contributions
    (the pagerank bit-identical policy)."""
    return f"""
    {a_out}_raw AS (
      SELECT g.s AS node,
             sum(round(h.score, 12)::DECIMAL(28,12)) AS raw
      FROM g JOIN {prev_h} h ON h.node = g.c GROUP BY g.s
    ),
    {a_out} AS (
      SELECT node,
             round(raw::DOUBLE / (SELECT sum(raw)::DOUBLE
                                  FROM {a_out}_raw), 12) AS score
      FROM {a_out}_raw
    ),
    {h_out}_raw AS (
      SELECT g.c AS node,
             sum(round(a.score, 12)::DECIMAL(28,12)) AS raw
      FROM g JOIN {a_out} a ON a.node = g.s GROUP BY g.c
    ),
    {h_out} AS (
      SELECT node,
             round(raw::DOUBLE / (SELECT sum(raw)::DOUBLE
                                  FROM {h_out}_raw), 12) AS score
      FROM {h_out}_raw
    )"""


@register(
    "graph_hits",
    oracle=f"""
    WITH g AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    h0 AS (SELECT DISTINCT c AS node, 1.0::DOUBLE AS score FROM g),
    {_hits_iter_sql('h0', 'a0', 'h1', 'a1').strip()},
    {_hits_iter_sql('h1', 'a1', 'h2', 'a2').strip()}
    SELECT 'hub' AS role, node, round(score * 1000, 6) AS score_x1000
    FROM h2 WHERE round(score * 1000, 6) >= 1.2
    UNION ALL
    SELECT 'authority', node, round(score * 1000, 6)
    FROM a2 WHERE round(score * 1000, 6) >= 1.2
    """)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg's hubs-and-authorities) on the DIRECTED
    customer→supplier purchase graph — the two-sided eigenvector
    ranking PageRank can't give: hub scores rank customers whose
    baskets span the important suppliers, authority scores rank
    suppliers bought by the important customers, each defined in
    terms of the other. Two mutual-reinforcement iterations, each one
    edge⨝score join + a partial-agg groupBy per side, with L1
    normalization via a 1-row broadcast scalar — the same
    Pregel-free DataFrame shape as graph_pagerank, and the same
    DECIMAL(28,12) rounded-contribution policy so both engines sum
    bit-identically in any partition order. The ≥1.2‰ emission
    threshold bounds the report to the interesting head. At 100 TB
    the score frames shuffle-join on node id instead of
    broadcasting; the iteration body is unchanged."""
    o = tables.load(spark, sf_dir, "orders")
    li = tables.load(spark, sf_dir, "lineitem")
    # r9 optimization (guide §1.2 step 1 / §5): the orders⨝lineitem
    # distinct used to be re-derived by EVERY broadcast-build job in
    # the 4 l1_steps, and each step's score lineage compounded — the
    # before-plan (plans/r09/graph_hits_before.txt) is 536 Exchanges /
    # 1078 operators of pure replay. Checkpointing the edge list and
    # each step's node-sized raw frame makes every job's plan one step
    # deep; the L1 total becomes a bounded 1-row collect folded in as
    # a literal (same double, same division) instead of a per-step
    # broadcast job that replayed the whole prefix.
    g = (o.join(li, li.l_orderkey == o.o_orderkey)
         .select(F.col("o_custkey").alias("c"),
                 F.col("l_suppkey").alias("s"))
         .distinct()
         .localCheckpoint(eager=True))
    h = g.select("c").distinct().select(
        F.col("c").alias("node"), F.lit(1.0).alias("score"))

    def l1_step(edges, scores, src, dst):
        raw = (edges.join(F.broadcast(
                   scores.select(F.col("node").alias(src), "score")), src)
               .select(F.col(dst).alias("node"),
                       F.round("score", 12).cast("decimal(28,12)")
                       .alias("c"))
               .groupBy("node").agg(F.sum("c").alias("raw"))
               .localCheckpoint(eager=True))
        t = raw.agg(F.sum("raw").cast("double").alias("t")).first()["t"]
        return raw.select("node",
                          F.round(F.col("raw").cast("double")
                                  / F.lit(t), 12).alias("score"))

    for _ in range(2):
        a = l1_step(g, h, "c", "s")
        h = l1_step(g, a, "s", "c")
    out_h = h.select(F.lit("hub").alias("role"), "node",
                     F.round(F.col("score") * 1000, 6)
                     .alias("score_x1000"))
    out_a = a.select(F.lit("authority").alias("role"), "node",
                     F.round(F.col("score") * 1000, 6)
                     .alias("score_x1000"))
    return (out_h.unionByName(out_a)
            .filter(F.col("score_x1000") >= 1.2))


_GH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


@register(
    "f_geohash_encode",
    oracle=f"""
    WITH pts AS (
      SELECT c_custkey AS id,
             ((c_custkey % 160) - 79.5) * 0.01 AS lat,
             ((c_custkey % 350) - 174.5) * 0.01 AS lon
      FROM customer
    ),
    q AS (
      SELECT id, lat, lon,
             CAST(floor((lat + 90.0) / 180.0 * 1073741824.0) AS BIGINT)
               AS lat30,
             CAST(floor((lon + 180.0) / 360.0 * 1073741824.0) AS BIGINT)
               AS lon30
      FROM pts
    ),
    bits AS (
      SELECT id, lat, lon,
             list_reduce(list_transform(range(30), i ->
               2 * ((lon30 // (1::BIGINT << (29 - i))) % 2)
               + ((lat30 // (1::BIGINT << (29 - i))) % 2)),
               (acc, d) -> acc * 4 + d) AS b
      FROM q
    ),
    gh AS (
      SELECT id, lat, lon,
             list_reduce(list_transform(range(12), j ->
               substr('{_GH32}',
                      CAST((b // (1::BIGINT << (60 - 5 * (j + 1)))) % 32
                           AS INT) + 1, 1)),
               (acc, ch) -> acc || ch) AS geohash12
      FROM bits
    )
    SELECT substr(geohash12, 1, 5) AS cell5,
           CAST(count(*) AS BIGINT) AS n_points,
           min(geohash12) AS sample_hash
    FROM gh GROUP BY 1
    """)
def f_geohash_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEOHASH encoding as PURE COLUMN ALGEBRA — no geo library: the
    classic bisection loop is algebraically just the binary expansion
    of the quantized coordinates (bit i of floor((lat+90)/180·2³⁰)),
    so the 60-bit interleave is one higher-order fold with a SCALAR
    integer accumulator (acc·4 + 2·lonbit + latbit — scalar on
    purpose: DuckDB's list_reduce struct-accumulator aliasing bug,
    see ts_holt_forecast) and the base32 render is a second 12-step
    fold over the alphabet. Everything is exact integer arithmetic —
    bit-identical across engines with no float-boundary cell flips
    (the hazard join_geo_grid_radius's docstring warns about). The
    report groups by the 5-char prefix — the standard 'bucket points
    into ~5 km cells' move that turns spatial joins into equi-joins
    at 100 TB; encode is map-only, the rollup partial-agg."""
    c = tables.load(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        (((F.col("c_custkey") % 160) - 79.5) * 0.01).alias("lat"),
        (((F.col("c_custkey") % 350) - 174.5) * 0.01).alias("lon"))
    q = pts.select(
        "id", "lat", "lon",
        F.floor((F.col("lat") + 90.0) / 180.0 * 1073741824.0)
        .cast("bigint").alias("lat30"),
        F.floor((F.col("lon") + 180.0) / 360.0 * 1073741824.0)
        .cast("bigint").alias("lon30"))
    bits = q.withColumn("b", F.expr(
        "aggregate(transform(sequence(0, 29), i -> "
        "2 * ((lon30 div (shiftleft(1L, 29 - i))) % 2) "
        "+ ((lat30 div (shiftleft(1L, 29 - i))) % 2)), "
        "0L, (acc, d) -> acc * 4 + d)"))
    gh = bits.withColumn("geohash12", F.expr(
        f"aggregate(transform(sequence(1, 12), j -> "
        f"substring('{_GH32}', "
        f"cast((b div (shiftleft(1L, 60 - 5 * j))) % 32 as int) + 1, 1)), "
        f"'', (acc, ch) -> acc || ch)"))
    return (gh.groupBy(F.substring("geohash12", 1, 5).alias("cell5"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_points"),
                 F.min("geohash12").alias("sample_hash")))


@register(
    "graph_clustering_coefficient",
    oracle=f"""
    WITH {_EDGES_SQL.strip()},
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1 JOIN e e2 ON e1.v = e2.u
                JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
    corner AS (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri),
    tcnt AS (SELECT node, count(*) AS tri FROM corner GROUP BY node),
    deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT u AS node FROM e UNION ALL SELECT v FROM e)
      GROUP BY node)
    SELECT deg.node, CAST(deg.d AS BIGINT) AS degree,
           CAST(coalesce(tcnt.tri, 0) AS BIGINT) AS n_triangles,
           round(2.0 * coalesce(tcnt.tri, 0)
                 / (deg.d * (deg.d - 1)), 6) AS local_cc
    FROM deg LEFT JOIN tcnt USING (node)
    WHERE deg.d >= 2
    """)
def graph_clustering_coefficient(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """LOCAL CLUSTERING COEFFICIENT per node of the supplier co-order
    graph: cc(v) = 2*tri(v) / (deg(v)*(deg(v)-1)) — how close each
    node's neighborhood is to a clique, the standard small-world /
    community signal ``graph_triangle_count`` only reports globally.
    The engine enumerates each triangle ONCE via the same
    degree-ordered wedge join as the global count (O(m^1.5) bound,
    hub-safe), then credits all THREE corners with one explode —
    per-node counts are a partial-aggregable groupBy, never a
    per-node neighborhood materialization. Degrees broadcast (|V| is
    dim-table scale). The oracle restates corners from the naive
    id-oriented triple join — different orientation, same multiset
    of corners."""
    e = _co_order_edges(spark, sf_dir)
    deg = (e.select(F.col("u").alias("n"))
           .unionAll(e.select(F.col("v").alias("n")))
           .groupBy("n").agg(F.count(F.lit(1)).alias("d")))
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    keyed = (e.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
             .select(
                 F.when((F.col("du") < F.col("dv"))
                        | ((F.col("du") == F.col("dv"))
                           & (F.col("u") < F.col("v"))),
                        F.struct(F.col("u").alias("src"),
                                 F.col("v").alias("dst")))
                 .otherwise(F.struct(F.col("v").alias("src"),
                                     F.col("u").alias("dst")))
                 .alias("o"))
             .select("o.src", "o.dst")
             # consumed by all three wedge roles (e1/e2/e3): without
             # the cut the degree-orientation joins replay per role
             # (r9, guide §5)
             .localCheckpoint(eager=True))
    e1 = keyed.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = keyed.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = keyed.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    # the triangle list feeds three corner projections — checkpoint so
    # the wedge join runs once, not three times (r9, guide §5)
    tri = (e1.join(e2, "b").join(e3, ["a", "c"])
           .localCheckpoint(eager=True))
    corners = (tri.select(F.col("a").alias("node"))
               .unionAll(tri.select(F.col("b").alias("node")))
               .unionAll(tri.select(F.col("c").alias("node"))))
    tcnt = corners.groupBy("node").agg(F.count(F.lit(1)).alias("tri"))
    return (deg.filter(F.col("d") >= 2)
            .select(F.col("n").alias("node"), "d")
            .join(tcnt, "node", "left")
            .select("node",
                    F.col("d").cast("bigint").alias("degree"),
                    F.coalesce(F.col("tri"), F.lit(0)).cast("bigint")
                    .alias("n_triangles"),
                    F.round(F.lit(2.0) * F.coalesce(F.col("tri"), F.lit(0))
                            / (F.col("d") * (F.col("d") - 1)), 6)
                    .alias("local_cc")))


@register(
    "graph_adamic_adar",
    oracle="""
    WITH el AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s
                FROM lineitem),
    pc AS (SELECT a.s AS u, b.s AS v, count(*) AS c
           FROM el a JOIN el b ON a.o = b.o AND a.s < b.s
           GROUP BY 1, 2),
    thr AS (SELECT quantile_cont(c, 0.9) AS t FROM pc),
    e AS (SELECT u, v FROM pc, thr WHERE c >= thr.t),
    und AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    deg AS (SELECT u, count(*) AS d FROM und GROUP BY u),
    aa AS (
      SELECT a.u AS a, b.u AS b,
             count(*) AS common,
             sum(floor(1048576.0 / ln(dw.d) + 0.5) / 1048576) AS score
      FROM und a
      JOIN und b ON b.v = a.v AND a.u < b.u
      JOIN deg dw ON dw.u = a.v
      GROUP BY 1, 2),
    nonadj AS (
      SELECT a, b, common, score FROM aa c
      WHERE NOT EXISTS (SELECT 1 FROM e
                        WHERE e.u = c.a AND e.v = c.b))
    SELECT a AS u, b AS v,
           CAST(common AS BIGINT) AS common_neighbors,
           round(score, 6) AS adamic_adar
    FROM nonadj
    ORDER BY score DESC, common DESC, u, v LIMIT 20
    """)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADAMIC-ADAR link prediction on the co-order supplier graph --
    the refinement of plain common-neighbor/Jaccard scoring
    (graph_link_prediction): each shared neighbor w contributes
    1/ln(deg(w)), so a promiscuous hub vouches for almost nothing
    while a rare shared partner counts heavily. Same top-decile edge
    construction; the score's per-neighbor terms are quantized to the
    binary 2^-20 grid (floor(x*2^20+0.5)/2^20, exact division), which
    makes the SUM over common neighbors order-independent and
    engine-identical -- the top-20 ordering is then fully
    deterministic (score, count, pair), no double-tie ambiguity.
    Every common neighbor has degree >= 2 by construction, so
    ln(deg) is always positive."""
    li = tables.load(spark, sf_dir, "lineitem")
    el = (li.select(F.col("l_orderkey").alias("o"),
                    F.col("l_suppkey").alias("s")).distinct())
    a_, b_ = el.alias("a"), el.alias("b")
    pc = (a_.join(b_, (F.col("a.o") == F.col("b.o"))
                  & (F.col("a.s") < F.col("b.s")))
          .select(F.col("a.s").alias("u"), F.col("b.s").alias("v"))
          .groupBy("u", "v").agg(F.count(F.lit(1)).alias("c")))
    thr = pc.agg(F.expr("percentile(c, 0.9)").alias("t"))
    e = (pc.crossJoin(F.broadcast(thr))
         .filter(F.col("c") >= F.col("t"))
         .select("u", "v")
         .localCheckpoint(eager=True))
    und = (e.select("u", "v")
           .unionAll(e.select(F.col("v").alias("u"),
                              F.col("u").alias("v"))))
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    n1 = und.select(F.col("u").alias("a"), F.col("v").alias("w"))
    n2 = und.select(F.col("u").alias("b"), F.col("v").alias("w"))
    dw = deg.select(F.col("u").alias("w"),
                    (F.floor(F.lit(1048576.0)
                             / F.log(F.col("d").cast("double")) + 0.5)
                     / 1048576).alias("term"))
    aa = (n1.join(n2, "w")
          .filter(F.col("a") < F.col("b"))
          .join(F.broadcast(dw), "w")
          .groupBy("a", "b")
          .agg(F.count(F.lit(1)).alias("common"),
               F.sum("term").alias("score")))
    nonadj = aa.join(
        F.broadcast(e.select(F.col("u").alias("a"),
                             F.col("v").alias("b"))),
        ["a", "b"], "left_anti")
    return (nonadj
            .orderBy(F.desc("score"), F.desc("common"), "a", "b")
            .limit(20)
            .select(
                F.col("a").alias("u"), F.col("b").alias("v"),
                F.col("common").cast("bigint")
                .alias("common_neighbors"),
                F.round(F.col("score"), 6).alias("adamic_adar")))


@register(
    "graph_rich_club",
    oracle=f"""
    WITH {_EDGES_SQL.strip()},
    deg AS (
      SELECT n, count(*) AS d FROM (
        SELECT u AS n FROM e UNION ALL SELECT v FROM e)
      GROUP BY 1),
    ks AS (SELECT unnest([2, 4, 6, 8]) AS k),
    rich AS (
      SELECT ks.k, deg.n FROM ks JOIN deg ON deg.d > ks.k),
    nk AS (SELECT k, count(*) AS n_rich FROM rich GROUP BY 1),
    ek AS (
      SELECT r1.k, count(*) AS e_rich
      FROM e JOIN rich r1 ON e.u = r1.n
             JOIN rich r2 ON e.v = r2.n AND r2.k = r1.k
      GROUP BY 1)
    SELECT ks.k,
           CAST(coalesce(nk.n_rich, 0) AS BIGINT) AS n_rich,
           CAST(coalesce(ek.e_rich, 0) AS BIGINT) AS e_rich,
           round(CASE WHEN coalesce(nk.n_rich, 0) >= 2
                 THEN 2.0 * coalesce(ek.e_rich, 0)
                      / (CAST(nk.n_rich AS DOUBLE) * (nk.n_rich - 1))
                 ELSE 0.0 END, 6) AS phi
    FROM ks LEFT JOIN nk ON nk.k = ks.k LEFT JOIN ek ON ek.k = ks.k
    """)
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RICH-CLUB COEFFICIENT profile phi(k) of the supplier co-order
    graph: among nodes of degree > k, the realized fraction of
    possible edges -- rising phi(k) means the hubs form a densely
    interconnected CORE (supply-chain oligopoly; in an infrastructure
    graph, a resilience risk: the core is a correlated failure
    domain). Degree is one edge-list aggregate; each k-level is a
    semi-join of the edge list against the rich set on BOTH
    endpoints; the four k levels share one degree frame. All counts
    exact. Scale: edges shuffle by endpoint key twice (u then v);
    the rich sets are degree-filtered and small, so both joins
    broadcast at any corpus size."""
    e = _co_order_edges(spark, sf_dir)
    deg = (e.select(F.col("u").alias("n"))
           .unionAll(e.select(F.col("v").alias("n")))
           .groupBy("n").agg(F.count(F.lit(1)).alias("d")))
    from pmc_conversion_spark.util import local_df
    ks = local_df(spark, [(2,), (4,), (6,), (8,)], "k int")
    rich = ks.join(deg, deg.d > ks.k).select("k", "n")
    nk = rich.groupBy("k").agg(F.count(F.lit(1)).alias("n_rich"))
    r1 = rich.select(F.col("k"), F.col("n").alias("u"))
    r2 = rich.select(F.col("k").alias("k2"), F.col("n").alias("v2"))
    ek = (e.join(F.broadcast(r1), "u")
          .join(F.broadcast(r2),
                (F.col("v") == F.col("v2")) & (F.col("k") == F.col("k2")))
          .groupBy("k").agg(F.count(F.lit(1)).alias("e_rich")))
    out = (ks.join(nk, "k", "left").join(ek, "k", "left")
           .select(
               "k",
               F.coalesce("n_rich", F.lit(0)).cast("bigint")
               .alias("n_rich"),
               F.coalesce("e_rich", F.lit(0)).cast("bigint")
               .alias("e_rich")))
    phi = F.when(
        F.col("n_rich") >= 2,
        F.round(2.0 * F.col("e_rich")
                / (F.col("n_rich").cast("double")
                   * (F.col("n_rich") - 1)), 6)).otherwise(0.0)
    return out.select("k", "n_rich", "e_rich", phi.alias("phi"))


_EIG_ROUNDS = 10


def _eigc_round_sql(r: int) -> str:
    return f"""
    w{r} AS (
      SELECT und.u AS node, round(sum(v.val), 12) AS w
      FROM und JOIN v{r - 1} v ON v.node = und.v
      GROUP BY 1),
    m{r} AS (SELECT max(w) AS m FROM w{r}),
    v{r} AS (SELECT node, w / m{r}.m AS val FROM w{r}, m{r})"""


@register(
    "graph_eigencentrality_power",
    oracle=f"""
    WITH {_EDGES_SQL.strip()},
    und AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    v0 AS MATERIALIZED (
      SELECT DISTINCT u AS node, 1.0::DOUBLE AS val FROM und),
    {",".join(_eigc_round_sql(r) for r in range(1, _EIG_ROUNDS + 1))}
    SELECT node, round(val, 6) AS eigencentrality
    FROM v{_EIG_ROUNDS}
    """)
def graph_eigencentrality_power(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """EIGENVECTOR CENTRALITY of the supplier co-order graph by 10
    unrolled POWER-METHOD rounds with sup-norm scaling: v <- Av /
    max(Av). Unlike degree (edge count) or PageRank (random-surfer
    with teleport), eigencentrality weights a node by the centrality
    OF ITS NEIGHBORS recursively -- the 'connected to important
    suppliers' score. Each round is matvec-as-relational-algebra:
    one edge join + per-node partial aggregate (the identical
    distributed shape as `graph_pagerank`'s iteration body, which is
    why the power method IS the scalable eigensolver: no matrix is
    ever materialized). Per-round sums round to 12dp before the
    sup-norm division (the pagerank discipline), so both engines
    iterate identical doubles regardless of partial-agg order; each
    round's matvec is materialized once (see the in-loop comment) so
    the two consumers per round cannot re-derive the whole prefix."""
    e = _co_order_edges(spark, sf_dir)
    und = (e.select("u", "v")
           .unionAll(e.select(F.col("v").alias("u"),
                              F.col("u").alias("v"))))
    v = und.select(F.col("u").alias("node")).distinct() \
        .withColumn("val", F.lit(1.0))
    for _ in range(_EIG_ROUNDS):
        # materialize the matvec once per round: `w` feeds BOTH the
        # sup-norm aggregate and the scaled vector, and without
        # truncation each round would re-derive the previous round's
        # two consumers — a 2^rounds plan blowup (the same reason the
        # pagerank loop checkpoints per round).
        w = (und.join(v.select(F.col("node").alias("nv"), "val"),
                      F.col("v") == F.col("nv"))
             .groupBy(F.col("u").alias("node"))
             .agg(F.round(F.sum("val"), 12).alias("w"))
             .localCheckpoint(eager=True))
        # sup-norm as a bounded 1-row collect folded in as a literal
        # (same double, same division) instead of a per-round
        # crossJoin-broadcast build job (r9, the graph_hits pattern)
        m = w.agg(F.max("w").alias("m")).first()["m"]
        v = w.select("node", (F.col("w") / F.lit(m)).alias("val"))
    return v.select("node", F.round("val", 6).alias("eigencentrality"))


@register(
    "join_point_in_polygon",
    oracle="""
    WITH pts AS (
      SELECT c_custkey AS id,
             CAST(c_custkey % 101 AS HUGEINT) AS px,
             CAST(c_custkey % 103 AS HUGEINT) AS py
      FROM customer),
    poly(x1, y1, x2, y2) AS (
      SELECT * FROM (VALUES
        (10, 10, 90, 20), (90, 20, 70, 50), (70, 50, 90, 90),
        (90, 90, 30, 80), (30, 80, 45, 45), (45, 45, 10, 10))),
    cross_e AS (
      SELECT p.id, p.px,
             CASE WHEN (e.y1 > p.py) <> (e.y2 > p.py)
                  AND ((e.y2 > e.y1 AND
                        (p.px - e.x1) * (e.y2 - e.y1)
                          < (p.py - e.y1) * (e.x2 - e.x1))
                       OR (e.y2 < e.y1 AND
                           (p.px - e.x1) * (e.y2 - e.y1)
                             > (p.py - e.y1) * (e.x2 - e.x1)))
                  THEN 1 ELSE 0 END AS hit
      FROM pts p, poly e),
    inside AS (
      SELECT id FROM cross_e GROUP BY id HAVING sum(hit) % 2 = 1)
    SELECT CAST((SELECT count(*) FROM pts) AS BIGINT) AS n_points,
           CAST(count(*) AS BIGINT) AS n_inside,
           CAST(sum(id) AS BIGINT) AS inside_id_sum,
           round(CAST(count(*) AS DOUBLE)
                 / (SELECT count(*) FROM pts), 6) AS inside_share
    FROM inside
    """)
def join_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-POLYGON containment join by ray casting against a
    non-convex 6-edge polygon — the spatial predicate
    `join_geo_grid_radius` (distance) and `join_nearest_warehouse`
    (nearest-site) don't cover: region membership. A horizontal ray
    from each point counts edge crossings; odd = inside. The crossing
    test is kept in EXACT integer arithmetic — the intersection
    abscissa comparison px < x1 + (py−y1)(x2−x1)/(y2−y1) is
    multiplied through by (y2−y1) with the inequality direction
    flipped on descending edges, so no division and no float ever
    enters (float ray casting is the classic source of
    boundary-point engine disagreement). Half-open vertex rule
    ((y1>py) ≠ (y2>py)) prevents double-counting shared vertices.

    The polygon is a 6-row broadcast; the 'join' is a map-side
    nested loop over a constant edge table followed by one partial
    agg on the point key — linear in points at any scale, the
    blocked-grid generalization (edges bucketed by y-band) being the
    documented many-edge path."""
    c = tables.load(spark, sf_dir, "customer")
    dec = "decimal(38,0)"
    pts = c.select(F.col("c_custkey").alias("id"),
                   (F.col("c_custkey") % 101).cast(dec).alias("px"),
                   (F.col("c_custkey") % 103).cast(dec).alias("py"))
    verts = [(10, 10), (90, 20), (70, 50), (90, 90), (30, 80),
             (45, 45)]
    edges = [(x1, y1, x2, y2)
             for (x1, y1), (x2, y2)
             in zip(verts, verts[1:] + verts[:1])]
    from pmc_conversion_spark.util import local_df
    poly = local_df(pts.sparkSession, edges,
                    "x1 int, y1 int, x2 int, y2 int")
    e = pts.crossJoin(poly)
    lhs = (F.col("px") - F.col("x1")) * (F.col("y2") - F.col("y1"))
    rhs = (F.col("py") - F.col("y1")) * (F.col("x2") - F.col("x1"))
    straddles = ((F.col("y1") > F.col("py"))
                 != (F.col("y2") > F.col("py")))
    crosses = straddles & (
        ((F.col("y2") > F.col("y1")) & (lhs < rhs))
        | ((F.col("y2") < F.col("y1")) & (lhs > rhs)))
    hits = e.select("id", F.when(crosses, 1).otherwise(0).alias("hit"))
    inside = (hits.groupBy("id").agg(F.sum("hit").alias("h"))
              .filter(F.col("h") % 2 == 1))
    npts = pts.agg(F.count(F.lit(1)).alias("np"))
    return (inside.agg(F.count(F.lit(1)).alias("n_inside"),
                       F.sum("id").alias("inside_id_sum"))
            .crossJoin(npts)
            .select(F.col("np").cast("bigint").alias("n_points"),
                    F.col("n_inside").cast("bigint").alias("n_inside"),
                    F.col("inside_id_sum").cast("bigint")
                    .alias("inside_id_sum"),
                    F.round(F.col("n_inside").cast("double")
                            / F.col("np"), 6).alias("inside_share")))
