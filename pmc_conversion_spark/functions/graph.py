"""Connected components — the cluster step of near-dup
deduplication.

Pair generators (``ngram_jaccard_pairs``, ``minhash_lsh_pairs``,
``embedding_near_dup_*``) emit *edges*; corpus-level dedup needs
*components* (a doc duplicating A and B puts A, B in one cluster even
if A-B was never emitted) so one canonical document survives per
cluster.

The implementation is the alternating large-star/small-star algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC
2014 — public literature): each round is two groupBy-min shuffles over
the edge list, and the edge set contracts toward star graphs rooted at
each component's minimum id in O(log n) rounds even on adversarial
path graphs — unlike naive label propagation, whose round count is the
graph diameter. State per round is the edge list only (no vertex
attributes), and ``localCheckpoint`` truncates the lineage so the plan
does not grow with iterations.

Each round costs a checkpoint job plus shuffle jobs whatever the edge
count, so a small edge set finishes on the driver instead: the first
checkpoint already observes the edge count, and at or below
``DRIVER_EDGES`` the edges are collected in one job and joined by
union-find. The bound caps driver memory, so an edge set that grows
1000× takes the distributed rounds and is never collected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pmc_conversion_spark.util import checkpoint_observed, local_df

#: Largest edge count that finishes on the driver. A driver-memory cap,
#: not a speed crossover: on a seeded random graph of 2**20 long edges
#: (local[4], 4-core host) the driver's Python peak RSS went 138 →
#: 344 MB and the JVM's peak was 1.4 GB, while the driver finish beat
#: the distributed rounds at every size measured (10⁴ edges 0.88 vs
#: 5.28 s, 10⁶ edges 7.2 vs 26.9 s).
DRIVER_EDGES = 1 << 20


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every neighbor larger than u to u's minimum neighbor.

    Emits (v, m(u)) for v in N(u), v > u, where m(u) = min(N(u) ∪ {u}).
    One symmetrize + one groupBy-min + one equi-join (the groupBy output
    is one row per node — broadcast-sized relative to the edges).
    """
    und = e.select("u", "v").union(
        e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # one row per node — same cardinality class as the edge list, so the
    # join back is a co-partitioned equi-join on u (both sides shuffle
    # on the same key), NOT a broadcast
    mins = und.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m"))
    return (und.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct())


def _small_star(e: DataFrame) -> DataFrame:
    """Within each node's smaller neighborhood, rewire everything to the
    minimum: orient edges high→low, then emit (v, m) for each low
    neighbor v plus (u, m), m = min of u's low neighborhood.
    """
    d = (e.select(F.greatest("u", "v").alias("u"),
                  F.least("u", "v").alias("v"))
         .filter(F.col("u") != F.col("v")))
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    return (d.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct())


def _star_forest(e: DataFrame) -> DataFrame:
    """(node, component) of a converged edge set, a star forest whose
    edges run u -> component root (= min id)."""
    return (e.select(F.col("u").alias("node"), F.col("v").alias("component"))
            .union(e.select(F.col("v").alias("node"),
                            F.col("v").alias("component")))
            .distinct())


def _min_roots(pairs) -> dict:
    """Union-find over (u, v) pairs: node -> the minimum id of its
    component. The larger root always hangs under the smaller, so every
    root is its component's minimum."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru < rv:
            parent[rv] = ru
        elif rv < ru:
            parent[ru] = rv
    return {x: find(x) for x in parent}


def _driver_components(e: DataFrame) -> DataFrame:
    """Collect the edges (one job) and label components on the driver;
    the schema is the distributed path's, read from its plan."""
    pdf = e.toPandas()
    roots = _min_roots(zip(pdf["u"].tolist(), pdf["v"].tolist()))
    return local_df(e.sparkSession, list(roots.items()),
                    _star_forest(e).schema)


def connected_components(edges: DataFrame, *, src: str = "src",
                         dst: str = "dst",
                         max_iter: int = 16) -> DataFrame:
    """Connected components of an undirected edge list.

    Output: (node, component) for every node that appears in an edge;
    ``component`` is the minimum node id of the component (so it is
    also a member — the natural canonical representative). Nodes with
    no edges are their own singleton components and are the caller's
    union (they never need a shuffle).

    The first checkpoint (self-loops dropped) observes the edge count,
    duplicates included, which is the number of rows a collect would
    bring to the driver. At or below ``DRIVER_EDGES`` the edges are
    collected and labelled by union-find on the driver, and the result
    is a local frame: the input's jobs plus one collect, and reading
    the result runs no shuffle.

    Above the bound, a second checkpoint drops duplicate edges, then
    per round: large-star then small-star (two shuffles each), then a
    checkpoint whose observed (count, hash-sum) fingerprint is the
    fixpoint check. Rounds are O(log n) by the
    published bound; ``max_iter`` is a safety rail and non-convergence
    raises rather than returning partial clusters.
    """
    def ckpt_fingerprint(df: DataFrame) -> tuple[DataFrame, tuple]:
        # fingerprint = (count, order-insensitive hash-sum): one cheap
        # aggregate instead of two exceptAll jobs per round; a collision
        # is astronomically unlikely, and the stars are idempotent at
        # the fixpoint so one phantom extra round could not change the
        # result anyway. decimal(38,0) accumulator: a plain long sum
        # overflows under ANSI mode (hash values span int64).
        # r9 (guide §1.2): the aggregate rides the checkpoint
        # materialization as an ``observe`` metric, so the per-round
        # fingerprint job (a full scan of the edge frame) disappears.
        d, m = checkpoint_observed(
            df, n=F.count(F.lit(1)),
            h=F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")))
        return d, (m["n"], m["h"])

    # no distinct before the gate: it would cost the driver path a
    # shuffle job, and union-find ignores duplicate edges
    e, fp = ckpt_fingerprint(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v")))
    if fp[0] <= DRIVER_EDGES:
        return _driver_components(e)
    # the rounds need a duplicate-free start: the stars emit distinct
    # edges, so a duplicate in the first fingerprint would cost an
    # extra round before the fixpoint is seen
    e, fp = ckpt_fingerprint(e.distinct())
    for _ in range(max_iter):
        e, fp2 = ckpt_fingerprint(_small_star(_large_star(e)))
        if fp2 == fp:
            break
        fp = fp2
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds")
    return _star_forest(e)
