"""Similarity search over embedding columns (BASELINE.json north star).

Brute-force cosine top-k is the exact baseline (a crossJoin restricted
to the query set — at scale the query side is small/broadcast, so this
is a map-only pass over the corpus, no shuffle of the corpus itself).
The scale path is LSH bucketing (random hyperplanes) or IVF (coarse
k-means cells): candidates come from an equi-join on bucket/cell id,
cutting the scanned fraction; both are expressed as DataFrame plans.

Dot products use F.aggregate over zip_with — JVM-side, no UDF. The
embedding column is cast to double before arithmetic so results are
deterministic and comparable with DuckDB's list_cosine_similarity.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pmc_conversion_spark.util import ensure_parallelism


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def sql_double_array(vals) -> str:
    """SQL text for a literal double array.

    Building literal vectors as ``F.array(*[F.lit(x) ...])`` costs one
    py4j round-trip per ELEMENT (~1.5 s per 8x64-dim centroid set,
    measured — it dominated the k-means driver loop); a single SQL
    string is one round-trip total and parses JVM-side in
    microseconds. ``repr`` emits the shortest round-tripping decimal
    form and Spark's double literal parser (Double.parseDouble) maps
    it back to the identical IEEE bits, so values are unchanged.

    Finite doubles only: ``repr(nan)+"D"`` is not a parseable Spark
    literal, so a non-finite input would surface as a confusing SQL
    parse error far from its cause (VERDICT r9 What's-wrong #5) —
    unreachable from current callers (means/seeds of finite data),
    guarded so a future caller fails with the real reason."""
    vals = [float(x) for x in vals]
    if not all(math.isfinite(x) for x in vals):
        raise ValueError(
            f"sql_double_array requires finite doubles, got {vals!r}")
    return "array(" + ",".join(repr(x) + "D" for x in vals) + ")"


def lit_double_array(vals) -> Column:
    """Literal double-array Column via one ``F.expr`` (see
    :func:`sql_double_array`)."""
    return F.expr(sql_double_array(vals))


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two double arrays."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def _as_double(df: DataFrame, vec_col: str) -> DataFrame:
    return ensure_parallelism(df).withColumn(
        vec_col, F.col(vec_col).cast("array<double>"))


def topk_bruteforce(queries: DataFrame, corpus: DataFrame, k: int, *,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    round_digits: int | None = None) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus, rank per query with a deterministic tie-break.

    With ``round_digits`` the similarity is rounded BEFORE ranking over
    the full candidate set, so the ranking is identical to a SQL twin
    that ranks rounded values (ADVICE r1: post-filter re-ranking of an
    unrounded top-k can pick different rows when a rounded tie straddles
    the rank-k boundary).

    Output: (query_id, neighbor_id, cos_sim, rank).
    """
    # Norms are factored out of the per-pair cosine: each side's norm is
    # computed ONCE per row in its own projection (below the broadcast
    # nested-loop join), instead of once per (query, corpus) pair inside
    # the join output — with q queries that removes (q−1)/q of the norm
    # folds from the dominant corpus scan. Bit-identical to cosine():
    # the same _norm doubles multiply in the same order.
    q = _as_double(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("__qn"))
    c = _as_double(corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("__cn"))
    sim = _dot(F.col("qv"), F.col("cv")) / (F.col("__qn") * F.col("__cn"))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    scored = (c.crossJoin(F.broadcast(q))
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id", sim.alias("cos_sim")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42
                       ) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (driver-side,
    config-sized)."""
    rng = random.Random(seed)
    planes = []
    for _ in range(n_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / norm for x in v])
    return planes


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id from random hyperplanes (bigint)."""
    bucket = F.lit(0).cast("bigint")
    for i, p in enumerate(planes):
        bit = F.when(_dot(vec, lit_double_array(p)) >= 0,
                     F.lit(1)).otherwise(F.lit(0))
        bucket = bucket + F.shiftleft(bit.cast("bigint"), i)
    return bucket


def topk_lsh(queries: DataFrame, corpus: DataFrame, k: int, *,
             n_planes: int = 8, seed: int = 42, dim: int = 64,
             id_col: str = "vec_id", vec_col: str = "embedding",
             multiprobe: bool = True, round_digits: int = 6) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH buckets.

    Candidates = corpus vectors in the query's bucket (plus, with
    ``multiprobe``, all buckets at Hamming distance 1 — standard
    multi-probe LSH to lift recall); exact cosine (rounded to
    ``round_digits``, ties broken on neighbor id) ranks the candidates.
    The equi-join on bucket replaces the cross join: with b planes the
    scanned fraction is ~ (1+b)/2^b of the corpus per query.

    Approximate only relative to true top-k — the pipeline itself is
    deterministic (seeded planes, fold-order dot products), so a SQL
    oracle can replay it exactly.

    Output: (query_id, neighbor_id, cos_sim, rank) — rank <= k, possibly
    fewer rows than brute force when a bucket underfills (recall is
    test-asserted against the brute-force oracle).
    """
    planes = random_hyperplanes(dim, n_planes, seed)
    q = _as_double(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"))
    if multiprobe:
        probes = F.array(*([F.col("bucket")] +
                           [F.col("bucket").bitwiseXOR(F.lit(1 << i))
                            for i in range(n_planes)]))
        q = q.select("query_id", "qv", F.explode(probes).alias("bucket"))
    c = _as_double(corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"))
    scored = (c.join(F.broadcast(q), "bucket")
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id",
                      F.round(cosine(F.col("qv"), F.col("cv")),
                              round_digits).alias("cos_sim"))
              .distinct())
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def quant_cell(vec: Column, planes: list[list[float]], width: float) -> Column:
    """IVF-style coarse cell id: quantized random projections (E2LSH).

    Each plane's fold-order dot product is floored into buckets of
    ``width``; the per-plane bucket indexes fold into one cell id with a
    base large enough to avoid collisions between distinct index
    tuples. Integer arithmetic after the floor — deterministic and
    portable to the SQL oracle."""
    cell = F.lit(0).cast("bigint")
    for p in planes:
        idx = F.floor(_dot(vec, lit_double_array(p))
                      / F.lit(width)).cast("bigint")
        cell = cell * F.lit(10_000) + (idx % F.lit(10_000))
    return cell


def topk_ivf(queries: DataFrame, corpus: DataFrame, k: int, *,
             n_planes: int = 4, seed: int = 7, dim: int = 64,
             width: float = 0.35, id_col: str = "vec_id",
             vec_col: str = "embedding", round_digits: int = 6,
             multiprobe: bool = True) -> DataFrame:
    """Approximate top-k via IVF-style coarse quantization cells.

    The index step assigns every vector to a cell (quantized random
    projections — the dataflow twin of IVF's coarse centroids, chosen
    over k-means so the cell assignment is integer-deterministic and
    the SQL oracle can replay it). Queries probe their own cell plus,
    with ``multiprobe``, the 2·n_planes cells one bucket step away on
    each axis. Exact cosine (rounded, id tie-break) ranks candidates.

    At scale: the corpus is scanned once to build (cell, vector)
    postings; each query touches only its probed cells — an equi-join
    on cell id, no corpus shuffle beyond the one groupBy-free join.

    Output: (query_id, neighbor_id, cos_sim, rank).
    """
    cand = ivf_candidates(queries, corpus, n_planes=n_planes, seed=seed,
                          dim=dim, width=width, id_col=id_col,
                          vec_col=vec_col, multiprobe=multiprobe)
    scored = (cand.select("query_id", "neighbor_id",
                          F.round(cosine(F.col("qv"), F.col("cv")),
                                  round_digits).alias("cos_sim"))
              .distinct())
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def ivf_candidates(queries: DataFrame, corpus: DataFrame, *,
                   n_planes: int = 4, seed: int = 7, dim: int = 64,
                   width: float = 0.35, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   multiprobe: bool = True) -> DataFrame:
    """The IVF coarse-quantization CANDIDATE stage alone:
    (query_id, qv, neighbor_id, cv) pairs from the probed cells, no
    scoring — the reusable front half of :func:`topk_ivf`, composable
    with any re-ranker (exact cosine, or PQ/ADC codes in
    sim_ivfpq_topk)."""
    planes = random_hyperplanes(dim, n_planes, seed)
    q = _as_double(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    if multiprobe:
        # factor the per-plane quantized index into a projection so the
        # 64-wide dot-product fold runs once per plane (n_planes folds
        # per query row), not once per (probe, plane) — the old inline
        # form repeated every fold in all 2·n_planes+1 probe cells
        # (9× the work at n_planes=4). Each __ix alias is referenced by
        # 9 probe cells, so CollapseProject keeps the projection and
        # the fold is evaluated once; the integer cell assembly is the
        # identical arithmetic, so cells are unchanged (guide §1.2).
        idx_cols = [(F.floor(_dot(F.col("qv"), lit_double_array(p))
                             / F.lit(width)).cast("bigint")
                     .alias(f"__ix{i}"))
                    for i, p in enumerate(planes)]
        qi = q.select("query_id", "qv", *idx_cols)
        probes = []
        for ax in range(-1, n_planes):  # -1 = home cell, else shift axis
            for step in ([0] if ax < 0 else [-1, 1]):
                cell = F.lit(0).cast("bigint")
                for i in range(n_planes):
                    idx = F.col(f"__ix{i}")
                    if i == ax:
                        idx = idx + F.lit(step)
                    cell = cell * F.lit(10_000) + (idx % F.lit(10_000))
                probes.append(cell)
        q = qi.select("query_id", "qv",
                      F.explode(F.array(*probes)).alias("cell")).distinct()
    else:
        q = q.select("query_id", "qv",
                     quant_cell(F.col("qv"), planes, width).alias("cell"))
    c = _as_double(corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        quant_cell(F.col(vec_col), planes, width).alias("cell"))
    return (c.join(F.broadcast(q), "cell")
            .filter(F.col("neighbor_id") != F.col("query_id")))


#: target rows per block for auto-sized blocked matmuls: 1k×1k blocks
#: are ~1M-dot-product BLAS calls — big enough to amortize one Arrow
#: group's serialization, small enough that two blocks of 4-KB vectors
#: (~8 MB) sit comfortably in an executor task
BLOCK_TARGET_ROWS = 1_024


def _auto_blocks(vectors: DataFrame, n_blocks: int | None) -> int:
    """Pick the block count from the corpus size when the caller didn't.

    ceil(N / BLOCK_TARGET_ROWS), clamped to [1, 64]: a small corpus
    gets few large blocks (fewer Arrow groups — at sf0.1's 2,000
    vectors, 8 blocks meant 36 groups of ~250 rows, pure per-group
    overhead, the r2 bench regression), a large one gets blocks that
    keep per-task memory flat. The count() is metadata-cheap on
    parquet sources and negligible next to the matmul.
    """
    if n_blocks is not None:
        return n_blocks
    n = vectors.count()
    return max(1, min(64, -(-n // BLOCK_TARGET_ROWS)))


def embedding_near_dup_blocked(vectors: DataFrame, *, threshold: float = 0.9,
                               n_blocks: int | None = None,
                               id_col: str = "vec_id",
                               vec_col: str = "embedding",
                               round_digits: int = 6) -> DataFrame:
    """All-pairs cosine >= threshold via blocked matrix multiply — the
    scale path for :func:`embedding_near_dup_pairs`.

    Rows are hashed into ``n_blocks`` blocks; every unordered block pair
    (i <= j) becomes one group key; each row is replicated to the block
    pairs it participates in (~n_blocks×), shuffled once on the pair
    key, and an Arrow-batched applyInPandas computes the block×block
    cosine as a single numpy matmul. Total work is the same O(N²·d) but
    runs as dense BLAS instead of per-pair fold expressions, and the
    shuffle unit is a block, not a pair — this is the plan that survives
    a 100× scale-up (pair materialization never leaves the UDF).

    The matmul is a *candidate filter* (threshold minus a float-error
    margin); each surviving pair's cosine is then recomputed with the
    same sequential left-fold arithmetic as
    :func:`embedding_near_dup_pairs` (dot/(|a||b|), left-to-right
    summation in double). BLAS pairwise/FMA summation differs from the
    fold by ~1e-13, which round(…, 6) could flip on a boundary; the
    recompute makes the output bit-identical to the exact operator, so
    both share one SQL oracle. Candidates are few — the recompute cost
    is O(candidates·d), noise next to the O(N²·d) matmul.
    """
    import numpy as np
    import pandas as pd

    n_blocks = _auto_blocks(vectors, n_blocks)
    # pmod, not abs(hash)%n: hash can return Integer.MIN_VALUE whose abs
    # is still negative — a negative blk would match no (bi, bj) pair
    # and silently drop the row from every comparison (ADVICE r1).
    v = _as_double(vectors, vec_col).select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"),
        F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks)).alias("blk"))
    # replicate each row to every unordered block pair it belongs to,
    # tagging which side it plays
    pair_structs = []
    for i in range(n_blocks):
        for j in range(i, n_blocks):
            pair_structs.append((i, j))
    pairs_df = v.select(
        "vid", "vec", "blk",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("bi"), F.lit(j).alias("bj"))
            for i, j in pair_structs])).alias("p")
    ).filter((F.col("p.bi") == F.col("blk")) | (F.col("p.bj") == F.col("blk")))

    # id output type follows the input id column (not hardcoded long)
    id_type = vectors.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_type}, id_b {id_type}, cos_sim double"
    margin = 10.0 ** (-round_digits)  # >> BLAS-vs-fold error (~1e-13)

    def fold_cosine(a, b) -> float:
        # mirror of the JVM expression: sequential left-to-right folds
        dot = 0.0
        na = 0.0
        nb = 0.0
        for x, y in zip(a.tolist(), b.tolist()):
            dot += x * y
            na += x * x
            nb += y * y
        return round(dot / ((na ** 0.5) * (nb ** 0.5)), round_digits)

    # no type hints: applyInPandas cannot infer from these and warns
    def per_pair(key, pdf):
        bi, bj = key[0], key[1]
        left = pdf[pdf["blk"] == bi]
        right = pdf[pdf["blk"] == bj]
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
        la = np.stack(left["vec"].to_numpy())
        rb = np.stack(right["vec"].to_numpy())
        lan = la / np.linalg.norm(la, axis=1, keepdims=True)
        rbn = rb / np.linalg.norm(rb, axis=1, keepdims=True)
        sims = lan @ rbn.T
        ia, ib = np.nonzero(sims >= threshold - margin)  # candidates
        id_a = left["vid"].to_numpy()[ia]
        id_b = right["vid"].to_numpy()[ib]
        if bi == bj:
            # same-block: matrix covers both orders; keep one
            keep = id_a < id_b
            ia, ib = ia[keep], ib[keep]
            lo, hi = id_a[keep], id_b[keep]
        else:
            # cross-block: each unordered pair appears once, but the
            # smaller id may sit on either side — normalize (cosine is
            # bit-symmetric, so sides need not be swapped to match)
            lo = np.minimum(id_a, id_b)
            hi = np.maximum(id_a, id_b)
        # exact recompute (fold order), exact threshold test
        sim_v = np.array([fold_cosine(la[i], rb[j])
                          for i, j in zip(ia, ib)], dtype=np.float64)
        final = sim_v >= threshold
        return pd.DataFrame({"id_a": lo[final], "id_b": hi[final],
                             "cos_sim": sim_v[final]})

    return (pairs_df
            .groupBy(F.col("p.bi"), F.col("p.bj"))
            .applyInPandas(per_pair, out_schema))


#: hard ceiling for the quarantined all-pairs baseline (O(N²) plan)
NEAR_DUP_EXACT_MAX_ROWS = 200_000


def embedding_near_dup_pairs(vectors: DataFrame, *, threshold: float = 0.9,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             round_digits: int = 6,
                             max_rows: int = NEAR_DUP_EXACT_MAX_ROWS
                             ) -> DataFrame:
    """All pairs (a < b) with cosine >= threshold — embedding-based
    near-duplicate detection.

    **Quarantined: oracle-baseline-only. Do not use at scale.** The plan
    is a cartesian product — O(N²) pairs materialize in the join, which
    dies at any real corpus size. It exists solely as the exact
    baseline that :func:`embedding_near_dup_blocked` (the 100 TB path —
    block-pair shuffle + BLAS, bit-identical output) and the
    ``sim_topk_*`` ANN operators are verified against. A size guard
    refuses inputs above ``max_rows`` so the cartesian can never be run
    on data it cannot handle.

    Output: (id_a, id_b, cos_sim rounded to ``round_digits``).
    """
    n = vectors.limit(max_rows + 1).count()
    if n > max_rows:
        raise ValueError(
            f"embedding_near_dup_pairs is the quarantined O(N²) exact "
            f"baseline (> {max_rows} input rows); use "
            f"embedding_near_dup_blocked or sim_topk_lsh/ivf at scale")
    v = _as_double(vectors, vec_col)
    a = v.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = v.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    pairs = (a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b",
                     F.round(cosine(F.col("va"), F.col("vb")),
                             round_digits).alias("cos_sim")))
    return pairs.filter(F.col("cos_sim") >= threshold)


def knn_join_blocked(vectors: DataFrame, k: int, *, n_blocks: int | None = None,
                     local_margin: int = 8, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     round_digits: int = 6) -> DataFrame:
    """Exact k-NN self-join (every vector's k nearest neighbors by
    cosine) with the blocked-matmul scale shape.

    The O(N²·d) similarity compute is unavoidable for exactness, but
    the O(N²) *candidate materialization* is: each block pair computes
    its block×block sims as one BLAS matmul inside ``applyInPandas``
    and emits only each row's local top-(k+margin) — so the data that
    leaves Python is O(N·(k+margin)·n_blocks), never N². A true global
    top-k neighbor is a local top-k candidate in its own block pair
    (global rank bounds local rank), so the union of local winners
    contains the exact answer; ``local_margin`` additionally absorbs
    BLAS-vs-fold float ordering at the local cut boundary. Candidates
    then rejoin the vectors and the final cosine is the same JVM fold
    expression the exact operators use, rounded BEFORE the global rank
    so a SQL twin ranks identically.

    Output: (query_id, neighbor_id, cos_sim, rank), rank 1..k.
    """
    import numpy as np
    import pandas as pd

    n_blocks = _auto_blocks(vectors, n_blocks)
    v = _as_double(vectors, vec_col).select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"),
        F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks)).alias("blk"))
    pair_structs = [(i, j) for i in range(n_blocks)
                    for j in range(i, n_blocks)]
    pairs_df = v.select(
        "vid", "vec", "blk",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("bi"), F.lit(j).alias("bj"))
            for i, j in pair_structs])).alias("bp")
    ).filter((F.col("blk") == F.col("bp.bi"))
             | (F.col("blk") == F.col("bp.bj"))) \
        .select("vid", "vec", "blk", "bp.bi", "bp.bj")

    id_type = vectors.schema[id_col].dataType.simpleString()
    out_schema = f"query_id {id_type}, neighbor_id {id_type}"
    keep = k + local_margin

    def local_topk(ids_q, mat_q, ids_c, mat_c, same):
        sims = mat_q @ mat_c.T
        if same:
            np.fill_diagonal(sims, -np.inf)
        take = min(keep, sims.shape[1])
        part = np.argpartition(-sims, take - 1, axis=1)[:, :take] \
            if take < sims.shape[1] else \
            np.tile(np.arange(sims.shape[1]), (sims.shape[0], 1))
        qs = np.repeat(ids_q, part.shape[1])
        ns = ids_c[part.ravel()]
        mask = np.isfinite(sims[np.repeat(np.arange(sims.shape[0]),
                                          part.shape[1]),
                                part.ravel()])
        return qs[mask], ns[mask]

    def per_pair(key, pdf):
        bi, bj = key
        left = pdf[pdf["blk"] == bi]
        right = pdf[pdf["blk"] == bj]
        if left.empty or right.empty:
            return pd.DataFrame({"query_id": [], "neighbor_id": []})
        def prep(part):
            m = np.vstack(part["vec"].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(m, axis=1)
            norms[norms == 0] = 1.0
            return part["vid"].to_numpy(), m / norms[:, None]
        ids_l, mat_l = prep(left)
        ids_r, mat_r = prep(right)
        q1, n1 = local_topk(ids_l, mat_l, ids_r, mat_r, bi == bj)
        if bi == bj:
            return pd.DataFrame({"query_id": q1, "neighbor_id": n1})
        q2, n2 = local_topk(ids_r, mat_r, ids_l, mat_l, False)
        return pd.DataFrame({"query_id": np.concatenate([q1, q2]),
                             "neighbor_id": np.concatenate([n1, n2])})

    cands = (pairs_df.groupBy("bi", "bj").applyInPandas(
        per_pair, out_schema))
    qv = _as_double(vectors, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    cv = _as_double(vectors, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = (cands.join(qv, "query_id").join(cv, "neighbor_id")
              .select("query_id", "neighbor_id",
                      F.round(cosine(F.col("qv"), F.col("cv")),
                              round_digits).alias("cos_sim")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))
