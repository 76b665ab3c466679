"""Join-family operators (SURVEY.md §2.3).

Most reference joins are equi-joins on ids/paths; small dimension sides
(codebooks, manifests, config-derived tables) are broadcast explicitly so
a 1000-executor run never shuffles the fact side for them. The priority
merge is no join at all: one union of the sources and one aggregation
on the key (``min_by`` per attribute).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def priority_merge(sources: Sequence[DataFrame], key: str,
                   attrs: Sequence[str],
                   priority: Mapping[str, Sequence[int]] | None = None
                   ) -> DataFrame:
    """First-listed-source-wins merge of attributes over an entity key.

    Reference: sources_config.json:5-49 — e.g. Individual.birth_date from
    RDP-Patient.tsv (priority 1) else individual.csv (priority 2); the id
    universe is the union of ids over all contributing sources.

    ``priority[a]`` lists the indices of the sources that supply ``a``,
    highest priority first; by default every source that has column
    ``a``, in list order. An attribute no source supplies is a NULL
    string. Rows with a NULL key are dropped. Keys must be unique within
    each source: a key repeated in one source is not merged into one row
    per value but reduced to an arbitrary one of them (sources2csr
    raises ``DuplicateIdError`` before it merges).

    Spark plan: each source keeps its non-NULL-key rows and carries a
    ``__rank_<a>`` column per supplied attribute (its rank where the
    value is non-NULL, else NULL); the sources are combined with
    ``unionByName`` and one ``groupBy(key)`` takes ``min_by(a,
    __rank_<a>)`` per attribute — one shuffle on the key whatever the
    source count, and ids from any source survive. A single source is
    only projected, with no shuffle.
    """
    if not sources:
        raise ValueError("priority_merge needs at least one source")
    if priority is None:
        priority = {a: [i for i, s in enumerate(sources) if a in s.columns]
                    for a in attrs}
    layers = []
    for i, src in enumerate(sources):
        cols = [F.col(key)]
        for a in attrs:
            if i in priority[a]:
                cols += [F.col(a), F.when(F.col(a).isNotNull(),
                                          priority[a].index(i))
                         .alias(f"__rank_{a}")]
        layers.append(src.filter(F.col(key).isNotNull()).select(*cols))
    none = F.lit(None).cast("string")
    if len(layers) == 1:
        return layers[0].select(key, *[a if priority[a] else none.alias(a)
                                       for a in attrs])
    union = reduce(lambda x, y: x.unionByName(y, allowMissingColumns=True),
                   layers)
    if not attrs:
        return union.select(key).distinct()
    return union.groupBy(key).agg(*[
        F.min_by(a, f"__rank_{a}").alias(a) if priority[a] else none.alias(a)
        for a in attrs])


def codebook_decode(df: DataFrame, codebook: DataFrame,
                    columns: Sequence[str]) -> DataFrame:
    """Replace coded values with labels per (column, code).

    Reference: sources_config.json:459-464 + individual_codebook.tsv
    (SEX 1->male, hospital 217->UMCU, ...). Values with no mapping keep
    the raw code (codebooks are partial).

    ``codebook`` has schema (column: string, code: string, label: string)
    and is broadcast — it is a bounded dimension at any scale.
    """
    out = df
    for c in columns:
        cb = (codebook.filter(F.col("column") == c)
              .select(F.col("code").alias(f"__code_{c}"),
                      F.col("label").alias(f"__label_{c}")))
        out = (out.join(F.broadcast(cb),
                        out[c].cast("string") == F.col(f"__code_{c}"),
                        "left")
               .withColumn(c, F.coalesce(F.col(f"__label_{c}"),
                                         out[c].cast("string")))
               .drop(f"__code_{c}", f"__label_{c}"))
    return out


def fk_violations(child: DataFrame, parent: DataFrame,
                  child_key: str, parent_key: str) -> DataFrame:
    """Rows of ``child`` whose FK has no match in ``parent``.

    Reference: referential model biosource.individual_id -> individual
    (biosource.tsv:1); violations must fail the run (sync.py:51-74
    error-path style), so callers assert this is empty.
    """
    return child.join(
        F.broadcast(parent.select(F.col(parent_key).alias(child_key))),
        on=child_key, how="left_anti")


def dirdiff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Classify (path, sha1) pairs as add / remove / unchanged.

    Reference: scripts/sync.py:125-139 — set semantics over the tuple
    (path, checksum): a changed file appears as one add and one remove.
    """
    o = old.select("path", "sha1").withColumn("__old", F.lit(1))
    n = new.select("path", "sha1").withColumn("__new", F.lit(1))
    joined = o.join(n, on=["path", "sha1"], how="full_outer")
    return joined.select(
        "path", "sha1",
        F.when(F.col("__old").isNotNull() & F.col("__new").isNotNull(),
               F.lit("unchanged"))
        .when(F.col("__new").isNotNull(), F.lit("add"))
        .otherwise(F.lit("remove")).alias("change"))


def pair_sidecars(manifest: DataFrame) -> DataFrame:
    """Pair each data file with its ``<path>.sha1`` sidecar.

    Reference: scripts/sync.py:41-60 — every data file must have exactly
    one sidecar and vice versa; unmatched rows on either side are errors
    surfaced via :func:`sidecar_orphans`.

    Input: manifest DataFrame[path: string] covering both kinds of file.
    Output: DataFrame[data_path, checksum_path].
    """
    data = (manifest.filter(~F.col("path").endswith(".sha1"))
            .select(F.col("path").alias("data_path")))
    side = (manifest.filter(F.col("path").endswith(".sha1"))
            .select(F.col("path").alias("checksum_path")))
    return data.join(
        F.broadcast(side),
        F.concat(F.col("data_path"), F.lit(".sha1")) == F.col("checksum_path"),
        "inner")


def sidecar_orphans(manifest: DataFrame) -> DataFrame:
    """Data files without sidecars and sidecars without data files.

    Reference: scripts/sync.py:51-60 (both conditions raise).
    Output: DataFrame[path, problem] where problem in
    ('missing_checksum', 'orphan_checksum').
    """
    data = (manifest.filter(~F.col("path").endswith(".sha1"))
            .select(F.col("path").alias("data_path")))
    side = (manifest.filter(F.col("path").endswith(".sha1"))
            .select(F.col("path").alias("checksum_path")))
    missing = (data.join(
        side, F.concat(F.col("data_path"), F.lit(".sha1")) == F.col("checksum_path"),
        "left_anti")
        .select(F.col("data_path").alias("path"),
                F.lit("missing_checksum").alias("problem")))
    orphan = (side.join(
        data, F.concat(F.col("data_path"), F.lit(".sha1")) == F.col("checksum_path"),
        "left_anti")
        .select(F.col("checksum_path").alias("path"),
                F.lit("orphan_checksum").alias("problem")))
    return missing.unionByName(orphan)


def checksum_mismatches(computed: DataFrame, declared: DataFrame) -> DataFrame:
    """Join computed vs declared digests by path; keep mismatches.

    Reference: scripts/sync.py:66-74 (mismatch raises). Both inputs:
    DataFrame[path, sha1]; output adds both digests for the error report.
    """
    c = computed.select("path", F.col("sha1").alias("computed_sha1"))
    d = declared.select("path", F.col("sha1").alias("declared_sha1"))
    return (c.join(d, on="path", how="full_outer")
            .filter((F.col("computed_sha1").isNull())
                    | (F.col("declared_sha1").isNull())
                    | (F.col("computed_sha1") != F.col("declared_sha1"))))


def salted_join(big: DataFrame, small: DataFrame, key: str, *,
                row_id: str, salt_buckets: int = 8,
                how: str = "inner") -> DataFrame:
    """Skew-salted equi-join: the manual fallback for when AQE's
    skew-join split can't apply (SURVEY.md §7.4 — skewed
    ``individual_id``-style keys at 100 TB).

    The big side gets a deterministic salt from its unique ``row_id``
    (hash mod buckets — reproducible across retries, unlike rand());
    the small side is replicated once per bucket. Joining on
    (key, salt) splits each hot key's rows across ``salt_buckets``
    tasks; the result is exactly the unsalted join.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left joins")
    sb = big.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(row_id)), F.lit(salt_buckets)))
    ss = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i)
                                      for i in range(salt_buckets)])))
    return sb.join(ss, [key, "__salt"], how).drop("__salt")


def bloom_prefilter_join(fact: DataFrame, dim: DataFrame, key: str, *,
                         m_bits: int = 1 << 17, k: int = 3,
                         how: str = "inner") -> DataFrame:
    """Equi-join with a Bloom-filter prefilter on the fact side.

    The 100 TB case this exists for: the dim side is too large to
    broadcast as a hash relation (so Spark must shuffle BOTH sides),
    but most fact rows have no partner. A Bloom bitmap of the dim keys
    compresses to m_bits/8 bytes regardless of key width, broadcasts
    where the dim itself cannot, and drops partner-less fact rows
    BEFORE the fact-side Exchange — shuffle volume falls by the miss
    rate while the exact join afterwards removes the false positives,
    so the result is bit-identical to the plain join. (Spark's own
    `spark.sql.optimizer.runtime.bloomFilter.enabled` plants the same
    structure automatically when stats justify it; this operator is the
    explicit, portable form with the md5 hash family so the behavior is
    deterministic and oracle-checkable.)

    Build (one pass over dim keys, all JVM built-ins): k salted 60-bit
    hashes per key -> bit positions -> per-64-bit-word OR-aggregation ->
    ONE row holding the bitmap as a word-index map. Probe: map lookup +
    bitwise AND per position — a pure map-side filter under the join.
    """
    from pmc_conversion_spark.functions.dedup import md5_int60

    def positions(col: Column) -> list[Column]:
        return [md5_int60(F.concat(F.lit(f"bf{i}:"), col.cast("string")))
                % m_bits for i in range(k)]

    keys = dim.select(F.col(key).alias("__k")).distinct()
    # F.shiftleft only takes a literal shift amount, so the variable
    # shifts go through SQL expr over the named position column.
    bits = (keys.select(F.explode(F.array(*positions(F.col("__k"))))
                        .alias("p"))
            .select(F.expr("p DIV 64").alias("word"),
                    F.expr("shiftleft(CAST(1 AS BIGINT), "
                           "CAST(p % 64 AS INT))").alias("bit"))
            .groupBy("word").agg(F.bit_or("bit").alias("bits")))
    # bounded by m_bits/64 words (2 KiB..16 MiB), never by |dim|
    bitmap = bits.groupBy().agg(
        F.map_from_entries(F.collect_list(F.struct("word", "bits")))
        .alias("__bloom"))

    probed = fact.join(F.broadcast(bitmap))
    hit = None
    for i, p in enumerate(positions(F.col(key))):
        pc = f"__bp{i}"
        probed = probed.withColumn(pc, p)
        # try_element_at, not element_at: ANSI mode (on in this engine)
        # makes plain element_at raise on a missing map key, but an
        # absent word simply means "no dim key ever set bits there".
        test = F.expr(
            f"coalesce(try_element_at(__bloom, {pc} DIV 64) & "
            f"shiftleft(CAST(1 AS BIGINT), CAST({pc} % 64 AS INT)), 0) != 0")
        hit = test if hit is None else hit & test
    probe_cols = [f"__bp{i}" for i in range(k)]
    return (probed.filter(hit).drop("__bloom", *probe_cols)
            .join(dim, on=key, how=how))
