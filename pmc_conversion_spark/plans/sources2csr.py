"""sources -> CSR: compile a SourcesConfig into DataFrame plans.

Stage 2 of the reference dataflow (luigi-pipeline/main.py:105-112): merge
heterogeneous delimited sources into typed entity tables with
first-listed-source-wins attribute precedence, codebook decoding, date
normalization, and primary-key validation. The compiler emits a single
declarative plan per entity — one projection per source file, their
union and one ``groupBy(id)`` taking ``min_by(value, rank)`` per
attribute (``operators.joins.priority_merge``) — so Catalyst sees the
whole merge and can push filters/pruning into every source scan.
"""

from __future__ import annotations

from collections.abc import Collection
from dataclasses import replace
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pmc_conversion_spark.functions import dates as D
from pmc_conversion_spark.operators.joins import priority_merge
from pmc_conversion_spark.plans.config_model import EntityConfig, SourcesConfig
from pmc_conversion_spark.sources.codebook import codebook_maps

#: a codebook as parsed on the driver: (column, code, label) rows
CodebookRows = list[tuple[str, str, str]]


class DuplicateIdError(ValueError):
    """Entity ids must be unique per source before the merge
    [ext-contract]; raised in reference error-path style (sync.py:51-74:
    validation raises, never silently drops)."""


def _typed(col: Column, kind: str, date_format: str | None) -> Column:
    if kind == "date":
        return (D.to_date_multi(col, date_format) if date_format
                else D.to_date_any(col))
    if kind == "numeric":
        # try_cast: invalid numerics -> NULL (Spark 4 ANSI cast raises)
        return col.try_cast("double")
    return F.when(F.trim(col) == "", None).otherwise(col)


def project_source(df: DataFrame, entity: EntityConfig, file: str,
                   codebook: CodebookRows | None = None,
                   codebook_columns: list[str] | None = None) -> DataFrame:
    """Project one source file down to (id, contributed attributes).

    Column selection is by declared header name; a missing declared
    column fails the run (schema-on-config, SURVEY §1.1). Codebook decode
    runs on the raw source columns before type casting:
    ``coalesce(map[raw], raw)`` with ``raw`` the value as a string, so
    NULL and unmapped values keep the raw value (codebooks are
    partial). Without ``codebook_columns`` every column the codebook
    names is decoded (real-format configs carry no column list; the
    group lines name them, e.g. individual_codebook.tsv group 8:
    HOSPREC HOSPDIAG ...).
    """
    contributed: list[tuple[str, str, str | None]] = []  # (attr, col, fmt)
    for a in entity.attributes:
        for s in a.sources:
            if s.file == file:
                contributed.append((a.name, s.column or a.name, s.date_format))
    if not contributed:
        raise ValueError(f"{file} contributes nothing to {entity.name}")
    missing = [c for _, c, _ in contributed if c not in df.columns]
    if missing:
        raise ValueError(
            f"{file}: declared columns missing from header: {missing}")
    maps: dict[str, Column] = {}
    coded: Collection[str] = ()
    if codebook is not None:
        maps = codebook_maps(codebook)
        coded = maps if codebook_columns is None else codebook_columns
    cols = []
    for attr, col, fmt in contributed:
        src = F.col(col)
        if col in coded:
            raw = src.cast("string")
            src = F.coalesce(maps[col][raw], raw) if col in maps else raw
        kind = entity.attr(attr).kind
        cols.append(_typed(src, kind, fmt).alias(attr))
    return df.select(*cols)


def _merge(frames: dict[str, DataFrame], entity: EntityConfig,
           config: SourcesConfig, codebooks: dict[str, CodebookRows]
           ) -> tuple[DataFrame, list[DataFrame]]:
    """One entity's priority merge and its ``(entity, file, id)`` key
    streams (non-NULL ids only), one per source file.

    Attribute precedence is per-attribute (an attribute's own source
    order), not per-file: every contributing file is projected once and
    :func:`~pmc_conversion_spark.operators.joins.priority_merge` takes
    each attribute from its highest-priority file with a non-NULL value
    (sources_config.json:5-49 semantics; SURVEY §7.4 risk 2 — ids from
    any source survive)."""
    key = entity.id_attr
    files = entity.files()
    projected, keys = [], []
    for f in files:
        if f not in frames:
            raise ValueError(f"{entity.name}: source file {f!r} not provided")
        fmt = config.fmt(f)
        cb = codebooks.get(fmt.codebook) if fmt.codebook else None
        proj = project_source(frames[f], entity, f, codebook=cb,
                              codebook_columns=config.codebook_columns.get(f))
        projected.append(proj)
        keys.append(proj.filter(F.col(key).isNotNull())
                    .select(F.lit(entity.name).alias("entity"),
                            F.lit(f).alias("file"),
                            F.col(key).cast("string").alias("id")))
    priority = {a.name: [files.index(s.file) for s in a.sources]
                for a in entity.attributes if a.name != key}
    return priority_merge(projected, key, list(priority), priority), keys


def build_all(frames: dict[str, DataFrame], config: SourcesConfig,
              codebooks: dict[str, CodebookRows] | None = None
              ) -> dict[str, DataFrame]:
    """All entity tables (the CSR) from one set of source frames.

    ``frames``: file name -> raw source DataFrame. Each entity is one
    union + ``groupBy(id)``/``min_by`` plan (a single-source entity is a
    projection). Before any entity is returned, id uniqueness for every
    (entity, source) pair is checked in ONE Spark job: the key streams
    are unioned map-side and aggregated once on (entity, file, id), so
    the shuffle carries one row per distinct key per task. Raises
    :class:`DuplicateIdError` naming the first few offenders."""
    out: dict[str, DataFrame] = {}
    keys: list[DataFrame] = []
    for e in config.entities:
        out[e.name], streams = _merge(frames, e, config, codebooks or {})
        keys += streams
    if keys:
        dups = (reduce(DataFrame.unionByName, keys)
                .groupBy("entity", "file", "id")
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") > 1)
                .limit(5).collect())
        if dups:
            msg = ", ".join(f"{r['entity']}/{r['file']}: {r['id']}"
                            for r in dups)
            raise DuplicateIdError(f"duplicate ids: {msg}")
    return out


def build_entity(frames: dict[str, DataFrame], entity: EntityConfig,
                 config: SourcesConfig,
                 codebooks: dict[str, CodebookRows] | None = None
                 ) -> DataFrame:
    """One entity's CSR table: :func:`build_all` over a config holding
    only ``entity``."""
    return build_all(frames, replace(config, entities=(entity,)),
                     codebooks)[entity.name]
