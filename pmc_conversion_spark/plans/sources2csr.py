"""sources -> CSR: compile a SourcesConfig into DataFrame plans.

Stage 2 of the reference dataflow (luigi-pipeline/main.py:105-112): merge
heterogeneous delimited sources into typed entity tables with
first-listed-source-wins attribute precedence, codebook decoding, date
normalization, and primary-key validation. The compiler emits a single
declarative plan per entity — Catalyst sees the whole merge and can
push filters/pruning into every source scan.
"""

from __future__ import annotations

from collections.abc import Collection

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pmc_conversion_spark.functions import dates as D
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


def _dup_check_frame(proj: DataFrame, entity: EntityConfig,
                     file: str) -> DataFrame:
    """Raw (entity, file, id) key stream for the deferred uniqueness
    check. Aggregation happens once over the union of every source's
    stream (``run_dup_checks``), so N sources cost one shuffle total,
    not N separate aggregation jobs."""
    return (proj.filter(F.col(entity.id_attr).isNotNull())
            .select(F.lit(entity.name).alias("entity"),
                    F.lit(file).alias("file"),
                    F.col(entity.id_attr).cast("string").alias("id")))


def run_dup_checks(checks: list[DataFrame]) -> None:
    """Execute every pending uniqueness check as ONE Spark job: union
    the raw key streams map-side, aggregate once on (entity, file, id)
    — map-side combine makes the shuffle carry one row per distinct
    key per task. The r2 shape was one collect per (entity, file):
    14 driver-blocking jobs on the reference config, now 1. Raises
    :class:`DuplicateIdError` naming the first few offenders."""
    if not checks:
        return
    u = checks[0]
    for c in checks[1:]:
        u = u.unionByName(c)
    dups = (u.groupBy("entity", "file", "id")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
            .limit(5).collect())
    if dups:
        msg = ", ".join(f"{r['entity']}/{r['file']}: {r['id']}"
                        for r in dups)
        raise DuplicateIdError(f"duplicate ids: {msg}")


def build_entity(frames: dict[str, DataFrame], entity: EntityConfig,
                 config: SourcesConfig,
                 codebooks: dict[str, CodebookRows] | None = None,
                 validate_ids: bool = True,
                 dup_checks: list[DataFrame] | None = None) -> DataFrame:
    """Compile the full priority merge for one entity.

    ``frames``: file name -> raw source DataFrame. Attribute precedence
    is per-attribute (an attribute's own source order), not per-file:
    every contributing file is projected once, all projections are
    full-outer joined on the id, and each output attribute coalesces its
    layers in its declared order (sources_config.json:5-49 semantics;
    SURVEY §7.4 risk 2 — ids from any source survive).

    When ``dup_checks`` is a list, id-uniqueness validation is deferred:
    the per-source duplicate frames are appended to it and the caller
    runs them all in one job (``run_dup_checks``) — the build_all path.
    Otherwise validation executes eagerly, one job for all this
    entity's sources.
    """
    codebooks = codebooks or {}
    files: list[str] = []
    for a in entity.attributes:
        for s in a.sources:
            if s.file not in files:
                files.append(s.file)
    projected: dict[str, DataFrame] = {}
    own_checks: list[DataFrame] = []
    for f in files:
        if f not in frames:
            raise ValueError(f"{entity.name}: source file {f!r} not provided")
        fmt = config.fmt(f)
        cb = codebooks.get(fmt.codebook) if fmt.codebook else None
        proj = project_source(frames[f], entity, f, codebook=cb,
                              codebook_columns=config.codebook_columns.get(f))
        if validate_ids:
            target = own_checks if dup_checks is None else dup_checks
            target.append(_dup_check_frame(proj, entity, f))
        projected[f] = proj
    run_dup_checks(own_checks)

    key = entity.id_attr
    renamed = []
    for i, f in enumerate(files):
        proj = projected[f]
        cols = [F.col(key).alias(key)]
        for a in entity.attributes:
            if a.name == key:
                continue
            if a.name in proj.columns:
                cols.append(F.col(a.name).alias(f"__{a.name}_{i}"))
        renamed.append(proj.filter(F.col(key).isNotNull()).select(*cols))
    merged = renamed[0]
    for nxt in renamed[1:]:
        merged = merged.join(nxt, on=key, how="full_outer")

    out_cols: list[Column] = [F.col(key)]
    for a in entity.attributes:
        if a.name == key:
            continue
        layers: list[Column] = []
        for s in a.sources:  # declared priority order
            i = files.index(s.file)
            c = f"__{a.name}_{i}"
            if c in merged.columns and not any(
                    str(layer) == str(F.col(c)) for layer in layers):
                layers.append(F.col(c))
        out_cols.append(F.coalesce(*layers).alias(a.name) if layers
                        else F.lit(None).cast("string").alias(a.name))
    return merged.select(*out_cols)


def build_all(frames: dict[str, DataFrame], config: SourcesConfig,
              codebooks: dict[str, CodebookRows] | None = None
              ) -> dict[str, DataFrame]:
    """All entity tables (the CSR) from one set of source frames.

    Id-uniqueness validation for every (entity, source) pair runs as a
    single deferred Spark job, not one job each."""
    checks: list[DataFrame] = []
    out = {e.name: build_entity(frames, e, config, codebooks,
                                dup_checks=checks)
           for e in config.entities}
    run_dup_checks(checks)
    return out
