"""Parser for the reference's codebook TSV record format.

The codebooks (sources_config.json:459-464; data e.g.
studies/individual_codebook.tsv) are NOT rectangular CSV (SURVEY §7.4
risk 3): the file is a sequence of *records*, each spanning one group
line plus one or more mapping lines, with ``\\r``-only line terminators
(classic-Mac style — the whole file is a single ``\\n``-free line):

- group line: ``N<TAB>COL1 COL2 ...`` — a numeric group id, then ONE
  field holding the space-separated source columns the group's mappings
  apply to (individual_codebook.tsv group 8: ``HOSPREC HOSPDIAG
  HOSPASS HOSPTRAN``), padded with empty TAB fields;
- mapping line: begins with an empty field (leading TAB), then
  alternating ``code<TAB>label`` pairs; labels containing commas are
  CSV-style double-quoted (``80000<TAB>"Neoplasm, benign"``); a group
  may span several mapping lines (group 8 lists 12 hospitals over 2).

The parse is driver-side (codebooks are config-plane dimension data —
bounded at any scale) and yields ``(column, code, label)`` rows. The
sources2csr compiler decodes with them through :func:`codebook_maps`,
one map literal per column inside the source's own projection, so a
decode adds no join and no job; :func:`codebook_df` turns them into the
mapping frame ``operators.joins.codebook_decode`` consumes.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _unquote(field: str) -> str:
    """Strip CSV-style outer double quotes, unescape doubled quotes."""
    f = field.strip()
    if len(f) >= 2 and f.startswith('"') and f.endswith('"'):
        return f[1:-1].replace('""', '"')
    return f


def parse_codebook_text(text: str) -> list[tuple[str, str, str]]:
    """Parse codebook file content into (column, code, label) rows.

    Tolerates ``\\r``, ``\\r\\n`` and ``\\n`` terminators. Raises on a
    mapping line with no preceding group (malformed file) — reference
    error-path style: fail the run, never silently drop.
    """
    rows: list[tuple[str, str, str]] = []
    columns: list[str] = []
    for lineno, line in enumerate(re.split(r"\r\n|\r|\n", text), start=1):
        if not line.strip():
            continue
        fields = line.split("\t")
        if fields[0].strip():  # group line: numeric id, then column list
            if not fields[0].strip().isdigit():
                raise ValueError(
                    f"codebook line {lineno}: expected numeric group id, "
                    f"got {fields[0]!r}")
            if len(fields) < 2 or not fields[1].strip():
                raise ValueError(
                    f"codebook line {lineno}: group without column list")
            columns = fields[1].split()
            continue
        if not columns:
            raise ValueError(
                f"codebook line {lineno}: mapping line before any group")
        # mapping line: alternating code/label pairs after the leading
        # empty field; trailing padding fields are empty codes -> skip
        for i in range(1, len(fields) - 1, 2):
            code = fields[i].strip()
            if not code:
                continue
            label = _unquote(fields[i + 1])
            for col in columns:
                rows.append((col, code, label))
    return rows


def parse_codebook_file(path: str) -> list[tuple[str, str, str]]:
    with open(path, encoding="utf-8") as f:
        return parse_codebook_text(f.read())


def codebook_maps(rows: list[tuple[str, str, str]]) -> dict[str, Column]:
    """One ``code -> label`` map literal per column of the
    ``(column, code, label)`` rows; ``map[raw]`` is the label or NULL.

    A (column, code) pair listed twice with the same label collapses;
    one listed with two different labels raises ``ValueError`` naming
    it (as a join it would duplicate every matching source row).
    """
    labels: dict[str, dict[str, str]] = {}
    for column, code, label in rows:
        seen = labels.setdefault(column, {}).setdefault(code, label)
        if seen != label:
            raise ValueError(
                f"codebook maps {column} code {code!r} to both {seen!r} "
                f"and {label!r}")
    return {c: F.map_from_arrays(F.lit(list(m)), F.lit(list(m.values())))
            for c, m in labels.items()}


def codebook_df(spark: SparkSession, path: str) -> DataFrame:
    """Read + parse a real codebook file into the
    ``(column, code, label)`` mapping frame."""
    from pmc_conversion_spark.util import local_df
    rows = parse_codebook_file(path)
    return local_df(spark, rows, "column string, code string, label string")
