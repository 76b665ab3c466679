"""File scans (SURVEY.md §2.1).

All scans return DataFrames; none read file bytes on the driver. The
binaryFile source reads each file as one row — appropriate for the
manifest/checksum surface where files are many and small-to-medium; the
delimited readers are ordinary distributed text scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def scan_csv_delim(spark: SparkSession, path: str, *, sep: str = "\t",
                   schema: T.StructType | str | None = None,
                   header: bool = True) -> DataFrame:
    """Delimited text with per-file delimiter override.

    Reference: sources_config.json:465-480 — TSV default, ``","``
    override per file; quoted fields may contain the delimiter
    (study.csv:2); empty string fields are NULL.

    With a schema and a header, the header must name the schema's
    columns in order (Spark's ``enforceSchema=false``), so a file whose
    columns come in another order fails inside the scan, with no extra
    job, instead of being read under the wrong names.
    """
    reader = (spark.read.option("sep", sep).option("header", header)
              .option("quote", '"').option("escape", '"')
              .option("nullValue", "")
              .option("enforceSchema", False))
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def scan_gzip_tsv(spark: SparkSession, path: str, *, sep: str = "\t",
                  schema: T.StructType | str | None = None) -> DataFrame:
    """Gzipped TSV (archived NGS MAF files, .MISSING_LARGE_BLOBS:1-4).
    Spark's text codecs decompress transparently by extension; gzip files
    are not splittable, so at scale prefer many medium files over one
    giant archive."""
    return scan_csv_delim(spark, path, sep=sep, schema=schema)


def scan_binary_sha1(spark: SparkSession, path: str,
                     glob: str | None = None) -> DataFrame:
    """File bytes -> SHA-1 hex manifest.

    Reference: scripts/checksum.py:19-32 streams 64 KiB chunks; Spark's
    binaryFile source reads per-file (per-task, distributed) and
    ``sha1()`` runs JVM-side.

    Output: DataFrame[path: string (absolute URI), sha1: string].
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.option("recursiveFileLookup", "true").load(path)
    return df.select(F.col("path"), F.sha1(F.col("content")).alias("sha1"))


def scan_sidecar_checksum(spark: SparkSession, path: str) -> DataFrame:
    """Read ``.sha1`` sidecar files, keeping only the first 40 chars of
    the first line (sidecars may carry a trailing ``"  <filename>"``).

    Reference: scripts/checksum.py:4-10.
    Output: DataFrame[path: string (sidecar URI), sha1: string].
    """
    df = (spark.read.format("binaryFile")
          .option("pathGlobFilter", "*.sha1")
          .option("recursiveFileLookup", "true").load(path))
    first_line = F.split(F.decode(F.col("content"), "UTF-8"), "\n").getItem(0)
    return df.select("path", F.substring(first_line, 1, 40).alias("sha1"))


def scan_dir_recursive(spark: SparkSession, root: str) -> DataFrame:
    """Recursive manifest of a directory: relative path per visible data
    file (hidden basenames and ``.sha1`` sidecars excluded).

    Reference: scripts/sync.py:77-89,37-38,15-16.
    Output: DataFrame[path: string] relative to ``root``.
    """
    import os
    root_abs = "file:" + os.path.abspath(root).rstrip("/")
    df = (spark.read.format("binaryFile")
          .option("recursiveFileLookup", "true").load(root))
    rel = F.expr(f"substring(path, {len(root_abs) + 2})")
    basename = F.substring_index(rel, "/", -1)
    # filter BEFORE projecting: rel is an expression over the absolute
    # `path` column, which the projection replaces
    return (df.filter(~basename.startswith(".") & ~rel.endswith(".sha1")
                      & ~rel.contains("/."))
            .select(rel.alias("path")))


def manifest_with_checksums(spark: SparkSession, root: str) -> DataFrame:
    """Visible-file manifest with computed SHA-1s, relative paths.

    Composition of scan_binary_sha1 + the hidden/sidecar filters — the
    input to the dir-diff and digest operators.
    """
    import os
    root_abs = "file:" + os.path.abspath(root).rstrip("/")
    df = scan_binary_sha1(spark, root)
    rel = F.expr(f"substring(path, {len(root_abs) + 2})")
    basename = F.substring_index(rel, "/", -1)
    return (df.filter(~basename.startswith(".") & ~rel.endswith(".sha1")
                      & ~rel.contains("/."))
            .select(rel.alias("path"), "sha1"))


def scan_fixed_width(spark: SparkSession, path: str,
                     fields: list[tuple[str, int, int, str]]) -> DataFrame:
    """Fixed-width (mainframe/COBOL copybook style) text reader: one
    `spark.read.text` line scan plus per-field substring/trim/cast
    projections — all JVM-side column algebra, no Python, and because
    `text` is a splittable line source the scan parallelizes like any
    CSV at 100 TB. ``fields`` is (name, start_1based, width, type)."""
    from pyspark.sql import functions as F
    lines = spark.read.text(path)
    cols = [
        F.trim(F.substring("value", start, width)).cast(typ).alias(name)
        for name, start, width, typ in fields
    ]
    return lines.select(*cols)
