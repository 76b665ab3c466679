"""Registry: file-manifest algebra + log analytics (SURVEY.md §2.2-2.4,
§2.6, §2.8 path functions) over deterministic literal fixtures.

The reference's sync layer (scripts/sync.py) operates on small manifests
of (path, sha1) pairs; we mirror its behaviors on a fixed fixture whose
literals are shared between the Spark query and the DuckDB oracle VALUES
clause, so the two can never drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pmc_conversion_spark.operators import aggregates as A
from pmc_conversion_spark.operators import joins as J
from pmc_conversion_spark.queries import register

# (path, sha1) manifest of the OLD snapshot; paths mimic the reference
# drop-zone layout (clinic/, studies/, laboratory/ + sidecars + hidden).
OLD_MANIFEST = [
    ("clinic/RDP-Patient.tsv", "aaaa000000000000000000000000000000000001"),
    ("clinic/RDP-Patient.tsv.sha1", "ffff000000000000000000000000000000000001"),
    ("clinic/RDP-IC.tsv", "aaaa000000000000000000000000000000000002"),
    ("clinic/RDP-IC.tsv.sha1", "ffff000000000000000000000000000000000002"),
    ("clinic/.hidden_tmp", "aaaa000000000000000000000000000000000003"),
    ("studies/individual.csv", "aaaa000000000000000000000000000000000004"),
    ("studies/individual.csv.sha1", "ffff000000000000000000000000000000000004"),
    ("studies/orphan.sha1", "ffff000000000000000000000000000000000005"),
    ("laboratory/biosource.tsv", "aaaa000000000000000000000000000000000006"),
]

# NEW snapshot: RDP-IC.tsv changed content, biosource removed, radiology
# added, the rest unchanged.
NEW_MANIFEST = [
    ("clinic/RDP-Patient.tsv", "aaaa000000000000000000000000000000000001"),
    ("clinic/RDP-Patient.tsv.sha1", "ffff000000000000000000000000000000000001"),
    ("clinic/RDP-IC.tsv", "bbbb000000000000000000000000000000000002"),
    ("clinic/RDP-IC.tsv.sha1", "ffff000000000000000000000000000000000002"),
    ("studies/individual.csv", "aaaa000000000000000000000000000000000004"),
    ("studies/individual.csv.sha1", "ffff000000000000000000000000000000000004"),
    ("laboratory/radiology.tsv", "aaaa000000000000000000000000000000000007"),
]

# Declared (sidecar) digests for join_verify_checksum: one mismatch.
DECLARED = [
    ("clinic/RDP-Patient.tsv", "aaaa000000000000000000000000000000000001"),
    ("clinic/RDP-IC.tsv", "aaaa000000000000000000000000000000000002"),
    ("studies/individual.csv", "deadbeef00000000000000000000000000000004"),
]

LOG_LINES = [
    (1, "DEBUG boot"),
    (2, "===== Luigi Execution Summary ====="),
    (3, "Scheduled 8 tasks of which:"),
    (4, "ERROR task Sources2CsrTransformation failed"),
    (5, "INFO luigi-interface ERROR retry scheduled"),
    (6, "ERROR task TransmartDataLoader failed"),
    (7, "===== Luigi Execution Summary ====="),
    (8, "ERROR after summary — outside slice"),
]


def _values(rows, cols: str) -> str:
    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        if isinstance(v, bool):
            return "true" if v else "false"
        return str(v)

    body = ", ".join(
        "(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    return f"(VALUES {body}) AS t({cols})"


def fixture_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Literal fixture -> DataFrame via pandas/Arrow.

    createDataFrame from a pandas frame ships Arrow batches straight to
    the JVM — no Python worker processes in the scan, which keeps these
    tiny fixture queries off the slow fork-a-worker path.
    """
    import pandas as pd
    names = [c.split()[0] for c in schema.split(",")]
    pdf = pd.DataFrame(rows, columns=[n.strip() for n in names])
    return spark.createDataFrame(pdf, schema)


def _manifest_df(spark: SparkSession, rows) -> DataFrame:
    return fixture_df(spark, rows, "path string, sha1 string")


def _log_df(spark: SparkSession) -> DataFrame:
    return fixture_df(spark, LOG_LINES, "lineno int, line string")


# ---------------------------------------------------------------- filters

@register(
    "filter_hidden",
    oracle=f"""
    SELECT path FROM {_values(OLD_MANIFEST, 'path, sha1')}
    WHERE split_part(path, '/', -1) NOT LIKE '.%'
      AND path NOT LIKE '%.sha1'
    """)
def filter_hidden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop hidden files and checksum sidecars from a manifest.

    Reference: scripts/sync.py:37-38,86-88,15-16.
    """
    m = _manifest_df(spark, OLD_MANIFEST)
    basename = F.substring_index(F.col("path"), "/", -1)
    return (m.filter(~basename.startswith(".")
                     & ~F.col("path").endswith(".sha1"))
            .select("path"))


@register(
    "filter_log_errors",
    oracle=f"""
    SELECT lineno, line FROM {_values(LOG_LINES, 'lineno, line')}
    WHERE line LIKE '%ERROR%' AND line NOT LIKE '%luigi-interface%'
    """)
def filter_log_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep ERROR lines that are not luigi-interface chatter.

    Reference: scripts/email_client.py:62-63.
    """
    log = _log_df(spark)
    return log.filter(F.col("line").contains("ERROR")
                      & ~F.col("line").contains("luigi-interface"))


@register(
    "slice_between_markers",
    oracle=f"""
    WITH log AS (SELECT * FROM {_values(LOG_LINES, 'lineno, line')}),
    marks AS (
      SELECT min(lineno) AS lo, max(lineno) AS hi FROM log
      WHERE line LIKE '%Luigi Execution Summary%'
    )
    SELECT lineno, line FROM log, marks
    WHERE lineno > marks.lo AND lineno < marks.hi
    """)
def slice_between_markers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lines strictly between the first and second summary marker.

    Reference: scripts/email_client.py:50-66.
    """
    log = _log_df(spark)
    marks = (log.filter(F.col("line").contains("Luigi Execution Summary"))
             .agg(F.min("lineno").alias("lo"), F.max("lineno").alias("hi")))
    return (log.crossJoin(marks)
            .filter((F.col("lineno") > F.col("lo"))
                    & (F.col("lineno") < F.col("hi")))
            .select("lineno", "line"))


@register(
    "win_marker_minmax",
    oracle=f"""
    SELECT min(lineno) AS first_marker, max(lineno) AS second_marker
    FROM {_values(LOG_LINES, 'lineno, line')}
    WHERE line LIKE '%Luigi Execution Summary%'
    """)
def win_marker_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/second occurrence index of the summary marker
    (scripts/email_client.py:55-61)."""
    log = _log_df(spark)
    return (log.filter(F.col("line").contains("Luigi Execution Summary"))
            .agg(F.min("lineno").alias("first_marker"),
                 F.max("lineno").alias("second_marker")))


@register(
    "pipeline_email_report",
    oracle=f"""
    WITH log AS (SELECT * FROM {_values(LOG_LINES, 'lineno, line')}),
    marks AS (SELECT min(lineno) AS lo, max(lineno) AS hi FROM log
              WHERE line LIKE '%Luigi Execution Summary%'),
    errs AS (SELECT count(*) AS n FROM log
             WHERE line LIKE '%ERROR%'
               AND line NOT LIKE '%luigi-interface%'),
    summ AS (SELECT count(*) AS n FROM log, marks
             WHERE lineno > marks.lo AND lineno < marks.hi)
    SELECT '[CSR] ERRORS: ' || errs.n AS subject,
           errs.n AS n_errors, summ.n AS n_summary_lines
    FROM errs, summ
    """)
def pipeline_email_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stage-5 failure report COMPOSED end-to-end (scripts/
    email_client.py:117-139): the log fixture flows through the real
    parse (marker slice + error filter) and compose (subject carries
    the error count) of plans/email_report.py — the same code the
    DagRunner failure path sends through the SMTP seam. Returns the
    composed subject + section sizes; the oracle restates the parse
    in SQL over the same fixture."""
    from pmc_conversion_spark.plans.email_report import (EmailConfig,
                                                         compose_report,
                                                         parse_log)
    lines = [line + "\n" for _, line in LOG_LINES]
    summary, errors = parse_log(lines)
    cfg = EmailConfig(sender="pipeline@example.org",
                      receivers=["ops@example.org"], prefix="[CSR]",
                      host="localhost", log_file="/var/log/pipeline.log")
    subject, _body = compose_report(cfg, summary, errors)
    return fixture_df(spark,
                      [(subject, len(errors), len(summary))],
                      "subject string, n_errors long, n_summary_lines long")


@register(
    "agg_count_errors",
    oracle=f"""
    SELECT count(*) AS n_errors FROM {_values(LOG_LINES, 'lineno, line')}
    WHERE line LIKE '%ERROR%' AND line NOT LIKE '%luigi-interface%'
    """)
def agg_count_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error count for the report subject (email_client.py:129-131)."""
    log = _log_df(spark)
    return (log.filter(F.col("line").contains("ERROR")
                       & ~F.col("line").contains("luigi-interface"))
            .agg(F.count(F.lit(1)).alias("n_errors")))


# ---------------------------------------------------------------- joins

@register(
    "join_pair_sidecar",
    oracle=f"""
    WITH m AS (SELECT * FROM {_values(OLD_MANIFEST, 'path, sha1')})
    SELECT d.path AS data_path, s.path AS checksum_path
    FROM m d JOIN m s ON d.path || '.sha1' = s.path
    WHERE d.path NOT LIKE '%.sha1'
    """)
def join_pair_sidecar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair data files with their ``<path>.sha1`` sidecars
    (scripts/sync.py:41-60)."""
    return J.pair_sidecars(_manifest_df(spark, OLD_MANIFEST))


@register(
    "join_anti_orphans",
    oracle=f"""
    WITH m AS (SELECT * FROM {_values(OLD_MANIFEST, 'path, sha1')}),
    d AS (SELECT path FROM m
          WHERE path NOT LIKE '%.sha1'
            AND split_part(path, '/', -1) NOT LIKE '.%'),
    s AS (SELECT path FROM m WHERE path LIKE '%.sha1')
    SELECT d.path, 'missing_checksum' AS problem FROM d
    WHERE NOT EXISTS (SELECT 1 FROM s WHERE s.path = d.path || '.sha1')
    UNION ALL
    SELECT s.path, 'orphan_checksum' AS problem FROM s
    WHERE NOT EXISTS (SELECT 1 FROM d WHERE s.path = d.path || '.sha1')
    """)
def join_anti_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data files without checksums and checksums without data — both are
    errors (scripts/sync.py:51-60)."""
    m = _manifest_df(spark, OLD_MANIFEST)
    basename = F.substring_index(F.col("path"), "/", -1)
    visible = m.filter(~basename.startswith("."))
    return J.sidecar_orphans(visible)


@register(
    "join_verify_checksum",
    oracle=f"""
    WITH c AS (SELECT path, sha1 AS computed_sha1
               FROM {_values(OLD_MANIFEST, 'path, sha1')}
               WHERE path IN ('clinic/RDP-Patient.tsv', 'clinic/RDP-IC.tsv',
                              'studies/individual.csv')),
    d AS (SELECT path, sha1 AS declared_sha1
          FROM {_values(DECLARED, 'path, sha1')})
    SELECT c.path, c.computed_sha1, d.declared_sha1
    FROM c FULL OUTER JOIN d ON c.path = d.path
    WHERE c.computed_sha1 IS NULL OR d.declared_sha1 IS NULL
       OR c.computed_sha1 <> d.declared_sha1
    """)
def join_verify_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Computed vs declared digest; mismatches surface (and raise in the
    pipeline layer). Reference: scripts/sync.py:66-74."""
    computed = _manifest_df(spark, OLD_MANIFEST).filter(
        F.col("path").isin("clinic/RDP-Patient.tsv", "clinic/RDP-IC.tsv",
                           "studies/individual.csv"))
    declared = _manifest_df(spark, DECLARED)
    return J.checksum_mismatches(computed, declared)


@register(
    "join_full_dirdiff",
    oracle=f"""
    WITH o AS (SELECT * FROM {_values(OLD_MANIFEST, 'path, sha1')}),
    n AS (SELECT * FROM {_values(NEW_MANIFEST, 'path, sha1')})
    SELECT COALESCE(o.path, n.path) AS path,
           COALESCE(o.sha1, n.sha1) AS sha1,
           CASE WHEN o.path IS NOT NULL AND n.path IS NOT NULL THEN 'unchanged'
                WHEN n.path IS NOT NULL THEN 'add'
                ELSE 'remove' END AS change
    FROM o FULL OUTER JOIN n ON o.path = n.path AND o.sha1 = n.sha1
    """)
def join_full_dirdiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classify (path, sha1) pairs add/remove/unchanged between snapshots
    (scripts/sync.py:125-139); a changed file is one add + one remove."""
    return J.dirdiff(_manifest_df(spark, OLD_MANIFEST),
                     _manifest_df(spark, NEW_MANIFEST))


# ---------------------------------------------------------------- aggs

@register(
    "agg_count_files",
    oracle=f"""
    WITH o AS (SELECT * FROM {_values(OLD_MANIFEST, 'path, sha1')}),
    n AS (SELECT * FROM {_values(NEW_MANIFEST, 'path, sha1')}),
    diff AS (
      SELECT CASE WHEN o.path IS NOT NULL AND n.path IS NOT NULL THEN 'unchanged'
                  WHEN n.path IS NOT NULL THEN 'add'
                  ELSE 'remove' END AS change
      FROM o FULL OUTER JOIN n ON o.path = n.path AND o.sha1 = n.sha1
    )
    SELECT change, count(*) AS n_files FROM diff GROUP BY change
    """)
def agg_count_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Files-to-add / files-to-remove counts (scripts/sync.py:160-168)."""
    diff = J.dirdiff(_manifest_df(spark, OLD_MANIFEST),
                     _manifest_df(spark, NEW_MANIFEST))
    return diff.groupBy("change").agg(F.count(F.lit(1)).alias("n_files"))


@register(
    "agg_manifest_digest",
    oracle=f"""
    SELECT string_agg(path || ' ' || sha1, chr(10) ORDER BY path || ' ' || sha1)
      AS digest
    FROM {_values(OLD_MANIFEST, 'path, sha1')}
    """)
def agg_manifest_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive directory fingerprint: sorted ``"path sha1"``
    lines joined by newline (luigi-pipeline/main.py:66-68)."""
    return A.manifest_digest(_manifest_df(spark, OLD_MANIFEST))


@register(
    "agg_set_equality",
    oracle="""
    SELECT 'old_vs_old' AS pair, true AS in_sync
    UNION ALL
    SELECT 'old_vs_new' AS pair, false AS in_sync
    """)
def agg_set_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two directories are in sync iff their (path, sha1) sets are equal
    (scripts/sync.py:121-122,177-180), via symmetric exceptAll."""
    old = _manifest_df(spark, OLD_MANIFEST)
    new = _manifest_df(spark, NEW_MANIFEST)
    same = A.set_equality(old, old).select(
        F.lit("old_vs_old").alias("pair"), "in_sync")
    diff = A.set_equality(old, new).select(
        F.lit("old_vs_new").alias("pair"), "in_sync")
    return same.unionByName(diff)


# ---------------------------------------------------------------- sorts

@register(
    "sort_manifest",
    oracle=f"""
    SELECT path, sha1,
           ROW_NUMBER() OVER (ORDER BY path) AS position
    FROM {_values(OLD_MANIFEST, 'path, sha1')}
    """)
def sort_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort checksum pairs by path before fingerprinting; the position
    column materializes the order (luigi-pipeline/main.py:67)."""
    m = _manifest_df(spark, OLD_MANIFEST)
    from pyspark.sql import Window
    return m.withColumn(
        "position", F.row_number().over(Window.orderBy("path")))
