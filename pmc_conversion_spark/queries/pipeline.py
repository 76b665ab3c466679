"""Registry: CSR pipeline composites (SURVEY.md §2, §7.2-7.3) — the
sources2csr compiler, EAV unpivot, ontology tree, incremental DAG, and
post-load polling, each on reference-shaped literal fixtures with
hand-written expected-value oracles.

These are the parity evidence for the reference's actual dataflow: the
fixtures mirror RDP-Patient.tsv / individual.csv / the codebook /
ontology_config.json shapes (FIXTURES.md), and the oracles are expected
outputs written by hand from the reference semantics — not derived from
the implementation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pmc_conversion_spark import tables
from pmc_conversion_spark.plans import config_model as CM
from pmc_conversion_spark.plans import ontology as ONT
from pmc_conversion_spark.plans import post_load as PL
from pmc_conversion_spark.plans.eav import unpivot_to_eav
from pmc_conversion_spark.plans.sources2csr import build_entity
from pmc_conversion_spark.queries import register
from pmc_conversion_spark.queries.manifest import _values, fixture_df

# --------------------------------------------------------------------
# Fixture: two patient sources + codebook, shaped like the reference's
# clinic/RDP-Patient.tsv and studies/individual.csv (FIXTURES.md §1-2).
# --------------------------------------------------------------------

RDP_PATIENT_ROWS = [           # INDIVIDUAL_ID, Gebdat, Geslacht
    ("PAT1", "15AUG2000", "M"),
    ("PAT3", "01JAN1999", "V"),
    ("PAT4", "", ""),
]
INDIVIDUAL_CSV_ROWS = [        # INDIVIDUAL_ID, SEX, DTOB
    ("PAT1", "1", "01/01/1990 0:00:00"),   # loses to RDP on both attrs
    ("PAT2", "2", "15/09/2000 0:00:00"),
    ("PAT4", "9", "24/04/2018 0:00:00"),   # fills RDP's empty cells
    ("PAT5", "7", ""),                     # unmapped code stays raw
]
CODEBOOK_ROWS = [              # column, code, label
    ("Geslacht", "M", "male"), ("Geslacht", "V", "female"),
    ("SEX", "1", "male"), ("SEX", "2", "female"), ("SEX", "9", "unknown"),
]

INDIVIDUAL_ENTITY = CM.EntityConfig(
    name="Individual", id_attr="individual_id",
    attributes=(
        CM.Attribute("individual_id", "text", (
            CM.SourceRef("RDP-Patient.tsv", "INDIVIDUAL_ID"),
            CM.SourceRef("individual.csv", "INDIVIDUAL_ID"))),
        CM.Attribute("birth_date", "date", (
            CM.SourceRef("RDP-Patient.tsv", "Gebdat", "ddMMMyyyy"),
            CM.SourceRef("individual.csv", "DTOB", "dd/MM/yyyy H:mm:ss"))),
        CM.Attribute("gender", "text", (
            CM.SourceRef("RDP-Patient.tsv", "Geslacht"),
            CM.SourceRef("individual.csv", "SEX"))),
    ))

SOURCES_CONFIG = CM.SourcesConfig(
    entities=(INDIVIDUAL_ENTITY,),
    file_formats={
        "RDP-Patient.tsv": CM.FileFormat("\t", codebook="codebook"),
        "individual.csv": CM.FileFormat(",", codebook="codebook"),
    },
    codebook_columns={"RDP-Patient.tsv": ["Geslacht"],
                      "individual.csv": ["SEX"]})

# Expected CSR rows, derived BY HAND from the reference semantics
# (priority merge + codebook + date normalization):
CSR_EXPECT = [
    ("PAT1", "2000-08-15", "male"),      # RDP wins both attributes
    ("PAT2", "2000-09-15", "female"),    # only in individual.csv
    ("PAT3", "1999-01-01", "female"),    # only in RDP
    ("PAT4", "2018-04-24", "unknown"),   # RDP empty -> falls through
    ("PAT5", None, "7"),                 # unmapped code kept raw
]


def _csr_individual(spark: SparkSession) -> DataFrame:
    frames = {
        "RDP-Patient.tsv": fixture_df(
            spark, RDP_PATIENT_ROWS,
            "INDIVIDUAL_ID string, Gebdat string, Geslacht string"),
        "individual.csv": fixture_df(
            spark, INDIVIDUAL_CSV_ROWS,
            "INDIVIDUAL_ID string, SEX string, DTOB string"),
    }
    return build_entity(frames, INDIVIDUAL_ENTITY, SOURCES_CONFIG,
                        {"codebook": CODEBOOK_ROWS})


@register(
    "pipeline_sources2csr",
    oracle=f"""
    SELECT individual_id, birth_date::DATE AS birth_date, gender
    FROM {_values(CSR_EXPECT, 'individual_id, birth_date, gender')}
    """)
def pipeline_sources2csr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sources2csr compiler end-to-end on reference-shaped fixtures:
    per-attribute priority merge (sources_config.json:5-49) + codebook
    decode (:459-464) + multi-format date normalization. Expected rows
    hand-derived from reference semantics (SURVEY §7.4 risks 1-3)."""
    return _csr_individual(spark)


# Expected EAV rows from CSR_EXPECT (hand-written): empty values produce
# no observation; instance_num is 1 (one entity instance per patient).
EAV_EXPECT = [
    ("PAT1", "Individual.birth_date", "2000-08-15", None, 1),
    ("PAT1", "Individual.gender", None, "male", 1),
    ("PAT2", "Individual.birth_date", "2000-09-15", None, 1),
    ("PAT2", "Individual.gender", None, "female", 1),
    ("PAT3", "Individual.birth_date", "1999-01-01", None, 1),
    ("PAT3", "Individual.gender", None, "female", 1),
    ("PAT4", "Individual.birth_date", "2018-04-24", None, 1),
    ("PAT4", "Individual.gender", None, "unknown", 1),
    ("PAT5", "Individual.gender", None, "7", 1),
]


@register(
    "pipeline_eav_unpivot",
    oracle=f"""
    SELECT individual_id, concept_cd, dval::DATE AS dval,
           tval_char, instance_num
    FROM {_values(EAV_EXPECT,
                  'individual_id, concept_cd, dval, tval_char, instance_num')}
    """)
def pipeline_eav_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSR -> EAV observations: stack unpivot with numeric/text/date
    dispatch, null-dropping, and instance numbering (stage 3 of the
    reference dataflow; concept codes <Entity>.<attribute>)."""
    csr = _csr_individual(spark)
    obs = unpivot_to_eav(
        csr, entity="Individual", key="individual_id",
        attrs={"birth_date": "date", "gender": "text"})
    return obs.select("individual_id", "concept_cd", "dval", "tval_char",
                      "instance_num")


# --------------------------------------------------------------------
# Ontology fixture shaped like ontology_config.json:2-190.
# --------------------------------------------------------------------

ONTOLOGY_NODES = [
    {"name": "02. Diagnosis information", "children": [
        {"name": "01. Tumor type", "concept_code": "Diagnosis.tumor_type"},
        {"name": "02. Diagnosis date", "concept_code": "Diagnosis.date"},
    ]},
    {"name": "01. Patient information", "children": [
        {"name": "01. Gender", "concept_code": "Individual.gender"},
        {"name": "02. Birth date", "concept_code": "Individual.birth_date"},
    ]},
]
TOP = "\\Central Subject Registry"

# Hand-written expected flatten (siblings sorted by their 01./02.
# prefixes; depth-first sort_order):
ONTOLOGY_EXPECT = [
    (TOP + "\\01. Patient information", "01. Patient information", None, 1, 1),
    (TOP + "\\01. Patient information\\01. Gender", "01. Gender",
     "Individual.gender", 2, 2),
    (TOP + "\\01. Patient information\\02. Birth date", "02. Birth date",
     "Individual.birth_date", 2, 3),
    (TOP + "\\02. Diagnosis information", "02. Diagnosis information",
     None, 1, 4),
    (TOP + "\\02. Diagnosis information\\01. Tumor type", "01. Tumor type",
     "Diagnosis.tumor_type", 2, 5),
    (TOP + "\\02. Diagnosis information\\02. Diagnosis date",
     "02. Diagnosis date", "Diagnosis.date", 2, 6),
]


@register(
    "pipeline_ontology_flatten",
    oracle=f"""
    SELECT path, name, concept_code, depth, sort_order
    FROM {_values(ONTOLOGY_EXPECT,
                  'path, name, concept_code, depth, sort_order')}
    """)
def pipeline_ontology_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Config tree -> (path, name, concept_code, depth, sort_order)
    rows; numeric name prefixes define display order
    (ontology_config.json:4,7,11,15)."""
    return ONT.ontology_df(spark, ONTOLOGY_NODES, TOP)


@register(
    "f_path_build",
    oracle=f"""
    SELECT path, concept_code
    FROM {_values([(r[0], r[2]) for r in ONTOLOGY_EXPECT if r[2]],
                  'path, concept_code')}
    """)
def f_path_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """c_fullname = '\\'-joined node names rooted at top_node
    (luigi.cfg-sample:31) — the leaf bindings used to join observations
    into the tree."""
    ont = ONT.ontology_df(spark, ONTOLOGY_NODES, TOP)
    return (ont.filter(F.col("concept_code").isNotNull())
            .select("path", "concept_code"))


@register(
    "sort_ontology_nodes",
    oracle=f"""
    SELECT name, ROW_NUMBER() OVER (ORDER BY name) AS display_pos
    FROM (SELECT DISTINCT name
          FROM {_values([(r[1],) for r in ONTOLOGY_EXPECT], 'name')})
    """)
def sort_ontology_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``01.``-style numeric prefixes make lexicographic order the
    display order (ontology_config.json:4,7,11,15)."""
    from pyspark.sql import Window
    ont = ONT.ontology_df(spark, ONTOLOGY_NODES, TOP)
    return (ont.select("name").distinct()
            .withColumn("display_pos",
                        F.row_number().over(Window.orderBy("name"))))


# --------------------------------------------------------------------
# Incremental DAG: done-signal skip semantics on real temp dirs.
# --------------------------------------------------------------------

@register(
    "pipeline_incremental",
    oracle="""
    SELECT * FROM (VALUES
      (1, 'sync',      'ran'),
      (1, 'transform', 'ran'),
      (2, 'sync',      'skipped'),
      (2, 'transform', 'skipped'),
      (3, 'sync',      'ran'),
      (3, 'transform', 'ran')) AS t(run, task, status)
    """)
def pipeline_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Done-signal protocol end-to-end (luigi_commons.py:17-28,69-80):
    run 1 executes both stages; run 2 (nothing changed) skips both;
    run 3 (input file changed) re-runs the chain. Fingerprints are
    manifest digests over real directories, hashed on the driver."""
    from pmc_conversion_spark.plans.incremental import (
        DagRunner, SignalStore, Task)
    from pmc_conversion_spark.sources.scans import scan_csv_delim
    from pmc_conversion_spark.sources.sinks import write_tsv
    from pmc_conversion_spark.util import scratch_dir

    root = scratch_dir("pipeline_incremental")
    drop = os.path.join(root, "drop")
    staged = os.path.join(root, "staged")
    out = os.path.join(root, "out")
    os.makedirs(drop, exist_ok=True)
    with open(os.path.join(drop, "data.tsv"), "w") as f:
        f.write("k\tv\na\t1\nb\t2\n")

    def sync():
        df = scan_csv_delim(spark, drop, schema="k string, v int")
        write_tsv(df, staged, single_file=True)

    def transform():
        df = scan_csv_delim(spark, staged, schema="k string, v int")
        write_tsv(df.withColumn("v2", F.col("v") * 2), out, single_file=True)

    signals = SignalStore(root)
    runner = DagRunner(spark, signals)
    t_sync = Task("sync", [drop], sync)
    t_tf = Task("transform", [staged], transform, required_tasks=[t_sync])

    results = []
    for run in (1, 2):
        for task, status in runner.run_pipeline([t_sync, t_tf]):
            results.append((run, task, status))
    with open(os.path.join(drop, "data.tsv"), "a") as f:
        f.write("c\t3\n")
    for task, status in runner.run_pipeline([t_sync, t_tf]):
        results.append((3, task, status))
    return fixture_df(spark, results, "run int, task string, status string")


@register(
    "stream_poll_status",
    oracle="""
    WITH ev AS (SELECT * FROM (VALUES
      (1, 1, 'RUNNING'), (1, 2, 'RUNNING'), (1, 3, 'COMPLETED'),
      (2, 1, 'RUNNING'), (2, 2, 'FAILED'), (2, 3, 'COMPLETED'),
      (3, 1, 'RUNNING'), (3, 2, 'RUNNING')) AS t(job_id, seq, status))
    SELECT job_id,
           coalesce((SELECT status FROM ev e2
                     WHERE e2.job_id = ev.job_id
                       AND e2.status IN ('COMPLETED', 'FAILED')
                     ORDER BY seq LIMIT 1), 'TIMEOUT') AS final_status
    FROM ev GROUP BY job_id
    """)
def stream_poll_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Async status polling (transmart_api_calls.py:95-113) in its batch
    form: first terminal state per job by sequence, else TIMEOUT; the
    driver-side loop (plans/post_load.poll_status) shares the terminal-
    state contract and is unit-tested."""
    ev = fixture_df(spark, [
        (1, 1, "RUNNING"), (1, 2, "RUNNING"), (1, 3, "COMPLETED"),
        (2, 1, "RUNNING"), (2, 2, "FAILED"), (2, 3, "COMPLETED"),
        (3, 1, "RUNNING"), (3, 2, "RUNNING"),
    ], "job_id int, seq int, status string")
    return PL.final_status_per_job(ev)
