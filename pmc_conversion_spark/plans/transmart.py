"""tranSMART staging model — stage 3→4 of the reference dataflow.

The reference transforms CSR entities into transmart-copy staging files
(``csr2transmart.csr2transmart(working_dir, transmart_staging_dir,
config, study_id, top_node)``, luigi-pipeline/main.py:122-126) and bulk
loads them with the transmart-copy Java tool (main.py:144-147;
"creating files that can be imported to TranSMART using transmart-copy",
README.md:177-179). The staging layout is the public transmart-copy
directory contract over the i2b2 star schema [ext-contract]:

    i2b2demodata/study.tsv
    i2b2demodata/trial_visit_dimension.tsv
    i2b2demodata/patient_dimension.tsv
    i2b2demodata/patient_mapping.tsv
    i2b2demodata/concept_dimension.tsv
    i2b2demodata/observation_fact.tsv
    i2b2metadata/i2b2_secure.tsv

Spark-first shape: every dimension is a bounded frame (patients,
concepts, study) built once; the fact table is the EAV unpivot joined
to the patient dimension on ``individual_id``. The patient join is an
equi-join that AQE converts to broadcast when the dimension is small;
the fact side never shuffles on anything but the join key. The
algorithm that numbers ``patient_num`` is picked by the size of the
Individual input (:data:`DRIVER_PATIENT_BYTES`). At or below the bound
the driver collects the ids in one job, sorts and numbers them, and
the numbers join back as a local frame by broadcast: no window, no
shuffle. Above it, the two-phase range-bucketed row_number
(:func:`~pmc_conversion_spark.operators.windows.surrogate_key_distributed`)
numbers them, so no stage sorts the whole patient table in one
partition.

A locally numbered dimension is cheap to recompute, so each table that
reads it recomputes it, and :func:`write_staging` writes all seven
tables at once. A distributed one is persisted by :func:`build_staging`
and filled before ``patient_mapping`` and ``observation_fact`` read it;
:func:`write_staging` releases it. A lost cached block is recomputed
safely, since the bucket ids are a pure function of the key (no
``localCheckpoint``: see ``operators/windows.py``).

i2b2 value-type conventions used (public i2b2 CDM): ``valtype_cd`` is
``N`` for numeric observations (``tval_char = 'E'`` meaning *equals*,
value in ``nval_num``), ``D`` for dates (ISO string in ``tval_char``),
``T`` for text; folders render ``FA``, leaves ``LA``, the study root
``CA`` in ``c_visualattributes``.
"""

from __future__ import annotations

import os
from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pmc_conversion_spark.operators.windows import (
    _leaf_input_bytes, surrogate_key_distributed)
from pmc_conversion_spark.plans.eav import unpivot_to_eav
from pmc_conversion_spark.plans.ontology import SEP

#: stage-3 attribute map: entity -> (key, extra_keys, {attr: kind}).
#: Concept codes become ``<Entity>.<attribute>`` (ontology_config.json:
#: 8,12,16); kinds drive the N/T/D value split.
OBS_ATTRS: Mapping[str, tuple[str, tuple[str, ...], dict[str, str]]] = {
    "Individual": ("individual_id", (), {
        "birth_date": "date", "gender": "text", "death_date": "date",
        "ic_type": "text", "ic_given_date": "date",
        "ic_withdrawn_date": "date", "report_her_susc": "date"}),
    "Diagnosis": ("individual_id", ("diagnosis_id",), {
        "tumor_type": "text", "topography": "text", "tumor_stage": "text",
        "diagnosis_date": "date", "diagnosis_center": "text"}),
}


def csr_observations(csr: Mapping[str, DataFrame]) -> DataFrame:
    """Union the EAV unpivot of every entity in :data:`OBS_ATTRS`.

    Output: (individual_id, concept_cd, nval_num, tval_char, dval,
    instance_num). Map-side only per entity (stack + window inside the
    entity's own partitioning); the union is a plan-level concat, not a
    shuffle.
    """
    parts = []
    for entity, (key, extra, attrs) in OBS_ATTRS.items():
        if entity not in csr:
            continue
        obs = unpivot_to_eav(csr[entity], entity=entity, key=key,
                             attrs=attrs, extra_keys=extra)
        parts.append(obs.select(
            F.col(key).alias("individual_id"), "concept_cd", "nval_num",
            "tval_char", "dval", "instance_num"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


#: Largest Individual input, in leaf bytes (Catalyst's size of the
#: scanned files), whose ids are numbered on the driver: about 285k
#: patients in ``perfbench.clinical``'s format (58.5 bytes each). Set by
#: speed, well below what the driver can hold. csr2transmart's build and
#: write, warm, local[4] on a 4-core host, driver against distributed:
#: 12.0-13.3 s against 11.2-13.6 s at 3*10^5 patients (17.5 MB), and a
#: 3.6 s build against 0.6 s at 10^6 (58.7 MB) with the writes level.
#: The driver's peak RSS at 3*10^5 was 248 MB (its JVM's 3.1 GB).
DRIVER_PATIENT_BYTES = 1 << 24


def _numbered(individual: DataFrame) -> tuple[DataFrame, bool]:
    """``individual`` with a dense ``patient_num`` in ``individual_id``
    order, and whether the numbering ran distributed.

    At or below :data:`DRIVER_PATIENT_BYTES` the ids are collected in
    one job, as one Arrow column (``collect()`` of a million Rows takes
    4-5 s, the Arrow path 1 s), and sorted in Spark's string order,
    nulls first: Python compares ``str`` by code point, which is the
    UTF-8 byte order Spark compares by. An unknown size, or a repeated
    id (numbering rows, not ids, needs the window), takes the
    distributed path."""
    size = _leaf_input_bytes(individual, unknown=None)
    if size is not None and size <= DRIVER_PATIENT_BYTES:
        import pandas as pd
        ids = individual.select("individual_id").toPandas()["individual_id"]
        if ids.is_unique:
            nulls = ids.isna()
            ids = [None] * int(nulls.sum()) + sorted(ids[~nulls].tolist())
            nums = individual.sparkSession.createDataFrame(
                pd.DataFrame({"__id": ids,
                              "patient_num": range(1, len(ids) + 1)}),
                "__id string, patient_num int")
            return (individual.join(F.broadcast(nums),
                                    individual["individual_id"]
                                    .eqNullSafe(nums["__id"]))
                    .drop("__id"), False)
    return surrogate_key_distributed(individual, "individual_id",
                                     out_col="patient_num"), True


def patient_dimension(individual: DataFrame) -> DataFrame:
    """i2b2 ``patient_dimension``: dense ``patient_num`` surrogate keys
    ordered by ``individual_id`` (numbered on the driver at or below
    :data:`DRIVER_PATIENT_BYTES`, by the two-phase distributed
    row_number above it — never a single-partition sort), demographics
    from the Individual entity."""
    return _demographics(_numbered(individual)[0])


def _demographics(pats: DataFrame) -> DataFrame:
    return pats.select(
        "patient_num",
        F.col("individual_id").alias("patient_ide"),
        F.col("gender").alias("sex_cd"),
        F.col("birth_date").cast("date").alias("birth_date"),
        F.col("death_date").cast("date").alias("death_date"))


def patient_mapping(patients: DataFrame,
                    ide_source: str = "SUBJ_ID") -> DataFrame:
    """transmart-copy ``patient_mapping``: external subject id →
    ``patient_num`` (source tag ``SUBJ_ID`` [ext-contract])."""
    return patients.select(
        F.col("patient_ide"),
        F.lit(ide_source).alias("patient_ide_source"),
        "patient_num")


def concept_dimension(ontology: DataFrame) -> DataFrame:
    """i2b2 ``concept_dimension``: one row per ontology LEAF — concept
    code, full path (trailing separator, i2b2 convention), display
    name."""
    return (ontology.filter(F.col("concept_code").isNotNull())
            .select(F.col("concept_code").alias("concept_cd"),
                    F.concat(F.col("path"), F.lit(SEP))
                    .alias("concept_path"),
                    F.col("name").alias("name_char")))


def tree_table(ontology: DataFrame, top_node: str) -> DataFrame:
    """``i2b2_secure`` metadata tree: the flattened ontology plus a root
    row for the configured top node (luigi.cfg-sample:31).

    ``c_visualattributes``: ``LA`` leaf / ``FA`` folder / ``CA`` root
    (public i2b2 convention); ``m_applied_path = '@'`` for plain
    concepts.
    """
    from pmc_conversion_spark.util import local_df
    spark = ontology.sparkSession
    root_name = top_node.strip(SEP)
    root = local_df(
        spark, [(0, SEP + root_name + SEP, root_name, None, "CA", "@")],
        "c_hlevel int, c_fullname string, c_name string, "
        "c_basecode string, c_visualattributes string, "
        "m_applied_path string")
    nodes = ontology.select(
        F.col("depth").alias("c_hlevel"),
        F.concat(F.col("path"), F.lit(SEP)).alias("c_fullname"),
        F.col("name").alias("c_name"),
        F.col("concept_code").alias("c_basecode"),
        F.when(F.col("concept_code").isNotNull(), F.lit("LA"))
        .otherwise(F.lit("FA")).alias("c_visualattributes"),
        F.lit("@").alias("m_applied_path"))
    return root.unionByName(nodes)


def study_frame(spark: SparkSession, study_id: str) -> DataFrame:
    """transmart-copy ``study``: a single row binding the study id to
    its secure object token (``PUBLIC`` — the reference loads one open
    study per pipeline run, luigi.cfg-sample:30)."""
    from pmc_conversion_spark.util import local_df
    return local_df(
        spark, [(1, study_id, "PUBLIC")],
        "study_num int, study_id string, secure_obj_token string")


def trial_visit_frame(study: DataFrame) -> DataFrame:
    """transmart-copy ``trial_visit_dimension``: one default trial visit
    per study (cross-sectional registry data has no relative time)."""
    return study.select(
        F.col("study_num").alias("trial_visit_num"),
        "study_num",
        F.lit("General").alias("rel_time_label"))


def observation_fact(obs: DataFrame, patients: DataFrame,
                     trial_visit_num: int = 1) -> DataFrame:
    """i2b2 ``observation_fact``: EAV observations keyed by surrogate
    ``patient_num`` with the N/T/D value-type split.

    The join against the patient dimension is a plain equi-join on
    ``individual_id`` — AQE broadcasts the dimension when it is small;
    at scale both sides hash-partition on the same key and the fact
    table shuffles exactly once.
    """
    joined = obs.join(patients.select("patient_ide", "patient_num"),
                      obs.individual_id == F.col("patient_ide"),
                      "inner")
    valtype = (F.when(F.col("nval_num").isNotNull(), F.lit("N"))
               .when(F.col("dval").isNotNull(), F.lit("D"))
               .otherwise(F.lit("T")))
    tval = (F.when(F.col("nval_num").isNotNull(), F.lit("E"))
            .when(F.col("dval").isNotNull(),
                  F.date_format(F.col("dval"), "yyyy-MM-dd"))
            .otherwise(F.col("tval_char")))
    return joined.select(
        "patient_num",
        "concept_cd",
        F.col("instance_num").cast("int").alias("instance_num"),
        F.lit(trial_visit_num).alias("trial_visit_num"),
        valtype.alias("valtype_cd"),
        tval.alias("tval_char"),
        F.col("nval_num"))


#: staging file layout: relative path -> builder key
STAGING_LAYOUT = {
    "i2b2demodata/study.tsv": "study",
    "i2b2demodata/trial_visit_dimension.tsv": "trial_visit_dimension",
    "i2b2demodata/patient_dimension.tsv": "patient_dimension",
    "i2b2demodata/patient_mapping.tsv": "patient_mapping",
    "i2b2demodata/concept_dimension.tsv": "concept_dimension",
    "i2b2demodata/observation_fact.tsv": "observation_fact",
    "i2b2metadata/i2b2_secure.tsv": "i2b2_secure",
}

#: the tables built on a persisted ``patient_dimension``, written once
#: it is filled
_PATIENT_READERS = {"patient_mapping", "observation_fact"}


def build_staging(spark: SparkSession, csr: Mapping[str, DataFrame],
                  ontology: DataFrame, study_id: str,
                  top_node: str) -> dict[str, DataFrame]:
    """Assemble every staging table (keys = :data:`STAGING_LAYOUT`
    values). At or below :data:`DRIVER_PATIENT_BYTES` this runs the one
    job that collects the patient ids, and persists nothing. Above it
    the distributed ``patient_dimension`` frame is persisted, so the
    three tables built on it share one computation;
    :func:`write_staging` unpersists it, a caller that does not write
    must do so itself."""
    study = study_frame(spark, study_id)
    numbered, distributed = _numbered(csr["Individual"])
    pats = _demographics(numbered)
    if distributed:
        pats = pats.persist()
    obs = csr_observations(csr)
    return {
        "study": study,
        "trial_visit_dimension": trial_visit_frame(study),
        "patient_dimension": pats,
        "patient_mapping": patient_mapping(pats),
        "concept_dimension": concept_dimension(ontology),
        "observation_fact": observation_fact(obs, pats),
        "i2b2_secure": tree_table(ontology, top_node),
    }


def write_staging(tables: Mapping[str, DataFrame], out_dir: str) -> None:
    """Write the staging directory (the stage-4 input, main.py:144-147),
    each table a part-file directory, not transmart-copy's one file;
    then release the patient dimension if :func:`build_staging`
    persisted it.

    The tables are independent, so they are written concurrently
    (:func:`~pmc_conversion_spark.sources.sinks.write_tsv_all`). A
    locally numbered patient dimension is recomputed by each reader,
    so all seven go in one wave. A persisted one takes two: the first
    writes ``patient_dimension``, which fills the cache, beside the
    four tables that do not read it; the second writes
    ``patient_mapping`` and ``observation_fact`` from the filled cache.
    Written beside ``patient_dimension``, each would compute the
    distributed numbering again.
    """
    from pmc_conversion_spark.sources.sinks import write_tsv_all

    def wave(patient_readers: bool) -> dict[str, DataFrame]:
        return {os.path.join(out_dir, rel): tables[key].select(
                    [F.col(c).cast("string") for c in tables[key].columns])
                for rel, key in STAGING_LAYOUT.items()
                if (key in _PATIENT_READERS) == patient_readers}

    pats = tables["patient_dimension"]
    if not pats.is_cached:
        write_tsv_all({**wave(False), **wave(True)})
        return
    try:
        write_tsv_all(wave(False))
        write_tsv_all(wave(True))
    finally:
        pats.unpersist()
