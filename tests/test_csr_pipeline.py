"""sources2csr + EAV + ontology + incremental semantics, incl. the
reference's error paths (duplicate ids raise, missing columns raise) and
the PAT2-removal incremental-rerun scenario (test_data_e2e/README:15-18).
"""

from __future__ import annotations

import contextlib
import dataclasses
import datetime

import pytest
from pyspark.sql import functions as F

from pmc_conversion_spark.operators.joins import priority_merge
from pmc_conversion_spark.plans import config_model as CM
from pmc_conversion_spark.plans.eav import unpivot_to_eav
from pmc_conversion_spark.plans.ontology import bind_observations, flatten_tree
from pmc_conversion_spark.plans.sources2csr import (
    DuplicateIdError, build_all, build_entity)
from pmc_conversion_spark.queries.pipeline import (
    CSR_EXPECT, INDIVIDUAL_ENTITY, SOURCES_CONFIG, _csr_individual)


def test_priority_merge_semantics(spark):
    rows = {r.individual_id: (r.birth_date, r.gender)
            for r in _csr_individual(spark).collect()}
    expect = {pid: (datetime.date.fromisoformat(bd) if bd else None, g)
              for pid, bd, g in CSR_EXPECT}
    assert rows == expect


#: a 2-file entity whose attributes disagree on precedence: ``a``
#: prefers f1, ``b`` prefers f2
PREC_ENTITY = CM.EntityConfig(name="E", id_attr="id", attributes=(
    CM.Attribute("id", "text", (CM.SourceRef("f1"), CM.SourceRef("f2"))),
    CM.Attribute("a", "text", (CM.SourceRef("f1"), CM.SourceRef("f2"))),
    CM.Attribute("b", "text", (CM.SourceRef("f2"), CM.SourceRef("f1")))))
PREC_F1 = [("K1", "a1", "b1"), ("K2", None, "b1"), ("K3", "a1", None),
           (None, "a1", "b1")]
PREC_F2 = [("K1", "a2", "b2"), ("K2", "a2", None), ("K3", None, None),
           ("K4", "a2", "b2"), (None, "a2", "b2")]
#: id -> (a, b); the NULL-id rows of both files are dropped
PREC_EXPECT = {
    "K1": ("a1", "b2"),   # each attribute takes its own first file
    "K2": ("a2", "b1"),   # NULL in the winning file falls through
    "K3": ("a1", None),   # NULL in both files stays NULL
    "K4": ("a2", "b2"),   # only in the lower-priority file for a
}


@pytest.mark.parametrize("route", ["build_entity", "priority_merge"])
def test_per_attribute_precedence(spark, fixture_df, route):
    f1 = fixture_df(PREC_F1, "id string, a string, b string")
    f2 = fixture_df(PREC_F2, "id string, a string, b string")
    if route == "build_entity":
        out = build_entity({"f1": f1, "f2": f2}, PREC_ENTITY,
                           CM.SourcesConfig(entities=(PREC_ENTITY,)))
    else:
        out = priority_merge([f1, f2], "id", ["a", "b"],
                             priority={"a": [0, 1], "b": [1, 0]})
    assert out.columns == ["id", "a", "b"]
    rows = out.collect()
    assert len(rows) == len(PREC_EXPECT)
    assert {r.id: (r.a, r.b) for r in rows} == PREC_EXPECT


#: a single-source entity next to the 2-source Individual
STUDY_ENTITY = CM.EntityConfig(name="Study", id_attr="study_id", attributes=(
    CM.Attribute("study_id", "text", (CM.SourceRef("study.csv", "STUDY_ID"),)),
    CM.Attribute("title", "text", (CM.SourceRef("study.csv", "title"),))))
RDP_OK = [("PAT1", "15AUG2000", "M")]
IND_OK = [("PAT1", "1", ""), ("PAT2", "2", "")]
STUDY_OK = [("S1", "one"), ("S2", "two")]


@pytest.mark.parametrize("rdp, ind, study, raises", [
    pytest.param([("PAT1", "15AUG2000", "M"), ("PAT1", "16AUG2000", "V")],
                 IND_OK, STUDY_OK, True, id="first-source"),
    pytest.param(RDP_OK, IND_OK + [("PAT2", "9", "")], STUDY_OK, True,
                 id="lower-priority-source"),
    pytest.param(RDP_OK, IND_OK, STUDY_OK + [("S1", "again")], True,
                 id="single-source-entity"),
    pytest.param(RDP_OK + [(None, "", "M"), (None, "", "V")],
                 IND_OK + [(None, "1", ""), (None, "2", "")], STUDY_OK,
                 False, id="repeated-null-id"),
])
def test_duplicate_ids_raise(spark, fixture_df, rdp, ind, study, raises):
    """Duplicates raise inside ``build_all``, before the caller runs any
    action on its frames."""
    frames = {
        "RDP-Patient.tsv": fixture_df(
            rdp, "INDIVIDUAL_ID string, Gebdat string, Geslacht string"),
        "individual.csv": fixture_df(
            ind, "INDIVIDUAL_ID string, SEX string, DTOB string"),
        "study.csv": fixture_df(study, "STUDY_ID string, title string"),
    }
    config = dataclasses.replace(
        SOURCES_CONFIG, entities=(INDIVIDUAL_ENTITY, STUDY_ENTITY))
    with (pytest.raises(DuplicateIdError) if raises
          else contextlib.nullcontext()):
        build_all(frames, config, codebooks={})


def test_missing_declared_column_raises(spark, fixture_df):
    frames = {
        "RDP-Patient.tsv": fixture_df(
            [("PAT1", "x")], "INDIVIDUAL_ID string, WrongCol string"),
        "individual.csv": fixture_df(
            [("PAT1", "1", "")],
            "INDIVIDUAL_ID string, SEX string, DTOB string"),
    }
    with pytest.raises(ValueError, match="missing from header"):
        build_entity(frames, INDIVIDUAL_ENTITY, SOURCES_CONFIG)


def test_eav_instance_numbering_multi_instance(spark, fixture_df):
    """2 diagnoses for one patient => instance_num 1 and 2 (diagnosis.csv
    has 19 diagnoses over 17 individuals)."""
    diag = fixture_df(
        [("PAT1", "DIA1", "melanoma"), ("PAT1", "DIA2", "neuroblastoma"),
         ("PAT2", "DIA3", "")],
        "individual_id string, diagnosis_id string, tumor_type string")
    obs = unpivot_to_eav(diag, entity="Diagnosis", key="individual_id",
                         attrs={"tumor_type": "text"},
                         extra_keys=["diagnosis_id"])
    got = {(r.diagnosis_id, r.instance_num, r.tval_char)
           for r in obs.collect()}
    # PAT2's empty tumor_type produces no observation
    assert got == {("DIA1", 1, "melanoma"), ("DIA2", 2, "neuroblastoma")}


def test_eav_numeric_dispatch(spark, fixture_df):
    bio = fixture_df([("BIO1", "25"), ("BIO2", "abc"), ("BIO3", None)],
                     "biosource_id string, tumor_percentage string")
    obs = unpivot_to_eav(bio, entity="Biosource", key="biosource_id",
                         attrs={"tumor_percentage": "numeric"})
    got = {(r.biosource_id, r.nval_num) for r in obs.collect()}
    # 'abc' -> observation exists (raw non-empty) with NULL numeric value;
    # NULL -> no observation at all
    assert got == {("BIO1", 25.0), ("BIO2", None)}


def test_ontology_flatten_and_bind(spark, fixture_df):
    nodes = [{"name": "01. A", "children": [
        {"name": "01. Leaf", "concept_code": "E.x"}]}]
    rows = flatten_tree(nodes, "\\Top")
    assert [r["path"] for r in rows] == ["\\Top\\01. A", "\\Top\\01. A\\01. Leaf"]
    from pmc_conversion_spark.plans.ontology import ontology_df
    ont = ontology_df(spark, nodes, "\\Top")
    obs = fixture_df([("PAT1", "E.x"), ("PAT2", "E.unknown")],
                     "patient_id string, concept_cd string")
    bound = bind_observations(obs, ont).collect()
    by_pat = {r.patient_id: r.path for r in bound}
    assert by_pat["PAT1"] == "\\Top\\01. A\\01. Leaf"
    assert by_pat["PAT2"] is None  # unbound concept keeps the observation


def test_incremental_pat2_removal(spark, tmp_path):
    """The reference's change-detection e2e: full dataset vs the same
    minus PAT2 must trigger a re-run; re-running unchanged input skips
    (test_data_e2e/README.md:15-18)."""
    from pmc_conversion_spark.plans.incremental import (
        DagRunner, SignalStore, Task)
    drop = tmp_path / "drop"
    drop.mkdir()
    f = drop / "individual.csv"
    f.write_text("INDIVIDUAL_ID,SEX\nPAT1,1\nPAT2,2\nPAT3,9\n")
    ran = []
    t = Task("sources2csr", [str(drop)], lambda: ran.append(1))
    runner = DagRunner(spark, SignalStore(str(tmp_path / "sig")))
    assert runner.run_pipeline([t]) == [("sources2csr", "ran")]
    assert runner.run_pipeline([t]) == [("sources2csr", "skipped")]
    # remove PAT2 (the 'alternative' dataset)
    f.write_text("INDIVIDUAL_ID,SEX\nPAT1,1\nPAT3,9\n")
    assert runner.run_pipeline([t]) == [("sources2csr", "ran")]
    assert len(ran) == 2


def test_config_from_json_roundtrip():
    cfg = CM.from_json_dict({
        "entities": {"Individual": {
            "id_attribute": "individual_id",
            "attributes": [
                {"name": "individual_id",
                 "sources": [{"file": "a.tsv", "column": "ID"}]},
                {"name": "birth_date", "kind": "date",
                 "sources": [{"file": "a.tsv", "column": "Gebdat",
                              "date_format": "ddMMMyyyy"}]},
            ]}},
        "file_format": {"a.tsv": {"delimiter": ",", "codebook": "cb"}},
        "codebook_columns": {"a.tsv": ["SEX"]},
    })
    e = cfg.entities[0]
    assert e.name == "Individual" and e.id_attr == "individual_id"
    assert e.attr("birth_date").sources[0].date_format == "ddMMMyyyy"
    assert cfg.fmt("a.tsv").delimiter == ","
    assert cfg.fmt("a.tsv").codebook == "cb"
    assert cfg.fmt("unknown.tsv").delimiter == "\t"
