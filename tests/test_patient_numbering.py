"""``patient_num`` on both sides of ``transmart.DRIVER_PATIENT_BYTES``:
numbered on the driver at or below the bound, by
``surrogate_key_distributed`` above it, with the same numbers."""

from __future__ import annotations

import os

import pytest
from conftest import jobs_run_by

from pmc_conversion_spark.plans import transmart as TM
from pmc_conversion_spark.util import local_df

#: ``PAT10`` sorts before ``PAT2``; the non-ASCII ids pin UTF-8 byte
#: order (``｡`` U+FF61 sorts before ``😀`` in UTF-16 but after it in
#: UTF-8); the null takes number 1
IDS = ["PAT2", "PAT10", "PAT1", "Ä", "ſ", "中", "😀", "｡", "", "a", None]

INDIVIDUAL = ("individual_id string, birth_date string, gender string, "
              "death_date string, ic_type string, ic_given_date string, "
              "ic_withdrawn_date string, report_her_susc string")


def _individual(spark, tmp_path):
    """The Individual entity read from files, as the DAG reads it."""
    path = str(tmp_path / "Individual")
    local_df(spark, [(v, "1970-01-0%d" % (i % 9 + 1), "F", None, "broad",
                      None, None, None) for i, v in enumerate(IDS)],
             INDIVIDUAL).write.parquet(path)
    return spark.read.parquet(path)


def _staging(spark, tmp_path):
    ont = local_df(spark, [("\\S\\Individual", "Individual", None, 1, 1),
                           ("\\S\\Individual\\gender", "gender",
                            "Individual.gender", 2, 1)],
                   "path string, name string, concept_code string, "
                   "depth int, sort_order int")
    csr = {"Individual": _individual(spark, tmp_path)}
    return TM.build_staging(spark, csr, ont, "CSR", "\\S\\")


def test_driver_numbering_equals_distributed(spark, tmp_path, monkeypatch):
    individual = _individual(spark, tmp_path)
    local = set(TM.patient_dimension(individual).collect())
    monkeypatch.setattr(TM, "DRIVER_PATIENT_BYTES", 0)
    distributed = set(TM.patient_dimension(individual).collect())
    assert local == distributed
    assert sorted((r.patient_num, r.patient_ide) for r in local)[:4] == [
        (1, None), (2, ""), (3, "PAT1"), (4, "PAT10")]


def test_below_bound_numbering_is_one_job_and_no_window(spark, tmp_path):
    individual = _individual(spark, tmp_path)
    jobs, pats = jobs_run_by(spark, lambda: TM.patient_dimension(individual))
    plan = pats._jdf.queryExecution().executedPlan().toString()
    assert jobs == 1
    assert "Window" not in plan and "__bucket" not in plan
    assert "BroadcastHashJoin" in plan


def test_below_bound_staging_persists_nothing(spark, tmp_path):
    jsc = spark.sparkContext._jsc
    persisted = jsc.getPersistentRDDs().size()
    tables = _staging(spark, tmp_path)
    assert not tables["patient_dimension"].is_cached
    assert jsc.getPersistentRDDs().size() == persisted
    out = str(tmp_path / "staging")
    TM.write_staging(tables, out)
    for rel in TM.STAGING_LAYOUT:
        assert os.path.exists(os.path.join(out, rel, "_SUCCESS"))


@pytest.mark.parametrize("fail", [False, True])
def test_above_bound_write_releases_persisted_frame(spark, tmp_path,
                                                    monkeypatch, fail):
    from pmc_conversion_spark.sources import sinks
    jsc = spark.sparkContext._jsc
    persisted = jsc.getPersistentRDDs().size()
    monkeypatch.setattr(TM, "DRIVER_PATIENT_BYTES", 0)
    tables = _staging(spark, tmp_path)
    assert tables["patient_dimension"].is_cached
    if fail:
        def write(df, path, **kw):
            raise RuntimeError("injected write failure")
        monkeypatch.setattr(sinks, "write_tsv", write)
        with pytest.raises(RuntimeError, match="injected"):
            TM.write_staging(tables, str(tmp_path / "staging"))
    else:
        TM.write_staging(tables, str(tmp_path / "staging"))
        got = {r.patient_ide: r.patient_num
               for r in tables["patient_mapping"].collect()}
        assert got == {v: n for n, v in enumerate(
            sorted(IDS, key=lambda v: (v is not None, v or "")), 1)}
    assert not tables["patient_dimension"].is_cached
    assert jsc.getPersistentRDDs().size() == persisted


def test_repeated_id_is_numbered_distributed(spark, tmp_path):
    """A repeated id would join each of its numbers to each of its
    rows; the window gives each row its own number instead."""
    path = str(tmp_path / "Individual")
    local_df(spark, [("P1", "F"), ("P1", "M"), ("P0", "F")],
             "individual_id string, gender string").write.parquet(path)
    numbered, distributed = TM._numbered(spark.read.parquet(path))
    assert distributed
    assert sorted((r.individual_id, r.patient_num)
                  for r in numbered.collect()) == [
        ("P0", 1), ("P1", 2), ("P1", 3)]


def test_empty_individual_is_numbered_on_the_driver(spark, tmp_path):
    path = str(tmp_path / "Individual")
    local_df(spark, [("P1", "F")], "individual_id string, gender string") \
        .limit(0).write.parquet(path)
    numbered, distributed = TM._numbered(spark.read.parquet(path))
    assert not distributed
    assert numbered.count() == 0
