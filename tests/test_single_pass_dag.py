"""Each DAG frame runs once: the snapshot digest rides on the snapshot
write, codebooks decode from a driver-built map, and source headers are
read on the driver. Each route is checked against the one it replaced,
and the jobs it runs are pinned with ``statusTracker``."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from pmc_conversion_spark.operators.joins import codebook_decode
from pmc_conversion_spark.plans import config_model as CM
from pmc_conversion_spark.plans import reference_e2e as RE
from pmc_conversion_spark.plans.sources2csr import build_all, project_source
from pmc_conversion_spark.sources import sinks
from pmc_conversion_spark.sources.codebook import codebook_maps
from pmc_conversion_spark.sources.scans import scan_csv_delim
from pmc_conversion_spark.util import local_df


def jobs_run_by(spark, fn):
    """(Spark jobs ``fn()`` starts, counted through its job group,
    ``fn()``'s result)."""
    sc = spark.sparkContext
    group = f"pin-{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(group, group)
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), result


@pytest.fixture(scope="module")
def dropzone(tmp_path_factory):
    """A 20-patient clinical drop zone and its parsed sources config."""
    from perfbench import clinical
    out = tmp_path_factory.mktemp("clinical")
    gen = clinical.generate(str(out), seed=3, patients=20)
    return str(out / "A"), RE.load_sources_config(gen["sources_config"])


# ------------------------------------------------------ snapshot commit

def test_commit_digest_equals_snapshot_digest(spark, tmp_path):
    ids = spark.range(0, 40, numPartitions=3)
    df = ids.select(
        F.when(F.col("id") % 3 == 0, None).otherwise(F.col("id")).alias("a"),
        F.when(F.col("id") % 4 == 0, None)
        .otherwise(F.concat(F.lit("x,\t"), F.col("id").cast("string")))
        .alias("b"))
    assert df.rdd.getNumPartitions() >= 2
    entry = sinks.SnapshotStore(str(tmp_path)).commit(df)
    assert (entry["digest"], entry["n_rows"]) == sinks.snapshot_digest(df)
    assert entry["n_rows"] == 40


def test_failed_snapshot_write_publishes_nothing(spark, tmp_path,
                                                 fixture_df, monkeypatch):
    store = sinks.SnapshotStore(str(tmp_path))
    store.commit(fixture_df([("a", 1)], "k string, v int"))
    manifest = (tmp_path / "MANIFEST").read_text()

    def failing_write(df, path, **kw):
        os.makedirs(path)
        with open(os.path.join(path, "part-00000.csv"), "w") as f:
            f.write("k\tv\n")
        raise OSError("disk full")

    monkeypatch.setattr(sinks, "write_tsv", failing_write)
    nxt = fixture_df([("b", 2)], "k string, v int")
    with pytest.raises(OSError, match="disk full"):
        store.commit(nxt)
    monkeypatch.undo()
    assert sorted(os.listdir(tmp_path)) == ["MANIFEST", "v1"]
    assert (tmp_path / "MANIFEST").read_text() == manifest
    assert store.commit(nxt)["version"] == 2
    assert sorted(os.listdir(tmp_path)) == ["MANIFEST", "v1", "v2"]


def test_clean_recommit_leaves_no_trace(spark, tmp_path, fixture_df):
    store = sinks.SnapshotStore(str(tmp_path))
    df = fixture_df([("a", 1), ("b", 2)], "k string, v int")
    first = store.commit(df)
    assert store.commit(df.orderBy(F.desc("k"))) == first
    assert sorted(os.listdir(tmp_path)) == ["MANIFEST", "v1"]
    assert len(store.versions()) == 1


def test_commit_of_file_scan_runs_one_job(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    (src / "part.tsv").write_text("k\tv\na\t1\nb\t2\n")
    df = scan_csv_delim(spark, str(src), schema="k string, v int")
    store = sinks.SnapshotStore(str(tmp_path / "snap"))
    assert jobs_run_by(spark, lambda: store.commit(df))[0] == 1
    assert jobs_run_by(spark, lambda: store.commit(df))[0] == 1  # clean


# -------------------------------------------------------- codebook map

#: coded column g, int column n coded through its string form, and h
#: declared as coded but with no codebook entries
SOURCE_ROWS = [("1", "M", 1, "x"), ("2", None, 2, "y"), ("3", "Z", None, None),
               ("4", "Q", 1, "")]
CODEBOOK = [("g", "M", "male"), ("g", "Q", 'a, "quoted" label'),
            ("n", "1", "one")]
ENTITY = CM.EntityConfig(
    name="E", id_attr="id",
    attributes=tuple(CM.Attribute(c, "text", (CM.SourceRef("f", c),))
                     for c in ("id", "g", "n", "h")))


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("columns", [["g", "n", "h"], None])
def test_map_decode_equals_join_decode(spark, fixture_df, columns):
    src = fixture_df(SOURCE_ROWS, "id string, g string, n int, h string")
    by_map = project_source(src, ENTITY, "f", codebook=CODEBOOK,
                            codebook_columns=columns)
    cb = local_df(spark, CODEBOOK, "column string, code string, label string")
    by_join = project_source(
        codebook_decode(src, cb, columns or ["g", "n"]), ENTITY, "f")
    assert _rows(by_map) == _rows(by_join)
    assert ("4", 'a, "quoted" label', "one", None) in _rows(by_map)


def test_codebook_duplicates(spark, fixture_df):
    src = fixture_df(SOURCE_ROWS, "id string, g string, n int, h string")
    doubled = project_source(src, ENTITY, "f", codebook=CODEBOOK + CODEBOOK)
    assert _rows(doubled) == _rows(
        project_source(src, ENTITY, "f", codebook=CODEBOOK))
    with pytest.raises(ValueError, match="g code 'M'"):
        codebook_maps(CODEBOOK + [("g", "M", "female")])


# -------------------------------------------------------------- headers

@pytest.mark.parametrize("text, sep, names", [
    ('id,"",Sex,sex,"a\tb",x\n1,2,3,4,5,6\n', ",",
     ["id", "_c1", "Sex2", "sex3", "a\tb", "x"]),
    ("\ufeffid\tname\r\n1\tb\r\n", "\t", ["id", "name"]),
])
def test_driver_header_equals_spark_header(spark, tmp_path, text, sep, names):
    f = tmp_path / "h.csv"
    f.write_text(text, encoding="utf-8", newline="")
    assert RE.csv_header(str(f), sep) == names
    assert names == (spark.read.option("header", True).option("sep", sep)
                     .csv(str(f)).columns)


# ------------------------------------------------------- sources2csr

def test_load_frames_runs_no_job(spark, dropzone):
    data_dir, config = dropzone
    jobs, (frames, codebooks) = jobs_run_by(
        spark, lambda: RE.load_frames(spark, data_dir, config))
    assert jobs == 0
    assert codebooks and all(isinstance(r, tuple)
                             for rows in codebooks.values() for r in rows)
    for f, df in frames.items():
        fmt = config.fmt(f)
        assert df.columns == (spark.read.option("header", True)
                              .option("sep", fmt.delimiter)
                              .csv(os.path.join(data_dir, f)).columns)


def test_build_all_plans_have_no_broadcast(spark, dropzone):
    data_dir, config = dropzone
    assert any(config.fmt(f).codebook for f in RE.referenced_files(config))
    frames, codebooks = RE.load_frames(spark, data_dir, config)
    csr = build_all(frames, config, codebooks)
    for name, df in csr.items():
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan, name
