"""Each DAG frame runs once: the snapshot digest rides on the snapshot
write, a directory commit runs on the driver, codebooks decode from a
driver-built map, and source headers are read on the driver. Each route is checked against the one it replaced,
and the jobs it runs are pinned with ``statusTracker``."""

from __future__ import annotations

import os

import pytest
from conftest import jobs_run_by
from pyspark.sql import functions as F

from pmc_conversion_spark.operators.joins import codebook_decode
from pmc_conversion_spark.plans import config_model as CM
from pmc_conversion_spark.plans import reference_e2e as RE
from pmc_conversion_spark.plans.incremental import dir_fingerprint, dir_manifest
from pmc_conversion_spark.plans.sources2csr import build_all, project_source
from pmc_conversion_spark.sources import sinks
from pmc_conversion_spark.sources.codebook import codebook_maps
from pmc_conversion_spark.sources.scans import scan_csv_delim
from pmc_conversion_spark.util import local_df


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


# ------------------------------------------------------ tree commit

def _store_files(root) -> dict[str, bytes]:
    """Every file under a store root, by relative path, with its bytes."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_tree_versions_check_out_as_committed(tmp_path):
    """After the source moves on, each ``v<N>`` lists what the source
    listed when it was committed; the head digest is the source's
    fingerprint, and each commit adds only objects of new content."""
    src, snap = tmp_path / "src", tmp_path / "snap"
    (src / "t").mkdir(parents=True)
    (src / "a.tsv").write_text("k\n1\n")
    (src / "t" / "part-0.csv").write_text("x\n")
    (src / "t" / "_SUCCESS").write_text("")
    store = sinks.SnapshotStore(str(snap))
    committed = []
    for change in ({"a.tsv": "k\n2\n"},
                   {"t/part-1.csv": "x\n", "b.tsv": "k\n1\n"}, {}):
        entry = store.commit_tree(str(src))
        committed.append(dir_manifest(str(src)))
        assert entry["digest"] == dir_fingerprint(None, str(src))
        assert entry["n_rows"] == len(committed[-1])
        for rel, text in change.items():
            (src / rel).write_text(text)
    (src / "t" / "part-0.csv").unlink()
    (src / "a.tsv").write_text("k\n3\n")
    assert [v["version"] for v in store.versions()] == [1, 2, 3]
    for v, manifest in zip((1, 2, 3), committed):
        assert dir_manifest(str(snap / f"v{v}")) == manifest
    blobs = {sha1 for m in committed for _, sha1 in m}
    assert sorted(os.listdir(snap / "objects")) == sorted(blobs)


def test_clean_tree_recommit_writes_nothing(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.tsv").write_text("k\n1\n")
    store = sinks.SnapshotStore(str(tmp_path / "snap"))
    first = store.commit_tree(str(src))
    before = _store_files(tmp_path / "snap")
    assert store.commit_tree(str(src)) == first
    assert _store_files(tmp_path / "snap") == before
    assert len(store.versions()) == 1


def test_in_place_rewrite_leaves_version_bytes(tmp_path):
    """The source file's inode is rewritten, not replaced; a version
    whose file shared that inode would change with it."""
    src = tmp_path / "src"
    src.mkdir()
    (src / "counts.tsv").write_text("metric\tvalue\nrows\t200\n")
    store = sinks.SnapshotStore(str(tmp_path / "snap"))
    store.commit_tree(str(src))
    with open(src / "counts.tsv", "w") as f:
        f.write("metric\tvalue\nrows\t198\n")
    assert ((tmp_path / "snap" / "v1" / "counts.tsv").read_text()
            == "metric\tvalue\nrows\t200\n")


def test_orphan_tree_version_is_replaced(tmp_path):
    """A ``v<N>`` outside MANIFEST (a commit that died after its rename)
    is replaced by the next commit."""
    src, snap = tmp_path / "src", tmp_path / "snap"
    src.mkdir()
    (src / "a.tsv").write_text("k\n1\n")
    store = sinks.SnapshotStore(str(snap))
    store.commit_tree(str(src))
    (snap / "v2").mkdir()
    (snap / "v2" / "stale.tsv").write_text("k\n0\n")
    (src / "a.tsv").write_text("k\n2\n")
    assert store.commit_tree(str(src))["version"] == 2
    assert dir_manifest(str(snap / "v2")) == dir_manifest(str(src))


def test_write_tsv_reads_back_as_written(spark, tmp_path, fixture_df):
    """Quotes inside a value are doubled on write, the escape
    ``scan_csv_delim`` reads with, so each value comes back unchanged."""
    values = ['has "quote" inside', 'a\\"b', "tab\tand, comma", "plain",
              None]
    df = fixture_df(list(enumerate(values)), "k int, v string")
    sinks.write_tsv(df, str(tmp_path / "t"))
    back = scan_csv_delim(spark, str(tmp_path / "t"),
                          schema="k int, v string")
    assert dict(back.collect()) == dict(enumerate(values))


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


def _individual(spark, dropzone):
    data_dir, config = dropzone
    frames, codebooks = RE.load_frames(spark, data_dir, config)
    return build_all(frames, config, codebooks)["Individual"]


def test_individual_merge_has_no_join(spark, dropzone):
    """Individual has 4 source files; its merge is one aggregation."""
    df = _individual(spark, dropzone)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    for join in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert join not in plan
    assert "Aggregate(" in plan


def test_individual_write_runs_at_most_two_jobs(spark, dropzone, tmp_path):
    df = _individual(spark, dropzone)
    as_text = df.select([F.col(c).cast("string") for c in df.columns])
    jobs, _ = jobs_run_by(spark, lambda: sinks.write_tsv(
        as_text, str(tmp_path / "Individual")))
    assert jobs <= 2


def _write_csr(spark, dropzone, out):
    """Merge the drop zone and write each entity as ``run_dag`` does;
    returns the merged frames and the sources config path."""
    data_dir, config = dropzone
    frames, codebooks = RE.load_frames(spark, data_dir, config)
    csr = build_all(frames, config, codebooks)
    for name, df in csr.items():
        sinks.write_tsv(df.select([F.col(c).cast("string")
                                   for c in df.columns]),
                        str(out / name))
    return csr, os.path.join(os.path.dirname(data_dir), "config",
                             "sources_config.json")


def test_csr_round_trip(spark, dropzone, tmp_path):
    """``read_csr`` reads the TSVs with the config's schema, so the merge
    output must come back under the same names, types and rows."""
    csr, config_path = _write_csr(spark, dropzone, tmp_path)
    back = RE.read_csr(spark, str(tmp_path), config_path)
    assert sorted(back) == sorted(csr)
    for name, df in csr.items():
        assert back[name].dtypes == df.dtypes, name
        assert _rows(back[name]) == _rows(df), name


def test_read_csr_rejects_reordered_header(spark, dropzone, tmp_path):
    """A TSV with its columns in another order is well-formed, but a
    positional read would load ``title`` as ``acronym``: it must fail."""
    csr, config_path = _write_csr(spark, dropzone, tmp_path)
    assert csr["Study"].columns == ["study_id", "acronym", "title",
                                    "description"]
    sinks.write_tsv(csr["Study"].select("study_id", "title", "acronym",
                                        "description"),
                    str(tmp_path / "Study"))
    back = RE.read_csr(spark, str(tmp_path), config_path)
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        back["Study"].collect()
