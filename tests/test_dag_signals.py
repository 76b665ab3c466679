"""DAG done-signals: driver-side manifest fingerprints byte-identical to
the distributed manifest route, the runner's fingerprint calls and
failure semantics, atomic signal writes, and the row counts the stages
take from their write jobs."""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from pmc_conversion_spark.operators.aggregates import manifest_digest
from pmc_conversion_spark.plans import incremental as INC
from pmc_conversion_spark.sources.scans import manifest_with_checksums
from pmc_conversion_spark.util import local_df

#: files of the edge fixture: the names Spark's file listing and the
#: manifest filter keep and drop, one case each
EDGE_FILES = {
    "a b.txt": b"space",
    "é.txt": b"non-ascii",
    "sub/ok.txt": b"ok",
    "k=1/_p=2": b"partition-like",
    "_metadata_dir/in.txt": b"listed dir",
    "_SUCCESS": b"x",
    "_metadata": b"x",
    ".part.crc": b"x",
    "x._COPYING_": b"x",
    "f.sha1": b"x",
    ".hid/in.txt": b"x",
    "sub/_hidden/in.txt": b"x",
    "empty.txt": b"",
}

#: fingerprint of the edge fixture; a change here invalidates every
#: deployed done-signal
EDGE_FINGERPRINT = "a4bf957de8e0e937b1cae6bd7b8a94d3879f90a0"


@pytest.fixture()
def edge_dir(tmp_path):
    """The edge fixture, reached through a symlinked root, with a
    symlinked subdirectory inside."""
    real = tmp_path / "real"
    for rel, data in EDGE_FILES.items():
        p = real / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(data)
    (tmp_path / "other").mkdir()
    (tmp_path / "other" / "o.txt").write_bytes(b"through a link")
    (real / "lnk").symlink_to(tmp_path / "other")
    (tmp_path / "root").symlink_to(real)
    return str(tmp_path / "root")


def spark_fingerprint(spark, path: str) -> str:
    """The distributed route the driver-side fingerprint replaces."""
    return manifest_digest(manifest_with_checksums(spark, path)).select(
        F.sha1(F.encode("digest", "UTF-8")).alias("d")).first()["d"]


def test_fingerprint_matches_spark_route(spark, edge_dir):
    assert INC.dir_manifest(edge_dir) == [
        ("_metadata_dir/in.txt", hashlib.sha1(b"listed dir").hexdigest()),
        ("a b.txt", hashlib.sha1(b"space").hexdigest()),
        ("k=1/_p=2", hashlib.sha1(b"partition-like").hexdigest()),
        ("lnk/o.txt", hashlib.sha1(b"through a link").hexdigest()),
        ("sub/ok.txt", hashlib.sha1(b"ok").hexdigest()),
        ("é.txt", hashlib.sha1(b"non-ascii").hexdigest()),
    ]
    assert (INC.dir_fingerprint(spark, edge_dir)
            == spark_fingerprint(spark, edge_dir))


def test_snapshot_rows_match_spark_route(spark, edge_dir):
    from pmc_conversion_spark.sources.sinks import snapshot_digest
    driver = local_df(spark, INC.dir_manifest(edge_dir),
                      "path string, sha1 string")
    distributed = manifest_with_checksums(spark, edge_dir)
    assert snapshot_digest(driver) == snapshot_digest(distributed)


def test_fingerprint_pinned(spark, edge_dir):
    assert INC.dir_fingerprint(spark, edge_dir) == EDGE_FINGERPRINT


def test_fingerprint_of_empty_and_missing_dir(spark, tmp_path):
    (tmp_path / "_SUCCESS").write_bytes(b"")
    empty = hashlib.sha1(b"").hexdigest()
    assert INC.dir_fingerprint(spark, str(tmp_path)) == empty
    assert INC.dir_fingerprint(spark, str(tmp_path / "missing")) == empty


def test_fingerprint_starts_no_spark_job(spark, edge_dir):
    sc = spark.sparkContext
    try:
        sc.setJobGroup("fp-driver", "driver-side fingerprint")
        INC.dir_fingerprint(spark, edge_dir)
        sc.setJobGroup("fp-spark", "distributed fingerprint")
        spark_fingerprint(spark, edge_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    assert tracker.getJobIdsForGroup("fp-driver") == []
    assert tracker.getJobIdsForGroup("fp-spark")  # the probe sees jobs


def _chain(tmp_path, runs: list[str], *, retries: int = 0,
           body=None) -> list[INC.Task]:
    tasks: list[INC.Task] = []
    for name in ("a", "b", "c"):
        d = tmp_path / name
        d.mkdir(exist_ok=True)
        (d / "data.txt").write_text(name)

        def run(name=name):
            runs.append(name)
            if body is not None:
                body(name)
        tasks.append(INC.Task(name, [str(d)], run, retries=retries,
                              required_tasks=tasks[-1:]))
    return tasks


def test_prerun_fingerprint_only_without_upstream_run(spark, tmp_path,
                                                      monkeypatch):
    calls = []
    real = INC.dir_fingerprint
    monkeypatch.setattr(INC, "dir_fingerprint",
                        lambda s, p: calls.append(p) or real(s, p))
    runner = INC.DagRunner(spark, INC.SignalStore(str(tmp_path / "sig")))
    runs: list[str] = []
    tasks = _chain(tmp_path, runs)
    assert runner.run_pipeline(tasks) == [
        ("a", "ran"), ("b", "ran"), ("c", "ran")]
    # a: before and after; b, c: after only, their upstream ran
    assert len(calls) == 4
    calls.clear()
    assert {s for _, s in runner.run_pipeline(tasks)} == {"skipped"}
    assert len(calls) == 3 and runs == ["a", "b", "c"]


@pytest.mark.parametrize("exc", [KeyboardInterrupt, SystemExit])
def test_interrupt_is_not_retried_or_wrapped(spark, tmp_path, exc):
    def body(name):
        if name == "b":
            raise exc()
    runs: list[str] = []
    runner = INC.DagRunner(spark, INC.SignalStore(str(tmp_path / "sig")))
    with pytest.raises(exc):
        runner.run_pipeline(_chain(tmp_path, runs, retries=3, body=body))
    assert runs == ["a", "b"]


def test_signal_write_is_atomic(tmp_path, monkeypatch):
    store = INC.SignalStore(str(tmp_path))
    store.write("t", "old-signal")

    class HalfWritten:
        def __init__(self, *args, **kwargs):
            self.f = open(*args, **kwargs)

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self.f.close()

        def write(self, s):
            self.f.write(s[:len(s) // 2])
            self.f.flush()
            raise OSError("disk full")

    monkeypatch.setattr(INC, "open", HalfWritten, raising=False)
    for task in ("t", "fresh"):
        with pytest.raises(OSError):
            store.write(task, "new-signal-of-some-length")
    monkeypatch.undo()
    assert store.read("t") == "old-signal"
    assert store.read("fresh") is None
    assert os.listdir(tmp_path) == [".done-t"]


def test_stage_counts_come_from_write_jobs(spark, tmp_path):
    """sources2csr and csr2transmart count rows with an Observation on
    their write job; the counts equal ``.count()`` on the frames."""
    from perfbench import clinical, dag, spans
    from pmc_conversion_spark.plans import reference_dag as RD
    from pmc_conversion_spark.plans import reference_e2e as RE
    from pmc_conversion_spark.plans import transmart as TM
    gen = clinical.generate(str(tmp_path / "gen"), seed=5, patients=40)
    root = str(tmp_path / "run")
    top = "\\Central Subject Registry\\"
    with dag.bound(spans.NullTracer(), sources_config=gen["sources_config"],
                   ontology_config=gen["ontology_config"]):
        tasks, ctx = RD.build_reference_dag(
            spark, root=root, dropzone=str(tmp_path / "gen" / "A"))
        by_name = {t.name: t for t in tasks}
        for name in ("update_data_files", "sources2csr", "csr2transmart"):
            by_name[name].run()
        csr = RE.build_csr(spark, data_dir=os.path.join(root, "input_data"))
        staged = TM.build_staging(
            spark, RE.read_csr(spark, os.path.join(root, "working")),
            RD.ontology_df(spark, RE.load_ontology_nodes(), top), "CSR",
            top + "\\")
    assert ctx.counts["individual_rows"] == csr["Individual"].count() == 40
    assert (ctx.counts["observation_rows"]
            == staged["observation_fact"].count()
            == gen["variants"]["A"]["observation_rows"])
