"""Full reference DAG: failure path (run.sh email + retcode), resume
after failure (upstream skipped, failed stage re-run), the
transmart_loader resource declaration, and the concurrent table writes
of sources2csr and csr2transmart."""

from __future__ import annotations

import os
import uuid

import pytest

from pmc_conversion_spark.plans.email_report import EmailConfig
from pmc_conversion_spark.plans.incremental import (DagRunner, PipelineExit,
                                                    SignalStore, dir_manifest)
from pmc_conversion_spark.plans.reference_dag import (build_reference_dag,
                                                      run_reference_pipeline)

LOG = ["===== Luigi Execution Summary =====\n",
       "Scheduled 8 tasks\n",
       "===== Luigi Execution Summary =====\n",
       "ERROR loader blew up\n"]


class RecordingTransport:
    def __init__(self):
        self.sent = []

    def send(self, sender, receivers, payload):
        self.sent.append(payload)


@pytest.mark.slow
def test_failure_sends_email_and_resume_skips_upstream(spark, tmp_path):
    root = str(tmp_path / "dag")
    cfg = EmailConfig(sender="p@x", receivers=["ops@x"], prefix="[CSR]",
                      host="localhost", log_file="pipeline.log")
    transport = RecordingTransport()

    with pytest.raises(PipelineExit) as ei:
        run_reference_pipeline(spark, root=root, email_cfg=cfg,
                               transport=transport, log_lines=LOG,
                               fail_stage="transmart_loader")
    # run.sh semantics: nonzero exit -> report sent, retcode classified
    assert ei.value.retcode == 30
    assert len(transport.sent) == 1
    assert "Subject: [CSR] ERRORS: 1" in transport.sent[0]
    st = dict(ei.value.statuses)
    assert st["csr2transmart"] == "ran"
    assert st["transmart_loader"] == "failed"
    assert st["transmart_api"] == "not_run"
    assert st["git_commit_load_logs"] == "not_run"

    # resume without the fault: completed upstream stages skip (their
    # done-signals match), the failed stage and its downstream run
    statuses, ctx = run_reference_pipeline(spark, root=root)
    st2 = dict(statuses)
    assert st2["update_data_files"] == "skipped"
    assert st2["sources2csr"] == "skipped"
    assert st2["csr2transmart"] == "skipped"
    assert st2["transmart_loader"] == "ran"
    assert st2["git_commit_load_logs"] == "ran"
    assert ctx.counts["loaded_obs"] == 132


def test_loader_declares_transmart_loader_resource(spark, tmp_path):
    tasks, _ = build_reference_dag(spark, root=str(tmp_path / "d"))
    by_name = {t.name: t for t in tasks}
    assert by_name["transmart_loader"].resources == {"transmart_loader": 1}
    assert all(t.resources == {} for n, t in by_name.items()
               if n != "transmart_loader")


def _run_generated(spark, root, gen, dropzone, group, fail_stage=None):
    """One DAG run over a generated drop zone, bound as
    ``perfbench.dag.run_dag`` binds it; each task's Spark jobs run in
    the job group ``<group>-<task>``."""
    from perfbench import dag, spans
    from pmc_conversion_spark.plans import reference_dag as RD
    sc = spark.sparkContext

    def in_group(name, run):
        def call():
            sc.setJobGroup(f"{group}-{name}", name)
            try:
                run()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
        return call

    with dag.bound(spans.NullTracer(), sources_config=gen["sources_config"],
                   ontology_config=gen["ontology_config"]):
        tasks, ctx = RD.build_reference_dag(spark, root=root,
                                            dropzone=dropzone,
                                            fail_stage=fail_stage)
        for t in tasks:
            t.run = in_group(t.name, t.run)
        runner = DagRunner(spark, SignalStore(os.path.join(root, "signals")),
                           resources={"transmart_loader": 1})
        return runner.run_pipeline(tasks), ctx


@pytest.mark.parametrize("fail_stage", ["git_commit_staging",
                                        "transmart_loader"])
def test_loader_resume_on_generated_dropzone(spark, tmp_path, fail_stage):
    """A node after csr2transmart fails, then a resume skips every node
    before it and runs the rest. The commit nodes and the loader run no
    Spark job; ``staged_obs`` and ``loaded_obs`` come from the count
    csr2transmart persisted, which the resume skips."""
    from perfbench import clinical
    from perfbench.dag import NODES
    gen = clinical.generate(str(tmp_path / "gen"), seed=11, patients=20)
    dropzone = str(tmp_path / "gen" / "A")
    root = str(tmp_path / "run")
    first = uuid.uuid4().hex
    with pytest.raises(PipelineExit) as ei:
        _run_generated(spark, root, gen, dropzone, first,
                       fail_stage=fail_stage)
    st = dict(ei.value.statuses)
    assert st["csr2transmart"] == "ran"
    assert st[fail_stage] == "failed"
    assert not os.path.exists(os.path.join(root, "db_live"))

    group = uuid.uuid4().hex
    statuses, ctx = _run_generated(spark, root, gen, dropzone, group)
    st2 = dict(statuses)
    at = NODES.index(fail_stage)
    assert {st2[n] for n in NODES[:at]} == {"skipped"}
    assert {st2[n] for n in NODES[at:]} == {"ran"}
    rows = gen["variants"]["A"]["observation_rows"]
    # a skipped staging commit counts nothing
    staged = rows if fail_stage == "git_commit_staging" else None
    assert ({k: ctx.counts.get(k) for k in ("staged_obs", "loaded_obs")}
            == {"staged_obs": staged, "loaded_obs": rows})
    tracker = spark.sparkContext.statusTracker()
    for g in (first, group):
        for node in ("git_commit_input", "git_commit_staging",
                     "transmart_loader", "git_commit_load_logs"):
            assert tracker.getJobIdsForGroup(f"{g}-{node}") == []
    staging = dir_manifest(os.path.join(root, "staging"))
    assert len({rel.split(os.sep)[1] for rel, _ in staging}) == 7
    assert dir_manifest(os.path.join(root, "db_live")) == staging


@pytest.fixture(scope="module")
def generated(tmp_path_factory):
    """A 20-patient generated drop zone: (generator result, variant A)."""
    from perfbench import clinical
    base = tmp_path_factory.mktemp("gen")
    return (clinical.generate(str(base), seed=11, patients=20),
            str(base / "A"))


#: Spark expressions that build ICU's case-mapping tables on first use
CASE_MAPPING = ("upper(", "lower(", "initcap(", "ilike(")


def test_dag_write_frames_do_no_case_mapping(spark, generated, tmp_path,
                                             monkeypatch):
    """No CSR or staging frame the DAG writes case-maps a string: the
    first ``upper``/``lower`` in a JVM spends 1.2-1.9 s building ICU's
    tables, and every cron tick is a new JVM."""
    from pmc_conversion_spark.sources import sinks
    real, plans = sinks.write_tsv, {}

    def write(df, path, **kw):
        plans[path] = df._jdf.queryExecution().optimizedPlan().toString()
        real(df, path, **kw)

    monkeypatch.setattr(sinks, "write_tsv", write)
    gen, dropzone = generated
    _run_generated(spark, str(tmp_path / "run"), gen, dropzone,
                   uuid.uuid4().hex)
    assert len(plans) == 5 + 7
    assert {p: [f for f in CASE_MAPPING if f in plan]
            for p, plan in plans.items()} == {p: [] for p in plans}


def test_concurrent_writes_keep_node_job_counts(spark, generated, tmp_path):
    """The writes of a node run on pool threads in the node's job group.
    csr2transmart numbers its patients on the driver: one collect, and
    no boundary sample, bucket exchanges or offsets window."""
    gen, dropzone = generated
    group = uuid.uuid4().hex
    _run_generated(spark, str(tmp_path / "run"), gen, dropzone, group)
    tracker = spark.sparkContext.statusTracker()
    assert {n: len(tracker.getJobIdsForGroup(f"{group}-{n}"))
            for n in ("sources2csr", "csr2transmart")} == {
        "sources2csr": 8, "csr2transmart": 14}


@pytest.mark.parametrize("node, table", [
    ("sources2csr", "Diagnosis"),
    ("csr2transmart", "concept_dimension.tsv")])
def test_failed_write_fails_node_after_the_others(spark, generated,
                                                  tmp_path, monkeypatch,
                                                  node, table):
    """One table's write raises on its pool thread: the node fails once
    the node's other writes have finished, writes no done-signal and
    releases what it persisted; a resume runs the node again."""
    from perfbench.dag import NODES
    from pmc_conversion_spark.sources import sinks
    real, written = sinks.write_tsv, []

    def write(df, path, **kw):
        if os.path.basename(path) == table:
            raise RuntimeError(f"injected write failure: {table}")
        real(df, path, **kw)
        written.append(path)

    gen, dropzone = generated
    root = str(tmp_path / "run")
    jsc = spark.sparkContext._jsc
    persisted = jsc.getPersistentRDDs().size()
    monkeypatch.setattr(sinks, "write_tsv", write)
    with pytest.raises(PipelineExit) as ei:
        _run_generated(spark, root, gen, dropzone, uuid.uuid4().hex)
    monkeypatch.undo()
    assert dict(ei.value.statuses)[node] == "failed"
    assert "injected write failure" in str(ei.value)
    out = os.path.join(root, "working" if node == "sources2csr"
                       else "staging")
    # every other table of the node completed: both nodes write all
    # their tables in one wave
    mine = [p for p in written if p.startswith(out + os.sep)]
    assert len(mine) == {"sources2csr": 4, "csr2transmart": 6}[node]
    assert all(os.path.exists(os.path.join(p, "_SUCCESS")) for p in mine)
    assert SignalStore(os.path.join(root, "signals")).read(node) is None
    assert jsc.getPersistentRDDs().size() == persisted

    statuses, _ = _run_generated(spark, root, gen, dropzone,
                                 uuid.uuid4().hex)
    st = dict(statuses)
    at = NODES.index(node)
    assert {st[n] for n in NODES[:at]} == {"skipped"}
    assert {st[n] for n in NODES[at:]} == {"ran"}
