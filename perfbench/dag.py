"""The reference's 8-node DAG, run over a generated drop zone.

``plans.reference_dag.build_reference_dag`` builds the tasks; its stage
bodies reach ``RE.build_csr``, ``RE.read_csr`` and
``RE.load_ontology_nodes`` through module attributes at call time, with
the reference checkout's config paths as defaults. ``bound`` rebinds
those three, for the duration of one run, to the same functions with
the generated config paths. It also rebinds the layer calls a traced
run measures to wrappers that open a span around the original; with
``NullTracer`` only the config paths are bound.
"""

from __future__ import annotations

import functools
import os
from contextlib import contextmanager

from perfbench import spans
from pmc_conversion_spark.plans import incremental as INC
from pmc_conversion_spark.plans import reference_dag as RD
from pmc_conversion_spark.plans import reference_e2e as RE
from pmc_conversion_spark.plans import transmart as TM
from pmc_conversion_spark.sources import sinks

NODES = ("update_data_files", "git_commit_input", "sources2csr",
         "csr2transmart", "git_commit_staging", "transmart_loader",
         "transmart_api", "git_commit_load_logs")

#: (module, attribute) -> span name, for the layer calls a traced run
#: times; the stage bodies and the runner look each up at call time
TRACED_CALLS = {
    (RE, "build_csr"): "sources2csr.plan",
    (RE, "read_csr"): "transmart.plan",
    (RE, "load_ontology_nodes"): "transmart.plan",
    (RD, "ontology_df"): "transmart.plan",
    (TM, "build_staging"): "transmart.plan",
    (TM, "write_staging"): "transmart.write",
    (sinks, "write_tsv"): "sinks.write_tsv",
    (sinks, "tx_swap_write"): "sinks.swap",
    (INC, "dir_fingerprint"): "fingerprint",
}


def _spanned(tracer, name: str, fn):
    @functools.wraps(fn)
    def call(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)
    return call


def _fingerprint(tracer, fn):
    @functools.wraps(fn)
    def call(spark, path):
        if os.path.isdir(path):
            tracer.note("incremental.bytes_hashed", spans.data_bytes(path))
        return fn(spark, path)
    return call


@contextmanager
def bound(tracer, *, sources_config: str, ontology_config: str):
    """Bind the generated config paths, and under a tracer the spans,
    into the program's modules; restore the originals on exit."""
    saved = {key: getattr(*key) for key in TRACED_CALLS}
    saved[(sinks, "SnapshotStore")] = sinks.SnapshotStore
    RE.build_csr = functools.partial(saved[(RE, "build_csr")],
                                     config_path=sources_config)
    RE.read_csr = functools.partial(saved[(RE, "read_csr")],
                                    config_path=sources_config)
    RE.load_ontology_nodes = functools.partial(
        saved[(RE, "load_ontology_nodes")], ontology_config)
    if tracer.enabled:
        INC.dir_fingerprint = _fingerprint(tracer, INC.dir_fingerprint)
        for (mod, attr), name in TRACED_CALLS.items():
            setattr(mod, attr, _spanned(tracer, name, getattr(mod, attr)))

        class SnapshotStore(saved[(sinks, "SnapshotStore")]):
            def commit(self, df, **kw):
                with tracer.span("sinks.snapshot_commit"):
                    return super().commit(df, **kw)
        sinks.SnapshotStore = SnapshotStore
    try:
        yield
    finally:
        for (mod, attr), fn in saved.items():
            setattr(mod, attr, fn)


def _traced_node(tracer, root: str, name: str, body):
    def run() -> None:
        before = spans.tree_snapshot(root)
        with tracer.span(f"node.{name}"):
            body()
        tracer.note(f"node.{name}.bytes_written", spans.bytes_written(
            before, spans.tree_snapshot(root)))
    return run


def run_dag(spark, *, root: str, dropzone: str, sources_config: str,
            ontology_config: str, tracer) -> tuple[dict[str, str], dict]:
    """One pipeline run, as ``run_reference_pipeline`` without an API
    client or error mail, at ``max_workers=1``. Returns
    ({task: status}, the run's row counts)."""
    with bound(tracer, sources_config=sources_config,
               ontology_config=ontology_config):
        tasks, ctx = RD.build_reference_dag(spark, root=root,
                                            dropzone=dropzone)
        if tracer.enabled:
            for t in tasks:
                t.run = _traced_node(tracer, root, t.name, t.run)
        runner = INC.DagRunner(
            spark, INC.SignalStore(os.path.join(root, "signals")),
            resources={"transmart_loader": 1})
        statuses = runner.run_pipeline(tasks, max_workers=1)
    return dict(statuses), ctx.counts
