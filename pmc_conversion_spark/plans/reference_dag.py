"""The reference's FULL 8-node pipeline DAG, wired through DagRunner.

Reference: ``luigi-pipeline/main.py:201-235`` builds a linear chain —
UpdateDataFiles → GitCommit(input) → Sources2CsrTransformation →
TransmartDataTransformation → GitCommit(staging) → TransmartDataLoader
→ TransmartApiTask → GitCommit(load-logs) — with done-signal skipping,
the ``transmart_loader=1`` resource cap on the load stage
(luigi.cfg-sample:42-43), and the error-report email on any nonzero
exit (scripts/run.sh:8-10).

This module assembles the same chain from the engine's pieces:
manifest fingerprints hashed on the driver drive the skip logic
(DagRunner; files are streamed in chunks as scripts/checksum.py does, so
memory stays bounded and Spark's 2 GiB binaryFile limit does not apply),
sources2csr + csr2transmart are the real Spark compilers (each writes
its independent tables concurrently, ``sinks.write_tsv_all``, so a
cold JVM plans one table while another's tasks run), git commits
become driver-side SnapshotStore tree commits, the DB load hard-links
the staging tree
and swaps it in (Postgres is out of scope — same all-or-nothing
contract, README.md:181-183), and stage 5 drives an injectable
TransmartPostLoadClient. Everything is dependency-injected, so tests
and the registry entry run the WHOLE five-stage pipeline without a
network or a database.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from pmc_conversion_spark.plans import reference_e2e as RE
from pmc_conversion_spark.plans import transmart as TM
from pmc_conversion_spark.plans.incremental import (DagRunner, SignalStore,
                                                    Task, write_atomic)
from pmc_conversion_spark.plans.ontology import ontology_df


def _counted(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with a row counter riding on whichever job consumes it:
    ``obs.get["rows"]`` after that job, no second execution."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


@dataclass
class DagContext:
    """Mutable run state shared by the stages (row counts the caller
    can assert on, mirroring the counts the reference logs)."""
    counts: dict[str, int] = field(default_factory=dict)


def build_reference_dag(spark: SparkSession, *, root: str,
                        dropzone: str = RE.REF_DROPZONE_FULL,
                        api=None, study_id: str = "CSR",
                        top_node: str = "\\Central Subject Registry\\",
                        fail_stage: str | None = None
                        ) -> tuple[list[Task], DagContext]:
    """Assemble the 8 tasks. ``api`` is a TransmartPostLoadClient (or
    None to skip stage 5's REST calls); ``fail_stage`` injects a fault
    into the named stage (test hook for the run.sh error path)."""
    from pmc_conversion_spark.sources.sinks import SnapshotStore, _swap_in

    input_data = os.path.join(root, "input_data")
    working = os.path.join(root, "working")
    staging = os.path.join(root, "staging")
    live_db = os.path.join(root, "db_live")
    # csr2transmart's observation_fact count, which a resume may skip
    staging_rows = Path(root, "staging.rows")
    ctx = DagContext()

    def failpoint(stage: str) -> None:
        if fail_stage == stage:
            raise RuntimeError(f"injected failure in {stage}")

    def update_data_files() -> None:
        failpoint("update_data_files")
        # scripts/sync.py:142-182 — copy dropzone into the versioned
        # input dir (driver-side file sync, exactly like the reference)
        shutil.rmtree(input_data, ignore_errors=True)
        shutil.copytree(dropzone, input_data)

    def git_commit_input() -> None:
        failpoint("git_commit_input")
        store = SnapshotStore(os.path.join(root, "snap_input"))
        ctx.counts["input_files"] = store.commit_tree(input_data)["n_rows"]

    def sources2csr() -> None:
        failpoint("sources2csr")
        from pmc_conversion_spark.sources.sinks import write_tsv_all
        csr = RE.build_csr(spark, data_dir=input_data)
        csr["Individual"], individuals = _counted(csr["Individual"])
        write_tsv_all({os.path.join(working, name):
                       df.select([F.col(c).cast("string")
                                  for c in df.columns])
                       for name, df in csr.items()})
        ctx.counts["individual_rows"] = individuals.get["rows"]

    def csr2transmart() -> None:
        failpoint("csr2transmart")
        # stage 3 reads stage 2's OUTPUT (main.py:115-126), it never
        # re-runs the merge — read_csr restores the typed frames from
        # the working dir's TSVs via the config-declared schemas
        csr = RE.read_csr(spark, working)
        ont = ontology_df(spark, RE.load_ontology_nodes(), top_node)
        tabs = TM.build_staging(spark, csr, ont, study_id,
                                top_node + "\\")
        tabs["observation_fact"], observations = _counted(
            tabs["observation_fact"])
        TM.write_staging(tabs, staging)
        ctx.counts["observation_rows"] = observations.get["rows"]
        write_atomic(str(staging_rows), str(observations.get["rows"]))

    def git_commit_staging() -> None:
        failpoint("git_commit_staging")
        SnapshotStore(os.path.join(root, "snap_staging")).commit_tree(staging)
        ctx.counts["staged_obs"] = int(staging_rows.read_text())

    def transmart_loader() -> None:
        failpoint("transmart_loader")
        # transmart-copy swaps in the whole staging dir, all-or-nothing
        # (main.py:144-147, README.md:181-183): hard-link it, rename it
        # live. No Spark job
        tree = live_db + ".staging"
        shutil.rmtree(tree, ignore_errors=True)
        shutil.copytree(staging, tree, copy_function=os.link)
        _swap_in(tree, live_db)
        ctx.counts["loaded_obs"] = int(staging_rows.read_text())

    def transmart_api() -> None:
        failpoint("transmart_api")
        if api is not None:
            ctx.counts["post_load_status"] = 1 if api.run_post_load(
                max_retries=5, interval_s=0.0) == "COMPLETED" else 0

    def git_commit_load_logs() -> None:
        failpoint("git_commit_load_logs")
        logs = os.path.join(root, "load_logs")
        os.makedirs(logs, exist_ok=True)
        lines = [f"{k}\t{int(v)}\n" for k, v in sorted(ctx.counts.items())]
        write_atomic(os.path.join(logs, "counts.tsv"),
                     "metric\tvalue\n" + "".join(lines))
        SnapshotStore(os.path.join(root, "snap_logs")).commit_tree(logs)

    t1 = Task("update_data_files", [dropzone], update_data_files)
    t2 = Task("git_commit_input", [input_data], git_commit_input,
              required_tasks=[t1])
    t3 = Task("sources2csr", [input_data], sources2csr,
              required_tasks=[t2])
    t4 = Task("csr2transmart", [working], csr2transmart,
              required_tasks=[t3])
    t5 = Task("git_commit_staging", [staging], git_commit_staging,
              required_tasks=[t4])
    t6 = Task("transmart_loader", [staging], transmart_loader,
              required_tasks=[t5],
              resources={"transmart_loader": 1})
    t7 = Task("transmart_api", [live_db], transmart_api,
              required_tasks=[t6])
    t8 = Task("git_commit_load_logs", [live_db], git_commit_load_logs,
              required_tasks=[t7])
    return [t1, t2, t3, t4, t5, t6, t7, t8], ctx


def run_reference_pipeline(spark: SparkSession, *, root: str,
                           api=None, email_cfg=None, transport=None,
                           log_lines=None, fail_stage: str | None = None
                           ) -> tuple[list[tuple[str, str]], DagContext]:
    """run.sh end-to-end: execute the DAG; on ANY failure send the
    error report through the injected transport and re-raise
    (scripts/run.sh:7-11). Returns (statuses, context)."""
    tasks, ctx = build_reference_dag(spark, root=root, api=api,
                                     fail_stage=fail_stage)
    runner = DagRunner(spark, SignalStore(os.path.join(root, "signals")),
                       resources={"transmart_loader": 1})

    def attempt():
        return runner.run_pipeline(tasks)

    if email_cfg is not None and transport is not None:
        from pmc_conversion_spark.plans.email_report import \
            run_with_error_report
        statuses = run_with_error_report(attempt, email_cfg, transport,
                                         log_lines)
    else:
        statuses = attempt()
    return statuses, ctx
