"""Wall time and Spark work of each DAG node as the drop zone grows.

For each patient count, a fresh process at local[4] generates a drop
zone with ``perfbench.clinical`` (seed 7) and runs the 8-node DAG through
``perfbench.dag.run_dag`` twice, each time on a new run root: a cold
pass (the JVM compiles every plan for the first time, as a cron tick
does) and a warm pass (the same plans, compiled). Every node runs in
both passes. Per node it prints the wall time and the jobs, stages and
tasks its Spark jobs ran, counted through a ``statusTracker`` job group
per node, with the tasks of each stage; a stage that ran one task is a
funnel. Each pass's row counts are checked against the generator's.

Usage:
    python -u tools/dag_scale.py [--patients 1000 10000 100000] [--work DIR]

``--work`` keeps the drop zones and run roots there; by default they go
to a temporary directory that is removed at exit. The last line of
each pass is its result as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SEED = 7


class NodeJobs:
    """A tracer for ``run_dag``: each ``node.<name>`` span runs its Spark
    jobs in its own job group and records its wall time; the layer
    spans nested in a node are not timed."""

    enabled = True

    def __init__(self, sc, tag: str):
        self.sc = sc
        self.tag = tag
        self.wall: dict[str, float] = {}

    @contextmanager
    def span(self, name: str):
        if not name.startswith("node."):
            yield
            return
        self.sc.setJobGroup(f"{self.tag}.{name}", name)
        t = time.perf_counter()
        try:
            yield
        finally:
            self.wall[name[len("node."):]] = time.perf_counter() - t
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def note(self, key: str, value: float) -> None:
        pass

    def counters(self, node: str) -> dict:
        """Jobs, then the tasks of each distinct stage that ran, in
        stage order (a stage a later job reuses counts once)."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(f"{self.tag}.node.{node}")
        stage_ids = {s for j in jobs for s in st.getJobInfo(j).stageIds}
        infos = [st.getStageInfo(s) for s in sorted(stage_ids)]
        tasks = [i.numCompletedTasks for i in infos
                 if i is not None and i.numCompletedTasks > 0]
        return {"jobs": len(jobs), "stages": len(tasks),
                "tasks": sum(tasks), "stage_tasks": tasks}


def run_size(patients: int, work: str) -> bool:
    """The cold and the warm pass at one size; True if both were
    correct."""
    from perfbench import clinical, dag
    from pmc_conversion_spark.session import get_spark
    gen = clinical.generate(os.path.join(work, "gen"), seed=SEED,
                            patients=patients)
    expect = gen["variants"]["A"]
    want = {"individual_rows": expect["individual_rows"],
            "observation_rows": expect["observation_rows"],
            "staged_obs": expect["observation_rows"],
            "loaded_obs": expect["observation_rows"]}
    spark = get_spark("dag_scale")
    all_ok = True
    for name in ("cold", "warm"):
        tracer = NodeJobs(spark.sparkContext, f"{name}-{os.getpid()}")
        t = time.perf_counter()
        statuses, counts = dag.run_dag(
            spark, root=os.path.join(work, f"run_{name}"),
            dropzone=os.path.join(work, "gen", "A"),
            sources_config=gen["sources_config"],
            ontology_config=gen["ontology_config"], tracer=tracer)
        wall = time.perf_counter() - t
        got = {k: counts.get(k) for k in want}
        ok = set(statuses.values()) == {"ran"} and got == want
        all_ok &= ok
        nodes = {n: dict(tracer.counters(n), wall_s=round(tracer.wall[n], 3))
                 for n in dag.NODES}
        print(f"\n{patients} patients, {name} pass: {wall:.2f} s, "
              f"{expect['observation_rows']} observations, "
              f"{'correct' if ok else f'WRONG {statuses} {got} != {want}'}")
        print(f"{'node':22s} {'wall_s':>8s} {'jobs':>5s} {'stages':>6s} "
              f"{'tasks':>6s}  tasks per stage")
        for n, c in nodes.items():
            print(f"{n:22s} {c['wall_s']:8.2f} {c['jobs']:5d} "
                  f"{c['stages']:6d} {c['tasks']:6d}  "
                  f"{','.join(map(str, c['stage_tasks']))}")
        print(json.dumps({"patients": patients, "pass": name,
                          "wall_s": round(wall, 3), "correct": ok,
                          "nodes": nodes}))
    spark.stop()
    return all_ok


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--patients", type=int, nargs="+",
                    default=[1000, 10000, 100000])
    ap.add_argument("--work", default=None)
    ap.add_argument("--one", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.one:
        return 0 if run_size(args.patients[0], args.work) else 1
    with tempfile.TemporaryDirectory(prefix="dag_scale_") as tmp:
        work = args.work or tmp
        # the benchmark's local[4] and driver heap
        env = dict(os.environ, SPARK_GRAFT_CPUS="4", SPARK_DRIVER_MEMORY="4g")
        for n in args.patients:
            sub = os.path.join(work, f"p{n}")
            os.makedirs(sub, exist_ok=True)
            code = subprocess.run(
                [sys.executable, "-u", os.path.abspath(__file__), "--one",
                 "--patients", str(n), "--work", sub], env=env).returncode
            if code != 0:
                return code
    return 0


if __name__ == "__main__":
    sys.exit(main())
