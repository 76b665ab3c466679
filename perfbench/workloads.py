"""The benchmark's workloads and the per-layer metrics of a traced run.

Each workload generates its inputs from the seed, runs its untimed
set-up step, then timed passes, and checks every pass's output.
``layer_metrics`` turns a traced run's spans and event log into the
per-layer figures: medians over the timed passes of per-pass values.
Every workload reports every name in ``PER_LAYER``; a layer the
workload does not run reads 0.
"""

from __future__ import annotations

import math
import os
import statistics

from perfbench import clinical, dag, spans

#: patients in the generated drop zone (variant A)
DAG_PATIENTS = 2000
#: one registry pass runs these in order; they cover the registry's
#: three cost profiles (see perfbench/README.md)
REGISTRY_QUERIES = ("join_fk_transitive", "dedup_cluster_cc",
                    "f_jaro_winkler")
#: rows of ``orders`` in the generated star schema
STAR_ORDERS = 2000

#: summed duration of these spans per pass
LAYER_SPANS = {
    "sources2csr.plan_s": "sources2csr.plan",
    "transmart.plan_s": "transmart.plan",
    "transmart.write_s": "transmart.write",
    "sinks.snapshot_commit_s": "sinks.snapshot_commit",
    "sinks.swap_s": "sinks.swap",
}
SPARK_UNITS = {"jobs": "count", "stages": "count", "tasks": "count",
               "single_task_stages": "count", "shuffle_bytes": "bytes",
               "spill_bytes": "bytes", "task_busy_s": "s", "job_s": "s",
               "driver_s": "s"}


def _per_layer() -> dict[str, str]:
    units = {
        "session.start_s": "s", "setup.gen_s": "s", "setup.warm_s": "s",
        "setup.wall_s": "s", "session.conf_changed_keys": "count",
        "host.steal_share": "ratio",
        "trace.pass_s": "s", "trace.pass_ref_s": "s", "trace.pass_cpu_s": "s",
        "trace.span_coverage": "ratio", "mem.peak_rss_mb": "MB",
        "cpu.driver_py_s": "s", "cpu.jvm_s": "s", "cpu.pyworker_s": "s",
    }
    units.update({f"spark.{m}": u for m, u in SPARK_UNITS.items()})
    units.update({
        "incremental.fingerprint_s": "s",
        "incremental.fingerprint_calls": "count",
        "incremental.fingerprint_jobs": "count",
        "incremental.bytes_hashed": "bytes",
    })
    units.update({m: "s" for m in LAYER_SPANS})
    units["sources2csr.write_s"] = "s"
    for n in dag.NODES:
        units[f"node.{n}_s"] = "s"
        units.update({f"node.{n}.{m}": "count"
                      for m in ("jobs", "stages", "tasks")})
        units[f"node.{n}.bytes_written"] = "bytes"
    units["dag.write_amp"] = "ratio"
    for q in REGISTRY_QUERIES:
        units[f"q.{q}_s"] = "s"
        units.update({f"q.{q}.{m}": "count"
                      for m in ("jobs", "eager_jobs", "single_task_stages")})
    units["queries.geomean_s"] = "s"
    return units


#: every per-layer metric name -> unit, in report order
PER_LAYER = _per_layer()


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


class TracedPasses:
    """A traced run's spans grouped by timed pass, with the event log."""

    def __init__(self, tracer, log: dict):
        self.log = log
        self.notes = tracer.notes
        self.children: dict[int, list[int]] = {}
        self.passes: dict[int, list[dict]] = {}
        for s in tracer.spans:
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s["id"])
            if s["pass"] is not None and s["end"] is not None:
                self.passes.setdefault(s["pass"], []).append(s)

    def under(self, spans_: list[dict]) -> set[str]:
        """Ids (as the event log carries them) of ``spans_`` and every
        span below them."""
        out, todo = set(), [s["id"] for s in spans_]
        while todo:
            sid = todo.pop()
            out.add(str(sid))
            todo.extend(self.children.get(sid, []))
        return out

    def engine(self, spans_: list[dict]) -> dict:
        return spans.spark_counters(self.log, self.under(spans_))

    def per_pass(self, fn) -> float:
        """Median over passes of ``fn(pass_id, {name: [spans]})``."""
        values = []
        for p, ss in sorted(self.passes.items()):
            named: dict[str, list[dict]] = {}
            for s in ss:
                named.setdefault(s["name"], []).append(s)
            values.append(fn(p, named))
        return statistics.median(values) if values else 0.0

    def total_s(self, name: str) -> float:
        return self.per_pass(
            lambda p, ns: sum(_dur(s) for s in ns.get(name, [])))

    def note(self, key: str) -> float:
        return self.per_pass(lambda p, ns: self.notes.get(p, {}).get(key, 0))

    def engine_metrics(self) -> dict[str, float]:
        out = {}
        for m in SPARK_UNITS:
            if m == "driver_s":
                out["spark.driver_s"] = self.per_pass(
                    lambda p, ns: _dur(ns["pass"][0])
                    - self.engine(ns["pass"])["job_s"])
            else:
                out[f"spark.{m}"] = self.per_pass(
                    lambda p, ns: self.engine(ns["pass"])[m])
        return out


class DagChange:
    """The first run of the 8-node clinical DAG in a fresh process, on a
    new run root, so every node runs: a cron-launched run with new
    data. The run pays the JVM's first compilation of every plan, as
    each cron tick does; that cost cannot recur in one process, so a
    run times one pass."""

    repeats = False

    def __init__(self, seed: int, patients: int = DAG_PATIENTS):
        self.seed = seed
        self.patients = patients

    def generate(self, out_dir: str) -> None:
        self.gen = clinical.generate(os.path.join(out_dir, "gen"),
                                     seed=self.seed, patients=self.patients)
        self.root = os.path.join(out_dir, "run")
        self.dropzone = os.path.join(out_dir, "dropzone")
        # the variant not in the drop zone waits here
        self.parked = os.path.join(out_dir, "gen")
        os.rename(os.path.join(self.parked, "A"), self.dropzone)
        self.current = "A"

    def run(self, spark, tracer) -> tuple[dict, dict]:
        return dag.run_dag(spark, root=self.root, dropzone=self.dropzone,
                           sources_config=self.gen["sources_config"],
                           ontology_config=self.gen["ontology_config"],
                           tracer=tracer)

    def check_ran(self, statuses: dict, counts: dict) -> tuple[bool, str]:
        if set(statuses.values()) != {"ran"} or len(statuses) != 8:
            return False, f"statuses {statuses}"
        exp = self.gen["variants"][self.current]
        want = {"individual_rows": exp["individual_rows"],
                "observation_rows": exp["observation_rows"],
                "staged_obs": exp["observation_rows"],
                "loaded_obs": exp["observation_rows"]}
        got = {k: counts.get(k) for k in want}
        if got != want:
            return False, f"variant {self.current}: counts {got} != {want}"
        return True, ""

    def switch_variant(self) -> None:
        nxt = "B" if self.current == "A" else "A"
        os.rename(self.dropzone, os.path.join(self.parked, self.current))
        os.rename(os.path.join(self.parked, nxt), self.dropzone)
        self.current = nxt

    def setup(self, spark) -> tuple[bool, str]:
        return True, ""

    def timed_pass(self, spark, tracer, pass_id: int):
        t = spans.now()
        with tracer.pass_span(pass_id):
            statuses, counts = self.run(spark, tracer)
        secs = spans.now() - t
        ok, why = self.check_ran(statuses, counts)
        return secs, ok, why

    def final_check(self, spark) -> tuple[bool, str]:
        return True, ""

    def layer_metrics(self, tracer, log: dict) -> dict[str, float]:
        tp = TracedPasses(tracer, log)
        out = tp.engine_metrics()
        for n in dag.NODES:
            span = f"node.{n}"
            out[f"{span}_s"] = tp.total_s(span)
            for m in ("jobs", "stages", "tasks"):
                out[f"{span}.{m}"] = tp.per_pass(
                    lambda p, ns: tp.engine(ns.get(span, []))[m])
            out[f"{span}.bytes_written"] = tp.note(f"{span}.bytes_written")
        out.update({m: tp.total_s(name) for m, name in LAYER_SPANS.items()})
        # the stage's own TSV writes, not those of the sinks it calls
        out["sources2csr.write_s"] = tp.per_pass(lambda p, ns: sum(
            _dur(s) for s in ns.get("sinks.write_tsv", [])
            if s["parent"] in {n["id"] for n in ns.get(
                "node.sources2csr", [])}))
        fp = "fingerprint"
        out["incremental.fingerprint_s"] = tp.total_s(fp)
        out["incremental.fingerprint_calls"] = tp.per_pass(
            lambda p, ns: len(ns.get(fp, [])))
        out["incremental.fingerprint_jobs"] = tp.per_pass(
            lambda p, ns: tp.engine(ns.get(fp, []))["jobs"])
        out["incremental.bytes_hashed"] = tp.note("incremental.bytes_hashed")
        out["trace.span_coverage"] = tp.per_pass(lambda p, ns: sum(
            _dur(s) for name, ss in ns.items()
            if name.startswith("node.") or name == fp for s in ss)
            / _dur(ns["pass"][0]))
        out["dag.write_amp"] = tp.per_pass(lambda p, ns: sum(
            v for k, v in tp.notes.get(p, {}).items()
            if k.endswith(".bytes_written"))
            / self.gen["variants"][self.current]["dropzone_bytes"])
        return out


class RegistryMix:
    """A fixed mix of registered queries on a generated star schema.

    Each execution builds the query and materializes it through the
    ``noop`` sink, so every column the user would receive is computed
    (a ``count()`` would let Catalyst prune them). The row count rides
    along as an ``Observation`` in the same job.
    """

    repeats = True

    def __init__(self, seed: int):
        self.seed = seed
        self.rows: dict[str, int] = {}

    def generate(self, out_dir: str) -> None:
        from perfbench import star
        from pmc_conversion_spark import queries as Q
        self.sf_dir = os.path.join(out_dir, "sf")
        star.generate(self.sf_dir, seed=self.seed, orders=STAR_ORDERS)
        registry = Q.queries()
        self.fns = {n: registry[n] for n in REGISTRY_QUERIES}

    def execute(self, spark, name: str, tracer) -> int:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        obs = Observation(f"rows_{name}")
        with tracer.span(f"q.{name}"):
            with tracer.span("q.build"):
                df = self.fns[name](spark, self.sf_dir)
            with tracer.span("q.run"):
                (df.observe(obs, F.count(F.lit(1)).alias("n"))
                 .write.format("noop").mode("overwrite").save())
        return obs.get["n"]

    def setup(self, spark) -> tuple[bool, str]:
        """The cold execution of every query, then one pass, untimed.
        The cold execution collects the rows for the oracle check that
        follows the timed passes. The JVM keeps compiling through the
        first warm pass, which runs ~20% slower than the ones after it;
        timing it would make the median depend on how many passes fit
        in the run."""
        self.result = {}
        for n in REGISTRY_QUERIES:
            df = self.fns[n](spark, self.sf_dir)
            self.result[n] = (df.columns, [tuple(r) for r in df.collect()])
        self.rows = {n: len(rows) for n, (_, rows) in self.result.items()}
        _, ok, why = self.timed_pass(spark, spans.NullTracer(), None)
        return ok, why

    def timed_pass(self, spark, tracer, pass_id: int):
        t = spans.now()
        with tracer.pass_span(pass_id):
            got = {n: self.execute(spark, n, tracer)
                   for n in REGISTRY_QUERIES}
        secs = spans.now() - t
        if got != self.rows:
            return secs, False, f"row counts {got} != {self.rows}"
        return secs, True, ""

    def final_check(self, spark) -> tuple[bool, str]:
        """The cold execution's result multiset (whose row count every
        timed pass matched) against each query's DuckDB oracle."""
        import duckdb

        from pmc_conversion_spark import queries as Q
        from pmc_conversion_spark.tables import TABLE_NAMES
        from tools.check_oracle import rows_to_multiset
        oracles = Q.oracles()
        con = duckdb.connect()
        try:
            for t in TABLE_NAMES:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            for name, (cols, rows) in self.result.items():
                rel = con.sql(oracles[name])
                if (rows_to_multiset(cols, rows)
                        != rows_to_multiset(rel.columns, rel.fetchall())):
                    return False, f"{name}: result differs from the oracle"
        finally:
            con.close()
        return True, ""

    def layer_metrics(self, tracer, log: dict) -> dict[str, float]:
        tp = TracedPasses(tracer, log)
        out = tp.engine_metrics()
        for q in REGISTRY_QUERIES:
            span = f"q.{q}"
            out[f"{span}_s"] = tp.total_s(span)
            out[f"{span}.jobs"] = tp.per_pass(
                lambda p, ns: tp.engine(ns.get(span, []))["jobs"])
            out[f"{span}.single_task_stages"] = tp.per_pass(
                lambda p, ns: tp.engine(ns.get(span, []))[
                    "single_task_stages"])
            # jobs before the final action: those the build step ran
            out[f"{span}.eager_jobs"] = tp.per_pass(
                lambda p, ns: tp.engine([
                    b for b in ns.get("q.build", [])
                    if b["parent"] in {s["id"] for s in ns.get(span, [])}
                ])["jobs"])
        out["queries.geomean_s"] = math.exp(statistics.fmean(
            math.log(out[f"q.{q}_s"]) for q in REGISTRY_QUERIES))
        return out


WORKLOADS = {"dag_change": DagChange, "registry_mix": RegistryMix}
