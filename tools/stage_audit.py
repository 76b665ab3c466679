"""Runtime A/B of an explicit plan directive: live vs pass-through.

A static plan count overstates what a `localCheckpoint` or a broadcast
hint buys: AQE reuses identical shuffle stages at runtime, and the
planner broadcasts a small side without being told. This tool settles
it per query with runtime evidence. It runs each named query in two
variants inside one session, alternating per repeat so host drift hits
both sides equally:

  - variant "live" — the committed form;
  - variant "pass" — the directive monkeypatched to a pass-through
    while the query is built and executed:
      `--passthrough localCheckpoint` (default): `DataFrame.localCheckpoint`
        returns its frame (unsafe for fixpoint loops that observe the
        materialization);
      `--passthrough broadcast`: `functions.broadcast` returns its frame.

Per (query, variant): min/median wall seconds of build + one full
action (a `noop` write of the returned frame), and from the job group's
status-tracker data, the executed job / stage / task counts. The
`plan` column compares the returned frame's AQE-initial physical plan
(formatted; expression, exchange, RDD and lambda-variable ids stripped)
between the variants: "same", "differs", or "unstable" when the live
variant's own plans differ between builds. Verdicts:

  - SAME WORK — same plan and equal jobs, stages and tasks: the
    directive carries no load at this scale;
  - LOAD-BEARING — pass runs more stages and >10% more wall time;
  - REDUNDANT — pass is >10% faster;
  - NEUTRAL — anything else.

    python tools/stage_audit.py [--passthrough localCheckpoint|broadcast]
                                [--repeats N] [name ...]

Default names: the 18 multi-consumer checkpoint queries of
OPTIMIZATION_r09.md. `SPARK_GRAFT_SF_DIR` picks the data (default sf0.1).
Prints a markdown table.
"""

from __future__ import annotations

import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: the r9 #31 kept-checkpoint queries (OPTIMIZATION_r09.md table)
DEFAULT_NAMES = [
    "agg_harrell_cindex", "sketch_theta_intersect", "text_burrows_delta",
    "agg_ndcg_eval", "text_bm25_topk", "text_tfidf_topk",
    "text_cooccurrence_pmi", "vocab_bigram_lm_nll", "text_heaps_law_fit",
    "text_gries_dp", "vocab_bpe_merge_step", "vocab_coverage_curve",
    "agg_kendall_tau_b", "agg_distance_correlation", "agg_hoeffding_d",
    "agg_jonckheere_terpstra", "ts_matrix_profile", "ts_seasonal_decompose",
]

_PLAN_IDS = re.compile(
    r"#\d+|plan_id=\d+|(?<=RDD)\[\d+\]|(?<=lambda )(\w+?)_\d+\b")


def main() -> None:
    args = sys.argv[1:]
    repeats, directive = 3, "localCheckpoint"
    while args and args[0] in ("--repeats", "--passthrough"):
        if args[0] == "--repeats":
            repeats = int(args[1])
        else:
            directive = args[1]
        args = args[2:]
    names = args or DEFAULT_NAMES

    from pyspark.sql import functions
    from pyspark.sql.classic.dataframe import DataFrame
    from pmc_conversion_spark.session import get_spark
    import __spark_entry__ as E

    owner = {"localCheckpoint": DataFrame, "broadcast": functions}[directive]
    real = getattr(owner, directive)
    passthrough = ((lambda self, *a, **k: self) if owner is DataFrame
                   else (lambda df: df))

    spark = get_spark("stage-audit")
    qs = E.queries()
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    # warm JIT / Python workers / parquet footers, bench-style
    spark.range(1).count()
    n_workers = sc.defaultParallelism
    (spark.range(n_workers).repartition(n_workers)
     .mapInPandas(lambda it: it, "id long").count())

    def run_once(name: str, variant: str, rep: int) -> dict:
        group = f"audit:{name}:{variant}:{rep}"
        sc.setJobGroup(group, group)
        if variant == "pass":
            setattr(owner, directive, passthrough)
        try:
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            plan = sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            df.write.format("noop").mode("overwrite").save()
            wall = time.time() - t0
        finally:
            setattr(owner, directive, real)
            sc.setJobGroup(None, None)
        jobs = tracker.getJobIdsForGroup(group)
        stages, tasks = 0, 0
        for j in jobs:
            ji = tracker.getJobInfo(j)
            if ji is None:
                continue
            for s in ji.stageIds:
                si = tracker.getStageInfo(s)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numTasks
        return {"wall": wall, "jobs": len(jobs), "stages": stages,
                "tasks": tasks,
                "plan": _PLAN_IDS.sub(lambda m: m.group(1) or "", plan)}

    print("| query | variant | wall min | wall med | jobs | stages "
          "| tasks | plan | verdict |")
    print("|---|---|---|---|---|---|---|---|---|")
    for name in names:
        if name not in qs:
            print(f"| {name} | — | not registered | | | | | | |")
            continue
        # one untimed warm pass per variant (JIT for this query's shapes)
        rows = {"live": [], "pass": []}
        try:
            for rep in range(-1, repeats):  # alternate to share drift
                rows["live"].append(run_once(name, "live", rep))
                rows["pass"].append(run_once(name, "pass", rep))
        except Exception as exc:  # noqa: BLE001
            print(f"| {name} | — | ERROR {type(exc).__name__} "
                  "| | | | | | |", flush=True)
            continue
        plans = {v: {r["plan"] for r in rs} for v, rs in rows.items()}
        out = {}
        for v, rs in rows.items():
            walls = [r["wall"] for r in rs[1:]]
            out[v] = {
                "min": min(walls), "med": statistics.median(walls),
                "jobs": max(r["jobs"] for r in rs[1:]),
                "stages": max(r["stages"] for r in rs[1:]),
                "tasks": max(r["tasks"] for r in rs[1:])}
        a, b = out["live"], out["pass"]
        if len(plans["live"]) > 1:
            plan = "unstable"
        else:
            plan = "same" if plans["live"] == plans["pass"] else "differs"
        if plan == "same" and all(a[k] == b[k]
                                  for k in ("jobs", "stages", "tasks")):
            verdict = "SAME WORK"
        elif b["stages"] > a["stages"] and b["min"] > a["min"] * 1.10:
            verdict = "LOAD-BEARING"
        elif b["min"] < a["min"] * 0.90:
            verdict = "REDUNDANT"
        else:
            verdict = "NEUTRAL"
        for v in ("live", "pass"):
            o = out[v]
            print(f"| {name} | {v} | {o['min']:.3f} | {o['med']:.3f} "
                  f"| {o['jobs']} | {o['stages']} | {o['tasks']} "
                  f"| {plan if v == 'pass' else ''} "
                  f"| {verdict if v == 'pass' else ''} |", flush=True)


if __name__ == "__main__":
    main()
