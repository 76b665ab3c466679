"""Per-stage time breakdown for one registry query (r7 verdict #4).

Runs the named query twice (first run warms JIT/footers, second is
measured), with the Spark event log enabled, then parses the log into
a per-stage table: submission order, task count, summed executor run
time, wall duration, shuffle bytes. Stage boundaries are shuffles, so
the table maps 1:1 onto the operator's phases (e.g. for
dedup_minhash_cluster: shingle+minhash scan → LSH band explode/bucket
agg → pair gen → CC-loop rounds → canonical pick).

    python tools/stage_breakdown.py dedup_minhash_cluster

Prints a markdown table (pasteable into SCALING.md) and a phase total.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.1")


def main(name: str) -> None:
    evdir = tempfile.mkdtemp(prefix="spark-events-")
    # the event log is launch-only conf: hand it to the JVM before
    # get_spark starts it
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.eventLog.enabled=true "
        "--conf spark.eventLog.rolling.enabled=false "
        "--conf spark.eventLog.compress=false "
        f"--conf spark.eventLog.dir=file:{evdir} pyspark-shell")
    from pmc_conversion_spark.session import get_spark
    spark = get_spark("stage-breakdown")
    cpus = spark.sparkContext.defaultParallelism

    import __spark_entry__ as E
    qs = E.queries()
    fn = qs[name]
    # warmup: JIT, parquet footers, python worker pool
    (spark.range(cpus).repartition(cpus)
     .mapInPandas(lambda it: it, "id long").count())
    fn(spark, SF_DIR).count()
    t_mark = time.time() * 1000.0
    t0 = time.time()
    fn(spark, SF_DIR).count()
    wall = time.time() - t0
    app_id = spark.sparkContext.applicationId
    spark.stop()

    # parse the event log: per-stage metrics from task-end events
    stages: dict[int, dict] = {}
    path = next(p for p in
                (os.path.join(evdir, f) for f in os.listdir(evdir))
                if app_id in p)
    if os.path.isdir(path):  # Spark 4 rolling event-log v2 layout
        lines = []
        for f in sorted(os.listdir(path)):
            if f.startswith("events"):
                with open(os.path.join(path, f)) as fh:
                    lines.extend(fh)
    else:
        with open(path) as fh:
            lines = list(fh)
    if True:
        for line in lines:
            ev = json.loads(line)
            k = ev.get("Event")
            if k == "SparkListenerStageSubmitted":
                si = ev["Stage Info"]
                if si.get("Submission Time", 0) < t_mark:
                    continue
                stages[si["Stage ID"]] = {
                    "name": si["Stage Name"].split(" at ")[0],
                    "tasks": si["Number of Tasks"], "run_ms": 0,
                    "sh_read": 0, "sh_write": 0, "sub": si.get(
                        "Submission Time", 0), "dur_ms": 0}
            elif k == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                if sid in stages and "Completion Time" in si:
                    stages[sid]["dur_ms"] = (si["Completion Time"]
                                             - si["Submission Time"])
            elif k == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                if sid not in stages:
                    continue
                m = ev.get("Task Metrics") or {}
                stages[sid]["run_ms"] += m.get("Executor Run Time", 0)
                stages[sid]["sh_read"] += (
                    (m.get("Shuffle Read Metrics") or {})
                    .get("Local Bytes Read", 0)
                    + (m.get("Shuffle Read Metrics") or {})
                    .get("Remote Bytes Read", 0))
                stages[sid]["sh_write"] += (
                    (m.get("Shuffle Write Metrics") or {})
                    .get("Shuffle Bytes Written", 0))

    print(f"\n### {name} stage breakdown (sf_dir={SF_DIR}, "
          f"local[{cpus}], measured wall {wall:.2f}s)\n")
    print("| stage | kind | tasks | executor run (s) | wall (s) "
          "| shuffle read | shuffle write |")
    print("|---|---|---|---|---|---|---|")
    tot = 0.0
    for sid in sorted(stages):
        s = stages[sid]
        tot += s["run_ms"] / 1000.0
        print(f"| {sid} | {s['name']} | {s['tasks']} "
              f"| {s['run_ms']/1000.0:.2f} | {s['dur_ms']/1000.0:.2f} "
              f"| {s['sh_read']/1024:.0f} KiB "
              f"| {s['sh_write']/1024:.0f} KiB |")
    print(f"\ntotal executor run {tot:.2f}s across {len(stages)} stages; "
          f"wall {wall:.2f}s (gap = scheduler idle + driver planning)")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "dedup_minhash_cluster")
