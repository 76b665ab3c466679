"""Run one benchmark workload in this process; print its result line.

Started by ``perfbench/run.py`` in a fresh process whose working
directory is a private scratch directory. Every workload is a closed
loop with one client: a pass starts when the previous one ends.

Set-up is everything from the moment ``run.py`` spawned this process
to the first timed pass: interpreter start, imports, the JVM launch and
Spark session start, input generation and the workload's own set-up
(``Workload.setup``). It happens once per process, as it does for a
cron-launched pipeline run.

The end-to-end times are wall times scaled to an uncontended host by
``spans.uncontended_s`` from the share of CPU time the hypervisor stole
over that interval (``spans.steal_share``): from this process's start
to the end of set-up, and over each timed pass. The raw
wall times are printed to standard error and reported per layer.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import spans  # noqa: E402


class Passes:
    """Outcome of the timed loop."""

    def __init__(self):
        self.seconds: list[float] = []
        #: per pass: CPU seconds of the driver, the JVM and Python workers
        self.cpu: list[dict[str, float]] = []
        #: per pass: share of CPU time stolen by the hypervisor
        self.steal: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, ok: bool, why: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 5:
                self.errors.append(why)


def main() -> int:
    ticks_start = spans.cpu_ticks()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--t0", type=float, required=True)
    args = ap.parse_args()

    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; "
              f"known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = WORKLOADS[args.workload](seed=args.seed)

    from pmc_conversion_spark.session import get_spark
    t = time.time()
    spark = get_spark("perfbench")
    session_s = time.time() - t
    conf_before = dict(spark.conf.getAll)
    t = time.time()
    work.generate(os.path.join(os.getcwd(), "inputs"))
    gen_s = time.time() - t
    t = time.time()
    setup_ok, why = work.setup(spark)
    warm_s = time.time() - t
    setup_wall_s = time.time() - args.t0
    setup_steal = spans.steal_share(ticks_start, spans.cpu_ticks())
    if not setup_ok:
        print(f"set-up failed: {why}", file=sys.stderr)

    tracer = spans.Tracer(spark.sparkContext) if args.trace \
        else spans.NullTracer()
    me = os.getpid()
    res = Passes()
    rss = spans.RssSampler(me) if args.trace else contextlib.nullcontext()
    with rss:
        t_loop = time.time()
        while not res.seconds or (work.repeats and
                                  time.time() - t_loop < args.seconds):
            pass_id = len(res.seconds)
            c0 = spans.tree_cpu_seconds(me)
            k0 = spans.cpu_ticks()
            try:
                secs, ok, why = work.timed_pass(spark, tracer, pass_id)
            except Exception as e:  # a failed pass is counted, not fatal
                secs, ok, why = math.nan, False, f"{type(e).__name__}: {e}"
            k1 = spans.cpu_ticks()
            c1 = spans.tree_cpu_seconds(me)
            res.cpu.append({k: c1[k] - c0[k] for k in c1})
            res.steal.append(spans.steal_share(k0, k1))
            res.seconds.append(secs)
            res.record(ok, why)
    loop_s = time.time() - t_loop
    t = time.time()
    final_ok, why = work.final_check(spark)
    final_s = time.time() - t
    if not final_ok:
        print(f"final check failed: {why}", file=sys.stderr)
    conf_after = dict(spark.conf.getAll)
    app_id = spark.sparkContext.applicationId
    spark.stop()
    for e in res.errors:
        print(f"pass failed: {e}", file=sys.stderr)

    good = [(s, st) for s, st in zip(res.seconds, res.steal)
            if not math.isnan(s)]
    pass_s = statistics.median(s for s, _ in good) if good else math.nan
    pass_ref_s = statistics.median(
        spans.uncontended_s(s, st) for s, st in good) if good else math.nan
    setup_s = spans.uncontended_s(setup_wall_s, setup_steal)
    steal = statistics.median(res.steal + [setup_steal])
    pass_cpu_s = statistics.median(sum(c.values()) for c in res.cpu)
    print(f"wall (s): session {session_s:.1f}, inputs {gen_s:.1f}, "
          f"workload set-up {warm_s:.1f}, set-up {setup_wall_s:.1f}; "
          f"{len(res.seconds)} timed passes {loop_s:.1f}, median "
          f"{pass_s:.2f}; final check {final_s:.1f}; stolen "
          f"{steal:.3f}", file=sys.stderr)
    if args.trace:
        from perfbench.workloads import PER_LAYER
        changed = {k for k in set(conf_before) | set(conf_after)
                   if conf_before.get(k) != conf_after.get(k)}
        log = spans.read_event_log(os.environ["PERFBENCH_EVENTLOG"], app_id)
        values = {
            "session.start_s": session_s,
            "setup.gen_s": gen_s,
            "setup.warm_s": warm_s,
            "session.conf_changed_keys": len(changed),
            "trace.pass_s": pass_s,
            "trace.pass_ref_s": pass_ref_s,
            "trace.pass_cpu_s": pass_cpu_s,
            "setup.wall_s": setup_wall_s,
            "host.steal_share": steal,
            "mem.peak_rss_mb": rss.peak / 2**20,
        }
        values.update({f"cpu.{k}_s": statistics.median(c[k] for c in res.cpu)
                       for k in res.cpu[0]})
        values.update(work.layer_metrics(tracer, log))
        metrics = {k: (values.get(k, 0), u) for k, u in PER_LAYER.items()}
        out_dir = os.path.join(ROOT, ".perfbench_spans")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(
            out_dir, f"{args.workload}-seed{args.seed}.jsonl"))
    else:
        metrics = {
            "pass_ref_s": (pass_ref_s, "s"),
            "setup_s": (setup_s, "s"),
        }
    correct = setup_ok and final_ok and res.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v if math.isfinite(v) else 0.0,
                        "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
