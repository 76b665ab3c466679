"""Self-check of the benchmark's own machinery.

    python3 perfbench/selfcheck.py

Checks, in a fresh child process set up like a benchmark run:

- both generators are deterministic: the same seed writes byte-identical
  files, another seed writes different ones;
- every drop-zone ``.sha1`` sidecar holds the file's SHA-1 followed by
  its file name;
- a ~200-patient drop zone through the 8-node DAG gives the generator's
  expected counts with every node ``ran``, then every node ``skipped``
  on an unchanged rerun, with no file under the run root changed;
- ``BENCHMARK.json`` lists exactly the per-layer metrics a traced run
  reports.

Prints ``selfcheck ok`` and exits 0, or names the first failure and
exits 1.
"""

from __future__ import annotations

import hashlib
import os
import sys

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))

PATIENTS = 200


def _digest_tree(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha1(
                    fh.read()).hexdigest()
    return out


def check_generators(tmp: str) -> None:
    from perfbench import clinical, star
    for name, gen in (("clinical", lambda d, s: clinical.generate(
                          d, seed=s, patients=PATIENTS)),
                      ("star", lambda d, s: star.generate(
                          d, seed=s, orders=500))):
        a, b, c = (os.path.join(tmp, f"{name}_{k}") for k in "abc")
        gen(a, 7)
        gen(b, 7)
        gen(c, 8)
        if _digest_tree(a) != _digest_tree(b):
            raise AssertionError(f"{name}: same seed, different files")
        if _digest_tree(a) == _digest_tree(c):
            raise AssertionError(f"{name}: seed has no effect")
    for variant in ("A", "B"):
        root = os.path.join(tmp, "clinical_a", variant)
        for d, _, files in os.walk(root):
            for f in files:
                if f.endswith(".sha1"):
                    continue
                p = os.path.join(d, f)
                with open(p, "rb") as fh:
                    want = f"{hashlib.sha1(fh.read()).hexdigest()}  {f}\n"
                with open(p + ".sha1", encoding="utf-8") as fh:
                    if fh.read() != want:
                        raise AssertionError(f"bad sidecar for {p}")


def check_manifest() -> None:
    import json

    from perfbench.workloads import PER_LAYER
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCHMARK.json")
    with open(path, encoding="utf-8") as f:
        listed = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    if listed != PER_LAYER:
        raise AssertionError("BENCHMARK.json per_layer differs from "
                             "workloads.PER_LAYER")


def check_dag(tmp: str) -> None:
    from perfbench import spans
    from perfbench.workloads import DagChange
    from pmc_conversion_spark.session import get_spark
    spark = get_spark("perfbench-selfcheck")
    work = DagChange(seed=3, patients=PATIENTS)
    work.generate(os.path.join(tmp, "dag"))
    exp = work.gen["variants"]["A"]
    if exp["individual_rows"] != PATIENTS:
        raise AssertionError(f"expected counts {exp}")
    statuses, counts = work.run(spark, spans.NullTracer())
    ok, why = work.check_ran(statuses, counts)
    if not ok:
        raise AssertionError(f"first run: {why}")
    before = spans.tree_snapshot(work.root)
    statuses, _ = work.run(spark, spans.NullTracer())
    if set(statuses.values()) != {"skipped"}:
        raise AssertionError(f"rerun statuses {statuses}")
    if spans.tree_snapshot(work.root) != before:
        raise AssertionError("rerun changed the run root")
    work.switch_variant()
    statuses, counts = work.run(spark, spans.NullTracer())
    ok, why = work.check_ran(statuses, counts)
    if not ok:
        raise AssertionError(f"variant B run: {why}")
    spark.stop()


def child() -> int:
    tmp = os.getcwd()
    try:
        check_manifest()
        check_generators(tmp)
        check_dag(tmp)
    except AssertionError as e:
        print(f"selfcheck failed: {e}")
        return 1
    print("selfcheck ok")
    return 0


def main() -> int:
    from perfbench import run
    if not run.has_program():
        return 2
    code, out = run.launch("perfbench.selfcheck", ["--child"])
    sys.stdout.write(out)
    return code


if __name__ == "__main__":
    sys.exit(child() if "--child" in sys.argv else main())
