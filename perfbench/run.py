"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \\
        --trace <0|1>

Runs from the root of a source checkout. Each invocation runs one
workload in a fresh child process (``perfbench/workload.py``) at
local[4], with the checkout root on ``PYTHONPATH`` so Spark's Python
workers import the program from source. Spark's local dirs, warehouse,
event log and every generated input live under a private directory in
``.perfbench_tmp/`` that is removed at exit. The last line of standard
output is the result object; exit status is non-zero when the
benchmark could not run.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
#: the child's limit, so that reaping still ends within 180 s
CHILD_TIMEOUT_S = 165
#: Spark driver heap for local[4]: the program's 48g default exceeds
#: the RAM of the hosts this runs on
DRIVER_MEMORY = "4g"


def _tagged(token: str) -> list[int]:
    """Live processes whose environment carries ``token``."""
    out = []
    needle = f"PERFBENCH_RUN={token}".encode()
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                if needle in f.read().split(b"\0"):
                    out.append(int(name))
        except OSError:
            pass
    return out


def _reap(token: str) -> None:
    """Kill every process the run left behind and wait until all are
    gone (the JVM and Python workers normally exit with the child)."""
    deadline = time.time() + 10
    while True:
        left = _tagged(token)
        if not left or time.time() > deadline:
            return
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def launch(module: str, argv: list[str], *,
           trace: bool = False) -> tuple[int, str]:
    """Run ``python -m <module> <argv>`` in a fresh process with a
    private scratch directory as working directory; return (exit code,
    stdout). The scratch directory and every process the child started
    are gone when this returns."""
    token = uuid.uuid4().hex
    tmp = os.path.join(ROOT, ".perfbench_tmp", token)
    for d in ("local", "java", "py"):
        os.makedirs(os.path.join(tmp, d))
    env = dict(os.environ)
    env.update({
        "PERFBENCH_RUN": token,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "TMPDIR": os.path.join(tmp, "py"),
        # no /tmp/hsperfdata_<user> files: the JVM writes only here
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData -Djava.io.tmpdir="
                             + os.path.join(tmp, "java"),
    })
    if trace:
        log_dir = os.path.join(tmp, "eventlog")
        os.makedirs(log_dir)
        env["PERFBENCH_EVENTLOG"] = log_dir
        env["PYSPARK_SUBMIT_ARGS"] = (
            f"--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.rolling.enabled=false "
            f"--conf spark.eventLog.compress=false "
            f"--conf spark.eventLog.dir=file://{log_dir} pyspark-shell")
    cmd = [sys.executable, "-u", "-m", module, *argv]
    try:
        proc = subprocess.run(cmd, cwd=tmp, env=env, stdout=subprocess.PIPE,
                              timeout=CHILD_TIMEOUT_S, text=True)
        return proc.returncode, proc.stdout
    except subprocess.TimeoutExpired:
        print(f"{module} exceeded {CHILD_TIMEOUT_S}s", file=sys.stderr)
        return 3, ""
    finally:
        _reap(token)
        shutil.rmtree(tmp, ignore_errors=True)
        try:  # the parent too, once no other run uses it
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass


def has_program() -> bool:
    if os.path.isfile(os.path.join(ROOT, "pmc_conversion_spark",
                                   "__init__.py")):
        return True
    print(f"no pmc_conversion_spark package under {ROOT}; run from a "
          "source checkout", file=sys.stderr)
    return False


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not has_program():
        return 2
    # a terminated run still kills its child and reaps what it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    code, out = launch("perfbench.workload", [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--t0", repr(time.time())], trace=bool(args.trace))
    lines = out.strip().splitlines()
    if code != 0 or not lines:
        sys.stdout.write(out)
        print(f"workload {args.workload} exited with {code}",
              file=sys.stderr)
        return code or 1
    print(lines[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main())
