"""Spans, Spark job attribution and process-tree readings for the benchmark.

Spans are recorded from the benchmark's own files around each call into
a layer of the program. Each span sets the Spark local property
``perfbench.span`` for its duration, so every job the call submits (in
the calling thread) carries the span id. The event log then ties jobs,
stages and task metrics back to spans and passes.

``NullTracer`` is the untraced twin: same interface, no bookkeeping.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager

SPAN_PROP = "perfbench.span"

now = time.perf_counter


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str):
        yield

    @contextmanager
    def pass_span(self, pass_id):
        yield

    def note(self, key: str, value: float) -> None:
        pass


class Tracer:
    """In-memory span recorder; ``dump`` writes JSON lines at exit."""

    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        #: pass id -> {counter name: value}, for counts taken outside Spark
        self.notes: dict = {}
        self.pass_id = None
        self.root_id = None
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def pass_span(self, pass_id):
        """Root span of one pass. Spans opened by other threads while it
        is open (the DAG runner's worker) become its children."""
        self.pass_id = pass_id
        with self.span("pass"):
            self.root_id = len(self.spans) - 1
            try:
                yield
            finally:
                self.root_id = None

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "pass": self.pass_id,
                   "parent": stack[-1] if stack else self.root_id,
                   "start": time.perf_counter(), "end": None}
            self.spans.append(rec)
        prev = self.sc.getLocalProperty(SPAN_PROP)
        self.sc.setLocalProperty(SPAN_PROP, str(sid))
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            self.sc.setLocalProperty(SPAN_PROP, prev)
            rec["end"] = time.perf_counter()

    def note(self, key: str, value: float) -> None:
        with self._lock:
            d = self.notes.setdefault(self.pass_id, {})
            d[key] = d.get(key, 0) + value

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ------------------------------------------------------------ event log

def read_event_log(log_dir: str, app_id: str) -> dict:
    """Jobs and stages from the event log of application ``app_id``.

    Returns ``{"jobs": {id: {...}}, "stages": {(id, attempt): {...}}}``
    where each job carries its span id and submit/complete times (s),
    and each stage its span id, task count, finished tasks, summed
    executor run time and shuffle-write and spill bytes.
    """
    jobs: dict[int, dict] = {}
    stages: dict[tuple, dict] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, app_id + "*"))):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "span": props.get(SPAN_PROP),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None}
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = (
                            ev["Completion Time"] / 1000.0)
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    props = ev.get("Properties") or {}
                    stages[(info["Stage ID"], info["Stage Attempt ID"])] = {
                        "span": props.get(SPAN_PROP),
                        "tasks": info["Number of Tasks"], "ended": 0,
                        "run_ms": 0, "shuffle_write": 0, "spill": 0}
                elif kind == "SparkListenerTaskEnd":
                    st = stages.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                    m = ev.get("Task Metrics")
                    if st is None or not m:
                        continue
                    st["ended"] += 1
                    st["run_ms"] += m.get("Executor Run Time", 0)
                    st["shuffle_write"] += (m.get("Shuffle Write Metrics")
                                            or {}).get(
                        "Shuffle Bytes Written", 0)
                    st["spill"] += (m.get("Memory Bytes Spilled", 0)
                                    + m.get("Disk Bytes Spilled", 0))
    return {"jobs": jobs, "stages": stages}


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spark_counters(log: dict, span_ids: set[str]) -> dict:
    """Engine counters for the jobs and stages of the given spans."""
    jobs = [j for j in log["jobs"].values() if j["span"] in span_ids]
    stages = [s for s in log["stages"].values() if s["span"] in span_ids]
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s["ended"] for s in stages),
        "single_task_stages": sum(1 for s in stages if s["tasks"] == 1),
        "shuffle_bytes": sum(s["shuffle_write"] for s in stages),
        "spill_bytes": sum(s["spill"] for s in stages),
        "task_busy_s": sum(s["run_ms"] for s in stages) / 1000.0,
        "job_s": union_seconds([(j["start"], j["end"]) for j in jobs
                                if j["end"] is not None]),
    }


# ------------------------------------------------------- file trees

def tree_snapshot(root: str) -> dict[str, tuple[int, int, int]]:
    """relative path -> (size, mtime_ns, inode) for every file."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns,
                                             st.st_ino)
    return out


def bytes_written(before: dict, after: dict) -> int:
    """Bytes of the files that are new or rewritten in ``after``."""
    return sum(v[0] for k, v in after.items() if before.get(k) != v)


def data_bytes(root: str) -> int:
    """Bytes of the files a directory fingerprint hashes: Spark's file
    listing skips names starting with ``.`` or ``_``, and the manifest
    drops ``.sha1`` sidecars."""
    return sum(v[0] for k, v in tree_snapshot(root).items()
               if not k.endswith(".sha1")
               and not any(p[:1] in "._" for p in k.split(os.sep)))


# ------------------------------------------------------------ host

def cpu_ticks() -> list[int]:
    """The machine-wide ``cpu`` line of ``/proc/stat``: user, nice,
    system, idle, iowait, irq, softirq and steal ticks, then the rest."""
    with open("/proc/stat", encoding="ascii") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_share(t0: list[int], t1: list[int]) -> float:
    """Share of the CPU time the machine wanted to run that the
    hypervisor gave to other guests, between two ``cpu_ticks``. It is
    counted by the hypervisor, not by this machine's processes."""
    d = [b - a for a, b in zip(t0, t1)]
    wanted = sum(d[:8]) - d[3] - d[4]  # all but idle and iowait
    return d[7] / wanted if wanted > 0 else 0.0


#: A pass over which a share ``s`` of the CPU time was stolen ran about
#: ``(1 - s) ** -STEAL_EXPONENT`` times as long as on an uncontended
#: host. Fitted on a 4-vCPU VM, on both workloads at steal shares of
#: 0.11-0.32: the eight runs gave exponents of 1.7-2.2. A stolen vCPU
#: also stalls the threads that wait on it, so a pass loses more time
#: than the share stolen.
STEAL_EXPONENT = 2


def uncontended_s(wall_s: float, steal: float) -> float:
    """``wall_s`` scaled to an uncontended host."""
    return wall_s * (1 - steal) ** STEAL_EXPONENT


# ------------------------------------------------------ process tree

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii",
                  errors="replace") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm", encoding="utf-8",
                  errors="replace") as f:
            return f.read().strip()
    except OSError:
        return ""


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in descendants(root):
        st = _stat(pid)
        if st is not None:
            total += int(st[21]) * _PAGE
    return total


def tree_cpu_seconds(root: int) -> dict[str, float]:
    """CPU seconds (user+system) of the driver Python, the JVM and the
    Python workers. Workers that already exited are counted through
    their parent daemon's reaped-children time."""
    out = {"driver_py": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid in descendants(root):
        st = _stat(pid)
        if st is None:
            continue
        own = (int(st[11]) + int(st[12])) / _CLK
        reaped = (int(st[13]) + int(st[14])) / _CLK
        if pid == root:
            out["driver_py"] += own
        elif _comm(pid) == "java":
            out["jvm"] += own
        else:  # the Python worker daemon and the workers it forked
            out["pyworker"] += own + reaped
    return out


#: seconds between two readings of ``RssSampler``
RSS_EVERY_S = 0.2


class RssSampler:
    """Peak resident memory of the process tree, sampled on a thread."""

    def __init__(self, root: int):
        self.root = root
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(RSS_EVERY_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(self.root))
