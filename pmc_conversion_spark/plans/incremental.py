"""Incremental scheduling: the done-signal protocol + linear DAG runner.

Reference semantics (luigi-pipeline/luigi_commons.py:17-28,38-109;
main.py:201-235):

- every task owns a done-signal whose content is the fingerprint of its
  input at the time it last ran;
- a task is complete iff its done-signal content equals the *current*
  fingerprint of its input (``signal_files_matches``); any upstream
  change invalidates everything downstream;
- forcing a re-run = deleting the done-signal (remove_done_files.sh:3);
- the DAG is an explicitly wired list of tasks, each naming its
  required_tasks (DynamicDependenciesTask.requires, luigi_commons.py:
  31-35).

Fingerprints are directory-manifest digests (sorted "path sha1" lines,
main.py:66-68) computed on the driver, as the reference's
scripts/checksum.py:19-32 does: each file is streamed through SHA-1 in
fixed-size chunks, so memory stays bounded whatever the file size, and
no file is held as one row (Spark's ``binaryFile`` source does that, and
refuses files over 2 GiB). No Spark job runs. The file filter and the
digest match the distributed route ``manifest_digest(
manifest_with_checksums(...))`` byte for byte, so done-signals written
by either route stay valid.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import threading
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

#: luigi's recommended exit-code classes (luigi.cfg-sample:46-54)
RETCODES = {
    "already_running": 10,
    "missing_data": 20,
    "not_run": 25,
    "task_failed": 30,
    "scheduling_error": 35,
    "unhandled_exception": 40,
}


class MissingDataError(Exception):
    """Raise from a task's ``run`` to classify the failure as
    missing_data (retcode 20) rather than task_failed (30)."""


class PipelineExit(RuntimeError):
    """A pipeline run that must terminate with a luigi-style exit code.

    Carries the retcode class name, the numeric code, the failing task
    name, and the causing exception (``__cause__``).
    """

    def __init__(self, retclass: str, task: str, cause: BaseException):
        self.retclass = retclass
        self.retcode = RETCODES[retclass]
        self.task = task
        super().__init__(
            f"task {task!r} failed ({retclass}, exit {self.retcode}): "
            f"{cause}")


def _classify(exc: Exception) -> str:
    if isinstance(exc, (MissingDataError, FileNotFoundError)):
        return "missing_data"
    return "task_failed"


class ResourcePool:
    """Named concurrency caps — luigi's ``[resources]`` section
    (luigi.cfg-sample:42-43: ``transmart_loader=1`` serializes the
    database-load stage no matter how wide the scheduler runs).

    ``acquire`` blocks until every resource the task declares has a
    free slot; slots default to capacity 1 when undeclared, matching
    the reference's load-serialization intent.
    """

    def __init__(self, caps: dict[str, int] | None = None):
        self._caps = dict(caps or {})
        self._used: dict[str, int] = {}
        self._cv = threading.Condition()

    def _cap(self, name: str) -> int:
        return self._caps.get(name, 1)

    def acquire(self, needs: dict[str, int]) -> None:
        with self._cv:
            self._cv.wait_for(lambda: all(
                self._used.get(r, 0) + amt <= self._cap(r)
                for r, amt in needs.items()))
            for r, amt in needs.items():
                self._used[r] = self._used.get(r, 0) + amt

    def release(self, needs: dict[str, int]) -> None:
        with self._cv:
            for r, amt in needs.items():
                self._used[r] = self._used.get(r, 0) - amt
            self._cv.notify_all()


def _hidden(name: str) -> bool:
    """Names Spark's file listing skips (HadoopFSUtils'
    ``shouldFilterOutPathName``), before its ``_metadata`` exception."""
    return (name.startswith(".") or name.endswith("._COPYING_")
            or (name.startswith("_") and "=" not in name))


def listed_files(path: str) -> list[tuple[str, str]]:
    """(relative path, full path) of every file a Spark manifest scan
    (``manifest_with_checksums``) of the directory ``path`` would list,
    sorted by relative path.

    Same file filter: hidden and ``._COPYING_`` names are skipped at
    every level, except directories named ``_metadata*`` /
    ``_common_metadata*`` (Spark lists those, then drops such *files*);
    zero-length files and ``.sha1`` sidecars are skipped; symlinked
    directories are followed. A missing directory has no files."""
    out = []
    for dirpath, dirnames, filenames in os.walk(path, followlinks=True):
        dirnames[:] = [d for d in dirnames if not _hidden(d)
                       or d.startswith(("_metadata", "_common_metadata"))]
        for name in filenames:
            full = os.path.join(dirpath, name)
            if (_hidden(name) or name.endswith(".sha1")
                    or os.path.getsize(full) == 0):
                continue
            out.append((os.path.relpath(full, path), full))
    return sorted(out)


def dir_manifest(path: str) -> list[tuple[str, str]]:
    """(relative path, SHA-1 hex) of every file ``listed_files(path)``
    lists, sorted by path."""
    out = []
    for rel, full in listed_files(path):
        with open(full, "rb") as f:
            out.append((rel, hashlib.file_digest(f, "sha1").hexdigest()))
    return out


def tree_digest(manifest: list[tuple[str, str]]) -> str:
    """SHA-1 of a ``dir_manifest``: its ``"<path> <sha1>"`` lines sorted
    in UTF-8 byte order and joined by newlines, as ``manifest_digest``
    builds it (no files gives the SHA-1 of the empty string)."""
    lines = sorted(f"{rel} {sha1}".encode() for rel, sha1 in manifest)
    return hashlib.sha1(b"\n".join(lines)).hexdigest()


def dir_fingerprint(spark: SparkSession, path: str) -> str:
    """``tree_digest`` of ``path`` on the driver; ``spark`` is unused."""
    return tree_digest(dir_manifest(path))


def write_atomic(path: str, text: str) -> None:
    """Write ``path`` so a reader sees the old file or the new one."""
    tmp = path + ".tmp"
    try:
        with open(tmp, "w") as f:
            f.write(text)
        os.replace(tmp, path)
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)
        raise


@dataclass
class Task:
    """One pipeline stage. ``input_dirs`` are fingerprinted to form the
    input signal; ``run`` produces the stage outputs.

    ``retries`` is the per-task retry budget (a transient failure is
    re-attempted up to ``retries`` extra times before the run fails
    with a retcode class); ``resources`` declares named concurrency
    slots consumed while running (``{"transmart_loader": 1}`` on the
    load stage reproduces luigi.cfg-sample:42-43).
    """
    name: str
    input_dirs: list[str]
    run: Callable[[], None]
    required_tasks: list["Task"] = field(default_factory=list)
    retries: int = 0
    resources: dict[str, int] = field(default_factory=dict)


class SignalStore:
    """Done-signal files, one per task (``.done-<name>`` equivalent)."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, task: str) -> str:
        return os.path.join(self.root, f".done-{task}")

    def read(self, task: str) -> str | None:
        p = self._path(task)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return f.read().strip()

    def write(self, task: str, signal: str) -> None:
        write_atomic(self._path(task), signal)

    def remove(self, task: str | None = None) -> None:
        """Force re-run: drop one signal or all (remove_done_files.sh:3)."""
        if task is not None:
            try:
                os.remove(self._path(task))
            except FileNotFoundError:
                pass
            return
        for f in os.listdir(self.root):
            if f.startswith(".done-"):
                os.remove(os.path.join(self.root, f))


class DagRunner:
    """Topological execution with done-signal skipping, retry budgets,
    retcode classes, and resource caps.

    ``run_pipeline`` returns the per-task status list: 'skipped' when the
    input signal matches the done signal (luigi_commons.py:69-80), else
    'ran'; tasks that never started because an upstream failure ended
    the run are reported 'not_run' (luigi retcode class 25). Tasks run
    in dependency order; a linear chain reproduces main.py:201-235
    exactly. ``max_workers > 1`` runs dependency-independent tasks
    concurrently, with :class:`ResourcePool` enforcing the
    ``[resources]`` caps (so the transmart-load stage stays serialized
    however wide the scheduler runs). A task failure after its retry
    budget raises :class:`PipelineExit` carrying the classified
    retcode; the statuses gathered so far ride on ``exc.statuses`` for
    the error report.
    """

    def __init__(self, spark: SparkSession, signals: SignalStore,
                 resources: dict[str, int] | None = None):
        self.spark = spark
        self.signals = signals
        self.resources = resources

    def input_signal(self, task: Task) -> str:
        parts = [f"{d}:{dir_fingerprint(self.spark, d)}"
                 for d in sorted(task.input_dirs)]
        # Upstream identity is part of the signal so a re-run upstream
        # (even yielding identical dirs listed) chains correctly.
        return "\n".join(parts)

    def _topo(self, tasks: list[Task]) -> list[Task]:
        seen: dict[str, Task] = {}
        order: list[Task] = []

        def visit(t: Task, stack: tuple[str, ...]) -> None:
            if t.name in stack:
                raise ValueError(f"cycle at {t.name}")
            if t.name in seen:
                return
            for r in t.required_tasks:
                visit(r, stack + (t.name,))
            seen[t.name] = t
            order.append(t)

        for t in tasks:
            visit(t, ())
        return order

    def _attempt(self, task: Task) -> None:
        """Run with the task's retry budget; classify the final
        failure into a retcode class (luigi.cfg-sample:46-54).
        ``KeyboardInterrupt`` and ``SystemExit`` are neither retried nor
        wrapped."""
        last: Exception | None = None
        for _ in range(task.retries + 1):
            try:
                task.run()
                return
            except Exception as e:
                last = e
        assert last is not None
        raise PipelineExit(_classify(last), task.name, last) from last

    def run_pipeline(self, tasks: list[Task], *,
                     max_workers: int = 1) -> list[tuple[str, str]]:
        from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor
        from concurrent.futures import wait as fwait

        try:
            order = self._topo(tasks)
        except ValueError as e:
            raise PipelineExit("scheduling_error", "<dag>", e) from e

        pool = ResourcePool(self.resources)
        statuses: list[tuple[str, str]] = []
        upstream_ran: set[str] = set()
        completed: set[str] = set()
        lock = threading.Lock()

        def exec_task(task: Task) -> None:
            dep_ran = any(r.name in upstream_ran
                          for r in task.required_tasks)
            # an upstream re-run forces this one: no need to fingerprint
            if not dep_ran and (self.signals.read(task.name)
                                == self.input_signal(task)):
                with lock:
                    statuses.append((task.name, "skipped"))
                return
            pool.acquire(task.resources)
            try:
                self._attempt(task)
            finally:
                pool.release(task.resources)
            # Signal content = input fingerprint *after* the run (inputs
            # may be produced by upstream in the same pipeline pass).
            self.signals.write(task.name, self.input_signal(task))
            with lock:
                upstream_ran.add(task.name)
                statuses.append((task.name, "ran"))

        pending: dict[str, Task] = {t.name: t for t in order}
        futures: dict = {}
        failure: PipelineExit | None = None
        with ThreadPoolExecutor(max_workers=max_workers) as ex:
            while pending or futures:
                if failure is None:
                    # submit in topo order so one worker == main.py's
                    # strictly sequential chain
                    for name in [t.name for t in order if t.name in pending]:
                        t = pending[name]
                        if all(r.name in completed
                               for r in t.required_tasks):
                            futures[ex.submit(exec_task, t)] = t
                            del pending[name]
                if not futures:
                    break
                done, _ = fwait(set(futures), return_when=FIRST_COMPLETED)
                for f in done:
                    t = futures.pop(f)
                    exc = f.exception()
                    if exc is None:
                        completed.add(t.name)
                        continue
                    if not isinstance(exc, Exception):
                        raise exc  # KeyboardInterrupt, SystemExit
                    with lock:
                        statuses.append((t.name, "failed"))
                    if failure is None:
                        failure = (exc if isinstance(exc, PipelineExit)
                                   else PipelineExit(_classify(exc),
                                                     t.name, exc))
        for name in pending:
            statuses.append((name, "not_run"))
        if failure is not None:
            failure.statuses = statuses
            raise failure
        return statuses
