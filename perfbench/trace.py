"""Measurement from outside the engine: spans around the engine's
module-level entry points, Spark job and stage figures read back from
the status store, and the process tree's resident memory.

Spans stay in memory until the run ends. Wrapping replaces a module or
class attribute with a timing shim for the life of the process; nothing
in the engine's source changes.
"""

from __future__ import annotations

import functools
import itertools
import os
import threading
import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the parent span, None at the root
    op: int | None  # operation the span belongs to


class Tracer:
    """Thread-aware span recorder. Each thread keeps its own stack, so
    concurrent requests nest correctly; spans of one operation share its
    op id."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def set_op(self, op: int | None) -> None:
        self._local.op = op

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        st = self._stack()
        span = Span(name, time.time(), 0.0, st[-1] if st else None,
                    getattr(self._local, "op", None))
        with self._lock:
            idx = len(self.spans)
            self.spans.append(span)
        st.append(idx)
        try:
            yield span
        finally:
            span.end = time.time()
            st.pop()

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a shim recording span ``name``."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def shim(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, shim)


# -- Spark jobs ----------------------------------------------------------------


@dataclass
class Job:
    job_id: int
    submitted: float  # epoch seconds
    completed: float
    tasks: int
    stages_run: int = 0
    stages_skipped: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0


class JobReader:
    """Reads jobs from the SparkContext's status store in id order.

    Job ids are assigned in submission order, so every job submitted
    since the previous call has an id above the last one seen; ``new_jobs``
    returns exactly those. Only finished jobs are returned; it is called
    between operations, when none is running."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._next = 0

    def _job(self, jid: int):
        from py4j.protocol import Py4JJavaError

        try:
            return self._store.job(jid)
        except Py4JJavaError:  # NoSuchElementException: no such job yet
            return None

    def skip_existing(self) -> None:
        """Start after the newest job. The status store keeps only the
        latest jobs, so start from the newest ungrouped one it lists."""
        ids = self._sc.statusTracker().getJobIdsForGroup(None)
        self._next = max(ids, default=-1) + 1
        while self._job(self._next) is not None:
            self._next += 1

    def new_jobs(self) -> list[Job]:
        jobs = []
        for jid in itertools.count(self._next):
            jd = self._job(jid)
            if jd is None:
                break
            self._next = jid + 1
            sub, comp = jd.submissionTime(), jd.completionTime()
            if not (sub.isDefined() and comp.isDefined()):
                continue
            job = Job(jid, sub.get().getTime() / 1000.0, comp.get().getTime() / 1000.0,
                      jd.numCompletedTasks() + jd.numFailedTasks())
            ids = jd.stageIds()
            for i in range(ids.size()):
                self._add_stage(job, ids.apply(i))
            jobs.append(job)
        return jobs

    def _add_stage(self, job: Job, stage_id: int) -> None:
        attempts = self._store.stageData(stage_id, False, None, False, None)
        for i in range(attempts.size()):
            sd = attempts.apply(i)
            if sd.status().toString() == "SKIPPED":
                job.stages_skipped += 1
                continue
            job.stages_run += 1
            job.executor_run_s += sd.executorRunTime() / 1000.0
            job.executor_cpu_s += sd.executorCpuTime() / 1e9
            job.shuffle_read_bytes += sd.shuffleReadBytes()
            job.shuffle_write_bytes += sd.shuffleWriteBytes()
            job.input_bytes += sd.inputBytes()


def catalyst_phases_ms(df) -> dict[str, float]:
    """Analysis, optimization and planning time of ``df``'s query
    execution, from its QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


# -- process tree memory --------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree(root: int) -> list[int]:
    parents: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        parents.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(parents.get(pid, []))
    return out


def tree_rss(root: int) -> dict[str, int]:
    """Resident bytes of each live process in ``root``'s tree, keyed
    ``pid:command``."""
    out = {}
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                rss = int(f.read().split()[1]) * _PAGE
            with open(f"/proc/{pid}/comm") as f:
                out[f"{pid}:{f.read().strip()}"] = rss
        except (OSError, IndexError, ValueError):
            continue
    return out


class RssSampler:
    """Samples the resident memory of a process tree on a daemon thread
    and keeps the peak, with its per-process split."""

    def __init__(self, root: int, interval: float = 0.5) -> None:
        self.root = root
        self.interval = interval
        self.peak = 0
        self.peak_split: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        split = tree_rss(self.root)
        total = sum(split.values())
        if total > self.peak:
            self.peak, self.peak_split = total, split

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc: object) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
