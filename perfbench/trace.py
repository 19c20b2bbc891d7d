"""Traced runs: spans around the public functions of each layer, Spark
jobs attributed to spans through the job description, and per-job task
metrics from Spark's built-in event log.

A wrapper is installed at every name a front-end calls the function
by (engine.py imports `merge_epoch` into its own namespace, so the
wrapper replaces `canal_spark.engine.merge_epoch` as well as
`canal_spark.operators.merge.merge_epoch`). Wrappers are installed only
in a traced run; an untraced run executes the unmodified program.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

TAG = "perfbench-span:"
DESC = "spark.job.description"

#: (module, attribute path, span name, tag jobs). Functions that start
#: no Spark job themselves (lazy plan builders, manifest reads) are
#: timed without touching the job description, which saves two JVM
#: round trips per call.
TARGETS = [
    ("canal_spark.plans.epoch", "partition_extents", "plans.epoch.partition_extents", True),
    ("canal_spark.plans.epoch", "read_slice", "plans.epoch.read_slice", False),
    ("canal_spark.operators.txn", "committed_watermarks", "operators.txn.committed_watermarks", True),
    ("canal_spark.operators.lww", "lww_collapse", "operators.lww.lww_collapse", False),
    ("canal_spark.operators.merge", "merge_epoch", "operators.merge.merge_epoch", True),
    ("canal_spark.plans.table", "SnapshotTable.commit", "plans.table.commit", True),
    ("canal_spark.plans.table", "SnapshotTable.snapshot", "plans.table.snapshot", False),
    ("canal_spark.plans.table", "SnapshotTable.read", "plans.table.read", True),
    ("canal_spark.engine", "CdcEngine.run_to_completion", "engine.run_to_completion", True),
    ("canal_spark.multi", "MultiTableEngine.run_to_completion", "multi.run_to_completion", True),
    ("canal_spark.multi", "MultiTableEngine.run_epoch", "multi.run_epoch", True),
    ("canal_spark.multi", "apply_route", "multi.apply_route", True),
    ("canal_spark.streaming.stream", "StreamingUpsert.apply_batch", "streaming.stream.apply_batch", True),
    ("canal_spark.operators.dedup", "connected_components", "operators.dedup.connected_components", True),
    ("canal_spark.operators.dedup", "IncrementalDeduper.observe", "operators.dedup.IncrementalDeduper.observe", True),
]


class Span:
    __slots__ = ("sid", "parent", "name", "t0", "t1", "thread", "attrs")

    def __init__(self, sid, parent, name, t0):
        self.sid, self.parent, self.name, self.t0 = sid, parent, name, t0
        self.t1 = t0
        self.thread = threading.get_ident()
        self.attrs: dict = {}

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0


class Tracer:
    """Records spans in memory; `install` puts the layer wrappers in
    place, `uninstall` restores the original functions."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._roots: list[Span] = []
        self._restore: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[Span]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextmanager
    def span(self, name: str, tag_jobs: bool = True, root: bool = False, detached: bool = False):
        """A span on the calling thread. A span opened on a thread with
        no open span (the engine's background threads) is parented to
        the innermost open root span, unless it is `detached` (the
        benchmark's own reader thread)."""
        stack = self._stack()
        parent = stack[-1].sid if stack else None
        if parent is None and not detached and self._roots:
            parent = self._roots[-1].sid
        sp = Span(next(self._ids), parent, name, time.time())
        prev = None
        if tag_jobs:
            prev = self.sc.getLocalProperty(DESC)
            self.sc.setJobDescription(f"{TAG}{sp.sid}")
        stack.append(sp)
        if root:
            self._roots.append(sp)
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            stack.pop()
            if root:
                self._roots.remove(sp)
            if tag_jobs:
                self.sc.setLocalProperty(DESC, prev)
            with self._lock:
                self.spans.append(sp)

    # --------------------------------------------------------- wrappers
    def install(self) -> None:
        for mod_name, attr, name, tag in TARGETS:
            mod = importlib.import_module(mod_name)
            owner_path, _, fn_name = attr.rpartition(".")
            if owner_path:
                owner = getattr(mod, owner_path)
                orig = owner.__dict__[fn_name]
                self._patch(owner, fn_name, self._wrap(orig, name, tag))
                continue
            orig = getattr(mod, fn_name)
            wrapper = self._wrap(orig, name, tag)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith("canal_spark") and getattr(
                    m, fn_name, None
                ) is orig:
                    self._patch(m, fn_name, wrapper)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore = []

    def _patch(self, owner, attr: str, new) -> None:
        self._restore.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _wrap(self, fn, name: str, tag: bool):
        post = _POST.get(name)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name, tag_jobs=tag) as sp:
                out = fn(*args, **kwargs)
                if post is not None:
                    post(sp, args, kwargs, out)
                return out

        return wrapper


def _merge_post(sp: Span, args, kwargs, out) -> None:
    table = kwargs.get("table", args[1] if len(args) > 1 else None)
    files = [f for fs in (out or {}).values() for f in fs]
    total = 0
    for f in files:
        path = f if os.path.isabs(f) else os.path.join(table.root, f)
        try:
            total += os.path.getsize(path)
        except OSError:
            pass
    sp.attrs["buckets"] = len(out or {})
    sp.attrs["bytes"] = total


def _commit_post(sp: Span, args, kwargs, out) -> None:
    sp.attrs["lost"] = 0 if out else 1


_POST = {
    "operators.merge.merge_epoch": _merge_post,
    "plans.table.commit": _commit_post,
}


# ------------------------------------------------------------ event log
class Job:
    __slots__ = ("jid", "span", "submit", "tasks", "task_ms", "gc_ms",
                 "input_bytes", "shuffle_write_bytes", "spill_bytes")

    def __init__(self, jid: int, span: int | None, submit: float):
        self.jid, self.span, self.submit = jid, span, submit
        self.tasks = 0
        self.task_ms = self.gc_ms = 0.0
        self.input_bytes = self.shuffle_write_bytes = self.spill_bytes = 0


_WANTED = ('{"Event":"SparkListenerJobStart"', '{"Event":"SparkListenerTaskEnd"')


def read_event_log(log_dir: str) -> list[Job]:
    """Per-job task metrics from the (stopped) session's event log."""
    names = [os.path.join(log_dir, n) for n in os.listdir(log_dir)]
    if not names:
        raise RuntimeError(f"no Spark event log under {log_dir}")
    path = max(names, key=os.path.getmtime)
    if os.path.isdir(path):  # rolling log: events_<n>_<app id> parts
        parts = [n for n in os.listdir(path) if n.startswith("events_")]
        files = [os.path.join(path, n) for n in sorted(parts, key=lambda n: int(n.split("_")[1]))]
    else:
        files = [path]
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in _lines(files):
        if not line.startswith(_WANTED):
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get(DESC) or ""
            sid = int(desc[len(TAG):]) if desc.startswith(TAG) else None
            job = Job(ev["Job ID"], sid, ev["Submission Time"] / 1000.0)
            jobs[job.jid] = job
            for s in ev.get("Stage IDs", []):
                stage_job[s] = job.jid
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev.get("Stage ID"))
            tm = ev.get("Task Metrics")
            if jid is None or not tm:
                continue
            job = jobs[jid]
            job.tasks += 1
            job.task_ms += tm.get("Executor Run Time", 0)
            job.gc_ms += tm.get("JVM GC Time", 0)
            job.input_bytes += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            job.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            job.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    return list(jobs.values())


def _lines(files: list[str]):
    for path in files:
        with open(path) as f:
            yield from f


# --------------------------------------------------------------- rollup
class Rollup:
    """Span and job totals inside the measured window(s)."""

    def __init__(self, spans: list[Span], jobs: list[Job], windows: list[tuple[float, float]]):
        def inside(t0, t1=None):
            t1 = t0 if t1 is None else t1
            return any(w0 <= t0 and t1 <= w1 + 1e-3 for w0, w1 in windows)

        self.spans = [s for s in spans if inside(s.t0, s.t1)]
        by_id = {s.sid: s for s in spans}
        self.jobs = [j for j in jobs if inside(j.submit)]
        # every span name a job is attributed to, inclusive of ancestors
        self._job_names: dict[int, set[str]] = {}
        for j in self.jobs:
            names: set[str] = set()
            sid = j.span
            while sid is not None and sid in by_id:
                names.add(by_id[sid].name)
                sid = by_id[sid].parent
            self._job_names[j.jid] = names

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def calls(self, name: str) -> int:
        return len(self.named(name))

    def ms(self, name: str) -> float:
        return sum(s.ms for s in self.named(name))

    def attr(self, name: str, key: str) -> float:
        return sum(s.attrs.get(key, 0) for s in self.named(name))

    def jobs_of(self, name: str) -> list[Job]:
        return [j for j in self.jobs if name in self._job_names[j.jid]]

    def jobs_during(self, name: str, exclude: tuple[str, ...] = ()) -> list[Job]:
        """Jobs submitted while a `name` span was open, tagged or not,
        minus those attributed to an `exclude` span."""
        spans = self.named(name)
        return [
            j for j in self.jobs
            if any(s.t0 <= j.submit <= s.t1 for s in spans)
            and not (self._job_names[j.jid] & set(exclude))
        ]

    def untagged(self) -> list[Job]:
        return [j for j in self.jobs if j.span is None]

    def self_ms(self, name: str) -> float:
        """Interval minus the union of its children's intervals."""
        return sum(self._self_ms(s) for s in self.named(name))

    def _self_ms(self, s: Span, same_thread: bool = False) -> float:
        kids = sorted(
            (max(c.t0, s.t0), min(c.t1, s.t1))
            for c in self.spans
            if c.parent == s.sid and (not same_thread or c.thread == s.thread)
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in kids:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return (s.t1 - s.t0 - covered) * 1000.0

    def self_time_sum(self, root: str) -> float:
        """Sum of the self times of every span on the thread of a `root`
        span and under it: the layers' share of that thread's wall."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            kids.setdefault(s.parent, []).append(s)
        total = 0.0
        for r in self.named(root):
            todo = [r]
            while todo:
                s = todo.pop()
                total += self._self_ms(s, same_thread=True)
                todo += [c for c in kids.get(s.sid, []) if c.thread == r.thread]
        return total


def job_sum(jobs: list[Job], field: str) -> float:
    return float(sum(getattr(j, field) for j in jobs))
