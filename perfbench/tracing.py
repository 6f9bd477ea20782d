"""Measurement plumbing read from outside the program under test.

* ``Spans`` — named intervals (name, start, end, parent) kept in memory and
  written once at exit; self time = span minus the time its children cover.
* ``Tracer`` — traced runs only: wraps public package functions in spans and
  tags the Spark jobs they launch with a job description (a thread-local
  property, so the engine's two driver threads are tagged by the wrapper
  that runs inside them), then reads Spark's status store (jobs, stages,
  tasks, bytes, SQL metrics) and attributes each job to its tag.
* ``RssSampler`` — peak summed RSS of this process and all its descendants
  (the Spark JVM and its Python workers).
"""

from __future__ import annotations

import functools
import os
import re
import threading
import time
from contextlib import contextmanager

DESC = "spark.job.description"


class Spans:
    """Spans in epoch seconds, the clock Spark's status store uses."""

    def __init__(self) -> None:
        self.records: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": stack[-1]["name"] if stack else None,
            "thread": threading.current_thread().name,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.records.append(rec)

    def total(self, name: str) -> float:
        return sum(r["end"] - r["start"] for r in self.records if r["name"] == name)

    def count(self, name: str) -> int:
        return sum(1 for r in self.records if r["name"] == name)

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the union of its children's
        intervals (children recorded in the same thread)."""
        out: dict[str, float] = {}
        for r in self.records:
            kids = sorted(
                (c["start"], c["end"]) for c in self.records
                if c["parent"] == r["name"] and c["thread"] == r["thread"]
                and c["start"] >= r["start"] and c["end"] <= r["end"]
            )
            out[r["name"]] = out.get(r["name"], 0.0) + (
                r["end"] - r["start"] - _union_len(kids)
            )
        return out


def _union_len(intervals) -> float:
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


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _opt(o):
    return o.get() if o.isDefined() else None


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_size(text: str | None) -> float:
    """Bytes from a formatted SQL size metric ('1.2 MiB' or the
    'total (min, med, max)\\n1.2 MiB (...)' form)."""
    if not text:
        return 0.0
    body = text.split("\n", 1)[-1]
    m = re.search(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b", body)
    return float(m.group(1).replace(",", "")) * _SIZE[m.group(2)] if m else 0.0


class Tracer:
    """Span + job-tag wrappers around public package functions, and the
    status-store reader that turns tagged jobs into per-layer numbers."""

    def __init__(self, spark, spans: Spans) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans = spans
        self._restore: list[tuple[object, str, object]] = []
        self.self_s = 0.0  # time spent inside the tracer's own bookkeeping
        self._seen: set[int] = set()
        self.jobs: list[dict] = []

    # --- job tags ---------------------------------------------------------
    def set_tag(self, tag: str | None) -> str | None:
        prev = self.sc.getLocalProperty(DESC)
        self.sc.setLocalProperty(DESC, tag)
        return prev

    @contextmanager
    def tagged(self, name: str, tag: str | None = None):
        """A span that also tags the jobs launched inside it (restored on
        exit)."""
        prev = self.set_tag(tag or name)
        try:
            with self.spans.span(name) as rec:
                yield rec
        finally:
            self.set_tag(prev)

    def wrap(self, module, attr: str, name: str, tag=None, sticky: bool = False):
        """Replace ``module.attr`` with a wrapper recording a span ``name``.
        ``tag`` (a string, or a callable of the call's arguments) tags the
        jobs launched during the call; ``sticky`` leaves the tag set after
        return, for functions that build a lazy plan whose jobs run later
        in the same thread."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            t = tag(*a, **kw) if callable(tag) else tag
            prev = self.set_tag(t) if t else None
            try:
                with self.spans.span(name):
                    return orig(*a, **kw)
            finally:
                if t and not sticky:
                    self.set_tag(prev)

        setattr(module, attr, wrapper)
        self._restore.append((module, attr, orig))

    def unwrap(self) -> None:
        for module, attr, orig in reversed(self._restore):
            setattr(module, attr, orig)
        self._restore.clear()

    # --- status store ------------------------------------------------------
    def collect(self) -> None:
        """Read the jobs completed since the last call (with their stages'
        metrics) out of the status store; a job still running is read by a
        later call."""
        t0 = time.perf_counter()
        store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        jvm = self.sc._jvm
        new = [j for j in _iter(store.jobsList(None))
               if j.jobId() not in self._seen and j.completionTime().isDefined()]
        q = gw.new_array(jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        for j in sorted(new, key=lambda j: j.jobId()):
            sub, comp = _opt(j.submissionTime()), _opt(j.completionTime())
            stages = []
            for sid in _iter(j.stageIds()):
                attempts = list(_iter(store.stageData(sid, False, jvm.java.util.ArrayList(),
                                                      False, gw.new_array(jvm.double, 0))))
                if not attempts:
                    continue
                s = attempts[-1]
                skew = 1.0
                if s.numCompleteTasks() > 0:
                    summ = _opt(store.taskSummary(sid, s.attemptId(), q))
                    if summ is not None:
                        rt = summ.executorRunTime()
                        med, mx = rt.apply(0), rt.apply(1)
                        skew = mx / med if med > 0 else 1.0
                stages.append({
                    "stage": sid,
                    "tasks": s.numCompleteTasks(),
                    "task_s": s.executorRunTime() / 1000.0,
                    "input_bytes": s.inputBytes(),
                    "shuffle_bytes": s.shuffleWriteBytes(),
                    "spill_bytes": s.diskBytesSpilled(),
                    "skew": skew,
                })
            self.jobs.append({
                "job": j.jobId(),
                "tag": _opt(j.description()),
                "name": j.name(),
                "start": sub.getTime() / 1000.0 if sub is not None else None,
                "end": comp.getTime() / 1000.0 if comp is not None else None,
                "stages": stages,
            })
            self._seen.add(j.jobId())
        self.self_s += time.perf_counter() - t0

    def python_bytes(self, tag_prefix: str) -> float:
        """Bytes sent to Python workers by the SQL executions whose jobs carry
        a tag starting with ``tag_prefix``."""
        t0 = time.perf_counter()
        ids = {j["job"] for j in self.jobs if (j["tag"] or "").startswith(tag_prefix)}
        sql = self.spark._jsparkSession.sharedState().statusStore()
        total = 0.0
        for e in _iter(sql.executionsList()):
            if not any(int(k) in ids for k in _iter(e.jobs().keys())):
                continue
            accs = [m.accumulatorId() for m in _iter(e.metrics())
                    if m.name() == "data sent to Python workers"]
            if accs:
                vals = sql.executionMetrics(e.executionId())
                total += sum(parse_size(_opt(vals.get(a))) for a in accs)
        self.self_s += time.perf_counter() - t0
        return total

    def jobs_tagged(self, prefix: str) -> list[dict]:
        return [j for j in self.jobs if (j["tag"] or "").startswith(prefix)]


def stage_sums(jobs: list[dict]) -> dict[str, float]:
    """Summed task time and bytes over the stages of ``jobs``; skew is the
    max/median task time of the stage with the most task time."""
    out = {"task_s": 0.0, "input_bytes": 0.0, "shuffle_bytes": 0.0,
           "spill_bytes": 0.0, "skew": 0.0}
    heaviest = None
    for j in jobs:
        for s in j["stages"]:
            for k in ("task_s", "input_bytes", "shuffle_bytes", "spill_bytes"):
                out[k] += s[k]
            if heaviest is None or s["task_s"] > heaviest["task_s"]:
                heaviest = s
    if heaviest is not None:
        out["skew"] = heaviest["skew"]
    return out


def busy_s(jobs: list[dict]) -> float:
    """Wall time covered by at least one of ``jobs``."""
    return _union_len((j["start"], j["end"]) for j in jobs if j["start"] and j["end"])


class RssSampler:
    """Samples the summed RSS of this process tree every ``period`` seconds
    on a background thread; ``peak_mb`` is the largest sum seen."""

    def __init__(self, period: float = 0.25) -> None:
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak_mb

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def sample(self) -> None:
        pids = descendants(os.getpid()) | {os.getpid()}
        total_kb = 0
        for pid in pids:
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            total_kb += int(line.split()[1])
                            break
            except OSError:
                continue  # exited between listing and reading
        self.peak_mb = max(self.peak_mb, total_kb / 1024.0)


def descendants(root: int) -> set[int]:
    """PIDs of every live descendant of ``root`` (from /proc/*/stat)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out: set[int] = set()
    todo = [root]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out
