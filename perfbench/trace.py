"""Measurement from outside the engine: spans, Spark counters, process CPU.

* ``Tracer`` keeps in-memory spans (name, start, end, parent) around the
  public calls the benchmark makes and, once ``wrap_checkpoint`` is called,
  around the write methods of ``plans.checkpoint.SnapshotTable`` in this
  process.  Spans opened on the engine's pool threads get their parent by
  time containment: the innermost span on the same thread, else the
  innermost span opened on the benchmark's main thread.
* ``SparkCounters`` diffs the status store's job ids around one call, so
  every job the call ran is attributed to it whatever its name (adaptive
  execution names its jobs after an internal closure).
* ``RssSampler`` follows the peak resident set of the whole process tree:
  this interpreter, the driver JVM and the Python workers under it.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Dict, List, Optional

from py4j.protocol import Py4JJavaError

from . import session

WRAPPED = ("prepare", "publish", "commit", "commit_local", "commit_delta", "compact", "read")


@dataclass
class Span:
    name: str
    start: float
    end: float
    thread: int
    info: Dict
    parent: Optional["Span"] = None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.spans: List[Span] = []
        self.main = threading.get_ident()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **info):
        s = Span(name, time.perf_counter(), 0.0, threading.get_ident(), info)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            with self._lock:
                self.spans.append(s)

    def wrap_checkpoint(self):
        """Span every SnapshotTable write (and read) in this process;
        returns a function that restores the original methods."""
        from podcast_crawler_spark.plans.checkpoint import SnapshotTable

        originals = {m: getattr(SnapshotTable, m) for m in WRAPPED}

        def wrap(method, fn):
            def traced(table, *a, **kw):
                with self.span(f"checkpoint.{method}", table=table.dir) as s:
                    out = fn(table, *a, **kw)
                    if method in ("prepare", "commit_delta", "commit_local"):
                        man = out if method == "prepare" else table.manifest()
                        s.info["files"] = len(man["files"])
                        s.info["bytes"] = sum(f["bytes"] for f in man["files"])
                    elif method == "read":
                        sid = kw.get("snapshot_id", a[1] if len(a) > 1 else None)
                        man = table.manifest(sid)
                        s.info["segments"] = (
                            len(man.get("segments") or [man["data_dir"]]) if man else 0
                        )
                    return out
            return traced

        for m, fn in originals.items():
            setattr(SnapshotTable, m, wrap(m, fn))

        def restore():
            for m, fn in originals.items():
                setattr(SnapshotTable, m, fn)

        return restore

    def link(self) -> None:
        """Assign parents by time containment (see module docstring)."""
        spans = sorted(self.spans, key=lambda s: (s.start, -s.end))
        for s in spans:
            best = None
            for p in spans:
                if p is s or not (p.start <= s.start and s.end <= p.end):
                    continue
                if p.thread not in (s.thread, self.main):
                    continue
                same = p.thread == s.thread
                key = (same, -p.dur)
                if best is None or key > best[0]:
                    best = (key, p)
            s.parent = best[1] if best else None

    def children(self, parent: Span) -> List[Span]:
        return [s for s in self.spans if s.parent is parent]

    def descendants(self, parent: Span) -> List[Span]:
        out, todo = [], [parent]
        while todo:
            kids = self.children(todo.pop())
            out += kids
            todo += kids
        return out


def covered(spans: List[Span], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of *spans*."""
    total, cur_lo, cur_hi = 0.0, None, None
    for s in sorted(spans, key=lambda s: s.start):
        a, b = max(s.start, lo), min(s.end, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class SparkCounters:
    """Per-call Spark work read from the status store by job-id diff."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()

    def _drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def last_job(self) -> int:
        self._drain()
        ids = [j.jobId() for j in _iter(self.store.jobsList(None))]
        return max(ids, default=-1)

    def since(self, last_job: int) -> Dict[str, float]:
        self._drain()
        jobs = [j for j in _iter(self.store.jobsList(None)) if j.jobId() > last_job]
        stage_ids = sorted({int(s) for j in jobs for s in _iter(j.stageIds())})
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "executor_run_s": 0.0,
               "gc_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0}
        for sid in stage_ids:
            try:
                st = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped stage: planned, never attempted
                continue
            if st.numCompleteTasks() == 0:
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out


def _iter(seq):
    """Iterate a Scala Seq through py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class RssSampler:
    """Background sampler of the process tree's total RSS (MB)."""

    def __init__(self, root_pid: int, period_s: float = 0.5):
        self.root, self.period = root_pid, period_s
        self.peak = 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, session.tree_rss_mb(self.root))
            self._stop.wait(self.period)

    def start(self):
        self._t.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._t.join(timeout=10)
        return self.peak
