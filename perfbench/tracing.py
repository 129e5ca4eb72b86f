"""Spans around calls into ``wage_etl_spark``, recorded from the benchmark side.

The benchmark does not instrument the engine. In a traced run it replaces a
few public names with wrappers, at the place where the caller looks them up
(``streaming.replay.merge_apply``, both ``streaming.replay.apply_epoch`` and
``streaming.structured.apply_epoch``, ``LakeTable.adopt_files``, ...). Each
wrapper records one span: name, wall start/end, parent span (per thread) and
the Spark job-id range ``[j0, j1)`` that ran inside it. Spark counters are
attributed to spans afterwards from Spark's status store, by job id,
the way ``bench_extra.py`` counts jobs and tasks. Spans stay in memory and
are written once, at exit.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import statistics
import threading
import time


class Tracer:
    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc.sc()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._patches: list[tuple[object, str, object]] = []
        self.spans: list[dict] = []

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "thread": threading.get_ident(),
            "t0": time.time(),
            "j0": self.next_job_id(),
            **attrs,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            rec["j1"] = self.next_job_id()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, attrs_fn=None) -> None:
        """Replace ``owner.attr`` by a wrapper that runs the original inside
        a span. ``attrs_fn(args, kwargs, result)`` may add span attributes."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                result = orig(*args, **kwargs)
                if attrs_fn is not None:
                    rec.update(attrs_fn(args, kwargs, result))
                return result

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, raw))

    def restore(self) -> None:
        while self._patches:
            owner, attr, raw = self._patches.pop()
            setattr(owner, attr, raw)

    def dump(self, path: str) -> None:
        """Write every span with its self time (duration minus the part of
        it covered by child spans)."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = []
        for s in sorted(self.spans, key=lambda r: r["t0"]):
            kids = children.get(s["id"], [])
            covered = _union_length([(k["t0"], k["t1"]) for k in kids], s["t0"], s["t1"])
            rec = dict(s)
            rec["dur_s"] = s["t1"] - s["t0"]
            rec["self_s"] = rec["dur_s"] - covered
            out.append(rec)
        with open(path, "w") as f:
            json.dump(out, f, indent=1, default=str)


def _union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class SparkStore:
    """Job and stage facts from Spark's status store, read once after
    the measured work (each read is a Py4J round trip)."""

    def __init__(self, spark, job_lo: int, job_hi: int):
        jsc = spark.sparkContext._jsc.sc()
        store = jsc.statusStore()
        self._store = store
        self._jvm = spark.sparkContext._jvm
        self._gateway = spark.sparkContext._gateway
        self.jobs: dict[int, dict] = {}
        jl = store.jobsList(None)
        for i in range(jl.size()):
            j = jl.apply(i)
            jid = int(j.jobId())
            if not job_lo <= jid < job_hi:
                continue
            sids = j.stageIds()
            sub, comp = j.submissionTime(), j.completionTime()
            self.jobs[jid] = {
                "stages": [int(sids.apply(k)) for k in range(sids.size())],
                "tasks": int(j.numTasks()),
                "t0": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                "t1": comp.get().getTime() / 1000.0 if comp.isDefined() else None,
            }
        wanted = {s for j in self.jobs.values() for s in j["stages"]}
        self.stages: dict[int, dict] = {}
        jvm = self._jvm
        sl = store.stageList(
            None, False, False, self._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList()
        )
        for i in range(sl.size()):
            s = sl.apply(i)
            sid = int(s.stageId())
            if sid not in wanted or str(s.status().toString()) == "SKIPPED":
                continue
            self.stages[sid] = {
                "attempt": int(s.attemptId()),
                "tasks": int(s.numCompleteTasks()),
                "run_s": int(s.executorRunTime()) / 1000.0,
                "gc_s": int(s.jvmGcTime()) / 1000.0,
                "input_bytes": int(s.inputBytes()),
                "shuffle_read_bytes": int(s.shuffleReadBytes()),
                "shuffle_write_bytes": int(s.shuffleWriteBytes()),
                "spill_bytes": int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled()),
            }

    def jobs_in(self, j0: int, j1: int) -> list[int]:
        return [j for j in self.jobs if j0 <= j < j1]

    def job_time_within(self, j0: int, j1: int, lo: float, hi: float) -> float:
        """Wall time inside ``[lo, hi]`` during which any job in
        ``[j0, j1)`` was running."""
        iv = [
            (self.jobs[j]["t0"], self.jobs[j]["t1"])
            for j in self.jobs_in(j0, j1)
            if self.jobs[j]["t0"] is not None and self.jobs[j]["t1"] is not None
        ]
        return _union_length(iv, lo, hi)

    def totals(self, j0: int, j1: int) -> dict:
        stages = {s for j in self.jobs_in(j0, j1) for s in self.jobs[j]["stages"]}
        rows = [self.stages[s] for s in stages if s in self.stages]
        keys = ("tasks", "run_s", "gc_s", "input_bytes", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes")
        out = {k: sum(r[k] for r in rows) for k in keys}
        out["jobs"] = len(self.jobs_in(j0, j1))
        widest = max(
            (s for s in stages if s in self.stages and self.stages[s]["shuffle_read_bytes"] > 0),
            key=lambda s: self.stages[s]["shuffle_read_bytes"],
            default=None,
        )
        out["task_skew"] = self._skew(widest) if widest is not None else 0.0
        return out

    def _skew(self, sid: int) -> float:
        """Max over median task run time of one stage."""
        q = self._gateway.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        dist = self._store.taskSummary(sid, self.stages[sid]["attempt"], q)
        if not dist.isDefined():
            return 0.0
        rt = dist.get().executorRunTime()
        med, mx = float(rt.apply(0)), float(rt.apply(1))
        return mx / med if med > 0 else 0.0


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0
