"""Spans and counters recorded by the benchmark around calls into each layer.

Spans live in memory (``Tracer.spans``) and are written out once, at
the end of a traced run. Each span has a name, start and end (seconds
since the tracer started), its parent span's id and the run id; a
layer's self time is its duration minus the part of it its child spans
cover. Wrappers are installed only for a traced unit of work and
removed after it, so untraced units call the program directly.

The Spark-side readings (GC time, VmHWM, status-tracker counts,
Catalyst phase times, executed-plan SQL metrics) are plain functions
of a session or a DataFrame; they read, never change, engine state.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        # parent for spans opened on threads the program starts itself
        # (the pipeline's file pool), which have no span stack of their own
        self.default_parent: int | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else self.default_parent
        rec = {"id": sid, "name": name, "parent": parent, "run_id": self.run_id,
               "start": time.perf_counter() - self.t0, "end": None, **attrs}
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter() - self.t0
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a spanned call until ``unwrap_all``.

        ``on_result(span, args, result)`` may add attributes to the span.
        """
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, args, out)
                return out

        self._patches.append((owner, attr, owner.__dict__.get(attr, _MISSING)))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, prev in reversed(self._patches):
            if prev is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, prev)
        self._patches.clear()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def with_self_times(self) -> list[dict]:
        """Spans in start order, each with ``dur`` and ``self`` seconds."""
        children: dict[int | None, list[dict]] = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append(s)
        out = []
        for s in sorted(self.spans, key=lambda s: s["start"]):
            covered = _union_length(
                [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                 for c in children.get(s["id"], [])]
            )
            dur = s["end"] - s["start"]
            out.append({**s, "dur": dur, "self": max(dur - covered, 0.0)})
        return out

    def dump(self, path: str, header: dict) -> None:
        with open(path, "w") as f:
            f.write(json.dumps({"header": header}) + "\n")
            for s in self.with_self_times():
                f.write(json.dumps(s, default=str) + "\n")


_MISSING = object()


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---- Spark-side readings -------------------------------------------------

def jvm_gc_s(spark) -> float:
    """Cumulative JVM garbage-collection time over all collectors."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    beans = mf.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size (``VmHWM``) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def job_counts(spark, job_ids) -> dict:
    """Jobs, stages and tasks of the given job ids (status tracker)."""
    st = spark.sparkContext.statusTracker()
    stages: set[int] = set()
    for j in job_ids:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    for sid in stages:
        info = st.getStageInfo(sid)
        if info is not None:
            tasks += info.numTasks
    return {"jobs": len(job_ids), "stages": len(stages), "tasks": tasks}


def job_durations_ms(spark, job_ids) -> list[float]:
    """Wall time of each finished job, from the application status store."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for j in job_ids:
        jd = store.job(j)
        sub, done = jd.submissionTime(), jd.completionTime()
        if sub.isDefined() and done.isDefined():
            out.append(float(done.get().getTime() - sub.get().getTime()))
    return out


def plan_phase_s(df) -> float:
    """Catalyst analysis + optimization + planning seconds of ``df``."""
    tracker = df._jdf.queryExecution().tracker()
    phases = tracker.phases()
    total_ms = 0
    for p in ("analysis", "optimization", "planning"):
        opt = phases.get(p)
        if opt.isDefined():
            total_ms += opt.get().durationMs()
    return total_ms / 1000.0


def plan_sql_metrics(df) -> dict:
    """Scan rows, shuffle bytes and spill bytes from the executed plan.

    Walks the final adaptive plan, descending into query stages; a
    reused exchange is counted once, where it was produced.
    """
    acc = {"scan_rows": 0, "shuffle_bytes": 0, "spill_bytes": 0}
    root = df._jdf.queryExecution().executedPlan()
    stack = [root]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue  # its rows and bytes are counted where it was produced
        metrics = node.metrics()
        if node.nodeName().startswith("Scan"):
            acc["scan_rows"] += _metric(metrics, "numOutputRows")
        acc["shuffle_bytes"] += _metric(metrics, "shuffleBytesWritten")
        acc["spill_bytes"] += _metric(metrics, "spillSize")
        kids = node.children()
        for i in range(kids.size()):
            stack.append(kids.apply(i))
    return acc


def _metric(metrics, key: str) -> int:
    opt = metrics.get(key)
    return int(opt.get().value()) if opt.isDefined() else 0


def stream_progress(query) -> list[dict]:
    """Per-micro-batch duration and state size from ``recentProgress``."""
    out = []
    for p in query.recentProgress:
        ms = (p.get("durationMs") or {}).get("triggerExecution")
        if ms is None:
            continue
        ops = p.get("stateOperators") or []
        out.append({
            "batch_ms": float(ms),
            "rows": int(p.get("numInputRows") or 0),
            "state_rows": sum(int(o.get("numRowsTotal") or 0) for o in ops),
            "state_bytes": sum(int(o.get("memoryUsedBytes") or 0) for o in ops),
        })
    return out
