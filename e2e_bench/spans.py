"""Spans and per-op Spark statistics for the traced run.

The traced run wraps the calls the benchmark makes into each layer of
the program (front-ends, server delivery, snapshot verbs, operators) in
spans, from this file only; the program itself is unchanged. Spans stay
in memory and are written out when the run ends. Each op runs under its
own Spark job group, so its jobs, stages and task metrics can be read
back from Spark's status store.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager

CATALYST_PHASES = ("analysis", "optimization", "planning")


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []  # (id, parent, name, start, end, op)
        self.ops: dict[str, dict] = {}
        self.sc = None  # SparkContext, once a session exists
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._ids = itertools.count(1)

    # ------------------------------------------------------------ spans
    def current_op(self) -> str | None:
        return getattr(self._tls, "op", None)

    @contextmanager
    def span(self, name: str):
        stack = self._tls.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((sid, parent, name, t0, t1, self.current_op()))

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a spanned call; ``on_result(value)``
        runs after the span closes, so its cost is not in the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if on_result is not None:
                on_result(out)
            return out

        setattr(owner, attr, spanned)

    # ------------------------------------------------------------ ops
    @contextmanager
    def op(self, op_id: str, kind: str):
        """One benchmark op: its own job group, a root span, and the
        Spark statistics of its jobs recorded when it ends."""
        self._tls.op = op_id
        if self.sc is not None:
            self.sc.setJobGroup(op_id, kind)
        rec = {"kind": kind, "t0_ms": time.time() * 1000}
        with self._lock:
            self.ops[op_id] = rec
        try:
            with self.span("op." + kind):
                yield rec
        finally:
            rec["t1_ms"] = time.time() * 1000
            self._tls.op = None
            if self.sc is not None:
                rec.update(spark_stats(self.sc, op_id, rec["t0_ms"], rec["t1_ms"]))

    def note(self, key: str, value: float) -> None:
        """Add ``value`` to the current op's counter ``key``."""
        op = self.current_op()
        if op is None:
            return
        with self._lock:
            rec = self.ops.get(op)
            if rec is not None:
                rec[key] = rec.get(key, 0) + value

    def catalyst(self, df) -> None:
        """Add the Catalyst phase times of ``df``'s query to the op."""
        for k, v in phases_ms(df).items():
            self.note("catalyst." + k, v)

    def dump(self) -> dict:
        with self._lock:
            return {"spans": list(self.spans), "ops": dict(self.ops)}


# ------------------------------------------------------------ Spark side
def phases_ms(df) -> dict[str, float]:
    try:
        ph = df._jdf.queryExecution().tracker().phases()
    except Exception:  # a DataFrame without a JVM query (e.g. Connect)
        return {}
    out = {}
    for k in CATALYST_PHASES:
        opt = ph.get(k)
        if opt.isDefined():
            out[k] = float(opt.get().durationMs())
    return out


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def spark_stats(sc, group: str, t0_ms: float, t1_ms: float) -> dict:
    """Jobs, stages, task metrics, driver gap and cached bytes of the job
    group ``group``, read from the status store after the listener bus
    has drained."""
    jsc = sc._jsc.sc()
    try:
        jsc.listenerBus().waitUntilEmpty(10_000)
    except Exception:
        pass  # a slow bus leaves the last jobs uncounted, not the op failed
    store = jsc.statusStore()
    out = dict.fromkeys(
        ("spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_ms",
         "spark.executor_cpu_ms", "spark.shuffle_read_bytes",
         "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.input_bytes"),
        0.0,
    )
    intervals, seen = [], set()
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        try:
            job = store.job(jid)
        except Exception:
            continue
        out["spark.jobs"] += 1
        sub, comp = job.submissionTime(), job.completionTime()
        if sub.isDefined() and comp.isDefined():
            intervals.append((sub.get().getTime(), comp.get().getTime()))
        for sid in _seq(job.stageIds()):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += st.numCompleteTasks()
            out["spark.executor_run_ms"] += st.executorRunTime()
            out["spark.executor_cpu_ms"] += st.executorCpuTime() / 1e6
            out["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["spark.input_bytes"] += st.inputBytes()
    busy = _union(intervals, t0_ms, t1_ms)
    out["driver.gap_ms"] = max(0.0, (t1_ms - t0_ms) - busy)
    out["spark.cached_bytes_after_op"] = float(cached_bytes(sc))
    rt = sc._jvm.java.lang.Runtime.getRuntime()
    out["jvm.heap_used_mb"] = (rt.totalMemory() - rt.freeMemory()) / 2**20
    return out


def cached_bytes(sc) -> int:
    """Memory plus disk held by cached RDD blocks, from the status store."""
    rdds = _seq(sc._jsc.sc().statusStore().rddList(True))
    return sum(r.memoryUsed() + r.diskUsed() for r in rdds)


def _union(intervals, lo: float, hi: float) -> float:
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end, lo), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def self_times(spans: list) -> list[tuple[str, str | None, float, float]]:
    """(name, op, duration_ms, self_ms) for each span: self time is the
    duration minus the time its child spans cover."""
    child_ms: dict[int, float] = {}
    for sid, parent, name, t0, t1, op in spans:
        if parent is not None:
            child_ms[parent] = child_ms.get(parent, 0.0) + (t1 - t0) * 1000
    return [
        (name, op, (t1 - t0) * 1000, (t1 - t0) * 1000 - child_ms.get(sid, 0.0))
        for sid, parent, name, t0, t1, op in spans
    ]
