"""Spans, wrappers and Spark counters for the traced benchmark run.

Spans live in memory (name, start, end, parent, trace id) and are
written once, when the run ends. ``Tracer.wrap`` swaps a module-level
function for a timing wrapper; the streaming runners look their batch
functions up by module attribute at call time, so the wrapper sees
every micro-batch without any change to the engine. Nested calls
(``fence.*`` inside ``dlq_split``) become child spans and inherit the
batch's trace id.

``stage_window`` reads Spark's own status store (``stageList`` with its
full five-argument signature) for executor time, task counts, shuffle
bytes, spill, and the wall time no stage covered (driver residue).
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[tuple[str, float, float, int, str, int]] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self._next_id = 0

    def _stack(self) -> list[tuple[int, str]]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, trace_id: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent, parent_trace = stack[-1] if stack else (-1, "")
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        stack.append((sid, trace_id or parent_trace))
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((name, t0, t1, parent, trace_id or parent_trace, sid))

    def wrap(self, module, fname: str, span_name: str, batch_arg: str | None = "batch_id") -> None:
        """Replace ``module.fname`` with a span-recording wrapper.
        ``batch_arg`` names the keyword that carries the micro-batch id
        (the trace id of the span and its children)."""
        if not self.enabled:
            return
        orig = getattr(module, fname)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            bid = kwargs.get(batch_arg) if batch_arg else None
            with self.span(span_name, f"{span_name}:{bid}" if bid is not None else None):
                return orig(*args, **kwargs)

        setattr(module, fname, wrapper)
        self._patched.append((module, fname, orig))

    def unwrap_all(self) -> None:
        for module, fname, orig in reversed(self._patched):
            setattr(module, fname, orig)
        self._patched.clear()

    def durations_ms(self, name: str) -> list[float]:
        return [(t1 - t0) * 1e3 for n, t0, t1, *_ in self.spans if n == name]

    def self_times_ms(self) -> dict[str, float]:
        """Total self time per span name: duration minus the time of
        its direct children."""
        child = defaultdict(float)
        for _, t0, t1, parent, _, _ in self.spans:
            if parent >= 0:
                child[parent] += t1 - t0
        out: dict[str, float] = defaultdict(float)
        for name, t0, t1, _, _, sid in self.spans:
            out[name] += (t1 - t0 - child[sid]) * 1e3
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {"name": n, "start": t0, "end": t1, "parent": p, "trace": tr, "id": sid}
                    for n, t0, t1, p, tr, sid in self.spans
                ],
                f,
            )


def _stages(spark):
    jvm = spark._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    empty = spark.sparkContext._gateway.new_array(jvm.double, 0)
    seq = store.stageList(jvm.java.util.ArrayList(), False, False, empty, jvm.java.util.ArrayList())
    out = []
    for i in range(seq.size()):
        s = seq.apply(i)
        sub, comp = s.submissionTime(), s.completionTime()
        out.append({
            "id": s.stageId(),
            "tasks": s.numTasks() if str(s.status()) == "COMPLETE" else 0,
            "run_ms": s.executorRunTime(),
            "shuffle_write": s.shuffleWriteBytes(),
            "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "start": sub.get().getTime() / 1e3 if sub.isDefined() else None,
            "end": comp.get().getTime() / 1e3 if comp.isDefined() else None,
        })
    return out


def max_stage_id(spark) -> int:
    return max((s["id"] for s in _stages(spark)), default=-1)


def stage_window(spark, after_stage: int, t0: float, t1: float, n_ops: int) -> dict[str, float]:
    """Per-op Spark counters for the stages submitted after
    ``after_stage`` inside the wall window [t0, t1] (epoch seconds)."""
    stages = [s for s in _stages(spark) if s["id"] > after_stage and s["start"] is not None]
    ivs = sorted((max(s["start"], t0), min(s["end"] or t1, t1)) for s in stages)
    covered, cur_s, cur_e = 0.0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        covered += cur_e - cur_s
    n = max(n_ops, 1)
    return {
        "spark.executor_run_ms": sum(s["run_ms"] for s in stages) / n,
        "spark.stages": sum(1 for s in stages if s["tasks"]) / n,
        "spark.tasks": sum(s["tasks"] for s in stages) / n,
        "spark.shuffle_write_bytes": sum(s["shuffle_write"] for s in stages) / n,
        "spark.spill_bytes": sum(s["spill"] for s in stages) / n,
        "driver.residue_ms": max(0.0, (t1 - t0) - covered) * 1e3 / n,
    }
