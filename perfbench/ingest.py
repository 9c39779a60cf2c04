"""``ingest``: every streaming ingest path of the engine in one run.

Set-up stages all inputs, then warms the four log pipelines (two
rounds of one small file per source) and the four LLM sinks (their
first micro-batch), all side by side. The timed part has three
phases, in order:

1. log burst: a backlog drained by the four concurrent log pipelines
   (``log_ingest.py``);
2. log steady, in traced runs only: open-loop landings for three
   quarters of ``--seconds``, staggered across the sources; freshness
   per file (``log_ingest.py`` says why timed runs skip it);
3. LLM drain: the next micro-batch of each LLM sink, the four sinks
   side by side (``llm_ingest.py``).

``log_s`` is the burst drain time and ``llm_s`` the LLM drain time,
each its own bounded metric, so neither path hides the other.
``latency_ms`` (geometric mean) and ``latency_ms_tail`` (p90) are
over the burst's micro-batches (``durationMs.triggerExecution``).
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

from log_ingest import LogIngest
from llm_ingest import SINKS, LlmIngest
from run import p50, tail, typical


def run(ctx) -> dict[str, float]:
    from spans import max_stage_id, stage_window
    from unified_log_aggregation_and_analytics_spark.streaming import fence, pipeline

    t0 = time.perf_counter()
    log, llm = LogIngest(ctx), LlmIngest(ctx)
    log.prepare()
    ctx.report["setup.inputs_s"] = (time.perf_counter() - t0, "s")
    ctx.start_spark()
    tr = ctx.tracer
    if ctx.traced:
        tr.wrap(pipeline, "dlq_split", "dlq_split")
        llm.wrap_batches()
        for fn in ("fenced_append", "mark_committed", "committed_batches", "is_committed"):
            tr.wrap(fence, fn, f"fence.{fn}", batch_arg=None)
    tr.enabled = False  # warm-up is never traced

    def timed(name, fn, *a):
        t = time.perf_counter()
        fn(*a)
        ctx.report[f"warm_s.{name}"] = (time.perf_counter() - t, "s")

    t0 = time.perf_counter()
    # the log streams and the four sinks warm up side by side: outside
    # the clock, and independent streams
    with ThreadPoolExecutor(1 + len(SINKS)) as pool:
        jobs = [pool.submit(timed, "log", log.warm)] + [pool.submit(timed, s, llm.warm, s) for s in SINKS]
        for j in jobs:
            j.result()
    ctx.report["setup.warm_s"] = (time.perf_counter() - t0, "s")

    stage0 = max_stage_id(ctx.spark) if ctx.traced else -1
    ctx.setup_done()
    t_start = time.time()
    log.bursts_phase()
    if ctx.traced:
        log.steady_phase()
    else:
        log.stop()
    llm.timed_phase()
    t_end = time.time()
    tr.enabled = False

    t0 = time.perf_counter()
    log.check()
    llm.check()
    ctx.report["check_s"] = (time.perf_counter() - t0, "s")
    if ctx.traced:
        appends = tr.durations_ms("fence.fenced_append")
        n_batches = len(tr.durations_ms("dlq_split")) + sum(
            len(tr.durations_ms(f"{s}.batch")) for s in SINKS)
        ctx.layers.update({
            **log.layers(),
            **llm.layers(),
            "fence.append_ms": p50(appends or [0]),
            "fence.appends": len(appends) / max(n_batches, 1),
            "fence.mark_ms": p50(tr.durations_ms("fence.mark_committed") or [0]),
            "fence.marker_list_ms": p50(tr.durations_ms("fence.committed_batches")
                                        + tr.durations_ms("fence.is_committed") or [0]),
            **stage_window(ctx.spark, stage0, t_start, t_end,
                           len(log.progress) + sum(len(v) for v in llm.batch_ms.values())),
            # traced middle burst and LLM drain over the untraced ones around them
            "trace.overhead_ratio": (log.burst_s[1] + llm.drain_s[1]) / (
                (log.burst_s[0] + log.burst_s[2] + llm.drain_s[0] + llm.drain_s[2]) / 2),
        })
    return {"log_s": log.burst_s[0], "llm_s": llm.drain_s[0], "latency_ms": typical(log.burst_trigger_ms[0]),
            "latency_ms_tail": tail(log.burst_trigger_ms[0])}
