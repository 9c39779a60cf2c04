"""The log half of the ``ingest`` workload: the reference's own job.
Four ``run_pipeline`` queries (ec2, ecs, eks, lambda) run at once, as
the four delivery streams do, with back-to-back triggers and a fixed
``maxFilesPerTrigger``.

- burst: a backlog of files lands at once on the idle queries (a
  shipper reconnecting after an outage). Its drain time runs from the
  first trigger that reads it to its last commit marker.
- steady (traced runs only): one generator thread lands one file per
  source every ``STEADY_EVERY_S`` for three quarters of ``--seconds``,
  the sources a quarter period apart, well below the burst drain
  rate: a micro-batch of one steady file takes a fraction of the
  period even on a slowed host, so freshness measures the per-trigger
  cost, not a queue. Freshness per file is the time from its scheduled
  landing to the commit marker of the micro-batch that holds it, i.e.
  when ``read_log_table`` can see its rows. Freshness runs while the JVM is still compiling the
  pipelines' hot code (two C2 compiler threads near a full CPU each on
  a 4-CPU host), so it follows the host's CPU steal: over ten runs its
  spread between runs was 0.29-0.39, against 0.08-0.10 for the burst.
  Timed runs therefore report the burst's micro-batch latency and
  leave freshness to the traced run.

During set-up the four pipelines start and drain two warm-up rounds
of one small file per source, so the burst lands on running, warmed
queries. Outputs are checked after the clock: committed table rows and
DLQ rows per source, read through ``read_log_table`` and
``fence.fenced_read``, must equal the generator's counts.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from datetime import datetime

import gen
from run import CORRUPT, p50, scaled, tail

MAX_FILES_PER_TRIGGER = 2
BURST_FILES, BURST_LINES = 8, scaled(600)  # per source
STEADY_EVERY_S, STEADY_LINES = 2.0, scaled(50)
WARM_ROUNDS, WARM_LINES = 2, scaled(200)


def _land(staged: str, dest_dir: str) -> None:
    """Atomic landing: the file source never lists a half-written file."""
    os.rename(staged, os.path.join(dest_dir, os.path.basename(staged)))


def _wait(pred, timeout: float) -> bool:
    """Poll ``pred`` until it holds. Timings come from commit-marker
    mtimes, not from the poll, so a slow poll costs no precision, while
    a fast one holds the GIL the pipelines' ``foreachBatch`` callbacks
    need."""
    end = time.time() + timeout
    while time.time() < end:
        if pred():
            return True
        time.sleep(0.1)
    return pred()


class Streams:
    """The four pipelines over one set of paths."""

    def __init__(self, ctx, name: str) -> None:
        self.ctx, self.root = ctx, ctx.path(name)
        self.table, self.rejected = f"{self.root}/table", f"{self.root}/rejected"
        self.inbox = {s: f"{self.root}/in/{s}" for s in gen.LOG_SOURCES}
        self.stage = f"{self.root}/stage"
        for d in (*self.inbox.values(), self.stage):
            os.makedirs(d, exist_ok=True)
        self.queries: dict[str, object] = {}

    def stage_file(self, source: str, name: str, text: str) -> str:
        path = f"{self.stage}/{source}-{name}.{'log' if source == 'ec2' else 'json'}"
        with open(path, "w") as f:
            f.write(text)
        return path

    def start(self, trigger: dict) -> None:
        from unified_log_aggregation_and_analytics_spark import schemas
        from unified_log_aggregation_and_analytics_spark.sources import logs
        from unified_log_aggregation_and_analytics_spark.streaming import pipeline

        spark, tr = self.ctx.spark, self.ctx.tracer
        for s in gen.LOG_SOURCES:
            if s in ("ec2", "lambda"):
                with tr.span("stream_text_logs"):
                    df = logs.stream_text_logs(spark, self.inbox[s], MAX_FILES_PER_TRIGGER)
            else:
                schema = schemas.ECS_FIRELENS if s == "ecs" else schemas.EKS_FLUENTBIT
                with tr.span("stream_json_logs"):
                    df = logs.stream_json_logs(spark, self.inbox[s], schema, MAX_FILES_PER_TRIGGER)
            with tr.span("run_pipeline"):
                res = pipeline.run_pipeline(
                    df, s, self.table, self.rejected, f"{self.root}/ckpt/{s}", trigger=trigger
                )
            self.queries[s] = res.query

    def markers(self, source: str) -> dict[int, float]:
        """Committed batch id -> marker mtime (epoch s)."""
        out = {}
        for p in glob.glob(f"{self.table}_commits/{source}/*"):
            name = os.path.basename(p)
            if name.isdigit():
                out[int(name)] = os.stat(p).st_mtime
        return out

    def file_batches(self, source: str) -> dict[str, int]:
        """Landed file name -> micro-batch id, from the file source's
        own log in the checkpoint."""
        out = {}
        for p in glob.glob(f"{self.root}/ckpt/{source}/sources/0/*"):
            if os.path.basename(p).startswith("."):
                continue
            with open(p) as f:
                for line in f:
                    if line.startswith("{"):
                        e = json.loads(line)
                        out[os.path.basename(e["path"])] = int(e["batchId"])
        return out

    def commits(self, source: str) -> dict[str, tuple[int, float]]:
        """Committed file name -> (batch id, commit marker mtime)."""
        fb, mk = self.file_batches(source), self.markers(source)
        return {name: (b, mk[b]) for name, b in fb.items() if b in mk}

    def uncommitted(self, files: dict[str, list[str]]) -> int:
        """How many of ``files`` (per source) are not committed yet."""
        n = 0
        for s, paths in files.items():
            done = self.commits(s)
            n += sum(os.path.basename(p) not in done for p in paths)
        return n

    def progress(self) -> list:
        return [p for q in self.queries.values() for p in q.recentProgress if p.numInputRows > 0]


class LogIngest:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.gen = gen.LogGen(ctx.seed)
        self.st = Streams(ctx, "log")
        self.burst_s: list[float] = []
        self.burst_trigger_ms: list[list[float]] = []  # per burst
        self.fresh_ms: list[float] = []
        self.late_ms: list[float] = []
        self.backlog = 0

    def prepare(self) -> None:
        """Write every input file (warm-up, bursts, steady) up front."""
        st = self.st
        self.warm_files = [{s: st.stage_file(s, f"w{r}", self.gen.file_text(s, WARM_LINES))
                            for s in gen.LOG_SOURCES} for r in range(WARM_ROUNDS)]
        # a traced run drains three bursts: untraced, traced, untraced
        self.bursts = [{s: [st.stage_file(s, f"b{b}-{i:03d}", self.gen.file_text(s, BURST_LINES))
                            for i in range(BURST_FILES)] for s in gen.LOG_SOURCES}
                       for b in range(3 if self.ctx.traced else 1)]
        self.n_steady = max(1, int(self.ctx.seconds * 3 / 4 / STEADY_EVERY_S) + 1) if self.ctx.traced else 0
        self.steady = [{s: st.stage_file(s, f"s{k:04d}", self.gen.file_text(s, STEADY_LINES))
                        for s in gen.LOG_SOURCES} for k in range(self.n_steady)]

    def warm(self) -> None:
        st = self.st
        st.start({"processingTime": "0 seconds"})
        for files in self.warm_files:
            for s, p in files.items():
                _land(p, st.inbox[s])
            if not _wait(lambda: not st.uncommitted({s: [p] for s, p in files.items()}), 120):
                raise RuntimeError("warm-up files did not commit within 120 s")

    def _burst(self, staged: dict[str, list[str]]) -> float:
        """Land the backlog on the running streams; returns the time
        from the first trigger that read it to its last commit marker."""
        st = self.st
        for s, files in staged.items():
            for p in files:
                _land(p, st.inbox[s])
        if not _wait(lambda: not st.uncommitted(staged), 120):
            raise RuntimeError("burst backlog did not drain within 120 s")
        batches, last = {}, 0.0
        for s, files in staged.items():
            done = st.commits(s)
            batches[s] = {done[os.path.basename(p)][0] for p in files}
            last = max([last] + [done[os.path.basename(p)][1] for p in files])
        progress = [p for s, q in st.queries.items() for p in q.recentProgress
                    if p.numInputRows > 0 and p.batchId in batches[s]]
        self.burst_trigger_ms.append([p.durationMs["triggerExecution"] for p in progress])
        starts = [datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp() for p in progress]
        return last - min(starts)

    def bursts_phase(self) -> None:
        tr = self.ctx.tracer
        for b, staged in enumerate(self.bursts):
            tr.enabled = self.ctx.traced and b == 1
            self.burst_s.append(self._burst(staged))
        tr.enabled = self.ctx.traced

    def steady_phase(self) -> None:
        """Open-loop landings on a fixed schedule from one generator
        thread, then wait until every landed file is committed."""
        st, sched = self.st, {}

        # each source lands every STEADY_EVERY_S, the four sources a
        # quarter period apart, as independent producers would
        plan = sorted((k * STEADY_EVERY_S + j * STEADY_EVERY_S / len(gen.LOG_SOURCES), s, files[s])
                      for k, files in enumerate(self.steady) for j, s in enumerate(gen.LOG_SOURCES))

        def land(t_base: float) -> None:
            for offset, s, p in plan:
                due = t_base + offset
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                _land(p, st.inbox[s])
                sched[os.path.basename(p)] = due
                self.late_ms.append(max(0.0, time.time() - due) * 1e3)

        g = threading.Thread(target=land, args=(time.time() + 0.05,))
        g.start()
        g.join()

        landed = {s: [files[s] for files in self.steady] for s in gen.LOG_SOURCES}
        _wait(lambda: not st.uncommitted(landed), 60)
        self.stop()
        self.backlog = st.uncommitted(landed)
        for s, paths in landed.items():
            done = st.commits(s)
            for p in paths:
                name = os.path.basename(p)
                if name in done:
                    self.fresh_ms.append((done[name][1] - sched[name]) * 1e3)

    def stop(self) -> None:
        for q in self.st.queries.values():
            q.stop()

    def check(self) -> None:
        """Committed and DLQ rows per source against the generator."""
        from unified_log_aggregation_and_analytics_spark.streaming import fence, pipeline

        ctx, st, spark = self.ctx, self.st, self.ctx.spark
        if CORRUPT:  # self-test: a lost commit marker must fail the checks
            os.remove(f"{st.table}_commits/ec2/{max(st.markers('ec2'))}")
        self.progress = st.progress()
        ctx.attempted += len(self.progress)
        committed = {r["source"]: r["count"] for r in
                     pipeline.read_log_table(spark, st.table).groupBy("source").count().collect()}
        self.committed, self.dlq_rows = sum(committed.values()), 0
        for s in gen.LOG_SOURCES:
            exp = self.gen.expected[s]
            ctx.check(f"log.{s}.table", committed.get(s, 0) == exp["table"],
                      f"committed={committed.get(s, 0)} expected={exp['table']}")
            dlq = fence.fenced_read(spark, f"{st.rejected}/source={s}", f"{st.table}_commits/{s}")
            n_dlq = dlq.count() if dlq is not None else 0
            self.dlq_rows += n_dlq
            ctx.check(f"log.{s}.dlq", n_dlq == exp["dlq"], f"dlq={n_dlq} expected={exp['dlq']}")
        if ctx.traced:
            ctx.check("log.steady_backlog", self.backlog == 0, f"{self.backlog} files uncommitted after 60 s")
        burst_rows = sum(e["table"] + e["dlq"] for e in self.gen.expected.values()) * (
            BURST_FILES * BURST_LINES / (WARM_ROUNDS * WARM_LINES + len(self.bursts) * BURST_FILES * BURST_LINES
                                         + self.n_steady * STEADY_LINES))
        ctx.report.update({
            "rows_per_s": (burst_rows / self.burst_s[0], "rows/s"),
            "burst_s": (self.burst_s[0], "s"),
            "burst_trigger_ms_p50": (p50(self.burst_trigger_ms[0]), "ms"),
            "burst_trigger_ms_tail": (tail(self.burst_trigger_ms[0]), "ms"),
            "burst_triggers": (len(self.burst_trigger_ms[0]), "count"),
            "log_triggers": (len(self.progress), "count"),
        })
        if ctx.traced:
            ctx.report.update({
                "freshness_ms_p50": (p50(self.fresh_ms), "ms"),
                "freshness_ms_tail": (tail(self.fresh_ms), "ms"),
                "freshness_samples": (len(self.fresh_ms), "count"),
                "gen_late_ms_max": (max(self.late_ms), "ms"),
                "gen_backlog_files_end": (self.backlog, "count"),
            })

    def layers(self) -> dict[str, float]:
        tr = self.ctx.tracer
        d = [p.durationMs for p in self.progress]
        n_files = WARM_ROUNDS + len(self.bursts) * BURST_FILES + self.n_steady
        return {
            "sources.offset_ms": p50([x.get("latestOffset", 0) + x.get("getBatch", 0) for x in d]),
            "sources.files_per_batch": len(gen.LOG_SOURCES) * n_files / max(len(d), 1),
            "pipeline.add_batch_ms": p50([x.get("addBatch", 0) for x in d]),
            "pipeline.planning_ms": p50([x.get("queryPlanning", 0) for x in d]),
            "pipeline.checkpoint_ms": p50([x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d]),
            "pipeline.dlq_ratio": self.dlq_rows / max(self.committed + self.dlq_rows, 1),
            "pipeline.dlq_split_ms": p50(tr.durations_ms("dlq_split") or [0]),
            "gen.late_ms_max": max(self.late_ms),
            "gen.backlog_files_end": self.backlog,
        }
