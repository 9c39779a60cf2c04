"""The LLM half of the ``ingest`` workload: seeded backlogs drawn from
the sf0.1 ``documents`` and ``embeddings`` tables, drained with
``availableNow``, one micro-batch per landing, through the four LLM
sinks:

1. ``run_corpus_pipeline`` with a ``token_index`` append. ``near_dup``
   stays off: its MinHash stage costs 6-10 s per micro-batch on a
   4-CPU host, more than the benchmark's per-run budget allows, so
   near copies count by their quality verdict;
2. ``run_vector_pipeline`` into an IVF index built during set-up;
3. ``run_media_pipeline`` over ``media_routing_fixture`` payloads
   (base, exact copy, near variant, corrupt);
4. ``run_semantic_pipeline`` with centroids frozen during set-up.

Set-up stages each sink's backlog and drains its micro-batch 0, the
four sinks side by side (warm-up; batch 0 also creates the sidecars
the later batches dedup against). The timed phase lands and drains
the next micro-batch of all four sinks side by side, as the four log
streams run; its wall time runs until the last sink's query ends.
After the clock, each sink's ``<table>_metrics`` outcome counts must
equal the generator's counts.
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import gen
from run import p50, scaled, tail

CORPUS_DOCS, VECTORS, SEM_VECTORS = scaled(150, 20), scaled(200, 20), scaled(200, 20)  # per micro-batch
MEDIA_GROUPS = scaled(8)  # per micro-batch; 4 rows each
IVF_BASE, IVF_CELLS = 500, 16
WARM_BATCHES = 1
SINKS = ("corpus", "vectors", "media", "semantic")


class LlmIngest:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        # the first WARM_BATCHES warm up; a traced run times three more,
        # untraced, traced, untraced, so the tracing overhead has a baseline
        self.n_batches = WARM_BATCHES + (3 if ctx.traced else 1)
        self.root = ctx.path("llm")
        self.index = f"{self.root}/ivf"
        self.centroids = gen.semantic_centroids(ctx.seed)
        self.docs, self.vecs = gen.load_pool(ctx.sf_dir)
        self.staged: dict[str, list[str]] = {}
        self.expected: dict[str, dict[str, int]] = {}
        self.drain_s: list[float] = []  # per timed batch index: four sinks
        self.batch_ms: dict[str, list[float]] = {s: [] for s in SINKS}

    def _stage(self, sink: str) -> None:
        """Stage one sink's backlog (one parquet file per micro-batch);
        the vector sink also gets its IVF index."""
        from unified_log_aggregation_and_analytics_spark.operators import ann_index, multimodal

        ctx, seed, n = self.ctx, self.ctx.seed, self.n_batches
        d = ctx.path("llm_staged", sink)
        os.makedirs(d)
        self.staged[sink] = paths = [f"{d}/part-{i:03d}.parquet" for i in range(n)]
        if sink == "corpus":
            b, self.expected[sink] = gen.corpus_batches(self.docs, seed, n, CORPUS_DOCS)
            for rows, p in zip(b, paths):
                gen.write_docs(rows, p)
        elif sink == "vectors":
            b, self.expected[sink] = gen.vector_batches(self.vecs, seed, n, VECTORS, IVF_BASE)
            for rows, p in zip(b, paths):
                gen.write_vectors(rows, p)
            pick = np.random.default_rng([seed, 8]).choice(len(self.vecs), IVF_BASE, replace=False)
            gen.write_vectors(list(enumerate(self.vecs[pick])), ctx.path("ivf_base.parquet"))
            ann_index.build_ivf_index(ctx.spark.read.parquet(ctx.path("ivf_base.parquet")), self.index,
                                      n_centroids=IVF_CELLS)
        elif sink == "semantic":
            b, self.expected[sink] = gen.semantic_batches(self.vecs, seed, n, SEM_VECTORS, self.centroids)
            for rows, p in zip(b, paths):
                gen.write_vectors(rows, p)
        else:
            # the routing fixture is a function of the id; the seed
            # picks the id range, so each seed gets different pixels
            per = 4 * MEDIA_GROUPS
            id0 = per * n * (seed % 100_000)
            pdf = multimodal.media_routing_fixture(
                ctx.spark.range(id0, id0 + per * n).withColumnRenamed("id", "doc_id")
            ).toPandas().sort_values("media_id")
            for i, p in enumerate(paths):
                gen.write_media(pdf.iloc[i * per:(i + 1) * per], p)
            g = MEDIA_GROUPS * n
            self.expected[sink] = {"ingested": g, "duplicate": g, "near_duplicate": g,
                                   "rejected:undecodable": g}

    def _drain(self, sink: str, i: int) -> list[float]:
        """Land micro-batch ``i`` of ``sink`` and drain it with
        availableNow; returns its triggerExecution times (ms)."""
        from pyspark.sql import types as T

        from unified_log_aggregation_and_analytics_spark.streaming import corpus, media, semantic, vectors

        spark, tr, r = self.ctx.spark, self.ctx.tracer, self.root
        inbox = f"{r}/{sink}_in"
        os.makedirs(inbox, exist_ok=True)
        shutil.copy(self.staged[sink][i], inbox)
        now = {"availableNow": True}
        with tr.span(f"run_{sink}_pipeline" if sink != "vectors" else "run_vector_pipeline"):
            if sink == "corpus":
                schema = T.StructType([T.StructField("doc_id", T.LongType()),
                                       T.StructField("text", T.StringType()),
                                       T.StructField("lang", T.StringType())])
                stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(inbox)
                q = corpus.run_corpus_pipeline(
                    stream, f"{r}/corpus", f"{r}/corpus_rejected", f"{r}/corpus_ckpt",
                    trigger=now, near_dup=False, token_index="llm_tokens").query
            elif sink == "vectors":
                schema = T.StructType([T.StructField("vec_id", T.LongType()),
                                       T.StructField("embedding", T.ArrayType(T.FloatType()))])
                stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(inbox)
                q = vectors.run_vector_pipeline(
                    stream, self.index, f"{r}/vec_rejected", f"{r}/vec_ckpt", trigger=now).query
            elif sink == "media":
                q = media.run_media_pipeline(
                    spark, inbox, f"{r}/media", f"{r}/media_rejected", f"{r}/media_ckpt").query
            else:
                q = semantic.run_semantic_pipeline(
                    spark, inbox, f"{r}/semantic", f"{r}/semantic_rejected", f"{r}/semantic_ckpt",
                    self.centroids, threshold=gen.SEM_THRESHOLD, trigger=now).query
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return [p.durationMs.get("triggerExecution", 0) for p in q.recentProgress if p.numInputRows > 0]

    def warm(self, sink: str) -> None:
        """Set-up for one sink: stage its backlog, then drain its first
        WARM_BATCHES micro-batches. The sinks share no paths, so they
        may warm up side by side."""
        self._stage(sink)
        for i in range(WARM_BATCHES):
            self._drain(sink, i)

    def timed_phase(self) -> None:
        tr = self.ctx.tracer
        for i in range(WARM_BATCHES, self.n_batches):
            tr.enabled = self.ctx.traced and i == WARM_BATCHES + 1
            t0 = time.perf_counter()
            with ThreadPoolExecutor(len(SINKS)) as pool:
                drained = list(pool.map(lambda s: self._drain(s, i), SINKS))
            self.drain_s.append(time.perf_counter() - t0)
            for s, ms in zip(SINKS, drained):
                self.batch_ms[s] += ms
        tr.enabled = self.ctx.traced

    def _outcomes(self, table: str) -> dict[str, int]:
        from pyspark.sql import functions as F

        from unified_log_aggregation_and_analytics_spark.streaming import fence

        m = fence.fenced_read(self.ctx.spark, f"{table}_metrics", fence.fence_root(table))
        if m is None:
            return {}
        got = m.groupBy("outcome").agg(F.sum("n").alias("n")).collect()
        return {r["outcome"]: int(r["n"]) for r in got if r["n"]}

    def check(self) -> None:
        ctx, r = self.ctx, self.root
        in_rows = {s: sum(self.expected[s].values()) for s in SINKS}
        tables = {"corpus": f"{r}/corpus", "vectors": self.index, "media": f"{r}/media",
                  "semantic": f"{r}/semantic"}
        self.kept = {}
        for s in SINKS:
            ctx.attempted += len(self.batch_ms[s])
            got = self._outcomes(tables[s])
            exp = {o: n for o, n in self.expected[s].items() if n}
            ctx.check(f"llm.{s}.outcomes", got == exp, f"got={got} expected={exp}")
            ctx.check(f"llm.{s}.batches", len(self.batch_ms[s]) == self.n_batches - WARM_BATCHES,
                      f"{len(self.batch_ms[s])} timed micro-batches")
            self.kept[s] = got.get("ingested", 0) / in_rows[s]
        timed_rows = sum(in_rows.values()) / self.n_batches
        batches = [ms for s in SINKS for ms in self.batch_ms[s]]
        ctx.report.update({
            "llm_rows_per_s": (timed_rows / self.drain_s[0], "rows/s"),
            "llm_drain_s": (self.drain_s[0], "s"),
            "batch_ms_p50": (p50(batches), "ms"),
            "batch_ms_tail": (tail(batches), "ms"),
            **{f"{s}.batch_ms": (p50(self.batch_ms[s]), "ms") for s in SINKS},
        })

    def layers(self) -> dict[str, float]:
        tr = self.ctx.tracer
        return {
            **{f"{s}.batch_ms": p50(tr.durations_ms(f"{s}.batch") or [0]) for s in SINKS},
            "vectors.merge_ms": p50(tr.durations_ms("vectors.merge") or [0]),
            **{f"{s}.kept_ratio": self.kept[s] for s in SINKS},
        }

    def wrap_batches(self) -> None:
        from unified_log_aggregation_and_analytics_spark.streaming import corpus, media, semantic, vectors

        tr = self.ctx.tracer
        tr.wrap(corpus, "corpus_ingest_batch", "corpus.batch")
        tr.wrap(vectors, "vector_ingest_batch", "vectors.batch")
        tr.wrap(vectors, "maybe_merge_delta", "vectors.merge", batch_arg=None)
        tr.wrap(media, "media_ingest_batch", "media.batch")
        tr.wrap(semantic, "semantic_ingest_batch", "semantic.batch")
