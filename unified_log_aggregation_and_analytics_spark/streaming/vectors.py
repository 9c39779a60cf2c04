"""Streaming vector-index maintenance — continuous embedding ingest
into the persisted IVF index (operators/ann_index.py), completing the
streaming family: logs (pipeline.py), text corpus (corpus.py), media
(media.py), semantic dedup (semantic.py), and HERE the searchable ANN
index itself. This is the reference's continuous-indexing contract
(Firehose -> daily OpenSearch index, README.md:30) applied to
vectors: every micro-batch of embeddings becomes immediately
probe-able, no rebuild.

Per micro-batch:

1. GATE — schema/dimension check against the index's persisted
   dimension (manifest): wrong-width or null vectors dead-letter with
   ``_error`` (the decode-gate pattern of streaming/media.py);
2. DEDUP — ids already in the index (or duplicated within the batch)
   drop via an id-sidecar anti-join — ``(vec_id, id_bucket)`` rows,
   ~16 B each, partition-pruned, the corpus vectors are never
   re-read (the fingerprint-sidecar pattern of corpus.py);
3. APPEND — survivors assign against the FROZEN centroid artifact
   (one Arrow GEMM over the delta, ann_index.append with a batch id)
   and land in the index's fenced delta area, visible to ivf_probe as
   soon as the batch commits;
4. METRICS — per-batch outcome counts land at ``<path>_metrics``
   (K5 parity; the counts ride the reject write as observe()
   aggregates, and manual calls write none);
5. COMMIT — one shared marker (streaming/fence.py) makes the whole
   batch visible atomically.

Delivery is EXACTLY-ONCE as observed by probes (since round 8 — the
manifest-fenced commit closed the r7 torn-batch window): every
per-batch write lands under a ``_commit_batch=<id>`` partition with
dynamic partition overwrite, the cross-batch dedup anti-join reads
only COMMITTED sidecar rows, and one marker file written after all
appends is the commit. A replay of a torn batch therefore recomputes
the identical survivor set and REPLACES its own partial output; a
replay of a committed batch short-circuits to a no-op. The
kill-between-appends e2e (tests/test_vector_stream.py) proves a torn
batch replays with no duplicates in probe results.

At 100 TB: frozen-quantizer appends are the only sane online policy
(recomputing centroids per trigger would reshuffle every existing
assignment); centroid drift under heavy append is an explicit rebuild
decision driven by the manifest's append/build ratio.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from unified_log_aggregation_and_analytics_spark.streaming import fence
from unified_log_aggregation_and_analytics_spark.streaming.pipeline import (
    PipelineResult,
    start_sink,
)

N_ID_BUCKETS = 64


def _id_sidecar_path(index_path: str) -> str:
    return f"{index_path}_ids"


def vector_ingest_batch(
    batch_df: DataFrame,
    index_path: str,
    rejected_path: str,
    batch_id: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    meta_cols: tuple[str, ...] = (),
    index_kind: str = "ivf",
) -> None:
    """Ingest ONE micro-batch of embeddings into the persisted index
    (see module docstring for the gate -> dedup -> append -> metrics
    contract). The index must already exist (ann_index.build_ivf_index
    / build_rotated_prefix_index) — the quantizer/rotation is frozen
    at build time, which is what makes streaming appends
    deterministic. ``index_kind`` names the index (an
    ``ann_index.KINDS`` key: ``'ivf'``, ``'rotated_prefix'``,
    ``'ivfpq'``, ``'ivfopq'``, ...); its fenced append encodes the
    delta against the frozen artifacts — fenced lineage is what keeps
    training-run snapshot pins sound over a streaming-maintained
    index. meta_cols are an IVF-only feature."""
    from unified_log_aggregation_and_analytics_spark.operators import ann_index as A

    if index_kind not in A.KINDS:
        raise ValueError(f"unknown index_kind {index_kind!r}")
    if index_kind != "ivf" and meta_cols:
        raise ValueError("meta_cols are an IVF-index feature")

    spark = batch_df.sparkSession
    root = fence.fence_root(index_path)
    with fence.FencedBatch(spark, root, batch_id, f"{index_path}_metrics") as fb:
        if fb.committed:
            return  # replay of a fully-committed batch: exact no-op
        dim = A.manifest_dim(index_path)
        if dim is None:
            # pre-manifest index: derive the width from the centroid artifact
            dim = int(A.load_centroids(spark, index_path, vec_col).shape[1])
        ok = F.col(vec_col).isNotNull() & (F.size(vec_col) == F.lit(dim))
        # batch-size + reject counts ride the reject write (its first
        # action) as observe() aggregates, not dedicated count jobs
        gated = fb.persist(
            fb.observe(
                batch_df.withColumn("_ok", ok),
                F.count(F.lit(1)).alias("n_in"),
                F.coalesce(F.sum((~F.col("_ok")).cast("long")), F.lit(0)).alias("n_bad"),
            )
        )
        fb.append(
            gated.filter(~F.col("_ok"))
            .drop("_ok")
            .withColumn("_error", F.lit("bad_dimension")),
            rejected_path,
        )
        kept = gated.filter(F.col("_ok")).drop("_ok")
        # within-batch dedup: same-id rows can differ in payload
        # (replayed producers), so pick the winner DETERMINISTICALLY —
        # min lexicographic embedding under a per-id window — so a
        # checkpoint replay indexes the identical vector, not whichever
        # row a shuffle happened to surface first.
        w = Window.partitionBy(id_col).orderBy(
            *[F.col(c).asc_nulls_last() for c in (vec_col, *meta_cols)]
        )
        kept = (
            kept.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        sidecar = _id_sidecar_path(index_path)
        # Cross-batch dedup against COMMITTED sidecar rows only: a torn
        # predecessor attempt's sidecar rows are invisible, so the
        # replay recomputes the full survivor set and dynamic-overwrite
        # replaces the torn partitions below. A missing sidecar means
        # "first trigger" (fenced_read returns None); any other read
        # failure (corrupt/partial parquet, permissions) propagates and
        # fails the batch instead of silently skipping dedup.
        seen = fence.fenced_read(spark, sidecar, root)
        if seen is not None:
            kept = kept.join(seen.select(id_col), id_col, "left_anti")
        # SEVER LINEAGE before the sidecar append below — kept's plan
        # reads the sidecar (the anti-join), and appending to that
        # path would recache the plan against post-append state (the
        # corpus.py WRITE ORDER incident class).
        kept = kept.localCheckpoint()
        # the one count job left: it guards the index append
        n_kept = kept.count()
        fb.outcomes = lambda m: [
            ("ingested", n_kept),
            ("duplicate", m["n_in"] - m["n_bad"] - n_kept),
            ("rejected:bad_dimension", m["n_bad"]),
        ]
        if n_kept:
            A.append(index_kind, kept, index_path, fb.bid, vec_col, id_col, meta_cols)
        # flat single-file sidecar append (id_bucket as data column;
        # the anti-join never pruned its directories — see corpus.py)
        fb.append(
            kept.select(
                id_col,
                F.pmod(F.xxhash64(F.col(id_col)), F.lit(N_ID_BUCKETS)).alias(
                    "id_bucket"
                ),
            ).coalesce(1),
            sidecar,
        )


def maybe_merge_delta(
    spark, index_path: str, merge_every: int, mode: str = "merge"
) -> int:
    """Maintenance-cadence policy (the corpus sink's
    compact-then-continue pattern applied to the index delta): when
    ``merge_every`` or more committed delta batches sit unfolded,
    fold them. The r8 80-trigger probe measured the failure mode this
    bounds — probe latency drifts with delta FILE COUNT (0.80 s ->
    1.25 s over 80 unmerged batches) while a merge (4.7 s) restores
    it below baseline — so a threshold cadence keeps probe cost flat
    with no manual step. Two folding protocols (mutually exclusive
    per index, guarded loudly in ann_index):

    - ``mode='merge'`` — merge_index_delta rewrites the base table
      (fastest probes; the directory swap is local-FS);
    - ``mode='compact'`` — compact_index_delta folds the delta into
      one negative marker-native partition (object-store-correct, no
      rename, base table untouched).

    Returns batches folded (0 = below threshold). Safe from the
    writer's own foreachBatch: triggers are serialized, so there is
    no concurrent writer; concurrent PROBES racing a merge's swap
    remain the documented compact_index caveat. The compact mode's
    window is much smaller but not zero: a probe whose file listing
    was planned BEFORE the visibility marker can still reference the
    superseded partitions the cleanup deletes moments later — set
    spark.sql.files.ignoreMissingFiles for readers that race live
    maintenance."""
    from unified_log_aggregation_and_analytics_spark.operators.ann_index import (
        _delta_path,
        _merged_through,
        compact_index_delta,
        merge_index_delta,
    )

    if mode not in ("merge", "compact"):
        raise ValueError(f"maintenance mode {mode!r} not in ('merge', 'compact')")
    root = fence.fence_root(index_path)
    ids = fence.committed_batches(spark, root)
    if mode == "compact":
        _, k = fence._compact_state(spark, _delta_path(index_path))
        pending = [b for b in ids if b > k]
        if len(pending) < merge_every:
            return 0
        compact_index_delta(spark, index_path)
        _, k2 = fence._compact_state(spark, _delta_path(index_path))
        return len([b for b in pending if b <= k2])
    unmerged = [b for b in ids if b > _merged_through(index_path)]
    if len(unmerged) < merge_every:
        return 0
    return merge_index_delta(spark, index_path)


def run_vector_pipeline(
    vec_stream: DataFrame,
    index_path: str,
    rejected_path: str,
    checkpoint: str,
    trigger: dict | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    meta_cols: tuple[str, ...] = (),
    merge_every: int | None = 16,
    maintenance: str = "compact",
) -> PipelineResult:
    """readStream of embeddings -> foreachBatch(vector_ingest_batch):
    the continuously-probe-able vector index. Trigger defaults to the
    reference's 60 s buffering hint; tests pass availableNow.
    ``merge_every`` is the delta-maintenance cadence
    (maybe_merge_delta): every time that many committed delta batches
    sit unfolded, the writer folds them between triggers, bounding
    probe latency at O(base + merge_every batches) of files instead
    of O(all batches ever). ``maintenance`` picks the protocol:
    'compact' (DEFAULT: marker-native delta fold — no rename, safe
    under concurrent probes and on object stores) or 'merge' (fold
    into the base table via local-FS swap — explicit opt-in for
    single-reader local deployments only; it rmtree+renames the base
    table, which races concurrent probes and raises on non-local
    filesystems, killing the stream from inside foreachBatch).
    merge_every=None disables the policy (the offline tools remain
    available)."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        vector_ingest_batch(
            batch_df,
            index_path,
            rejected_path,
            batch_id=batch_id,
            vec_col=vec_col,
            id_col=id_col,
            meta_cols=meta_cols,
        )
        if merge_every is not None:
            maybe_merge_delta(
                batch_df.sparkSession, index_path, merge_every, maintenance
            )

    return start_sink(vec_stream, handle, checkpoint, trigger)
