"""Streaming semantic dedup — online SemDeDup over an embedding
stream (the streaming counterpart of operators/dedup.semantic_dedup,
completing the online-dedup family: exact fingerprints in
streaming/corpus.py, MinHash bands ibid., perceptual hashes in
streaming/media.py, embedding cosine HERE).

Architecture mirrors the sidecar pattern those pipelines share:
centroids are FROZEN at pipeline start (trained offline with
similarity.kmeans_refine — the frozen-quantizer contract the
persisted IVF/PQ indexes already use, so assignment is stable across
batches and engines), and the corpus state lives in ONE sidecar
``<table>_cells``: (vec_id, cell, embedding), one coalesced file per
committed batch (cell as a data column since round 8 — the
cross-batch check filters on cell VALUES, and per-cell directories
only multiplied files per trigger).
Each micro-batch:

1. assigns cells (mapInPandas GEMM, map-only);
2. runs ONE applyInPandas pass PER CELL over the batch rows plus the
   sidecar rows of the same cells: a new row drops if it has cosine
   >= threshold to any already-ingested row of its cell, or to a
   smaller-id row of the same batch (the within-batch keep-min rule)
   — both checks come out of the same two GEMMs, so per-trigger cost
   tracks the delta's cell populations, never the corpus text;
3. survivors append to the table and the cell sidecar; rejects
   dead-letter with ``_error='semantic_duplicate'``; with a stream
   batch_id, outcome counts append to ``<table>_metrics`` before the
   commit marker (fence.FencedBatch).

WRITE ORDER: the survivor frame's lineage reads the cell sidecar (the
cross-batch check), so it is ``localCheckpoint``-ed BEFORE the sidecar
append — appending to a parquet path invalidates and re-reads every
cached plan over it (see streaming/corpus.py
for the incident this guards against). Delivery is EXACTLY-ONCE as
observed by probes (manifest-fenced commits since round 8,
streaming/fence.py): every per-batch write lands under a
``_commit_batch=<id>`` partition with dynamic partition overwrite,
one shared marker written after all appends is the commit, and the
cross-batch sidecar read above sees only committed batches — a torn
batch's replay replaces its own output, a committed batch's replay
short-circuits to a no-op.

At 100 TB: per-cell state grows with the corpus; the valve is the
same as batch SemDeDup — more centroids (cells stay executor-sized)
— plus sidecar compaction (compact_cell_sidecar) to fold the
per-trigger small files.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from unified_log_aggregation_and_analytics_spark.operators.similarity import ivf_assign
from unified_log_aggregation_and_analytics_spark.streaming import fence
from unified_log_aggregation_and_analytics_spark.streaming.pipeline import (
    PipelineResult,
    start_sink,
)


def _cell_sidecar(table_path: str) -> str:
    return f"{table_path}_cells"


def _semantic_drop_ids(
    new_assigned: DataFrame,
    old_cells: DataFrame | None,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Ids of NEW rows to drop: cosine >= threshold to any old row of
    the same cell, or to a smaller-id new row of the same cell. One
    grouped Arrow pass per cell; two GEMMs per group."""
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    new_side = new_assigned.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"), "cell",
        F.lit(False).alias("_old"),
    )
    if old_cells is not None:
        old_side = old_cells.select(
            F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"), "cell",
            F.lit(True).alias("_old"),
        )
        both = new_side.unionByName(old_side)
    else:
        both = new_side
    out_schema = StructType([StructField("drop_id", LongType())])

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        new = pdf[~pdf["_old"]]
        if len(new) == 0:
            return pd.DataFrame({"drop_id": []}).astype({"drop_id": "int64"})
        n = np.stack(new["_v"].to_numpy()).astype(np.float64)
        n /= np.maximum(np.linalg.norm(n, axis=1, keepdims=True), 1e-12)
        ids = new["_id"].to_numpy()
        drop = np.zeros(len(new), dtype=bool)
        old = pdf[pdf["_old"]]
        if len(old) > 0:
            o = np.stack(old["_v"].to_numpy()).astype(np.float64)
            o /= np.maximum(np.linalg.norm(o, axis=1, keepdims=True), 1e-12)
            drop |= (np.round(n @ o.T, 6) >= threshold).any(axis=1)
        sims = np.round(n @ n.T, 6)
        smaller = ids[None, :] < ids[:, None]  # [i, j]: id_j < id_i
        drop |= ((sims >= threshold) & smaller).any(axis=1)
        return pd.DataFrame({"drop_id": ids[drop].astype("int64")})

    return both.groupBy("cell").applyInPandas(per_cell, schema=out_schema)


def semantic_ingest_batch(
    batch_df: DataFrame,
    table_path: str,
    rejected_path: str,
    centroids: np.ndarray,
    threshold: float = 0.35,
    batch_id: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Ingest ONE micro-batch of embedding rows (see module
    docstring for the architecture and write-order contract)."""
    spark = batch_df.sparkSession
    root = fence.fence_root(table_path)
    with fence.FencedBatch(spark, root, batch_id, f"{table_path}_metrics") as fb:
        if fb.committed:
            return  # replay of a fully-committed batch: exact no-op
        assigned = fb.persist(ivf_assign(batch_df, centroids, vec_col=vec_col))
        # COMMITTED sidecar rows only (fence.py) — None covers "no
        # sidecar yet": a missing path (first trigger) or a
        # schema-less directory (an earlier batch whose survivors
        # were all dropped writes _SUCCESS and no part files). Any
        # other failure (corrupt footer, permissions, a compactor's
        # swap window) surfaces and FAILS the batch — a broad except
        # would silently disable cross-batch dedup and permanently
        # ingest duplicates.
        old = fence.fenced_read(spark, _cell_sidecar(table_path), root)
        if old is not None:
            # Prune the sidecar to the batch's own cells BEFORE the
            # union: the cell list is bounded by the centroid count
            # (C x 8 bytes of driver metadata); the isin reaches the
            # scan as a pushed data filter (row-group min/max skipping
            # on the compacted file), so per-trigger GEMM cost tracks
            # the delta's cell populations, not the whole corpus (the
            # round-5 ADVICE finding: without this every trigger
            # shuffled and Arrow-serialized the full embedding state).
            batch_cells = [
                r["cell"] for r in assigned.select("cell").distinct().collect()
            ]
            old = old.filter(F.col("cell").isin(batch_cells))
        # persisted: referenced by the reject write AND the anti-join —
        # without it the sidecar scan + both GEMMs run twice per trigger
        drops = fb.persist(
            _semantic_drop_ids(assigned, old, threshold, id_col=id_col, vec_col=vec_col)
            .withColumnRenamed("drop_id", id_col)
        )
        # Metric counts ride the write jobs via observe() instead of
        # dedicated .count() jobs per trigger.
        fb.outcomes = lambda m: [
            ("ingested", m["n_ing"]),
            ("semantic_duplicate", m["n_dup"]),
        ]
        fb.append(
            fb.observe(
                assigned.join(drops, id_col)
                .drop("cell")
                .withColumn("_error", F.lit("semantic_duplicate")),
                F.count(F.lit(1)).alias("n_dup"),
            ),
            rejected_path,
        )
        # SEVER LINEAGE before the sidecar append (module docstring).
        kept = assigned.join(drops, id_col, "left_anti").localCheckpoint()
        fb.append(
            fb.observe(kept.drop("cell"), F.count(F.lit(1)).alias("n_ing")), table_path
        )
        # flat single-file sidecar append: cell rides as a data
        # column — the cross-batch check filters on cell VALUES
        # (footer min/max skipping after compaction), and directory
        # count per trigger was the measured slope (see corpus.py)
        fb.append(
            kept.select(id_col, "cell", vec_col).coalesce(1), _cell_sidecar(table_path)
        )


def run_semantic_pipeline(
    spark: SparkSession,
    source_dir: str,
    table_path: str,
    rejected_path: str,
    checkpoint: str,
    centroids: np.ndarray,
    threshold: float = 0.35,
    trigger: dict | None = None,
) -> PipelineResult:
    """Wire the online semantic dedup end-to-end: parquet readStream
    of embedding rows -> foreachBatch(semantic_ingest_batch) with the
    frozen centroids. Trigger defaults to the reference's 60 s
    buffering hint (utils.ts:46); tests pass ``availableNow=True``."""
    stream = spark.readStream.schema(
        spark.read.parquet(source_dir).schema
    ).parquet(source_dir)

    def handle(df: DataFrame, bid: int) -> None:
        semantic_ingest_batch(
            df, table_path, rejected_path, centroids,
            threshold=threshold, batch_id=bid,
        )

    return start_sink(stream, handle, checkpoint, trigger)


def compact_cell_sidecar(
    spark: SparkSession, table_path: str, files_per_partition: int = 1
) -> None:
    """Fold the per-trigger small files of the cell sidecar back to
    ``files_per_partition`` per cell — same contract and SAME
    implementation as the corpus/media sidecar compactors
    (fence.compact_paths, which also rolls up the commit markers).
    Only COMMITTED rows survive, so torn rows are never resurrected.
    Offline maintenance with respect to this path's writer."""
    fence.compact_paths(
        spark,
        fence.fence_root(table_path),
        [_cell_sidecar(table_path)],
        files_per_partition=files_per_partition,
    )
