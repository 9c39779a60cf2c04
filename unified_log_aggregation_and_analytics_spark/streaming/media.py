"""Streaming MEDIA ingest with online perceptual dedup — the corpus
pipeline (streaming/corpus.py) generalized to binary media columns:
quality gate = "does it decode UNDER ITS OWN MODALITY's decoder"
(image PPM/PNG, audio PCM-WAV, video Y4M —
multimodal.media_gate_hash), exact dedup = payload fingerprint for
every modality, perceptual near-dup = 64-bit fingerprints (image
dHash, audio spectral prints, video temporal-mean dHash since r11)
through the banded Hamming machinery, with the MODALITY riding every
candidate join so the incompatible hash families never cross.

Sidecars (flat one-coalesced-file-per-committed-batch layout since
round 8 — bucket keys ride as data columns; no reader pruned their
directories and dir count was the measured per-trigger slope, see
corpus.py — a few dozen bytes per row; the corpus payloads are never
re-read for dedup):
- ``<table>_payload_fps``: ``(fp, fp_bucket)`` — xxhash64 of the raw
  payload, exact-dup anti-join key.
- ``<table>_dhashes``: ``(media_id, dhash, id_bucket)`` — the
  perceptual fingerprints, candidate-verification side.
- ``<table>_dhash_bands``: ``(media_id, band_idx, band_val,
  bv_bucket)`` — the candidate-generation key space
  (multimodal.hash_band_rows).

WRITE ORDER: the survivor frame's lineage reads all three sidecars
(anti-joins); it is ``localCheckpoint``-ed BEFORE any sidecar append
(appending to a parquet path invalidates and re-reads every cached
plan scanning it — the lineage hazard documented in
streaming/corpus.py), after which append
order is free. Replay semantics match the corpus pipeline
(manifest-fenced commits since round 8, streaming/fence.py):
EXACTLY-ONCE as observed by probes — every per-batch write lands under
a ``_commit_batch=<id>`` partition with dynamic partition overwrite,
one shared marker written after all appends is the commit, and fenced
reads (including the dedup anti-joins above) see only committed
batches, so a torn batch's replay replaces its own output and a
committed batch's replay short-circuits to a no-op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from unified_log_aggregation_and_analytics_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    hash_band_rows,
    hamming_near_dup,
    media_gate_hash,
)
from unified_log_aggregation_and_analytics_spark.streaming import fence
from unified_log_aggregation_and_analytics_spark.streaming.pipeline import (
    PipelineResult,
    start_sink,
)

# Modalities whose perceptual near-dup runs through the banded
# Hamming machinery (64-bit fingerprint families): image dHash,
# audio spectral prints, and (since r11) video temporal-mean dHash
# (multimodal.video_fingerprint64 — the frame-level fingerprint this
# constant's comment used to document as the pending extension).
# Hash families are INCOMPATIBLE across modalities, so every
# candidate join below keys on modality too.
PERCEPTUAL_MODALITIES = ("image", "audio", "video")

N_BUCKETS = 64
HASH_BANDS = 4


def _fp_sidecar(table_path: str) -> str:
    return f"{table_path}_payload_fps"


def _hash_sidecar(table_path: str) -> str:
    return f"{table_path}_dhashes"


def _band_sidecar(table_path: str) -> str:
    return f"{table_path}_dhash_bands"


def _cross_batch_near_ids(
    spark: SparkSession,
    hashed: DataFrame,
    table_path: str,
    max_hamming: int,
) -> DataFrame:
    """Batch ids whose fingerprint is within ``max_hamming`` of an
    ALREADY-INGESTED item OF THE SAME MODALITY: the batch's band rows
    join the band sidecar (bucket-bounded degree), candidates verify
    against the hash sidecar with bit_count — per-trigger cost tracks
    the delta's band collisions, never the corpus. Modality rides
    every join key: image dHashes and audio spectral prints are
    different hash families, and a cross-family band collision must
    not produce a candidate."""
    # COMMITTED sidecar rows only (fence.py): a torn predecessor's
    # band/hash rows are invisible, so its replay re-verifies from the
    # same state. fenced_read returns None for a missing path (first
    # trigger) or a schema-less directory (an earlier batch with no
    # fingerprinted survivors); any OTHER failure fails the batch — a
    # broad except here would silently disable cross-batch dedup.
    root = fence.fence_root(table_path)
    bands_old = fence.fenced_read(spark, _band_sidecar(table_path), root)
    hashes_old = fence.fenced_read(spark, _hash_sidecar(table_path), root)
    if bands_old is None or hashes_old is None:
        return hashed.select("media_id").limit(0)
    banded = hash_band_rows(
        hashed.select("media_id", "dhash"), "dhash", bands=HASH_BANDS
    ).join(hashed.select("media_id", "modality"), "media_id")
    cand = (
        banded.join(
            bands_old.select(
                F.col("media_id").alias("old_id"), "modality", "band_idx", "band_val"
            ),
            ["modality", "band_idx", "band_val"],
        )
        .select("media_id", "dhash", "old_id")
        .distinct()
    )
    return (
        cand.join(
            hashes_old.select(
                F.col("media_id").alias("old_id"), F.col("dhash").alias("_dh_old")
            ),
            "old_id",
        )
        .filter(
            F.bit_count(F.col("dhash").bitwiseXOR(F.col("_dh_old"))) <= max_hamming
        )
        .select("media_id")
        .distinct()
    )


def media_ingest_batch(
    batch_df: DataFrame,
    table_path: str,
    rejected_path: str,
    max_hamming: int = 3,
    batch_id: int | None = None,
) -> None:
    """Ingest ONE micro-batch of media rows:

    1. decode gate: payloads THEIR OWN MODALITY's decoder cannot read
       reject with ``_error='undecodable'`` (the DLQ shape;
       multimodal.media_gate_hash);
    2. exact dedup: xxhash64(payload) — keep-min within the batch,
       anti-join the fp sidecar across batches (every modality);
    3. near-dup: banded 64-bit fingerprints (image dHash / audio
       spectral) — within-batch pairs via one hamming_near_dup
       keyed on modality (keep-min), cross-batch vs the modality-qualified
       band + hash sidecars; rejects carry ``_error='near_duplicate'``;
    4. survivors append to ``table_path`` partitioned by modality;
       fingerprints/hashes/bands append to the sidecars; with a stream
       ``batch_id``, outcome counts append to ``<table>_metrics``
       before the commit marker (fence.FencedBatch)."""
    spark = batch_df.sparkSession
    root = fence.fence_root(table_path)
    with fence.FencedBatch(spark, root, batch_id, f"{table_path}_metrics") as fb:
        if fb.committed:
            return  # replay of a fully-committed batch: exact no-op
        gate = media_gate_hash(batch_df)
        undecodable = ~F.coalesce(F.col("decode_ok"), F.lit(False))
        scored = batch_df.withColumn("fp", F.xxhash64("payload")).withColumn(
            "fp_bucket", F.pmod(F.col("fp"), F.lit(N_BUCKETS))
        ).join(gate, "media_id", "left")
        # Batch-size + undecodable counts ride the first action over
        # `scored` (the reject write) as observe() aggregates instead of
        # dedicated count jobs (same pattern as streaming/corpus.py).
        scored = fb.persist(
            fb.observe(
                scored,
                F.count(F.lit(1)).alias("n_in"),
                F.coalesce(F.sum(F.when(undecodable, F.lit(1))), F.lit(0))
                .cast("long")
                .alias("n_undec"),
            )
        )
        fb.outcomes = lambda m: [
            ("ingested", m["n_ing"]),
            ("near_duplicate", m["n_near"]),
            ("duplicate", m["n_in"] - m["n_undec"] - m["n_near"] - m["n_ing"]),
            ("rejected:undecodable", m["n_undec"]),
        ]
        fb.append(
            scored.filter(undecodable)
            .drop("fp", "fp_bucket", "dhash", "decode_ok")
            .withColumn("_error", F.lit("undecodable")),
            rejected_path,
            "_error",
        )
        kept = scored.filter(F.col("decode_ok"))
        first = kept.groupBy("fp").agg(F.min("media_id").alias("media_id"))
        kept = kept.join(first, ["fp", "media_id"])
        # COMMITTED fingerprints only; None == first trigger or
        # schema-less dir, anything else fails the batch (a broad
        # except would silently disable cross-batch exact dedup)
        seen = fence.fenced_read(spark, _fp_sidecar(table_path), root)
        if seen is not None:
            kept = kept.join(seen, ["fp_bucket", "fp"], "left_anti")
        fb.persist(kept)
        # within-batch perceptual pairs: ONE banded join for every
        # modality — modality rides in the equi-join key, so a pair
        # never crosses hash families (the batch report's form,
        # multimodal.media_ingest_report)
        within = hamming_near_dup(
            kept.filter(
                F.col("modality").isin(*PERCEPTUAL_MODALITIES) & F.col("dhash").isNotNull()
            ).select("media_id", "modality", "dhash"),
            "dhash",
            max_hamming=max_hamming,
            bands=HASH_BANDS,
            key_cols=("modality",),
        ).select(F.col("id_b").alias("media_id"))
        cross = _cross_batch_near_ids(
            spark, kept.filter(F.col("dhash").isNotNull()), table_path, max_hamming
        )
        near_ids = within.union(cross).distinct()
        fb.append(
            fb.observe(
                kept.join(near_ids, "media_id")
                .drop("fp", "fp_bucket", "dhash")
                .withColumn("_error", F.lit("near_duplicate")),
                F.count(F.lit(1)).alias("n_near"),
            ),
            rejected_path,
            "_error",
        )
        # SEVER LINEAGE before the sidecar appends (see module
        # docstring) — after this the append order below is free.
        kept = kept.join(near_ids, "media_id", "left_anti").localCheckpoint()
        fb.append(
            fb.observe(
                kept.drop("fp", "fp_bucket", "dhash", "decode_ok"),
                F.count(F.lit(1)).alias("n_ing"),
            ),
            table_path,
            "modality",
        )
        # flat single-file sidecar appends (bucket keys are DATA
        # columns — no reader prunes their directories, and dir count
        # was the measured per-trigger slope; see corpus.py)
        fb.append(kept.select("fp", "fp_bucket").coalesce(1), _fp_sidecar(table_path))
        # perceptual sidecars: only fingerprinted modalities, and the
        # modality column rides along so future candidate joins never
        # cross hash families
        surv_hashes = kept.filter(F.col("dhash").isNotNull()).select(
            "media_id",
            "modality",
            "dhash",
            F.pmod(F.xxhash64(F.col("media_id")), F.lit(N_BUCKETS)).alias("id_bucket"),
        )
        fb.append(surv_hashes.coalesce(1), _hash_sidecar(table_path))
        fb.append(
            hash_band_rows(surv_hashes.drop("id_bucket", "modality"), "dhash", bands=HASH_BANDS)
            .join(surv_hashes.select("media_id", "modality"), "media_id")
            .drop("dhash")
            .withColumn("bv_bucket", F.pmod(F.col("band_val"), F.lit(N_BUCKETS)))
            .coalesce(1),
            _band_sidecar(table_path),
        )


def run_media_pipeline(
    spark: SparkSession,
    source_dir: str,
    table_path: str,
    rejected_path: str,
    checkpoint_dir: str,
    max_hamming: int = 3,
    available_now: bool = True,
    transform=None,
) -> PipelineResult:
    """File-source streaming media ingest: parquet media batches land
    in ``source_dir``; each micro-batch runs media_ingest_batch via
    foreachBatch (checkpointed — replay semantics per the module
    docstring). ``available_now`` drains what exists and stops — the
    test/backfill trigger; production uses the default processing-
    time trigger.

    ``transform`` (optional): a MEDIA_SCHEMA-preserving DataFrame ->
    DataFrame normalization applied to every micro-batch BEFORE the
    gate/dedup/ingest — e.g. ``lambda df: resize_media(df, 256, 256)``
    or a resample_audio/resample_video composition. The stored corpus
    and every dedup decision then operate on the NORMALIZED payloads
    (train-ready bytes in the table; inputs that differ only
    pre-normalization collapse as duplicates), and payloads the
    transform cannot decode arrive at the gate as payload=None and
    route to the DLQ as undecodable. Replays re-apply the same
    deterministic transform, so the fenced exactly-once contract is
    unchanged.

    CAUTION — exotic formats: the decode kernels' DEFAULT for a
    real-but-exotic payload (progressive JPEG without Pillow, an
    uncommon WAV codec) is a loud NotImplementedError, which here
    would abort the micro-batch from inside foreachBatch and kill the
    stream. Streaming transforms should pass the kernels'
    ``on_exotic='null'`` valve (e.g. ``lambda df: resize_media(df,
    256, 256, on_exotic='null')``) so those payloads become
    payload=None and route to the DLQ as undecodable like any other
    bad input; keep the raising default only when an exotic payload
    reaching this pipeline is a deploy bug you want fatal."""
    stream = (
        spark.readStream.schema(MEDIA_SCHEMA)
        .parquet(source_dir)
    )

    def _handle(df: DataFrame, bid: int) -> None:
        if transform is not None:
            df = transform(df)
        media_ingest_batch(
            df, table_path, rejected_path, max_hamming=max_hamming, batch_id=bid
        )

    # processingTime 0 is Spark's own default trigger
    trigger = {"availableNow": True} if available_now else {"processingTime": "0 seconds"}
    return start_sink(stream, _handle, checkpoint_dir, trigger)


def compact_media_sidecars(
    spark: SparkSession, table_path: str, files_per_partition: int = 1
) -> None:
    """Sidecar maintenance, identical contract to
    corpus.compact_sidecars: fold each sidecar's COMMITTED rows
    (payload-fp / dhash / band) into a single already-committed batch
    partition with ``files_per_partition`` files per bucket directory
    — dedup state untouched, routing decisions identical before and
    after; torn (uncommitted) partitions are dropped, they were
    invisible to the fence anyway. Mechanics, including the
    commit-marker rollup, in fence.compact_paths."""
    fence.compact_paths(
        spark,
        fence.fence_root(table_path),
        [_fp_sidecar(table_path), _hash_sidecar(table_path), _band_sidecar(table_path)],
        files_per_partition=files_per_partition,
    )
