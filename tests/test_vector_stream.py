"""Streaming vector-index maintenance e2e (streaming/vectors.py):
micro-batches of embeddings flow through the dimension gate, the
id-sidecar dedup, and frozen-quantizer appends into the persisted IVF
index — and the maintained index answers probes exactly like a batch
build over the same vectors (append ≡ rebuild, the q02f/knn_ivf_
appended proof carried into the streaming path)."""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from unified_log_aggregation_and_analytics_spark.operators.ann_index import (
    build_ivf_index,
    ivf_probe,
)
from unified_log_aggregation_and_analytics_spark.streaming.vectors import (
    run_vector_pipeline,
)

VEC_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ]
)


def _vecs(n: int, dim: int = 8, seed: int = 3) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return [[float(x) for x in row] for row in rng.normal(size=(n, dim))]


def test_vector_pipeline_maintains_probeable_index(spark, tmp_path):
    all_vecs = _vecs(60)
    base = [(i, all_vecs[i]) for i in range(20)]
    delta = [(i, all_vecs[i]) for i in range(20, 60)]

    # frozen quantizer from the base build
    index = str(tmp_path / "ivf")
    build_ivf_index(
        spark.createDataFrame(base, VEC_SCHEMA), index, n_centroids=4
    )

    # two micro-batches; plant a bad-dimension row and a cross-batch
    # duplicate id (vec 20 re-sent in batch 2 with different values —
    # the sidecar must drop it, keeping the first-write wins contract)
    src = tmp_path / "src"
    src.mkdir()
    b0 = [{"vec_id": i, "embedding": v} for i, v in delta[:20]]
    b0.append({"vec_id": 999, "embedding": [1.0, 2.0]})  # wrong width
    b1 = [{"vec_id": i, "embedding": v} for i, v in delta[20:]]
    b1.append({"vec_id": 20, "embedding": [9.0] * 8})  # dup id, new values
    (src / "b00.json").write_text("\n".join(json.dumps(r) for r in b0))
    (src / "b01.json").write_text("\n".join(json.dumps(r) for r in b1))
    # FileStreamSource orders micro-batches by modification time; the
    # two writes above can land in the same clock tick, making batch
    # order (and so which duplicate copy wins) nondeterministic — pin
    # distinct mtimes so b00 is always the first trigger
    import os, time

    now = time.time()
    os.utime(src / "b00.json", (now - 10, now - 10))
    os.utime(src / "b01.json", (now, now))

    stream = (
        spark.readStream.schema(VEC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    res = run_vector_pipeline(
        stream,
        index,
        str(tmp_path / "rejected"),
        str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
    )
    res.query.awaitTermination(120)

    # maintained index == batch rebuild over the same 60 vectors,
    # probed with the same frozen centroids
    rebuilt = str(tmp_path / "ivf_rebuilt")
    build_ivf_index(
        spark.createDataFrame(
            [(i, all_vecs[i]) for i in range(60)], VEC_SCHEMA
        ),
        rebuilt,
        n_centroids=4,
    )
    q = all_vecs[0]
    got = [(r["vec_id"], r["cos_sim"]) for r in ivf_probe(spark, index, q, k=5).collect()]
    want = [(r["vec_id"], r["cos_sim"]) for r in ivf_probe(spark, rebuilt, q, k=5).collect()]
    assert got == want and got

    # the duplicate id kept its FIRST values (9.0-vector never landed).
    # _index_rows is the probe-visible surface: base table + committed
    # fenced delta batches.
    from unified_log_aggregation_and_analytics_spark.operators.ann_index import (
        _index_rows,
    )

    idx_rows = _index_rows(spark, index)
    row20 = idx_rows.filter(F.col("vec_id") == 20).collect()
    assert len(row20) == 1 and abs(row20[0]["embedding"][0] - all_vecs[20][0]) < 1e-9

    # DLQ carries the bad-dimension row; metrics reconcile
    dlq = spark.read.parquet(str(tmp_path / "rejected")).collect()
    assert [r["vec_id"] for r in dlq] == [999]
    m = spark.read.parquet(f"{index}_metrics")
    tot = {r["outcome"]: r["n"] for r in m.groupBy("outcome").agg(F.sum("n").alias("n")).collect()}
    assert tot["ingested"] == 40 and tot["rejected:bad_dimension"] == 1
    assert tot["duplicate"] == 1


def test_vector_ingest_replay_idempotent(spark, tmp_path):
    """A replayed batch that fully committed must be a no-op for the
    probe-visible index (exactly-once as observed by probes)."""
    from unified_log_aggregation_and_analytics_spark.operators.ann_index import (
        _index_rows,
    )
    from unified_log_aggregation_and_analytics_spark.streaming.vectors import (
        vector_ingest_batch,
    )

    vecs = _vecs(30, seed=11)
    index = str(tmp_path / "ivf")
    build_ivf_index(
        spark.createDataFrame([(i, vecs[i]) for i in range(10)], VEC_SCHEMA),
        index,
        n_centroids=4,
    )
    batch = spark.createDataFrame([(i, vecs[i]) for i in range(10, 30)], VEC_SCHEMA)
    rej = str(tmp_path / "rej")
    vector_ingest_batch(batch, index, rej, batch_id=0)
    n1 = _index_rows(spark, index).count()
    vector_ingest_batch(batch, index, rej, batch_id=0)  # replay
    n2 = _index_rows(spark, index).count()
    assert n1 == n2 == 30


def test_vector_ingest_torn_batch_replay_no_duplicates(spark, tmp_path, monkeypatch):
    """Kill-between-appends e2e for the manifest-fenced commit
    (streaming/fence.py): a batch dies AFTER its index-delta append
    but BEFORE the id-sidecar append (the r7 torn-batch window). The
    torn output must be invisible to probes (no marker => no rows),
    and the checkpoint replay must REPLACE it — zero duplicate ids in
    the visible index and in probe results."""
    from unified_log_aggregation_and_analytics_spark.operators.ann_index import (
        _index_rows,
    )
    from unified_log_aggregation_and_analytics_spark.streaming import fence
    from unified_log_aggregation_and_analytics_spark.streaming.vectors import (
        vector_ingest_batch,
    )

    vecs = _vecs(30, seed=23)
    index = str(tmp_path / "ivf")
    build_ivf_index(
        spark.createDataFrame([(i, vecs[i]) for i in range(10)], VEC_SCHEMA),
        index,
        n_centroids=4,
    )
    batch = spark.createDataFrame([(i, vecs[i]) for i in range(10, 30)], VEC_SCHEMA)
    rej = str(tmp_path / "rej")

    real_append = fence.fenced_append

    def killed_at_sidecar(df, path, batch_id, partition_cols=()):
        if path.endswith("_ids"):
            raise RuntimeError("simulated kill between index and sidecar appends")
        return real_append(df, path, batch_id, partition_cols)

    monkeypatch.setattr(fence, "fenced_append", killed_at_sidecar)
    with pytest.raises(RuntimeError, match="simulated kill"):
        vector_ingest_batch(batch, index, rej, batch_id=7)
    monkeypatch.undo()

    # torn state on disk: the delta partition EXISTS but carries no
    # marker, so the probe-visible index still reads only the base
    assert Path(f"{index}/delta/_commit_batch=7").is_dir()
    assert not fence.is_committed(spark, fence.fence_root(index), 7)
    assert _index_rows(spark, index).count() == 10

    # checkpoint replay of the same batch id
    vector_ingest_batch(batch, index, rej, batch_id=7)

    visible = _index_rows(spark, index)
    assert visible.count() == 30
    dup_ids = visible.groupBy("vec_id").count().filter("count > 1").count()
    assert dup_ids == 0, "replayed torn batch duplicated index rows"
    # probe results carry each id at most once
    got = [r["vec_id"] for r in ivf_probe(spark, index, vecs[0], k=30).collect()]
    assert len(got) == len(set(got))
    # and a replay of the now-COMMITTED batch is an exact no-op
    vector_ingest_batch(batch, index, rej, batch_id=7)
    assert _index_rows(spark, index).count() == 30


def test_merge_index_delta_probe_identical_and_crash_safe(spark, tmp_path, monkeypatch):
    """merge_index_delta folds committed streaming-delta batches into
    the base table: probe results are value-identical before and
    after, the merged-batch delta files become invisible the instant
    the directory swap lands (journal inside the table dir — no
    double-count window even before cleanup), and the maintenance op
    is idempotent."""
    import os
    import shutil

    from unified_log_aggregation_and_analytics_spark.operators.ann_index import (
        _index_rows,
        merge_index_delta,
    )
    from unified_log_aggregation_and_analytics_spark.streaming import fence
    from unified_log_aggregation_and_analytics_spark.streaming.vectors import (
        vector_ingest_batch,
    )

    vecs = _vecs(40, seed=31)
    index = str(tmp_path / "ivf")
    build_ivf_index(
        spark.createDataFrame([(i, vecs[i]) for i in range(10)], VEC_SCHEMA),
        index,
        n_centroids=4,
    )
    rej = str(tmp_path / "rej")
    for bid, lo, hi in ((0, 10, 25), (1, 25, 40)):
        vector_ingest_batch(
            spark.createDataFrame([(i, vecs[i]) for i in range(lo, hi)], VEC_SCHEMA),
            index, rej, batch_id=bid,
        )

    q = vecs[3]
    before = [(r["vec_id"], round(r["cos_sim"], 9)) for r in ivf_probe(spark, index, q, k=8).collect()]

    n_merged = merge_index_delta(spark, index)
    assert n_merged == 2
    after = [(r["vec_id"], round(r["cos_sim"], 9)) for r in ivf_probe(spark, index, q, k=8).collect()]
    assert before == after

    # all rows now in the base; merged delta partitions cleaned up;
    # markers retained (they are the writer's replay short-circuit)
    assert spark.read.parquet(f"{index}/table").count() == 40
    assert _index_rows(spark, index).count() == 40
    delta_dirs = [
        d for d in os.listdir(f"{index}/delta")
        if d.startswith("_commit_batch=")
    ] if os.path.isdir(f"{index}/delta") else []
    assert delta_dirs == []
    assert fence.is_committed(spark, fence.fence_root(index), 1)

    # idempotent: nothing new to merge
    assert merge_index_delta(spark, index) == 0
    assert _index_rows(spark, index).count() == 40

    # crash-safety, the dangerous window: swap landed but cleanup did
    # not run. Simulate by ingesting batch 2 then re-creating its
    # delta partition AFTER a merge (stale files under a <= journal
    # batch id must be invisible).
    vector_ingest_batch(
        spark.createDataFrame([(100, vecs[5]), (101, vecs[7])], VEC_SCHEMA),
        index, rej, batch_id=2,
    )
    saved = str(tmp_path / "saved_delta_b2")
    shutil.copytree(f"{index}/delta/_commit_batch=2", saved)
    assert merge_index_delta(spark, index) == 1
    assert _index_rows(spark, index).count() == 42
    # resurrect the already-merged delta partition (= interrupted cleanup)
    shutil.copytree(saved, f"{index}/delta/_commit_batch=2")
    assert _index_rows(spark, index).count() == 42, "journal must exclude merged batch"
    got = [r["vec_id"] for r in ivf_probe(spark, index, vecs[5], k=42).collect()]
    assert len(got) == len(set(got)), "double-counted merged delta rows"
    # the next maintenance run completes the cleanup
    merge_index_delta(spark, index)
    assert not os.path.isdir(f"{index}/delta/_commit_batch=2")

    # streaming continues after a merge: next batch lands in the delta
    vector_ingest_batch(
        spark.createDataFrame([(200, vecs[9])], VEC_SCHEMA), index, rej, batch_id=3
    )
    assert _index_rows(spark, index).count() == 43


def test_vector_every_kill_point_replays_to_control_state(spark, tmp_path, monkeypatch):
    """EXHAUSTIVE torn-batch sweep for the vector-index pipeline:
    kill batch 1 at every fenced write site in turn (DLQ, index
    delta, id sidecar, metrics) plus the pre-marker boundary, replay,
    and require the probe-visible index and metrics to equal a
    never-killed control run."""
    import os

    from unified_log_aggregation_and_analytics_spark.operators.ann_index import (
        _index_rows,
    )
    from unified_log_aggregation_and_analytics_spark.streaming import fence
    from unified_log_aggregation_and_analytics_spark.streaming.vectors import (
        vector_ingest_batch,
    )

    vecs = _vecs(40, seed=47)
    b1 = [(i, vecs[i]) for i in range(10, 25)]
    b2 = [(i, vecs[i]) for i in range(22, 40)] + [(99, None)]  # overlap + reject

    def run_to_dir(d, kill_at=None, kill_marker=False):
        index = str(d / "ivf")
        rej = str(d / "rej")
        build_ivf_index(
            spark.createDataFrame([(i, vecs[i]) for i in range(10)], VEC_SCHEMA),
            index,
            n_centroids=4,
        )
        vector_ingest_batch(
            spark.createDataFrame(b1, VEC_SCHEMA), index, rej, batch_id=0
        )
        killed = False
        if kill_at is not None:
            calls = {"n": 0}
            real = fence.fenced_append

            def killer(df, path, batch_id, partition_cols=()):
                if calls["n"] == kill_at:
                    raise RuntimeError("kill")
                calls["n"] += 1
                return real(df, path, batch_id, partition_cols)

            monkeypatch.setattr(fence, "fenced_append", killer)
        elif kill_marker:
            real_mark = fence.mark_committed

            def no_mark(spark_, root_, bid_):
                if int(bid_) == 1:
                    raise RuntimeError("kill")
                return real_mark(spark_, root_, bid_)

            monkeypatch.setattr(fence, "mark_committed", no_mark)
        if kill_at is not None or kill_marker:
            try:
                vector_ingest_batch(
                    spark.createDataFrame(b2, VEC_SCHEMA), index, rej, batch_id=1
                )
            except RuntimeError:
                killed = True
            finally:
                monkeypatch.undo()
            if not killed:
                return None
        vector_ingest_batch(
            spark.createDataFrame(b2, VEC_SCHEMA), index, rej, batch_id=1
        )
        rows = {
            (r["vec_id"], tuple(round(x, 9) for x in r["embedding"]))
            for r in _index_rows(spark, index).collect()
        }
        met = {
            (r["batch_id"], r["outcome"]): r["n"]
            for r in fence.fenced_read(
                spark, f"{index}_metrics", fence.fence_root(index)
            ).collect()
        }
        return rows, met

    control = run_to_dir(tmp_path / "control", kill_at=10**9)
    # kill_at huge -> killer never fires -> returns None; rebuild control plainly
    assert control is None
    control = run_to_dir(tmp_path / "control2")
    assert len(control[0]) == 40  # 10 base + 15 + 15 novel survivors

    site, exercised = 0, 0
    while True:
        got = run_to_dir(tmp_path / f"kill{site}", kill_at=site)
        if got is None:
            break
        assert got == control, f"kill at fenced write #{site} diverged"
        exercised += 1
        site += 1
    assert exercised >= 3, f"sweep exercised only {exercised} kill sites"

    got = run_to_dir(tmp_path / "killmark", kill_marker=True)
    assert got == control, "marker-boundary kill diverged"


def test_vector_ingest_manual_batch_id_allocates_next_slot(spark, tmp_path):
    """batch_id=None (manual/batch invocation) must allocate the next
    free committed slot like the corpus/media/semantic sinks — the r8
    behavior pinned bid=0, so every manual call after the first hit
    is_committed and silently dropped the batch."""
    from unified_log_aggregation_and_analytics_spark.operators.ann_index import (
        _index_rows,
    )
    from unified_log_aggregation_and_analytics_spark.streaming import fence
    from unified_log_aggregation_and_analytics_spark.streaming.vectors import (
        vector_ingest_batch,
    )

    vecs = _vecs(30, seed=23)
    index = str(tmp_path / "ivf")
    rej = str(tmp_path / "rej")
    build_ivf_index(
        spark.createDataFrame([(i, vecs[i]) for i in range(10)], VEC_SCHEMA),
        index,
        n_centroids=4,
    )
    b1 = spark.createDataFrame([(i, vecs[i]) for i in range(10, 20)], VEC_SCHEMA)
    b2 = spark.createDataFrame([(i, vecs[i]) for i in range(20, 30)], VEC_SCHEMA)
    vector_ingest_batch(b1, index, rej, batch_id=None)
    vector_ingest_batch(b2, index, rej, batch_id=None)
    assert fence.committed_batches(spark, fence.fence_root(index)) == [0, 1]
    assert _index_rows(spark, index).count() == 30


def test_merge_cadence_policy_bounds_delta(spark, tmp_path):
    """maybe_merge_delta: below the threshold it is a no-op; at the
    threshold it folds every unmerged committed batch, and the
    maintained index answers probes exactly like before the merge
    (merge ≡ rebuild is pinned by the sibling test — here we pin the
    POLICY: when it fires, and that probe results are unchanged
    across the fold)."""
    from unified_log_aggregation_and_analytics_spark.operators.ann_index import (
        _index_rows,
        _merged_through,
        ivf_probe,
    )
    from unified_log_aggregation_and_analytics_spark.streaming.vectors import (
        maybe_merge_delta,
        vector_ingest_batch,
    )

    vecs = _vecs(50, seed=31)
    index = str(tmp_path / "ivf")
    rej = str(tmp_path / "rej")
    build_ivf_index(
        spark.createDataFrame([(i, vecs[i]) for i in range(10)], VEC_SCHEMA),
        index,
        n_centroids=4,
    )
    for b in range(3):
        lo, hi = 10 + b * 10, 20 + b * 10
        vector_ingest_batch(
            spark.createDataFrame([(i, vecs[i]) for i in range(lo, hi)], VEC_SCHEMA),
            index,
            rej,
            batch_id=b,
        )
    assert maybe_merge_delta(spark, index, merge_every=4) == 0  # below
    assert _merged_through(index) == -1
    vector_ingest_batch(
        spark.createDataFrame([(i, vecs[i]) for i in range(40, 50)], VEC_SCHEMA),
        index,
        rej,
        batch_id=3,
    )
    q = vecs[0]
    before = [r["vec_id"] for r in ivf_probe(spark, index, q, k=5).collect()]
    assert maybe_merge_delta(spark, index, merge_every=4) == 4  # fires
    assert _merged_through(index) == 3
    assert _index_rows(spark, index).count() == 50
    after = [r["vec_id"] for r in ivf_probe(spark, index, q, k=5).collect()]
    assert before == after


def test_vector_pipeline_merge_cadence_e2e(spark, tmp_path):
    """run_vector_pipeline(merge_every=1) through REAL availableNow
    triggers: the writer folds its own delta after every batch (the
    cadence wiring, not just the maybe_merge_delta helper) — the
    journal advances, merged delta partitions are reclaimed, and the
    maintained index probes exactly like a batch rebuild."""
    import os
    import time

    from unified_log_aggregation_and_analytics_spark.operators.ann_index import (
        _delta_path,
        _index_rows,
        _merged_through,
    )

    all_vecs = _vecs(50, seed=41)
    index = str(tmp_path / "ivf")
    build_ivf_index(
        spark.createDataFrame([(i, all_vecs[i]) for i in range(10)], VEC_SCHEMA),
        index,
        n_centroids=4,
    )
    src = tmp_path / "src"
    src.mkdir()
    now = time.time()
    for b in range(2):
        rows = [
            {"vec_id": i, "embedding": all_vecs[i]}
            for i in range(10 + b * 20, 30 + b * 20)
        ]
        f = src / f"b{b}.json"
        f.write_text("\n".join(json.dumps(r) for r in rows))
        os.utime(f, (now - 10 + b, now - 10 + b))
    stream = (
        spark.readStream.schema(VEC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    res = run_vector_pipeline(
        stream,
        index,
        str(tmp_path / "rej"),
        str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
        merge_every=1,
        maintenance="merge",  # explicit opt-in: merge is no longer the default
    )
    res.query.awaitTermination(120)

    assert _merged_through(index) == 1  # both batches folded in-stream
    # merged delta partitions were lazily reclaimed
    from pathlib import Path

    leftovers = list(Path(_delta_path(index)).glob("_commit_batch=*"))
    assert leftovers == [], leftovers
    assert _index_rows(spark, index).count() == 50

    rebuilt = str(tmp_path / "ivf_rebuilt")
    build_ivf_index(
        spark.createDataFrame([(i, all_vecs[i]) for i in range(50)], VEC_SCHEMA),
        rebuilt,
        n_centroids=4,
    )
    q = all_vecs[3]
    got = [r["vec_id"] for r in ivf_probe(spark, index, q, k=5).collect()]
    want = [r["vec_id"] for r in ivf_probe(spark, rebuilt, q, k=5).collect()]
    assert got == want and got


def test_maybe_merge_delta_validates_mode(spark, tmp_path):
    """A typo'd maintenance mode must fail at the first trigger, not
    silently fall through to the local-FS merge path."""
    from unified_log_aggregation_and_analytics_spark.streaming.vectors import (
        maybe_merge_delta,
    )

    with pytest.raises(ValueError, match="maintenance mode"):
        maybe_merge_delta(spark, str(tmp_path / "ivf"), 4, mode="compacted")


def test_vector_pipeline_default_compact_cadence_e2e(spark, tmp_path):
    """run_vector_pipeline with the DEFAULT maintenance protocol
    ('compact' since r10 — the object-store-correct, rename-free
    fold) at merge_every=1: the in-stream fold must leave the base
    table untouched, advance the compaction fence, and keep probes
    identical to a batch rebuild."""
    import os
    import time
    from pathlib import Path

    from unified_log_aggregation_and_analytics_spark.operators.ann_index import (
        _delta_path,
        _index_rows,
        _merged_through,
    )
    from unified_log_aggregation_and_analytics_spark.streaming import fence

    all_vecs = _vecs(50, seed=43)
    index = str(tmp_path / "ivf")
    build_ivf_index(
        spark.createDataFrame([(i, all_vecs[i]) for i in range(10)], VEC_SCHEMA),
        index,
        n_centroids=4,
    )
    base_files = sorted(
        p.name for p in Path(index, "table").rglob("*.parquet")
    )
    src = tmp_path / "src"
    src.mkdir()
    now = time.time()
    for b in range(2):
        rows = [
            {"vec_id": i, "embedding": all_vecs[i]}
            for i in range(10 + b * 20, 30 + b * 20)
        ]
        f = src / f"b{b}.json"
        f.write_text("\n".join(json.dumps(r) for r in rows))
        os.utime(f, (now - 10 + b, now - 10 + b))
    stream = (
        spark.readStream.schema(VEC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    res = run_vector_pipeline(
        stream,
        index,
        str(tmp_path / "rej"),
        str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
        merge_every=1,
        # maintenance NOT passed: the default must be the compact protocol
    )
    res.query.awaitTermination(120)

    # base table untouched — compact never rewrites it
    assert base_files == sorted(
        p.name for p in Path(index, "table").rglob("*.parquet")
    )
    # merge journal never advanced (that is the merge protocol's fence)
    assert _merged_through(index) == -1
    # compaction fence covers both committed batches
    _, upto = fence._compact_state(spark, _delta_path(index))
    assert upto >= 1
    assert _index_rows(spark, index).count() == 50

    rebuilt = str(tmp_path / "ivf_rebuilt")
    build_ivf_index(
        spark.createDataFrame([(i, all_vecs[i]) for i in range(50)], VEC_SCHEMA),
        rebuilt,
        n_centroids=4,
    )
    q = all_vecs[3]
    got = [r["vec_id"] for r in ivf_probe(spark, index, q, k=5).collect()]
    want = [r["vec_id"] for r in ivf_probe(spark, rebuilt, q, k=5).collect()]
    assert got == want and got


def test_rotated_prefix_streaming_ingest_and_snapshot(spark, tmp_path):
    """r12: the streaming ingest path over the ROTATED-prefix index —
    frozen-rotation fenced appends through the same gate/dedup/
    metrics contract; probes see committed batches only; as_of_batch
    pins exclude later batches (fenced deltas carry lineage, so the
    snapshot contract that REJECTS unfenced appends allows these);
    the maintained index equals the scan path over the same rows and
    rotation."""
    from unified_log_aggregation_and_analytics_spark.operators import (
        ann_index as A,
        similarity as S,
    )
    from unified_log_aggregation_and_analytics_spark.streaming import fence
    from unified_log_aggregation_and_analytics_spark.streaming.vectors import (
        vector_ingest_batch,
    )

    dim = 8
    all_vecs = _vecs(90, dim=dim)
    base_rows = [(i, all_vecs[i]) for i in range(40)]
    b0_rows = [(i, all_vecs[i]) for i in range(40, 60)]
    b1_rows = [(i, all_vecs[i]) for i in range(60, 90)]
    base = spark.createDataFrame(base_rows, VEC_SCHEMA)
    path = str(tmp_path / "rotstream")
    R = S.power_pca_rotation(base, n_components=4, iters=8)
    A.build_rotated_prefix_index(base, path, R)
    qvec = all_vecs[0]

    vector_ingest_batch(
        spark.createDataFrame(b0_rows, VEC_SCHEMA),
        path,
        str(tmp_path / "rej"),
        batch_id=0,
        index_kind="rotated_prefix",
    )
    pinned = {r.vec_id for r in A.rotated_prefix_probe(
        spark, path, qvec, k=60, shortlist=60, as_of_batch=0
    ).collect()}
    assert pinned <= set(range(60)) and pinned & set(range(40, 60))

    vector_ingest_batch(
        spark.createDataFrame(b1_rows, VEC_SCHEMA),
        path,
        str(tmp_path / "rej"),
        batch_id=1,
        index_kind="rotated_prefix",
    )
    again = {r.vec_id for r in A.rotated_prefix_probe(
        spark, path, qvec, k=60, shortlist=60, as_of_batch=0
    ).collect()}
    assert again == pinned, "pinned probe leaked post-snapshot rows"

    got = A.rotated_prefix_probe(spark, path, qvec, k=10, shortlist=30).collect()
    scan = S.knn_prefix_refine_rotated(
        spark.createDataFrame([(i, all_vecs[i]) for i in range(90)], VEC_SCHEMA),
        qvec, R, k=10, shortlist=30,
    ).collect()
    assert got == scan, "maintained index != scan over same rows+rotation"

    # metrics accounting landed per batch
    m = fence.fenced_read(
        spark, f"{path}_metrics", fence.fence_root(path)
    )
    counts = {(r.batch_id, r.outcome): r.n for r in m.collect()}
    assert counts[(0, "ingested")] == 20 and counts[(1, "ingested")] == 30

    # meta_cols are an IVF feature — loud on the rotated kind
    with pytest.raises(ValueError, match="IVF-index feature"):
        vector_ingest_batch(
            spark.createDataFrame(b1_rows, VEC_SCHEMA),
            path,
            str(tmp_path / "rej"),
            batch_id=2,
            index_kind="rotated_prefix",
            meta_cols=("label",),
        )


def test_ivfopq_streaming_ingest_and_snapshot(spark, tmp_path):
    """r14: fenced streaming maintenance over the PQ-family indexes —
    IVF-OPQ code deltas through the same gate/dedup/metrics contract.
    Probes see committed batches only; as_of_batch pins exclude later
    batches (fenced code deltas carry per-batch lineage, so the
    snapshot contract that REJECTS the unfenced append_ivfopq_index
    allows these); the maintained index probes identically to a fresh
    full rebuild over the same rows, rotation, and codebooks."""
    import numpy as np

    from unified_log_aggregation_and_analytics_spark.operators import ann_index as A
    from unified_log_aggregation_and_analytics_spark.streaming import fence
    from unified_log_aggregation_and_analytics_spark.streaming.vectors import (
        vector_ingest_batch,
    )

    dim = 8
    all_vecs = _vecs(90, dim=dim)
    base = spark.createDataFrame([(i, all_vecs[i]) for i in range(40)], VEC_SCHEMA)
    path = str(tmp_path / "ivfopqstream")
    # full-rank permutation rotation (orthonormal, engine-trivial)
    R = np.zeros((dim, dim))
    for i in range(dim):
        R[i, (i + 3) % dim] = 1.0
    A.build_ivfopq_index(base, path, R, n_centroids=4, m=2, codes=4)
    qvec = all_vecs[0]

    vector_ingest_batch(
        spark.createDataFrame([(i, all_vecs[i]) for i in range(40, 60)], VEC_SCHEMA),
        path, str(tmp_path / "rej"), batch_id=0, index_kind="ivfopq",
    )
    pinned = {r.vec_id for r in A.ivfopq_probe(
        spark, path, qvec, k=60, n_probe=4, as_of_batch=0
    ).collect()}
    assert pinned == set(range(60))

    vector_ingest_batch(
        spark.createDataFrame([(i, all_vecs[i]) for i in range(60, 90)], VEC_SCHEMA),
        path, str(tmp_path / "rej"), batch_id=1, index_kind="ivfopq",
    )
    again = {r.vec_id for r in A.ivfopq_probe(
        spark, path, qvec, k=60, n_probe=4, as_of_batch=0
    ).collect()}
    assert again == pinned, "pinned probe leaked post-snapshot rows"

    rebuilt = str(tmp_path / "ivfopq_rebuilt")
    A.build_ivfopq_index(
        spark.createDataFrame([(i, all_vecs[i]) for i in range(90)], VEC_SCHEMA),
        rebuilt, R, n_centroids=4, m=2, codes=4,
    )
    got = [tuple(r) for r in A.ivfopq_probe(spark, path, qvec, k=10).collect()]
    want = [tuple(r) for r in A.ivfopq_probe(spark, rebuilt, qvec, k=10).collect()]
    assert got == want and got

    m = fence.fenced_read(spark, f"{path}_metrics", fence.fence_root(path))
    counts = {(r.batch_id, r.outcome): r.n for r in m.collect()}
    assert counts[(0, "ingested")] == 20 and counts[(1, "ingested")] == 30

    with pytest.raises(ValueError, match="IVF-index feature"):
        vector_ingest_batch(
            spark.createDataFrame([(1, all_vecs[1])], VEC_SCHEMA),
            path, str(tmp_path / "rej"), batch_id=2,
            index_kind="ivfopq", meta_cols=("label",),
        )


def test_ivfpq_streaming_ingest_snapshot_sound(spark, tmp_path):
    """r14: same contract over plain IVF-PQ — and the CONTRAST pin:
    an UNFENCED append_ivfpq_index breaks a snapshot pin loudly
    (no per-batch lineage), while the fenced path keeps it sound."""
    from unified_log_aggregation_and_analytics_spark.operators import ann_index as A
    from unified_log_aggregation_and_analytics_spark.streaming.vectors import (
        vector_ingest_batch,
    )

    dim = 8
    all_vecs = _vecs(60, dim=dim)
    base = spark.createDataFrame([(i, all_vecs[i]) for i in range(40)], VEC_SCHEMA)
    path = str(tmp_path / "ivfpqstream")
    A.build_ivfpq_index(base, path, n_centroids=4, m=2, codes=4, train_iters=0)
    qvec = all_vecs[0]

    vector_ingest_batch(
        spark.createDataFrame([(i, all_vecs[i]) for i in range(40, 50)], VEC_SCHEMA),
        path, str(tmp_path / "rej"), batch_id=0, index_kind="ivfpq",
    )
    pinned = {r.vec_id for r in A.ivfpq_probe(
        spark, path, qvec, k=60, n_probe=4, as_of_batch=0
    ).collect()}
    assert pinned == set(range(50))

    # fenced: the maintained index equals a fresh rebuild
    rebuilt = str(tmp_path / "ivfpq_rebuilt")
    A.build_ivfpq_index(
        spark.createDataFrame([(i, all_vecs[i]) for i in range(50)], VEC_SCHEMA),
        rebuilt, n_centroids=4, m=2, codes=4, train_iters=0,
    )
    got = [tuple(r) for r in A.ivfpq_probe(spark, path, qvec, k=10).collect()]
    want = [tuple(r) for r in A.ivfpq_probe(spark, rebuilt, qvec, k=10).collect()]
    assert got == want and got

    # an unfenced append RECORDED AFTER a newer fenced commit breaks
    # an older pin loudly (fence_pos=1 > pin=0 — no per-batch lineage
    # for the appended rows); an append at-or-before the pin's fence
    # position stays sound by the r13 ordering contract
    vector_ingest_batch(
        spark.createDataFrame([(i, all_vecs[i]) for i in range(50, 55)], VEC_SCHEMA),
        path, str(tmp_path / "rej"), batch_id=1, index_kind="ivfpq",
    )
    A.append_ivfpq_index(
        spark.createDataFrame([(i, all_vecs[i]) for i in range(55, 60)], VEC_SCHEMA),
        path,
    )
    assert {r.vec_id for r in A.ivfpq_probe(
        spark, path, qvec, k=60, n_probe=4, as_of_batch=1
    ).collect()} == set(range(60))
    with pytest.raises(ValueError, match="unsound"):
        A.ivfpq_probe(spark, path, qvec, k=10, as_of_batch=0)


def test_ivfpq_delta_merge_probe_identical(spark, tmp_path):
    """r14: merge_index_delta is column-generic — folding committed
    IVF-PQ CODE deltas into the base table leaves probes
    value-identical, advances the journal, and a post-merge fenced
    batch remains probeable (the maintenance lifecycle the IVF index
    already certifies, applied to the PQ tier)."""
    from unified_log_aggregation_and_analytics_spark.operators import ann_index as A
    from unified_log_aggregation_and_analytics_spark.operators.ann_index import (
        _merged_through,
    )
    from unified_log_aggregation_and_analytics_spark.streaming import fence
    from unified_log_aggregation_and_analytics_spark.streaming.vectors import (
        vector_ingest_batch,
    )

    dim = 8
    all_vecs = _vecs(70, dim=dim)
    base = spark.createDataFrame([(i, all_vecs[i]) for i in range(40)], VEC_SCHEMA)
    path = str(tmp_path / "ivfpqmerge")
    A.build_ivfpq_index(base, path, n_centroids=4, m=2, codes=4, train_iters=0)
    qvec = all_vecs[5]
    for bid, (lo, hi) in enumerate(((40, 50), (50, 60))):
        vector_ingest_batch(
            spark.createDataFrame([(i, all_vecs[i]) for i in range(lo, hi)], VEC_SCHEMA),
            path, str(tmp_path / "rej"), batch_id=bid, index_kind="ivfpq",
        )
    before = [tuple(r) for r in A.ivfpq_probe(spark, path, qvec, k=15).collect()]
    A.merge_index_delta(spark, path, part_col="cell")
    assert _merged_through(path) == 1
    after = [tuple(r) for r in A.ivfpq_probe(spark, path, qvec, k=15).collect()]
    assert after == before and before

    # post-merge fenced appends keep working and stay probeable
    vector_ingest_batch(
        spark.createDataFrame([(i, all_vecs[i]) for i in range(60, 70)], VEC_SCHEMA),
        path, str(tmp_path / "rej"), batch_id=2, index_kind="ivfpq",
    )
    assert {r.vec_id for r in A.ivfpq_probe(
        spark, path, qvec, k=70, n_probe=4
    ).collect()} == set(range(70))


def test_vector_metrics_cost_one_extra_job(spark, tmp_path):
    """Vector-sink twin of test_corpus_metrics_cost_one_extra_job: the
    outcome counts ride the reject write as observe() aggregates, so a
    stream ``batch_id`` costs exactly ONE extra Spark job — the
    metrics append — and a manual call (``batch_id=None``) writes no
    metrics at all. ``kept.count()`` runs in both modes: it guards the
    index append."""
    from unified_log_aggregation_and_analytics_spark.streaming import fence
    from unified_log_aggregation_and_analytics_spark.streaming.vectors import (
        vector_ingest_batch,
    )

    vecs = _vecs(40, seed=41)
    rows = [(i, vecs[i]) for i in range(10, 40)]
    rows += [(15, vecs[16]), (999, [1.0, 2.0])]  # a duplicate id, a bad width
    bdf = spark.createDataFrame(rows, VEC_SCHEMA).localCheckpoint()
    base = spark.createDataFrame([(i, vecs[i]) for i in range(10)], VEC_SCHEMA)
    for run in ("plain", "metered"):
        build_ivf_index(base, str(tmp_path / f"ivf_{run}"), n_centroids=4)
    tracker = spark.sparkContext.statusTracker()
    spark.range(1).count()  # seed: guarantee a known job id exists

    def jobs(run: str, batch_id):
        before = max(tracker.getJobIdsForGroup(None))
        vector_ingest_batch(
            bdf, str(tmp_path / f"ivf_{run}"), str(tmp_path / f"rej_{run}"),
            batch_id=batch_id,
        )
        return max(tracker.getJobIdsForGroup(None)) - before

    plain = jobs("plain", None)
    metered = jobs("metered", 0)
    assert metered == plain + 1, (
        f"metrics must add exactly the metrics-append job: "
        f"{plain} jobs manual vs {metered} with batch_id"
    )
    assert not Path(str(tmp_path / "ivf_plain") + "_metrics").exists()
    index = str(tmp_path / "ivf_metered")
    m = fence.fenced_read(spark, f"{index}_metrics", fence.fence_root(index))
    assert {r.outcome: r.n for r in m.collect()} == {
        "ingested": 30, "duplicate": 1, "rejected:bad_dimension": 1,
    }
