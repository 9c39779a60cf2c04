"""Unit contract of the manifest fence (streaming/fence.py): fenced
reads return EXACTLY the committed batches' rows under every marker
topology — no markers, a contiguous range (the BETWEEN fast path),
holes (the isin path), and a torn tail — and the append mode
selection replaces torn output without ever touching other batches.
The pipeline-level kill/replay e2es live with their pipelines; this
file pins the primitive they all compose.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from unified_log_aggregation_and_analytics_spark.streaming import fence


def _write(spark, path, bid, vals, partition_cols=()):
    df = spark.createDataFrame([(bid * 100 + v,) for v in vals], "v long")
    if partition_cols:
        df = df.withColumn("b", F.pmod(F.col("v"), F.lit(4)))
    fence.fenced_append(df, path, bid, partition_cols)


def _visible(spark, path, root):
    df = fence.fenced_read(spark, path, root)
    return set() if df is None else {r["v"] for r in df.collect()}


def test_fenced_read_exact_committed_subsets(spark, tmp_path):
    path = str(tmp_path / "t")
    root = str(tmp_path / "t_commits")

    # nothing on disk: None, not an empty frame or an error
    assert fence.fenced_read(spark, path, root) is None

    for bid in range(5):
        _write(spark, path, bid, [1, 2, 3])

    # data present, no markers: everything invisible
    assert _visible(spark, path, root) == set()
    assert fence.committed_batches(spark, root) == []

    # holes (0, 2, 4) -> the isin branch must return exactly those
    for bid in (0, 2, 4):
        fence.mark_committed(spark, root, bid)
    want = {b * 100 + v for b in (0, 2, 4) for v in (1, 2, 3)}
    assert _visible(spark, path, root) == want

    # closing the holes -> contiguous range, the BETWEEN fast path
    for bid in (1, 3):
        fence.mark_committed(spark, root, bid)
    want = {b * 100 + v for b in range(5) for v in (1, 2, 3)}
    assert _visible(spark, path, root) == want

    # a torn tail batch (data, no marker) stays invisible
    _write(spark, path, 5, [7])
    assert _visible(spark, path, root) == want
    assert not fence.is_committed(spark, root, 5)


def test_fenced_append_replay_replaces_only_its_own_batch(spark, tmp_path):
    """A replay over a torn attempt dynamic-overwrites ONLY its own
    batch partitions; committed neighbors are untouched byte-for-byte,
    including nested domain partitions."""
    path = str(tmp_path / "t")
    root = str(tmp_path / "t_commits")

    _write(spark, path, 0, [1, 2, 3, 4], ("b",))
    fence.mark_committed(spark, root, 0)
    files_b0 = sorted(
        str(p) for p in Path(path).glob("_commit_batch=0/**/*.parquet")
    )

    # torn attempt for batch 1 wrote PART of the batch (a kill
    # mid-write always leaves a subset of the deterministic full
    # partition set — that determinism is the fence's stated
    # contract); the replay writes the full batch and must REPLACE
    # the torn partition, not merge with it
    _write(spark, path, 1, [7], ("b",))          # torn: only b=3
    _write(spark, path, 1, [7, 8], ("b",))       # replay: dir exists -> overwrite
    fence.mark_committed(spark, root, 1)

    got = _visible(spark, path, root)
    assert got == {1, 2, 3, 4, 107, 108}, got
    # exactly one file under the replayed partition: replaced, not merged
    b3 = list(Path(path).glob("_commit_batch=1/b=3/*.parquet"))
    assert len(b3) == 1, b3
    # batch 0's files were not rewritten
    assert files_b0 == sorted(
        str(p) for p in Path(path).glob("_commit_batch=0/**/*.parquet")
    )


def test_compact_fenced_flat_and_partitioned(spark, tmp_path):
    """compact_fenced (marker-native, rename-free) folds the
    contiguous committed prefix into a fresh NEGATIVE compaction
    batch id, flips visibility with one ``_compacted_`` marker, and
    deletes the superseded partitions — preserving row content in
    both the flat and the domain-partitioned layouts. A torn batch
    ABOVE the committed prefix keeps its directory (its replay must
    not be swallowed) and stays invisible."""
    for layout, part_cols, part_col in (
        ("flat", (), None),
        ("part", ("b",), "b"),
    ):
        path = str(tmp_path / f"t_{layout}")
        root = str(tmp_path / f"t_{layout}_commits")
        for bid in range(3):
            _write(spark, path, bid, [1, 2, 3, 4], part_cols)
            fence.mark_committed(spark, root, bid)
        _write(spark, path, 9, [42], part_cols)  # torn, never marked
        before = _visible(spark, path, root)
        fence.compact_fenced(spark, path, root, part_col)
        assert _visible(spark, path, root) == before
        dirs = sorted(p.name for p in Path(path).glob("_commit_batch=*"))
        # folded prefix 0..2 -> cid -1; torn dir 9 awaits its replay
        assert dirs == ["_commit_batch=-1", "_commit_batch=9"], dirs
        assert (Path(path) / "_compacted_1_upto_2").exists()
        if layout == "flat":
            assert len(list(Path(path).glob("_commit_batch=-1/*.parquet"))) == 1

        # the torn batch's replay lands and becomes visible alongside
        # the compacted rows (hole 3..8 -> the isin + cid branch)
        _write(spark, path, 9, [42, 43], part_cols)
        fence.mark_committed(spark, root, 9)
        assert _visible(spark, path, root) == before | {942, 943}

        # second compaction: only the contiguous prefix folds (k still
        # 2 — 3..8 never ran), cid counts down, prior cid partition is
        # consumed, batch 9 stays individually visible
        fence.compact_fenced(spark, path, root, part_col)
        assert _visible(spark, path, root) == before | {942, 943}
        dirs = sorted(p.name for p in Path(path).glob("_commit_batch=*"))
        assert dirs == ["_commit_batch=-2", "_commit_batch=9"], dirs
        markers = sorted(p.name for p in Path(path).glob("_compacted_*"))
        assert markers == ["_compacted_2_upto_2"], markers


def test_compact_fenced_kill_points(spark, tmp_path):
    """The two crash windows of the marker-native compaction protocol:
    (A) kill after the fold write, before the _compacted_ marker —
    nothing changed for readers; the rerun dynamic-overwrites its own
    torn cid partition; (B) kill after the marker, before cleanup —
    the superseded directories still exist but are invisible (no
    duplicates); a rerun completes cleanup."""
    # --- A: torn fold write, no marker
    path = str(tmp_path / "a")
    root = str(tmp_path / "a_commits")
    for bid in range(3):
        _write(spark, path, bid, [1, 2])
        fence.mark_committed(spark, root, bid)
    before = _visible(spark, path, root)
    # simulate the torn attempt: cid partition written, marker absent
    torn = spark.createDataFrame([(999,)], "v long")
    fence.fenced_append(torn, path, -1)
    assert _visible(spark, path, root) == before  # invisible
    fence.compact_fenced(spark, path, root)  # rerun over the torn dir
    assert _visible(spark, path, root) == before
    assert not any(
        r["v"] == 999
        for r in fence.fenced_read(spark, path, root).collect()
    )

    # --- B: marker exists, cleanup never ran
    path = str(tmp_path / "b")
    root = str(tmp_path / "b_commits")
    for bid in range(3):
        _write(spark, path, bid, [1, 2])
        fence.mark_committed(spark, root, bid)
    before = _visible(spark, path, root)
    # hand-build the post-marker state: folded rows under cid -1,
    # marker present, superseded dirs NOT deleted
    fold = fence.fenced_read(spark, path, root).localCheckpoint()
    fence.fenced_append(fold, path, -1)
    (Path(path) / "_compacted_1_upto_2").touch()
    assert _visible(spark, path, root) == before  # no duplicates
    old_dirs = sorted(p.name for p in Path(path).glob("_commit_batch=*"))
    assert "_commit_batch=0" in old_dirs  # residue really is present
    fence.compact_fenced(spark, path, root)  # rerun completes cleanup
    assert _visible(spark, path, root) == before
    dirs = sorted(p.name for p in Path(path).glob("_commit_batch=*"))
    assert dirs == ["_commit_batch=-2"], dirs


def test_rollup_visibility_unchanged(spark, tmp_path):
    """rollup_markers is pure metadata compression: the committed set,
    every is_committed answer, and fenced-read visibility are
    identical before and after; the singles are gone and one
    ``_upto_`` file remains."""
    path = str(tmp_path / "t")
    root = str(tmp_path / "t_commits")
    for bid in range(6):
        _write(spark, path, bid, [1, 2])
        fence.mark_committed(spark, root, bid)
    before = _visible(spark, path, root)
    assert fence.rollup_markers(spark, root) == 5
    assert _visible(spark, path, root) == before
    assert fence.committed_batches(spark, root) == list(range(6))
    assert all(fence.is_committed(spark, root, b) for b in range(6))
    assert not fence.is_committed(spark, root, 6)
    names = sorted(
        p.name for p in Path(root).iterdir() if not p.name.startswith(".")
    )
    assert names == ["_upto_5"], names


def test_rollup_crash_between_create_and_delete(spark, tmp_path):
    """Kill between rollup-create and singles-delete: rollup file AND
    singles coexist (union semantics) — nothing changes; the rerun
    completes the cleanup."""
    path = str(tmp_path / "t")
    root = str(tmp_path / "t_commits")
    for bid in range(4):
        _write(spark, path, bid, [1])
        fence.mark_committed(spark, root, bid)
    before = _visible(spark, path, root)
    (Path(root) / "_upto_3").touch()  # the crash state
    assert fence.committed_batches(spark, root) == [0, 1, 2, 3]
    assert _visible(spark, path, root) == before
    assert fence.rollup_markers(spark, root) == 3  # rerun
    names = sorted(
        p.name for p in Path(root).iterdir() if not p.name.startswith(".")
    )
    assert names == ["_upto_3"], names
    assert fence.committed_batches(spark, root) == [0, 1, 2, 3]
    assert _visible(spark, path, root) == before


def test_rollup_mixed_topology(spark, tmp_path):
    """committed_batches under the full mixed topology: a rollup,
    singles above it, and a hole — and a later rollup advances only
    to the new contiguous prefix."""
    path = str(tmp_path / "t")
    root = str(tmp_path / "t_commits")
    for bid in (0, 1, 2, 4, 6):
        _write(spark, path, bid, [1])
        fence.mark_committed(spark, root, bid)
    assert fence.rollup_markers(spark, root) == 2  # prefix 0..2 only
    assert fence.committed_batches(spark, root) == [0, 1, 2, 4, 6]
    assert fence.is_committed(spark, root, 1)  # via rollup
    assert fence.is_committed(spark, root, 4)  # via single
    assert not fence.is_committed(spark, root, 3)
    assert not fence.is_committed(spark, root, 5)
    want = {b * 100 + 1 for b in (0, 1, 2, 4, 6)}
    assert _visible(spark, path, root) == want

    # hole 3 closes (its torn batch replays) -> prefix extends to 4;
    # 5 still open, 6 stays a single
    _write(spark, path, 3, [1])
    fence.mark_committed(spark, root, 3)
    assert fence.rollup_markers(spark, root) == 4
    names = sorted(
        p.name for p in Path(root).iterdir() if not p.name.startswith(".")
    )
    assert names == ["6", "_upto_4"], names
    assert fence.committed_batches(spark, root) == [0, 1, 2, 3, 4, 6]
    assert _visible(spark, path, root) == want | {301}


def test_fenced_append_clears_stale_task_staging(spark, tmp_path):
    """A predecessor killed between task-commit and job-commit leaves
    staged outputs under the path's shared ``_temporary`` with NO
    partition dir; the replay must clear them, or a same-job-id
    committer could sweep them into its own commit (duplicates)."""
    path = str(tmp_path / "t")
    root = str(tmp_path / "t_commits")
    _write(spark, path, 0, [1, 2])
    fence.mark_committed(spark, root, 0)
    stale = Path(path) / "_temporary" / "0" / "task_000" / "_commit_batch=1"
    stale.mkdir(parents=True)
    (stale / "part-junk.parquet").write_bytes(b"junk")
    _write(spark, path, 1, [3])  # happy-path append for batch 1
    fence.mark_committed(spark, root, 1)
    assert not (Path(path) / "_temporary").exists()
    assert _visible(spark, path, root) == {1, 2, 103}


def test_fenced_read_stays_partition_pruned_after_compaction(spark, tmp_path):
    """The committed filter must reach the scan as a PARTITION filter
    (directory pruning, not row filtering) in every marker topology —
    contiguous (BETWEEN fast path), and post-compaction (cid equality
    OR live range). A fence that row-filters instead would scan every
    batch ever written."""
    path = str(tmp_path / "t")
    root = str(tmp_path / "t_commits")
    for bid in range(4):
        _write(spark, path, bid, [1, 2])
        fence.mark_committed(spark, root, bid)

    plan = fence.fenced_read(spark, path, root)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the predicate must mention the batch column inside the scan's
    # partition filters, and nothing of the fence survives as a
    # post-scan Filter node
    pf = plan[plan.index("PartitionFilters"):].splitlines()[0]
    assert "_commit_batch" in pf, pf

    fence.compact_fenced(spark, path, root)
    _write(spark, path, 9, [5])
    fence.mark_committed(spark, root, 9)
    df = fence.fenced_read(spark, path, root)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = plan[plan.index("PartitionFilters"):].splitlines()[0]
    assert "_commit_batch" in pf, pf
    assert {r["v"] for r in df.collect()} == {1, 2, 101, 102, 201, 202, 301, 302, 905}


def test_compact_fenced_nonzero_based_committed_set(spark, tmp_path):
    """A fence whose committed ids do not start at 0 (recreated marker
    root, re-pointed checkpoint): compaction folds from the range
    start — UNLESS a data directory below the committed range exists
    (a batch that could still replay into visibility), in which case
    it safely skips."""
    path = str(tmp_path / "t")
    root = str(tmp_path / "t_commits")
    for bid in (5, 6, 7):
        _write(spark, path, bid, [1, 2])
        fence.mark_committed(spark, root, bid)
    before = _visible(spark, path, root)

    # a pre-range torn batch exists -> compaction must refuse
    _write(spark, path, 2, [9])
    fence.compact_fenced(spark, path, root)
    dirs = sorted(p.name for p in Path(path).glob("_commit_batch=*"))
    assert dirs == [f"_commit_batch={b}" for b in (2, 5, 6, 7)], dirs
    assert _visible(spark, path, root) == before

    # remove the pre-range dir -> the fold proceeds from id 5
    import shutil

    shutil.rmtree(Path(path) / "_commit_batch=2")
    fence.compact_fenced(spark, path, root)
    dirs = sorted(p.name for p in Path(path).glob("_commit_batch=*"))
    assert dirs == ["_commit_batch=-1"], dirs
    assert (Path(path) / "_compacted_1_upto_7").exists()
    assert _visible(spark, path, root) == before


def test_compact_fenced_orphaned_torn_attempts_reclaimed(spark, tmp_path):
    """Two consecutive crash-before-cleanup compactions leave an
    ORPHANED older negative partition; the next completed run must
    reclaim every negative partition except the live cid."""
    path = str(tmp_path / "t")
    root = str(tmp_path / "t_commits")
    for bid in range(3):
        _write(spark, path, bid, [1])
        fence.mark_committed(spark, root, bid)
    before = _visible(spark, path, root)
    # crash state A: cid -1 data + marker, cleanup never ran
    fold = fence.fenced_read(spark, path, root).localCheckpoint()
    fence.fenced_append(fold, path, -1)
    (Path(path) / "_compacted_1_upto_2").touch()
    # crash state B on top: cid -2 data, marker, still no cleanup
    fence.fenced_append(fold, path, -2)
    (Path(path) / "_compacted_2_upto_2").touch()
    assert _visible(spark, path, root) == before  # no duplicates ever
    fence.compact_fenced(spark, path, root)  # completed run
    dirs = sorted(p.name for p in Path(path).glob("_commit_batch=*"))
    assert dirs == ["_commit_batch=-3"], dirs  # -1 and -2 both reclaimed
    assert _visible(spark, path, root) == before


def test_fenced_read_as_of_snapshot(spark, tmp_path):
    """Time-travel (r11): as_of_batch pins the visible set to batches
    <= the snapshot id; later appends do not change a pinned read
    (the reproducible-training-run contract); a snapshot older than
    the compaction horizon raises instead of silently returning the
    folded superset; as_of at/after the horizon still sees the
    compaction partition plus live batches."""
    import pytest

    path = str(tmp_path / "t")
    root = str(tmp_path / "t_commits")
    for bid in range(3):
        _write(spark, path, bid, [1, 2])
        fence.mark_committed(spark, root, bid)

    def seen(as_of):
        df = fence.fenced_read(spark, path, root, as_of_batch=as_of)
        return {r["v"] for r in df.collect()}

    snap1 = {b * 100 + v for b in (0, 1) for v in (1, 2)}
    assert seen(1) == snap1

    # appends after the snapshot id are invisible to the pinned read
    _write(spark, path, 3, [1, 2])
    fence.mark_committed(spark, root, 3)
    assert seen(1) == snap1
    assert seen(3) == {b * 100 + v for b in range(4) for v in (1, 2)}
    # an as_of beyond the newest commit is simply "everything so far"
    assert seen(99) == seen(3)

    # compaction destroys per-batch lineage below its horizon
    fence.compact_fenced(spark, path, root)
    with pytest.raises(ValueError, match="compaction horizon"):
        seen(1)
    assert seen(3) == {b * 100 + v for b in range(4) for v in (1, 2)}


def _names(root):
    return sorted(p.name for p in Path(root).iterdir() if not p.name.startswith("."))


def test_fenced_batch_exception_writes_no_marker_no_metrics(spark, tmp_path):
    """An exception inside a FencedBatch leaves the batch uncommitted:
    its data write stays invisible, no marker and no metrics row land,
    and every frame it registered is unpersisted."""
    path = str(tmp_path / "t")
    root = str(tmp_path / "t_commits")
    metrics = str(tmp_path / "t_metrics")
    df = spark.createDataFrame([(1,), (2,)], "v long")
    fb = fence.FencedBatch(spark, root, 0, metrics)
    try:
        with fb:
            kept = fb.persist(fb.observe(df, F.count(F.lit(1)).alias("n")))
            fb.outcomes = lambda m: [("ingested", m["n"])]
            fb.append(kept, path)
            assert kept.is_cached
            raise RuntimeError("kill inside the batch")
    except RuntimeError:
        pass
    assert not kept.is_cached
    assert not fence.is_committed(spark, root, 0)
    assert not Path(metrics).exists()
    assert _visible(spark, path, root) == set()

    # the replay commits: metrics rows first, then the marker
    with fence.FencedBatch(spark, root, 0, metrics) as fb:
        assert not fb.committed
        fb.append(fb.observe(df, F.count(F.lit(1)).alias("n")), path)
        fb.outcomes = lambda m: [("ingested", m["n"])]
    assert _visible(spark, path, root) == {1, 2}
    rows = [tuple(r) for r in fence.fenced_read(spark, metrics, root).collect()]
    assert rows == [(0, "ingested", 2)]


def test_fenced_batch_committed_id_writes_nothing(spark, tmp_path):
    """A stream id whose marker exists reports ``.committed``; leaving
    the block without writing adds no metrics row and no marker."""
    root = str(tmp_path / "t_commits")
    metrics = str(tmp_path / "t_metrics")
    fence.mark_committed(spark, root, 4)
    with fence.FencedBatch(spark, root, 4, metrics) as fb:
        assert fb.committed and fb.bid == 4
    assert not Path(metrics).exists()
    assert _names(root) == ["4"]
    fence.rollup_markers(spark, root)  # no-op: 0..3 never committed
    assert fence.FencedBatch(spark, root, 4, metrics).committed
    assert not fence.FencedBatch(spark, root, 5, metrics).committed


def test_fenced_batch_manual_mode_after_rollup(spark, tmp_path):
    """Manual mode (``batch_id=None``) takes the next free committed
    slot — also when the committed prefix lives only in an
    ``_upto_<k>`` rollup — observes nothing and writes no metrics."""
    path = str(tmp_path / "t")
    root = str(tmp_path / "t_commits")
    metrics = str(tmp_path / "t_metrics")
    for bid in range(3):
        _write(spark, path, bid, [1])
        fence.mark_committed(spark, root, bid)
    assert fence.rollup_markers(spark, root) == 2
    assert _names(root) == ["_upto_2"]
    df = spark.createDataFrame([(7,)], "v long")
    with fence.FencedBatch(spark, root, None, metrics) as fb:
        assert fb.bid == 3 and not fb.committed
        assert fb.observe(df, F.count(F.lit(1)).alias("n")) is df
        fb.append(df, path)
    assert fence.committed_batches(spark, root) == [0, 1, 2, 3]
    assert _visible(spark, path, root) == {1, 101, 201, 7}
    assert not Path(metrics).exists()


def test_is_committed_costs_one_marker_listing(spark, tmp_path, monkeypatch):
    """A fresh batch id (every new trigger) costs one ``exists`` plus one
    ``listStatus`` of the marker root; committed and rollup-covered ids
    are answered from the same listing."""
    root = str(tmp_path / "t_commits")
    for bid in range(3):
        fence.mark_committed(spark, root, bid)
    fence.rollup_markers(spark, root)
    fence.mark_committed(spark, root, 5)

    calls: list[str] = []
    real_fs = fence._fs

    class CountingFs:
        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, name):
            method = getattr(self._fs, name)

            def counted(*args):
                calls.append(name)
                return method(*args)

            return counted

    def counting_fs(spark, path):
        fs, p, jvm = real_fs(spark, path)
        return CountingFs(fs), p, jvm

    monkeypatch.setattr(fence, "_fs", counting_fs)
    for bid, want in ((6, False), (3, False), (5, True), (1, True)):
        calls.clear()
        assert fence.is_committed(spark, root, bid) is want
        assert calls == ["exists", "listStatus"], (bid, calls)
