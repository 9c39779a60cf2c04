"""Manifest-fenced micro-batch commits — the shared exactly-once
contract of all five streaming sinks: the log pipeline's DLQ split
(pipeline.dlq_split), the text corpus (corpus.py), media (media.py),
semantic dedup (semantic.py) and the vector index (vectors.py).

Every sink runs its micro-batch inside one ``FencedBatch``, which owns
the scaffolding and leaves the sink only its gate and dedup logic:

- batch id: a stream id is used as is, and a replay of a committed id
  reports ``.committed`` so the sink returns before any work; manual
  calls (``batch_id=None``) take the next free committed slot;
- counts: ``observe`` attaches an ``Observation`` to a frame the sink
  WRITES (its aggregates ride that write job; only observations whose
  action ran are ever read). Manual calls observe nothing and write no
  metrics;
- writes: ``append`` is ``fenced_append`` under the batch id, in the
  order the sink calls it; ``persist`` unpersists on exit;
- commit: on a clean exit, the ``outcomes`` rows ``(batch_id, outcome,
  n)`` append to ``<table>_metrics`` and then the marker lands; after
  an exception neither is written, so the replay redoes the batch.

The r7 design was at-least-once with a documented torn-batch window: a
failure between a pipeline's table append and its sidecar append
re-appended survivor rows on checkpoint replay, and DLQ rows
re-appended unconditionally. This module closes that window with three
moves, all plain Spark + parquet (no table-format dependency):

1. **Batch-partitioned writes.** Every per-batch append lands under a
   leading ``_commit_batch=<id>`` partition via DYNAMIC partition
   overwrite — so a checkpoint replay of batch N REPLACES batch N's
   own (possibly torn) output instead of duplicating it. foreachBatch
   replays the same source offsets, and every pipeline stage here is
   deterministic, so the replacement is byte-equivalent or strictly
   more complete.
2. **One shared marker per batch.** After ALL of a batch's writes
   (table, DLQ, sidecars, metrics) succeed, ONE zero-byte marker file
   ``<root>_commits/<id>`` is created. The marker is the commit: a
   batch is visible iff its marker exists.
3. **Fenced reads.** Probes (and the pipelines' own cross-batch
   dedup anti-joins) read only committed partitions —
   ``fenced_read`` filters ``_commit_batch`` to the marker set, which
   prunes at the partition level. Reading only COMMITTED sidecar rows
   is what makes replay safe in every interleaving: a torn batch's
   sidecar rows are invisible, so the replay recomputes the full
   batch and overwrites both data and sidecar partitions before
   marking.

Failure analysis (kill at any point, then replay batch N):
- before any write: fresh run, trivially correct;
- between any two writes: marker absent -> nothing of batch N is
  visible to probes (no duplicates, no partial state observable);
  replay's anti-joins see only batches < N, recompute the identical
  survivor set, and dynamic overwrite replaces every partition the
  torn attempt wrote;
- after the marker: ``is_committed`` short-circuits the replay to a
  no-op, so a marker-then-checkpoint-crash cannot double-write.

At 100 TB: the marker listing is O(batches) tiny file stats (one
listing per trigger, cacheable); data reads prune on the
``_commit_batch`` partition column, so the committed filter costs
directory pruning, not a scan. The layout is exactly what a
transactional table format (Delta/Iceberg) does internally — kept
here as explicit, dependency-free plumbing.

Maintenance is marker-native too (since r9), so the whole lifecycle
is correct under object-store (no-rename) semantics:

- ``rollup_markers`` — one ``_upto_<k>`` file replaces the contiguous
  committed prefix's singles (union-semantics crash safety), bounding
  the per-trigger listing at O(recent batches) instead of O(batches
  ever) — wired into every pipeline's compaction entry point, probed
  flat at 300 triggers (3.9 ms listing / 1 file). ``compact_paths``
  runs it after folding a sink's paths.
- ``compact_fenced`` — folds the committed prefix's small files into
  a NEGATIVE compaction batch id and flips visibility with one
  ``_compacted_<n>_upto_<k>`` file inside the path; superseded
  partitions are lazily deleted (invisible the moment the marker
  exists). No rename anywhere in this module.
- ``fenced_append`` also clears stale committer ``_temporary``
  staging left by a kill between task-commit and job-commit — the one
  torn state the batch-partition probe can't see.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BATCH_COL = "_commit_batch"


def fence_root(table_path: str) -> str:
    """The marker directory shared by every path of one pipeline
    (table + DLQ + sidecars + metrics commit under ONE marker)."""
    return f"{table_path}_commits"


def _fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf), p, jvm


def path_exists(spark: SparkSession, path: str) -> bool:
    fs, p, _ = _fs(spark, path)
    return fs.exists(p)


def list_dir_names(spark: SparkSession, path: str) -> list[str]:
    """Child entry names of ``path`` via the Hadoop FileSystem API —
    the portable replacement for ``os.listdir`` in every
    committed-read / maintenance entry point (read_log_table,
    compact_log_table, delta cleanup): those must work on whatever
    filesystem the sink wrote to (S3A/HDFS/local), not only local.
    Returns [] when the path does not exist."""
    fs, p, _ = _fs(spark, path)
    if not fs.exists(p):
        return []
    return sorted(st.getPath().getName() for st in fs.listStatus(p))


def list_subdir_names(spark: SparkSession, path: str) -> list[str]:
    """Like list_dir_names but DIRECTORIES only — for recursive
    partition walks (retention), where pushing a file onto the walk
    stack would loop (listStatus of a file returns the file itself)."""
    fs, p, _ = _fs(spark, path)
    if not fs.exists(p):
        return []
    return sorted(
        st.getPath().getName() for st in fs.listStatus(p) if st.isDirectory()
    )


def delete_path(spark: SparkSession, path: str, recursive: bool = True) -> None:
    fs, p, _ = _fs(spark, path)
    if fs.exists(p):
        fs.delete(p, recursive)


def local_rows_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Tiny driver-side frame (per-trigger metrics, bounded meta rows)
    through the ARROW createDataFrame path: the plain list-of-tuples
    path builds a defaultParallelism-wide Python RDD whose write later
    spawns Python workers — seconds of overhead PER TRIGGER for a
    3-row metrics frame (the r14 artifact-write profiling, applied to
    the streaming hot path)."""
    import pandas as pd

    cols = [f.strip().split()[0] for f in schema.split(",")]
    return spark.createDataFrame(pd.DataFrame(rows, columns=cols), schema=schema)


def fenced_append(
    df: DataFrame,
    path: str,
    batch_id: int,
    partition_cols: tuple[str, ...] = (),
) -> None:
    """Write one micro-batch's rows under ``_commit_batch=<id>`` so
    that replays replace their own torn output, never duplicate it.
    ``partition_cols`` keep the sink's domain partitioning (stratum,
    log_date, cell, ...) nested under the batch partition, so
    domain-keyed probes still prune.

    Mode is chosen per write: on the HAPPY PATH (this batch id has
    never touched this path — no ``_commit_batch=<id>`` directory) a
    plain append, which never lists the existing partition tree; only
    a REPLAY over a torn attempt uses dynamic partition overwrite to
    replace that attempt's partitions. Unconditional dynamic
    overwrite was the measured per-trigger slope at trigger count
    ~100+: its commit lists every partition of the target tree, so
    each 60 s trigger paid O(all prior triggers) in listing — the
    one-FS-stat happy-path test keeps steady-state appends O(batch)."""
    bid = int(batch_id)
    spark = df.sparkSession
    writer = (
        df.withColumn(BATCH_COL, F.lit(bid))
        .write.partitionBy(BATCH_COL, *partition_cols)
    )
    # A predecessor killed AFTER task commits but BEFORE job commit
    # leaves staged task outputs under the path's shared
    # ``_temporary`` dir with NO partition dir — the one torn state
    # the partition-dir probe below cannot see. Clear it first: a
    # replay reusing the same FileOutputCommitter job id could
    # otherwise sweep the stale task outputs into its own commit
    # (duplicate rows). Safe because the fence is single-writer per
    # path (foreachBatch serializes triggers; pipeline.py gives each
    # source its own subtree), so any residue is dead by definition.
    # Cost: one extra FS stat per trigger (delete only fires on the
    # crash-replay path).
    stale = f"{path}/_temporary"
    if path_exists(spark, stale):
        fs, p, _ = _fs(spark, stale)
        fs.delete(p, True)
    if path_exists(spark, f"{path}/{BATCH_COL}={bid}"):
        # torn predecessor: replace exactly its partitions
        writer.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).parquet(path)
    else:
        writer.mode("append").parquet(path)


def mark_committed(spark: SparkSession, root: str, batch_id: int) -> None:
    """Create the zero-byte marker ``<root>/<id>`` — the LAST step of
    a batch; its existence is the commit. No separate mkdirs:
    ``FileSystem.create(path, overwrite)`` creates missing parents on
    every Hadoop implementation, so the marker costs ONE FS
    round-trip per trigger, not two (an mkdirs on an object store is
    a wasted request once per batch, forever)."""
    fs, _, jvm = _fs(spark, root)
    marker = jvm.org.apache.hadoop.fs.Path(f"{root}/{int(batch_id)}")
    out = fs.create(marker, True)
    out.close()


class FencedBatch:
    """One sink micro-batch under the fence (contract in the module
    docstring). Use as a context manager; return at once when
    ``.committed``. Fence functions are looked up as module globals at
    call time, so wrappers patched onto this module see every call."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        batch_id: int | None,
        metrics_path: str | None = None,
    ) -> None:
        self.spark, self.root = spark, root
        self.committed = False
        if batch_id is None:
            # CONTRACT: manual mode shares the stream's batch-id space —
            # offline/bootstrap use only; against a LIVE checkpointed
            # stream it would claim the stream's next id and that
            # trigger would short-circuit as a replay
            done = committed_batches(spark, root)
            self.bid = (done[-1] + 1) if done else 0
            self.metrics_path = None
        else:
            self.bid = int(batch_id)
            self.committed = is_committed(spark, root, self.bid)
            self.metrics_path = metrics_path
        # observed values -> [(outcome, n)]; set by a sink with metrics
        self.outcomes = None
        self._observations: list = []
        self._persisted: list[DataFrame] = []

    def observe(self, df: DataFrame, *aggs) -> DataFrame:
        if self.metrics_path is None:
            return df
        from pyspark.sql import Observation

        obs = Observation()
        self._observations.append(obs)
        return df.observe(obs, *aggs)

    def persist(self, df: DataFrame) -> DataFrame:
        self._persisted.append(df.persist())
        return df

    def append(self, df: DataFrame, path: str, *partition_cols: str) -> None:
        fenced_append(df, path, self.bid, partition_cols)

    def __enter__(self) -> "FencedBatch":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        try:
            if exc_type is None and not self.committed:
                if self.metrics_path is not None:
                    vals: dict = {}
                    for obs in self._observations:
                        vals.update(obs.get)
                    rows = [(self.bid, o, int(n)) for o, n in self.outcomes(vals)]
                    fenced_append(
                        local_rows_df(
                            self.spark, rows, "batch_id long, outcome string, n long"
                        ),
                        self.metrics_path,
                        self.bid,
                    )
                # THE commit: one marker covers every write of the batch
                mark_committed(self.spark, self.root, self.bid)
        finally:
            for df in reversed(self._persisted):
                df.unpersist()


def _markers(spark: SparkSession, root: str) -> tuple[set[int], int]:
    """(individual marker ids, highest ``_upto_<k>`` rollup or -1) under
    ``root``: one ``exists`` plus one ``listStatus``. Rollup k means
    batches 0..k are ALL committed — see rollup_markers."""
    fs, p, _ = _fs(spark, root)
    singles: set[int] = set()
    upto = -1
    if not fs.exists(p):
        return singles, upto
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if name.isdigit():
            singles.add(int(name))
        elif name.startswith("_upto_") and name[6:].isdigit():
            upto = max(upto, int(name[6:]))
    return singles, upto


def is_committed(spark: SparkSession, root: str, batch_id: int) -> bool:
    # one listing answers both cases (single marker or covering
    # rollup); a fresh id — every new trigger — has neither, so probing
    # the marker path first would only add a round-trip
    singles, upto = _markers(spark, root)
    return int(batch_id) <= upto or int(batch_id) in singles


def committed_batches(spark: SparkSession, root: str) -> list[int]:
    """All committed batch ids: one tiny FS listing over individual
    marker files plus any ``_upto_<k>`` rollup."""
    singles, upto = _markers(spark, root)
    return sorted(set(range(upto + 1)) | {b for b in singles if b > upto})


def _prefix_end(ids: list[int]) -> int:
    """Largest id of the contiguous run that starts at ``ids[0]``
    (``ids`` sorted, non-empty)."""
    k = ids[0]
    for b in ids[1:]:
        if b != k + 1:
            break
        k = b
    return k


def _batch_of(name: str) -> int | None:
    """The id of a ``_commit_batch=<id>`` directory name, else None."""
    if name.startswith(f"{BATCH_COL}="):
        try:
            return int(name.split("=", 1)[1])
        except ValueError:
            pass
    return None


def rollup_markers(spark: SparkSession, root: str) -> int:
    """Marker maintenance — pure METADATA compression, visibility
    unchanged: when batches 0..k are all committed (the steady state;
    holes only exist transiently until their torn batch replays),
    replace their k+1 individual marker files with ONE ``_upto_<k>``
    rollup. Bounds the per-trigger marker listing at O(recent
    batches), not O(all batches ever) — 1 440 markers/day at the 60 s
    trigger would otherwise grow the listing forever. Returns k, or
    -1 if nothing rolled up.

    Crash-safe by ordering: the rollup file is created FIRST (union
    semantics — a crash leaving both rollup and singles changes
    nothing), then the covered singles and any older rollups are
    deleted; a rerun completes the cleanup."""
    ids = committed_batches(spark, root)
    if not ids or ids[0] != 0:
        return -1
    k = _prefix_end(ids)
    fs, p, jvm = _fs(spark, root)
    marker = jvm.org.apache.hadoop.fs.Path(f"{root}/_upto_{k}")
    fs.create(marker, True).close()
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if name.isdigit() and int(name) <= k:
            fs.delete(st.getPath(), False)
        elif name.startswith("_upto_") and name[6:].isdigit() and int(name[6:]) < k:
            fs.delete(st.getPath(), False)
    return k


def _compact_state(spark: SparkSession, path: str) -> tuple[int | None, int]:
    """Per-PATH compaction supersede state, encoded in zero-byte
    ``_compacted_<n>_upto_<k>`` files INSIDE the data path (Spark
    readers ignore ``_``-prefixed entries; the shared marker root
    can't hold this because one root fences several paths). Meaning:
    the compaction partition ``_commit_batch=-n`` holds the folded
    rows of every committed batch id <= k, which are therefore
    EXCLUDED from fenced reads even if their directories still exist
    (crash-before-cleanup). Returns ``(cid, k)`` for the newest
    compaction — max k, tie broken toward the most recent (most
    negative) cid — or ``(None, -1)``."""
    cid, k = None, -1
    for name in list_dir_names(spark, path):
        if not name.startswith("_compacted_"):
            continue
        try:
            n_str, k_str = name[len("_compacted_"):].split("_upto_")
            c, kk = -int(n_str), int(k_str)
        except ValueError:
            continue
        if kk > k or (kk == k and (cid is None or c < cid)):
            cid, k = c, kk
    return cid, k


def compact_fenced(
    spark: SparkSession,
    path: str,
    root: str,
    part_col: str | None = None,
    files_per_partition: int = 1,
) -> None:
    """Shared small-files maintenance for fenced sidecars (ONE
    codepath for corpus / media / semantic / logs, not four drifting
    copies), correct under OBJECT-STORE semantics — no rename, no
    directory swap, only the fence's own primitives:

    1. FOLD — read the committed rows of the contiguous committed
       prefix ``0..k`` (the same rule rollup_markers uses; a torn
       batch above the prefix caps k, so its later replay is never
       swallowed) plus any prior compaction partition, and write them
       under a fresh COMPACTION batch id ``cid`` — negative, counting
       down from -1, a namespace the streaming writer (non-negative
       checkpoint ids) can never collide with — via the ordinary
       ``fenced_append`` (so a torn rerun dynamic-overwrites exactly
       its own partition).
    2. MARK — one atomic zero-byte file ``_compacted_<-cid>_upto_<k>``
       inside the path flips visibility: fenced reads now return the
       ``cid`` partition instead of batches <= k (see _compact_state).
       Until it exists, nothing changed; after it exists, the
       not-yet-deleted old partitions are invisible — no
       interleaving shows duplicates.
    3. CLEAN — delete the superseded partitions (batches <= k, the
       prior compaction partition) and stale compaction markers;
       idempotent, a rerun completes it.

    ``files_per_partition`` controls the folded layout: flat sidecars
    (``part_col=None`` — bucket keys live as data columns, nothing
    prunes them at read time) coalesce to that many files; domain-
    partitioned paths keep ``part_col`` directories with that many
    files each. Batch MARKERS under the root are never touched here
    (they remain the replay short-circuit; rollup_markers owns their
    compression). Offline maintenance with respect to THIS path's
    writer; other paths of the pipeline are unaffected."""
    done = committed_batches(spark, root)
    if not done or not path_exists(spark, path):
        return  # nothing visible to compact
    names = list_dir_names(spark, path)
    if done[0] != 0:
        # committed ids that do not start at 0 (a recreated marker
        # root, a re-pointed checkpoint): folding "everything <= k" is
        # only safe if no batch BELOW the committed range could still
        # replay into visibility — i.e. no data directory sits under
        # the smallest committed id. With that established, the
        # contiguous prefix starts at done[0] instead of 0.
        for nm in names:
            b = _batch_of(nm)
            if b is not None and 0 <= b < done[0]:
                return  # a pre-range batch could replay: skip
    k = _prefix_end(done)  # largest id of the contiguous committed prefix
    cid_prev, _ = _compact_state(spark, path)
    df = fenced_read(spark, path, root, keep_batch_col=True)
    if df is None:
        return
    fold = df.filter(F.col(BATCH_COL) <= k).drop(BATCH_COL)
    cid = -1 if cid_prev is None else cid_prev - 1
    if part_col is None:
        fold = fold.coalesce(files_per_partition)
        fold_parts: tuple[str, ...] = ()
    else:
        keys = [F.col(part_col)]
        if files_per_partition > 1:
            salt = [c for c in fold.columns if c != part_col][:1]
            keys.append(F.pmod(F.xxhash64(*salt), F.lit(files_per_partition)))
        n_parts = max(fold.select(part_col).distinct().count(), 1)
        fold = fold.repartition(n_parts * files_per_partition, *keys)
        fold_parts = (part_col,)
    if path_exists(spark, f"{path}/{BATCH_COL}={cid}"):
        # torn predecessor: the rerun's dynamic overwrite would hit
        # Spark's cannot-overwrite-a-read-path guard (fold reads this
        # same root) — materialize first to sever the lineage
        fold = fold.localCheckpoint()
    fenced_append(fold, path, cid, fold_parts)
    fs, _, jvm = _fs(spark, path)
    marker = jvm.org.apache.hadoop.fs.Path(
        f"{path}/_compacted_{-cid}_upto_{k}"
    )
    fs.create(marker, True).close()  # THE visibility flip
    # idempotent cleanup: everything the new marker superseded —
    # committed batches <= k, and EVERY negative partition except the
    # new cid (cid_prev's data, plus any older torn compaction
    # attempt's orphan: all invisible the moment the new marker
    # exists)
    for name in list_dir_names(spark, path):
        b = _batch_of(name)
        if b is not None:
            if (0 <= b <= k) or (b < 0 and b != cid):
                delete_path(spark, f"{path}/{name}")
        elif name.startswith("_compacted_") and name != f"_compacted_{-cid}_upto_{k}":
            delete_path(spark, f"{path}/{name}", recursive=False)


def compact_paths(
    spark: SparkSession,
    root: str,
    paths,
    part_col: str | None = None,
    files_per_partition: int = 1,
) -> None:
    """The one maintenance pass behind every sink's compactor: fold
    each fenced path under ``root`` (compact_fenced), then roll up the
    root's batch markers (rollup_markers) — 1 440 markers/day at the
    60 s trigger would otherwise grow the per-trigger marker listing
    forever, so data and marker compaction share one cadence."""
    for path in paths:
        compact_fenced(spark, path, root, part_col, files_per_partition)
    rollup_markers(spark, root)


def fenced_read(
    spark: SparkSession,
    path: str,
    root: str,
    keep_batch_col: bool = False,
    only_dirs: list[str] | None = None,
    as_of_batch: int | None = None,
) -> DataFrame | None:
    """Read only COMMITTED rows of a fenced path: filter
    ``_commit_batch`` to the marker set (partition-pruned). Returns
    None when the path does not exist yet (first trigger), so callers
    can distinguish 'nothing ingested' from a real read error — a
    corrupt or unreadable path RAISES instead of silently skipping
    (the r7 blanket-except hazard). ``only_dirs`` restricts the scan
    to the named immediate child partition dirs (read with
    basePath=path so partition columns survive) — required when the
    path also holds OTHER subtrees whose partition column order
    conflicts with the batch layout (the mixed per-source + unified
    log table).

    ``as_of_batch`` is the SNAPSHOT read: only batches committed with
    id <= as_of_batch are visible — the time-travel contract that
    makes a training run reproducible against a live sink (record the
    max committed id at run start; every re-read sees that exact
    corpus regardless of later appends). Append-only lineage makes
    this free: batch partitions are immutable once marked, so a
    snapshot is just a tighter partition predicate. Compaction is the
    one destroyer of per-batch lineage — a snapshot OLDER than the
    newest compaction horizon k raises instead of silently returning
    the folded superset."""
    if not path_exists(spark, path):
        return None
    try:
        if only_dirs is not None:
            if not only_dirs:
                return None
            df = spark.read.option("basePath", path).parquet(
                *[f"{path}/{d}" for d in only_dirs]
            )
        else:
            df = spark.read.parquet(path)
    except Exception as e:  # narrow: schema-less dir == nothing ingested
        # An empty fenced append (e.g. a batch with zero rejects)
        # creates the directory with no parquet files; Spark then
        # cannot infer a schema. That is the same "nothing ingested
        # yet" state as a missing path. Anything else — corrupt
        # footer, permissions — re-raises and fails the batch.
        if "UNABLE_TO_INFER_SCHEMA" in str(e):
            return None
        raise
    ids = committed_batches(spark, root)
    # Compaction supersede (per-path): batches <= k were folded into
    # the cid partition, so they are excluded even when their
    # directories still exist (crash-before-cleanup window).
    cid, k = _compact_state(spark, path)
    if as_of_batch is not None:
        if as_of_batch < k:
            raise ValueError(
                f"snapshot as_of_batch={as_of_batch} predates the "
                f"compaction horizon k={k} of {path!r}: batches <= k "
                "were folded and their per-batch lineage no longer "
                "exists; retain snapshots by compacting less often or "
                "pinning before compaction"
            )
        ids = [b for b in ids if b <= as_of_batch]
    live = [b for b in ids if b > k]
    conds = []
    if cid is not None:
        conds.append(F.col(BATCH_COL) == cid)
    if live:
        if live[-1] - live[0] == len(live) - 1:
            # Contiguous marker range (the steady state: torn batches
            # are replayed, not abandoned, so holes close) — a BETWEEN
            # predicate instead of an In-list that grows by ~1 440
            # literals/day at the 60 s trigger. Both prune partitions;
            # this one keeps the plan O(1)-sized regardless of uptime.
            conds.append(F.col(BATCH_COL).between(live[0], live[-1]))
        else:
            conds.append(F.col(BATCH_COL).isin(live))
    if not conds:
        cond = F.lit(False)
    elif len(conds) == 1:
        cond = conds[0]
    else:
        cond = conds[0] | conds[1]
    df = df.filter(cond)
    return df if keep_batch_col else df.drop(BATCH_COL)
