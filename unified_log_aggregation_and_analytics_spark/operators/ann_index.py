"""Persisted ANN indexes: build once, probe with partition pruning.

The scan-time ANN paths (operators/similarity.py ``ann_lsh_topk`` /
``knn_ivf``) are correct but recompute their bucketing per query —
a scan, not an index. This module materializes the index the
docstrings there promise:

- ``build_lsh_index``: sign-sketch every vector once and write the
  table **partitioned by bucket**. A probe enumerates the ≤ C(n_bits,
  d) bucket ids within Hamming distance ``multiprobe_bits`` of the
  query's bucket and reads only those partitions — the filter is a
  partition-column IN-list, so Spark prunes at planning time
  (PartitionFilters in the scan node; asserted in tests/test_plans).
- ``build_ivf_index``: assign every vector to its nearest-centroid
  cell once, write partitioned by cell, and persist the centroids as
  a parquet artifact next to the table. A probe reads the centroid
  artifact (bounded: n_centroids rows), picks the ``n_probe`` nearest
  cells on the driver, and scans only those partitions.

At 100 TB the build is one pass over the corpus (map-only sketch /
one Arrow GEMM per batch) plus a partitioned write; every subsequent
query touches buckets/cells totalling a few percent of the data and
never recomputes hyperplanes, centroids, or assignments. Rebuilds are
explicit (mode=overwrite), not implicit per query.

Incremental maintenance (the reference's daily-rotation contract,
/root/reference/README.md:30, applied to the vector side): new
documents arrive continuously, and a full rebuild per refresh is
untenable at 100 TB. ``append_lsh_index`` / ``append_ivf_index``
ingest a delta by writing its rows into the EXISTING bucket/cell
partition directories — legal because the assignment functions are
frozen: LSH planes are a pure function of (dim, n_bits, seed) and IVF
assigns against the persisted centroid artifact, so a vector's
partition never depends on when it was ingested, and a probe over
(base + deltas) is value-identical to a probe over a fresh full build
(the catalog proves this through the driver oracle: the appended
entries share the full-corpus oracle SQL). Every build/append/compact/
merge records a version row in ``_manifest.jsonl`` so operators can
audit segment lineage; appends accumulate small files per partition,
which ``compact_index`` folds back to ``files_per_partition`` files
per directory without touching assignment. STREAMING appends
(streaming/vectors.py) land in a manifest-fenced delta area instead
(``append_ivf_index_fenced``); probes union base + committed delta
(``_index_rows``), and ``merge_index_delta`` folds the committed
delta back into the base under one atomic directory swap.

Reference parity: the reference delegates vector search entirely to
its search backend; this is the Spark-native equivalent of building
that backend's index files (SURVEY.md §2 X3).
"""

from __future__ import annotations

import json
import os
import shutil
from itertools import combinations
from pathlib import Path

import numpy as np

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from unified_log_aggregation_and_analytics_spark.operators.similarity import (
    deterministic_centroids,
    ivf_assign,
    knn_brute_force,
    lsh_planes,
    sign_sketch,
)
from unified_log_aggregation_and_analytics_spark.sources.batch import cached, file_stamp


def _table_path(path: str) -> str:
    return f"{path}/table"


def _delta_path(path: str) -> str:
    """Fenced streaming-delta area of the index (streaming/vectors.py
    writes here under ``_commit_batch`` partitions; probes union
    committed delta rows with the base table)."""
    return f"{path}/delta"


def _fence_pos(spark: SparkSession, path: str) -> int:
    """Max committed fenced-delta batch id of the index at ``path``
    (-1 when no fenced delta exists). Recorded into each UNFENCED
    append's manifest entry so snapshot probes can order the append
    against the fence timeline (see _index_rows)."""
    from unified_log_aggregation_and_analytics_spark.streaming import fence

    ids = fence.committed_batches(spark, fence.fence_root(path))
    return max(ids) if ids else -1


def _merged_through(path: str) -> int:
    """Max delta batch id folded into the base table, read from the
    ``_merged_through`` journal INSIDE the table directory. The
    journal rides the merge's atomic directory swap, so "these delta
    batches are in the base" and the base data itself become visible
    in ONE rename — the property that makes merge_index_delta safe to
    kill at any point. -1 = never merged."""
    p = os.path.join(_table_path(path), "_merged_through")
    try:
        with open(p) as f:
            return int(f.read().strip())
    except (FileNotFoundError, ValueError):
        return -1


def _manifest_stamp(path: str) -> tuple[int, int, int] | None:
    """Cache stamp of every read derived from the index at ``path``:
    build, append, compact and merge all rewrite or append the
    manifest, so the stamp rolls over exactly when a cached artifact
    or base-table plan would go stale (size+mtime+inode, not entry
    count: a REBUILD resets the manifest to one row again and must not
    alias the previous build). An index with no manifest is never
    cached. Fenced streaming deltas never touch the base and are
    re-listed per probe by fence.fenced_read."""
    return file_stamp(_manifest_path(path))


def _base_table(spark: SparkSession, path: str) -> DataFrame:
    """Open the index base table without re-paying driver metadata:
    the schema recorded at build time (manifest ``schema``) skips
    parquet schema inference, and the resulting DataFrame — whose
    analyzed plan owns the file listing — is memoized until the next
    manifest version. The remaining ≥0.5 s per-probe latencies in the
    r13 bench audit were exactly this constant (JVM file listing +
    footer reads per probe call, r14 verdict item 4)."""

    def load() -> DataFrame:
        st = manifest_schema(path)
        reader = spark.read if st is None else spark.read.schema(st)
        return reader.parquet(_table_path(path))

    return cached(spark, ("ann_base", path), _manifest_stamp(path), load)


def _index_rows(
    spark: SparkSession, path: str, as_of_batch: int | None = None
) -> DataFrame:
    """Every visible row of the index: the base table plus COMMITTED
    streaming-delta batches (manifest-fenced — a torn micro-batch's
    rows are invisible until its marker lands, see streaming/fence.py)
    newer than the base's ``_merged_through`` journal (batches the
    merge already folded in are excluded even while their delta files
    await cleanup — no double-count window). Identical to a plain
    base read when no delta area exists, so batch-built indexes pay
    nothing. Cell/bucket predicates prune on both sides of the union;
    the delta side additionally prunes on the committed-batch
    partition filter.

    ``as_of_batch`` is the SNAPSHOT form (fence.fenced_read's
    time-travel contract applied to the index): only delta batches
    with id <= the snapshot are visible — a training run records the
    max committed id at start and every probe replays against that
    exact index regardless of later streaming appends. Merge folds
    batches <= ``_merged_through`` INTO the base and so destroys
    their per-batch lineage — a snapshot older than the merge horizon
    raises loudly (the fence-compaction rule, applied to merges)."""
    from unified_log_aggregation_and_analytics_spark.streaming import fence

    base = _base_table(spark, path)
    if as_of_batch is not None:
        # UNFENCED appends (append_*_index) land directly in the base
        # table with no per-batch lineage, so a pinned probe always
        # sees them. That is only correct when the append happened at
        # or before the snapshot point — each append manifest entry
        # records the max committed fenced batch id at append time
        # (fence_pos); an append newer than the pin (or one old enough
        # to predate the recording) makes the snapshot unsound, so
        # raise instead of silently including post-snapshot rows.
        for entry in read_manifest(path):
            if entry.get("op") != "append":
                continue
            fp = entry.get("fence_pos")
            if fp is None or fp > as_of_batch:
                raise ValueError(
                    f"snapshot as_of_batch={as_of_batch} over index "
                    f"{path!r} is unsound: manifest version "
                    f"{entry['version']} records an UNFENCED append "
                    + (
                        "with no fence position (pre-snapshot-era "
                        "manifest)"
                        if fp is None
                        else f"at fence position {fp} > the pin"
                    )
                    + "; unfenced appends have no per-batch lineage — "
                    "use the fenced append path for snapshot-pinned "
                    "indexes, or rebuild"
                )
    m_horizon = _merged_through(path)
    if as_of_batch is not None and as_of_batch < m_horizon:
        raise ValueError(
            f"snapshot as_of_batch={as_of_batch} predates the merge "
            f"horizon m={m_horizon} of index {path!r}: merged batches "
            "were folded into the base table and have no per-batch "
            "lineage; merge less often or pin snapshots before merging"
        )
    delta = fence.fenced_read(
        spark,
        _delta_path(path),
        fence.fence_root(path),
        keep_batch_col=True,
        as_of_batch=as_of_batch,
    )
    if delta is None:
        return base
    m = _merged_through(path)
    if m >= 0:
        # negative ids are delta-COMPACTION partitions (the rename-free
        # maintenance path, compact_index_delta) — never merge targets,
        # so the journal filter must not swallow them
        delta = delta.filter(
            (F.col(fence.BATCH_COL) < 0) | (F.col(fence.BATCH_COL) > m)
        )
    return base.unionByName(delta.drop(fence.BATCH_COL).select(*base.columns))


def _centroids_path(path: str) -> str:
    return f"{path}/centroids"


def _manifest_path(path: str) -> str:
    return f"{path}/_manifest.jsonl"


def read_manifest(path: str) -> list[dict]:
    """Version history of the index at ``path``: one dict per
    build/append/compact, oldest first. Empty list if the index
    predates manifests (or was never built)."""
    p = Path(_manifest_path(path))
    if not p.exists():
        return []
    return [json.loads(line) for line in p.read_text().splitlines() if line.strip()]


def _record_version(
    path: str,
    op: str,
    rows: int,
    dim: int | None = None,
    fence_pos: int | None = None,
    prefix_dim: int | None = None,
    schema_json: str | None = None,
) -> None:
    """Append a version row to the index manifest. The manifest is a
    driver-side artifact (bounded: one line per maintenance op); on an
    object store the append becomes a conditional-put of a new version
    object under the same prefix — the deployment's commit protocol,
    like the compaction swap below. ``dim`` is recorded at build time
    so later appends derive the plane set from metadata instead of
    scanning the delta. ``fence_pos`` (unfenced appends only) records
    the max committed fenced-delta batch id at append time — the
    ordering fact ``_index_rows`` needs to decide whether a pinned
    ``as_of_batch`` probe may legally see the appended rows."""
    versions = read_manifest(path)
    entry = {"version": len(versions) + 1, "op": op, "rows": int(rows)}
    if dim is not None:
        entry["dim"] = int(dim)
    if fence_pos is not None:
        entry["fence_pos"] = int(fence_pos)
    if prefix_dim is not None:
        entry["prefix_dim"] = int(prefix_dim)
    if schema_json is not None:
        entry["schema"] = schema_json
    Path(path).mkdir(parents=True, exist_ok=True)
    with open(_manifest_path(path), "a") as fh:
        fh.write(json.dumps(entry) + "\n")


def _write_artifact(spark: SparkSession, rows, schema: str, path: str) -> None:
    """Tiny frozen-artifact write (centroids / codebooks / rotation —
    16-64 rows): routed through the ARROW createDataFrame path. The
    plain list-of-tuples path builds a 32-partition Python RDD and
    coalesce(1) funnels it through one spawned Python worker — ~5-7 s
    of pure overhead PER artifact on this host, which was the bulk of
    every index build's mystery constant (r14 profiling: a 64-row
    rotation write was 6.8 s python-RDD vs 0.7 s Arrow)."""
    import pandas as pd

    cols = [f.strip().split()[0] for f in schema.split(",")]
    pdf = pd.DataFrame(rows, columns=cols)
    (
        spark.createDataFrame(pdf, schema=schema)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(path)
    )



def _finalize_build(
    spark: SparkSession,
    path: str,
    dim: int | None = None,
    prefix_dim: int | None = None,
) -> None:
    """Shared tail of every index build: reset the manifest (a build
    supersedes all prior versions), read the just-written table back
    once, and record its row count AND Spark schema JSON in the
    version row. The recorded schema is what lets every later probe
    open the table without a parquet footer/schema-inference pass
    (``_index_rows``) — at 1000-executor scale a probe's driver-side
    metadata constant must not grow with file count (r14, verdict
    item 4)."""
    Path(_manifest_path(path)).unlink(missing_ok=True)
    df = spark.read.parquet(_table_path(path))
    _record_version(
        path,
        "build",
        df.count(),
        dim=dim,
        prefix_dim=prefix_dim,
        schema_json=df.schema.json(),
    )


def manifest_schema(path: str):
    """StructType recorded by the index build (newest build wins), or
    None for a pre-schema manifest. Probes pass it to
    ``spark.read.schema(...)`` so opening the index never runs
    parquet schema inference."""
    from pyspark.sql.types import StructType

    st = None
    for entry in read_manifest(path):
        if "schema" in entry:
            st = StructType.fromJson(json.loads(entry["schema"]))
    return st


def manifest_dim(path: str) -> int | None:
    """Vector dimensionality recorded by the index build, or None for
    a pre-manifest index."""
    for entry in read_manifest(path):
        if "dim" in entry:
            return int(entry["dim"])
    return None


def _peek_dim(df: DataFrame, vec_col: str) -> int:
    """LAST-RESORT dim derivation: runs a Spark job (limit-1 scan).
    Only reached when the caller passed no ``dim`` and no manifest
    records one — never on the per-trigger append path."""
    row = df.select(vec_col).limit(1).collect()
    if not row:
        raise ValueError(
            f"cannot infer vector dim from an empty frame; pass dim= explicitly"
        )
    return len(row[0][0])


def build_lsh_index(
    df: DataFrame,
    path: str,
    n_bits: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
    meta_cols: tuple[str, ...] = (),
) -> None:
    """One-pass LSH index build: bucket = packed sign bits of the
    vector against ``n_bits`` seeded hyperplanes; table written
    partitioned by bucket. The planes are a pure function of
    (dim, n_bits, seed), so probes regenerate them instead of loading
    an artifact — there is nothing data-dependent to persist; ``dim``
    is recorded in the manifest so appends never scan for it.

    The sketch is a map-only projection (fused into the scan); the
    write shuffles nothing — each task writes its rows into per-bucket
    files. 2^n_bits directories; keep n_bits ≤ ~12 so the partition
    count stays object-store-friendly.
    """
    if dim is None:
        dim = _peek_dim(df, vec_col)
    planes = lsh_planes(dim, n_bits, seed)
    (
        df.select(id_col, vec_col, *meta_cols)
        .withColumn("bucket", sign_sketch(vec_col, planes))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(_table_path(path))
    )
    _finalize_build(df.sparkSession, path, dim=dim)


def append_lsh_index(
    df_new: DataFrame,
    path: str,
    n_bits: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
    meta_cols: tuple[str, ...] = (),
) -> None:
    """Incremental LSH ingest: sketch ONLY the delta with the same
    (dim, n_bits, seed)-derived planes the base build used and append
    its rows into the existing per-bucket partition directories. No
    base rows are read or rewritten — delta cost is O(|delta|), not
    O(|index|) — and because the plane set is a pure function of the
    build parameters, (base + delta) is row-identical to a fresh full
    build over the union (catalog entry knn_ann_lsh_appended certifies
    this against the full-corpus oracle). ``dim`` comes from the build
    manifest, so an idle-trigger EMPTY delta is a clean no-op rather
    than a crash, and no job runs against the delta to plan the
    append. Records an ``append`` manifest version; run
    ``compact_index`` periodically to fold the per-append small
    files."""
    if dim is None:
        dim = manifest_dim(path)
    if dim is None:
        dim = _peek_dim(df_new, vec_col)  # pre-manifest index only
    planes = lsh_planes(dim, n_bits, seed)
    delta = df_new.select(id_col, vec_col, *meta_cols).withColumn(
        "bucket", sign_sketch(vec_col, planes)
    )
    delta.write.mode("append").partitionBy("bucket").parquet(_table_path(path))
    _record_version(
        path, "append", df_new.count(), dim=dim,
        fence_pos=_fence_pos(df_new.sparkSession, path),
    )


def compact_index(
    spark: SparkSession,
    path: str,
    part_col: str,
    files_per_partition: int = 1,
    id_col: str = "vec_id",
) -> None:
    """Index small-files compaction (same contract as the fenced
    sinks' fence.compact_fenced): each append writes one file per
    task per partition, so probe-time open cost grows with append
    count, not data size. Rewrites the table with each partition's
    rows hashed into ``files_per_partition`` tasks and swaps the
    directory. The swap here is a local-FS rename executed on the
    driver; an object-store deployment substitutes its atomic
    rename/commit protocol.
    Assignment columns are untouched, so probe results are preserved
    (asserted in tests/test_index_maintenance.py)."""
    table = _table_path(path)
    df = spark.read.parquet(table)
    keys = [F.col(part_col)]
    if files_per_partition > 1:
        keys.append(F.pmod(F.xxhash64(F.col(id_col)), F.lit(files_per_partition)))
    n_parts = max(df.select(part_col).distinct().count(), 1)
    tmp = f"{table}__compact_tmp"
    (
        df.repartition(n_parts * files_per_partition, *keys)
        .write.mode("overwrite")
        .partitionBy(part_col)
        .parquet(tmp)
    )
    rows = spark.read.parquet(tmp).count()
    # Carry the streaming-merge journal across the swap (same staging
    # merge_index_delta uses): without it, a compact after a merge that
    # crashed post-swap/pre-cleanup would reset _merged_through to -1
    # and make the already-merged delta partitions visible again in
    # _index_rows — double-counted probes, then a permanent re-merge.
    journal = os.path.join(table, "_merged_through")
    if os.path.exists(journal):
        shutil.copy(journal, os.path.join(tmp, "_merged_through"))
    shutil.rmtree(table)
    os.rename(tmp, table)
    _record_version(path, "compact", rows)


def lsh_probe(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_bits: int = 8,
    seed: int = 42,
    multiprobe_bits: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    candidate_filter: Column | None = None,
    as_of_batch: int | None = None,
) -> DataFrame:
    """Indexed ANN probe: enumerate the bucket ids within
    ``multiprobe_bits`` of the query's bucket (driver-side, over bit
    masks — n_bits is tiny) and read only those partitions. The plan's
    scan node carries PartitionFilters on ``bucket``; the exact
    brute-force kernel then scores the pruned candidates.

    ``candidate_filter`` (over ``meta_cols`` the index was built
    with) = filtered vector search, same contract and recall trade as
    ivf_probe: push the predicate into the pruned scan, raise
    multiprobe_bits under selective filters."""
    planes = lsh_planes(len(query_vec), n_bits, seed)
    q = np.asarray(query_vec, dtype=np.float64)
    q_bucket = int(sum((1 << i) for i, p in enumerate(planes) if float(p @ q) > 0))
    probe = [q_bucket]
    for d in range(1, multiprobe_bits + 1):
        for bits in combinations(range(n_bits), d):
            flip = 0
            for b in bits:
                flip |= 1 << b
            probe.append(q_bucket ^ flip)
    idx = _index_rows(spark, path, as_of_batch=as_of_batch)
    cand = idx.filter(F.col("bucket").isin(probe)).drop("bucket")
    if candidate_filter is not None:
        cand = cand.filter(candidate_filter)
    return knn_brute_force(cand, query_vec, k, vec_col, id_col)


def lsh_probe_batch(
    spark: SparkSession,
    path: str,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    n_bits: int = 8,
    seed: int = 42,
    multiprobe_bits: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    candidate_filter: Column | None = None,
    as_of_batch: int | None = None,
) -> DataFrame:
    """Batch ANN over the persisted LSH index — the retrieval-workload
    shape (Q queries, one index read). Per-query probe buckets are
    enumerated on the driver (Q x ~n_bits ids); the index is read ONCE
    with the union of all probe buckets as the partition filter, each
    candidate joins only the queries probing its bucket (broadcast
    (q_id, bucket) pairs), scoring is the exact cosine kernel, and the
    per-query top-k is a window rank. Total work: |union of buckets|
    partitions scanned + Q x |bucket| scorings — independent of corpus
    size."""
    from pyspark.sql import Window

    from unified_log_aggregation_and_analytics_spark.functions.vectors import (
        cosine_similarity,
    )

    if not queries:
        raise ValueError("lsh_probe_batch requires at least one query")
    planes = lsh_planes(len(queries[0][1]), n_bits, seed)
    pairs: list[tuple[int, int]] = []
    qrows = []
    for qid, vec in queries:
        q = np.asarray(vec, dtype=np.float64)
        qb = int(sum((1 << i) for i, p in enumerate(planes) if float(p @ q) > 0))
        buckets = {qb}
        for d in range(1, multiprobe_bits + 1):
            for bits in combinations(range(n_bits), d):
                flip = 0
                for b in bits:
                    flip |= 1 << b
                buckets.add(qb ^ flip)
        pairs.extend((qid, b) for b in sorted(buckets))
        qrows.append((qid, [float(x) for x in vec]))
    probe_df = spark.createDataFrame(pairs, "q_id long, bucket long")
    qdf = spark.createDataFrame(qrows, "q_id long, qe array<double>")
    idx = _index_rows(spark, path, as_of_batch=as_of_batch)
    cand = idx.filter(F.col("bucket").isin(sorted({b for _, b in pairs})))
    if candidate_filter is not None:
        # applied BEFORE scoring/ranking (e.g. exclude the query set)
        cand = cand.filter(candidate_filter)
    sims = (
        cand.join(F.broadcast(probe_df), "bucket")
        .join(F.broadcast(qdf), "q_id")
        .select(
            "q_id",
            F.col(id_col),
            F.round(cosine_similarity(F.col(vec_col), F.col("qe")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", id_col, "cos_sim")
    )


def build_ivf_index(
    df: DataFrame,
    path: str,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    refine_iters: int = 0,
    meta_cols: tuple[str, ...] = (),
) -> None:
    """One-pass IVF index build: nearest-centroid cell per vector via
    one Arrow GEMM per batch (similarity.ivf_assign), table written
    partitioned by cell, centroids persisted as a parquet artifact —
    probes load 16 rows, never recompute or rescan the corpus.

    ``meta_cols`` carries metadata columns (label, source, date) into
    the index rows, enabling FILTERED vector search: probes push the
    metadata predicate into the cell-pruned scan (ivf_probe
    ``candidate_filter``), so candidates failing the filter never
    reach the scorer — the post-filter pattern every production
    vector store implements. Cost: the index stores the extra
    columns; at 100 TB keep meta_cols to the few filterable ones.

    ``refine_iters`` > 0 runs spherical-k-means rounds
    (similarity.kmeans_refine) before assignment — tighter cells mean
    fewer probes for a given recall. Off by default in the catalog:
    float-mean jitter across runs can flip boundary assignments, and
    the oracle-checked entries need run-to-run determinism."""
    centroids = deterministic_centroids(df, n_centroids, vec_col, id_col)
    if refine_iters > 0:
        from unified_log_aggregation_and_analytics_spark.operators.similarity import (
            kmeans_refine,
        )

        centroids = kmeans_refine(df, centroids, n_iter=refine_iters, vec_col=vec_col)
    spark = df.sparkSession
    cent_rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    _write_artifact(spark, cent_rows, f"cell int, {vec_col} array<double>", _centroids_path(path))
    (
        ivf_assign(df.select(id_col, vec_col, *meta_cols), centroids, vec_col)
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(_table_path(path))
    )
    _finalize_build(spark, path)


def append_ivf_index(
    df_new: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    meta_cols: tuple[str, ...] = (),
) -> None:
    """Incremental IVF ingest: assign ONLY the delta against the
    PERSISTED centroid artifact (frozen — never recomputed from the
    grown corpus, which would reshuffle every existing assignment) and
    append its rows into the existing per-cell partitions. Delta cost
    is one Arrow GEMM pass over the delta; probe results over
    (base + delta) equal a fresh full build whenever the fresh build
    would pick the same centroids (catalog entry knn_ivf_appended
    certifies this against the full-corpus oracle). Centroid drift
    under heavy append is an explicit rebuild decision — the manifest's
    append/build ratio is the signal."""
    spark = df_new.sparkSession
    centroids = load_centroids(spark, path, vec_col)
    (
        ivf_assign(df_new.select(id_col, vec_col, *meta_cols), centroids, vec_col)
        .write.mode("append")
        .partitionBy("cell")
        .parquet(_table_path(path))
    )
    _record_version(
        path, "append", df_new.count(),
        fence_pos=_fence_pos(df_new.sparkSession, path),
    )


def append_ivf_index_fenced(
    df_new: DataFrame,
    path: str,
    batch_id: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    meta_cols: tuple[str, ...] = (),
) -> None:
    """Streaming twin of append_ivf_index: the delta lands in the
    index's fenced delta area under ``_commit_batch=<id>`` with
    dynamic partition overwrite, so a checkpoint replay REPLACES the
    batch's own torn rows instead of duplicating them, and probes
    (through ``_index_rows``) see the batch only after its shared
    commit marker lands (streaming/fence.py). Assignment is identical
    (frozen centroid artifact); the fence markers are the delta's
    version manifest."""
    from unified_log_aggregation_and_analytics_spark.streaming import fence

    spark = df_new.sparkSession
    centroids = load_centroids(spark, path, vec_col)
    fence.fenced_append(
        ivf_assign(df_new.select(id_col, vec_col, *meta_cols), centroids, vec_col),
        _delta_path(path),
        batch_id,
        ("cell",),
    )


def append_ivfpq_index_fenced(
    df_new: DataFrame,
    path: str,
    batch_id: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Streaming twin of append_ivfpq_index (r14): the encoded delta
    lands in the fenced delta area under ``_commit_batch=<id>`` with
    dynamic partition overwrite — replays replace their own torn
    rows, probes see the batch only after the commit marker lands,
    and snapshot-pinned probes (``as_of_batch``) stay SOUND because
    fenced batches carry per-batch lineage (the unfenced append path
    deliberately breaks pins, _index_rows raises). Assignment and
    encode run against the FROZEN centroid/codebook artifacts — the
    build_ivfpq_index contract."""
    from unified_log_aggregation_and_analytics_spark.operators.pq import pq_encode
    from unified_log_aggregation_and_analytics_spark.operators.similarity import (
        ivf_assign,
    )
    from unified_log_aggregation_and_analytics_spark.streaming import fence

    spark = df_new.sparkSession
    centroids = load_centroids(spark, path, vec_col)
    cb = load_codebooks(spark, path)
    assigned = ivf_assign(df_new.select(id_col, vec_col), centroids, vec_col)
    fence.fenced_append(
        pq_encode(assigned, cb, vec_col=vec_col, id_col=id_col, passthrough=("cell",)),
        _delta_path(path),
        batch_id,
        ("cell",),
    )


def append_ivfopq_index_fenced(
    df_new: DataFrame,
    path: str,
    batch_id: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Streaming twin of append_ivfopq_index (r14): project through
    the FROZEN rotation, assign against the FROZEN rotated-space
    centroids, encode against the FROZEN codebooks, land in the
    fenced delta area — the append_ivfpq_index_fenced contract with
    the rotation folded in front."""
    from unified_log_aggregation_and_analytics_spark.operators.pq import pq_encode
    from unified_log_aggregation_and_analytics_spark.operators.similarity import (
        ivf_assign,
        rotate_project,
    )
    from unified_log_aggregation_and_analytics_spark.streaming import fence

    spark = df_new.sparkSession
    R = load_rotation(spark, path)
    centroids = load_centroids(spark, path, vec_col)
    cb = load_codebooks(spark, path)
    proj = rotate_project(df_new, R, vec_col=vec_col, id_col=id_col).select(
        id_col, F.col("rot").alias(vec_col)
    )
    assigned = ivf_assign(proj, centroids, vec_col)
    fence.fenced_append(
        pq_encode(assigned, cb, vec_col=vec_col, id_col=id_col, passthrough=("cell",)),
        _delta_path(path),
        batch_id,
        ("cell",),
    )


def compact_index_delta(
    spark: SparkSession,
    path: str,
    part_col: str = "cell",
    files_per_partition: int = 1,
) -> None:
    """OBJECT-STORE-SAFE alternative to merge_index_delta: bound the
    delta's file count WITHOUT touching the base table or renaming
    anything — fold the committed delta prefix into one negative
    compaction partition via the fence's marker-native protocol
    (fence.compact_fenced). Probe cost after compaction is
    O(base + one compacted branch + recent batches), the same bound
    the merge buys, minus the merge's base rewrite and its
    local-FS-only directory swap. The two maintenance protocols are
    MUTUALLY EXCLUSIVE per index (a merge's journal excludes batch
    ids the compaction would re-emit under a negative id — mixing
    double-counts), enforced loudly here and in merge_index_delta."""
    from unified_log_aggregation_and_analytics_spark.streaming import fence

    if _merged_through(path) >= 0:
        raise ValueError(
            "index delta was maintained by merge_index_delta (journal "
            "present); compact_index_delta would double-count merged "
            "rows — keep using the merge on this index"
        )
    fence.compact_fenced(
        spark,
        _delta_path(path),
        fence.fence_root(path),
        part_col,
        files_per_partition,
    )
    # marker compression rides the same cadence (as merge_index_delta
    # does): without it the per-trigger marker listing grows without
    # bound even while the data stays compact
    fence.rollup_markers(spark, fence.fence_root(path))


def merge_index_delta(
    spark: SparkSession, path: str, part_col: str = "cell"
) -> int:
    """Index maintenance: fold COMMITTED streaming-delta batches into
    the base table, restoring pure partition-pruned probes (the delta
    union in ``_index_rows`` costs one extra scan branch per probe;
    merging retires it for everything ingested so far). Returns the
    number of delta batches folded.

    Crash-safe without any two-phase protocol, because the commit is
    ONE atomic directory rename: the rewritten table is staged with a
    ``_merged_through=<max batch id>`` journal file INSIDE it, so the
    swap delivers the merged rows and the statement "these batches
    are merged" together. Kill before the swap: nothing changed, the
    stage dir is orphaned and overwritten by the next run. Kill after
    the swap, before cleanup: the journal already excludes the merged
    batches from every delta read (``_index_rows``), so their
    not-yet-deleted delta files are invisible — no double-count — and
    a re-run completes the cleanup as a no-op merge. Delta COMMIT
    MARKERS are never deleted: they also serve as the streaming
    writer's replayed-batch short-circuit (streaming/vectors.py).
    Offline maintenance: not against a live writer (same directory-
    swap contract as compact_index)."""
    from unified_log_aggregation_and_analytics_spark.streaming import fence

    dpath = _delta_path(path)
    if fence._compact_state(spark, dpath)[0] is not None:
        raise ValueError(
            "index delta was maintained by compact_index_delta "
            "(compaction marker present); merge_index_delta's journal "
            "cannot express the folded negative partition — keep using "
            "delta compaction on this index"
        )
    committed = fence.committed_batches(spark, fence.fence_root(path))
    ids = [b for b in committed if b > _merged_through(path)]
    if ids and not os.path.isdir(dpath) and fence.path_exists(spark, dpath):
        # The delta exists on a NON-LOCAL filesystem: this merge's
        # rename swap and journal are local-FS mechanics — silently
        # returning would let a cadence believe maintenance happened
        # while probe latency drifts unboundedly. Loud, with the
        # portable alternative named.
        raise NotImplementedError(
            "merge_index_delta is local-FS offline maintenance (directory "
            "rename + local journal); this index's delta is not on the "
            "local filesystem — use compact_index_delta (marker-native, "
            "object-store-correct) instead"
        )
    folded = 0
    if ids and os.path.isdir(dpath):
        folded = len(ids)
        base = spark.read.parquet(_table_path(path))
        delta = (
            spark.read.parquet(dpath)
            .filter(F.col(fence.BATCH_COL).isin(ids))
            .drop(fence.BATCH_COL)
        )
        merged = base.unionByName(delta.select(*base.columns))
        tmp = f"{_table_path(path)}__merge_tmp"
        n_parts = max(merged.select(part_col).distinct().count(), 1)
        (
            merged.repartition(n_parts, F.col(part_col))
            .write.mode("overwrite")
            .partitionBy(part_col)
            .parquet(tmp)
        )
        rows = spark.read.parquet(tmp).count()
        with open(os.path.join(tmp, "_merged_through"), "w") as f:
            f.write(str(max(ids)))
        shutil.rmtree(_table_path(path))
        os.rename(tmp, _table_path(path))  # THE commit
        _record_version(path, "merge", rows)
    # lazy cleanup — merged batches' delta partitions are already
    # invisible (journal); this only reclaims space. Hadoop FS API:
    # the delta area is written by the streaming sink, so it may live
    # on any filesystem (unlike the rename swap above, which is
    # explicitly local-only offline maintenance).
    m_now = _merged_through(path)
    for d in fence.list_dir_names(spark, dpath):
        if d.startswith(f"{fence.BATCH_COL}="):
            try:
                b = int(d.split("=", 1)[1])
            except ValueError:
                continue
            if b <= m_now:
                fence.delete_path(spark, f"{dpath}/{d}")
    # marker compression rides the merge cadence (markers are never
    # deleted — they remain the streaming writer's replayed-batch
    # short-circuit; the rollup preserves exactly that semantics
    # while bounding the per-trigger listing)
    fence.rollup_markers(spark, fence.fence_root(path))
    return folded


def load_centroids(spark: SparkSession, path: str, vec_col: str = "embedding") -> np.ndarray:
    """Read the persisted centroid artifact (n_centroids rows); cached
    per manifest version, returned as a copy."""

    def load() -> np.ndarray:
        rows = spark.read.parquet(_centroids_path(path)).orderBy("cell").collect()
        return np.asarray([list(r[vec_col]) for r in rows], dtype=np.float64)

    return cached(spark, ("ann_centroids", path, vec_col), _manifest_stamp(path), load).copy()


def ivf_probe(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    candidate_filter: Column | None = None,
    as_of_batch: int | None = None,
) -> DataFrame:
    """Indexed IVF probe: rank the persisted centroids against the
    query on the driver (n_centroids-sized matmul), then read only the
    ``n_probe`` nearest cells — a partition-pruned scan followed by the
    exact scoring kernel. No assignment pass, no centroid recompute.

    ``candidate_filter`` (a predicate over ``meta_cols`` the index was
    built with) makes this FILTERED vector search: the predicate lands
    in the pruned scan (PushedFilters — parquet row groups failing it
    never decode), candidates are filtered BEFORE scoring. Under a
    selective filter the probed cells hold fewer qualifying
    candidates, so raise ``n_probe`` to hold recall — the standard
    filtered-ANN trade; at filter selectivities below ~1/n_cells,
    partition the index BY the filter column instead and run an exact
    scan inside the slice."""
    centroids = load_centroids(spark, path, vec_col)
    norm = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    q = np.asarray(query_vec, dtype=np.float64)
    q = q / max(np.linalg.norm(q), 1e-12)
    probe_cells = [int(c) for c in (norm @ q).argsort()[::-1][:n_probe]]
    idx = _index_rows(spark, path, as_of_batch=as_of_batch)
    cand = idx.filter(F.col("cell").isin(probe_cells)).drop("cell")
    if candidate_filter is not None:
        cand = cand.filter(candidate_filter)
    return knn_brute_force(cand, query_vec, k, vec_col, id_col)


def ivf_probe_batch(
    spark: SparkSession,
    path: str,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    candidate_filter: Column | None = None,
    as_of_batch: int | None = None,
) -> DataFrame:
    """Batch IVF retrieval over the persisted index — Q queries, ONE
    index read. Centroid ranking happens on the driver (Q × n_centroids
    matmul against the 16-row persisted artifact); the union of all
    probed cells becomes the partition filter, each candidate scores
    only against the queries probing its cell (broadcast (q_id, cell)
    pairs), and the per-query top-k is a window rank. Work scales with
    |probed cells| + Q × |cell|, independent of corpus size."""
    from pyspark.sql import Window

    from unified_log_aggregation_and_analytics_spark.functions.vectors import (
        cosine_similarity,
    )

    if not queries:
        raise ValueError("ivf_probe_batch requires at least one query")
    centroids = load_centroids(spark, path, vec_col)
    norm = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    pairs: list[tuple[int, int]] = []
    qrows = []
    for qid, vec in queries:
        q = np.asarray(vec, dtype=np.float64)
        q = q / max(np.linalg.norm(q), 1e-12)
        cells = [int(c) for c in (norm @ q).argsort()[::-1][:n_probe]]
        pairs.extend((qid, c) for c in cells)
        qrows.append((qid, [float(x) for x in vec]))
    probe_df = spark.createDataFrame(pairs, "q_id long, cell int")
    qdf = spark.createDataFrame(qrows, "q_id long, qe array<double>")
    idx = _index_rows(spark, path, as_of_batch=as_of_batch)
    cand = idx.filter(F.col("cell").isin(sorted({c for _, c in pairs})))
    if candidate_filter is not None:
        cand = cand.filter(candidate_filter)
    sims = (
        cand.join(F.broadcast(probe_df), "cell")
        .join(F.broadcast(qdf), "q_id")
        .select(
            "q_id",
            F.col(id_col),
            F.round(cosine_similarity(F.col(vec_col), F.col("qe")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", id_col, "cos_sim")
    )


# --- IVF-PQ: compressed cells (the FAISS IVFPQ architecture) ----------


def _codebooks_path(path: str) -> str:
    return f"{path}/codebooks"


def load_codebooks(spark: SparkSession, path: str) -> np.ndarray:
    """Read the persisted PQ codebook artifact -> (m, codes, sub_dim);
    cached per manifest version, returned as a copy."""

    def load() -> np.ndarray:
        rows = spark.read.parquet(_codebooks_path(path)).orderBy("mi", "ci").collect()
        m = max(r["mi"] for r in rows) + 1
        codes = max(r["ci"] for r in rows) + 1
        sub_dim = len(rows[0]["codeword"])
        out = np.zeros((m, codes, sub_dim), dtype=np.float64)
        for r in rows:
            out[r["mi"], r["ci"]] = list(r["codeword"])
        return out

    return cached(spark, ("ann_codebooks", path), _manifest_stamp(path), load).copy()


def build_ivfpq_index(
    df: DataFrame,
    path: str,
    n_centroids: int = 16,
    m: int = 4,
    codes: int = 8,
    train_iters: int = 2,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """IVF-PQ index build (the two-level FAISS shape, Jégou et al.
    TPAMI'11): coarse IVF cells bound WHERE a probe reads, PQ codes
    bound HOW MUCH it reads — the persisted table stores ONLY
    ``(id, pq_codes, pq_code)`` partitioned by cell. At dim=64/float32
    with m=4 that is a ~64x smaller index than the raw-vector IVF
    table; a probe touches n_probe/n_centroids of it.

    Build = one centroid pass (deterministic seed centroids), one PQ
    training run (Lloyd via Spark aggs, rounded means), then a single
    mapInPandas pass that assigns the cell AND encodes the codes per
    Arrow batch. Centroids and codebooks persist as parquet
    artifacts; probes load (n_centroids + m*codes) rows, never the
    corpus."""
    from unified_log_aggregation_and_analytics_spark.operators.pq import (
        pq_encode,
        train_pq_codebooks,
    )
    from unified_log_aggregation_and_analytics_spark.operators.similarity import (
        deterministic_centroids,
        ivf_assign,
    )

    centroids = deterministic_centroids(df, n_centroids, vec_col, id_col)
    dim = centroids.shape[1]
    codebooks = train_pq_codebooks(
        df.select(id_col, vec_col), dim, m=m, codes=codes, n_iter=train_iters, seed=seed
    )
    spark = df.sparkSession
    cent_rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    _write_artifact(spark, cent_rows, f"cell int, {vec_col} array<double>", _centroids_path(path))
    cb_rows = [
        (mi, ci, [float(x) for x in codebooks[mi, ci]])
        for mi in range(m)
        for ci in range(codes)
    ]
    _write_artifact(spark, cb_rows, "mi int, ci int, codeword array<double>", _codebooks_path(path))
    assigned = ivf_assign(df.select(id_col, vec_col), centroids, vec_col)
    (
        pq_encode(assigned, codebooks, vec_col=vec_col, id_col=id_col, passthrough=("cell",))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(_table_path(path))
    )
    _finalize_build(spark, path, dim=dim)


def append_ivfpq_index(
    df_new: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Incremental IVF-PQ ingest: the delta is assigned and encoded
    against the FROZEN persisted centroids and codebooks (recomputing
    either would silently re-key existing rows) and appended into the
    per-cell partitions — one Arrow pass over the delta. Quantizer
    drift under heavy append is a rebuild decision; the manifest's
    append/build ratio is the signal."""
    from unified_log_aggregation_and_analytics_spark.operators.pq import pq_encode
    from unified_log_aggregation_and_analytics_spark.operators.similarity import (
        ivf_assign,
    )

    if df_new.isEmpty():
        return
    spark = df_new.sparkSession
    centroids = load_centroids(spark, path, vec_col)
    codebooks = load_codebooks(spark, path)
    assigned = ivf_assign(df_new.select(id_col, vec_col), centroids, vec_col)
    (
        pq_encode(assigned, codebooks, vec_col=vec_col, id_col=id_col, passthrough=("cell",))
        .write.mode("append")
        .partitionBy("cell")
        .parquet(_table_path(path))
    )
    _record_version(
        path, "append", df_new.count(),
        fence_pos=_fence_pos(df_new.sparkSession, path),
    )


def ivfpq_probe(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    as_of_batch: int | None = None,
) -> DataFrame:
    """IVF-PQ probe: rank the persisted centroids driver-side, read
    only the ``n_probe`` nearest CODE partitions (PartitionFilters on
    ``cell``; the scan moves m bytes per row, never floats), and
    score by asymmetric distance — the query's (m x codes) lookup
    table embedded as literals, whole-stage codegen, top-k by
    TakeOrderedAndProject. Returns approximate squared-L2 distances
    (``adc_dist`` ascending)."""
    from unified_log_aggregation_and_analytics_spark.operators.pq import pq_adc_topk

    centroids = load_centroids(spark, path)
    norm = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    q = np.asarray(query_vec, dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-12)
    probe_cells = [int(c) for c in (norm @ qn).argsort()[::-1][:n_probe]]
    codebooks = load_codebooks(spark, path)
    idx = _index_rows(spark, path, as_of_batch=as_of_batch)
    cand = idx.filter(F.col("cell").isin(probe_cells)).drop("cell")
    return pq_adc_topk(cand, codebooks, list(query_vec), k=k, id_col=id_col)


def build_sq8_index(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """SQ8 index build — the int8 storage-compression play (Lucene's
    scalar-quantized vector format) without a pruning structure: the
    persisted table stores ``(id, mn, sc, sq8_code binary)`` and NO
    float vectors — BINARY-ONLY since r12 (the former dual
    array<int>+binary layout cost ~2x the bytes in parquet offsets;
    probes unpack in-plan via similarity.sq8_unpack). The probe
    stays a shuffle-free map + TakeOrderedAndProject over the whole
    table — SQ8 shrinks HOW MUCH a scan reads, IVF bounds WHERE it
    reads, and the two compose (partition this table by cell exactly
    like build_ivfpq_index does for PQ codes). One Arrow encode pass
    (similarity.sq8_encode); a manifest version records the build."""
    from unified_log_aggregation_and_analytics_spark.operators.similarity import (
        sq8_encode,
    )

    dim = _peek_dim(df, vec_col)
    (
        sq8_encode(df, vec_col=vec_col, id_col=id_col)
        .drop("sq8_codes")  # binary-only on disk; probes unpack in-plan
        .write.mode("overwrite")
        .parquet(_table_path(path))
    )
    _finalize_build(df.sparkSession, path, dim=dim)


def append_sq8_index(
    df_new: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Incremental SQ8 ingest: per-vector (min, scale) pairs make the
    quantizer data-INDEPENDENT across rows — unlike IVF/PQ there is
    no frozen model to drift, so an append is just the encode pass
    over the delta. The manifest records it."""
    from unified_log_aggregation_and_analytics_spark.operators.similarity import (
        sq8_encode,
    )

    if df_new.isEmpty():
        return
    if "cell" in df_new.sparkSession.read.parquet(_table_path(path)).columns:
        raise ValueError(
            "append_sq8_index called on a cell-partitioned (IVF-SQ8) "
            "index — use append_ivfsq8_index, or rows land unassigned "
            "and invisible to cell-pruned probes"
        )
    (
        sq8_encode(df_new, vec_col=vec_col, id_col=id_col)
        .drop("sq8_codes")
        .write.mode("append")
        .parquet(_table_path(path))
    )
    _record_version(
        path, "append", df_new.count(),
        fence_pos=_fence_pos(df_new.sparkSession, path),
    )


def sq8_probe_batch(
    spark: SparkSession,
    path: str,
    queries: list[tuple[int, list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    exclude_ids: tuple[int, ...] = (),
    as_of_batch: int | None = None,
) -> DataFrame:
    """Batch retrieval over the persisted SQ8 index — the
    retrieval-workload shape (Q queries, ONE compressed index read).
    The Q float queries broadcast; every index partition reconstructs
    ``mn + code * sc`` once per (row, query) inside the distance fold
    (Q x N distances never hit disk), then a per-query window rank
    keeps k — the knn_batch plan over codes instead of floats.
    ``exclude_ids`` drops the query vectors themselves from the
    candidate set (the knn_batch convention)."""
    from pyspark.sql import Window

    from unified_log_aggregation_and_analytics_spark.operators.similarity import (
        sq8_unpack,
    )

    dim = _sq8_dim(path, queries[0][1]) if queries else manifest_dim(path)
    if dim is None:
        raise ValueError(
            f"sq8_probe_batch: cannot resolve code dim for {path!r} — "
            "empty queries list on a pre-manifest index (pass at least "
            "one query or rebuild the index to record a manifest)"
        )
    idx = _index_rows(spark, path, as_of_batch=as_of_batch).select(
        id_col,
        "mn",
        "sc",
        sq8_unpack("sq8_code", dim).alias("sq8_codes"),
    )
    if exclude_ids:
        idx = idx.filter(~F.col(id_col).isin(list(exclude_ids)))
    qdf = spark.createDataFrame(
        [(int(qid), [float(x) for x in vec]) for qid, vec in queries],
        schema="q_id bigint, qe array<double>",
    )
    mn, sc = F.col("mn"), F.col("sc")
    dist = F.aggregate(
        F.zip_with(
            F.col("sq8_codes"),
            F.col("qe"),
            lambda c, y: (y - (mn + c.cast("double") * sc))
            * (y - (mn + c.cast("double") * sc)),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sims = idx.crossJoin(F.broadcast(qdf)).select(
        "q_id", F.col(id_col), F.round(dist, 6).alias("adc_dist")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adc_dist").asc(), F.col(id_col))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", id_col, "adc_dist")
    )


def _sq8_dim(path: str, query_vec: list[float]) -> int:
    """Code width for unpacking a binary-only SQ8 table: the build
    manifest records it; a pre-manifest index falls back to the
    query's own dimensionality (probe and codes must agree anyway)."""
    dim = manifest_dim(path)
    return int(dim) if dim is not None else len(query_vec)


def build_ivfsq8_index(
    df: DataFrame,
    path: str,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """IVF + SQ8 composed index — the two knobs a 100 TB vector scan
    has, composed: IVF cells bound WHERE a probe reads (partition
    pruning), SQ8 codes bound HOW MUCH it reads per row. The
    persisted table stores ``(id, mn, sc, sq8_code binary)``
    partitioned by cell — BINARY-ONLY since r12 (~3x smaller on disk
    than the former dual array+binary layout; probes unpack the
    bytes in-plan via similarity.sq8_unpack), no float vectors;
    centroids persist like build_ivf_index's. Deterministic seed
    centroids (the n lowest-id vectors) keep the ENTIRE path —
    assignment, probe choice, quantization, reconstruction scoring —
    DuckDB-replayable, the build_ivfpq_index(train_iters=0)
    convention. Unlike IVF-PQ there is no codebook to train or
    freeze: the per-vector quantizer is data-independent, so appends
    only need the frozen centroids."""
    from unified_log_aggregation_and_analytics_spark.operators.similarity import (
        deterministic_centroids,
        ivf_assign,
        sq8_encode,
    )

    centroids = deterministic_centroids(df, n_centroids, vec_col, id_col)
    dim = centroids.shape[1]
    spark = df.sparkSession
    cent_rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    _write_artifact(spark, cent_rows, f"cell int, {vec_col} array<double>", _centroids_path(path))
    assigned = ivf_assign(df.select(id_col, vec_col), centroids, vec_col)
    (
        sq8_encode(assigned, vec_col=vec_col, id_col=id_col, passthrough=("cell",))
        .drop("sq8_codes")  # binary-only on disk; probes unpack in-plan
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(_table_path(path))
    )
    _finalize_build(spark, path, dim=dim)


def append_ivfsq8_index(
    df_new: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Incremental IVF-SQ8 ingest: the delta is assigned against the
    FROZEN persisted centroids (recomputing them would re-key
    existing rows) and SQ8-encoded into the per-cell partitions — the
    per-vector quantizer itself needs no frozen state. One Arrow pass
    over the delta."""
    from unified_log_aggregation_and_analytics_spark.operators.similarity import (
        ivf_assign,
        sq8_encode,
    )

    if df_new.isEmpty():
        return
    spark = df_new.sparkSession
    centroids = load_centroids(spark, path, vec_col)
    assigned = ivf_assign(df_new.select(id_col, vec_col), centroids, vec_col)
    (
        sq8_encode(assigned, vec_col=vec_col, id_col=id_col, passthrough=("cell",))
        .drop("sq8_codes")
        .write.mode("append")
        .partitionBy("cell")
        .parquet(_table_path(path))
    )
    _record_version(
        path, "append", df_new.count(),
        fence_pos=_fence_pos(df_new.sparkSession, path),
    )


def ivfsq8_probe(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    as_of_batch: int | None = None,
) -> DataFrame:
    """IVF-SQ8 probe: rank the persisted centroids driver-side, read
    only the ``n_probe`` nearest CODE partitions (PartitionFilters on
    ``cell``), reconstruct ``mn + code * sc`` inside the distance
    fold — whole-stage codegen, TakeOrderedAndProject. Same cell
    choice as ivfpq_probe, same scoring as sq8_probe."""
    from unified_log_aggregation_and_analytics_spark.operators.similarity import (
        sq8_score_topk,
        sq8_unpack,
    )

    centroids = load_centroids(spark, path)
    norm = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    q = np.asarray(query_vec, dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-12)
    probe_cells = [int(c) for c in (norm @ qn).argsort()[::-1][:n_probe]]
    idx = _index_rows(spark, path, as_of_batch=as_of_batch)
    cand = idx.filter(F.col("cell").isin(probe_cells)).select(
        id_col,
        "mn",
        "sc",
        sq8_unpack("sq8_code", _sq8_dim(path, query_vec)).alias("sq8_codes"),
    )
    return sq8_score_topk(cand, list(query_vec), k=k, id_col=id_col)


def sq8_probe(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    as_of_batch: int | None = None,
) -> DataFrame:
    """SQ8 probe: scan the persisted codes table (never floats),
    reconstruct ``mn + code * sc`` inside the distance fold, top-k by
    TakeOrderedAndProject. Scores are bit-identical to the scan-time
    ``sq8_adc_topk`` (same IEEE operation order), so the persisted
    path inherits the scan path's oracle."""
    from unified_log_aggregation_and_analytics_spark.operators.similarity import (
        sq8_score_topk,
        sq8_unpack,
    )

    idx = _index_rows(spark, path, as_of_batch=as_of_batch).select(
        id_col,
        "mn",
        "sc",
        sq8_unpack("sq8_code", _sq8_dim(path, query_vec)).alias("sq8_codes"),
    )
    return sq8_score_topk(idx, list(query_vec), k=k, id_col=id_col)


def build_prefix_index(
    df: DataFrame,
    path: str,
    prefix_dim: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Dimension-split (matryoshka) layout for prefix-refine
    retrieval: the vector column is persisted as TWO parquet columns,
    ``prefix`` (dims 1..prefix_dim) and ``rest``, so the coarse stage
    of ``prefix_refine_probe`` scans dim/prefix_dim fewer vector
    bytes — the IO half of the MRL adaptive-retrieval win that
    similarity.knn_prefix_refine (arithmetic-only over a fused
    column) cannot get. Files are sorted by ``id_col`` so the refine
    stage's shortlist IN-list prunes row groups via footer min/max.
    No model state: the split is a pure projection, so appends need
    only the manifest-recorded (dim, prefix_dim)."""
    dim = _peek_dim(df, vec_col)
    if not 0 < prefix_dim < dim:
        raise ValueError(f"prefix_dim must be in (0, {dim}): {prefix_dim}")
    (
        df.select(
            id_col,
            F.slice(F.col(vec_col), 1, prefix_dim).alias("prefix"),
            F.slice(F.col(vec_col), prefix_dim + 1, dim - prefix_dim).alias("rest"),
        )
        .sortWithinPartitions(id_col)
        .write.mode("overwrite")
        .parquet(_table_path(path))
    )
    _finalize_build(df.sparkSession, path, dim=dim, prefix_dim=prefix_dim)


def manifest_prefix_dim(path: str) -> int | None:
    """prefix_dim recorded by build_prefix_index, or None."""
    for entry in read_manifest(path):
        if "prefix_dim" in entry:
            return int(entry["prefix_dim"])
    return None


def append_prefix_index(
    df_new: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Incremental dimension-split ingest: project the delta through
    the manifest-recorded split — a pure per-row projection, nothing
    frozen to drift. Records the fence position (snapshot-probe
    ordering, see _index_rows)."""
    if df_new.isEmpty():
        return
    pd_ = manifest_prefix_dim(path)
    dim = manifest_dim(path)
    if pd_ is None or dim is None:
        raise ValueError(f"index at {path!r} has no prefix-split manifest")
    (
        df_new.select(
            id_col,
            F.slice(F.col(vec_col), 1, pd_).alias("prefix"),
            F.slice(F.col(vec_col), pd_ + 1, dim - pd_).alias("rest"),
        )
        .sortWithinPartitions(id_col)
        .write.mode("append")
        .parquet(_table_path(path))
    )
    _record_version(
        path, "append", df_new.count(),
        fence_pos=_fence_pos(df_new.sparkSession, path),
    )


def prefix_refine_probe(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    k: int = 10,
    shortlist: int = 50,
    id_col: str = "vec_id",
    as_of_batch: int | None = None,
) -> DataFrame:
    """Two-stage probe over the dimension-split index. Stage 1 scans
    ONLY (id, prefix) — the plan's ReadSchema carries no ``rest``
    column, so at dim 64 / prefix 16 the coarse pass moves ~4x fewer
    vector bytes than a fused-column scan (plan-guarded in
    tests/test_plans.py) — and keeps a ``shortlist`` by rounded
    prefix cosine. Stage 2 re-reads just the shortlist ids (driver
    IN-list over the id-sorted files: row-group pruning) and re-ranks
    by exact full-dim cosine over ``concat(prefix, rest)`` — element
    values and fold order are identical to the fused column, so
    results are bit-identical to similarity.knn_prefix_refine and
    the persisted path inherits the scan path's oracle (index ≡
    scan, the q02j/q02t pattern)."""
    from unified_log_aggregation_and_analytics_spark.functions.vectors import (
        cosine_similarity,
    )

    pd_ = manifest_prefix_dim(path)
    if pd_ is None:
        raise ValueError(f"index at {path!r} has no prefix-split manifest")
    dim = len(query_vec)
    built_dim = manifest_dim(path)
    if built_dim is not None and dim != built_dim:
        raise ValueError(
            f"query dim {dim} != index build dim {built_dim} at {path!r}"
        )
    q_pref = [float(x) for x in query_vec[:pd_]]
    q_full = [float(x) for x in query_vec]
    idx = _index_rows(spark, path, as_of_batch=as_of_batch)
    coarse = (
        idx.select(
            id_col,
            F.round(
                cosine_similarity("prefix", q_pref, dim=pd_), 6
            ).alias("pref_sim"),
        )
        .orderBy(F.col("pref_sim").desc(), F.col(id_col))
        .limit(shortlist)
    )
    ids = [r[0] for r in coarse.select(id_col).collect()]
    return (
        idx.filter(F.col(id_col).isin(ids))
        .select(
            id_col,
            F.round(
                cosine_similarity("concat(prefix, rest)", q_full, dim=dim), 6
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def _rotation_path(path: str) -> str:
    return f"{path}/rotation"


def load_rotation(spark: SparkSession, path: str) -> np.ndarray:
    """Read the persisted rotation artifact (n_components rows); cached
    per manifest version, returned as a copy."""

    def load() -> np.ndarray:
        rows = spark.read.parquet(_rotation_path(path)).orderBy("comp").collect()
        return np.asarray([list(r["direction"]) for r in rows], dtype=np.float64)

    return cached(spark, ("ann_rotation", path), _manifest_stamp(path), load).copy()


def build_rotated_prefix_index(
    df: DataFrame,
    path: str,
    rotation: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Persisted layout for ROTATED prefix retrieval — the r12
    composition of the dimension-split index (build_prefix_index) and
    the PCA rotation (similarity.power_pca_rotation): the table
    stores ``(id, rot, embedding)`` sorted by id, where ``rot`` is
    the rounded projection onto the FROZEN rotation artifact
    (persisted next to the table like build_ivf_index's centroids —
    recomputing it from a grown corpus would re-key every stored
    projection). The coarse stage scans only (id, rot) — at dim 64 /
    32 components that is half the vector bytes AND the
    variance-compacted coordinates that lift recall (the two wins
    compose); the refine stage re-reads just the shortlist ids'
    original vectors (IN-list over id-sorted files). Appends project
    the delta through the frozen artifact — one Arrow pass."""
    from unified_log_aggregation_and_analytics_spark.operators.similarity import (
        rotate_project,
    )

    R = np.asarray(rotation, dtype=np.float64)
    spark = df.sparkSession
    rot_rows = [(c, [float(x) for x in R[c]]) for c in range(R.shape[0])]
    _write_artifact(spark, rot_rows, "comp int, direction array<double>", _rotation_path(path))
    (
        rotate_project(df, R, vec_col=vec_col, id_col=id_col)
        .sortWithinPartitions(id_col)
        .write.mode("overwrite")
        .parquet(_table_path(path))
    )
    _finalize_build(spark, path, dim=int(R.shape[1]), prefix_dim=int(R.shape[0]))


def append_rotated_prefix_index(
    df_new: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Incremental rotated-prefix ingest against the FROZEN rotation
    artifact. Rotation drift under heavy append is a rebuild decision
    (the manifest's append/build ratio is the signal, the IVF
    convention)."""
    from unified_log_aggregation_and_analytics_spark.operators.similarity import (
        rotate_project,
    )

    if df_new.isEmpty():
        return
    spark = df_new.sparkSession
    R = load_rotation(spark, path)
    (
        rotate_project(df_new, R, vec_col=vec_col, id_col=id_col)
        .sortWithinPartitions(id_col)
        .write.mode("append")
        .parquet(_table_path(path))
    )
    _record_version(
        path, "append", df_new.count(),
        fence_pos=_fence_pos(spark, path),
    )


def append_rotated_prefix_index_fenced(
    df_new: DataFrame,
    path: str,
    batch_id: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Streaming twin of append_rotated_prefix_index: the delta
    projects through the FROZEN rotation artifact and lands in the
    index's fenced delta area under ``_commit_batch=<id>`` — probes
    (rotated_prefix_probe via ``_index_rows``) see the batch only
    after its commit marker, replays replace their own torn rows,
    and ``as_of_batch`` pins work because fenced deltas carry
    per-batch lineage (unlike the unfenced append path)."""
    from unified_log_aggregation_and_analytics_spark.operators.similarity import (
        rotate_project,
    )
    from unified_log_aggregation_and_analytics_spark.streaming import fence

    spark = df_new.sparkSession
    R = load_rotation(spark, path)
    fence.fenced_append(
        rotate_project(df_new, R, vec_col=vec_col, id_col=id_col),
        _delta_path(path),
        batch_id,
        (),
    )


def rotated_prefix_probe(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    k: int = 10,
    shortlist: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    as_of_batch: int | None = None,
) -> DataFrame:
    """Two-stage probe over the rotated-prefix layout: the query
    projects through the persisted rotation driver-side; stage 1's
    ReadSchema carries only (id, rot); stage 2 re-reads the shortlist
    ids' original vectors and scores exact full-dim cosine. Scores
    are bit-identical to similarity.knn_prefix_refine_rotated over
    the same rotation (the projection pass is shared code), so the
    persisted path inherits the rotated scan oracle — index ≡
    scan."""
    from unified_log_aggregation_and_analytics_spark.functions.vectors import (
        cosine_similarity,
    )

    R = load_rotation(spark, path)
    n_comp, dim = R.shape
    if dim != len(query_vec):
        raise ValueError(f"rotation dim {dim} != query dim {len(query_vec)}")
    rq = np.round(np.asarray(query_vec, dtype=np.float64) @ R.T, 6)
    q_rot = [float(x) for x in rq]
    q_full = [float(x) for x in query_vec]
    idx = _index_rows(spark, path, as_of_batch=as_of_batch)
    coarse = (
        idx.select(
            id_col,
            F.round(
                cosine_similarity("rot", q_rot, dim=n_comp), 6
            ).alias("pref_sim"),
        )
        .orderBy(F.col("pref_sim").desc(), F.col(id_col))
        .limit(shortlist)
    )
    ids = [r[0] for r in coarse.select(id_col).collect()]
    return (
        idx.filter(F.col(id_col).isin(ids))
        .select(
            id_col,
            F.round(
                cosine_similarity(vec_col, q_full, dim=dim), 6
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def hard_negatives_probe(
    spark: SparkSession,
    path: str,
    anchors: list[tuple[int, list[float], object]],
    k: int = 5,
    n_probe: int = 4,
    max_sim: float = 0.99,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    candidate_filter: Column | None = None,
    as_of_batch: int | None = None,
) -> DataFrame:
    """Hard-negative mining over the persisted IVF index — the scale
    path similarity.hard_negatives promises: each anchor (id, vector,
    label) probes its ``n_probe`` nearest cells, ONE partition-pruned
    index read serves the whole anchor batch, and the per-anchor
    label-inequality filter + similarity ceiling run during the
    pruned scoring pass (the label column is index metadata, so the
    filter never touches the corpus). Work scales with
    |probed cells| + A x |cell|, independent of corpus size — the
    ivf_probe_batch plan with a per-query predicate instead of a
    static one."""
    from pyspark.sql import Window

    from unified_log_aggregation_and_analytics_spark.functions.vectors import (
        cosine_similarity,
    )

    if not anchors:
        raise ValueError("hard_negatives_probe requires at least one anchor")
    centroids = load_centroids(spark, path, vec_col)
    norm = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    pairs: list[tuple[int, int]] = []
    qrows = []
    for aid, vec, label in anchors:
        q = np.asarray(vec, dtype=np.float64)
        q = q / max(np.linalg.norm(q), 1e-12)
        cells = [int(c) for c in (norm @ q).argsort()[::-1][:n_probe]]
        pairs.extend((aid, c) for c in cells)
        qrows.append((aid, [float(x) for x in vec], label))
    probe_df = spark.createDataFrame(pairs, "anchor_id long, cell int")
    qdf = spark.createDataFrame(qrows, ["anchor_id", "qe", "q_label"])
    idx = _index_rows(spark, path, as_of_batch=as_of_batch)
    cand = idx.filter(F.col("cell").isin(sorted({c for _, c in pairs})))
    if candidate_filter is not None:
        cand = cand.filter(candidate_filter)
    sims = (
        cand.join(F.broadcast(probe_df), "cell")
        .join(F.broadcast(qdf), "anchor_id")
        .filter(F.col(label_col) != F.col("q_label"))
        .select(
            "anchor_id",
            F.col(id_col),
            F.col(label_col),
            F.round(cosine_similarity(F.col(vec_col), F.col("qe")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") <= F.lit(max_sim))
    )
    w = Window.partitionBy("anchor_id").orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("anchor_id", id_col, label_col, "cos_sim", "rank")
    )


def build_opq_index(
    df: DataFrame,
    path: str,
    rotation: np.ndarray,
    m: int = 4,
    codes: int = 8,
    train_iters: int = 0,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Flat OPQ codes index (r13; Ge et al. CVPR'13 parametric OPQ
    persisted): the table stores ONLY ``(id, pq_codes, pq_code)`` of
    the ROTATED coordinates — m bytes of code per vector, the '100 TB
    of floats scans as ~3 TB of codes' memory story with the
    rotation's quantization quality folded in. The rotation (already
    row-permuted by the eigenvalue allocation — pass
    ``R[pq.opq_interleave_perm(dim, m)]``) and the codebooks persist
    as frozen artifacts next to the table (the build_ivfpq_index
    contract: recomputing either on a grown corpus would re-key every
    stored code). ``train_iters=0`` keeps the seeded data-independent
    codebooks — the DuckDB-replayable certification form; >0 Lloyd-
    trains them on the rotated coords (the quality form)."""
    from unified_log_aggregation_and_analytics_spark.operators.pq import (
        pq_encode,
        seeded_pq_codebooks,
        train_pq_codebooks,
    )
    from unified_log_aggregation_and_analytics_spark.operators.similarity import (
        rotate_project,
    )

    R = np.asarray(rotation, dtype=np.float64)
    n_comp, dim = R.shape
    if n_comp != dim:
        raise ValueError(
            f"OPQ needs a full-rank rotation (got {n_comp} x {dim}): "
            "ADC distances live in the rotated space, so dropping "
            "components silently drops distance mass"
        )
    spark = df.sparkSession
    rot_rows = [(c, [float(x) for x in R[c]]) for c in range(n_comp)]
    _write_artifact(spark, rot_rows, "comp int, direction array<double>", _rotation_path(path))
    proj = rotate_project(df, R, vec_col=vec_col, id_col=id_col).select(
        id_col, F.col("rot").alias(vec_col)
    )
    if train_iters > 0:
        cb = train_pq_codebooks(
            proj, dim, m=m, codes=codes, n_iter=train_iters, seed=seed
        )
    else:
        cb = seeded_pq_codebooks(dim, m=m, codes=codes, seed=seed)
    cb_rows = [
        (mi, ci, [float(x) for x in cb[mi, ci]])
        for mi in range(m)
        for ci in range(codes)
    ]
    _write_artifact(spark, cb_rows, "mi int, ci int, codeword array<double>", _codebooks_path(path))
    (
        pq_encode(proj, cb, vec_col=vec_col, id_col=id_col)
        .write.mode("overwrite")
        .parquet(_table_path(path))
    )
    _finalize_build(spark, path, dim=dim)


def append_opq_index(
    df_new: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Incremental OPQ ingest: the delta projects through the FROZEN
    rotation and encodes against the FROZEN codebooks — one Arrow
    pass, appended rows indistinguishable from build-time rows
    (append ≡ rebuild pinned in tests). Quantizer/rotation drift
    under heavy append is a rebuild decision; the manifest's
    append/build ratio is the signal."""
    from unified_log_aggregation_and_analytics_spark.operators.pq import pq_encode
    from unified_log_aggregation_and_analytics_spark.operators.similarity import (
        rotate_project,
    )

    if df_new.isEmpty():
        return
    spark = df_new.sparkSession
    R = load_rotation(spark, path)
    cb = load_codebooks(spark, path)
    proj = rotate_project(df_new, R, vec_col=vec_col, id_col=id_col).select(
        id_col, F.col("rot").alias(vec_col)
    )
    (
        pq_encode(proj, cb, vec_col=vec_col, id_col=id_col)
        .write.mode("append")
        .parquet(_table_path(path))
    )
    _record_version(
        path, "append", df_new.count(),
        fence_pos=_fence_pos(spark, path),
    )


def opq_probe(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    as_of_batch: int | None = None,
) -> DataFrame:
    """OPQ ADC probe over the persisted codes: the query projects
    through the frozen rotation driver-side (rounded 6, the
    rotate_project discipline), the (m x codes) lookup table embeds
    as literals, and the scan moves m bytes per row — map-only +
    TakeOrderedAndProject, the pq_adc_topk plan over the codes-only
    table. Scores are identical to the scan-time seeded OPQ pipeline
    (index ≡ scan), so the persisted path inherits its oracle."""
    from unified_log_aggregation_and_analytics_spark.operators.pq import pq_adc_topk

    R = load_rotation(spark, path)
    if R.shape[1] != len(query_vec):
        raise ValueError(
            f"query dim {len(query_vec)} != rotation dim {R.shape[1]} at {path!r}"
        )
    rq = [
        float(x)
        for x in np.round(np.asarray(query_vec, dtype=np.float64) @ R.T, 6)
    ]
    cb = load_codebooks(spark, path)
    idx = _index_rows(spark, path, as_of_batch=as_of_batch)
    return pq_adc_topk(idx, cb, rq, k=k, id_col=id_col)


def build_ivfopq_index(
    df: DataFrame,
    path: str,
    rotation: np.ndarray,
    n_centroids: int = 16,
    m: int = 4,
    codes: int = 8,
    train_iters: int = 0,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """IVF-OPQ index build (r14, verdict item 5) — the FAISS-standard
    ``OPQ<M>,IVF<C>,PQ<M>`` composition: one orthonormal pretransform
    (the OPQ rotation, already row-permuted by the round-robin
    eigenvalue allocation — pass ``R[pq.opq_interleave_perm(dim, m)]``),
    then the ENTIRE two-level IVF-PQ structure built in the rotated
    space: coarse cells bound WHERE a probe reads, rotated-space PQ
    codes bound HOW MUCH, the rotation folds quantization quality in.
    The rotation is orthonormal, so cosine cell assignment in rotated
    coordinates matches raw-space assignment up to the shared round-6
    projection grid — the coarse level loses nothing by living in the
    rotated space, and the fine level gains OPQ's variance balancing.

    Persisted artifacts: rotation + centroids (rotated coords) +
    codebooks + the codes-only table ``(id, pq_codes, pq_code)``
    partitioned by cell. ``train_iters=0`` keeps seeded
    data-independent codebooks — the DuckDB-replayable certification
    form; >0 Lloyd-trains on the rotated coords (the quality form).
    100 TB: one Arrow projection+assign+encode pass over the corpus;
    probes touch n_probe/n_centroids of an m-bytes-per-row table."""
    from unified_log_aggregation_and_analytics_spark.operators.pq import (
        pq_encode,
        seeded_pq_codebooks,
        train_pq_codebooks,
    )
    from unified_log_aggregation_and_analytics_spark.operators.similarity import (
        deterministic_centroids,
        ivf_assign,
        rotate_project,
    )

    R = np.asarray(rotation, dtype=np.float64)
    n_comp, dim = R.shape
    if n_comp != dim:
        raise ValueError(
            f"IVF-OPQ needs a full-rank rotation (got {n_comp} x {dim}): "
            "ADC distances live in the rotated space, so dropping "
            "components silently drops distance mass"
        )
    spark = df.sparkSession
    rot_rows = [(c, [float(x) for x in R[c]]) for c in range(n_comp)]
    _write_artifact(spark, rot_rows, "comp int, direction array<double>", _rotation_path(path))
    proj = rotate_project(df, R, vec_col=vec_col, id_col=id_col).select(
        id_col, F.col("rot").alias(vec_col)
    )
    centroids = deterministic_centroids(proj, n_centroids, vec_col, id_col)
    if train_iters > 0:
        cb = train_pq_codebooks(
            proj, dim, m=m, codes=codes, n_iter=train_iters, seed=seed
        )
    else:
        cb = seeded_pq_codebooks(dim, m=m, codes=codes, seed=seed)
    cent_rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    _write_artifact(spark, cent_rows, f"cell int, {vec_col} array<double>", _centroids_path(path))
    cb_rows = [
        (mi, ci, [float(x) for x in cb[mi, ci]])
        for mi in range(m)
        for ci in range(codes)
    ]
    _write_artifact(spark, cb_rows, "mi int, ci int, codeword array<double>", _codebooks_path(path))
    assigned = ivf_assign(proj, centroids, vec_col)
    (
        pq_encode(assigned, cb, vec_col=vec_col, id_col=id_col, passthrough=("cell",))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(_table_path(path))
    )
    _finalize_build(spark, path, dim=dim)


def append_ivfopq_index(
    df_new: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Incremental IVF-OPQ ingest: the delta projects through the
    FROZEN rotation, assigns against the FROZEN rotated-space
    centroids, and encodes against the FROZEN codebooks — one Arrow
    pass, appended rows indistinguishable from build-time rows
    (append ≡ rebuild pinned in tests). Rotation/quantizer drift
    under heavy append is a rebuild decision; the manifest's
    append/build ratio is the signal."""
    from unified_log_aggregation_and_analytics_spark.operators.pq import pq_encode
    from unified_log_aggregation_and_analytics_spark.operators.similarity import (
        ivf_assign,
        rotate_project,
    )

    if df_new.isEmpty():
        return
    spark = df_new.sparkSession
    R = load_rotation(spark, path)
    centroids = load_centroids(spark, path, vec_col)
    cb = load_codebooks(spark, path)
    proj = rotate_project(df_new, R, vec_col=vec_col, id_col=id_col).select(
        id_col, F.col("rot").alias(vec_col)
    )
    assigned = ivf_assign(proj, centroids, vec_col)
    (
        pq_encode(assigned, cb, vec_col=vec_col, id_col=id_col, passthrough=("cell",))
        .write.mode("append")
        .partitionBy("cell")
        .parquet(_table_path(path))
    )
    _record_version(
        path, "append", df_new.count(),
        fence_pos=_fence_pos(spark, path),
    )


def ivfopq_probe(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    as_of_batch: int | None = None,
) -> DataFrame:
    """IVF-OPQ probe: the query projects through the frozen rotation
    driver-side (round-6, the rotate_project discipline), the rotated
    centroids rank driver-side, only the ``n_probe`` nearest CODE
    partitions are read (PartitionFilters on ``cell``), and the scan
    scores by asymmetric distance in the rotated space — the ivfpq
    probe plan with the rotation folded into the frozen artifacts.
    Returns approximate squared-L2 distances (``adc_dist`` asc);
    rotation is orthonormal, so rotated-space L2 IS raw-space L2."""
    from unified_log_aggregation_and_analytics_spark.operators.pq import pq_adc_topk

    R = load_rotation(spark, path)
    if R.shape[1] != len(query_vec):
        raise ValueError(
            f"query dim {len(query_vec)} != rotation dim {R.shape[1]} at {path!r}"
        )
    rq = [
        float(x)
        for x in np.round(np.asarray(query_vec, dtype=np.float64) @ R.T, 6)
    ]
    centroids = load_centroids(spark, path)
    norm = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    q = np.asarray(rq, dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-12)
    probe_cells = [int(c) for c in (norm @ qn).argsort()[::-1][:n_probe]]
    cb = load_codebooks(spark, path)
    idx = _index_rows(spark, path, as_of_batch=as_of_batch)
    cand = idx.filter(F.col("cell").isin(probe_cells)).drop("cell")
    return pq_adc_topk(cand, cb, rq, k=k, id_col=id_col)
