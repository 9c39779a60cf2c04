"""Persisted ANN indexes: build once, probe with partition pruning.

The reference delegates vector search to its search backend; this
module builds that backend's index files, Spark-natively (SURVEY.md
§2 X3). Every index kind is one PARTITIONER times one CODEC, optionally
behind a frozen ROTATION — the composition FAISS's ``index_factory``
spells as ``"OPQ16,IVF256,PQ16"``. ``KINDS`` is the whole table:

    kind            partitioner  rotation  codec      table columns
    lsh             bucket       -         float      id, vec, meta...
    ivf             cell         -         float      id, vec, meta...
    ivfpq           cell         -         pq         id, pq_codes, pq_code
    sq8             -            -         sq8        id, mn, sc, sq8_code
    ivfsq8          cell         -         sq8        id, mn, sc, sq8_code
    prefix          -            -         prefix     id, prefix, rest
    rotated_prefix  -            yes       rotprefix  id, vec, rot
    opq             -            yes       pq         id, pq_codes, pq_code
    ivfopq          cell         yes       pq         id, pq_codes, pq_code

One generic core serves all nine: ``build`` (train artifacts, write
them, write the encoded table partitioned by the partitioner column),
``append`` (encode a delta against the frozen artifacts; fenced when
given a ``batch_id``), ``probe`` and ``probe_batch``. The per-kind
``build_*_index`` / ``append_*_index`` / ``*_probe`` names are thin
aliases with the historical signatures.

Partitioners. ``bucket``: packed sign bits against ``n_bits`` seeded
hyperplanes — a pure function of (dim, n_bits, seed), so nothing is
persisted and the manifest records ``dim``; a probe reads the buckets
within Hamming distance ``multiprobe_bits`` of the query's (keep
n_bits <= ~12: 2^n_bits directories). ``cell``: nearest (cosine) of
the persisted centroids — the ``n_centroids`` lowest-id vectors,
optionally k-means refined (``refine_iters``; off in the catalog
because float-mean jitter can flip boundary assignments across runs);
a probe ranks the centroids on the driver and reads the ``n_probe``
nearest cells. Either way the probe filter is a partition-column
IN-list, so Spark prunes at planning time (PartitionFilters in the
scan node; asserted in tests). The build is one pass over the corpus
(map-only sketch / one Arrow GEMM per batch) plus a partitioned write;
probes touch buckets/cells totalling a few percent of the data.

Codecs. ``float`` stores the vector and scores exact cosine
(knn_brute_force); ``meta_cols`` ride along for FILTERED search: a
``candidate_filter`` over them lands in the pruned scan
(PushedFilters) and drops candidates before scoring — raise
``n_probe`` under selective filters to hold recall. ``sq8`` stores
per-vector (min, scale) int8 codes, binary-only on disk and unpacked
in-plan (similarity.sq8_unpack); the quantizer is data-independent.
``pq`` stores m-byte product-quantization codes scored by asymmetric
distance (pq.pq_adc_topk: ``adc_dist`` ascending); ``train_iters=0``
keeps the seeded data-independent codebooks, the DuckDB-replayable
certification form. ``prefix`` / ``rotprefix`` split the vector for
two-stage retrieval: the coarse stage scans only (id, prefix) or
(id, rot) and keeps a ``shortlist`` by rounded cosine, the refine
stage re-reads the shortlist ids (IN-list over id-sorted files: row
group pruning) and re-ranks by exact full-dim cosine — bit-identical
to similarity.knn_prefix_refine(_rotated), so the persisted path
inherits the scan path's oracle. OPQ kinds need a full-rank rotation
(already row-permuted: pass ``R[pq.opq_interleave_perm(dim, m)]``):
ADC distances live in the rotated space, and an orthonormal rotation
keeps cosine cells and L2 distances unchanged up to the round-6 grid.

Frozen artifacts. Centroids, codebooks and the rotation are trained
once per build and persisted next to the table (``centroids/``,
``codebooks/``, ``rotation/``). Appends and probes read them back and
never retrain: recomputing any of them from a grown corpus would
re-key every stored row. A vector's partition and code therefore
never depend on when it was ingested, and a probe over (base +
deltas) equals a fresh full build whenever that build would pick the
same artifacts (the catalog's ``*_appended`` entries certify this
through the driver oracle). Drift under heavy append is an explicit
rebuild decision; the manifest's append/build ratio is the signal.

Maintenance (the reference's daily-rotation contract, its
README.md:30, applied to the vector side). Every
build/append/compact/merge records a version row in
``_manifest.jsonl`` so operators can audit segment lineage. Unfenced
appends write into the EXISTING partition directories, and
``compact_index`` folds their small files back to
``files_per_partition`` per directory without touching assignment.
STREAMING appends (streaming/vectors.py) land in a manifest-fenced
delta area instead; probes union base + committed delta
(``_index_rows``), and ``merge_index_delta`` (local-FS directory swap)
or ``compact_index_delta`` (marker-native, object-store-safe) fold
the delta back.
"""

from __future__ import annotations

import json
import os
import shutil
from itertools import combinations
from pathlib import Path
from typing import NamedTuple

import numpy as np

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from unified_log_aggregation_and_analytics_spark.functions.vectors import cosine_similarity
from unified_log_aggregation_and_analytics_spark.operators.pq import (
    pq_adc_topk,
    pq_encode,
    train_pq_codebooks,
)
from unified_log_aggregation_and_analytics_spark.operators.similarity import (
    deterministic_centroids,
    ivf_assign,
    kmeans_refine,
    knn_brute_force,
    lsh_planes,
    rotate_project,
    sign_sketch,
    sq8_encode,
    sq8_score_topk,
    sq8_unpack,
)
from unified_log_aggregation_and_analytics_spark.sources.batch import cached, file_stamp
from unified_log_aggregation_and_analytics_spark.streaming import fence

VEC, ID = "embedding", "vec_id"


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


def _manifest_int(path: str, key: str) -> int | None:
    return next((int(e[key]) for e in read_manifest(path) if key in e), None)


def manifest_dim(path: str) -> int | None:
    """Vector dimensionality recorded by the index build, or None for
    a pre-manifest index."""
    return _manifest_int(path, "dim")


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


def load_centroids(spark: SparkSession, path: str, vec_col: str = "embedding") -> np.ndarray:
    """Read the persisted centroid artifact (n_centroids rows); cached
    per manifest version, returned as a copy."""

    def load() -> np.ndarray:
        rows = spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
        return np.asarray([list(r[vec_col]) for r in rows], dtype=np.float64)

    return cached(spark, ("ann_centroids", path, vec_col), _manifest_stamp(path), load).copy()


def load_codebooks(spark: SparkSession, path: str) -> np.ndarray:
    """Read the persisted PQ codebook artifact -> (m, codes, sub_dim);
    cached per manifest version, returned as a copy."""

    def load() -> np.ndarray:
        rows = spark.read.parquet(f"{path}/codebooks").orderBy("mi", "ci").collect()
        m = max(r["mi"] for r in rows) + 1
        codes = max(r["ci"] for r in rows) + 1
        sub_dim = len(rows[0]["codeword"])
        out = np.zeros((m, codes, sub_dim), dtype=np.float64)
        for r in rows:
            out[r["mi"], r["ci"]] = list(r["codeword"])
        return out

    return cached(spark, ("ann_codebooks", path), _manifest_stamp(path), load).copy()


def load_rotation(spark: SparkSession, path: str) -> np.ndarray:
    """Read the persisted rotation artifact (n_components rows); cached
    per manifest version, returned as a copy."""

    def load() -> np.ndarray:
        rows = spark.read.parquet(f"{path}/rotation").orderBy("comp").collect()
        return np.asarray([list(r["direction"]) for r in rows], dtype=np.float64)

    return cached(spark, ("ann_rotation", path), _manifest_stamp(path), load).copy()


def manifest_prefix_dim(path: str) -> int | None:
    """prefix_dim recorded by a prefix or rotated-prefix build, or None."""
    return _manifest_int(path, "prefix_dim")


def _sq8_dim(path: str, query_vec: list[float]) -> int:
    """Code width for unpacking a binary-only SQ8 table: the build
    manifest records it; a pre-manifest index falls back to the
    query's own dimensionality (probe and codes must agree anyway)."""
    dim = manifest_dim(path)
    return int(dim) if dim is not None else len(query_vec)


# --- the kind table ----------------------------------------------------


class IndexSpec(NamedTuple):
    part: str | None  # partition column: None, "bucket" (LSH) or "cell" (IVF)
    codec: str  # "float", "sq8", "pq", "prefix" or "rotprefix"
    rotated: bool = False  # frozen rotation in front of partitioner and codec


KINDS = {
    "lsh": IndexSpec("bucket", "float"),
    "ivf": IndexSpec("cell", "float"),
    "ivfpq": IndexSpec("cell", "pq"),
    "sq8": IndexSpec(None, "sq8"),
    "ivfsq8": IndexSpec("cell", "sq8"),
    "prefix": IndexSpec(None, "prefix"),
    "rotated_prefix": IndexSpec(None, "rotprefix", rotated=True),
    "opq": IndexSpec(None, "pq", rotated=True),
    "ivfopq": IndexSpec("cell", "pq", rotated=True),
}

_ARTIFACT_SCHEMAS = {
    "rotation": "comp int, direction array<double>",
    "centroids": "cell int, {vec_col} array<double>",
    "codebooks": "mi int, ci int, codeword array<double>",
}


def _rotated(df: DataFrame, R: np.ndarray, vec_col: str, id_col: str) -> DataFrame:
    """(id, vec) in the rotated space: the frame OPQ kinds partition and
    encode."""
    return rotate_project(df, R, vec_col=vec_col, id_col=id_col).select(
        id_col, F.col("rot").alias(vec_col)
    )


def _encode(
    spec: IndexSpec,
    df: DataFrame,
    art: dict,
    vec_col: str = VEC,
    id_col: str = ID,
    meta_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The one row transform of every build and append: rotation, then
    partitioner, then codec, all against the frozen artifacts ``art``.
    Map-only (Arrow passes fused into the scan); nothing shuffles."""
    if spec.codec == "prefix":
        pd_, dim = art["prefix_dim"], art["dim"]
        x = df.select(
            id_col,
            F.slice(F.col(vec_col), 1, pd_).alias("prefix"),
            F.slice(F.col(vec_col), pd_ + 1, dim - pd_).alias("rest"),
        )
    elif spec.codec == "rotprefix":
        # the original vector rides through for the exact refine stage
        x = rotate_project(df, art["rotation"], vec_col=vec_col, id_col=id_col)
    elif spec.rotated:
        x = _rotated(df, art["rotation"], vec_col, id_col)
    else:
        x = df.select(id_col, vec_col, *meta_cols)
    if spec.part == "bucket":
        x = x.withColumn("bucket", sign_sketch(vec_col, art["planes"]))
    elif spec.part == "cell":
        x = ivf_assign(x, art["centroids"], vec_col)
    keep = (spec.part,) if spec.part else ()
    if spec.codec == "pq":
        return pq_encode(x, art["codebooks"], vec_col=vec_col, id_col=id_col, passthrough=keep)
    if spec.codec == "sq8":
        # binary-only on disk; probes unpack in-plan
        return sq8_encode(x, vec_col=vec_col, id_col=id_col, passthrough=keep).drop("sq8_codes")
    if spec.codec != "float":
        # id-sorted files: the refine stage's shortlist IN-list prunes
        # row groups via footer min/max
        x = x.sortWithinPartitions(id_col)
    return x


def _train(
    spec: IndexSpec,
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int | None = None,
    n_bits: int = 8,
    seed: int = 42,
    n_centroids: int = 16,
    refine_iters: int = 0,
    m: int = 4,
    codes: int = 8,
    train_iters: int = 0,
    prefix_dim: int = 16,
    rotation: np.ndarray | None = None,
) -> dict:
    """Every artifact a build freezes: rotation, centroids (trained in
    the rotated space when there is one), codebooks, LSH planes, dim
    and prefix_dim."""
    art: dict = {}
    src = df
    if spec.rotated:
        R = art["rotation"] = np.asarray(rotation, dtype=np.float64)
        n_comp, dim = R.shape
        if spec.codec == "pq":
            if n_comp != dim:
                raise ValueError(
                    f"OPQ needs a full-rank rotation (got {n_comp} x {dim}): "
                    "ADC distances live in the rotated space, so dropping "
                    "components silently drops distance mass"
                )
            src = _rotated(df, R, vec_col, id_col)
        else:
            art["prefix_dim"] = n_comp
    if spec.part == "cell":
        c = deterministic_centroids(src, n_centroids, vec_col, id_col)
        if refine_iters > 0:
            c = kmeans_refine(src, c, n_iter=refine_iters, vec_col=vec_col)
        art["centroids"] = c
        dim = int(c.shape[1])
    if dim is None:
        dim = _peek_dim(df, vec_col)
    art["dim"] = dim
    if spec.part == "bucket":
        art["planes"] = lsh_planes(dim, n_bits, seed)
    if spec.codec == "pq":
        # n_iter=0 returns the seeded codebooks without a Spark job
        art["codebooks"] = train_pq_codebooks(
            src.select(id_col, vec_col), dim, m=m, codes=codes, n_iter=train_iters,
            seed=seed, vec_col=vec_col,
        )
    if spec.codec == "prefix":
        if not 0 < prefix_dim < dim:
            raise ValueError(f"prefix_dim must be in (0, {dim}): {prefix_dim}")
        art["prefix_dim"] = prefix_dim
    return art


def _write_artifacts(spark: SparkSession, path: str, art: dict, vec_col: str) -> None:
    """The one artifact writer: rotation, centroids and codebooks, each
    at ``<path>/<name>`` in the schema its loader reads."""
    for name, schema in _ARTIFACT_SCHEMAS.items():
        a = art.get(name)
        if a is None:
            continue
        if name == "codebooks":
            rows = [
                (mi, ci, [float(x) for x in a[mi, ci]])
                for mi in range(a.shape[0])
                for ci in range(a.shape[1])
            ]
        else:
            rows = [(i, [float(x) for x in r]) for i, r in enumerate(a)]
        _write_artifact(spark, rows, schema.format(vec_col=vec_col), f"{path}/{name}")


def _load_artifacts(
    spark: SparkSession,
    spec: IndexSpec,
    path: str,
    df: DataFrame,
    vec_col: str,
    n_bits: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> dict:
    """The frozen artifacts an append encodes against, through the
    cached loaders. LSH planes are regenerated from the manifest's dim
    (a delta scan for it is the pre-manifest fallback only), so an
    empty delta plans no job."""
    art: dict = {"dim": dim}
    if spec.rotated:
        art["rotation"] = load_rotation(spark, path)
    if spec.part == "cell":
        art["centroids"] = load_centroids(spark, path, vec_col)
    if spec.codec == "pq":
        art["codebooks"] = load_codebooks(spark, path)
    if spec.part == "bucket":
        art["dim"] = dim or manifest_dim(path) or _peek_dim(df, vec_col)
        art["planes"] = lsh_planes(art["dim"], n_bits, seed)
    if spec.codec == "prefix":
        art["prefix_dim"], art["dim"] = manifest_prefix_dim(path), manifest_dim(path)
        if art["prefix_dim"] is None or art["dim"] is None:
            raise ValueError(f"index at {path!r} has no prefix-split manifest")
    return art


def _write(df: DataFrame, path: str, mode: str, part: str | None) -> None:
    w = df.write.mode(mode)
    (w.partitionBy(part) if part else w).parquet(path)


# --- generic build / append -------------------------------------------


def build(
    kind: str,
    df: DataFrame,
    path: str,
    vec_col: str = VEC,
    id_col: str = ID,
    meta_cols: tuple[str, ...] = (),
    **params,
) -> None:
    """Build the ``kind`` index of ``df`` at ``path`` (mode=overwrite):
    train and persist the artifacts, write the encoded table partitioned
    by the kind's partitioner, reset the manifest. ``params`` are the
    ``_train`` knobs (n_bits, seed, dim, n_centroids, refine_iters, m,
    codes, train_iters, prefix_dim, rotation)."""
    spec = KINDS[kind]
    spark = df.sparkSession
    art = _train(spec, df, vec_col, id_col, **params)
    _write_artifacts(spark, path, art, vec_col)
    enc = _encode(spec, df, art, vec_col, id_col, meta_cols)
    _write(enc, _table_path(path), "overwrite", spec.part)
    # IVF manifests have never recorded dim (readers fall back to the
    # centroid width); kept so the manifest layout stays as it was
    dim = None if kind == "ivf" else art["dim"]
    _finalize_build(spark, path, dim=dim, prefix_dim=art.get("prefix_dim"))


def append(
    kind: str,
    df_new: DataFrame,
    path: str,
    batch_id: int | None = None,
    vec_col: str = VEC,
    id_col: str = ID,
    meta_cols: tuple[str, ...] = (),
    **params,
) -> None:
    """Encode ``df_new`` against the index's frozen artifacts and add it.

    Unfenced (``batch_id=None``): rows land in the EXISTING partition
    directories of the base table — O(|delta|), base files untouched —
    and an ``append`` manifest version records the row count (an
    Observation on the write: no separate count job) and the fence
    position (snapshot ordering, see ``_index_rows``). An empty delta
    records ``rows: 0``.

    Fenced (``batch_id`` given, streaming/vectors.py): rows land in the
    fenced delta area under ``_commit_batch=<id>``; a replay replaces
    its own torn rows, probes see the batch only after its shared
    commit marker, and ``as_of_batch`` pins stay sound because fenced
    batches keep per-batch lineage (the unfenced path has none).
    ``params``: n_bits, seed, dim (LSH only)."""
    spec = KINDS[kind]
    spark = df_new.sparkSession
    _check_layout(kind, spec, path)
    art = _load_artifacts(spark, spec, path, df_new, vec_col, **params)
    enc = _encode(spec, df_new, art, vec_col, id_col, meta_cols)
    if batch_id is not None:
        fence.fenced_append(enc, _delta_path(path), batch_id, (spec.part,) if spec.part else ())
        return
    obs = Observation()
    enc = enc.observe(obs, F.count(F.lit(1)).alias("rows"))
    _write(enc, _table_path(path), "append", spec.part)
    _record_version(
        path, "append", obs.get["rows"],
        dim=art["dim"] if spec.part == "bucket" else None,
        fence_pos=_fence_pos(spark, path),
    )


def _check_layout(kind: str, spec: IndexSpec, path: str) -> None:
    """Refuse an append whose partitioner differs from the index's:
    its rows would land unassigned and invisible to pruned probes."""
    st = manifest_schema(path)
    have = next((c for c in ("bucket", "cell") if st is not None and c in st.names), None)
    if st is not None and have != spec.part:
        other = next((k for k, s in KINDS.items() if s == spec._replace(part=have)), "a matching")
        raise ValueError(
            f"append_{kind}_index called on an index at {path!r} partitioned "
            f"by {have!r} — use append_{other}_index, or rows land "
            "unassigned and invisible to partition-pruned probes"
        )


# --- generic probe -----------------------------------------------------


def _prober(
    spark: SparkSession,
    spec: IndexSpec,
    path: str,
    dim: int,
    vec_col: str = VEC,
    n_probe: int = 4,
    n_bits: int = 8,
    seed: int = 42,
    multiprobe_bits: int = 1,
):
    """Driver-side candidate selection: a function from a query vector
    (in the index's space) to the partition keys a probe reads."""
    if spec.part == "bucket":
        planes = lsh_planes(dim, n_bits, seed)

        def keys(vec) -> list[int]:
            # the query's bucket, then every bucket within
            # multiprobe_bits flips of it
            q = np.asarray(vec, dtype=np.float64)
            qb = int(sum((1 << i) for i, p in enumerate(planes) if float(p @ q) > 0))
            out = [qb]
            for d in range(1, multiprobe_bits + 1):
                out += [qb ^ sum(1 << b for b in bits) for bits in combinations(range(n_bits), d)]
            return out

        return keys
    centroids = load_centroids(spark, path, vec_col)
    norm = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    def keys(vec) -> list[int]:
        # the n_probe nearest cells by cosine (argsort tie order kept)
        q = np.asarray(vec, dtype=np.float64)
        q = q / max(np.linalg.norm(q), 1e-12)
        return [int(c) for c in (norm @ q).argsort()[::-1][:n_probe]]

    return keys


def _rotate_query(spark: SparkSession, path: str, query_vec: list[float]) -> list[float]:
    """The query projected through the frozen rotation, rounded like
    rotate_project's stored coordinates."""
    R = load_rotation(spark, path)
    if R.shape[1] != len(query_vec):
        raise ValueError(
            f"query dim {len(query_vec)} != rotation dim {R.shape[1]} at {path!r}"
        )
    return [float(x) for x in np.round(np.asarray(query_vec, dtype=np.float64) @ R.T, 6)]


def _refine(idx, coarse_col, q_coarse, fine_col, q_full, k, shortlist, id_col) -> DataFrame:
    """Two-stage prefix retrieval: shortlist by rounded coarse cosine,
    then exact full-dim cosine over the shortlist ids only."""
    coarse = (
        idx.select(
            id_col,
            F.round(
                cosine_similarity(coarse_col, q_coarse, dim=len(q_coarse)), 6
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
                cosine_similarity(fine_col, q_full, dim=len(q_full)), 6
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def _sq8_codes(idx: DataFrame, dim: int, id_col: str) -> DataFrame:
    return idx.select(id_col, "mn", "sc", sq8_unpack("sq8_code", dim).alias("sq8_codes"))


def probe(
    spark: SparkSession,
    kind: str,
    path: str,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = VEC,
    id_col: str = ID,
    candidate_filter: Column | None = None,
    as_of_batch: int | None = None,
    shortlist: int = 50,
    **knobs,
) -> DataFrame:
    """Top-k of one query over the ``kind`` index at ``path``: read only
    the partitions the prober selects (PartitionFilters in the scan),
    apply ``candidate_filter`` before scoring, then score with the
    codec's scorer — exact cosine (``cos_sim`` desc) for float and the
    prefix codecs, ``adc_dist`` ascending for sq8 and pq. ``knobs``:
    n_probe (cells), n_bits, seed, multiprobe_bits (buckets)."""
    spec = KINDS[kind]
    q = [float(x) for x in query_vec]
    qs = _rotate_query(spark, path, q) if spec.rotated else q
    idx = _index_rows(spark, path, as_of_batch=as_of_batch)
    if spec.part:
        keys = _prober(spark, spec, path, len(qs), vec_col, **knobs)(qs)
        idx = idx.filter(F.col(spec.part).isin(keys)).drop(spec.part)
    if candidate_filter is not None:
        idx = idx.filter(candidate_filter)
    if spec.codec == "float":
        return knn_brute_force(idx, q, k, vec_col, id_col)
    if spec.codec == "pq":
        return pq_adc_topk(idx, load_codebooks(spark, path), qs, k=k, id_col=id_col)
    if spec.codec == "sq8":
        return sq8_score_topk(_sq8_codes(idx, _sq8_dim(path, q), id_col), q, k=k, id_col=id_col)
    if spec.codec == "rotprefix":
        return _refine(idx, "rot", qs, vec_col, q, k, shortlist, id_col)
    pd_, built_dim = manifest_prefix_dim(path), manifest_dim(path)
    if pd_ is None:
        raise ValueError(f"index at {path!r} has no prefix-split manifest")
    if built_dim is not None and len(q) != built_dim:
        raise ValueError(f"query dim {len(q)} != index build dim {built_dim} at {path!r}")
    return _refine(idx, "prefix", q[:pd_], "concat(prefix, rest)", q, k, shortlist, id_col)


def probe_batch(
    spark: SparkSession,
    kind: str,
    path: str,
    queries: list[tuple],
    k: int = 10,
    vec_col: str = VEC,
    id_col: str = ID,
    candidate_filter: Column | None = None,
    as_of_batch: int | None = None,
    label_col: str | None = None,
    max_sim: float | None = None,
    **knobs,
) -> DataFrame:
    """Q queries ``(q_id, vec)``, ONE partition-pruned index read (float
    codec, bucket or cell partitioner). Keys are selected per query on
    the driver; the union of all keys is the partition filter, each
    candidate joins only the queries probing its partition (broadcast
    (q_id, key) pairs), scoring is the exact cosine kernel and the
    per-query top-k a window rank: |probed partitions| + Q x |partition|
    work, independent of corpus size.

    With ``label_col`` the queries are anchors ``(anchor_id, vec,
    label)`` for hard-negative mining: candidates sharing the anchor's
    label and candidates above ``max_sim`` drop before ranking, and the
    rank is returned."""
    spec = KINDS[kind]
    if not queries:
        raise ValueError(f"{kind} batch probe requires at least one query")
    qkey = "q_id" if label_col is None else "anchor_id"
    keys = _prober(spark, spec, path, len(queries[0][1]), vec_col, **knobs)
    pairs: list[tuple[int, int]] = []
    qrows = []
    for qid, vec, *label in queries:
        ks = keys(vec)
        pairs.extend((qid, c) for c in (sorted(ks) if spec.part == "bucket" else ks))
        qrows.append((qid, [float(x) for x in vec], *label))
    ptype = "long" if spec.part == "bucket" else "int"
    probe_df = spark.createDataFrame(pairs, f"{qkey} long, {spec.part} {ptype}")
    qdf = spark.createDataFrame(
        qrows, f"{qkey} long, qe array<double>" if label_col is None else [qkey, "qe", "q_label"]
    )
    idx = _index_rows(spark, path, as_of_batch=as_of_batch)
    cand = idx.filter(F.col(spec.part).isin(sorted({c for _, c in pairs})))
    if candidate_filter is not None:
        # applied BEFORE scoring/ranking (e.g. exclude the query set)
        cand = cand.filter(candidate_filter)
    sims = cand.join(F.broadcast(probe_df), spec.part).join(F.broadcast(qdf), qkey)
    extra = []
    if label_col is not None:
        sims = sims.filter(F.col(label_col) != F.col("q_label"))
        extra = [F.col(label_col)]
    sims = sims.select(
        qkey,
        F.col(id_col),
        *extra,
        F.round(cosine_similarity(F.col(vec_col), F.col("qe")), 6).alias("cos_sim"),
    )
    if max_sim is not None:
        sims = sims.filter(F.col("cos_sim") <= F.lit(max_sim))
    rn = F.row_number().over(
        Window.partitionBy(qkey).orderBy(F.col("cos_sim").desc(), F.col(id_col))
    )
    if label_col is None:
        return sims.withColumn("rn", rn).filter(F.col("rn") <= k).select(qkey, id_col, "cos_sim")
    return (
        sims.withColumn("rank", rn.cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(qkey, id_col, label_col, "cos_sim", "rank")
    )


# --- maintenance --------------------------------------------------------


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


def sq8_probe_batch(
    spark: SparkSession,
    path: str,
    queries: list[tuple[int, list[float]]],
    k: int = 5,
    id_col: str = ID,
    exclude_ids: tuple[int, ...] = (),
    as_of_batch: int | None = None,
) -> DataFrame:
    """Batch retrieval over the persisted SQ8 index — Q queries, ONE
    compressed index read. The Q float queries broadcast; every index
    partition reconstructs ``mn + code * sc`` once per (row, query)
    inside the distance fold (Q x N distances never hit disk), then a
    per-query window rank keeps k — the knn_batch plan over codes
    instead of floats. ``exclude_ids`` drops the query vectors
    themselves from the candidate set (the knn_batch convention)."""
    dim = _sq8_dim(path, queries[0][1]) if queries else manifest_dim(path)
    if dim is None:
        raise ValueError(
            f"sq8_probe_batch: cannot resolve code dim for {path!r} — "
            "empty queries list on a pre-manifest index (pass at least "
            "one query or rebuild the index to record a manifest)"
        )
    idx = _sq8_codes(_index_rows(spark, path, as_of_batch=as_of_batch), dim, id_col)
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


# --- per-kind aliases -------------------------------------------------
# Historical names, signatures and defaults. Each forwards its own
# arguments (``**locals()``) to the generic entry point, whose keyword
# names match.


def build_lsh_index(df, path, n_bits=8, seed=42, vec_col=VEC, id_col=ID, dim=None, meta_cols=()):
    build(kind="lsh", **locals())


def append_lsh_index(df_new, path, n_bits=8, seed=42, vec_col=VEC, id_col=ID, dim=None,
                     meta_cols=()):
    append(kind="lsh", **locals())


def lsh_probe(spark, path, query_vec, k=10, n_bits=8, seed=42, multiprobe_bits=1, vec_col=VEC,
              id_col=ID, candidate_filter=None, as_of_batch=None):
    return probe(kind="lsh", **locals())


def lsh_probe_batch(spark, path, queries, k=10, n_bits=8, seed=42, multiprobe_bits=1,
                    vec_col=VEC, id_col=ID, candidate_filter=None, as_of_batch=None):
    return probe_batch(kind="lsh", **locals())


def build_ivf_index(df, path, n_centroids=16, vec_col=VEC, id_col=ID, refine_iters=0,
                    meta_cols=()):
    build(kind="ivf", **locals())


def append_ivf_index(df_new, path, vec_col=VEC, id_col=ID, meta_cols=()):
    append(kind="ivf", **locals())


def append_ivf_index_fenced(df_new, path, batch_id, vec_col=VEC, id_col=ID, meta_cols=()):
    append(kind="ivf", **locals())


def ivf_probe(spark, path, query_vec, k=10, n_probe=4, vec_col=VEC, id_col=ID,
              candidate_filter=None, as_of_batch=None):
    return probe(kind="ivf", **locals())


def ivf_probe_batch(spark, path, queries, k=10, n_probe=4, vec_col=VEC, id_col=ID,
                    candidate_filter=None, as_of_batch=None):
    return probe_batch(kind="ivf", **locals())


def hard_negatives_probe(spark, path, anchors, k=5, n_probe=4, max_sim=0.99, vec_col=VEC,
                         id_col=ID, label_col="label", candidate_filter=None, as_of_batch=None):
    return probe_batch(spark, "ivf", path, anchors, k, vec_col, id_col, candidate_filter,
                       as_of_batch, label_col, max_sim, n_probe=n_probe)


def build_ivfpq_index(df, path, n_centroids=16, m=4, codes=8, train_iters=2, seed=42, vec_col=VEC,
                      id_col=ID):
    build(kind="ivfpq", **locals())


def append_ivfpq_index(df_new, path, vec_col=VEC, id_col=ID):
    append(kind="ivfpq", **locals())


def ivfpq_probe(spark, path, query_vec, k=10, n_probe=4, id_col=ID, as_of_batch=None):
    return probe(kind="ivfpq", **locals())


def build_sq8_index(df, path, vec_col=VEC, id_col=ID):
    build(kind="sq8", **locals())


def append_sq8_index(df_new, path, vec_col=VEC, id_col=ID):
    append(kind="sq8", **locals())


def sq8_probe(spark, path, query_vec, k=10, id_col=ID, as_of_batch=None):
    return probe(kind="sq8", **locals())


def build_ivfsq8_index(df, path, n_centroids=16, vec_col=VEC, id_col=ID):
    build(kind="ivfsq8", **locals())


def append_ivfsq8_index(df_new, path, vec_col=VEC, id_col=ID):
    append(kind="ivfsq8", **locals())


def ivfsq8_probe(spark, path, query_vec, k=10, n_probe=4, id_col=ID, as_of_batch=None):
    return probe(kind="ivfsq8", **locals())


def build_prefix_index(df, path, prefix_dim=16, vec_col=VEC, id_col=ID):
    build(kind="prefix", **locals())


def append_prefix_index(df_new, path, vec_col=VEC, id_col=ID):
    append(kind="prefix", **locals())


def prefix_refine_probe(spark, path, query_vec, k=10, shortlist=50, id_col=ID, as_of_batch=None):
    return probe(kind="prefix", **locals())


def build_rotated_prefix_index(df, path, rotation, vec_col=VEC, id_col=ID):
    build(kind="rotated_prefix", **locals())


def append_rotated_prefix_index(df_new, path, vec_col=VEC, id_col=ID):
    append(kind="rotated_prefix", **locals())


def rotated_prefix_probe(spark, path, query_vec, k=10, shortlist=50, vec_col=VEC, id_col=ID,
                         as_of_batch=None):
    return probe(kind="rotated_prefix", **locals())


def build_opq_index(df, path, rotation, m=4, codes=8, train_iters=0, seed=42, vec_col=VEC, id_col=ID):
    build(kind="opq", **locals())


def append_opq_index(df_new, path, vec_col=VEC, id_col=ID):
    append(kind="opq", **locals())


def opq_probe(spark, path, query_vec, k=10, id_col=ID, as_of_batch=None):
    return probe(kind="opq", **locals())


def build_ivfopq_index(df, path, rotation, n_centroids=16, m=4, codes=8, train_iters=0, seed=42,
                       vec_col=VEC, id_col=ID):
    build(kind="ivfopq", **locals())


def append_ivfopq_index(df_new, path, vec_col=VEC, id_col=ID):
    append(kind="ivfopq", **locals())


def ivfopq_probe(spark, path, query_vec, k=10, n_probe=4, id_col=ID, as_of_batch=None):
    return probe(kind="ivfopq", **locals())
