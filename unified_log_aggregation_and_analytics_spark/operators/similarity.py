"""Similarity search over embedding columns (X3).

Two tiers:
- ``knn_brute_force``: exact top-k cosine against a broadcast query
  vector. The scan is embarrassingly parallel (map + TakeOrdered); at
  100 TB this is one pass over the embedding column with no shuffle —
  the right baseline, and often the right answer when the query set is
  small.
- ``ann_lsh_topk``: random-hyperplane LSH. Sign-bit sketches bucket
  vectors; only the query's bucket (plus optional multi-probe
  neighbors) is scanned. The hyperplanes are generated from a fixed
  seed so results are reproducible. This is the scale path when the
  query volume is high: candidate generation becomes a bucket-key
  equi-join instead of a full scan.

All vector math is zip_with/aggregate higher-order expressions
(functions/vectors.py) — JVM-side, no Python in the hot path.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from unified_log_aggregation_and_analytics_spark.functions.vectors import cosine_similarity

# Memory envelope for the per-bucket/cell/block GEMM kernels (knn_join
# here; embedding_near_dup / semantic_dedup in dedup.py): the scored
# similarity matrix is row-blocked so one Python worker never holds
# more than this many float64 cells (32M = 256 MB) regardless of how
# degenerate a bucket is. Well-distributed groups sit far below one
# block and take the identical single-GEMM path (guide §5: bound
# per-task state; the n_bits ~ log2(corpus) population argument keeps
# the COMMON case constant, this caps the pathological one).
_GEMM_BLOCK_CELLS = 32_000_000


def _gemm_bucket_topk(src_all, v1_all, nbr, v2, k, block_cells):
    """knn_join's per-bucket scoring maths as plain numpy (module-level
    so the row-blocking is unit-testable without a Spark worker):
    normalized GEMM over the bucket, per-src bucket-local top-k with
    the window's exact (cos_sim DESC, nbr ASC) tie order, NaN keyed to
    -inf (Spark's NaN-greatest). The probe side is row-blocked so the
    scored matrix never exceeds ``block_cells`` float64 cells — each
    src row's top-k is row-local, so blocking is exactly lossless, and
    a bucket under one block takes the identical single-GEMM path.
    Returns (src_repeated, nbr_selected, cos_sim) arrays, empty when
    there is no src row."""
    if len(src_all) == 0:
        return src_all[:0], nbr[:0], np.empty(0, dtype=np.float64)
    # nbr-ascending columns make the stable argsort's tie order the
    # window's (cos_sim DESC, nbr ASC) — do not reorder.
    order = np.argsort(nbr, kind="stable")
    nbr, v2 = nbr[order], v2[order]
    n2 = np.linalg.norm(v2, axis=1)
    block = max(1, int(block_cells) // max(1, len(nbr)))
    srcs, nbrs, sims_out = [], [], []
    for s in range(0, len(src_all), block):
        src = src_all[s : s + block]
        v1 = v1_all[s : s + block]
        n1 = np.linalg.norm(v1, axis=1)
        # a zero-norm row divides 0/0 into NaN on purpose (keyed below)
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = np.round((v1 @ v2.T) / np.outer(n1, n2), 6)
        key = np.where(np.isnan(sims), -np.inf, -sims)
        # k+1 covers the single possible self-pair (src is a member
        # of at most one of its probe buckets: its home bucket).
        take = min(k + 1, sims.shape[1])
        idx = np.argsort(key, axis=1, kind="stable")[:, :take]
        nbr_sel = nbr[idx]
        valid = nbr_sel != src[:, None]
        rank = np.cumsum(valid, axis=1)
        keep = valid & (rank <= k)
        n_keep = keep.sum(axis=1)
        srcs.append(np.repeat(src, n_keep))
        nbrs.append(nbr_sel[keep])
        sims_out.append(np.take_along_axis(sims, idx, axis=1)[keep])
    if len(srcs) == 1:
        return srcs[0], nbrs[0], sims_out[0]
    return np.concatenate(srcs), np.concatenate(nbrs), np.concatenate(sims_out)


def knn_brute_force(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine similarity against one query vector.

    The query is a literal array (broadcast by construction); the plan
    is scan -> project(cosine) -> TakeOrderedAndProject. Deterministic:
    similarity rounded to 6 decimals with id tie-break."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        df.select(
            F.col(id_col),
            F.round(cosine_similarity(F.col(vec_col), q), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def knn_prefix_refine(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    prefix_dim: int = 16,
    shortlist: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """X3 — matryoshka-style two-stage retrieval (the adaptive-
    retrieval pattern of Kusupati et al., NeurIPS'22 MRL): stage 1
    scores the WHOLE corpus on only the first ``prefix_dim``
    dimensions — at dim 64 -> 16 that is 4x less arithmetic, and with
    a dimension-split columnar layout 4x less scan IO, which is the
    100 TB point of the technique — keeping a ``shortlist`` of
    candidates; stage 2 re-ranks only the shortlist with the exact
    full-dimension cosine. Exact when the embedding family nests
    (MRL-trained prefixes); a measured-recall approximation
    otherwise (recall vs brute force pinned in tests and certified
    in-plan by knn_prefix_recall).

    Plan shape: scan -> codegen-unrolled prefix cosine ->
    TakeOrderedAndProject(shortlist) -> full cosine over ``shortlist``
    rows -> TakeOrderedAndProject(k). No shuffle beyond the two top-k
    reductions; the query is a literal (broadcast by construction).
    Both stages round to 6 decimals and tie-break on id — the
    engine's knn determinism discipline — so a SQL oracle replays
    BOTH rank orders, including the shortlist boundary."""
    if not 0 < prefix_dim <= len(query_vec):
        raise ValueError(
            f"prefix_dim must be in (0, {len(query_vec)}]: {prefix_dim}"
        )
    q_pref = [float(x) for x in query_vec[:prefix_dim]]
    q_full = [float(x) for x in query_vec]
    pref = f"slice({vec_col}, 1, {prefix_dim})"
    short = (
        df.select(
            F.col(id_col),
            F.col(vec_col),
            F.round(
                cosine_similarity(pref, q_pref, dim=prefix_dim), 6
            ).alias("pref_sim"),
        )
        .orderBy(F.col("pref_sim").desc(), F.col(id_col))
        .limit(shortlist)
    )
    return (
        short.select(
            F.col(id_col),
            F.round(
                cosine_similarity(vec_col, q_full, dim=len(query_vec)), 6
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


# Off-grid epsilon for the rotation path's rounded fixpoint
# arithmetic: every rounded value is a 6-decimal-grid number, so
# products of two of them land on the 1e-12 grid — which CONTAINS the
# 5e-7 rounding midpoints, where half-even (numpy) and half-away
# (DuckDB/Spark) disagree and summation-order noise picks the side
# arbitrarily. Adding 2^-41 (~4.5e-13, binary-exact, not a multiple of
# any 1e-k) before rounding moves every exact grid value ~1e-13 off
# the midpoints — far above the ~1e-15 cross-engine noise — so both
# engines always round the same way. The bias is <= 1e-12 per step,
# numerically irrelevant to the rotation.
Q6_EPS = 2.0 ** -41


def _q6(x):
    """Midpoint-free 6-decimal rounding (see Q6_EPS)."""
    return np.round(x + Q6_EPS, 6)


def power_iteration_pca(
    cov: np.ndarray, n_components: int = 32, iters: int = 16
) -> np.ndarray:
    """Deterministic top-``n_components`` PCA basis by power iteration
    with per-step midpoint-free 6-decimal rounding (_q6) — the
    knn_ivf_refined rounded-means pattern applied to an eigensolver,
    so the ENTIRE derivation replays step for step in DuckDB (a
    recursive CTE over the list-valued (matrix, components, vector)
    state; catalog_llm._rot_ctes). Classical Gram-Schmidt (all
    projections off the ORIGINAL iterate, one shot) keeps each step a
    single aggregate in SQL; deflation ``A - lam v v^T`` after each
    component. Seed v0[i] = q6(0.1 + 1e-4 (i+1)) — varied, so the
    first matvec is not the degenerate constant-vector row-sum whose
    1.25e-7-grid sums sit exactly on rounding midpoints. Imperfect
    convergence is FINE: both engines replay the same trajectory, and
    the basis only needs to compact variance, not match LAPACK."""
    d = cov.shape[0]
    A = cov.copy()
    comps: list[np.ndarray] = []
    seed = _q6(0.1 + 0.0001 * np.arange(1, d + 1))
    for _c in range(n_components):
        v = seed.copy()
        for _t in range(iters):
            w = _q6(A @ v)
            if comps:
                P = np.array(comps)
                dots = _q6(P @ w)
                w = _q6(w - P.T @ dots)
            nrm = _q6(np.sqrt(np.dot(w, w)))
            if nrm == 0:
                break
            v = _q6(w / nrm)
        comps.append(v)
        lam = _q6(float(v @ (A @ v)))
        A = _q6(A - lam * np.outer(v, v))
    return np.array(comps)


def power_pca_rotation(
    df: DataFrame, n_components: int = 32, iters: int = 16, vec_col: str = "embedding"
) -> np.ndarray:
    """X3 — data-adaptive rotation for matryoshka prefix retrieval:
    the top-``n_components`` PCA directions of the corpus, derived so
    BOTH engines reproduce them exactly (power_iteration_pca). Two
    Arrow passes over the corpus — per-batch sum, then per-batch
    centered Gram matrix against the rounded mean — combine to a
    d x d covariance on the driver (bounded model state, the
    _query_vec convention); the iteration itself is driver
    arithmetic. At 100 TB the passes are map-side partial GEMMs (one
    row of partials per batch crosses the wire), the same shape
    ivf_assign's assignment pass uses."""
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [StructField("cnt", LongType()), StructField("vals", ArrayType(DoubleType()))]
    )

    def collect_partials(reducer):
        def gen(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                yield pd.DataFrame(
                    {"cnt": [len(X)], "vals": [reducer(X).ravel().tolist()]}
                )

        rows = df.select(vec_col).mapInPandas(gen, schema).collect()
        n = sum(r.cnt for r in rows)
        total = np.sum(
            [np.asarray(r.vals, dtype=np.float64) for r in rows], axis=0
        )
        return n, total

    n, s = collect_partials(lambda X: X.sum(axis=0))
    d = s.shape[0]
    mu = _q6(s / n)
    _, ss = collect_partials(lambda X: (X - mu).T @ (X - mu))
    cov = _q6(ss.reshape(d, d) / n)
    return power_iteration_pca(cov, n_components, iters)


def rotate_project(
    df: DataFrame,
    rotation: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "rot",
) -> DataFrame:
    """Project every vector onto the rotation's components in ONE
    Arrow GEMM pass: ``out_col[c] = round(x . rotation[c], 6)``. The
    original vector column rides through so a refine stage can score
    exactly without a join back. Plain round-6 (no epsilon): the
    inputs mix grid values with raw corpus doubles, so sums are off
    every decimal grid and both engines agree by the standard
    rounded-knn argument."""
    import pandas as pd
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    R = np.asarray(rotation, dtype=np.float64)
    out_schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType),
            StructField(vec_col, df.schema[vec_col].dataType),
            StructField(out_col, ArrayType(DoubleType())),
        ]
    )

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            P = np.round(X @ R.T, 6)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    vec_col: pdf[vec_col].to_numpy(),
                    out_col: [r.tolist() for r in P],
                }
            )

    return df.select(id_col, vec_col).mapInPandas(gen, out_schema)


def knn_prefix_refine_rotated(
    df: DataFrame,
    query_vec: list[float],
    rotation: np.ndarray | None,
    k: int = 10,
    shortlist: int = 50,
    prefix_dim: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """X3 — prefix-refine through a PCA rotation (the trained-prefix
    half of MRL that an untrained embedding family lacks): stage 1
    scores rounded projections onto the top ``n_components``
    covariance directions — variance compacts into the prefix, so
    the same shortlist catches more of the true top-k than raw
    leading dims (recall 4/10 -> 9/10 at the catalog knobs on the
    driver corpus; certified by knn_prefix_rot_recall) — stage 2
    re-ranks the shortlist by exact full-dimension cosine over the
    ORIGINAL vectors (cosine is rotation-invariant, so no inverse
    transform). ``rotation=None`` is the degenerate no-rotation knob
    and delegates verbatim to knn_prefix_refine (pinned equal in
    tests). Plan: one Arrow projection pass -> codegen-unrolled
    prefix cosine -> TakeOrderedAndProject(shortlist) -> exact cosine
    -> TakeOrderedAndProject(k)."""
    if rotation is None:
        return knn_prefix_refine(
            df,
            query_vec,
            k=k,
            prefix_dim=prefix_dim,
            shortlist=shortlist,
            vec_col=vec_col,
            id_col=id_col,
        )
    R = np.asarray(rotation, dtype=np.float64)
    n_comp, dim = R.shape
    if dim != len(query_vec):
        raise ValueError(f"rotation dim {dim} != query dim {len(query_vec)}")
    rq = np.round(np.asarray(query_vec, dtype=np.float64) @ R.T, 6)
    q_rot = [float(x) for x in rq]
    q_full = [float(x) for x in query_vec]
    projected = rotate_project(df, R, vec_col=vec_col, id_col=id_col)
    short = (
        projected.select(
            F.col(id_col),
            F.col(vec_col),
            F.round(
                cosine_similarity("rot", q_rot, dim=n_comp), 6
            ).alias("pref_sim"),
        )
        .orderBy(F.col("pref_sim").desc(), F.col(id_col))
        .limit(shortlist)
    )
    return (
        short.select(
            F.col(id_col),
            F.round(
                cosine_similarity(vec_col, q_full, dim=dim), 6
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def _plane_dot(c: Column, plane: np.ndarray) -> Column:
    """Dot of a vector column against one hyperplane literal — the
    shared primitive for bucket signs and probe margins, so both are
    bit-identical to the DuckDB plane-literal replay."""
    plane_col = F.array(*[F.lit(float(x)) for x in plane])
    return F.aggregate(
        F.zip_with(c, plane_col, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def sign_sketch(vec_col: Column | str, planes: np.ndarray) -> Column:
    """LSH bucket id: sign bits of dot products with fixed random
    hyperplanes, packed into a long. ``planes`` is (n_bits, dim)."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    bits = []
    for bit, plane in enumerate(planes):
        dot = _plane_dot(c, plane)
        bits.append(F.shiftleft(F.when(dot > 0, 1).otherwise(0).cast("long"), bit))
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def margin_probe_bits(vec_col: Column | str, planes: np.ndarray, n_probes: int) -> list[Column]:
    """Query-directed multiprobe (Lv et al., VLDB'07): the hyperplane
    bits MOST LIKELY to separate true neighbors are the ones whose
    projection margin |v . plane_j| is smallest, so probe only those.
    Returns ``n_probes`` bit-index columns, smallest margin first
    (ties to the lower bit index — matching DuckDB's first-min
    ``list_position`` replay)."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    ranked = F.array_sort(
        F.array(
            *[
                F.struct(
                    F.abs(_plane_dot(c, plane)).alias("m"),
                    F.lit(j).alias("j"),
                )
                for j, plane in enumerate(planes)
            ]
        )
    )
    return [ranked[i]["j"] for i in range(n_probes)]


def lsh_planes(dim: int, n_bits: int = 8, seed: int = 42) -> np.ndarray:
    """Deterministic random hyperplanes for sign_sketch."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_bits, dim))


def ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF cell assignment: each row gets the index of its nearest
    (by cosine) centroid as a ``cell`` column.

    This is the one deliberately-Python piece of the similarity stack:
    a C-way argmax per row is a dense matmul, which numpy does orders
    of magnitude faster than C interpreted higher-order expressions.
    ``mapInPandas`` streams Arrow batches, so per-batch cost is one
    (batch x dim) @ (dim x C) GEMM — the idiomatic Spark shape for
    vectorized math the SQL engine can't express.
    """
    import pandas as pd
    from pyspark.sql.types import IntegerType, StructField, StructType

    norm = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    # fresh StructType: .add() would mutate the DataFrame's cached schema
    out_schema = StructType(list(df.schema.fields) + [StructField("cell", IntegerType())])

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(cell=pd.Series([], dtype="int32"))
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            pdf = pdf.copy()
            pdf["cell"] = (m @ norm.T).argmax(axis=1).astype("int32")
            yield pdf

    return df.mapInPandas(assign, schema=out_schema)


def deterministic_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """Seed centroids: the ``n_centroids`` lowest-id vectors. A k-means
    refinement would iterate ivf_assign + per-cell mean; the seed pick
    is deterministic so tests and retries agree."""
    rows = df.orderBy(F.col(id_col)).limit(n_centroids).select(vec_col).collect()
    return np.asarray([list(r[0]) for r in rows], dtype=np.float64)


def kmeans_refine(
    df: DataFrame,
    centroids: np.ndarray,
    n_iter: int = 3,
    vec_col: str = "embedding",
    round_means: int | None = None,
) -> np.ndarray:
    """Spherical k-means (Lloyd) refinement of IVF centroids: assign
    by max cosine, recompute each cell's centroid as the normalized
    mean of its members. The per-cell/per-dimension means come from
    ONE posexplode + hash aggregation per round — C x dim rows reach
    the driver (16 x 64 here), never the data. Empty cells keep their
    previous centroid. The spherical objective (sum of assigned
    cosines, see ivf_objective) is non-decreasing per round — asserted
    in tests.

    ``round_means`` rounds each per-dimension mean to that many
    decimals BEFORE normalization: float sums depend on aggregation
    order, so unrounded centroids differ in low bits run-to-run (and
    engine-to-engine); rounding makes the refined centroids exactly
    reproducible — the property the oracle-checked refined entries
    (catalog knn_ivf_refined) and any persisted refined index rely
    on. Cosine is scale-invariant, so rounding before vs after
    normalization scores identically."""
    c = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    for _ in range(n_iter):
        assigned = ivf_assign(df, c, vec_col)
        rows = (
            assigned.select("cell", F.posexplode(vec_col).alias("pos", "v"))
            .groupBy("cell", "pos")
            .agg(F.avg("v").alias("m"))
            .collect()
        )
        new_c = c.copy()
        seen = set()
        for r in rows:
            m = round(r.m, round_means) if round_means is not None else r.m
            new_c[r.cell][r.pos] = m
            seen.add(r.cell)
        for cell in seen:
            n = np.linalg.norm(new_c[cell])
            if n > 1e-12:
                new_c[cell] /= n
        c = new_c
    return c


def ivf_objective(df: DataFrame, centroids: np.ndarray, vec_col: str = "embedding") -> float:
    """Spherical k-means objective: mean cosine between each vector
    and its assigned centroid (higher is tighter cells -> fewer probes
    needed for a given recall)."""
    norm = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    assigned = ivf_assign(df, norm, vec_col)
    cent = assigned.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(norm)],
        schema="cell int, _centroid array<double>",
    )
    from unified_log_aggregation_and_analytics_spark.functions.vectors import (
        cosine_similarity,
    )

    row = (
        assigned.join(F.broadcast(cent), "cell")
        .agg(F.avg(cosine_similarity(F.col(vec_col), F.col("_centroid"))).alias("obj"))
        .collect()[0]
    )
    return float(row.obj)


def knn_ivf(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    n_probe: int = 4,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """X3 scale path — IVF (inverted-file) ANN: vectors are bucketed by
    nearest centroid; only the ``n_probe`` cells nearest the query are
    scanned. At 100 TB the cell column is precomputed and the table is
    partitioned by it, turning probe selection into partition pruning;
    candidate scoring is the exact brute-force kernel over a small
    fraction of the corpus."""
    if centroids is None:
        centroids = deterministic_centroids(df, n_centroids, vec_col, id_col)
    norm = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    q = np.asarray(query_vec, dtype=np.float64)
    q = q / max(np.linalg.norm(q), 1e-12)
    probe_cells = [int(c) for c in (norm @ q).argsort()[::-1][:n_probe]]
    assigned = ivf_assign(df, centroids, vec_col)
    candidates = assigned.filter(F.col("cell").isin(probe_cells)).drop("cell")
    return knn_brute_force(candidates, query_vec, k, vec_col, id_col)


def ann_lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_bits: int = 8,
    seed: int = 42,
    multiprobe_bits: int = 1,
) -> DataFrame:
    """Approximate top-k: scan only rows whose LSH bucket is within
    ``multiprobe_bits`` Hamming distance of the query's bucket.

    At scale the bucket column is precomputed and partitioned-by, so
    this becomes partition pruning; here it is a filter the scan
    evaluates cheaply (8 fused dot products per row)."""
    planes = lsh_planes(len(query_vec), n_bits, seed)
    q = np.asarray(query_vec, dtype=np.float64)
    q_bucket = int(sum((1 << i) for i, p in enumerate(planes) if float(p @ q) > 0))
    bucket = sign_sketch(vec_col, planes)
    candidates = df.filter(
        F.bit_count(bucket.bitwiseXOR(F.lit(q_bucket))) <= multiprobe_bits
    )
    return knn_brute_force(candidates, query_vec, k, vec_col, id_col)


def knn_batch(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batch kNN: exact top-k cosine neighbors for each of a set of
    query vectors at once — the retrieval-workload shape (many
    queries, one corpus pass) rather than one query per scan.

    The Q query vectors broadcast; every corpus partition scores all
    Q against its rows map-side in one pass (Q×N similarities never
    hit disk). The grouped top-k is a window rank over q_id — with
    small Q the per-query groups are large, so at high Q swap in the
    per-group top-K pattern (q10b) whose shuffle carries only
    candidates ranked ≤ k per partition.
    """
    from pyspark.sql import Window

    from unified_log_aggregation_and_analytics_spark.functions.vectors import (
        cosine_similarity,
    )

    q = emb.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("qe")
    )
    cand = emb.filter(~F.col(id_col).isin(query_ids))
    sims = cand.crossJoin(F.broadcast(q)).select(
        "q_id",
        F.col(id_col),
        F.round(cosine_similarity(F.col(vec_col), F.col("qe")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", id_col, "cos_sim")
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """X3 — per-vector int8 range quantization (the 4× storage
    compression step before a 100 TB vector corpus is indexed):
    ``q_i = floor((x_i - min) / scale + 0.5)`` with
    ``scale = (max - min) / 255``, plus the max absolute
    reconstruction error as a quality certificate.

    floor(v + 0.5) instead of round() keeps half-tie behavior
    identical across engines. Map-only column expressions — no
    shuffle, no Python; the quantized vector is emitted as an md5
    certificate over its comma-joined codes so cross-engine equality
    checks stay cheap.

    Staged behind explode(array(struct(...))) barriers: HOF lambdas
    are interpreted, and a lambda body referencing an outer array
    expression (mn inside the quantize transform) re-evaluates it PER
    ELEMENT once CollapseProject in-lines it — O(dim^2) per row.
    Materializing (e, mn, sc) first, then qv, keeps every pass linear
    (measured 3.5 s -> ~1 s at sf0.1).
    """
    e = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    s1 = df.select(
        id_col,
        F.explode(
            F.array(
                F.struct(
                    e.alias("e"),
                    F.array_min(e).alias("mn"),
                    ((F.array_max(e) - F.array_min(e)) / F.lit(255.0)).alias("sc"),
                )
            )
        ).alias("b1"),
    )
    mn, sc = F.col("b1.mn"), F.col("b1.sc")
    qv = F.when(
        sc == 0, F.transform(F.col("b1.e"), lambda x: F.lit(0).cast("long"))
    ).otherwise(
        F.transform(F.col("b1.e"), lambda x: F.floor((x - mn) / sc + F.lit(0.5)))
    )
    s2 = s1.select(
        id_col,
        F.explode(
            F.array(
                F.struct(
                    F.col("b1.e").alias("e"), mn.alias("mn"), sc.alias("sc"),
                    qv.alias("qv"),
                )
            )
        ).alias("b2"),
    )
    mn2, sc2 = F.col("b2.mn"), F.col("b2.sc")
    err = F.when(sc2 == 0, F.lit(0.0)).otherwise(
        F.array_max(
            F.zip_with(
                F.col("b2.e"), F.col("b2.qv"),
                lambda x, q: F.abs(x - (mn2 + q.cast("double") * sc2)),
            )
        )
    )
    return s2.select(
        id_col,
        F.md5(
            F.concat_ws(
                ",", F.transform(F.col("b2.qv"), lambda x: x.cast("string"))
            ).cast("binary")
        ).alias("q_hash"),
        F.round(err, 6).alias("max_abs_err"),
    )


def sq8_adc_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """X3 — scalar-quantization (SQ8) asymmetric-distance search: the
    search path over the int8-compressed corpus that
    ``quantize_embeddings`` produces. Each corpus vector is stored as
    255-level codes with its own ``(min, scale)`` pair; the float
    query is scored against the RECONSTRUCTED values
    ``min + code * scale`` (asymmetric: query unquantized, corpus
    quantized) with squared L2, rounded to 6 decimals, id tie-break.

    This is the Lucene/FAISS ``SQ8`` storage-compression play: at
    100 TB the embedding column shrinks ~4x (int8 codes + 2 floats
    per vector instead of float32s), so the brute-force scan reads a
    quarter of the bytes while staying embarrassingly parallel
    (map + TakeOrderedAndProject, no shuffle, no Python). Composes
    with IVF cell pruning unchanged — the codes table partitions by
    cell exactly like the PQ codes table.

    Same staged explode(array(struct(...))) barriers as
    ``quantize_embeddings``: interpreted HOF lambdas re-evaluate
    in-lined outer ARRAY expressions per element (O(dim^2) per row);
    materializing (mn, sc) then qv keeps every pass linear. The
    reconstruction lambda only reads scalar struct fields — O(1) per
    element."""
    e = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    s1 = df.select(
        id_col,
        F.explode(
            F.array(
                F.struct(
                    e.alias("e"),
                    F.array_min(e).alias("mn"),
                    ((F.array_max(e) - F.array_min(e)) / F.lit(255.0)).alias("sc"),
                )
            )
        ).alias("b1"),
    )
    mn, sc = F.col("b1.mn"), F.col("b1.sc")
    qv = F.when(
        sc == 0, F.transform(F.col("b1.e"), lambda x: F.lit(0.0))
    ).otherwise(
        F.transform(
            F.col("b1.e"),
            lambda x: F.floor((x - mn) / sc + F.lit(0.5)).cast("double"),
        )
    )
    s2 = s1.select(
        id_col,
        F.explode(
            F.array(F.struct(mn.alias("mn"), sc.alias("sc"), qv.alias("qv")))
        ).alias("b2"),
    )
    # the scoring tail IS the persisted-index scorer: same columns,
    # same fold (double->double cast is a no-op), one code path
    return sq8_score_topk(
        s2.select(
            id_col,
            F.col("b2.mn").alias("mn"),
            F.col("b2.sc").alias("sc"),
            F.col("b2.qv").alias("sq8_codes"),
        ),
        query_vec,
        k=k,
        id_col=id_col,
    )


def sq8_encode(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Throughput-path SQ8 encoding (the pq_encode shape): ``(id, mn
    double, sc double, sq8_codes array<int>, sq8_code binary)`` — the
    binary column is the storage format (1 byte/dim; codes are always
    0..255 because (x - mn)/sc <= 255 by construction). One Arrow
    batch in, vectorized numpy quantization out; no shuffle (fused
    into the scan). The arithmetic — double cast, per-vector
    (min, scale), ``floor(v + 0.5)`` half-ties, sc == 0 -> code 0 —
    mirrors ``sq8_adc_topk``'s JVM expressions step for step (IEEE
    doubles, same operation order), so the persisted codes reproduce
    the scan-time scores exactly (pinned in tests/test_pq.py)."""
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        BinaryType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [StructField(id_col, df.schema[id_col].dataType)]
        + [StructField(c, df.schema[c].dataType) for c in passthrough]
        + [
            StructField("mn", DoubleType()),
            StructField("sc", DoubleType()),
            StructField("sq8_codes", ArrayType(IntegerType())),
            StructField("sq8_code", BinaryType()),
        ]
    )

    def enc(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            mn = X.min(axis=1)
            sc = (X.max(axis=1) - mn) / 255.0
            safe = np.where(sc == 0, 1.0, sc)
            codes = np.floor((X - mn[:, None]) / safe[:, None] + 0.5)
            codes = np.where(sc[:, None] == 0, 0.0, codes).astype(np.int64)
            out = {id_col: pdf[id_col].to_numpy()}
            for c in passthrough:
                out[c] = pdf[c].to_numpy()
            out["mn"] = mn
            out["sc"] = sc
            out["sq8_codes"] = [list(map(int, r)) for r in codes]
            out["sq8_code"] = [bytes(r.astype(np.uint8)) for r in codes]
            yield pd.DataFrame(out)

    return df.select(id_col, *passthrough, vec_col).mapInPandas(enc, out_schema)


def sq8_unpack(bin_col: Column | str, dim: int) -> Column:
    """Decode a byte-packed SQ8 code column back to ``array<int>``
    IN-PLAN (JVM expressions, no Python): hex the binary once, then
    read each byte as two hex chars via substr + conv. Lets the
    persisted index store ONLY the 1-byte/dim binary (the parquet
    byte-array encoding of array<int> costs ~2x the payload in
    offsets/defs — measured ~3x on-disk win binary-only vs dual) while
    probes keep scoring through the same array fold as the scan
    path."""
    c = F.col(bin_col) if isinstance(bin_col, str) else bin_col
    h = F.hex(c)
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.conv(F.substr(h, i * 2 + 1, F.lit(2)), 16, 10).cast("int"),
    )


def sq8_score_topk(
    codes_df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Score persisted SQ8 rows ``(id, mn, sc, sq8_codes)`` against a
    float query: asymmetric squared L2 over the reconstruction
    ``mn + code * sc``, identical fold/round/tie discipline to
    ``sq8_adc_topk`` — whole-stage codegen, TakeOrderedAndProject.
    The lambdas read only scalar row columns (mn, sc), so interpreted
    HOF evaluation stays linear in dim."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    mn, sc = F.col("mn"), F.col("sc")
    dist = F.aggregate(
        F.zip_with(
            F.col("sq8_codes"),
            q,
            lambda c, y: (y - (mn + c.cast("double") * sc))
            * (y - (mn + c.cast("double") * sc)),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        codes_df.select(F.col(id_col), F.round(dist, 6).alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col))
        .limit(k)
    )


def mmr_rerank(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    shortlist: int = 50,
    lam: float = 0.7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """X3 — diversified retrieval via Maximal Marginal Relevance
    (Carbonell & Goldstein, SIGIR'98): greedily pick ``k`` results
    maximizing ``lam * rel(q, d) - (1 - lam) * max sim(d, selected)``
    — the rerank stage every production RAG/retrieval stack runs after
    candidate generation to avoid returning k near-copies.

    Two stages, scale-split exactly like knn_prefix_refine:
    - Distributed: exact top-``shortlist`` cosine scan (one pass over
      the corpus, TakeOrderedAndProject), then the shortlist's
      pairwise similarities via a broadcast self-join — bounded at
      ``shortlist^2`` rows by construction (LIMITed input), every
      similarity a certified round-6 JVM fold.
    - Bounded: the greedy argmax loop runs driver-side over the
      collected (shortlist + pairs) rows — O(k * shortlist) float
      ops on values ALREADY rounded by the JVM, the bounded-model-
      state convention (seed centroids, IVF probe ranking). At any
      corpus size the rerank state is shortlist-sized; only the
      candidate scan grows.

    Determinism: relevance and pair similarities round to 6 decimals
    in the JVM; the greedy score combines them with plain double
    arithmetic (``lam * rel - (1 - lam) * maxsim``, no re-rounding)
    and breaks ties by ascending id — every comparison replayable by
    the DuckDB recursive-CTE oracle with identical IEEE doubles.
    Returns (rank, id, cos_sim) in selection order — min(k, corpus)
    rows; an empty corpus yields an empty frame."""
    spark = df.sparkSession
    id_type = df.schema[id_col].dataType.simpleString()
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    short_rows = (
        df.select(
            F.col(id_col),
            F.col(vec_col),
            F.round(cosine_similarity(F.col(vec_col), q), 6).alias("rel"),
        )
        .orderBy(F.col("rel").desc(), F.col(id_col))
        .limit(shortlist)
        .collect()  # ONE corpus scan; everything below is 50-row state
    )
    if not short_rows:
        return spark.createDataFrame(
            [], schema=f"rank int, {id_col} {id_type}, cos_sim double"
        )
    # Pair similarities still computed by the certified JVM fold — but
    # over a LOCAL 50-row relation rebuilt from the collect (float32
    # -> Python float -> double is exact widening, the same doubles
    # CAST(embedding AS DOUBLE) yields), not by re-scanning the corpus
    # for each join side.
    local = spark.createDataFrame(
        [(r[0], [float(x) for x in r[1]]) for r in short_rows],
        schema=f"{id_col} {id_type}, {vec_col} array<double>",
    )
    a = local.select(F.col(id_col).alias("ia"), F.col(vec_col).alias("ea"))
    b = local.select(F.col(id_col).alias("ib"), F.col(vec_col).alias("eb"))
    pair_rows = (
        a.join(F.broadcast(b), F.col("ia") != F.col("ib"))
        .select(
            "ia",
            "ib",
            F.round(cosine_similarity(F.col("ea"), F.col("eb")), 6).alias("s"),
        )
        .collect()
    )
    rel = {r[0]: float(r[2]) for r in short_rows}
    sims: dict[tuple, float] = {(r.ia, r.ib): float(r.s) for r in pair_rows}
    one_minus = 1.0 - lam

    ordered = sorted(rel, key=lambda i: (-rel[i], i))
    picked = [ordered[0]]
    remaining = set(ordered[1:])
    while len(picked) < min(k, len(ordered)):
        best = min(
            remaining,
            key=lambda c: (
                -(lam * rel[c] - one_minus * max(sims[(c, p)] for p in picked)),
                c,
            ),
        )
        picked.append(best)
        remaining.discard(best)

    return spark.createDataFrame(
        [(i + 1, pid, rel[pid]) for i, pid in enumerate(picked)],
        schema=f"rank int, {id_col} {id_type}, cos_sim double",
    )


def knn_join(
    df: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_bits: int = 4,
    seed: int = 42,
    multiprobe_bits: int | None = None,
    dim: int | None = None,
    margin_probes: int | None = 2,
) -> DataFrame:
    """X3 — corpus-wide approximate kNN JOIN (the kNN-graph builder
    behind dedup clustering, diversity sampling, and graph-based
    curation): every vector gets its top-``k`` most-cosine-similar
    neighbors among vectors whose LSH bucket is within
    ``multiprobe_bits`` Hamming distance of its own.

    Plan shape: the source side replicates into its home bucket plus
    each 1-bit-flip probe bucket (``n_bits + 1`` copies — the standard
    multiprobe trade: bounded replication buys the recall a single
    hash table cannot reach); candidates come from ONE bucket-keyed
    Arrow cogroup against the un-replicated side (each qualifying
    pair matches exactly one probe bucket, so no dedup is needed);
    scoring is a single normalized GEMM per bucket with the
    bucket-local per-src top-k taken inside the kernel (lossless for
    the global top-k precisely because each pair lives in one
    bucket), and one window on the source id over the reduced
    <= (probes+1)*k-per-src stream keeps the final top-k. At 100 TB
    the bucket column is precomputed and both sides shuffle once on
    the uniform bucket key; bucket population stays constant because
    ``n_bits`` tracks log2(corpus), which is also the kernel's
    memory bound — the same scaling story as the LSH dedup's
    per-block GEMM (embedding_near_dup).

    ``n_bits`` sizes bucket granularity: ~log2(corpus / target bucket
    population). Recall vs the exact graph is pinned in tests.

    ``margin_probes`` — the DEFAULT code path since round 8 — is
    query-directed multiprobe: instead of replicating into ALL
    ``n_bits`` 1-bit-flip buckets (replication grows with log2 of the
    corpus), probe only the ``margin_probes`` bits with the smallest
    projection margin — the flips most likely to hide a true
    neighbor. Replication becomes CONSTANT (margin_probes + 1)
    regardless of bucket granularity, which is what lets n_bits track
    corpus growth without the join inflating: at the 10x scale bench
    (n_bits=7) the margin-2 path runs 3.8 s flat vs 12.8 s +-35% for
    all-bit probing, at equal pinned recall floors. Passing
    ``multiprobe_bits`` explicitly (0 = home bucket only, 1 = all
    ``n_bits`` single-bit flips) overrides the margin default and
    selects the exhaustive-probe baseline — the configuration the
    DuckDB oracle (catalog ``knn_join_graph``) models; the margin
    path carries its own oracle (``knn_join_graph_mp``).

    Pass ``dim`` (vector dimensionality) whenever it is known: the
    hyperplanes are generated driver-side from (dim, n_bits, seed),
    and without it the only derivation is a limit-1 scan — a Spark
    job at plan-construction time, a full-scan-first-row on a cold
    100 TB table."""
    from pyspark.sql import Window

    if multiprobe_bits is not None:
        if multiprobe_bits not in (0, 1):
            raise ValueError("multiprobe_bits must be 0 or 1")
        margin_probes = None  # explicit exhaustive/no-probe baseline
    if dim is None:
        row = df.select(vec_col).limit(1).collect()
        if not row:
            raise ValueError("cannot infer dim from an empty frame; pass dim=")
        dim = len(row[0][0])
    planes = lsh_planes(dim, n_bits, seed)

    base = df.select(
        F.col(id_col),
        F.col(vec_col),
        sign_sketch(vec_col, planes).alias("bucket"),
    )
    probes = [F.col("bucket")]
    if margin_probes is not None:
        probes += [
            F.col("bucket").bitwiseXOR(
                F.call_function("shiftleft", F.lit(1).cast("long"), bit_col)
            )
            for bit_col in margin_probe_bits(vec_col, planes, margin_probes)
        ]
    elif multiprobe_bits == 1:
        probes += [
            F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(n_bits)
        ]
    left = base.select(
        F.col(id_col).alias("src"),
        F.col(vec_col).alias("_v1"),
        F.explode(F.array(*probes)).alias("bucket"),
    )
    right = base.select(
        F.col(id_col).alias("nbr"),
        F.col(vec_col).alias("_v2"),
        "bucket",
    )

    # Pair scoring + per-bucket partial top-k as ONE Arrow cogroup
    # GEMM kernel (r14; the embedding_near_dup pattern). The previous
    # form scored every candidate pair through the interpreted HOF
    # fold dot product and shuffled the full pair stream into the
    # top-k window — profiled at 10x rows / n_bits=7 the fold was 82%
    # of wall-clock (7.5 s of 9.2 s). One normalized GEMM per bucket
    # scores the same pairs in BLAS, and because every qualifying
    # pair matches exactly ONE probe bucket, keeping each src's
    # bucket-local top-k is lossless for the global top-k — the
    # window downstream sees <= (probes+1)*k rows per src instead of
    # every candidate pair. Measured: 10x allbits 7.8 -> 1.7 s, 10x
    # margin-2 4.3 -> 2.0 s, row-identical at every scale factor and
    # probe policy (and the kernel reproduces the window's exact
    # ordering: stable argsort over nbr-sorted columns = (cos_sim
    # DESC, nbr ASC); NaN keyed -inf = Spark's NaN-greatest).
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    id_type = df.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("src", id_type),
            StructField("nbr", id_type),
            StructField("cos_sim", DoubleType()),
        ]
    )

    def _bucket_topk(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if len(lpdf) == 0 or len(rpdf) == 0:
            return pd.DataFrame({"src": [], "nbr": [], "cos_sim": []})
        src_all = lpdf["src"].to_numpy()
        v1_all = np.stack(lpdf["_v1"].to_numpy()).astype(np.float64)
        nbr = rpdf["nbr"].to_numpy()
        v2 = np.stack(rpdf["_v2"].to_numpy()).astype(np.float64)
        src_rep, nbr_sel, cos = _gemm_bucket_topk(
            src_all, v1_all, nbr, v2, k, _GEMM_BLOCK_CELLS
        )
        return pd.DataFrame({"src": src_rep, "nbr": nbr_sel, "cos_sim": cos})

    reduced = (
        left.groupBy("bucket")
        .cogroup(right.groupBy("bucket"))
        .applyInPandas(_bucket_topk, schema=out_schema)
    )
    w = Window.partitionBy("src").orderBy(F.col("cos_sim").desc(), F.col("nbr"))
    return (
        reduced.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def hard_negatives(
    emb: DataFrame,
    anchor_ids: list[int],
    k: int = 5,
    max_sim: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """X3 — hard-negative mining for contrastive / embedding training:
    for each anchor vector, the top-``k`` most-similar corpus vectors
    whose label DIFFERS from the anchor's, capped at ``max_sim``
    (near-identical cross-label vectors are far more often unlabeled
    positives or duplicates than informative negatives — the standard
    false-negative guard).

    Plan shape = knn_batch with the label-inequality predicate fused
    into the map-side scoring pass: the anchor set broadcasts
    (id, vector, label), every corpus partition scores its rows
    against all anchors in one pass, the label filter and similarity
    ceiling prune BEFORE the per-anchor rank window, so the shuffle
    carries only surviving candidates. At 100 TB the corpus side
    swaps for a persisted-IVF probe (ann_index) with the same
    label-filter predicate pushed into the cell scan — the
    ranking/ceiling tail of the plan is unchanged.
    """
    from pyspark.sql import Window

    from unified_log_aggregation_and_analytics_spark.functions.vectors import (
        cosine_similarity,
    )

    q = emb.filter(F.col(id_col).isin(anchor_ids)).select(
        F.col(id_col).alias("anchor_id"),
        F.col(vec_col).alias("qe"),
        F.col(label_col).alias("q_label"),
    )
    cand = emb.filter(~F.col(id_col).isin(anchor_ids))
    sims = (
        cand.crossJoin(F.broadcast(q))
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
