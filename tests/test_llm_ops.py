"""Unit tests for the LLM-pipeline operator family (SURVEY.md §2.8):
dedup (exact / minhash / simhash / embedding-cosine) and similarity
search (brute force / LSH / IVF). Small-data correctness here; the
DuckDB oracle gate covers the full catalog at sf0.01.
"""

from __future__ import annotations

import hashlib

import pytest

from pyspark.sql import functions as F

from unified_log_aggregation_and_analytics_spark.operators import dedup as D
from unified_log_aggregation_and_analytics_spark.operators import similarity as S
from unified_log_aggregation_and_analytics_spark.sources.batch import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, "documents", SF).cache()


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, "embeddings", SF).cache()


def test_minhash_signature_matches_python_reference(spark, docs):
    """mh_k = min over distinct shingles of md5(str(k) || shingle)."""
    row = docs.orderBy("doc_id").first()
    out = (
        D.minhash_signature(docs.filter(F.col("doc_id") == row.doc_id), num_hashes=4)
        .collect()[0]
        .asDict()
    )
    import re

    toks = re.split(r"\s+", row.text)
    sh = list(dict.fromkeys(
        " ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 1))
    ))
    for k in range(1, 5):
        expect = min(hashlib.md5((str(k) + s).encode()).hexdigest() for s in sh)
        assert out[f"mh{k}"] == expect, f"mh{k}"


def test_minhash_identical_docs_collide(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "an entirely different document about spark engines")],
        ["doc_id", "text"],
    )
    sig = D.minhash_signature(df, num_hashes=8, hash_fn="xxhash64")
    pairs = D.minhash_lsh_candidates(sig, num_hashes=8, band_size=2).collect()
    assert (1, 2) in [(r.id_a, r.id_b) for r in pairs]


def test_simhash_bit_math_python_reference(spark):
    """Fingerprint bit b set iff majority of distinct-token hashes have
    bit b set. Cross-check one row against the JVM xxhash64 via SQL."""
    df = spark.createDataFrame([(1, "alpha beta gamma alpha")], ["doc_id", "text"])
    got = D.simhash64(df).collect()[0].simhash
    toks = ["alpha", "beta", "gamma"]
    hs = [
        spark.sql(f"SELECT xxhash64('{t}') AS h").collect()[0].h for t in toks
    ]
    expect = 0
    for b in range(64):
        ones = sum(((h >> b) & 1) for h in hs)
        if ones * 2 > len(hs):
            expect |= 1 << b
    assert got & (2**64 - 1) == expect  # simhash is a signed long


def test_simhash_identical_docs_zero_hamming(spark):
    """Identical text -> identical fingerprint; token order and repeats
    don't matter (votes are over DISTINCT tokens)."""
    df = spark.createDataFrame(
        [(1, "spark is a unified analytics engine"),
         (2, "engine analytics unified a is spark spark"),
         (3, "completely unrelated text about gardening and tomatoes")],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r.simhash for r in D.simhash64(df).collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]


def test_embedding_near_dup_matches_bruteforce(spark, emb):
    """Blocked pairs == brute-force pairs restricted to the block."""
    got = {
        (r.id_a, r.id_b)
        for r in D.embedding_near_dup(emb, threshold=0.3).collect()
    }
    import numpy as np

    rows = emb.select("vec_id", "embedding", "label").collect()
    by_label: dict[int, list] = {}
    for r in rows:
        by_label.setdefault(r.label, []).append((r.vec_id, np.asarray(r.embedding, dtype=np.float64)))
    expect = set()
    for vs in by_label.values():
        for i in range(len(vs)):
            for j in range(i + 1, len(vs)):
                (ia, va), (ib, vb) = vs[i], vs[j]
                cs = round(float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))), 6)
                if cs >= 0.3:
                    expect.add((min(ia, ib), max(ia, ib)))
    assert got == expect


def _brute_ids(emb, qv, k=10):
    return [r.vec_id for r in S.knn_brute_force(emb.filter(F.col("vec_id") != 0), qv, k=k).collect()]


@pytest.fixture(scope="module")
def query_vec(emb):
    return list(emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0])


def test_ann_lsh_recall(spark, emb, query_vec):
    exact = set(_brute_ids(emb, query_vec))
    approx = {
        r.vec_id
        for r in S.ann_lsh_topk(emb.filter(F.col("vec_id") != 0), query_vec, k=10).collect()
    }
    assert len(exact & approx) >= 3  # multiprobe 8-bit LSH on 500 vecs


def test_knn_ivf_recall_and_determinism(spark, emb, query_vec):
    exact = set(_brute_ids(emb, query_vec))
    run1 = [
        (r.vec_id, r.cos_sim)
        for r in S.knn_ivf(emb.filter(F.col("vec_id") != 0), query_vec, k=10, n_probe=8).collect()
    ]
    run2 = [
        (r.vec_id, r.cos_sim)
        for r in S.knn_ivf(emb.filter(F.col("vec_id") != 0), query_vec, k=10, n_probe=8).collect()
    ]
    assert run1 == run2
    assert len(exact & {v for v, _ in run1}) >= 5  # 8 of 16 cells probed


def test_exact_dedup_counts(spark):
    df = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, "other")], ["doc_id", "text"]
    )
    out = {r.keep_id: r.n_copies for r in D.exact_dedup(df).collect()}
    assert out == {1: 2, 3: 1}


def test_token_index_search_equals_scan(spark, docs):
    """Q2: the inverted-index AND search returns exactly the rows the
    brute-force tokenized scan returns."""
    from unified_log_aggregation_and_analytics_spark.operators import relational as R

    terms = ["the", "data"]
    idx = R.build_token_index(docs)
    via_index = {r.doc_id for r in R.token_index_search(docs, idx, terms).collect()}
    toks = F.split(F.lower(F.col("text")), r"\s+")
    scan = docs.filter(
        F.array_contains(toks, terms[0]) & F.array_contains(toks, terms[1])
    )
    via_scan = {r.doc_id for r in scan.collect()}
    assert via_index == via_scan and len(via_index) > 0


def test_rolling_fingerprint_chain(spark):
    """fp_roll == xxhash64(xxhash64(xxhash64(0,'a'),'b'),'c') for 'a b c',
    and is order-sensitive where the set-based md5 fingerprint is not."""
    from unified_log_aggregation_and_analytics_spark.operators import text as X

    df = spark.createDataFrame([(1, "a b c"), (2, "c b a")], ["doc_id", "text"])
    got = {r.doc_id: r.fp_roll for r in X.rolling_fingerprint(df).collect()}
    expect = spark.sql(
        "SELECT xxhash64(xxhash64(xxhash64(CAST(0 AS BIGINT),'a'),'b'),'c') AS h"
    ).collect()[0].h
    assert got[1] == expect
    assert got[1] != got[2]  # order-sensitive

    # md5-chain twin: Python-reference parity + the same order
    # sensitivity (the oracle-checkable variant, text_fingerprint_md5)
    import hashlib

    def md5_chain(toks):
        acc = "0" * 16
        for t in toks:
            acc = hashlib.md5((acc + t).encode()).hexdigest()[:16]
        return acc

    got5 = {
        r.doc_id: r.fp_roll
        for r in X.rolling_fingerprint(df, hash_fn="md5").collect()
    }
    assert got5[1] == md5_chain(["a", "b", "c"])
    assert got5[2] == md5_chain(["c", "b", "a"])
    assert got5[1] != got5[2]


def test_hash_split_stable_and_proportional(spark, docs):
    """Split membership is a pure function of doc_id (identical across
    runs/partitionings) and proportions land near the weights."""
    from unified_log_aggregation_and_analytics_spark.operators.sampling import hash_split

    a = {r.doc_id: r.split for r in hash_split(docs).collect()}
    b = {r.doc_id: r.split for r in hash_split(docs.repartition(7)).collect()}
    assert a == b
    n = len(a)
    from collections import Counter

    c = Counter(a.values())
    assert 0.7 < c["train"] / n < 0.9
    assert 0.05 < c["val"] / n < 0.15
    assert 0.05 < c["test"] / n < 0.15


def test_connected_components_matches_union_find(spark):
    """Label propagation fixpoint == classic union-find clusters."""
    edges = [(1, 2), (2, 3), (4, 5), (7, 8), (8, 9), (9, 1)]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r.id: r.cluster_id for r in D.connected_components(pairs).collect()}

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {x: find(x) for x in parent}
    assert got == expect
    # 1-2-3-7-8-9 form one cluster rooted at 1; 4-5 another at 4
    assert got[9] == 1 and got[5] == 4


def test_kmeans_refine_improves_objective(spark, tmp_path):
    """Spherical-k-means refinement must not worsen the clustering
    objective (mean cosine to assigned centroid) — the Lloyd
    guarantee — and the refined index must still answer probes."""
    from pyspark.sql import functions as F

    from unified_log_aggregation_and_analytics_spark.operators import ann_index as A
    from unified_log_aggregation_and_analytics_spark.operators import similarity as S
    from unified_log_aggregation_and_analytics_spark.sources.batch import load_table

    emb = load_table(spark, "embeddings", SF).filter(F.col("vec_id") != 0)
    seed = S.deterministic_centroids(emb, 8)
    refined = S.kmeans_refine(emb, seed, n_iter=2)
    before = S.ivf_objective(emb, seed)
    after = S.ivf_objective(emb, refined)
    assert after >= before - 1e-9, f"objective worsened: {before} -> {after}"

    path = str(tmp_path / "ivf_refined")
    A.build_ivf_index(emb, path, n_centroids=8, refine_iters=2)
    qv = [
        float(x)
        for x in load_table(spark, "embeddings", SF)
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .first()[0]
    ]
    got = A.ivf_probe(spark, path, qv, k=5, n_probe=3).collect()
    assert len(got) == 5


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """The 100 TB profile: reliable checkpoint() (survives executor
    loss) must produce the identical fixpoint as localCheckpoint."""
    edges = [(1, 2), (2, 3), (4, 5), (7, 8), (8, 9), (9, 1)]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    local = {r.id: r.cluster_id for r in D.connected_components(pairs).collect()}
    reliable = {
        r.id: r.cluster_id
        for r in D.connected_components(pairs, reliable_checkpoint=True).collect()
    }
    assert reliable == local


def test_connected_components_nonconvergence_raises(spark):
    """Hitting max_iterations with labels still moving must be loud:
    partial clusters are silently wrong for dedup. A 6-node path graph
    needs ~3 min-label rounds; 1 iteration cannot converge."""
    import pytest as _pytest

    chain = [(i, i + 1) for i in range(1, 7)]
    pairs = spark.createDataFrame(chain, ["id_a", "id_b"])
    with _pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(pairs, max_iterations=1)


def test_ngram_jaccard_df_cap(spark):
    """max_shingle_df drops boilerplate postings: docs that only share
    a corpus-wide shingle lose their pair; genuinely similar docs
    (sharing rare shingles) keep theirs."""
    boiler = "terms of service apply"
    rows = [
        (1, f"alpha beta gamma delta {boiler}", "en"),
        (2, f"alpha beta gamma epsilon {boiler}", "en"),
        (3, f"totally unrelated words here {boiler}", "en"),
        (4, f"different things entirely now {boiler}", "en"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    uncapped = {
        (r.doc_a, r.doc_b)
        for r in D.ngram_jaccard_pairs(df, "lang", threshold=0.01).collect()
    }
    capped = {
        (r.doc_a, r.doc_b)
        for r in D.ngram_jaccard_pairs(
            df, "lang", threshold=0.01, max_shingle_df=3
        ).collect()
    }
    assert (1, 2) in capped  # rare-shingle pair survives
    assert capped < uncapped  # boilerplate-only pairs dropped


def test_pack_contiguous_boundaries(spark):
    """Pack index advances exactly when the running sum crosses the
    budget; packs never interleave across the partition column."""
    from unified_log_aggregation_and_analytics_spark.operators.sampling import pack_contiguous

    rows = [(i, "a", 40 * (i + 1)) for i in range(6)] + [(10, "b", 4)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    out = {r.doc_id: r for r in pack_contiguous(df, budget=25).collect()}
    # tok_est = ceil(n_chars/4): a-side 10,20,30,40,50,60; cum 10,30,60,100,150,210
    assert [out[i].pack_id for i in range(6)] == [0, 1, 2, 3, 5, 8]
    assert out[10].pack_id == 0 and out[10].cum_tokens == 1


def test_pii_scrub_masks_and_counts(spark):
    from unified_log_aggregation_and_analytics_spark.operators.text import pii_scrub

    df = spark.createDataFrame(
        [
            (1, "mail a@b.io and c.d+e@f-g.co.uk now"),
            (2, "call 5551234 or 12 ext 9999"),
            (3, "clean text only"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in pii_scrub(df).collect()}
    assert (out[1].n_emails, out[1].n_nums) == (2, 0)
    assert (out[2].n_emails, out[2].n_nums) == (0, 2)
    assert (out[3].n_emails, out[3].n_nums) == (0, 0)
    import hashlib as _h

    assert out[2].clean_hash == _h.md5(b"call <NUM> or 12 ext <NUM>").hexdigest()


def test_contamination_overlap_counts_and_plan(spark):
    train = spark.createDataFrame(
        [(1, "p q r s"), (2, "x y z w")], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(100, "q r s t u")], "doc_id long, text string")
    out = {r.doc_id: r for r in D.contamination_overlap(train, bench).collect()}
    # doc 1 shingles {p q r, q r s}; bench has {q r s, r s t, s t u} -> 1 hit
    assert (out[1].n_shingles, out[1].n_overlap) == (2, 1)
    assert (out[2].n_shingles, out[2].n_overlap) == (2, 0)
    plan = D.contamination_overlap(train, bench)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_bigram_lm_score_matches_python_reference(spark):
    """Add-k bigram NLL on a tiny corpus vs a plain-Python model:
    same counts, same smoothing, same mean (round-6). Also pins that
    sub-2-token documents drop out and an external reference corpus
    changes the model (unseen bigrams get the k/(k·V) floor)."""
    import math

    from unified_log_aggregation_and_analytics_spark.operators.text import (
        bigram_lm_score,
    )

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat"),
        (3, "zz"),  # single token: no bigrams, must be absent
        (4, "purple monkey dishwasher purple monkey"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in bigram_lm_score(df).collect()}
    assert 3 not in got

    # python reference
    toks = {i: t.lower().split() for i, t in rows}
    bigrams = {i: list(zip(ts, ts[1:])) for i, ts in toks.items() if len(ts) >= 2}
    from collections import Counter

    bc = Counter(b for bs in bigrams.values() for b in bs)
    uc = Counter(b[0] for bs in bigrams.values() for b in bs)
    vocab = len({t for ts in toks.values() for t in ts})
    for i, bs in bigrams.items():
        nll = [-math.log((bc[b] + 0.5) / (uc[b[0]] + 0.5 * vocab)) for b in bs]
        assert got[i].n_bigrams == len(bs)
        assert got[i].avg_nll == round(sum(nll) / len(nll), 6)

    # external LM: doc 4's bigrams are unseen -> every one at the floor
    lm = spark.createDataFrame(rows[:2], ["doc_id", "text"])
    ext = {r.doc_id: r for r in bigram_lm_score(df, lm_df=lm).collect()}
    lm_uc = Counter(b[0] for i in (1, 2) for b in bigrams[i])
    lm_vocab = len({t for i in (1, 2) for t in toks[i]})
    floor = -math.log(0.5 / (0.5 * lm_vocab))
    assert ext[4].avg_nll == round(floor, 6)


def test_rrf_hybrid_search_self_consistent(spark, docs, emb):
    """Hybrid RRF fusion invariants on the fixtures: every fused hit
    comes from one of the candidate lists, the fused score is exactly
    the RRF formula over the returned ranks, and output order is
    (score DESC, id)."""
    from unified_log_aggregation_and_analytics_spark.operators import (
        relational as R,
    )
    from unified_log_aggregation_and_analytics_spark.operators import (
        similarity as S,
    )

    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()[1]]
    corpus = emb.filter(F.col("vec_id") != 0)
    terms = ["merge", "spark", "vector"]
    out = R.rrf_hybrid_search(docs, corpus, terms, qv, k=10, n_candidates=20).collect()
    assert out, "hybrid search returned nothing on the fixture"

    lex_ids = [r[0] for r in R.bm25_search(docs, terms, k=20).collect()]
    sem_ids = [r[0] for r in S.knn_brute_force(corpus, qv, k=20).collect()]
    lex_rank = {d: i + 1 for i, d in enumerate(lex_ids)}
    sem_rank = {d: i + 1 for i, d in enumerate(sem_ids)}
    for r in out:
        assert r.doc_id in lex_rank or r.doc_id in sem_rank
        assert r.lex_rank == lex_rank.get(r.doc_id)
        assert r.sem_rank == sem_rank.get(r.doc_id)
        expect = round(
            (1.0 / (60 + r.lex_rank) if r.lex_rank else 0.0)
            + (1.0 / (60 + r.sem_rank) if r.sem_rank else 0.0),
            6,
        )
        assert r.rrf_score == expect
    keys = [(-r.rrf_score, r.doc_id) for r in out]
    assert keys == sorted(keys)


def test_tfidf_top_prefers_rare_terms(spark):
    from unified_log_aggregation_and_analytics_spark.operators.text import tfidf_top_terms

    df = spark.createDataFrame(
        [(1, "common rare common"), (2, "common common plain"), (3, "common other")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.term for r in tfidf_top_terms(df).collect()}
    # 'common' appears in every doc (idf = 0); doc-unique terms win.
    assert out == {1: "rare", 2: "plain", 3: "other"}


def test_stratified_sample_deterministic_and_rate_bounded(spark, docs):
    from unified_log_aggregation_and_analytics_spark.operators.sampling import (
        stratified_hash_sample,
    )

    rates = {"en": 30, "zh": 60, "de": 100, "fr": 100, "es": 100}
    a = {r.doc_id for r in stratified_hash_sample(docs, rates).select("doc_id").collect()}
    b = {
        r.doc_id
        for r in stratified_hash_sample(docs.repartition(7), rates).select("doc_id").collect()
    }
    assert a == b  # membership survives repartitioning
    full = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    kept = {
        r.lang: r.n
        for r in stratified_hash_sample(docs, rates)
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert kept.get("de", 0) == full["de"]  # 100% strata keep everything
    assert kept.get("en", 0) < full["en"]  # downsampled stratum shrinks


def test_quota_sample_exact_per_stratum(spark, docs):
    from unified_log_aggregation_and_analytics_spark.operators.sampling import quota_sample

    out = quota_sample(docs, 5).groupBy("lang").agg(F.count("*").alias("n"))
    sizes = {r.lang: r.n for r in out.collect()}
    full = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n in sizes.items():
        assert n == min(5, full[lang])


def test_knn_batch_agrees_with_single_query(spark, emb):
    single = {
        (r.vec_id, r.cos_sim)
        for r in S.knn_brute_force(
            emb.filter(F.col("vec_id") != 0),
            [row[0] for row in emb.filter(F.col("vec_id") == 0).select("embedding").collect()][0],
            k=5,
        ).collect()
    }
    batch = {
        (r.vec_id, r.cos_sim)
        for r in S.knn_batch(emb, query_ids=[0], k=5).filter(F.col("q_id") == 0).collect()
    }
    assert batch == single


def test_repetition_stats_hand_computed(spark):
    from unified_log_aggregation_and_analytics_spark.operators.text import repetition_stats

    # "a a b c": 4 tokens, 3 uniq, top count 2; bigrams (a,a)(a,b)(b,c)
    # all distinct -> dup_bigram_frac 0.  "x x x x": 4 tokens, 1 uniq;
    # bigrams (x,x)x3 -> 2/3 duplicated.
    df = spark.createDataFrame(
        [(1, "a a b c"), (2, "x x x x"), (3, "solo")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert rows[1].n_tokens == 4
    assert rows[1].dup_word_frac == pytest.approx(0.25)
    assert rows[1].top_word_frac == pytest.approx(0.5)
    assert rows[1].dup_bigram_frac == pytest.approx(0.0)
    assert rows[2].dup_word_frac == pytest.approx(0.75)
    assert rows[2].dup_bigram_frac == pytest.approx(2 / 3)
    # single-token doc: no bigrams, guarded division
    assert rows[3].n_tokens == 1 and rows[3].dup_bigram_frac == 0.0


def test_quality_filter_rules_and_order(spark):
    from unified_log_aggregation_and_analytics_spark.operators.text import quality_filter

    long_varied = " ".join(f"w{i}" for i in range(40))
    repetitive = " ".join(["dup"] * 40)
    df = spark.createDataFrame(
        [(1, "too short"), (2, repetitive), (3, long_varied)],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in quality_filter(df).collect()}
    assert rows[1].verdict == "too_short" and not rows[1].kept
    assert rows[2].verdict == "dup_words" and not rows[2].kept  # first failed rule
    assert rows[3].verdict == "keep" and rows[3].kept


def test_chunk_dedup_finds_shared_boilerplate(spark):
    boiler = " ".join(f"b{i}" for i in range(20))
    uniq_a = " ".join(f"a{i}" for i in range(20))
    uniq_b = " ".join(f"c{i}" for i in range(20))
    # boilerplate chunk leads two different documents
    df = spark.createDataFrame(
        [(10, f"{boiler} {uniq_a}"), (20, f"{boiler} {uniq_b}")],
        "doc_id long, text string",
    )
    out = D.chunk_dedup(df).collect()
    by_copies = sorted((r.n_copies, r.n_docs, r.keep_doc) for r in out)
    assert len(out) == 3  # boiler (shared) + two unique tails
    assert by_copies[-1] == (2, 2, 10)  # shared chunk seen in both docs
    expect = hashlib.md5(boiler.encode()).hexdigest()
    assert any(r.chunk_hash == expect and r.n_copies == 2 for r in out)


def test_quantize_int8_hand_computed_and_error_bound(spark, emb):
    # [0, 1, 2]: mn=0, scale=2/255, codes floor(x*255/2+0.5) -> 0,128,255
    df = spark.createDataFrame([(1, [0.0, 1.0, 2.0]), (2, [3.0, 3.0, 3.0])],
                               "vec_id long, embedding array<float>")
    rows = {r.vec_id: r for r in S.quantize_embeddings(df).collect()}
    expect = hashlib.md5(b"0,128,255").hexdigest()
    assert rows[1].q_hash == expect
    assert rows[1].max_abs_err <= (2 / 255) / 2 + 1e-6  # +quantum: err is rounded to 6dp
    # constant vector: scale 0 guard -> all-zero codes, zero error
    assert rows[2].q_hash == hashlib.md5(b"0,0,0").hexdigest()
    assert rows[2].max_abs_err == 0.0
    # real corpus: reconstruction error bounded by half a step
    out = S.quantize_embeddings(emb).agg(F.max("max_abs_err")).collect()[0][0]
    step = 2.0 / 255  # embeddings are unit-ish; generous bound
    assert out <= step / 2 + 1e-6


def test_mixture_sample_binding_stratum_and_determinism(spark, docs):
    from unified_log_aggregation_and_analytics_spark.operators.sampling import mixture_sample

    w = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    out = mixture_sample(docs, w)
    got = {r.source: r.n for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    full = {r.source: r.n for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # only weighted sources survive
    assert set(got) <= set(w)
    # binding stratum (largest w/n ratio) keeps every row: uniform
    # counts -> src0 has the max weight, so it binds
    assert got["src0"] == full["src0"]
    # no stratum oversampled, and the mix leans toward the weights
    assert got["src1"] <= full["src1"] and got["src2"] <= full["src2"]
    assert got["src2"] <= got["src1"] <= got["src0"]
    # pure function of (id, weights, counts): identical on rerun
    assert sorted(r.doc_id for r in out.collect()) == sorted(
        r.doc_id for r in mixture_sample(docs, w).collect()
    )


def test_training_pipeline_composition_properties(spark, docs):
    import __spark_entry__ as entry

    out = entry.queries()["docs_training_pipeline"](spark, SF)
    joined = out.join(docs.select("doc_id", "text"), "doc_id")
    # dedup stage: no two surviving docs share a text
    n = joined.count()
    assert joined.select("text").distinct().count() == n
    # filter stage: every survivor passes the quality filter
    from unified_log_aggregation_and_analytics_spark.operators.text import quality_filter
    bad = out.join(quality_filter(docs).filter(~F.col("kept")), "doc_id").count()
    assert bad == 0
    # split stage: only the three labels, all non-empty at this SF
    labels = {r.split for r in out.select("split").distinct().collect()}
    assert labels == {"train", "val", "test"}


def test_ivf_refined_recall_not_worse(spark, emb):
    """VERDICT r3 item 9 closure: rounded-mean refined centroids
    (round_means=6, the oracle-reproducible form) must not lose
    recall@10 vs the seed centroids, aggregated over several queries.
    Tighter cells are the point of refinement — this pins it."""
    corpus = emb.filter(F.col("vec_id") >= 4)
    queries = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") < 4).select("vec_id", "embedding").collect()
    ]
    seeds = S.deterministic_centroids(corpus, 16)
    refined = S.kmeans_refine(corpus, seeds, n_iter=1, round_means=6)

    def recall(centroids) -> int:
        hits = 0
        for _, qv in queries:
            exact = set(_brute_ids(corpus, qv))
            got = {
                r.vec_id
                for r in S.knn_ivf(corpus, qv, k=10, centroids=centroids).collect()
            }
            hits += len(exact & got)
        return hits

    r_seed, r_refined = recall(seeds), recall(refined)
    assert r_refined >= r_seed, f"refined recall {r_refined} < seed {r_seed}"
    # determinism of the rounded refinement: same centroids both runs
    import numpy as np

    again = S.kmeans_refine(corpus, seeds, n_iter=1, round_means=6)
    assert np.array_equal(refined, again)


def test_margin_probe_bit_matches_reference(spark, emb):
    """The query-directed probe bit (smallest |projection| hyperplane)
    matches a left-assoc-fold Python reference exactly — the same
    accumulation order the Spark HOF fold and the DuckDB oracle
    literal chain use, so all three agree bit-for-bit."""
    planes = S.lsh_planes(64, 4, 42)
    got = emb.select(
        "vec_id",
        S.margin_probe_bits("embedding", planes, 1)[0].alias("bit"),
    ).collect()
    vecs = {r[0]: list(r[1]) for r in emb.select("vec_id", "embedding").collect()}
    for r in got:
        margins = []
        for plane in planes:
            acc = 0.0
            for x, p in zip(vecs[r.vec_id], plane):
                acc += float(x) * float(p)
            margins.append(abs(acc))
        assert r.bit == margins.index(min(margins))


def test_knn_join_margin_probe_recall_ordering(spark, emb):
    """Probe-policy recall is ordered: no-probe <= margin-1 <=
    all-bit multiprobe (the margin probe is the single most valuable
    flip, and all-bit probing includes it). Also pins that margin
    probing replicates each source exactly twice — constant
    replication is the policy's entire point."""
    import numpy as np
    from collections import defaultdict

    rows = [(r[0], list(r[1])) for r in emb.select("vec_id", "embedding").collect()]
    ids = [i for i, _ in rows]
    m = np.array([v for _, v in rows], dtype=np.float64)
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = m @ m.T
    np.fill_diagonal(sims, -np.inf)
    idx = {i: j for j, i in enumerate(ids)}
    exact = {
        i: {ids[j] for j in np.argsort(sims[idx[i]])[::-1][:5]} for i in ids
    }

    def recall(**kw):
        got = defaultdict(set)
        for r in S.knn_join(emb, k=5, n_bits=4, dim=64, **kw).collect():
            got[r.src].add(r.nbr)
        return sum(len(exact[i] & got.get(i, set())) for i in ids) / (5 * len(ids))

    r_none = recall(multiprobe_bits=0)
    r_margin = recall(margin_probes=1)
    r_full = recall(multiprobe_bits=1)
    assert r_none <= r_margin <= r_full, (r_none, r_margin, r_full)
    assert r_margin > r_none, "margin probe added no recall on clustered fixture"


def test_knn_join_recall_vs_exact_graph(spark, emb):
    """The LSH kNN join's neighbor sets overlap the exact kNN graph's:
    mean recall@5 over all nodes clears a floor (same-bucket
    approximation; the embeddings fixture is label-clustered, so
    bucket cohesion is realistic), and every returned neighbor list
    is correctly ordered by cosine."""
    from collections import defaultdict

    got = defaultdict(list)
    # multiprobe_bits=1 pins the exhaustive all-bit baseline this
    # test's 0.35 floor was calibrated on; the default (margin-2)
    # path probes 3 of 5 buckets at n_bits=4 and is floored below.
    for r in S.knn_join(emb, k=5, n_bits=4, multiprobe_bits=1).collect():
        got[r.src].append((r.cos_sim, r.nbr))

    # exact graph via per-bucketless all-pairs in python (500 vectors)
    rows = [(r[0], list(r[1])) for r in emb.select("vec_id", "embedding").collect()]
    import numpy as np

    ids = [i for i, _ in rows]
    m = np.array([v for _, v in rows], dtype=np.float64)
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = m @ m.T
    np.fill_diagonal(sims, -np.inf)
    hits = total = 0
    idx = {i: j for j, i in enumerate(ids)}
    for src, nbrs in got.items():
        exact = {ids[j] for j in np.argsort(sims[idx[src]])[::-1][:5]}
        hits += len(exact & {n for _, n in nbrs})
        total += 5
        assert [c for c, _ in nbrs] == sorted((c for c, _ in nbrs), reverse=True)
    assert total > 0
    assert hits / total >= 0.35, f"kNN-join recall {hits/total:.2f} below floor"


def test_knn_join_gemm_kernel_matches_expression_reference(spark, emb):
    """The r14 per-bucket GEMM kernel inside knn_join reproduces the
    retired pair-expression form EXACTLY — same pairs, same rounded
    scores, same (cos_sim DESC, nbr ASC) tie order, self-pairs
    excluded. The reference below IS the retired implementation
    (bucket equi-join + HOF-fold cosine + one global window), run on
    the same fixture, plus an engineered-tie fixture (duplicated
    vectors force exact cos_sim ties so the nbr tiebreak is what is
    being compared)."""
    from pyspark.sql import Window

    from unified_log_aggregation_and_analytics_spark.functions.vectors import (
        dot as _dot,
        l2_norm as _l2,
    )
    from unified_log_aggregation_and_analytics_spark.operators.similarity import (
        lsh_planes,
        sign_sketch,
    )

    def reference(df, k, n_bits, dim):
        planes = lsh_planes(dim, n_bits, 42)
        base = df.select(
            F.col("vec_id"),
            F.col("embedding"),
            sign_sketch("embedding", planes).alias("bucket"),
            _l2("embedding").alias("_nrm"),
        )
        probes = [F.col("bucket")] + [
            F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(n_bits)
        ]
        left = base.select(
            F.col("vec_id").alias("src"),
            F.col("embedding").alias("_v1"),
            F.col("_nrm").alias("_n1"),
            F.explode(F.array(*probes)).alias("bucket"),
        )
        right = base.select(
            F.col("vec_id").alias("nbr"),
            F.col("embedding").alias("_v2"),
            F.col("_nrm").alias("_n2"),
            "bucket",
        )
        scored = (
            left.join(right, "bucket")
            .filter(F.col("src") != F.col("nbr"))
            .select(
                "src",
                "nbr",
                F.round(
                    _dot(F.col("_v1"), F.col("_v2"))
                    / (F.col("_n1") * F.col("_n2")),
                    6,
                ).alias("cos_sim"),
            )
        )
        w = Window.partitionBy("src").orderBy(F.col("cos_sim").desc(), F.col("nbr"))
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .drop("rn")
        )

    def rows(df):
        return [tuple(r) for r in df.orderBy("src", "cos_sim", "nbr").collect()]

    got = rows(S.knn_join(emb, k=5, n_bits=4, dim=64, multiprobe_bits=1))
    want = rows(reference(emb, k=5, n_bits=4, dim=64))
    assert got == want and len(got) > 0

    # duplicated vectors -> exact cos_sim ties; odd row count -> one
    # src whose bucket holds fewer than k+1 candidates
    tie_rows = [
        (i, [float((i % 3) + 1), float((i // 3) % 2), 1.0, -1.0]) for i in range(9)
    ]
    tie = spark.createDataFrame(tie_rows, "vec_id long, embedding array<double>")
    got = rows(S.knn_join(tie, k=3, n_bits=2, dim=4, multiprobe_bits=1))
    want = rows(reference(tie, k=3, n_bits=2, dim=4))
    assert got == want and len(got) > 0


def test_gemm_kernels_row_blocked_match_single_gemm():
    """r15 memory bound (guide §5): the cogroup GEMM kernels row-block
    the scored matrix so a degenerate hot bucket/cell/block cannot OOM
    a Python worker. The blocked path must be EXACTLY the single-GEMM
    path's output — same values, same order — on an engineered hot
    bucket (duplicate-heavy integer vectors: every dot product and
    norm is exact, so equality is bitwise, not approximate; plus one
    zero vector to exercise the NaN -> -inf ordering key). block_cells
    is forced far below the bucket's cell count so the blocked run
    takes many row-blocks while the control takes one."""
    import numpy as np

    from unified_log_aggregation_and_analytics_spark.operators.dedup import (
        _gemm_block_pairs,
        _gemm_cell_drop_mask,
    )
    from unified_log_aggregation_and_analytics_spark.operators.similarity import (
        _gemm_bucket_topk,
    )

    rng = np.random.RandomState(7)
    n, dim = 257, 8  # odd count: the last row-block is ragged
    m = rng.randint(-4, 5, size=(n, dim)).astype(np.float64)
    m[::5] = m[0]  # duplicate-heavy: exact ties everywhere
    m[13] = 0.0  # zero vector -> NaN cosine row/column
    ids = rng.permutation(n).astype("int64")

    big = 10**12  # single-GEMM control
    small = 4 * n  # ~4 rows per block -> ~65 blocks

    # knn_join kernel: probe side = the same hot population (self-join
    # shape), k small so ties force the stable argsort's nbr order
    a = _gemm_bucket_topk(ids, m, ids.copy(), m.copy(), 5, big)
    b = _gemm_bucket_topk(ids, m, ids.copy(), m.copy(), 5, small)
    assert a[0].tolist() == b[0].tolist()  # src sequence
    assert a[1].tolist() == b[1].tolist()  # nbr sequence
    # cos_sim: exact equality, NaN == NaN (the zero vector's pairs)
    assert a[2].shape == b[2].shape
    assert np.allclose(a[2], b[2], rtol=0, atol=0, equal_nan=True)
    assert len(a[0]) > 0 and np.isnan(a[2]).any()

    mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
    pa = _gemm_block_pairs(ids, mn, 0.35, big)
    pb = _gemm_block_pairs(ids, mn, 0.35, small)
    for x, y in zip(pa, pb):
        assert x.tolist() == y.tolist()
    assert len(pa[0]) > 0

    da = _gemm_cell_drop_mask(ids, mn, 0.6, big)
    db = _gemm_cell_drop_mask(ids, mn, 0.6, small)
    assert da.tolist() == db.tolist()
    assert 0 < int(da.sum()) < n  # some dropped, some kept


def test_gemm_bucket_topk_empty_src():
    """A bucket with no probe rows yields three empty arrays, not a
    np.concatenate([]) error."""
    import numpy as np

    from unified_log_aggregation_and_analytics_spark.operators.similarity import (
        _gemm_bucket_topk,
    )

    nbr = np.arange(3, dtype="int64")
    src, sel, sims = _gemm_bucket_topk(
        np.empty(0, dtype="int64"), np.empty((0, 4)), nbr, np.ones((3, 4)), 5, 10**6
    )
    assert (len(src), len(sel), len(sims)) == (0, 0, 0)
    assert src.dtype == sel.dtype == np.int64 and sims.dtype == np.float64


def test_gemm_block_pairs_empty_block():
    """A block with no rows yields three empty arrays, not a
    np.concatenate([]) error."""
    import numpy as np

    from unified_log_aggregation_and_analytics_spark.operators.dedup import _gemm_block_pairs

    lo, hi, sims = _gemm_block_pairs(np.empty(0, dtype="int64"), np.empty((0, 4)), 0.5, 10**6)
    assert (len(lo), len(hi), len(sims)) == (0, 0, 0)
    assert lo.dtype == hi.dtype == np.int64 and sims.dtype == np.float64


def test_knn_join_default_margin_recall_floor(spark, emb):
    """The DEFAULT code path (margin-2 multiprobe since r8) holds its
    own recall floor vs the exact graph: constant 3x replication
    (home + 2 margin flips) buys most of the all-bit policy's recall
    (0.34 vs 0.35 on this fixture at n_bits=4) at a fraction of the
    join fan-out — the trade that lets n_bits track corpus growth."""
    from collections import defaultdict

    import numpy as np

    got = defaultdict(set)
    for r in S.knn_join(emb, k=5, n_bits=4, dim=64).collect():
        got[r.src].add(r.nbr)

    rows = [(r[0], list(r[1])) for r in emb.select("vec_id", "embedding").collect()]
    ids = [i for i, _ in rows]
    m = np.array([v for _, v in rows], dtype=np.float64)
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = m @ m.T
    np.fill_diagonal(sims, -np.inf)
    idx = {i: j for j, i in enumerate(ids)}
    hits = sum(
        len({ids[j] for j in np.argsort(sims[idx[i]])[::-1][:5]} & got.get(i, set()))
        for i in ids
    )
    assert hits / (5 * len(ids)) >= 0.30, "margin-default recall below floor"


def test_write_training_shards_layout(spark, docs, tmp_path):
    """Shard export: split directories on disk, every shard at most
    docs_per_shard rows, rows and values preserved exactly."""
    from pathlib import Path

    import pyarrow.parquet as pq

    from unified_log_aggregation_and_analytics_spark.operators.sampling import (
        hash_split,
        write_training_shards,
    )

    out = tmp_path / "shards"
    split_docs = hash_split(docs.select("doc_id", "text", "lang"))
    write_training_shards(split_docs, str(out), docs_per_shard=100)

    on_disk = {p.name for p in out.glob("split=*")}
    assert on_disk == {"split=train", "split=val", "split=test"}
    for f in out.rglob("*.parquet"):
        assert pq.ParquetFile(str(f)).metadata.num_rows <= 100
    back = spark.read.parquet(str(out))
    assert back.count() == docs.count()
    want = {r["doc_id"]: r["split"] for r in split_docs.select("doc_id", "split").collect()}
    got = {r["doc_id"]: r["split"] for r in back.select("doc_id", "split").collect()}
    assert got == want


def test_sketch_cube_accuracy_merge_and_append(spark, tmp_path):
    """The persisted HLL sketch cube answers distinct counts (a) within
    2% of exact, (b) with cube-cell merges EQUAL to sketching the raw
    union (mergeability — what makes the cube a cube), and (c)
    incrementally: appending a new day's cells changes nothing vs a
    full build."""
    from pyspark.sql import functions as F

    from unified_log_aggregation_and_analytics_spark.operators.sketches import (
        build_distinct_sketch_cube,
        sketch_distinct,
    )
    from unified_log_aggregation_and_analytics_spark.sources.batch import load_table

    ev = load_table(spark, "events", SF).select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    )
    cube = str(tmp_path / "cube")
    build_distinct_sketch_cube(ev, cube, ["event_type", "day"], "user_id")

    got = {
        r["event_type"]: r["approx_distinct"]
        for r in sketch_distinct(spark, cube, group_by=["event_type"]).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for t, n in exact.items():
        assert abs(got[t] - n) <= max(0.02 * n, 1), (t, got[t], n)

    # mergeability: union of per-cell sketches == sketch of raw union
    direct = ev.agg(
        F.hll_sketch_estimate(F.expr("hll_sketch_agg(user_id, 12)")).alias("d")
    ).collect()[0]["d"]
    merged = sketch_distinct(spark, cube).collect()[0]["approx_distinct"]
    assert merged == direct

    # incremental: day-partitioned appends == one-shot build
    days = sorted(r[0] for r in ev.select("day").distinct().collect())
    split_day = days[len(days) // 2]
    inc = str(tmp_path / "cube_inc")
    build_distinct_sketch_cube(
        ev.filter(F.col("day") <= F.lit(split_day)), inc, ["event_type", "day"], "user_id"
    )
    build_distinct_sketch_cube(
        ev.filter(F.col("day") > F.lit(split_day)), inc, ["event_type", "day"], "user_id"
    )
    got_inc = {
        r["event_type"]: r["approx_distinct"]
        for r in sketch_distinct(spark, inc, group_by=["event_type"]).collect()
    }
    assert got_inc == got


def test_profile_table_approx_path_no_expand(spark, docs):
    """The scale-path profile (approx distincts) must plan as ONE
    aggregation without Spark's Expand-based multi-distinct rewrite,
    and its non-cardinality numbers must equal the exact twin's."""
    import io
    from contextlib import redirect_stdout

    from unified_log_aggregation_and_analytics_spark.operators.profiling import (
        profile_table,
    )

    cols = ["doc_id", "lang", "source", "n_chars"]
    approx = profile_table(docs, cols)
    buf = io.StringIO()
    with redirect_stdout(buf):
        approx.explain("formatted")
    plan = buf.getvalue()
    assert "Expand" not in plan

    got = {r["column"]: r for r in approx.collect()}
    exact = {r["column"]: r for r in profile_table(docs, cols, exact=True).collect()}
    for c in cols:
        assert got[c]["n_rows"] == exact[c]["n_rows"]
        assert got[c]["n_null"] == exact[c]["n_null"]
        assert got[c]["min_value"] == exact[c]["min_value"]
        assert got[c]["max_value"] == exact[c]["max_value"]
        # HLL within 5% of truth
        assert abs(got[c]["n_distinct"] - exact[c]["n_distinct"]) <= max(
            0.05 * exact[c]["n_distinct"], 2
        )


def test_mixture_drift_invariants(spark, docs):
    """PSI invariants: a no-op stage (everything kept) drifts zero on
    every stratum; a stage that wipes out one language produces the
    largest positive PSI contribution on that language; the flagged
    single-pass variant agrees with the generic two-frame form."""
    from pyspark.sql import functions as F

    from unified_log_aggregation_and_analytics_spark.operators.profiling import (
        mixture_drift,
        mixture_drift_flagged,
    )

    sub = docs.filter(F.col("doc_id") < 300).select("doc_id", "lang")
    noop = sub.withColumn("kept", F.lit(True))
    for r in mixture_drift_flagged(noop, "kept", "lang").collect():
        assert r["psi"] == 0.0 and r["n_a"] == r["n_b"]

    # drop one language entirely
    victim = sub.select("lang").first()[0]
    flagged = sub.withColumn("kept", F.col("lang") != victim)
    rows = {r["lang"]: r for r in mixture_drift_flagged(flagged, "kept", "lang").collect()}
    assert rows[victim]["n_b"] == 0
    assert rows[victim]["psi"] == max(r["psi"] for r in rows.values())
    assert rows[victim]["psi"] > 0.1  # conventional drift-alarm level

    # generic two-frame form computes the identical report
    generic = {
        r["lang"]: r
        for r in mixture_drift(
            sub, sub.filter(F.col("lang") != victim), "lang"
        ).collect()
    }
    assert set(generic) == set(rows)
    for lang in rows:
        assert generic[lang]["psi"] == rows[lang]["psi"]
        assert generic[lang]["share_a"] == rows[lang]["share_a"]


def test_gopher_rules_attribution(spark):
    """Each rule fires on a constructed violator and attribution names
    the FIRST failing rule in the documented order."""
    from unified_log_aggregation_and_analytics_spark.operators.text import gopher_rules

    rows = [
        (1, "the and of that have with be to " + "good word " * 20),  # clean
        (2, "short text"),                                   # too_short
        (3, " ".join(["a"] * 30)),                           # word_len_low (mwl=1)
        (4, " ".join(["supercalifragilistic"] * 30)),        # word_len_high
        (5, " ".join(["#tag"] * 10 + ["word"] * 20)),        # symbol_heavy
        (6, " ".join(["123"] * 25 + ["word"] * 5)),          # non_alpha
        (7, " ".join(["plain"] * 15 + ["words"] * 15)),      # few_stopwords
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in gopher_rules(df).collect()}
    assert got[1]["keep"] and got[1]["drop_reason"] is None
    assert got[2]["drop_reason"] == "too_short"
    assert got[3]["drop_reason"] == "word_len_low"
    assert got[4]["drop_reason"] == "word_len_high"
    assert got[5]["drop_reason"] == "symbol_heavy"
    assert got[6]["drop_reason"] == "non_alpha"
    assert got[7]["drop_reason"] == "few_stopwords"
    # rule ORDER: doc 3 also has <2 stop hits, but word_len_low is
    # earlier in the chain
    assert got[3]["n_stop_hits"] < 2


def test_chunk_text_windows_and_tails(spark):
    """Chunk boundaries: full overlap math, short-doc single chunk,
    sub-min_tail trailing fragments dropped, exact reconstruction of
    the stride-aligned prefix."""
    from unified_log_aggregation_and_analytics_spark.operators.text import chunk_text

    words = [f"w{i}" for i in range(100)]
    df = spark.createDataFrame(
        [(1, " ".join(words)), (2, "tiny doc"), (3, " ".join(words[:49]))],
        ["doc_id", "text"],
    )
    out = chunk_text(df, chunk_tokens=32, stride=24, min_tail=8).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc1: starts 1,25,49,73,97 -> last has 4 tokens < 8 -> dropped
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [r["chunk_idx"] for r in c1] == [0, 1, 2, 3]
    assert c1[0]["chunk"].split(" ") == words[0:32]
    assert c1[1]["chunk"].split(" ") == words[24:56]
    assert c1[3]["n_chunk_tokens"] == 28  # 100 - 73 + 1
    # doc2: single sub-min_tail chunk kept (sole chunk)
    assert len(by_doc[2]) == 1 and by_doc[2][0]["chunk"] == "tiny doc"
    # doc3: 49 tokens -> starts 1,25,49; tail has 1 token -> dropped
    assert [r["chunk_idx"] for r in sorted(by_doc[3], key=lambda r: r["chunk_idx"])] == [0, 1]


def test_quality_classifier_monotone_in_stopwords(spark):
    """More stopwords (higher stop_ratio) must raise the score, and
    the keep flag follows the threshold."""
    from unified_log_aggregation_and_analytics_spark.operators.text import (
        quality_classifier,
    )

    base = ["word" + str(i) for i in range(40)]
    rich = ["the", "a", "of", "and", "to"] * 8
    df = spark.createDataFrame(
        [(1, " ".join(base)), (2, " ".join(rich))], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r for r in quality_classifier(df).collect()}
    assert got[2]["clf_score"] > got[1]["clf_score"]
    assert 0.0 <= got[1]["clf_score"] <= 1.0


def test_pagerank_hand_computed(spark):
    """3-node cycle plus a dangling-in node: ranks match the closed
    form computed by hand (uniform cycle stays uniform; node 4 feeds
    rank in but is never emitted — the documented source-set
    convention)."""
    from unified_log_aggregation_and_analytics_spark.operators.graph import (
        degree_profile,
        pagerank,
    )

    # cycle 1->2->3->1 ; 4->1 (4 has out-degree but never receives)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 1)], ["src", "nbr"]
    )
    got = {r["id"]: r["rank"] for r in pagerank(edges, n_iter=2).collect()}
    # N=4, d=0.85: r0 = 0.25 each.
    # it1: in(2)=r(1)/1, in(3)=r(2)/1, in(1)=r(3)/1+r(4)/1
    r0 = 0.25
    base = 0.15 / 4
    it1 = {
        1: round(base + 0.85 * (r0 + r0), 9),
        2: round(base + 0.85 * r0, 9),
        3: round(base + 0.85 * r0, 9),
        4: round(base + 0.85 * 0.0, 9),
    }
    it2 = {
        1: round(base + 0.85 * (it1[3] + it1[4]), 9),
        2: round(base + 0.85 * it1[1], 9),
        3: round(base + 0.85 * it1[2], 9),
        4: round(base + 0.85 * 0.0, 9),
    }
    assert got == it2
    # degree profile: node 4 out-only, others 1/1; node 1 in-degree 2
    deg = {r["id"]: (r["out_deg"], r["in_deg"]) for r in degree_profile(edges).collect()}
    assert deg == {1: (1, 2), 2: (1, 1), 3: (1, 1), 4: (1, 0)}


def test_quantile_cube_bound_merge_and_append(spark, tmp_path):
    """The persisted fixed-bin quantile cube (a) brackets the true
    k-th smallest value within one bin for every probed quantile, (b)
    merges exactly — summing day cells equals building on the raw
    union (integer histogram addition), and (c) is incremental:
    appending a second batch of day cells changes nothing vs a
    one-shot build."""
    import math

    from pyspark.sql import functions as F

    from unified_log_aggregation_and_analytics_spark.operators.sketches import (
        build_quantile_cube,
        quantile_from_cube,
    )
    from unified_log_aggregation_and_analytics_spark.sources.batch import load_table

    ev = load_table(spark, "events", SF).select(
        "event_type", F.to_date("ts").alias("day"), "value"
    )
    cube = str(tmp_path / "qcube")
    build_quantile_cube(ev, cube, ["event_type", "day"], "value", 0.0, 1024.0, 256)

    vals = sorted(r["value"] for r in ev.select("value").collect())
    for q in (0.5, 0.9, 0.99):
        row = quantile_from_cube(spark, cube, q=q).collect()[0]
        kth = vals[max(0, math.ceil(q * len(vals)) - 1)]
        assert row["bin_lo"] <= kth < row["bin_hi"], (q, kth, row.asDict())
        assert row["bin_hi"] - row["bin_lo"] == 4.0

    # mergeability: day-cell merge == build over the raw union
    flat = str(tmp_path / "qcube_flat")
    build_quantile_cube(ev, flat, ["event_type"], "value", 0.0, 1024.0, 256)
    merged = quantile_from_cube(spark, cube, q=0.9, group_by=["event_type"])
    direct = quantile_from_cube(spark, flat, q=0.9, group_by=["event_type"])
    got_m = {r["event_type"]: (r["bin"], r["n"]) for r in merged.collect()}
    got_d = {r["event_type"]: (r["bin"], r["n"]) for r in direct.collect()}
    assert got_m == got_d

    # incremental: two day-partitioned appends == one-shot build
    days = sorted(r[0] for r in ev.select("day").distinct().collect())
    split_day = days[len(days) // 2]
    inc = str(tmp_path / "qcube_inc")
    build_quantile_cube(
        ev.filter(F.col("day") <= F.lit(split_day)), inc,
        ["event_type", "day"], "value", 0.0, 1024.0, 256,
    )
    build_quantile_cube(
        ev.filter(F.col("day") > F.lit(split_day)), inc,
        ["event_type", "day"], "value", 0.0, 1024.0, 256,
    )
    inc_q = quantile_from_cube(spark, inc, q=0.9, group_by=["event_type"])
    got_i = {r["event_type"]: (r["bin"], r["n"]) for r in inc_q.collect()}
    assert got_i == got_m


def test_semantic_dedup_idempotent_and_keep_rule(spark, emb):
    """SemDeDup invariants: (a) every dropped id has a lower-id
    >=threshold partner in its own cell; (b) survivors are pairwise
    non-similar within cells, so a second pass drops nothing."""
    cent = S.deterministic_centroids(emb, n_centroids=8)
    kept = D.semantic_dedup(emb, cent, threshold=0.3)
    kept_ids = {r.vec_id for r in kept.collect()}
    all_ids = {r.vec_id for r in emb.select("vec_id").collect()}
    assert kept_ids <= all_ids and len(kept_ids) < len(all_ids)

    from unified_log_aggregation_and_analytics_spark.operators.similarity import ivf_assign

    assigned = ivf_assign(emb, cent)
    pairs = {
        (r.id_a, r.id_b)
        for r in D.embedding_near_dup(
            assigned, block_col="cell", threshold=0.3
        ).collect()
    }
    dropped = all_ids - kept_ids
    assert dropped == {b for (_, b) in pairs}  # exactly the pair losers
    # survivors pairwise non-similar -> idempotent
    assert not any(a in kept_ids and b in kept_ids for (a, b) in pairs)
    kept2 = D.semantic_dedup(
        emb.join(kept.select("vec_id"), "vec_id"), cent, threshold=0.3
    )
    assert {r.vec_id for r in kept2.collect()} == kept_ids


def test_dsir_select_prefers_target_distribution(spark, docs):
    """DSIR invariants: the selection is exactly n rows; every score is
    finite; and the selected set is enriched in the target slice
    relative to the corpus (the whole point of importance reweighting
    — target-like n-gram distributions score higher)."""
    from unified_log_aggregation_and_analytics_spark.operators.sampling import dsir_select

    n_docs = docs.count()
    n_en = docs.filter(F.col("lang") == "en").count()
    picked = dsir_select(docs, target=F.col("lang") == "en", n_select=40).collect()
    assert len(picked) == 40
    assert all(r.dsir_logweight == r.dsir_logweight for r in picked)  # no NaN
    en_frac_sel = sum(1 for r in picked if r.lang == "en") / 40
    assert en_frac_sel > n_en / n_docs  # enrichment
    # determinism: a second run returns the identical ranked list
    again = dsir_select(docs, target=F.col("lang") == "en", n_select=40).collect()
    assert [r.doc_id for r in picked] == [r.doc_id for r in again]


def test_epoch_repeat_sample_copy_counts(spark, docs):
    """Every src0 doc appears floor(2.5)=2 or 3 times with contiguous
    epoch ordinals; src1 exactly once; unlisted strata are dropped;
    membership of the extra copy is deterministic."""
    from collections import Counter

    from unified_log_aggregation_and_analytics_spark.operators.sampling import (
        epoch_repeat_sample,
    )

    out = epoch_repeat_sample(docs, {"src0": 2.5, "src1": 1.0}).collect()
    assert {r.source for r in out} == {"src0", "src1"}
    per_doc = Counter((r.doc_id, r.source) for r in out)
    epochs_seen: dict[int, set] = {}
    for r in out:
        epochs_seen.setdefault(r.doc_id, set()).add(r.epoch)
    for (doc_id, src), k in per_doc.items():
        assert k in (2, 3) if src == "src0" else k == 1
        assert epochs_seen[doc_id] == set(range(k))  # contiguous ordinals
    n_src0 = docs.filter(F.col("source") == "src0").count()
    assert sum(1 for (_, s), k in per_doc.items() if s == "src0") == n_src0
    again = epoch_repeat_sample(docs, {"src0": 2.5, "src1": 1.0}).collect()
    assert Counter((r.doc_id, r.epoch) for r in again) == Counter(
        (r.doc_id, r.epoch) for r in out
    )


def test_fuzzy_search_matches_typos(spark):
    """Edit-distance-1 query catches typo'd and inflected tokens but
    not distance-2 ones."""
    from unified_log_aggregation_and_analytics_spark.operators import relational as R

    df = spark.createDataFrame(
        [(1, "the tble holds rows"), (2, "a table of contents"),
         (3, "tablet computers"), (4, "nothing relevant here")],
        ["doc_id", "text"],
    )
    got = {(r.doc_id, r.token, r.dist) for r in R.fuzzy_search(df, "table", 1).collect()}
    assert got == {(1, "tble", 1), (2, "table", 0), (3, "tablet", 1)}


def test_phrase_search_requires_adjacency(spark):
    """Phrase match means consecutive tokens: intervening words or
    reversed order don't match; repeats are counted."""
    from unified_log_aggregation_and_analytics_spark.operators import relational as R

    df = spark.createDataFrame(
        [(1, "fast table scan"), (2, "fast little table"),
         (3, "table fast"), (4, "fast table fast table")],
        ["doc_id", "text"],
    )
    got = {(r.doc_id, r.n_matches) for r in R.phrase_search(df, "fast table").collect()}
    assert got == {(1, 1), (4, 2)}


def test_phrase_search_indexed_equals_scan(spark, tmp_path):
    """3-term phrase via the positional index == the scan-time count
    (exercises the multi-offset position chain)."""
    from unified_log_aggregation_and_analytics_spark.operators import relational as R

    df = spark.createDataFrame(
        [(1, "big fast table scan now"), (2, "big fast little table"),
         (3, "big fast table and big fast table again"), (4, "fast table big")],
        ["doc_id", "text"],
    )
    from unified_log_aggregation_and_analytics_spark.catalog import (
        _drop_stale_warehouse_dirs,
    )

    name = "pos_idx_ut"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    _drop_stale_warehouse_dirs(spark, name)
    R.build_positional_index_table(df, name)
    scan = {(r.doc_id, r.n_matches) for r in R.phrase_search(df, "big fast table").collect()}
    idx = {
        (r.doc_id, r.n_matches)
        for r in R.phrase_search_indexed(spark, df, name, "big fast table").collect()
    }
    assert scan == idx == {(1, 1), (3, 2)}


def test_significant_terms_surfaces_slice_specific_vocab(spark):
    """A term present in every foreground doc but rare in background
    tops the list; corpus-uniform terms score ~0 or drop out."""
    from unified_log_aggregation_and_analytics_spark.operators import relational as R

    rows = [(i, "common filler " + ("signal " if i < 5 else "noise "), i < 5)
            for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string, fg boolean")
    got = R.significant_terms(df, F.col("fg"), k=5).collect()
    assert got[0].token == "signal" and got[0].fg_df == 5 and got[0].bg_df == 5
    assert all(r.token != "noise" for r in got)  # under-represented in fg


def test_cluster_split_eliminates_leakage(spark, docs):
    """After cluster-aware splitting, NO near-dup candidate pair
    straddles a split boundary (the property the by-doc split
    violates on the same corpus)."""
    from unified_log_aggregation_and_analytics_spark.operators.sampling import cluster_split

    sig = D.minhash_signature(docs, num_hashes=8, hash_fn="md5")
    pairs = D.minhash_lsh_candidates(
        sig, num_hashes=8, band_size=2, band_hash_fn="md5"
    )
    comp = D.connected_components(pairs)

    def leaked(split_df):
        a = split_df.select(
            F.col("doc_id").alias("id_a"), F.col("split").alias("sa")
        )
        b = split_df.select(
            F.col("doc_id").alias("id_b"), F.col("split").alias("sb")
        )
        return (
            pairs.join(a, "id_a").join(b, "id_b")
            .filter(F.col("sa") != F.col("sb"))
            .count()
        )

    assert leaked(cluster_split(docs, comp)) == 0
    # sanity: the corpus genuinely has pairs, so zero is meaningful
    assert pairs.count() > 0


def test_percolate_empty_condition_fires_on_all_docs(spark):
    """A stored query with no terms is a vacuous AND (OpenSearch
    match_all percolation) — it fires on every document instead of
    silently never firing."""
    from unified_log_aggregation_and_analytics_spark.operators import relational as R

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma")], ["doc_id", "text"]
    )
    stored = spark.createDataFrame(
        [("q_all", []), ("q_alpha", ["alpha"])],
        "query_id string, terms array<string>",
    )
    got = {(r.doc_id, r.query_id) for r in R.percolate(docs, stored).collect()}
    assert got == {(1, "q_all"), (2, "q_all"), (1, "q_alpha")}


def test_length_bucket_report_invariants(spark, docs):
    """Bucketing census: buckets partition the corpus (doc counts sum
    to corpus size), every bucket_max is a declared boundary, waste
    fraction sits in [0, 1), and a doc longer than the top boundary
    clamps into it (truncate-to-max: its effective tokens cap at the
    boundary, so waste stays non-negative)."""
    from unified_log_aggregation_and_analytics_spark.operators.sampling import (
        length_bucket_report,
    )

    boundaries = (64, 128, 256, 512, 1024, 2048)
    rows = length_bucket_report(docs, boundaries=boundaries).collect()
    assert sum(r.n_docs for r in rows) == docs.count()
    assert {r.bucket_max for r in rows} <= set(boundaries)
    for r in rows:
        assert 0.0 <= r.pad_waste_frac < 1.0, r
        assert r.n_tokens <= r.bucket_max * r.n_docs

    # clamp semantics: a synthetic long doc lands in the top bucket
    # with eff == top boundary
    long_doc = spark.createDataFrame(
        [(0, " ".join(["tok"] * 5000))], "doc_id long, text string"
    )
    top = length_bucket_report(long_doc, boundaries=boundaries).collect()
    assert len(top) == 1
    assert top[0].bucket_max == 2048 and top[0].n_tokens == 2048
    assert top[0].pad_waste_frac == 0.0

    with pytest.raises(ValueError, match="increasing"):
        length_bucket_report(docs, boundaries=(64, 64, 128))


def test_dsir_hash_fn_fast_path(spark, docs):
    """The xxhash64 fast path selects the same NUMBER of docs through
    the same ranking machinery (bucket assignments differ hash-to-
    hash, so the selected SET may differ — buckets are arbitrary
    feature partitions in DSIR); an unknown hash_fn is loud."""
    from unified_log_aggregation_and_analytics_spark.operators.sampling import (
        dsir_select,
    )

    tgt = F.col("lang") == "en"
    fast = dsir_select(docs, target=tgt, n_select=50, hash_fn="xxhash64")
    assert fast.count() == 50
    assert set(fast.columns) == {"doc_id", "lang", "source", "dsir_logweight"}
    # deterministic: same call, same selection
    again = dsir_select(docs, target=tgt, n_select=50, hash_fn="xxhash64")
    assert sorted(r.doc_id for r in fast.collect()) == sorted(
        r.doc_id for r in again.collect()
    )
    with pytest.raises(ValueError, match="hash_fn"):
        dsir_select(docs, target=tgt, n_select=5, hash_fn="sha1")


def test_bigram_lm_indexed_equals_one_shot(spark, docs, tmp_path_factory):
    """The persisted-model LM scorer must reproduce the in-plan
    model's scores EXACTLY when trained on the scored corpus (the
    index ≡ scan contract the catalog oracle enforces), and score
    unseen bigrams through the add-k floor instead of dropping them."""
    from unified_log_aggregation_and_analytics_spark.operators import text as X

    path = str(tmp_path_factory.mktemp("lm")) + "/bigram"
    X.train_bigram_lm(docs, path)
    got = sorted(
        tuple(r) for r in X.bigram_lm_score_indexed(spark, docs, path).collect()
    )
    want = sorted(tuple(r) for r in X.bigram_lm_score(docs).collect())
    assert got == want and got

    # out-of-model text: both bigrams unseen -> coalesce(0) floor,
    # nll = -ln(k / (0 + k*V)) = ln(V) per bigram
    import math

    v = spark.read.parquet(f"{path}/vocab").distinct().count()
    novel = spark.createDataFrame(
        [(99999, "zzq1 zzq2 zzq3")], "doc_id long, text string"
    )
    row = X.bigram_lm_score_indexed(spark, novel, path).collect()[0]
    assert row.n_bigrams == 2
    assert abs(row.avg_nll - round(math.log(v), 6)) < 1e-6


def test_bigram_lm_append_equals_rebuild(spark, docs, tmp_path_factory):
    """Incremental LM maintenance: train on half the corpus, append
    the other half — scores must equal a full rebuild EXACTLY (counts
    merge by addition, vocabulary by set union), and compaction must
    fold the appended deltas without changing a single score."""
    from unified_log_aggregation_and_analytics_spark.operators import text as X

    inc = str(tmp_path_factory.mktemp("lm_inc")) + "/bigram"
    full = str(tmp_path_factory.mktemp("lm_full")) + "/bigram"
    base = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") % 2 == 1)

    X.train_bigram_lm(docs, full)
    X.train_bigram_lm(base, inc)
    X.append_bigram_lm(delta, inc)

    want = sorted(
        tuple(r) for r in X.bigram_lm_score_indexed(spark, docs, full).collect()
    )
    got = sorted(
        tuple(r) for r in X.bigram_lm_score_indexed(spark, docs, inc).collect()
    )
    assert got == want and got

    n_meta = spark.read.parquet(f"{inc}/meta").first()["n_docs"]
    assert n_meta == docs.count()

    X.compact_bigram_lm(spark, inc)
    after = sorted(
        tuple(r) for r in X.bigram_lm_score_indexed(spark, docs, inc).collect()
    )
    assert after == want
    # compaction folded the vocab to exactly-distinct rows
    vt = spark.read.parquet(f"{inc}/vocab")
    assert vt.count() == vt.distinct().count()


def test_duplicated_spans_hand_computed(spark):
    """ExactSubstr census: cross-doc grams, within-doc repeats, short-doc
    clamping, and disjoint-span counting, against hand-computed truth."""
    rows = [
        (1, "a b c d e f"),     # shares "a b c d" with docs 2 and 7
        (2, "x a b c d y"),
        (3, "p q r s t u"),     # fully covered via doc 7's suffix
        (4, "m m m m m m m m"), # within-doc repeated gram only
        (5, "zz"),              # sub-k doc, duplicated with doc 6
        (6, "zz"),
        (7, "a b c d Q Q p q r s t u"),  # two disjoint duplicated spans
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["n_spans"], r["dup_frac"])
        for r in D.duplicated_spans(df, k=4, min_count=2).collect()
    }
    assert out[1] == (6, 4, 1, round(4 / 6, 6))
    assert out[2] == (6, 4, 1, round(4 / 6, 6))
    assert out[3] == (6, 6, 1, 1.0)
    assert out[4] == (8, 8, 1, 1.0)
    assert out[5] == (1, 1, 1, 1.0)
    assert out[6] == (1, 1, 1, 1.0)
    assert out[7] == (12, 10, 2, round(10 / 12, 6))


def test_hard_negatives_label_filter_and_ranking(spark):
    """Hard negatives: never the anchor's own label, ranked by true
    cosine among cross-label candidates (numpy reference), ceiling
    excludes near-identical cross-label vectors."""
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(40, 8)).astype("float32")
    vecs[30] = vecs[0] * 1.0001  # near-identical cross-label: ceiling must drop it
    labels = [i % 4 for i in range(40)]
    rows = [(i, [float(x) for x in vecs[i]], labels[i]) for i in range(40)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])

    out = S.hard_negatives(emb, anchor_ids=[0, 1], k=3, max_sim=0.99)
    got = {(r["anchor_id"], r["rank"]): (r["vec_id"], r["label"], r["cos_sim"]) for r in out.collect()}

    def ref(anchor):
        a = vecs[anchor].astype("float64")
        scored = []
        for j in range(40):
            if j in (0, 1) or labels[j] == labels[anchor]:
                continue
            b = vecs[j].astype("float64")
            s = round(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), 6)
            if s <= 0.99:
                scored.append((-s, j))
        scored.sort()
        return [(j, labels[j], -s) for s, j in scored[:3]]

    for anchor in (0, 1):
        expect = ref(anchor)
        for rank, (j, lab, s) in enumerate(expect, 1):
            assert got[(anchor, rank)] == (j, lab, s)
        for rank in (1, 2, 3):
            assert got[(anchor, rank)][1] != labels[anchor]
    # vec 30 is cosine ~1.0 with anchor 0 but a different label: must be absent
    assert all(v[0] != 30 for k, v in got.items() if k[0] == 0)


def test_ccnet_buckets_sizes_and_monotonicity(spark):
    """CCNet bucketing: ntile remainder sizes (3/2/2 over 7 docs) and
    head <= middle <= tail score ordering within each language."""
    import itertools

    from unified_log_aggregation_and_analytics_spark.operators import text as X

    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]
    rows = []
    did = 0
    for lang in ("en", "de"):
        for i in range(7):
            # vary fluency: doc i repeats a common bigram i times then noise
            toks = ["the", "cat"] * (7 - i) + list(
                itertools.islice(itertools.cycle(words), i * 3)
            ) + [f"rare{lang}{i}a", f"rare{lang}{i}b"]
            rows.append((did, lang, " ".join(toks)))
            did += 1
    rows.append((999, "en", "solo"))  # 1 token: no bigram, no perplexity
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    out = X.ccnet_perplexity_buckets(df).collect()
    assert len(out) == 15
    solo = [r for r in out if r["doc_id"] == 999][0]
    assert solo["ppl_bucket"] == "unscored" and solo["avg_nll"] is None
    out = [r for r in out if r["doc_id"] != 999]
    for lang in ("en", "de"):
        by_bucket = {}
        for r in out:
            if r["lang"] == lang:
                by_bucket.setdefault(r["ppl_bucket"], []).append(r["avg_nll"])
        assert sorted((k, len(v)) for k, v in by_bucket.items()) == [
            ("head", 3), ("middle", 2), ("tail", 2),
        ]
        assert max(by_bucket["head"]) <= min(by_bucket["middle"])
        assert max(by_bucket["middle"]) <= min(by_bucket["tail"])


def test_write_training_shards_jsonl_layout(spark, docs, tmp_path):
    """JSONL export: split dirs on disk, gzip-compressed .json shards,
    every shard at most docs_per_shard lines, values round-trip."""
    import gzip

    from unified_log_aggregation_and_analytics_spark.operators.sampling import (
        hash_split,
        write_training_shards_jsonl,
    )

    out = tmp_path / "jsonl"
    split_docs = hash_split(docs.select("doc_id", "text", "lang"))
    write_training_shards_jsonl(split_docs, str(out), docs_per_shard=100)

    on_disk = {p.name for p in out.glob("split=*")}
    assert on_disk == {"split=train", "split=val", "split=test"}
    shards = list(out.rglob("*.json.gz"))
    assert shards
    for f in shards:
        with gzip.open(f, "rt") as fh:
            assert sum(1 for _ in fh) <= 100
    back = spark.read.json(str(out / "split=*"))
    assert back.count() == docs.count()
    want = {r["doc_id"]: r["text"] for r in split_docs.select("doc_id", "text").collect()}
    got = {r["doc_id"]: r["text"] for r in back.select("doc_id", "text").collect()}
    assert got == want


def test_hard_negatives_indexed_recall_vs_exact(spark):
    """The IVF-probe hard-negative path recovers most of the exact
    cross-label top-5 (4-of-16-cell probe recall floor), and never
    violates the label filter or ceiling."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    qs = entry.queries()
    exact = {}
    for r in qs["knn_hard_negatives"](spark, sf).collect():
        exact.setdefault(r["anchor_id"], set()).add(r["vec_id"])
    probed = {}
    labels = {}
    for r in qs["knn_hard_negatives_indexed"](spark, sf).collect():
        probed.setdefault(r["anchor_id"], set()).add(r["vec_id"])
        labels[r["vec_id"]] = r["label"]
        assert r["cos_sim"] <= 0.99
    anchor_labels = {
        r["vec_id"]: r["label"]
        for r in spark.read.parquet(f"{sf}/embeddings.parquet")
        .filter("vec_id < 20").collect()
    }
    hits = sum(len(exact[a] & probed.get(a, set())) for a in exact)
    total = sum(len(v) for v in exact.values())
    assert total > 0 and hits / total >= 0.4, f"recall {hits/total:.2f}"
    for a, negs in probed.items():
        for n in negs:
            assert labels[n] != anchor_labels[a]


def test_contamination_spans_hand_computed(spark):
    """Span-level decontamination: bench grams flag covered corpus
    positions; overlapping/adjacent intervals merge; clean docs zero."""
    bench = spark.createDataFrame(
        [(0, "alpha beta gamma delta")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [
            (1, "x alpha beta gamma y z"),   # one 3-gram hit at pos 2 -> 3 tokens
            (2, "alpha beta gamma delta q"), # two overlapping hits -> 4 tokens, 1 span
            (3, "p q r s t u"),              # clean
            (4, "alpha beta gamma z beta gamma delta w"),  # two disjoint spans
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["n_tokens"], r["contam_tokens"], r["n_spans"], r["contam_frac"])
        for r in D.contamination_spans(corpus, bench, k=3).collect()
    }
    assert out[1] == (6, 3, 1, 0.5)
    assert out[2] == (5, 4, 1, 0.8)
    assert out[3] == (6, 0, 0, 0.0)
    assert out[4] == (8, 6, 2, 0.75)


def test_quality_train_beats_base_rate(spark, docs):
    """The GD-trained classifier must beat the all-keep base rate on
    its training labels (i.e. actually learn), and probabilities must
    be valid."""
    from unified_log_aggregation_and_analytics_spark.operators.text import (
        train_quality_classifier,
    )

    out = train_quality_classifier(docs, n_steps=24, lr=8.0).cache()
    n = out.count()
    acc = out.filter("agrees").count() / n
    base = max(
        out.filter("label = 1.0").count(), out.filter("label = 0.0").count()
    ) / n
    assert acc > base, f"acc {acc:.3f} <= base rate {base:.3f}"
    bad = out.filter("clf_p < 0.0 OR clf_p > 1.0").count()
    assert bad == 0
    out.unpersist()


def test_remove_duplicated_spans_rebuilds_text(spark):
    """Span removal: surviving text is exactly the uncovered tokens
    (hash-verified), fully-duplicated docs clean to the empty string."""
    import hashlib

    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "x a b c d y"), (3, "p q r s t u"),
         (4, "a b c d"), (5, "a b c d")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in D.remove_duplicated_spans(df, k=4, min_count=2).collect()}
    # docs 1/2 share "a b c d": doc1 keeps "e f", doc2 keeps "x y"
    assert out[1]["kept_tokens"] == 2
    assert out[1]["cleaned_hash"] == hashlib.md5(b"e f").hexdigest()
    assert out[2]["cleaned_hash"] == hashlib.md5(b"x y").hexdigest()
    assert out[3]["kept_tokens"] == 6  # untouched
    # exact duplicates 4/5 clean to empty
    for d in (4, 5):
        assert out[d]["kept_tokens"] == 0
        assert out[d]["cleaned_hash"] == hashlib.md5(b"").hexdigest()


def test_doremi_mixture_weights_upweights_hard_domain(spark):
    """DoReMi-lite (sampling.doremi_mixture_weights): the source whose
    text the self-scored bigram LM finds hard (unique bigrams -> low
    counts -> high NLL) must earn MORE than uniform weight, the easy
    repeated-text sources less; weights sum to ~1 and never fall
    below the uniform-smoothing floor c/k."""
    from unified_log_aggregation_and_analytics_spark.operators.sampling import (
        doremi_mixture_weights,
    )

    easy = "the cat sat on the mat and the cat sat again"
    rows = []
    for i in range(8):
        rows.append((i, "hard", " ".join(f"tok{i}x{j}" for j in range(12))))
        rows.append((100 + i, "easy_a", easy))
        rows.append((200 + i, "easy_b", easy))
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")

    got = {r["source"]: r.asDict() for r in doremi_mixture_weights(docs).collect()}
    assert set(got) == {"hard", "easy_a", "easy_b"}
    k, c = 3, 0.2
    w = {s: got[s]["weight"] for s in got}
    assert abs(sum(w.values()) - 1.0) < 1e-5
    assert w["hard"] > 1 / k > w["easy_a"]
    assert all(v >= c / k - 1e-9 for v in w.values())
    assert got["hard"]["excess_nll"] > 0
    assert got["easy_a"]["excess_nll"] == 0.0  # below-mean clamps to 0
    # identical easy sources tie exactly (engine-deterministic)
    assert w["easy_a"] == w["easy_b"]


def test_doremi_mixture_uniform_on_homogeneous_corpus(spark):
    """With every source equally hard (identical text), excess loss is
    zero everywhere and the EG step is a no-op: weights come out
    exactly uniform after smoothing."""
    from unified_log_aggregation_and_analytics_spark.operators.sampling import (
        doremi_mixture_weights,
    )

    t = "alpha beta gamma delta epsilon zeta"
    rows = [(i, f"s{i % 4}", t) for i in range(16)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = doremi_mixture_weights(docs).collect()
    assert len(got) == 4
    for r in got:
        assert r["excess_nll"] == 0.0
        assert r["weight"] == 0.25


def test_knn_prefix_refine_recall_and_semantics(spark, emb, query_vec):
    """Matryoshka prefix-refine (r11): (1) with prefix_dim = full dim
    the two-stage path IS brute force (stage 1 already ranks by the
    exact score, stage 2 re-ranks the same values — identical
    rows); (2) a shortlist as large as the corpus is exact for ANY
    prefix (stage 2 sees everything); (3) the 16-of-64 default's
    recall against brute force is measured and pinned — synthetic
    non-MRL embeddings, so this is the honest coarse-stage baseline;
    (4) numpy cross-check of the two-stage semantics at the default
    knobs; (5) prefix_dim validation is loud."""
    import numpy as np

    corpus = emb.filter(F.col("vec_id") != 0)
    exact = [
        (r.vec_id, r.cos_sim)
        for r in S.knn_brute_force(corpus, query_vec, k=10).collect()
    ]

    full = [
        (r.vec_id, r.cos_sim)
        for r in S.knn_prefix_refine(
            corpus, query_vec, k=10, prefix_dim=len(query_vec)
        ).collect()
    ]
    assert full == exact

    n = corpus.count()
    wide = [
        (r.vec_id, r.cos_sim)
        for r in S.knn_prefix_refine(
            corpus, query_vec, k=10, prefix_dim=16, shortlist=n
        ).collect()
    ]
    assert wide == exact

    got = [
        (r.vec_id, r.cos_sim)
        for r in S.knn_prefix_refine(corpus, query_vec, k=10).collect()
    ]
    # numpy reference of the same two-stage procedure
    rows = corpus.select("vec_id", "embedding").collect()
    q = np.asarray(query_vec, dtype=np.float64)

    def cos(a, b):
        return round(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), 6)

    prefd = sorted(
        ((cos(np.asarray(r.embedding[:16], dtype=np.float64), q[:16]), r.vec_id, r)
         for r in rows),
        key=lambda t: (-t[0], t[1]),
    )[:50]
    ref = sorted(
        ((cos(np.asarray(t[2].embedding, dtype=np.float64), q), t[1]) for t in prefd),
        key=lambda t: (-t[0], t[1]),
    )[:10]
    assert got == [(v, c) for c, v in ref]

    # measured 16-dim coarse-stage recall on UNTRAINED synthetic
    # vectors: 4/10 at sf0.001 — a random 16-of-64 prefix carries no
    # privileged variance, which is exactly the honest baseline the
    # catalog docstring states (MRL-trained prefixes are the case the
    # technique exists for). Pin the floor beneath the measurement.
    overlap = len({v for v, _ in got} & {v for v, _ in exact})
    assert overlap >= 3, overlap

    with pytest.raises(ValueError, match="prefix_dim"):
        S.knn_prefix_refine(corpus, query_vec, prefix_dim=0)


def test_mmr_rerank_semantics(spark, emb, query_vec):
    """MMR (r11): (1) the first pick IS the relevance top-1; (2) the
    output is k unique ids drawn from the top-`shortlist` relevance
    set, ranked 1..k; (3) lambda=1 degenerates to plain relevance
    ranking (the diversity term vanishes); (4) planting an exact copy
    of the best hit demotes it — plain top-k returns the twin pair
    back to back, MMR does not pick the copy second."""
    corpus = emb.filter(F.col("vec_id") != 0)
    exact = [r.vec_id for r in S.knn_brute_force(corpus, query_vec, k=10).collect()]

    got = S.mmr_rerank(corpus, query_vec, k=10, shortlist=50, lam=0.7).collect()
    assert [r.rank for r in got] == list(range(1, 11))
    ids = [r.vec_id for r in got]
    assert len(set(ids)) == 10
    assert ids[0] == exact[0]
    short50 = {
        r.vec_id for r in S.knn_brute_force(corpus, query_vec, k=50).collect()
    }
    assert set(ids) <= short50

    pure_rel = S.mmr_rerank(corpus, query_vec, k=10, shortlist=50, lam=1.0).collect()
    assert [r.vec_id for r in pure_rel] == exact

    # plant an exact duplicate of the best hit under a fresh id
    best_vec = (
        corpus.filter(F.col("vec_id") == exact[0]).select("embedding").first()[0]
    )
    twin_id = 10_000_000
    twin = spark.createDataFrame(
        [(twin_id, list(best_vec), 0)], schema=corpus.schema
    )
    planted = corpus.unionByName(twin)
    plain = [r.vec_id for r in S.knn_brute_force(planted, query_vec, k=10).collect()]
    assert {plain[0], plain[1]} == {exact[0], twin_id}  # twins adjacent
    diverse = [
        r.vec_id for r in S.mmr_rerank(planted, query_vec, k=10, lam=0.7).collect()
    ]
    assert diverse[1] not in {exact[0], twin_id}  # the copy is demoted


def test_hash_embed_knn_semantics(spark, docs):
    """Feature-hashing (r11): (1) hash_embed buckets lie in [0, dim)
    and every value is a nonzero integer (zero-sum buckets drop out of
    the aggregation only if no token landed; signs may cancel to an
    explicit 0 which is kept — both are valid long-form states); (2) a
    verbatim copy of the query document scores cos_sim = 1.0 and
    ranks first; (3) scores are within [-1, 1] and descending."""
    from unified_log_aggregation_and_analytics_spark.operators import text as X

    vecs = X.hash_embed(docs, dim=64)
    bad = vecs.filter((F.col("bucket") < 0) | (F.col("bucket") >= 64)).count()
    assert bad == 0

    qrow = docs.filter(F.col("doc_id") == 0).select("text").first()
    twin_id = 10_000_000
    planted = docs.unionByName(
        spark.createDataFrame(
            [(twin_id, qrow[0], "en", "synthetic", len(qrow[0]))],
            schema=docs.schema,
        )
    )
    got = X.hash_embed_knn(planted, query_id=0, k=10).collect()
    assert got[0].doc_id == twin_id
    assert got[0].cos_sim == 1.0
    sims = [r.cos_sim for r in got]
    assert sims == sorted(sims, reverse=True)
    assert all(-1.0 <= s <= 1.0 for s in sims)


def test_mmr_rerank_small_and_empty_corpus(spark, emb, query_vec):
    """MMR contract at the edges: an empty corpus yields an empty
    frame (not IndexError); a corpus smaller than k yields exactly
    min(k, corpus) ranked rows — mirrored by the oracle's NULL-pad
    filter."""
    empty = emb.filter(F.col("vec_id") < 0)
    got = S.mmr_rerank(empty, query_vec, k=10).collect()
    assert got == []

    tiny = emb.filter(F.col("vec_id").isin(1, 2, 3))
    got = S.mmr_rerank(tiny, query_vec, k=10).collect()
    assert [r.rank for r in got] == [1, 2, 3]
    assert len({r.vec_id for r in got}) == 3


def test_hash_embed_retrieve_rag_shape(spark, docs):
    """Chunk-level retrieval (r11): a query that IS one candidate's
    text scores that candidate 1.0 and first; extra_cols ride the
    composite id through; results sorted, unique, k-bounded."""
    from unified_log_aggregation_and_analytics_spark.operators import text as X

    chunks = X.chunk_text(
        docs.filter(F.col("doc_id") != 0), chunk_tokens=64, stride=48, min_tail=8
    ).select(
        (F.col("doc_id") * 1000000 + F.col("chunk_idx")).alias("cid"),
        "doc_id",
        "chunk_idx",
        "chunk",
    )
    target = chunks.orderBy("cid").first()
    qdf = spark.createDataFrame(
        [(0, target.chunk)], schema="cid long, chunk string"
    )
    got = X.hash_embed_retrieve(
        chunks, qdf, k=10, text_col="chunk", id_col="cid",
        extra_cols=("doc_id", "chunk_idx"),
    ).collect()
    assert len(got) == 10
    assert len({(r.doc_id, r.chunk_idx) for r in got}) == 10
    assert (got[0].doc_id, got[0].chunk_idx) == (target.doc_id, target.chunk_idx)
    assert got[0].cos_sim == 1.0

    # r12 (ADVICE): a ZERO-ROW query_df is a caller bug and raises;
    # a present-but-whitespace query is a legitimate zero vector and
    # still yields the empty result.
    import pytest as _pytest

    empty_q = spark.createDataFrame([], schema="cid long, chunk string")
    with _pytest.raises(ValueError, match="empty query_df"):
        X.hash_embed_retrieve(chunks, empty_q, k=5, text_col="chunk", id_col="cid")
    ws_q = spark.createDataFrame([(0, "   \t ")], schema="cid long, chunk string")
    assert (
        X.hash_embed_retrieve(chunks, ws_q, k=5, text_col="chunk", id_col="cid").count()
        == 0
    )


def test_mmr_diversity_certificate(spark, emb, query_vec):
    """The diversity report must show MMR strictly reducing mean
    intra-set pairwise similarity vs the plain relevance top-k on
    this corpus (0.099 -> 0.055 at the catalog knobs) — the claim
    the rerank exists to make."""
    import unified_log_aggregation_and_analytics_spark.catalog_llm  # noqa: F401
    from unified_log_aggregation_and_analytics_spark.catalog import QUERIES

    rows = {
        r.set_name: r.mean_pairwise_sim
        for r in QUERIES["knn_mmr_diversity"].spark_fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert set(rows) == {"plain", "mmr"}
    assert rows["mmr"] < rows["plain"]


def test_prefix_rotation_knobs_and_determinism(spark, emb, query_vec):
    """r12 rotated prefix retrieval: (a) the degenerate no-rotation
    knob delegates verbatim to knn_prefix_refine (pinned equal); (b)
    power_pca_rotation is deterministic across invocations and its
    components are near-orthonormal; (c) the rotated path's recall@10
    vs brute force is at least the untrained prefix-16 path's."""
    import numpy as np

    from unified_log_aggregation_and_analytics_spark.operators import similarity as S

    corpus = emb.filter(F.col("vec_id") != 0)
    qv = list(query_vec)

    none_path = S.knn_prefix_refine_rotated(
        corpus, qv, None, k=10, shortlist=50, prefix_dim=16
    ).collect()
    plain = S.knn_prefix_refine(
        corpus, qv, k=10, prefix_dim=16, shortlist=50
    ).collect()
    assert none_path == plain

    R1 = S.power_pca_rotation(corpus, n_components=32, iters=16)
    R2 = S.power_pca_rotation(corpus, n_components=32, iters=16)
    assert np.array_equal(R1, R2), "rotation must be deterministic"
    G = R1 @ R1.T
    assert np.abs(G - np.eye(32)).max() < 1e-3, "components not orthonormal"

    exact = {r.vec_id for r in S.knn_brute_force(corpus, qv, k=10).collect()}
    rot_ids = {
        r.vec_id
        for r in S.knn_prefix_refine_rotated(
            corpus, qv, R1, k=10, shortlist=50
        ).collect()
    }
    plain_ids = {r.vec_id for r in plain}
    assert len(rot_ids & exact) >= len(plain_ids & exact)
    assert len(rot_ids & exact) >= 8, "rotation must clear the 8/10 bar here"


def test_curriculum_order_semantics(spark):
    """Curriculum ordering (r12): phases are difficulty-monotone
    (every phase-p doc is <= every phase-p+1 doc up to the tie rule),
    phase sizes are the ntile split, curriculum_pos is the contiguous
    1..n consumption order grouped by phase, and the in-phase order
    follows the md5 shuffle key — not the score — so a phase is not
    internally sorted by difficulty."""
    from unified_log_aggregation_and_analytics_spark.operators.sampling import (
        curriculum_order,
    )

    df = spark.createDataFrame(
        [(i, float((i * 37) % 11)) for i in range(22)], "doc_id long, s double"
    )
    rows = curriculum_order(df, "s", n_phases=4, id_col="doc_id").orderBy(
        "curriculum_pos"
    ).collect()
    assert [r.curriculum_pos for r in rows] == list(range(1, 23))
    assert [r.phase for r in rows] == sorted(r.phase for r in rows)
    from collections import Counter

    assert Counter(r.phase for r in rows) == {1: 6, 2: 6, 3: 5, 4: 5}
    by_phase = {}
    for r in rows:
        by_phase.setdefault(r.phase, []).append(r.difficulty)
    for p in (1, 2, 3):
        assert max(by_phase[p]) <= min(by_phase[p + 1])
    # the in-phase sequence is shuffled, not difficulty-sorted
    assert any(v != sorted(v) for v in by_phase.values())


def test_curriculum_order_approx_equivalence_and_plan(spark):
    """curriculum_order_approx (r13): (1) fed the exact form's
    per-phase max scores as boundaries, it reproduces curriculum_order
    row for row (distinct scores) — the ONLY approximation is the
    percentile estimate; (2) default computed boundaries yield a valid
    1..n permutation with phase-monotone difficulty; (3) the plan
    carries NO single-partition exchange (the global window the scale
    form exists to kill), while the exact form's plan does."""
    from unified_log_aggregation_and_analytics_spark.operators.sampling import (
        curriculum_order,
        curriculum_order_approx,
    )

    df = spark.createDataFrame(
        [(i, float((i * 37) % 101) + i * 1e-3) for i in range(120)],
        "doc_id long, s double",
    )
    exact = curriculum_order(df, "s", n_phases=4, id_col="doc_id")
    ex_rows = exact.orderBy("curriculum_pos").collect()
    bounds = sorted(
        max(r.difficulty for r in ex_rows if r.phase == p) for p in (1, 2, 3)
    )
    approx = curriculum_order_approx(
        df, "s", n_phases=4, id_col="doc_id", boundaries=bounds
    )
    ap_rows = approx.orderBy("curriculum_pos").collect()
    assert [tuple(r) for r in ap_rows] == [tuple(r) for r in ex_rows]

    auto = curriculum_order_approx(df, "s", n_phases=4, id_col="doc_id")
    au = auto.orderBy("curriculum_pos").collect()
    assert [r.curriculum_pos for r in au] == list(range(1, 121))
    assert [r.phase for r in au] == sorted(r.phase for r in au)

    ap_plan = approx._jdf.queryExecution().executedPlan().toString()
    ex_plan = exact._jdf.queryExecution().executedPlan().toString()
    # the approx plan's position window partitions by _pid (the range
    # shuffle itself sits behind the localCheckpoint's ExistingRDD
    # scan, so assert its absence-of-global-sort footprint instead)
    assert "SinglePartition" not in ap_plan
    assert "SinglePartition" in ex_plan


def test_token_budget_approx_hand_pin(spark):
    """Hand-computed pin (r14): 6 docs, budget 70. Global greedy
    prefix by (quality desc, id): d1 cum10, d2 cum30 (tie with d3 at
    q=0.8 — id breaks it), d3 cum35, d4 cum65, d5 would hit 115 and
    falls out. The same rows must come back for ANY valid cut set —
    including a boundary exactly ON the tied quality (ties can never
    straddle a cut, the monotone-bucketing invariant the operator's
    exactness rests on)."""
    from unified_log_aggregation_and_analytics_spark.operators.sampling import (
        token_budget_approx,
    )

    df = spark.createDataFrame(
        [(1, 0.9, 10), (2, 0.8, 20), (3, 0.8, 5), (4, 0.5, 30),
         (5, 0.3, 50), (6, 0.1, 100)],
        "doc_id long, q double, t long",
    )
    expected = [(1, 10, 10), (2, 20, 30), (3, 5, 35), (4, 30, 65)]
    for bounds in ([0.2, 0.6], [0.8], [0.1, 0.3, 0.5, 0.8], None):
        got = sorted(
            (r.doc_id, r.n_tokens, r.cum_tokens)
            for r in token_budget_approx(
                df, "q", "t", 70, boundaries=bounds
            ).collect()
        )
        assert got == expected, f"bounds={bounds}: {got}"
    # degenerate knobs: single bucket (exact-form plan), zero budget
    one = sorted(
        (r.doc_id, r.n_tokens, r.cum_tokens)
        for r in token_budget_approx(df, "q", "t", 70, n_buckets=1).collect()
    )
    assert one == expected
    assert token_budget_approx(df, "q", "t", 0).count() == 0
    assert token_budget_approx(df, "q", "t", 9).count() == 0  # d1 alone > 9
    full = token_budget_approx(df, "q", "t", 10_000).collect()
    assert len(full) == 6 and max(r.cum_tokens for r in full) == 215


def test_token_budget_approx_equivalence_and_plan(spark):
    """docs_token_budget_approx (r14, verdict item 1): reproduces the
    exact entry row for row at sf0.001, and its physical plan carries
    NO SinglePartition exchange — the unpartitioned global cumulative
    window the exact form pays is exactly what this operator kills."""
    import unified_log_aggregation_and_analytics_spark.catalog_llm  # noqa: F401
    from unified_log_aggregation_and_analytics_spark.catalog import QUERIES

    sf = "/root/testdata/sf0.001"
    exact_df = QUERIES["docs_token_budget"].spark_fn(spark, sf)
    approx_df = QUERIES["docs_token_budget_approx"].spark_fn(spark, sf)
    exact = sorted(tuple(r) for r in exact_df.collect())
    approx = sorted(tuple(r) for r in approx_df.collect())
    assert approx == exact and len(exact) > 0

    ap_plan = approx_df._jdf.queryExecution().executedPlan().toString()
    ex_plan = exact_df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in ap_plan
    assert "SinglePartition" in ex_plan


def test_token_budget_approx_null_quality_sorts_last(spark):
    """NULL-quality rows sort LAST under (quality DESC, id) in both
    engines — the approx form gives them bucket 0 so they are
    selected only after every scored row, exactly like the exact
    global window would order them."""
    from unified_log_aggregation_and_analytics_spark.operators.sampling import (
        token_budget_approx,
    )

    df = spark.createDataFrame(
        [(1, 0.9, 10), (2, None, 5), (3, 0.2, 20), (4, None, 7)],
        "doc_id long, q double, t long",
    )
    got = sorted(
        (r.doc_id, r.cum_tokens)
        for r in token_budget_approx(df, "q", "t", 100, boundaries=[0.5]).collect()
    )
    # order: d1 (10), d3 (30), then nulls by id: d2 (35), d4 (42)
    assert got == [(1, 10), (2, 35), (3, 30), (4, 42)]
    # tight budget never reaches the null bucket
    got2 = sorted(
        r.doc_id
        for r in token_budget_approx(df, "q", "t", 30, boundaries=[0.5]).collect()
    )
    assert got2 == [1, 3]


def test_token_budget_by_lang_semantics_and_plan(spark):
    """docs_token_budget_by_lang (r14): per-language budgets respect
    the 20k cap, within-language order is quality-descending, and the
    plan partitions the window by lang — no SinglePartition exchange
    (the per-domain form IS the scale plan)."""
    import unified_log_aggregation_and_analytics_spark.catalog_llm  # noqa: F401
    from unified_log_aggregation_and_analytics_spark.catalog import QUERIES

    df = QUERIES["docs_token_budget_by_lang"].spark_fn(
        spark, "/root/testdata/sf0.001"
    )
    rows = df.collect()
    assert rows
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rs in by_lang.items():
        assert max(r.cum_tokens for r in rs) <= 20000
        qs = [r.quality for r in sorted(rs, key=lambda r: r.cum_tokens)]
        assert qs == sorted(qs, reverse=True), lang
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
