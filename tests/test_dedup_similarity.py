"""Dedup family + similarity search: LSH recall vs brute force,
signature determinism, hamming properties, cosine correctness vs numpy."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from lakehouse_poc_spark.operators.dedup import (
    connected_components,
    embedding_neardup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash64,
    simhash_near_pairs,
)
from lakehouse_poc_spark.operators.similarity import brute_force_topk, lsh_topk

SF = "/root/testdata/sf0.001"


def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_minhash_lsh_matches_bruteforce_on_fixture(spark):
    brute = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs(spark), "text", "doc_id", 3, 0.5).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs(spark), "text", "doc_id", threshold=0.5).collect()
    }
    # LSH can only miss (false negatives) — never invent pairs.
    assert lsh <= brute
    # On the fixture near-dups (jaccard ≈0.7-0.99) recall is 100%.
    assert lsh == brute


def test_minhash_signature_deterministic(spark):
    s1 = minhash_signature(docs(spark).limit(5), "text", "doc_id").select("__sig").collect()
    s2 = minhash_signature(docs(spark).limit(5), "text", "doc_id").select("__sig").collect()
    assert [r["__sig"] for r in s1] == [r["__sig"] for r in s2]


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], "id long, text string"
    )
    kept = sorted(r.id for r in exact_dedup(df, "text", "id").collect())
    assert kept == [1, 3]


def test_simhash_identical_docs_same_hash(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f g"), (3, "x y z w q r t")],
        "id long, text string",
    )
    hs = {r.id: r.simhash for r in simhash64(df, "text", "id").collect()}
    assert hs[1] == hs[2] and hs[1] != hs[3]
    pairs = simhash_near_pairs(df, "text", "id", max_hamming=3).collect()
    assert {(p.id_a, p.id_b) for p in pairs} == {(1, 2)}


def test_cosine_matches_numpy(spark):
    rows = emb(spark).filter(F.col("vec_id") < 20).collect()
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    ids = [r.vec_id for r in rows]
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    S = Xn @ Xn.T
    got = embedding_neardup_pairs(
        emb(spark).filter(F.col("vec_id") < 20), "embedding", "vec_id", threshold=-2.0
    ).collect()
    for r in got:
        i, j = ids.index(r.id_a), ids.index(r.id_b)
        assert abs(r.cos_sim - S[i, j]) < 1e-9


def test_topk_brute_correct_and_lsh_subset(spark):
    e = emb(spark)
    q = e.filter(F.col("vec_id") < 4)
    brute = brute_force_topk(e, q, "embedding", "vec_id", "vec_id", k=3).collect()
    assert len(brute) == 12  # 4 queries × k
    for r in brute:
        assert r.neighbor_id != r.query_id
    # numpy cross-check of the top-1 neighbor for query 0
    rows = e.collect()
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    ids = np.array([r.vec_id for r in rows])
    q0 = X[ids == 0][0]
    cos = (X @ q0) / (np.linalg.norm(X, axis=1) * np.linalg.norm(q0))
    cos[ids == 0] = -2
    expect_top1 = ids[np.argmax(cos)]
    got_top1 = [r.neighbor_id for r in brute if r.query_id == 0 and r.rank == 1][0]
    assert got_top1 == expect_top1
    # LSH returns a (possibly shorter) ranked list whose members score
    # no better than brute's kth — weak sanity: determinism + subset of ids
    l1 = lsh_topk(e, q, "embedding", "vec_id", "vec_id", k=3).collect()
    l2 = lsh_topk(e, q, "embedding", "vec_id", "vec_id", k=3).collect()
    assert sorted(map(tuple, l1)) == sorted(map(tuple, l2))


def test_simhash_recall_at_mid_hamming(spark):
    """Pairs at hamming 4-8 whose differing bits span the old 16-bit
    chunks must still be found (r1 blocked on 4 chunks: guaranteed
    recall only below hamming 4)."""
    df = spark.createDataFrame(
        [(1, "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"),
         (2, "w0 w1 w2 w3 w4 w5 w6 w7 w8 zz"),
         (3, "completely different text here entirely")],
        "id long, text string",
    )
    hs = {r.id: r.simhash for r in simhash64(df, "text", "id").collect()}
    d12 = bin((hs[1] ^ hs[2]) & ((1 << 64) - 1)).count("1")
    pairs = {(p.id_a, p.id_b): p.hamming
             for p in simhash_near_pairs(df, "text", "id", max_hamming=31).collect()}
    if d12 <= 31:  # blocking must find it regardless of which bits differ
        assert (1, 2) in pairs and pairs[(1, 2)] == d12


def test_lsh_topk_infers_dim_and_rejects_mismatch(spark):
    import pytest
    from py4j.protocol import Py4JJavaError

    e = emb(spark)
    q = e.filter(F.col("vec_id") < 2)
    out = lsh_topk(e, q, "embedding", "vec_id", "vec_id", k=2).collect()
    assert all(r.neighbor_id != r.query_id for r in out)
    # a corpus row with the wrong vector length must fail loudly,
    # not silently land in bucket 0
    bad = e.limit(1).withColumn("embedding", F.slice("embedding", 1, 3))
    mixed = e.unionByName(bad)
    with pytest.raises(Exception) as ei:
        lsh_topk(mixed, q, "embedding", "vec_id", "vec_id", k=2, dim=64).collect()
    assert "expected 64-dim" in str(ei.value)


def test_simhash_max_hamming_zero_exact_duplicates(spark):
    """max_hamming=0 means one 64-bit chunk; the mask (1<<64)-1 used to
    overflow a long literal (ADVICE r2) — now groups on the raw column."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "something else entirely")],
        "id long, text string",
    )
    pairs = simhash_near_pairs(df, "text", "id", max_hamming=0).collect()
    assert [(p.id_a, p.id_b, p.hamming) for p in pairs] == [(1, 2, 0)]


def test_connected_components_known_topology(spark):
    """Chain 1-2-3-4 (diameter > 1 forces multiple propagation rounds),
    triangle 10-11-12, isolated pair 20-21."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    comp = {r.id: r.component for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_ivf_at_rest_matches_inflight_and_prunes(spark, tmp_path):
    """The partitioned-at-rest IVF index returns exactly what the
    in-flight operator returns, and its scan carries a partition
    filter on the cell column (pruning = candidate selection)."""
    from lakehouse_poc_spark.operators.similarity import (
        ivf_build_index,
        ivf_query_at_rest,
        ivf_topk,
    )
    from lakehouse_poc_spark.sinks.warehouse import Warehouse
    from lakehouse_poc_spark.sources.readers import read_parquet_table

    emb = read_parquet_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4).withColumnRenamed("vec_id", "qid")
    wh = Warehouse(spark, str(tmp_path / "wh"))
    ivf_build_index(emb, wh, "ann.ivf", "embedding", "vec_id", n_centroids=16)
    at_rest = ivf_query_at_rest(
        wh, "ann.ivf", queries.select("qid", "embedding"),
        "embedding", "vec_id", "qid", k=5, nprobe=2,
    )
    inflight = ivf_topk(
        emb, queries.select("qid", "embedding"),
        "embedding", "vec_id", "qid", k=5, nprobe=2, n_centroids=16,
    )
    a = {(r.query_id, r.rank): r.neighbor_id for r in at_rest.collect()}
    b = {(r.query_id, r.rank): r.neighbor_id for r in inflight.collect()}
    assert a == b
    plan = at_rest._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters", 1)[1][:200]


def test_kmeans_ivf_deterministic_and_recall(spark):
    """Trained-quantizer IVF: same centroids on re-run (deterministic
    init + exact mean arithmetic on the same partitioning) and recall
    vs brute-force top-5 at nprobe=4 above a sanity floor."""
    from lakehouse_poc_spark.operators.similarity import ivf_topk, kmeans_train
    from lakehouse_poc_spark.sources.readers import read_parquet_table

    emb = read_parquet_table(spark, SF, "embeddings")
    c1 = kmeans_train(emb, "embedding", "vec_id", k=8, iters=2)
    c2 = kmeans_train(emb, "embedding", "vec_id", k=8, iters=2)
    assert c1 == c2
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(
            emb, queries, "embedding", "vec_id", "qid", k=5
        ).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(
            emb, queries, "embedding", "vec_id", "qid",
            k=5, nprobe=4, centroids=c1,
        ).collect()
    }
    assert len(approx & exact) / len(exact) >= 0.5


def test_blocked_levenshtein_equals_brute(spark):
    """PassJoin-style chunk blocking must return EXACTLY the brute
    pairs (guaranteed recall + same verification) on both a typo
    corpus and the fixture part names."""
    from lakehouse_poc_spark.operators.dedup import (
        levenshtein_pairs,
        levenshtein_pairs_blocked,
    )
    from lakehouse_poc_spark.sources.readers import read_parquet_table

    typos = spark.createDataFrame(
        [(i, s) for i, s in enumerate([
            "spark", "spurk", "sprk", "sparkle", "park", "quark",
            "a", "ab", "", "abcd", "abce", "abcde",
            "mergesort", "mergesortt", "mergeport", "heapsort",
        ])],
        "id long, s string",
    )
    for max_dist in (1, 2, 3):
        brute = {
            (r.id_a, r.id_b, r.dist)
            for r in levenshtein_pairs(typos, "s", "id", max_dist).collect()
        }
        blocked = {
            (r.id_a, r.id_b, r.dist)
            for r in levenshtein_pairs_blocked(typos, "s", "id", max_dist).collect()
        }
        assert blocked == brute, max_dist
    names = read_parquet_table(spark, SF, "part").select("p_name").distinct()
    brute = {
        (r.id_a, r.id_b)
        for r in levenshtein_pairs(names, "p_name", "p_name", 2).collect()
    }
    blocked = {
        (r.id_a, r.id_b)
        for r in levenshtein_pairs_blocked(names, "p_name", "p_name", 2).collect()
    }
    assert blocked == brute


def test_mmr_rerank_matches_reference_and_diversifies(spark):
    """MMR vs a plain-python reference on a constructed set: two
    near-identical high-sim candidates and one diverse mid-sim
    candidate — MMR at lam=0.5 must pick the diverse one second."""
    import numpy as np

    from lakehouse_poc_spark.operators.similarity import (
        brute_force_topk,
        mmr_rerank,
    )

    vecs = {
        0: [1.0, 0.0, 0.0],        # query
        1: [0.99, 0.14, 0.0],      # near-dup of 2, sim≈0.99
        2: [0.99, 0.141, 0.001],   # near-dup of 1
        3: [0.7, 0.0, 0.71],       # diverse, sim≈0.7
        4: [0.0, 1.0, 0.0],        # orthogonal
    }
    corpus = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    queries = corpus.filter("vec_id = 0")
    cands = brute_force_topk(
        corpus, queries, "embedding", "vec_id", "vec_id", k=4
    )
    out = mmr_rerank(cands, corpus, "embedding", "vec_id", k=3).orderBy(
        "mmr_rank"
    )
    picked = [r["neighbor_id"] for r in out.collect()]
    assert picked[0] in (1, 2)          # highest-sim first
    assert picked[1] == 3               # diversity beats the near-dup
    assert len(picked) == 3
    # determinism: re-run yields the identical ranking
    again = [
        r["neighbor_id"]
        for r in mmr_rerank(cands, corpus, "embedding", "vec_id", k=3)
        .orderBy("mmr_rank")
        .collect()
    ]
    assert again == picked


def test_prefix_jaccard_matches_brute_force(spark):
    """PPJoin prefix filtering must be result-identical to the brute
    path at the same threshold — on the fixture AND on an adversarial
    near-dup pair that only just clears the threshold."""
    from lakehouse_poc_spark.operators.dedup import (
        jaccard_prefix_pairs,
        ngram_jaccard_pairs,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base),
        (2, base + " extra"),             # high-overlap near-dup
        (3, "totally different words here entirely now ok fine yes"),
        (4, base.replace("delta", "DELTA")),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    for t in (0.3, 0.5, 0.8):
        brute = ngram_jaccard_pairs(docs, "text", "doc_id", threshold=t)
        pref = jaccard_prefix_pairs(docs, "text", "doc_id", threshold=t)
        assert brute.exceptAll(pref).isEmpty()
        assert pref.exceptAll(brute).isEmpty()


def test_prefix_jaccard_candidate_reduction(spark):
    """The prefix join must generate FAR fewer candidate pairs than
    all-pairs — the whole point. Measured on the fixture corpus."""
    from pyspark.sql import functions as F

    from lakehouse_poc_spark.functions.text import word_shingles
    from lakehouse_poc_spark.operators.dedup import prefix_candidates

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n = docs.count()
    sh = docs.select(
        F.col("doc_id").alias("did"),
        F.array_distinct(word_shingles("text", 3)).alias("sh"),
    ).withColumn("sz", F.size("sh"))
    n_cands = prefix_candidates(sh, threshold=0.5).count()
    all_pairs = n * (n - 1) / 2
    assert n_cands < 0.05 * all_pairs, (n_cands, all_pairs)


def test_positional_filter_shrinks_candidates_losslessly(spark):
    """The PPJoin positional filter must strictly shrink the candidate
    set vs prefix-only on the fixture corpus, while the final result
    stays brute-identical (the lossless guarantee)."""
    from pyspark.sql import functions as F

    from lakehouse_poc_spark.functions.text import word_shingles
    from lakehouse_poc_spark.operators.dedup import prefix_candidates

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sh = docs.select(
        F.col("doc_id").alias("did"),
        F.array_distinct(word_shingles("text", 3)).alias("sh"),
    ).withColumn("sz", F.size("sh"))
    with_pos = prefix_candidates(sh, threshold=0.5, positional=True, accumulate=False)
    without = prefix_candidates(sh, threshold=0.5, positional=False, accumulate=False)
    n_pos, n_plain = with_pos.count(), without.count()
    assert n_pos < n_plain, (n_pos, n_plain)
    # lossless: positional candidates are a subset of prefix-only ones
    assert with_pos.exceptAll(without).isEmpty()


def test_accumulated_overlap_bound_shrinks_candidates_losslessly(spark):
    """The PPJoin accumulated-overlap (pair-level) bound must shrink
    the candidate set vs the per-row positional filter alone, remain a
    subset of it, and keep the final pair results brute-identical."""
    from pyspark.sql import functions as F

    from lakehouse_poc_spark.functions.text import word_shingles
    from lakehouse_poc_spark.operators.dedup import (
        jaccard_prefix_pairs,
        ngram_jaccard_pairs,
        prefix_candidates,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sh = docs.select(
        F.col("doc_id").alias("did"),
        F.array_distinct(word_shingles("text", 3)).alias("sh"),
    ).withColumn("sz", F.size("sh"))
    acc = prefix_candidates(sh, threshold=0.5, accumulate=True)
    pos_only = prefix_candidates(sh, threshold=0.5, accumulate=False)
    n_acc, n_pos = acc.count(), pos_only.count()
    assert n_acc < n_pos, (n_acc, n_pos)
    assert acc.exceptAll(pos_only).isEmpty()
    # end-to-end result identity through the accumulated path
    brute = ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5)
    pref = jaccard_prefix_pairs(docs, "text", "doc_id", threshold=0.5)
    assert brute.exceptAll(pref).isEmpty()
    assert pref.exceptAll(brute).isEmpty()


def test_prefix_bound_exact_integer_arithmetic(spark):
    """ADVICE r4: float ceil(t*sz) can overshoot the exact ceiling
    (t=0.07, sz=100 → float gives 8, exact is 7), shortening the
    prefix below the no-lost-pairs bound. With exact micro-int
    arithmetic the awkward threshold must still be brute-identical."""
    from lakehouse_poc_spark.operators.dedup import (
        jaccard_prefix_pairs,
        ngram_jaccard_pairs,
    )

    words = [f"w{i}" for i in range(102)]
    rows = [
        (1, " ".join(words[:102])),           # 100 3-shingles
        (2, " ".join(words[2:102] + ["x", "y"])),  # sz=100, small overlap
        (3, " ".join(reversed(words))),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    for t in (0.07, 0.5):
        brute = ngram_jaccard_pairs(docs, "text", "doc_id", threshold=t)
        pref = jaccard_prefix_pairs(docs, "text", "doc_id", threshold=t)
        assert brute.exceptAll(pref).isEmpty(), t
        assert pref.exceptAll(brute).isEmpty(), t


def test_pq_codebooks_empty_corpus_raises(spark):
    import pytest as _pt

    from lakehouse_poc_spark.operators.similarity import pq_codebooks

    empty = spark.createDataFrame([], "id long, emb array<float>")
    with _pt.raises(ValueError, match="empty corpus"):
        pq_codebooks(empty, "emb", "id")


def _kmeans_objective(spark, cents, emb):
    """Mean max-cosine of each corpus vector to its nearest centroid —
    higher is better."""
    from pyspark.sql import functions as F

    from lakehouse_poc_spark.functions.vectors import cosine

    cdf = spark.createDataFrame(
        [(cid, v) for cid, v in cents], "cent_id int, cent_vec array<double>"
    )
    return (
        emb.crossJoin(F.broadcast(cdf))
        .withColumn(
            "__s", cosine(F.col("embedding").cast("array<double>"), F.col("cent_vec"))
        )
        .groupBy("vec_id")
        .agg(F.max("__s").alias("best"))
        .agg(F.avg("best"))
        .collect()[0][0]
    )


def test_kmeans_parallel_init_deterministic_and_no_worse(spark):
    """k-means|| init (VERDICT r4 task 7): hash-based sampling must be
    run-to-run deterministic, and the trained quantizer's objective
    must be at least as good as Lloyd's from min-id init on the
    fixture (the skew-robustness claim, measured not asserted blind)."""
    from lakehouse_poc_spark.operators.similarity import (
        kmeans_parallel_init,
        kmeans_train,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    s1 = kmeans_parallel_init(emb, "embedding", "vec_id", k=8)
    s2 = kmeans_parallel_init(emb, "embedding", "vec_id", k=8)
    assert s1 == s2
    assert len(s1) == 8

    c_min = kmeans_train(emb, "embedding", "vec_id", k=8, iters=3, init="minid")
    c_par = kmeans_train(emb, "embedding", "vec_id", k=8, iters=3, init="parallel")
    obj_min = _kmeans_objective(spark, c_min, emb)
    obj_par = _kmeans_objective(spark, c_par, emb)
    # parallel seeding spreads centers; after the same 3 Lloyd's rounds
    # it must not be worse than min-id (allow float wiggle)
    assert obj_par >= obj_min - 1e-9, (obj_par, obj_min)


def test_kmeans_train_rejects_unknown_init(spark):
    import pytest as _pt

    from lakehouse_poc_spark.operators.similarity import kmeans_train

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with _pt.raises(ValueError, match="init"):
        kmeans_train(emb, "embedding", "vec_id", init="random")


def test_cross_ppjoin_matches_brute_cross(spark):
    """R-S PPJoin (incremental near-dup) must equal the brute
    batch×corpus cross at the same threshold, including a pair that
    only just clears it and ids appearing on both sides."""
    from pyspark.sql import functions as F

    from lakehouse_poc_spark.operators.dedup import jaccard_prefix_pairs_cross

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base),
        (2, base + " extra"),
        (3, "totally different words here entirely now ok fine yes"),
        (4, base.replace("delta", "DELTA")),
        (5, base),  # exact clone across the split
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    batch = docs.filter(F.col("doc_id") % 2 == 1)   # 1, 3, 5
    corpus = docs.filter(F.col("doc_id") % 2 == 0)  # 2, 4
    for t in (0.3, 0.5, 0.8):
        got = {
            (r.id_a, r.id_b)
            for r in jaccard_prefix_pairs_cross(
                batch, corpus, "text", "doc_id", threshold=t
            ).collect()
        }
        # brute truth
        sh = docs.select(
            "doc_id",
            F.array_distinct(
                __import__(
                    "lakehouse_poc_spark.functions.text", fromlist=["word_shingles"]
                ).word_shingles("text", 3)
            ).alias("s"),
        ).collect()
        sets = {r.doc_id: set(r.s) for r in sh}
        want = {
            (a, b)
            for a in (1, 3, 5)
            for b in (2, 4)
            if len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= t
        }
        assert got == want, (t, got, want)


def test_semdedup_matches_numpy_reference(spark):
    from lakehouse_poc_spark.operators.semdedup import semdedup

    rows = semdedup(emb(spark), "embedding", "vec_id", threshold=0.3, bits=6).collect()
    got = {r.vec_id: (r.cluster, r.kept) for r in rows}

    ref = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb(spark).collect()}
    cluster = {
        i: sum((1 << b) for b in range(6) if v[b] >= 0) for i, v in ref.items()
    }
    kept = {}
    for i in sorted(ref):
        vi = ref[i]
        kept[i] = True
        for j in sorted(ref):
            if j >= i:
                break
            if cluster[j] != cluster[i]:
                continue
            vj = ref[j]
            cos = float(vi @ vj / (np.linalg.norm(vi) * np.linalg.norm(vj)))
            if cos >= 0.3:
                kept[i] = False
                break
    assert got == {i: (cluster[i], kept[i]) for i in ref}
    # the fixture must exercise both branches
    assert any(not k for _, k in got.values()) and any(k for _, k in got.values())


def test_semdedup_custom_cluster_col(spark):
    from lakehouse_poc_spark.operators.semdedup import semdedup

    e = emb(spark).withColumn("cell", (F.col("vec_id") % 7).cast("int"))
    rows = semdedup(
        e, "embedding", "vec_id", threshold=0.3, cluster_col="cell"
    ).collect()
    assert {r.cluster for r in rows} <= set(range(7))
    assert len(rows) == e.count()


def test_containment_matches_brute_and_catches_quotes(spark):
    """Asymmetric containment must (a) equal the brute all-ordered-pairs
    computation and (b) catch a short doc quoted inside a long one —
    the case symmetric Jaccard structurally misses."""
    from pyspark.sql import functions as F

    from lakehouse_poc_spark.functions.text import word_shingles
    from lakehouse_poc_spark.operators.dedup import (
        jaccard_containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "to be or not to be that is the question"
    rows = [
        (1, quote),
        (2, "the prince said " + quote + " and then walked slowly away "
            "across the old stone bridge toward the castle gates at dawn"),
        (3, "completely unrelated text about spark shuffles and parquet files"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    got = {
        (r.id_a, r.id_b): r.containment
        for r in jaccard_containment_pairs(
            docs, "text", "doc_id", threshold=0.8
        ).collect()
    }
    # doc 1 is fully quoted in doc 2 → containment 1.0; reverse is low
    assert got.get((1, 2)) == 1.0
    assert (2, 1) not in got and (1, 3) not in got

    # Jaccard misses it at the same threshold (union is dominated by 2)
    j = ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.8)
    assert j.filter("id_a = 1 AND id_b = 2").isEmpty()

    # brute parity across thresholds
    sh = docs.select(
        F.col("doc_id").alias("did"),
        F.array_distinct(word_shingles("text", 3)).alias("sh"),
    ).filter(F.size("sh") > 0)
    a, b = sh.alias("a"), sh.alias("b")
    brute_all = (
        a.join(b, F.col("a.did") != F.col("b.did"))
        .select(
            F.col("a.did").alias("id_a"),
            F.col("b.did").alias("id_b"),
            (
                F.size(F.array_intersect("a.sh", "b.sh")).cast("double")
                / F.size("a.sh").cast("double")
            ).alias("containment"),
        )
    )
    for t in (0.3, 0.8, 1.0):
        brute = brute_all.filter(F.col("containment") >= t)
        fast = jaccard_containment_pairs(docs, "text", "doc_id", threshold=t)
        assert brute.exceptAll(fast).isEmpty(), t
        assert fast.exceptAll(brute).isEmpty(), t


def test_winnowing_guarantee_and_density(spark):
    """Winnowing's contract (Schleimer et al. 2003): any shared word
    run of >= w+k-1 words yields at least one identical selected
    fingerprint; and selection keeps ~2/(w+1) of the grams, not all
    of them."""
    from pyspark.sql import functions as F

    from lakehouse_poc_spark.functions.text import word_shingles
    from lakehouse_poc_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_pairs,
    )

    shared_run = "one two three four five six"  # w+k-1 = 6 words
    rows = [
        (1, "alpha beta " + shared_run + " gamma delta epsilon zeta"),
        (2, "omicron pi rho " + shared_run + " sigma tau upsilon"),
        (3, "entirely different words with no overlap at all here"),
        (4, "tiny doc"),  # < k words: zero grams, zero fingerprints
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    fps = winnow_fingerprints(docs, "text", "doc_id", k=3, w=4)
    by_doc = {
        r.did: r.n for r in fps.groupBy("did").agg(F.count("*").alias("n")).collect()
    }
    assert by_doc.get(4) is None  # no grams -> no fingerprints

    # guarantee: docs 1 and 2 share a fingerprint despite the run
    # sitting at different positions (position is selection tie-break
    # only; the emitted fingerprint is the position-free hash)
    pairs = {
        (r.id_a, r.id_b)
        for r in winnow_pairs(
            docs, "text", "doc_id", k=3, w=4, min_shared=1
        ).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs

    # density: far fewer fingerprints than grams
    n_grams = docs.select(
        F.explode(word_shingles("text", 3))
    ).count()
    n_fps = fps.count()
    assert n_fps < n_grams, (n_fps, n_grams)


def test_skyline_sweep_matches_quadratic_dominance(spark):
    """The block-offset sweep must equal the O(n²) NOT-EXISTS
    dominance semantics on crafted edges: duplicate frontier points
    (both kept), same-x dominated rows, equal-y-cheaper-x dominance,
    and single-point blocks."""
    from pyspark.sql import functions as F

    from lakehouse_poc_spark.operators.skyline import skyline_2d

    rows = [
        (1, 1.0, 10),   # frontier
        (2, 1.0, 10),   # duplicate of 1 — both kept
        (3, 1.0, 9),    # same x, smaller y — dominated by 1
        (4, 2.0, 10),   # y ties 1 at higher x — dominated
        (5, 2.0, 11),   # frontier
        (6, 5.0, 11),   # dominated by 5 (equal y, higher x)
        (7, 5.0, 12),   # frontier
        (8, 9.0, 1),    # dominated by everything above
    ]
    df = spark.createDataFrame(rows, ["id", "x", "y"])
    got = {
        r.id
        for r in skyline_2d(
            df, "x", "y", block=F.floor(F.col("x")).cast("long")
        ).collect()
    }
    assert got == {1, 2, 5, 7}

    # brute parity on a pseudo-random cloud (hash-derived, no RNG)
    cloud = spark.range(200).select(
        F.col("id"),
        (F.pmod(F.hash("id"), 97)).cast("double").alias("x"),
        (F.pmod(F.hash("id", F.lit(1)), 89)).cast("long").alias("y"),
    )
    a, b = cloud.alias("a"), cloud.alias("b")
    dominated = (
        a.join(
            b,
            (F.col("b.x") <= F.col("a.x"))
            & (F.col("b.y") >= F.col("a.y"))
            & ((F.col("b.x") < F.col("a.x")) | (F.col("b.y") > F.col("a.y"))),
            "left_semi",
        ).select("a.id")
    )
    brute = {r.id for r in cloud.join(dominated, "id", "left_anti").collect()}
    fast = {
        r.id
        for r in skyline_2d(
            cloud, "x", "y", block=F.floor(F.col("x") / 8).cast("long")
        ).collect()
    }
    assert fast == brute


def test_incremental_containment_matches_brute_cross(spark):
    """R-S containment must equal the brute batch×corpus computation,
    including a batch quote contained in a corpus doc but not vice
    versa, at several thresholds."""
    from pyspark.sql import functions as F

    from lakehouse_poc_spark.functions.text import word_shingles
    from lakehouse_poc_spark.operators.dedup import (
        jaccard_containment_pairs_cross,
    )

    quote = "the quick brown fox jumps over the lazy dog today"
    batch = spark.createDataFrame(
        [(100, quote), (101, "nothing like anything else in the corpus")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            (1, "chapter one begins " + quote + " and continues with many "
                "more words about entirely other topics for a while"),
            (2, "an unrelated corpus document about distributed joins"),
        ],
        ["doc_id", "text"],
    )

    def _sh(df):
        return df.select(
            F.col("doc_id").alias("did"),
            F.array_distinct(word_shingles("text", 3)).alias("sh"),
        ).filter(F.size("sh") > 0)

    a, b = _sh(batch).alias("a"), _sh(corpus).alias("b")
    brute_all = a.join(b, F.lit(True)).select(
        F.col("a.did").alias("id_a"),
        F.col("b.did").alias("id_b"),
        (
            F.size(F.array_intersect("a.sh", "b.sh")).cast("double")
            / F.size("a.sh").cast("double")
        ).alias("containment"),
    )
    for t in (0.3, 0.8, 1.0):
        brute = brute_all.filter(F.col("containment") >= t)
        fast = jaccard_containment_pairs_cross(
            batch, corpus, "text", "doc_id", threshold=t
        )
        assert brute.exceptAll(fast).isEmpty(), t
        assert fast.exceptAll(brute).isEmpty(), t

    got = {
        (r.id_a, r.id_b): r.containment
        for r in jaccard_containment_pairs_cross(
            batch, corpus, "text", "doc_id", threshold=0.8
        ).collect()
    }
    assert got.get((100, 1)) == 1.0 and (101, 2) not in got


def test_skyline_nd_matches_quadratic_dominance(spark):
    """Grid-pruned d=3 skyline vs brute quadratic dominance on
    deterministic pseudo-random points, including duplicate points
    (kept — neither strictly dominates) and null coordinates
    (excluded). Also checks the shell-budget guard."""
    import pytest

    from lakehouse_poc_spark.operators.skyline import skyline_nd

    pts = [
        (
            i,
            float((i * 73) % 97),
            float((i * 131) % 89),
            float((i * 17) % 101),
        )
        for i in range(300)
    ]
    pts.append((300, pts[5][1], pts[5][2], pts[5][3]))  # duplicate coords
    rows = [(i, x, y, z) for i, x, y, z in pts] + [(999, None, 1.0, 1.0)]
    df = spark.createDataFrame(
        rows, "pid long, x double, y double, z double"
    )

    def dominated(a, b):  # b dominates a (all minimized)
        return (
            b[1] <= a[1]
            and b[2] <= a[2]
            and b[3] <= a[3]
            and (b[1] < a[1] or b[2] < a[2] or b[3] < a[3])
        )

    expect = {
        a[0]
        for a in pts
        if not any(dominated(a, b) for b in pts if b[0] != a[0])
    }
    got = {
        r.pid
        for r in skyline_nd(df, ["x", "y", "z"], buckets=4).collect()
    }
    assert got == expect
    with pytest.raises(ValueError, match="shell"):
        skyline_nd(df, ["x", "y", "z"], buckets=2, shell_budget=1)


def test_sq8_quantization_bounds_and_recall(spark):
    """SQ8 behavioral contract: codes live on the 0..255 grid, the
    per-dimension reconstruction error is at most half a grid step,
    and the quantized top-5 matches exact L2 top-5 on a small corpus
    (per-dim 8-bit grids are nearly lossless at this k)."""
    import numpy as np

    from lakehouse_poc_spark.operators.similarity import (
        sq8_encode,
        sq8_stats,
        sq8_topk,
    )

    rng = np.random.RandomState(11)
    vecs = rng.randn(60, 8).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    mins, maxs = sq8_stats(df, "embedding")
    assert len(mins) == 8
    enc = sq8_encode(df, mins, maxs, "embedding", "vec_id")
    codes = enc.agg(
        F.min("code").alias("lo"), F.max("code").alias("hi")
    ).first()
    assert codes["lo"] >= 0 and codes["hi"] <= 255

    # reconstruction error <= step/2 per dim (+ float32 slack)
    mn = np.asarray(mins)
    step = (np.asarray(maxs) - mn) / 255.0
    got = {(r.vec_id, r.d): r.code for r in enc.collect()}
    for i in range(10):
        v = vecs[i].astype("float64")
        for d in range(8):
            rec = mn[d] + got[(i, d + 1)] * step[d]
            assert abs(v[d] - rec) <= step[d] / 2 + 1e-9

    qs = df.filter(F.col("vec_id") < 3)
    top = sq8_topk(df, qs, "embedding", "vec_id", "vec_id", k=5)
    by_q = {}
    for r in top.collect():
        by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
    # exact L2 ground truth
    for qid in range(3):
        d2 = ((vecs.astype("float64") - vecs[qid].astype("float64")) ** 2).sum(1)
        order = [i for i in np.argsort(d2, kind="stable") if i != qid][:5]
        assert by_q[qid] == set(int(i) for i in order)


def test_ivf_index_add_matches_rebuild(spark, tmp_path):
    """build-then-add over frozen centroids is bit-identical to a full
    rebuild over the union (the maintained-index identity), and adds
    only ever append — the pre-add rows are untouched."""
    from lakehouse_poc_spark.operators.similarity import (
        ivf_build_index,
        ivf_index_add,
        ivf_query_at_rest,
    )
    from lakehouse_poc_spark.sinks.warehouse import Warehouse
    from lakehouse_poc_spark.sources.readers import read_parquet_table

    emb = read_parquet_table(spark, SF, "embeddings")
    initial = emb.filter(F.col("vec_id") % 3 != 2)
    late = emb.filter(F.col("vec_id") % 3 == 2)
    wh = Warehouse(spark, str(tmp_path / "wh"))

    ivf_build_index(initial, wh, "ann.inc", "embedding", "vec_id", 16)
    n1 = ivf_index_add(
        late.filter(F.col("vec_id") % 2 == 0), wh, "ann.inc",
        "embedding", "vec_id",
    )
    n2 = ivf_index_add(
        late.filter(F.col("vec_id") % 2 == 1), wh, "ann.inc",
        "embedding", "vec_id",
    )
    assert n1 + n2 == late.count()

    # first-principles reference (independent of ivf_index_add's
    # internals — code-review r7: a build+add twin would mirror any
    # bug): every corpus vector must sit in the cell of its
    # max-cosine centroid, centroids = min-id 16 of the INITIAL set
    import numpy as np
    import pandas as pd

    pdf = emb.select("vec_id", "embedding").toPandas()
    X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    init_ids = sorted(i for i in ids if i % 3 != 2)[:16]
    C = X[np.isin(ids, init_ids)]
    cid = np.array(sorted(init_ids))
    order = np.argsort(ids[np.isin(ids, init_ids)])
    C = C[order]
    sims = (X @ C.T) / (
        np.linalg.norm(X, axis=1)[:, None] * np.linalg.norm(C, axis=1)[None, :]
    )
    # argmax with ties to the smaller centroid id (the operator's
    # ORDER BY __csim DESC, cent_id)
    best = sims.argmax(axis=1)
    expected = {(int(i), int(cid[b])) for i, b in zip(ids, best)}

    inc = {
        (r.vec_id, r.cell)
        for r in wh.read("ann.inc").select("vec_id", "cell").collect()
    }
    assert len(inc) == emb.count()
    assert inc == expected

    # batch-split invariance: one add of everything == two adds
    wh2 = Warehouse(spark, str(tmp_path / "wh2"))
    ivf_build_index(initial, wh2, "ann.full", "embedding", "vec_id", 16)
    ivf_index_add(late, wh2, "ann.full", "embedding", "vec_id")
    queries = emb.filter(F.col("vec_id") < 4).withColumnRenamed("vec_id", "qid")
    a = ivf_query_at_rest(
        wh, "ann.inc", queries.select("qid", "embedding"),
        "embedding", "vec_id", "qid", k=5, nprobe=2,
    )
    b = ivf_query_at_rest(
        wh2, "ann.full", queries.select("qid", "embedding"),
        "embedding", "vec_id", "qid", k=5, nprobe=2,
    )
    ra = {(r.query_id, r.rank): r.neighbor_id for r in a.collect()}
    rb = {(r.query_id, r.rank): r.neighbor_id for r in b.collect()}
    assert ra == rb and len(ra) > 0


def test_recall_decay_trigger_fires_after_stale_adds(spark):
    """VERDICT r7 task 6: the maintenance loop's missing half. After
    ~16x frozen-centroid growth from a 32-vector build, recall@5
    collapses far past the documented retrain threshold (mean decay
    0.475 at sf0.01 / 0.625 at sf0.001 vs trigger 0.1 — SCALE.md
    §6.7), while the fresh rebuild holds the ann_recall_ivf baseline
    (0.925). The trigger contract: mean decay > 0.1 => rebuild."""
    from lakehouse_poc_spark import plans
    from pyspark.sql import functions as F

    r = (
        plans.QUERIES["ann_recall_after_adds"](spark, "/root/testdata/sf0.001")
        .agg(
            F.avg("recall_maintained").alias("rm"),
            F.avg("recall_fresh").alias("rf"),
            F.avg("decay").alias("d"),
        )
        .collect()[0]
    )
    assert r["rf"] >= 0.9                     # retrain restores baseline
    assert r["d"] > 0.1, r["d"]               # trigger fires
    assert abs(r["d"] - (r["rf"] - r["rm"])) < 1e-12


def test_recall_decay_zero_when_base_covers_distribution(spark, tmp_path):
    """The other side of the threshold: when the build subset already
    contains the full corpus's min-id centroids (vec_id < 468), the
    frozen quantizer IS the retrained quantizer, so build+add is
    bit-identical to the fresh rebuild and decay is exactly 0 — the
    trigger stays silent on distribution-covering adds."""
    from pyspark.sql import functions as F

    from lakehouse_poc_spark.operators.similarity import (
        ivf_build_index,
        ivf_index_add,
        ivf_query_at_rest,
    )
    from lakehouse_poc_spark.sinks.warehouse import Warehouse
    from lakehouse_poc_spark.sources.readers import read_parquet_table

    emb = read_parquet_table(spark, "/root/testdata/sf0.001", "embeddings")
    wh = Warehouse(spark, str(tmp_path / "wh"))
    queries = emb.filter(F.col("vec_id") < 8)
    ivf_build_index(
        emb.filter(F.col("vec_id") < 468), wh, "m", "embedding", "vec_id"
    )
    ivf_index_add(
        emb.filter(F.col("vec_id") >= 468), wh, "m", "embedding", "vec_id"
    )
    ivf_build_index(emb, wh, "f", "embedding", "vec_id")
    rm = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ivf_query_at_rest(
            wh, "m", queries, "embedding", "vec_id", "vec_id", k=5, nprobe=2
        ).collect()
    }
    rf = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ivf_query_at_rest(
            wh, "f", queries, "embedding", "vec_id", "vec_id", k=5, nprobe=2
        ).collect()
    }
    assert rm == rf and len(rm) == 40


def test_pca_power_iteration_matches_numpy_eigenvector(spark):
    """The integer power iteration must land on the true leading
    eigenvector of the (first-16-dim) covariance: |cos| vs numpy's
    eigh > 0.999 on the fixture (8 matrix squarings = A^256; integer
    rounding is the only slack)."""
    import numpy as np

    from lakehouse_poc_spark import plans

    res = plans.QUERIES["pca_power_iteration_embeddings"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    v = np.array([r.loading for r in sorted(res, key=lambda r: r.pos)])
    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("embedding")
        .toPandas()["embedding"]
    )
    X = np.array(emb.tolist())[:, :16].astype(np.float64)
    C = np.cov(X, rowvar=False, bias=True)
    evals, evecs = np.linalg.eigh(C)
    lead = evecs[:, -1]
    cos = abs(v @ lead) / (np.linalg.norm(v) * np.linalg.norm(lead))
    assert cos > 0.999, cos
