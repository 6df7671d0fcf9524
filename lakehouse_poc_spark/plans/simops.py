"""Similarity & near-dup queries: n-gram Jaccard (exact oracle),
MinHash LSH and SimHash (deterministic but engine-specific hashing →
rows-only driver check), embedding cosine near-dup + brute-force top-k
(exact, fold-generated SQL oracle), hyperplane-LSH top-k (exact oracle
— the planes are driver-side literals embedded in the SQL).

The exact-cosine oracles generate a left-fold SQL expression
(``list_reduce`` over per-element double products) that evaluates in
the same order as Spark's ``F.aggregate`` fold, so the doubles are
bit-identical — no rounding anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    connected_components,
    embedding_neardup_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from ..operators.similarity import brute_force_topk, hyperplanes, ivf_topk, lsh_topk
from ..session import overlap
from ..sources.readers import read_parquet_table
from . import query


def _batch_scratch():
    from .etlops import SCRATCH

    return SCRATCH

EMB_DIM = 64


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet_table(spark, sf_dir, name)


def _sql_dot(a: str, b: str, dim: int | None = None) -> str:
    return (
        f"list_reduce(list_transform(generate_series(1, {dim or EMB_DIM}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (acc, x) -> acc + x)"
    )


def _sql_norm(a: str, dim: int | None = None) -> str:
    return f"sqrt({_sql_dot(a, a, dim)})"


def _sql_cosine(a: str, b: str, dim: int | None = None) -> str:
    return f"({_sql_dot(a, b, dim)} / ({_sql_norm(a, dim)} * {_sql_norm(b, dim)}))"


# ---------------------------------------------------------------------------
# Exact all-pairs n-gram Jaccard near-dup (the brute-force oracle path;
# MinHash LSH below is the scale path for the same semantics).
@query(
    "ngram_jaccard_pairs_docs",
    oracle=r"""
    WITH sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(w) - 2, 0)),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
               )) AS s
        FROM (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents)
    )
    SELECT id_a, id_b, jaccard FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        FROM sh a JOIN sh b
          ON a.doc_id < b.doc_id
         AND len(a.s) >= 0.5 * len(b.s) AND len(b.s) >= 0.5 * len(a.s)
    ) t
    WHERE jaccard >= 0.5
    ORDER BY id_a, id_b
    """,
)
def ngram_jaccard_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, text_col="text", id_col="doc_id", shingle_n=3, threshold=0.5
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Near-dup CLUSTERS: pairs → connected components → one canonical doc
# (min id) per component; docs in no pair are their own canonical. The
# step that turns pairwise evidence into a deduped corpus. Pair source
# here is the oracle-expressible brute Jaccard; at scale you'd feed
# minhash_lsh_pairs into the same component/canonical machinery. The
# DuckDB oracle rebuilds the pair graph and closes it with a recursive
# CTE (fine at oracle scale; the Spark path is the distributed one).
@query(
    "dedup_clusters_docs",
    oracle=r"""
    WITH RECURSIVE sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(w) - 2, 0)),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
               )) AS s
        FROM (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents)
    ),
    pairs AS (
        SELECT id_a, id_b FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
            FROM sh a JOIN sh b
              ON a.doc_id < b.doc_id
             AND len(a.s) >= 0.5 * len(b.s) AND len(b.s) >= 0.5 * len(a.s)
        ) t
        WHERE jaccard >= 0.5
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    reach AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    comp AS (
        SELECT src AS doc_id, LEAST(src, MIN(dst)) AS comp_id
        FROM reach GROUP BY src
    )
    SELECT d.doc_id,
           CAST(COALESCE(c.comp_id, d.doc_id) AS BIGINT) AS canonical_id,
           (c.comp_id IS NULL OR c.comp_id = d.doc_id) AS is_canonical
    FROM documents d LEFT JOIN comp c USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def dedup_clusters_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, text_col="text", id_col="doc_id", shingle_n=3, threshold=0.5
    )
    comp = connected_components(pairs, "id_a", "id_b").withColumnRenamed(
        "id", "doc_id"
    )
    return (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("canonical_id"),
            (
                F.col("component").isNull()
                | (F.col("component") == F.col("doc_id"))
            ).alias("is_canonical"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup (scale path). Deterministic (seeded perms) but
# xxhash64 is Spark-specific → rows-only driver check; the unit tests
# assert it finds the same pairs as the brute-force query on fixtures.
@query("minhash_lsh_pairs_docs")
def minhash_lsh_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, text_col="text", id_col="doc_id",
        num_perm=32, bands=8, shingle_n=3, threshold=0.5,
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# SimHash near-dup (rows-only: xxhash64-based).
@query("simhash_pairs_docs")
def simhash_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return simhash_near_pairs(
        docs, text_col="text", id_col="doc_id", max_hamming=3
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Exact embedding cosine near-dup pairs.
@query(
    "embedding_neardup_pairs",
    oracle=f"""
    SELECT id_a, id_b, cos_sim FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               {_sql_cosine('a.embedding', 'b.embedding')} AS cos_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    ) t
    WHERE cos_sim >= 0.4
    ORDER BY id_a, id_b
    """,
)
def embedding_neardup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(
        emb, vec_col="embedding", id_col="vec_id", threshold=0.4
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Exact brute-force cosine top-k for a fixed query set (vec_id < 8).
@query(
    "similarity_topk_brute",
    oracle=f"""
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_sql_cosine('q.embedding', 'c.embedding')} AS cos_sim,
               CAST(row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_sql_cosine('q.embedding', 'c.embedding')} DESC, c.vec_id
               ) AS INTEGER) AS rank
        FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < 8
    ) t
    WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def similarity_topk_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return brute_force_topk(
        emb, queries, vec_col="embedding", id_col="vec_id",
        query_id_col="vec_id", k=5,
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# Per-label embedding centroids: column-wise mean over array<float>.
# Shape: posexplode → (label, pos) partial sums → group back with an
# ordered collect — the shuffle carries one row per (label, dim), and
# the decimal-cast sums keep the doubles engine-exact.
@query(
    "embedding_label_centroids",
    oracle="""
    WITH flat AS (
        SELECT label, u.pos, CAST(u.val AS DOUBLE) AS val
        FROM embeddings,
             LATERAL (SELECT generate_subscripts(embedding, 1) AS pos,
                             unnest(embedding) AS val) u
    )
    SELECT label, CAST(pos AS INTEGER) AS pos,
           CAST(SUM(CAST(val AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS m,
           COUNT(*) AS n_vectors
    FROM flat
    GROUP BY label, pos
    ORDER BY label, pos
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    # posexplode is 0-based; +1 aligns with SQL's generate_subscripts.
    # Output is one scalar row per (label, dimension) — at rest the
    # centroid matrix, re-assembled by the consumer when needed.
    flat = emb.select(
        "label", F.posexplode("embedding").alias("pos0", "val")
    ).select(
        "label",
        (F.col("pos0") + 1).cast("int").alias("pos"),
        F.col("val").cast("double").alias("val"),
    )
    return (
        flat.groupBy("label", "pos")
        .agg(
            (
                F.sum(F.col("val").cast("decimal(30,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("m"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
        .orderBy("label", "pos")
    )


# ---------------------------------------------------------------------------
# IVF approximate top-k: deterministic coarse quantizer (the 16
# lowest-id corpus vectors as centroids), corpus assigned to 1 cell,
# queries probe 2 cells, exact ranking within the probed cells. Fully
# deterministic → exact oracle reproducing the same cell assignment.
@query(
    "similarity_topk_ivf",
    oracle=f"""
    WITH cents AS (
        SELECT vec_id AS cid, embedding AS cv
        FROM embeddings ORDER BY vec_id LIMIT 16
    ),
    corpus_cells AS (
        SELECT vec_id AS neighbor_id, embedding AS nv, cid FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_sql_cosine('e.embedding', 'c.cv')} DESC, c.cid
                   ) AS crank
            FROM embeddings e CROSS JOIN cents c
        ) t WHERE crank <= 1
    ),
    query_cells AS (
        SELECT vec_id AS query_id, embedding AS qv, cid FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_sql_cosine('e.embedding', 'c.cv')} DESC, c.cid
                   ) AS crank
            FROM embeddings e CROSS JOIN cents c
            WHERE e.vec_id < 8
        ) t WHERE crank <= 2
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
        SELECT q.query_id, c.neighbor_id,
               {_sql_cosine('q.qv', 'c.nv')} AS cos_sim,
               CAST(row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {_sql_cosine('q.qv', 'c.nv')} DESC, c.neighbor_id
               ) AS INTEGER) AS rank
        FROM query_cells q JOIN corpus_cells c ON q.cid = c.cid
        WHERE c.neighbor_id <> q.query_id
    ) t
    WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return ivf_topk(
        emb, queries, vec_col="embedding", id_col="vec_id",
        query_id_col="vec_id", k=5, n_centroids=16, nprobe=2,
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# Hyperplane-LSH approximate top-k. The hyperplanes are DRIVER-SIDE
# literals (operators/similarity.py::hyperplanes, seeded PRNG), so the
# whole query — bucket sign-bits included — is plain float arithmetic
# and gets a fully exact SQL oracle: each plane's dot product is the
# same left-fold as Spark's F.aggregate, against the same literal
# plane values (repr() round-trips doubles exactly).


def _sql_plane_dot(vec: str, plane: list[float]) -> str:
    lits = "[" + ", ".join(repr(x) for x in plane) + "]"
    return (
        f"list_reduce(list_transform(generate_series(1, {EMB_DIM}), "
        f"j -> CAST({vec}[j] AS DOUBLE) * ({lits})[j]), (acc, x) -> acc + x)"
    )


def _sql_lsh_bucket(vec: str, planes: list[list[float]]) -> str:
    cases = [
        f"CASE WHEN {_sql_plane_dot(vec, p)} > 0 THEN {1 << i} ELSE 0 END"
        for i, p in enumerate(planes)
    ]
    return "(" + " + ".join(cases) + ")"


_LSH_PLANES = hyperplanes(EMB_DIM, 8, seed=7)


@query(
    "similarity_topk_lsh",
    oracle=f"""
    WITH c AS (
        SELECT vec_id AS neighbor_id, embedding AS nv,
               {_sql_lsh_bucket('embedding', _LSH_PLANES)} AS bucket
        FROM embeddings
    ),
    q AS (
        SELECT vec_id AS query_id, embedding AS qv,
               {_sql_lsh_bucket('embedding', _LSH_PLANES)} AS bucket
        FROM embeddings WHERE vec_id < 8
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
        SELECT q.query_id, c.neighbor_id,
               {_sql_cosine('q.qv', 'c.nv')} AS cos_sim,
               CAST(row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {_sql_cosine('q.qv', 'c.nv')} DESC, c.neighbor_id
               ) AS INTEGER) AS rank
        FROM q JOIN c ON q.bucket = c.bucket AND c.neighbor_id <> q.query_id
    ) t
    WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def similarity_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return lsh_topk(
        emb, queries, vec_col="embedding", id_col="vec_id",
        query_id_col="vec_id", k=5, n_planes=8,
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# int8 quantization quality report: per-vector scale, reconstruction
# MSE, and cosine(original, dequantized). The decision artifact for
# "can this corpus serve ANN from int8?" — at 100 TB the quantized
# corpus is a map-only rewrite 4-8x smaller at rest and in shuffle.
@query(
    "embedding_quantize_stats",
    oracle=f"""
    WITH t AS (
        SELECT vec_id,
               greatest(list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE)))), 1e-12) AS scale,
               embedding
        FROM embeddings
    ),
    d AS (
        SELECT vec_id, scale,
               list_transform(embedding,
                   x -> round(CAST(x AS DOUBLE) / scale * 127) * scale / 127) AS deq,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS orig
        FROM t
    )
    SELECT vec_id, scale,
           list_reduce(list_transform(generate_series(1, {EMB_DIM}),
               i -> (orig[i] - deq[i]) * (orig[i] - deq[i])), (acc, x) -> acc + x)
             / {EMB_DIM}.0 AS mse,
           ({_sql_dot('orig', 'deq')}
              / (sqrt({_sql_dot('orig', 'orig')}) * sqrt({_sql_dot('deq', 'deq')})))
             AS cos_deq
    FROM d
    ORDER BY vec_id
    """,
)
def embedding_quantize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import cosine, dequantize, maxabs_scale, quantize_int8

    emb = _t(spark, sf_dir, "embeddings")
    scale = maxabs_scale(F.col("embedding"))
    with_q = emb.select(
        "vec_id",
        scale.alias("scale"),
        F.col("embedding").alias("orig"),
        dequantize(quantize_int8(F.col("embedding"), scale), scale).alias("deq"),
    )
    diff_sq = F.aggregate(
        F.zip_with(
            "orig",
            "deq",
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return with_q.select(
        "vec_id",
        "scale",
        (diff_sq / F.lit(float(EMB_DIM))).alias("mse"),
        cosine(F.col("orig"), F.col("deq")).alias("cos_deq"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# Scale-path clustering: minhash-LSH pairs → connected components →
# canonical per component. Rows-only (xxhash64 pair source is not
# SQL-portable); pair-parity of the source is asserted against the
# brute-force twin in tests, and dedup_clusters_docs oracle-checks the
# identical component machinery on the portable pair source.
@query("dedup_clusters_lsh_docs")
def dedup_clusters_lsh_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, text_col="text", id_col="doc_id",
        num_perm=32, bands=8, shingle_n=3, threshold=0.5,
    )
    comp = connected_components(pairs, "id_a", "id_b").withColumnRenamed(
        "id", "doc_id"
    )
    return (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("canonical_id"),
            (
                F.col("component").isNull()
                | (F.col("component") == F.col("doc_id"))
            ).alias("is_canonical"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Edit-distance near-pairs over distinct part names (typo-level entity
# dedup). Thresholded band DP on Spark; plain levenshtein <= d in the
# oracle — identical pair sets by definition.
@query(
    "levenshtein_pairs_parts",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
    FROM names a JOIN names b
      ON a.p_name < b.p_name
     AND abs(length(a.p_name) - length(b.p_name)) <= 2
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    ORDER BY name_a, name_b
    """,
)
def levenshtein_pairs_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import levenshtein_pairs

    names = _t(spark, sf_dir, "part").select("p_name").distinct()
    return (
        levenshtein_pairs(names, text_col="p_name", id_col="p_name", max_dist=2)
        .select(
            F.col("id_a").alias("name_a"),
            F.col("id_b").alias("name_b"),
            F.col("dist").cast("bigint").alias("dist"),
        )
        .orderBy("name_a", "name_b")
    )


# ---------------------------------------------------------------------------
# IVF with a TRAINED quantizer (Lloyd's k-means, deterministic min-id
# init). Rows-only: unrolling 3 k-means iterations into SQL is not
# practical; determinism + recall vs brute force are unit-tested
# (test_dedup_similarity.py).
@query("similarity_topk_ivf_trained")
def similarity_topk_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import kmeans_train

    emb = _t(spark, sf_dir, "embeddings")
    queries = (
        emb.filter(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("qid"), "embedding")
    )
    cents = kmeans_train(emb, "embedding", "vec_id", k=16, iters=3)
    return (
        ivf_topk(
            emb, queries, "embedding", "vec_id", "qid",
            k=10, nprobe=2, centroids=cents,
        )
        .select("query_id", "neighbor_id", "cos_sim", "rank")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Scale-path edit-distance pairs: PassJoin-style chunk blocking
# (guaranteed recall via the pigeonhole chunks, see
# operators/dedup.py::levenshtein_pairs_blocked). Result-identical to
# the brute twin, so it shares the same oracle.
@query(
    "levenshtein_blocked_parts",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
    FROM names a JOIN names b
      ON a.p_name < b.p_name
     AND abs(length(a.p_name) - length(b.p_name)) <= 2
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    ORDER BY name_a, name_b
    """,
)
def levenshtein_blocked_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import levenshtein_pairs_blocked

    names = _t(spark, sf_dir, "part").select("p_name").distinct()
    return (
        levenshtein_pairs_blocked(names, text_col="p_name", id_col="p_name", max_dist=2)
        .select(
            F.col("id_a").alias("name_a"),
            F.col("id_b").alias("name_b"),
            F.col("dist").cast("bigint").alias("dist"),
        )
        .orderBy("name_a", "name_b")
    )


# ---------------------------------------------------------------------------
# Two-stage retrieve-then-diversify: brute top-12 candidates per
# query, MMR-diversified down to 5 (lam=0.5). The greedy selection is
# iterative (not SQL-expressible) → rows-only driver check; the
# kernel's semantics, determinism, and diversity behavior are
# pinned by test_dedup_similarity.py::test_mmr_rerank_*.
@query("similarity_topk_mmr")
def similarity_topk_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import mmr_rerank

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    cands = brute_force_topk(
        emb, queries, vec_col="embedding", id_col="vec_id",
        query_id_col="vec_id", k=12,
    )
    return mmr_rerank(
        cands, emb, vec_col="embedding", id_col="vec_id", k=5
    ).orderBy("query_id", "mmr_rank")


# ---------------------------------------------------------------------------
# ANN quality evaluation: recall@5 of the IVF index against the exact
# brute-force ground truth, per query. The standard acceptance gate
# before swapping an approximate index into a retrieval pipeline —
# measured IN the engine, over the same data, with both sides
# oracle-reproducible (IVF's quantizer here is the deterministic
# lowest-id variant, so the whole evaluation is plain arithmetic).
_RECALL_BRUTE_CTE = f"""
    brute AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   CAST(row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_sql_cosine('q.embedding', 'c.embedding')} DESC,
                                c.vec_id
                   ) AS INTEGER) AS rank
            FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
            WHERE q.vec_id < 8
        ) t WHERE rank <= 5
    )"""

_RECALL_IVF_CTE = f"""
    cents AS (
        SELECT vec_id AS cid, embedding AS cv
        FROM embeddings ORDER BY vec_id LIMIT 16
    ),
    corpus_cells AS (
        SELECT vec_id AS neighbor_id, embedding AS nv, cid FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_sql_cosine('e.embedding', 'c.cv')} DESC, c.cid
                   ) AS crank
            FROM embeddings e CROSS JOIN cents c
        ) t WHERE crank <= 1
    ),
    query_cells AS (
        SELECT vec_id AS query_id, embedding AS qv, cid FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_sql_cosine('e.embedding', 'c.cv')} DESC, c.cid
                   ) AS crank
            FROM embeddings e CROSS JOIN cents c
            WHERE e.vec_id < 8
        ) t WHERE crank <= 2
    ),
    ivf AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, c.neighbor_id,
                   CAST(row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {_sql_cosine('q.qv', 'c.nv')} DESC, c.neighbor_id
                   ) AS INTEGER) AS rank
            FROM query_cells q JOIN corpus_cells c ON q.cid = c.cid
            WHERE c.neighbor_id <> q.query_id
        ) t WHERE rank <= 5
    )"""


@query(
    "ann_recall_ivf",
    oracle=f"""
    WITH {_RECALL_BRUTE_CTE.strip()},
    {_RECALL_IVF_CTE.strip()}
    SELECT b.query_id,
           CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_hits,
           CAST(COUNT(i.neighbor_id) AS DOUBLE) / 5.0 AS recall_at_5
    FROM brute b
    LEFT JOIN ivf i
      ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
    GROUP BY b.query_id
    ORDER BY b.query_id
    """,
)
def ann_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    brute = brute_force_topk(
        emb, queries, vec_col="embedding", id_col="vec_id",
        query_id_col="vec_id", k=5,
    ).select("query_id", "neighbor_id")
    approx = ivf_topk(
        emb, queries, vec_col="embedding", id_col="vec_id",
        query_id_col="vec_id", k=5, n_centroids=16, nprobe=2,
    ).select("query_id", "neighbor_id")
    hits = (
        brute.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        brute.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            (
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / F.lit(5.0)
            ).alias("recall_at_5"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Product-quantization ANN (operators/similarity.py::pq_topk): m=8
# subspaces × 16 codewords (min-id deterministic codebook), ADC
# ranking by ascending reconstruction distance. The oracle re-derives
# the codebook, the per-(vector, subspace) argmin encoding, the
# per-query LUT, and the integer ADC sum — all plain arithmetic.
def _sql_l2sq(a: str, b: str) -> str:
    t = f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(generate_series(1, {EMB_DIM}), i -> {t} * {t})), "
        f"(acc, x) -> acc + x)"
    )


def _sql_subdist(vec: str, cv: str, j: str) -> str:
    """Σ over the 8 dims of subspace j of (vec−cv)², left fold."""
    t = (
        f"(CAST({vec}[{j} * 8 + t] AS DOUBLE) - CAST({cv}[{j} * 8 + t] AS DOUBLE))"
    )
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(generate_series(1, 8), t -> {t} * {t})), "
        f"(acc, x) -> acc + x)"
    )


@query(
    "similarity_topk_pq",
    oracle=f"""
    WITH cents AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
               embedding AS cv
        FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
    ),
    subs AS (SELECT CAST(j AS INTEGER) AS j FROM generate_series(0, 7) g(j)),
    enc AS (
        SELECT vec_id, j, cid AS code FROM (
            SELECT e.vec_id, s.j, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id, s.j
                       ORDER BY {_sql_subdist('e.embedding', 'c.cv', 's.j')}, c.cid
                   ) AS rk
            FROM embeddings e CROSS JOIN subs s CROSS JOIN cents c
        ) t WHERE rk = 1
    ),
    lut AS (
        SELECT q.vec_id AS query_id, s.j, c.cid AS code,
               CAST(ROUND({_sql_subdist('q.embedding', 'c.cv', 's.j')}
                          * 1000000.0) AS BIGINT) AS d_micro
        FROM embeddings q CROSS JOIN subs s CROSS JOIN cents c
        WHERE q.vec_id < 8
    ),
    adc AS (
        SELECT l.query_id, e.vec_id AS neighbor_id,
               CAST(SUM(l.d_micro) AS BIGINT) AS adc_micro
        FROM enc e JOIN lut l ON e.j = l.j AND e.code = l.code
        WHERE e.vec_id <> l.query_id
        GROUP BY l.query_id, e.vec_id
    )
    SELECT query_id, neighbor_id, adc_micro,
           CAST(adc_micro AS DOUBLE) / 1000000.0 AS adc_dist, rank
    FROM (
        SELECT *, CAST(row_number() OVER (
                      PARTITION BY query_id
                      ORDER BY adc_micro, neighbor_id) AS INTEGER) AS rank
        FROM adc
    ) t
    WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def similarity_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return pq_topk(
        emb, queries, vec_col="embedding", id_col="vec_id",
        query_id_col="vec_id", k=5, m=8, n_codes=16,
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# IVF-PQ (r7): the FAISS IndexIVFPQ combination — coarse L2 cells +
# product quantization of the RESIDUAL (vector − cell centroid), ADC
# over only each query's nprobe=2 probed cells. The oracle reproduces
# the whole index in SQL: centroid assignment, residual lists,
# residual codebooks (residuals of the 16 lowest-id vectors), per-
# subspace argmin encode, per-(query, probed-cell) LUT, and the
# integer micro-unit ADC sums — so the hash match pins every tie rule
# and every float op of the index, not just its recall.
@query(
    "similarity_topk_ivfpq",
    oracle=f"""
    WITH cents AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
               embedding AS cv
        FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
    ),
    assign AS (
        SELECT vec_id, cid, res FROM (
            SELECT e.vec_id, c.cid,
                   list_transform(generate_series(1, {EMB_DIM}),
                       i -> CAST(e.embedding[i] AS DOUBLE) - c.cv[i]) AS res,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_sql_l2sq('e.embedding', 'c.cv')}, c.cid
                   ) AS rk
            FROM embeddings e CROSS JOIN cents c
        ) t WHERE rk = 1
    ),
    cb AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code,
               res
        FROM (SELECT vec_id, res FROM assign ORDER BY vec_id LIMIT 16)
    ),
    subs AS (SELECT CAST(j AS INTEGER) AS j FROM generate_series(0, 7) g(j)),
    enc AS (
        SELECT vec_id, cid, j, code FROM (
            SELECT a.vec_id, a.cid, s.j, b.code,
                   row_number() OVER (
                       PARTITION BY a.vec_id, s.j
                       ORDER BY {_sql_subdist('a.res', 'b.res', 's.j')}, b.code
                   ) AS rk
            FROM assign a CROSS JOIN subs s CROSS JOIN cb b
        ) t WHERE rk = 1
    ),
    qprobe AS (
        SELECT query_id, cid, qres FROM (
            SELECT q.vec_id AS query_id, c.cid,
                   list_transform(generate_series(1, {EMB_DIM}),
                       i -> CAST(q.embedding[i] AS DOUBLE) - c.cv[i]) AS qres,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_sql_l2sq('q.embedding', 'c.cv')}, c.cid
                   ) AS rk
            FROM embeddings q CROSS JOIN cents c
            WHERE q.vec_id < 8
        ) t WHERE rk <= 2
    ),
    lut AS (
        SELECT p.query_id, p.cid, s.j, b.code,
               CAST(ROUND({_sql_subdist('p.qres', 'b.res', 's.j')}
                          * 1000000.0) AS BIGINT) AS d_micro
        FROM qprobe p CROSS JOIN subs s CROSS JOIN cb b
    ),
    adc AS (
        SELECT l.query_id, e.vec_id AS neighbor_id,
               CAST(SUM(l.d_micro) AS BIGINT) AS adc_micro
        FROM enc e
        JOIN lut l ON e.cid = l.cid AND e.j = l.j AND e.code = l.code
        WHERE e.vec_id <> l.query_id
        GROUP BY l.query_id, e.vec_id
    )
    SELECT query_id, neighbor_id, adc_micro,
           CAST(adc_micro AS DOUBLE) / 1000000.0 AS adc_dist, rank
    FROM (
        SELECT *, CAST(row_number() OVER (
                      PARTITION BY query_id
                      ORDER BY adc_micro, neighbor_id) AS INTEGER) AS rank
        FROM adc
    ) t
    WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def similarity_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivfpq_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return ivfpq_topk(
        emb, queries, vec_col="embedding", id_col="vec_id",
        query_id_col="vec_id", k=5, n_centroids=16, nprobe=2,
        m=8, n_codes=16,
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# PPJoin-style prefix-filtered exact Jaccard: result-identical to
# ngram_jaccard_pairs_docs (deliberately shares its oracle — the
# entire claim is "same results, sub-quadratic candidates"), with
# candidate generation restricted to rare-first prefix shingles.
# The exact-similarity scale path that doesn't trade recall like LSH.
@query(
    "jaccard_prefix_pairs_docs",
    oracle=r"""
    WITH sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(w) - 2, 0)),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
               )) AS s
        FROM (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents)
    )
    SELECT id_a, id_b, jaccard FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        FROM sh a JOIN sh b
          ON a.doc_id < b.doc_id
         AND len(a.s) >= 0.5 * len(b.s) AND len(b.s) >= 0.5 * len(a.s)
    ) t
    WHERE jaccard >= 0.5
    ORDER BY id_a, id_b
    """,
)
def jaccard_prefix_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import jaccard_prefix_pairs

    docs = _t(spark, sf_dir, "documents")
    return jaccard_prefix_pairs(
        docs, text_col="text", id_col="doc_id", shingle_n=3, threshold=0.5
    ).orderBy("id_a", "id_b")


# Asymmetric containment: C(a→b) = |A∩B|/|A| — the quote/subset
# detector Jaccard structurally misses (a short doc quoted inside a
# long one has tiny union, high containment). Oracle is the full
# O(n²) ordered-pair join with the SAME integer threshold test the
# Spark side uses (no float-boundary grazing); the Spark path earns
# its keep by generating candidates from A-side rare-first prefixes
# probing the flat shingle relation.
@query(
    "containment_pairs_docs",
    oracle=r"""
    WITH sh AS (
        SELECT doc_id, s FROM (
            SELECT doc_id,
                   list_distinct(list_transform(
                       generate_series(1, greatest(len(w) - 2, 0)),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                   )) AS s
            FROM (SELECT doc_id, string_split_regex(text, '\s+') AS w
                  FROM documents)
        ) WHERE len(s) > 0
    )
    SELECT id_a, id_b, containment FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / CAST(len(a.s) AS DOUBLE) AS containment,
               len(list_intersect(a.s, b.s)) AS i, len(a.s) AS sa
        FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
    ) t
    WHERE i * 1000000 >= 800000 * sa
    ORDER BY id_a, id_b
    """,
)
def containment_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import jaccard_containment_pairs

    docs = _t(spark, sf_dir, "documents")
    return jaccard_containment_pairs(
        docs, text_col="text", id_col="doc_id", shingle_n=3, threshold=0.8
    ).orderBy("id_a", "id_b")


# Incremental containment: new docs (doc_id % 10 = 0 plays the
# arriving batch) checked for ≥0.8 containment in the historical
# corpus (the rest) — the ingest-time near-copy gate. Oracle is the
# full batch×corpus ordered-pair join with the same integer test.
@query(
    "incremental_containment_docs",
    oracle=r"""
    WITH sh AS (
        SELECT doc_id, s FROM (
            SELECT doc_id,
                   list_distinct(list_transform(
                       generate_series(1, greatest(len(w) - 2, 0)),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                   )) AS s
            FROM (SELECT doc_id, string_split_regex(text, '\s+') AS w
                  FROM documents)
        ) WHERE len(s) > 0
    ),
    b AS (SELECT * FROM sh WHERE doc_id % 10 = 0),
    c AS (SELECT * FROM sh WHERE doc_id % 10 <> 0)
    SELECT id_a, id_b, containment FROM (
        SELECT b.doc_id AS id_a, c.doc_id AS id_b,
               CAST(len(list_intersect(b.s, c.s)) AS DOUBLE)
                 / CAST(len(b.s) AS DOUBLE) AS containment,
               len(list_intersect(b.s, c.s)) AS i, len(b.s) AS sa
        FROM b, c
    ) t
    WHERE i * 1000000 >= 800000 * sa
    ORDER BY id_a, id_b
    """,
)
def incremental_containment_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import jaccard_containment_pairs_cross

    docs = _t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return jaccard_containment_pairs_cross(
        batch, corpus, text_col="text", id_col="doc_id",
        shingle_n=3, threshold=0.8,
    ).orderBy("id_a", "id_b")


# Winnowing (MOSS) fingerprint match: k=3 word grams, window w=4,
# pairs sharing >= 2 selected fingerprints. The md5-substring hash +
# zero-padded position tie-break makes the window minimum a total
# order both engines compute identically; the oracle replays the
# full algorithm in SQL (grams -> window min -> distinct -> join).
@query(
    "winnow_pairs_docs",
    oracle=r"""
    WITH d AS (
        SELECT doc_id, string_split_regex(text, '\s+') AS wt FROM documents
    ),
    g AS (
        SELECT doc_id, i.i AS p,
               substr(md5(wt[i.i] || ' ' || wt[i.i+1] || ' ' || wt[i.i+2]), 1, 8)
                 || '|' || lpad(CAST(i.i AS VARCHAR), 12, '0') AS hp
        FROM d, LATERAL unnest(range(1, len(wt) - 1)) AS i(i)
    ),
    wmin AS (
        SELECT doc_id, p,
               min(hp) OVER (PARTITION BY doc_id ORDER BY p
                             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m,
               count(*) OVER (PARTITION BY doc_id) AS n
        FROM g
    ),
    fp AS (
        SELECT DISTINCT doc_id, substr(m, 1, 8) AS fingerprint
        FROM wmin
        WHERE p <= n - 3 OR (p = 1 AND n < 4)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS shared
    FROM fp a JOIN fp b
      ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
    ORDER BY id_a, id_b
    """,
)
def winnow_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import winnow_pairs

    docs = _t(spark, sf_dir, "documents")
    return winnow_pairs(
        docs, text_col="text", id_col="doc_id", k=3, w=4, min_shared=2
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# PQ quality gate: recall@5 of the PQ/ADC index against the EXACT
# squared-L2 ground truth (PQ approximates L2 — cosine would be the
# wrong yardstick for unnormalized vectors). Completes the eval pair
# with ann_recall_ivf. Ground-truth cost is queries × corpus, not
# corpus²: at scale you recall-check a fixed query sample.
@query(
    "ann_recall_pq",
    oracle=f"""
    WITH brute AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   CAST(row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_sql_l2sq('q.embedding', 'c.embedding')} ASC,
                                c.vec_id
                   ) AS INTEGER) AS rank
            FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
            WHERE q.vec_id < 8
        ) t WHERE rank <= 5
    ),
    cents AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
               embedding AS cv
        FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
    ),
    subs AS (SELECT CAST(j AS INTEGER) AS j FROM generate_series(0, 7) g(j)),
    enc AS (
        SELECT vec_id, j, cid AS code FROM (
            SELECT e.vec_id, s.j, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id, s.j
                       ORDER BY {_sql_subdist('e.embedding', 'c.cv', 's.j')}, c.cid
                   ) AS rk
            FROM embeddings e CROSS JOIN subs s CROSS JOIN cents c
        ) t WHERE rk = 1
    ),
    lut AS (
        SELECT q.vec_id AS query_id, s.j, c.cid AS code,
               CAST(ROUND({_sql_subdist('q.embedding', 'c.cv', 's.j')}
                          * 1000000.0) AS BIGINT) AS d_micro
        FROM embeddings q CROSS JOIN subs s CROSS JOIN cents c
        WHERE q.vec_id < 8
    ),
    pq AS (
        SELECT query_id, neighbor_id FROM (
            SELECT l.query_id, e.vec_id AS neighbor_id,
                   CAST(row_number() OVER (
                       PARTITION BY l.query_id
                       ORDER BY SUM(l.d_micro), e.vec_id) AS INTEGER) AS rank
            FROM enc e JOIN lut l ON e.j = l.j AND e.code = l.code
            WHERE e.vec_id <> l.query_id
            GROUP BY l.query_id, e.vec_id
        ) t WHERE rank <= 5
    )
    SELECT b.query_id,
           CAST(COUNT(p.neighbor_id) AS BIGINT) AS n_hits,
           CAST(COUNT(p.neighbor_id) AS DOUBLE) / 5.0 AS recall_at_5
    FROM brute b
    LEFT JOIN pq p
      ON b.query_id = p.query_id AND b.neighbor_id = p.neighbor_id
    GROUP BY b.query_id
    ORDER BY b.query_id
    """,
)
def ann_recall_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import l2_dist_sq
    from ..operators.similarity import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    c = emb.select(F.col("vec_id").alias("__nid"), F.col("embedding").alias("__nv"))
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv")
    )
    from pyspark.sql import Window as W

    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("__nid") != F.col("query_id"))
        .select(
            "query_id",
            F.col("__nid").alias("neighbor_id"),
            l2_dist_sq(F.col("__qv"), F.col("__nv")).alias("d"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.asc("d"), F.asc("neighbor_id"))
    brute = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id")
    )
    approx = pq_topk(
        emb, queries, vec_col="embedding", id_col="vec_id",
        query_id_col="vec_id", k=5, m=8, n_codes=16,
    ).select("query_id", "neighbor_id")
    hits = (
        brute.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        brute.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            (
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / F.lit(5.0)
            ).alias("recall_at_5"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# LSH quality gate: recall@5 of hyperplane-LSH vs exact cosine ground
# truth — completes the acceptance-gate triad (IVF, PQ, LSH). An LSH
# bucket can hold fewer than 5 candidates, so per-query recall
# directly exposes bucket-starvation (the multiprobe trigger).
@query(
    "ann_recall_lsh",
    oracle=f"""
    WITH {_RECALL_BRUTE_CTE.strip()},
    c AS (
        SELECT vec_id AS neighbor_id, embedding AS nv,
               {_sql_lsh_bucket('embedding', _LSH_PLANES)} AS bucket
        FROM embeddings
    ),
    q AS (
        SELECT vec_id AS query_id, embedding AS qv,
               {_sql_lsh_bucket('embedding', _LSH_PLANES)} AS bucket
        FROM embeddings WHERE vec_id < 8
    ),
    lsh AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, c.neighbor_id,
                   CAST(row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {_sql_cosine('q.qv', 'c.nv')} DESC, c.neighbor_id
                   ) AS INTEGER) AS rank
            FROM q JOIN c ON q.bucket = c.bucket AND c.neighbor_id <> q.query_id
        ) t WHERE rank <= 5
    )
    SELECT b.query_id,
           CAST(COUNT(l.neighbor_id) AS BIGINT) AS n_hits,
           CAST(COUNT(l.neighbor_id) AS DOUBLE) / 5.0 AS recall_at_5
    FROM brute b
    LEFT JOIN lsh l
      ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
    GROUP BY b.query_id
    ORDER BY b.query_id
    """,
)
def ann_recall_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    brute = brute_force_topk(
        emb, queries, vec_col="embedding", id_col="vec_id",
        query_id_col="vec_id", k=5,
    ).select("query_id", "neighbor_id")
    approx = lsh_topk(
        emb, queries, vec_col="embedding", id_col="vec_id",
        query_id_col="vec_id", k=5, n_planes=8,
    ).select("query_id", "neighbor_id")
    hits = (
        brute.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        brute.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            (
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / F.lit(5.0)
            ).alias("recall_at_5"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Multiprobe LSH: probe the 2 single-bit-flip buckets of the query's
# lowest-confidence planes in addition to its own bucket — the recall
# lever the ann_recall_lsh gate motivates, with the corpus side (and
# its at-rest partitioning) untouched. Fully oracle-exact: probe
# selection is |plane·q| ranking over the same literal planes.
def _sql_probe_union(p: int) -> str:
    branches = " UNION ALL ".join(
        f"SELECT query_id, qv, bucket, {i} AS idx, "
        f"abs({_sql_plane_dot('qv', plane)}) AS a FROM q"
        for i, plane in enumerate(_LSH_PLANES)
    )
    return f"""
    probes AS (
        SELECT query_id, qv, bucket AS pb FROM q
        UNION ALL
        SELECT query_id, qv, xor(bucket, 1 << idx) AS pb FROM (
            SELECT query_id, qv, bucket, idx,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY a, idx) AS rk
            FROM ({branches})
        ) t WHERE rk <= {p}
    )"""


@query(
    "similarity_topk_lsh_mp",
    oracle=f"""
    WITH c AS (
        SELECT vec_id AS neighbor_id, embedding AS nv,
               {_sql_lsh_bucket('embedding', _LSH_PLANES)} AS bucket
        FROM embeddings
    ),
    q AS (
        SELECT vec_id AS query_id, embedding AS qv,
               {_sql_lsh_bucket('embedding', _LSH_PLANES)} AS bucket
        FROM embeddings WHERE vec_id < 8
    ),
    {_sql_probe_union(2).strip()}
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
        SELECT p.query_id, c.neighbor_id,
               {_sql_cosine('p.qv', 'c.nv')} AS cos_sim,
               CAST(row_number() OVER (
                   PARTITION BY p.query_id
                   ORDER BY {_sql_cosine('p.qv', 'c.nv')} DESC, c.neighbor_id
               ) AS INTEGER) AS rank
        FROM probes p JOIN c ON p.pb = c.bucket AND c.neighbor_id <> p.query_id
    ) t
    WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def similarity_topk_lsh_mp(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return lsh_topk(
        emb, queries, vec_col="embedding", id_col="vec_id",
        query_id_col="vec_id", k=5, n_planes=8, multiprobe=2,
    ).orderBy("query_id", "rank")


@query(
    "ann_recall_lsh_mp",
    oracle=f"""
    WITH {_RECALL_BRUTE_CTE.strip()},
    c AS (
        SELECT vec_id AS neighbor_id, embedding AS nv,
               {_sql_lsh_bucket('embedding', _LSH_PLANES)} AS bucket
        FROM embeddings
    ),
    q AS (
        SELECT vec_id AS query_id, embedding AS qv,
               {_sql_lsh_bucket('embedding', _LSH_PLANES)} AS bucket
        FROM embeddings WHERE vec_id < 8
    ),
    {_sql_probe_union(2).strip()},
    lsh AS (
        SELECT query_id, neighbor_id FROM (
            SELECT p.query_id, c.neighbor_id,
                   CAST(row_number() OVER (
                       PARTITION BY p.query_id
                       ORDER BY {_sql_cosine('p.qv', 'c.nv')} DESC, c.neighbor_id
                   ) AS INTEGER) AS rank
            FROM probes p JOIN c ON p.pb = c.bucket AND c.neighbor_id <> p.query_id
        ) t WHERE rank <= 5
    )
    SELECT b.query_id,
           CAST(COUNT(l.neighbor_id) AS BIGINT) AS n_hits,
           CAST(COUNT(l.neighbor_id) AS DOUBLE) / 5.0 AS recall_at_5
    FROM brute b
    LEFT JOIN lsh l
      ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
    GROUP BY b.query_id
    ORDER BY b.query_id
    """,
)
def ann_recall_lsh_mp(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    brute = brute_force_topk(
        emb, queries, vec_col="embedding", id_col="vec_id",
        query_id_col="vec_id", k=5,
    ).select("query_id", "neighbor_id")
    approx = lsh_topk(
        emb, queries, vec_col="embedding", id_col="vec_id",
        query_id_col="vec_id", k=5, n_planes=8, multiprobe=2,
    ).select("query_id", "neighbor_id")
    hits = (
        brute.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        brute.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            (
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / F.lit(5.0)
            ).alias("recall_at_5"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Multi-TABLE LSH (L independent hash tables × h planes, + multiprobe):
# the canonical recall construction — a true neighbor is found if it
# collides in ANY table. Measured on this fixture (adversarially
# uniform vectors): 1 table × 8 planes ≈ 0.0 recall@5; 4 tables ×
# 5 planes × 2 probes ≈ 0.7 recall@5 at ~2/5 of the corpus scanned —
# the honest recall/cost dial, with ann_recall_lsh_multi as the gate.
_MT_TABLES = 4
_MT_PLANES = 5
_MT_PROBE = 2
_MT_PLANE_SETS = [
    hyperplanes(EMB_DIM, _MT_PLANES, seed=7 + t) for t in range(_MT_TABLES)
]


def _sql_multitable_cand() -> str:
    """CTE text: q, c, per-table probe sets, distinct candidate pairs."""
    parts = [
        """q AS (
        SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        WHERE vec_id < 8
    ),
    c AS (SELECT vec_id AS neighbor_id, embedding AS nv FROM embeddings)"""
    ]
    cand_branches = []
    for t, planes in enumerate(_MT_PLANE_SETS):
        bucket_q = _sql_lsh_bucket("qv", planes)
        bucket_c = _sql_lsh_bucket("nv", planes)
        dot_branches = " UNION ALL ".join(
            f"SELECT query_id, bucket, {i} AS idx, "
            f"abs({_sql_plane_dot('qv', plane)}) AS a FROM qt{t}"
            for i, plane in enumerate(planes)
        )
        parts.append(f"""qt{t} AS (
        SELECT query_id, qv, {bucket_q} AS bucket FROM q
    ),
    ct{t} AS (
        SELECT neighbor_id, {bucket_c} AS bucket FROM c
    ),
    probes{t} AS (
        SELECT query_id, bucket AS pb FROM qt{t}
        UNION ALL
        SELECT query_id, xor(bucket, 1 << idx) AS pb FROM (
            SELECT query_id, bucket, idx,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY a, idx) AS rk
            FROM ({dot_branches})
        ) x WHERE rk <= {_MT_PROBE}
    )""")
        cand_branches.append(
            f"SELECT p.query_id, cc.neighbor_id "
            f"FROM probes{t} p JOIN ct{t} cc ON p.pb = cc.bucket "
            f"WHERE cc.neighbor_id <> p.query_id"
        )
    parts.append(
        "cand AS (SELECT DISTINCT query_id, neighbor_id FROM ("
        + " UNION ALL ".join(cand_branches)
        + ") u)"
    )
    return ",\n    ".join(parts)


_MT_RANKED = f"""
    ranked AS (
        SELECT query_id, neighbor_id, cos_sim,
               CAST(row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
        FROM (
            SELECT d.query_id, d.neighbor_id,
                   {_sql_cosine('q.qv', 'c.nv')} AS cos_sim
            FROM cand d
            JOIN q ON q.query_id = d.query_id
            JOIN c ON c.neighbor_id = d.neighbor_id
        ) s
    )"""


@query(
    "similarity_topk_lsh_multi",
    oracle=f"""
    WITH {_sql_multitable_cand()},
    {_MT_RANKED.strip()}
    SELECT query_id, neighbor_id, cos_sim, rank
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def similarity_topk_lsh_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return lsh_topk(
        emb, queries, vec_col="embedding", id_col="vec_id",
        query_id_col="vec_id", k=5,
        n_planes=_MT_PLANES, n_tables=_MT_TABLES, multiprobe=_MT_PROBE,
    ).orderBy("query_id", "rank")


@query(
    "ann_recall_lsh_multi",
    oracle=f"""
    WITH {_RECALL_BRUTE_CTE.strip()},
    {_sql_multitable_cand()},
    {_MT_RANKED.strip()},
    lshm AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 5)
    SELECT b.query_id,
           CAST(COUNT(l.neighbor_id) AS BIGINT) AS n_hits,
           CAST(COUNT(l.neighbor_id) AS DOUBLE) / 5.0 AS recall_at_5
    FROM brute b
    LEFT JOIN lshm l
      ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
    GROUP BY b.query_id
    ORDER BY b.query_id
    """,
)
def ann_recall_lsh_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    brute = brute_force_topk(
        emb, queries, vec_col="embedding", id_col="vec_id",
        query_id_col="vec_id", k=5,
    ).select("query_id", "neighbor_id")
    approx = lsh_topk(
        emb, queries, vec_col="embedding", id_col="vec_id",
        query_id_col="vec_id", k=5,
        n_planes=_MT_PLANES, n_tables=_MT_TABLES, multiprobe=_MT_PROBE,
    ).select("query_id", "neighbor_id")
    hits = (
        brute.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        brute.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            (
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / F.lit(5.0)
            ).alias("recall_at_5"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Scalable global rank (two-phase block-offset row_number — the fix
# for the single-reducer global-window scale hole) and
# sorted-neighborhood record-linkage blocking built on it. The oracle
# runs the textbook single-window formulation; the Spark side must be
# bit-identical blockwise.
@query(
    "global_rank_parts",
    oracle="""
    SELECT p_partkey,
           CAST(row_number() OVER (ORDER BY p_name, p_partkey) AS BIGINT) AS rank
    FROM part
    ORDER BY rank
    """,
)
def global_rank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.linkage import global_rank

    part = _t(spark, sf_dir, "part").select("p_partkey", "p_name")
    return (
        global_rank(
            part,
            sort_cols=["p_name", "p_partkey"],
            block=F.substring("p_name", 1, 2),
        )
        .select("p_partkey", F.col("rank").cast("bigint").alias("rank"))
        .orderBy("rank")
    )


@query(
    "sorted_neighborhood_parts",
    oracle="""
    WITH ranked AS (
      SELECT p_partkey, row_number() OVER (ORDER BY p_name, p_partkey) AS rn
      FROM part
    )
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           CAST(b.rn - a.rn AS BIGINT) AS rank_dist
    FROM ranked a JOIN ranked b
      ON b.rn > a.rn AND b.rn - a.rn <= 3
    ORDER BY id_a, id_b
    """,
)
def sorted_neighborhood_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.linkage import sorted_neighborhood_pairs

    part = _t(spark, sf_dir, "part").select("p_partkey", "p_name")
    return (
        sorted_neighborhood_pairs(
            part,
            sort_cols=["p_name", "p_partkey"],
            block=F.substring("p_name", 1, 2),
            id_col="p_partkey",
            window=3,
        )
        .select("id_a", "id_b", F.col("rank_dist").cast("bigint").alias("rank_dist"))
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Hard-negative mining (contrastive-training prep): per query, the
# top-k most-similar vectors with a DIFFERENT label — hard because
# they are close in embedding space yet semantically wrong. Same
# broadcast-queries brute pass as similarity_topk_brute with the
# label exclusion fused into the scoring filter.
@query(
    "hard_negatives_embeddings",
    oracle=f"""
    SELECT query_id, neighbor_id, neighbor_label, cos_sim, rank FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               c.label AS neighbor_label,
               {_sql_cosine('q.embedding', 'c.embedding')} AS cos_sim,
               CAST(row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_sql_cosine('q.embedding', 'c.embedding')} DESC, c.vec_id
               ) AS INTEGER) AS rank
        FROM embeddings q JOIN embeddings c
          ON c.vec_id <> q.vec_id AND c.label <> q.label
        WHERE q.vec_id < 8
    ) t
    WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def hard_negatives_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import hard_negatives

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return hard_negatives(
        emb, queries, vec_col="embedding", id_col="vec_id",
        query_id_col="vec_id", label_col="label", k=5,
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# Matryoshka truncation eval (Kusupati et al. 2022, public paper —
# MRL-style prefix-truncated embeddings): recall@5 of exact retrieval
# on the FIRST 16 of 64 dims vs exact retrieval on the full vector.
# The quality gate before shipping truncated embeddings (4× smaller
# index, same pipeline); both sides are plain exact retrieval, so the
# whole measurement is oracle-reproducible — no sketch, no sampling.
_MATRYOSHKA_DIMS = 16

_RECALL_TRUNC_CTE = f"""
    trunc AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   CAST(row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_sql_cosine('q.embedding', 'c.embedding', _MATRYOSHKA_DIMS)} DESC,
                                c.vec_id
                   ) AS INTEGER) AS rank
            FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
            WHERE q.vec_id < 8
        ) t WHERE rank <= 5
    )"""


@query(
    "ann_recall_matryoshka",
    oracle=f"""
    WITH {_RECALL_BRUTE_CTE.strip()},
    {_RECALL_TRUNC_CTE.strip()}
    SELECT b.query_id,
           CAST(COUNT(t.neighbor_id) AS BIGINT) AS n_hits,
           CAST(COUNT(t.neighbor_id) AS DOUBLE) / 5.0 AS recall_at_5
    FROM brute b
    LEFT JOIN trunc t
      ON b.query_id = t.query_id AND b.neighbor_id = t.neighbor_id
    GROUP BY b.query_id
    ORDER BY b.query_id
    """,
)
def ann_recall_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    brute = brute_force_topk(
        emb, queries, vec_col="embedding", id_col="vec_id",
        query_id_col="vec_id", k=5,
    ).select("query_id", "neighbor_id")
    sliced = emb.withColumn(
        "embedding", F.slice("embedding", 1, _MATRYOSHKA_DIMS)
    )
    trunc = brute_force_topk(
        sliced, sliced.filter(F.col("vec_id") < 8),
        vec_col="embedding", id_col="vec_id", query_id_col="vec_id", k=5,
    ).select("query_id", "neighbor_id")
    hits = (
        brute.join(trunc, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        brute.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            (
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / F.lit(5.0)
            ).alias("recall_at_5"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Incremental EXACT near-dup: every (batch, corpus) pair with 3-gram
# Jaccard ≥ 0.5 — the continuous-ingest admission test
# (incremental_dedup covers exact fingerprints; this catches NEAR
# duplicates with zero recall loss, unlike an LSH store). The Spark
# side is the R-S PPJoin (combined-df global order, prefix +
# size-ratio + positional filters, candidate-only verification); the
# oracle is the brute batch×corpus cross — identical pairs by the
# losslessness guarantee.
@query(
    "incremental_neardup_docs",
    oracle=r"""
    WITH sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(w) - 2, 0)),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
               )) AS s
        FROM (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents)
    )
    SELECT id_a, id_b, jaccard FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
    ) t
    WHERE jaccard >= 0.5
    ORDER BY id_a, id_b
    """,
)
def incremental_neardup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import jaccard_prefix_pairs_cross

    docs = _t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return jaccard_prefix_pairs_cross(
        batch, corpus, text_col="text", id_col="doc_id",
        shingle_n=3, threshold=0.5,
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Sparse bag-of-words cosine near-dup (inverted-index join): documents
# meet only through shared tokens, so the pair space is Σ df(token)²
# not n². All-integer tf dot products + correctly-rounded sqrt make
# the cosine bit-identical across engines — fully oracle-checked,
# unlike log-idf weighting (last-ulp libm differences).
@query(
    "tf_cosine_pairs_docs",
    oracle=r"""
    WITH tok AS (
        SELECT doc_id AS did, t, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id,
                     unnest(list_transform(
                         generate_series(1, greatest(len(w) - 2, 0)),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                     )) AS t
              FROM (SELECT doc_id, string_split_regex(text, '\s+') AS w
                    FROM documents))
        WHERE t <> ''
        GROUP BY doc_id, t
    ),
    norm AS (SELECT did, SUM(tf * tf) AS n2 FROM tok GROUP BY did),
    dots AS (
        SELECT a.did AS id_a, b.did AS id_b, SUM(a.tf * b.tf) AS dot
        FROM tok a JOIN tok b ON a.t = b.t AND a.did < b.did
        GROUP BY a.did, b.did
    )
    SELECT id_a, id_b, cos_sim FROM (
        SELECT id_a, id_b,
               CAST(dot AS DOUBLE)
                 / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
                 AS cos_sim
        FROM dots
        JOIN norm na ON na.did = id_a
        JOIN norm nb ON nb.did = id_b
    ) t
    WHERE cos_sim >= 0.8
    ORDER BY id_a, id_b
    """,
)
def tf_cosine_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import tf_cosine_pairs

    docs = _t(spark, sf_dir, "documents")
    return tf_cosine_pairs(
        docs, text_col="text", id_col="doc_id", threshold=0.8, shingle_n=3
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# SemDeDup: cluster-then-dedup semantic deduplication (Abbas et al.
# 2023). Clusters are the sign pattern of the first 6 embedding dims
# (training-free, SQL-expressible — the oracle stamps the identical
# cluster ids); within a cluster a vector is dropped iff a lower-id
# vector sits within the cosine threshold. The within-cluster join is
# the whole point: O(sum(c_i^2)) instead of the all-pairs O(n^2) that
# embedding_neardup_pairs (the brute oracle path above) pays.
_SEMDEDUP_CLUSTER = " + ".join(
    f"(CASE WHEN embedding[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END)" for i in range(6)
)


@query(
    "semdedup_embeddings",
    oracle=f"""
    WITH c AS (
        SELECT vec_id, embedding,
               {_SEMDEDUP_CLUSTER} AS cluster
        FROM embeddings
    ),
    dups AS (
        SELECT DISTINCT b.vec_id AS vid
        FROM c a JOIN c b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        WHERE {_sql_cosine('a.embedding', 'b.embedding')} >= 0.3
    )
    SELECT c.vec_id, CAST(c.cluster AS INTEGER) AS cluster,
           (d.vid IS NULL) AS kept
    FROM c LEFT JOIN dups d ON c.vec_id = d.vid
    ORDER BY c.vec_id
    """,
)
def semdedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.semdedup import semdedup

    emb = _t(spark, sf_dir, "embeddings")
    return (
        semdedup(emb, vec_col="embedding", id_col="vec_id", threshold=0.3, bits=6)
        .withColumn("cluster", F.col("cluster").cast("int"))
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# Embedding-space decontamination: the semantic twin of the 8-gram
# decontaminate_docs — for every TRAIN vector (label <> 0), find its
# closest EVAL vector (label = 0) and flag cosine >= threshold as
# contamination. Catches paraphrased eval leakage that exact n-gram
# overlap misses (the reason modern pipelines run BOTH). Scale shape:
# the eval set is benchmark-sized (thousands), so it BROADCASTS and
# scoring is map-only over the train corpus — one window per train
# vector on a broadcast-joined frame, no corpus-sized shuffle. For
# eval sets too big to broadcast, the LSH-bucketed path
# (similarity_topk_lsh) is the prefilter, same as near-dup.
_DECON_EMB_T = 0.5


@query(
    "decontaminate_embeddings",
    oracle=f"""
    SELECT vec_id, eval_id, cos_sim,
           cos_sim >= {_DECON_EMB_T} AS contaminated
    FROM (
        SELECT t.vec_id AS vec_id, e.vec_id AS eval_id,
               {_sql_cosine('t.embedding', 'e.embedding')} AS cos_sim,
               CAST(row_number() OVER (
                   PARTITION BY t.vec_id
                   ORDER BY {_sql_cosine('t.embedding', 'e.embedding')} DESC,
                            e.vec_id
               ) AS INTEGER) AS rank
        FROM embeddings t JOIN embeddings e ON e.label = 0
        WHERE t.label <> 0
    ) s
    WHERE rank = 1
    ORDER BY vec_id
    """,
)
def decontaminate_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.vectors import dot, norm

    emb = _t(spark, sf_dir, "embeddings")
    # Precompute each side's norm ONCE — HOF lambdas are interpreted
    # (SCALE.md §5 lesson 1), so folding the norm per PAIR would
    # triple the dominant cost; dot/(na*nb) is the same expression
    # order as cosine(), so the doubles are bit-identical.
    train = emb.filter(F.col("label") != 0).select(
        "vec_id",
        F.col("embedding").alias("t_emb"),
        norm(F.col("embedding")).alias("t_norm"),
    )
    ev = emb.filter(F.col("label") == 0).select(
        F.col("vec_id").alias("eval_id"),
        F.col("embedding").alias("e_emb"),
        norm(F.col("embedding")).alias("e_norm"),
    )
    scored = train.join(F.broadcast(ev)).select(
        "vec_id",
        "eval_id",
        (
            dot(F.col("t_emb"), F.col("e_emb"))
            / (F.col("t_norm") * F.col("e_norm"))
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos_sim").desc(), "eval_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") == 1)
        .select(
            "vec_id",
            "eval_id",
            "cos_sim",
            (F.col("cos_sim") >= F.lit(_DECON_EMB_T)).alias("contaminated"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# IVF-PQ quality gate (r7): recall@5 of the residual-quantized index
# against the exact squared-L2 ground truth — completes the recall
# family (lsh / lsh_mp / lsh_multi / ivf / pq / matryoshka / ivfpq).
# The oracle composes the brute CTE of ann_recall_pq with the full
# index reproduction of similarity_topk_ivfpq, so both the recall
# NUMBER and the index behavior behind it are pinned.
@query(
    "ann_recall_ivfpq",
    oracle=f"""
    WITH brute AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   CAST(row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_sql_l2sq('q.embedding', 'c.embedding')} ASC,
                                c.vec_id
                   ) AS INTEGER) AS rank
            FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
            WHERE q.vec_id < 8
        ) t WHERE rank <= 5
    ),
    cents AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
               embedding AS cv
        FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
    ),
    assign AS (
        SELECT vec_id, cid, res FROM (
            SELECT e.vec_id, c.cid,
                   list_transform(generate_series(1, {EMB_DIM}),
                       i -> CAST(e.embedding[i] AS DOUBLE) - c.cv[i]) AS res,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_sql_l2sq('e.embedding', 'c.cv')}, c.cid
                   ) AS rk
            FROM embeddings e CROSS JOIN cents c
        ) t WHERE rk = 1
    ),
    cb AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code,
               res
        FROM (SELECT vec_id, res FROM assign ORDER BY vec_id LIMIT 16)
    ),
    subs AS (SELECT CAST(j AS INTEGER) AS j FROM generate_series(0, 7) g(j)),
    enc AS (
        SELECT vec_id, cid, j, code FROM (
            SELECT a.vec_id, a.cid, s.j, b.code,
                   row_number() OVER (
                       PARTITION BY a.vec_id, s.j
                       ORDER BY {_sql_subdist('a.res', 'b.res', 's.j')}, b.code
                   ) AS rk
            FROM assign a CROSS JOIN subs s CROSS JOIN cb b
        ) t WHERE rk = 1
    ),
    qprobe AS (
        SELECT query_id, cid, qres FROM (
            SELECT q.vec_id AS query_id, c.cid,
                   list_transform(generate_series(1, {EMB_DIM}),
                       i -> CAST(q.embedding[i] AS DOUBLE) - c.cv[i]) AS qres,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_sql_l2sq('q.embedding', 'c.cv')}, c.cid
                   ) AS rk
            FROM embeddings q CROSS JOIN cents c
            WHERE q.vec_id < 8
        ) t WHERE rk <= 2
    ),
    lut AS (
        SELECT p.query_id, p.cid, s.j, b.code,
               CAST(ROUND({_sql_subdist('p.qres', 'b.res', 's.j')}
                          * 1000000.0) AS BIGINT) AS d_micro
        FROM qprobe p CROSS JOIN subs s CROSS JOIN cb b
    ),
    ivfpq AS (
        SELECT query_id, neighbor_id FROM (
            SELECT l.query_id, e.vec_id AS neighbor_id,
                   CAST(row_number() OVER (
                       PARTITION BY l.query_id
                       ORDER BY SUM(l.d_micro), e.vec_id) AS INTEGER) AS rank
            FROM enc e
            JOIN lut l ON e.cid = l.cid AND e.j = l.j AND e.code = l.code
            WHERE e.vec_id <> l.query_id
            GROUP BY l.query_id, e.vec_id
        ) t WHERE rank <= 5
    )
    SELECT b.query_id,
           CAST(COUNT(p.neighbor_id) AS BIGINT) AS n_hits,
           CAST(COUNT(p.neighbor_id) AS DOUBLE) / 5.0 AS recall_at_5
    FROM brute b
    LEFT JOIN ivfpq p
      ON b.query_id = p.query_id AND b.neighbor_id = p.neighbor_id
    GROUP BY b.query_id
    ORDER BY b.query_id
    """,
)
def ann_recall_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import l2_dist_sq
    from ..operators.similarity import ivfpq_topk
    from pyspark.sql import Window as W

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    c = emb.select(
        F.col("vec_id").alias("__nid"), F.col("embedding").alias("__nv")
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("__nid") != F.col("query_id"))
        .select(
            "query_id",
            F.col("__nid").alias("neighbor_id"),
            l2_dist_sq(F.col("__qv"), F.col("__nv")).alias("d"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.asc("d"), F.asc("neighbor_id"))
    brute = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id")
    )
    approx = ivfpq_topk(
        emb, queries, vec_col="embedding", id_col="vec_id",
        query_id_col="vec_id", k=5, n_centroids=16, nprobe=2,
        m=8, n_codes=16,
    ).select("query_id", "neighbor_id")
    hits = (
        brute.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        brute.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias(
                "n_hits"
            ),
            (
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / F.lit(5.0)
            ).alias("recall_at_5"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Scalar quantization (int8) ANN — the flat SQ tier of the ladder
# (FAISS IndexScalarQuantizer QT_8bit, public): per-dimension min/max
# train a 256-level grid, vectors store 1 byte/dim, queries rank the
# whole corpus by ADC over a per-query (dim × 256) lookup table. The
# oracle re-derives the trained grid, the rounded codes, the LUT and
# the integer micro ADC sums — every float op and tie rule pinned.
_SQ8_STATS_CTE = f"""
    dims AS (SELECT CAST(i AS INTEGER) AS d FROM generate_series(1, {EMB_DIM}) g(i)),
    stats AS (
        SELECT d, MIN(CAST(embedding[d] AS DOUBLE)) AS mn,
               MAX(CAST(embedding[d] AS DOUBLE)) AS mx
        FROM embeddings CROSS JOIN dims GROUP BY d
    ),
    enc AS (
        SELECT e.vec_id, s.d,
               CASE WHEN s.mx = s.mn THEN 0
                    ELSE CAST(ROUND(((CAST(e.embedding[s.d] AS DOUBLE) - s.mn)
                                     / (s.mx - s.mn)) * 255.0) AS INTEGER)
               END AS code
        FROM embeddings e CROSS JOIN stats s
    ),
    grid AS (SELECT CAST(c AS INTEGER) AS code FROM generate_series(0, 255) g(c)),
    lut AS (
        SELECT q.vec_id AS query_id, s.d, grid.code,
               CAST(ROUND(
                   (CAST(q.embedding[s.d] AS DOUBLE)
                    - (s.mn + CAST(grid.code AS DOUBLE) * ((s.mx - s.mn) / 255.0)))
                   * (CAST(q.embedding[s.d] AS DOUBLE)
                    - (s.mn + CAST(grid.code AS DOUBLE) * ((s.mx - s.mn) / 255.0)))
                   * 1000000.0) AS BIGINT) AS d_micro
        FROM embeddings q CROSS JOIN stats s CROSS JOIN grid
        WHERE q.vec_id < 8
    ),
    adc AS (
        SELECT l.query_id, e.vec_id AS neighbor_id,
               CAST(SUM(l.d_micro) AS BIGINT) AS adc_micro
        FROM enc e JOIN lut l ON e.d = l.d AND e.code = l.code
        WHERE e.vec_id <> l.query_id
        GROUP BY l.query_id, e.vec_id
    )"""


@query(
    "similarity_topk_sq8",
    oracle=f"""
    WITH {_SQ8_STATS_CTE.strip()}
    SELECT query_id, neighbor_id, adc_micro,
           CAST(adc_micro AS DOUBLE) / 1000000.0 AS adc_dist, rank
    FROM (
        SELECT *, CAST(row_number() OVER (
                      PARTITION BY query_id
                      ORDER BY adc_micro, neighbor_id) AS INTEGER) AS rank
        FROM adc
    ) t
    WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def similarity_topk_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import sq8_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return sq8_topk(
        emb, queries, vec_col="embedding", id_col="vec_id",
        query_id_col="vec_id", k=5,
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# SQ8 quality gate: recall@5 of the int8-quantized ranking vs exact
# L2 ground truth. A well-trained per-dimension grid should be nearly
# lossless at k=5 — this gate is what catches a mis-trained quantizer
# (e.g. stats from a stale corpus snapshot) in production.
@query(
    "ann_recall_sq8",
    oracle=f"""
    WITH l2brute AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   CAST(row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_sql_l2sq('q.embedding', 'c.embedding')} ASC,
                                c.vec_id
                   ) AS INTEGER) AS rank
            FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
            WHERE q.vec_id < 8
        ) t WHERE rank <= 5
    ),
    {_SQ8_STATS_CTE.strip()},
    sq AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, CAST(row_number() OVER (
                          PARTITION BY query_id
                          ORDER BY adc_micro, neighbor_id) AS INTEGER) AS rank
            FROM adc
        ) t WHERE rank <= 5
    )
    SELECT b.query_id,
           CAST(COUNT(s.neighbor_id) AS BIGINT) AS n_hits,
           CAST(COUNT(s.neighbor_id) AS DOUBLE) / 5.0 AS recall_at_5
    FROM l2brute b
    LEFT JOIN sq s
      ON b.query_id = s.query_id AND b.neighbor_id = s.neighbor_id
    GROUP BY b.query_id
    ORDER BY b.query_id
    """,
)
def ann_recall_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.vectors import l2_dist_sq
    from ..operators.similarity import sq8_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    c = emb.select(F.col("vec_id").alias("__nid"), F.col("embedding").alias("__nv"))
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("__nid") != F.col("query_id"))
        .select(
            "query_id",
            F.col("__nid").alias("neighbor_id"),
            l2_dist_sq(F.col("__qv"), F.col("__nv")).alias("d"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("d"), F.asc("neighbor_id"))
    brute = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id")
    )
    approx = sq8_topk(
        emb, queries, vec_col="embedding", id_col="vec_id",
        query_id_col="vec_id", k=5,
    ).select("query_id", "neighbor_id")
    hits = (
        brute.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        brute.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            (
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / F.lit(5.0)
            ).alias("recall_at_5"),
        )
        .orderBy("query_id")
    )


_LINKAGE_MATCH_AT = 12
_LINKAGE_POSSIBLE_AT = 6


def _linkage_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ONE linkage model both ER queries share (blocking window,
    field rules, weights, thresholds): sorted-neighborhood candidates
    scored with the Fellegi-Sunter fixed weights. record_linkage_parts
    reports decisions; golden_record_parts clusters the matches —
    both oracles hard-code the same weights, so the model lives in
    exactly one Python place."""
    from ..operators.linkage import linkage_score, sorted_neighborhood_pairs

    part = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"
    )
    cand = sorted_neighborhood_pairs(
        part.select("p_partkey", "p_name"),
        sort_cols=["p_name", "p_partkey"],
        block=F.substring("p_name", 1, 2),
        id_col="p_partkey",
        window=3,
    )
    rules = [
        (F.levenshtein(F.col("__a_p_name"), F.col("__b_p_name")) <= 4, 6, -2),
        (F.col("__a_p_brand") == F.col("__b_p_brand"), 4, -1),
        (F.col("__a_p_type") == F.col("__b_p_type"), 3, -1),
        (F.abs(F.col("__a_p_size") - F.col("__b_p_size")) <= 2, 2, -1),
        (
            F.abs(F.col("__a_p_retailprice") - F.col("__b_p_retailprice"))
            <= 1.0,
            2,
            -1,
        ),
    ]
    return linkage_score(
        cand,
        part,
        part,
        "p_partkey",
        rules,
        match_at=_LINKAGE_MATCH_AT,
        possible_at=_LINKAGE_POSSIBLE_AT,
    )


# ---------------------------------------------------------------------------
# End-to-end entity resolution on parts: sorted-neighborhood blocking
# (the existing candidate generator) feeds Fellegi–Sunter fixed-weight
# scoring — integer agreement/disagreement weights per field
# (levenshtein-bounded name, exact brand/type, banded size/price) and
# a two-threshold match / possible / non_match decision. Everything
# is integer or exact-comparison work, so the oracle reproduces the
# identical scores with SQL CASE arithmetic and DuckDB's levenshtein.
@query(
    "record_linkage_parts",
    oracle="""
    WITH ranked AS (
      SELECT p_partkey, row_number() OVER (ORDER BY p_name, p_partkey) AS rn
      FROM part
    ),
    cand AS (
      SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
      FROM ranked a JOIN ranked b
        ON b.rn > a.rn AND b.rn - a.rn <= 3
    ),
    scored AS (
      SELECT c.id_a, c.id_b,
        CAST(
          (CASE WHEN levenshtein(pa.p_name, pb.p_name) <= 4 THEN 6 ELSE -2 END)
        + (CASE WHEN pa.p_brand = pb.p_brand THEN 4 ELSE -1 END)
        + (CASE WHEN pa.p_type = pb.p_type THEN 3 ELSE -1 END)
        + (CASE WHEN abs(pa.p_size - pb.p_size) <= 2 THEN 2 ELSE -1 END)
        + (CASE WHEN abs(pa.p_retailprice - pb.p_retailprice) <= 1.0
                THEN 2 ELSE -1 END) AS BIGINT) AS score
      FROM cand c
      JOIN part pa ON c.id_a = pa.p_partkey
      JOIN part pb ON c.id_b = pb.p_partkey
    )
    SELECT id_a, id_b, score,
           CASE WHEN score >= 12 THEN 'match'
                WHEN score >= 6 THEN 'possible'
                ELSE 'non_match' END AS decision
    FROM scored
    ORDER BY id_a, id_b
    """,
)
def record_linkage_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _linkage_scored(spark, sf_dir).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# ER survivorship — the last stage of the entity-resolution pipeline
# (blocking → scoring → clustering → GOLDEN RECORD): match-decision
# pairs from record_linkage_parts cluster via connected components,
# and each cluster merges into one survivor row under deterministic
# field rules (canonical id = min member; name = longest, ties
# lexicographic; brand = most frequent, ties lexicographic; price =
# min; size = max). Unmatched parts are their own golden record. The
# oracle reproduces the identical pipeline: the scoring CTE, a
# recursive-CTE closure for components, and windowed survivorship.
@query(
    "golden_record_parts",
    oracle="""
    WITH RECURSIVE ranked AS (
      SELECT p_partkey, row_number() OVER (ORDER BY p_name, p_partkey) AS rn
      FROM part
    ),
    cand AS (
      SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
      FROM ranked a JOIN ranked b
        ON b.rn > a.rn AND b.rn - a.rn <= 3
    ),
    matches AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN part pa ON c.id_a = pa.p_partkey
      JOIN part pb ON c.id_b = pb.p_partkey
      WHERE (CASE WHEN levenshtein(pa.p_name, pb.p_name) <= 4 THEN 6 ELSE -2 END)
          + (CASE WHEN pa.p_brand = pb.p_brand THEN 4 ELSE -1 END)
          + (CASE WHEN pa.p_type = pb.p_type THEN 3 ELSE -1 END)
          + (CASE WHEN abs(pa.p_size - pb.p_size) <= 2 THEN 2 ELSE -1 END)
          + (CASE WHEN abs(pa.p_retailprice - pb.p_retailprice) <= 1.0
                  THEN 2 ELSE -1 END) >= 12
    ),
    sym AS (
      SELECT id_a AS u, id_b AS v FROM matches
      UNION ALL SELECT id_b, id_a FROM matches
    ),
    reach AS (
      SELECT p_partkey AS node, p_partkey AS lbl FROM part
      UNION
      SELECT s.v AS node, reach.lbl
      FROM reach JOIN sym s ON s.u = reach.node
    ),
    comp AS (
      SELECT node, CAST(MIN(lbl) AS BIGINT) AS component
      FROM reach GROUP BY node
    ),
    members AS (
      SELECT c.component, p.* FROM part p JOIN comp c ON p.p_partkey = c.node
    ),
    name_pick AS (
      SELECT component, p_name FROM (
        SELECT component, p_name,
               row_number() OVER (PARTITION BY component
                                  ORDER BY length(p_name) DESC, p_name) AS rk
        FROM members
      ) t WHERE rk = 1
    ),
    brand_pick AS (
      SELECT component, p_brand FROM (
        SELECT component, p_brand,
               row_number() OVER (PARTITION BY component
                                  ORDER BY COUNT(*) DESC, p_brand) AS rk
        FROM members GROUP BY component, p_brand
      ) t WHERE rk = 1
    )
    SELECT m.component AS golden_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           MAX(np.p_name) AS name,
           MAX(bp.p_brand) AS brand,
           MIN(m.p_retailprice) AS min_price,
           CAST(MAX(m.p_size) AS BIGINT) AS max_size
    FROM members m
    JOIN name_pick np USING (component)
    JOIN brand_pick bp USING (component)
    GROUP BY m.component
    ORDER BY golden_id
    """,
)
def golden_record_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.dedup import connected_components

    part = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"
    )
    matches = _linkage_scored(spark, sf_dir).filter(
        F.col("decision") == "match"
    )
    comp = connected_components(
        matches.select(
            F.col("id_a").alias("id_a"), F.col("id_b").alias("id_b")
        )
    ).withColumnRenamed("id", "p_partkey")
    members = part.join(comp, "p_partkey", "left").withColumn(
        "component",
        F.coalesce(F.col("component"), F.col("p_partkey")),
    )
    wn = Window.partitionBy("component").orderBy(
        F.length("p_name").desc(), F.asc("p_name")
    )
    name_pick = (
        members.withColumn("__rk", F.row_number().over(wn))
        .filter(F.col("__rk") == 1)
        .select("component", F.col("p_name").alias("__name"))
    )
    wb = Window.partitionBy("component").orderBy(
        F.desc("__cnt"), F.asc("p_brand")
    )
    brand_pick = (
        members.groupBy("component", "p_brand")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .withColumn("__rk", F.row_number().over(wb))
        .filter(F.col("__rk") == 1)
        .select("component", F.col("p_brand").alias("__brand"))
    )
    return (
        members.groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.min("p_retailprice").alias("min_price"),
            F.max("p_size").cast("bigint").alias("max_size"),
        )
        .join(name_pick, "component")
        .join(brand_pick, "component")
        .select(
            F.col("component").alias("golden_id"),
            "n_members",
            F.col("__name").alias("name"),
            F.col("__brand").alias("brand"),
            "min_price",
            "max_size",
        )
        .orderBy("golden_id")
    )


# ---------------------------------------------------------------------------
# Maintained at-rest ANN index (r7): build the cell-partitioned IVF
# index over the initial corpus (vec_id % 3 != 2), then incrementally
# ADD the later arrivals (vec_id % 3 == 2) against the FROZEN
# centroids — the FAISS add contract, and the vector twin of
# `bloom_index_maintained_orders`. Because cell assignment depends
# only on (vector, centroids), build-then-add is bit-identical to a
# full rebuild over the union; the oracle recomputes exactly that:
# min-id centroids drawn from the BUILD subset, every corpus vector
# assigned, nprobe=2 query — so an incremental-maintenance bug
# (stale centroids, dropped cells, double-added rows) breaks the
# hash. Query reads ONLY probed cells' files (partition
# pruning does candidate selection; adds touch only new rows' cells).
_ANN_MAINT_ORACLE = f"""
    WITH cents AS (
        SELECT vec_id AS cid, embedding AS cv
        FROM embeddings WHERE vec_id % 3 <> 2 ORDER BY vec_id LIMIT 16
    ),
    corpus_cells AS (
        SELECT vec_id AS neighbor_id, embedding AS nv, cid FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_sql_cosine('e.embedding', 'c.cv')} DESC, c.cid
                   ) AS crank
            FROM embeddings e CROSS JOIN cents c
        ) t WHERE crank <= 1
    ),
    query_cells AS (
        SELECT vec_id AS query_id, embedding AS qv, cid FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_sql_cosine('e.embedding', 'c.cv')} DESC, c.cid
                   ) AS crank
            FROM embeddings e CROSS JOIN cents c
            WHERE e.vec_id < 8
        ) t WHERE crank <= 2
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
        SELECT q.query_id, c.neighbor_id,
               {_sql_cosine('q.qv', 'c.nv')} AS cos_sim,
               CAST(row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {_sql_cosine('q.qv', 'c.nv')} DESC, c.neighbor_id
               ) AS INTEGER) AS rank
        FROM query_cells q JOIN corpus_cells c ON q.cid = c.cid
        WHERE c.neighbor_id <> q.query_id
    ) t
    WHERE rank <= 5
    ORDER BY query_id, rank
    """


@query("ann_index_maintained_embeddings", oracle=_ANN_MAINT_ORACLE)
def ann_index_maintained_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    from pathlib import Path

    from ..operators.similarity import (
        ivf_build_index,
        ivf_index_add,
        ivf_query_at_rest,
    )
    from ..sinks.warehouse import Warehouse

    emb = _t(spark, sf_dir, "embeddings")
    root = _batch_scratch() / f"annidx_{Path(sf_dir).name}"
    if root.exists():
        shutil.rmtree(root)
    wh = Warehouse(spark, str(root))
    t = "ann.ivf_maintained"
    ivf_build_index(
        emb.filter(F.col("vec_id") % 3 != 2),
        wh, t, "embedding", "vec_id", n_centroids=16,
    )
    # two later-arrival batches exercise repeated adds
    ivf_index_add(
        emb.filter((F.col("vec_id") % 3 == 2) & (F.col("vec_id") % 2 == 0)),
        wh, t, "embedding", "vec_id",
    )
    ivf_index_add(
        emb.filter((F.col("vec_id") % 3 == 2) & (F.col("vec_id") % 2 == 1)),
        wh, t, "embedding", "vec_id",
    )
    queries = emb.filter(F.col("vec_id") < 8)
    return ivf_query_at_rest(
        wh, t, queries, vec_col="embedding", id_col="vec_id",
        query_id_col="vec_id", k=5, nprobe=2,
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# Embedding covariance block (r7): the exact 16×16 covariance of the
# leading embedding dimensions — the statistics PCA/whitening and
# OPQ rotation start from (the PQ/IVF-PQ tiers motivate it). Each
# vector contributes its (i ≤ j) coordinate products once; values and
# products micro-round to BIGINT (1e9 / 1e12) BEFORE summing — exact,
# order-independent, and immune to the double→DECIMAL rounding-mode
# skew between engines (a plain DECIMAL cast of the product differs
# in the last bit) — and cov = (Σxy − ΣxΣy/n)/n combines the
# micro-sums in one fixed-order double expression. Scale: the pair relation
# is n·d(d+1)/2 rows from a map-only posexplode+self-join on vec_id
# (co-partitioned, AQE-local), then ONE partial-combinable groupBy on
# the 136-key (i,j) domain — bytes after combine ∝ d², not n.
@query(
    "embedding_covariance_block",
    oracle="""
    WITH x AS (
        SELECT vec_id, i - 1 AS i, CAST(embedding[i] AS DOUBLE) AS v,
               CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000000.0)
                    AS BIGINT) AS mv
        FROM embeddings, unnest(range(1, 17)) AS t(i)
    ),
    p AS (
        SELECT a.i AS i, b.i AS j,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(a.mv) AS BIGINT) AS sx,
               CAST(SUM(b.mv) AS BIGINT) AS sy,
               CAST(SUM(CAST(ROUND(a.v * b.v * 1000000000000.0)
                             AS BIGINT)) AS BIGINT) AS sxy
        FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
        GROUP BY a.i, b.i
    )
    SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j, n,
           (CAST(sxy AS DOUBLE) / 1000000000000.0
              - (CAST(sx AS DOUBLE) / 1000000000.0)
                * (CAST(sy AS DOUBLE) / 1000000000.0)
                / CAST(n AS DOUBLE))
           / CAST(n AS DOUBLE) AS cov
    FROM p
    ORDER BY i, j
    """,
)
def embedding_covariance_block(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id",
        F.posexplode(F.slice("embedding", 1, 16)).alias("i", "v0"),
    ).select(
        "vec_id",
        "i",
        F.col("v0").cast("double").alias("v"),
        F.round(F.col("v0").cast("double") * F.lit(1e9))
        .cast("bigint")
        .alias("mv"),
    )
    a = x.alias("a")
    b = x.alias("b")
    p = (
        a.join(
            b,
            (F.col("a.vec_id") == F.col("b.vec_id"))
            & (F.col("a.i") <= F.col("b.i")),
        )
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("a.mv").cast("bigint").alias("sx"),
            F.sum("b.mv").cast("bigint").alias("sy"),
            F.sum(
                F.round(F.col("a.v") * F.col("b.v") * F.lit(1e12)).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("sxy"),
        )
    )
    return p.select(
        F.col("i").cast("int").alias("i"),
        F.col("j").cast("int").alias("j"),
        "n",
        (
            (
                F.col("sxy").cast("double") / F.lit(1e12)
                - (F.col("sx").cast("double") / F.lit(1e9))
                * (F.col("sy").cast("double") / F.lit(1e9))
                / F.col("n").cast("double")
            )
            / F.col("n").cast("double")
        ).alias("cov"),
    ).orderBy("i", "j")


# ---------------------------------------------------------------------------
# HNSW graph ANN (r8, VERDICT r7 task 2 — operators/hnsw.py, Malkov &
# Yashunin 2016): the industry-default graph index, sharded per the
# distributed shard-and-merge pattern. Two-query contract mirroring
# the rest of the ANN family:
#
# 1. similarity_topk_hnsw runs the index in EXHAUSTIVE mode
#    (ef_search=None → level-0 beam = shard size). With the level-0
#    connectivity repair, the beam provably visits every shard node,
#    so the result EQUALS brute force — the oracle below is the brute
#    cosine top-5, and any machinery bug (broken layer descent, lost
#    graph edges, bad shard merge, wrong tie-breaks) breaks the hash.
#    Candidates are re-scored JVM-side with the exact cosine
#    expression, so the doubles are bit-identical to brute's.
# 2. ann_recall_hnsw (below) gates the honest approximate setting.
@query(
    "similarity_topk_hnsw",
    oracle=f"""
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_sql_cosine('q.embedding', 'c.embedding')} AS cos_sim,
               CAST(row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_sql_cosine('q.embedding', 'c.embedding')} DESC, c.vec_id
               ) AS INTEGER) AS rank
        FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < 8
    ) t
    WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def similarity_topk_hnsw(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.hnsw import hnsw_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return hnsw_topk(
        emb, queries, vec_col="embedding", id_col="vec_id",
        query_id_col="vec_id", k=5, m=8, ef_construction=32,
        ef_search=None, n_shards=4,
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# HNSW recall gate at the honest approximate setting (ef_search=16,
# 4 shards): recall@5 vs the exact ground truth, computed Spark-side.
# ROWS-ONLY BY DECLARED DESIGN: the graph traversal is not
# SQL-expressible, so no DuckDB twin exists for the approximate
# candidate set; tests/test_hnsw.py pins (a) mean recall@5 >= the IVF
# baseline's on the same fixture (VERDICT r7 acceptance) and (b)
# exhaustive-mode == brute identity, which the hash-gated
# similarity_topk_hnsw also enforces per-row.
@query("ann_recall_hnsw")
def ann_recall_hnsw(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.hnsw import hnsw_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    brute = brute_force_topk(
        emb, queries, vec_col="embedding", id_col="vec_id",
        query_id_col="vec_id", k=5,
    ).select("query_id", "neighbor_id")
    approx = hnsw_topk(
        emb, queries, vec_col="embedding", id_col="vec_id",
        query_id_col="vec_id", k=5, m=8, ef_construction=32,
        ef_search=16, n_shards=4,
    ).select("query_id", "neighbor_id")
    hits = (
        brute.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        brute.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            (
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / F.lit(5.0)
            ).alias("recall_at_5"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Maintained-index recall DECAY gate (r8, VERDICT r7 task 6):
# completes the ANN maintenance loop add → recall decay → retrain
# trigger. ann_index_maintained_embeddings pins that frozen-centroid
# adds are bit-identical to a frozen-centroid rebuild; THIS query
# measures what maintenance actually costs in quality: the index is
# BUILT on a small early corpus (vec_id >= 468 — 32 vectors, whose
# min-id centroids 468..483 are then FROZEN), grown ~16x by four add
# batches covering the other 468 vectors, and its recall@5 is compared
# per-query against a FRESH rebuild over the full corpus (centroids
# retrained = min-id 0..15). Both quantizers are deterministic, so the
# entire comparison — including the decay column the retrain trigger
# reads — is SQL-expressible and hash-gated. Retrain contract
# (SCALE.md §6.7): trigger a rebuild when mean decay exceeds 0.1
# absolute recall@5; tests/test_similarity_index.py gates the
# fixture's measured decay under that threshold.
@query(
    "ann_recall_after_adds",
    oracle=f"""
    WITH brute AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   CAST(row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_sql_cosine('q.embedding', 'c.embedding')} DESC,
                                c.vec_id
                   ) AS INTEGER) AS rank
            FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
            WHERE q.vec_id < 8
        ) t WHERE rank <= 5
    ),
    cents_m AS (
        SELECT vec_id AS cid, embedding AS cv
        FROM embeddings WHERE vec_id >= 468 ORDER BY vec_id LIMIT 16
    ),
    cents_f AS (
        SELECT vec_id AS cid, embedding AS cv
        FROM embeddings ORDER BY vec_id LIMIT 16
    ),
    corpus_m AS (
        SELECT vec_id AS neighbor_id, embedding AS nv, cid FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_sql_cosine('e.embedding', 'c.cv')} DESC, c.cid
                   ) AS crank
            FROM embeddings e CROSS JOIN cents_m c
        ) t WHERE crank <= 1
    ),
    corpus_f AS (
        SELECT vec_id AS neighbor_id, embedding AS nv, cid FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_sql_cosine('e.embedding', 'c.cv')} DESC, c.cid
                   ) AS crank
            FROM embeddings e CROSS JOIN cents_f c
        ) t WHERE crank <= 1
    ),
    q_m AS (
        SELECT vec_id AS query_id, embedding AS qv, cid FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_sql_cosine('e.embedding', 'c.cv')} DESC, c.cid
                   ) AS crank
            FROM embeddings e CROSS JOIN cents_m c
            WHERE e.vec_id < 8
        ) t WHERE crank <= 2
    ),
    q_f AS (
        SELECT vec_id AS query_id, embedding AS qv, cid FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_sql_cosine('e.embedding', 'c.cv')} DESC, c.cid
                   ) AS crank
            FROM embeddings e CROSS JOIN cents_f c
            WHERE e.vec_id < 8
        ) t WHERE crank <= 2
    ),
    ivf_m AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, c.neighbor_id,
                   CAST(row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {_sql_cosine('q.qv', 'c.nv')} DESC, c.neighbor_id
                   ) AS INTEGER) AS rank
            FROM q_m q JOIN corpus_m c ON q.cid = c.cid
            WHERE c.neighbor_id <> q.query_id
        ) t WHERE rank <= 5
    ),
    ivf_f AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, c.neighbor_id,
                   CAST(row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {_sql_cosine('q.qv', 'c.nv')} DESC, c.neighbor_id
                   ) AS INTEGER) AS rank
            FROM q_f q JOIN corpus_f c ON q.cid = c.cid
            WHERE c.neighbor_id <> q.query_id
        ) t WHERE rank <= 5
    )
    SELECT b.query_id,
           CAST(COUNT(m.neighbor_id) AS DOUBLE) / 5.0 AS recall_maintained,
           CAST(COUNT(f.neighbor_id) AS DOUBLE) / 5.0 AS recall_fresh,
           (CAST(COUNT(f.neighbor_id) AS DOUBLE)
            - CAST(COUNT(m.neighbor_id) AS DOUBLE)) / 5.0 AS decay
    FROM brute b
    LEFT JOIN ivf_m m
      ON b.query_id = m.query_id AND b.neighbor_id = m.neighbor_id
    LEFT JOIN ivf_f f
      ON b.query_id = f.query_id AND b.neighbor_id = f.neighbor_id
    GROUP BY b.query_id
    ORDER BY b.query_id
    """,
)
def ann_recall_after_adds(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    from pathlib import Path

    from ..operators.similarity import (
        ivf_build_index,
        ivf_index_add,
        ivf_query_at_rest,
    )
    from ..sinks.warehouse import Warehouse

    emb = _t(spark, sf_dir, "embeddings")
    root = _batch_scratch() / f"anndecay_{Path(sf_dir).name}"
    if root.exists():
        shutil.rmtree(root)
    wh = Warehouse(spark, str(root))
    queries = emb.filter(F.col("vec_id") < 8)

    from ..operators.similarity import brute_force_topk

    # The three retrieval paths — maintained index (build + 4 adds +
    # query), fresh index (build + query) and the exact brute-force
    # truth — are INDEPENDENT lifecycles on disjoint tables; run them
    # concurrently so each path's micro-job tails back-fill the others
    # (guide §2.6; the gdpr/slo pattern — r11 optimization round).
    # Each relation is |queries|*k rows (40) and referenced 2-3 times
    # by the recall join tree below, so every path persists AND
    # materializes inside its thread (r9 persist discipline).
    def _maintained() -> DataFrame:
        tm = "ann.ivf_decay_maintained"
        # build small, freeze centroids, grow ~16x in 4 adds
        ivf_build_index(
            emb.filter(F.col("vec_id") >= 468), wh, tm,
            "embedding", "vec_id", n_centroids=16,
        )
        for r in range(4):
            ivf_index_add(
                emb.filter(
                    (F.col("vec_id") < 468) & (F.col("vec_id") % 4 == r)
                ),
                wh, tm, "embedding", "vec_id",
            )
        out = ivf_query_at_rest(
            wh, tm, queries, vec_col="embedding", id_col="vec_id",
            query_id_col="vec_id", k=5, nprobe=2,
        ).select("query_id", "neighbor_id").persist()
        out.count()
        return out

    def _fresh() -> DataFrame:
        tf = "ann.ivf_decay_fresh"
        # retrained quantizer over the full corpus
        ivf_build_index(emb, wh, tf, "embedding", "vec_id", n_centroids=16)
        out = ivf_query_at_rest(
            wh, tf, queries, vec_col="embedding", id_col="vec_id",
            query_id_col="vec_id", k=5, nprobe=2,
        ).select("query_id", "neighbor_id").persist()
        out.count()
        return out

    def _brute() -> DataFrame:
        out = brute_force_topk(
            emb, queries, vec_col="embedding", id_col="vec_id",
            query_id_col="vec_id", k=5,
        ).select("query_id", "neighbor_id").persist()
        out.count()
        return out

    maintained, fresh, brute = overlap(_maintained, _fresh, _brute)
    hm = (
        brute.join(maintained, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("nm"))
    )
    hf = (
        brute.join(fresh, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("nf"))
    )
    return (
        brute.select("query_id")
        .distinct()
        .join(hm, "query_id", "left")
        .join(hf, "query_id", "left")
        .select(
            "query_id",
            (
                F.coalesce(F.col("nm"), F.lit(0)).cast("double") / F.lit(5.0)
            ).alias("recall_maintained"),
            (
                F.coalesce(F.col("nf"), F.lit(0)).cast("double") / F.lit(5.0)
            ).alias("recall_fresh"),
            (
                (
                    F.coalesce(F.col("nf"), F.lit(0)).cast("double")
                    - F.coalesce(F.col("nm"), F.lit(0)).cast("double")
                )
                / F.lit(5.0)
            ).alias("decay"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# PCA leading component by POWER ITERATION WITH MATRIX SQUARING (r8)
# on the 16-dim head of the embeddings — the iterative-ML companion
# to embedding_covariance_block (which produces the matrix; this
# extracts its principal eigenvector, the whitening/OPQ-rotation
# primitive). The fixture covariance has a tiny eigengap
# (lambda2/lambda1 ~ 0.985), so plain power iteration needs hundreds of
# rounds; EIGHT integer matrix squarings compute A^256·v at the same
# cost as 8 rounds (log-round iteration — only possible because the
# matrix is d×d-bounded, never corpus-sized).
# Exactness discipline: the covariance is the ALL-INTEGER matrix
# C = n·Σxy − Σx·Σy over micro-rounded values (no float ever enters),
# scaled to A = sign(C)·(|C| div 1e9); each squaring renormalizes by
# d = max(max|entry| div 1e8, 1) with sign/abs decomposition so every
# division is on NON-NEGATIVE integers — Spark's `div` truncates
# toward zero while other engines floor, and on non-negatives they
# agree, so all eight squarings are bit-identical cross-engine (the
# HITS/PageRank integer-family trick). Scale shape: the only
# corpus-sized work is the covariance pair groupBy (bytes after
# combine ∝ d², not n); the 16×16 squarings are bounded-domain and
# run on the driver, like pagerank_int's below-threshold path.
_PCA_DIM = 16
_PCA_ADIV = 1_000_000_000
_PCA_MSCALE = 100_000_000
_PCA_PSCALE = 1_000_000
_PCA_SQUARINGS = 8


def _pca_oracle() -> str:
    def signdiv(expr: str, d: str) -> str:
        return (
            f"CASE WHEN {expr} < 0 THEN -((-({expr})) // ({d})) "
            f"ELSE ({expr}) // ({d}) END"
        )

    header = f"""
    WITH x AS MATERIALIZED (
        SELECT vec_id, i - 1 AS i,
               CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000.0)
                    AS BIGINT) AS mv
        FROM embeddings, unnest(range(1, {_PCA_DIM + 1})) AS t(i)
    ),
    s1 AS MATERIALIZED (
        SELECT i, CAST(SUM(mv) AS BIGINT) AS sx,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM x GROUP BY i
    ),
    sxy AS MATERIALIZED (
        SELECT a.i AS i, b.i AS j, CAST(SUM(a.mv * b.mv) AS BIGINT) AS sxy
        FROM x a JOIN x b ON a.vec_id = b.vec_id
        GROUP BY a.i, b.i
    ),
    araw AS MATERIALIZED (
        SELECT p.i, p.j,
               {signdiv("sa.n * p.sxy - sa.sx * sb.sx", str(_PCA_ADIV))} AS a
        FROM sxy p
        JOIN s1 sa ON sa.i = p.i
        JOIN s1 sb ON sb.i = p.j
    ),
    d0 AS MATERIALIZED (
        SELECT GREATEST(MAX(ABS(a)) // {_PCA_MSCALE}, 1) AS d FROM araw
    ),
    m0 AS MATERIALIZED (
        SELECT i, j, {signdiv("a", "(SELECT d FROM d0)")} AS a FROM araw
    )"""
    steps = []
    for k in range(1, _PCA_SQUARINGS + 1):
        steps.append(f""",
    p{k} AS MATERIALIZED (
        SELECT a.i, b.j, CAST(SUM(a.a * b.a) AS BIGINT) AS a
        FROM m{k - 1} a JOIN m{k - 1} b ON a.j = b.i
        GROUP BY a.i, b.j
    ),
    d{k} AS MATERIALIZED (
        SELECT GREATEST(MAX(ABS(a)) // {_PCA_MSCALE}, 1) AS d FROM p{k}
    ),
    m{k} AS MATERIALIZED (
        SELECT i, j, {signdiv("a", f"(SELECT d FROM d{k})")} AS a FROM p{k}
    )""")
    footer = f"""
    , vraw AS (
        SELECT i, CAST(SUM(a) AS BIGINT) * {_PCA_PSCALE} AS w
        FROM m{_PCA_SQUARINGS} GROUP BY i
    ),
    vd AS (SELECT GREATEST(MAX(ABS(w)) // {_PCA_PSCALE}, 1) AS d FROM vraw)
    SELECT CAST(i AS INTEGER) AS pos,
           CAST({signdiv("w", "(SELECT d FROM vd)")} AS BIGINT)
               AS comp_scaled,
           CAST({signdiv("w", "(SELECT d FROM vd)")} AS DOUBLE)
               / {float(_PCA_PSCALE)} AS loading
    FROM vraw
    ORDER BY pos
    """
    return header + "".join(steps) + footer


@query("pca_power_iteration_embeddings", oracle=_pca_oracle())
def pca_power_iteration_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id", F.posexplode(F.slice("embedding", 1, _PCA_DIM)).alias("i", "v")
    ).select(
        "vec_id",
        "i",
        F.round(F.col("v").cast("double") * F.lit(1e6)).cast("bigint").alias("mv"),
    )
    s1 = x.groupBy("i").agg(
        F.sum("mv").cast("bigint").alias("sx"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    a_, b_ = x.alias("a"), x.alias("b")
    sxy = (
        a_.join(b_, F.col("a.vec_id") == F.col("b.vec_id"))
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(F.sum(F.col("a.mv") * F.col("b.mv")).cast("bigint").alias("sxy"))
    )
    am = (
        sxy.join(s1.select(F.col("i"), F.col("sx").alias("sxa"), "n"), "i")
        .join(
            s1.select(F.col("i").alias("j"), F.col("sx").alias("sxb")), "j"
        )
        .select(
            "i",
            "j",
            (F.col("n") * F.col("sxy") - F.col("sxa") * F.col("sxb")).alias("c"),
        )
        .select(
            "i",
            "j",
            F.when(
                F.col("c") < 0, -F.expr(f"(-c) div {_PCA_ADIV}")
            ).otherwise(F.expr(f"c div {_PCA_ADIV}")).alias("a"),
        )
    )
    # bounded domain: the 16x16 matrix — driver squarings, like
    # pagerank_int below driver_threshold (Python // on the sign-abs
    # decomposition == Spark div == the oracle's CASE arithmetic)
    rows = am.collect()
    dims = sorted({r["i"] for r in rows})
    idx = {d: k for k, d in enumerate(dims)}
    n_d = len(dims)
    M = [[0] * n_d for _ in range(n_d)]
    for r in rows:
        M[idx[r["i"]]][idx[r["j"]]] = int(r["a"])

    def _sdiv(v: int, d: int) -> int:
        return -((-v) // d) if v < 0 else v // d

    def _inorm(mat: list[list[int]]) -> list[list[int]]:
        mx = max(abs(e) for row in mat for e in row)
        d = max(mx // _PCA_MSCALE, 1)
        return [[_sdiv(e, d) for e in row] for row in mat]

    M = _inorm(M)
    for _ in range(_PCA_SQUARINGS):
        M = _inorm(
            [
                [
                    sum(M[i][k] * M[k][j] for k in range(n_d))
                    for j in range(n_d)
                ]
                for i in range(n_d)
            ]
        )
    w = [sum(M[i][j] for j in range(n_d)) * _PCA_PSCALE for i in range(n_d)]
    d = max(max(abs(e) for e in w) // _PCA_PSCALE, 1)
    v = [_sdiv(e, d) for e in w]
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("pos", IntegerType()),
            StructField("comp_scaled", LongType()),
            StructField("loading", DoubleType()),
        ]
    )
    return spark.createDataFrame(
        [
            (int(dims[i]), int(v[i]), v[i] / _PCA_PSCALE)
            for i in range(n_d)
        ],
        schema,
    ).orderBy("pos")


# ---------------------------------------------------------------------------
# At-rest HNSW (r8): build-once/query-forever form of the graph index
# (operators/hnsw.py::hnsw_build_index) — vectors and layered
# adjacency persisted shard-partitioned in the warehouse, the query
# COGROUPS the two tables by shard and searches the PERSISTED graph
# (construction never re-runs). Exhaustive mode (ef=None) == brute
# force, so the same oracle pins the whole persist→read→search path:
# a lost graph partition, a shard misalignment between the two
# tables, or a broken entry-point reconstruction all break the hash.
@query(
    "ann_hnsw_at_rest",
    oracle=f"""
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_sql_cosine('q.embedding', 'c.embedding')} AS cos_sim,
               CAST(row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_sql_cosine('q.embedding', 'c.embedding')} DESC, c.vec_id
               ) AS INTEGER) AS rank
        FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < 8
    ) t
    WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def ann_hnsw_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    from pathlib import Path

    from ..operators.hnsw import hnsw_build_index, hnsw_query_at_rest
    from ..sinks.warehouse import Warehouse

    emb = _t(spark, sf_dir, "embeddings")
    root = _batch_scratch() / f"hnswidx_{Path(sf_dir).name}"
    if root.exists():
        shutil.rmtree(root)
    wh = Warehouse(spark, str(root))
    t = "ann.hnsw"
    hnsw_build_index(
        emb, wh, t, "embedding", "vec_id", m=8, ef_construction=32,
        n_shards=4,
    )
    queries = emb.filter(F.col("vec_id") < 8)
    return hnsw_query_at_rest(
        wh, t, queries, vec_col="embedding", id_col="vec_id",
        query_id_col="vec_id", k=5, ef_search=None,
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# Embedding-space label consistency eval (r8): leave-one-out 1-NN
# classification over the labeled embeddings — the standard probe for
# "does the embedding space separate the classes" (kNN-probe eval).
# A deterministic 1-in-5 PROBE SAMPLE (vec_id % 5 = 0) is classified
# by its exact nearest neighbor's label over the FULL corpus (cosine,
# self excluded, ties to smaller id); output is the confusion matrix
# plus per-true-label accuracy. The probe side is sampled because
# this is an EVAL — the production retrieval path is the ANN index
# family (IVF/HNSW/Hamming above), and at 100 TB the eval always runs
# on a sampled probe set, never the corpus (r8: the probe sample is
# now actually applied — the eval was the bench's slowest entry at
# 9.6 s isolated as an all-pairs scan; same contract, 5× less work).
@query(
    "knn_label_confusion_embeddings",
    oracle=f"""
    WITH nn AS (
        SELECT query_id, n_label FROM (
            SELECT q.vec_id AS query_id, q.label AS q_label,
                   c.label AS n_label,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_sql_cosine('q.embedding', 'c.embedding')} DESC,
                                c.vec_id
                   ) AS rk
            FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
            WHERE q.vec_id % 5 = 0
        ) t WHERE rk = 1
    )
    SELECT e.label AS true_label, nn.n_label AS pred_label,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN e.label = nn.n_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct
    FROM embeddings e JOIN nn ON nn.query_id = e.vec_id
    GROUP BY e.label, nn.n_label
    ORDER BY true_label, pred_label
    """,
)
def knn_label_confusion_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 5 == 0)
    nn = (
        brute_force_topk(
            emb, probes, vec_col="embedding", id_col="vec_id",
            query_id_col="vec_id", k=1,
        )
        .select("query_id", "neighbor_id")
    )
    labels = emb.select(F.col("vec_id"), F.col("label"))
    return (
        nn.join(
            labels.select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("true_label"),
            ),
            "query_id",
        )
        .join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("pred_label"),
            ),
            "neighbor_id",
        )
        .groupBy("true_label", "pred_label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.when(F.col("true_label") == F.col("pred_label"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_correct"),
        )
        .orderBy("true_label", "pred_label")
    )


# ---------------------------------------------------------------------------
# Inter-class centroid separation (r8): pairwise cosine between label
# centroids — the "is the embedding space collapsing?" gate a
# training pipeline runs per checkpoint (healthy spaces keep class
# centroids apart; drift/collapse shows as off-diagonal cosines
# rising toward 1). Centroid coordinates are micro-rounded BIGINTs
# (per-row micro-ints summed exactly, mean re-rounded), so dots and
# norms are exact integers and the one cosine division matches
# bit-for-bit. Work: one (label, pos) aggregate + a pos-keyed join
# over the label-pair × dim domain — model-domain, not corpus-domain.
@query(
    "centroid_cosine_labels",
    oracle="""
    WITH flat AS (
        SELECT label, u.pos,
               CAST(ROUND(CAST(u.val AS DOUBLE) * 1000000.0) AS BIGINT)
                 AS vm
        FROM embeddings,
             LATERAL (SELECT generate_subscripts(embedding, 1) AS pos,
                             unnest(embedding) AS val) u
    ), cm AS (
        SELECT label, pos,
               CAST(ROUND(CAST(SUM(vm) AS DOUBLE) / COUNT(*)) AS BIGINT)
                 AS c
        FROM flat GROUP BY 1, 2
    ), norms AS (
        SELECT label, SUM(CAST(c AS DECIMAL(38,0)) * c) AS n2
        FROM cm GROUP BY 1
    ), dots AS (
        SELECT a.label AS label_a, b.label AS label_b,
               SUM(CAST(a.c AS DECIMAL(38,0)) * b.c) AS dot
        FROM cm a JOIN cm b ON a.pos = b.pos AND a.label < b.label
        GROUP BY 1, 2
    )
    SELECT CAST(d.label_a AS BIGINT) AS label_a,
           CAST(d.label_b AS BIGINT) AS label_b,
           CAST(d.dot AS DOUBLE)
             / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
             AS cosine
    FROM dots d
    JOIN norms na ON na.label = d.label_a
    JOIN norms nb ON nb.label = d.label_b
    ORDER BY label_a, label_b
    """,
)
def centroid_cosine_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "label",
        F.posexplode("embedding").alias("pos0", "val"),
    ).select(
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.round(F.col("val").cast("double") * F.lit(1000000.0))
        .cast("bigint")
        .alias("vm"),
    )
    cm = flat.groupBy("label", "pos").agg(
        F.round(F.sum("vm").cast("double") / F.count(F.lit(1)))
        .cast("bigint")
        .alias("c")
    )
    norms = cm.groupBy("label").agg(
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("n2")
    )
    a, b = cm.alias("a"), cm.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.pos") == F.col("b.pos"))
            & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").alias("label_a"),
            F.col("b.label").alias("label_b"),
        )
        .agg(
            F.sum(
                F.col("a.c").cast("decimal(38,0)") * F.col("b.c")
            ).alias("dot")
        )
    )
    na = norms.select(
        F.col("label").alias("label_a"), F.col("n2").alias("na2")
    )
    nb = norms.select(
        F.col("label").alias("label_b"), F.col("n2").alias("nb2")
    )
    return (
        dots.join(na, "label_a")
        .join(nb, "label_b")
        .select(
            F.col("label_a").cast("bigint").alias("label_a"),
            F.col("label_b").cast("bigint").alias("label_b"),
            (
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("na2").cast("double"))
                    * F.sqrt(F.col("nb2").cast("double"))
                )
            ).alias("cosine"),
        )
        .orderBy("label_a", "label_b")
    )
