"""Similarity search over embedding columns: brute-force cosine top-k
(exact baseline) and random-hyperplane LSH bucketing (the scale path).

Brute force: broadcast the Q query vectors against N corpus rows —
O(N·Q·d) codegen'd work, no shuffle until the final per-query top-k
(window over Q partitions). Exact; use when Q is small or as the
verification oracle.

LSH: H fixed hyperplanes (deterministic seed) → sign-bit bucket id per
vector (map-only). Candidates = same bucket (optionally ± multiprobe);
rank candidates exactly. Sub-linear candidate sets at the cost of
recall — the standard ANN trade. At 100 TB the corpus is bucketed on
disk by LSH id so a query touches only its bucket's files.
"""

from __future__ import annotations

import random
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine, dot, norm
from .partitioning import fan_out


def _cos_pre(qv, nv, qn, nn):
    """cosine(qv, nv) with the two norms PRECOMPUTED as columns:
    dot(qv, nv) / (qn · nn). Bit-identical to ``cosine`` — the same
    doubles flow into the same ``/`` and ``*`` tree (norms are the
    identical fold over the identical array, just evaluated once per
    ROW instead of once per PAIR) — but the per-pair work drops from
    three array folds to one (r10 optimization round, guide §1.2/§2.3:
    in every pairwise scorer the norms were recomputed |other side|×
    per vector)."""
    return dot(qv, nv) / (qn * nn)


def hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-Gaussian hyperplanes (Box-Muller free:
    sum-of-uniforms is plenty for LSH)."""
    rng = random.Random(seed)
    return [
        [sum(rng.uniform(-1, 1) for _ in range(6)) for _ in range(dim)]
        for _ in range(n_planes)
    ]


def lsh_bucket_expr(vec_col: str, planes: list[list[float]]):
    """Bucket id = packed sign bits of plane dot-products."""
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        d = dot(F.col(vec_col), F.array(*[F.lit(x) for x in p]))
        bucket = bucket + F.when(d > 0, F.lit(1 << i)).otherwise(F.lit(0)).cast("long")
    return bucket


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    query_id_col: str,
    k: int,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor id, cos_sim, rank).
    Self-matches (same id) are excluded when the id columns share a
    domain. Ties broken by neighbor id for determinism."""
    c = fan_out(corpus).select(
        F.col(id_col).alias("__nid"),
        F.col(vec_col).alias("__nv"),
        norm(F.col(vec_col)).alias("__nn"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        norm(F.col(vec_col)).alias("__qn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("__nid") != F.col("query_id"))
        .select(
            "query_id",
            F.col("__nid").alias("neighbor_id"),
            _cos_pre(
                F.col("__qv"), F.col("__nv"), F.col("__qn"), F.col("__nn")
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    query_id_col: str,
    k: int,
    n_centroids: int = 16,
    nprobe: int = 2,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a coarse quantizer
    assigns every corpus vector to its nearest centroid (one cell);
    a query scans only its ``nprobe`` nearest cells, ranked exactly.

    The default quantizer is deterministic — the ``n_centroids``
    corpus vectors with the smallest ids (exactly reproducible for
    the differential oracle); pass ``centroids=`` (e.g. from
    :func:`kmeans_train`) for a trained quantizer — same flow, better
    cell balance. Ties in centroid distance break on centroid id;
    final ranking ties break on neighbor id.

    Scale shape: centroid list is broadcast (tiny); corpus assignment
    is one map-only pass of N·n_centroids fused dot products; at rest
    the corpus is *written partitioned by cell id*, so a query touches
    nprobe/n_centroids of the data via partition pruning. The only
    shuffle is the final per-query top-k window over candidates.
    """
    if centroids is not None:
        cents = corpus.sparkSession.createDataFrame(
            [(cid, v) for cid, v in centroids],
            "__cid long, __cv array<double>",
        )
    else:
        cents = (
            corpus.orderBy(id_col)
            .limit(n_centroids)
            .select(F.col(id_col).alias("__cid"), F.col(vec_col).alias("__cv"))
        )

    cents = cents.withColumn("__cn", norm(F.col("__cv")))

    def assign(df: DataFrame, vid: str, v: str, vn: str, probes: int) -> DataFrame:
        w = Window.partitionBy(vid).orderBy(F.desc("__csim"), F.asc("__cid"))
        return (
            df.withColumn(vn, norm(F.col(v)))
            .crossJoin(F.broadcast(cents))
            .withColumn(
                "__csim",
                _cos_pre(F.col(v), F.col("__cv"), F.col(vn), F.col("__cn")),
            )
            .withColumn("__crank", F.row_number().over(w))
            .filter(F.col("__crank") <= probes)
            .drop("__cv", "__cn", "__csim", "__crank")
        )

    c = assign(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv")),
        "neighbor_id",
        "__nv",
        "__nn",
        1,
    )
    q = assign(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qv")
        ),
        "query_id",
        "__qv",
        "__qn",
        nprobe,
    )
    scored = (
        c.join(F.broadcast(q), "__cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cos_pre(
                F.col("__qv"), F.col("__nv"), F.col("__qn"), F.col("__nn")
            ).alias("cos_sim"),
        )
        # no dedup needed: each corpus vector lives in exactly one cell
        # (probes=1 on the corpus side), so a pair meets at most once.
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    query_id_col: str,
    k: int,
    n_planes: int = 8,
    seed: int = 7,
    dim: int | None = None,
    multiprobe: int = 0,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket, then exact cosine ranking. Deterministic for a fixed seed.

    ``multiprobe=p`` additionally probes the p single-bit-flip
    neighbor buckets obtained by flipping the query's p
    LOWEST-CONFIDENCE sign bits (smallest |plane·q| — the planes the
    query sits closest to, hence the flips most likely to recover true
    neighbors). The standard recall lever for bucket starvation:
    candidate volume grows ~(p+1)×, recall approaches exact, and the
    corpus side is untouched (still one bucket per vector, still
    partition-prunable at rest). Probe order ties break on plane
    index, so the probe set is engine-exact.

    ``dim`` defaults to the observed vector length (one-row peek at the
    corpus). A plane/vector length mismatch would silently zero the
    sign bits (zip_with null-pads), so mismatched rows are rejected at
    plan level with a raise_error guard instead (ADVICE r1, low).
    """
    if dim is None:
        probe = corpus.select(F.size(vec_col).alias("d")).first()
        if probe is None:
            raise ValueError("lsh_topk: empty corpus, pass dim explicitly")
        dim = probe["d"]
    guard = lambda v: F.when(  # noqa: E731
        F.size(v) != F.lit(dim),
        F.raise_error(
            F.concat(
                F.lit(f"lsh_topk: expected {dim}-dim vector, got "),
                F.size(v).cast("string"),
            )
        ),
    ).otherwise(v)
    corpus = corpus.withColumn(vec_col, guard(F.col(vec_col)))
    queries = queries.withColumn(vec_col, guard(F.col(vec_col)))
    c = fan_out(corpus).select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv"))
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )

    def side_keys(vec: str, with_probes: bool):
        """(table, bucket) struct array for one vector column."""
        entries = []
        for t in range(n_tables):
            planes = hyperplanes(dim, n_planes, seed + t)
            bucket = lsh_bucket_expr(vec, planes)
            entries.append(
                F.struct(F.lit(t).alias("t"), bucket.alias("b"))
            )
            if with_probes and multiprobe > 0:
                # Rank planes by |plane·q| ascending (ties by plane
                # index); flip one lowest-confidence bit per probe.
                confid = F.array(
                    *[
                        F.struct(
                            F.abs(
                                dot(F.col(vec), F.array(*[F.lit(x) for x in p]))
                            ).alias("a"),
                            F.lit(i).alias("i"),
                        )
                        for i, p in enumerate(planes)
                    ]
                )
                idx_sorted = F.transform(F.array_sort(confid), lambda s: s["i"])
                masks = F.array(
                    *[F.lit(1 << bit).cast("long") for bit in range(n_planes)]
                )
                for r in range(multiprobe):
                    flipped = bucket.bitwiseXOR(
                        F.element_at(masks, F.element_at(idx_sorted, r + 1) + 1)
                    )
                    entries.append(
                        F.struct(F.lit(t).alias("t"), flipped.alias("b"))
                    )
        return F.explode(F.array(*entries)).alias("__tb")

    c = c.select(
        "neighbor_id", "__nv", norm(F.col("__nv")).alias("__nn"), side_keys("__nv", False)
    ).select(
        "neighbor_id", "__nv", "__nn",
        F.col("__tb.t").alias("__t"), F.col("__tb.b").alias("__bucket"),
    )
    q = q.select(
        "query_id", "__qv", norm(F.col("__qv")).alias("__qn"), side_keys("__qv", True)
    ).select(
        "query_id", "__qv", "__qn",
        F.col("__tb.t").alias("__t"), F.col("__tb.b").alias("__bucket"),
    )
    cand = (
        c.join(F.broadcast(q), ["__t", "__bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "__qv", "__nv", "__qn", "__nn")
    )
    if n_tables > 1 or multiprobe > 0:
        # a pair can meet in several tables/probes — score each once
        cand = cand.dropDuplicates(["query_id", "neighbor_id"])
    scored = cand.select(
        "query_id",
        "neighbor_id",
        _cos_pre(
            F.col("__qv"), F.col("__nv"), F.col("__qn"), F.col("__nn")
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _assign_cells(df: DataFrame, cents: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """Argmax-cosine cell assignment against the (broadcast) frozen
    centroids, as ONE partial-combinable aggregation: min over
    struct(−cosine, cent_id, vec) picks max-cosine / cent_id-asc —
    the identical winner to a row_number(desc csim, asc cent_id)
    window, including its collapse of duplicate ids — but the
    map-side combine shrinks the |centroids|-times expanded relation
    back to one row per id BEFORE the Exchange, where the window
    shuffled the full expansion (r9, VERDICT task 2: measured 2×
    faster per phase at toy scale and |centroids|× less shuffle at
    any scale). A NULL cosine (zero-norm guard) coalesces to +2.0,
    ordering after every real negated cosine in [-1, 1] exactly like
    desc-nulls-last did."""
    s = F.struct(
        F.coalesce(
            -_cos_pre(
                F.col(vec_col), F.col("cent_vec"), F.col("__vn"), F.col("__cn")
            ),
            F.lit(2.0),
        ).alias("negsim"),
        F.col("cent_id"),
        F.col(vec_col).alias("v"),
    )
    return (
        df.withColumn("__vn", norm(F.col(vec_col)))
        .crossJoin(F.broadcast(cents.withColumn("__cn", norm(F.col("cent_vec")))))
        .groupBy(id_col)
        .agg(F.min(s).alias("__w"))
        .select(
            F.col(id_col),
            F.col("__w.v").alias(vec_col),
            F.col("__w.cent_id").alias("cell"),
        )
    )


def ivf_build_index(
    corpus: DataFrame,
    wh,
    table: str,
    vec_col: str,
    id_col: str,
    n_centroids: int = 16,
) -> None:
    """Materialize the IVF index AT REST: centroids in a side table,
    corpus written partitioned by cell id. This is the 100 TB form of
    IVF — the cell assignment is paid once at build time, and a query
    then reads only its probed cells' partition dirs (partition
    pruning does the candidate selection; see ivf_query_at_rest).
    Same deterministic quantizer as ivf_topk (min-id corpus vectors),
    so at-rest results match the in-flight operator exactly. The
    write repartitions by cell so each cell's partition dir gets
    size-proportional files instead of one sliver per upstream task."""
    cents = (
        corpus.orderBy(id_col)
        .limit(n_centroids)
        .select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec"))
    )
    wh.overwrite(cents, f"{table}_centroids")
    assigned = _assign_cells(corpus, cents, vec_col, id_col).repartition(
        n_centroids, "cell"
    )
    wh.overwrite(assigned, table, partition_by=["cell"])


def ivf_query_at_rest(
    wh,
    table: str,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    query_id_col: str,
    k: int,
    nprobe: int = 2,
) -> DataFrame:
    """Query the at-rest IVF index: assign each query to its nprobe
    nearest cells, then scan ONLY those cells' partitions (the isin
    filter on the partition column prunes at the file listing — no
    data from unprobed cells is read). Candidate scoring and the
    per-query top-k window are identical to ivf_topk."""
    cents = wh.read(f"{table}_centroids")
    q = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(vec_col).alias("__qv"),
            norm(F.col(vec_col)).alias("__qn"),
        )
        .crossJoin(F.broadcast(cents.withColumn("__cn", norm(F.col("cent_vec")))))
        .withColumn(
            "__csim",
            _cos_pre(F.col("__qv"), F.col("cent_vec"), F.col("__qn"), F.col("__cn")),
        )
        .withColumn("__crank", F.row_number().over(
            Window.partitionBy("query_id").orderBy(F.desc("__csim"), F.asc("cent_id"))
        ))
        .filter(F.col("__crank") <= nprobe)
        .select("query_id", "__qv", "__qn", F.col("cent_id").alias("cell"))
    )
    # probed cells: a bounded driver-side list (|queries| * nprobe ids)
    # that becomes a literal partition filter -> file-listing pruning
    cells = [r["cell"] for r in q.select("cell").distinct().collect()]
    corpus = wh.read(table).filter(F.col("cell").isin(cells))
    scored = (
        corpus.withColumn("__nn", norm(F.col(vec_col)))
        .join(F.broadcast(q), "cell")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            _cos_pre(
                F.col("__qv"), F.col(vec_col), F.col("__qn"), F.col("__nn")
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_index_add(
    new_vectors: DataFrame,
    wh,
    table: str,
    vec_col: str,
    id_col: str,
) -> int:
    """Incrementally add vectors to an at-rest IVF index built by
    ivf_build_index, WITHOUT retraining: new vectors are assigned to
    the FROZEN persisted centroids and appended to their cells'
    partitions (the FAISS `add` contract — the quantizer never moves
    after build, so an add touches only the new rows' cell
    partitions, never the existing index). Because assignment depends
    only on the centroids and the vector itself, build-then-add is
    bit-identical to rebuilding over the union — the maintained-index
    identity `ann_index_maintained_embeddings` gates on. Returns the
    number of vectors added."""
    cents = wh.read(f"{table}_centroids")
    # _assign_cells' single aggregation both assigns and collapses
    # duplicate ids within the batch (a replayed add must not
    # double-append — code-review r7), shuffling only the ADD BATCH
    # (incremental by nature), never the index. Hash-repartition by
    # cell before the write so each touched cell gets ONE append file
    # per add instead of one sliver per shuffle task (32 tasks ×
    # cells tiny files otherwise — both a toy-scale job cost and a
    # real small-file problem on object storage); non-empty partition
    # count is bounded by |cells| regardless of the partition number,
    # so no sizing job is needed.
    assigned = _assign_cells(new_vectors, cents, vec_col, id_col).repartition(
        "cell"
    )
    # count the ACTUAL appended rows with an Observation riding the
    # write job itself (r10 optimization round): the old
    # persist -> count -> write -> unpersist shape paid a whole extra
    # Spark job per add — on the job-count-dominated maintained-index
    # lifecycles (ann_recall_after_adds runs 4 adds, ~61 jobs total)
    # that job floor IS the cost. Observation metrics are collected by
    # the driver from the same tasks that write, so this is one job.
    from pyspark.sql import Observation

    obs = Observation()
    assigned = assigned.observe(obs, F.count(F.lit(1)).alias("n"))
    wh.append(assigned, table, partition_by=["cell"])
    return int(obs.get["n"])


def kmeans_parallel_init(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    oversample: int | None = None,
    rounds: int = 3,
) -> list[list[float]]:
    """k-means|| (Bahmani et al., VLDB 2012 — public paper) seeding:
    better spread than min-id init on skewed corpora, fully
    distributed, and DETERMINISTIC (the usual coin flips are replaced
    by a per-(id, round) xxhash64 uniform, so the same corpus always
    yields the same seeds — the repo's reproducibility convention).

    Per round: broadcast the candidate set, score every point's
    distance-to-nearest-candidate (1 − max cosine), one tiny agg for
    the total cost, then keep points where hash-uniform(id, round) <
    l·dist/cost — expected ``l = oversample`` new candidates per
    round, never a driver-side pass over the corpus. The O(k·rounds)
    candidate pool is reduced to ``k`` on the driver by weighted
    farthest-point traversal (greedy k-center on the candidates,
    weights = corpus points assigned), which is itself deterministic.

    Scale shape: each round is one broadcast-join map pass + one
    scalar agg; candidates live on the driver only (≤ l·rounds + 1
    vectors). At 100 TB this is the textbook init — log(cost) rounds
    of map-only sampling instead of k sequential k-means++ passes.
    """
    l = oversample or 2 * k
    base = corpus.select(
        F.col(id_col).alias("__kid"),
        F.col(vec_col).cast("array<double>").alias("__kv"),
        norm(F.col(vec_col).cast("array<double>")).alias("__kn"),
    )
    first = base.orderBy("__kid").limit(1).collect()
    if not first:
        raise ValueError("kmeans_parallel_init: empty corpus")
    cands: list[list[float]] = [list(first[0]["__kv"])]
    spark = corpus.sparkSession
    for r in range(rounds):
        cdf = spark.createDataFrame(
            [(i, v) for i, v in enumerate(cands)], "cand_id int, cand_vec array<double>"
        )
        dist = (
            base.crossJoin(F.broadcast(cdf.withColumn("__cn", norm(F.col("cand_vec")))))
            .withColumn(
                "__sim",
                _cos_pre(F.col("__kv"), F.col("cand_vec"), F.col("__kn"), F.col("__cn")),
            )
            .groupBy("__kid")
            .agg(
                F.first("__kv").alias("__kv"),
                (F.lit(1.0) - F.max("__sim")).alias("__d"),
            )
        )
        dist = dist.withColumn("__d", F.greatest(F.col("__d"), F.lit(0.0)))
        total = dist.agg(F.sum("__d")).collect()[0][0] or 0.0
        if total <= 0.0:  # every point coincides with a candidate
            break
        # deterministic uniform in [0,1): pmod(xxhash64(id, round), 1e6)/1e6
        u = (
            F.pmod(F.xxhash64(F.col("__kid"), F.lit(r)), F.lit(1_000_000))
            / F.lit(1_000_000.0)
        )
        p = F.least(F.lit(1.0), F.lit(float(l)) * F.col("__d") / F.lit(float(total)))
        picked = dist.filter(u < p).select("__kid", "__kv").orderBy("__kid").collect()
        cands.extend(list(row["__kv"]) for row in picked)
    # Weight candidates by assigned corpus mass (one broadcast pass).
    cdf = spark.createDataFrame(
        [(i, v) for i, v in enumerate(cands)], "cand_id int, cand_vec array<double>"
    )
    w_assign = Window.partitionBy("__kid").orderBy(F.desc("__sim"), F.asc("cand_id"))
    weights_rows = (
        base.crossJoin(F.broadcast(cdf.withColumn("__cn", norm(F.col("cand_vec")))))
        .withColumn(
            "__sim",
            _cos_pre(F.col("__kv"), F.col("cand_vec"), F.col("__kn"), F.col("__cn")),
        )
        .withColumn("__r", F.row_number().over(w_assign))
        .filter(F.col("__r") == 1)
        .groupBy("cand_id")
        .agg(F.count(F.lit(1)).alias("w"))
        .collect()
    )
    weights = {r["cand_id"]: int(r["w"]) for r in weights_rows}
    # Driver-side deterministic reduction to k: start from the
    # heaviest candidate (ties → lowest index), then greedily add the
    # candidate maximizing weight·(1 − max cos to chosen), ties by
    # index — weighted farthest-point, the deterministic stand-in for
    # weighted k-means++ over the tiny candidate pool.
    import numpy as np

    mat = np.asarray(cands, dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0.0] = 1.0
    unit = mat / norms[:, None]
    wvec = np.asarray([weights.get(i, 0) for i in range(len(cands))], dtype=np.float64)
    chosen = [int(np.lexsort((np.arange(len(cands)), -wvec))[0])]
    while len(chosen) < min(k, len(cands)):
        sims = unit @ unit[chosen].T  # |cands| × |chosen|
        score = wvec * np.maximum(1.0 - sims.max(axis=1), 0.0)
        score[chosen] = -1.0
        chosen.append(int(score.argmax()))
    return [[float(x) for x in mat[i]] for i in chosen]


def kmeans_train(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 16,
    iters: int = 5,
    init: str = "minid",
) -> list[tuple[int, list[float]]]:
    """Lloyd's k-means for the IVF coarse quantizer, distributed and
    deterministic: init = the k min-id corpus vectors (``init="minid"``,
    the oracle-reproducible default) or k-means|| sampling
    (``init="parallel"`` → :func:`kmeans_parallel_init` — better
    convergence on skewed corpora), then ``iters`` rounds of (assign
    by max cosine, recompute elementwise means).

    Per round: one map-only broadcast assignment pass + one shuffle of
    (cell, position, value) triples for the means — O(N·k·d) compute,
    shuffle bytes ∝ N·d, never materializing N×k. Empty cells keep
    their previous centroid. Centroids (k×d doubles) come back to the
    driver each round — tiny by construction.

    Returns [(cent_id, centroid)] for :func:`ivf_topk` /
    :func:`ivf_build_index` ``centroids=``.
    """
    spark = corpus.sparkSession
    if init == "parallel":
        seeds = kmeans_parallel_init(corpus, vec_col, id_col, k)
    elif init == "minid":
        rows = (
            corpus.orderBy(id_col)
            .limit(k)
            .select(F.col(vec_col).cast("array<double>"))
            .collect()
        )
        seeds = [list(r[0]) for r in rows]
    else:
        raise ValueError(f"init must be 'minid' or 'parallel', got {init!r}")
    cents: list[tuple[int, list[float]]] = list(enumerate(seeds))
    base = fan_out(corpus).select(
        F.col(id_col), F.col(vec_col), norm(F.col(vec_col)).alias("__vn")
    )
    for _ in range(iters):
        cent_df = spark.createDataFrame(
            [(cid, v) for cid, v in cents], "cent_id int, cent_vec array<double>"
        ).withColumn("__cn", norm(F.col("cent_vec")))
        w = Window.partitionBy(id_col).orderBy(F.desc("__csim"), F.asc("cent_id"))
        assigned = (
            base.crossJoin(F.broadcast(cent_df))
            .withColumn(
                "__csim",
                _cos_pre(F.col(vec_col), F.col("cent_vec"), F.col("__vn"), F.col("__cn")),
            )
            .withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") == 1)
            .select("cent_id", F.posexplode(F.col(vec_col).cast("array<double>")))
        )
        means = (
            assigned.groupBy("cent_id", "pos")
            .agg(F.avg("col").alias("m"))
            .groupBy("cent_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "m"))
                ).alias("pm")
            )
            .select("cent_id", F.col("pm.m").alias("centroid"))
            .collect()
        )
        updated = {r["cent_id"]: list(r["centroid"]) for r in means}
        cents = [(cid, updated.get(cid, v)) for cid, v in cents]
    return cents


def mmr_rerank(
    candidates: DataFrame,
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    lam: float = 0.5,
) -> DataFrame:
    """Maximal-Marginal-Relevance re-rank of per-query candidate sets:
    greedily pick the candidate maximizing
    ``lam * sim_to_query - (1 - lam) * max_sim_to_already_picked``
    (ties by neighbor id), emitting ``k`` diversified results per
    query with ``mmr_rank``.

    ``candidates`` is a (query_id, neighbor_id, cos_sim) relation —
    the output of any top-k retriever above (retrieve k' > k, then
    diversify down to k, the standard two-stage shape).

    Scale shape: the greedy selection is inherently sequential in k
    but embarrassingly parallel across queries — one shuffle groups
    each query's candidate set (tens of rows), and the Arrow-batched
    kernel runs per group. Candidate vectors are attached by one join
    on the corpus BEFORE grouping, so the kernel never sees the
    corpus, only k' vectors per query.
    """
    import numpy as np
    import pandas as pd

    vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv")
    )
    with_vecs = candidates.join(vecs, "neighbor_id").select(
        "query_id", "neighbor_id", "cos_sim", "__nv"
    )

    def _mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["cos_sim", "neighbor_id"], ascending=[False, True]
        ).reset_index(drop=True)
        mat = np.array(pdf["__nv"].tolist(), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0.0] = 1.0
        unit = mat / norms[:, None]
        sims = unit @ unit.T  # candidate-candidate cosine
        picked: list[int] = []
        remaining = list(range(len(pdf)))
        while remaining and len(picked) < k:
            best, best_score = None, None
            for i in remaining:
                redundancy = max((sims[i][j] for j in picked), default=0.0)
                score = lam * pdf["cos_sim"][i] - (1.0 - lam) * redundancy
                # strict > keeps the earliest (highest-sim, lowest-id)
                # candidate on ties → deterministic
                if best is None or score > best_score:
                    best, best_score = i, score
            picked.append(best)
            remaining.remove(best)
        out = pdf.iloc[picked][["query_id", "neighbor_id", "cos_sim"]].copy()
        out["mmr_rank"] = range(1, len(picked) + 1)
        return out

    schema = (
        "query_id long, neighbor_id long, cos_sim double, mmr_rank integer"
    )
    return with_vecs.groupBy("query_id").applyInPandas(_mmr, schema)


# ---------------------------------------------------------------------------
# Product quantization (PQ): the memory-scale ANN path. Vectors are
# split into m subspaces; each subvector is replaced by the id of its
# nearest codebook entry — a d-dim float32 vector (256 B at d=64)
# compresses to m single-byte codes (8 B), so a 100 TB embedding
# corpus's index fits in ~3 TB of codes + a broadcastable codebook.
# Queries score candidates with the asymmetric distance computation
# (ADC): a per-query lookup table of query-subvector → codeword
# distances, summed over subspaces.
#
# The codebook here is the same deterministic min-id quantizer
# convention as ivf_topk (first n_codes corpus vectors' subvectors) so
# the whole pipeline — encode, LUT, ADC ranking — is plain arithmetic
# with an exact SQL oracle; swap kmeans_train per subspace for
# production codebooks (same plumbing).
#
# Determinism: each subspace distance folds left over its 8 dims
# (identical order both engines → identical doubles); the ADC sum over
# subspaces micro-rounds each subspace distance to BIGINT first, so
# the cross-subspace sum is exact integer arithmetic.


def pq_codebooks(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    m: int = 8,
    n_codes: int = 16,
) -> list[list[list[float]]]:
    """codebooks[j][c] = subspace-j subvector of the c-th lowest-id
    corpus vector (driver-side literals, like ``hyperplanes``)."""
    rows = corpus.select(id_col, vec_col).orderBy(id_col).limit(n_codes).collect()
    if not rows:
        raise ValueError("pq_codebooks: empty corpus")
    dim = len(rows[0][vec_col])
    ds = dim // m
    return [
        [[float(r[vec_col][j * ds + t]) for t in range(ds)] for r in rows]
        for j in range(m)
    ]


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Map-only encoder: one output row per (vector, subspace) with the
    argmin codeword id (ties → lowest code id).

    The kernel is an Arrow-batched numpy pass (the faiss-style
    vectorized distance kernel): float32 inputs widen to float64, the
    per-dim squared diffs are exact IEEE ops, and the 8-element
    subspace sum is numpy's sequential reduce — the SAME left-fold
    grouping as the SQL oracle, so argmin indices match bit-for-bit
    (np.argmin returns the FIRST minimum = lowest code id, the oracle's
    tie rule). A pure-expression formulation exists but evaluates
    m×n_codes interpreted HOF folds per row (CodegenFallback) — ~10×
    slower; measured, not guessed.
    """
    import numpy as np
    import pandas as pd

    m = len(codebooks)
    ds = len(codebooks[0][0])
    cb = np.array(codebooks, dtype=np.float64)  # (m, n_codes, ds)

    def encode(batches):
        for pdf in batches:
            vecs = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )  # (n, dim)
            n = len(pdf)
            subs = vecs.reshape(n, m, ds)  # (n, m, ds)
            # (n, m, n_codes, ds) diffs → squared → sequential sum over ds
            diffs = subs[:, :, None, :] - cb[None, :, :, :]
            dists = np.add.reduce(diffs * diffs, axis=-1)
            codes = np.argmin(dists, axis=-1).astype(np.int32)  # (n, m)
            out = pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf[id_col].to_numpy(), m),
                    "j": np.tile(np.arange(m, dtype=np.int32), n),
                    "code": codes.reshape(-1),
                }
            )
            yield out

    return (
        fan_out(corpus)
        .select(F.col(id_col).alias(id_col), F.col(vec_col).alias(vec_col))
        .mapInPandas(encode, "vec_id long, j int, code int")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    query_id_col: str,
    k: int,
    m: int = 8,
    n_codes: int = 16,
) -> DataFrame:
    """PQ/ADC approximate top-k by ascending reconstruction distance:
    (query_id, neighbor_id, adc_micro, adc_dist, rank).

    Scale shape: encode is map-only over the corpus; the per-query LUT
    (queries × m × n_codes rows) broadcasts; the only corpus-sized
    shuffle is the (query, neighbor) partial-sum aggregation — and the
    encoded relation it aggregates carries codes, not vectors."""
    import numpy as np
    import pandas as pd

    codebooks = pq_codebooks(corpus, vec_col, id_col, m=m, n_codes=n_codes)
    ds = len(codebooks[0][0])
    enc = pq_encode(corpus, codebooks, vec_col, id_col)

    # Per-query LUT via the same numpy kernel as the encode. (An
    # expression formulation spent ~8 s per call just BUILDING the
    # m×n_codes HOF Column objects — py4j chatter, before any data
    # moved.) d_micro rounds half-away-from-zero on non-negative
    # distances — floor(x+0.5) — matching Spark round()/DuckDB ROUND.
    cb = np.array(codebooks, dtype=np.float64)  # (m, n_codes, ds)
    n_codes_ = cb.shape[1]

    def build_lut(batches):
        for pdf in batches:
            vecs = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            n = len(pdf)
            subs = vecs.reshape(n, m, ds)
            diffs = subs[:, :, None, :] - cb[None, :, :, :]
            dists = np.add.reduce(diffs * diffs, axis=-1)  # (n, m, n_codes)
            d_micro = np.floor(dists.reshape(-1) * 1_000_000.0 + 0.5).astype(
                "int64"
            )
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(pdf[query_id_col].to_numpy(), m * n_codes_),
                    "j": np.tile(
                        np.repeat(np.arange(m, dtype=np.int32), n_codes_), n
                    ),
                    "code": np.tile(np.arange(n_codes_, dtype=np.int32), n * m),
                    "d_micro": d_micro,
                }
            )

    lut = queries.select(query_id_col, vec_col).mapInPandas(
        build_lut, "query_id long, j int, code int, d_micro long"
    )

    adc = (
        enc.join(F.broadcast(lut), ["j", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d_micro").alias("adc_micro"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_micro", "neighbor_id")
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "adc_micro",
            (F.col("adc_micro").cast("double") / F.lit(1_000_000.0)).alias(
                "adc_dist"
            ),
            "rank",
        )
    )


def _ivfpq_cents(corpus, vec_col, id_col, n_centroids):
    """Deterministic coarse quantizer: the n_centroids lowest-id
    corpus vectors as a broadcastable (cid, cv) frame (0-based dense
    cid in id order)."""
    spark = corpus.sparkSession
    cent_rows = (
        corpus.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(n_centroids)
        .collect()
    )
    if not cent_rows:
        raise ValueError("ivfpq: empty corpus")
    return spark.createDataFrame(
        [(i, [float(x) for x in r[vec_col]]) for i, r in enumerate(cent_rows)],
        "__cid int, __cv array<double>",
    )


def _ivfpq_assign(cents_df, df, vid, probes):
    """L2 cell assignment (ties to lower cid) + double residual."""
    from ..functions.vectors import l2_dist_sq

    w = Window.partitionBy(vid).orderBy(F.asc("__d"), F.asc("__cid"))
    residual = F.zip_with(
        F.transform("__v", lambda x: x.cast("double")),
        F.col("__cv"),
        lambda x, y: x - y,
    )
    return (
        df.crossJoin(F.broadcast(cents_df))
        .withColumn("__d", l2_dist_sq(F.col("__v"), F.col("__cv")))
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= probes)
        .withColumn("__res", residual)
        .select(vid, "__cid", "__res")
    )


def _ivfpq_codebooks(c, m, n_codes):
    """Residual codebooks: subvectors of the n_codes lowest-id
    assigned residuals. Returns (codebooks, ds)."""
    res_rows = c.orderBy("vec_id").limit(n_codes).collect()
    if len(res_rows) < n_codes:
        raise ValueError(
            f"ivfpq: corpus has {len(res_rows)} vectors but "
            f"n_codes={n_codes} codebook entries are required — "
            "shrink n_codes or grow the corpus"
        )
    dim = len(res_rows[0]["__res"])
    if dim % m != 0:
        raise ValueError(
            f"ivfpq: embedding dim {dim} is not divisible by m={m} "
            "subspaces"
        )
    ds = dim // m
    codebooks = [
        [
            [float(res_rows[ci]["__res"][j * ds + t]) for t in range(ds)]
            for ci in range(n_codes)
        ]
        for j in range(m)
    ]
    return codebooks, ds


def _ivfpq_lut(q, codebooks, m, n_codes, ds):
    """Per-(query, probed-cell) ADC lookup table via the same numpy
    kernel as the encode (micro-rounded, identical float order)."""
    import numpy as np
    import pandas as pd

    cb = np.array(codebooks, dtype=np.float64)  # (m, n_codes, ds)

    def build_lut(batches):
        for pdf in batches:
            vecs = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["__res"]]
            )
            n = len(pdf)
            subs = vecs.reshape(n, m, ds)
            diffs = subs[:, :, None, :] - cb[None, :, :, :]
            dists = np.add.reduce(diffs * diffs, axis=-1)
            d_micro = np.floor(
                dists.reshape(-1) * 1_000_000.0 + 0.5
            ).astype("int64")
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(
                        pdf["query_id"].to_numpy(), m * n_codes
                    ),
                    "__cid": np.repeat(
                        pdf["__cid"].to_numpy(), m * n_codes
                    ),
                    "j": np.tile(
                        np.repeat(np.arange(m, dtype=np.int32), n_codes), n
                    ),
                    "code": np.tile(
                        np.arange(n_codes, dtype=np.int32), n * m
                    ),
                    "d_micro": d_micro,
                }
            )

    return q.mapInPandas(
        build_lut, "query_id long, __cid int, j int, code int, d_micro long"
    )


def _ivfpq_adc_rank(enc, lut, k):
    adc = (
        enc.join(F.broadcast(lut), ["__cid", "j", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d_micro").alias("adc_micro"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_micro", "neighbor_id")
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "adc_micro",
            (F.col("adc_micro").cast("double") / F.lit(1_000_000.0)).alias(
                "adc_dist"
            ),
            "rank",
        )
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    query_id_col: str,
    k: int,
    n_centroids: int = 16,
    nprobe: int = 2,
    m: int = 8,
    n_codes: int = 16,
) -> DataFrame:
    """IVF-PQ approximate top-k — the FAISS ``IndexIVFPQ`` combination
    (public: Jegou et al. 2011, "Product Quantization for Nearest
    Neighbor Search"): a coarse inverted-file quantizer (L2) assigns
    every corpus vector to one cell, product quantization encodes the
    RESIDUAL (vector − cell centroid), and a query ADC-scans only its
    ``nprobe`` nearest cells. Residual encoding is what separates
    this from :func:`pq_topk`: residuals are centered near zero, so
    the same code budget quantizes them far more finely than raw
    vectors, and the cell restriction caps candidates at
    ~nprobe/n_centroids of the corpus.

    Deterministic-by-construction (the differential-oracle
    discipline): centroids = the ``n_centroids`` lowest-id corpus
    vectors (0-based dense cid in id order); residual codebooks = the
    residuals of the ``n_codes`` lowest-id corpus vectors; all ties
    break on the lower id/cid/code; ADC distances accumulate in
    rounded micro-units (exact integer sums).

    Scale shape: centroid list and per-(query, probed-cell) LUT
    (queries × nprobe × m × n_codes rows) broadcast; the corpus pass
    is map-only assign + residual + encode, and what persists/joins
    is (cell, j, code) — codes, never vectors. The only corpus-sized
    shuffle is the (query, neighbor) partial-sum agg, already
    restricted to probed cells by the (cell, j, code) join key.
    """
    cents_df = _ivfpq_cents(corpus, vec_col, id_col, n_centroids)
    c = _ivfpq_assign(
        cents_df,
        corpus.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__v")
        ),
        "vec_id",
        1,
    )
    codebooks, ds = _ivfpq_codebooks(c, m, n_codes)
    enc = pq_encode(
        c.select("vec_id", "__res"), codebooks, "__res", "vec_id"
    ).join(c.select("vec_id", "__cid"), "vec_id")
    q = _ivfpq_assign(
        cents_df,
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(vec_col).alias("__v"),
        ),
        "query_id",
        nprobe,
    )
    lut = _ivfpq_lut(q, codebooks, m, n_codes, ds)
    return _ivfpq_adc_rank(enc, lut, k)


def sq8_stats(corpus: DataFrame, vec_col: str) -> tuple[list[float], list[float]]:
    """Per-dimension (min, max) over the corpus — the trained state of
    a scalar quantizer (FAISS IndexScalarQuantizer QT_8bit, public).
    One map-side-combined aggregation, single-row result (2×dim
    scalars): metadata-sized at any corpus size."""
    probe = corpus.select(F.size(vec_col).alias("d")).first()
    if probe is None:
        raise ValueError("sq8_stats: empty corpus")
    dim = probe["d"]
    row = corpus.agg(
        *[F.min(F.col(vec_col)[i].cast("double")).alias(f"mn{i}") for i in range(dim)],
        *[F.max(F.col(vec_col)[i].cast("double")).alias(f"mx{i}") for i in range(dim)],
    ).first()
    mins = [row[f"mn{i}"] for i in range(dim)]
    maxs = [row[f"mx{i}"] for i in range(dim)]
    return mins, maxs


def sq8_encode(
    corpus: DataFrame,
    mins: Sequence[float],
    maxs: Sequence[float],
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Map-only 8-bit scalar-quantization encode: one (id, d, code)
    row per dimension, code = round((x−min_d)/(max_d−min_d)·255) ∈
    [0,255] — 1 byte per dimension at rest vs 4 for the float.
    Constant dimensions (max==min) encode as 0, resolved at plan time.
    ``d`` is 1-based to match SQL array indexing."""
    dim = len(mins)
    codes = []
    for i in range(dim):
        rng = maxs[i] - mins[i]
        if rng == 0.0:
            codes.append(F.lit(0))
        else:
            codes.append(
                F.round(
                    (F.col(vec_col)[i].cast("double") - F.lit(mins[i]))
                    / F.lit(rng)
                    * F.lit(255.0)
                ).cast("int")
            )
    return corpus.select(
        F.col(id_col), F.posexplode(F.array(*codes)).alias("__p", "code")
    ).select(id_col, (F.col("__p") + 1).alias("d"), "code")


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    query_id_col: str,
    k: int,
) -> DataFrame:
    """Scalar-quantized (int8) approximate top-k by ascending L2
    reconstruction distance — the flat SQ tier of the quantization
    ladder (LSH / IVF / PQ / IVF-PQ / matryoshka / SQ8): 4× smaller
    at rest than raw floats with far milder distortion than PQ,
    because each dimension keeps its own 256-level grid.

    Returns (query_id, neighbor_id, adc_micro, adc_dist, rank).

    Scale shape (mirrors pq_topk): the quantizer state is 2×dim
    scalars (broadcast as plan literals); encode is map-only; the
    per-query ADC table (dim × 256 rows per query) broadcasts; the
    only corpus-sized shuffle is the (query, neighbor) partial-sum
    aggregation over codes — vectors never shuffle. Determinism: each
    LUT cell micro-rounds (floor(x·1e6+0.5), matching Spark round()/
    DuckDB ROUND on non-negatives) to BIGINT before the exact integer
    sum; ranks tie-break on neighbor_id."""
    import numpy as np
    import pandas as pd

    mins, maxs = sq8_stats(corpus, vec_col)
    dim = len(mins)
    enc = sq8_encode(corpus, mins, maxs, vec_col, id_col)

    mn = np.asarray(mins, dtype=np.float64)
    sc = (np.asarray(maxs, dtype=np.float64) - mn) / 255.0
    grid = np.arange(256, dtype=np.float64)
    recon = mn[:, None] + grid[None, :] * sc[:, None]  # (dim, 256)

    def build_lut(batches):
        for pdf in batches:
            for qid, vec in zip(pdf[query_id_col], pdf[vec_col]):
                q = np.asarray(vec, dtype=np.float64)
                diff = q[:, None] - recon
                d_micro = np.floor(diff * diff * 1_000_000.0 + 0.5).astype(
                    "int64"
                )
                yield pd.DataFrame(
                    {
                        "query_id": np.full(dim * 256, qid, dtype="int64"),
                        "d": np.repeat(
                            np.arange(1, dim + 1, dtype=np.int32), 256
                        ),
                        "code": np.tile(np.arange(256, dtype=np.int32), dim),
                        "d_micro": d_micro.reshape(-1),
                    }
                )

    lut = queries.select(query_id_col, vec_col).mapInPandas(
        build_lut, "query_id long, d int, code int, d_micro long"
    )
    adc = (
        enc.join(F.broadcast(lut), ["d", "code"])
        .filter(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", F.col(id_col).alias("neighbor_id"))
        .agg(F.sum("d_micro").alias("adc_micro"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_micro", "neighbor_id")
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "adc_micro",
            (F.col("adc_micro").cast("double") / F.lit(1_000_000.0)).alias(
                "adc_dist"
            ),
            "rank",
        )
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    query_id_col: str,
    label_col: str,
    k: int,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    top-k most-similar corpus vectors whose LABEL DIFFERS from the
    query's (the classic in-batch-negatives upgrade — negatives that
    are hard because they're close in embedding space but semantically
    wrong). Same broadcast-queries shape as brute_force_topk; the
    label test rides the same scored pass, no extra join."""
    c = fan_out(corpus).select(
        F.col(id_col).alias("__nid"),
        F.col(vec_col).alias("__nv"),
        F.col(label_col).alias("__nlab"),
        norm(F.col(vec_col)).alias("__nn"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.col(label_col).alias("__qlab"),
        norm(F.col(vec_col)).alias("__qn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter((F.col("__nid") != F.col("query_id")) & (F.col("__nlab") != F.col("__qlab")))
        .select(
            "query_id",
            F.col("__nid").alias("neighbor_id"),
            F.col("__nlab").alias("neighbor_label"),
            _cos_pre(
                F.col("__qv"), F.col("__nv"), F.col("__qn"), F.col("__nn")
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# Binary sign quantization + Hamming ranking (Charikar 2002 SRP /
# the classic "binary embeddings" retrieval trick — public): each
# float dimension contributes one sign bit, vectors collapse 64×
# (64 floats → two 32-bit lanes), and candidate ranking is XOR +
# popcount — pure JVM integer ops inside whole-stage codegen.


def sign_pack(
    df: DataFrame, vec_col: str, dim: int, prefix: str = "__w"
) -> tuple[DataFrame, int]:
    """Pack the sign bits of ``vec_col`` (array<float>, length
    ``dim``) into ceil(dim/32) BIGINT lanes of 32 bits each (32 per
    word keeps every lane positive — no sign-bit aliasing). The
    packing is a codegen'd fold over a literal index range; at rest
    it is the at-scale representation (a 256-dim corpus stores 8
    BIGINTs per vector instead of 256 floats)."""
    n_words = (dim + 31) // 32
    out = df
    for j in range(n_words):
        lo, hi = 32 * j, min(32 * j + 31, dim - 1)
        out = out.withColumn(
            f"{prefix}{j}",
            F.expr(
                f"aggregate(sequence({lo}, {hi}), CAST(0 AS BIGINT), "
                f"(acc, i) -> acc + IF(element_at({vec_col}, i + 1) > 0, "
                f"shiftleft(CAST(1 AS BIGINT), i - {lo}), "
                f"CAST(0 AS BIGINT)))"
            ),
        )
    return out, n_words


def hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    query_id_col: str,
    k: int,
    dim: int,
) -> DataFrame:
    """Top-k by ascending Hamming distance between sign-packed
    vectors: (query_id, neighbor_id, hamming, rank), ties broken by
    neighbor id. The corpus scan carries only the packed words; the
    query side broadcasts. Scale shape: identical to
    brute_force_topk but with a 64× smaller candidate payload and
    integer-only distance — the standard first-pass filter in a
    two-stage (Hamming shortlist → exact re-rank) pipeline."""
    c, n_words = sign_pack(corpus, vec_col, dim)
    q, _ = sign_pack(queries, vec_col, dim)
    c = c.select(
        F.col(id_col).alias("__nid"),
        *[F.col(f"__w{j}").alias(f"__c{j}") for j in range(n_words)],
    )
    q = q.select(
        F.col(query_id_col).alias("query_id"),
        *[F.col(f"__w{j}").alias(f"__q{j}") for j in range(n_words)],
    )
    ham = None
    for j in range(n_words):
        t = F.bit_count(F.col(f"__q{j}").bitwiseXOR(F.col(f"__c{j}")))
        ham = t if ham is None else ham + t
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("__nid") != F.col("query_id"))
        .select(
            "query_id",
            F.col("__nid").alias("neighbor_id"),
            ham.cast("int").alias("hamming"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("hamming"), F.asc("neighbor_id")
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).filter(F.col("rank") <= k)


def hamming_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    query_id_col: str,
    k: int,
    shortlist: int,
    dim: int,
) -> DataFrame:
    """Two-stage retrieval: Hamming shortlist (``shortlist``
    candidates per query from the sign-packed lanes — integer XOR +
    popcount over the whole corpus) then EXACT cosine re-rank of the
    survivors only. This is the production shape for binary
    embeddings: the float vectors are touched for shortlist·|Q| rows,
    never |corpus|·|Q|. Returns (query_id, neighbor_id, cos_sim,
    rank), ties by neighbor id."""
    cand = hamming_topk(
        corpus, queries, vec_col, id_col, query_id_col, k=shortlist, dim=dim
    ).select("query_id", "neighbor_id")
    nvec = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv")
    )
    qvec = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    scored = (
        cand.join(nvec, "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("__qv"), F.col("__nv")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).filter(F.col("rank") <= k)
