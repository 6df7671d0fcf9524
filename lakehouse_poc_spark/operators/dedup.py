"""Deduplication family: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Every variant is expression-only (xxhash64 / array ops / joins) — no
Python UDFs, so the whole family runs inside codegen and scales with
the cluster. The approximate variants (MinHash LSH, SimHash) are
deterministic given the fixed seed but not SQL-portable (DuckDB lacks
xxhash64), so their driver checks are rows-only; the exact variants
(md5 groups, brute Jaccard, cosine pairs) are fully oracle-checked.

Scale shapes (100 TB):
- exact: one hash-shuffle on the fingerprint — optimal.
- MinHash LSH: per-doc signature is a map-only pass; candidate
  generation shuffles (band_id, band_hash) — sub-quadratic; the
  verify join touches only candidate pairs.
- brute Jaccard / cosine pairs: O(n²) — correctness oracle and small-n
  only; LSH is the scale path.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import (
    fingerprint_md5,
    shingles_from_tokens,
    tokens,
    word_shingles,
)
from ..functions.vectors import cosine
from .partitioning import fan_out

MERSENNE31 = (1 << 31) - 1


def exact_dedup(
    df: DataFrame, text_col: str, id_col: str, keep: str = "min"
) -> DataFrame:
    """Exact dedup on normalized content hash; keeps the min/max id per
    group (one hash-shuffle)."""
    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    fp = fan_out(df).withColumn("__fp", fingerprint_md5(text_col))
    keeper = fp.groupBy("__fp").agg(agg.alias(id_col))
    return fp.join(keeper, [id_col, "__fp"], "left_semi").drop("__fp")


def _perm_params(num_perm: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE31), rng.randrange(0, MERSENNE31))
        for _ in range(num_perm)
    ]


def minhash_signature(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    num_perm: int = 32,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """MinHash signatures: one row per ``id_col`` with a ``__sig``
    array<long> of length ``num_perm``.

    Shingle → 31-bit hash via xxhash64 mod Mersenne-31; permutation i is
    ``(a_i·h + b_i) mod M31`` (products stay < 2^62: no overflow under
    ANSI mode). Signature element i = min over shingles.

    Shape: explode shingles → hash once → ``num_perm`` partial MIN
    aggregates → group back by id. The mins combine map-side, so the
    one shuffle carries ``num_perm`` longs per doc — and each shingle
    is constructed and hashed exactly once (an array-expression
    formulation gets its shingle subexpression inlined ``num_perm``
    times by project collapsing, recomputing shingling 32×).
    """
    params = _perm_params(num_perm, seed)
    exploded = fan_out(df).select(
        F.col(id_col),
        F.explode_outer(
            F.array_distinct(word_shingles(text_col, n=shingle_n))
        ).alias("__shingle"),
    )
    h = F.pmod(F.xxhash64("__shingle"), F.lit(MERSENNE31))
    mins = [
        F.min(F.pmod(a * h + b, F.lit(MERSENNE31))).alias(f"__m{i}")
        for i, (a, b) in enumerate(params)
    ]
    return (
        exploded.groupBy(id_col)
        .agg(*mins)
        .select(
            id_col, F.array(*[f"__m{i}" for i in range(num_perm)]).alias("__sig")
        )
    )


def minhash_bands(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """LSH band relation (id, band, bhash): each doc's signature cut
    into ``bands`` slices, each slice folded to one 64-bit hash. Two
    docs are LSH CANDIDATES iff they share a (band, bhash) bucket.
    Carries only ids + band hashes — never shingle arrays — so it is
    the persistable at-rest form of the index (the incremental dedup
    store appends exactly these rows per admitted batch)."""
    sigs = minhash_signature(df, text_col, id_col, num_perm, shingle_n, seed)
    return bands_from_signatures(sigs, id_col, num_perm, bands)


def bands_from_signatures(
    sigs: DataFrame, id_col: str, num_perm: int, bands: int
) -> DataFrame:
    """Band relation from a PRECOMPUTED signature frame (``__sig``
    column) — the single banding construction shared by
    :func:`minhash_bands` and :func:`minhash_lsh_pairs` (which
    persists its signatures for reuse across join sides)."""
    if num_perm % bands != 0:
        raise ValueError(
            f"num_perm={num_perm} must divide evenly into bands="
            f"{bands} (trailing signature entries would be silently "
            "dropped)"
        )
    rows = num_perm // bands
    return sigs.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.slice("__sig", b * rows + 1, rows)
                        ).alias("bhash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bh"),
    ).select(id_col, "bh.band", "bh.bhash")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Near-dup pairs via MinHash banding + exact-Jaccard verification.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard >=
    threshold, restricted to LSH candidates (same hash in >=1 band).
    """
    # Both sides of the banding self-join (and both shingle re-joins
    # below) consume these subplans; without a materialization barrier
    # Spark evaluates the full shingle/signature pipeline once PER
    # CONSUMER (4 corpus passes, no exchange reuse across the join).
    # Persist = compute once. At cluster scale the equivalent is
    # writing the signature table to storage between stages. The caches
    # are released in the finally below: the (small) pair result is
    # eagerly materialized with localCheckpoint, so nothing downstream
    # re-reads the cached inputs after this function returns.
    sigs = minhash_signature(df, text_col, id_col, num_perm, shingle_n, seed).persist()
    # Banded relation carries ONLY (id, band, bhash) — the shingle
    # arrays would otherwise be shuffled `bands`× per doc; they are
    # re-joined onto the (much smaller) candidate-pair set instead.
    banded = bands_from_signatures(sigs, id_col, num_perm, bands)

    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bhash") == F.col("b.bhash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sh_map = fan_out(df).select(
        F.col(id_col).alias("__sid"),
        F.array_distinct(word_shingles(text_col, shingle_n)).alias("__sh"),
    ).persist()
    try:
        pairs = (
            cand.join(sh_map, cand.id_a == sh_map.__sid)
            .withColumnRenamed("__sh", "sh_a")
            .drop("__sid")
            .join(sh_map, cand.id_b == sh_map.__sid)
            .withColumnRenamed("__sh", "sh_b")
            .drop("__sid")
        )
        # |a∪b| = |a|+|b|−|a∩b| (arrays are distinct) — skips
        # materializing the union array, the costlier half of the
        # verify expression; the double result is bit-identical.
        inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        union = (F.size("sh_a") + F.size("sh_b")).cast("double") - F.col("__i")
        out = (
            pairs.withColumn("__i", inter)
            .withColumn("jaccard", F.col("__i") / union)
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
            .persist()
        )
        # Materialize the (small) pair set into its own cache so the
        # input caches can be released before returning. Cheaper than
        # the r2 eager localCheckpoint (which wrote partitions to local
        # disk and cost ~0.5 s at sf0.1); count() is a cache-filling
        # no-shuffle action.
        out.count()
        return out
    finally:
        sigs.unpersist()
        sh_map.unpersist()


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard (the brute-force oracle path —
    O(n²), use LSH beyond ~10^4 docs)."""
    sh = fan_out(df).select(
        F.col(id_col), F.array_distinct(word_shingles(text_col, shingle_n)).alias("sh")
    )
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(F.array_intersect("a.sh", "b.sh")).cast("double")
    # Size-ratio prefilter: J(A,B) >= t implies t*|B| <= |A| (and vice
    # versa), so the cheap size predicate prunes pairs BEFORE the
    # expensive array intersection without changing the result set.
    sa, sb = F.size("a.sh").cast("double"), F.size("b.sh").cast("double")
    size_compatible = (sa >= threshold * sb) & (sb >= threshold * sa)
    # |a∪b| = |a|+|b|−|a∩b| (arrays are distinct): union via sizes,
    # no union array built; bit-identical double.
    return (
        a.join(b, (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")) & size_compatible)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            inter.alias("__i"),
            F.size("a.sh").alias("__sa"),
            F.size("b.sh").alias("__sb"),
        )
        .withColumn(
            "jaccard",
            F.col("__i")
            / ((F.col("__sa") + F.col("__sb")).cast("double") - F.col("__i")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash64(
    df: DataFrame, text_col: str, id_col: str = "doc_id", out_col: str = "simhash"
) -> DataFrame:
    """64-bit SimHash over word 2-shingles: per-bit majority vote of
    shingle hashes. Returns (id_col, out_col), one row per id.

    Shape: explode shingles → hash once → 64 partial SUM votes →
    group back by id, then pack the sign bits. The votes combine
    map-side (the shuffle carries 64 longs per doc), and everything
    runs in codegen — an array-fold formulation evaluates the vote
    lambda interpreted per shingle×bit, ~an order of magnitude slower.
    """
    exploded = fan_out(df).select(
        F.col(id_col),
        F.explode_outer(
            F.array_distinct(word_shingles(text_col, 2))
        ).alias("__shingle"),
    )
    h = F.xxhash64("__shingle")
    votes = [
        F.sum(
            (F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1).cast("long")
        ).alias(f"__v{j}")
        for j in range(64)
    ]
    voted = exploded.groupBy(id_col).agg(*votes)
    packed = F.lit(0).cast("long")
    for j in range(64):
        bit_j = F.when(F.col(f"__v{j}") > 0, 1).otherwise(0).cast("long")
        packed = packed.bitwiseOR(F.shiftleft(bit_j, j))
    return voted.select(id_col, packed.alias(out_col))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_pairs(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 8
) -> DataFrame:
    """SimHash near-dup pairs with *guaranteed* recall: the 64-bit hash
    is split into ``max_hamming + 1`` chunks, so by pigeonhole any pair
    within ``max_hamming`` differing bits shares at least one identical
    chunk; blocked candidates are then verified on exact hamming
    distance. (The r1 version used 4 fixed 16-bit chunks, which only
    guarantees recall for hamming < 4 — ADVICE r1, medium.)
    """
    if not 0 <= max_hamming <= 31:
        # > 31 would make chunks of <2 bits: blocking degenerates to
        # near-cross-join; use brute-force hamming instead.
        raise ValueError(f"max_hamming must be in [0, 31], got {max_hamming}")
    n_chunks = max_hamming + 1
    base, rem = divmod(64, n_chunks)
    sizes = [base + (1 if i < rem else 0) for i in range(n_chunks)]
    offsets = [sum(sizes[:i]) for i in range(n_chunks)]
    # persist: both sides of the chunk self-join consume the signatures;
    # released in the finally (result is eagerly materialized).
    hs = simhash64(df, text_col, id_col).persist()
    try:
        chunked = hs.select(
            id_col,
            "simhash",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("chunk"),
                            (
                                # a 64-bit chunk (max_hamming=0) is the whole
                                # signature: (1<<64)-1 overflows a long lit,
                                # so group on the raw column instead
                                F.col("simhash")
                                if sizes[c] == 64
                                else F.shiftright("simhash", offsets[c]).bitwiseAND(
                                    F.lit((1 << sizes[c]) - 1)
                                )
                            ).alias("ckey"),
                        )
                        for c in range(n_chunks)
                    ]
                )
            ).alias("ch"),
        ).select(id_col, "simhash", "ch.chunk", "ch.ckey")
        a, b = chunked.alias("a"), chunked.alias("b")
        out = (
            a.join(
                b,
                (F.col("a.chunk") == F.col("b.chunk"))
                & (F.col("a.ckey") == F.col("b.ckey"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
            )
            .filter(F.col("hamming") <= max_hamming)
            .dropDuplicates(["id_a", "id_b"])
            .persist()
        )
        # cache-filling action so hs can be released on return (same
        # barrier pattern as minhash_lsh_pairs; cheaper than an eager
        # localCheckpoint)
        out.count()
        return out
    finally:
        hs.unpersist()


def embedding_neardup_pairs(
    df: DataFrame, vec_col: str, id_col: str, threshold: float
) -> DataFrame:
    """Exact cosine near-dup pairs (brute force — oracle path)."""
    from ..functions.vectors import dot, norm

    v = fan_out(df).select(
        F.col(id_col), F.col(vec_col).alias("v"), norm(F.col(vec_col)).alias("__n")
    )
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            (
                dot(F.col("a.v"), F.col("b.v"))
                / (F.col("a.__n") * F.col("b.__n"))
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    driver_threshold: int = 50_000,
) -> DataFrame:
    """Connected components over a near-dup pair graph → (id, component)
    where ``component`` is the minimum id reachable from ``id``.

    The step that turns pairwise near-dup evidence into an actual
    deduped corpus: every doc in a component maps to one canonical
    survivor. Iterative min-label propagation: each round, every vertex
    takes the min of its own label and its neighbors' labels — one
    hash-shuffle per round, converging in O(max component diameter)
    rounds. Near-dup clusters are dense and shallow (diameter ≤ ~3), so
    this beats the O(log n)-round large-star/small-star alternation in
    practice; for adversarial chain-shaped graphs swap in that
    alternation (same loop skeleton). Lineage is truncated per round
    (localCheckpoint) — an iterative plan would otherwise grow
    exponentially; on a cluster checkpoint to durable storage instead.
    Terminates early when a round changes no label (one count() action
    per round — the driver-side loop is control flow, not data flow).

    Each ROUND propagates TWO hops before the checkpoint/convergence
    check: per-round fixed cost (job scheduling, checkpoint
    materialization, the count action) dominates the tiny shuffles on
    real near-dup graphs, so halving the round count nearly halves
    wall time while computing the identical fixpoint (min-label
    propagation is confluent — hop batching never changes the result,
    only how fast it converges).

    Below ``driver_threshold`` edges the component computation runs as
    union-find on the driver instead (same min-id fixpoint): the edge
    list is the near-dup EVIDENCE — orders of magnitude smaller than
    the corpus — and under the threshold it is a metadata-sized
    collect, where a 5-job iterative loop is pure scheduling overhead.
    Above it (the 100 TB regime: billions of docs can still yield
    millions of dup pairs) the distributed loop runs unchanged. Set
    ``driver_threshold=0`` to force the distributed path.
    """
    # Materialize the caller's pair plan ONCE before the symmetrize
    # union: the union reads `pairs` twice, which would re-execute the
    # (typically expensive — LSH banding, prefix joins) upstream pair
    # pipeline a second time. The pair set itself is the small side,
    # so this checkpoint is cheap and every later round reuses it.
    p = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).localCheckpoint(eager=True)
    edges = (
        p.union(p.select(F.col("dst"), F.col("src")))
        .distinct()
        .localCheckpoint(eager=False)  # the count below materializes it
    )
    n_edges = edges.count()
    if n_edges <= driver_threshold:
        rows = edges.collect()
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        for r in rows:
            a, b = r["src"], r["dst"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN id so the root IS the component label
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        out = [(x, find(x)) for x in parent]
        return pairs.sparkSession.createDataFrame(
            out, schema=edges.select(F.col("src").alias("id")).schema.add(
                "component", edges.schema["src"].dataType
            ),
        )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=False)  # round 1's changed-count materializes it
    )
    for _ in range(max_iter):
        hopped = labels
        for _hop in range(2):
            nbr_min = (
                edges.join(hopped, edges.src == hopped.id)
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("label").alias("nbr_min"))
            )
            hopped = hopped.join(nbr_min, "id", "left").select(
                "id", F.least("label", "nbr_min").alias("label")
            )
        stepped = labels.join(
            hopped.withColumnRenamed("label", "new_label"), "id"
        ).localCheckpoint(eager=False)  # the changed-count materializes it
        changed = stepped.filter(F.col("new_label") < F.col("label")).count()
        labels = stepped.select("id", F.col("new_label").alias("label"))
        if changed == 0:
            break
    return labels.select("id", F.col("label").alias("component"))


def levenshtein_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_dist: int = 2,
) -> DataFrame:
    """Edit-distance near-pairs (typo-level entity dedup, e.g. product
    or supplier names): (id_a, id_b, dist) with dist <= max_dist.

    Length-band prefilter (|len(a) - len(b)| <= max_dist is a necessary
    condition for edit distance <= max_dist) prunes pairs BEFORE the
    O(len²) DP runs; the DP itself uses Spark's thresholded
    levenshtein, which abandons a row as soon as the running minimum
    exceeds ``max_dist`` (band DP, O(len·max_dist)). Still O(n²)
    candidate generation over distinct values — like the brute Jaccard
    twin this is the declared oracle/small-n path; dedupe to distinct
    strings first (typo spaces are tiny relative to corpora) and use
    q-gram/chunk blocking when n_distinct outgrows it.
    """
    base = df.select(
        F.col(id_col), F.col(text_col).alias("__s"), F.length(text_col).alias("__len")
    )
    a, b = base.alias("a"), base.alias("b")
    thresholded = F.levenshtein(F.col("a.__s"), F.col("b.__s"), max_dist)
    return (
        a.join(
            b,
            (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (F.abs(F.col("a.__len") - F.col("b.__len")) <= max_dist),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            thresholded.alias("dist"),
        )
        .filter(F.col("dist") >= 0)
    )


def levenshtein_pairs_blocked(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_dist: int = 2,
) -> DataFrame:
    """Scale path for edit-distance pairs: PassJoin-style chunk
    blocking with GUARANTEED recall.

    Pigeonhole: split a string into ``max_dist + 1`` contiguous chunks;
    any string within edit distance ``max_dist`` contains at least one
    of those chunks verbatim, starting within ``±max_dist`` of its
    original position. So the chunk side emits its d+1 chunks keyed
    (chunk_idx, own_length, chunk); the window side emits, for each
    chunk index and each candidate partner length in ``±max_dist``,
    the substrings at the corresponding start positions ``±max_dist``.
    Candidates join on the exact (idx, length, substring) key — a hash
    shuffle of short tokens, sub-quadratic like the SimHash chunk
    blocking — and survivors are verified with thresholded
    levenshtein. Emission fan-out per row is O(d² · (2d+1)) ≈ tens of
    keys for d=2, independent of corpus size.

    Strings shorter than ``max_dist + 1`` have zero-length chunks; they
    are routed through a tiny brute-force side join instead (both sides
    length ≤ 2·max_dist — a vanishing fraction of any real corpus).

    Result-identical to :func:`levenshtein_pairs` (asserted in tests);
    registered under the same SQL oracle.
    """
    d = max_dist
    n_chunks = d + 1
    base = df.select(
        F.col(id_col), F.col(text_col).alias("__s"), F.length(text_col).alias("__len")
    )
    long_side = base.filter(F.col("__len") > d)
    short_side = base.filter(F.col("__len") <= d)

    def start(i, length):  # 1-based substring start of chunk i for a string of `length`
        return F.floor(F.lit(i) * length / n_chunks).cast("int") + 1

    def clen(i, length):
        return (
            F.floor(F.lit(i + 1) * length / n_chunks)
            - F.floor(F.lit(i) * length / n_chunks)
        ).cast("int")

    L = F.col("__len")
    chunks = long_side.select(
        id_col,
        "__s",
        "__len",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ci"),
                        L.alias("clen_src"),
                        F.substring("__s", start(i, L), clen(i, L)).alias("tok"),
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("c"),
    ).select(id_col, "__s", "__len", "c.ci", "c.clen_src", "c.tok")

    # window side: for each chunk index and candidate partner length
    # (own length ± d), substrings at partner-start ± d
    win_structs = []
    for i in range(n_chunks):
        for dl in range(-d, d + 1):
            plen = L + dl  # candidate partner (chunk-side) length
            for shift in range(-d, d + 1):
                pos = start(i, plen) + shift
                win_structs.append(
                    F.struct(
                        F.lit(i).alias("ci"),
                        plen.cast("int").alias("clen_src"),
                        F.when(
                            (plen > d) & (pos >= 1),
                            F.substring("__s", pos, clen(i, plen)),
                        ).alias("tok"),
                    )
                )
    windows = (
        long_side.select(
            F.col(id_col), "__s", F.explode(F.array(*win_structs)).alias("w")
        )
        .select(id_col, "__s", "w.ci", "w.clen_src", "w.tok")
        .filter(F.col("tok").isNotNull() & (F.length("tok") > 0))
        .dropDuplicates([id_col, "ci", "clen_src", "tok"])
    )

    a, b = chunks.alias("a"), windows.alias("b")
    cand_long = (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.clen_src") == F.col("b.clen_src"))
            & (F.col("a.tok") == F.col("b.tok"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_b"),
            F.least(F.col("a.__s"), F.col("b.__s")).alias("s_a"),
            F.greatest(F.col("a.__s"), F.col("b.__s")).alias("s_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # short strings (len <= d): brute against everything of length <= 2d
    tiny_partners = base.filter(F.col("__len") <= 2 * d)
    sa, sb = short_side.alias("sa"), tiny_partners.alias("sb")
    cand_short = (
        sa.join(sb, F.col(f"sa.{id_col}") != F.col(f"sb.{id_col}"))
        .select(
            F.least(F.col(f"sa.{id_col}"), F.col(f"sb.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"sa.{id_col}"), F.col(f"sb.{id_col}")).alias("id_b"),
            F.least(F.col("sa.__s"), F.col("sb.__s")).alias("s_a"),
            F.greatest(F.col("sa.__s"), F.col("sb.__s")).alias("s_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    cand = cand_long.unionByName(cand_short).dropDuplicates(["id_a", "id_b"])
    dist = F.levenshtein(F.col("s_a"), F.col("s_b"), d)
    return (
        cand.select("id_a", "id_b", dist.alias("dist"))
        .filter(F.col("dist") >= 0)
    )


def incremental_dedup(
    batch: DataFrame,
    corpus_fingerprints: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Incremental exact dedup: keep only batch rows whose normalized
    content fingerprint is NOT already in the historical corpus, after
    within-batch dedup (keep-min-id).

    The growth pattern of a continuously-ingested corpus: the
    historical side is a *fingerprint store* (one md5 per document,
    not the documents), so the anti-join shuffles 16-byte keys — at
    100 TB corpus scale the store is ~0.1% of corpus bytes and the
    new batch is small, making this one cheap shuffle (or a broadcast
    of the batch side). Append the survivors' fingerprints to the
    store to complete the cycle.

    ``corpus_fingerprints`` must carry a ``__fp`` column (build with
    :func:`fingerprint_store`).
    """
    deduped = exact_dedup(batch, text_col=text_col, id_col=id_col)
    fp = deduped.withColumn("__fp", fingerprint_md5(text_col))
    return fp.join(
        corpus_fingerprints.select("__fp"), "__fp", "left_anti"
    ).drop("__fp")


def fingerprint_store(df: DataFrame, text_col: str) -> DataFrame:
    """Distinct normalized-content fingerprints of a corpus — the
    compact historical state `incremental_dedup` joins against."""
    return df.select(fingerprint_md5(text_col).alias("__fp")).distinct()


def prefix_candidates(
    sh: DataFrame, threshold: float, positional: bool = True, accumulate: bool = False
) -> DataFrame:
    """PPJoin candidate generation over a (did, sh, sz) shingle-set
    relation: (id_a, id_b) pairs sharing ≥1 prefix shingle under the
    rarest-first global order, size-ratio pruned, (by default)
    positional-filter pruned per match row, and (opt-in, see below)
    accumulated-overlap pruned per pair. Exposed separately so tests
    (and capacity planning) can measure the candidate count against
    the n·(n−1)/2 all-pairs space and the weaker filter tiers.

    All threshold arithmetic is EXACT: the threshold is snapped to
    micro-units (t = tm/1e6, the repo convention) and every bound is
    an integer expression — a float ``ceil(t·sz)`` can land one above
    the true bound when the double product grazes an integer (e.g.
    t=0.07, sz=100), silently shortening the prefix below the
    no-lost-pairs length. The α comparison is the multiplied-out form
    ``bound·(1e6+tm) ≥ tm·(|a|+|b|)`` (⟺ bound ≥ ⌈tm·(|a|+|b|)/
    (1e6+tm)⌉), so no division appears anywhere.

    Positional filter (Xiao et al. 2008, public paper): a qualifying
    pair needs overlap ≥ α = ⌈t·(|a|+|b|)/(1+t)⌉. For a prefix match
    at 1-based global-order positions (i, j), every further common
    shingle sits strictly after i in a AND after j in b (both docs
    rank by the same global order), so overlap ≤ 1 + min(|a|−i,
    |b|−j). Rows whose bound can't reach α are pruned; a qualifying
    pair always survives via its FIRST common shingle, whose
    positions give the loosest bound — so the filter is lossless.

    Accumulated-overlap bound (PPJoin's pair-level tightening; the
    relational stand-in for ppjoin+'s suffix probe — OPT-IN): a pair
    may match on SEVERAL prefix shingles. Both docs list their common
    shingles in the same global order, so the matches align, and at
    the LAST match (i*, j*) every common shingle NOT already matched
    ranks strictly after i* in a and after j* in b — any common g with
    rank_a(g) < i* must, by order alignment, also satisfy rank_b(g) <
    j* ≤ prefix_len(b), i.e. it IS one of the counted matches. Hence
    overlap ≤ matches + min(|a|−i*, |b|−j*): a per-pair bound computed
    with a groupBy in place of the dedup DISTINCT (same shuffle), and
    lossless by the same upper-bound argument.

    Why accumulate is NOT the default: the bound needs EVERY match row
    (pov and the true last positions), so it must run on the join
    WITHOUT the per-row positional filter — and combining the two is
    provably useless: every row the positional filter keeps satisfies
    1 + min(|a|−i, |b|−j) ≥ α, so pov + min(|a|−i*, |b|−j*) ≥
    pov + α − 1 ≥ α always — accumulation over filtered rows can never
    prune a pair. In the relational formulation the positional filter
    prunes BEFORE the exchange (rows never shuffle), while
    accumulation prunes AFTER an unfiltered exchange; measured at
    sf0.1 the unfiltered prefix join costs ~15× the filtered one, so
    accumulation only pays when downstream verification (the full
    shingle re-join) dominates candidate generation — e.g. very long
    documents where each candidate pair drags megabyte shingle sets
    through the verify join. (ppjoin's sequential index scan gets both
    for free; a distributed join must choose.)
    """
    tm = int(round(threshold * 1_000_000))
    flat = sh.select("did", "sz", F.explode("sh").alias("g"))
    # Global order: rarest shingle first (ties by text). The ORDER is
    # all that matters, so each doc ranks its shingles by the (df, g)
    # tuple directly — materializing global positions would need a
    # vocabulary-wide single-partition row_number (the classic
    # no-partition-window scale hole; it also measured 2× slower here).
    freq = flat.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    prefix = _ppjoin_prefix(flat, freq, tm)
    pa, pb = prefix.alias("pa"), prefix.alias("pb")
    # Accumulation needs the UNFILTERED match rows (see docstring);
    # otherwise the per-row positional filter prunes pre-shuffle.
    cond = (F.col("pa.did") < F.col("pb.did")) & _ppjoin_cond(
        tm, positional and not accumulate
    )
    matched = pa.join(pb, cond)
    if not accumulate:
        return (
            matched.select(
                F.col("pa.did").alias("id_a"), F.col("pb.did").alias("id_b")
            ).distinct()
        )
    return _ppjoin_accumulate(matched, tm)


def _ppjoin_prefix(flat: DataFrame, freq: DataFrame, tm: int) -> DataFrame:
    """(did, sz, rk, g) prefix relation: each doc's first
    (sz − ⌈t·sz⌉ + 1) shingles under the global (df, g) order.
    ⌈t·sz⌉ = (sz·tm + 999999) div 1e6 — exact integer ceiling."""
    ranked = flat.join(freq, "g")
    w_doc = Window.partitionBy("did").orderBy("df", "g")
    ceil_t_sz = F.expr(f"(sz * {tm}L + 999999L) div 1000000L")
    prefix_len = (F.col("sz") - ceil_t_sz + F.lit(1)).cast("int")
    return (
        ranked.withColumn("rk", F.row_number().over(w_doc))
        .filter(F.col("rk") <= prefix_len)
        .select("did", "sz", "rk", "g")
    )


def _ppjoin_cond(tm: int, positional: bool):
    """Shared PPJoin join condition over pa/pb prefix aliases: shingle
    equality, exact size-ratio pruning (|a| ≥ t·|b| ⟺ 1e6·|a| ≥
    tm·|b|), and optionally the positional filter. The α test is the
    multiplied-out integer form ``ubound·(1e6+tm) ≥ tm·(sa+sb)``
    (⟺ ubound ≥ ⌈tm·(sa+sb)/(1e6+tm)⌉) — no float division whose
    rounding could graze an integer boundary."""
    sa, sb = F.col("pa.sz").cast("long"), F.col("pb.sz").cast("long")
    cond = (
        (F.col("pa.g") == F.col("pb.g"))
        & (sa * 1_000_000 >= F.lit(tm) * sb)
        & (sb * 1_000_000 >= F.lit(tm) * sa)
    )
    if positional:
        ubound = F.lit(1) + F.least(
            sa - F.col("pa.rk").cast("long"), sb - F.col("pb.rk").cast("long")
        )
        cond = cond & (ubound * F.lit(1_000_000 + tm) >= F.lit(tm) * (sa + sb))
    return cond


def _ppjoin_accumulate(matched: DataFrame, tm: int) -> DataFrame:
    """Pair-level accumulated-overlap pruning over the raw prefix-join
    match rows (one row per common prefix shingle): replaces the dedup
    DISTINCT with a same-shuffle groupBy that counts the matches and
    tracks the LAST matched 1-based positions, then keeps only pairs
    whose bound ``matches + min(|a|−i*, |b|−j*)`` can still reach α
    (integer multiplied-out test — see prefix_candidates docstring for
    the lossless argument)."""
    agg = (
        matched.select(
            F.col("pa.did").alias("id_a"),
            F.col("pb.did").alias("id_b"),
            F.col("pa.sz").cast("long").alias("sa"),
            F.col("pb.sz").cast("long").alias("sb"),
            F.col("pa.rk").cast("long").alias("rk_a"),
            F.col("pb.rk").cast("long").alias("rk_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("pov"),
            F.max("rk_a").alias("mi"),
            F.max("rk_b").alias("mj"),
            F.first("sa").alias("sa"),
            F.first("sb").alias("sb"),
        )
    )
    bound = F.col("pov") + F.least(
        F.col("sa") - F.col("mi"), F.col("sb") - F.col("mj")
    )
    reach = bound * F.lit(1_000_000 + tm) >= F.lit(tm) * (F.col("sa") + F.col("sb"))
    return agg.filter(reach).select("id_a", "id_b")


def jaccard_prefix_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via PPJoin-style PREFIX FILTERING
    (Chaudhuri et al. 2006 / Xiao et al. 2008, public papers) —
    result-identical to :func:`ngram_jaccard_pairs`, sub-quadratic
    candidate generation.

    Under a single global shingle order (ascending document frequency,
    ties by shingle text — rarest first), a document's *prefix* is its
    first ``|s| − ⌈t·|s|⌉ + 1`` ordered shingles. Any pair with
    J ≥ t has ``|a∩b| ≥ ⌈t·max(|a|,|b|)⌉`` (since ``|a∪b| ≥ max``), so
    at least one common shingle must fall inside BOTH prefixes —
    blocking on prefix-shingle equality therefore loses no qualifying
    pair, and candidates are verified with the exact intersection.

    Scale shape vs the brute path: the self-join touches only the
    prefix relation (≈ (1−t)·shingle volume), keyed on rare-first
    shingles — candidate counts collapse because frequent shingles
    rarely appear in prefixes. Shuffles: one vocabulary-sized count,
    one prefix-relation join, one id-keyed shingle re-join for
    verification. The verification joins carry shingle sets only for
    candidate pairs, not all pairs.
    """
    sh = fan_out(df).select(
        F.col(id_col).alias("did"),
        F.array_distinct(word_shingles(text_col, shingle_n)).alias("sh"),
    )
    sh = sh.withColumn("sz", F.size("sh")).persist()
    try:
        cands = prefix_candidates(sh, threshold)
        a = sh.select(F.col("did").alias("id_a"), F.col("sh").alias("sh_a"))
        b = sh.select(F.col("did").alias("id_b"), F.col("sh").alias("sh_b"))
        # |a∪b| = |a|+|b|−|a∩b| (arrays are distinct) — no union array
        # is built; the double jaccard is bit-identical.
        inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        out = (
            cands.join(a, "id_a")
            .join(b, "id_b")
            .select("id_a", "id_b", inter.alias("__i"),
                    F.size("sh_a").alias("__sa"), F.size("sh_b").alias("__sb"))
            .withColumn(
                "jaccard",
                F.col("__i")
                / ((F.col("__sa") + F.col("__sb")).cast("double") - F.col("__i")),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
            .persist()
        )
        # Materialize the (small) pair set into its own cache so the
        # shingle cache can be released before returning (same pattern
        # as minhash_lsh_pairs) — no cache lives past this call.
        out.count()
        return out
    finally:
        sh.unpersist()


def jaccard_prefix_pairs_cross(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental EXACT near-dup: all (batch_id, corpus_id) pairs with
    n-gram Jaccard ≥ threshold between a new batch and the historical
    corpus — the continuous-ingest twin of :func:`jaccard_prefix_pairs`
    (R-S PPJoin instead of self-join), and the exact counterpart of
    the probabilistic LSH store (`incremental_dedup` covers exact
    fingerprints; this covers NEAR duplicates with no recall loss).

    The global rarest-first order comes from the COMBINED document
    frequency of both sides — both relations must rank shingles
    identically or the prefix/positional bounds break. Prefix lengths,
    size-ratio and positional filters are the self-join ones
    (lossless; see prefix_candidates). At 100 TB the corpus-side
    prefix relation is the big operand; it shuffles once on the
    prefix shingle key, and only candidate pairs re-join their full
    shingle sets for exact verification. Ids may overlap between the
    relations; self-pairs (same id both sides) are excluded.

    Returns (id_a = batch id, id_b = corpus id, jaccard).
    """
    tm = int(round(threshold * 1_000_000))

    def _sh(df: DataFrame) -> DataFrame:
        return (
            fan_out(df)
            .select(
                F.col(id_col).alias("did"),
                F.array_distinct(word_shingles(text_col, shingle_n)).alias("sh"),
            )
            .withColumn("sz", F.size("sh"))
        )

    sh_b = _sh(batch).persist()
    sh_c = _sh(corpus).persist()
    try:
        flat_b = sh_b.select("did", "sz", F.explode("sh").alias("g"))
        flat_c = sh_c.select("did", "sz", F.explode("sh").alias("g"))
        freq = (
            flat_b.select("g")
            .unionByName(flat_c.select("g"))
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("df"))
        )
        pa = _ppjoin_prefix(flat_b, freq, tm).alias("pa")
        pb = _ppjoin_prefix(flat_c, freq, tm).alias("pb")
        cond = (F.col("pa.did") != F.col("pb.did")) & _ppjoin_cond(
            tm, positional=True
        )
        cands = (
            pa.join(pb, cond)
            .select(F.col("pa.did").alias("id_a"), F.col("pb.did").alias("id_b"))
            .distinct()
        )
        a = sh_b.select(F.col("did").alias("id_a"), F.col("sh").alias("sh_a"))
        b = sh_c.select(F.col("did").alias("id_b"), F.col("sh").alias("sh_b"))
        inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        out = (
            cands.join(a, "id_a")
            .join(b, "id_b")
            .select("id_a", "id_b", inter.alias("__i"),
                    F.size("sh_a").alias("__sa"), F.size("sh_b").alias("__sb"))
            .withColumn(
                "jaccard",
                F.col("__i")
                / ((F.col("__sa") + F.col("__sb")).cast("double") - F.col("__i")),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
            .persist()
        )
        out.count()
        return out
    finally:
        sh_b.unpersist()
        sh_c.unpersist()


def jaccard_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact ASYMMETRIC containment join: all ordered pairs (a, b),
    a ≠ b, with C(a→b) = |A∩B| / |A| ≥ threshold over n-gram shingle
    sets — "a is mostly contained in b". The asymmetric twin of
    :func:`jaccard_prefix_pairs`: Jaccard misses a short quote buried
    in a long document (the union is huge), containment is exactly the
    quote/subset/boilerplate-extraction detector a training-data
    pipeline needs (SSJoin-style set joins with containment
    predicates, Chaudhuri et al. 2006 — public paper).

    Prefix filtering is one-sided here: C ≥ t bounds the overlap by
    ⌈t·|A|⌉ against |A| only, so A keeps its rare-first prefix
    (|A| − ⌈t·|A|⌉ + 1 shingles) but must probe B's FULL shingle
    relation — there is no order constraint on B. Lossless by the
    usual pigeonhole: if no common shingle fell in A's prefix, the
    overlap would fit in A's suffix (⌈t·|A|⌉ − 1 shingles) and miss
    the bound. Two prunes still apply pre-shuffle: size
    (|B| ≥ overlap ≥ ⌈t·|A|⌉ ⟹ 1e6·|B| ≥ tm·|A|) and positional
    (at A-prefix rank i, overlap ≤ 1 + |A| − i, so
    (1 + |A| − i)·1e6 ≥ tm·|A|). All threshold tests are integer
    micro-arithmetic; the final verify is the exact intersection over
    candidate pairs only. Zero-shingle docs are excluded (containment
    undefined).

    Scale shape: the join is A-prefix (≈(1−t)·volume, rare-first keys)
    against the flat shingle relation — the relational form of
    probe-prefix-vs-indexed-set. Shuffles: one vocabulary count, one
    prefix×flat join, one id-keyed re-join to verify candidates.
    """
    tm = int(round(threshold * 1_000_000))
    sh = (
        fan_out(df)
        .select(
            F.col(id_col).alias("did"),
            F.array_distinct(word_shingles(text_col, shingle_n)).alias("sh"),
        )
        .withColumn("sz", F.size("sh"))
        .filter(F.col("sz") > 0)
        .persist()
    )
    try:
        flat = sh.select("did", "sz", F.explode("sh").alias("g"))
        freq = flat.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
        pa = _ppjoin_prefix(flat, freq, tm).alias("pa")
        fb = flat.alias("fb")
        sa = F.col("pa.sz").cast("long")
        sb = F.col("fb.sz").cast("long")
        cond = (
            (F.col("pa.g") == F.col("fb.g"))
            & (F.col("pa.did") != F.col("fb.did"))
            & (sb * 1_000_000 >= F.lit(tm) * sa)
            & (
                (F.lit(1) + sa - F.col("pa.rk").cast("long")) * 1_000_000
                >= F.lit(tm) * sa
            )
        )
        cands = (
            pa.join(fb, cond)
            .select(F.col("pa.did").alias("id_a"), F.col("fb.did").alias("id_b"))
            .distinct()
        )
        a = sh.select(F.col("did").alias("id_a"), F.col("sh").alias("sh_a"))
        b = sh.select(F.col("did").alias("id_b"), F.col("sh").alias("sh_b"))
        inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
        out = (
            cands.join(a, "id_a")
            .join(b, "id_b")
            .select(
                "id_a",
                "id_b",
                inter.alias("__i"),
                F.size("sh_a").cast("long").alias("__sa"),
            )
            # integer threshold test; the double is output-only
            .filter(F.col("__i") * 1_000_000 >= F.lit(tm) * F.col("__sa"))
            .select(
                "id_a",
                "id_b",
                (F.col("__i").cast("double") / F.col("__sa").cast("double")).alias(
                    "containment"
                ),
            )
            .persist()
        )
        out.count()
        return out
    finally:
        sh.unpersist()


def jaccard_containment_pairs_cross(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Incremental EXACT containment: all (batch_id, corpus_id) pairs
    with C(batch→corpus) = |A∩B|/|A| ≥ threshold — the ingest-time
    "is this new document mostly a copy of something already in the
    corpus" gate, R-S twin of :func:`jaccard_containment_pairs` the
    way :func:`jaccard_prefix_pairs_cross` is of the symmetric join.

    Only the BATCH side carries a prefix (the threshold bounds overlap
    against |A| alone); the corpus side is probed as the full flat
    shingle relation. Shingle rarity ranks come from the COMBINED
    document frequency so batch prefixes prefer shingles rare in the
    whole collection, not just the batch. Same integer size
    (1e6·|B| ≥ tm·|A|) and batch-positional prunes as the self-join;
    exact intersect verification over candidates only.

    Scale shape: per batch, the corpus contributes one flat relation
    (re-usable at rest keyed by shingle) and the join touches
    batch-prefix × matching shingles — corpus text never re-shuffles
    per batch.
    """
    tm = int(round(threshold * 1_000_000))

    def _sh(df: DataFrame) -> DataFrame:
        return (
            fan_out(df)
            .select(
                F.col(id_col).alias("did"),
                F.array_distinct(word_shingles(text_col, shingle_n)).alias("sh"),
            )
            .withColumn("sz", F.size("sh"))
            .filter(F.col("sz") > 0)
        )

    sh_b = _sh(batch).persist()
    sh_c = _sh(corpus).persist()
    try:
        flat_b = sh_b.select("did", "sz", F.explode("sh").alias("g"))
        flat_c = sh_c.select("did", "sz", F.explode("sh").alias("g"))
        freq = (
            flat_b.select("g")
            .unionByName(flat_c.select("g"))
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("df"))
        )
        pa = _ppjoin_prefix(flat_b, freq, tm).alias("pa")
        fb = flat_c.alias("fb")
        sa = F.col("pa.sz").cast("long")
        sb = F.col("fb.sz").cast("long")
        cond = (
            (F.col("pa.g") == F.col("fb.g"))
            & (sb * 1_000_000 >= F.lit(tm) * sa)
            & (
                (F.lit(1) + sa - F.col("pa.rk").cast("long")) * 1_000_000
                >= F.lit(tm) * sa
            )
        )
        cands = (
            pa.join(fb, cond)
            .select(F.col("pa.did").alias("id_a"), F.col("fb.did").alias("id_b"))
            .distinct()
        )
        a = sh_b.select(F.col("did").alias("id_a"), F.col("sh").alias("sh_a"))
        b = sh_c.select(F.col("did").alias("id_b"), F.col("sh").alias("sh_b"))
        inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
        out = (
            cands.join(a, "id_a")
            .join(b, "id_b")
            .select(
                "id_a",
                "id_b",
                inter.alias("__i"),
                F.size("sh_a").cast("long").alias("__sa"),
            )
            .filter(F.col("__i") * 1_000_000 >= F.lit(tm) * F.col("__sa"))
            .select(
                "id_a",
                "id_b",
                (F.col("__i").cast("double") / F.col("__sa").cast("double")).alias(
                    "containment"
                ),
            )
            .persist()
        )
        out.count()
        return out
    finally:
        sh_b.unpersist()
        sh_c.unpersist()


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken
    2003, the MOSS algorithm — public paper): hash every word
    ``k``-gram, slide a window of ``w`` consecutive hashes, and select
    the minimum hash per window (leftmost on ties). Guarantee: any
    shared run of ≥ w+k−1 words between two documents yields at least
    one IDENTICAL selected fingerprint — detection without comparing
    full shingle sets, at a density of ~2/(w+1) fingerprints per gram.

    Distinct from :func:`content_fingerprint`-style whole-doc hashes
    and the rolling per-position hashes (`text_rolling_fingerprint`):
    winnowing's *position-robust subselection* is what bounds the
    index size while keeping the match guarantee.

    Determinism/portability: the gram hash is the first 8 hex chars of
    md5 (available verbatim in the DuckDB oracle — no engine-native
    hash), tie-broken by zero-padded 1-based gram position so the
    window minimum is a total order. Docs shorter than ``w`` grams
    (but with ≥1 gram) emit the single minimum over what they have.

    Scale shape: tokenize→gram→hash is map-only codegen; the window
    min is a per-doc window (partitioned by id — no global window);
    the result is the DISTINCT (id, fingerprint) relation, the at-rest
    index a 100 TB corpus would bucket by fingerprint.
    """
    grams = (
        fan_out(df)
        .select(
            F.col(id_col).alias("did"),
            F.posexplode(word_shingles(text_col, k)).alias("p0", "g"),
        )
        .select(
            "did",
            (F.col("p0") + 1).alias("p"),
            # 12-digit pad: lpad TRUNCATES beyond its width, which
            # would corrupt the tie-break ordering past 10^12 grams —
            # no single document gets there
            F.concat(
                F.substring(F.md5("g"), 1, 8),
                F.lit("|"),
                F.lpad((F.col("p0") + 1).cast("string"), 12, "0"),
            ).alias("hp"),
        )
    )
    win = Window.partitionBy("did").orderBy("p").rowsBetween(0, w - 1)
    cnt = Window.partitionBy("did")
    fps = (
        grams.withColumn("__n", F.count(F.lit(1)).over(cnt))
        .withColumn("__m", F.min("hp").over(win))
        .filter(
            (F.col("p") <= F.col("__n") - w + 1)
            | ((F.col("p") == 1) & (F.col("__n") < w))
        )
        # the position suffix exists only to make the window min a
        # total order (leftmost tie-break); the FINGERPRINT is the
        # hash alone — matching must be position-independent or the
        # w+k−1 shared-run guarantee breaks across documents
        .select("did", F.substring("__m", 1, 8).alias("fingerprint"))
        .distinct()
    )
    return fps


def winnow_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
) -> DataFrame:
    """Candidate near-dup/plagiarism pairs by shared winnowed
    fingerprints: (id_a, id_b, shared) with id_a < id_b and ≥
    ``min_shared`` common fingerprints — MOSS's match step as a
    fingerprint-keyed self-join. Only the winnowed subselection
    shuffles (≈2/(w+1) of the gram volume), and only colliding
    fingerprints join; hot fingerprints (shared boilerplate) are the
    skew to watch — cap with a df filter upstream if a corpus has
    them."""
    fps = winnow_fingerprints(df, text_col, id_col, k=k, w=w)
    a = fps.select(F.col("did").alias("id_a"), "fingerprint")
    b = fps.select(F.col("did").alias("id_b"), "fingerprint")
    return (
        a.join(b, "fingerprint")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def tf_cosine_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    max_df: int | None = None,
    shingle_n: int | None = None,
) -> DataFrame:
    """Sparse bag-of-words cosine pairs via inverted-index join — the
    SPARSE complement of the dense-embedding near-dup path. Documents
    meet only through shared tokens (posting-list self-join), so the
    pair space is Σ_token df(token)² instead of n², and every
    arithmetic step is engine-exact: tf dot products are BIGINT sums,
    norms are correctly-rounded sqrt of BIGINTs, so the cosine is
    bit-identical on any engine (no log-idf — logs differ in the last
    ulp across math libraries and would break the differential gate;
    the idf-style damping lever here is ``max_df``).

    The pair fan-out is Σ df(term)², so TERM CHOICE is the scale
    lever: ``shingle_n`` switches terms from unigrams to n-gram
    shingles (orders-of-magnitude larger vocabulary → shorter posting
    lists — mandatory on low-diversity corpora, where every unigram
    is effectively a stop word), and ``max_df`` drops terms appearing
    in more than that many docs (the classic stop-term cap). The
    threshold compare uses the same double literal on both engines
    over bit-identical cosines.

    Returns (id_a, id_b, cos_sim), id_a < id_b, cos_sim ≥ threshold.
    """
    term = (
        F.explode(word_shingles(text_col, shingle_n))
        if shingle_n
        else F.explode(tokens(text_col))
    )
    tok = (
        fan_out(df)
        .select(F.col(id_col).alias("did"), term.alias("t"))
        .filter(F.col("t") != "")
        .groupBy("did", "t")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    if max_df is not None:
        dfreq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
        tok = tok.join(dfreq.filter(F.col("df") <= max_df).select("t"), "t")
    tok = tok.persist()
    try:
        norm = tok.groupBy("did").agg(
            F.sum(F.col("tf") * F.col("tf")).alias("n2")
        )
        a, b = tok.alias("a"), tok.alias("b")
        dots = (
            a.join(
                b,
                (F.col("a.t") == F.col("b.t"))
                & (F.col("a.did") < F.col("b.did")),
            )
            .groupBy(
                F.col("a.did").alias("id_a"), F.col("b.did").alias("id_b")
            )
            .agg(F.sum(F.col("a.tf") * F.col("b.tf")).alias("dot"))
        )
        na = norm.select(F.col("did").alias("id_a"), F.col("n2").alias("n2_a"))
        nb = norm.select(F.col("did").alias("id_b"), F.col("n2").alias("n2_b"))
        out = (
            dots.join(na, "id_a")
            .join(nb, "id_b")
            .select(
                "id_a",
                "id_b",
                (
                    F.col("dot").cast("double")
                    / (
                        F.sqrt(F.col("n2_a").cast("double"))
                        * F.sqrt(F.col("n2_b").cast("double"))
                    )
                ).alias("cos_sim"),
            )
            .filter(F.col("cos_sim") >= F.lit(threshold))
            .persist()
        )
        out.count()
        return out
    finally:
        tok.unpersist()


def remove_repeated_passages(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
) -> DataFrame:
    """Sub-document dedup REMOVAL (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — public paper): drop
    every token covered by a verbatim ``n``-gram that also appears in
    another document, and reassemble the surviving text.

    Detection (`repeated_passages_docs`) produces the worklist; this
    is the rewrite. Pipeline: positional n-grams → cross-doc repeated
    grams (one groupBy) → each repeated occurrence expands to its n
    covered token indices (bounded n× fan-out of the *repeated subset
    only*, not the corpus) → distinct covered set → anti-join against
    token positions → order-preserving reassembly. Every step is a
    plain shuffle op; cost is O(corpus n-grams) + O(repeated spans·n).

    Output: (id, n_tokens_before, n_removed, clean_text) with token
    order preserved.
    """
    ftoks = F.filter(tokens(text_col), lambda x: x != "")
    toks = df.select(
        F.col(id_col), F.posexplode(ftoks).alias("pos", "w")
    )
    grams = fan_out(df).select(
        F.col(id_col),
        F.posexplode(shingles_from_tokens(ftoks, n)).alias("gpos", "gram"),
    )
    repeated = (
        grams.groupBy("gram")
        .agg(F.countDistinct(id_col).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
        .select("gram")
    )
    covered = (
        grams.join(repeated, "gram")
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.col("gpos"), F.col("gpos") + F.lit(n - 1))).alias(
                "pos"
            ),
        )
        .distinct()
    )
    kept = toks.join(covered, [id_col, "pos"], "left_anti")
    removed_counts = (
        covered.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_removed"))
    )
    before = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_tokens_before"))
    clean = (
        kept.groupBy(id_col)
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "w"))).alias("parts")
        )
        .select(
            F.col(id_col),
            F.concat_ws(
                " ", F.transform(F.col("parts"), lambda s: s["w"])
            ).alias("clean_text"),
        )
    )
    return (
        before.join(removed_counts, id_col, "left")
        .join(clean, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_tokens_before"),
            F.coalesce(F.col("n_removed"), F.lit(0)).cast("bigint").alias("n_removed"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


def _substring_covered(
    df: DataFrame, text_col: str, id_col: str, min_len: int
) -> DataFrame:
    """(id, pos) token positions covered by SOME repeated substring of
    length >= ``min_len`` tokens. Exactness rests on a suffix-array
    equivalence: a span of length m >= k repeats verbatim iff each of
    its length-k windows repeats (any repeated span contains a
    repeated k-gram through every one of its positions, and a
    repeated k-gram IS a length-k repeated span) — so the suffix-sort
    + LCP-extension of Lee et al. reduces, for coverage purposes, to
    counting positional k-gram occurrences. Occurrences are counted
    over ALL (doc, pos) sites, so within-document repetition counts
    (unlike the cross-doc-only passage detector)."""
    # grams and token positions must index the SAME sequence: build
    # both from the whitespace-FILTERED token array (a doc with
    # leading/trailing whitespace otherwise contributes empty edge
    # tokens to the grams but not to the position relation —
    # code-review r7 finding; the DuckDB oracles filter too)
    ftoks = F.filter(tokens(text_col), lambda x: x != "")
    grams = fan_out(df).select(
        F.col(id_col),
        F.posexplode(shingles_from_tokens(ftoks, min_len)).alias(
            "gpos", "gram"
        ),
    )
    repeated = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") >= 2)
        .select("gram")
    )
    return (
        grams.join(repeated, "gram")
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("gpos"), F.col("gpos") + F.lit(min_len - 1))
            ).alias("pos"),
        )
        .distinct()
    )


def exact_substring_dedup(
    df: DataFrame, text_col: str, id_col: str, min_len: int = 20
) -> DataFrame:
    """Exact substring REMOVAL (Lee et al. 2021 ExactSubstr): drop
    every token covered by a verbatim repeated substring of
    >= ``min_len`` tokens (all copies removed, matching
    ``remove_repeated_passages``'s declared simplification of the
    paper's keep-one policy) and reassemble survivors in order.
    Output: (id, n_tokens_before, n_removed, clean_text).

    Completes the sub-document dedup family: fixed-block passage
    dedup (``operators/passages.py``), cross-doc 8-gram span removal
    (``remove_repeated_passages``), and now length-thresholded exact
    repeats including within-document ones."""
    toks = df.select(
        F.col(id_col),
        F.posexplode(
            F.filter(tokens(text_col), lambda x: x != "")
        ).alias("pos", "w"),
    )
    covered = _substring_covered(df, text_col, id_col, min_len)
    kept = toks.join(covered, [id_col, "pos"], "left_anti")
    removed_counts = covered.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_removed")
    )
    before = toks.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens_before")
    )
    clean = (
        kept.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "w"))).alias("parts"))
        .select(
            F.col(id_col),
            F.concat_ws(
                " ", F.transform(F.col("parts"), lambda s: s["w"])
            ).alias("clean_text"),
        )
    )
    # anchor on ALL documents, not the token relation — a doc with no
    # non-empty tokens (empty / whitespace-only text) must still emit
    # its (id, 0, 0, "") row, matching the SQL oracle's FROM documents
    # (code-review r7 finding)
    return (
        df.select(F.col(id_col))
        .join(before, id_col, "left")
        .join(removed_counts, id_col, "left")
        .join(clean, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_tokens_before"), F.lit(0))
            .cast("bigint")
            .alias("n_tokens_before"),
            F.coalesce(F.col("n_removed"), F.lit(0))
            .cast("bigint")
            .alias("n_removed"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )
