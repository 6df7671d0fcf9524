"""Unit tests: keyword-search operators (inverted index, BM25, phrase
match) and graph operators (fixed-point PageRank)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from lakehouse_poc_spark.operators.graph import SCALE, pagerank_int
from lakehouse_poc_spark.operators.search import (
    bm25_topk,
    inverted_index,
    phrase_match,
    term_counts,
)


def _docs(spark):
    rows = [
        (0, "the cat sat on the mat"),
        (1, "the dog sat"),
        (2, "cat cat cat"),
        (3, "a completely different document entirely"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_term_counts(spark):
    tc = {
        (r["doc_id"], r["token"]): r["tf"]
        for r in term_counts(_docs(spark)).collect()
    }
    assert tc[(0, "the")] == 2
    assert tc[(2, "cat")] == 3
    assert (1, "cat") not in tc


def test_inverted_index_postings_sorted_and_capped(spark):
    idx = {r["token"]: r for r in inverted_index(_docs(spark)).collect()}
    assert idx["cat"]["postings"] == [0, 2]
    assert idx["cat"]["doc_freq"] == 2
    assert idx["cat"]["total_tf"] == 4
    assert idx["sat"]["postings"] == [0, 1]
    capped = {
        r["token"]: r["postings"]
        for r in inverted_index(_docs(spark), max_postings=1).collect()
    }
    assert capped["cat"] == [0]


def test_bm25_ranks_rare_term_matches_higher(spark):
    # "mat" appears only in doc 0; "sat" in two docs. A doc matching
    # the rare term should outrank one matching only the common term.
    out = bm25_topk(_docs(spark), ["mat", "sat"], k=10).collect()
    by_doc = {r["doc_id"]: r for r in out}
    assert by_doc[0]["n_terms_hit"] == 2
    assert by_doc[0]["rank"] == 1
    assert by_doc[1]["n_terms_hit"] == 1
    assert 3 not in by_doc  # no query term → not retrieved
    # ranks are dense 1..n and scores non-increasing
    ranks = [r["rank"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranks == list(range(1, len(out) + 1))
    scores = [r["score"] for r in sorted(out, key=lambda r: r["rank"])]
    assert scores == sorted(scores, reverse=True)


def test_bm25_matches_reference_formula(spark):
    # Hand-computed BM25 for doc 2 / term "cat": N=4, df=2, tf=3, dl=3,
    # avgdl = 17/4 (6+3+3+5 tokens), k1=1.2, b=0.75.
    out = {r["doc_id"]: r for r in bm25_topk(_docs(spark), ["cat"], k=10).collect()}
    idf = math.log(1.0 + (4 - 2 + 0.5) / (2 + 0.5))
    dl_norm = 0.25 + 0.75 * 3 / (17 / 4)
    expected = idf * 3 * 2.2 / (3 + 1.2 * dl_norm)
    assert abs(out[2]["score"] - expected) < 1e-5


def test_phrase_match_positions_and_counts(spark):
    out = {r["doc_id"]: r for r in phrase_match(_docs(spark), "cat").collect()}
    assert out[0]["first_pos"] == 5  # "the cat..." — 1-based instr
    assert out[2]["n_occurrences"] == 3
    assert 1 not in out


def _edges(spark, rows):
    return spark.createDataFrame(rows, ["src", "dst", "w"])


def test_pagerank_uniform_on_symmetric_cycle(spark):
    # 3-cycle: symmetric → uniform ranks, and total mass ≈ SCALE.
    e = _edges(spark, [("a", "b", 1), ("b", "c", 1), ("c", "a", 1)])
    out = {r["node"]: r for r in pagerank_int(e, weight="w", iterations=5).collect()}
    vals = {r["rank_scaled"] for r in out.values()}
    assert len(vals) == 1  # exactly equal by symmetry (integer math)
    total = sum(r["rank_scaled"] for r in out.values())
    assert abs(total - SCALE) <= 3 * 5  # floor-div loss ≤ nodes·iters


def test_pagerank_sink_attracts_mass(spark):
    # a→c, b→c: c must outrank a and b. The a↔c 2-cycle makes finite
    # iteration counts oscillate around the fixed point, so run enough
    # iterations (damping^2 decay per round trip) to settle ordering.
    e = _edges(spark, [("a", "c", 1), ("b", "c", 1), ("c", "a", 1)])
    out = {
        r["node"]: r["rank_scaled"]
        for r in pagerank_int(e, weight="w", iterations=40).collect()
    }
    assert out["c"] > out["a"]
    assert out["c"] > out["b"]
    assert out["a"] > out["b"]


def test_pagerank_weights_matter(spark):
    # a sends 9/10 of its mass to b, 1/10 to c → b outranks c.
    e = _edges(
        spark,
        [("a", "b", 9), ("a", "c", 1), ("b", "a", 1), ("c", "a", 1)],
    )
    out = {r["node"]: r["rank_scaled"] for r in pagerank_int(e, weight="w").collect()}
    assert out["b"] > out["c"]


def test_query_registration():
    from lakehouse_poc_spark import plans

    for name in (
        "inverted_index_tokens",
        "bm25_topk_docs",
        "phrase_search_docs",
        "unigram_logprob_docs",
        "pagerank_event_types",
    ):
        assert name in plans.QUERIES
        assert name in plans.ORACLES


def test_regex_spans_udtf_offsets(spark):
    from lakehouse_poc_spark.operators.udtfs import regex_spans

    df = spark.createDataFrame(
        [(0, "mail a@b.com and c@d.org x"), (1, "no matches")], ["doc_id", "t"]
    )
    out = regex_spans(
        df, "t", {"email": r"[a-z]+@[a-z.]+[a-z]"}
    ).collect()
    spans = sorted((r["start"], r["end"], r["match"]) for r in out)
    assert spans == [(6, 12, "a@b.com"), (18, 24, "c@d.org")]
    assert all(r["kind"] == "email" for r in out)
    assert all(r["doc_id"] == 0 for r in out)


def test_regex_spans_udtf_multi_pattern_union(spark):
    from lakehouse_poc_spark.operators.udtfs import regex_spans

    df = spark.createDataFrame([(7, "id 123 code ab-9")], ["doc_id", "t"])
    out = regex_spans(
        df, "t", {"num": r"[0-9]+", "code": r"[a-z]+-[0-9]"}
    ).collect()
    kinds = sorted((r["kind"], r["match"]) for r in out)
    assert kinds == [("code", "ab-9"), ("num", "123"), ("num", "9")]


def test_pq_encode_matches_naive_argmin(spark):
    import numpy as np

    from lakehouse_poc_spark.operators.similarity import pq_codebooks, pq_encode

    rng = np.random.RandomState(3)
    vecs = [(i, [float(x) for x in rng.randn(16).astype("float32")]) for i in range(40)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    cbs = pq_codebooks(df, "embedding", "vec_id", m=4, n_codes=8)
    enc = {
        (r["vec_id"], r["j"]): r["code"]
        for r in pq_encode(df, cbs, "embedding", "vec_id").collect()
    }
    cb = np.array(cbs)  # (m, k, ds)
    for vid, v in vecs:
        sub = np.array(v, dtype=np.float64).reshape(4, 4)
        for j in range(4):
            d = ((sub[j][None, :] - cb[j]) ** 2).sum(axis=1)
            assert enc[(vid, j)] == int(np.argmin(d)), (vid, j)


def test_pq_topk_contract(spark):
    import numpy as np

    from lakehouse_poc_spark.operators.similarity import pq_topk

    rng = np.random.RandomState(5)
    vecs = [(i, [float(x) for x in rng.randn(16).astype("float32")]) for i in range(60)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = df.filter("vec_id < 3")
    out = pq_topk(
        df, q, vec_col="embedding", id_col="vec_id",
        query_id_col="vec_id", k=4, m=4, n_codes=8,
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2}
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == [1, 2, 3, 4]
        dists = [r["adc_micro"] for r in rows]
        assert dists == sorted(dists)  # ascending reconstruction distance
        assert all(r["neighbor_id"] != qid for r in rows)


def test_lsh_recall_levers_are_monotonic(spark):
    """Multi-table + multiprobe candidates strictly contain the plain
    bucket's, so recall vs brute force can only improve."""
    from lakehouse_poc_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter("vec_id < 6")
    brute = brute_force_topk(
        emb, q, "embedding", "vec_id", "vec_id", 5
    ).select("query_id", "neighbor_id")

    def recall(**kw):
        ap = lsh_topk(
            emb, q, "embedding", "vec_id", "vec_id", 5, **kw
        ).select("query_id", "neighbor_id")
        return brute.join(ap, ["query_id", "neighbor_id"]).count()

    plain = recall(n_planes=5)
    multi = recall(n_planes=5, n_tables=4, multiprobe=2)
    assert multi >= plain


def test_pagerank_empty_edges_raises(spark):
    import pytest as _pt

    from lakehouse_poc_spark.operators.graph import pagerank_int

    empty = spark.createDataFrame([], "src string, dst string")
    with _pt.raises(ValueError, match="empty edge set"):
        pagerank_int(empty)


def test_triangle_count_known_graphs(spark):
    from lakehouse_poc_spark.operators.graph import triangle_count

    # K4: 4 triangles; duplicate/reversed/self-loop edges must not count
    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]
    k4 += [(0, 0), (1, 1), (2, 1)]  # self-loops + duplicate
    df = spark.createDataFrame(k4, "src long, dst long")
    row = triangle_count(df).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (4, 6, 4)

    # star (hub + 5 leaves): 0 triangles
    star = spark.createDataFrame([(0, i) for i in range(1, 6)], "src long, dst long")
    row = triangle_count(star).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (6, 5, 0)

    # triangle + pendant edge: exactly 1
    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long"
    )
    row = triangle_count(tri).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (4, 4, 1)


def test_label_propagation_two_communities_weak_bridge(spark):
    """Two weight-3 triangles joined by a weight-1 bridge must settle
    into two communities labeled by each triangle's min node id; the
    hand-computed 3-round sync trace is asserted exactly (the
    deterministic min-tie-break contract)."""
    from lakehouse_poc_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [
            (1, 2, 3), (1, 3, 3), (2, 3, 3),     # triangle A
            (10, 11, 3), (10, 12, 3), (11, 12, 3),  # triangle B
            (3, 10, 1),                            # weak bridge
        ],
        "src long, dst long, w long",
    )
    got = {
        r.node: r.community
        for r in label_propagation(edges, iters=3, weight="w").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}

    # unweighted default: every edge counts 1; still two communities
    got_unw = {
        r.node: r.community for r in label_propagation(edges, iters=3).collect()
    }
    assert len({got_unw[1], got_unw[2], got_unw[3]}) == 1
    assert len({got_unw[10], got_unw[11], got_unw[12]}) == 1
    assert got_unw[1] != got_unw[10]


def test_label_propagation_converge_matches_fixed_iters(spark):
    """converge=True stops once no label changes; the result must
    equal the fixed-iteration run that ran to (past) the fixpoint,
    and a high iters bound must not change it (early stop fired)."""
    import time as _time

    from lakehouse_poc_spark.operators.graph import label_propagation

    # two triangles joined by one bridge edge: converges in <= 3 rounds
    e = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    edges = spark.createDataFrame(e, "src long, dst long")
    fixed = {
        r.node: r.community
        for r in label_propagation(edges, iters=6).collect()
    }
    conv = {
        r.node: r.community
        for r in label_propagation(edges, iters=50, converge=True).collect()
    }
    assert fixed == conv
    # the early stop actually fires: 50 bounded rounds at ~0.5 s+ per
    # round would take far longer than the handful it needs
    t0 = _time.perf_counter()
    label_propagation(edges, iters=50, converge=True).count()
    assert _time.perf_counter() - t0 < 30.0


def test_connected_components_star_matches_union_find(spark):
    """Large-star/small-star contraction vs the union-find ground
    truth, on (a) a random multi-component graph and (b) the
    adversarial PATH graph where min-label propagation needs
    O(diameter) rounds but star contraction needs O(log^2 n)."""
    from lakehouse_poc_spark.operators.dedup import connected_components
    from lakehouse_poc_spark.operators.graph import (
        connected_components_star,
    )

    # (a) pseudo-random graph, several components + isolated-ish bits
    edges_a = [(i, (i * 37 + 11) % 50) for i in range(0, 50, 2)] + [
        (100, 101),
        (101, 102),
        (200, 200),  # self-loop: node exists, no edge effect
    ]
    # (b) a 120-node path: 0-1-2-...-119
    edges_b = [(i, i + 1) for i in range(119)]

    for edges in (edges_a, edges_b):
        df = spark.createDataFrame(edges, "src long, dst long")
        # default: driver union-find fast path (under the threshold)
        star = {
            r.node: r.component
            for r in connected_components_star(df).collect()
        }
        # driver_threshold=0 forces the distributed star loop — the
        # two paths must produce the identical min-id labelling
        star_dist = {
            r.node: r.component
            for r in connected_components_star(
                df, driver_threshold=0
            ).collect()
        }
        truth = {
            r.id: r.component
            for r in connected_components(
                df.selectExpr("src AS id_a", "dst AS id_b")
            ).collect()
        }
        # union-find path returns (id, component); node sets may
        # differ in naming only
        assert star == {k: v for k, v in truth.items()}, len(edges)
        assert star_dist == star, len(edges)


def test_k_core_brute_parity_and_edges(spark):
    """k_core == the brute python peel on a random graph; classic
    shapes: a path has an empty 2-core, a cycle IS its 2-core, and a
    clique survives any k < its size."""
    import random as _random

    from lakehouse_poc_spark.operators.graph import k_core

    rng = _random.Random(5)
    edges = sorted({(rng.randrange(30), rng.randrange(30)) for _ in range(70)})
    edges = [(u, v) for u, v in edges if u != v]

    def brute(es, k):
        adj = {}
        for u, v in es:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        alive = set(adj)
        while True:
            nxt = {n for n in alive if sum(m in alive for m in adj[n]) >= k}
            if nxt == alive:
                return {n: sum(m in alive for m in adj[n]) for n in alive}
            alive = nxt

    df = spark.createDataFrame(edges, "src long, dst long")
    for k in (2, 3, 4):
        got = {r.node: r.deg for r in k_core(df, k, max_rounds=30).collect()}
        assert got == brute(edges, k), k

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "src long, dst long"
    )
    assert k_core(path, 2, max_rounds=15).count() == 0
    cycle = spark.createDataFrame(
        [(i, (i + 1) % 8) for i in range(8)], "src long, dst long"
    )
    assert k_core(cycle, 2).count() == 8
    clique = spark.createDataFrame(
        [(i, j) for i in range(5) for j in range(i + 1, 5)],
        "src long, dst long",
    )
    out = {r.node: r.deg for r in k_core(clique, 4).collect()}
    assert out == {i: 4 for i in range(5)}


def test_sssp_dijkstra_parity(spark):
    """Bellman-Ford sync relaxation == Dijkstra on a random weighted
    graph; unreached nodes stay absent (sparse frontier contract)."""
    import heapq
    import random as _random

    from lakehouse_poc_spark.operators.graph import sssp

    rng = _random.Random(9)
    edges = sorted(
        {(rng.randrange(25), rng.randrange(25)) for _ in range(50)}
    )
    edges = [(u, v, rng.randrange(1, 9)) for u, v in edges if u != v]
    # plus an unreachable island
    edges.append((100, 101, 1))

    adj = {}
    for u, v, w in edges:
        adj.setdefault(u, []).append((v, w))
        adj.setdefault(v, []).append((u, w))
    dist = {0: 0}
    pq = [(0, 0)]
    while pq:
        d, u = heapq.heappop(pq)
        if d > dist.get(u, float("inf")):
            continue
        for v, w in adj.get(u, []):
            if d + w < dist.get(v, float("inf")):
                dist[v] = d + w
                heapq.heappush(pq, (d + w, v))

    df = spark.createDataFrame(edges, "src long, dst long, w long")
    got = {r.node: r.dist for r in sssp(df, source=0, max_rounds=40).collect()}
    assert got == dist
    assert 100 not in got and 101 not in got


def test_hits_distributed_matches_driver_path(spark):
    """hits_int below driver_threshold runs the recurrence on the
    driver; forcing the distributed loop (threshold=0) must be
    BIT-identical — Python // and Spark div agree on non-negatives."""
    from lakehouse_poc_spark.operators.graph import hits_int

    edges = spark.createDataFrame(
        [("a", "b", 3), ("b", "c", 2), ("a", "c", 1), ("c", "a", 5),
         ("d", "c", 2), ("b", "d", 1)],
        "src string, dst string, w long",
    )
    drv = {
        r.node: (r.auth_scaled, r.hub_scaled)
        for r in hits_int(edges, weight="w").collect()
    }
    dist = {
        r.node: (r.auth_scaled, r.hub_scaled)
        for r in hits_int(edges, weight="w", driver_threshold=0).collect()
    }
    assert drv == dist and len(drv) == 4


def test_hits_authority_concentrates_on_sink(spark):
    """Textbook shape: many hubs pointing at one sink — the sink takes
    (almost) all authority mass, the hubs share hub mass, and the
    sink (no out-edges) has zero hub score."""
    from lakehouse_poc_spark.operators.graph import HSCALE, hits_int

    edges = spark.createDataFrame(
        [("h1", "s", 1), ("h2", "s", 1), ("h3", "s", 1)],
        "src string, dst string, w long",
    )
    r = {x.node: x for x in hits_int(edges).collect()}
    # integer L1 norm: sum lands in [HSCALE, total/(total div HSCALE)]
    # — the floor-quotient divisor inflates tiny totals by <= 1/d
    assert HSCALE <= r["s"].auth_scaled <= 2 * HSCALE  # all authority
    assert r["s"].hub_scaled == 0
    assert r["h1"].auth_scaled == 0
    assert r["h1"].hub_scaled == r["h2"].hub_scaled == r["h3"].hub_scaled
    assert HSCALE <= r["h1"].hub_scaled * 3 <= 2 * HSCALE


def test_modularity_by_brand_matches_pandas(spark):
    import pandas as pd
    import pytest

    from lakehouse_poc_spark import plans

    sf = "/root/testdata/sf0.001"
    li = pd.read_parquet(f"{sf}/lineitem.parquet")
    orders = pd.read_parquet(f"{sf}/orders.parquet")
    part = pd.read_parquet(f"{sf}/part.parquet")
    urgent = set(orders[orders.o_orderpriority == "1-URGENT"].o_orderkey)
    items = li[li.l_orderkey.isin(urgent)][
        ["l_orderkey", "l_partkey"]
    ].drop_duplicates()
    brand = part.set_index("p_partkey").p_brand.to_dict()
    edges = set()
    for _, grp in items.groupby("l_orderkey"):
        ps = sorted(set(grp.l_partkey))
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                edges.add((ps[i], ps[j]))
    m = len(edges)
    from collections import Counter

    e_c: Counter = Counter()
    d_c: Counter = Counter()
    for u, v in edges:
        bu, bv = brand[u], brand[v]
        d_c[bu] += 1
        d_c[bv] += 1
        if bu == bv:
            e_c[bu] += 1
    q = sum(e_c[c] / m - (d_c[c] / (2 * m)) ** 2 for c in d_c)
    out = plans.QUERIES["modularity_by_brand_coparts"](spark, sf).collect()[0]
    assert out["n_edges"] == m
    assert out["n_communities"] == len(d_c)
    assert out["modularity"] == pytest.approx(q, rel=1e-9)


def test_ppr_seed_concentrates_mass_and_paths_agree(spark):
    import pytest

    e = spark.createDataFrame(
        [("a", "b", 3), ("b", "c", 1), ("c", "a", 2), ("b", "a", 1)],
        "src string, dst string, w int",
    )
    fast = {
        r["node"]: r["rank_scaled"]
        for r in pagerank_int(e, weight="w", iterations=6, seed="a").collect()
    }
    dist = {
        r["node"]: r["rank_scaled"]
        for r in pagerank_int(
            e, weight="w", iterations=6, seed="a", driver_threshold=0
        ).collect()
    }
    assert fast == dist  # driver fast path ≡ distributed loop, bit-exact
    # seed holds the most mass; a node only reachable via others holds less
    assert fast["a"] > fast["b"] > 0
    # personalization actually changes the ranking vs uniform teleport
    uni = {
        r["node"]: r["rank_scaled"]
        for r in pagerank_int(e, weight="w", iterations=6).collect()
    }
    assert uni != fast
    with pytest.raises(ValueError, match="seed"):
        pagerank_int(e, weight="w", seed="zz").collect()
    with pytest.raises(ValueError, match="seed"):
        pagerank_int(e, weight="w", seed="zz", driver_threshold=0).collect()
