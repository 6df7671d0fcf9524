"""Property-based tests (hypothesis): SCD2 merge invariants under
arbitrary batch sequences, sessionize against a Python reference,
shingling against a Python reference.

Each example runs real Spark jobs, so example counts stay small and
the data tiny — the point is the *shape* of the inputs (dup keys,
null values, single-row batches, identical reruns), not volume.
"""

from __future__ import annotations

from dataclasses import asdict

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from lakehouse_poc_spark.config import PipelineConfig
from lakehouse_poc_spark.functions.text import word_shingles
from lakehouse_poc_spark.operators.scd2 import scd2_merge
from lakehouse_poc_spark.operators.sessionize import sessionize
from lakehouse_poc_spark.sinks.warehouse import Warehouse

CFG = PipelineConfig(
    name="p",
    raw_table="raw.p",
    dim_table="dim.p",
    business_key=("k",),
    compare_columns=("v",),
)

batches_strategy = st.lists(
    st.dictionaries(
        keys=st.sampled_from(["a", "b", "c", "d"]),
        values=st.one_of(st.none(), st.integers(min_value=0, max_value=3)),
        min_size=1,
        max_size=4,
    ),
    min_size=1,
    max_size=3,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batches=batches_strategy)
def test_scd2_invariants_hold_for_any_batch_sequence(spark, tmp_path_factory, batches):
    wh = Warehouse(spark, str(tmp_path_factory.mktemp("wh")))
    expected_current: dict[str, int | None] = {}
    for i, batch in enumerate(batches):
        df = spark.createDataFrame(list(batch.items()), "k string, v int")
        stats = scd2_merge(wh, CFG, df, run_ts=f"2020-01-{i + 1:02d} 00:00:00")
        # stats partition the batch exactly
        assert stats.unchanged + stats.new_keys + stats.updated_keys == len(batch)
        expected_current.update(batch)

    dim = wh.read(CFG.dim_table).collect()
    current = {r.k: r.v for r in dim if r.is_current}
    # 1. the current snapshot equals the last-write-wins dict
    assert current == expected_current
    # 2. exactly one current row per key, and every key ever seen exists
    assert len([r for r in dim if r.is_current]) == len(expected_current)
    # 3. validity chains: per key, sort by valid_from — closed rows
    #    link to the successor's valid_from; only the last row is open
    by_key: dict[str, list] = {}
    for r in dim:
        by_key.setdefault(r.k, []).append(r)
    for rows in by_key.values():
        rows.sort(key=lambda r: r.valid_from)
        for prev, nxt in zip(rows, rows[1:]):
            assert not prev.is_current
            assert prev.valid_to == nxt.valid_from
        assert rows[-1].is_current and rows[-1].valid_to is None


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batch=st.dictionaries(st.sampled_from("abcd"), st.integers(0, 3), min_size=1))
def test_scd2_rerun_of_same_batch_is_all_unchanged(spark, tmp_path_factory, batch):
    wh = Warehouse(spark, str(tmp_path_factory.mktemp("wh")))
    df = spark.createDataFrame(list(batch.items()), "k string, v int")
    scd2_merge(wh, CFG, df, run_ts="2020-01-01 00:00:00")
    stats = scd2_merge(wh, CFG, df, run_ts="2020-01-02 00:00:00")
    assert asdict(stats) == {
        "unchanged": len(batch),
        "new_keys": 0,
        "updated_keys": 0,
    }


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ts_lists=st.dictionaries(
        keys=st.integers(1, 3),
        values=st.lists(st.integers(0, 100), min_size=1, max_size=8),
        min_size=1,
        max_size=3,
    ),
    gap=st.integers(1, 20),
)
def test_sessionize_matches_python_reference(spark, ts_lists, gap):
    rows = [
        (k, ts, i * 1000 + j)
        for i, (k, tss) in enumerate(sorted(ts_lists.items()))
        for j, ts in enumerate(tss)
    ]
    df = spark.createDataFrame(rows, "k long, ts long, eid long")
    got = {
        (r.k, r.ts, r.eid): r.session_id
        for r in sessionize(df, ["k"], "ts", gap, tiebreak=["eid"]).collect()
    }
    for k in ts_lists:
        # python reference: new session when delta > gap
        sid = 0
        prev = None
        expected_order = sorted((ts, eid) for (kk, ts, eid) in rows if kk == k)
        for ts, _eid in expected_order:
            if prev is None or ts - prev > gap:
                sid += 1
            prev = ts
            assert got[(k, ts, _eid)] == sid


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    words=st.lists(st.text(alphabet="abcxyz", min_size=1, max_size=4), max_size=8),
    n=st.integers(2, 4),
)
def test_word_shingles_match_python_reference(spark, words, n):
    text = " ".join(words)
    df = spark.createDataFrame([(text,)], "t string")
    got = df.select(word_shingles("t", n).alias("s")).collect()[0].s
    toks = text.split(" ")  # mirrors \s+ split on single-space joins
    expected = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
    assert list(got) == expected


# ---------------------------------------------------------------------------
# Chunking: for ANY text and any (chunk, overlap) config, dropping
# each chunk's leading overlap and concatenating rebuilds the text,
# and every chunk except possibly the last is exactly chunk_chars.
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.text(alphabet="abc xyz", min_size=0, max_size=300), min_size=1, max_size=4
    ),
    chunk_chars=st.integers(min_value=2, max_value=64),
    data=st.data(),
)
def test_chunk_windows_rebuild_any_text(spark, texts, chunk_chars, data):
    from lakehouse_poc_spark.operators.chunking import chunk_text_windows

    overlap = data.draw(st.integers(min_value=0, max_value=chunk_chars - 1))
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    out = chunk_text_windows(df, "text", chunk_chars=chunk_chars, overlap=overlap)
    by_doc: dict[int, list] = {}
    for r in out.collect():
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, text in enumerate(texts):
        chunks = sorted(by_doc[doc_id], key=lambda r: r["chunk_id"])
        rebuilt = chunks[0]["chunk_text"] + "".join(
            c["chunk_text"][overlap:] for c in chunks[1:]
        )
        assert rebuilt == text
        assert all(c["chunk_len"] == chunk_chars for c in chunks[:-1])


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["cat", "dog", "sat", "mat", "ran", "big"]),
            min_size=1,
            max_size=8,
        ),
        min_size=2,
        max_size=6,
    ),
    terms=st.lists(
        st.sampled_from(["cat", "dog", "sat"]), min_size=1, max_size=2, unique=True
    ),
)
def test_bm25_matches_python_reference(spark, docs, terms):
    """BM25 scores match an independent Python implementation of the
    same formula (micro-rounded per term, summed exactly)."""
    import math

    from lakehouse_poc_spark.operators.search import bm25_topk

    texts = [" ".join(words) for words in docs]
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    out = {
        r["doc_id"]: r["score_micro"]
        for r in bm25_topk(df, terms, k=100).collect()
    }

    n_docs = len(texts)
    dls = [len(t.split()) for t in texts]
    avgdl = sum(dls) / n_docs
    dfreq = {
        t: sum(1 for words in docs if t in words) for t in terms
    }
    expected: dict[int, int] = {}
    for i, words in enumerate(docs):
        total = 0
        hit = False
        for t in terms:
            tf = words.count(t)
            if tf == 0:
                continue
            hit = True
            idf = math.log(1.0 + (n_docs - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            s = idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dls[i] / avgdl))
            # Spark round() is HALF_UP on the exact decimal expansion;
            # Python round() is half-even — emulate HALF_UP.
            micro = s * 1_000_000.0
            total += math.floor(micro + 0.5)
        if hit:
            expected[i] = total
    assert out == expected


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c", "d"]),
            st.sampled_from(["a", "b", "c", "d"]),
            st.integers(min_value=1, max_value=5),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_pagerank_mass_bound_any_graph(spark, edges):
    """Total fixed-point mass never exceeds SCALE and the floor-div
    loss is bounded by nodes x iterations; every rank >= the base."""
    from lakehouse_poc_spark.operators.graph import SCALE, pagerank_int

    e = spark.createDataFrame(edges, ["src", "dst", "w"])
    iters = 4
    out = pagerank_int(e, weight="w", iterations=iters).collect()
    n = len(out)
    base = ((100 - 85) * SCALE // 100) // n
    total = sum(r["rank_scaled"] for r in out)
    assert total <= SCALE
    for r in out:
        assert r["rank_scaled"] >= base
    # dangling nodes leak mass; without dangling nodes the loss is
    # only integer-floor crumbs
    has_dangling = {d for _, d, _ in edges} - {s for s, _, _ in edges}
    if not has_dangling:
        assert total >= SCALE - n * (iters + 1) * 100


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff", "gg"]),
            min_size=3,
            max_size=10,
        ),
        min_size=2,
        max_size=6,
    ),
    threshold=st.sampled_from([0.3, 0.5, 0.8]),
)
def test_prefix_jaccard_parity_any_corpus(spark, docs, threshold):
    """PPJoin prefix filtering is result-identical to brute force on
    arbitrary corpora and thresholds (the no-lost-pairs guarantee)."""
    from lakehouse_poc_spark.operators.dedup import (
        jaccard_prefix_pairs,
        ngram_jaccard_pairs,
    )

    df = spark.createDataFrame(
        [(i, " ".join(w)) for i, w in enumerate(docs)], ["doc_id", "text"]
    )
    brute = ngram_jaccard_pairs(df, "text", "doc_id", threshold=threshold)
    pref = jaccard_prefix_pairs(df, "text", "doc_id", threshold=threshold)
    assert brute.exceptAll(pref).isEmpty()
    assert pref.exceptAll(brute).isEmpty()


# ---------------------------------------------------------------------------
# Passage dedup invariants under arbitrary tiny corpora: a Python
# reference implements the same keep-first rule; the operator must
# match it exactly, and block accounting must conserve inputs.
words_strategy = st.lists(
    st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=1, max_size=9
)
corpus_strategy = st.lists(words_strategy, min_size=1, max_size=5)


def _ref_passage_dedup(texts: list[str], block: int):
    seen: set[str] = set()
    out = []
    for doc_id, text in enumerate(texts):
        toks = text.split(" ")
        kept, removed, total = [], 0, 0
        for i in range(0, len(toks), block):
            p = " ".join(toks[i : i + block])
            total += 1
            if p in seen:
                removed += 1
            else:
                seen.add(p)
                kept.append(p)
        out.append((doc_id, total, removed, " ".join(kept)))
    return out


@given(corpus_strategy)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_passage_dedup_matches_python_reference(spark, corpus):
    from lakehouse_poc_spark.operators.passages import dedup_passages

    texts = [" ".join(ws) for ws in corpus]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = [
        (r["doc_id"], r["n_blocks"], r["n_removed"], r["text_clean"])
        for r in dedup_passages(df, "text", "doc_id", block_words=3).collect()
    ]
    assert got == _ref_passage_dedup(texts, 3)
    # conservation: blocks kept + removed == blocks in
    assert sum(g[1] for g in got) == sum(
        -(-len(ws) // 3) for ws in corpus
    )


def test_skyline_nd_invariants(spark):
    """Postconditions on pseudo-random 3D points at several grid
    resolutions: (1) frontier is a subset of the input; (2) no
    frontier member dominates another; (3) every dropped point is
    dominated by some frontier member; (4) the result is independent
    of the bucket count (grid placement prunes, never changes)."""
    from lakehouse_poc_spark.operators.skyline import skyline_nd

    pts = [
        (i, float((i * 61) % 53), float((i * 89) % 47), float((i * 29) % 59))
        for i in range(160)
    ]
    df = spark.createDataFrame(pts, "pid long, x double, y double, z double")

    def dom(b, a):  # b dominates a
        return all(b[j] <= a[j] for j in (1, 2, 3)) and any(
            b[j] < a[j] for j in (1, 2, 3)
        )

    results = {}
    for buckets in (3, 8, 16):
        got = sorted(
            (r.pid, r.x, r.y, r.z)
            for r in skyline_nd(df, ["x", "y", "z"], buckets=buckets).collect()
        )
        results[buckets] = got
        ids = {g[0] for g in got}
        assert ids <= {p[0] for p in pts}
        for a in got:
            assert not any(dom(b, a) for b in got if b[0] != a[0])
        frontier = got
        for p in pts:
            if p[0] not in ids:
                assert any(dom(b, p) for b in frontier), p
    assert results[3] == results[8] == results[16]


def test_exact_substring_dedup_postconditions(spark):
    """After removal at min_len=k, no k-gram of any cleaned doc occurs
    at two distinct sites of the cleaned corpus that were ALSO both
    present in the original corpus... weaker but checkable form: the
    cleaned corpus of the fixture has strictly fewer repeated k-grams
    than the original, counts are consistent, and a corpus with no
    k-repeats round-trips unchanged."""
    from lakehouse_poc_spark.operators.dedup import exact_substring_dedup

    k = 3
    dup = "alpha beta gamma delta epsilon"
    rows = [
        (1, f"{dup} one two"),
        (2, f"start words {dup} end"),
        (3, "completely unrelated text here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in exact_substring_dedup(df, "text", "doc_id", min_len=k).collect()
    }
    # consistency: removed + len(clean tokens) == before
    for d, r in out.items():
        n_clean = len(r.clean_text.split()) if r.clean_text else 0
        assert r.n_tokens_before == r.n_removed + n_clean, d
    # the shared 5-token run is gone from both docs
    assert dup not in out[1].clean_text and dup not in out[2].clean_text
    assert out[3].n_removed == 0 and out[3].clean_text == rows[2][1]
    # idempotence: cleaning the cleaned corpus removes nothing more
    clean_df = spark.createDataFrame(
        [(d, r.clean_text) for d, r in out.items()], "doc_id long, text string"
    )
    again = exact_substring_dedup(clean_df, "text", "doc_id", min_len=k)
    assert again.agg({"n_removed": "sum"}).collect()[0][0] == 0


def test_rrf_fuse_rank_arithmetic(spark):
    """RRF on two hand-built lists: scores are the exact nano sums,
    a doc in both lists beats docs in one, ties break on lower id."""
    from lakehouse_poc_spark.operators.search import rrf_fuse

    a = spark.createDataFrame(
        [(10, 1), (20, 2), (30, 3)], "doc_id long, rank int"
    )
    b = spark.createDataFrame(
        [(20, 1), (40, 2), (31, 3)], "doc_id long, rank int"
    )
    got = {
        r.doc_id: (r.n_lists, r.rrf_nano, r.rank)
        for r in rrf_fuse([a, b], "doc_id", k=60, topk=10).collect()
    }

    def nano(rank):
        import math

        return math.floor(1_000_000_000.0 / (60 + rank) + 0.5)

    assert got[20] == (2, nano(2) + nano(1), 1)  # in both: wins
    assert got[10][1] == nano(1)
    # 30 and 31 both rank 3 in their lists -> equal score; lower id first
    assert got[30][1] == got[31][1] == nano(3)
    assert got[30][2] < got[31][2]


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    baskets=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),  # basket id
            st.sampled_from(["a", "b", "c", "d", "e"]),
        ),
        min_size=1,
        max_size=25,
    ),
    minsup=st.integers(min_value=1, max_value=3),
)
def test_frequent_pairs_matches_brute(spark, baskets, minsup):
    """A-Priori pair pass == brute enumeration for arbitrary baskets
    (dup rows collapse, prune is lossless, counts exact)."""
    from collections import Counter

    from lakehouse_poc_spark.operators.itemsets import frequent_pairs

    df = spark.createDataFrame(baskets, "bk long, item string")
    got = {
        (r.item_a, r.item_b): r.pair_cnt
        for r in frequent_pairs(df, "bk", "item", minsup=minsup).collect()
    }
    by_bk: dict[int, set] = {}
    for bk, it in baskets:
        by_bk.setdefault(bk, set()).add(it)
    cnt = Counter()
    for items in by_bk.values():
        s = sorted(items)
        for i in range(len(s)):
            for j in range(i + 1, len(s)):
                cnt[(s[i], s[j])] += 1
    expect = {p: c for p, c in cnt.items() if c >= minsup}
    assert got == expect


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),
            st.integers(min_value=0, max_value=12),
        ),
        min_size=1,
        max_size=30,
    ),
    k=st.integers(min_value=1, max_value=4),
)
def test_k_core_matches_brute_peel(spark, edges, k):
    """k_core == the sequential peel for arbitrary graphs and k."""
    from lakehouse_poc_spark.operators.graph import k_core

    clean = [(u, v) for u, v in edges if u != v]
    if not clean:
        return
    adj: dict[int, set] = {}
    for u, v in clean:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    alive = set(adj)
    while True:
        nxt = {n for n in alive if sum(m in alive for m in adj[n]) >= k}
        if nxt == alive:
            break
        alive = nxt
    expect = {n: sum(m in alive for m in adj[n]) for n in alive}

    df = spark.createDataFrame(clean, "src long, dst long")
    got = {r.node: r.deg for r in k_core(df, k, max_rounds=40).collect()}
    assert got == expect


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batches=batches_strategy)
def test_scd3_matches_dict_reference_any_batches(
    spark, tmp_path_factory, batches
):
    """SCD3 against a trivial Python model: current value = last
    batch's value per key; prev = the value superseded by the LAST
    ACTUAL CHANGE; changed_at = that change's run_ts."""
    from lakehouse_poc_spark.operators.scd2 import scd3_upsert

    wh = Warehouse(spark, str(tmp_path_factory.mktemp("wh")))
    t = "dim.p3"
    cur: dict[str, int | None] = {}
    prev: dict[str, int | None] = {}
    changed: dict[str, str | None] = {}
    for i, batch in enumerate(batches):
        ts = f"2024-01-{i + 1:02d} 00:00:00"
        df = spark.createDataFrame(
            [(k, v) for k, v in batch.items()], "k string, v long"
        )
        scd3_upsert(wh, t, df, ["k"], "v", ts)
        for k, v in batch.items():
            if k in cur and cur[k] != v:
                prev[k] = cur[k]
                changed[k] = ts
            elif k not in cur:
                prev[k] = None
                changed[k] = None
            cur[k] = v
    rows = {r["k"]: r for r in wh.read(t).collect()}
    assert set(rows) == set(cur)
    for k in cur:
        assert rows[k]["v"] == cur[k], k
        assert rows[k]["v_prev"] == prev[k], k
        got_ts = rows[k]["v_changed_at"]
        want = changed[k]
        assert (got_ts is None) == (want is None), k
        if want is not None:
            assert str(got_ts)[:10] == want[:10], k


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    batches=st.lists(
        st.lists(
            st.tuples(
                st.sampled_from(["x", "y", "z"]),
                st.integers(min_value=0, max_value=100),
            ),
            min_size=1,
            max_size=6,
        ),
        min_size=1,
        max_size=3,
    )
)
def test_matview_refresh_equals_rebuild_any_appends(
    spark, tmp_path_factory, batches
):
    """For ANY append sequence, incremental refresh == full rebuild
    == a plain groupBy over everything appended."""
    from lakehouse_poc_spark.sinks.matview import MaterializedAgg

    wh = Warehouse(spark, str(tmp_path_factory.mktemp("wh")))
    t = "src.p"
    mv = MaterializedAgg(wh, "p_by_g", t, ["g"], "v", "decimal(20,2)")
    all_rows: list[tuple[str, int]] = []
    for i, batch in enumerate(batches):
        df = spark.createDataFrame(batch, "g string, v long")
        wh.append(df, t)
        all_rows.extend(batch)
        mv.refresh()  # first call rebuilds, later ones fold deltas
    got = {
        (r["g"], r["mv_n"], float(r["mv_sum"]))
        for r in mv.read().collect()
    }
    from collections import defaultdict

    n: dict = defaultdict(int)
    s: dict = defaultdict(float)
    for g, v in all_rows:
        n[g] += 1
        s[g] += v
    want = {(g, n[g], s[g]) for g in n}
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10),
            st.integers(min_value=0, max_value=10),
        ),
        min_size=1,
        max_size=30,
    ),
    k=st.integers(min_value=3, max_value=5),
)
def test_k_truss_matches_brute_peel(spark, edges, k):
    """k_truss == the sequential edge peel for arbitrary graphs/k."""
    from lakehouse_poc_spark.operators.graph import k_truss

    clean = {(min(u, v), max(u, v)) for u, v in edges if u != v}
    if not clean:
        return
    cur = set(clean)
    sup: dict[tuple, int] = {}
    while True:
        adj: dict[int, set] = {}
        for u, v in cur:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        sup = {
            (u, v): len(adj[u] & adj[v]) for u, v in cur
        }
        nxt = {e for e in cur if sup[e] >= k - 2}
        if nxt == cur:
            break
        cur = nxt
    expect = {e: sup[e] for e in cur}

    df = spark.createDataFrame(sorted(clean), "src long, dst long")
    got = {
        (r.src, r.dst): r.support
        for r in k_truss(df, k, max_rounds=40).collect()
    }
    assert got == expect
