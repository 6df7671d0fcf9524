"""Corpus-analytics operators (plans/corpus.py): result sanity plus
the scale-critical plan shapes — vocabulary counting combines
map-side, TF-IDF broadcasts the vocabulary-sized document-frequency
relation, and decontamination joins grams instead of doc pairs."""

from __future__ import annotations

from pyspark.sql import functions as F

from lakehouse_poc_spark.plans import QUERIES

SF = "/root/testdata/sf0.001"


def _formatted(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def _merge_pair(syms: list[str], left: str, right: str) -> list[str]:
    """One BPE merge over a symbol list, left to right, non-overlapping."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def bpe_train_reference(
    word_counts: dict[str, int], n_merges: int
) -> list[tuple[int, str, str, int]]:
    """The textbook BPE loop: the merge table bpe_train must learn."""
    vocab = {w: list(w) for w in word_counts}
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in vocab.items():
            for p in zip(syms, syms[1:]):
                counts[p] = counts.get(p, 0) + word_counts[w]
        if not counts:
            break
        (left, right), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < 2:
            break
        merges.append((rank, left, right, cnt))
        vocab = {w: _merge_pair(syms, left, right) for w, syms in vocab.items()}
    return merges


def bpe_encode_reference(
    text: str, merges: list[tuple[int, str, str, int]]
) -> list[str]:
    """Each whitespace-split word of ``text`` with the merge table
    applied in rank order: what bpe_encode must reproduce."""
    out: list[str] = []
    for w in text.split():
        syms = list(w)
        for _rank, left, right, _cnt in merges:
            syms = _merge_pair(syms, left, right)
        out.extend(syms)
    return out


def test_vocab_counts_sum_to_corpus_tokens(spark):
    vocab = QUERIES["vocab_top_tokens"](spark, SF)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_tokens = docs.select(
        F.sum(F.size(F.split("text", r"\s+"))).alias("n")
    ).first()["n"]
    rows = vocab.collect()
    # the synthetic vocabulary is < 100 words, so top-100 is exhaustive
    assert sum(r["n_occurrences"] for r in rows) == n_tokens
    assert all(r["doc_freq"] <= r["n_occurrences"] for r in rows)


def test_vocab_aggregates_partially_before_shuffle(spark):
    plan = _formatted(QUERIES["vocab_top_tokens"](spark, SF))
    assert "partial_count" in plan


def test_tfidf_broadcasts_document_frequencies(spark):
    df = QUERIES["tfidf_top_terms"](spark, SF)
    plan = _formatted(df)
    assert plan.count("BroadcastHashJoin") >= 1
    rows = df.groupBy("doc_id").count().agg(F.max("count")).first()[0]
    assert rows <= 3


def test_repetition_fractions_bounded(spark):
    rows = QUERIES["text_repetition_stats"](spark, SF).collect()
    for r in rows:
        assert 0.0 < r["distinct_frac"] <= 1.0
        assert 0.0 < r["top_token_frac"] <= 1.0
        assert 0.0 < r["top_bigram_frac"] <= 1.0


def test_decontaminate_screens_only_train_split(spark):
    res = QUERIES["decontaminate_docs"](spark, SF)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    train_ids = {
        r["doc_id"]
        for r in docs.select(
            "doc_id",
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2).alias("b"),
        )
        .filter(F.col("b") < "f0")
        .collect()
    }
    rows = res.collect()
    assert {r["doc_id"] for r in rows} == train_ids
    assert all((r["n_shared_grams"] > 0) == r["contaminated"] for r in rows)


def test_global_shuffle_is_a_permutation(spark):
    rows = QUERIES["global_shuffle_documents"](spark, SF).collect()
    positions = sorted(r["shuffle_pos"] for r in rows)
    assert positions == list(range(1, len(rows) + 1))
    # deterministic: same seed → same order
    again = {r["doc_id"]: r["shuffle_pos"] for r in QUERIES[
        "global_shuffle_documents"](spark, SF).collect()}
    assert all(again[r["doc_id"]] == r["shuffle_pos"] for r in rows)


def test_bpe_train_matches_reference(spark):
    """Distributed BPE must learn the EXACT merge table of the
    textbook loop — same pairs, same order, same counts — including
    the overlapping-run case (left-to-right non-overlap) and the
    deterministic tie-break."""
    from pyspark.sql import functions as F

    from lakehouse_poc_spark.functions.text import tokens
    from lakehouse_poc_spark.operators.bpe import bpe_train

    rows = [
        (1, "low low low lower lowest"),
        (2, "new newer newest new new"),
        (3, "aaaa aa aaa"),          # overlapping-run merge semantics
        (4, "ab ab ba ba"),          # tie-break exercises lexicographic order
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = bpe_train(docs, "text", n_merges=12)

    wc = {}
    for r in docs.select(F.explode(tokens("text")).alias("w")).collect():
        wc[r.w] = wc.get(r.w, 0) + 1
    want = bpe_train_reference(wc, 12)
    assert got == want, (got, want)


def test_bpe_train_deterministic_and_stops_on_singletons(spark):
    from lakehouse_poc_spark.operators.bpe import bpe_train

    docs = spark.createDataFrame([(1, "xy xy zq")], ["doc_id", "text"])
    a = bpe_train(docs, "text", n_merges=50)
    b = bpe_train(docs, "text", n_merges=50)
    assert a == b
    # only 'xy' repeats; 'zq' pairs have count 1 -> training stops
    assert [(m[1], m[2]) for m in a] == [("x", "y")]


def test_bpe_encode_matches_reference(spark):
    from lakehouse_poc_spark.operators.bpe import bpe_encode, bpe_train

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    merges = bpe_train(docs, "text", n_merges=12)
    got = {
        r.doc_id: list(r.toks)
        for r in bpe_encode(docs, "text", "doc_id", merges).collect()
    }
    for row in docs.select("doc_id", "text").collect():
        assert got[row.doc_id] == bpe_encode_reference(row.text, merges), row.doc_id


def test_bpe_encode_empty_merge_table_is_chars(spark):
    from lakehouse_poc_spark.operators.bpe import bpe_encode

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(3)
    out = bpe_encode(docs, "text", "doc_id", []).collect()
    chars = {
        r.doc_id: sum(len(w) for w in r.text.split())
        for r in docs.collect()
    }
    assert {r.doc_id: r.n_tokens for r in out} == chars


def test_remove_repeated_passages_fixture(spark):
    from lakehouse_poc_spark.operators.dedup import remove_repeated_passages

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        (1, f"one two three {shared} four five"),
        (2, f"{shared} six seven eight nine ten"),
        (3, "totally unrelated words that repeat nowhere at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in remove_repeated_passages(df, "text", "doc_id", n=8).collect()
    }
    # the shared 8-gram is removed from BOTH carriers, nothing else
    assert got[1].n_removed == 8 and got[1].n_tokens_before == 13
    assert got[1].clean_text == "one two three four five"
    assert got[2].n_removed == 8
    assert got[2].clean_text == "six seven eight nine ten"
    # untouched doc passes through verbatim
    assert got[3].n_removed == 0
    assert got[3].clean_text == rows[2][1]


def test_bigram_logprob_hand_computed(spark):
    """Add-1-smoothed bigram LM on a 2-doc corpus, checked against the
    hand-derived conditionals (micro-rounded, the engine convention)."""
    import math

    from lakehouse_poc_spark.plans.searchops import bigram_logprob_docs
    import pyspark.sql.functions as F

    rows = [(1, "a b a b"), (2, "a b c")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # corpus bigrams: (a,b)x3, (b,a)x1, (b,c)x1 ; V = 3 (a, b, c)
    # c1: a->3, b->2 ; p(b|a) = (3+1)/(3+3) ; p(a|b) = (1+1)/(2+3)
    # p(c|b) = (1+1)/(2+3)
    lp_ab = round(math.log(4 / 6) * 1e6)
    lp_ba = round(math.log(2 / 5) * 1e6)
    lp_bc = round(math.log(2 / 5) * 1e6)

    # score through the registered query path on the in-memory fixture
    import lakehouse_poc_spark.plans.searchops as so

    old = so._t
    so._t = lambda s, d, n: df
    try:
        got = {r.doc_id: r for r in bigram_logprob_docs(spark, "unused").collect()}
    finally:
        so._t = old
    assert got[1].n_bigrams == 3
    assert got[1].logp_sum_micro == 2 * lp_ab + lp_ba
    assert got[2].n_bigrams == 2
    assert got[2].logp_sum_micro == lp_ab + lp_bc


def test_corr_profile_matches_numpy(spark):
    """The exact-decimal sufficient-statistics Pearson matrix must
    agree with numpy.corrcoef to float precision on the fixture."""
    import numpy as np
    import pandas as pd

    from lakehouse_poc_spark.plans.analytics import corr_profile_lineitem

    got = {
        (r.col_x, r.col_y): r.corr_r
        for r in corr_profile_lineitem(spark, "/root/testdata/sf0.001").collect()
    }
    pdf = pd.read_parquet("/root/testdata/sf0.001/lineitem.parquet")
    for (x, y), v in got.items():
        ref = np.corrcoef(pdf[x], pdf[y])[0, 1]
        assert abs(v - ref) < 1e-6, (x, y, v, ref)


def test_exact_substring_dedup_brute_parity(spark):
    """Operator vs the DEFINITION: brute-force all pairs of suffix
    sites, extend their common prefix, mark covered positions where
    the match length >= k (the suffix-array semantics of Lee et al.
    ExactSubstr) — clean text must match exactly, including the
    within-document repeat the passage detector misses."""
    import itertools

    from lakehouse_poc_spark.operators.dedup import exact_substring_dedup

    k = 4
    raw = [
        (1, "a b c d e f g h unique one two three"),
        (2, "z y a b c d e f w q r s"),  # shares a 6-token run with 1
        (3, "m n o p q m n o p q tail words"),  # within-doc repeat
        (4, "totally different words here only five"),
        (5, "short doc"),  # shorter than k: no grams at all
    ]
    toks = {i: t.split() for i, t in raw}
    covered: dict[int, set[int]] = {i: set() for i in toks}
    sites = [(d, p) for d, ws in toks.items() for p in range(len(ws))]
    for (d1, p1), (d2, p2) in itertools.combinations(sites, 2):
        w1, w2 = toks[d1], toks[d2]
        n = 0
        while (
            p1 + n < len(w1) and p2 + n < len(w2) and w1[p1 + n] == w2[p2 + n]
        ):
            n += 1
        if n >= k:
            covered[d1].update(range(p1, p1 + n))
            covered[d2].update(range(p2, p2 + n))
    expect_clean = {
        d: " ".join(w for p, w in enumerate(ws) if p not in covered[d])
        for d, ws in toks.items()
    }

    df = spark.createDataFrame(raw, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens_before, r.n_removed, r.clean_text)
        for r in exact_substring_dedup(df, "text", "doc_id", min_len=k).collect()
    }
    for d, ws in toks.items():
        assert got[d][0] == len(ws), d
        assert got[d][1] == len(covered[d]), d
        assert got[d][2] == expect_clean[d], d


def test_substring_dedup_whitespace_edged_docs(spark):
    """Leading/trailing whitespace must not create phantom empty edge
    tokens in the gram relation (code-review r7): grams and token
    positions index the same FILTERED sequence, so the
    before == removed + clean invariant holds and shared runs are
    still detected across differently-padded copies."""
    from lakehouse_poc_spark.operators.dedup import exact_substring_dedup

    rows = [
        (1, "  alpha beta gamma delta epsilon one two  "),
        (2, "alpha beta gamma delta epsilon three four\n"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in exact_substring_dedup(df, "text", "doc_id", min_len=3).collect()
    }
    for d, r in out.items():
        n_clean = len(r.clean_text.split()) if r.clean_text else 0
        assert r.n_tokens_before == r.n_removed + n_clean, d
        assert r.n_tokens_before == 7, d  # empties never counted
    assert out[1].clean_text == "one two"
    assert out[2].clean_text == "three four"


def test_substring_dedup_empty_docs_still_emit(spark):
    """A doc with empty or whitespace-only text must still appear in
    the output as (0, 0, '') — the SQL oracle anchors on FROM
    documents, so dropping it would diverge (code-review r7)."""
    from lakehouse_poc_spark.operators.dedup import exact_substring_dedup

    rows = [(1, ""), (2, "   "), (3, "alpha beta gamma")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in exact_substring_dedup(df, "text", "doc_id", min_len=3).collect()
    }
    assert set(out) == {1, 2, 3}
    for d in (1, 2):
        assert (out[d].n_tokens_before, out[d].n_removed, out[d].clean_text) == (
            0,
            0,
            "",
        )
    assert out[3].n_tokens_before == 3


def test_source_ablation_consistency(spark):
    import pandas as pd
    import pytest

    from lakehouse_poc_spark import plans

    sf = "/root/testdata/sf0.001"
    out = plans.QUERIES["source_ablation_docs"](spark, sf).toPandas()
    docs = pd.read_parquet(f"{sf}/documents.parquet")
    docs = docs[docs["text"].str.len() > 0]
    total_tokens = int(
        docs["text"].str.split(r"\s+").str.len().sum()
    )
    assert (out["tokens_removed"] + out["remaining_tokens"]
            == total_tokens).all()
    assert out["docs_removed"].sum() == len(docs)
    # full mean identical across rows
    assert out["full_mean_score"].nunique() == 1
    for _, row in out.iterrows():
        rest = docs[docs["source"] != row["source"]]
        import numpy as np

        alpha = rest["text"].str.count(r"[A-Za-z]")
        # engines round half AWAY from zero; numpy .round() is
        # half-to-even — floor(x+0.5) matches for positive scores
        micro = np.floor(alpha / rest["text"].str.len() * 1e6 + 0.5)
        ref = micro.sum() / 1e6 / len(rest)
        assert row["remaining_mean_score"] == pytest.approx(ref, rel=1e-9)


def test_js_divergence_bounds_and_brute(spark):
    import re
    from collections import Counter

    import numpy as np
    import pandas as pd
    import pytest

    from lakehouse_poc_spark import plans

    sf = "/root/testdata/sf0.001"
    out = plans.QUERIES["js_divergence_sources"](spark, sf).toPandas()
    assert ((out["jsd"] >= 0) & (out["jsd"] <= np.log(2) + 1e-9)).all()
    docs = pd.read_parquet(f"{sf}/documents.parquet")
    glob = Counter()
    per = {}
    for r in docs.itertuples():
        c = Counter(re.split(r"\s+", r.text))
        glob.update(c)
        per.setdefault(r.source, Counter()).update(c)
    n = sum(glob.values())
    for _, row in out.iterrows():
        s = per[row["source"]]
        ns = sum(s.values())
        jsd = 0.0
        for t, cg in glob.items():
            q = cg / n
            p = s.get(t, 0) / ns
            m = (p + q) / 2
            term = (0.5 * p * np.log(p / m) if p > 0 else 0.0) + (
                0.5 * q * np.log(q / m)
            )
            jsd += round(term * 1e12)
        assert row["tokens_covered"] == len(s)
        assert row["jsd"] == pytest.approx(jsd / 1e12, abs=1e-9)


def test_quantile_normalize_is_uniform(spark):
    import numpy as np

    from lakehouse_poc_spark import plans

    sf = "/root/testdata/sf0.001"
    out = plans.QUERIES["quantile_normalize_docs"](spark, sf).toPandas()
    n = len(out)
    # ranks are a permutation of 1..n and pct midpoints are uniform
    assert sorted(out["rk"]) == list(range(1, n + 1))
    assert np.isclose(out["pct"].mean(), 0.5, atol=1e-12)
    srt = out.sort_values("rk")
    assert (srt["score"].diff().dropna() >= 0).all()
