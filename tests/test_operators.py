"""Operator unit tests: dedup-latest ties, sessionize boundaries,
as-of join vs pandas merge_asof, band join edges, change detection."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from lakehouse_poc_spark.operators.asof import asof_join
from lakehouse_poc_spark.operators.changes import any_change_sql
from lakehouse_poc_spark.operators.dedup_latest import dedup_latest
from lakehouse_poc_spark.operators.range_join import band_join
from lakehouse_poc_spark.operators.sessionize import sessionize


def test_dedup_latest_tiebreak(spark):
    df = spark.createDataFrame(
        [("a", 1, "x"), ("a", 1, "y"), ("a", 2, "z"), ("b", 1, "w")],
        "k string, ts long, v string",
    )
    out = dedup_latest(df, keys=["k"], order_by=["ts", "v"]).orderBy("k").collect()
    assert [(r.k, r.v) for r in out] == [("a", "z"), ("b", "w")]
    first = dedup_latest(df, keys=["k"], order_by=["ts", "v"], keep="first").orderBy("k").collect()
    assert [(r.k, r.v) for r in first] == [("a", "x"), ("b", "w")]


def test_latest_value_by(spark):
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 3, 30.0), ("a", 2, 20.0)], "k string, ts long, v double"
    )
    out = dedup_latest(df, ["k"], ["ts"]).collect()
    assert [(r.k, r.v) for r in out] == [("a", 30.0)]


def test_sessionize_gap_boundary(spark):
    # gap of exactly `gap` does NOT start a new session; gap+1 does.
    df = spark.createDataFrame(
        [("u", 0, 1), ("u", 100, 2), ("u", 200, 3), ("u", 301, 4)],
        "k string, t long, id long",
    )
    out = (
        sessionize(df, keys=["k"], ts_col="t", gap=100, tiebreak=["id"])
        .orderBy("t")
        .collect()
    )
    assert [r.session_id for r in out] == [1, 1, 1, 2]


def test_asof_join_matches_pandas(spark):
    left = pd.DataFrame(
        {"k": ["a"] * 4 + ["b"] * 2, "t": [5, 10, 15, 2, 7, 1], "lid": range(6)}
    )
    right = pd.DataFrame(
        {"k": ["a", "a", "b"], "rt": [4, 10, 8], "payload": ["p1", "p2", "p3"]}
    )
    sl = spark.createDataFrame(left)
    sr = spark.createDataFrame(right)
    out = (
        asof_join(sl, sr, left_on="t", right_on="rt", by_left=["k"], by_right=["k"],
                  right_payload=["payload"])
        .orderBy("lid")
        .toPandas()
    )
    expected = pd.merge_asof(
        left.sort_values("t"), right.sort_values("rt"),
        left_on="t", right_on="rt", by="k", direction="backward",
    ).sort_values("lid")
    assert list(out["payload"].fillna("-")) == list(expected["payload"].fillna("-"))


def test_asof_join_strict_matches_pandas(spark):
    # t=10 has a right row at exactly rt=10: inclusive matches it (p2),
    # strict must fall back to rt=4 (p1).
    left = pd.DataFrame(
        {"k": ["a"] * 4 + ["b"] * 2, "t": [5, 10, 15, 2, 7, 1], "lid": range(6)}
    )
    right = pd.DataFrame(
        {"k": ["a", "a", "b"], "rt": [4, 10, 8], "payload": ["p1", "p2", "p3"]}
    )
    sl = spark.createDataFrame(left)
    sr = spark.createDataFrame(right)
    out = (
        asof_join(sl, sr, left_on="t", right_on="rt", by_left=["k"], by_right=["k"],
                  right_payload=["payload"], strict=True)
        .orderBy("lid")
        .toPandas()
    )
    expected = pd.merge_asof(
        left.sort_values("t"), right.sort_values("rt"),
        left_on="t", right_on="rt", by="k", direction="backward",
        allow_exact_matches=False,
    ).sort_values("lid")
    assert list(out["payload"].fillna("-")) == list(expected["payload"].fillna("-"))


def test_asof_join_forward_and_nearest_match_pandas(spark):
    left = pd.DataFrame(
        {"k": ["a"] * 5 + ["b"] * 3, "t": [1, 4, 10, 11, 30, 2, 8, 9], "lid": range(8)}
    )
    right = pd.DataFrame(
        {"k": ["a", "a", "a", "b"], "rt": [4, 10, 12, 8], "payload": ["p1", "p2", "p3", "p4"]}
    )
    sl = spark.createDataFrame(left)
    sr = spark.createDataFrame(right)
    for direction, exact in [("forward", True), ("forward", False),
                             ("nearest", True)]:
        out = (
            asof_join(sl, sr, left_on="t", right_on="rt", by_left=["k"], by_right=["k"],
                      right_payload=["payload"], direction=direction, strict=not exact)
            .orderBy("lid")
            .toPandas()
        )
        expected = pd.merge_asof(
            left.sort_values("t"), right.sort_values("rt"),
            left_on="t", right_on="rt", by="k", direction=direction,
            allow_exact_matches=exact,
        ).sort_values("lid")
        assert list(out["payload"].fillna("-")) == list(
            expected["payload"].fillna("-")
        ), direction


def test_band_join_boundaries(spark):
    df = spark.createDataFrame([(0.0,), (49.999,), (50.0,), (99.9,)], "v double")
    bands = spark.createDataFrame(
        [(0.0, 50.0, "lo"), (50.0, 100.0, "hi")], "lo double, hi double, band string"
    )
    out = band_join(df, bands, value_col="v").orderBy("v").collect()
    assert [r.band for r in out] == ["lo", "lo", "hi", "hi"]  # [lo, hi) closed-left


def test_any_change_null_safety(spark):
    l = spark.createDataFrame([("k", None), ("k2", "v")], "id string, c string").alias("L")
    r = spark.createDataFrame([("k", "v"), ("k2", "v")], "id string, c string").alias("R")
    j = l.join(r, F.col("L.id") == F.col("R.id"))
    changed = j.filter(any_change_sql("L", "R", ["c"])).select(F.col("L.id")).collect()
    assert [row.id for row in changed] == ["k"]  # NULL vs 'v' IS a change


def test_approx_distinct_within_rsd_bound(spark):
    """The HLL++ estimate itself (not on the oracle surface) stays
    within 5% relative error of the exact count at rsd=0.02."""
    from lakehouse_poc_spark.sources.readers import read_parquet_table

    ev = read_parquet_table(spark, "/root/testdata/sf0.001", "events")
    rows = (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        rel_err = abs(r.approx_users - r.exact_users) / r.exact_users
        assert rel_err < 0.05, (r.event_type, r.approx_users, r.exact_users)


def test_approx_distinct_query_surface_matches_exact(spark):
    """The registered query's checked surface: exact counts plus the
    within-bound boolean, which must be uniformly TRUE (the DuckDB
    oracle emits literal TRUE)."""
    from lakehouse_poc_spark.plans import QUERIES

    rows = QUERIES["approx_distinct_users"](spark, "/root/testdata/sf0.001").collect()
    assert rows
    assert all(r.approx_within_5pct for r in rows), rows


def test_pandas_bridge_arrow_roundtrip(spark):
    """Reference S6: the pandas → Spark bridge (Arrow-accelerated) and
    back — schemas and values survive both directions."""
    pdf = pd.DataFrame(
        {"k": ["a", "b", "c"], "v": [1.5, 2.5, None], "n": [1, 2, 3]}
    )
    df = spark.createDataFrame(pdf)
    assert df.count() == 3
    back = df.orderBy("k").toPandas()
    assert list(back["k"]) == ["a", "b", "c"]
    assert back["n"].tolist() == [1, 2, 3]
    assert pd.isna(back["v"][2]) and back["v"][1] == 2.5


def test_table_diff_classifies_all_statuses(spark):
    from lakehouse_poc_spark.operators.diff import diff_summary, table_diff

    l = spark.createDataFrame(
        [(1, "a", None), (2, "b", "x"), (3, "c", "y"), (4, None, None)],
        "k long, v1 string, v2 string",
    )
    r = spark.createDataFrame(
        [(2, "b", "x"), (3, "CHANGED", "y"), (4, None, "now-set"), (5, "new", None)],
        "k long, v1 string, v2 string",
    )
    rows = {
        row["k"]: row["status"]
        for row in table_diff(l, r, ["k"], ["v1", "v2"]).collect()
    }
    # null-safe compare: 4's NULL→"now-set" is a CHANGE (the reference's
    # != would miss it); 2's exact match incl. nulls is same
    assert rows == {
        1: "only_left",
        2: "same",
        3: "changed",
        4: "changed",
        5: "only_right",
    }
    summary = {
        row["status"]: row["n"]
        for row in diff_summary(l, r, ["k"], ["v1", "v2"]).collect()
    }
    assert summary == {"only_left": 1, "same": 1, "changed": 2, "only_right": 1}


def test_global_rank_matches_single_window_with_tiny_blocks(spark):
    """Blocks smaller than the neighborhood window are the dangerous
    case (pairs straddle >2 blocks in rank space) — the two-phase rank
    and the pair generator must still match the single-sort truth."""
    from pyspark.sql import Window

    from lakehouse_poc_spark.operators.linkage import (
        global_rank,
        sorted_neighborhood_pairs,
    )

    rows = [(i, f"{chr(97 + i % 13)}{i:03d}") for i in range(40)]
    df = spark.createDataFrame(rows, ["id", "name"])
    # block = first char → 13 blocks of ~3 rows, window=5 > block size
    two_phase = {
        (r.id, r.rank)
        for r in global_rank(
            df, ["name", "id"], F.substring("name", 1, 1)
        ).collect()
    }
    w = Window.orderBy("name", "id")
    truth = {
        (r.id, r.rank)
        for r in df.withColumn("rank", F.row_number().over(w)).collect()
    }
    assert two_phase == truth

    pairs = sorted_neighborhood_pairs(
        df, ["name", "id"], F.substring("name", 1, 1), "id", window=5
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    rank_of = dict((i, rk) for i, rk in truth)
    want = {
        (a, b)
        for a in rank_of
        for b in rank_of
        if 0 < rank_of[b] - rank_of[a] <= 5
    }
    assert got == want


def test_weighted_median_udaf_reference(spark):
    from lakehouse_poc_spark.operators.udafs import weighted_median_udaf

    rows = [
        # group a: values 1..4 with weights 1,1,1,1 → cum*2>=4 at v=2
        ("a", 1.0, 1, 1), ("a", 2.0, 1, 2), ("a", 3.0, 1, 3), ("a", 4.0, 1, 4),
        # group b: heavy weight pins the median to 10.0
        ("b", 10.0, 5, 1), ("b", 99.0, 1, 2), ("b", 100.0, 1, 3),
        # group c: single row
        ("c", 7.0, 3, 1),
    ]
    df = spark.createDataFrame(rows, "g string, v double, w long, i long")
    wm = weighted_median_udaf()
    got = {
        r.g: r.m
        for r in df.groupBy("g").agg(wm("v", "w", "i").alias("m")).collect()
    }
    assert got == {"a": 2.0, "b": 10.0, "c": 7.0}


def test_exact_quantiles_match_percentile_disc(spark):
    """Blocked two-pass selection must reproduce Spark's own
    percentile_disc on ties, duplicates, nulls, and q edge cases —
    without the global sort percentile_disc implies."""
    from pyspark.sql import functions as F

    from lakehouse_poc_spark.operators.stats import exact_quantiles

    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0, None, 5.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    qs = [0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0]
    got = {
        r.q: r.value
        for r in exact_quantiles(
            df, "v", qs, block=F.floor(F.col("v") / 2).cast("long")
        ).collect()
    }
    df.createOrReplaceTempView("__eq_t")
    for q in qs:
        expect = spark.sql(
            f"SELECT percentile_disc({q}) WITHIN GROUP (ORDER BY v) AS p "
            "FROM __eq_t"
        ).collect()[0]["p"]
        assert got[q] == expect, (q, got[q], expect)


def test_frequent_pairs_apriori_and_mega_basket_cap(spark):
    """A-Priori pair pass: counts match the brute enumeration, the
    item prune never drops a frequent pair, and max_basket excludes
    the mega-basket from all supports (signal-free by argument)."""
    from lakehouse_poc_spark.operators.itemsets import frequent_pairs

    rows = [
        (1, "a"), (1, "b"), (1, "c"),
        (2, "a"), (2, "b"),
        (3, "a"), (3, "b"), (3, "d"),
        (4, "c"), (4, "d"),
        (5, "a"),
        # basket 6 is a mega-basket containing everything
        (6, "a"), (6, "b"), (6, "c"), (6, "d"), (6, "e"),
    ]
    df = spark.createDataFrame(rows, "bk long, item string")

    out = {
        (r.item_a, r.item_b): r
        for r in frequent_pairs(df, "bk", "item", minsup=2).collect()
    }
    # brute: ab appears in baskets 1,2,3,6 -> 4; ac in 1,6 -> 2 ...
    assert out[("a", "b")].pair_cnt == 4
    assert out[("a", "c")].pair_cnt == 2
    assert out[("c", "d")].pair_cnt == 2
    assert ("d", "e") not in out  # e has support 1 -> pruned
    r = out[("a", "b")]
    assert r.confidence == r.pair_cnt / r.supp_a
    assert r.lift == (r.pair_cnt * 6.0) / (r.supp_a * r.supp_b)

    capped = {
        (r.item_a, r.item_b): r
        for r in frequent_pairs(df, "bk", "item", minsup=2, max_basket=4).collect()
    }
    assert capped[("a", "b")].pair_cnt == 3  # basket 6 dropped
    assert capped[("a", "b")].supp_a == 4  # a's support excludes it too
    assert ("a", "c") not in capped  # ac only co-occurs via 1 and 6


def test_km_survival_textbook_example(spark):
    """Hand-computed KM: durations 1,2†,3,3,4† († censored).
    t=1: n=5 d=1 -> S=4/5; t=2: censor only, S unchanged;
    t=3: n=3 d=2 -> S=4/5*1/3; t=4: censor only."""
    import math

    from lakehouse_poc_spark.operators.stats import km_survival

    rows = [(1, True), (2, False), (3, True), (3, True), (4, False)]
    df = spark.createDataFrame(rows, "duration long, is_event boolean")
    out = {r.t: r for r in km_survival(df).collect()}
    assert out[1].n_risk == 5 and out[1].n_events == 1
    assert out[2].n_risk == 4 and out[2].n_censored == 1
    assert out[3].n_risk == 3 and out[3].n_events == 2
    assert out[4].n_risk == 1 and out[4].n_censored == 1

    def micro(x):
        return math.floor(x * 1e6 + 0.5) if x >= 0 else -math.floor(-x * 1e6 + 0.5)

    s1 = micro(math.log(1 - 1 / 5))
    s3 = s1 + micro(math.log(1 - 2 / 3))
    assert out[1].log_surv_micro == s1
    assert out[2].log_surv_micro == s1  # censoring never steps the curve
    assert out[3].log_surv_micro == s3
    assert out[4].log_surv_micro == s3
    assert abs(math.exp(out[3].log_survival) - (4 / 5) * (1 / 3)) < 1e-5


def test_km_survival_absorption_nulls_tail(spark):
    """If every remaining subject dies at t (S hits exactly 0), the
    log-survival is NULL from that step on, never -inf."""
    from lakehouse_poc_spark.operators.stats import km_survival

    rows = [(1, True), (2, True), (2, True)]
    df = spark.createDataFrame(rows, "duration long, is_event boolean")
    out = {r.t: r for r in km_survival(df).collect()}
    assert out[1].log_surv_micro is not None
    assert out[2].log_surv_micro is None and out[2].log_survival is None


def test_frequent_triples_matches_brute(spark):
    """Triple pass == brute enumeration; downward-closure prune is
    lossless (a triple frequent => all its pairs frequent)."""
    from collections import Counter

    from lakehouse_poc_spark.operators.itemsets import frequent_triples

    rows = [
        (1, "a"), (1, "b"), (1, "c"), (1, "d"),
        (2, "a"), (2, "b"), (2, "c"),
        (3, "a"), (3, "b"), (3, "c"),
        (4, "b"), (4, "c"), (4, "d"),
        (5, "a"), (5, "d"),
    ]
    df = spark.createDataFrame(rows, "bk long, item string")
    got = {
        (r.item_a, r.item_b, r.item_c): r.triple_cnt
        for r in frequent_triples(df, "bk", "item", minsup=2).collect()
    }
    by_bk = {}
    for bk, it in rows:
        by_bk.setdefault(bk, set()).add(it)
    cnt = Counter()
    for items in by_bk.values():
        s = sorted(items)
        for i in range(len(s)):
            for j in range(i + 1, len(s)):
                for k in range(j + 1, len(s)):
                    cnt[(s[i], s[j], s[k])] += 1
    expect = {t: c for t, c in cnt.items() if c >= 2}
    assert got == expect
    assert got[("a", "b", "c")] == 3


def test_auc_exact_matches_brute_midranks(spark):
    """auc_exact == the hand-computed tie-corrected Mann-Whitney AUC
    on data with heavy ties, and blocked_cumsum == the global-window
    prefix sum it replaces."""
    import random as _random

    from lakehouse_poc_spark.operators.stats import auc_exact, blocked_cumsum

    rng = _random.Random(3)
    rows = [(rng.randrange(0, 8), rng.random() < 0.4) for _ in range(200)]
    df = spark.createDataFrame(rows, "s long, y boolean")

    # brute: midranks over the sorted scores
    xs = sorted(rows, key=lambda r: r[0])
    ranks = {}
    i = 0
    while i < len(xs):
        j = i
        while j < len(xs) and xs[j][0] == xs[i][0]:
            j += 1
        mid = (i + 1 + j) / 2  # average of ranks i+1..j
        ranks[xs[i][0]] = mid
        i = j
    n_pos = sum(1 for _, y in rows if y)
    n_neg = len(rows) - n_pos
    u = sum(ranks[s] for s, y in rows if y) - n_pos * (n_pos + 1) / 2
    expect_auc = u / (n_pos * n_neg)

    out = auc_exact(
        df, "s", "y", block=F.floor(F.col("s") / F.lit(3)).cast("long")
    ).collect()[0]
    assert (out.n_pos, out.n_neg) == (n_pos, n_neg)
    assert abs(out.auc - expect_auc) < 1e-12

    # blocked cumsum parity vs a plain python prefix sum
    per = [(s, sum(1 for x, _ in rows if x == s)) for s in sorted({s for s, _ in rows})]
    pdf = spark.createDataFrame(per, "s long, c long")
    got = {
        r.s: r.cum
        for r in blocked_cumsum(
            pdf, "s", "c", F.floor(F.col("s") / F.lit(3)).cast("long")
        ).collect()
    }
    acc = 0
    for s, c in per:
        assert got[s] == acc, s
        acc += c
