"""Stat-operator tests: brute-force (pandas/numpy) parity for the
exact-sum formulations in plans/statops.py, plus invariants for the
rank-derived segmentations and the block-offset prefix-sum helper."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from lakehouse_poc_spark import plans

SF = "/root/testdata/sf0.001"


def test_ols_trend_matches_numpy(spark):
    out = plans.QUERIES["ols_trend_events"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ev["x"] = (
        ev["ts"].astype("datetime64[ns]").astype("int64") // 10**9
    ) // 3600
    for _, row in out.iterrows():
        g = ev[ev["event_type"] == row["event_type"]]
        slope, intercept = np.polyfit(g["x"].astype(float), g["value"], 1)
        r = np.corrcoef(g["x"].astype(float), g["value"])[0, 1]
        assert row["n"] == len(g)
        assert row["slope"] == pytest.approx(slope, rel=1e-6, abs=1e-12)
        assert row["intercept"] == pytest.approx(intercept, rel=1e-6)
        assert row["r2"] == pytest.approx(r * r, rel=1e-6, abs=1e-12)


def test_acf_matches_numpy(spark):
    out = plans.QUERIES["acf_hourly_events"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    hours = (
        ev["ts"].astype("datetime64[ns]").astype("int64") // 10**9
    ) // 3600
    series = hours.value_counts().sort_index().to_numpy(dtype=float)
    assert list(out["lag"]) == [1, 2, 3]
    for _, row in out.iterrows():
        lag = int(row["lag"])
        x, y = series[lag:], series[:-lag]
        assert row["n_pairs"] == len(x)
        assert row["acf"] == pytest.approx(
            np.corrcoef(x, y)[0, 1], rel=1e-9
        )


def test_moments_match_numpy(spark):
    out = plans.QUERIES["moments_profile_events"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    for _, row in out.iterrows():
        v = ev.loc[ev["event_type"] == row["event_type"], "value"].to_numpy()
        mu, m2 = v.mean(), ((v - v.mean()) ** 2).mean()
        m3 = ((v - mu) ** 3).mean()
        m4 = ((v - mu) ** 4).mean()
        assert row["mean"] == pytest.approx(mu, rel=1e-9)
        assert row["var_pop"] == pytest.approx(m2, rel=1e-9)
        assert row["skewness"] == pytest.approx(m3 / m2**1.5, rel=1e-6)
        assert row["kurtosis_excess"] == pytest.approx(
            m4 / m2**2 - 3.0, rel=1e-6
        )


def test_rfm_scores_consistent(spark):
    out = plans.QUERIES["rfm_segments_customers"](spark, SF).toPandas()
    orders = pd.read_parquet(f"{SF}/orders.parquet")
    assert len(out) == orders["o_custkey"].nunique()
    for c in ("r_score", "f_score", "m_score"):
        assert out[c].between(1, 4).all()
    # segment string is exactly the three scores concatenated
    seg = (
        out["r_score"].astype(str)
        + out["f_score"].astype(str)
        + out["m_score"].astype(str)
    )
    assert (out["segment"] == seg).all()
    # quartiles are balanced to within one rank-block each
    n = len(out)
    for c in ("r_score", "f_score", "m_score"):
        counts = out[c].value_counts()
        assert counts.max() - counts.min() <= n // 4 + 1
    # monotonicity: strictly more frequent customer never scores lower
    s = out.sort_values("frequency")
    f_by_freq = s.groupby("frequency")["f_score"].agg(["min", "max"])
    prev_max = 0
    for _, r in f_by_freq.iterrows():
        assert r["min"] >= prev_max - 0  # scores non-decreasing in frequency
        prev_max = max(prev_max, r["min"])


def test_abc_partitions_and_monotone_share(spark):
    out = plans.QUERIES["abc_analysis_parts"](spark, SF).toPandas()
    assert (out["cum_share"].diff().fillna(1) > 0).all()
    assert out["cum_share"].iloc[-1] == pytest.approx(1.0, abs=1e-12)
    # classes follow the thresholds in rank order: A then B then C
    classes = "".join(out["abc_class"])
    assert classes == "A" * classes.count("A") + "B" * classes.count(
        "B"
    ) + "C" * classes.count("C")
    assert (out.loc[out["abc_class"] == "A", "cum_share"] <= 0.70 + 1e-12).all()
    # revenue matches a pandas recomputation
    li = pd.read_parquet(f"{SF}/lineitem.parquet")
    li["rev"] = li["l_extendedprice"] * (1 - li["l_discount"])
    rev = li.groupby("l_partkey")["rev"].sum()
    top = out.iloc[0]
    assert top["revenue"] == pytest.approx(rev.max(), rel=1e-9)


def test_node_jaccard_matches_brute(spark):
    out = plans.QUERIES["node_jaccard_event_types"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    sets = {
        t: set(g["user_id"]) for t, g in ev.groupby("event_type")
    }
    types = sorted(sets)
    expect = {
        (a, b): len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        for i, a in enumerate(types)
        for b in types[i + 1 :]
        if sets[a] & sets[b]
    }
    got = {
        (r["type_a"], r["type_b"]): r["jaccard"] for _, r in out.iterrows()
    }
    assert got.keys() == expect.keys()
    for k in expect:
        assert got[k] == pytest.approx(expect[k], rel=1e-12)


def test_global_cumsum_matches_single_window(spark):
    from lakehouse_poc_spark.operators.linkage import global_cumsum

    df = spark.range(100).select(
        F.col("id"),
        (F.col("id") % 7).alias("k"),
        (F.col("id") * F.lit(1.5)).cast("decimal(20,2)").alias("v"),
    )
    got = (
        global_cumsum(df, ["id"], (F.col("id") / F.lit(10)).cast("long"), "v")
        .orderBy("id")
        .select("id", "cum")
        .toPandas()
    )
    from pyspark.sql import Window

    w = (
        Window.orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ref = (
        df.withColumn("cum", F.sum("v").over(w))
        .orderBy("id")
        .select("id", "cum")
        .toPandas()
    )
    assert list(got["cum"]) == list(ref["cum"])


def test_global_cumsum_rejects_non_decimal(spark):
    from lakehouse_poc_spark.operators.linkage import global_cumsum

    df = spark.range(10).select(F.col("id"), F.col("id").cast("double").alias("v"))
    with pytest.raises(TypeError, match="DecimalType"):
        global_cumsum(df, ["id"], F.lit(0), "v")


def test_reachability_matches_bfs(spark):
    out = plans.QUERIES["reachability_event_types"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet").sort_values(
        ["user_id", "ts", "event_id"]
    )
    edges = set()
    for _, g in ev.groupby("user_id"):
        ts = list(g["event_type"])
        edges |= {(a, b) for a, b in zip(ts, ts[1:]) if a != b}
    # BFS min-hops per source
    from collections import deque

    adj: dict[str, list[str]] = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
    expect = {}
    for src in adj:
        dist = {src: 0}
        q = deque([src])
        while q:
            u = q.popleft()
            for v in adj.get(u, []):
                if v not in dist or dist[u] + 1 < dist[v]:
                    dist[v] = dist[u] + 1
                    q.append(v)
        for dst, d in dist.items():
            if d > 0:
                expect[(src, dst)] = d
        # cycles back to src: shortest src→…→src loop
        loop = min(
            (dist[a] + 1 for a, b in edges if b == src and a in dist),
            default=None,
        )
        if loop:
            expect[(src, src)] = loop
    got = {
        (r["src_type"], r["dst_type"]): r["min_hops"] for _, r in out.iterrows()
    }
    assert got == expect


def test_pattern_match_matches_re(spark):
    import re

    out = plans.QUERIES["event_pattern_match_users"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet").sort_values(
        ["ts", "event_id"]
    )
    seqs = (
        ev.assign(c=ev["event_type"].str[0])
        .groupby("user_id")["c"]
        .agg("".join)
    )
    for _, r in out.iterrows():
        seq = seqs[r["user_id"]]
        hits = re.findall("v+c+p", seq)
        assert r["n_events"] == len(seq)
        assert r["n_funnels"] == len(hits)
        assert r["converted"] == (len(hits) > 0)


def test_cms_overestimates_never_undercount(spark):
    out = plans.QUERIES["cms_heavy_hitters_users"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    exact = ev.groupby("user_id").size()
    assert (out["overestimate"] >= 0).all()
    for _, r in out.iterrows():
        assert r["exact_count"] == exact[r["user_id"]]
        assert r["cms_est"] >= r["exact_count"]
    # top-20 selection really is the exact top by count (tie: user_id)
    top = exact.reset_index().rename(columns={0: "c"}).sort_values(
        ["c", "user_id"], ascending=[False, True]
    )["user_id"].head(len(out))
    assert list(out["user_id"]) == list(top)


def test_spatial_pairs_match_brute(spark):
    """Grid-neighborhood join finds EXACTLY the all-pairs-within-radius
    set (cell pitch == radius ⇒ 3×3 ring covers every qualifying pair
    once)."""
    out = plans.QUERIES["spatial_neighbor_pairs_customers"](
        spark, SF
    ).toPandas()
    cust = pd.read_parquet(f"{SF}/customer.parquet")
    k = cust["c_custkey"].to_numpy()
    lat = (k * 37 % 18000) / 100.0 - 90.0
    lon = (k * 91 % 36000) / 100.0 - 180.0
    d2 = (lat[:, None] - lat[None, :]) ** 2 + (lon[:, None] - lon[None, :]) ** 2
    ii, jj = np.where(d2 <= 9.0)
    brute = {
        (int(min(k[i], k[j])), int(max(k[i], k[j])))
        for i, j in zip(ii, jj)
        if k[i] < k[j]
    }
    got = {(int(r["id_a"]), int(r["id_b"])) for _, r in out.iterrows()}
    assert got == brute


def test_spatial_density_totals(spark):
    out = plans.QUERIES["spatial_density_cells"](spark, SF).toPandas()
    cust = pd.read_parquet(f"{SF}/customer.parquet")
    assert out["n_points"].sum() == len(cust)
    # bounding boxes live inside their cells
    assert (out["lat_min"] >= out["cx"] * 3.0 - 1e-9).all()
    assert (out["lat_max"] < (out["cx"] + 1) * 3.0 + 1e-9).all()


def test_percentile_cont_matches_numpy(spark):
    out = plans.QUERIES["percentile_cont_order_price"](spark, SF).toPandas()
    orders = pd.read_parquet(f"{SF}/orders.parquet")
    for _, r in out.iterrows():
        vals = orders.loc[
            orders["o_orderpriority"] == r["prio"], "o_totalprice"
        ].to_numpy()
        assert r["pct_cont"] == pytest.approx(
            np.percentile(vals, r["q"] * 100, method="linear"), rel=1e-12
        )


def test_fim_transform_roundtrips(spark):
    out = plans.QUERIES["fim_transform_docs"](spark, SF).toPandas()
    docs = pd.read_parquet(f"{SF}/documents.parquet").set_index("doc_id")
    for _, r in out.head(50).iterrows():
        t = r["fim_text"]
        assert t.startswith("<PRE>")
        pre, rest = t[5:].split("<SUF>", 1)
        suf, mid = rest.split("<MID>", 1)
        assert pre + mid + suf == docs.loc[r["doc_id"], "text"]
        assert r["fim_len"] == len(t)


def test_mode_matches_pandas(spark):
    out = plans.QUERIES["mode_event_values"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    for _, r in out.iterrows():
        vc = ev.loc[ev["event_type"] == r["event_type"], "value"].value_counts()
        top = vc[vc == vc.max()]
        assert r["n_occurrences"] == vc.max()
        assert r["mode_value"] == min(top.index)


def test_null_semantics_identities(spark):
    row = plans.QUERIES["null_semantics_customers"](spark, SF).collect()[0]
    cust = pd.read_parquet(f"{SF}/customer.parquet")
    k = cust["c_custkey"]
    a_null = (k % 5 == 0).to_numpy()
    b_null = (k % 3 == 0).to_numpy()
    changed = ((k % 7 == 0) & ~(k % 3 == 0)).to_numpy()  # real value edits
    both_present_diff = (changed & ~a_null & ~b_null).sum()
    # plain != only sees both-present differences; IS DISTINCT FROM
    # additionally sees every NULL transition — the §7 semantics gap
    assert row.neq_true == both_present_diff
    assert row.reference_guard_true == both_present_diff
    assert row.distinct_from_true == int(
        ((a_null ^ b_null) | (changed & ~a_null & ~b_null)).sum()
    )
    assert row.both_null == int((a_null & b_null).sum())
    assert row.n_rows == len(cust)
    assert row.distinct_from_true > row.neq_true  # NULL transitions exist


def test_table_profile_matches_pandas(spark):
    out = plans.QUERIES["table_profile_orders"](spark, SF).toPandas()
    orders = pd.read_parquet(f"{SF}/orders.parquet")
    prof = out.set_index("column_name")
    assert (out["n_rows"] == len(orders)).all()
    for c in orders.columns:
        assert prof.loc[c, "n_distinct"] == orders[c].nunique()
        assert prof.loc[c, "n_nulls"] == orders[c].isna().sum()
    assert prof.loc["o_totalprice", "max_numeric"] == orders["o_totalprice"].max()
    assert prof.loc["o_orderstatus", "min_text"] == orders["o_orderstatus"].min()


def test_funnel_ttc_matches_pandas(spark):
    row = plans.QUERIES["funnel_time_to_convert_events"](spark, SF).collect()[0]
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ev["ts"] = ev["ts"].astype("datetime64[ns]")
    views = ev[ev.event_type == "view"].groupby("user_id")["ts"].min()
    gaps = []
    for uid, tv in views.items():
        later = ev[(ev.event_type == "purchase") & (ev.user_id == uid) & (ev.ts > tv)]
        if len(later):
            # floor each epoch separately (unix_timestamp semantics),
            # not the difference
            tp = later["ts"].min()
            gaps.append(tp.value // 10**9 - tv.value // 10**9)
    gaps.sort()
    assert row.n_viewers == len(views)
    assert row.n_converted == len(gaps)
    assert row.min_gap_s == gaps[0]
    assert row.max_gap_s == gaps[-1]
    import math
    assert row.median_gap_s == gaps[math.ceil(0.5 * len(gaps)) - 1]


# ---------------------------------------------------------------------------
# r7 continuation batch: OHLC, stickiness, TWAP, Mann-Whitney,
# changepoint, sketch-quantile gate, FD discovery, Kneser-Ney LM.


def test_ohlc_matches_pandas(spark):
    out = plans.QUERIES["ohlc_hourly_events"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ev["hr"] = (
        ev["ts"].astype("datetime64[ns]").astype("int64") // 10**9
    ) // 3600
    ev = ev.sort_values(["event_type", "hr", "ts", "event_id"])
    ref = (
        ev.groupby(["event_type", "hr"])
        .agg(
            n=("value", "size"),
            open=("value", "first"),
            high=("value", "max"),
            low=("value", "min"),
            close=("value", "last"),
        )
        .reset_index()
    )
    ref = ref[ref["n"] >= 3]
    assert len(out) == len(ref)
    m = out.merge(ref, left_on=["event_type", "hour_idx"],
                  right_on=["event_type", "hr"], suffixes=("", "_ref"))
    assert (m["open"] == m["open_ref"]).all()
    assert (m["close"] == m["close_ref"]).all()
    assert (m["high"] == m["high_ref"]).all()
    assert (m["low"] == m["low_ref"]).all()


def test_stickiness_bounds_and_counts(spark):
    out = plans.QUERIES["stickiness_events"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ev["month"] = ev["ts"].dt.strftime("%Y-%m")
    ev["d"] = ev["ts"].dt.date
    for _, row in out.iterrows():
        g = ev[ev["month"] == row["month"]]
        mau = g["user_id"].nunique()
        dau = g.groupby("d")["user_id"].nunique()
        assert row["mau"] == mau
        assert row["dau_sum"] == dau.sum()
        assert row["n_days"] == len(dau)
        assert 0 < row["stickiness"] <= 1.0
        assert row["stickiness"] == pytest.approx(
            dau.mean() / mau, rel=1e-12
        )


def test_twap_matches_pandas(spark):
    out = plans.QUERIES["twap_event_values"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ev["sec"] = ev["ts"].astype("datetime64[ns]").astype("int64") // 10**9
    for _, row in out.iterrows():
        g = ev[ev["event_type"] == row["event_type"]].sort_values(
            ["sec", "event_id"]
        )
        dt = g["sec"].shift(-1) - g["sec"]
        mask = dt.notna() & (dt > 0)
        v, w = g["value"][mask], dt[mask]
        assert row["n_intervals"] == int(mask.sum())
        assert row["total_secs"] == int(w.sum())
        assert row["twap"] == pytest.approx(
            float((v * w).sum() / w.sum()), rel=1e-9
        )


def test_mannwhitney_matches_brute(spark):
    out = plans.QUERIES["mannwhitney_click_purchase"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    a = ev[ev["event_type"] == "click"]["value"].to_numpy()
    b = ev[ev["event_type"] == "purchase"]["value"].to_numpy()
    both = np.concatenate([a, b])
    # average ranks (ties) via scipy-free rankdata
    order = both.argsort(kind="mergesort")
    ranks = np.empty(len(both))
    sorted_v = both[order]
    i = 0
    while i < len(sorted_v):
        j = i
        while j + 1 < len(sorted_v) and sorted_v[j + 1] == sorted_v[i]:
            j += 1
        ranks[order[i : j + 1]] = (i + j) / 2 + 1
        i = j + 1
    r1 = ranks[: len(a)].sum()
    u1 = r1 - len(a) * (len(a) + 1) / 2
    row = out.iloc[0]
    assert row["n1"] == len(a) and row["n2"] == len(b)
    assert row["u1"] == pytest.approx(u1, abs=1e-9)
    n = len(a) + len(b)
    _, counts = np.unique(both, return_counts=True)
    tie = (counts**3 - counts).sum()
    sigma2 = len(a) * len(b) / 12 * ((n + 1) - tie / (n * (n - 1)))
    z = (u1 - len(a) * len(b) / 2) / np.sqrt(sigma2)
    assert row["z"] == pytest.approx(z, rel=1e-9)


def test_changepoint_maximizes_gain(spark):
    out = plans.QUERIES["changepoint_event_values"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ev["hr"] = (
        ev["ts"].astype("datetime64[ns]").astype("int64") // 10**9
    ) // 3600
    for _, row in out.iterrows():
        g = (
            ev[ev["event_type"] == row["event_type"]]
            .groupby("hr")["value"]
            .agg(["sum", "size"])
            .sort_index()
        )
        s = g["sum"].to_numpy()
        n = g["size"].to_numpy(dtype=float)
        ls, ln = np.cumsum(s), np.cumsum(n)
        ts_, tn = s.sum(), n.sum()
        gains = (
            ls[:-1] ** 2 / ln[:-1]
            + (ts_ - ls[:-1]) ** 2 / (tn - ln[:-1])
            - ts_**2 / tn
        )
        best = gains.max()
        assert row["gain"] == pytest.approx(best, rel=1e-6)
        # the reported split achieves the max
        hrs = g.index.to_numpy()
        k = np.where(hrs[:-1] == row["split_hour"])[0]
        assert len(k) == 1 and gains[k[0]] == pytest.approx(best, rel=1e-9)


def test_sketch_quantile_gate_within_bin(spark):
    out = plans.QUERIES["sketch_quantile_gate_events"](spark, SF).toPandas()
    assert list(out["q"]) == [0.25, 0.5, 0.75, 0.99]
    assert out["within_one_bin"].all()
    ev = pd.read_parquet(f"{SF}/events.parquet")["value"].dropna()
    for _, row in out.iterrows():
        exact = ev.sort_values().iloc[
            max(0, int(np.ceil(row["q"] * len(ev))) - 1)
        ]
        assert row["exact_value"] == pytest.approx(exact, rel=1e-12)


def test_functional_deps_orders(spark):
    out = plans.QUERIES["functional_deps_orders"](spark, SF).toPandas()
    orders = pd.read_parquet(f"{SF}/orders.parquet")
    byk = out.set_index(["lhs", "rhs"])
    # key FD must hold; shippriority is constant so priority -> ship holds
    assert bool(byk.loc[("o_orderkey", "o_custkey")]["holds"])
    for (lhs, rhs), row in byk.iterrows():
        nl = orders[lhs].nunique()
        np_ = orders[[lhs, rhs]].drop_duplicates().shape[0]
        assert row["n_lhs"] == nl and row["n_pairs"] == np_
        assert row["holds"] == (nl == np_)
        assert row["violations"] == np_ - nl


def test_kneser_ney_probabilities_sum_to_one(spark):
    # for a seen history w1, sum_w2 P_KN(w2|w1) over the TRAIN vocab
    # (+1-smoothed continuation) must be <= 1 and close to 1 up to
    # the smoothing deficit; spot-check the score pipeline end-to-end
    out = plans.QUERIES["kneser_ney_logprob_docs"](spark, SF).toPandas()
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    assert len(out) <= len(docs)
    assert (out["mean_logprob"] < 0).all()
    assert (out["n_oov_history"] <= out["n_bigrams"]).all()
    # train-half docs score strictly better on average than held-out
    even = out[out["doc_id"] % 2 == 0]["mean_logprob"].mean()
    odd = out[out["doc_id"] % 2 == 1]["mean_logprob"].mean()
    assert even > odd


def test_kneser_ney_matches_brute(spark):
    out = (
        plans.QUERIES["kneser_ney_logprob_docs"](spark, SF)
        .toPandas()
        .set_index("doc_id")
    )
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    import re as _re

    toks = {
        r.doc_id: [t for t in _re.split(r"\s+", r.text) if True]
        for r in docs.itertuples()
    }
    from collections import Counter, defaultdict

    c12 = Counter()
    for d, ts_ in toks.items():
        if d % 2 == 0:
            for w1, w2 in zip(ts_, ts_[1:]):
                c12[(w1, w2)] += 1
    c1, fw, bw = Counter(), defaultdict(set), defaultdict(set)
    for (w1, w2), c in c12.items():
        c1[w1] += c
        fw[w1].add(w2)
        bw[w2].add(w1)
    n_types = len(c12)
    v = len({w2 for _, w2 in c12})
    D = 0.75

    def pkn(w1, w2):
        pc = (len(bw.get(w2, ())) + 1.0) / (n_types + v)
        if w1 not in c1:
            return pc
        cc = c12.get((w1, w2), 0)
        return max(cc - D, 0.0) / c1[w1] + D * len(fw[w1]) / c1[w1] * pc

    import math

    for d in list(out.index)[:20]:
        ts_ = toks[d]
        micro = 0
        nb = 0
        for w1, w2 in zip(ts_, ts_[1:]):
            micro += round(math.log(pkn(w1, w2)) * 1_000_000)
            nb += 1
        assert out.loc[d]["n_bigrams"] == nb
        assert out.loc[d]["logp_sum_micro"] == micro


def test_theil_sen_matches_numpy(spark):
    out = plans.QUERIES["theil_sen_daily_events"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    days = (
        (ev["ts"].astype("datetime64[ns]").astype("int64") // 10**9)
        // 86400
    )
    series = days.value_counts().sort_index()
    d = series.index.to_numpy(dtype=float)
    c = series.to_numpy(dtype=float)
    slopes = []
    for i in range(len(d)):
        for j in range(i + 1, len(d)):
            slopes.append((c[j] - c[i]) / (d[j] - d[i]))
    slopes.sort()
    rank = max(1, int(np.ceil(0.5 * len(slopes))))
    assert out.iloc[0]["n_pairs"] == len(slopes)
    assert out.iloc[0]["theil_sen_slope"] == slopes[rank - 1]


def test_trimmed_mean_matches_pandas(spark):
    out = plans.QUERIES["trimmed_mean_event_values"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    for _, row in out.iterrows():
        g = ev[ev["event_type"] == row["event_type"]].sort_values(
            ["value", "event_id"]
        )
        t = int(np.ceil(0.05 * len(g)))
        mid = g["value"].iloc[t : len(g) - t]
        assert row["n"] == len(g) and row["n_kept"] == len(mid)
        assert row["trimmed_mean"] == pytest.approx(mid.mean(), rel=1e-9)
        # trimmed mean is between min and max of the kept middle
        assert mid.min() <= row["trimmed_mean"] <= mid.max()


def test_zipf_fit_matches_numpy(spark):
    import re

    out = plans.QUERIES["zipf_fit_tokens"](spark, SF).toPandas()
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    from collections import Counter

    tf = Counter()
    for t in docs["text"]:
        tf.update(re.split(r"\s+", t))
    counts = sorted(tf.items(), key=lambda kv: (-kv[1], kv[0]))
    lx = np.array(
        [round(np.log(i + 1) * 1e6) for i in range(len(counts))]
    )
    ly = np.array([round(np.log(c) * 1e6) for _, c in counts])
    slope = np.polyfit(lx.astype(float), ly.astype(float), 1)[0]
    assert out.iloc[0]["vocab"] == len(counts)
    assert out.iloc[0]["zipf_slope"] == pytest.approx(slope, rel=1e-6)
    assert out.iloc[0]["zipf_slope"] < 0  # frequency falls with rank


def test_kendall_tau_matches_brute(spark):
    out = plans.QUERIES["kendall_tau_hourly"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ev = ev[ev["event_type"].isin(["click", "purchase"])].copy()
    ev["h"] = (
        ev["ts"].astype("datetime64[ns]").astype("int64") // 10**9
    ) // 3600
    piv = (
        ev.pivot_table(
            index="h", columns="event_type", values="event_id",
            aggfunc="count", fill_value=0,
        )
        .sort_index()
    )
    x = piv["click"].to_numpy()
    y = piv["purchase"].to_numpy()
    nc = nd = ntx = nty = 0
    for i in range(len(x)):
        for j in range(i + 1, len(x)):
            if x[i] == x[j]:
                ntx += 1
            if y[i] == y[j]:
                nty += 1
            if (x[i] < x[j] and y[i] < y[j]) or (x[i] > x[j] and y[i] > y[j]):
                nc += 1
            elif (x[i] < x[j] and y[i] > y[j]) or (x[i] > x[j] and y[i] < y[j]):
                nd += 1
    n0 = len(x) * (len(x) - 1) // 2
    tau = (nc - nd) / (np.sqrt(n0 - ntx) * np.sqrt(n0 - nty))
    row = out.iloc[0]
    assert (row["n0"], row["nc"], row["nd"]) == (n0, nc, nd)
    assert row["tau_b"] == pytest.approx(tau, rel=1e-9)


def test_holt_winters_matches_python(spark):
    out = (
        plans.QUERIES["holt_winters_event_values"](spark, SF)
        .toPandas()
        .set_index("user_id")
    )
    ev = pd.read_parquet(f"{SF}/events.parquet")
    A, B, G = 0.5, 0.3, 0.2
    for uid in list(out.index)[:15]:
        g = ev[ev["user_id"] == uid].sort_values(["ts", "event_id"])
        l = b = 0.0
        s = [0.0] * 4
        for t, v in enumerate(g["value"]):
            k = t % 4
            sp = s[k]
            nl = A * (v - sp) + (1 - A) * (l + b)
            nb = B * (nl - l) + (1 - B) * b
            s[k] = G * (v - nl) + (1 - G) * sp
            l, b = nl, nb
        row = out.loc[uid]
        assert row["n_events"] == len(g)
        assert row["level"] == pytest.approx(l, rel=1e-12, abs=1e-12)
        assert row["trend"] == pytest.approx(b, rel=1e-12, abs=1e-12)
        for i in range(4):
            assert row[f"s{i+1}"] == pytest.approx(
                s[i], rel=1e-12, abs=1e-12
            )
        assert row["forecast_1"] == pytest.approx(
            l + b + s[len(g) % 4], rel=1e-12, abs=1e-12
        )


def test_churn_features_match_pandas(spark):
    out = (
        plans.QUERIES["churn_features_users"](spark, SF)
        .toPandas()
        .set_index("user_id")
    )
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ev["day"] = (
        ev["ts"].astype("datetime64[ns]").astype("int64") // 10**9
    ) // 86400
    d0, d1 = ev["day"].min(), ev["day"].max()
    cutoff = d0 + int(0.66 * (d1 - d0) // 1)
    obs = ev[ev["day"] <= cutoff]
    fut_users = set(ev[ev["day"] > cutoff]["user_id"])
    assert len(out) == obs["user_id"].nunique()
    for uid in list(out.index)[:25]:
        g = obs[obs["user_id"] == uid]
        row = out.loc[uid]
        assert row["n_events"] == len(g)
        assert row["n_purchases"] == int(
            (g["event_type"] == "purchase").sum()
        )
        assert row["days_active"] == g["day"].nunique()
        assert row["recency_days"] == cutoff - g["day"].max()
        assert row["mean_value"] == pytest.approx(
            g["value"].mean(), rel=1e-9
        )
        assert row["churned"] == (uid not in fut_users)


def test_dfg_bottleneck_matches_pandas(spark):
    out = plans.QUERIES["dfg_bottleneck_events"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ev["sec"] = ev["ts"].astype("datetime64[ns]").astype("int64") // 10**9
    ev = ev.sort_values(["user_id", "sec", "event_id"])
    ev["prev"] = ev.groupby("user_id")["event_type"].shift()
    ev["gap"] = ev["sec"] - ev.groupby("user_id")["sec"].shift()
    tr = ev[ev["prev"].notna()]
    for _, row in out.iterrows():
        g = tr[(tr["prev"] == row["src"])
               & (tr["event_type"] == row["dst"])]["gap"]
        assert row["n_transitions"] == len(g)
        assert row["mean_gap_secs"] == pytest.approx(g.mean(), rel=1e-9)
        med = g.sort_values().iloc[max(0, int(np.ceil(0.5 * len(g))) - 1)]
        assert row["median_gap_secs"] == med


def test_boxplot_stats_match_pandas(spark):
    out = plans.QUERIES["boxplot_stats_event_values"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    for _, row in out.iterrows():
        g = ev[ev["event_type"] == row["event_type"]].sort_values(
            ["value", "event_id"]
        )
        n = len(g)
        pick = lambda p: g["value"].iloc[max(1, int(np.ceil(p * n))) - 1]  # noqa: E731
        q1, med, q3 = pick(0.25), pick(0.5), pick(0.75)
        assert (row["q1"], row["median"], row["q3"]) == (q1, med, q3)
        iqr = q3 - q1
        n_out = int(
            ((g["value"] < q1 - 1.5 * iqr) | (g["value"] > q3 + 1.5 * iqr)).sum()
        )
        assert row["n_outliers"] == n_out


def test_hll_rollup_gate_and_exact(spark):
    out = plans.QUERIES["hll_rollup_users"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    for _, row in out.iterrows():
        exact = ev[ev["event_type"] == row["event_type"]][
            "user_id"
        ].nunique()
        assert row["exact_distinct"] == exact
        assert bool(row["within_5pct"])  # merged sketch stays in gate


def test_session_window_builtin_matches_custom_sessionize(spark):
    """The native session_window islands equal the custom gap-cumsum
    operator's session count per user: BOTH split only at
    gap > threshold (an exact-threshold gap merges in both — pinned
    by test_session_window_exact_threshold_merges)."""
    builtin = (
        plans.QUERIES["session_window_builtin_events"](spark, SF)
        .groupBy("user_id")
        .count()
        .toPandas()
        .set_index("user_id")["count"]
    )
    custom = (
        plans.QUERIES["sessionize_events"](spark, SF)
        .toPandas()
        .set_index("user_id")["n_sessions"]
    )
    assert builtin.to_dict() == custom.to_dict()


def test_ltv_cohort_monotone_and_totals(spark):
    out = plans.QUERIES["ltv_cohort_events"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    # cumulative revenue is non-decreasing within a cohort
    for _, g in out.groupby("cohort_wk"):
        assert (g.sort_values("wk_since")["cum_revenue"].diff().dropna()
                >= 0).all()
    total = out.groupby("cohort_wk")["cum_revenue"].max().sum()
    ref = ev[ev["event_type"] == "purchase"]["value"].sum()
    assert total == pytest.approx(ref, rel=1e-9)
    assert out["n_users"].groupby(out["cohort_wk"]).first().sum() == ev[
        "user_id"
    ].nunique()


def test_markov_accuracy_matches_pandas(spark):
    out = plans.QUERIES["markov_next_event_accuracy"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ev["sec"] = ev["ts"].astype("datetime64[ns]").astype("int64") // 10**9
    ev = ev.sort_values(["user_id", "sec", "event_id"])
    ev["dst"] = ev.groupby("user_id")["event_type"].shift(-1)
    tr = ev[ev["dst"].notna()][["user_id", "event_type", "dst"]].rename(
        columns={"event_type": "src"}
    )
    train = tr[tr["user_id"] % 2 == 0]
    model = (
        train.groupby(["src", "dst"])
        .size()
        .reset_index(name="c")
        .sort_values(["src", "c", "dst"], ascending=[True, False, True])
        .groupby("src")
        .first()["dst"]
    )
    held = tr[tr["user_id"] % 2 == 1]
    for _, row in out.iterrows():
        g = held[held["src"] == row["src"]]
        assert row["predicted"] == model[row["src"]]
        assert row["n_transitions"] == len(g)
        assert row["n_correct"] == int((g["dst"] == model[row["src"]]).sum())


def test_seasonality_shares_sum_to_one(spark):
    out = plans.QUERIES["seasonality_profile_events"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    assert out["n"].sum() == len(ev)
    sums = out.groupby("dow")["share_of_day"].sum()
    assert np.allclose(sums, 1.0, atol=1e-9)
    assert out["dow"].between(0, 6).all() and out["hod"].between(0, 23).all()


def test_session_window_exact_threshold_merges(spark):
    """Pins Spark's session_window boundary semantics the oracle
    relies on: two events EXACTLY the gap apart merge into ONE
    session (split requires gap > threshold, not >=)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:30:00")],
        "user_id long, ts_s string",
    ).select("user_id", F.to_timestamp("ts_s").alias("ts"))
    out = (
        df.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .count()
        .collect()
    )
    assert len(out) == 1 and out[0]["count"] == 2


def test_wilson_ci_matches_formula(spark):
    out = plans.QUERIES["wilson_ci_user_purchase"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    z = 1.96
    for _, row in out.iterrows():
        g = ev[ev["user_id"] % 10 == row["cohort"]]
        n = len(g)
        k = int((g["event_type"] == "purchase").sum())
        p = k / n
        denom = 1 + z * z / n
        center = p + z * z / (2 * n)
        half = z * np.sqrt((p * (1 - p) + z * z / (4 * n)) / n)
        assert (row["n"], row["k"]) == (n, k)
        assert row["wilson_lo"] == pytest.approx((center - half) / denom,
                                                 rel=1e-12)
        assert row["wilson_hi"] == pytest.approx((center + half) / denom,
                                                 rel=1e-12)
        assert row["wilson_lo"] <= row["p_hat"] <= row["wilson_hi"]


def test_dispersion_matches_numpy(spark):
    out = plans.QUERIES["dispersion_test_events"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ev["day"] = (
        ev["ts"].astype("datetime64[ns]").astype("int64") // 10**9
    ) // 86400
    for _, row in out.iterrows():
        c = (
            ev[ev["event_type"] == row["event_type"]]
            .groupby("day")
            .size()
            .to_numpy(dtype=float)
        )
        assert row["n_days"] == len(c)
        assert row["mean_daily"] == pytest.approx(c.mean(), rel=1e-12)
        assert row["var_daily"] == pytest.approx(c.var(ddof=1), rel=1e-9)
        assert row["vmr"] == pytest.approx(c.var(ddof=1) / c.mean(),
                                           rel=1e-9)


def test_hhi_bounds_and_brute(spark):
    out = plans.QUERIES["hhi_revenue_by_nation"](spark, SF).toPandas()
    orders = pd.read_parquet(f"{SF}/orders.parquet")
    cust = pd.read_parquet(f"{SF}/customer.parquet")
    m = orders.merge(
        cust[["c_custkey", "c_nationkey"]],
        left_on="o_custkey", right_on="c_custkey",
    )
    for _, row in out.iterrows():
        g = m[m["c_nationkey"] == row["c_nationkey"]]
        rev = g.groupby("o_custkey")["o_totalprice"].sum()
        shares = rev / rev.sum()
        hhi = sum(round(s * s * 1e12) for s in shares) / 1e12
        assert row["n_customers"] == len(rev)
        assert row["hhi"] == pytest.approx(hhi, abs=1e-9)
        assert 1.0 / len(rev) - 1e-9 <= row["hhi"] <= 1.0


def test_gini_matches_numpy(spark):
    out = plans.QUERIES["gini_revenue_by_nation"](spark, SF).toPandas()
    orders = pd.read_parquet(f"{SF}/orders.parquet")
    cust = pd.read_parquet(f"{SF}/customer.parquet")
    m = orders.merge(
        cust[["c_custkey", "c_nationkey"]],
        left_on="o_custkey", right_on="c_custkey",
    )
    for _, row in out.iterrows():
        rev = (
            m[m["c_nationkey"] == row["c_nationkey"]]
            .groupby("o_custkey")["o_totalprice"]
            .sum()
            .sort_values()
            .to_numpy()
        )
        n = len(rev)
        gini = 2 * (np.arange(1, n + 1) * rev).sum() / (n * rev.sum()) - (
            n + 1
        ) / n
        assert row["n_customers"] == n
        assert row["gini"] == pytest.approx(gini, rel=1e-9)
        assert 0.0 <= row["gini"] < 1.0


def _knuth_u(x: int) -> float:
    return ((x * 2654435761 + 987654321) % 1000003 + 0.5) / 1000003.0


def test_kmv_sketch_matches_pandas_brute(spark):
    out = plans.QUERIES["kmv_intersection_users"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    K = 128
    sketches, thetas, ests = {}, {}, {}
    for t in ("click", "purchase"):
        users = sorted(ev.loc[ev["event_type"] == t, "user_id"].unique())
        hs = sorted((u * 2654435761 + 12345) % 4294967296 for u in users)
        sketches[t] = hs[:K]
        if len(hs) < K:  # exact regime: theta = 1, estimate = |kept|
            thetas[t], ests[t] = 4294967296, float(len(hs))
        else:
            thetas[t] = hs[K - 1]
            ests[t] = 127.0 * 4294967296.0 / hs[K - 1]
    row = out.iloc[0]
    assert row["est_clicks"] == ests["click"]
    assert row["est_purchases"] == ests["purchase"]
    th = min(thetas.values())
    m = len(
        {h for h in sketches["click"] if h < th}
        & {h for h in sketches["purchase"] if h < th}
    )
    assert row["est_intersection"] == m * 4294967296.0 / th
    # fixture populations are below k, so the sketch must be EXACT
    assert row["est_clicks"] == row["true_clicks"]
    assert row["est_purchases"] == row["true_purchases"]
    # hash-set intersection == true user overlap absent collisions
    assert row["est_intersection"] == pytest.approx(row["true_both"])


@pytest.mark.parametrize("n_users", [20, 400], ids=["exact", "sketch"])
def test_kmv_null_user_id_truth_and_oracle(spark, tmp_path, n_users):
    """NULL user ids: the truth columns rebuilt from the per-user
    aggregate keep countDistinct's semantics (NULL is not a distinct
    user), true_both keeps the NULL group as the GROUP BY form does,
    and every column equals the DuckDB oracle below and above k."""
    import duckdb

    rows = [(u, "click") for u in range(0, n_users, 2)]
    rows += [(u, "purchase") for u in range(0, n_users, 3)]
    rows += [(None, "click"), (None, "purchase"), (None, "view")]
    ev = pd.DataFrame(rows, columns=["user_id", "event_type"])
    ev["user_id"] = ev["user_id"].astype("Int64")
    ev.to_parquet(tmp_path / "events.parquet", index=False)

    out = plans.QUERIES["kmv_intersection_users"](spark, str(tmp_path)).toPandas()
    row = out.iloc[0]
    clicks = set(range(0, n_users, 2))
    purchases = set(range(0, n_users, 3))
    assert row["true_clicks"] == len(clicks)
    assert row["true_purchases"] == len(purchases)
    assert row["true_both"] == len(clicks & purchases) + 1  # the NULL group

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'events.parquet'}')"
    )
    want = con.execute(plans.ORACLES["kmv_intersection_users"]).df().iloc[0]
    for c in out.columns:
        assert row[c] == want[c], c


def test_dp_noise_is_inverse_cdf_laplace(spark):
    out = plans.QUERIES["dp_noisy_counts_events"](spark, SF).toPandas()
    out = out.sort_values("event_type").reset_index(drop=True)
    for i, row in out.iterrows():
        u = _knuth_u(i + 1)
        expect = -np.sign(u - 0.5) * np.log1p(-2 * abs(u - 0.5))
        assert row["noise"] == pytest.approx(expect, abs=1e-6)
        assert row["noisy_count"] == pytest.approx(
            row["true_n"] + row["noise"], abs=1e-9
        )


def test_bootstrap_ci_matches_pandas_and_brackets_mean(spark):
    out = plans.QUERIES["bootstrap_ci_event_values"](spark, SF).toPandas()
    row = out.iloc[0]
    ev = pd.read_parquet(f"{SF}/events.parquet")
    vm = np.round(ev["value"].to_numpy() * 1e6).astype("int64")
    eid = ev["event_id"].to_numpy().astype("int64")
    cdf = [
        0.36787944117144233,
        0.7357588823428847,
        0.9196986029286058,
        0.9810118431238462,
        0.9963401531726563,
    ]
    means = []
    for j in range(1, 65):
        u = ((eid * 2654435761 + j * 40503 + 7) % 1000003 + 0.5) / 1000003.0
        w = np.searchsorted(cdf, u, side="right")
        means.append(float(w @ vm) / float(w.sum()) / 1e6)
    means.sort()
    assert row["ci_lo"] == pytest.approx(means[1], rel=1e-12)
    assert row["ci_hi"] == pytest.approx(means[62], rel=1e-12)
    assert row["ci_lo"] <= row["mean_full"] <= row["ci_hi"]


def test_target_encode_excludes_own_fold(spark):
    out = plans.QUERIES["target_encode_orders"](spark, SF).toPandas()
    o = pd.read_parquet(f"{SF}/orders.parquet")
    o["vm"] = np.round(o["o_totalprice"].to_numpy() * 1e6).astype("int64")
    o["fold"] = o["o_orderkey"] % 5
    gm = float(o["vm"].sum()) / len(o) / 1e6
    for _, row in out.iterrows():
        g = o[o["o_orderpriority"] == row["category"]]
        inf = g[g["fold"] == row["fold"]]
        oof = g[g["fold"] != row["fold"]]
        assert row["n_cf"] == len(inf)
        expect = (float(oof["vm"].sum()) / 1e6 + 10.0 * gm) / (
            len(oof) + 10.0
        )
        assert row["oof_mean"] == pytest.approx(expect, rel=1e-12)
        # leakage check: the encoding must NOT equal the in-fold mean
        # unless folds coincide by chance
        if len(inf) and not np.isclose(
            inf["vm"].mean(), oof["vm"].mean(), rtol=1e-9
        ):
            assert row["oof_mean"] != pytest.approx(
                float(inf["vm"].mean()) / 1e6, rel=1e-12
            )


def test_conformal_intervals_coverage_guarantee(spark):
    out = plans.QUERIES["conformal_intervals_events"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ev["vm"] = np.round(ev["value"].to_numpy() * 1e6).astype("int64")
    calib = ev[ev["event_id"] % 5 == 3]
    train = ev[ev["event_id"] % 5 != 3]
    pred = (
        train.groupby("event_type")["vm"]
        .apply(lambda s: np.round(float(s.sum()) / len(s)))
        .astype("int64")
    )
    resid = np.abs(
        calib["vm"].to_numpy()
        - pred.reindex(calib["event_type"]).to_numpy()
    )
    n = len(resid)
    k = min(n, int(np.ceil(0.9 * (n + 1))))
    qhat = np.sort(resid)[k - 1]
    row = out.iloc[0]
    assert row["qhat"] == pytest.approx(qhat / 1e6, rel=1e-12)
    assert (out["hi"] - out["lo"]).min() >= 0
    # finite-sample marginal coverage on the calibration split
    covered = (resid <= qhat).mean()
    assert covered >= k / (n + 1) - 1e-12
