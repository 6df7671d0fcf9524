"""Parity tests for the second exact-stats wave (statops2): each
query is re-derived independently in pandas/numpy at sf0.001 and
compared value-for-value against the Spark plan."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from lakehouse_poc_spark import plans

SF = "/root/testdata/sf0.001"


def _events() -> pd.DataFrame:
    return pd.read_parquet(f"{SF}/events.parquet")


def _avg_rank2(x: np.ndarray) -> np.ndarray:
    """2 * average rank (ties averaged), always integral."""
    order = np.argsort(x, kind="stable")
    r2 = np.empty(len(x), dtype=np.int64)
    sorted_x = x[order]
    i = 0
    while i < len(x):
        j = i
        while j + 1 < len(x) and sorted_x[j + 1] == sorted_x[i]:
            j += 1
        # ranks i+1..j+1 (1-based); 2*avg = (i+1) + (j+1)
        r2[order[i : j + 1]] = (i + 1) + (j + 1)
        i = j + 1
    return r2


def test_spearman_hourly_matches_numpy(spark):
    ev = _events()
    ev = ev[ev.event_type.isin(["click", "purchase"])]
    h = (ev.ts.astype("datetime64[ns]").astype("int64") // 10**9 // 3600).astype("int64")
    g = pd.DataFrame(
        {
            "h": h,
            "c": (ev.event_type == "click").astype(int),
            "p": (ev.event_type == "purchase").astype(int),
        }
    ).groupby("h").sum()
    rx = _avg_rank2(g.c.to_numpy())
    ry = _avg_rank2(g.p.to_numpy())
    n = len(g)
    sx, sy = rx.sum(), ry.sum()
    num = n * float((rx.astype(object) * ry).sum()) - float(sx) * sy
    den = math.sqrt(
        n * float((rx.astype(object) ** 2).sum()) - float(sx) ** 2
    ) * math.sqrt(n * float((ry.astype(object) ** 2).sum()) - float(sy) ** 2)
    out = plans.QUERIES["spearman_hourly"](spark, SF).collect()[0]
    assert out["n"] == n
    assert out["spearman_rho"] == pytest.approx(num / den, rel=1e-12)


def test_kruskal_wallis_matches_numpy(spark):
    ev = _events()
    ev = ev[ev.event_type.isin(["click", "view", "purchase"])]
    r2 = _avg_rank2(ev.value.to_numpy())
    n = len(ev)
    h_sum = 0.0
    for t in ("click", "view", "purchase"):
        mask = (ev.event_type == t).to_numpy()
        s = float(r2[mask].sum())
        h_sum += (s * s) / mask.sum()
    h = (3.0 / (n * (n + 1))) * h_sum - 3.0 * (n + 1)
    _, counts = np.unique(ev.value.to_numpy(), return_counts=True)
    tie = float((counts.astype(np.int64) ** 3 - counts).sum())
    h_corr = h / (1.0 - tie / (float(n) ** 3 - n))
    out = plans.QUERIES["kruskal_wallis_events"](spark, SF).collect()[0]
    assert out["n"] == n
    assert out["h_stat"] == pytest.approx(h, rel=1e-9)
    assert out["h_corrected"] == pytest.approx(h_corr, rel=1e-9)


def test_good_turing_matches_counter(spark):
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    from collections import Counter

    c: Counter = Counter()
    for t in docs.text:
        c.update(w for w in t.split() if w)
    fof = Counter(c.values())
    rs = sorted(fof)[:8]
    out = {
        r["r"]: (r["n_r"], r["r_star"])
        for r in plans.QUERIES["good_turing_docs"](spark, SF).collect()
    }
    assert sorted(out) == rs
    for r in rs:
        n_r, r_star = out[r]
        assert n_r == fof[r]
        if r + 1 in fof:
            assert r_star == pytest.approx(
                (r + 1) * fof[r + 1] / fof[r], rel=1e-12
            )
        else:
            assert r_star is None


def test_adamic_adar_matches_pandas(spark):
    ev = _events()
    ut = ev[["user_id", "event_type"]].drop_duplicates()
    deg = ut.groupby("user_id").size().to_dict()
    scores: dict = {}
    for uid, grp in ut.groupby("user_id"):
        types = sorted(grp.event_type)
        for i in range(len(types)):
            for j in range(i + 1, len(types)):
                key = (types[i], types[j])
                n, s = scores.get(key, (0, 0.0))
                scores[key] = (n + 1, s + 1.0 / math.log(deg[uid]))
    out = plans.QUERIES["adamic_adar_event_types"](spark, SF).collect()
    assert len(out) == len(scores)
    for r in out:
        n, s = scores[(r["type_a"], r["type_b"])]
        assert r["n_common"] == n
        assert r["aa_score"] == pytest.approx(s, rel=1e-12)


def test_equidepth_histogram_matches_pandas(spark):
    ev = _events().sort_values(["value", "event_id"]).reset_index(drop=True)
    n = len(ev)
    bins = (np.arange(n) * 8) // n
    out = plans.QUERIES["equidepth_histogram_events"](spark, SF).collect()
    assert len(out) == 8
    for r in out:
        sel = ev.value[bins == r["bin"]]
        assert r["n_rows"] == len(sel)
        assert r["lo"] == sel.min()
        assert r["hi"] == sel.max()
        assert r["mean_value"] == pytest.approx(sel.mean(), rel=1e-9)
    # depth balance: bin sizes differ by at most 1
    sizes = [r["n_rows"] for r in out]
    assert max(sizes) - min(sizes) <= 1


def test_sax_words_match_pandas(spark):
    ev = _events()
    d = (ev.ts.astype("datetime64[ns]").astype("int64") // 10**9 // 86400).astype("int64")
    daily = (
        pd.DataFrame(
            {
                "t": ev.event_type,
                "d": d,
                # decimal(30,6) sums of 2-decimal values == exact cents
                "v": (ev.value * 100).round().astype("int64"),
            }
        )
        .groupby(["t", "d"], as_index=False)
        .sum()
    )
    out = {
        r["event_type"]: (r["n_days"], r["word"])
        for r in plans.QUERIES["sax_words_events"](spark, SF).collect()
    }
    for t, grp in daily.groupby("t"):
        grp = grp.sort_values(["v", "d"]).reset_index(drop=True)
        k = len(grp)
        # ntile(4): first (k % 4) buckets get ceil(k/4)
        sym = {}
        start = 0
        for b in range(4):
            size = k // 4 + (1 if b < k % 4 else 0)
            for i in range(start, start + size):
                sym[grp.d[i]] = "abcd"[b]
            start += size
        word = "".join(sym[day] for day in sorted(sym))
        assert out[t] == (k, word)


def test_gumbel_block_maxima_matches_numpy(spark):
    ev = _events()
    d = (ev.ts.astype("datetime64[ns]").astype("int64") // 10**9 // 86400).astype("int64")
    m = pd.DataFrame({"d": d, "v": ev.value}).groupby("d").v.max().to_numpy()
    n = len(m)
    mean = m.mean()
    sd = math.sqrt((n * (m**2).sum() - m.sum() ** 2) / (n * (n - 1)))
    scale = sd * math.sqrt(6.0) / math.pi
    loc = mean - 0.5772156649015329 * scale
    ret30 = loc - scale * math.log(-math.log(1.0 - 1.0 / 30.0))
    out = plans.QUERIES["gumbel_block_maxima_events"](spark, SF).collect()[0]
    assert out["n"] == n
    assert out["mean_max"] == pytest.approx(mean, rel=1e-12)
    assert out["gumbel_scale"] == pytest.approx(scale, rel=1e-9)
    assert out["gumbel_loc"] == pytest.approx(loc, rel=1e-9)
    assert out["return_level_30d"] == pytest.approx(ret30, rel=1e-9)


def test_slo_burn_rate_matches_pandas(spark):
    ev = _events()
    h = (ev.ts.astype("datetime64[ns]").astype("int64") // 10**9 // 3600).astype("int64")
    g = (
        pd.DataFrame({"h": h, "e": (ev.event_type == "error").astype(int)})
        .groupby("h")
        .agg(err=("e", "sum"), tot=("e", "size"))
        .sort_index()
    )
    expect = []
    hours = g.index.to_numpy()
    for i, hour in enumerate(hours):
        win = g[(g.index >= hour - 5) & (g.index <= hour)]
        b1 = (g.err.iloc[i] / g.tot.iloc[i]) / 0.25
        b6 = (win.err.sum() / win.tot.sum()) / 0.25
        if b1 >= 1.2 and b6 >= 1.0:
            expect.append((hour, g.err.iloc[i], g.tot.iloc[i], b1, b6))
    out = plans.QUERIES["slo_burn_rate_events"](spark, SF).collect()
    assert len(out) == len(expect)
    for r, e in zip(out, expect):
        assert (r["h"], r["err"], r["tot"]) == (e[0], e[1], e[2])
        assert r["burn_1h"] == pytest.approx(e[3], rel=1e-12)
        assert r["burn_6h"] == pytest.approx(e[4], rel=1e-12)


def test_allen_relations_match_pandas(spark):
    orders = pd.read_parquet(f"{SF}/orders.parquet")
    li = pd.read_parquet(f"{SF}/lineitem.parquet")
    last_ship = li.groupby("l_orderkey").l_shipdate.max()
    iv = orders[["o_orderkey", "o_custkey", "o_orderdate"]].copy()
    iv["r"] = iv.o_orderkey.map(last_ship)
    iv = iv.dropna(subset=["r"])

    def classify(a1, a2, b1, b2):
        if a1 == b1 and a2 == b2:
            return "equals"
        if a2 < b1:
            return "before"
        if b2 < a1:
            return "after"
        if a2 == b1:
            return "meets"
        if b2 == a1:
            return "met_by"
        if a1 == b1 and a2 < b2:
            return "starts"
        if a1 == b1 and a2 > b2:
            return "started_by"
        if a2 == b2 and a1 > b1:
            return "finishes"
        if a2 == b2 and a1 < b1:
            return "finished_by"
        if a1 > b1 and a2 < b2:
            return "during"
        if a1 < b1 and a2 > b2:
            return "contains"
        if a1 < b1 and a2 > b1 and a2 < b2:
            return "overlaps"
        if b1 < a1 and b2 > a1 and b2 < a2:
            return "overlapped_by"
        raise AssertionError("unclassified pair")

    from collections import Counter

    counts: Counter = Counter()
    for _, grp in iv.groupby("o_custkey"):
        rows = grp.sort_values("o_orderkey").itertuples()
        rows = list(rows)
        for i in range(len(rows)):
            for j in range(i + 1, len(rows)):
                a, b = rows[i], rows[j]
                counts[
                    classify(a.o_orderdate, a.r, b.o_orderdate, b.r)
                ] += 1
    out = {
        r["relation"]: r["n_pairs"]
        for r in plans.QUERIES["allen_relations_orders"](spark, SF).collect()
    }
    assert out == dict(counts)


def test_forecast_eval_matches_pandas(spark):
    ev = _events()
    h = (ev.ts.astype("datetime64[ns]").astype("int64") // 10**9 // 3600)
    cents = (ev.value * 100).round().astype("int64")
    hourly = (
        pd.DataFrame({"h": h, "v": cents}).groupby("h").v.sum().sort_index()
    )
    v = hourly.to_numpy()
    e_naive = np.abs(v[24:] - v[23:-1])
    e_snaive = np.abs(v[24:] - v[:-24])
    n = len(v) - 24
    mae_n = e_naive.sum() / 100.0 / n
    mae_s = e_snaive.sum() / 100.0 / n
    out = plans.QUERIES["forecast_eval_events"](spark, SF).collect()[0]
    assert out["n"] == n
    assert out["mae_naive"] == pytest.approx(mae_n, rel=1e-12)
    assert out["mae_snaive"] == pytest.approx(mae_s, rel=1e-12)
    assert out["mase_snaive"] == pytest.approx(mae_s / mae_n, rel=1e-12)


def test_points_in_polygon_matches_shoelace_oracle(spark):
    from lakehouse_poc_spark.plans.geoops import _PENTAGON

    cust = pd.read_parquet(f"{SF}/customer.parquet")
    lat = (cust.c_custkey * 37 % 18000) / 100.0 - 90.0
    lon = (cust.c_custkey * 91 % 36000) / 100.0 - 180.0

    def inside(px, py):
        c = 0
        n = len(_PENTAGON)
        for i in range(n):
            x1, y1 = _PENTAGON[i]
            x2, y2 = _PENTAGON[(i + 1) % n]
            if (y1 > py) != (y2 > py) and px < (x2 - x1) * (py - y1) / (
                y2 - y1
            ) + x1:
                c += 1
        return c % 2 == 1

    flags = [inside(x, y) for x, y in zip(lon, lat)]
    n_in = sum(flags)
    out = {
        r["inside"]: (r["n_customers"], r["id_checksum"])
        for r in plans.QUERIES["points_in_polygon_customers"](
            spark, SF
        ).collect()
    }
    assert out[True][0] == n_in
    assert out[False][0] == len(flags) - n_in
    assert out[True][1] == int(
        cust.c_custkey[np.array(flags)].sum()
    )
    assert n_in > 0 and n_in < len(flags)  # both classes occur


def test_ams_f2_matches_numpy(spark):
    ev = _events()
    f = ev.groupby("user_id").size()
    exact_f2 = int((f.astype("int64") ** 2).sum())
    P = 2147483647
    rows = [(1, 101, 17), (2, 2003, 89), (3, 40009, 251),
            (4, 700001, 733), (5, 1300021, 977)]
    ests = []
    for i, a, b in rows:
        sign = 1 - 2 * (((a * f.index.to_numpy() + b) % P) % 2)
        z = int((sign * f.to_numpy()).sum())
        ests.append(z * z)
    med = sorted(ests)[2]
    out = plans.QUERIES["ams_f2_users"](spark, SF).collect()[0]
    assert out["exact_f2"] == exact_f2
    assert out["ams_f2"] == med
    assert out["rel_error"] == pytest.approx(
        (med - exact_f2) / exact_f2, rel=1e-12
    )
    # the sketch is an estimator, not noise: within 2x on the fixture
    assert abs(out["rel_error"]) < 1.0


def test_mcnemar_matches_pandas(spark):
    ev = _events()
    d = (ev.ts.astype("datetime64[ns]").astype("int64") // 10**9 // 86400)
    g = (
        pd.DataFrame(
            {
                "u": ev.user_id,
                "d": d,
                "clk": (ev.event_type == "click").astype(int),
                "pur": (ev.event_type == "purchase").astype(int),
            }
        )
        .groupby(["u", "d"])
        .max()
    )
    a = int(((g.clk == 1) & (g.pur == 1)).sum())
    b = int(((g.clk == 1) & (g.pur == 0)).sum())
    c = int(((g.clk == 0) & (g.pur == 1)).sum())
    dd = int(((g.clk == 0) & (g.pur == 0)).sum())
    out = plans.QUERIES["mcnemar_click_purchase"](spark, SF).collect()[0]
    assert (out["a"], out["b"], out["c"], out["d"]) == (a, b, c, dd)
    assert b + c > 0, "fixture must have discordant user-days"
    assert out["mcnemar_stat"] == pytest.approx(
        (b - c) ** 2 / (b + c), rel=1e-12
    )
    assert out["mcnemar_corrected"] == pytest.approx(
        (abs(b - c) - 1) ** 2 / (b + c), rel=1e-12
    )


def test_hedges_g_matches_numpy(spark):
    ev = _events()
    x = ev[ev.event_type == "click"].value.to_numpy()
    y = ev[ev.event_type == "view"].value.to_numpy()
    # exact cents to mirror the decimal sums
    xs, ys = (x * 100).round().astype("int64"), (y * 100).round().astype(
        "int64"
    )
    n1, n2 = len(x), len(y)
    m1, m2 = xs.sum() / 100 / n1, ys.sum() / 100 / n2
    ss1 = (xs.astype(object) ** 2).sum() / 10000 - (xs.sum() / 100) ** 2 / n1
    ss2 = (ys.astype(object) ** 2).sum() / 10000 - (ys.sum() / 100) ** 2 / n2
    pooled = math.sqrt((ss1 + ss2) / (n1 + n2 - 2))
    dval = (m1 - m2) / pooled
    gval = dval * (1 - 3 / (4 * (n1 + n2) - 9))
    out = plans.QUERIES["hedges_g_click_view"](spark, SF).collect()[0]
    assert (out["n1"], out["n2"]) == (n1, n2)
    assert out["cohens_d"] == pytest.approx(dval, rel=1e-9)
    assert out["hedges_g"] == pytest.approx(gval, rel=1e-9)


def test_ari_label_vs_cell_embeddings(spark):
    out = plans.QUERIES["ari_label_vs_cell_embeddings"](spark, SF).collect()[
        0
    ]
    # pair-count identities: sij <= min(sa, sb) <= C(n,2); ARI <= 1
    assert out["sij"] <= min(out["sa"], out["sb"])
    assert out["ari"] <= 1.0
    n = out["n"]
    assert out["sa"] <= n * (n - 1) // 2


def test_isotonic_matches_sequential_pava(spark):
    ev = _events()
    bins = (
        pd.DataFrame(
            {
                "bin": np.floor(ev.value / 25.0).astype("int64"),
                "y": (ev.event_type == "purchase").astype(int),
            }
        )
        .groupby("bin")
        .agg(n=("y", "size"), pos=("y", "sum"))
        .sort_index()
    )
    # classic sequential PAVA with weighted pooling
    blocks = [
        [float(p) / n, n, b] for b, (n, p) in bins.iterrows()
    ]  # [mean, weight, last_bin]
    stack: list = []
    for mean, wgt, b in blocks:
        stack.append([mean, wgt, b])
        while len(stack) > 1 and stack[-2][0] >= stack[-1][0] - 1e-15:
            m2, w2, b2 = stack.pop()
            m1, w1, _ = stack.pop()
            stack.append([(m1 * w1 + m2 * w2) / (w1 + w2), w1 + w2, b2])
    fit = {}
    prev_bin = None
    for mean, wgt, last_b in stack:
        for b in bins.index:
            if (prev_bin is None or b > prev_bin) and b <= last_b:
                fit[b] = mean
        prev_bin = last_b
    out = plans.QUERIES["isotonic_purchase_rate"](spark, SF).collect()
    iso = [r["isotonic_rate"] for r in out]
    # monotone non-decreasing
    assert all(a <= b + 1e-12 for a, b in zip(iso, iso[1:]))
    # weighted mean preserved (PAVA invariant)
    tot_n = sum(r["n"] for r in out)
    assert sum(r["isotonic_rate"] * r["n"] for r in out) / tot_n == (
        pytest.approx(sum(r["pos"] for r in out) / tot_n, rel=1e-9)
    )
    # matches the sequential algorithm bin-for-bin
    for r in out:
        assert r["isotonic_rate"] == pytest.approx(fit[r["bin"]], rel=1e-9)


def test_brown_forsythe_matches_numpy(spark):
    ev = _events()
    ev = ev[ev.event_type.isin(["click", "view", "purchase"])]
    cents = (ev.value * 100).round().astype("int64")
    groups = {
        t: cents[(ev.event_type == t).to_numpy()].to_numpy()
        for t in ("click", "view", "purchase")
    }
    zs = {}
    for t, x in groups.items():
        sx = np.sort(x)
        n = len(x)
        s2 = int(sx[(n + 1) // 2 - 1]) + int(sx[n // 2])  # lo + hi
        zs[t] = np.abs(2 * x - s2)
    allz = np.concatenate(list(zs.values())).astype("float64")
    N, k = len(allz), 3
    m = allz.mean()
    ssb = sum(len(z) * (z.mean() - m) ** 2 for z in zs.values())
    ssw = sum(((z - z.mean()) ** 2).sum() for z in zs.values())
    expect = ((N - k) / (k - 1)) * ssb / ssw
    out = plans.QUERIES["brown_forsythe_events"](spark, SF).collect()[0]
    assert out["n"] == N
    assert out["bf_stat"] == pytest.approx(expect, rel=1e-9)
    assert out["bf_stat"] >= 0.0


def test_permutation_test_matches_pandas(spark):
    ev = _events()
    ev = ev[ev.event_type.isin(["click", "view"])]
    cents = (ev.value * 100).round().astype("int64").to_numpy()
    ids = ev.event_id.to_numpy()
    is_click = (ev.event_type == "click").to_numpy()
    d_obs = cents[is_click].sum() / 100 / is_click.sum() - cents[
        ~is_click
    ].sum() / 100 / (~is_click).sum()
    P = 2147483647
    hits = 0
    for p in range(1, 65):
        side = ((101 + 2 * p * 7919) * ids + 17) % P % 2
        a, b = side == 0, side == 1
        # every permutation splits the events: no side is empty
        assert a.any() and b.any(), p
        d = cents[a].sum() / 100 / a.sum() - cents[b].sum() / 100 / b.sum()
        if abs(d) >= abs(d_obs):
            hits += 1
    out = plans.QUERIES["permutation_test_click_view"](spark, SF).collect()[0]
    assert out["n_perms"] == 64
    assert out["n_extreme"] == hits
    assert out["d_obs"] == pytest.approx(d_obs, rel=1e-12)
    assert out["p_value"] == pytest.approx((1 + hits) / 65, rel=1e-12)
    # the fixture's click/view values come from the same distribution:
    # the test should NOT reject at alpha=.05 (sanity of the harness)
    assert out["p_value"] > 0.05


def test_pinball_loss_matches_pandas(spark):
    import math as _math

    ev = _events()
    d = (ev.ts.astype("datetime64[ns]").astype("int64") // 10**9 // 86400)
    d0 = d.min()
    cents = (ev.value * 100).round().astype("int64")
    df = pd.DataFrame({"t": ev.event_type, "d": d - d0, "v": cents})
    out = {
        r["event_type"]: r
        for r in plans.QUERIES["pinball_loss_p90_events"](spark, SF).collect()
    }
    for t, grp in df.groupby("t"):
        train = np.sort(grp[grp.d < 14].v.to_numpy())
        test = grp[grp.d >= 14].v.to_numpy()
        q_hat = int(train[_math.ceil(0.9 * len(train)) - 1])
        loss = np.where(
            test >= q_hat, 0.9 * (test - q_hat), 0.1 * (q_hat - test)
        )
        r = out[t]
        assert float(r["p90_forecast"]) == pytest.approx(q_hat / 100)
        assert r["n_test"] == len(test)
        assert r["mean_pinball"] == pytest.approx(
            float(loss.sum()) / 100 / len(test), rel=1e-9
        )


def test_sequential_ab_matches_pandas(spark):
    ev = _events()
    d = (ev.ts.astype("datetime64[ns]").astype("int64") // 10**9 // 86400)
    d0 = d.min()
    arm = (ev.user_id % 2).to_numpy()
    conv = (ev.event_type == "purchase").to_numpy().astype(int)
    days = (d - d0).to_numpy()
    bounds = {1: 4.049, 2: 2.863, 3: 2.337, 4: 2.024}
    out = {
        r["look"]: r
        for r in plans.QUERIES["sequential_ab_events"](spark, SF).collect()
    }
    assert sorted(out) == [1, 2, 3, 4]
    for look, bound in bounds.items():
        sel = days < look * 7
        n1 = int(((arm == 0) & sel).sum())
        n2 = int(((arm == 1) & sel).sum())
        k1 = int(conv[(arm == 0) & sel].sum())
        k2 = int(conv[(arm == 1) & sel].sum())
        pooled = (k1 + k2) / (n1 + n2)
        z = (k1 / n1 - k2 / n2) / math.sqrt(
            pooled * (1 - pooled) * (1 / n1 + 1 / n2)
        )
        r = out[look]
        assert (r["n1"], r["n2"], r["k1"], r["k2"]) == (n1, n2, k1, k2)
        assert r["z"] == pytest.approx(z, rel=1e-12)
        assert r["bound"] == bound
        assert r["reject"] == (abs(z) > bound)
    # id-parity arms of the same population: no look should reject
    assert not any(r["reject"] for r in out.values())


def test_eb_shrinkage_matches_pandas(spark):
    ev = _events()
    u = (
        pd.DataFrame(
            {
                "u": ev.user_id,
                "c": (ev.event_type == "purchase").astype(int),
            }
        )
        .groupby("u")
        .agg(n=("c", "size"), k=("c", "sum"))
    )
    p_nano = ((u.k / u.n) * 1e9).round().astype("int64")
    p2_nano = (((u.k / u.n) ** 2) * 1e9).round().astype("int64")
    g = len(u)
    m = p_nano.sum() / 1e9 / g
    v = p2_nano.sum() / 1e9 / g - m * m
    strength = m * (1 - m) / v - 1
    out = plans.QUERIES["eb_shrunk_purchase_rates"](spark, SF).collect()
    assert len(out) == 15
    for r in out:
        n, k = u.loc[r["user_id"], ["n", "k"]]
        assert (r["n"], r["k"]) == (n, k)
        assert r["shrunk_rate"] == pytest.approx(
            (k + strength * m) / (n + strength), rel=1e-9
        )
        # shrinkage pulls toward the pooled mean, never past it
        lo, hi = sorted((r["raw_rate"], m))
        assert lo - 1e-12 <= r["shrunk_rate"] <= hi + 1e-12


def test_bhattacharyya_matches_numpy(spark):
    ev = _events()
    ev = ev[ev.event_type.isin(["click", "view"])]
    bins = np.floor(ev.value.to_numpy() / 25.0).astype("int64")
    is_c = (ev.event_type == "click").to_numpy()
    from collections import Counter

    ca = Counter(bins[is_c])
    cv = Counter(bins[~is_c])
    na, nv = is_c.sum(), (~is_c).sum()
    s = 0
    for b in set(ca) | set(cv):
        s += round(math.sqrt((ca[b] / na) * (cv[b] / nv)) * 1e9)
    bc = s / 1e9
    out = plans.QUERIES["bhattacharyya_click_view"](spark, SF).collect()[0]
    assert (out["n_click"], out["n_view"]) == (na, nv)
    assert out["bhattacharyya"] == pytest.approx(bc, rel=1e-12)
    assert out["hellinger"] == pytest.approx(math.sqrt(1 - bc), rel=1e-12)
    assert 0.0 < out["bhattacharyya"] <= 1.0


def test_wasserstein_matches_numpy(spark):
    ev = _events()
    ev = ev[ev.event_type.isin(["click", "view"])]
    x = np.sort(ev.value[ev.event_type == "click"].to_numpy())
    y = np.sort(ev.value[ev.event_type == "view"].to_numpy())
    vals = np.unique(np.concatenate([x, y]))
    na, nv = len(x), len(y)
    s = 0
    for v, nxt in zip(vals, vals[1:]):
        fa = (x <= v).sum() / na
        fb = (y <= v).sum() / nv
        s += round(abs(fa - fb) * (nxt - v) * 1e9)
    out = plans.QUERIES["wasserstein_click_view"](spark, SF).collect()[0]
    assert (out["n_click"], out["n_view"]) == (na, nv)
    assert out["wasserstein_1"] == pytest.approx(s / 1e9, rel=1e-9)
    assert out["wasserstein_1"] >= 0.0


def test_runs_test_matches_numpy(spark):
    ev = _events()
    h = (ev.ts.astype("datetime64[ns]").astype("int64") // 10**9 // 3600)
    cents = (ev.value * 100).round().astype("int64")
    hourly = (
        pd.DataFrame({"h": h, "v": cents}).groupby("h").v.sum().sort_index()
    )
    v = hourly.to_numpy()
    sv = np.sort(v)
    n = len(v)
    s2 = int(sv[(n + 1) // 2 - 1]) + int(sv[n // 2])
    up = (2 * v > s2).astype(int)
    runs = 1 + int((up[1:] != up[:-1]).sum())
    n1, n2 = int(up.sum()), int((1 - up).sum())
    mean_r = 2 * n1 * n2 / (n1 + n2) + 1
    var_r = (
        2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)
        / ((n1 + n2) ** 2 * (n1 + n2 - 1))
    )
    out = plans.QUERIES["runs_test_hourly"](spark, SF).collect()[0]
    assert (out["runs"], out["n1"], out["n2"]) == (runs, n1, n2)
    assert out["z"] == pytest.approx(
        (runs - mean_r) / math.sqrt(var_r), rel=1e-9
    )


def test_shapley_attribution_axioms_and_bruteforce(spark):
    from itertools import permutations

    ev = _events()
    bits = {"click": 1, "view": 2, "error": 4, "signup": 8}
    expo: dict = {}
    conv: dict = {}
    for _, r in ev.iterrows():
        m = expo.get(r.user_id, 0)
        if r.event_type in bits:
            m |= bits[r.event_type]
        expo[r.user_id] = m
        if r.event_type == "purchase":
            conv[r.user_id] = 1

    def v(S):
        return sum(
            1
            for u, m in expo.items()
            if (m & S) == m and conv.get(u, 0)
        )

    # brute-force Shapley: average marginal contribution over all 4!
    # channel orderings (the definition itself)
    names = list(bits)
    shap = dict.fromkeys(names, 0.0)
    for perm in permutations(names):
        S = 0
        for ch in perm:
            shap[ch] += v(S | bits[ch]) - v(S)
            S |= bits[ch]
    shap = {k: x / 24 for k, x in shap.items()}
    out = {
        r["channel"]: r
        for r in plans.QUERIES["shapley_attribution_events"](
            spark, SF
        ).collect()
    }
    for ch in names:
        assert out[ch]["shapley_conversions"] == pytest.approx(
            shap[ch], abs=1e-9
        )
        assert out[ch]["shap24"] == round(shap[ch] * 24)
    # efficiency axiom: shares sum to v(full) - v(empty)
    total = sum(r["shap24"] for r in out.values())
    assert total == 24 * (v(15) - v(0))


def test_robust_anomalies_matches_numpy(spark):
    ev = _events()
    h = (ev.ts.astype("datetime64[ns]").astype("int64") // 10**9 // 3600)
    cents = (ev.value * 100).round().astype("int64")
    hourly = (
        pd.DataFrame({"h": h, "v": cents}).groupby("h").v.sum().sort_index()
    )

    def s2(vals):  # doubled median = lo + hi order stats
        sv = np.sort(vals)
        n = len(sv)
        return int(sv[(n + 1) // 2 - 1]) + int(sv[n // 2])

    season = {
        hd: s2(grp.to_numpy())
        for hd, grp in hourly.groupby(hourly.index % 24)
    }
    r2 = {
        hh: 2 * int(v) - season[hh % 24] for hh, v in hourly.items()
    }
    m2 = s2(np.array(list(r2.values())))
    dev = {hh: abs(2 * x - m2) for hh, x in r2.items()}
    mad2 = s2(np.array(list(dev.values())))
    z = {
        hh: (d / 100) / (1.4826 * (mad2 / 100 / 2.0))
        for hh, d in dev.items()
    }
    top = sorted(z.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    out = plans.QUERIES["robust_anomalies_hourly"](spark, SF).collect()
    assert [(r["h"]) for r in out] == [hh for hh, _ in top]
    for r, (hh, zz) in zip(out, top):
        assert r["robust_z"] == pytest.approx(zz, rel=1e-9)
        assert r["residual"] == pytest.approx(r2[hh] / 100 / 2.0, rel=1e-9)


def test_nelson_aalen_matches_pandas(spark):
    ev = _events().sort_values(["user_id", "ts", "event_id"])
    gmax = ev.ts.max()
    obs = []
    for _, grp in ev.groupby("user_id"):
        ts = list(grp.ts)
        for i, t0 in enumerate(ts):
            nxt = ts[i + 1] if i + 1 < len(ts) else None
            end = nxt if nxt is not None else gmax
            hours = int(
                (end.value // 1000 - t0.value // 1000) // 3600000000
            )
            obs.append((hours, nxt is not None))
    from collections import Counter

    per_events = Counter(t for t, e in obs if e)
    per_leaving = Counter(t for t, _ in obs)
    n_total = len(obs)
    ch = 0
    cv = 0
    left_before = 0
    expect = []
    for t in sorted(per_leaving):
        n_risk = n_total - left_before
        left_before += per_leaving[t]
        d = per_events.get(t, 0)
        if d == 0:
            continue
        ch += round(d / n_risk * 1e9)
        cv += round(d / (n_risk * n_risk) * 1e9)
        expect.append((t, n_risk, d, ch / 1e9, cv / 1e9))
    out = plans.QUERIES["nelson_aalen_events"](spark, SF).collect()
    assert len(out) == min(40, len(expect))
    for r, e in zip(out, expect[:40]):
        assert (r["t"], r["n_risk"], r["n_events"]) == (e[0], e[1], e[2])
        assert r["cum_hazard"] == pytest.approx(e[3], rel=1e-12)
        assert r["hazard_var"] == pytest.approx(e[4], rel=1e-12)
    # cumulative hazard is non-decreasing
    hz = [r["cum_hazard"] for r in out]
    assert all(a <= b for a, b in zip(hz, hz[1:]))


def test_jackknife_matches_numpy(spark):
    ev = _events()
    cents = (ev.value * 100).round().astype("int64").to_numpy()
    n = len(cents)
    theta = cents.sum() / 100 / n
    loo = (cents.sum() - cents) / 100 / (n - 1)  # delete-one means
    var = (n - 1) / n * ((loo - theta) ** 2).sum()
    out = plans.QUERIES["jackknife_variance_events"](spark, SF).collect()[0]
    assert out["n"] == n
    assert out["mean_value"] == pytest.approx(theta, rel=1e-12)
    assert out["jackknife_var"] == pytest.approx(var, rel=1e-9)
    assert out["jackknife_se"] == pytest.approx(math.sqrt(var), rel=1e-9)


def test_blocking_pr_eval_contract(spark):
    out = plans.QUERIES["blocking_pr_eval_parts"](spark, SF).collect()[0]
    assert out["n_hit"] <= min(out["n_candidates"], out["n_truth"])
    assert 0.0 <= out["precision"] <= 1.0
    assert 0.0 <= out["recall"] <= 1.0
    # F1 here uses the pair-count form 2h/(c+t); cross-check identity
    c, t, h = out["n_candidates"], out["n_truth"], out["n_hit"]
    assert out["f1"] == pytest.approx(2 * h / (c + t), rel=1e-12)
