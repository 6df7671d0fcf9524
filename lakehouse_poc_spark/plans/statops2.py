"""Second exact-stats wave (r8): Spearman rank correlation,
Kruskal–Wallis H, Good–Turing smoothing, Adamic–Adar link
prediction, equi-depth histograms, SAX symbolic words, Gumbel
block-maxima fitting, SRE multiwindow burn-rate alerts, Allen's
interval algebra, and forecast evaluation (MAE/MASE)
(SURVEY §7 extension scope — the reference has no stats surface).

Determinism (repo conventions, plans/__init__.py): every statistic
reduces to EXACT sums first — BIGINT for counts/ranks, DECIMAL for
double series — and only then combines them with a mirrored
double-arithmetic expression. Order-dependent double sums are
eliminated structurally:
- Spearman/Kruskal–Wallis work on INTEGER doubled average ranks
  (2·avg_rank = 2·rank + tie_count − 1 is always integral).
- Adamic–Adar pivots the bounded degree domain (common neighbors in
  a bipartite projection have degree ≤ #event types) into literal
  ``cnt_d / ln(d)`` terms added in a fixed order.
- Gumbel moments use decimal sums of the (2-decimal) daily maxima.

100 TB shapes:
- Spearman / Kruskal–Wallis rank on AGGREGATED bounded domains
  (hours; distinct 2-decimal values), never the raw event relation.
- equi-depth bins use the block-offset global_rank discipline
  (operators/linkage.py) — no single-reducer global window.
- Adamic–Adar joins on the user key (the bipartite edge list), pair
  domain is #types², never #users².
- SAX windows are partitioned per type; burn-rate windows run on the
  hourly aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import read_parquet_table
from . import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet_table(spark, sf_dir, name)


def _hour_idx() -> F.Column:
    return F.floor(F.unix_timestamp("ts") / F.lit(3600)).cast("bigint")


def _day_idx() -> F.Column:
    return F.floor(F.unix_timestamp("ts") / F.lit(86400)).cast("bigint")


_SQL_HOUR = "CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 3600) AS BIGINT)"
_SQL_DAY = "CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 86400) AS BIGINT)"


# ---------------------------------------------------------------------------
# Spearman rank correlation (Spearman 1904, public) between the
# hourly click and purchase count series — the rank twin of
# kendall_tau_hourly. Average ranks for ties stay INTEGRAL by
# doubling: 2·avg_rank = 2·RANK() + tie_count − 1. ρ is then the
# Pearson formula over the doubled ranks (the 2s cancel), combined
# from exact BIGINT/DECIMAL sums. The rank window runs on the
# AGGREGATED hourly domain (#hours — bounded), the raw pass is one
# partial-combined groupBy. The scale-0 rank sums are cast to
# double DIRECTLY: their unscaled integers stay under 2^53 for any
# bounded hour domain (4n³ ≤ 2^53 up to ~130k hours ≈ 15 years),
# where both engines' casts are exact — upscaling to DECIMAL(38,6)
# would multiply the unscaled value by 10^6 INTO the zone where
# DuckDB's cast is no longer correctly rounded (r9, fuzz-measured).
@query(
    "spearman_hourly",
    oracle=f"""
    WITH hourly AS (
        SELECT {_SQL_HOUR} AS h,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS y
        FROM events WHERE event_type IN ('click', 'purchase')
        GROUP BY 1
    ),
    ranked AS (
        SELECT
            2 * RANK() OVER (ORDER BY x)
              + COUNT(*) OVER (PARTITION BY x) - 1 AS rx,
            2 * RANK() OVER (ORDER BY y)
              + COUNT(*) OVER (PARTITION BY y) - 1 AS ry
        FROM hourly
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(rx) AS BIGINT) AS sx,
               CAST(SUM(ry) AS BIGINT) AS sy,
               SUM(CAST(rx AS DECIMAL(38,0)) * rx) AS sxx,
               SUM(CAST(ry AS DECIMAL(38,0)) * ry) AS syy,
               SUM(CAST(rx AS DECIMAL(38,0)) * ry) AS sxy
        FROM ranked
    )
    SELECT n,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
               AS spearman_rho
    FROM s
    """,
)
def spearman_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    hourly = ev.groupBy(_hour_idx().alias("h")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    rx = (
        2 * F.rank().over(Window.orderBy("x"))
        + F.count(F.lit(1)).over(Window.partitionBy("x"))
        - 1
    )
    ry = (
        2 * F.rank().over(Window.orderBy("y"))
        + F.count(F.lit(1)).over(Window.partitionBy("y"))
        - 1
    )
    ranked = hourly.select(rx.alias("rx"), ry.alias("ry"))
    s = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("rx").cast("bigint").alias("sx"),
        F.sum("ry").cast("bigint").alias("sy"),
        F.sum(F.col("rx").cast("decimal(38,0)") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry").cast("decimal(38,0)") * F.col("ry")).alias("syy"),
        F.sum(F.col("rx").cast("decimal(38,0)") * F.col("ry")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    return s.select(
        "n",
        (
            (nd * F.col("sxy").cast("double") - sxd * syd)
            / (
                F.sqrt(nd * F.col("sxx").cast("double") - sxd * sxd)
                * F.sqrt(nd * F.col("syy").cast("double") - syd * syd)
            )
        ).alias("spearman_rho"),
    )


# ---------------------------------------------------------------------------
# Kruskal–Wallis H test (Kruskal & Wallis 1952, public): does event
# `value` differ across click/view/purchase? Rank-based one-way
# ANOVA with the tie correction. Ranks come from the DISTINCT-VALUE
# domain (values are 2-decimal — bounded): per distinct value,
# 2·avg_rank = 2·(#rows below) + tie_count + 1 is integral and
# computed from a cumulative count over the distinct-value relation,
# then joined back (broadcast — the domain is small). Per-group rank
# sums are exact BIGINTs; the three groups are pivoted to literal
# columns so H adds its per-group terms in a FIXED order (no
# order-dependent double sum).
@query(
    "kruskal_wallis_events",
    oracle="""
    WITH ev AS (
        SELECT event_type, value FROM events
        WHERE event_type IN ('click', 'view', 'purchase')
    ),
    vals AS (
        SELECT value, CAST(COUNT(*) AS BIGINT) AS cnt FROM ev GROUP BY value
    ),
    ranked AS (
        SELECT value,
               cnt,
               2 * (SUM(cnt) OVER (ORDER BY value) - cnt) + cnt + 1 AS r2
        FROM vals
    ),
    g AS (
        SELECT
            CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_click,
            CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_view,
            CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_purchase,
            CAST(SUM(CASE WHEN event_type = 'click' THEN r.r2 ELSE 0 END)
                 AS BIGINT) AS s_click,
            CAST(SUM(CASE WHEN event_type = 'view' THEN r.r2 ELSE 0 END)
                 AS BIGINT) AS s_view,
            CAST(SUM(CASE WHEN event_type = 'purchase' THEN r.r2 ELSE 0 END)
                 AS BIGINT) AS s_purchase
        FROM ev JOIN ranked r USING (value)
    ),
    ties AS (
        SELECT CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_sum
        FROM vals
    )
    SELECT n, n_click, n_view, n_purchase,
           s_click, s_view, s_purchase,
           (3.0 / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)))
             * (CAST(CAST(s_click AS DECIMAL(38,0)) * s_click AS DOUBLE)
                  / CAST(n_click AS DOUBLE)
                + CAST(CAST(s_view AS DECIMAL(38,0)) * s_view AS DOUBLE)
                  / CAST(n_view AS DOUBLE)
                + CAST(CAST(s_purchase AS DECIMAL(38,0)) * s_purchase
                       AS DOUBLE) / CAST(n_purchase AS DOUBLE))
             - 3.0 * CAST(n + 1 AS DOUBLE) AS h_stat,
           ((3.0 / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)))
             * (CAST(CAST(s_click AS DECIMAL(38,0)) * s_click AS DOUBLE)
                  / CAST(n_click AS DOUBLE)
                + CAST(CAST(s_view AS DECIMAL(38,0)) * s_view AS DOUBLE)
                  / CAST(n_view AS DOUBLE)
                + CAST(CAST(s_purchase AS DECIMAL(38,0)) * s_purchase
                       AS DOUBLE) / CAST(n_purchase AS DOUBLE))
             - 3.0 * CAST(n + 1 AS DOUBLE))
           / (1.0 - CAST(t.tie_sum AS DOUBLE)
                    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                       * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)))
               AS h_corrected
    FROM g, ties t
    """,
)
def kruskal_wallis_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view", "purchase")
    ).select("event_type", "value")
    vals = ev.groupBy("value").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    w = Window.orderBy("value")
    ranked = vals.select(
        "value",
        "cnt",
        (2 * (F.sum("cnt").over(w) - F.col("cnt")) + F.col("cnt") + 1).alias(
            "r2"
        ),
    )
    joined = ev.join(F.broadcast(ranked.select("value", "r2")), "value")

    def _n(t):
        return (
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
            .cast("bigint")
            .alias(f"n_{t}")
        )

    def _s(t):
        return (
            F.sum(F.when(F.col("event_type") == t, F.col("r2")).otherwise(0))
            .cast("bigint")
            .alias(f"s_{t}")
        )

    g = joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _n("click"),
        _n("view"),
        _n("purchase"),
        _s("click"),
        _s("view"),
        _s("purchase"),
    )
    ties = vals.agg(
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("bigint")
        .alias("tie_sum")
    )
    r = g.crossJoin(F.broadcast(ties))
    nd = F.col("n").cast("double")

    def term(t):
        s = F.col(f"s_{t}")
        return (s.cast("decimal(38,0)") * s).cast("double") / F.col(
            f"n_{t}"
        ).cast("double")

    h = (3.0 / (nd * (F.col("n") + 1).cast("double"))) * (
        term("click") + term("view") + term("purchase")
    ) - 3.0 * (F.col("n") + 1).cast("double")
    corr = h / (
        F.lit(1.0) - F.col("tie_sum").cast("double") / (nd * nd * nd - nd)
    )
    return r.select(
        "n",
        "n_click",
        "n_view",
        "n_purchase",
        "s_click",
        "s_view",
        "s_purchase",
        h.alias("h_stat"),
        corr.alias("h_corrected"),
    )


# ---------------------------------------------------------------------------
# Good–Turing frequency estimation (Good 1953, public): from the
# corpus token counts, the frequency-of-frequencies table N_r and
# the adjusted count r* = (r+1)·N_{r+1}/N_r — the smoothing base
# under Katz backoff. Pure count arithmetic: one token groupBy, one
# count-of-counts groupBy (domain = distinct frequencies), one
# self-join on r+1. The single division is the last step.
@query(
    "good_turing_docs",
    oracle=r"""
    WITH tok AS (
        SELECT unnest(string_split_regex(text, '\s+')) AS token
        FROM documents
    ),
    counts AS (
        SELECT token, COUNT(*) AS c FROM tok WHERE token <> ''
        GROUP BY token
    ),
    fof AS (
        SELECT c AS r, CAST(COUNT(*) AS BIGINT) AS n_r
        FROM counts GROUP BY c
    ),
    low AS (SELECT r FROM fof ORDER BY r LIMIT 8)
    SELECT a.r, a.n_r,
           CAST(a.r + 1 AS DOUBLE) * CAST(b.n_r AS DOUBLE)
             / CAST(a.n_r AS DOUBLE) AS r_star
    FROM fof a
    JOIN low ON low.r = a.r
    LEFT JOIN fof b ON b.r = a.r + 1
    ORDER BY a.r
    """,
)
def good_turing_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split(F.col("text"), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    fof = counts.groupBy(F.col("c").alias("r")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_r")
    )
    b = fof.select((F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r1"))
    low = fof.select("r").orderBy("r").limit(8)
    return (
        fof.join(low, "r")
        .join(b, "r", "left")
        .select(
            "r",
            "n_r",
            (
                (F.col("r") + 1).cast("double")
                * F.col("n_r1").cast("double")
                / F.col("n_r").cast("double")
            ).alias("r_star"),
        )
        .orderBy("r")
    )


# ---------------------------------------------------------------------------
# Adamic–Adar link prediction (Adamic & Adar 2003, public) between
# event types in the user–type bipartite projection: common
# neighbors are USERS, weighted down by their degree (#distinct
# types they touch): AA(a,b) = Σ_z 1/ln(deg z). Degrees in this
# projection are bounded by #event types, so the score is computed
# from EXACT per-degree counts pivoted to literal ``cnt_d/ln(d)``
# terms (d = 2..8) added in fixed order — no order-dependent double
# sum. Scale shape: one distinct, one user-keyed pair join (pair
# domain #types²), one groupBy.
@query(
    "adamic_adar_event_types",
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    deg AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS d FROM ut
        GROUP BY user_id
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b, g.d
        FROM ut a
        JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
        JOIN deg g ON g.user_id = a.user_id
    ),
    agg AS (
        SELECT type_a, type_b,
               CAST(COUNT(*) AS BIGINT) AS n_common,
               CAST(SUM(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
               CAST(SUM(CASE WHEN d = 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
               CAST(SUM(CASE WHEN d = 4 THEN 1 ELSE 0 END) AS BIGINT) AS c4,
               CAST(SUM(CASE WHEN d = 5 THEN 1 ELSE 0 END) AS BIGINT) AS c5,
               CAST(SUM(CASE WHEN d = 6 THEN 1 ELSE 0 END) AS BIGINT) AS c6,
               CAST(SUM(CASE WHEN d = 7 THEN 1 ELSE 0 END) AS BIGINT) AS c7,
               CAST(SUM(CASE WHEN d = 8 THEN 1 ELSE 0 END) AS BIGINT) AS c8
        FROM pairs GROUP BY type_a, type_b
    )
    SELECT type_a, type_b, n_common,
           CAST(c2 AS DOUBLE) / ln(2.0)
             + CAST(c3 AS DOUBLE) / ln(3.0)
             + CAST(c4 AS DOUBLE) / ln(4.0)
             + CAST(c5 AS DOUBLE) / ln(5.0)
             + CAST(c6 AS DOUBLE) / ln(6.0)
             + CAST(c7 AS DOUBLE) / ln(7.0)
             + CAST(c8 AS DOUBLE) / ln(8.0) AS aa_score
    FROM agg
    ORDER BY type_a, type_b
    """,
)
def adamic_adar_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    deg = ut.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .join(deg, "user_id")
    )
    cnt_cols = [
        F.sum(F.when(F.col("d") == d, 1).otherwise(0))
        .cast("bigint")
        .alias(f"c{d}")
        for d in range(2, 9)
    ]
    agg = pairs.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common"), *cnt_cols
    )
    import math

    score = None
    for d in range(2, 9):
        t = F.col(f"c{d}").cast("double") / F.lit(math.log(float(d)))
        score = t if score is None else score + t
    return agg.select(
        "type_a", "type_b", "n_common", score.alias("aa_score")
    ).orderBy("type_a", "type_b")


# ---------------------------------------------------------------------------
# Equi-depth histogram (the DB-optimizer classic — Piatetsky-Shapiro
# & Connell 1984, public) of event values in 8 depth-balanced bins.
# Bin assignment is floor((rn−1)·8/N) over the TOTAL order
# (value, event_id) — computed with the block-offset global_rank
# discipline (operators/linkage.py), never a single-reducer global
# window; the oracle mirrors the same formula over ROW_NUMBER().
@query(
    "equidepth_histogram_events",
    oracle="""
    WITH ranked AS (
        SELECT value,
               ROW_NUMBER() OVER (ORDER BY value, event_id) AS rn,
               COUNT(*) OVER () AS n
        FROM events
    )
    SELECT CAST(FLOOR((rn - 1) * 8 / n) AS INT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(value) AS lo,
           MAX(value) AS hi,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)
               AS mean_value
    FROM ranked
    GROUP BY 1
    ORDER BY bin
    """,
)
def equidepth_histogram_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.linkage import global_rank

    ev = _t(spark, sf_dir, "events").select("event_id", "value")
    n = ev.count()
    ranked = global_rank(
        ev, ["value", "event_id"], F.floor(F.col("value") / F.lit(64.0))
    )
    return (
        ranked.select(
            F.floor((F.col("rank") - 1) * 8 / F.lit(n))
            .cast("int")
            .alias("bin"),
            "value",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
            (
                F.sum(F.col("value").cast("decimal(30,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_value"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# SAX symbolic words (Lin, Keogh et al. 2003, public — with
# empirical quartile breakpoints instead of the Gaussian table, so
# the discretization is exact): per event type, the daily value
# totals form the PAA series (exact decimal sums), each day maps to
# a quartile symbol a<b<c<d via ntile(4) within the type, and the
# symbols concatenate in day order into the type's word — the motif
# representation used for similarity search over series. All
# windows are per-type on the daily aggregate domain.
@query(
    "sax_words_events",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, {_SQL_DAY} AS d,
               SUM(CAST(value AS DECIMAL(30,6))) AS paa
        FROM events GROUP BY 1, 2
    ),
    sym AS (
        SELECT event_type, d,
               CASE NTILE(4) OVER (PARTITION BY event_type
                                   ORDER BY paa, d)
                    WHEN 1 THEN 'a' WHEN 2 THEN 'b'
                    WHEN 3 THEN 'c' ELSE 'd' END AS s
        FROM daily
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           STRING_AGG(s, '' ORDER BY d) AS word
    FROM sym GROUP BY event_type
    ORDER BY event_type
    """,
)
def sax_words_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", _day_idx().alias("d")
    ).agg(F.sum(F.col("value").cast("decimal(30,6)")).alias("paa"))
    w = Window.partitionBy("event_type").orderBy("paa", "d")
    sym = daily.select(
        "event_type",
        "d",
        F.when(F.ntile(4).over(w) == 1, "a")
        .when(F.ntile(4).over(w) == 2, "b")
        .when(F.ntile(4).over(w) == 3, "c")
        .otherwise("d")
        .alias("s"),
    )
    return (
        sym.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("d", "s"))),
                    lambda x: x["s"],
                ),
                "",
            ).alias("word"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Gumbel fit on block maxima (Fisher–Tippett 1928 / Gumbel 1958,
# public — the extreme-value workhorse for capacity planning): take
# the DAILY maximum event value (the block maxima), fit the Gumbel
# location/scale by the method of moments (scale = s·√6/π,
# loc = mean − γ·scale with Euler–Mascheroni γ), and report the
# 30-day return level loc − scale·ln(−ln(1 − 1/30)). The maxima are
# 2-decimal values, so their decimal sums are exact; moments combine
# in one mirrored double expression.
@query(
    "gumbel_block_maxima_events",
    oracle=f"""
    WITH daily AS (
        SELECT {_SQL_DAY} AS d, MAX(value) AS m
        FROM events GROUP BY 1
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(m AS DECIMAL(30,6))) AS sm,
               SUM(CAST(m AS DECIMAL(30,6)) * CAST(m AS DECIMAL(30,6)))
                   AS smm
        FROM daily
    )
    SELECT n,
           CAST(sm AS DOUBLE) / CAST(n AS DOUBLE) AS mean_max,
           sqrt((CAST(n AS DOUBLE) * CAST(smm AS DOUBLE)
                   - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
             * sqrt(6.0) / 3.141592653589793 AS gumbel_scale,
           CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)
             - 0.5772156649015329
               * (sqrt((CAST(n AS DOUBLE) * CAST(smm AS DOUBLE)
                          - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE))
                       / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
                  * sqrt(6.0) / 3.141592653589793) AS gumbel_loc,
           (CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)
             - 0.5772156649015329
               * (sqrt((CAST(n AS DOUBLE) * CAST(smm AS DOUBLE)
                          - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE))
                       / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
                  * sqrt(6.0) / 3.141592653589793))
           - (sqrt((CAST(n AS DOUBLE) * CAST(smm AS DOUBLE)
                      - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
              * sqrt(6.0) / 3.141592653589793)
             * ln(-ln(1.0 - 1.0 / 30.0)) AS return_level_30d
    FROM s
    """,
)
def gumbel_block_maxima_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(_day_idx().alias("d")).agg(F.max("value").alias("m"))
    mdec = F.col("m").cast("decimal(30,6)")
    s = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(mdec).alias("sm"),
        F.sum(mdec * mdec).alias("smm"),
    )
    import math

    nd = F.col("n").cast("double")
    smd = F.col("sm").cast("double")
    mean = smd / nd
    sd = F.sqrt(
        (nd * F.col("smm").cast("double") - smd * smd)
        / (nd * (F.col("n") - 1).cast("double"))
    )
    scale = sd * F.sqrt(F.lit(6.0)) / F.lit(math.pi)
    loc = mean - F.lit(0.5772156649015329) * scale
    ret30 = loc - scale * F.lit(math.log(-math.log(1.0 - 1.0 / 30.0)))
    return s.select(
        "n",
        mean.alias("mean_max"),
        scale.alias("gumbel_scale"),
        loc.alias("gumbel_loc"),
        ret30.alias("return_level_30d"),
    )


# ---------------------------------------------------------------------------
# SRE multiwindow burn-rate alerts (Google SRE Workbook ch. 5,
# public): with a 75% availability SLO over the events stream
# (event_type = 'error' burns budget), alert on the hours where BOTH
# the 1-hour and the trailing-6-hour burn rates exceed their
# thresholds (1.2× / 1.0× — the fast+slow window pairing that kills
# blips without missing slow burns). Integer hourly sums; the
# trailing window runs on the hourly aggregate (RANGE on the hour
# index, so missing hours are handled by value, not row position).
@query(
    "slo_burn_rate_events",
    oracle=f"""
    WITH hourly AS (
        SELECT {_SQL_HOUR} AS h,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS err,
               CAST(COUNT(*) AS BIGINT) AS tot
        FROM events GROUP BY 1
    ),
    windowed AS (
        SELECT h, err, tot,
               CAST(SUM(err) OVER (ORDER BY h
                    RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS err6,
               CAST(SUM(tot) OVER (ORDER BY h
                    RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS tot6
        FROM hourly
    )
    SELECT h, err, tot,
           (CAST(err AS DOUBLE) / CAST(tot AS DOUBLE)) / 0.25 AS burn_1h,
           (CAST(err6 AS DOUBLE) / CAST(tot6 AS DOUBLE)) / 0.25 AS burn_6h
    FROM windowed
    WHERE (CAST(err AS DOUBLE) / CAST(tot AS DOUBLE)) / 0.25 >= 1.2
      AND (CAST(err6 AS DOUBLE) / CAST(tot6 AS DOUBLE)) / 0.25 >= 1.0
    ORDER BY h
    """,
)
def slo_burn_rate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(_hour_idx().alias("h")).agg(
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("err"),
        F.count(F.lit(1)).cast("bigint").alias("tot"),
    )
    w = Window.orderBy("h").rangeBetween(-5, 0)
    windowed = hourly.select(
        "h",
        "err",
        "tot",
        F.sum("err").over(w).cast("bigint").alias("err6"),
        F.sum("tot").over(w).cast("bigint").alias("tot6"),
    )
    burn1 = (F.col("err").cast("double") / F.col("tot").cast("double")) / 0.25
    burn6 = (
        F.col("err6").cast("double") / F.col("tot6").cast("double")
    ) / 0.25
    return (
        windowed.select(
            "h",
            "err",
            "tot",
            burn1.alias("burn_1h"),
            burn6.alias("burn_6h"),
        )
        .filter((F.col("burn_1h") >= 1.2) & (F.col("burn_6h") >= 1.0))
        .orderBy("h")
    )


# ---------------------------------------------------------------------------
# Allen's interval algebra (Allen 1983, public): classify every
# within-customer pair of order fulfillment intervals into the 13
# temporal relations (before/meets/overlaps/starts/during/finishes,
# their inverses, and equals) and count the distribution. An order's
# interval is [orderdate, last shipdate]; pairs form between orders
# of the SAME customer. Pure date comparisons — exact on both
# engines; the CASE order is identical on both sides, so degenerate
# (point) intervals resolve the same way. Scale shape: one
# order-keyed agg for the intervals, pairs inside the customer key
# only (bounded fan-out), one partial-combined count at the end.
_ALLEN_CASES = [
    ("equals", "(a1 = b1 AND a2 = b2)"),
    ("before", "(a2 < b1)"),
    ("after", "(b2 < a1)"),
    ("meets", "(a2 = b1)"),
    ("met_by", "(b2 = a1)"),
    ("starts", "(a1 = b1 AND a2 < b2)"),
    ("started_by", "(a1 = b1 AND a2 > b2)"),
    ("finishes", "(a2 = b2 AND a1 > b1)"),
    ("finished_by", "(a2 = b2 AND a1 < b1)"),
    ("during", "(a1 > b1 AND a2 < b2)"),
    ("contains", "(a1 < b1 AND a2 > b2)"),
    ("overlaps", "(a1 < b1 AND a2 > b1 AND a2 < b2)"),
    ("overlapped_by", "(b1 < a1 AND b2 > a1 AND b2 < a2)"),
]

_ALLEN_SQL_CASE = "CASE " + " ".join(
    f"WHEN {cond} THEN '{name}'" for name, cond in _ALLEN_CASES
) + " END"


@query(
    "allen_relations_orders",
    oracle=f"""
    WITH iv AS (
        SELECT o.o_custkey AS ck, o.o_orderkey AS ok,
               o.o_orderdate AS s, MAX(l.l_shipdate) AS r
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_custkey, o.o_orderkey, o.o_orderdate
    ),
    pairs AS (
        SELECT a.s AS a1, a.r AS a2, b.s AS b1, b.r AS b2
        FROM iv a JOIN iv b
          ON a.ck = b.ck AND a.ok < b.ok
    )
    SELECT {_ALLEN_SQL_CASE} AS relation,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pairs
    GROUP BY 1
    ORDER BY relation
    """,
)
def allen_relations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    iv = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_custkey", "o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("r"))
        .select(
            F.col("o_custkey").alias("ck"),
            F.col("o_orderkey").alias("ok"),
            F.col("o_orderdate").alias("s"),
            "r",
        )
    )
    a = iv.select(
        "ck",
        F.col("ok").alias("ok_a"),
        F.col("s").alias("a1"),
        F.col("r").alias("a2"),
    )
    b = iv.select(
        "ck",
        F.col("ok").alias("ok_b"),
        F.col("s").alias("b1"),
        F.col("r").alias("b2"),
    )
    pairs = a.join(b, "ck").filter(F.col("ok_a") < F.col("ok_b"))
    rel = None
    for name, _ in _ALLEN_CASES:
        conds = {
            "equals": (F.col("a1") == F.col("b1")) & (F.col("a2") == F.col("b2")),
            "before": F.col("a2") < F.col("b1"),
            "after": F.col("b2") < F.col("a1"),
            "meets": F.col("a2") == F.col("b1"),
            "met_by": F.col("b2") == F.col("a1"),
            "starts": (F.col("a1") == F.col("b1")) & (F.col("a2") < F.col("b2")),
            "started_by": (F.col("a1") == F.col("b1")) & (F.col("a2") > F.col("b2")),
            "finishes": (F.col("a2") == F.col("b2")) & (F.col("a1") > F.col("b1")),
            "finished_by": (F.col("a2") == F.col("b2")) & (F.col("a1") < F.col("b1")),
            "during": (F.col("a1") > F.col("b1")) & (F.col("a2") < F.col("b2")),
            "contains": (F.col("a1") < F.col("b1")) & (F.col("a2") > F.col("b2")),
            "overlaps": (F.col("a1") < F.col("b1"))
            & (F.col("a2") > F.col("b1"))
            & (F.col("a2") < F.col("b2")),
            "overlapped_by": (F.col("b1") < F.col("a1"))
            & (F.col("b2") > F.col("a1"))
            & (F.col("b2") < F.col("a2")),
        }[name]
        rel = F.when(conds, name) if rel is None else rel.when(conds, name)
    return (
        pairs.select(rel.alias("relation"))
        .groupBy("relation")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .orderBy("relation")
    )


# ---------------------------------------------------------------------------
# Forecast evaluation: MAE of the naive (lag-1) and seasonal-naive
# (lag-24) hourly forecasts plus the MASE ratio (Hyndman & Koehler
# 2006, public) — the scale-free accuracy metric that makes
# forecasting methods comparable across series. Hourly totals are
# exact decimal sums, forecasts are LAGGED ACTUALS (still exact
# decimals), so every |error| and both MAE numerators are exact; the
# only doubles are the two final divisions and their ratio.
@query(
    "forecast_eval_events",
    oracle=f"""
    WITH hourly AS (
        SELECT {_SQL_HOUR} AS h,
               SUM(CAST(value AS DECIMAL(30,6))) AS v
        FROM events GROUP BY 1
    ),
    lagged AS (
        SELECT h, v,
               LAG(v, 1) OVER (ORDER BY h) AS f_naive,
               LAG(v, 24) OVER (ORDER BY h) AS f_snaive
        FROM hourly
    ),
    scored AS (
        SELECT ABS(v - f_naive) AS e_naive,
               ABS(v - f_snaive) AS e_snaive
        FROM lagged
        WHERE f_naive IS NOT NULL AND f_snaive IS NOT NULL
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(e_naive) AS se_naive,
               SUM(e_snaive) AS se_snaive
        FROM scored
    )
    SELECT n,
           CAST(se_naive AS DOUBLE) / CAST(n AS DOUBLE) AS mae_naive,
           CAST(se_snaive AS DOUBLE) / CAST(n AS DOUBLE) AS mae_snaive,
           (CAST(se_snaive AS DOUBLE) / CAST(n AS DOUBLE))
             / (CAST(se_naive AS DOUBLE) / CAST(n AS DOUBLE)) AS mase_snaive
    FROM s
    """,
)
def forecast_eval_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(_hour_idx().alias("h")).agg(
        F.sum(F.col("value").cast("decimal(30,6)")).alias("v")
    )
    w = Window.orderBy("h")
    lagged = hourly.select(
        "v",
        F.lag("v", 1).over(w).alias("f_naive"),
        F.lag("v", 24).over(w).alias("f_snaive"),
    ).filter(
        F.col("f_naive").isNotNull() & F.col("f_snaive").isNotNull()
    )
    s = lagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.abs(F.col("v") - F.col("f_naive"))).alias("se_naive"),
        F.sum(F.abs(F.col("v") - F.col("f_snaive"))).alias("se_snaive"),
    )
    nd = F.col("n").cast("double")
    mae_n = F.col("se_naive").cast("double") / nd
    mae_s = F.col("se_snaive").cast("double") / nd
    return s.select(
        "n",
        mae_n.alias("mae_naive"),
        mae_s.alias("mae_snaive"),
        (mae_s / mae_n).alias("mase_snaive"),
    )


# ---------------------------------------------------------------------------
# AMS / tug-of-war F2 sketch (Alon, Matias & Szegedy 1996, public —
# the join-size/self-join-size estimator): five ±1 hash sign
# estimators, each (Σ_x f_x·sign_i(x))², combined by the MEDIAN.
# Signs come from the same literal universal-hash family idiom as
# the CMS ((a·x+b) mod p) mod 2 — portable integer arithmetic, so
# every estimator is an exact BIGINT and the median is a rank pick,
# not float math. Scale shape: one groupBy for the frequencies, one
# 5-row hash fan-out, partial-combined sums — sketch memory is k
# counters regardless of domain size.
_AMS_P = 2147483647  # Mersenne prime 2^31-1
_AMS_ROWS = [
    (1, 101, 17),
    (2, 2003, 89),
    (3, 40009, 251),
    (4, 700001, 733),
    (5, 1300021, 977),
]


@query(
    "ams_f2_users",
    oracle=f"""
    WITH hs(i, a, b) AS (
        VALUES {", ".join(f"({i}, {a}, {b})" for i, a, b in _AMS_ROWS)}
    ),
    counts AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS f
        FROM events GROUP BY user_id
    ),
    ests AS (
        SELECT h.i,
               CAST(SUM((1 - 2 * (((h.a * c.user_id + h.b) % {_AMS_P}) % 2))
                        * c.f) AS BIGINT) AS z
        FROM counts c CROSS JOIN hs h
        GROUP BY h.i
    ),
    sq AS (SELECT i, z * z AS est FROM ests),
    med AS (SELECT est FROM sq ORDER BY est, i LIMIT 1 OFFSET 2),
    exact AS (SELECT CAST(SUM(f * f) AS BIGINT) AS f2 FROM counts)
    SELECT e.f2 AS exact_f2,
           CAST(m.est AS BIGINT) AS ams_f2,
           CAST(m.est - e.f2 AS DOUBLE) / CAST(e.f2 AS DOUBLE) AS rel_error
    FROM exact e, med m
    """,
)
def ams_f2_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("f")
    )
    hs = ev.sparkSession.createDataFrame(_AMS_ROWS, "i int, a long, b long")
    sign = 1 - 2 * (((F.col("a") * F.col("user_id") + F.col("b")) % _AMS_P) % 2)
    ests = (
        counts.crossJoin(F.broadcast(hs))
        .groupBy("i")
        .agg(F.sum(sign * F.col("f")).cast("bigint").alias("z"))
    )
    sq = ests.select("i", (F.col("z") * F.col("z")).alias("est"))
    med = (  # 3rd-smallest by (est, i): mirrors ORDER BY est, i OFFSET 2
        sq.orderBy("est", "i")
        .limit(3)
        .orderBy(F.desc("est"), F.desc("i"))
        .limit(1)
    )
    exact = counts.agg(
        F.sum(F.col("f") * F.col("f")).cast("bigint").alias("f2")
    )
    return exact.crossJoin(F.broadcast(med)).select(
        F.col("f2").alias("exact_f2"),
        F.col("est").cast("bigint").alias("ams_f2"),
        (
            (F.col("est") - F.col("f2")).cast("double")
            / F.col("f2").cast("double")
        ).alias("rel_error"),
    )


# ---------------------------------------------------------------------------
# McNemar's test (McNemar 1947, public) on paired behavior at the
# (user, day) grain: did the user click that day vs purchase that
# day. The test looks ONLY at the discordant cells b (clicked, no
# purchase) and c (purchased, no click). Statistic (b−c)²/(b+c) and
# the continuity-corrected (|b−c|−1)²/(b+c) — integer counts, two
# final double divisions, NULL-guarded when no discordance exists.
@query(
    "mcnemar_click_purchase",
    oracle="""
    WITH u AS (
        SELECT user_id,
               CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 86400)
                    AS BIGINT) AS d,
               MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clk,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS pur
        FROM events GROUP BY user_id, d
    ),
    s AS (
        SELECT
            CAST(SUM(CASE WHEN clk = 1 AND pur = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS a,
            CAST(SUM(CASE WHEN clk = 1 AND pur = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS b,
            CAST(SUM(CASE WHEN clk = 0 AND pur = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS c,
            CAST(SUM(CASE WHEN clk = 0 AND pur = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS d
        FROM u
    )
    SELECT a, b, c, d,
           CASE WHEN b + c > 0
                THEN CAST((b - c) * (b - c) AS DOUBLE)
                     / CAST(b + c AS DOUBLE) END AS mcnemar_stat,
           CASE WHEN b + c > 0
                THEN CAST((ABS(b - c) - 1) * (ABS(b - c) - 1) AS DOUBLE)
                     / CAST(b + c AS DOUBLE) END AS mcnemar_corrected
    FROM s
    """,
)
def mcnemar_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id", _day_idx().alias("d")).agg(
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "clk"
        ),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("pur"),
    )
    s = u.agg(
        F.sum(F.when((F.col("clk") == 1) & (F.col("pur") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("a"),
        F.sum(F.when((F.col("clk") == 1) & (F.col("pur") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("b"),
        F.sum(F.when((F.col("clk") == 0) & (F.col("pur") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("c"),
        F.sum(F.when((F.col("clk") == 0) & (F.col("pur") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("d"),
    )
    bc = (F.col("b") + F.col("c")).cast("double")
    has = (F.col("b") + F.col("c")) > 0
    return s.select(
        "a",
        "b",
        "c",
        "d",
        F.when(
            has,
            ((F.col("b") - F.col("c")) * (F.col("b") - F.col("c"))).cast(
                "double"
            )
            / bc,
        ).alias("mcnemar_stat"),
        F.when(
            has,
            (
                (F.abs(F.col("b") - F.col("c")) - 1)
                * (F.abs(F.col("b") - F.col("c")) - 1)
            ).cast("double")
            / bc,
        ).alias("mcnemar_corrected"),
    )


# ---------------------------------------------------------------------------
# Standardized effect size: Cohen's d with the pooled SD between the
# click and view value distributions, plus the small-sample Hedges g
# correction g = d·(1 − 3/(4(n1+n2)−9)) (Hedges 1981, public) —
# what an experiment readout reports NEXT TO the p-value. Exact
# decimal sums per group; the expression tree is mirrored verbatim.
@query(
    "hedges_g_click_view",
    oracle="""
    WITH g AS (
        SELECT
            CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n1,
            CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n2,
            SUM(CASE WHEN event_type = 'click'
                     THEN CAST(value AS DECIMAL(30,6)) ELSE 0 END) AS s1,
            SUM(CASE WHEN event_type = 'view'
                     THEN CAST(value AS DECIMAL(30,6)) ELSE 0 END) AS s2,
            SUM(CASE WHEN event_type = 'click'
                     THEN CAST(value AS DECIMAL(30,6))
                          * CAST(value AS DECIMAL(30,6)) ELSE 0 END) AS q1,
            SUM(CASE WHEN event_type = 'view'
                     THEN CAST(value AS DECIMAL(30,6))
                          * CAST(value AS DECIMAL(30,6)) ELSE 0 END) AS q2
        FROM events WHERE event_type IN ('click', 'view')
    )
    SELECT n1, n2,
           CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS mean_click,
           CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS mean_view,
           (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
              - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
           / sqrt(((CAST(q1 AS DOUBLE)
                      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                        / CAST(n1 AS DOUBLE))
                   + (CAST(q2 AS DOUBLE)
                      - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
                        / CAST(n2 AS DOUBLE)))
                  / CAST(n1 + n2 - 2 AS DOUBLE)) AS cohens_d,
           ((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
               - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
            / sqrt(((CAST(q1 AS DOUBLE)
                       - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                         / CAST(n1 AS DOUBLE))
                    + (CAST(q2 AS DOUBLE)
                       - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
                         / CAST(n2 AS DOUBLE)))
                   / CAST(n1 + n2 - 2 AS DOUBLE)))
           * (1.0 - 3.0 / (4.0 * CAST(n1 + n2 AS DOUBLE) - 9.0)) AS hedges_g
    FROM g
    """,
)
def hedges_g_click_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    vdec = F.col("value").cast("decimal(30,6)")

    def grp(t, expr, name):
        return F.sum(
            F.when(F.col("event_type") == t, expr).otherwise(F.lit(0))
        ).alias(name)

    g = ev.agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("n2"),
        grp("click", vdec, "s1"),
        grp("view", vdec, "s2"),
        grp("click", vdec * vdec, "q1"),
        grp("view", vdec * vdec, "q2"),
    )
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    s1d, s2d = F.col("s1").cast("double"), F.col("s2").cast("double")
    q1d, q2d = F.col("q1").cast("double"), F.col("q2").cast("double")
    m1, m2 = s1d / n1d, s2d / n2d
    pooled = F.sqrt(
        ((q1d - s1d * s1d / n1d) + (q2d - s2d * s2d / n2d))
        / (F.col("n1") + F.col("n2") - 2).cast("double")
    )
    d = (m1 - m2) / pooled
    g_corr = d * (
        F.lit(1.0)
        - F.lit(3.0) / (4.0 * (F.col("n1") + F.col("n2")).cast("double") - 9.0)
    )
    return g.select(
        "n1",
        "n2",
        m1.alias("mean_click"),
        m2.alias("mean_view"),
        d.alias("cohens_d"),
        g_corr.alias("hedges_g"),
    )


# ---------------------------------------------------------------------------
# Isotonic regression (PAVA — Barlow et al. 1972, public), via the
# minimax identity f_i = max_{j<=i} min_{k>=i} wavg(y[j..k]) — the
# closed form of the pool-adjacent-violators fit, which makes the
# sequential algorithm ORACLE-EXPRESSIBLE: on the bounded bin domain
# (B value-buckets), the j<=i<=k triple join is B³ rows of integer
# prefix-sum arithmetic and two nested MIN/MAX aggregations over
# deterministic doubles. The use case is probability calibration:
# fit a monotone purchase-rate curve over event-value buckets.
# Scale shape: ONE groupBy over the raw events (partial-combined);
# everything after runs on the B-row bin relation.
@query(
    "isotonic_purchase_rate",
    oracle="""
    WITH ev AS (
        SELECT CAST(FLOOR(value / 25.0) AS BIGINT) AS bin,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ),
    bins AS (
        SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS pos
        FROM ev GROUP BY bin
    ),
    pre AS (
        SELECT bin, n, pos,
               CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
               CAST(SUM(pos) OVER (ORDER BY bin) AS BIGINT) AS cp
        FROM bins
    ),
    inner_min AS (
        SELECT j.bin AS j, i.bin AS i,
               MIN(CAST(k.cp - (j.cp - j.pos) AS DOUBLE)
                   / CAST(k.cn - (j.cn - j.n) AS DOUBLE)) AS m
        FROM pre j
        JOIN pre i ON i.bin >= j.bin
        JOIN pre k ON k.bin >= i.bin
        GROUP BY j.bin, i.bin
    ),
    fit AS (
        SELECT i, MAX(m) AS iso FROM inner_min GROUP BY i
    )
    SELECT p.bin, p.n, p.pos,
           CAST(p.pos AS DOUBLE) / CAST(p.n AS DOUBLE) AS raw_rate,
           f.iso AS isotonic_rate
    FROM pre p JOIN fit f ON f.i = p.bin
    ORDER BY p.bin
    """,
)
def isotonic_purchase_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        F.floor(F.col("value") / 25.0).cast("bigint").alias("bin"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    bins = ev.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    w = Window.orderBy("bin")
    pre = bins.select(
        "bin",
        "n",
        "pos",
        F.sum("n").over(w).cast("bigint").alias("cn"),
        F.sum("pos").over(w).cast("bigint").alias("cp"),
    ).persist()
    j = pre.select(
        F.col("bin").alias("j"),
        (F.col("cp") - F.col("pos")).alias("jp"),
        (F.col("cn") - F.col("n")).alias("jn"),
    )
    i = pre.select(F.col("bin").alias("i"))
    k = pre.select(
        F.col("bin").alias("k"), F.col("cp").alias("kp"), F.col("cn").alias("kn")
    )
    inner = (
        j.join(F.broadcast(i), F.col("i") >= F.col("j"))
        .join(F.broadcast(k), F.col("k") >= F.col("i"))
        .groupBy("j", "i")
        .agg(
            F.min(
                (F.col("kp") - F.col("jp")).cast("double")
                / (F.col("kn") - F.col("jn")).cast("double")
            ).alias("m")
        )
    )
    fit = inner.groupBy("i").agg(F.max("m").alias("iso"))
    return (
        pre.join(fit, pre.bin == fit.i)
        .select(
            "bin",
            "n",
            "pos",
            (F.col("pos").cast("double") / F.col("n").cast("double")).alias(
                "raw_rate"
            ),
            F.col("iso").alias("isotonic_rate"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Hash-based permutation test (Fisher 1935 randomization, public; the
# hash-assignment trick makes it engine-reproducible): is the
# click-vs-view mean value difference explainable by chance? 64
# pseudo-random relabelings — permutation p assigns each event to a
# side by ((a+2p·step)·event_id + b) mod P mod 2, a fixed literal
# universal-hash family whose multiplier is odd for every p (an even
# one sends every event to one side) — each yields a null mean difference from
# EXACT decimal sums; the p-value is the add-one-smoothed fraction of
# null |diffs| at or above the observed |diff|. Scale shape: one
# 64-way hash fan-out over the filtered events, partial-combined
# sums per permutation, scalar reduction at the end.
_PERM_P = 2147483647
_PERM_N = 64


@query(
    "permutation_test_click_view",
    oracle=f"""
    WITH ev AS (
        SELECT event_id, event_type, CAST(value AS DECIMAL(30,6)) AS v
        FROM events WHERE event_type IN ('click', 'view')
    ),
    obs AS (
        SELECT CAST(SUM(CASE WHEN event_type = 'click' THEN v END)
                    AS DOUBLE)
               / SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             - CAST(SUM(CASE WHEN event_type = 'view' THEN v END)
                    AS DOUBLE)
               / SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                 AS d_obs
        FROM ev
    ),
    perms AS (SELECT CAST(p AS BIGINT) AS p FROM generate_series(1, {_PERM_N}) g(p)),
    nulls AS (
        SELECT p.p,
               CAST(SUM(CASE WHEN ((101 + 2 * p.p * 7919) * e.event_id + 17)
                                  % {_PERM_P} % 2 = 0 THEN e.v END)
                    AS DOUBLE)
               / SUM(CASE WHEN ((101 + 2 * p.p * 7919) * e.event_id + 17)
                               % {_PERM_P} % 2 = 0 THEN 1 ELSE 0 END)
             - CAST(SUM(CASE WHEN ((101 + 2 * p.p * 7919) * e.event_id + 17)
                                  % {_PERM_P} % 2 = 1 THEN e.v END)
                    AS DOUBLE)
               / SUM(CASE WHEN ((101 + 2 * p.p * 7919) * e.event_id + 17)
                               % {_PERM_P} % 2 = 1 THEN 1 ELSE 0 END)
                 AS d_null
        FROM ev e CROSS JOIN perms p
        GROUP BY p.p
    )
    SELECT o.d_obs,
           CAST(COUNT(*) AS BIGINT) AS n_perms,
           CAST(SUM(CASE WHEN ABS(n.d_null) >= ABS(o.d_obs)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
           (1.0 + SUM(CASE WHEN ABS(n.d_null) >= ABS(o.d_obs)
                           THEN 1 ELSE 0 END))
             / (1.0 + COUNT(*)) AS p_value
    FROM nulls n CROSS JOIN obs o
    GROUP BY o.d_obs
    """,
)
def permutation_test_click_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    ).select("event_id", "event_type", F.col("value").cast("decimal(30,6)").alias("v"))
    obs = ev.agg(
        (
            F.sum(F.when(F.col("event_type") == "click", F.col("v"))).cast(
                "double"
            )
            / F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            - F.sum(F.when(F.col("event_type") == "view", F.col("v"))).cast(
                "double"
            )
            / F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        ).alias("d_obs")
    )
    perms = ev.sparkSession.range(1, _PERM_N + 1).select(
        F.col("id").alias("p")
    )
    mult = 101 + 2 * F.col("p") * 7919
    side = (mult * F.col("event_id") + 17) % _PERM_P % 2
    nulls = (
        ev.crossJoin(F.broadcast(perms))
        .groupBy("p")
        .agg(
            (
                F.sum(F.when(side == 0, F.col("v"))).cast("double")
                / F.sum(F.when(side == 0, 1).otherwise(0))
                - F.sum(F.when(side == 1, F.col("v"))).cast("double")
                / F.sum(F.when(side == 1, 1).otherwise(0))
            ).alias("d_null")
        )
    )
    hit = F.when(
        F.abs(F.col("d_null")) >= F.abs(F.col("d_obs")), 1
    ).otherwise(0)
    return (
        nulls.crossJoin(F.broadcast(obs))
        .groupBy("d_obs")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_perms"),
            F.sum(hit).cast("bigint").alias("n_extreme"),
            ((1.0 + F.sum(hit)) / (1.0 + F.count(F.lit(1)))).alias("p_value"),
        )
        .select("d_obs", "n_perms", "n_extreme", "p_value")
    )


# ---------------------------------------------------------------------------
# Pinball (quantile) loss evaluation (Koenker & Bassett 1978,
# public): train/test split by day (< day 15 trains), the per-type
# p90 of the training half is the quantile forecast, and the test
# half scores it with mean pinball loss at q=0.9. The training p90
# is EXACT — the distinct-value cumulative-count idiom (the value
# at the smallest rank covering ceil(0.9·n)) — and every loss term
# is an exact decimal before the final per-type division.
@query(
    "pinball_loss_p90_events",
    oracle=f"""
    WITH ev AS (
        SELECT event_type, CAST(value AS DECIMAL(30,6)) AS v,
               {_SQL_DAY} AS d
        FROM events
    ),
    bounds AS (SELECT MIN(d) AS d0 FROM ev),
    train AS (
        SELECT event_type, v FROM ev, bounds WHERE d - d0 < 14
    ),
    test AS (
        SELECT event_type, v FROM ev, bounds WHERE d - d0 >= 14
    ),
    tv AS (
        SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM train GROUP BY event_type, v
    ),
    ranked AS (
        SELECT event_type, v,
               SUM(cnt) OVER (PARTITION BY event_type ORDER BY v) AS cum,
               SUM(cnt) OVER (PARTITION BY event_type) AS n
        FROM tv
    ),
    p90 AS (
        SELECT event_type, MIN(v) AS q_hat
        FROM ranked
        WHERE cum >= CAST(CEIL(0.9 * n) AS BIGINT)
        GROUP BY event_type
    ),
    scored AS (
        SELECT t.event_type,
               CASE WHEN t.v >= p.q_hat
                    THEN CAST('0.9' AS DECIMAL(3,1)) * (t.v - p.q_hat)
                    ELSE CAST('0.1' AS DECIMAL(3,1)) * (p.q_hat - t.v)
               END AS loss
        FROM test t JOIN p90 p USING (event_type)
    )
    SELECT s.event_type,
           p.q_hat AS p90_forecast,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(s.loss) AS DOUBLE) / COUNT(*) AS mean_pinball
    FROM scored s JOIN p90 p USING (event_type)
    GROUP BY s.event_type, p.q_hat
    ORDER BY s.event_type
    """,
)
def pinball_loss_p90_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.col("value").cast("decimal(30,6)").alias("v"),
        _day_idx().alias("d"),
    )
    d0 = ev.agg(F.min("d").alias("d0"))
    ev = ev.crossJoin(F.broadcast(d0))
    train = ev.filter(F.col("d") - F.col("d0") < 14).select("event_type", "v")
    test = ev.filter(F.col("d") - F.col("d0") >= 14).select("event_type", "v")
    tv = train.groupBy("event_type", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wcum = Window.partitionBy("event_type").orderBy("v")
    wall = Window.partitionBy("event_type")
    ranked = tv.select(
        "event_type",
        "v",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
    )
    p90 = (
        ranked.filter(
            F.col("cum") >= F.ceil(0.9 * F.col("n")).cast("bigint")
        )
        .groupBy("event_type")
        .agg(F.min("v").alias("q_hat"))
    )
    q9 = F.lit("0.9").cast("decimal(3,1)")
    q1 = F.lit("0.1").cast("decimal(3,1)")
    scored = test.join(F.broadcast(p90), "event_type").select(
        "event_type",
        "q_hat",
        F.when(
            F.col("v") >= F.col("q_hat"), q9 * (F.col("v") - F.col("q_hat"))
        )
        .otherwise(q1 * (F.col("q_hat") - F.col("v")))
        .alias("loss"),
    )
    return (
        scored.groupBy("event_type", F.col("q_hat").alias("p90_forecast"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            (F.sum("loss").cast("double") / F.count(F.lit(1))).alias(
                "mean_pinball"
            ),
        )
        .select("event_type", "p90_forecast", "n_test", "mean_pinball")
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Brown–Forsythe test (Brown & Forsythe 1974, public): variance
# homogeneity across click/view/purchase via the one-way ANOVA on
# z = |x − median_g|. Exactness tricks: the group median's DOUBLED
# value is the sum of the two middle order statistics (exact decimal
# from the distinct-value cumulative idiom, no division), and the F
# statistic is invariant to scaling z, so the test runs on
# z' = |2x − (lo_g + hi_g)| — every sum exact decimal. The three
# groups pivot to literal columns, so the cross-group sums add in a
# fixed order.
@query(
    "brown_forsythe_events",
    oracle="""
    WITH ev AS (
        SELECT event_type, CAST(value AS DECIMAL(30,6)) AS v FROM events
        WHERE event_type IN ('click', 'view', 'purchase')
    ),
    tv AS (
        SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM ev GROUP BY event_type, v
    ),
    ranked AS (
        SELECT event_type, v,
               SUM(cnt) OVER (PARTITION BY event_type ORDER BY v) AS cum,
               SUM(cnt) OVER (PARTITION BY event_type ORDER BY v) - cnt
                   AS below,
               SUM(cnt) OVER (PARTITION BY event_type) AS n
        FROM tv
    ),
    med AS (
        SELECT l.event_type, l.lo + h.hi AS s2
        FROM (SELECT event_type, MIN(v) AS lo FROM ranked
              WHERE cum >= (n + 1) // 2 GROUP BY event_type) l
        JOIN (SELECT event_type, MIN(v) AS hi FROM ranked
              WHERE cum >= n // 2 + 1 GROUP BY event_type) h
          USING (event_type)
    ),
    z AS (
        SELECT e.event_type, ABS(2 * e.v - m.s2) AS z
        FROM ev e JOIN med m USING (event_type)
    ),
    g AS (
        SELECT
            CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n1,
            CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n2,
            CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n3,
            SUM(CASE WHEN event_type = 'click' THEN z ELSE 0 END) AS s1,
            SUM(CASE WHEN event_type = 'view' THEN z ELSE 0 END) AS s2,
            SUM(CASE WHEN event_type = 'purchase' THEN z ELSE 0 END) AS s3,
            SUM(CASE WHEN event_type = 'click' THEN z * z ELSE 0 END) AS q1,
            SUM(CASE WHEN event_type = 'view' THEN z * z ELSE 0 END) AS q2,
            SUM(CASE WHEN event_type = 'purchase' THEN z * z ELSE 0 END)
                AS q3
        FROM z
    )
    SELECT n, n1, n2, n3,
           ((CAST(n AS DOUBLE) - 3.0) / 2.0)
           * ((CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                 + CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
                   / CAST(n2 AS DOUBLE)
                 + CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE)
                   / CAST(n3 AS DOUBLE))
              - (CAST(s1 AS DOUBLE) + CAST(s2 AS DOUBLE)
                 + CAST(s3 AS DOUBLE))
                * (CAST(s1 AS DOUBLE) + CAST(s2 AS DOUBLE)
                   + CAST(s3 AS DOUBLE)) / CAST(n AS DOUBLE))
           / ((CAST(q1 AS DOUBLE) + CAST(q2 AS DOUBLE)
               + CAST(q3 AS DOUBLE))
              - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                   / CAST(n1 AS DOUBLE)
                 + CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
                   / CAST(n2 AS DOUBLE)
                 + CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE)
                   / CAST(n3 AS DOUBLE))) AS bf_stat
    FROM g
    """,
)
def brown_forsythe_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view", "purchase")
    ).select("event_type", F.col("value").cast("decimal(30,6)").alias("v"))
    tv = ev.groupBy("event_type", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wcum = Window.partitionBy("event_type").orderBy("v")
    wall = Window.partitionBy("event_type")
    ranked = tv.select(
        "event_type",
        "v",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
    )
    lo = (
        ranked.filter(F.col("cum") >= ((F.col("n") + 1) / 2).cast("bigint"))
        .groupBy("event_type")
        .agg(F.min("v").alias("lo"))
    )
    hi = (
        ranked.filter(
            F.col("cum") >= (F.col("n") / 2).cast("bigint") + 1
        )
        .groupBy("event_type")
        .agg(F.min("v").alias("hi"))
    )
    med = lo.join(hi, "event_type").select(
        "event_type", (F.col("lo") + F.col("hi")).alias("s2med")
    )
    z = ev.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(2 * F.col("v") - F.col("s2med")).alias("z")
    )

    def _n(t, name):
        return (
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
            .cast("bigint")
            .alias(name)
        )

    def _s(t, expr, name):
        return F.sum(
            F.when(F.col("event_type") == t, expr).otherwise(F.lit(0))
        ).alias(name)

    g = z.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _n("click", "n1"),
        _n("view", "n2"),
        _n("purchase", "n3"),
        _s("click", F.col("z"), "s1"),
        _s("view", F.col("z"), "s2"),
        _s("purchase", F.col("z"), "s3"),
        _s("click", F.col("z") * F.col("z"), "q1"),
        _s("view", F.col("z") * F.col("z"), "q2"),
        _s("purchase", F.col("z") * F.col("z"), "q3"),
    )
    nd = F.col("n").cast("double")
    s1, s2, s3 = (F.col(c).cast("double") for c in ("s1", "s2", "s3"))
    q1, q2, q3 = (F.col(c).cast("double") for c in ("q1", "q2", "q3"))
    n1, n2, n3 = (F.col(c).cast("double") for c in ("n1", "n2", "n3"))
    ssb = (s1 * s1 / n1 + s2 * s2 / n2 + s3 * s3 / n3) - (
        s1 + s2 + s3
    ) * (s1 + s2 + s3) / nd
    ssw = (q1 + q2 + q3) - (s1 * s1 / n1 + s2 * s2 / n2 + s3 * s3 / n3)
    bf = ((nd - 3.0) / 2.0) * ssb / ssw
    return g.select("n", "n1", "n2", "n3", bf.alias("bf_stat"))


# ---------------------------------------------------------------------------
# Group-sequential A/B readout with O'Brien–Fleming boundaries
# (O'Brien & Fleming 1979 / Pocock 1977, public): users split into
# arms by id parity, the metric is the purchase share of each arm's
# events, and the experiment is peeked at 4 cumulative weekly looks.
# Each look's pooled two-proportion z comes from exact BIGINT counts;
# the OBF critical values for 4 equally-spaced looks are literals
# (4.049, 2.863, 2.337, 2.024 — two-sided α=0.05). The whole readout
# is one groupBy over (look, arm) — the peeking discipline costs
# nothing extra at scale.
_OBF = [(1, 4.049), (2, 2.863), (3, 2.337), (4, 2.024)]


@query(
    "sequential_ab_events",
    oracle=f"""
    WITH ev AS (
        SELECT user_id % 2 AS arm,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv,
               CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 86400)
                    AS BIGINT) AS d
        FROM events
    ),
    b AS (SELECT MIN(d) AS d0 FROM ev),
    looks(look, bound) AS (
        VALUES {", ".join(f"({k}, {b})" for k, b in _OBF)}
    ),
    per_look AS (
        SELECT l.look, l.bound,
               CAST(SUM(CASE WHEN e.arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n1,
               CAST(SUM(CASE WHEN e.arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n2,
               CAST(SUM(CASE WHEN e.arm = 0 THEN e.conv ELSE 0 END)
                    AS BIGINT) AS k1,
               CAST(SUM(CASE WHEN e.arm = 1 THEN e.conv ELSE 0 END)
                    AS BIGINT) AS k2
        FROM ev e CROSS JOIN b JOIN looks l
          ON e.d - b.d0 < l.look * 7
        GROUP BY l.look, l.bound
    )
    SELECT look, n1, n2, k1, k2,
           (CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE)
              - CAST(k2 AS DOUBLE) / CAST(n2 AS DOUBLE))
           / sqrt((CAST(k1 + k2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                  * (1.0 - CAST(k1 + k2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                  * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE)))
               AS z,
           bound,
           ABS((CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                  - CAST(k2 AS DOUBLE) / CAST(n2 AS DOUBLE))
               / sqrt((CAST(k1 + k2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                      * (1.0 - CAST(k1 + k2 AS DOUBLE)
                               / CAST(n1 + n2 AS DOUBLE))
                      * (1.0 / CAST(n1 AS DOUBLE)
                         + 1.0 / CAST(n2 AS DOUBLE)))) > bound AS reject
    FROM per_look
    ORDER BY look
    """,
)
def sequential_ab_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 2).alias("arm"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "conv"
        ),
        _day_idx().alias("d"),
    )
    d0 = ev.agg(F.min("d").alias("d0"))
    looks = ev.sparkSession.createDataFrame(_OBF, "look int, bound double")
    per_look = (
        ev.crossJoin(F.broadcast(d0))
        .join(
            F.broadcast(looks),
            (F.col("d") - F.col("d0")) < F.col("look") * 7,
        )
        .groupBy("look", "bound")
        .agg(
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n1"),
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n2"),
            F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
            .cast("bigint")
            .alias("k1"),
            F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
            .cast("bigint")
            .alias("k2"),
        )
    )
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    k1d, k2d = F.col("k1").cast("double"), F.col("k2").cast("double")
    pooled = (k1d + k2d) / (n1d + n2d)
    z = (k1d / n1d - k2d / n2d) / F.sqrt(
        pooled * (1.0 - pooled) * (1.0 / n1d + 1.0 / n2d)
    )
    return per_look.select(
        "look",
        "n1",
        "n2",
        "k1",
        "k2",
        z.alias("z"),
        "bound",
        (F.abs(z) > F.col("bound")).alias("reject"),
    ).orderBy("look")


# ---------------------------------------------------------------------------
# Empirical-Bayes shrinkage of per-user purchase rates (Robbins 1956
# / beta-binomial method of moments — public): small-sample user
# rates shrink toward the population mean with prior strength
# K = m(1−m)/Var(p_u) − 1. The rate moments are order-dependent
# double sums, so each p_u and p_u² term is NANO-ROUNDED to a BIGINT
# before summing (the repo's BLEU/entropy discipline) — both engines
# agree bit-for-bit. Output: the 15 most-active users' raw vs shrunk
# rates (shrunk_u = (k_u + K·m)/(n_u + K)).
@query(
    "eb_shrunk_purchase_rates",
    oracle="""
    WITH u AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS k
        FROM events GROUP BY user_id
    ),
    terms AS (
        SELECT user_id, n, k,
               CAST(ROUND((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                          * 1000000000.0) AS BIGINT) AS p_nano,
               CAST(ROUND((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                          * (CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                          * 1000000000.0) AS BIGINT) AS p2_nano
        FROM u
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS g,
               CAST(SUM(p_nano) AS BIGINT) AS sp,
               CAST(SUM(p2_nano) AS BIGINT) AS sp2
        FROM terms
    ),
    prior AS (
        SELECT g,
               CAST(sp AS DOUBLE) / 1000000000.0 / CAST(g AS DOUBLE) AS m,
               (CAST(sp2 AS DOUBLE) / 1000000000.0 / CAST(g AS DOUBLE))
                 - (CAST(sp AS DOUBLE) / 1000000000.0 / CAST(g AS DOUBLE))
                   * (CAST(sp AS DOUBLE) / 1000000000.0 / CAST(g AS DOUBLE))
                     AS v
        FROM mom
    ),
    k_ AS (
        SELECT g, m, v, m * (1.0 - m) / v - 1.0 AS strength FROM prior
    )
    SELECT t.user_id, t.n, t.k,
           CAST(t.k AS DOUBLE) / CAST(t.n AS DOUBLE) AS raw_rate,
           (CAST(t.k AS DOUBLE) + p.strength * p.m)
             / (CAST(t.n AS DOUBLE) + p.strength) AS shrunk_rate
    FROM terms t CROSS JOIN k_ p
    ORDER BY t.n DESC, t.user_id
    LIMIT 15
    """,
)
def eb_shrunk_purchase_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("k"),
    )
    p = F.col("k").cast("double") / F.col("n").cast("double")
    terms = u.select(
        "user_id",
        "n",
        "k",
        F.round(p * 1000000000.0).cast("bigint").alias("p_nano"),
        F.round(p * p * 1000000000.0).cast("bigint").alias("p2_nano"),
    )
    mom = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("g"),
        F.sum("p_nano").cast("bigint").alias("sp"),
        F.sum("p2_nano").cast("bigint").alias("sp2"),
    )
    gd = F.col("g").cast("double")
    m = F.col("sp").cast("double") / 1000000000.0 / gd
    v = F.col("sp2").cast("double") / 1000000000.0 / gd - m * m
    prior = mom.select(
        m.alias("m"), (m * (1.0 - m) / v - 1.0).alias("strength")
    )
    return (
        terms.crossJoin(F.broadcast(prior))
        .select(
            "user_id",
            "n",
            "k",
            (F.col("k").cast("double") / F.col("n").cast("double")).alias(
                "raw_rate"
            ),
            (
                (F.col("k").cast("double") + F.col("strength") * F.col("m"))
                / (F.col("n").cast("double") + F.col("strength"))
            ).alias("shrunk_rate"),
        )
        .orderBy(F.desc("n"), "user_id")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Bhattacharyya coefficient / Hellinger distance (Bhattacharyya
# 1943, public) between the click and view value-bucket
# distributions — the distribution-distance family member next to
# JSD/PSI/KS: BC = Σ √(p_i·q_i), H = √(1−BC). Each √(pq) term is
# nano-rounded to a BIGINT before the sum (the repo's BLEU/entropy
# discipline — sqrt is correctly rounded, the sum must not be
# order-dependent). One groupBy over the bounded bucket domain.
@query(
    "bhattacharyya_click_view",
    oracle="""
    WITH b AS (
        SELECT CAST(FLOOR(value / 25.0) AS BIGINT) AS bin,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS a,
               CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    AS BIGINT) AS v
        FROM events WHERE event_type IN ('click', 'view')
        GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(v) AS BIGINT) AS nv
        FROM b
    ),
    terms AS (
        SELECT CAST(ROUND(sqrt((CAST(a AS DOUBLE) / t.na)
                               * (CAST(v AS DOUBLE) / t.nv))
                          * 1000000000.0) AS BIGINT) AS s
        FROM b CROSS JOIN tot t
    )
    SELECT t.na AS n_click, t.nv AS n_view,
           CAST(SUM(s) AS DOUBLE) / 1000000000.0 AS bhattacharyya,
           sqrt(1.0 - CAST(SUM(s) AS DOUBLE) / 1000000000.0)
               AS hellinger
    FROM terms CROSS JOIN tot t
    GROUP BY t.na, t.nv
    """,
)
def bhattacharyya_click_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    b = ev.groupBy(
        F.floor(F.col("value") / 25.0).cast("bigint").alias("bin")
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("a"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("v"),
    )
    tot = b.agg(
        F.sum("a").cast("bigint").alias("na"),
        F.sum("v").cast("bigint").alias("nv"),
    )
    terms = b.crossJoin(F.broadcast(tot)).select(
        "na",
        "nv",
        F.round(
            F.sqrt(
                (F.col("a").cast("double") / F.col("na"))
                * (F.col("v").cast("double") / F.col("nv"))
            )
            * 1000000000.0
        )
        .cast("bigint")
        .alias("s"),
    )
    bc = F.sum("s").cast("double") / 1000000000.0
    return (
        terms.groupBy(F.col("na").alias("n_click"), F.col("nv").alias("n_view"))
        .agg(
            bc.alias("bhattacharyya"),
            F.sqrt(1.0 - bc).alias("hellinger"),
        )
    )


# ---------------------------------------------------------------------------
# Wasserstein-1 / earth-mover distance (Monge 1781 / Vaserstein
# 1969, public) between the click and view value distributions: in
# 1-D, W1 = ∫|F_a(x) − F_b(x)|dx = Σ over consecutive distinct
# values of |cumshare_a − cumshare_b|·(next − value). The ECDF-gap
# terms are nano-rounded BIGINTs before the sum; the distinct-value
# relation is the bounded 2-decimal domain.
@query(
    "wasserstein_click_view",
    oracle="""
    WITH ev AS (
        SELECT value, event_type FROM events
        WHERE event_type IN ('click', 'view')
    ),
    vals AS (
        SELECT value,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS a,
               CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    AS BIGINT) AS v
        FROM ev GROUP BY value
    ),
    tot AS (
        SELECT CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(v) AS BIGINT) AS nv
        FROM vals
    ),
    steps AS (
        SELECT value,
               SUM(a) OVER (ORDER BY value) AS ca,
               SUM(v) OVER (ORDER BY value) AS cv,
               LEAD(value) OVER (ORDER BY value) AS nxt
        FROM vals
    ),
    terms AS (
        SELECT CAST(ROUND(ABS(CAST(ca AS DOUBLE) / t.na
                              - CAST(cv AS DOUBLE) / t.nv)
                          * (nxt - value) * 1000000000.0) AS BIGINT) AS s
        FROM steps CROSS JOIN tot t
        WHERE nxt IS NOT NULL
    )
    SELECT t.na AS n_click, t.nv AS n_view,
           CAST(SUM(s) AS DOUBLE) / 1000000000.0 AS wasserstein_1
    FROM terms CROSS JOIN tot t
    GROUP BY t.na, t.nv
    """,
)
def wasserstein_click_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    vals = ev.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("a"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("v"),
    )
    tot = vals.agg(
        F.sum("a").cast("bigint").alias("na"),
        F.sum("v").cast("bigint").alias("nv"),
    )
    w = Window.orderBy("value")
    steps = vals.select(
        "value",
        F.sum("a").over(w).alias("ca"),
        F.sum("v").over(w).alias("cv"),
        F.lead("value").over(w).alias("nxt"),
    )
    terms = (
        steps.filter(F.col("nxt").isNotNull())
        .crossJoin(F.broadcast(tot))
        .select(
            "na",
            "nv",
            F.round(
                F.abs(
                    F.col("ca").cast("double") / F.col("na")
                    - F.col("cv").cast("double") / F.col("nv")
                )
                * (F.col("nxt") - F.col("value"))
                * 1000000000.0
            )
            .cast("bigint")
            .alias("s"),
        )
    )
    return terms.groupBy(
        F.col("na").alias("n_click"), F.col("nv").alias("n_view")
    ).agg((F.sum("s").cast("double") / 1000000000.0).alias("wasserstein_1"))


# ---------------------------------------------------------------------------
# Wald–Wolfowitz runs test (1940, public) on the hourly total-value
# series: is the above/below-median sign sequence random? The run
# count, the sign counts, and the closed-form mean/variance of the
# null are ALL integer-derived (the median is the doubled-order-stat
# sum, so the sign test is an integer comparison of 2·value vs
# lo+hi); only the final z is a double. Windows run on the hourly
# aggregate.
@query(
    "runs_test_hourly",
    oracle=f"""
    WITH hourly AS (
        SELECT {_SQL_HOUR} AS h, SUM(CAST(value AS DECIMAL(30,6))) AS v
        FROM events GROUP BY 1
    ),
    ranked AS (
        SELECT h, v,
               ROW_NUMBER() OVER (ORDER BY v, h) AS rn,
               COUNT(*) OVER () AS n
        FROM hourly
    ),
    med AS (
        SELECT l.lo + hh.hi AS s2 FROM
        (SELECT v AS lo FROM ranked WHERE rn = (n + 1) // 2) l,
        (SELECT v AS hi FROM ranked WHERE rn = n // 2 + 1) hh
    ),
    signs AS (
        SELECT h, CASE WHEN 2 * v > m.s2 THEN 1 ELSE 0 END AS up
        FROM hourly CROSS JOIN med m
    ),
    seq AS (
        SELECT up, LAG(up) OVER (ORDER BY h) AS prev FROM signs
    ),
    s AS (
        SELECT CAST(1 + SUM(CASE WHEN prev IS NOT NULL AND up <> prev
                                 THEN 1 ELSE 0 END) AS BIGINT) AS runs,
               CAST(SUM(up) AS BIGINT) AS n1,
               CAST(SUM(1 - up) AS BIGINT) AS n2
        FROM seq
    )
    SELECT runs, n1, n2,
           (CAST(runs AS DOUBLE)
              - (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                 / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) + 1.0))
           / sqrt(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                  * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                     - CAST(n1 AS DOUBLE) - CAST(n2 AS DOUBLE))
                  / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                     * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                     * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1.0)))
               AS z
    FROM s
    """,
)
def runs_test_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(_hour_idx().alias("h")).agg(
        F.sum(F.col("value").cast("decimal(30,6)")).alias("v")
    )
    wrank = Window.orderBy("v", "h")
    ranked = hourly.select(
        "v",
        F.row_number().over(wrank).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    lo = ranked.filter(
        F.col("rn") == ((F.col("n") + 1) / 2).cast("bigint")
    ).select(F.col("v").alias("lo"))
    hi = ranked.filter(
        F.col("rn") == (F.col("n") / 2).cast("bigint") + 1
    ).select(F.col("v").alias("hi"))
    med = lo.crossJoin(hi).select((F.col("lo") + F.col("hi")).alias("s2"))
    signs = hourly.crossJoin(F.broadcast(med)).select(
        "h",
        F.when(2 * F.col("v") > F.col("s2"), 1).otherwise(0).alias("up"),
    )
    wseq = Window.orderBy("h")
    seq = signs.select(
        "up", F.lag("up").over(wseq).alias("prev")
    )
    s = seq.agg(
        (
            1
            + F.sum(
                F.when(
                    F.col("prev").isNotNull()
                    & (F.col("up") != F.col("prev")),
                    1,
                ).otherwise(0)
            )
        )
        .cast("bigint")
        .alias("runs"),
        F.sum("up").cast("bigint").alias("n1"),
        F.sum(1 - F.col("up")).cast("bigint").alias("n2"),
    )
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    mean_r = 2.0 * n1d * n2d / (n1d + n2d) + 1.0
    var_r = (
        2.0
        * n1d
        * n2d
        * (2.0 * n1d * n2d - n1d - n2d)
        / ((n1d + n2d) * (n1d + n2d) * (n1d + n2d - 1.0))
    )
    return s.select(
        "runs",
        "n1",
        "n2",
        ((F.col("runs").cast("double") - mean_r) / F.sqrt(var_r)).alias("z"),
    )


# ---------------------------------------------------------------------------
# Exact Shapley-value channel attribution (Shapley 1953, public —
# the marketing-attribution formulation): channels are the four
# non-purchase event types, a user's exposure is the bitmask of
# channels they touched, conversion = the user purchased, and the
# coalition value v(S) = #converted users whose exposure ⊆ S.
# With 4 channels the Shapley sum is CLOSED FORM over 32 literal
# (channel, subset, 24·weight) rows — every quantity stays an exact
# BIGINT until the final /24. The Shapley efficiency axiom
# Σ shapley_i = v(full) − v(∅) is part of the hashed output.
# Scale shape: one user groupBy → 16-row mask relation; the subset
# sums and the weighted differences are joins on that bounded domain.
_SHAP_CHANNELS = [("click", 1), ("view", 2), ("error", 4), ("signup", 8)]


def _shap_weight_rows() -> list[tuple[str, int, int]]:
    from math import factorial

    rows = []
    for name, bit in _SHAP_CHANNELS:
        for mask in range(16):
            if mask & bit:
                continue
            s = bin(mask).count("1")
            rows.append((name, mask, factorial(s) * factorial(3 - s)))
    return rows


@query(
    "shapley_attribution_events",
    oracle=f"""
    WITH exposure AS (
        SELECT user_id,
               CAST(MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                 + 2 * MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                 + 4 * MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                 + 8 * MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                    AS BIGINT) AS mask,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS conv
        FROM events GROUP BY user_id
    ),
    by_mask AS (
        SELECT mask, CAST(SUM(conv) AS BIGINT) AS conv_n
        FROM exposure GROUP BY mask
    ),
    masks(m) AS (SELECT CAST(g.m AS BIGINT) FROM generate_series(0, 15) g(m)),
    v AS (
        SELECT masks.m AS s,
               CAST(COALESCE(SUM(b.conv_n), 0) AS BIGINT) AS val
        FROM masks LEFT JOIN by_mask b ON (b.mask & masks.m) = b.mask
        GROUP BY masks.m
    ),
    w(channel, bit, s_mask, w24) AS (
        VALUES {", ".join(f"('{n}', {dict(_SHAP_CHANNELS)[n]}, {m}, {w})" for n, m, w in _shap_weight_rows())}
    ),
    shap AS (
        SELECT w.channel,
               CAST(SUM(w.w24 * (v1.val - v0.val)) AS BIGINT) AS shap24
        FROM w
        JOIN v v0 ON v0.s = w.s_mask
        JOIN v v1 ON v1.s = w.s_mask | w.bit
        GROUP BY w.channel
    )
    SELECT channel, shap24,
           CAST(shap24 AS DOUBLE) / 24.0 AS shapley_conversions
    FROM shap
    ORDER BY channel
    """,
)
def shapley_attribution_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    mask_expr = None
    for name, bit in _SHAP_CHANNELS:
        t = bit * F.max(
            F.when(F.col("event_type") == name, 1).otherwise(0)
        )
        mask_expr = t if mask_expr is None else mask_expr + t
    exposure = ev.groupBy("user_id").agg(
        mask_expr.cast("bigint").alias("mask"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    )
    by_mask = exposure.groupBy("mask").agg(
        F.sum("conv").cast("bigint").alias("conv_n")
    )
    masks = ev.sparkSession.range(0, 16).select(F.col("id").alias("s"))
    v = (
        masks.join(
            F.broadcast(by_mask),
            (F.col("mask").bitwiseAND(F.col("s"))) == F.col("mask"),
            "left",
        )
        .groupBy("s")
        .agg(
            F.coalesce(F.sum("conv_n"), F.lit(0)).cast("bigint").alias("val")
        )
    )
    w = ev.sparkSession.createDataFrame(
        [
            (n, dict(_SHAP_CHANNELS)[n], m, wt)
            for n, m, wt in _shap_weight_rows()
        ],
        "channel string, bit long, s_mask long, w24 long",
    )
    v0 = v.select(F.col("s").alias("s_mask"), F.col("val").alias("v0"))
    v1 = v.select(F.col("s").alias("s1"), F.col("val").alias("v1"))
    shap = (
        w.join(F.broadcast(v0), "s_mask")
        .join(
            F.broadcast(v1),
            F.col("s1") == F.col("s_mask").bitwiseOR(F.col("bit")),
        )
        .groupBy("channel")
        .agg(
            F.sum(F.col("w24") * (F.col("v1") - F.col("v0")))
            .cast("bigint")
            .alias("shap24")
        )
    )
    return shap.select(
        "channel",
        "shap24",
        (F.col("shap24").cast("double") / 24.0).alias("shapley_conversions"),
    ).orderBy("channel")


# ---------------------------------------------------------------------------
# Robust seasonal anomaly detection (median-deseasonalize + MAD
# z-score — the S-H-ESD family's robust core, Rousseeuw & Croux
# public practice): hourly totals are deseasonalized by their
# hour-of-day MEDIAN, scored by |residual − median(residual)| /
# (1.4826·MAD). Every median is the DOUBLED order-statistic sum
# (lo+hi — no division), so residuals and deviations stay exact
# decimals; the one double division happens per output row. Top 10
# anomalous hours, ties by hour. All windows run on the hourly
# aggregate / hour-of-day groups.
@query(
    "robust_anomalies_hourly",
    oracle=f"""
    WITH hourly AS (
        SELECT {_SQL_HOUR} AS h, SUM(CAST(value AS DECIMAL(30,6))) AS v
        FROM events GROUP BY 1
    ),
    hod AS (
        SELECT h, v, h % 24 AS hd,
               ROW_NUMBER() OVER (PARTITION BY h % 24 ORDER BY v, h) AS rn,
               COUNT(*) OVER (PARTITION BY h % 24) AS n
        FROM hourly
    ),
    season AS (
        SELECT l.hd, l.lo + hh.hi AS s2 FROM
        (SELECT hd, MIN(v) AS lo FROM hod WHERE rn >= (n + 1) // 2
         GROUP BY hd) l
        JOIN
        (SELECT hd, MIN(v) AS hi FROM hod WHERE rn >= n // 2 + 1
         GROUP BY hd) hh USING (hd)
    ),
    resid AS (
        SELECT h.h, h.v, 2 * h.v - s.s2 AS r2
        FROM hourly h JOIN season s ON s.hd = h.h % 24
    ),
    r_ranked AS (
        SELECT h, v, r2,
               ROW_NUMBER() OVER (ORDER BY r2, h) AS rn,
               COUNT(*) OVER () AS n
        FROM resid
    ),
    med_r AS (
        SELECT l.lo + hh.hi AS m2 FROM
        (SELECT r2 AS lo FROM r_ranked WHERE rn = (n + 1) // 2) l,
        (SELECT r2 AS hi FROM r_ranked WHERE rn = n // 2 + 1) hh
    ),
    dev AS (
        SELECT h, v, r2, ABS(2 * r2 - m.m2) AS d
        FROM resid CROSS JOIN med_r m
    ),
    d_ranked AS (
        SELECT h, v, r2, d,
               ROW_NUMBER() OVER (ORDER BY d, h) AS rn,
               COUNT(*) OVER () AS n
        FROM dev
    ),
    mad AS (
        SELECT l.lo + hh.hi AS mad2 FROM
        (SELECT d AS lo FROM d_ranked WHERE rn = (n + 1) // 2) l,
        (SELECT d AS hi FROM d_ranked WHERE rn = n // 2 + 1) hh
    )
    SELECT dev.h, CAST(dev.v AS DOUBLE) AS total_value,
           CAST(dev.r2 AS DOUBLE) / 2.0 AS residual,
           CAST(dev.d AS DOUBLE)
             / (1.4826 * (CAST(m.mad2 AS DOUBLE) / 2.0)) AS robust_z
    FROM dev CROSS JOIN mad m
    ORDER BY robust_z DESC, dev.h
    LIMIT 10
    """,
)
def robust_anomalies_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(_hour_idx().alias("h")).agg(
        F.sum(F.col("value").cast("decimal(30,6)")).alias("v")
    )
    hod = hourly.withColumn("hd", F.col("h") % 24)
    wg = Window.partitionBy("hd").orderBy("v", "h")
    wgn = Window.partitionBy("hd")
    ranked = hod.select(
        "hd",
        "v",
        F.row_number().over(wg).alias("rn"),
        F.count(F.lit(1)).over(wgn).alias("n"),
    )
    lo = (
        ranked.filter(F.col("rn") >= ((F.col("n") + 1) / 2).cast("bigint"))
        .groupBy("hd")
        .agg(F.min("v").alias("lo"))
    )
    hi = (
        ranked.filter(F.col("rn") >= (F.col("n") / 2).cast("bigint") + 1)
        .groupBy("hd")
        .agg(F.min("v").alias("hi"))
    )
    season = lo.join(hi, "hd").select(
        "hd", (F.col("lo") + F.col("hi")).alias("s2")
    )
    resid = hod.join(F.broadcast(season), "hd").select(
        "h", "v", (2 * F.col("v") - F.col("s2")).alias("r2")
    )

    def doubled_median(df, col, order_extra):
        w = Window.orderBy(col, order_extra)
        r = df.select(
            F.col(col).alias("__x"),
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
        )
        lo_ = r.filter(
            F.col("rn") == ((F.col("n") + 1) / 2).cast("bigint")
        ).select(F.col("__x").alias("lo"))
        hi_ = r.filter(
            F.col("rn") == (F.col("n") / 2).cast("bigint") + 1
        ).select(F.col("__x").alias("hi"))
        return lo_.crossJoin(hi_).select(
            (F.col("lo") + F.col("hi")).alias("m2")
        )

    med_r = doubled_median(resid, "r2", "h")
    dev = resid.crossJoin(F.broadcast(med_r)).select(
        "h", "v", "r2", F.abs(2 * F.col("r2") - F.col("m2")).alias("d")
    )
    mad = doubled_median(dev, "d", "h").select(
        F.col("m2").alias("mad2")
    )
    return (
        dev.crossJoin(F.broadcast(mad))
        .select(
            "h",
            F.col("v").cast("double").alias("total_value"),
            (F.col("r2").cast("double") / 2.0).alias("residual"),
            (
                F.col("d").cast("double")
                / (1.4826 * (F.col("mad2").cast("double") / 2.0))
            ).alias("robust_z"),
        )
        .orderBy(F.desc("robust_z"), "h")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Jackknife variance of the mean (Quenouille 1949 / Tukey 1958,
# public) — the resampling-free companion of bootstrap_ci: the
# delete-one means θ̄₍ᵢ₎ = (S − xᵢ)/(n−1) need only the total S, so
# Var_jack = (n−1)/n · Σ(θ̄₍ᵢ₎ − θ̄)² collapses to exact sums:
# (n·Σx² − (Σx)²)/(n²(n−1)) — decimal Σx, Σx² and ONE mirrored
# division (the nested two-division form was reassociated by
# Catalyst into a different rounding; single-division trees leave
# the optimizer nothing to reorder). Decimal→double discipline
# (r9, uniform per ADVICE): DuckDB's wide-decimal→double cast is
# only correctly rounded while the UNSCALED integer fits 2^53
# (fuzz-measured ~25% 1-ulp misses above it, ANY nonzero scale),
# so EVERY decimal sum is rescaled to its minimal LOSSLESS scale
# before the cast — `value` carries 2 decimals, so Σx is exact at
# scale 2 and Σx² at scale 4 — which keeps the unscaled integer
# under 2^53 through ~sf100 instead of drifting at sf1. Both
# engines cast the SAME rescaled value (Spark mirrors the casts).
# One partial-combined aggregate, no per-replicate pass at all.
@query(
    "jackknife_variance_events",
    oracle="""
    WITH s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(value AS DECIMAL(30,6)))
                    AS DECIMAL(38,2)) AS sx,
               CAST(SUM(CAST(value AS DECIMAL(30,6))
                        * CAST(value AS DECIMAL(30,6)))
                    AS DECIMAL(38,4)) AS sxx
        FROM events
    )
    SELECT n,
           CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_value,
           (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
              * (CAST(n AS DOUBLE) - 1.0)) AS jackknife_var,
           sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                   * (CAST(n AS DOUBLE) - 1.0))) AS jackknife_se
    FROM s
    """,
)
def jackknife_variance_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    vdec = F.col("value").cast("decimal(30,6)")
    s = ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        # minimal lossless scales (value has 2 decimals): keeps the
        # unscaled integer of each sum under 2^53 far longer, where
        # BOTH engines' decimal→double casts are correctly rounded
        F.sum(vdec).cast("decimal(38,2)").alias("sx"),
        F.sum(vdec * vdec).cast("decimal(38,4)").alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    # single-division form (n·sxx − sx²)/(n²(n−1)): the nested
    # two-division tree was REASSOCIATED by Catalyst into a
    # different rounding than the written (and DuckDB-evaluated)
    # order — caught by the sf0.001 cross-SF probe (SCALE §6.10.20)
    var = (nd * F.col("sxx").cast("double") - sxd * sxd) / (
        nd * nd * (nd - 1.0)
    )
    return s.select(
        "n",
        (sxd / nd).alias("mean_value"),
        var.alias("jackknife_var"),
        F.sqrt(var).alias("jackknife_se"),
    )
