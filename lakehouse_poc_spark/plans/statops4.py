"""Fourth exact-stats wave (r8): PACF via Durbin–Levinson, Bollinger
band breaches, Matthews correlation, average precision, Page–Hinkley
drift, Qini uplift, Croston intermittent-demand forecast, and graph
eccentricity (SURVEY §7 extension scope — the reference has no stats
surface; reference parity is the data contract only, e.g.
``notebooks/pipeline_core.py`` table shapes).

Determinism (repo conventions, plans/__init__.py):
- PACF reduces to BIGINT/DECIMAL autocovariance sums on the centered
  integer series d_t = n·c_t − S (always integral), then applies the
  Durbin–Levinson recursion as ONE mirrored scalar expression tree —
  divisions of bit-identical doubles are bit-identical.
- Bollinger keeps the moving-window sums in DECIMAL(38,0) over the
  integer domain w = round(100·value) (2-decimal fixture values), so
  the sliding-window aggregation ORDER cannot matter (decimal
  addition is exact); the band compare happens on doubles derived
  identically on both sides, and the averaged bandwidth goes through
  the standard DECIMAL(30,6) rounding cast before summation.
- MCC / average precision / Qini are pure integer-count cumulatives;
  the only doubles are final mirrored ratios. AP's Σ precision@k and
  Page–Hinkley's cumulative U_t nano-round each term to a BIGINT
  BEFORE summation (the nelson_aalen discipline) — cumulative DOUBLE
  window sums are NOT sequentially associative in DuckDB (measured
  here: segment-tree combine differs in the last bits), so ordered
  float windows are not a determinism primitive; order-free integer
  sums are.
- Croston is two EWMA left-folds (demand sizes, inter-demand
  intervals) with the exact ``list_reduce`` seeding contract that
  ewma_event_values pinned: fold order is part of the operator.

100 TB shapes: every events-sized pass is a partial-combined groupBy
(hour, user, or user×day domain); windows run on BOUNDED aggregated
domains only (hours < 100k rows, 150–150k users) — the single
unpartitioned windows here are on the hourly/doc/user aggregates,
never the raw fact table. Croston's per-user arrays are bounded
per-key histories (the EWMA contract). Eccentricity runs on the
event-type graph: a handful of nodes, evidence-sized edges.
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


_SQL_HOUR = "CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 3600) AS BIGINT)"
_SQL_DAY = "CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 86400) AS BIGINT)"


# ---------------------------------------------------------------------------
# Partial autocorrelation of the hourly event-count series at lags
# 1..3 via the Durbin–Levinson recursion (Durbin 1960, public) on the
# biased autocovariance estimator with the GLOBAL mean — the proper
# PACF companion to acf_hourly_events' per-lag Pearson. Centered
# integer trick: d_t = n·c_t − S is integral, and
# γ_ℓ ∝ Σ d_t·d_{t−ℓ} (DECIMAL(38,0), exact, order-free), so
# r_ℓ = g_ℓ/g_0 is one division of exact integers. The recursion
#   φ11 = r1
#   φ22 = (r2 − r1²)/(1 − r1²);  φ21 = r1 − φ22·r1
#   φ33 = (r3 − φ21·r2 − φ22·r1)/(1 − φ21·r1 − φ22·r2)
# is mirrored verbatim. Lag pairs follow acf_hourly's contract:
# consecutive ROWS of the hour-ordered aggregate (gap hours absent on
# both sides identically).
_PACF_SQL = f"""
    WITH hourly AS (
        SELECT {_SQL_HOUR} AS h, COUNT(*) AS c
        FROM events GROUP BY 1
    ),
    tot AS (SELECT COUNT(*) AS n, SUM(c) AS s FROM hourly),
    cent AS (
        SELECT h, (SELECT n FROM tot) * c - (SELECT s FROM tot) AS d
        FROM hourly
    ),
    lagged AS (
        SELECT d,
               lag(d, 1) OVER (ORDER BY h) AS d1,
               lag(d, 2) OVER (ORDER BY h) AS d2,
               lag(d, 3) OVER (ORDER BY h) AS d3
        FROM cent
    ),
    g AS (
        SELECT SUM(CAST(d AS DECIMAL(38,0)) * d)  AS g0,
               SUM(CAST(d AS DECIMAL(38,0)) * d1) AS g1,
               SUM(CAST(d AS DECIMAL(38,0)) * d2) AS g2,
               SUM(CAST(d AS DECIMAL(38,0)) * d3) AS g3
        FROM lagged
    ),
    r AS (
        SELECT CAST(g1 AS DOUBLE) / CAST(g0 AS DOUBLE) AS r1,
               CAST(g2 AS DOUBLE) / CAST(g0 AS DOUBLE) AS r2,
               CAST(g3 AS DOUBLE) / CAST(g0 AS DOUBLE) AS r3
        FROM g
    ),
    p2 AS (
        SELECT r1, r2, r3,
               (r2 - r1 * r1) / (1 - r1 * r1) AS phi22
        FROM r
    ),
    p21 AS (
        SELECT r1, r2, r3, phi22, r1 - phi22 * r1 AS phi21 FROM p2
    )
    SELECT (SELECT CAST(n AS BIGINT) FROM tot) AS n_hours,
           r1, r2, r3,
           r1 AS pacf1,
           phi22 AS pacf2,
           (r3 - phi21 * r2 - phi22 * r1)
             / (1 - phi21 * r1 - phi22 * r2) AS pacf3
    FROM p21
"""


@query("pacf_hourly_events", oracle=_PACF_SQL)
def pacf_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(_hour_idx().alias("h")).agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = hourly.agg(
        F.count(F.lit(1)).alias("n"), F.sum("c").alias("s")
    )
    cent = hourly.crossJoin(F.broadcast(tot)).select(
        "h", "n", (F.col("n") * F.col("c") - F.col("s")).alias("d")
    )
    w = Window.orderBy("h")  # bounded hourly domain, never raw events
    lagged = cent.select(
        "n",
        "d",
        F.lag("d", 1).over(w).alias("d1"),
        F.lag("d", 2).over(w).alias("d2"),
        F.lag("d", 3).over(w).alias("d3"),
    )
    dd = F.col("d").cast("decimal(38,0)")
    g = lagged.agg(
        F.max("n").alias("n"),
        F.sum(dd * F.col("d")).alias("g0"),
        F.sum(dd * F.col("d1")).alias("g1"),
        F.sum(dd * F.col("d2")).alias("g2"),
        F.sum(dd * F.col("d3")).alias("g3"),
    )
    g0 = F.col("g0").cast("double")
    r1 = (F.col("g1").cast("double") / g0).alias("r1")
    r2 = (F.col("g2").cast("double") / g0).alias("r2")
    r3 = (F.col("g3").cast("double") / g0).alias("r3")
    r = g.select(F.col("n").cast("bigint").alias("n_hours"), r1, r2, r3)
    p2 = r.withColumn(
        "phi22",
        (F.col("r2") - F.col("r1") * F.col("r1"))
        / (F.lit(1) - F.col("r1") * F.col("r1")),
    )
    p21 = p2.withColumn(
        "phi21", F.col("r1") - F.col("phi22") * F.col("r1")
    )
    return p21.select(
        "n_hours",
        "r1",
        "r2",
        "r3",
        F.col("r1").alias("pacf1"),
        F.col("phi22").alias("pacf2"),
        (
            (
                F.col("r3")
                - F.col("phi21") * F.col("r2")
                - F.col("phi22") * F.col("r1")
            )
            / (
                F.lit(1)
                - F.col("phi21") * F.col("r1")
                - F.col("phi22") * F.col("r2")
            )
        ).alias("pacf3"),
    )


# ---------------------------------------------------------------------------
# Bollinger bands (Bollinger 1980s, public) on the per-type hourly
# value series: trailing 24-row mean ± 2σ (population σ, window
# inclusive of the current row), breach = hourly total outside the
# band. The series is the integer domain w = Σ round(100·value) per
# (type, hour); moving sums stay DECIMAL(38,0) so sliding-window
# aggregation order is irrelevant; σ = sqrt(24·Σw² − (Σw)²)/24 uses
# only the IEEE-correctly-rounded sqrt. Bandwidth (4σ in VALUE units,
# i.e. /100) is averaged via the DECIMAL(30,6) rounding cast.
_BOLL_SQL = f"""
    WITH hourly AS (
        SELECT event_type, {_SQL_HOUR} AS h,
               SUM(CAST(round(value * 100) AS DECIMAL(38,0))) AS w
        FROM events GROUP BY 1, 2
    ),
    roll AS (
        SELECT event_type, h, w,
               COUNT(*) OVER tw AS nw,
               SUM(w) OVER tw AS sw,
               SUM(w * w) OVER tw AS sq
        FROM hourly
        WINDOW tw AS (PARTITION BY event_type ORDER BY h
                      ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
    ),
    banded AS (
        SELECT event_type,
               CAST(w AS DOUBLE) AS wd,
               CAST(sw AS DOUBLE) / 24 AS mu,
               sqrt(CAST(24 * sq - sw * sw AS DOUBLE)) / 24 AS sd
        FROM roll WHERE nw = 24
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_banded,
           CAST(SUM(CASE WHEN wd > mu + 2 * sd THEN 1 ELSE 0 END)
                AS BIGINT) AS breaches_up,
           CAST(SUM(CASE WHEN wd < mu - 2 * sd THEN 1 ELSE 0 END)
                AS BIGINT) AS breaches_down,
           CAST(SUM(CAST(4 * sd / 100 AS DECIMAL(30,6))) AS DOUBLE)
             / COUNT(*) AS mean_bandwidth
    FROM banded
    GROUP BY event_type
    ORDER BY event_type
"""


@query("bollinger_breach_events", oracle=_BOLL_SQL)
def bollinger_breach_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy("event_type", _hour_idx().alias("h")).agg(
        F.sum(F.round(F.col("value") * 100).cast("decimal(38,0)")).alias("w")
    )
    tw = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-23, 0)
    )
    roll = hourly.select(
        "event_type",
        "h",
        "w",
        F.count(F.lit(1)).over(tw).alias("nw"),
        F.sum("w").over(tw).alias("sw"),
        F.sum(F.col("w") * F.col("w")).over(tw).alias("sq"),
    )
    banded = roll.where(F.col("nw") == 24).select(
        "event_type",
        F.col("w").cast("double").alias("wd"),
        (F.col("sw").cast("double") / 24).alias("mu"),
        (
            F.sqrt((24 * F.col("sq") - F.col("sw") * F.col("sw")).cast("double"))
            / 24
        ).alias("sd"),
    )
    up = F.col("wd") > F.col("mu") + 2 * F.col("sd")
    dn = F.col("wd") < F.col("mu") - 2 * F.col("sd")
    return (
        banded.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_banded"),
            F.sum(F.when(up, 1).otherwise(0)).cast("bigint").alias("breaches_up"),
            F.sum(F.when(dn, 1).otherwise(0)).cast("bigint").alias("breaches_down"),
            (
                F.sum((4 * F.col("sd") / 100).cast("decimal(30,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_bandwidth"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Matthews correlation coefficient (Matthews 1975, public) of the
# "active clicker ⇒ heavy purchaser" predictor: per user, pred =
# clicks > median(clicks), actual = purchases > median(purchases)
# (percentile_disc medians — exact integers picked from the data).
# The confusion matrix is four BIGINT counts; MCC keeps the products
# in BIGINT (fits: (n/2)² · (n/2)² < 2⁶³ for n ≤ 3M users per the
# bounded-user fixture contract) and casts ONCE before the sqrt.
_MCC_SQL = """
    WITH per_user AS (
        SELECT user_id,
               COUNT(*) FILTER (WHERE event_type = 'click')    AS clicks,
               COUNT(*) FILTER (WHERE event_type = 'purchase') AS purch
        FROM events GROUP BY user_id
    ),
    med AS (
        SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY clicks) AS mc,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY purch)  AS mp
        FROM per_user
    ),
    flags AS (
        SELECT clicks > (SELECT mc FROM med) AS pred,
               purch  > (SELECT mp FROM med) AS act
        FROM per_user
    ),
    cm AS (
        SELECT SUM(CASE WHEN pred AND act THEN 1 ELSE 0 END) AS tp,
               SUM(CASE WHEN pred AND NOT act THEN 1 ELSE 0 END) AS fp,
               SUM(CASE WHEN NOT pred AND act THEN 1 ELSE 0 END) AS fn,
               SUM(CASE WHEN NOT pred AND NOT act THEN 1 ELSE 0 END) AS tn
        FROM flags
    )
    SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
           CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn) AS accuracy,
           CAST(tp * tn - fp * fn AS DOUBLE)
             / sqrt(CAST((tp + fp) * (tp + fn) AS DOUBLE)
                    * CAST((tn + fp) * (tn + fn) AS DOUBLE)) AS mcc
    FROM cm
"""


@query("mcc_click_purchase", oracle=_MCC_SQL)
def mcc_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("clicks"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("purch"),
    )
    # percentile_disc(0.5) = the smallest value whose cume_dist
    # reaches 0.5 — one cume_dist window per metric on the BOUNDED
    # user aggregate (single plan, no driver-side count/sort-limit).
    def _median_disc(col: str, alias: str) -> DataFrame:
        cd = F.cume_dist().over(Window.orderBy(col))
        return (
            per_user.select(F.col(col), cd.alias("cd"))
            .where(F.col("cd") >= 0.5)
            .agg(F.min(col).alias(alias))
        )

    flags = (
        per_user.crossJoin(F.broadcast(_median_disc("clicks", "mc")))
        .crossJoin(F.broadcast(_median_disc("purch", "mp")))
        .select(
            (F.col("clicks") > F.col("mc")).alias("pred"),
            (F.col("purch") > F.col("mp")).alias("act"),
        )
    )
    cm = flags.agg(
        F.sum(F.when(F.col("pred") & F.col("act"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("pred") & ~F.col("act"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~F.col("pred") & F.col("act"), 1).otherwise(0)).alias("fn"),
        F.sum(F.when(~F.col("pred") & ~F.col("act"), 1).otherwise(0)).alias("tn"),
    )
    tp, fp, fn, tn = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    return cm.select(
        tp.cast("bigint").alias("tp"),
        fp.cast("bigint").alias("fp"),
        fn.cast("bigint").alias("fn"),
        tn.cast("bigint").alias("tn"),
        ((tp + tn).cast("double") / (tp + fp + fn + tn)).alias("accuracy"),
        (
            (tp * tn - fp * fn).cast("double")
            / F.sqrt(
                ((tp + fp) * (tp + fn)).cast("double")
                * ((tn + fp) * (tn + fn)).cast("double")
            )
        ).alias("mcc"),
    )


# ---------------------------------------------------------------------------
# Average precision (the ranked-retrieval AP, public IR textbook
# metric) of the "longer documents are English" ranker: rank docs by
# (n_chars DESC, doc_id) — the repo's unique-key tie-break — label =
# lang 'en'. precision@k = cum_rel_k/k at each RELEVANT k; AP is
# their mean. cum_rel and k are BIGINT; each precision@k is
# nano-rounded to a BIGINT before the (order-free) sum — the
# nelson_aalen discipline, because cumulative DOUBLE window sums are
# NOT sequentially associative in DuckDB (measured: segment-tree
# combine differs in the last bits). Also emits the exact-rational
# precision@10 / recall@10.
_AP_SQL = """
    WITH ranked AS (
        SELECT doc_id,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS rel,
               row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rk
        FROM documents
    ),
    cum AS (
        SELECT rk, rel,
               SUM(rel) OVER (ORDER BY rk
                   ROWS UNBOUNDED PRECEDING) AS cum_rel
        FROM ranked
    ),
    tot AS (
        SELECT MAX(cum_rel) AS n_rel, MAX(rk) AS n_docs,
               SUM(CASE WHEN rel = 1
                        THEN CAST(round(1e9 * CAST(cum_rel AS DOUBLE) / rk)
                                  AS BIGINT)
                        ELSE 0 END) AS ap_nano,
               MAX(CASE WHEN rk = 10 THEN cum_rel END) AS rel_at_10
        FROM cum
    )
    SELECT CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_rel AS BIGINT) AS n_rel,
           CAST(ap_nano AS DOUBLE) / 1e9 / n_rel AS avg_precision,
           CAST(rel_at_10 AS DOUBLE) / 10 AS precision_at_10,
           CAST(rel_at_10 AS DOUBLE) / n_rel AS recall_at_10
    FROM tot
"""


@query("avg_precision_docs", oracle=_AP_SQL)
def avg_precision_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    ranked = docs.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("rel"),
        F.row_number()
        .over(Window.orderBy(F.col("n_chars").desc(), "doc_id"))
        .alias("rk"),
    )
    wcum = Window.orderBy("rk").rowsBetween(Window.unboundedPreceding, 0)
    cum = ranked.select(
        "rk",
        "rel",
        F.sum("rel").over(wcum).alias("cum_rel"),
    )
    tot = cum.agg(
        F.max("cum_rel").alias("n_rel"),
        F.max("rk").alias("n_docs"),
        F.sum(
            F.when(
                F.col("rel") == 1,
                F.round(
                    F.lit(1e9)
                    * F.col("cum_rel").cast("double")
                    / F.col("rk")
                ).cast("bigint"),
            ).otherwise(F.lit(0))
        ).alias("ap_nano"),
        F.max(F.when(F.col("rk") == 10, F.col("cum_rel"))).alias("rel_at_10"),
    )
    return tot.select(
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_rel").cast("bigint").alias("n_rel"),
        (
            F.col("ap_nano").cast("double") / F.lit(1e9) / F.col("n_rel")
        ).alias("avg_precision"),
        (F.col("rel_at_10").cast("double") / 10).alias("precision_at_10"),
        (F.col("rel_at_10").cast("double") / F.col("n_rel")).alias(
            "recall_at_10"
        ),
    )


# ---------------------------------------------------------------------------
# Page–Hinkley drift statistic (Page 1954, Hinkley 1971 — public) per
# event type over the hourly count series: U_t = Σ_{i≤t} (c_i − m_i)
# where m_i is the running mean P_i/i (prefix sums BIGINT-exact;
# division the only float op), PH_t = U_t − min_{i≤t} U_i. Each term
# is nano-rounded to a BIGINT BEFORE the cumulative window sum — so
# U, its running min, and PH are exact integers regardless of the
# engines' window-combine order (cumulative DOUBLE window sums are
# not sequentially associative in DuckDB — measured). Emits the
# final U, the max excursion PH, and the first hour where the max is
# attained (integer equality — no float compare anywhere).
_PH_SQL = f"""
    WITH hourly AS (
        SELECT event_type, {_SQL_HOUR} AS h, COUNT(*) AS c
        FROM events GROUP BY 1, 2
    ),
    pre AS (
        SELECT event_type, h, c,
               SUM(c) OVER tw AS p,
               COUNT(*) OVER tw AS t
        FROM hourly
        WINDOW tw AS (PARTITION BY event_type ORDER BY h
                      ROWS UNBOUNDED PRECEDING)
    ),
    u AS (
        SELECT event_type, h,
               SUM(CAST(round(1e9 * (c - CAST(p AS DOUBLE) / t))
                        AS BIGINT)) OVER tw AS u_n
        FROM pre
        WINDOW tw AS (PARTITION BY event_type ORDER BY h
                      ROWS UNBOUNDED PRECEDING)
    ),
    ph AS (
        SELECT event_type, h, u_n,
               u_n - MIN(u_n) OVER (PARTITION BY event_type ORDER BY h
                                    ROWS UNBOUNDED PRECEDING) AS ph_n
        FROM u
    ),
    agg AS (
        SELECT event_type,
               COUNT(*) AS n_hours,
               MAX(ph_n) AS ph_max_n,
               MAX(CASE WHEN is_last THEN u_n END) AS u_final_n
        FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                                           ORDER BY h DESC) = 1 AS is_last
              FROM ph)
        GROUP BY event_type
    )
    SELECT a.event_type,
           CAST(a.n_hours AS BIGINT) AS n_hours,
           CAST(a.u_final_n AS DOUBLE) / 1e9 AS u_final,
           CAST(a.ph_max_n AS DOUBLE) / 1e9 AS ph_max,
           MIN(p.h) AS h_at_max
    FROM agg a JOIN ph p
      ON p.event_type = a.event_type AND p.ph_n = a.ph_max_n
    GROUP BY a.event_type, a.n_hours, a.u_final_n, a.ph_max_n
    ORDER BY a.event_type
"""


@query("page_hinkley_events", oracle=_PH_SQL)
def page_hinkley_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy("event_type", _hour_idx().alias("h")).agg(
        F.count(F.lit(1)).alias("c")
    )
    tw = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pre = hourly.select(
        "event_type",
        "h",
        "c",
        F.sum("c").over(tw).alias("p"),
        F.count(F.lit(1)).over(tw).alias("t"),
    )
    u = pre.select(
        "event_type",
        "h",
        F.sum(
            F.round(
                F.lit(1e9)
                * (F.col("c") - F.col("p").cast("double") / F.col("t"))
            ).cast("bigint")
        )
        .over(tw)
        .alias("u_n"),
    )
    ph = u.select(
        "event_type",
        "h",
        "u_n",
        (F.col("u_n") - F.min("u_n").over(tw)).alias("ph_n"),
    )
    wlast = Window.partitionBy("event_type").orderBy(F.col("h").desc())
    agg = (
        ph.withColumn("is_last", F.row_number().over(wlast) == 1)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.max("ph_n").alias("ph_max_n"),
            F.max(F.when(F.col("is_last"), F.col("u_n"))).alias("u_final_n"),
        )
    )
    return (
        agg.join(
            ph.select("event_type", "h", "ph_n"),
            on=["event_type"],
        )
        .where(F.col("ph_n") == F.col("ph_max_n"))
        .groupBy("event_type", "n_hours", "u_final_n", "ph_max_n")
        .agg(F.min("h").alias("h_at_max"))
        .select(
            "event_type",
            F.col("n_hours").cast("bigint").alias("n_hours"),
            (F.col("u_final_n").cast("double") / F.lit(1e9)).alias("u_final"),
            (F.col("ph_max_n").cast("double") / F.lit(1e9)).alias("ph_max"),
            "h_at_max",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Qini uplift curve at deciles (Radcliffe 2007, public): synthetic
# treatment = user_id parity (the repo's standing A/B construction),
# outcome = above-median purchaser, targeting score = click count
# (rank by score DESC, user_id tie-break). At each decile boundary
# k = i·n//10: qini(k) = Rt_k − Rc_k·Nt_k/Nc_k — cumulative BIGINTs,
# one mirrored ratio. The population window runs on the per-user
# aggregate (bounded), not raw events. The decile label is
# TRUNCATION-defined on both engines (DuckDB `//`, Spark floor):
# a float division + int cast would round-to-nearest in DuckDB but
# truncate in Spark, silently diverging when n_users ≤ 20 (ADVICE r8).
_QINI_SQL = """
    WITH per_user AS (
        SELECT user_id,
               user_id % 2 = 1 AS treated,
               COUNT(*) FILTER (WHERE event_type = 'click')    AS clicks,
               COUNT(*) FILTER (WHERE event_type = 'purchase') AS purch
        FROM events GROUP BY user_id
    ),
    med AS (
        SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY purch) AS mp
        FROM per_user
    ),
    ranked AS (
        SELECT treated,
               CASE WHEN purch > (SELECT mp FROM med) THEN 1 ELSE 0 END AS y,
               row_number() OVER (ORDER BY clicks DESC, user_id) AS rk
        FROM per_user
    ),
    cum AS (
        SELECT rk,
               SUM(CASE WHEN treated THEN 1 ELSE 0 END) OVER tw AS nt,
               SUM(CASE WHEN NOT treated THEN 1 ELSE 0 END) OVER tw AS nc,
               SUM(CASE WHEN treated THEN y ELSE 0 END) OVER tw AS rt,
               SUM(CASE WHEN NOT treated THEN y ELSE 0 END) OVER tw AS rc,
               MAX(rk) OVER () AS n
        FROM ranked
        WINDOW tw AS (ORDER BY rk ROWS UNBOUNDED PRECEDING)
    )
    SELECT CAST(rk * 10 // n AS INT) AS decile,
           CAST(rk AS BIGINT) AS k,
           CAST(nt AS BIGINT) AS nt, CAST(nc AS BIGINT) AS nc,
           CAST(rt AS BIGINT) AS rt, CAST(rc AS BIGINT) AS rc,
           CAST(rt AS DOUBLE)
             - CAST(rc AS DOUBLE) * nt / NULLIF(nc, 0) AS qini
    FROM cum
    WHERE rk * 10 % n < 10
    ORDER BY k
"""


@query("qini_uplift_events", oracle=_QINI_SQL)
def qini_uplift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("clicks"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("purch"),
    ).withColumn("treated", F.col("user_id") % 2 == 1)
    n_users = per_user.count()
    half = (n_users + 1) // 2
    mp = (
        per_user.select(F.col("purch").alias("v"))
        .orderBy("v")
        .limit(half)
        .agg(F.max("v").alias("mp"))
    )
    ranked = (
        per_user.crossJoin(F.broadcast(mp))
        .select(
            "treated",
            F.when(F.col("purch") > F.col("mp"), 1).otherwise(0).alias("y"),
            F.row_number()
            .over(Window.orderBy(F.col("clicks").desc(), "user_id"))
            .alias("rk"),
        )
    )
    tw = Window.orderBy("rk").rowsBetween(Window.unboundedPreceding, 0)
    cum = ranked.select(
        "rk",
        F.sum(F.when(F.col("treated"), 1).otherwise(0)).over(tw).alias("nt"),
        F.sum(F.when(~F.col("treated"), 1).otherwise(0)).over(tw).alias("nc"),
        F.sum(F.when(F.col("treated"), F.col("y")).otherwise(0))
        .over(tw)
        .alias("rt"),
        F.sum(F.when(~F.col("treated"), F.col("y")).otherwise(0))
        .over(tw)
        .alias("rc"),
        F.lit(n_users).alias("n"),
    )
    return (
        cum.where((F.col("rk") * 10 % F.col("n")) < 10)
        .select(
            F.floor(F.col("rk") * 10 / F.col("n")).cast("int").alias("decile"),
            F.col("rk").cast("bigint").alias("k"),
            F.col("nt").cast("bigint").alias("nt"),
            F.col("nc").cast("bigint").alias("nc"),
            F.col("rt").cast("bigint").alias("rt"),
            F.col("rc").cast("bigint").alias("rc"),
            (
                F.col("rt").cast("double")
                - F.col("rc").cast("double")
                * F.col("nt")
                / F.nullif(F.col("nc"), F.lit(0))
            ).alias("qini"),
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# Croston's method (Croston 1972, public) for intermittent demand:
# per user, daily purchase counts form a sparse demand series; the
# forecast is ẑ/q̂ where ẑ is an EWMA over the NONZERO demand sizes
# and q̂ an EWMA over the inter-demand intervals (days), both updated
# only on demand periods — i.e. two plain EWMAs over the nonzero-day
# sequence. Both folds follow ewma_event_values' pinned contract:
# list_reduce seeds with the first element, fold order is part of
# the operator. α = 0.2 (λ = 0.8). Users need ≥ 2 demand days (≥ 1
# interval). One user-day groupBy then one user groupBy — bounded
# per-key histories.
_CROSTON_SQL = f"""
    WITH daily AS (
        SELECT user_id, {_SQL_DAY} AS day, COUNT(*) AS d
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1, 2
    ),
    lagged AS (
        SELECT user_id, day, d,
               day - lag(day) OVER (PARTITION BY user_id ORDER BY day)
                   AS ival
        FROM daily
    ),
    seq AS (
        SELECT user_id,
               list(CAST(d AS DOUBLE) ORDER BY day) AS sizes,
               list(CAST(ival AS DOUBLE) ORDER BY day)
                   FILTER (WHERE ival IS NOT NULL) AS ivals
        FROM lagged GROUP BY user_id
        HAVING COUNT(*) >= 2
    )
    SELECT user_id,
           CAST(len(sizes) AS BIGINT) AS n_demand_days,
           list_reduce(sizes, (acc, x) -> 0.8 * acc + 0.2 * x) AS z_hat,
           list_reduce(ivals, (acc, x) -> 0.8 * acc + 0.2 * x) AS q_hat,
           list_reduce(sizes, (acc, x) -> 0.8 * acc + 0.2 * x)
             / list_reduce(ivals, (acc, x) -> 0.8 * acc + 0.2 * x)
             AS forecast_per_day
    FROM seq
    ORDER BY user_id
"""


@query("croston_demand_events", oracle=_CROSTON_SQL)
def croston_demand_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(
            "user_id",
            F.floor(F.unix_timestamp("ts") / F.lit(86400))
            .cast("bigint")
            .alias("day"),
        )
        .agg(F.count(F.lit(1)).alias("d"))
    )
    lagged = daily.withColumn(
        "ival",
        F.col("day")
        - F.lag("day").over(Window.partitionBy("user_id").orderBy("day")),
    )
    seq = (
        lagged.groupBy("user_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("day", "d"))).alias("evs"),
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("ival").isNotNull(),
                        F.struct("day", "ival"),
                    )
                )
            ).alias("ivs"),
        )
        .where(F.size("evs") >= 2)
    )
    sizes = F.transform(F.col("evs"), lambda e: e["d"].cast("double"))
    ivals = F.transform(F.col("ivs"), lambda e: e["ival"].cast("double"))

    def _fold(arr: F.Column) -> F.Column:
        # mirror DuckDB list_reduce: seed with arr[1], fold the tail
        return F.aggregate(
            F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
            F.element_at(arr, 1),
            lambda acc, x: F.lit(0.8) * acc + F.lit(0.2) * x,
        )

    z = _fold(sizes)
    q = _fold(ivals)
    return seq.select(
        "user_id",
        F.size("evs").cast("bigint").alias("n_demand_days"),
        z.alias("z_hat"),
        q.alias("q_hat"),
        (z / q).alias("forecast_per_day"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# Eccentricity / radius / diameter of the event-type transition graph
# — the per-node max-shortest-path companion to
# reachability_event_types (SAME edge construction and 5-hop cap, so
# the two queries agree row-for-row on min_hops). Runs as the
# identical recursive-CTE BFS on both engines (Spark 4 recursive CTE;
# node domain is the handful of event types — evidence-sized edges,
# never the raw fact table).
_ECC_BODY = """
    reach AS (
        SELECT src, dst, 1 AS hops FROM edges
        UNION ALL
        SELECT r.src, e.dst, r.hops + 1
        FROM reach r JOIN edges e ON e.src = r.dst
        WHERE r.hops < 5
    ),
    dist AS (
        SELECT src, dst, MIN(hops) AS d
        FROM reach WHERE src <> dst
        GROUP BY src, dst
    ),
    ecc AS (
        SELECT src AS node,
               CAST(COUNT(*) AS BIGINT) AS n_reached,
               CAST(MAX(d) AS INT) AS eccentricity
        FROM dist GROUP BY src
    )
    SELECT node, n_reached, eccentricity,
           eccentricity = (SELECT MIN(eccentricity) FROM ecc) AS is_center,
           eccentricity = (SELECT MAX(eccentricity) FROM ecc) AS on_periphery
    FROM ecc
    ORDER BY node
"""

# oracle = inline self-contained form; Spark feeds the identical body
# a MATERIALIZED edge view (Spark inlines non-recursive CTEs, so the
# inline form re-ran the event-scale lag window once per recursion
# step — the reachability_event_types finding, r10 optimization round)
from .eventops import _TRANSITION_EDGES_SQL  # noqa: E402

_ECC_SQL = _TRANSITION_EDGES_SQL + _ECC_BODY


@query("eccentricity_event_types", oracle=_ECC_SQL)
def eccentricity_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .eventops import _transition_edges_view

    _transition_edges_view(spark, sf_dir, "ecc_edges")
    return spark.sql(
        "WITH RECURSIVE edges AS (SELECT src, dst FROM ecc_edges),"
        + _ECC_BODY
    )


# ---------------------------------------------------------------------------
# One-way ANOVA (Fisher, public) of event value by event type, with
# eta-squared effect size. Integer domain w = round(100·value); the
# sufficient statistics (n_g, S_g = Σw per group, global Q = Σw²)
# are exact DECIMAL/BIGINT sums. The only order-sensitive float sum —
# Σ_g S_g²/n_g over the handful of groups — runs as a PINNED-ORDER
# left fold over the event_type-sorted term array (the ewma
# list_reduce contract), so both engines add the same doubles in the
# same order. F and eta² are scale-invariant, so no /100 conversion
# is needed anywhere.
_ANOVA_SQL = """
    WITH g AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_g,
               SUM(CAST(round(value * 100) AS DECIMAL(38,0))) AS s_g,
               SUM(CAST(round(value * 100) * round(value * 100)
                        AS DECIMAL(38,0))) AS q_g
        FROM events GROUP BY event_type
    ),
    terms AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(n_g) AS BIGINT) AS n,
               CAST(SUM(s_g) AS DOUBLE) AS s,
               CAST(SUM(q_g) AS DOUBLE) AS q,
               list(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
                    / CAST(n_g AS DOUBLE) ORDER BY event_type) AS tl
        FROM g
    ),
    f AS (
        SELECT k, n, s, q,
               list_reduce(tl, (a, x) -> a + x) AS between_raw
        FROM terms
    )
    SELECT n, k,
           between_raw - s * s / n AS ss_between,
           q - between_raw AS ss_within,
           ((between_raw - s * s / n) / (k - 1))
             / ((q - between_raw) / (n - k)) AS f_stat,
           (between_raw - s * s / n)
             / (q - s * s / n) AS eta_squared
    FROM f
"""


@query("anova_f_events", oracle=_ANOVA_SQL)
def anova_f_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w100 = F.round(F.col("value") * 100)
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum(w100.cast("decimal(38,0)")).alias("s_g"),
        F.sum((w100 * w100).cast("decimal(38,0)")).alias("q_g"),
    )
    terms = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("s_g").cast("double").alias("s"),
        F.sum("q_g").cast("double").alias("q"),
        F.array_sort(
            F.collect_list(
                F.struct(
                    "event_type",
                    (
                        F.col("s_g").cast("double")
                        * F.col("s_g").cast("double")
                        / F.col("n_g").cast("double")
                    ).alias("t"),
                )
            )
        ).alias("tl_s"),
    )
    tl = F.transform(F.col("tl_s"), lambda e: e["t"])
    # mirror DuckDB list_reduce: seed with element 1, fold the tail
    between = F.aggregate(
        F.slice(tl, 2, F.greatest(F.size(tl) - 1, F.lit(0))),
        F.element_at(tl, 1),
        lambda a, x: a + x,
    )
    f = terms.select("k", "n", "s", "q", between.alias("between_raw"))
    n, k, s, q, br = (F.col(c) for c in ("n", "k", "s", "q", "between_raw"))
    return f.select(
        "n",
        "k",
        (br - s * s / n).alias("ss_between"),
        (q - br).alias("ss_within"),
        (((br - s * s / n) / (k - 1)) / ((q - br) / (n - k))).alias("f_stat"),
        ((br - s * s / n) / (q - s * s / n)).alias("eta_squared"),
    )


# ---------------------------------------------------------------------------
# Granger causality, lag 1 (Granger 1969, public): do hourly CLICK
# counts help predict next-hour PURCHASE counts beyond purchase
# history? Nested OLS on the hour grid (all hours with any event;
# absent types count 0): restricted y_t ~ y_{t-1}, unrestricted
# y_t ~ y_{t-1} + x_{t-1}. Everything reduces to centered-integer
# moments (d = n·v − Σv is integral; DECIMAL(38,0) products), and F,
# R², and the betas are invariant to that scaling, so the closed-form
# Cramer solve is one mirrored double expression — no iterative fit.
_GRANGER_SQL = f"""
    WITH grid AS (
        SELECT {_SQL_HOUR} AS h,
               COUNT(*) FILTER (WHERE event_type = 'click')    AS x,
               COUNT(*) FILTER (WHERE event_type = 'purchase') AS y
        FROM events GROUP BY 1
    ),
    lagged AS (
        SELECT y AS z,
               lag(y) OVER (ORDER BY h) AS a1,
               lag(x) OVER (ORDER BY h) AS a2
        FROM grid
    ),
    rows_ AS (SELECT z, a1, a2 FROM lagged WHERE a1 IS NOT NULL),
    t AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(z)  AS BIGINT) AS sz,
               CAST(SUM(a1) AS BIGINT) AS s1,
               CAST(SUM(a2) AS BIGINT) AS s2
        FROM rows_
    ),
    c AS (
        SELECT t.n,
               SUM(CAST(t.n * a1 - t.s1 AS DECIMAL(38,0))
                   * (t.n * a1 - t.s1)) AS s11,
               SUM(CAST(t.n * a1 - t.s1 AS DECIMAL(38,0))
                   * (t.n * a2 - t.s2)) AS s12,
               SUM(CAST(t.n * a2 - t.s2 AS DECIMAL(38,0))
                   * (t.n * a2 - t.s2)) AS s22,
               SUM(CAST(t.n * a1 - t.s1 AS DECIMAL(38,0))
                   * (t.n * z - t.sz)) AS s1z,
               SUM(CAST(t.n * a2 - t.s2 AS DECIMAL(38,0))
                   * (t.n * z - t.sz)) AS s2z,
               SUM(CAST(t.n * z - t.sz AS DECIMAL(38,0))
                   * (t.n * z - t.sz)) AS szz
        FROM rows_ CROSS JOIN t GROUP BY t.n
    ),
    m AS (
        SELECT n,
               CAST(s11 AS DOUBLE) AS s11, CAST(s12 AS DOUBLE) AS s12,
               CAST(s22 AS DOUBLE) AS s22, CAST(s1z AS DOUBLE) AS s1z,
               CAST(s2z AS DOUBLE) AS s2z, CAST(szz AS DOUBLE) AS szz
        FROM c
    ),
    fit AS (
        SELECT n, szz,
               szz - s1z * s1z / s11 AS rss_r,
               (s1z * s22 - s2z * s12) / (s11 * s22 - s12 * s12) AS b1,
               (s2z * s11 - s1z * s12) / (s11 * s22 - s12 * s12) AS b2,
               s1z, s2z
        FROM m
    )
    SELECT n AS n_pairs,
           b1 AS beta_y_lag,
           b2 AS beta_x_lag,
           rss_r,
           szz - b1 * s1z - b2 * s2z AS rss_u,
           (rss_r - (szz - b1 * s1z - b2 * s2z)) * (n - 3)
             / (szz - b1 * s1z - b2 * s2z) AS f_stat
    FROM fit
"""


@query("granger_click_purchase_hourly", oracle=_GRANGER_SQL)
def granger_click_purchase_hourly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    grid = ev.groupBy(_hour_idx().alias("h")).agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("x"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("y"),
    )
    w = Window.orderBy("h")  # bounded hourly domain
    lagged = grid.select(
        F.col("y").alias("z"),
        F.lag("y").over(w).alias("a1"),
        F.lag("x").over(w).alias("a2"),
    ).where(F.col("a1").isNotNull())
    t = lagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("z").cast("bigint").alias("sz"),
        F.sum("a1").cast("bigint").alias("s1"),
        F.sum("a2").cast("bigint").alias("s2"),
    )
    r = lagged.crossJoin(F.broadcast(t))
    d1 = (F.col("n") * F.col("a1") - F.col("s1")).cast("decimal(38,0)")
    d2 = (F.col("n") * F.col("a2") - F.col("s2")).cast("decimal(38,0)")
    dz = (F.col("n") * F.col("z") - F.col("sz")).cast("decimal(38,0)")
    c = r.groupBy("n").agg(
        F.sum(d1 * (F.col("n") * F.col("a1") - F.col("s1"))).alias("s11"),
        F.sum(d1 * (F.col("n") * F.col("a2") - F.col("s2"))).alias("s12"),
        F.sum(d2 * (F.col("n") * F.col("a2") - F.col("s2"))).alias("s22"),
        F.sum(d1 * (F.col("n") * F.col("z") - F.col("sz"))).alias("s1z"),
        F.sum(d2 * (F.col("n") * F.col("z") - F.col("sz"))).alias("s2z"),
        F.sum(dz * (F.col("n") * F.col("z") - F.col("sz"))).alias("szz"),
    )
    m = c.select(
        "n",
        *[
            F.col(x).cast("double").alias(x)
            for x in ("s11", "s12", "s22", "s1z", "s2z", "szz")
        ],
    )
    det = F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12")
    b1 = (F.col("s1z") * F.col("s22") - F.col("s2z") * F.col("s12")) / det
    b2 = (F.col("s2z") * F.col("s11") - F.col("s1z") * F.col("s12")) / det
    fit = m.select(
        "n",
        "szz",
        "s1z",
        "s2z",
        (F.col("szz") - F.col("s1z") * F.col("s1z") / F.col("s11")).alias(
            "rss_r"
        ),
        b1.alias("b1"),
        b2.alias("b2"),
    )
    rss_u = F.col("szz") - F.col("b1") * F.col("s1z") - F.col("b2") * F.col(
        "s2z"
    )
    return fit.select(
        F.col("n").alias("n_pairs"),
        F.col("b1").alias("beta_y_lag"),
        F.col("b2").alias("beta_x_lag"),
        "rss_r",
        rss_u.alias("rss_u"),
        ((F.col("rss_r") - rss_u) * (F.col("n") - 3) / rss_u).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# Fleiss' kappa (Fleiss 1971, public) — chance-corrected agreement of
# THREE deterministic binary "raters" on each document (the quality
# gates this engine ships as cheap heuristics): r1 = n_chars ≥ 200,
# r2 = whitespace word count ≥ 30, r3 = lang = 'en'. Per-item
# agreement P_i = (Σ_j n_ij² − r)/(r(r−1)) with r = 3 raters; P̄, the
# marginal p_j, and P_e = Σ p_j² are all exact rationals from BIGINT
# sums — one mirrored double expression at the end, no float
# accumulation anywhere.
_FLEISS_SQL = r"""
    WITH rated AS (
        SELECT doc_id,
               (CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END)
             + (CASE WHEN len(string_split_regex(text, '\s+')) >= 30
                     THEN 1 ELSE 0 END)
             + (CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS pos
        FROM documents
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(pos) AS BIGINT) AS tot_pos,
               CAST(SUM(pos * pos + (3 - pos) * (3 - pos)) AS BIGINT)
                   AS sum_sq
        FROM rated
    )
    SELECT n_docs, tot_pos,
           CAST(sum_sq - 3 * n_docs AS DOUBLE) / (n_docs * 6) AS p_bar,
           (CAST(tot_pos AS DOUBLE) / (3 * n_docs))
             * (CAST(tot_pos AS DOUBLE) / (3 * n_docs))
           + (1 - CAST(tot_pos AS DOUBLE) / (3 * n_docs))
             * (1 - CAST(tot_pos AS DOUBLE) / (3 * n_docs)) AS p_e,
           (CAST(sum_sq - 3 * n_docs AS DOUBLE) / (n_docs * 6)
            - ((CAST(tot_pos AS DOUBLE) / (3 * n_docs))
               * (CAST(tot_pos AS DOUBLE) / (3 * n_docs))
               + (1 - CAST(tot_pos AS DOUBLE) / (3 * n_docs))
               * (1 - CAST(tot_pos AS DOUBLE) / (3 * n_docs))))
           / (1 - ((CAST(tot_pos AS DOUBLE) / (3 * n_docs))
                   * (CAST(tot_pos AS DOUBLE) / (3 * n_docs))
                   + (1 - CAST(tot_pos AS DOUBLE) / (3 * n_docs))
                   * (1 - CAST(tot_pos AS DOUBLE) / (3 * n_docs))))
               AS fleiss_kappa
    FROM s
"""


@query("fleiss_kappa_docs", oracle=_FLEISS_SQL)
def fleiss_kappa_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    pos = (
        F.when(F.col("n_chars") >= 200, 1).otherwise(0)
        + F.when(F.size(F.split(F.col("text"), r"\s+")) >= 30, 1).otherwise(0)
        + F.when(F.col("lang") == "en", 1).otherwise(0)
    )
    s = docs.select(pos.alias("pos")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("pos").cast("bigint").alias("tot_pos"),
        F.sum(
            F.col("pos") * F.col("pos")
            + (3 - F.col("pos")) * (3 - F.col("pos"))
        )
        .cast("bigint")
        .alias("sum_sq"),
    )
    nd, tp, sq = (F.col(c) for c in ("n_docs", "tot_pos", "sum_sq"))
    p1 = tp.cast("double") / (3 * nd)
    p_bar = (sq - 3 * nd).cast("double") / (nd * 6)
    p_e = p1 * p1 + (1 - p1) * (1 - p1)
    return s.select(
        "n_docs",
        "tot_pos",
        p_bar.alias("p_bar"),
        p_e.alias("p_e"),
        ((p_bar - p_e) / (1 - p_e)).alias("fleiss_kappa"),
    )


# ---------------------------------------------------------------------------
# Markov-chain attribution with removal effects (Anderl et al. 2014,
# public): user journeys (events ordered to the FIRST purchase; CONV
# / NULL terminals) define a first-order chain over the channel
# states; a channel's credit is how much the 12-step conversion
# probability from START drops when reaching that channel is poisoned
# (u(c) ≡ 0 — equivalent to the classic redirect-to-NULL removal).
# The heavy pass — journeys and transition counts — is distributed
# (one user-keyed window + groupBy); the value iteration runs on the
# BOUNDED model domain (≤ 7 states, ≤ 42 transitions; the
# driver-side-math-below-threshold convention of connected
# components / unrolled k-means). Determinism: transition probs are
# single divisions of exact counts; every matrix–vector sum is a
# PINNED-ORDER left fold (j-ascending, seed = first element — the
# list_reduce contract), identical in the Python driver loop and the
# generated 12-step-unrolled oracle; the share denominator is one
# explicit left-nested sum in channel order.
_MARKOV_CHANNELS = ["click", "error", "signup", "view"]
_MARKOV_H = 12


def _markov_transitions_sql() -> str:
    return """
    seq AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    firstp AS (
        SELECT user_id, MIN(rn) AS prn FROM seq
        WHERE event_type = 'purchase' GROUP BY user_id
    ),
    j AS (
        SELECT s.user_id, s.rn,
               CASE WHEN s.event_type = 'purchase' THEN 'CONV'
                    ELSE s.event_type END AS st
        FROM seq s LEFT JOIN firstp f USING (user_id)
        WHERE f.prn IS NULL OR s.rn <= f.prn
    ),
    pairs AS (
        SELECT COALESCE(lag(st) OVER (PARTITION BY user_id ORDER BY rn),
                        'START') AS i,
               st AS jst
        FROM j
    ),
    tails AS (
        SELECT arg_max(st, rn) AS i, 'NULL' AS jst
        FROM j GROUP BY user_id
        HAVING MAX(CASE WHEN st = 'CONV' THEN 1 ELSE 0 END) = 0
    ),
    trans AS (SELECT i, jst FROM pairs UNION ALL SELECT i, jst FROM tails),
    tcnt AS MATERIALIZED (
        SELECT i, jst, CAST(COUNT(*) AS BIGINT) AS c
        FROM trans GROUP BY i, jst
    ),
    p AS MATERIALIZED (
        SELECT i, jst,
               CAST(c AS DOUBLE) / SUM(CAST(c AS DOUBLE)) OVER (PARTITION BY i)
                   AS pr
        FROM tcnt
    )"""


def _markov_oracle() -> str:
    transient = ["START"] + _MARKOV_CHANNELS
    state_rel = " UNION ALL ".join(
        f"SELECT '{s}' AS state" for s in transient
    )
    ctes = [_markov_transitions_sql().strip()]
    variants = [("base", None)] + [(c, c) for c in _MARKOV_CHANNELS]
    for vname, removed in variants:
        ctes.append(f"""
    u_{vname}_0 AS MATERIALIZED (
        SELECT 'CONV' AS state, 1.0 AS prob
        UNION ALL SELECT 'NULL', 0.0
        {"".join(f" UNION ALL SELECT '{s}', 0.0" for s in transient)}
    )""")
        for t in range(1, _MARKOV_H + 1):
            ctes.append(f"""
    u_{vname}_{t} AS MATERIALIZED (
        SELECT st.state,
               CASE WHEN st.state = '{removed or ""}' THEN 0.0
                    ELSE CAST(round(1e12 * COALESCE(f.val, 0.0)) AS BIGINT)
                         / 1e12 END AS prob
        FROM ({state_rel}) st
        LEFT JOIN (
            SELECT p.i AS state,
                   list_reduce(list(p.pr * u.prob ORDER BY p.jst),
                               (a, x) -> a + x) AS val
            FROM p JOIN u_{vname}_{t - 1} u ON u.state = p.jst
            GROUP BY p.i
        ) f USING (state)
        UNION ALL SELECT 'CONV', 1.0
        UNION ALL SELECT 'NULL', 0.0
    )""")
    final_h = _MARKOV_H
    base = f"(SELECT prob FROM u_base_{final_h} WHERE state = 'START')"
    effs = {
        c: f"({base} - (SELECT prob FROM u_{c}_{final_h} WHERE state = 'START'))"
        for c in _MARKOV_CHANNELS
    }
    denom = effs[_MARKOV_CHANNELS[0]]
    for c in _MARKOV_CHANNELS[1:]:
        denom = f"({denom} + {effs[c]})"
    rows = " UNION ALL ".join(
        f"""SELECT '{c}' AS channel,
               {base} AS base_cvr,
               (SELECT prob FROM u_{c}_{final_h} WHERE state = 'START')
                   AS removal_cvr,
               {effs[c]} AS removal_effect,
               {effs[c]} / {denom} AS share"""
        for c in _MARKOV_CHANNELS
    )
    return f"WITH {','.join(ctes)}\n    SELECT * FROM ({rows}) ORDER BY channel"


@query("markov_attribution_events", oracle=_markov_oracle())
def markov_attribution_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    ev = _t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.row_number().over(wu).alias("rn"),
    )
    firstp = (
        seq.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("rn").alias("prn"))
    )
    j = (
        seq.join(firstp, "user_id", "left")
        .where(F.col("prn").isNull() | (F.col("rn") <= F.col("prn")))
        .select(
            "user_id",
            "rn",
            F.when(F.col("event_type") == "purchase", "CONV")
            .otherwise(F.col("event_type"))
            .alias("st"),
        )
    )
    wj = Window.partitionBy("user_id").orderBy("rn")
    pairs = j.select(
        F.coalesce(F.lag("st").over(wj), F.lit("START")).alias("i"),
        F.col("st").alias("jst"),
    )
    tails = (
        j.groupBy("user_id")
        .agg(
            F.max_by("st", "rn").alias("i"),
            F.max(F.when(F.col("st") == "CONV", 1).otherwise(0)).alias(
                "conv"
            ),
        )
        .where(F.col("conv") == 0)
        .select("i", F.lit("NULL").alias("jst"))
    )
    tcnt = (
        pairs.unionByName(tails)
        .groupBy("i", "jst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .collect()  # bounded model domain: <= |states|^2 rows
    )
    out_tot: dict[str, int] = {}
    for r in tcnt:
        out_tot[r["i"]] = out_tot.get(r["i"], 0) + r["c"]
    # j-ascending transition lists per source state (the fold order)
    plists: dict[str, list[tuple[str, float]]] = {}
    for r in sorted(tcnt, key=lambda r: (r["i"], r["jst"])):
        plists.setdefault(r["i"], []).append(
            (r["jst"], r["c"] / out_tot[r["i"]])
        )
    transient = ["START"] + _MARKOV_CHANNELS

    def run_chain(removed: str | None) -> float:
        u = {s: 0.0 for s in transient}
        u["CONV"], u["NULL"] = 1.0, 0.0
        for _ in range(_MARKOV_H):
            nxt = {}
            for i in transient:
                terms = [pr * u[jst] for jst, pr in plists.get(i, [])]
                if not terms:
                    nxt[i] = 0.0
                else:  # left fold seeded with the first element,
                    # then snapped to the 1e-12 grid (both engines):
                    # kills the 1-ulp fold drift measured at sf0.001
                    acc = terms[0]
                    for x in terms[1:]:
                        acc = acc + x
                    nxt[i] = math.floor(1e12 * acc + 0.5) / 1e12
            if removed is not None:
                nxt[removed] = 0.0
            u.update(nxt)
        return u["START"]

    base = run_chain(None)
    effects = {c: base - run_chain(c) for c in _MARKOV_CHANNELS}
    denom = effects[_MARKOV_CHANNELS[0]]
    for c in _MARKOV_CHANNELS[1:]:
        denom = denom + effects[c]
    rows = [
        (c, base, base - effects[c], effects[c], effects[c] / denom)
        for c in _MARKOV_CHANNELS
    ]
    return spark.createDataFrame(
        rows,
        "channel string, base_cvr double, removal_cvr double, "
        "removal_effect double, share double",
    ).orderBy("channel")


# ---------------------------------------------------------------------------
# Theil T index and mean log deviation (Theil 1967, public) of revenue
# concentration across nations — the entropy-based companions to the
# existing gini/hhi pair (decomposable across groups, which Gini is
# not). Per-nation revenue is exact integer cents; the only floats
# are the ratio w_i = x_i/μ (identical divisions of exact ints) and
# ln(w_i), micro-rounded to 1e-6 BEFORE use (the established
# quality_signal_agreement discipline for libm-vs-JVM ln drift); each
# summand then nano-rounds to BIGINT so the cross-nation sum is
# order-free. T = (1/n)Σ w_i·ln(w_i), MLD = −(1/n)Σ ln(w_i).
_THEIL_SQL = """
    WITH rev AS (
        SELECT n.n_name,
               SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                        AS DECIMAL(38,0))) AS cents
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS DOUBLE) AS s
        FROM rev
    ),
    terms AS (
        SELECT t.n,
               CAST(rev.cents AS DOUBLE) * t.n / t.s AS w,
               CAST(round(1e6 * ln(CAST(rev.cents AS DOUBLE) * t.n / t.s))
                    AS BIGINT) AS l_micro
        FROM rev CROSS JOIN tot t
    )
    SELECT MAX(n) AS n_nations,
           CAST(SUM(CAST(round(1e9 * w * (CAST(l_micro AS DOUBLE) / 1e6))
                         AS BIGINT)) AS DOUBLE) / 1e9 / MAX(n) AS theil_t,
           -CAST(SUM(l_micro) AS DOUBLE) / 1e6 / MAX(n) AS mld
    FROM terms
"""


@query("theil_index_revenue_nations", oracle=_THEIL_SQL)
def theil_index_revenue_nations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("decimal(38,0)")
            ).alias("cents")
        )
    )
    tot = rev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("double").alias("s"),
    )
    w = F.col("cents").cast("double") * F.col("n") / F.col("s")
    terms = rev.crossJoin(F.broadcast(tot)).select(
        "n",
        w.alias("w"),
        F.round(F.lit(1e6) * F.log(w)).cast("bigint").alias("l_micro"),
    )
    return terms.agg(
        F.max("n").alias("n_nations"),
        (
            F.sum(
                F.round(
                    F.lit(1e9)
                    * F.col("w")
                    * (F.col("l_micro").cast("double") / 1e6)
                ).cast("bigint")
            ).cast("double")
            / 1e9
            / F.max("n")
        ).alias("theil_t"),
        (
            -F.sum("l_micro").cast("double") / 1e6 / F.max("n")
        ).alias("mld"),
    )


# ---------------------------------------------------------------------------
# Cramér–von Mises two-sample test (r9; Anderson 1962, public) on the
# click vs purchase value distributions — the EDF-distance companion
# of mannwhitney (location) and ansari_bradley (scale): T sums the
# SQUARED rank displacements U = n·Σ(rᵢ−i)² + m·Σ(sⱼ−j)², sensitive
# to any distributional difference. Ranks are MIDRANKS carried at 2×
# (integers), computed on the DISTINCT-VALUE domain exactly like
# mannwhitney — never a per-row global window; the per-tie-run sum of
# squared displacements collapses to a closed form (Σₖ(A−2k)² with A
# = 2·midrank − 2·own-offset), so everything through n·S₁+m·S₂ is
# exact BIGINT (fits int64 at any plausible event count; int64→double
# is a correctly-rounded hardware cast on BOTH engines, unlike wide
# decimals — §6.10.20's follow-on). Final T combines in one mirrored
# fixed-order double expression.
@query(
    "cramer_von_mises_click_purchase",
    oracle="""
    WITH s AS (
        SELECT value AS v,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    dv AS (
        SELECT v,
               CAST(SUM(g) AS BIGINT) AS c1,
               CAST(COUNT(*) - SUM(g) AS BIGINT) AS c2,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM s GROUP BY v
    ),
    r AS (
        SELECT c1, c2, cnt,
               CAST(COALESCE(SUM(cnt) OVER (
                   ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS BIGINT) AS cumbefore,
               CAST(COALESCE(SUM(c1) OVER (
                   ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS BIGINT) AS cum1,
               CAST(COALESCE(SUM(c2) OVER (
                   ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS BIGINT) AS cum2
        FROM dv
    ),
    terms AS (
        SELECT c1, c2,
               2 * cumbefore + cnt + 1 AS r2,
               c1 * (2*cumbefore + cnt + 1 - 2*cum1)
                   * (2*cumbefore + cnt + 1 - 2*cum1)
                 - 2 * (2*cumbefore + cnt + 1 - 2*cum1)
                     * c1 * (c1 + 1)
                 + 2 * (c1 * (c1 + 1) * (2*c1 + 1) // 3) AS s1_4x,
               c2 * (2*cumbefore + cnt + 1 - 2*cum2)
                   * (2*cumbefore + cnt + 1 - 2*cum2)
                 - 2 * (2*cumbefore + cnt + 1 - 2*cum2)
                     * c2 * (c2 + 1)
                 + 2 * (c2 * (c2 + 1) * (2*c2 + 1) // 3) AS s2_4x
        FROM r
    ),
    agg AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n1,
               CAST(SUM(c2) AS BIGINT) AS n2,
               CAST(SUM(s1_4x) AS BIGINT) AS s1_4x,
               CAST(SUM(s2_4x) AS BIGINT) AS s2_4x
        FROM terms
    )
    SELECT n1, n2,
           CAST(n1 * s1_4x + n2 * s2_4x AS BIGINT) AS u_4x,
           CAST(n1 * s1_4x + n2 * s2_4x AS DOUBLE) / 4.0
               / CAST(n1 AS DOUBLE) / CAST(n2 AS DOUBLE)
               / CAST(n1 + n2 AS DOUBLE)
             - (4.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) - 1.0)
               / (6.0 * CAST(n1 + n2 AS DOUBLE)) AS t_stat
    FROM agg
    """,
)
def cramer_von_mises_click_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            F.col("value").alias("v"),
            F.when(F.col("event_type") == "click", 1)
            .otherwise(0)
            .alias("g"),
        )
    )
    dv = ev.groupBy("v").agg(
        F.sum("g").cast("bigint").alias("c1"),
        (F.count(F.lit(1)) - F.sum("g")).cast("bigint").alias("c2"),
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    r = dv.select(
        "c1",
        "c2",
        "cnt",
        F.coalesce(F.sum("cnt").over(w), F.lit(0))
        .cast("bigint")
        .alias("cumbefore"),
        F.coalesce(F.sum("c1").over(w), F.lit(0))
        .cast("bigint")
        .alias("cum1"),
        F.coalesce(F.sum("c2").over(w), F.lit(0))
        .cast("bigint")
        .alias("cum2"),
    )

    def s4x(c, cum):
        a = 2 * F.col("cumbefore") + F.col("cnt") + 1 - 2 * F.col(cum)
        # integer division keeps the term BIGINT (c(c+1)(2c+1) is
        # always divisible by 3) — a double /3 would turn the whole
        # sum into order-hazardous doubles past 2^53 at large N
        return (
            F.col(c) * a * a
            - 2 * a * F.col(c) * (F.col(c) + 1)
            + 2 * F.expr(f"({c} * ({c} + 1) * (2 * {c} + 1)) DIV 3")
        )

    terms = r.select(
        "c1", "c2", s4x("c1", "cum1").alias("s1_4x"),
        s4x("c2", "cum2").alias("s2_4x"),
    )
    agg = terms.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
        F.sum("s1_4x").cast("bigint").alias("s1_4x"),
        F.sum("s2_4x").cast("bigint").alias("s2_4x"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    nd = (F.col("n1") + F.col("n2")).cast("double")
    u4 = (
        F.col("n1") * F.col("s1_4x") + F.col("n2") * F.col("s2_4x")
    ).cast("bigint")
    return agg.select(
        "n1",
        "n2",
        u4.alias("u_4x"),
        (
            u4.cast("double") / F.lit(4.0) / n1d / n2d / nd
            - (F.lit(4.0) * n1d * n2d - F.lit(1.0)) / (F.lit(6.0) * nd)
        ).alias("t_stat"),
    )


# ---------------------------------------------------------------------------
# Ansari–Bradley scale test (r9; Ansari & Bradley 1960, public):
# do click and purchase values differ in DISPERSION around a common
# median? Scores fold the midranks toward the middle — a = min(r,
# N+1−r) — so extreme observations score low; the statistic is the
# click group's score sum, standardized with the EXACT
# without-replacement moments computed from the realized score
# multiset (ties need no special-casing: the scores themselves carry
# them). Midranks at 2× stay integral per tie run (constant within a
# run, so the run contributes c·a₂ and c·a₂² directly); every sum
# through the variance numerator is exact BIGINT; one mirrored
# fixed-order double expression for z.
@query(
    "ansari_bradley_click_purchase",
    oracle="""
    WITH s AS (
        SELECT value AS v,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    dv AS (
        SELECT v,
               CAST(SUM(g) AS BIGINT) AS c1,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM s GROUP BY v
    ),
    r AS (
        SELECT c1, cnt,
               2 * CAST(COALESCE(SUM(cnt) OVER (
                   ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS BIGINT) + cnt + 1 AS r2,
               CAST(SUM(cnt) OVER () AS BIGINT) AS n
        FROM dv
    ),
    sc AS (
        SELECT c1, cnt, n,
               CASE WHEN r2 < 2 * (n + 1) - r2
                    THEN r2 ELSE 2 * (n + 1) - r2 END AS a2
        FROM r
    ),
    agg AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n1,
               CAST(MAX(n) - SUM(c1) AS BIGINT) AS n2,
               CAST(MAX(n) AS BIGINT) AS n,
               CAST(SUM(c1 * a2) AS BIGINT) AS ab_2x,
               CAST(SUM(cnt * a2) AS BIGINT) AS sa_2x,
               CAST(SUM(cnt * a2 * a2) AS BIGINT) AS saa_4x
        FROM sc
    )
    SELECT n1, n2, ab_2x,
           (CAST(ab_2x AS DOUBLE)
            - CAST(n1 AS DOUBLE) * CAST(sa_2x AS DOUBLE)
              / CAST(n AS DOUBLE))
           / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                  * (CAST(n AS DOUBLE) * CAST(saa_4x AS DOUBLE)
                     - CAST(sa_2x AS DOUBLE) * CAST(sa_2x AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                     * (CAST(n AS DOUBLE) - 1.0))) AS z
    FROM agg
    """,
)
def ansari_bradley_click_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            F.col("value").alias("v"),
            F.when(F.col("event_type") == "click", 1)
            .otherwise(0)
            .alias("g"),
        )
    )
    dv = ev.groupBy("v").agg(
        F.sum("g").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
    )
    wb = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    r = dv.select(
        "c1",
        "cnt",
        (
            2 * F.coalesce(F.sum("cnt").over(wb), F.lit(0))
            + F.col("cnt")
            + 1
        )
        .cast("bigint")
        .alias("r2"),
        F.sum("cnt").over(wall).cast("bigint").alias("n"),
    )
    a2 = F.when(
        F.col("r2") < 2 * (F.col("n") + 1) - F.col("r2"), F.col("r2")
    ).otherwise(2 * (F.col("n") + 1) - F.col("r2"))
    sc = r.select("c1", "cnt", "n", a2.alias("a2"))
    agg = sc.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        (F.max("n") - F.sum("c1")).cast("bigint").alias("n2"),
        F.max("n").cast("bigint").alias("n"),
        F.sum(F.col("c1") * F.col("a2")).cast("bigint").alias("ab_2x"),
        F.sum(F.col("cnt") * F.col("a2")).cast("bigint").alias("sa_2x"),
        F.sum(F.col("cnt") * F.col("a2") * F.col("a2"))
        .cast("bigint")
        .alias("saa_4x"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    nd = F.col("n").cast("double")
    return agg.select(
        "n1",
        "n2",
        "ab_2x",
        (
            (
                F.col("ab_2x").cast("double")
                - n1d * F.col("sa_2x").cast("double") / nd
            )
            / F.sqrt(
                n1d
                * n2d
                * (
                    nd * F.col("saa_4x").cast("double")
                    - F.col("sa_2x").cast("double")
                    * F.col("sa_2x").cast("double")
                )
                / (nd * nd * (nd - F.lit(1.0)))
            )
        ).alias("z"),
    )
