"""Exact statistical-modeling operators: OLS trend, autocorrelation,
higher-moment profiles, RFM segmentation, ABC/Pareto analysis,
node-similarity (Jaccard) between event types, Count-Min sketch,
exact PERCENTILE_CONT, per-group mode, NULL-comparison semantics,
and the calendar-function surface (SURVEY §7 extension scope — the
reference has no stats surface).

Determinism: every operator reduces to EXACT sums first — BIGINT for
integer series, DECIMAL for double series (repo convention:
order-independent, bit-identical across engines) — and only then
combines them with a mirrored double-arithmetic expression (IEEE ops
and ``sqrt`` are correctly rounded, so both engines produce identical
bits; ``pow`` is deliberately avoided — libm ``pow`` is NOT correctly
rounded, so x^1.5 is spelled ``x*sqrt(x)``).

100 TB shapes:
- OLS / moments: one partial-aggregable groupBy per query — sums of
  products are map-side combined; bytes ∝ #groups after combine.
- ACF: the window runs on the AGGREGATED hourly domain (#hours rows —
  a decade is <100k), never the raw events; the raw pass is one
  partial-combined groupBy on the hour key.
- RFM / ABC: global rank / running share use the two-phase
  block-offset idiom (operators/linkage.py), not a single-reducer
  global window; scalar totals broadcast.
- Jaccard: distinct on (user, type) then a type-pair co-occurrence
  join keyed on user — the same shape as token co-occurrence PMI;
  pair domain is #types², never #users².
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import read_parquet_table
from . import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet_table(spark, sf_dir, name)


# hour index since epoch; floor(floor(epoch)/3600) == floor(epoch/3600)
# for positive epochs, so the Spark (unix_timestamp is already
# truncated seconds) and DuckDB (epoch() is fractional) forms agree.
def _hour_idx() -> F.Column:
    return F.floor(F.unix_timestamp("ts") / F.lit(3600)).cast("bigint")


_SQL_HOUR = "CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 3600) AS BIGINT)"


# ---------------------------------------------------------------------------
# Per-type OLS trend of event value against time (hour index).
# slope/intercept/r² from the closed-form normal equations over exact
# sums: Σx, Σx² in BIGINT (x is an hour index — ~5e5 today, so Σx²
# fits BIGINT comfortably past sf1); Σy, Σy², Σxy in DECIMAL. The
# built-in regr_slope/regr_r2 aggregate in floats (order-dependent)
# — this formulation is the exact-sum twin, and is what a 1000-node
# run needs anyway: five map-side-combined sums, one tiny reduce.
@query(
    "ols_trend_events",
    oracle=f"""
    WITH s AS (
        SELECT event_type,
               COUNT(*) AS n,
               SUM(x) AS sx,
               SUM(x * x) AS sxx,
               SUM(ydec) AS sy,
               SUM(CAST(y * y AS DECIMAL(24,6))) AS syy,
               SUM(CAST(x AS DECIMAL(12,0)) * ydec) AS sxy
        FROM (
            SELECT event_type,
                   {_SQL_HOUR} AS x,
                   value AS y,
                   CAST(value AS DECIMAL(18,6)) AS ydec
            FROM events
        )
        GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope,
           (CAST(sy AS DOUBLE)
              - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept,
           ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
             / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r2
    FROM s
    ORDER BY event_type
    """,
)
def ols_trend_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    ydec = F.col("value").cast("decimal(18,6)")
    base = ev.select(
        "event_type",
        _hour_idx().alias("x"),
        F.col("value").alias("y"),
        ydec.alias("ydec"),
    )
    s = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("ydec").alias("sy"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(24,6)")).alias("syy"),
        F.sum(F.col("x").cast("decimal(12,0)") * F.col("ydec")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    sxxd = F.col("sxx").cast("double")
    syd = F.col("sy").cast("double")
    syyd = F.col("syy").cast("double")
    sxyd = F.col("sxy").cast("double")
    num = nd * sxyd - sxd * syd
    denx = nd * sxxd - sxd * sxd
    deny = nd * syyd - syd * syd
    slope = num / denx
    return s.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        slope.alias("slope"),
        ((syd - slope * sxd) / nd).alias("intercept"),
        ((num * num) / (denx * deny)).alias("r2"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Autocorrelation of the hourly event-count series at lags 1..3:
# Pearson r between (c_t, c_{t-ℓ}) over consecutive rows of the
# hour-ordered aggregate. All sums are BIGINT over integer counts —
# exact — and the final r is one mirrored double expression. The lag
# window is single-partition BY DESIGN but runs on the aggregated
# hourly domain (bounded: a decade of hours < 100k rows), never the
# raw events; the events-sized pass is the partial-combined groupBy.
@query(
    "acf_hourly_events",
    oracle=f"""
    WITH hourly AS (
        SELECT {_SQL_HOUR} AS h, COUNT(*) AS c
        FROM events GROUP BY 1
    ),
    lagged AS (
        SELECT c,
               lag(c, 1) OVER (ORDER BY h) AS l1,
               lag(c, 2) OVER (ORDER BY h) AS l2,
               lag(c, 3) OVER (ORDER BY h) AS l3
        FROM hourly
    ),
    per_lag AS (
        SELECT 1 AS lag, COUNT(l1) AS np,
               SUM(CASE WHEN l1 IS NOT NULL THEN c END) AS sx,
               SUM(l1) AS sy,
               SUM(CASE WHEN l1 IS NOT NULL THEN c * c END) AS sxx,
               SUM(l1 * l1) AS syy,
               SUM(c * l1) AS sxy
        FROM lagged
        UNION ALL
        SELECT 2, COUNT(l2),
               SUM(CASE WHEN l2 IS NOT NULL THEN c END), SUM(l2),
               SUM(CASE WHEN l2 IS NOT NULL THEN c * c END),
               SUM(l2 * l2), SUM(c * l2)
        FROM lagged
        UNION ALL
        SELECT 3, COUNT(l3),
               SUM(CASE WHEN l3 IS NOT NULL THEN c END), SUM(l3),
               SUM(CASE WHEN l3 IS NOT NULL THEN c * c END),
               SUM(l3 * l3), SUM(c * l3)
        FROM lagged
    )
    SELECT CAST(lag AS INT) AS lag,
           CAST(np AS BIGINT) AS n_pairs,
           (CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(np AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS acf
    FROM per_lag
    ORDER BY lag
    """,
)
def acf_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(_hour_idx().alias("h")).agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.orderBy("h")
    lagged = hourly.select(
        "c",
        F.lag("c", 1).over(w).alias("l1"),
        F.lag("c", 2).over(w).alias("l2"),
        F.lag("c", 3).over(w).alias("l3"),
    )
    parts = []
    for lag in (1, 2, 3):
        lcol = F.col(f"l{lag}")
        present = lcol.isNotNull()
        parts.append(
            lagged.agg(
                F.lit(lag).alias("lag"),
                F.count(lcol).alias("np"),
                F.sum(F.when(present, F.col("c"))).alias("sx"),
                F.sum(lcol).alias("sy"),
                F.sum(F.when(present, F.col("c") * F.col("c"))).alias("sxx"),
                F.sum(lcol * lcol).alias("syy"),
                F.sum(F.col("c") * lcol).alias("sxy"),
            )
        )
    per_lag = parts[0].unionByName(parts[1]).unionByName(parts[2])
    npd = F.col("np").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    sxxd = F.col("sxx").cast("double")
    syyd = F.col("syy").cast("double")
    sxyd = F.col("sxy").cast("double")
    acf = (npd * sxyd - sxd * syd) / F.sqrt(
        (npd * sxxd - sxd * sxd) * (npd * syyd - syd * syd)
    )
    return per_lag.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("np").cast("bigint").alias("n_pairs"),
        acf.alias("acf"),
    ).orderBy("lag")


# ---------------------------------------------------------------------------
# Higher-moment profile per event type: mean, population variance,
# skewness, excess kurtosis. The fixture's values are exact
# 2-decimal quantities, so the operator works in the INTEGER domain
# w = round(100·value): integer-valued-double powers are
# IEEE-deterministic and their DECIMAL(38,0) casts are EXACT (no
# fractional rounding — a scale-6 cast of v⁴ hits decimal ties that
# the two engines round differently), and the integer sums convert
# back to double with a single correctly-rounded conversion.
# Skewness/kurtosis are scale-invariant, so they come from w
# directly; mean and variance divide by the exact powers 1e2/1e4 at
# the end. x^1.5 is spelled x*sqrt(x): libm pow is not correctly
# rounded, sqrt is.
@query(
    "moments_profile_events",
    oracle="""
    WITH s AS (
        SELECT event_type,
               COUNT(*) AS n,
               SUM(CAST(round(value * 100) AS DECIMAL(38,0))) AS s1,
               SUM(CAST(round(value * 100) * round(value * 100)
                        AS DECIMAL(38,0))) AS s2,
               SUM(CAST(round(value * 100) * round(value * 100)
                        * round(value * 100) AS DECIMAL(38,0))) AS s3,
               SUM(CAST(round(value * 100) * round(value * 100)
                        AS DECIMAL(19,0))
                   * CAST(round(value * 100) * round(value * 100)
                          AS DECIMAL(19,0))) AS s4
        FROM events GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0 AS mean,
           (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
             - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))) / 10000.0
             AS var_pop,
           (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)
              - 3.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
              + 2.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
             / ((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                * sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))) AS skewness,
           (CAST(CAST(s4 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
              - 4.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))
              + 6.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
              - 3.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
             / ((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))))
             - 3.0 AS kurtosis_excess
    FROM s
    ORDER BY event_type
    """,
)
def moments_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = F.round(F.col("value") * 100)
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(w.cast("decimal(38,0)")).alias("s1"),
        F.sum((w * w).cast("decimal(38,0)")).alias("s2"),
        F.sum((w * w * w).cast("decimal(38,0)")).alias("s3"),
        # w⁴ exceeds 2^53 in double, where the engines' double→decimal
        # casts can disagree — build it as an exact decimal product of
        # the exact (≤2^53, so cast-exact) w² instead
        F.sum(
            (w * w).cast("decimal(19,0)") * (w * w).cast("decimal(19,0)")
        ).alias("s4"),
    )
    nd = F.col("n").cast("double")
    m1 = F.col("s1").cast("double") / nd
    r2 = F.col("s2").cast("double") / nd
    r3 = F.col("s3").cast("double") / nd
    r4 = F.col("s4").cast("double") / nd
    var_w = r2 - m1 * m1
    m3 = r3 - F.lit(3.0) * m1 * r2 + F.lit(2.0) * m1 * m1 * m1
    m4 = (
        r4
        - F.lit(4.0) * m1 * r3
        + F.lit(6.0) * m1 * m1 * r2
        - F.lit(3.0) * m1 * m1 * m1 * m1
    )
    return s.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        (m1 / F.lit(100.0)).alias("mean"),
        (var_w / F.lit(10000.0)).alias("var_pop"),
        (m3 / (var_w * F.sqrt(var_w))).alias("skewness"),
        (m4 / (var_w * var_w) - F.lit(3.0)).alias("kurtosis_excess"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# RFM customer segmentation: recency (days since last order, vs the
# corpus max date), frequency (#orders), monetary (exact decimal sum
# of totalprice), each scored 1..4 by exact global rank —
# score = 4 - floor((rank-1)*4/n), rank ascending in
# goodness order (recent first / frequent first / big spender first,
# custkey tie-break). Ranks come from the two-phase block-offset
# idiom (operators/linkage.global_rank) — no single-reducer window;
# the oracle runs the textbook row_number form. n broadcasts as a
# one-row scalar.
@query(
    "rfm_segments_customers",
    oracle="""
    WITH m AS (
        SELECT o_custkey AS c_custkey,
               date_diff('day',
                         CAST(MAX(o_orderdate) AS DATE),
                         (SELECT CAST(MAX(o_orderdate) AS DATE) FROM orders))
                 AS recency_days,
               COUNT(*) AS frequency,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
                 AS monetary
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (ORDER BY recency_days, c_custkey) AS rr,
               row_number() OVER (ORDER BY frequency DESC, c_custkey) AS rf,
               row_number() OVER (ORDER BY monetary DESC, c_custkey) AS rm,
               COUNT(*) OVER () AS n
        FROM m
    )
    SELECT c_custkey,
           CAST(recency_days AS BIGINT) AS recency_days,
           CAST(frequency AS BIGINT) AS frequency,
           monetary,
           CAST(4 - FLOOR((rr - 1) * 4 / n) AS INT) AS r_score,
           CAST(4 - FLOOR((rf - 1) * 4 / n) AS INT) AS f_score,
           CAST(4 - FLOOR((rm - 1) * 4 / n) AS INT) AS m_score,
           CAST(CAST(4 - FLOOR((rr - 1) * 4 / n) AS INT) AS VARCHAR)
             || CAST(CAST(4 - FLOOR((rf - 1) * 4 / n) AS INT) AS VARCHAR)
             || CAST(CAST(4 - FLOOR((rm - 1) * 4 / n) AS INT) AS VARCHAR)
             AS segment
    FROM ranked
    ORDER BY c_custkey
    """,
)
def rfm_segments_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.linkage import global_rank

    orders = _t(spark, sf_dir, "orders")
    maxd = orders.agg(
        F.to_date(F.max("o_orderdate")).alias("__maxd")
    )
    m = (
        orders.groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.to_date(F.max("o_orderdate")).alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
            .cast("double")
            .alias("monetary"),
        )
        .crossJoin(F.broadcast(maxd))
        .select(
            "c_custkey",
            F.datediff(F.col("__maxd"), F.col("last_order")).alias(
                "recency_days"
            ),
            "frequency",
            "monetary",
            (-F.col("frequency")).alias("neg_f"),
            (-F.col("monetary")).alias("neg_m"),
        )
    )
    # three exact block-offset ranks; each block expression is a
    # prefix-coarsening of its sort order with bounded cardinality
    # (distinct day counts / negated counts / 1k-wide spend buckets)
    m = global_rank(
        m, ["recency_days", "c_custkey"], F.col("recency_days"), "rr"
    )
    m = global_rank(m, ["neg_f", "c_custkey"], F.col("neg_f"), "rf")
    m = global_rank(
        m, ["neg_m", "c_custkey"], F.floor(F.col("neg_m") / F.lit(1000.0)), "rm"
    )
    n_row = m.groupBy().agg(F.count(F.lit(1)).alias("__n"))
    m = m.crossJoin(F.broadcast(n_row))

    def score(rank_col: str) -> F.Column:
        return (
            F.lit(4)
            - F.floor((F.col(rank_col) - 1) * 4 / F.col("__n"))
        ).cast("int")

    return m.select(
        "c_custkey",
        F.col("recency_days").cast("bigint").alias("recency_days"),
        F.col("frequency").cast("bigint").alias("frequency"),
        "monetary",
        score("rr").alias("r_score"),
        score("rf").alias("f_score"),
        score("rm").alias("m_score"),
        F.concat(
            score("rr").cast("string"),
            score("rf").cast("string"),
            score("rm").cast("string"),
        ).alias("segment"),
    ).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# ABC / Pareto analysis of part revenue: rank parts by revenue
# descending, exact decimal running share of total, class A ≤ 70%,
# B ≤ 90%, C above. The running sum uses the block-offset prefix-sum
# twin of global_rank (operators/linkage.global_cumsum) — decimal
# addition is order-independent, so it is bit-identical to the
# textbook single-window form the oracle runs. Sort key is the DOUBLE
# cast of the decimal revenue on BOTH sides (so any decimal→double
# tie collapses identically), custkey-style tie-break on p_partkey.
@query(
    "abc_analysis_parts",
    oracle="""
    WITH rev AS (
        SELECT l_partkey AS p_partkey,
               SUM(CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(30,6))) AS rev_dec
        FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
        SELECT p_partkey,
               CAST(rev_dec AS DOUBLE) AS revenue,
               CAST(row_number() OVER
                 (ORDER BY CAST(rev_dec AS DOUBLE) DESC, p_partkey)
                 AS BIGINT) AS rev_rank,
               CAST(SUM(rev_dec) OVER
                      (ORDER BY CAST(rev_dec AS DOUBLE) DESC, p_partkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DECIMAL(38,6)) AS cum,
               (SELECT CAST(SUM(rev_dec) AS DECIMAL(38,6)) FROM rev) AS total
        FROM rev
    )
    SELECT p_partkey, revenue, rev_rank,
           CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share,
           CASE WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.70
                THEN 'A'
                WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.90
                THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked
    ORDER BY rev_rank
    """,
)
def abc_analysis_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.linkage import global_cumsum, global_rank

    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("p_partkey")).agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(30,6)"
            )
        ).alias("rev_dec")
    )
    rev = rev.withColumn("revenue", F.col("rev_dec").cast("double")).withColumn(
        "neg_rev", -F.col("revenue")
    )
    # block: 10k-wide buckets of descending revenue — a bounded
    # prefix-coarsening of (revenue DESC, p_partkey)
    blk = F.floor(F.col("neg_rev") / F.lit(10000.0))
    ranked = global_rank(rev, ["neg_rev", "p_partkey"], blk, "rev_rank")
    ranked = global_cumsum(
        ranked, ["neg_rev", "p_partkey"], blk, "rev_dec", "cum"
    )
    total = rev.agg(
        F.sum("rev_dec").cast("decimal(38,6)").alias("__total")
    )
    share = F.col("cum").cast("double") / F.col("__total").cast("double")
    return (
        ranked.crossJoin(F.broadcast(total))
        .select(
            "p_partkey",
            "revenue",
            F.col("rev_rank").cast("bigint").alias("rev_rank"),
            share.alias("cum_share"),
            F.when(share <= 0.70, F.lit("A"))
            .when(share <= 0.90, F.lit("B"))
            .otherwise(F.lit("C"))
            .alias("abc_class"),
        )
        .orderBy("rev_rank")
    )


# ---------------------------------------------------------------------------
# Node similarity between event types: Jaccard of their distinct-user
# sets, |A∩B| / (|A|+|B|-|A∩B|). One distinct on (user, type), one
# per-type size agg, one user-keyed co-occurrence self-join (pair
# domain = #types², never #users²) — the same shape as token
# co-occurrence PMI, with exact integer counts throughout.
@query(
    "node_jaccard_event_types",
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    sizes AS (SELECT event_type, COUNT(*) AS sz FROM ut GROUP BY event_type),
    inter AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               COUNT(*) AS n_common
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type
    )
    SELECT i.type_a, i.type_b,
           CAST(sa.sz AS BIGINT) AS n_a,
           CAST(sb.sz AS BIGINT) AS n_b,
           CAST(i.n_common AS BIGINT) AS n_common,
           CAST(i.n_common AS DOUBLE)
             / CAST(sa.sz + sb.sz - i.n_common AS DOUBLE) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.event_type = i.type_a
    JOIN sizes sb ON sb.event_type = i.type_b
    ORDER BY type_a, type_b
    """,
)
def node_jaccard_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    sizes = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("sz"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(
        F.col("event_type").alias("type_a"), F.col("sz").alias("n_a")
    )
    sb = sizes.select(
        F.col("event_type").alias("type_b"), F.col("sz").alias("n_b")
    )
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.col("n_common").cast("bigint").alias("n_common"),
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# Count-Min sketch heavy hitters with an exact differential eval:
# d=4 hash rows h_i(u) = ((a_i·u + b_i) mod P) mod W with LCG
# constants both engines evaluate identically in BIGINT (no
# engine-native hash — Spark's murmur3 and DuckDB's hash() differ,
# the sketch contract is the hash FAMILY, not a specific function).
# Build: one partial-combined groupBy on (row, bucket) — map-side
# combine collapses each partition to ≤ d·W cells, which IS the CMS
# merge property at 1000 executors. Probe: the d·W table joins back
# to the distinct-user domain; estimate = min over rows. Output: the
# top-20 exact heavy hitters with their CMS estimate and the
# (always ≥ 0) overestimate — the sketch-error read-out.
_CMS_P = 2_147_483_647
_CMS_W = 512
_CMS_ROWS = [(1, 101, 17), (2, 2003, 89), (3, 40009, 251), (4, 700001, 733)]


@query(
    "cms_heavy_hitters_users",
    oracle=f"""
    WITH hs(i, a, b) AS (
        VALUES {", ".join(f"({i}, {a}, {b})" for i, a, b in _CMS_ROWS)}
    ),
    counts AS (
        SELECT user_id, COUNT(*) AS c FROM events GROUP BY user_id
    ),
    cells AS (
        SELECT h.i,
               ((h.a * e.user_id + h.b) % {_CMS_P}) % {_CMS_W} AS bkt,
               COUNT(*) AS bc
        FROM events e CROSS JOIN hs h
        GROUP BY h.i, bkt
    ),
    est AS (
        SELECT c.user_id, MIN(cl.bc) AS cms_est
        FROM counts c
        CROSS JOIN hs h
        JOIN cells cl
          ON cl.i = h.i
         AND cl.bkt = ((h.a * c.user_id + h.b) % {_CMS_P}) % {_CMS_W}
        GROUP BY c.user_id
    )
    SELECT c.user_id,
           CAST(c.c AS BIGINT) AS exact_count,
           CAST(e.cms_est AS BIGINT) AS cms_est,
           CAST(e.cms_est - c.c AS BIGINT) AS overestimate
    FROM counts c JOIN est e ON c.user_id = e.user_id
    ORDER BY exact_count DESC, c.user_id
    LIMIT 20
    """,
)
def cms_heavy_hitters_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return cms_report(
        ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c")),
        cms_cells(ev),
    )


def _cms_bkt(uid: F.Column) -> F.Column:
    return ((F.col("a") * uid + F.col("b")) % _CMS_P) % _CMS_W


def cms_cells(ev: DataFrame) -> DataFrame:
    """d×W CMS cell counts for a batch of events — additive, so cells
    from disjoint batches MERGE by summing (the property the
    streaming twin exercises)."""
    hs = ev.sparkSession.createDataFrame(_CMS_ROWS, ["i", "a", "b"])
    return (
        ev.crossJoin(F.broadcast(hs))
        .groupBy("i", _cms_bkt(F.col("user_id")).alias("bkt"))
        .agg(F.count(F.lit(1)).alias("bc"))
    )


def cms_report(counts: DataFrame, cells: DataFrame) -> DataFrame:
    """Top-20 exact heavy hitters with their CMS estimate from the
    given cell table (min over the d probed cells per user)."""
    hs = counts.sparkSession.createDataFrame(_CMS_ROWS, ["i", "a", "b"])
    est = (
        counts.crossJoin(F.broadcast(hs))
        .withColumn("bkt", _cms_bkt(F.col("user_id")))
        .join(F.broadcast(cells), ["i", "bkt"])
        .groupBy("user_id")
        .agg(F.min("bc").alias("cms_est"))
    )
    return (
        counts.join(est, "user_id")
        .select(
            "user_id",
            F.col("c").cast("bigint").alias("exact_count"),
            F.col("cms_est").cast("bigint").alias("cms_est"),
            (F.col("cms_est") - F.col("c")).cast("bigint").alias("overestimate"),
        )
        .orderBy(F.desc("exact_count"), "user_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Exact interpolated percentiles (PERCENTILE_CONT semantics) per
# order priority — the continuous twin of percentiles_order_price
# (percentile_disc). Neither engine's built-in is trusted for the
# interpolation's last bits; both sides select the two bracketing
# ranked values and evaluate the IDENTICAL v0 + frac·(v1−v0)
# expression (q ∈ {0.25, 0.5, 0.75} are binary-exact, so frac is
# deterministic). Rank selection is a per-group window — partitioned
# by the group key, never global.
@query(
    "percentile_cont_order_price",
    oracle="""
    WITH ranked AS (
        SELECT o_orderpriority AS prio, o_totalprice AS v,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice, o_orderkey) - 1 AS r,
               COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM orders
    ),
    qs AS (
        SELECT prio, q, n,
               CAST(FLOOR((n - 1) * q) AS BIGINT) AS r0,
               (n - 1) * q - FLOOR((n - 1) * q) AS frac
        FROM (SELECT DISTINCT prio, n FROM ranked),
             (VALUES (0.25), (0.5), (0.75)) AS t(q)
    )
    SELECT qs.prio AS prio, qs.q AS q,
           v0.v + qs.frac * (v1.v - v0.v) AS pct_cont
    FROM qs
    JOIN ranked v0 ON v0.prio = qs.prio AND v0.r = qs.r0
    JOIN ranked v1 ON v1.prio = qs.prio
                  AND v1.r = LEAST(qs.r0 + 1, qs.n - 1)
    ORDER BY qs.prio, qs.q
    """,
)
def percentile_cont_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    ranked = orders.select(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_totalprice").alias("v"),
        (F.row_number().over(w) - 1).alias("r"),
        F.count(F.lit(1))
        .over(Window.partitionBy("o_orderpriority"))
        .alias("n"),
    )
    qdf = orders.sparkSession.createDataFrame(
        [(0.25,), (0.5,), (0.75,)], ["q"]
    )
    groups = ranked.select("prio", "n").distinct().crossJoin(F.broadcast(qdf))
    nq = (F.col("n") - 1) * F.col("q")
    qs = groups.select(
        "prio",
        "q",
        "n",
        F.floor(nq).cast("bigint").alias("r0"),
        (nq - F.floor(nq)).alias("frac"),
    )
    v0 = ranked.select(
        F.col("prio").alias("p0"), F.col("r").alias("r_0"), F.col("v").alias("v0")
    )
    v1 = ranked.select(
        F.col("prio").alias("p1"), F.col("r").alias("r_1"), F.col("v").alias("v1")
    )
    return (
        qs.join(v0, (F.col("prio") == F.col("p0")) & (F.col("r0") == F.col("r_0")))
        .join(
            v1,
            (F.col("prio") == F.col("p1"))
            & (F.least(F.col("r0") + 1, F.col("n") - 1) == F.col("r_1")),
        )
        .select(
            "prio",
            "q",
            (F.col("v0") + F.col("frac") * (F.col("v1") - F.col("v0"))).alias(
                "pct_cont"
            ),
        )
        .orderBy("prio", "q")
    )


# ---------------------------------------------------------------------------
# Deterministic per-group mode: most frequent value per event type,
# ties broken by the smaller value — one count agg + one argmax
# window on the (type, value) domain.
@query(
    "mode_event_values",
    oracle="""
    WITH c AS (
        SELECT event_type, value, COUNT(*) AS cnt
        FROM events GROUP BY event_type, value
    ),
    ranked AS (
        SELECT event_type, value, cnt,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY cnt DESC, value) AS rn
        FROM c
    )
    SELECT event_type, value AS mode_value, CAST(cnt AS BIGINT) AS n_occurrences
    FROM ranked WHERE rn = 1
    ORDER BY event_type
    """,
)
def mode_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("event_type", "value").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("event_type").orderBy(F.desc("cnt"), F.asc("value"))
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("value").alias("mode_value"),
            F.col("cnt").cast("bigint").alias("n_occurrences"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# NULL-comparison semantics surface — the operator family behind the
# reference's change detection (SURVEY §2 F4: `!=` with a null-guard,
# notebooks/pipeline_core.py:167-183, and §7's decision to define
# change as NOT null-safe-equal). Two null-bearing projections of
# the same table are compared under (a) plain !=, (b) IS DISTINCT
# FROM (Spark's <=> negated), (c) the reference's null-guarded !=,
# counting TRUE rows of each — demonstrating exactly which NULL↔value
# transitions every predicate catches.
@query(
    "null_semantics_customers",
    oracle="""
    WITH a AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_mktsegment END AS v
        FROM customer
    ),
    b AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 3 = 0 THEN NULL
                    WHEN c_custkey % 7 = 0 THEN lower(c_mktsegment)
                    ELSE c_mktsegment END AS v
        FROM customer
    ),
    j AS (
        SELECT a.v AS va, b.v AS vb FROM a JOIN b USING (c_custkey)
    )
    SELECT
        CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(SUM(CASE WHEN va <> vb THEN 1 ELSE 0 END) AS BIGINT)
            AS neq_true,
        CAST(SUM(CASE WHEN va IS DISTINCT FROM vb THEN 1 ELSE 0 END) AS BIGINT)
            AS distinct_from_true,
        CAST(SUM(CASE WHEN (va <> vb) AND (va IS NOT NULL OR vb IS NOT NULL)
                 THEN 1 ELSE 0 END) AS BIGINT) AS reference_guard_true,
        CAST(SUM(CASE WHEN va IS NULL AND vb IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS both_null
    FROM j
    """,
)
def null_semantics_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    a = cust.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 5 == 0, F.lit(None))
        .otherwise(F.col("c_mktsegment"))
        .alias("va"),
    )
    b = cust.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 3 == 0, F.lit(None))
        .when(F.col("c_custkey") % 7 == 0, F.lower("c_mktsegment"))
        .otherwise(F.col("c_mktsegment"))
        .alias("vb"),
    )
    j = a.join(b, "c_custkey")
    va, vb = F.col("va"), F.col("vb")
    as_long = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")  # noqa: E731
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        as_long(va != vb).alias("neq_true"),
        as_long(~va.eqNullSafe(vb)).alias("distinct_from_true"),
        as_long((va != vb) & (va.isNotNull() | vb.isNotNull())).alias(
            "reference_guard_true"
        ),
        as_long(va.isNull() & vb.isNull()).alias("both_null"),
    )


# ---------------------------------------------------------------------------
# Calendar-function surface: quarter/week truncation, month-end
# arithmetic — the date-dimension toolkit over orders, aggregated per
# quarter. Exact: counts, integer day sums (avg = bigint sum / count
# in one double division), dates emitted as formatted strings (repo
# convention — raw DATE fetches as datetime64 from the oracle).
@query(
    "date_functions_orders",
    oracle="""
    WITH d AS (
        SELECT strftime(date_trunc('quarter', o_orderdate), '%Y-%m-%d')
                   AS quarter,
               strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS wk,
               date_diff('day', CAST(o_orderdate AS DATE),
                         last_day(CAST(o_orderdate AS DATE)))
                   AS days_to_month_end
        FROM orders
    )
    SELECT quarter,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           MIN(wk) AS first_week,
           MAX(wk) AS last_week,
           CAST(SUM(days_to_month_end) AS DOUBLE) / COUNT(*)
               AS avg_days_to_month_end
    FROM d
    GROUP BY quarter
    ORDER BY quarter
    """,
)
def date_functions_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    d = orders.select(
        F.date_format(F.date_trunc("quarter", "o_orderdate"), "yyyy-MM-dd")
        .alias("quarter"),
        F.date_format(F.date_trunc("week", "o_orderdate"), "yyyy-MM-dd")
        .alias("wk"),
        F.datediff(
            F.last_day(F.col("o_orderdate").cast("date")),
            F.col("o_orderdate").cast("date"),
        ).alias("days_to_month_end"),
    )
    return (
        d.groupBy("quarter")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.min("wk").alias("first_week"),
            F.max("wk").alias("last_week"),
            (
                F.sum("days_to_month_end").cast("double")
                / F.count(F.lit(1))
            ).alias("avg_days_to_month_end"),
        )
        .orderBy("quarter")
    )


# ---------------------------------------------------------------------------
# OHLC bars (r7): open/high/low/close + volume per (event_type, hour)
# — the standard time-series downsample. Open/close are order
# statistics, not aggregates, so determinism needs a total order:
# both engines pick the row with the smallest/largest (ts, event_id).
# One groupBy shuffle; open/close via min_by/max_by over a composite
# key (no window, no second shuffle) — at 100 TB this is a single
# partial-aggregable pass, the same shape as any hourly rollup.
@query(
    "ohlc_hourly_events",
    oracle=f"""
    WITH s AS (
        SELECT event_type, {_SQL_HOUR} AS hour_idx, value,
               CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec, event_id
        FROM events
    ),
    r AS (
        SELECT event_type, hour_idx, value,
               row_number() OVER (PARTITION BY event_type, hour_idx
                   ORDER BY sec, event_id) AS ra,
               row_number() OVER (PARTITION BY event_type, hour_idx
                   ORDER BY sec DESC, event_id DESC) AS rd
        FROM s
    )
    SELECT event_type, hour_idx,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MAX(CASE WHEN ra = 1 THEN value END) AS DOUBLE) AS open,
           CAST(MAX(value) AS DOUBLE) AS high,
           CAST(MIN(value) AS DOUBLE) AS low,
           CAST(MAX(CASE WHEN rd = 1 THEN value END) AS DOUBLE) AS close
    FROM r
    GROUP BY 1, 2
    HAVING COUNT(*) >= 3
    ORDER BY event_type, hour_idx
    """,
)
def ohlc_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    key = F.struct(
        F.unix_timestamp("ts").alias("t"), F.col("event_id").alias("i")
    )
    return (
        ev.groupBy("event_type", _hour_idx().alias("hour_idx"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min_by(F.col("value"), key).cast("double").alias("open"),
            F.max("value").cast("double").alias("high"),
            F.min("value").cast("double").alias("low"),
            F.max_by(F.col("value"), key).cast("double").alias("close"),
        )
        .filter(F.col("n") >= 3)
        .orderBy("event_type", "hour_idx")
    )


# ---------------------------------------------------------------------------
# DAU/MAU stickiness (r7): per month, the mean daily-active-user
# count divided by the monthly-active-user count — the standard
# product-engagement ratio. Two distinct-count aggregations (day
# grain, month grain) joined on month; the division is one fixed-
# order double op over exact BIGINTs. At 100 TB both aggs are
# partial-combinable distinct counts on (period, user) — the month
# join is month-cardinality metadata.
@query(
    "stickiness_events",
    oracle="""
    WITH dau AS (
        SELECT date_trunc('month', ts) AS mo, CAST(ts AS DATE) AS d,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
        FROM events GROUP BY 1, 2
    ),
    mau AS (
        SELECT date_trunc('month', ts) AS mo,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
        FROM events GROUP BY 1
    )
    SELECT strftime(d.mo, '%Y-%m') AS month,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(d.dau) AS BIGINT) AS dau_sum,
           m.mau,
           CAST(SUM(d.dau) AS DOUBLE) / COUNT(*) / m.mau AS stickiness
    FROM dau d JOIN mau m ON d.mo = m.mo
    GROUP BY d.mo, m.mau
    ORDER BY month
    """,
)
def stickiness_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        F.date_format(F.date_trunc("month", "ts"), "yyyy-MM").alias("month"),
        F.col("ts").cast("date").alias("d"),
        "user_id",
    )
    dau = ev.groupBy("month", "d").agg(
        F.countDistinct("user_id").cast("bigint").alias("dau")
    )
    mau = ev.groupBy("month").agg(
        F.countDistinct("user_id").cast("bigint").alias("mau")
    )
    return (
        dau.groupBy("month")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum("dau").cast("bigint").alias("dau_sum"),
        )
        .join(mau, "month")
        .select(
            "month",
            "n_days",
            "dau_sum",
            "mau",
            (
                F.col("dau_sum").cast("double")
                / F.col("n_days")
                / F.col("mau")
            ).alias("stickiness"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# Time-weighted average (TWAP, r7): per event_type, each value is
# weighted by the seconds until the type's NEXT event (lead over
# (ts, event_id) order); the final event has no forward interval and
# drops. Weights are exact BIGINT seconds, the weighted sum is exact
# DECIMAL, and the one division is fixed-order — so the double
# hash-matches. The window partitions by event_type (parallel across
# types); at 100 TB the same plan runs per (type, day) to bound
# partition width.
@query(
    "twap_event_values",
    oracle="""
    WITH w AS (
        SELECT event_type, value,
               lead(sec) OVER (
                   PARTITION BY event_type ORDER BY sec, event_id
               ) - sec AS dt
        FROM (
            SELECT event_type, value, event_id,
                   CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec
            FROM events
        )
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(dt) AS BIGINT) AS total_secs,
           CAST(SUM(CAST(value AS DECIMAL(24,6)) * dt) AS DOUBLE)
               / CAST(SUM(dt) AS DOUBLE) AS twap,
           CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE)
               / COUNT(*) AS plain_avg
    FROM w WHERE dt IS NOT NULL AND dt > 0
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def twap_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        "value",
        "event_id",
        F.unix_timestamp("ts").alias("sec"),
    )
    w = Window.partitionBy("event_type").orderBy("sec", "event_id")
    d = ev.withColumn(
        "dt", (F.lead("sec").over(w) - F.col("sec")).cast("bigint")
    ).filter(F.col("dt").isNotNull() & (F.col("dt") > 0))
    vdec = F.col("value").cast("decimal(24,6)")
    return (
        d.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
            F.sum("dt").cast("bigint").alias("total_secs"),
            (
                F.sum(vdec * F.col("dt")).cast("double")
                / F.sum("dt").cast("double")
            ).alias("twap"),
            (F.sum(vdec).cast("double") / F.count(F.lit(1))).alias(
                "plain_avg"
            ),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U rank-sum test (r7; Mann & Whitney 1947, public):
# two-sided normal approximation with tie correction, comparing the
# `value` distributions of 'click' vs 'purchase' events. Rank sums
# are computed on the DISTINCT-VALUE domain (cumulative count window
# over distinct values), never a per-row global window — per-row
# rank over 100 TB funnels through one task; the distinct-value
# relation is value-cardinality-sized. All rank arithmetic stays in
# exact integers (average ranks carried as 2x to avoid .5), the
# z-score combines them with fixed-order double ops + sqrt
# (correctly rounded IEEE on both engines).
@query(
    "mannwhitney_click_purchase",
    oracle="""
    WITH s AS (
        SELECT value AS v, CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g
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
               CAST(COALESCE(SUM(cnt) OVER (
                   ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS BIGINT) AS cumbefore
        FROM dv
    ),
    agg AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n1,
               CAST(SUM(cnt - c1) AS BIGINT) AS n2,
               CAST(SUM(c1 * (2 * cumbefore + cnt + 1)) AS BIGINT) AS r1_2x,
               CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_sum
        FROM r
    )
    SELECT n1, n2, r1_2x,
           CAST(r1_2x - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u1,
           (CAST(r1_2x - n1 * (n1 + 1) AS DOUBLE) / 2.0
            - CAST(n1 AS DOUBLE) * n2 / 2.0)
           / sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0
                  * (CAST(n1 + n2 + 1 AS DOUBLE)
                     - CAST(tie_sum AS DOUBLE)
                       / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1)))) AS z
    FROM agg
    """,
)
def mannwhitney_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    r = dv.select(
        "c1",
        "cnt",
        F.coalesce(F.sum("cnt").over(w), F.lit(0))
        .cast("bigint")
        .alias("cumbefore"),
    )
    agg = r.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum(F.col("cnt") - F.col("c1")).cast("bigint").alias("n2"),
        F.sum(
            F.col("c1") * (2 * F.col("cumbefore") + F.col("cnt") + 1)
        )
        .cast("bigint")
        .alias("r1_2x"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("bigint")
        .alias("tie_sum"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    nd = (F.col("n1") + F.col("n2")).cast("double")
    u1 = (F.col("r1_2x") - F.col("n1") * (F.col("n1") + 1)).cast(
        "double"
    ) / F.lit(2.0)
    return agg.select(
        "n1",
        "n2",
        "r1_2x",
        u1.alias("u1"),
        (
            (u1 - n1d * n2d / F.lit(2.0))
            / F.sqrt(
                n1d
                * n2d
                / F.lit(12.0)
                * (
                    (F.col("n1") + F.col("n2") + 1).cast("double")
                    - F.col("tie_sum").cast("double")
                    / (nd * (F.col("n1") + F.col("n2") - 1))
                )
            )
        ).alias("z"),
    )


# ---------------------------------------------------------------------------
# Single changepoint detection (r7): per event_type, the hour-index
# split that maximizes the between-segment sum-of-squares gain over
# the HOURLY AGGREGATED series (binary segmentation's first step,
# Scott & Knott 1974 / CUSUM-style public method). Everything
# reduces to exact per-hour DECIMAL sums + BIGINT counts; prefix
# sums run per-type over the hour domain (≤ #hours rows — tiny);
# the objective L²/nL + R²/nR is fixed-order double arithmetic on
# those exact sums, and the argmax tie-breaks on the earliest hour,
# so both engines pick the identical split.
@query(
    "changepoint_event_values",
    oracle=f"""
    WITH h AS (
        SELECT event_type, {_SQL_HOUR} AS hr,
               SUM(CAST(value AS DECIMAL(24,6))) AS s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    p AS (
        SELECT event_type, hr,
               SUM(s) OVER (PARTITION BY event_type ORDER BY hr) AS ls,
               CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY hr)
                    AS BIGINT) AS ln,
               SUM(s) OVER (PARTITION BY event_type) AS ts,
               CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS tn,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
                   AS nhours,
               CAST(row_number() OVER (
                   PARTITION BY event_type ORDER BY hr) AS BIGINT) AS pos
        FROM h
    ),
    g AS (
        SELECT event_type, hr, ln AS n_left, tn - ln AS n_right,
               CAST(ls AS DOUBLE) / ln AS mean_left,
               CAST(ts - ls AS DOUBLE) / (tn - ln) AS mean_right,
               CAST(ls AS DOUBLE) * CAST(ls AS DOUBLE) / ln
               + CAST(ts - ls AS DOUBLE) * CAST(ts - ls AS DOUBLE)
                 / (tn - ln)
               - CAST(ts AS DOUBLE) * CAST(ts AS DOUBLE) / tn AS gain
        FROM p WHERE pos < nhours
    )
    SELECT event_type, hr AS split_hour, n_left, n_right,
           mean_left, mean_right, gain
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY event_type ORDER BY gain DESC, hr) AS rk
        FROM g
    ) WHERE rk = 1
    ORDER BY event_type
    """,
)
def changepoint_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", _hour_idx().alias("hr")
    ).agg(
        F.sum(F.col("value").cast("decimal(24,6)")).alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    wcum = Window.partitionBy("event_type").orderBy("hr")
    wall = Window.partitionBy("event_type")
    p = h.select(
        "event_type",
        "hr",
        F.sum("s").over(wcum).alias("ls"),
        F.sum("n").over(wcum).cast("bigint").alias("ln"),
        F.sum("s").over(wall).alias("ts"),
        F.sum("n").over(wall).cast("bigint").alias("tn"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("nhours"),
        F.row_number().over(wcum).cast("bigint").alias("pos"),
    ).filter(F.col("pos") < F.col("nhours"))
    lsd = F.col("ls").cast("double")
    rsd = (F.col("ts") - F.col("ls")).cast("double")
    tsd = F.col("ts").cast("double")
    g = p.select(
        "event_type",
        "hr",
        F.col("ln").alias("n_left"),
        (F.col("tn") - F.col("ln")).alias("n_right"),
        (lsd / F.col("ln")).alias("mean_left"),
        (rsd / (F.col("tn") - F.col("ln"))).alias("mean_right"),
        (
            lsd * lsd / F.col("ln")
            + rsd * rsd / (F.col("tn") - F.col("ln"))
            - tsd * tsd / F.col("tn")
        ).alias("gain"),
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.col("gain").desc(), F.col("hr")
    )
    return (
        g.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("hr").alias("split_hour"),
            "n_left",
            "n_right",
            "mean_left",
            "mean_right",
            "gain",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Mergeable histogram-sketch quantiles with an exactness gate (r7):
# a 64-bin equi-width histogram over events.value (bin vectors merge
# by addition — the mergeable-summary property that lets every
# executor sketch its partition and one reduce combine them), read
# out at p25/p50/p75/p99 as the left edge of the bin where the
# cumulative count crosses ceil(q·n). The gate joins each approx
# value against the EXACT blocked-selection quantile and asserts the
# error is within one bin width — the same acceptance-gate shape as
# ann_recall_* (the sketch is deterministic, so the oracle recomputes
# it bit-for-bit). Bin arithmetic is fixed-order IEEE on exact
# min/max, so both engines bucket identically.
@query(
    "sketch_quantile_gate_events",
    oracle="""
    WITH mm AS (
        SELECT MIN(value) AS mn, MAX(value) AS mx,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events WHERE value IS NOT NULL
    ),
    binned AS (
        SELECT LEAST(63, CAST(FLOOR((value - mm.mn)
                   / ((mm.mx - mm.mn) / 64.0)) AS BIGINT)) AS bin,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events, mm WHERE value IS NOT NULL
        GROUP BY 1
    ),
    cum AS (
        SELECT bin, SUM(c) OVER (ORDER BY bin) AS cum
        FROM binned
    ),
    qs AS (
        SELECT CAST(q AS DOUBLE) AS q,
               CAST(ceil(CAST(q AS DOUBLE) * mm.n) AS BIGINT) AS rk,
               mm.mn, mm.mx, mm.n
        FROM (VALUES (0.25), (0.5), (0.75), (0.99)) t(q), mm
    ),
    approx AS (
        SELECT q, mn + CAST(MIN(bin) AS DOUBLE) * ((mx - mn) / 64.0)
                   AS approx_value,
               (mx - mn) / 64.0 AS bin_width
        FROM qs JOIN cum ON cum.cum >= qs.rk
        GROUP BY q, mn, mx
    ),
    s AS (
        SELECT value AS v,
               row_number() OVER (ORDER BY value) AS rn
        FROM events WHERE value IS NOT NULL
    ),
    exact AS (
        SELECT t.q, CAST(s.v AS DOUBLE) AS exact_value
        FROM (SELECT q, rk FROM qs) t
        JOIN s ON s.rn = greatest(1, t.rk)
    )
    SELECT a.q, a.approx_value, e.exact_value,
           abs(a.approx_value - e.exact_value) AS abs_err,
           (abs(a.approx_value - e.exact_value) <= a.bin_width)
               AS within_one_bin
    FROM approx a JOIN exact e ON a.q = e.q
    ORDER BY a.q
    """,
)
def sketch_quantile_gate_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.stats import exact_quantiles

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    mm = ev.agg(
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    binned = (
        ev.crossJoin(F.broadcast(mm))
        .select(
            F.least(
                F.lit(63),
                F.floor(
                    (F.col("value") - F.col("mn"))
                    / ((F.col("mx") - F.col("mn")) / F.lit(64.0))
                ).cast("bigint"),
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    cum = binned.select(
        "bin", F.sum("c").over(Window.orderBy("bin")).alias("cum")
    )
    qs = (
        spark.createDataFrame(
            [(0.25,), (0.5,), (0.75,), (0.99,)], ["q"]
        )
        .crossJoin(F.broadcast(mm))
        .select(
            F.col("q").cast("double").alias("q"),
            F.ceil(F.col("q").cast("double") * F.col("n"))
            .cast("bigint")
            .alias("rk"),
            "mn",
            "mx",
        )
    )
    approx = (
        qs.join(cum, cum["cum"] >= qs["rk"])
        .groupBy("q", "mn", "mx")
        .agg(F.min("bin").alias("bin"))
        .select(
            "q",
            (
                F.col("mn")
                + F.col("bin").cast("double")
                * ((F.col("mx") - F.col("mn")) / F.lit(64.0))
            ).alias("approx_value"),
            ((F.col("mx") - F.col("mn")) / F.lit(64.0)).alias("bin_width"),
        )
    )
    exact = exact_quantiles(
        ev.select(F.col("value").cast("double").alias("value")),
        "value",
        qs=[0.25, 0.5, 0.75, 0.99],
        block=F.floor(F.col("value") / F.lit(10.0)).cast("long"),
    ).select("q", F.col("value").alias("exact_value"))
    return (
        approx.join(exact, "q")
        .select(
            "q",
            "approx_value",
            "exact_value",
            F.abs(F.col("approx_value") - F.col("exact_value")).alias(
                "abs_err"
            ),
            (
                F.abs(F.col("approx_value") - F.col("exact_value"))
                <= F.col("bin_width")
            ).alias("within_one_bin"),
        )
        .orderBy("q")
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend (r7; Theil 1950/Sen 1968, public): the
# median of all pairwise slopes of the DAILY count series — the
# rank-based alternative to ols_trend_events that one outlier day
# cannot move. The pair expansion runs on the AGGREGATED daily
# domain (the raw-events pass is one partial-combined groupBy; a
# decade is 3.7k days → 6.6M pair slopes), and the median is the
# blocked-selection percentile_disc (operators/stats.exact_quantiles)
# — per-block sorts only, never a pair-table-sized global window.
# The selected VALUE at rank ⌈n/2⌉ is tie-order-independent, so the
# oracle's simple window form matches bit-for-bit.
@query(
    "theil_sen_daily_events",
    oracle="""
    WITH daily AS (
        SELECT CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 86400)
                    AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ),
    slopes AS (
        SELECT CAST(b.c - a.c AS DOUBLE) / CAST(b.d - a.d AS DOUBLE)
                   AS slope
        FROM daily a JOIN daily b ON a.d < b.d
    ),
    ranked AS (
        SELECT slope,
               row_number() OVER (ORDER BY slope) AS rn,
               COUNT(*) OVER () AS n
        FROM slopes
    )
    SELECT CAST(n AS BIGINT) AS n_pairs, slope AS theil_sen_slope
    FROM ranked
    WHERE rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))
    """,
)
def theil_sen_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import exact_quantiles

    ev = _t(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts") / F.lit(86400)).cast("bigint")
    daily = ev.groupBy(day.alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    a = daily.alias("a")
    b = daily.alias("b")
    # try_divide: the a.d < b.d join condition excludes the zero
    # denominator logically, but the codegen'd BNLJ evaluates the
    # projection before the condition filter under ANSI mode
    slopes = a.join(b, F.col("a.d") < F.col("b.d")).select(
        F.try_divide(
            (F.col("b.c") - F.col("a.c")).cast("double"),
            (F.col("b.d") - F.col("a.d")).cast("double"),
        ).alias("slope"),
    )
    # n_pairs = d·(d−1)/2 from the DAILY domain — deriving it from
    # slopes.count() would execute the O(d²) pair join twice
    # (code-review r7)
    d_n = daily.count()
    n = d_n * (d_n - 1) // 2
    med = exact_quantiles(
        slopes, "slope", qs=[0.5],
        block=F.floor(F.col("slope") * F.lit(10.0)).cast("long"),
    )
    return med.select(
        F.lit(n).cast("bigint").alias("n_pairs"),
        F.col("value").alias("theil_sen_slope"),
    )


# ---------------------------------------------------------------------------
# Per-group trimmed mean (r7): the 5%-trimmed mean of event values
# per type — drop the lowest and highest ceil(0.05·n) ranked values,
# average the rest in exact DECIMAL. Rank runs per group (parallel
# across types — never a global window); the trim count is exact
# integer arithmetic and the one division is fixed-order, so both
# engines keep the identical middle set.
@query(
    "trimmed_mean_event_values",
    oracle="""
    WITH r AS (
        SELECT event_type, value,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY value, event_id
               ) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events
    ),
    kept AS (
        SELECT event_type, value, n
        FROM r
        WHERE rn > CAST(ceil(0.05 * n) AS BIGINT)
          AND rn <= n - CAST(ceil(0.05 * n) AS BIGINT)
    )
    SELECT event_type,
           CAST(MIN(n) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE) / COUNT(*)
               AS trimmed_mean
    FROM kept
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def trimmed_mean_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    wr = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    r = ev.select(
        "event_type",
        "value",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    trim = F.ceil(F.lit(0.05) * F.col("n")).cast("bigint")
    kept = r.filter(
        (F.col("rn") > trim) & (F.col("rn") <= F.col("n") - trim)
    )
    return (
        kept.groupBy("event_type")
        .agg(
            F.min("n").cast("bigint").alias("n"),
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            (
                F.sum(F.col("value").cast("decimal(24,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("trimmed_mean"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Zipf fit (r7): OLS slope of ln(freq) against ln(rank) over the
# token frequency table — the classic corpus sanity check (natural
# text ≈ −1). Rank is the fully-tie-broken (count DESC, token) order
# on the VOCAB domain (bounded, window-safe); each ln is computed
# once per vocab row and micro-rounded to BIGINT so the OLS sums
# stay order-independent exact; the closed form mirrors
# ols_trend_events.
@query(
    "zipf_fit_tokens",
    oracle=r"""
    WITH tf AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM (
            SELECT unnest(string_split_regex(text, '\s+')) AS token
            FROM documents
        ) GROUP BY token
    ),
    ranked AS (
        SELECT CAST(ROUND(ln(CAST(row_number() OVER (
                   ORDER BY c DESC, token) AS DOUBLE)) * 1000000.0)
                   AS BIGINT) AS lx,
               CAST(ROUND(ln(CAST(c AS DOUBLE)) * 1000000.0) AS BIGINT)
                   AS ly
        FROM tf
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(lx) AS BIGINT) AS sx,
               CAST(SUM(lx * lx) AS HUGEINT) AS sxx,
               CAST(SUM(ly) AS BIGINT) AS sy,
               CAST(SUM(lx * ly) AS HUGEINT) AS sxy
        FROM ranked
    )
    SELECT n AS vocab,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS zipf_slope
    FROM s
    """,
)
def zipf_fit_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(F.split(F.col("text"), r"\s+")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    w = Window.orderBy(F.col("c").desc(), F.col("token"))
    micro = lambda col: F.round(F.log(col) * F.lit(1_000_000.0)).cast(  # noqa: E731
        "bigint"
    )
    ranked = tf.select(
        micro(F.row_number().over(w).cast("double")).alias("lx"),
        micro(F.col("c").cast("double")).alias("ly"),
    )
    s = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("lx").cast("bigint").alias("sx"),
        F.sum(F.col("lx").cast("decimal(38,0)") * F.col("lx")).alias("sxx"),
        F.sum("ly").cast("bigint").alias("sy"),
        F.sum(F.col("lx").cast("decimal(38,0)") * F.col("ly")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    return s.select(
        F.col("n").alias("vocab"),
        (
            (nd * F.col("sxy").cast("double") - sxd * F.col("sy").cast("double"))
            / (nd * F.col("sxx").cast("double") - sxd * sxd)
        ).alias("zipf_slope"),
    )


# ---------------------------------------------------------------------------
# Kendall tau-b (r7; Kendall 1938, public) between the hourly click
# and purchase count series: concordant/discordant pair counts with
# the tie-corrected denominator. The h² pair expansion runs on the
# JOINED HOURLY domain (bounded — the raw pass is one groupBy);
# every count is an exact BIGINT, the denominator combines them with
# two correctly-rounded sqrts.
@query(
    "kendall_tau_hourly",
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
    pairs AS (
        SELECT CASE WHEN (a.x < b.x AND a.y < b.y)
                      OR (a.x > b.x AND a.y > b.y) THEN 1 ELSE 0 END AS conc,
               CASE WHEN (a.x < b.x AND a.y > b.y)
                      OR (a.x > b.x AND a.y < b.y) THEN 1 ELSE 0 END AS disc,
               CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tx,
               CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS ty
        FROM hourly a JOIN hourly b ON a.h < b.h
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n0,
               CAST(SUM(conc) AS BIGINT) AS nc,
               CAST(SUM(disc) AS BIGINT) AS nd,
               CAST(SUM(tx) AS BIGINT) AS ntx,
               CAST(SUM(ty) AS BIGINT) AS nty
        FROM pairs
    )
    SELECT n0, nc, nd,
           CAST(nc - nd AS DOUBLE)
           / (sqrt(CAST(n0 - ntx AS DOUBLE)) * sqrt(CAST(n0 - nty AS DOUBLE)))
               AS tau_b
    FROM s
    """,
)
def kendall_tau_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    a = hourly.alias("a")
    b = hourly.alias("b")
    ax, bx = F.col("a.x"), F.col("b.x")
    ay, by = F.col("a.y"), F.col("b.y")
    pairs = a.join(b, F.col("a.h") < F.col("b.h")).select(
        F.when(((ax < bx) & (ay < by)) | ((ax > bx) & (ay > by)), 1)
        .otherwise(0)
        .alias("conc"),
        F.when(((ax < bx) & (ay > by)) | ((ax > bx) & (ay < by)), 1)
        .otherwise(0)
        .alias("disc"),
        F.when(ax == bx, 1).otherwise(0).alias("tx"),
        F.when(ay == by, 1).otherwise(0).alias("ty"),
    )
    s = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n0"),
        F.sum("conc").cast("bigint").alias("nc"),
        F.sum("disc").cast("bigint").alias("nd"),
        F.sum("tx").cast("bigint").alias("ntx"),
        F.sum("ty").cast("bigint").alias("nty"),
    )
    return s.select(
        "n0",
        "nc",
        "nd",
        (
            (F.col("nc") - F.col("nd")).cast("double")
            / (
                F.sqrt((F.col("n0") - F.col("ntx")).cast("double"))
                * F.sqrt((F.col("n0") - F.col("nty")).cast("double"))
            )
        ).alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# Boxplot stats per group (r7): the Tukey five-number summary —
# exact q1/median/q3 (percentile_disc rank rule), IQR whiskers, and
# the count of points beyond 1.5·IQR (outliers). Ranks run per
# event_type (parallel across groups, the trimmed-mean pattern);
# the whisker comparison re-joins the tiny per-group summary back
# to the rows via broadcast, so the outlier count is one more
# map-side-combinable aggregate. Every boundary is a fixed-order
# double expression over exact rank-selected values.
@query(
    "boxplot_stats_event_values",
    oracle="""
    WITH r AS (
        SELECT event_type, value,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY value, event_id
               ) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events
    ),
    q AS (
        SELECT event_type,
               CAST(MAX(n) AS BIGINT) AS n,
               CAST(MAX(CASE WHEN rn = greatest(1,
                    CAST(ceil(0.25 * n) AS BIGINT)) THEN value END)
                    AS DOUBLE) AS q1,
               CAST(MAX(CASE WHEN rn = greatest(1,
                    CAST(ceil(0.5 * n) AS BIGINT)) THEN value END)
                    AS DOUBLE) AS median,
               CAST(MAX(CASE WHEN rn = greatest(1,
                    CAST(ceil(0.75 * n) AS BIGINT)) THEN value END)
                    AS DOUBLE) AS q3
        FROM r GROUP BY event_type
    )
    SELECT q.event_type, q.n, q.q1, q.median, q.q3,
           q.q3 - q.q1 AS iqr,
           CAST(SUM(CASE WHEN e.value < q.q1 - 1.5 * (q.q3 - q.q1)
                           OR e.value > q.q3 + 1.5 * (q.q3 - q.q1)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM q JOIN events e ON e.event_type = q.event_type
    GROUP BY q.event_type, q.n, q.q1, q.median, q.q3
    ORDER BY q.event_type
    """,
)
def boxplot_stats_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    wr = W.partitionBy("event_type").orderBy("value", "event_id")
    wn = W.partitionBy("event_type")
    r = ev.select(
        "event_type",
        "value",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def pick(p: float):
        return F.max(
            F.when(
                F.col("rn")
                == F.greatest(
                    F.lit(1),
                    F.ceil(F.lit(p) * F.col("n")).cast("bigint"),
                ),
                F.col("value"),
            )
        ).cast("double")

    q = r.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n"),
        pick(0.25).alias("q1"),
        pick(0.5).alias("median"),
        pick(0.75).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    lo = F.col("q1") - F.lit(1.5) * iqr
    hi = F.col("q3") + F.lit(1.5) * iqr
    return (
        ev.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "n", "q1", "median", "q3")
        .agg(
            F.sum(
                F.when((F.col("value") < lo) | (F.col("value") > hi), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers")
        )
        .select(
            "event_type",
            "n",
            "q1",
            "median",
            "q3",
            iqr.alias("iqr"),
            "n_outliers",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# HLL sketch rollup (r7): materialize per-(type, month) HyperLogLog
# sketches (Spark's datasketches hll_sketch_agg), then roll up to
# per-type distinct users by MERGING the sketches (hll_union_agg) —
# the reuse pattern that makes distinct-count hierarchies cheap at
# 100 TB (sketches are tiny, mergeable, and the month grain is
# computed once). The estimate is gated against the exact distinct
# (|approx/exact − 1| < 5%). ⊘ rows-only by declared design: the
# sketch binary is engine-specific (DuckDB's approx_count_distinct
# is a different sketch), so no cross-engine value hash exists —
# the correctness content is the within-gate flag and the exact
# column, both test-asserted.
@query("hll_rollup_users")
def hll_rollup_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.date_format(F.date_trunc("month", "ts"), "yyyy-MM").alias("mo"),
        "user_id",
    )
    monthly = ev.groupBy("event_type", "mo").agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk")
    )
    rolled = monthly.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))")
        .cast("bigint")
        .alias("approx_distinct"),
        F.count(F.lit(1)).cast("bigint").alias("n_months"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_distinct")
    )
    rel = (
        F.abs(
            F.col("approx_distinct").cast("double")
            / F.col("exact_distinct").cast("double")
            - F.lit(1.0)
        )
    )
    return (
        rolled.join(exact, "event_type")
        .select(
            "event_type",
            "n_months",
            "exact_distinct",
            "approx_distinct",
            rel.alias("rel_err"),
            (rel < F.lit(0.05)).alias("within_5pct"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Wilson score interval (r7; Wilson 1927, public) for each event
# type's conversion rate (purchases / all events of the user-facing
# types) — the interval that behaves at small n and extreme p where
# the normal approximation fails, and the standard ranking metric
# for CTR-style rates. Counts are exact BIGINTs; the interval is one
# fixed-order double expression. z² is the explicit literal 3.8416 on
# BOTH sides: DuckDB parses 1.96 as DECIMAL and folds 1.96*1.96
# exactly, while a double 1.96 squared is one ulp off — the sf0.001
# cross-SF probe caught the difference (SCALE.md §6.10.20).
@query(
    "wilson_ci_user_purchase",
    oracle="""
    WITH s AS (
        SELECT user_id % 10 AS cohort,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                        THEN 1 ELSE 0 END) AS BIGINT) AS k
        FROM events GROUP BY 1
    )
    SELECT CAST(cohort AS BIGINT) AS cohort, n, k,
           CAST(k AS DOUBLE) / n AS p_hat,
           (CAST(k AS DOUBLE) / n + 3.8416 / (2.0 * n)
            - 1.96 * sqrt((CAST(k AS DOUBLE) / n
                           * (1.0 - CAST(k AS DOUBLE) / n)
                           + 3.8416 / (4.0 * n)) / n))
           / (1.0 + 3.8416 / n) AS wilson_lo,
           (CAST(k AS DOUBLE) / n + 3.8416 / (2.0 * n)
            + 1.96 * sqrt((CAST(k AS DOUBLE) / n
                           * (1.0 - CAST(k AS DOUBLE) / n)
                           + 3.8416 / (4.0 * n)) / n))
           / (1.0 + 3.8416 / n) AS wilson_hi
    FROM s
    ORDER BY cohort
    """,
)
def wilson_ci_user_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    s = ev.groupBy((F.col("user_id") % 10).alias("cohort")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("k"),
    )
    nd = F.col("n").cast("double")
    p = F.col("k").cast("double") / F.col("n")
    z = F.lit(1.96)
    z2 = F.lit(3.8416)  # NOT z*z: see the docstring's decimal-fold note
    center = p + z2 / (F.lit(2.0) * F.col("n"))
    half = z * F.sqrt(
        (p * (F.lit(1.0) - p) + z2 / (F.lit(4.0) * F.col("n"))) / F.col("n")
    )
    denom = F.lit(1.0) + z2 / F.col("n")
    _ = nd
    return s.select(
        F.col("cohort").cast("bigint").alias("cohort"),
        "n",
        "k",
        p.alias("p_hat"),
        ((center - half) / denom).alias("wilson_lo"),
        ((center + half) / denom).alias("wilson_hi"),
    ).orderBy("cohort")


# ---------------------------------------------------------------------------
# Poisson dispersion test (r7): per event type, the
# variance-to-mean ratio of DAILY counts and the dispersion
# statistic D = (n−1)·s²/x̄ (χ²_{n−1} under Poisson) — the standard
# over/under-dispersion screen before fitting count models. Daily
# counts are exact BIGINTs; s² and x̄ come from exact Σc, Σc² via
# the one-pass identity, combined in fixed-order doubles.
@query(
    "dispersion_test_events",
    oracle="""
    WITH d AS (
        SELECT event_type,
               CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 86400)
                    AS BIGINT) AS day,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    s AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(c) AS BIGINT) AS sc,
               CAST(SUM(c * c) AS BIGINT) AS scc
        FROM d GROUP BY 1
    )
    SELECT event_type, n_days,
           CAST(sc AS DOUBLE) / n_days AS mean_daily,
           (CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
               / n_days) / (n_days - 1) AS var_daily,
           ((CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
               / n_days) / (n_days - 1))
           / (CAST(sc AS DOUBLE) / n_days) AS vmr,
           ((CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
               / n_days) / (n_days - 1)) * (n_days - 1)
           / (CAST(sc AS DOUBLE) / n_days) AS dispersion_stat
    FROM s
    ORDER BY event_type
    """,
)
def dispersion_test_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts") / F.lit(86400)).cast("bigint")
    d = ev.groupBy("event_type", day.alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    s = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("c").cast("bigint").alias("sc"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("scc"),
    )
    scd = F.col("sc").cast("double")
    sccd = F.col("scc").cast("double")
    mean = scd / F.col("n_days")
    var = (sccd - scd * scd / F.col("n_days")) / (F.col("n_days") - 1)
    return s.select(
        "event_type",
        "n_days",
        mean.alias("mean_daily"),
        var.alias("var_daily"),
        (var / mean).alias("vmr"),
        (var * (F.col("n_days") - 1) / mean).alias("dispersion_stat"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Revenue concentration HHI (r7): the Herfindahl-Hirschman index of
# customer revenue shares within each nation — the concentration
# metric behind key-account risk and skew planning (HHI → 1 means
# one customer dominates; → 1/n means even spread). Per-customer
# revenue is an exact DECIMAL sum; each share is one fixed-order
# double division and HHI sums share² as micro-rounded BIGINTs
# (order-independent exact).
@query(
    "hhi_revenue_by_nation",
    oracle="""
    WITH cr AS (
        SELECT c.c_nationkey, o.o_custkey,
               SUM(CAST(o.o_totalprice AS DECIMAL(30,6))) AS rev
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    nat AS (
        SELECT c_nationkey, SUM(rev) AS total,
               CAST(COUNT(*) AS BIGINT) AS n_customers
        FROM cr GROUP BY 1
    )
    SELECT cr.c_nationkey,
           MAX(nat.n_customers) AS n_customers,
           CAST(SUM(CAST(ROUND(
               (CAST(cr.rev AS DOUBLE) / CAST(nat.total AS DOUBLE))
               * (CAST(cr.rev AS DOUBLE) / CAST(nat.total AS DOUBLE))
               * 1000000000000.0) AS BIGINT)) AS DOUBLE)
               / 1000000000000.0 AS hhi
    FROM cr JOIN nat ON cr.c_nationkey = nat.c_nationkey
    GROUP BY cr.c_nationkey
    ORDER BY cr.c_nationkey
    """,
)
def hhi_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    cr = (
        orders.join(
            cust.select("c_custkey", "c_nationkey"),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_nationkey", "o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(30,6)")).alias("rev")
        )
    )
    nat = cr.groupBy("c_nationkey").agg(
        F.sum("rev").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
    )
    share = F.col("rev").cast("double") / F.col("total").cast("double")
    return (
        cr.join(nat, "c_nationkey")
        .groupBy("c_nationkey")
        .agg(
            F.max("n_customers").alias("n_customers"),
            (
                F.sum(
                    F.round(share * share * F.lit(1e12)).cast("bigint")
                ).cast("double")
                / F.lit(1e12)
            ).alias("hhi"),
        )
        .orderBy("c_nationkey")
    )


# ---------------------------------------------------------------------------
# Gini coefficient (r7; Gini 1912, public) of customer revenue per
# nation — the inequality twin of hhi_revenue_by_nation, via the
# rank formula G = (2·Σ i·xᵢ)/(n·Σx) − (n+1)/n over ascending-sorted
# revenues. Ranks run per nation (parallel groups, ties broken by
# custkey); Σ i·xᵢ stays EXACT as DECIMAL × rank; the two divisions
# are fixed-order doubles.
@query(
    "gini_revenue_by_nation",
    oracle="""
    WITH cr AS (
        SELECT c.c_nationkey, o.o_custkey,
               SUM(CAST(o.o_totalprice AS DECIMAL(30,6))) AS rev
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    r AS (
        SELECT c_nationkey, rev,
               CAST(row_number() OVER (
                   PARTITION BY c_nationkey ORDER BY rev, o_custkey
               ) AS BIGINT) AS i
        FROM cr
    )
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(rev) AS DOUBLE) AS total_revenue,
           2.0 * CAST(SUM(rev * i) AS DOUBLE)
               / (COUNT(*) * CAST(SUM(rev) AS DOUBLE))
           - (CAST(COUNT(*) AS DOUBLE) + 1.0) / COUNT(*) AS gini
    FROM r
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def gini_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    cr = (
        orders.join(
            cust.select("c_custkey", "c_nationkey"),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_nationkey", "o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(30,6)")).alias("rev")
        )
    )
    w = W.partitionBy("c_nationkey").orderBy("rev", "o_custkey")
    r = cr.select(
        "c_nationkey",
        "rev",
        F.row_number().over(w).cast("bigint").alias("i"),
    )
    nd = F.count(F.lit(1)).cast("double")
    return (
        r.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("rev").cast("double").alias("total_revenue"),
            (
                F.lit(2.0)
                * F.sum(F.col("rev") * F.col("i")).cast("double")
                / (F.count(F.lit(1)) * F.sum("rev").cast("double"))
                - (nd + F.lit(1.0)) / F.count(F.lit(1))
            ).alias("gini"),
        )
        .orderBy("c_nationkey")
    )


# ---------------------------------------------------------------------------
# KMV / theta-sketch set intersection (r8): estimate the distinct-
# user overlap between two event populations from k-minimum-value
# sketches — the mergeable-sketch counterpart of the HLL rollup
# (hll_rollup_users) that HLL cannot answer (HLL intersects only via
# inclusion-exclusion, which explodes in variance). Hash is the
# Knuth multiplicative congruence on BIGINTs — exact and identical
# in both engines, so the sketch (and the estimate) is fully
# deterministic. Standard theta semantics: a side with fewer than k
# distinct values keeps everything with θ = 1 and its estimate is
# EXACT (the sketch degrades gracefully — one formula, matched/θ,
# covers both regimes, so the same plan is correct at sf0.001 and at
# 100 TB). Scale path: the k smallest hashes per side are found via
# an adaptive threshold pre-filter (hashes are uniform, so
# h < 8k/n · 2^32 keeps ~8k rows) — the per-side sort ranks only the
# surviving ~8k candidates, never the full population; the fallback
# to an unfiltered rank fires only if the filter under-collects
# (count-guarded, same discipline as operators/graph.py:82-84).
@query(
    "kmv_intersection_users",
    oracle="""
    WITH du AS (
        SELECT DISTINCT event_type,
               user_id,
               (user_id * 2654435761 + 12345) % 4294967296 AS h
        FROM events WHERE event_type IN ('click', 'purchase')
    ), ranked AS (
        SELECT event_type, h,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY h, user_id) AS r
        FROM du
    ), sk AS (
        SELECT event_type, h FROM ranked WHERE r <= 128
    ), theta AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS kept,
               CASE WHEN COUNT(*) < 128 THEN 4294967296
                    ELSE MAX(h) END AS th,
               CASE WHEN COUNT(*) < 128 THEN CAST(COUNT(*) AS DOUBLE)
                    ELSE 127.0 * 4294967296.0 / MAX(h) END AS est
        FROM sk GROUP BY 1
    ), tmin AS (
        SELECT MIN(th) AS th FROM theta
    ), matched AS (
        SELECT COUNT(*) AS m
        FROM (SELECT h FROM sk WHERE event_type = 'click') a
        JOIN (SELECT h FROM sk WHERE event_type = 'purchase') b USING (h)
        CROSS JOIN tmin WHERE a.h < tmin.th
    ), truth AS (
        SELECT
          CAST(COUNT(DISTINCT CASE WHEN event_type = 'click'
               THEN user_id END) AS BIGINT) AS true_clicks,
          CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase'
               THEN user_id END) AS BIGINT) AS true_purchases
        FROM events
    ), inter AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS true_both FROM (
          SELECT user_id FROM events
          GROUP BY 1
          HAVING SUM(CASE WHEN event_type='click' THEN 1 ELSE 0 END) > 0
             AND SUM(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) > 0
        )
    )
    SELECT CAST(128 AS BIGINT) AS k,
           (SELECT est FROM theta WHERE event_type='click') AS est_clicks,
           (SELECT est FROM theta WHERE event_type='purchase')
             AS est_purchases,
           CAST((SELECT m FROM matched) AS DOUBLE) * 4294967296.0
             / (SELECT th FROM tmin) AS est_intersection,
           true_clicks, true_purchases,
           (SELECT true_both FROM inter) AS true_both
    FROM truth
    """,
)
def kmv_intersection_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    K = 128
    ev = _t(spark, sf_dir, "events")
    # ONE pass over events (r11 optimization round, guide §1.2): the
    # original plan scanned the event log four times — the distinct
    # (type, user) relation, its per-side counts, the exact truth
    # countDistincts, and the per-user intersection truth. All four are
    # derivable from one per-user aggregate (nc, np), which is tiny
    # (one row per user) and checkpointed once; every downstream job
    # reads it instead of the log. Results are bit-identical: the
    # distinct pair set, the hash, the rank order and the integer
    # truths are all reconstructed exactly (countDistinct's
    # null-exclusion is preserved via the isNotNull guard).
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("nc"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("np"),
        )
        .localCheckpoint(eager=False)  # the counts collect materializes it
    )
    du = (
        per_user.select(
            "user_id",
            F.explode(
                F.concat(
                    F.when(
                        F.col("nc") > 0, F.array(F.lit("click"))
                    ).otherwise(F.array().cast("array<string>")),
                    F.when(
                        F.col("np") > 0, F.array(F.lit("purchase"))
                    ).otherwise(F.array().cast("array<string>")),
                )
            ).alias("event_type"),
        )
        .select("event_type", "user_id")
        .withColumn(
            "h",
            (F.col("user_id") * F.lit(2654435761) + F.lit(12345))
            % F.lit(4294967296),
        )
    )
    # adaptive pre-filter: keep ~8k smallest-hash candidates per side
    counts = {
        r["event_type"]: r["n"]
        for r in du.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    thr = {
        t: min(4294967296, max(1, (8 * K * 4294967296) // max(n, 1)))
        for t, n in counts.items()
    }
    if any(n <= 8 * K for n in counts.values()):
        cand = du  # tiny population: rank everything (exact regime)
    else:
        thr_df = F.broadcast(
            spark.createDataFrame(
                [(t, v) for t, v in thr.items()], ["event_type", "__thr"]
            )
        )
        cand = du.join(thr_df, "event_type").filter(
            F.col("h") < F.col("__thr")
        )
        kept = {
            r["event_type"]: r["n"]
            for r in cand.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        if any(kept.get(t, 0) < K for t in counts):
            cand = du  # under-collected: rank everything
    # NULLS LAST, as the oracle's ORDER BY: a NULL user_id (NULL hash)
    # then ranks after every real hash instead of taking a sketch slot
    w = Window.partitionBy("event_type").orderBy(
        F.asc_nulls_last("h"), F.asc_nulls_last("user_id")
    )
    sk = (
        cand.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= K)
        .select("event_type", "h")
    )
    theta = sk.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("kept"),
        F.when(F.count(F.lit(1)) < K, F.lit(4294967296))
        .otherwise(F.max("h"))
        .alias("th"),
        F.when(
            F.count(F.lit(1)) < K, F.count(F.lit(1)).cast("double")
        )
        .otherwise(F.lit(127.0) * F.lit(4294967296.0) / F.max("h"))
        .alias("est"),
    )
    th_c = theta.filter(F.col("event_type") == "click").select(
        F.col("est").alias("est_clicks")
    )
    th_p = theta.filter(F.col("event_type") == "purchase").select(
        F.col("est").alias("est_purchases")
    )
    tmin = theta.agg(F.min("th").alias("th"))
    matched = (
        sk.filter(F.col("event_type") == "click")
        .select("h")
        .join(sk.filter(F.col("event_type") == "purchase").select("h"), "h")
        .crossJoin(F.broadcast(tmin))
        .filter(F.col("h") < F.col("th"))
        .agg(F.count(F.lit(1)).alias("m"))
        .crossJoin(F.broadcast(tmin))
    )
    # truth re-derived from the shared per-user aggregate: true_clicks
    # was COUNT(DISTINCT user_id) over click rows — i.e. the number of
    # NON-NULL users with nc > 0 (countDistinct skips nulls; the
    # groupBy's null group is guarded out to match). true_both counted
    # the per-user groups with both sides > 0 INCLUDING a null group,
    # exactly as the original groupBy+filter+count did.
    truth = per_user.agg(
        F.sum(
            ((F.col("nc") > 0) & F.col("user_id").isNotNull()).cast("long")
        )
        .cast("bigint")
        .alias("true_clicks"),
        F.sum(
            ((F.col("np") > 0) & F.col("user_id").isNotNull()).cast("long")
        )
        .cast("bigint")
        .alias("true_purchases"),
    )
    both = per_user.filter((F.col("nc") > 0) & (F.col("np") > 0)).agg(
        F.count(F.lit(1)).cast("bigint").alias("true_both")
    )
    return (
        truth.crossJoin(F.broadcast(th_c))
        .crossJoin(F.broadcast(th_p))
        .crossJoin(F.broadcast(matched))
        .crossJoin(F.broadcast(both))
        .select(
            F.lit(128).cast("bigint").alias("k"),
            "est_clicks",
            "est_purchases",
            (
                F.col("m").cast("double")
                * F.lit(4294967296.0)
                / F.col("th")
            ).alias("est_intersection"),
            "true_clicks",
            "true_purchases",
            "true_both",
        )
    )

# ---------------------------------------------------------------------------
# Differentially-private noisy counts (r8): per-event-type counts
# released through the Laplace mechanism (ε = 1, sensitivity 1 —
# each user-event contributes to exactly one cell), completing the
# privacy family next to k-anonymity / l-diversity / t-closeness
# (plans/curation.py). The noise draw is SEEDED: a congruential
# uniform from the cell's alphabetical rank, pushed through the
# exact inverse-CDF of Laplace(0, 1) — so the release is
# reproducible and both engines emit bit-identical results (the one
# ln() call is micro-rounded away, BLEU-2 discipline). The rank
# window runs over the already-aggregated cell relation — bounded
# domain (#event types), never the event log.
@query(
    "dp_noisy_counts_events",
    oracle="""
    WITH c AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS true_n
        FROM events GROUP BY 1
    ), r AS (
        SELECT event_type, true_n,
               ROW_NUMBER() OVER (ORDER BY event_type) AS rk
        FROM c
    ), u AS (
        SELECT event_type, true_n,
               (CAST((rk * 2654435761 + 987654321) % 1000003 AS DOUBLE)
                + 0.5) / 1000003.0 AS uu
        FROM r
    )
    SELECT event_type, true_n,
           1.0 AS epsilon,
           ROUND((0.0 - (CASE WHEN uu - 0.5 < 0.0 THEN -1.0
                              WHEN uu - 0.5 > 0.0 THEN 1.0
                              ELSE 0.0 END)
                  * ln(1.0 - 2.0 * abs(uu - 0.5))) * 1000000.0)
             / 1000000.0 AS noise,
           true_n + ROUND((0.0 - (CASE WHEN uu - 0.5 < 0.0 THEN -1.0
                                       WHEN uu - 0.5 > 0.0 THEN 1.0
                                       ELSE 0.0 END)
                           * ln(1.0 - 2.0 * abs(uu - 0.5))) * 1000000.0)
             / 1000000.0 AS noisy_count
    FROM u
    ORDER BY event_type
    """,
)
def dp_noisy_counts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_n")
    )
    # rank over the aggregated cells: bounded domain (#event types)
    w = Window.orderBy("event_type")
    r = c.withColumn("rk", F.row_number().over(w))
    uu = (
        ((F.col("rk") * F.lit(2654435761) + F.lit(987654321)) % F.lit(1000003))
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(1000003.0)
    d = uu - F.lit(0.5)
    sign = (
        F.when(d < 0.0, F.lit(-1.0))
        .when(d > 0.0, F.lit(1.0))
        .otherwise(F.lit(0.0))
    )
    noise = F.round(
        (F.lit(0.0) - sign * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(d)))
        * F.lit(1000000.0)
    ) / F.lit(1000000.0)
    return r.select(
        "event_type",
        "true_n",
        F.lit(1.0).alias("epsilon"),
        noise.alias("noise"),
        (F.col("true_n") + noise).alias("noisy_count"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Poisson bootstrap confidence interval (r8): the SCALABLE bootstrap
# — classical resampling needs n draws per replicate through a
# shared sampler (a sequential bottleneck); the Poisson(1)
# approximation gives every row an independent per-replicate weight,
# so all B = 64 replicates are computed in ONE map + ONE 64-group
# aggregate, no resampling shuffle, no driver loop (Chamandy et al.,
# "Estimating Uncertainty for Massive Data Streams", Google 2012).
# Weights come from a congruential uniform pushed through the exact
# Poisson(1) inverse CDF (fixed literal breakpoints — pure integer/
# double comparisons, no transcendentals); replicate means are exact
# micro-unit ratios; the 95% interval is the (2nd, 63rd) order
# statistic of the 64 replicate means (bounded relation).
@query(
    "bootstrap_ci_event_values",
    oracle="""
    WITH base AS (
        SELECT event_id, CAST(ROUND(value * 1000000.0) AS BIGINT) AS vm
        FROM events
    ), rep AS (
        SELECT j, event_id, vm,
               (CAST((event_id * 2654435761 + j * 40503 + 7) % 1000003
                     AS DOUBLE) + 0.5) / 1000003.0 AS u
        FROM base CROSS JOIN (SELECT UNNEST(RANGE(1, 65)) AS j)
    ), wtd AS (
        SELECT j, vm,
               CASE WHEN u < 0.36787944117144233 THEN 0
                    WHEN u < 0.7357588823428847 THEN 1
                    WHEN u < 0.9196986029286058 THEN 2
                    WHEN u < 0.9810118431238462 THEN 3
                    WHEN u < 0.9963401531726563 THEN 4
                    ELSE 5 END AS w
        FROM rep
    ), means AS (
        SELECT j,
               CAST(SUM(w * vm) AS DOUBLE) / CAST(SUM(w) AS DOUBLE)
                 / 1000000.0 AS m
        FROM wtd GROUP BY j
    ), ranked AS (
        SELECT m, ROW_NUMBER() OVER (ORDER BY m, j) AS r FROM means
    )
    SELECT CAST(64 AS BIGINT) AS n_boot,
           (SELECT CAST(SUM(vm) AS DOUBLE) / COUNT(*) / 1000000.0
            FROM base) AS mean_full,
           (SELECT m FROM ranked WHERE r = 2) AS ci_lo,
           (SELECT m FROM ranked WHERE r = 63) AS ci_hi
    """,
)
def bootstrap_ci_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.round(F.col("value") * F.lit(1000000.0))
        .cast("bigint")
        .alias("vm"),
    )
    rep = ev.withColumn(
        "j", F.explode(F.sequence(F.lit(1), F.lit(64)))
    ).withColumn(
        "u",
        (
            (
                (
                    F.col("event_id") * F.lit(2654435761)
                    + F.col("j") * F.lit(40503)
                    + F.lit(7)
                )
                % F.lit(1000003)
            ).cast("double")
            + F.lit(0.5)
        )
        / F.lit(1000003.0),
    )
    w = (
        F.when(F.col("u") < 0.36787944117144233, 0)
        .when(F.col("u") < 0.7357588823428847, 1)
        .when(F.col("u") < 0.9196986029286058, 2)
        .when(F.col("u") < 0.9810118431238462, 3)
        .when(F.col("u") < 0.9963401531726563, 4)
        .otherwise(5)
    )
    means = (
        rep.withColumn("w", w)
        .groupBy("j")
        .agg(
            F.sum(F.col("w") * F.col("vm")).alias("swv"),
            F.sum("w").alias("sw"),
        )
        .select(
            "j",
            (
                F.col("swv").cast("double")
                / F.col("sw").cast("double")
                / F.lit(1000000.0)
            ).alias("m"),
        )
    )
    ranked = means.withColumn(
        "r", F.row_number().over(Window.orderBy("m", "j"))
    )
    lo = ranked.filter(F.col("r") == 2).select(F.col("m").alias("ci_lo"))
    hi = ranked.filter(F.col("r") == 63).select(F.col("m").alias("ci_hi"))
    full = ev.agg(
        (
            F.sum("vm").cast("double")
            / F.count(F.lit(1))
            / F.lit(1000000.0)
        ).alias("mean_full")
    )
    return (
        full.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            F.lit(64).cast("bigint").alias("n_boot"),
            "mean_full",
            "ci_lo",
            "ci_hi",
        )
    )


# ---------------------------------------------------------------------------
# Benjamini–Hochberg FDR correction (r8): the multiple-testing step
# the per-type A/B tests were missing — run one Welch z-test per
# event type (weekend vs weekday value means) and control the false
# discovery rate across the family at q = 0.05 (Benjamini &
# Hochberg 1995: adj_p_i = min_{j≥i} p_j·m/j over the p-ascending
# ranks). Sums are exact (BIGINT micro-values, DECIMAL(38,0)
# squares); z and p are fixed-order doubles; the normal tail comes
# from the Abramowitz–Stegun 7.1.26 erf polynomial (plain
# arithmetic + exp, no engine-specific distributions) and p is
# nano-rounded before the BH pass so both engines rank and adjust
# identically. BH itself runs on the m-row aggregate — bounded
# domain, never the event log.
@query(
    "bh_fdr_event_tests",
    oracle="""
    WITH base AS (
        SELECT event_type,
               CASE WHEN dayofweek(ts) IN (0, 6) THEN 'we' ELSE 'wd'
               END AS grp,
               CAST(ROUND(value * 1000000.0) AS BIGINT) AS vm
        FROM events
    ), s AS (
        SELECT event_type, grp,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(vm) AS BIGINT) AS sv,
               SUM(CAST(vm AS DECIMAL(38,0)) * vm) AS qv
        FROM base GROUP BY 1, 2
    ), wide AS (
        SELECT a.event_type,
               a.n AS na, a.sv AS sa, a.qv AS qa,
               b.n AS nb, b.sv AS sb, b.qv AS qb
        FROM (SELECT * FROM s WHERE grp = 'we') a
        JOIN (SELECT * FROM s WHERE grp = 'wd') b USING (event_type)
    ), zt AS (
        SELECT event_type, na, nb,
               (CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb)
               / sqrt(
                   ((CAST(qa AS DOUBLE)
                     - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / na)
                    / (na - 1.0)) / na
                   + ((CAST(qb AS DOUBLE)
                       - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / nb)
                      / (nb - 1.0)) / nb
               ) AS z
        FROM wide
    ), pv AS (
        SELECT event_type, na, nb, z,
               ROUND(((((1.061405429 * t - 1.453152027) * t
                        + 1.421413741) * t
                       - 0.284496736) * t
                      + 0.254829592) * t
                     * exp(0.0 - xx * xx) * 1000000000.0)
                 / 1000000000.0 AS p
        FROM (SELECT event_type, na, nb, z,
                     abs(z) / sqrt(2.0) AS xx,
                     1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))) AS t
              FROM zt)
    ), rk AS (
        SELECT *,
               ROW_NUMBER() OVER (ORDER BY p, event_type) AS r,
               COUNT(*) OVER () AS m
        FROM pv
    )
    SELECT event_type, na, nb, z, p,
           LEAST(1.0,
                 MIN(p * m / r) OVER (ORDER BY r
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
             AS adj_p,
           LEAST(1.0,
                 MIN(p * m / r) OVER (ORDER BY r
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
             <= 0.05 AS significant
    FROM rk
    ORDER BY event_type
    """,
)
def bh_fdr_event_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.when(F.dayofweek("ts").isin(1, 7), F.lit("we"))
        .otherwise(F.lit("wd"))
        .alias("grp"),
        F.round(F.col("value") * F.lit(1000000.0)).cast("bigint").alias("vm"),
    )
    s = ev.groupBy("event_type", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("vm").cast("bigint").alias("sv"),
        F.sum(F.col("vm").cast("decimal(38,0)") * F.col("vm")).alias("qv"),
    )
    a = s.filter(F.col("grp") == "we").select(
        "event_type",
        F.col("n").alias("na"),
        F.col("sv").alias("sa"),
        F.col("qv").alias("qa"),
    )
    b = s.filter(F.col("grp") == "wd").select(
        "event_type",
        F.col("n").alias("nb"),
        F.col("sv").alias("sb"),
        F.col("qv").alias("qb"),
    )
    wide = a.join(b, "event_type")
    z = (
        F.col("sa").cast("double") / F.col("na")
        - F.col("sb").cast("double") / F.col("nb")
    ) / F.sqrt(
        (
            (
                F.col("qa").cast("double")
                - F.col("sa").cast("double")
                * F.col("sa").cast("double")
                / F.col("na")
            )
            / (F.col("na") - F.lit(1.0))
        )
        / F.col("na")
        + (
            (
                F.col("qb").cast("double")
                - F.col("sb").cast("double")
                * F.col("sb").cast("double")
                / F.col("nb")
            )
            / (F.col("nb") - F.lit(1.0))
        )
        / F.col("nb")
    )
    zt = wide.select("event_type", "na", "nb", z.alias("z"))
    x = F.abs(F.col("z")) / F.sqrt(F.lit(2.0))
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * x)
    poly = (
        (
            (
                (F.lit(1.061405429) * t - F.lit(1.453152027)) * t
                + F.lit(1.421413741)
            )
            * t
            - F.lit(0.284496736)
        )
        * t
        + F.lit(0.254829592)
    ) * t
    p = (
        F.round(poly * F.exp(F.lit(0.0) - x * x) * F.lit(1000000000.0))
        / F.lit(1000000000.0)
    )
    pv = zt.select("event_type", "na", "nb", "z", p.alias("p"))
    w_rank = Window.orderBy("p", "event_type")
    rk = pv.withColumn("r", F.row_number().over(w_rank)).withColumn(
        "m", F.count(F.lit(1)).over(Window.partitionBy())
    )
    w_suffix = Window.orderBy("r").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    adj = F.least(
        F.lit(1.0),
        F.min(F.col("p") * F.col("m") / F.col("r")).over(w_suffix),
    )
    return rk.select(
        "event_type",
        "na",
        "nb",
        "z",
        "p",
        adj.alias("adj_p"),
        (adj <= 0.05).alias("significant"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Cross-correlation lead-lag panel (r8): does click activity LEAD
# purchase activity? Pearson correlation between the hourly click
# series and the purchase series shifted by lag ∈ [−3, +3] —
# the companion to acf_hourly_events (auto → cross). No lag window:
# the shifted alignment is an equi-join of the two hourly aggregates
# on h + lag (bounded hour domain, exact integer sums, one
# fixed-order Pearson per lag). Positive-lag peak ⇒ clicks lead.
@query(
    "xcorr_click_purchase",
    oracle=f"""
    WITH cx AS (
        SELECT {_SQL_HOUR} AS h, CAST(COUNT(*) AS BIGINT) AS x
        FROM events WHERE event_type = 'click' GROUP BY 1
    ), cy AS (
        SELECT {_SQL_HOUR} AS h, CAST(COUNT(*) AS BIGINT) AS y
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), lags AS (
        SELECT UNNEST(RANGE(-3, 4)) AS lag
    ), joined AS (
        SELECT l.lag, cx.x, cy.y
        FROM lags l
        JOIN cx ON TRUE
        JOIN cy ON cy.h = cx.h + l.lag
    ), s AS (
        SELECT lag,
               CAST(COUNT(*) AS BIGINT) AS np,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM joined GROUP BY 1
    )
    SELECT CAST(lag AS INT) AS lag, np AS n_pairs,
           (CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(np AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             AS xcorr
    FROM s ORDER BY lag
    """,
)
def xcorr_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cx = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(_hour_idx().alias("h"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    cy = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(_hour_idx().alias("h"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )
    lags = spark.range(-3, 4).select(F.col("id").cast("int").alias("lag"))
    joined = (
        cx.alias("cx")
        .crossJoin(F.broadcast(lags))
        .join(
            cy.alias("cy"),
            F.col("cy.h") == F.col("cx.h") + F.col("lag"),
        )
    )
    s = joined.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("np"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    npd = F.col("np").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    return s.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("np").alias("n_pairs"),
        (
            (npd * F.col("sxy").cast("double") - sxd * syd)
            / F.sqrt(
                (npd * F.col("sxx").cast("double") - sxd * sxd)
                * (npd * F.col("syy").cast("double") - syd * syd)
            )
        ).alias("xcorr"),
    ).orderBy("lag")


# ---------------------------------------------------------------------------
# Exact per-group quantiles (r8): p50/p95/p99 of event values PER
# EVENT TYPE via grouped blocked selection
# (operators/stats.exact_group_quantiles) — the skew-safe form of
# "percentile by low-cardinality group": a window partitioned by a
# handful of types would funnel each type's slice through one
# reducer at 100 TB; blocked selection shuffles on (type,
# value-block) and sorts only the block holding each target rank.
# Exact order statistics, not approx_percentile — the SLA numbers
# auditors sign off on.
@query(
    "exact_group_quantiles_events",
    oracle="""
    WITH base AS (
        SELECT event_type,
               CAST(ROUND(value * 1000000.0) AS BIGINT) AS vm
        FROM events WHERE value IS NOT NULL
    ), ranked AS (
        SELECT event_type, vm,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY vm) AS r,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM base
    ), qs AS (
        SELECT UNNEST([0.5, 0.95, 0.99]) AS q
    )
    SELECT ranked.event_type, qs.q,
           CAST(MIN(vm) AS DOUBLE) / 1000000.0 AS value
    FROM ranked CROSS JOIN qs
    WHERE r >= GREATEST(1, CAST(CEIL(q * n) AS BIGINT))
    GROUP BY ranked.event_type, qs.q
    ORDER BY event_type, q
    """,
)
def exact_group_quantiles_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import exact_group_quantiles

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * F.lit(1000000.0)).cast("bigint").alias("vm"),
    )
    out = exact_group_quantiles(
        ev,
        "event_type",
        "vm",
        [0.5, 0.95, 0.99],
        (F.col("vm") / F.lit(1 << 22)).cast("bigint"),
    )
    return out.select(
        "event_type",
        "q",
        (F.col("value").cast("double") / F.lit(1000000.0)).alias("value"),
    ).orderBy("event_type", "q")


# ---------------------------------------------------------------------------
# Difference-in-differences (r8): the causal-inference workhorse the
# plain A/B diff (ab_test_events) can't replace when assignment
# isn't randomized — compare treated vs control CHANGE across a
# cutover. Treatment = even user ids; the cutover is the integer
# midpoint of the observed time range (computed identically on both
# engines from exact second epochs). Cell moments are exact (BIGINT
# micro-sums, DECIMAL(38,0) squares); the DiD point estimate and its
# pooled standard error combine in one fixed-order expression.
@query(
    "did_estimator_events",
    oracle="""
    WITH base AS (
        SELECT user_id % 2 = 0 AS treat,
               CAST(FLOOR(epoch(ts)) AS BIGINT) AS s,
               CAST(ROUND(value * 1000000.0) AS BIGINT) AS vm
        FROM events
    ), mid AS (
        SELECT CAST((MIN(s) + MAX(s)) / 2 AS BIGINT) AS m FROM base
    ), cells AS (
        SELECT treat, s >= (SELECT m FROM mid) AS post,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(vm) AS BIGINT) AS sv,
               SUM(CAST(vm AS DECIMAL(38,0)) * vm) AS qv
        FROM base GROUP BY 1, 2
    ), wide AS (
        SELECT
          MAX(CASE WHEN treat AND post THEN CAST(sv AS DOUBLE)/n END) AS m_t1,
          MAX(CASE WHEN treat AND NOT post THEN CAST(sv AS DOUBLE)/n END) AS m_t0,
          MAX(CASE WHEN NOT treat AND post THEN CAST(sv AS DOUBLE)/n END) AS m_c1,
          MAX(CASE WHEN NOT treat AND NOT post THEN CAST(sv AS DOUBLE)/n END) AS m_c0,
          MAX(CASE WHEN treat AND post THEN
              ((CAST(qv AS DOUBLE) - CAST(sv AS DOUBLE)*CAST(sv AS DOUBLE)/n)
               / (n - 1.0)) / n END) AS v_t1,
          MAX(CASE WHEN treat AND NOT post THEN
              ((CAST(qv AS DOUBLE) - CAST(sv AS DOUBLE)*CAST(sv AS DOUBLE)/n)
               / (n - 1.0)) / n END) AS v_t0,
          MAX(CASE WHEN NOT treat AND post THEN
              ((CAST(qv AS DOUBLE) - CAST(sv AS DOUBLE)*CAST(sv AS DOUBLE)/n)
               / (n - 1.0)) / n END) AS v_c1,
          MAX(CASE WHEN NOT treat AND NOT post THEN
              ((CAST(qv AS DOUBLE) - CAST(sv AS DOUBLE)*CAST(sv AS DOUBLE)/n)
               / (n - 1.0)) / n END) AS v_c0,
          CAST(SUM(n) AS BIGINT) AS n_total
        FROM cells
    )
    SELECT n_total,
           ((m_t1 - m_t0) - (m_c1 - m_c0)) / 1000000.0 AS did,
           sqrt(v_t1 + v_t0 + v_c1 + v_c0) / 1000000.0 AS se,
           ((m_t1 - m_t0) - (m_c1 - m_c0))
             / sqrt(v_t1 + v_t0 + v_c1 + v_c0) AS t_stat
    FROM wide
    """,
)
def did_estimator_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 2 == 0).alias("treat"),
        F.unix_timestamp("ts").cast("bigint").alias("s"),
        F.round(F.col("value") * F.lit(1000000.0)).cast("bigint").alias("vm"),
    )
    mid = ev.agg(
        ((F.min("s") + F.max("s")) / F.lit(2)).cast("bigint").alias("m")
    )
    cells = (
        ev.crossJoin(F.broadcast(mid))
        .select("treat", (F.col("s") >= F.col("m")).alias("post"), "vm")
        .groupBy("treat", "post")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("vm").cast("bigint").alias("sv"),
            F.sum(F.col("vm").cast("decimal(38,0)") * F.col("vm")).alias(
                "qv"
            ),
        )
    )

    def cell(treat: bool, post: bool, expr):
        return F.max(
            F.when(
                (F.col("treat") == treat) & (F.col("post") == post), expr
            )
        )

    mean = F.col("sv").cast("double") / F.col("n")
    var_of_mean = (
        (
            F.col("qv").cast("double")
            - F.col("sv").cast("double") * F.col("sv").cast("double") / F.col("n")
        )
        / (F.col("n") - F.lit(1.0))
    ) / F.col("n")
    wide = cells.agg(
        cell(True, True, mean).alias("m_t1"),
        cell(True, False, mean).alias("m_t0"),
        cell(False, True, mean).alias("m_c1"),
        cell(False, False, mean).alias("m_c0"),
        cell(True, True, var_of_mean).alias("v_t1"),
        cell(True, False, var_of_mean).alias("v_t0"),
        cell(False, True, var_of_mean).alias("v_c1"),
        cell(False, False, var_of_mean).alias("v_c0"),
        F.sum("n").cast("bigint").alias("n_total"),
    )
    did = (F.col("m_t1") - F.col("m_t0")) - (F.col("m_c1") - F.col("m_c0"))
    se = F.sqrt(
        F.col("v_t1") + F.col("v_t0") + F.col("v_c1") + F.col("v_c0")
    )
    return wide.select(
        "n_total",
        (did / F.lit(1000000.0)).alias("did"),
        (se / F.lit(1000000.0)).alias("se"),
        (did / se).alias("t_stat"),
    )


# ---------------------------------------------------------------------------
# CUPED variance reduction (r8, Deng et al. 2013): shrink an
# experiment metric's variance using pre-period data — the adjusted
# metric Y' = Y − θ(X − E[X]) with θ = cov(X,Y)/var(X) cuts the
# sample size needed at equal power by the squared pre/post
# correlation. Per-user pre/post means are micro-rounded BIGINTs
# before the covariance pass (the repo's user-mean discipline:
# order-dependent double sums never cross users), so θ and the
# variance-reduction readout hash-match bit-for-bit.
@query(
    "cuped_adjustment_events",
    oracle="""
    WITH base AS (
        SELECT user_id,
               CAST(FLOOR(epoch(ts)) AS BIGINT) AS s,
               CAST(ROUND(value * 1000000.0) AS BIGINT) AS vm
        FROM events
    ), mid AS (
        SELECT CAST((MIN(s) + MAX(s)) / 2 AS BIGINT) AS m FROM base
    ), per_user AS (
        SELECT user_id,
               CAST(ROUND(CAST(SUM(CASE WHEN s < (SELECT m FROM mid)
                                        THEN vm END) AS DOUBLE)
                          / COUNT(CASE WHEN s < (SELECT m FROM mid)
                                       THEN 1 END)) AS BIGINT) AS x,
               CAST(ROUND(CAST(SUM(CASE WHEN s >= (SELECT m FROM mid)
                                        THEN vm END) AS DOUBLE)
                          / COUNT(CASE WHEN s >= (SELECT m FROM mid)
                                       THEN 1 END)) AS BIGINT) AS y
        FROM base GROUP BY user_id
        HAVING COUNT(CASE WHEN s < (SELECT m FROM mid) THEN 1 END) > 0
           AND COUNT(CASE WHEN s >= (SELECT m FROM mid) THEN 1 END) > 0
    ), mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               SUM(CAST(x AS DECIMAL(38,0)) * x) AS qx,
               SUM(CAST(y AS DECIMAL(38,0)) * y) AS qy,
               SUM(CAST(x AS DECIMAL(38,0)) * y) AS qxy
        FROM per_user
    )
    SELECT n,
           (CAST(qxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)/n)
             / (CAST(qx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)/n)
             AS theta,
           (CAST(qy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)/n)
             / n / 1000000.0 / 1000000.0 AS var_y,
           ((CAST(qy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)/n)
            - (CAST(qxy AS DOUBLE)
               - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)/n)
              * (CAST(qxy AS DOUBLE)
                 - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)/n)
              / (CAST(qx AS DOUBLE)
                 - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)/n))
             / n / 1000000.0 / 1000000.0 AS var_adj,
           (CAST(qxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)/n)
             * (CAST(qxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)/n)
             / (CAST(qx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)/n)
             / (CAST(qy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)/n)
             AS var_reduction
    FROM mom
    """,
)
def cuped_adjustment_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_timestamp("ts").cast("bigint").alias("s"),
        F.round(F.col("value") * F.lit(1000000.0)).cast("bigint").alias("vm"),
    )
    mid = ev.agg(
        ((F.min("s") + F.max("s")) / F.lit(2)).cast("bigint").alias("m")
    )
    b = ev.crossJoin(F.broadcast(mid))
    pre = F.when(F.col("s") < F.col("m"), F.col("vm"))
    post = F.when(F.col("s") >= F.col("m"), F.col("vm"))
    per_user = (
        b.groupBy("user_id")
        .agg(
            F.sum(pre).alias("sx_u"),
            F.count(pre).alias("nx_u"),
            F.sum(post).alias("sy_u"),
            F.count(post).alias("ny_u"),
        )
        .filter((F.col("nx_u") > 0) & (F.col("ny_u") > 0))
        .select(
            F.round(F.col("sx_u").cast("double") / F.col("nx_u"))
            .cast("bigint")
            .alias("x"),
            F.round(F.col("sy_u").cast("double") / F.col("ny_u"))
            .cast("bigint")
            .alias("y"),
        )
    )
    mom = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("qx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("qy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("qxy"),
    )
    nd = F.col("n")
    cxy = F.col("qxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double") / nd
    vx = F.col("qx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double") / nd
    vy = F.col("qy").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    ).cast("double") / nd
    return mom.select(
        "n",
        (cxy / vx).alias("theta"),
        (vy / nd / F.lit(1000000.0) / F.lit(1000000.0)).alias("var_y"),
        (
            (vy - cxy * cxy / vx)
            / nd
            / F.lit(1000000.0)
            / F.lit(1000000.0)
        ).alias("var_adj"),
        (cxy * cxy / vx / vy).alias("var_reduction"),
    )


# ---------------------------------------------------------------------------
# Burstiness (r8): Goh & Barabási's B = (σ−μ)/(σ+μ) over inter-event
# gaps — the temporal-pattern companion to the COUNT dispersion test
# (dispersion_test_events): B→−1 periodic, B≈0 Poisson, B→+1 bursty.
# Gaps are integer seconds from per-(user,type) consecutive arrivals
# (a lag window over user×type partitions — real key cardinality,
# not a low-cardinality skew trap); moments are exact BIGINT /
# DECIMAL(38,0) sums; σ is one fixed-order sqrt at the end.
@query(
    "burstiness_events",
    oracle="""
    WITH seq AS (
        SELECT event_type,
               CAST(FLOOR(epoch(ts)) AS BIGINT) AS s,
               lag(CAST(FLOOR(epoch(ts)) AS BIGINT))
                 OVER (PARTITION BY user_id, event_type
                       ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT),
                                event_id) AS prev_s
        FROM events
    ), gaps AS (
        SELECT event_type, s - prev_s AS g
        FROM seq WHERE prev_s IS NOT NULL
    ), m AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(g) AS BIGINT) AS sg,
               SUM(CAST(g AS DECIMAL(38,0)) * g) AS qg
        FROM gaps GROUP BY 1
    )
    SELECT event_type, n,
           CAST(sg AS DOUBLE) / n AS mean_gap_s,
           sqrt((CAST(qg AS DOUBLE)
                 - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / n) / n)
             AS sd_gap_s,
           (sqrt((CAST(qg AS DOUBLE)
                  - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / n) / n)
            - CAST(sg AS DOUBLE) / n)
           / (sqrt((CAST(qg AS DOUBLE)
                    - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / n) / n)
              + CAST(sg AS DOUBLE) / n) AS burstiness
    FROM m ORDER BY event_type
    """,
)
def burstiness_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        "event_id",
        F.unix_timestamp("ts").cast("bigint").alias("s"),
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("s", "event_id")
    gaps = (
        ev.withColumn("prev_s", F.lag("s").over(w))
        .filter(F.col("prev_s").isNotNull())
        .select("event_type", (F.col("s") - F.col("prev_s")).alias("g"))
    )
    m = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("g").cast("bigint").alias("sg"),
        F.sum(F.col("g").cast("decimal(38,0)") * F.col("g")).alias("qg"),
    )
    mean = F.col("sg").cast("double") / F.col("n")
    sd = F.sqrt(
        (
            F.col("qg").cast("double")
            - F.col("sg").cast("double")
            * F.col("sg").cast("double")
            / F.col("n")
        )
        / F.col("n")
    )
    return m.select(
        "event_type",
        "n",
        mean.alias("mean_gap_s"),
        sd.alias("sd_gap_s"),
        ((sd - mean) / (sd + mean)).alias("burstiness"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Maximum drawdown (r8): the finance-style risk read-out over each
# type's hourly mean-value series — running peak, per-hour drawdown
# (peak − v)/peak, and the worst one with the hour it bottomed. The
# running max and argmax run over the HOURLY AGGREGATE (bounded hour
# domain, same discipline as acf/ohlc/twap); hourly means are exact
# micro-ratios rounded back to BIGINT so the peak comparisons are
# integer-exact, and the one division per row happens at the end.
@query(
    "max_drawdown_event_values",
    oracle="""
    WITH hourly AS (
        SELECT event_type,
               CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 3600)
                    AS BIGINT) AS h,
               CAST(ROUND(CAST(SUM(CAST(ROUND(value * 1000000.0)
                                        AS BIGINT)) AS DOUBLE)
                          / COUNT(*)) AS BIGINT) AS vm
        FROM events GROUP BY 1, 2
    ), runpeak AS (
        SELECT event_type, h, vm,
               MAX(vm) OVER (PARTITION BY event_type ORDER BY h
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS peak
        FROM hourly
    ), dd AS (
        SELECT event_type, h, vm, peak,
               CAST(peak - vm AS DOUBLE) / peak AS drawdown
        FROM runpeak WHERE peak > 0
    ), worst AS (
        SELECT event_type, h, vm, peak, drawdown,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY drawdown DESC, h) AS r
        FROM dd
    )
    SELECT event_type,
           drawdown AS max_drawdown,
           CAST(h AS BIGINT) AS trough_hour,
           CAST(peak AS DOUBLE) / 1000000.0 AS peak_value,
           CAST(vm AS DOUBLE) / 1000000.0 AS trough_value
    FROM worst WHERE r = 1
    ORDER BY event_type
    """,
)
def max_drawdown_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.unix_timestamp("ts").cast("bigint") / F.lit(3600))
        .cast("bigint")
        .alias("h"),
        F.round(F.col("value") * F.lit(1000000.0)).cast("bigint").alias("vm"),
    )
    hourly = ev.groupBy("event_type", "h").agg(
        F.round(F.sum("vm").cast("double") / F.count(F.lit(1)))
        .cast("bigint")
        .alias("vm")
    )
    wpk = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = (
        hourly.withColumn("peak", F.max("vm").over(wpk))
        .filter(F.col("peak") > 0)
        .withColumn(
            "drawdown",
            (F.col("peak") - F.col("vm")).cast("double") / F.col("peak"),
        )
    )
    ww = Window.partitionBy("event_type").orderBy(
        F.col("drawdown").desc(), "h"
    )
    return (
        dd.withColumn("r", F.row_number().over(ww))
        .filter(F.col("r") == 1)
        .select(
            "event_type",
            F.col("drawdown").alias("max_drawdown"),
            F.col("h").alias("trough_hour"),
            (F.col("peak").cast("double") / F.lit(1000000.0)).alias(
                "peak_value"
            ),
            (F.col("vm").cast("double") / F.lit(1000000.0)).alias(
                "trough_value"
            ),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Simpson's-paradox screen (r8): per-segment trend sign vs the
# pooled trend sign — the classic aggregation trap detector (a
# pooled slope can contradict every segment's slope when segment
# sizes and baselines differ). Reuses the exact OLS sums of
# ols_trend_events at both grains; a segment FLIPS when
# sign(slope_segment) ≠ sign(slope_pooled). Everything is exact
# integer sums until the two slope ratios.
@query(
    "simpsons_screen_events",
    oracle=f"""
    WITH base AS (
        SELECT event_type,
               {_SQL_HOUR} AS x,
               CAST(ROUND(value * 1000000.0) AS BIGINT) AS y
        FROM events
    ), seg AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
               SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy
        FROM base GROUP BY 1
    ), pooled AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n,
               CAST(SUM(sx) AS BIGINT) AS sx,
               CAST(SUM(sy) AS BIGINT) AS sy,
               SUM(sxx) AS sxx, SUM(sxy) AS sxy
        FROM seg
    )
    SELECT s.event_type,
           (CAST(s.n AS DOUBLE) * CAST(s.sxy AS DOUBLE)
              - CAST(s.sx AS DOUBLE) * CAST(s.sy AS DOUBLE))
             / (CAST(s.n AS DOUBLE) * CAST(s.sxx AS DOUBLE)
                - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE))
             / 1000000.0 AS segment_slope,
           (CAST(p.n AS DOUBLE) * CAST(p.sxy AS DOUBLE)
              - CAST(p.sx AS DOUBLE) * CAST(p.sy AS DOUBLE))
             / (CAST(p.n AS DOUBLE) * CAST(p.sxx AS DOUBLE)
                - CAST(p.sx AS DOUBLE) * CAST(p.sx AS DOUBLE))
             / 1000000.0 AS pooled_slope,
           SIGN((CAST(s.n AS DOUBLE) * CAST(s.sxy AS DOUBLE)
                 - CAST(s.sx AS DOUBLE) * CAST(s.sy AS DOUBLE))
                / (CAST(s.n AS DOUBLE) * CAST(s.sxx AS DOUBLE)
                   - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE)))
             <> SIGN((CAST(p.n AS DOUBLE) * CAST(p.sxy AS DOUBLE)
                      - CAST(p.sx AS DOUBLE) * CAST(p.sy AS DOUBLE))
                     / (CAST(p.n AS DOUBLE) * CAST(p.sxx AS DOUBLE)
                        - CAST(p.sx AS DOUBLE) * CAST(p.sx AS DOUBLE)))
             AS flipped
    FROM seg s CROSS JOIN pooled p
    ORDER BY s.event_type
    """,
)
def simpsons_screen_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        _hour_idx().alias("x"),
        F.round(F.col("value") * F.lit(1000000.0)).cast("bigint").alias("y"),
    )
    seg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
    )
    pooled = seg.agg(
        F.sum("n").cast("bigint").alias("pn"),
        F.sum("sx").cast("bigint").alias("psx"),
        F.sum("sy").cast("bigint").alias("psy"),
        F.sum("sxx").alias("psxx"),
        F.sum("sxy").alias("psxy"),
    )

    def slope(n, sx, sy, sxx, sxy):
        return (
            F.col(n).cast("double") * F.col(sxy).cast("double")
            - F.col(sx).cast("double") * F.col(sy).cast("double")
        ) / (
            F.col(n).cast("double") * F.col(sxx).cast("double")
            - F.col(sx).cast("double") * F.col(sx).cast("double")
        )

    s_seg = slope("n", "sx", "sy", "sxx", "sxy")
    s_pool = slope("pn", "psx", "psy", "psxx", "psxy")
    return (
        seg.crossJoin(F.broadcast(pooled))
        .select(
            "event_type",
            (s_seg / F.lit(1000000.0)).alias("segment_slope"),
            (s_pool / F.lit(1000000.0)).alias("pooled_slope"),
            (F.signum(s_seg) != F.signum(s_pool)).alias("flipped"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Randomized response (r8): LOCAL differential privacy — the
# client-side mechanism (Warner 1965) complementing the central
# Laplace release (dp_noisy_counts_events): each user reports their
# true bit ("did I purchase?") with probability 1−p and its flip
# with probability p, and the aggregator DEBIASES the observed rate:
# π̂ = (obs − p) / (1 − 2p). The flip is a seeded congruential coin
# per user (deterministic, identical in both engines), p = 0.25
# (ε = ln(3) local DP). The read-out shows true rate, observed
# (privatized) rate, the debiased estimate, and its standard error —
# the estimate tracks the truth while individual reports stay
# deniable.
@query(
    "randomized_response_events",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS truth,
               CASE WHEN (user_id * 2654435761 + 1013904223) % 1000003
                         < 250001 THEN 1 ELSE 0 END AS flip
        FROM events GROUP BY user_id
    ), resp AS (
        SELECT user_id, truth,
               CASE WHEN flip = 1 THEN 1 - truth ELSE truth END AS reported
        FROM per_user
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(truth) AS BIGINT) AS n_true,
               CAST(SUM(reported) AS BIGINT) AS n_reported
        FROM resp
    )
    SELECT n, n_true, n_reported,
           CAST(n_true AS DOUBLE) / n AS true_rate,
           CAST(n_reported AS DOUBLE) / n AS observed_rate,
           (CAST(n_reported AS DOUBLE) / n - 250001.0 / 1000003.0)
             / (1.0 - 2.0 * (250001.0 / 1000003.0)) AS debiased_rate,
           sqrt((CAST(n_reported AS DOUBLE) / n)
                * (1.0 - CAST(n_reported AS DOUBLE) / n) / n)
             / (1.0 - 2.0 * (250001.0 / 1000003.0)) AS std_error
    FROM agg
    """,
)
def randomized_response_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    p_num, p_den = 250001.0, 1000003.0
    per_user = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("truth")
    ).withColumn(
        "flip",
        F.when(
            (F.col("user_id") * F.lit(2654435761) + F.lit(1013904223))
            % F.lit(1000003)
            < 250001,
            1,
        ).otherwise(0),
    )
    resp = per_user.select(
        "truth",
        F.when(F.col("flip") == 1, 1 - F.col("truth"))
        .otherwise(F.col("truth"))
        .alias("reported"),
    )
    agg = resp.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("truth").cast("bigint").alias("n_true"),
        F.sum("reported").cast("bigint").alias("n_reported"),
    )
    p = F.lit(p_num) / F.lit(p_den)
    obs = F.col("n_reported").cast("double") / F.col("n")
    return agg.select(
        "n",
        "n_true",
        "n_reported",
        (F.col("n_true").cast("double") / F.col("n")).alias("true_rate"),
        obs.alias("observed_rate"),
        ((obs - p) / (F.lit(1.0) - F.lit(2.0) * p)).alias("debiased_rate"),
        (
            F.sqrt(obs * (F.lit(1.0) - obs) / F.col("n"))
            / (F.lit(1.0) - F.lit(2.0) * p)
        ).alias("std_error"),
    )


# ---------------------------------------------------------------------------
# Lincoln–Petersen capture-recapture (r8): estimate a population you
# can only sample — the mark-recapture sibling of Chao1, here
# estimating the user population from two independent observation
# windows (the two halves of the time range): N̂ = n₁·n₂ / m with m
# the users seen in BOTH. The Chapman bias-corrected variant is
# reported too. Against the fixture the truth is known, so the
# read-out doubles as an estimator gate.
@query(
    "lincoln_petersen_users",
    oracle="""
    WITH base AS (
        SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS s FROM events
    ), mid AS (
        SELECT CAST((MIN(s) + MAX(s)) / 2 AS BIGINT) AS m FROM base
    ), caps AS (
        SELECT user_id,
               MAX(CASE WHEN s < (SELECT m FROM mid) THEN 1 ELSE 0 END)
                 AS in1,
               MAX(CASE WHEN s >= (SELECT m FROM mid) THEN 1 ELSE 0 END)
                 AS in2
        FROM base GROUP BY user_id
    ), agg AS (
        SELECT CAST(SUM(in1) AS BIGINT) AS n1,
               CAST(SUM(in2) AS BIGINT) AS n2,
               CAST(SUM(in1 * in2) AS BIGINT) AS m,
               CAST(COUNT(*) AS BIGINT) AS true_n
        FROM caps
    )
    SELECT n1, n2, m, true_n,
           CAST(n1 AS DOUBLE) * n2 / m AS lp_estimate,
           (CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m + 1) - 1.0
             AS chapman_estimate
    FROM agg
    """,
)
def lincoln_petersen_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_timestamp("ts").cast("bigint").alias("s")
    )
    mid = ev.agg(
        ((F.min("s") + F.max("s")) / F.lit(2)).cast("bigint").alias("m")
    )
    caps = (
        ev.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("s") < F.col("m"), 1).otherwise(0)).alias(
                "in1"
            ),
            F.max(F.when(F.col("s") >= F.col("m"), 1).otherwise(0)).alias(
                "in2"
            ),
        )
    )
    agg = caps.agg(
        F.sum("in1").cast("bigint").alias("n1"),
        F.sum("in2").cast("bigint").alias("n2"),
        F.sum(F.col("in1") * F.col("in2")).cast("bigint").alias("m"),
        F.count(F.lit(1)).cast("bigint").alias("true_n"),
    )
    return agg.select(
        "n1",
        "n2",
        "m",
        "true_n",
        (F.col("n1").cast("double") * F.col("n2") / F.col("m")).alias(
            "lp_estimate"
        ),
        (
            (F.col("n1") + F.lit(1)).cast("double")
            * (F.col("n2") + F.lit(1))
            / (F.col("m") + F.lit(1))
            - F.lit(1.0)
        ).alias("chapman_estimate"),
    )


# ---------------------------------------------------------------------------
# Mann–Kendall trend test (r8): the NONPARAMETRIC monotone-trend
# test — S = Σ sign(x_j − x_i) over all day pairs of each type's
# daily count series, with the normal approximation Z =
# (S ∓ 1)/√Var — robust where OLS (ols_trend) assumes linearity and
# Theil–Sen gives only the slope. The pair space is the DAILY series
# self-join (≈30 days → ~435 pairs per type: bounded day domain,
# never the event log); ties are handled by the variance's tie
# correction over the grouped counts.
@query(
    "mann_kendall_daily_events",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 86400)
                    AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), s AS (
        SELECT a.event_type,
               CAST(SUM(CASE WHEN b.c > a.c THEN 1
                             WHEN b.c < a.c THEN -1 ELSE 0 END)
                    AS BIGINT) AS s_stat
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.d < b.d
        GROUP BY 1
    ), n AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nd FROM daily
        GROUP BY 1
    ), ties AS (
        SELECT event_type,
               CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
        FROM (
            SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS t
            FROM daily GROUP BY 1, 2
        ) GROUP BY 1
    )
    SELECT s.event_type, n.nd AS n_days, s.s_stat,
           (CAST(n.nd AS DOUBLE) * (n.nd - 1) * (2 * n.nd + 5)
              - ties.tie_term) / 18.0 AS var_s,
           CASE WHEN s.s_stat > 0
                THEN (s.s_stat - 1.0)
                     / sqrt((CAST(n.nd AS DOUBLE) * (n.nd - 1)
                             * (2 * n.nd + 5) - ties.tie_term) / 18.0)
                WHEN s.s_stat < 0
                THEN (s.s_stat + 1.0)
                     / sqrt((CAST(n.nd AS DOUBLE) * (n.nd - 1)
                             * (2 * n.nd + 5) - ties.tie_term) / 18.0)
                ELSE 0.0 END AS z
    FROM s JOIN n ON n.event_type = s.event_type
    JOIN ties ON ties.event_type = s.event_type
    ORDER BY s.event_type
    """,
)
def mann_kendall_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts").cast("bigint") / F.lit(86400))
        .cast("bigint")
        .alias("d"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    a, b = daily.alias("a"), daily.alias("b")
    s = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.d") < F.col("b.d")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(
                F.when(F.col("b.c") > F.col("a.c"), 1)
                .when(F.col("b.c") < F.col("a.c"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    n = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("nd")
    )
    ties = (
        daily.groupBy("event_type", "c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    var_s = (
        F.col("nd").cast("double")
        * (F.col("nd") - 1)
        * (2 * F.col("nd") + 5)
        - F.col("tie_term")
    ) / F.lit(18.0)
    z = (
        F.when(
            F.col("s_stat") > 0,
            (F.col("s_stat") - F.lit(1.0)) / F.sqrt(var_s),
        )
        .when(
            F.col("s_stat") < 0,
            (F.col("s_stat") + F.lit(1.0)) / F.sqrt(var_s),
        )
        .otherwise(F.lit(0.0))
    )
    return (
        s.join(n, "event_type")
        .join(ties, "event_type")
        .select(
            "event_type",
            F.col("nd").alias("n_days"),
            "s_stat",
            var_s.alias("var_s"),
            z.alias("z"),
        )
        .orderBy("event_type")
    )
