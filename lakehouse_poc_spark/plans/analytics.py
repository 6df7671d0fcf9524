"""Analytics queries: windows, set ops, rollup/pivot, sessionization,
as-of & range joins, JSON extraction, scalar-function surface.

Covers the remaining SURVEY.md §2 rows not exercised by tpch.py
(W1 windows, U1 set ops, X1-X7 scalars, A2/A3 dedup idioms) plus the
extended operators (as-of join, range join, sessionization, JSON).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.asof import asof_join
from ..operators.dedup_latest import dedup_latest
from ..operators.range_join import band_join
from ..operators.sessionize import sessionize
from ..sources.readers import read_parquet_table
from . import query
from .tpch import dsum, sql_dsum


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Reference A3/W1: dedup-latest argmax (pipeline_core.py:95-106) on events.
@query(
    "dedup_latest_events",
    oracle="""
    SELECT user_id, event_id, event_type, value
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    ORDER BY user_id
    """,
)
def dedup_latest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return dedup_latest(ev, keys=["user_id"], order_by=["ts", "event_id"]).select(
        "user_id", "event_id", "event_type", "value"
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# Running total per customer (window frame, exact via decimal sum).
@query(
    "window_running_total",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_total
    FROM orders
    ORDER BY o_custkey, o_orderkey
    """,
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        orders.select(
            "o_orderkey",
            "o_custkey",
            F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
            .over(w)
            .cast("double")
            .alias("running_total"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


# ---------------------------------------------------------------------------
# Top-3 parts by revenue within each brand (rank window + filter).
@query(
    "window_topk_per_brand",
    oracle=f"""
    WITH part_rev AS (
        SELECT p_brand, p_partkey, {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand, p_partkey
    )
    SELECT p_brand, p_partkey, revenue, rk
    FROM (
        SELECT *, row_number() OVER (PARTITION BY p_brand ORDER BY revenue DESC, p_partkey) AS rk
        FROM part_rev
    ) t
    WHERE rk <= 3
    ORDER BY p_brand, rk
    """,
)
def window_topk_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_partkey")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )
    w = Window.partitionBy("p_brand").orderBy(F.desc("revenue"), F.asc("p_partkey"))
    return (
        rev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .orderBy("p_brand", "rk")
    )


# ---------------------------------------------------------------------------
# lag/lead: average days between consecutive orders per customer.
@query(
    "window_order_gaps",
    oracle="""
    WITH gaps AS (
        SELECT o_custkey,
               date_diff('day',
                         CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DATE),
                         CAST(o_orderdate AS DATE)) AS gap_days
        FROM orders
    )
    SELECT o_custkey,
           COUNT(gap_days) AS n_gaps,
           CAST(SUM(gap_days) AS DOUBLE) / COUNT(gap_days) AS avg_gap_days,
           MAX(gap_days) AS max_gap_days
    FROM gaps
    WHERE gap_days IS NOT NULL
    GROUP BY o_custkey
    ORDER BY o_custkey
    """,
)
def window_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate")).over(w).cast("date"),
        ).alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())
    return (
        gaps.groupBy("o_custkey")
        .agg(
            F.count("gap_days").alias("n_gaps"),
            (F.sum("gap_days").cast("double") / F.count("gap_days")).alias("avg_gap_days"),
            F.max("gap_days").alias("max_gap_days"),
        )
        .orderBy("o_custkey")
    )


# ---------------------------------------------------------------------------
# ntile + percent_rank: account-balance quartiles per nation.
@query(
    "window_balance_quartiles",
    oracle="""
    SELECT c_custkey, c_nationkey,
           ntile(4)       OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS quartile,
           percent_rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS pr
    FROM customer
    ORDER BY c_nationkey, quartile, c_custkey
    """,
)
def window_balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return cust.select(
        "c_custkey",
        "c_nationkey",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pr"),
    ).orderBy("c_nationkey", "quartile", "c_custkey")


# ---------------------------------------------------------------------------
# Set operations (U1 unionByName generalized: INTERSECT / EXCEPT / UNION).
@query(
    "set_ops_customers",
    oracle="""
    WITH y96 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'),
         y97 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
    SELECT 'both' AS cohort, COUNT(*) AS n FROM (SELECT * FROM y96 INTERSECT SELECT * FROM y97) t
    UNION ALL
    SELECT 'only_1996', COUNT(*) FROM (SELECT * FROM y96 EXCEPT SELECT * FROM y97) t
    UNION ALL
    SELECT 'only_1997', COUNT(*) FROM (SELECT * FROM y97 EXCEPT SELECT * FROM y96) t
    UNION ALL
    SELECT 'either', COUNT(*) FROM (SELECT * FROM y96 UNION SELECT * FROM y97) t
    ORDER BY cohort
    """,
)
def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")

    def year_keys(y: int) -> DataFrame:
        return (
            orders.filter(
                (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp"))
            )
            .select("o_custkey")
            .distinct()
        )

    y96, y97 = year_keys(1996), year_keys(1997)
    rows = [
        y96.intersect(y97).agg(F.lit("both").alias("cohort"), F.count(F.lit(1)).alias("n")),
        y96.exceptAll(y97).distinct().agg(F.lit("only_1996").alias("cohort"), F.count(F.lit(1)).alias("n")),
        y97.exceptAll(y96).distinct().agg(F.lit("only_1997").alias("cohort"), F.count(F.lit(1)).alias("n")),
        y96.union(y97).distinct().agg(F.lit("either").alias("cohort"), F.count(F.lit(1)).alias("n")),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("cohort")


# ---------------------------------------------------------------------------
# ROLLUP with grouping-id (hierarchical totals).
@query(
    "rollup_revenue",
    oracle=f"""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY gid, returnflag, linestatus
    """,
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "gid",
            "revenue",
            "n_rows",
        )
        .orderBy("gid", "returnflag", "linestatus")
    )


# ---------------------------------------------------------------------------
# CUBE over two dimensions (all 4 grouping combinations).
@query(
    "cube_order_priority",
    oracle="""
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY gid, status, priority
    """,
)
def cube_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(30,6)")).cast("double").alias(
                "total_price"
            ),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "gid",
            "n",
            "total_price",
        )
        .orderBy("gid", "status", "priority")
    )


# ---------------------------------------------------------------------------
# GROUPING SETS (explicit set list — the general form rollup/cube
# compile to), via the SQL surface over a registered temp view.
@query(
    "grouping_sets_revenue",
    oracle=f"""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(CAST(EXTRACT(year FROM l_shipdate) AS VARCHAR), 'ALL') AS ship_year,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (EXTRACT(year FROM l_shipdate)))
    ORDER BY returnflag, ship_year
    """,
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("__gs_lineitem")
    return spark.sql(
        """
        SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
               COALESCE(CAST(year(l_shipdate) AS STRING), 'ALL') AS ship_year,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
        FROM __gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (year(l_shipdate)))
        ORDER BY returnflag, ship_year
        """
    )


# ---------------------------------------------------------------------------
# Exact discrete percentiles (percentile_disc picks actual values —
# no interpolation arithmetic, so both engines agree bit-for-bit).
@query(
    "percentiles_order_price",
    oracle="""
    SELECT o_orderstatus,
           quantile_disc(o_totalprice, 0.25) AS p25,
           quantile_disc(o_totalprice, 0.5) AS p50,
           quantile_disc(o_totalprice, 0.75) AS p75,
           MAX(o_totalprice) AS p100
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def percentiles_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__pct_orders")
    return spark.sql(
        """
        SELECT o_orderstatus,
               percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS p25,
               percentile_disc(0.5)  WITHIN GROUP (ORDER BY o_totalprice) AS p50,
               percentile_disc(0.75) WITHIN GROUP (ORDER BY o_totalprice) AS p75,
               MAX(o_totalprice) AS p100
        FROM __pct_orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
        """
    )


# ---------------------------------------------------------------------------
# HyperLogLog++ approximate distinct counts. At 100 TB the sketch is
# the only sane distinct-cardinality path — it merges map-side in
# constant memory while exact COUNT DISTINCT shuffles every key.
#
# Oracle strategy: the raw HLL estimate is engine-specific, so the
# checked surface emits (a) the exact count — a 1:1 DuckDB twin — and
# (b) a boolean asserting the HLL estimate landed within 5% of it
# (DuckDB side: literal TRUE). Spark's HLL++ is deterministic for a
# given input, so the boolean is stable run-to-run; the estimate's
# numeric value is additionally bounded in tests/test_operators.py.
@query(
    "approx_distinct_users",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           COUNT(*) AS n_events,
           TRUE AS approx_within_5pct
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("_approx_users"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        "n_events",
        (
            F.abs(F.col("_approx_users") - F.col("exact_users"))
            / F.col("exact_users")
            < F.lit(0.05)
        ).alias("approx_within_5pct"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# EXACT distinct counts at scale via RoaringBitmap-style aggregation
# (Spark 3.5+ bitmap functions). The 100 TB exact-NDV path when the
# HLL estimate above isn't acceptable: map each key to (bucket, bit),
# build per-(group, bucket) bitmaps with map-side partial aggregation,
# OR-merge, and count bits. Unlike COUNT(DISTINCT) — which shuffles
# every raw key to a single per-group reducer — this shuffles only
# bitmap segments (≤ 4 KB per bucket regardless of row count), is
# fully mergeable (two-level agg), and parallelizes within a group
# across buckets, so one hot group cannot straggle a reducer.
@query(
    "bitmap_distinct_users",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    per_bucket = (
        ev.select(
            "event_type",
            F.bitmap_bucket_number(F.col("user_id")).alias("bucket"),
            F.bitmap_bit_position(F.col("user_id")).alias("pos"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.bitmap_construct_agg(F.col("pos")).alias("bm"))
    )
    return (
        per_bucket.groupBy("event_type")
        .agg(F.sum(F.bitmap_count(F.col("bm"))).alias("n_users"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Skew-safe two-phase (salted) aggregation — identical result to the
# direct groupBy, but a hot key splits across n_salts reducers.
@query(
    "salted_agg_events",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n, {sql_dsum('value', 'total_value')}
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def salted_agg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_agg

    ev = _t(spark, sf_dir, "events")
    return salted_agg(
        ev, keys=["event_type"], spread_col="event_id", n_salts=16
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Skew-safe salted JOIN — the join-side companion to salted_agg: the
# dim side replicates n_salts×, the fact side's hot keys split across
# (key, salt) reducers. Oracle is the plain join; the results are
# identical row-for-row for any salt count.
@query(
    "salted_join_event_revenue",
    oracle=f"""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_events,
           {sql_dsum('e.value', 'total_value')}
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
)
def salted_join_event_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salted_join(ev, cust, key="user_id", salt_src="event_id", n_salts=8)
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("total_value"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Bloom-filter join pruning: a selective customer slice joins the
# events fact; the Bloom prefilter drops non-matching fact rows at
# the scan, BEFORE the join shuffle (operators/bloomjoin.py — the
# explicit twin of Spark's runtime row-level filtering). False
# positives are removed by the exact join, so the result is
# bit-identical to the plain join the oracle runs.
@query(
    "bloom_join_event_revenue",
    oracle=f"""
    SELECT n.n_name,
           COUNT(*) AS n_events,
           {sql_dsum('e.value', 'total_value')}
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_mktsegment = 'MACHINERY' AND c.c_acctbal > 5000
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
)
def bloom_join_event_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bloomjoin import bloom_prefilter

    ev = _t(spark, sf_dir, "events").select("user_id", "value")
    cust = (
        _t(spark, sf_dir, "customer")
        .filter((F.col("c_mktsegment") == "MACHINERY") & (F.col("c_acctbal") > 5000))
        .select(F.col("c_custkey").alias("user_id"), "c_nationkey")
    )
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pruned = bloom_prefilter(ev, cust, "user_id", "user_id")
    return (
        pruned.join(F.broadcast(cust), "user_id")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), "total_value"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Pivot: revenue by return flag, line statuses as columns.
@query(
    "pivot_linestatus",
    oracle=f"""
    SELECT l_returnflag,
           {sql_dsum("CASE WHEN l_linestatus = 'O' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END", 'rev_O')},
           {sql_dsum("CASE WHEN l_linestatus = 'F' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END", 'rev_F')}
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def pivot_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(30,6)")
    piv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(rev).cast("double"))
    )
    return piv.select(
        "l_returnflag",
        F.coalesce(F.col("O"), F.lit(0.0)).alias("rev_O"),
        F.coalesce(F.col("F"), F.lit(0.0)).alias("rev_F"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# JSON property extraction from events.props (X-surface extension).
@query(
    "json_props_extract",
    oracle=f"""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           COUNT(*) AS n,
           {sql_dsum('value', 'total_value')}
    FROM events
    GROUP BY CAST(json_extract_string(props, '$.k') AS BIGINT) % 10
    ORDER BY k_bucket
    """,
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.groupBy((k % 10).alias("k_bucket"))
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value"), "total_value"))
        .orderBy("k_bucket")
    )


# ---------------------------------------------------------------------------
# Tumbling hourly window (batch twin of the streaming query).
@query(
    "tumbling_hourly_events",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
           event_type,
           COUNT(*) AS n,
           {sql_dsum('value', 'total_value')}
    FROM events
    GROUP BY time_bucket(INTERVAL 1 HOUR, ts), event_type
    ORDER BY hour_start, event_type
    """,
)
def tumbling_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value"), "total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type",
            "n",
            "total_value",
        )
        .orderBy("hour_start", "event_type")
    )


# ---------------------------------------------------------------------------
# Sessionization (gap-based), then per-user session stats.
@query(
    "sessionize_events",
    oracle="""
    WITH s AS (
        SELECT user_id, event_id,
               SUM(CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM (
            SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                   lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
            FROM events
        ) t
    )
    SELECT user_id,
           CAST(MAX(session_id) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM s
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Session gap compared in integer microseconds on both engines so
    # threshold crossings can never disagree on float rounding.
    ev = _t(spark, sf_dir, "events").withColumn("ts_us", F.unix_micros("ts"))
    with_sid = sessionize(
        ev, keys=["user_id"], ts_col="ts_us", gap=1800000000, tiebreak=["event_id"]
    )
    return (
        with_sid.groupBy("user_id")
        .agg(F.max("session_id").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# As-of join: each event matched to the user's latest order at-or-before
# the event time (backward inclusive). Orders deduped to one row per
# (custkey, orderdate) first so ties are deterministic.
@query(
    "asof_events_orders",
    oracle="""
    WITH r AS (
        SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS matched_orderkey
        FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, r.matched_orderkey,
           strftime(r.o_orderdate, '%Y-%m-%d') AS matched_date
    FROM events e
    ASOF LEFT JOIN r ON e.user_id = r.o_custkey AND r.o_orderdate <= e.ts
    ORDER BY e.event_id
    """,
)
def asof_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("matched_orderkey"))
    )
    joined = asof_join(
        ev,
        orders.withColumn("matched_date", F.date_format("o_orderdate", "yyyy-MM-dd")),
        left_on="ts",
        right_on="o_orderdate",
        by_left=["user_id"],
        by_right=["o_custkey"],
        right_payload=["matched_orderkey", "matched_date"],
    )
    return joined.select("event_id", "user_id", "matched_orderkey", "matched_date").orderBy(
        "event_id"
    )


# ---------------------------------------------------------------------------
# Strict (<) as-of join: same attribution shape, but an order placed at
# EXACTLY the event timestamp is not yet visible (event-attribution
# semantics: cause must precede effect).
@query(
    "asof_strict_events_orders",
    oracle="""
    WITH r AS (
        SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS matched_orderkey
        FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, r.matched_orderkey,
           strftime(r.o_orderdate, '%Y-%m-%d') AS matched_date
    FROM events e
    ASOF LEFT JOIN r ON e.user_id = r.o_custkey AND r.o_orderdate < e.ts
    ORDER BY e.event_id
    """,
)
def asof_strict_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("matched_orderkey"))
    )
    joined = asof_join(
        ev,
        orders.withColumn("matched_date", F.date_format("o_orderdate", "yyyy-MM-dd")),
        left_on="ts",
        right_on="o_orderdate",
        by_left=["user_id"],
        by_right=["o_custkey"],
        right_payload=["matched_orderkey", "matched_date"],
        strict=True,
    )
    return joined.select("event_id", "user_id", "matched_orderkey", "matched_date").orderBy(
        "event_id"
    )


# ---------------------------------------------------------------------------
# Forward as-of join: each event matched to the user's NEXT order at or
# after the event time (lead attribution: which order did this event
# precede?).
@query(
    "asof_forward_events_orders",
    oracle="""
    WITH r AS (
        SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS matched_orderkey
        FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, r.matched_orderkey,
           strftime(r.o_orderdate, '%Y-%m-%d') AS matched_date
    FROM events e
    ASOF LEFT JOIN r ON e.user_id = r.o_custkey AND r.o_orderdate >= e.ts
    ORDER BY e.event_id
    """,
)
def asof_forward_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("matched_orderkey"))
    )
    joined = asof_join(
        ev,
        orders.withColumn("matched_date", F.date_format("o_orderdate", "yyyy-MM-dd")),
        left_on="ts",
        right_on="o_orderdate",
        by_left=["user_id"],
        by_right=["o_custkey"],
        right_payload=["matched_orderkey", "matched_date"],
        direction="forward",
    )
    return joined.select("event_id", "user_id", "matched_orderkey", "matched_date").orderBy(
        "event_id"
    )


# ---------------------------------------------------------------------------
# Nearest as-of join: each event matched to the user's time-closest
# order (equidistant → backward). DuckDB has no nearest ASOF, so the
# oracle composes a backward and a forward ASOF join and picks the
# closer side with the same microsecond arithmetic.
@query(
    "asof_nearest_events_orders",
    oracle="""
    WITH r AS (
        SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS matched_orderkey
        FROM orders GROUP BY o_custkey, o_orderdate
    ),
    b AS (
        SELECT e.event_id, e.user_id, e.ts,
               r.matched_orderkey AS bk, r.o_orderdate AS bt
        FROM events e
        ASOF LEFT JOIN r ON e.user_id = r.o_custkey AND r.o_orderdate <= e.ts
    ),
    f AS (
        SELECT e.event_id, r.matched_orderkey AS fk, r.o_orderdate AS ft
        FROM events e
        ASOF LEFT JOIN r ON e.user_id = r.o_custkey AND r.o_orderdate >= e.ts
    )
    SELECT b.event_id, b.user_id,
           CASE WHEN ft IS NULL THEN bk
                WHEN bt IS NULL THEN fk
                WHEN epoch_us(b.ts) - epoch_us(bt) <= epoch_us(ft) - epoch_us(b.ts)
                     THEN bk
                ELSE fk END AS matched_orderkey,
           strftime(
               CASE WHEN ft IS NULL THEN bt
                    WHEN bt IS NULL THEN ft
                    WHEN epoch_us(b.ts) - epoch_us(bt) <= epoch_us(ft) - epoch_us(b.ts)
                         THEN bt
                    ELSE ft END,
               '%Y-%m-%d') AS matched_date
    FROM b JOIN f USING (event_id)
    ORDER BY b.event_id
    """,
)
def asof_nearest_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("matched_orderkey"))
    )
    joined = asof_join(
        ev,
        orders.withColumn("matched_date", F.date_format("o_orderdate", "yyyy-MM-dd")),
        left_on="ts",
        right_on="o_orderdate",
        by_left=["user_id"],
        by_right=["o_custkey"],
        right_payload=["matched_orderkey", "matched_date"],
        direction="nearest",
    )
    return joined.select("event_id", "user_id", "matched_orderkey", "matched_date").orderBy(
        "event_id"
    )


# ---------------------------------------------------------------------------
# Range (band) join: event values bucketed into static bands.
@query(
    "band_join_event_values",
    oracle=f"""
    SELECT band, COUNT(*) AS n, {sql_dsum('value', 'total_value')}
    FROM events
    JOIN (VALUES (0.0, 50.0, 'b0_50'), (50.0, 100.0, 'b50_100'),
                 (100.0, 150.0, 'b100_150'), (150.0, 200.0, 'b150_200'),
                 (200.0, 1000000.0, 'b200_plus')) AS bands(lo, hi, band)
      ON value >= lo AND value < hi
    GROUP BY band
    ORDER BY band
    """,
)
def band_join_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    bands = ev.sparkSession.createDataFrame(
        [
            (0.0, 50.0, "b0_50"),
            (50.0, 100.0, "b50_100"),
            (100.0, 150.0, "b100_150"),
            (150.0, 200.0, "b150_200"),
            (200.0, 1000000.0, "b200_plus"),
        ],
        "lo double, hi double, band string",
    )
    return (
        band_join(ev, bands, value_col="value")
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value"), "total_value"))
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# Scalar-function surface (X1-X7): string / conditional / math built-ins.
@query(
    "scalar_functions_showcase",
    oracle="""
    SELECT c_custkey,
           trim(upper(c_name)) AS name_up,
           substring(c_name, 1, 8) AS name_prefix,
           c_name || '|' || c_mktsegment AS name_seg,
           length(c_name) AS name_len,
           CASE WHEN c_acctbal >= 5000 THEN 'high'
                WHEN c_acctbal >= 0 THEN 'mid'
                ELSE 'neg' END AS bal_class,
           CAST(floor(c_acctbal) AS BIGINT) AS bal_floor,
           CAST(ceil(c_acctbal) AS BIGINT) AS bal_ceil,
           abs(c_acctbal) AS bal_abs,
           c_custkey % 7 AS key_mod
    FROM customer
    ORDER BY c_custkey
    """,
)
def scalar_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.trim(F.upper("c_name")).alias("name_up"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.concat(F.col("c_name"), F.lit("|"), F.col("c_mktsegment")).alias("name_seg"),
        F.length("c_name").cast("bigint").alias("name_len"),
        F.when(F.col("c_acctbal") >= 5000, "high")
        .when(F.col("c_acctbal") >= 0, "mid")
        .otherwise("neg")
        .alias("bal_class"),
        F.floor("c_acctbal").cast("bigint").alias("bal_floor"),
        F.ceil("c_acctbal").cast("bigint").alias("bal_ceil"),
        F.abs("c_acctbal").alias("bal_abs"),
        (F.col("c_custkey") % 7).alias("key_mod"),
    ).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# Time-range window: trailing-7-day spend per user at every event —
# RANGE frames over event-time seconds (vs the ROWS frames above).
@query(
    "window_trailing_7d_user",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(30,6)))
                OVER (PARTITION BY user_id ORDER BY epoch(ts)
                      RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS trailing_7d
    FROM events
    ORDER BY user_id, event_id
    """,
)
def window_trailing_7d_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-604800, 0)
    )
    return (
        events.select(
            "event_id",
            "user_id",
            F.sum(F.col("value").cast("decimal(30,6)"))
            .over(w)
            .cast("double")
            .alias("trailing_7d"),
        )
        .orderBy("user_id", "event_id")
    )


# ---------------------------------------------------------------------------
# Exact rolling 7-day active users per day. Sliding distinct counts
# don't compose as window aggregates; the scale-correct exact form
# maps each (user, day) onto the 7 days it contributes to (bounded
# 7x explode of the ALREADY distinct-reduced pairs), then counts
# distinct per day — never a per-day self-join over raw events.
@query(
    "rolling_wau_events",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
        FROM events
    ),
    days AS (SELECT DISTINCT d FROM ud)
    SELECT strftime(days.d, '%Y-%m-%d') AS day,
           CAST(COUNT(DISTINCT ud.user_id) AS BIGINT) AS wau
    FROM days JOIN ud ON ud.d BETWEEN days.d - 6 AND days.d
    GROUP BY days.d
    ORDER BY day
    """,
)
def rolling_wau_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    ud = events.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).distinct()
    days = ud.select("d").distinct()
    contributes = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
        ).alias("day"),
    )
    return (
        contributes.join(days.withColumnRenamed("d", "day"), "day", "left_semi")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"), "wau")
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# UNPIVOT (melt): wide per-priority measures to long (measure, value)
# form — the inverse of pivot_linestatus. DataFrame.unpivot is a
# zero-shuffle Expand over the aggregate (rows × #measures), same
# shape as rollup's Expand; the melt itself never re-shuffles.
@query(
    "unpivot_order_measures",
    oracle=f"""
    WITH w AS (
        SELECT o_orderpriority,
               CAST(COUNT(*) AS DOUBLE) AS n_orders,
               {sql_dsum('o_totalprice', 'total_price')},
               CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS avg_price
        FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, measure, value
    FROM w UNPIVOT (value FOR measure IN (n_orders, total_price, avg_price))
    ORDER BY o_orderpriority, measure
    """,
)
def unpivot_order_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    wide = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(30,6)")).cast("double").alias("total_price"),
        (
            F.sum(F.col("o_totalprice").cast("decimal(30,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_price"),
    )
    return wide.unpivot(
        ids=["o_orderpriority"],
        values=["n_orders", "total_price", "avg_price"],
        variableColumnName="measure",
        valueColumnName="value",
    ).orderBy("o_orderpriority", "measure")


# ---------------------------------------------------------------------------
# VariantType semi-structured path (Spark 4): parse the JSON props
# ONCE into a binary variant, then do typed extractions from it —
# the scale replacement for repeated get_json_object string re-parses
# (variant decode is a byte-offset lookup, not a JSON parse, and the
# parse happens a single time per row inside one projection). The
# oracle is ordinary JSON SQL; results must be identical.
@query(
    "variant_props_extract",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 5 AS k_bucket,
           COUNT(*) AS n,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    GROUP BY 1
    ORDER BY k_bucket
    """,
)
def variant_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    parsed = ev.select(F.parse_json("props").alias("v"))
    k = F.variant_get(F.col("v"), "$.k", "bigint")
    return (
        parsed.groupBy((k % 5).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
        )
        .orderBy("k_bucket")
    )


# ---------------------------------------------------------------------------
# Time-hierarchy rollup (hypertable-style): year → month subtotals and
# grand total in ONE pass — a single Expand + two-stage aggregate, so
# one shuffle serves every grain. Ordering and grouping_id are pinned
# (NULLS FIRST, gid = 2*grouping(y)+grouping(m)) so the oracle matches
# row-for-row.
@query(
    "time_rollup_orders",
    oracle=f"""
    SELECT CAST(2 * GROUPING(y) + GROUPING(m) AS BIGINT) AS gid,
           y, m,
           COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice', 'total_price')}
    FROM (
        SELECT CAST(strftime(o_orderdate, '%Y') AS BIGINT) AS y,
               CAST(strftime(o_orderdate, '%m') AS BIGINT) AS m,
               o_totalprice
        FROM orders
    )
    GROUP BY ROLLUP (y, m)
    ORDER BY gid DESC, y NULLS FIRST, m NULLS FIRST
    """,
)
def time_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    base = orders.select(
        F.year("o_orderdate").cast("bigint").alias("y"),
        F.month("o_orderdate").cast("bigint").alias("m"),
        "o_totalprice",
    )
    return (
        base.rollup("y", "m")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "total_price"),
        )
        .select("gid", "y", "m", "n_orders", "total_price")
        .orderBy(F.desc("gid"), F.asc_nulls_first("y"), F.asc_nulls_first("m"))
    )


# ---------------------------------------------------------------------------
# Ratio-to-report: each nation's share of its region's revenue — the
# window-over-aggregate idiom. One shuffle for the per-nation
# aggregate (post-partial), one window partitioned by region (25
# rows); the region/nation dims broadcast onto customers.
@query(
    "revenue_share_by_nation",
    oracle=f"""
    WITH nat AS (
        SELECT r.r_name AS region, n.n_name AS nation,
               {sql_dsum('o_totalprice', 'revenue')}
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, n.n_name
    )
    SELECT region, nation, revenue,
           revenue / CAST(SUM(CAST(revenue AS DECIMAL(30,6)))
                          OVER (PARTITION BY region) AS DOUBLE) AS region_share
    FROM nat
    ORDER BY region, nation
    """,
)
def revenue_share_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    nat = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(dsum(F.col("o_totalprice"), "revenue"))
    )
    w = Window.partitionBy("region")
    return nat.select(
        "region",
        "nation",
        "revenue",
        # the window total accumulates in decimal: a double SUM OVER
        # sums in partition-row order, which is engine- and
        # partitioning-dependent in the last bits (bit us in r4 when
        # the fixtures regenerated)
        (
            F.col("revenue")
            / F.sum(F.col("revenue").cast("decimal(30,6)")).over(w).cast("double")
        ).alias("region_share"),
    ).orderBy("region", "nation")


# ---------------------------------------------------------------------------
# Event transition matrix: Markov counts between consecutive event
# types per user (lag window → pair counts). One shuffle on user_id
# for the ordering window, one post-partial shuffle on the 25-cell
# pair key — the standard sequence-model feature extraction.
@query(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_type
        FROM events
    )
    SELECT prev_type, event_type AS next_type,
           CAST(COUNT(*) AS BIGINT) AS n_transitions,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM seq
    WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    ORDER BY prev_type, next_type
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    return (
        seq.groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("prev_type", "next_type")
    )


# ---------------------------------------------------------------------------
# Interval×interval overlap join (operators/range_join.py::
# interval_overlap_join — the big×big range-join member; band_join is
# point×small):
# per supplier, how many pairs of its shipments were in flight
# concurrently ([ship, receipt] ranges intersect). Both sides burst
# into ~2 month-buckets per row, the join runs keyed on
# (suppkey, bucket), each pair is emitted once via the lowest shared
# bucket — never an unkeyed cross, never a distinct shuffle. The
# oracle is the textbook inequality self-join.
@query(
    "concurrent_shipments_suppliers",
    oracle="""
    WITH it AS (
        -- the fixture has no receiptdate; transit time is derived
        -- deterministically from quantity (0-19 days) on BOTH engines.
        -- Scoped to one ship-year: the pair count is quadratic in
        -- items-per-(supplier, time-neighborhood), so the unscoped
        -- 7-year self-pairing is deliberately out of the headline set.
        SELECT l_suppkey,
               l_orderkey * 10 + l_linenumber AS iid,
               date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)) AS s,
               date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))
                 + (CAST(l_quantity AS INTEGER) % 20) AS e
        FROM lineitem
        WHERE CAST(l_shipdate AS DATE) >= DATE '1995-01-01'
          AND CAST(l_shipdate AS DATE) <  DATE '1996-01-01'
    )
    SELECT a.l_suppkey AS suppkey, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM it a JOIN it b
      ON a.l_suppkey = b.l_suppkey AND a.iid < b.iid
     AND a.s <= b.e AND b.s <= a.e
    GROUP BY a.l_suppkey
    ORDER BY suppkey
    """,
)
def concurrent_shipments_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.range_join import interval_overlap_join

    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("date") >= F.lit("1995-01-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("1996-01-01").cast("date"))
    )
    s = F.datediff(F.col("l_shipdate").cast("date"), F.lit("1992-01-01").cast("date"))
    items = li.select(
        "l_suppkey",
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("iid"),
        s.alias("s"),
        (s + (F.col("l_quantity").cast("int") % 20)).alias("e"),
    )
    a = items.select(
        "l_suppkey",
        F.col("iid").alias("iid_a"),
        F.col("s").alias("s_a"),
        F.col("e").alias("e_a"),
    )
    b = items.select(
        "l_suppkey",
        F.col("iid").alias("iid_b"),
        F.col("s").alias("s_b"),
        F.col("e").alias("e_b"),
    )
    joined = interval_overlap_join(
        a, b, keys=["l_suppkey"], left_lo="s_a", left_hi="e_a",
        right_lo="s_b", right_hi="e_b", bucket_width=30,
    )
    return (
        joined.filter(F.col("iid_a") < F.col("iid_b"))
        .groupBy(F.col("L.l_suppkey").alias("suppkey"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("suppkey")
    )


# ---------------------------------------------------------------------------
# Numeric column-profile: the Pearson correlation matrix of the
# lineitem measures from ONE scan of exact sufficient statistics —
# the data-profiling pass a feature-engineering / data-quality audit
# runs before training (e.g. "is discount independent of quantity?").
#
# Determinism: built-in CORR() accumulates doubles in partition order
# (non-deterministic across engines AND partition counts), so instead
# every Σx, Σx², Σxy accumulates in DECIMAL(30,6) (exact, commutative;
# the repo convention) and the correlation is derived from those exact
# aggregates in one fixed-order double expression — bit-identical on
# both engines.
#
# Scale shape: a single map-side-combined scan producing ONE 16-column
# row (no shuffle beyond the 1-row final agg), then a driverless
# explode to the 6 pair rows. At 100 TB this is the cheapest possible
# profile: one pass, zero data-sized shuffles.
#
# Measured cost note (local[32], sf0.1): the 15 DECIMAL(30,6) sums are
# ~2.4x a long-sum formulation (3.4 s vs 1.4 s) — Spark's >18-digit
# decimals take the unscaled BigDecimal path. A milli-int long
# formulation was measured and REJECTED: sum(round(price^2*1000))
# reaches 7e18 at sf0.1 — within 25% of int64 overflow, and over it
# one scale-up later. At cluster scale the pass is I/O-bound and the
# decimal CPU hides behind the scan, so exactness wins.
_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
_CORR_PAIRS = [
    (a, b)
    for i, a in enumerate(_CORR_COLS)
    for b in _CORR_COLS[i + 1 :]
]


def _corr_oracle() -> str:
    sums = ["CAST(COUNT(*) AS DOUBLE) AS n"]
    for c in _CORR_COLS:
        sums.append(f"CAST(SUM(CAST({c} AS DECIMAL(30,6))) AS DOUBLE) AS s_{c}")
        sums.append(
            f"CAST(SUM(CAST({c} * {c} AS DECIMAL(30,6))) AS DOUBLE) AS ss_{c}"
        )
    for x, y in _CORR_PAIRS:
        sums.append(
            f"CAST(SUM(CAST({x} * {y} AS DECIMAL(30,6))) AS DOUBLE) AS sp_{x}_{y}"
        )
    arms = []
    for x, y in _CORR_PAIRS:
        arms.append(
            f"SELECT '{x}' AS col_x, '{y}' AS col_y, "
            f"(n * sp_{x}_{y} - s_{x} * s_{y}) "
            f"/ sqrt((n * ss_{x} - s_{x} * s_{x}) * (n * ss_{y} - s_{y} * s_{y})) "
            f"AS corr_r FROM s"
        )
    return (
        "WITH s AS (SELECT " + ", ".join(sums) + " FROM lineitem) "
        + " UNION ALL ".join(arms)
        + " ORDER BY col_x, col_y"
    )


@query("corr_profile_lineitem", oracle=_corr_oracle())
def corr_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_parquet_table(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for c in _CORR_COLS:
        aggs.append(
            F.sum(F.col(c).cast("decimal(30,6)")).cast("double").alias(f"s_{c}")
        )
        aggs.append(
            F.sum((F.col(c) * F.col(c)).cast("decimal(30,6)"))
            .cast("double")
            .alias(f"ss_{c}")
        )
    for x, y in _CORR_PAIRS:
        aggs.append(
            F.sum((F.col(x) * F.col(y)).cast("decimal(30,6)"))
            .cast("double")
            .alias(f"sp_{x}_{y}")
        )
    stats = li.agg(*aggs)
    n = F.col("n")
    pair_structs = []
    for x, y in _CORR_PAIRS:
        sx, sy = F.col(f"s_{x}"), F.col(f"s_{y}")
        ssx, ssy = F.col(f"ss_{x}"), F.col(f"ss_{y}")
        sp = F.col(f"sp_{x}_{y}")
        corr = (n * sp - sx * sy) / F.sqrt(
            (n * ssx - sx * sx) * (n * ssy - sy * sy)
        )
        pair_structs.append(
            F.struct(
                F.lit(x).alias("col_x"),
                F.lit(y).alias("col_y"),
                corr.alias("corr_r"),
            )
        )
    return (
        stats.select(F.explode(F.array(*pair_structs)).alias("p"))
        .select("p.*")
        .orderBy("col_x", "col_y")
    )


# ---------------------------------------------------------------------------
# Dialect-portable SQL surface: ONE SQL string (CTEs, join, decimal-
# exact aggregate, ranked window, top-N filter) executed VERBATIM by
# both engines — Spark runs it through spark.sql over the registered
# temp views (reference K4 surface), DuckDB runs the identical text as
# the oracle. The proof that a SQL-first user can bring existing
# ANSI-SQL to this engine unchanged when they stay on the portable
# subset the determinism conventions define (plans/__init__.py).
_SQL_SHOWCASE = """
WITH rev AS (
    SELECT o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS spend,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_custkey
),
ranked AS (
    SELECT c.c_mktsegment, r.o_custkey AS custkey, r.spend, r.n_orders,
           CAST(row_number() OVER (
               PARTITION BY c.c_mktsegment
               ORDER BY r.spend DESC, r.o_custkey
           ) AS BIGINT) AS rnk
    FROM rev r JOIN customer c ON c.c_custkey = r.o_custkey
)
SELECT c_mktsegment, custkey, spend, n_orders, rnk
FROM ranked WHERE rnk <= 5
ORDER BY c_mktsegment, rnk
"""


@query("sql_surface_top_spenders", oracle=_SQL_SHOWCASE)
def sql_surface_top_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_SHOWCASE)


# ---------------------------------------------------------------------------
# Skyline / Pareto frontier: parts that are not dominated on
# (cheapest retail price, largest size). The oracle is the textbook
# quadratic NOT-EXISTS dominance join; the Spark path computes the
# identical frontier with the 2D sweep in operators/skyline.py —
# one x-group agg + block-offset prefix max, no pair blowup.
@query(
    "skyline_parts",
    oracle=r"""
    SELECT p_partkey,
           CAST(p_retailprice AS DOUBLE) AS p_retailprice,
           CAST(p_size AS BIGINT) AS p_size
    FROM part a
    WHERE NOT EXISTS (
        SELECT 1 FROM part b
        WHERE b.p_retailprice <= a.p_retailprice
          AND b.p_size >= a.p_size
          AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size)
    )
    ORDER BY p_partkey
    """,
)
def skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skyline import skyline_2d

    part = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
        F.col("p_size").cast("bigint").alias("p_size"),
    )
    return skyline_2d(
        part,
        x_col="p_retailprice",
        y_col="p_size",
        block=F.floor(F.col("p_retailprice") / F.lit(10.0)).cast("long"),
    ).select("p_partkey", "p_retailprice", "p_size").orderBy("p_partkey")


# ---------------------------------------------------------------------------
# 3D skyline (r7, SCALE.md §6.3: "the 2D sweep doesn't generalize"):
# parts undominated on (cheapest price, largest size, longest
# name). Same textbook NOT-EXISTS oracle, three dominance
# conditions; the Spark path is the block-grid dominance filter of
# operators/skyline.py::skyline_nd — grid cells from quantile cuts,
# driver-side cell pruning (strictly-smaller non-empty cell in every
# dim kills a cell), per-cell numpy local skylines, one shell merge.
@query(
    "skyline3_parts",
    oracle=r"""
    SELECT p_partkey,
           CAST(p_retailprice AS DOUBLE) AS p_retailprice,
           CAST(p_size AS BIGINT) AS p_size,
           CAST(length(p_name) AS BIGINT) AS name_len
    FROM part a
    WHERE NOT EXISTS (
        SELECT 1 FROM part b
        WHERE b.p_retailprice <= a.p_retailprice
          AND b.p_size >= a.p_size
          AND length(b.p_name) >= length(a.p_name)
          AND (b.p_retailprice < a.p_retailprice
               OR b.p_size > a.p_size
               OR length(b.p_name) > length(a.p_name))
    )
    ORDER BY p_partkey
    """,
)
def skyline3_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skyline import skyline_nd

    part = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
        F.col("p_size").cast("bigint").alias("p_size"),
        F.length("p_name").cast("bigint").alias("name_len"),
        # skyline_nd minimizes every dim: negate the maximized ones
        (-F.col("p_size")).cast("bigint").alias("__neg_size"),
        (-F.length("p_name")).cast("bigint").alias("__neg_nlen"),
    )
    return (
        skyline_nd(
            part,
            cols=["p_retailprice", "__neg_size", "__neg_nlen"],
            buckets=8,
        )
        .select("p_partkey", "p_retailprice", "p_size", "name_len")
        .orderBy("p_partkey")
    )


# ---------------------------------------------------------------------------
# Exact GLOBAL quantiles via two-pass blocked selection — the scale
# answer to "percentile_disc funnels the table through one task".
# The oracle spells out the percentile_disc rank rule (smallest v
# with rank ceil(q*n), 1-based) so both engines compute the same
# double-precision rank arithmetic.
@query(
    "exact_quantiles_order_price",
    oracle=r"""
    WITH s AS (
        SELECT o_totalprice AS v,
               row_number() OVER (ORDER BY o_totalprice) AS rn
        FROM orders WHERE o_totalprice IS NOT NULL
    ),
    c AS (SELECT COUNT(*) AS n FROM s)
    SELECT CAST(t.q AS DOUBLE) AS q, CAST(s.v AS DOUBLE) AS value
    FROM (VALUES (0.25), (0.5), (0.75), (0.99)) AS t(q)
    CROSS JOIN c
    JOIN s ON s.rn = greatest(1, CAST(ceil(CAST(t.q AS DOUBLE) * c.n) AS BIGINT))
    ORDER BY q
    """,
)
def exact_quantiles_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import exact_quantiles

    orders = _t(spark, sf_dir, "orders")
    return exact_quantiles(
        orders.select(F.col("o_totalprice").cast("double").alias("o_totalprice")),
        "o_totalprice",
        qs=[0.25, 0.5, 0.75, 0.99],
        block=F.floor(F.col("o_totalprice") / F.lit(10000.0)).cast("long"),
    ).orderBy("q")


# ---------------------------------------------------------------------------
# Market-basket association mining: the A-Priori frequent-pair pass
# (Agrawal & Srikant 1994) over order baskets — parts bought together
# in at least 2 orders, scored by confidence P(b|a) and lift. The
# item-support prune runs BEFORE the per-basket self-join (support is
# monotone), so the join input is already frequent-item-only; pair
# expansion is bounded by basket size. Confidence and lift divide in
# a fixed order on exact BIGINT counts, so the doubles hash-match.
@query(
    "frequent_pairs_orders",
    oracle="""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_baskets FROM b),
    supp AS (
        SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS s
        FROM b GROUP BY l_partkey HAVING COUNT(*) >= 2
    ),
    pruned AS (
        SELECT b.l_orderkey, b.l_partkey
        FROM b JOIN supp ON b.l_partkey = supp.l_partkey
    ),
    pairs AS (
        SELECT a.l_partkey AS item_a, c.l_partkey AS item_b,
               CAST(COUNT(*) AS BIGINT) AS pair_cnt
        FROM pruned a JOIN pruned c
          ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    )
    SELECT p.item_a, p.item_b, p.pair_cnt,
           sa.s AS supp_a, sb.s AS supp_b,
           CAST(p.pair_cnt AS DOUBLE) / CAST(sa.s AS DOUBLE) AS confidence,
           CAST(p.pair_cnt AS DOUBLE) * CAST(n.n_baskets AS DOUBLE)
               / (CAST(sa.s AS DOUBLE) * CAST(sb.s AS DOUBLE)) AS lift
    FROM pairs p
    JOIN supp sa ON p.item_a = sa.l_partkey
    JOIN supp sb ON p.item_b = sb.l_partkey
    CROSS JOIN n
    ORDER BY item_a, item_b
    """,
)
def frequent_pairs_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.itemsets import frequent_pairs

    li = _t(spark, sf_dir, "lineitem")
    return frequent_pairs(
        li, basket_col="l_orderkey", item_col="l_partkey", minsup=2
    ).orderBy("item_a", "item_b")


# ---------------------------------------------------------------------------
# The A-Priori 3-itemset pass: candidates generated from the frequent
# pairs via downward closure (every 2-subset of a frequent triple is
# frequent), per-basket enumeration L2-pruned at every join step. The
# oracle is the brute 3-way self-join with HAVING — identical results
# because the pruning is lossless.
@query(
    "frequent_triples_orders",
    oracle="""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS item_a, c.l_partkey AS item_b,
           d.l_partkey AS item_c, CAST(COUNT(*) AS BIGINT) AS triple_cnt
    FROM b a
    JOIN b c ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
    JOIN b d ON a.l_orderkey = d.l_orderkey AND c.l_partkey < d.l_partkey
    GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2
    ORDER BY item_a, item_b, item_c
    """,
)
def frequent_triples_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.itemsets import frequent_triples

    li = _t(spark, sf_dir, "lineitem")
    return frequent_triples(
        li, basket_col="l_orderkey", item_col="l_partkey", minsup=2
    ).orderBy("item_a", "item_b", "item_c")


# ---------------------------------------------------------------------------
# SQL-defined scalar functions (Spark 4 CREATE FUNCTION ... RETURN):
# the engine's SQL surface lets users package expressions as named
# functions without leaving SQL — here net revenue and a price band,
# composed inside a grouped aggregate. The oracle inlines the same
# expressions (the function DEFINITION is the Spark-side feature
# under test; the semantics are plain expression algebra).
@query(
    "sql_udf_revenue_bands",
    oracle="""
    SELECT CAST(floor(o_totalprice / 50000.0) AS INTEGER) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice * 0.95 AS DECIMAL(30,6))) AS DOUBLE)
               AS net_revenue
    FROM orders
    GROUP BY 1 ORDER BY band
    """,
)
def sql_udf_revenue_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import register_views

    register_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION net_rev(amount DOUBLE) "
        "RETURNS DOUBLE RETURN amount * 0.95"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION price_band(amount DOUBLE) "
        "RETURNS INT RETURN CAST(floor(amount / 50000.0) AS INT)"
    )
    return spark.sql(
        """
        SELECT price_band(o_totalprice) AS band,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(net_rev(o_totalprice) AS DECIMAL(30,6)))
                    AS DOUBLE) AS net_revenue
        FROM orders
        GROUP BY price_band(o_totalprice)
        ORDER BY band
        """
    )


# ---------------------------------------------------------------------------
# LATERAL correlated subquery (Spark 4 / ANSI): per BUILDING-segment
# customer, the top-2 orders by price — the "top-k per row" idiom
# expressed as the optimizer's correlated-join form instead of a
# window. DuckDB executes the identical LATERAL; ties break on
# o_orderkey so LIMIT 2 is deterministic on both engines.
@query(
    "lateral_topk_customer_orders",
    oracle="""
    SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
    FROM customer c,
    LATERAL (
        SELECT o_orderkey, o_totalprice FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
    ) l
    WHERE c.c_mktsegment = 'BUILDING'
    ORDER BY c_custkey, o_totalprice DESC, o_orderkey
    """,
)
def lateral_topk_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
        FROM customer c,
        LATERAL (
            SELECT o_orderkey, o_totalprice FROM orders o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) l
        WHERE c.c_mktsegment = 'BUILDING'
        ORDER BY c_custkey, o_totalprice DESC, o_orderkey
        """
    )


# ---------------------------------------------------------------------------
# Window-function breadth #2 (r7): cume_dist, nth_value, and
# frame-bounded first/last over the per-nation customer-balance
# ordering — the remaining ranked-window surface after
# window_balance_quartiles (ntile) and percent_rank_events. The
# window partitions by nation (parallel across groups; never
# global); every output is either an exact integer, a ratio of
# exact integers, or a picked value — no float accumulation.
@query(
    "window_showcase2_customers",
    oracle="""
    SELECT c_custkey, c_nationkey,
           CAST(c_acctbal AS DOUBLE) AS bal,
           cume_dist() OVER w AS cd,
           CAST(nth_value(c_custkey, 3) OVER (
               PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS third_poorest,
           CAST(first_value(c_custkey) OVER w AS BIGINT) AS poorest,
           CAST(last_value(c_custkey) OVER (
               PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
           ) AS BIGINT) AS richest
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    ORDER BY c_nationkey, bal, c_custkey
    LIMIT 200
    """,
)
def window_showcase2_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    cust = _t(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    wrows = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    wfull = w.rowsBetween(W.currentRow, W.unboundedFollowing)
    return (
        cust.select(
            "c_custkey",
            "c_nationkey",
            F.col("c_acctbal").cast("double").alias("bal"),
            F.cume_dist().over(w).alias("cd"),
            F.nth_value("c_custkey", 3).over(wrows).cast("bigint")
            .alias("third_poorest"),
            F.first("c_custkey").over(w).cast("bigint").alias("poorest"),
            F.last("c_custkey").over(wfull).cast("bigint").alias("richest"),
        )
        .orderBy("c_nationkey", "bal", "c_custkey")
        .limit(200)
    )


# ---------------------------------------------------------------------------
# Year-over-year growth report (r7): monthly revenue with the
# same-month-prior-year comparison — the classic retail BI readout
# (TPC-DS's recurring shape). The YoY join is a self-equi-join on
# the (month-of-year, year−1) key over the MONTH-DOMAIN aggregate
# (≤ #months rows — metadata-sized after the one partial-combined
# groupBy), so no window over the fact table; the ratio divides two
# exact DECIMAL sums once, in fixed order, and months without a
# prior year emit NULL growth (LEFT join).
@query(
    "yoy_growth_orders",
    oracle="""
    WITH m AS (
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
               CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mo,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS rev
        FROM orders GROUP BY 1, 2
    )
    SELECT a.yr, a.mo, a.n_orders,
           CAST(a.rev AS DOUBLE) AS revenue,
           CAST(b.rev AS DOUBLE) AS revenue_prior_year,
           CAST(a.rev AS DOUBLE) / CAST(b.rev AS DOUBLE) - 1.0
               AS yoy_growth
    FROM m a LEFT JOIN m b ON a.yr = b.yr + 1 AND a.mo = b.mo
    ORDER BY a.yr, a.mo
    """,
)
def yoy_growth_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.year("o_orderdate").cast("int").alias("yr"),
        F.month("o_orderdate").cast("int").alias("mo"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(30,6)")).alias("rev"),
    )
    a = m.alias("a")
    b = m.select(
        (F.col("yr") + 1).alias("yr"),
        F.col("mo").alias("mo"),
        F.col("rev").alias("prev_rev"),
    ).alias("b")
    return (
        a.join(b, ["yr", "mo"], "left")
        .select(
            "yr",
            "mo",
            "n_orders",
            F.col("rev").cast("double").alias("revenue"),
            F.col("prev_rev").cast("double").alias("revenue_prior_year"),
            (
                F.col("rev").cast("double")
                / F.col("prev_rev").cast("double")
                - F.lit(1.0)
            ).alias("yoy_growth"),
        )
        .orderBy("yr", "mo")
    )


# ---------------------------------------------------------------------------
# Built-in session_window (r7): the same 30-minute-gap sessions as
# sessionize_events, expressed through Spark's native
# F.session_window aggregation instead of the custom lag/cumsum
# operator — the surface a Spark user reaches for first, and the
# same function the STREAMING path uses (so batch and stream share
# one sessionization definition). Session starts are emitted as
# formatted strings; the oracle rebuilds the identical islands with
# the gap-cumsum form (microsecond-exact: Spark merges events with
# gap ≤ threshold — a gap of EXACTLY the threshold still merges,
# empirically pinned by test_session_window_exact_threshold_merges —
# so a new island needs gap > threshold). Per-user windows run in
# parallel across users — no global state.
@query(
    "session_window_builtin_events",
    oracle="""
    WITH s AS (
        SELECT user_id, ts, value,
               SUM(CASE WHEN prev_us IS NULL
                        OR ts_us - prev_us > 1800000000
                   THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS sid
        FROM (
            SELECT user_id, ts, value, event_id, epoch_us(ts) AS ts_us,
                   lag(epoch_us(ts)) OVER (
                       PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id) AS prev_us
            FROM events
        ) t
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE)
               AS total_value
    FROM s
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
)
def session_window_builtin_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )


# ---------------------------------------------------------------------------
# LTV cohort curves (r7): users cohorted by first-seen week; each
# cohort's CUMULATIVE purchase value per weeks-since-signup — the
# lifetime-value readout next to cohort_retention_events' activity
# matrix. The cumsum runs on the (cohort × week-offset) AGGREGATE
# domain (bounded) partitioned per cohort; purchase sums are exact
# DECIMAL, divisions fixed-order.
@query(
    "ltv_cohort_events",
    oracle="""
    WITH first_seen AS (
        SELECT user_id,
               MIN(CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT)
                   / 604800) AS BIGINT)) AS cohort_wk
        FROM events GROUP BY user_id
    ),
    p AS (
        SELECT f.cohort_wk,
               CAST(FLOOR(CAST(FLOOR(epoch(e.ts)) AS BIGINT) / 604800)
                    AS BIGINT) - f.cohort_wk AS wk_since,
               CAST(e.value AS DECIMAL(30,6)) AS v
        FROM events e JOIN first_seen f ON e.user_id = f.user_id
        WHERE e.event_type = 'purchase'
    ),
    cohort_size AS (
        SELECT cohort_wk, CAST(COUNT(*) AS BIGINT) AS n_users
        FROM first_seen GROUP BY cohort_wk
    ),
    wk AS (
        SELECT cohort_wk, wk_since,
               CAST(COUNT(*) AS BIGINT) AS n_purchases,
               SUM(v) AS rev
        FROM p GROUP BY cohort_wk, wk_since
    )
    SELECT w.cohort_wk, w.wk_since, w.n_purchases, c.n_users,
           CAST(SUM(w.rev) OVER (
               PARTITION BY w.cohort_wk ORDER BY w.wk_since
           ) AS DOUBLE) AS cum_revenue,
           CAST(SUM(w.rev) OVER (
               PARTITION BY w.cohort_wk ORDER BY w.wk_since
           ) AS DOUBLE) / c.n_users AS ltv_per_user
    FROM wk w JOIN cohort_size c ON w.cohort_wk = c.cohort_wk
    ORDER BY w.cohort_wk, w.wk_since
    """,
)
def ltv_cohort_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    wk = F.floor(F.unix_timestamp("ts") / F.lit(604800)).cast("bigint")
    first_seen = ev.groupBy("user_id").agg(
        F.min(wk).alias("cohort_wk")
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first_seen, "user_id")
        .select(
            "cohort_wk",
            (wk - F.col("cohort_wk")).alias("wk_since"),
            F.col("value").cast("decimal(30,6)").alias("v"),
        )
    )
    cohort_size = first_seen.groupBy("cohort_wk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    agg = p.groupBy("cohort_wk", "wk_since").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        F.sum("v").alias("rev"),
    )
    wc = W.partitionBy("cohort_wk").orderBy("wk_since")
    return (
        agg.join(cohort_size, "cohort_wk")
        .select(
            "cohort_wk",
            "wk_since",
            "n_purchases",
            "n_users",
            F.sum("rev").over(wc).cast("double").alias("cum_revenue"),
            (
                F.sum("rev").over(wc).cast("double") / F.col("n_users")
            ).alias("ltv_per_user"),
        )
        .orderBy("cohort_wk", "wk_since")
    )


# ---------------------------------------------------------------------------
# Hierarchical subtree rollup (r8): the recursive-CTE workload (org
# charts, BOM explosions, category trees) — total revenue and part
# count in every node's SUBTREE of the decimal part hierarchy
# (parent(p) = p DIV 10). Spark has no WITH RECURSIVE; the Spark-first
# answer when the hierarchy is an arithmetic encoding is the
# CLOSED-FORM ancestor expansion — explode each part onto its ≤7
# ancestors map-side (one projection, no iterative joins, no driver
# loop) and aggregate by ancestor. For hierarchies that are real
# edge lists, the same rollup rides the iterative frontier machinery
# (operators/graph.py::sssp's loop skeleton). The oracle runs an
# actual WITH RECURSIVE, pinning equivalence of the two formulations.
@query(
    "hierarchy_rollup_parts",
    oracle="""
    WITH RECURSIVE rev AS (
        SELECT l_partkey AS p,
               CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
                                   * 1000000.0) AS BIGINT)) AS BIGINT)
                 AS r
        FROM lineitem GROUP BY 1
    ),
    anc AS (
        SELECT p, r, p AS node FROM rev
        UNION ALL
        SELECT p, r, CAST(FLOOR(node / 10) AS BIGINT) AS node
        FROM anc WHERE node >= 10
    )
    SELECT CAST(node AS BIGINT) AS node,
           CAST(LENGTH(CAST(node AS VARCHAR)) AS BIGINT) AS level,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(r) AS DOUBLE) / 1000000.0 AS subtree_revenue
    FROM anc
    WHERE node < 1000
    GROUP BY node ORDER BY node
    """,
)
def hierarchy_rollup_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_parquet_table(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("p")).agg(
        F.sum(
            F.round(
                F.col("l_extendedprice")
                * (F.lit(1) - F.col("l_discount"))
                * F.lit(1000000.0)
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("r")
    )
    # closed-form ancestors: p, p div 10, p div 100, … down to the
    # root digit — exact integer division, one map-side projection
    divs = [10**k for k in range(8)]
    chain = F.filter(
        F.array(
            *[
                (F.col("p") - F.col("p") % F.lit(d)).cast("bigint")
                / F.lit(d)
                for d in divs
            ]
        ),
        lambda a: a > 0,
    ).cast("array<bigint>")
    # partkey 0 exists in the fixture: its chain is just {0} (the
    # recursion stops below 10 without ever emitting a 0 ancestor
    # for any other part)
    chain = F.when(F.size(chain) > 0, chain).otherwise(
        F.array(F.lit(0).cast("bigint"))
    )
    anc = rev.select("p", "r", F.explode(chain).alias("node"))
    return (
        anc.filter(F.col("node") < 1000)
        .groupBy("node")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            (F.sum("r").cast("double") / F.lit(1000000.0)).alias(
                "subtree_revenue"
            ),
        )
        .select(
            "node",
            F.length(F.col("node").cast("string"))
            .cast("bigint")
            .alias("level"),
            "n_parts",
            "subtree_revenue",
        )
        .select("node", "level", "n_parts", "subtree_revenue")
        .orderBy("node")
    )


# ---------------------------------------------------------------------------
# Session path analysis (r8): the most common opening journeys —
# each session's first three event types as a '>'-joined path,
# ranked by session count (the clickstream "top paths" panel that
# sits one level above the pairwise transition matrix /
# eventually-follows views). Sessions come from the shared
# sessionize operator (integer-µs gap, event_id tiebreak); the first
# three steps are an array_sort on (ts_us, event_id, type) structs
# truncated with slice — per-session work, no global state. Top-10
# via TakeOrdered, ties broken by path text.
@query(
    "session_paths_events",
    oracle="""
    WITH s AS (
        SELECT user_id, event_id, event_type, ts_us,
               SUM(CASE WHEN prev_us IS NULL
                        OR ts_us - prev_us > 1800000000
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS session_id
        FROM (
            SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
                   lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                           ORDER BY epoch_us(ts),
                                                    event_id) AS prev_us
            FROM events
        ) t
    ), paths AS (
        SELECT user_id, session_id,
               array_to_string(
                   (list(event_type ORDER BY ts_us, event_id))[1:3],
                   '>') AS path,
               CAST(COUNT(*) AS BIGINT) AS session_events
        FROM s GROUP BY user_id, session_id
    )
    SELECT path,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(session_events) AS BIGINT) AS n_events
    FROM paths
    GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 10
    """,
)
def session_paths_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn("ts_us", F.unix_micros("ts"))
    with_sid = sessionize(
        ev,
        keys=["user_id"],
        ts_col="ts_us",
        gap=1800000000,
        tiebreak=["event_id"],
    )
    paths = (
        with_sid.groupBy("user_id", "session_id")
        .agg(
            F.array_join(
                F.slice(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct("ts_us", "event_id", "event_type")
                            )
                        ),
                        lambda x: x["event_type"],
                    ),
                    1,
                    3,
                ),
                ">",
            ).alias("path"),
            F.count(F.lit(1)).cast("bigint").alias("session_events"),
        )
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.sum("session_events").cast("bigint").alias("n_events"),
        )
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Business-day latency (r8): order-to-ship latency counted in
# BUSINESS days per priority class — the calendar arithmetic every
# SLA report needs. No calendar-dimension join (a per-row span×days
# explode at 100 TB): business days are CLOSED FORM — with
# d = days since a known Monday (1992-01-06), the count of business
# days before d is f(d) = 5·(d div 7) + min(d mod 7, 5), so the
# span is f(d₂) − f(d₁): pure integer arithmetic, identical in both
# engines, exact for any range. (A calendar dim earns its join only
# once holidays enter; then it is a broadcast, never an explode.)
@query(
    "business_days_latency_orders",
    oracle="""
    WITH span AS (
        SELECT o.o_orderpriority AS priority,
               datediff('day', DATE '1992-01-06', l.l_shipdate) AS d2,
               datediff('day', DATE '1992-01-06', o.o_orderdate) AS d1
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate >= o.o_orderdate
    ), bd AS (
        SELECT priority,
               (5 * CAST(FLOOR(d2 / 7) AS BIGINT)
                  + LEAST(CAST(d2 % 7 AS BIGINT), 5))
             - (5 * CAST(FLOOR(d1 / 7) AS BIGINT)
                  + LEAST(CAST(d1 % 7 AS BIGINT), 5)) AS bdays
        FROM span
    )
    SELECT priority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(bdays) AS BIGINT) AS total_bdays,
           CAST(SUM(bdays) AS DOUBLE) / COUNT(*) AS avg_bdays,
           CAST(MAX(bdays) AS BIGINT) AS max_bdays
    FROM bd
    GROUP BY priority
    ORDER BY priority
    """,
)
def business_days_latency_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        "o_orderdate",
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    monday = F.lit("1992-01-06").cast("date")
    span = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            "priority",
            F.datediff(F.col("l_shipdate"), monday).cast("bigint").alias("d2"),
            F.datediff(F.col("o_orderdate"), monday)
            .cast("bigint")
            .alias("d1"),
        )
    )

    def f(d):
        return F.lit(5) * F.floor(d / F.lit(7)).cast("bigint") + F.least(
            (d % 7).cast("bigint"), F.lit(5).cast("bigint")
        )

    bd = span.select(
        "priority", (f(F.col("d2")) - f(F.col("d1"))).alias("bdays")
    )
    return (
        bd.groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum("bdays").cast("bigint").alias("total_bdays"),
            (F.sum("bdays").cast("double") / F.count(F.lit(1))).alias(
                "avg_bdays"
            ),
            F.max("bdays").cast("bigint").alias("max_bdays"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# Holiday-adjusted business days (r8): the promised second half of
# business_days_latency_orders — once holidays enter, the closed
# form gains a BROADCAST calendar join (never a span×days explode):
# the holiday dim here is every month's first WEEKDAY in 1992–1998
# (pure date arithmetic, so both engines generate the identical
# table), and the adjustment subtracts COUNT(holidays in (d1, d2])
# via one broadcast range join, aggregated per priority.
@query(
    "business_days_holiday_adjusted",
    oracle="""
    WITH hol AS (
        SELECT d AS hday FROM (
            SELECT CAST(y || '-' || LPAD(CAST(m AS VARCHAR), 2, '0')
                        || '-01' AS DATE) AS d
            FROM (SELECT UNNEST(RANGE(1992, 1999)) AS y),
                 (SELECT UNNEST(RANGE(1, 13)) AS m)
        ) WHERE dayofweek(d) NOT IN (0, 6)
    ), span AS (
        SELECT o.o_orderpriority AS priority,
               o.o_orderdate AS d1, l.l_shipdate AS d2,
               datediff('day', DATE '1992-01-06', l.l_shipdate) AS i2,
               datediff('day', DATE '1992-01-06', o.o_orderdate) AS i1
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate >= o.o_orderdate
    ), bd AS (
        SELECT priority, d1, d2,
               (5 * CAST(FLOOR(i2 / 7) AS BIGINT)
                  + LEAST(CAST(i2 % 7 AS BIGINT), 5))
             - (5 * CAST(FLOOR(i1 / 7) AS BIGINT)
                  + LEAST(CAST(i1 % 7 AS BIGINT), 5)) AS bdays
        FROM span
    ), adj AS (
        SELECT b.priority,
               b.bdays - (SELECT COUNT(*) FROM hol
                          WHERE hol.hday > b.d1 AND hol.hday <= b.d2)
                 AS adj_bdays
        FROM bd b
    )
    SELECT priority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(adj_bdays) AS BIGINT) AS total_adj_bdays,
           CAST(SUM(adj_bdays) AS DOUBLE) / COUNT(*) AS avg_adj_bdays
    FROM adj GROUP BY priority ORDER BY priority
    """,
)
def business_days_holiday_adjusted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import datetime

    hol = [
        datetime.date(y, m, 1)
        for y in range(1992, 1999)
        for m in range(1, 13)
        if datetime.date(y, m, 1).isoweekday() <= 5
    ]
    hol_df = spark.createDataFrame([(d,) for d in hol], ["hday"])
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        "o_orderdate",
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )
    monday = F.lit("1992-01-06").cast("date")
    span = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            "l_orderkey",
            "l_linenumber",
            "priority",
            F.col("o_orderdate").alias("d1"),
            F.col("l_shipdate").alias("d2"),
            F.datediff(F.col("l_shipdate"), monday).cast("bigint").alias("i2"),
            F.datediff(F.col("o_orderdate"), monday)
            .cast("bigint")
            .alias("i1"),
        )
    )

    def f(d):
        return F.lit(5) * F.floor(d / F.lit(7)).cast("bigint") + F.least(
            (d % 7).cast("bigint"), F.lit(5).cast("bigint")
        )

    bd = span.select(
        "l_orderkey",
        "l_linenumber",
        "priority",
        "d1",
        "d2",
        (f(F.col("i2")) - f(F.col("i1"))).alias("bdays"),
    )
    # broadcast range join over the DISTINCT spans (far fewer than
    # lines), joined back by span — no reliance on any line key and
    # duplicate line rows keep their own contribution
    spans = bd.select("d1", "d2").distinct()
    hcount = (
        spans.join(
            F.broadcast(hol_df),
            (F.col("hday") > F.col("d1")) & (F.col("hday") <= F.col("d2")),
            "left",
        )
        .groupBy("d1", "d2")
        .agg(F.count("hday").cast("bigint").alias("n_hol"))
    )
    adj = bd.join(hcount, ["d1", "d2"]).select(
        "priority", (F.col("bdays") - F.col("n_hol")).alias("adj_bdays")
    )
    return (
        adj.groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum("adj_bdays").cast("bigint").alias("total_adj_bdays"),
            (F.sum("adj_bdays").cast("double") / F.count(F.lit(1))).alias(
                "avg_adj_bdays"
            ),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# Parameterized SQL (Spark 3.4+ named-parameter binding — the
# injection-safe replacement for the reference's f-string dynamic SQL,
# notebooks/pipeline_core.py's MERGE template): the literal binds as a
# TYPED PARAMETER (:prio), never string interpolation, so a hostile
# value cannot change the statement shape. Closes SURVEY §2 M5 with
# the actual API rather than only the expression-built merges.
@query(
    "sql_parameterized_priority_revenue",
    oracle="""
    SELECT o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(o_totalprice * 100) AS DECIMAL(38,0)))
                AS DOUBLE) / 100 AS revenue
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY 1 ORDER BY 1
    """,
)
def sql_parameterized_priority_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus AS status,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(o_totalprice * 100) AS DECIMAL(38,0)))
                    AS DOUBLE) / 100 AS revenue
        FROM orders
        WHERE o_orderpriority = :prio
        GROUP BY 1 ORDER BY 1
        """,
        args={"prio": "1-URGENT"},
    )
