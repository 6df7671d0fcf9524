"""Data-quality queries: the expectations engine (operators/quality.py)
driven over the orders and events tables, oracle-checked end-to-end.

``dq_orders_expectations`` exercises every expectation kind — range,
set-membership, regex, not-null, key uniqueness, referential
integrity — and folds the report into ONE aggregate pass.
``dq_quarantine_split`` is the row-level view: the quarantined rows
with their violation reasons, exactly as an ingest gate would land
them in a reject table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import quality as Q
from ..sources.readers import read_parquet_table
from . import query

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "5-LOW"]
_PRIORITIES_SQL = ", ".join(f"'{p}'" for p in _PRIORITIES)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
@query(
    "dq_orders_expectations",
    oracle=f"""
    WITH refkeys AS (
        SELECT DISTINCT c_custkey FROM customer WHERE c_acctbal > 0
    ),
    flags AS (
        SELECT
            (o_totalprice IS NOT NULL AND o_totalprice >= 0
             AND o_totalprice <= 300000) AS ok_price_range,
            o_orderpriority IN ({_PRIORITIES_SQL}) AS ok_priority_known,
            regexp_matches(o_orderstatus, '^[OF]$') AS ok_status_format,
            o_orderdate IS NOT NULL AS ok_date_not_null,
            (COUNT(*) OVER (PARTITION BY o_orderkey)) = 1 AS ok_order_key_unique,
            o_custkey IN (SELECT c_custkey FROM refkeys) AS ok_cust_ref
        FROM orders
    )
    SELECT 'cust_ref' AS expectation,
           CAST(SUM(CASE WHEN NOT ok_cust_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_failed,
           CAST(COUNT(*) AS BIGINT) AS n_rows FROM flags
    UNION ALL
    SELECT 'date_not_null',
           CAST(SUM(CASE WHEN NOT ok_date_not_null THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) AS BIGINT) FROM flags
    UNION ALL
    SELECT 'order_key_unique',
           CAST(SUM(CASE WHEN NOT ok_order_key_unique THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) AS BIGINT) FROM flags
    UNION ALL
    SELECT 'price_range',
           CAST(SUM(CASE WHEN NOT ok_price_range THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) AS BIGINT) FROM flags
    UNION ALL
    SELECT 'priority_known',
           CAST(SUM(CASE WHEN NOT ok_priority_known THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) AS BIGINT) FROM flags
    UNION ALL
    SELECT 'status_format',
           CAST(SUM(CASE WHEN NOT ok_status_format THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) AS BIGINT) FROM flags
    UNION ALL
    SELECT '__total_invalid',
           CAST(SUM(CASE WHEN NOT (ok_price_range AND ok_priority_known
                                   AND ok_status_format AND ok_date_not_null
                                   AND ok_order_key_unique AND ok_cust_ref)
                    THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) AS BIGINT) FROM flags
    ORDER BY expectation
    """,
)
def dq_orders_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    checked = Q.check(
        orders,
        [
            Q.in_range("price_range", "o_totalprice", 0, 300000),
            Q.one_of("priority_known", "o_orderpriority", _PRIORITIES),
            Q.matches("status_format", "o_orderstatus", "^[OF]$"),
            Q.not_null("date_not_null", "o_orderdate"),
        ],
        unique_key=("order_key_unique", ["o_orderkey"]),
        referential=(
            "cust_ref",
            "o_custkey",
            customer.filter(F.col("c_acctbal") > 0),
            "c_custkey",
        ),
    )
    names = [
        "price_range",
        "priority_known",
        "status_format",
        "date_not_null",
        "order_key_unique",
        "cust_ref",
    ]
    return Q.summarize(checked, names).select(
        "expectation", "n_failed", "n_rows"
    )


# ---------------------------------------------------------------------------
@query(
    "dq_quarantine_split",
    oracle="""
    WITH flags AS (
        SELECT event_id, user_id,
               (ts IS NOT NULL) AS ok_ts,
               (event_type IN ('click', 'view', 'purchase', 'signup'))
                   AS ok_type,
               (value IS NOT NULL AND value >= 0 AND value <= 400) AS ok_value
        FROM events
    )
    SELECT event_id, user_id,
           concat_ws(',',
               CASE WHEN NOT ok_ts THEN 'ts_not_null' END,
               CASE WHEN NOT ok_type THEN 'type_known' END,
               CASE WHEN NOT ok_value THEN 'value_range' END
           ) AS _violations
    FROM flags
    WHERE NOT (ok_ts AND ok_type AND ok_value)
    ORDER BY event_id
    """,
)
def dq_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    checked = Q.check(
        events,
        [
            Q.not_null("ts_not_null", "ts"),
            Q.one_of("type_known", "event_type", ["click", "view", "purchase", "signup"]),
            Q.in_range("value_range", "value", 0, 400),
        ],
    )
    _valid, invalid = Q.quarantine(checked)
    return invalid.select("event_id", "user_id", Q.VIOLATIONS_COL).orderBy(
        "event_id"
    )


# ---------------------------------------------------------------------------
# ANALYZE-style profile: one aggregate pass over orders yields per-
# column nulls / exact NDV / min / max (CBO-style table statistics).
@query(
    "table_stats_orders",
    oracle="""
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM orders)
    SELECT s.column, n.n_rows, s.n_nulls, s.n_distinct, s.min_value, s.max_value
    FROM (
        SELECT 'o_custkey' AS column,
               CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
               CAST(MIN(o_custkey) AS VARCHAR) AS min_value,
               CAST(MAX(o_custkey) AS VARCHAR) AS max_value
        FROM orders
        UNION ALL
        SELECT 'o_orderdate',
               CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(COUNT(DISTINCT o_orderdate) AS BIGINT),
               strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S'),
               strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S')
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus',
               CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
               CAST(MIN(o_orderstatus) AS VARCHAR),
               CAST(MAX(o_orderstatus) AS VARCHAR)
        FROM orders
    ) s, n
    ORDER BY s.column
    """,
)
def table_stats_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import analyze_table

    orders = _t(spark, sf_dir, "orders")
    return analyze_table(orders, ["o_custkey", "o_orderdate", "o_orderstatus"])


# ---------------------------------------------------------------------------
# Referential-integrity audit over the whole star schema: every
# foreign-key edge checked in one DataFrame (7 anti-join branches
# unioned). Scale shape: the dim-side parents (customer, nation,
# region, part, supplier) broadcast, so those branches are map-only;
# the two fact-fact edges (lineitem->orders twice removed) shuffle on
# the join key — SCALE.md's bucketing prescription applies. Null FKs
# are counted separately from orphans (a null is a missing value, not
# a dangling reference).
@query(
    "fk_orphan_audit",
    oracle="""
    SELECT * FROM (
        SELECT 'lineitem.l_orderkey->orders' AS edge,
               (SELECT COUNT(*) FROM lineitem) AS n_rows,
               (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NULL) AS n_null,
               (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NOT NULL
                  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)) AS n_orphans
        UNION ALL
        SELECT 'lineitem.l_partkey->part',
               (SELECT COUNT(*) FROM lineitem),
               (SELECT COUNT(*) FROM lineitem WHERE l_partkey IS NULL),
               (SELECT COUNT(*) FROM lineitem WHERE l_partkey IS NOT NULL
                  AND NOT EXISTS (SELECT 1 FROM part WHERE p_partkey = l_partkey))
        UNION ALL
        SELECT 'lineitem.l_suppkey->supplier',
               (SELECT COUNT(*) FROM lineitem),
               (SELECT COUNT(*) FROM lineitem WHERE l_suppkey IS NULL),
               (SELECT COUNT(*) FROM lineitem WHERE l_suppkey IS NOT NULL
                  AND NOT EXISTS (SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey))
        UNION ALL
        SELECT 'orders.o_custkey->customer',
               (SELECT COUNT(*) FROM orders),
               (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL),
               (SELECT COUNT(*) FROM orders WHERE o_custkey IS NOT NULL
                  AND NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey))
        UNION ALL
        SELECT 'customer.c_nationkey->nation',
               (SELECT COUNT(*) FROM customer),
               (SELECT COUNT(*) FROM customer WHERE c_nationkey IS NULL),
               (SELECT COUNT(*) FROM customer WHERE c_nationkey IS NOT NULL
                  AND NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = c_nationkey))
        UNION ALL
        SELECT 'supplier.s_nationkey->nation',
               (SELECT COUNT(*) FROM supplier),
               (SELECT COUNT(*) FROM supplier WHERE s_nationkey IS NULL),
               (SELECT COUNT(*) FROM supplier WHERE s_nationkey IS NOT NULL
                  AND NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = s_nationkey))
        UNION ALL
        SELECT 'nation.n_regionkey->region',
               (SELECT COUNT(*) FROM nation),
               (SELECT COUNT(*) FROM nation WHERE n_regionkey IS NULL),
               (SELECT COUNT(*) FROM nation WHERE n_regionkey IS NOT NULL
                  AND NOT EXISTS (SELECT 1 FROM region WHERE r_regionkey = n_regionkey))
    )
    ORDER BY edge
    """,
)
def fk_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality import fk_audit

    edges = [
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation", "n_regionkey", "region", "r_regionkey"),
    ]
    tables = {n: _t(spark, sf_dir, n) for n in
              {e[0] for e in edges} | {e[2] for e in edges}}
    return fk_audit(tables, edges).orderBy("edge")


# ---------------------------------------------------------------------------
# Merkle-style table checksum: an ORDER-INDEPENDENT per-bucket
# fingerprint (bit_xor of row md5s, bucketed by key hash) that two
# replicas compute locally and compare by exchanging 64 rows — the
# anti-entropy pattern for verifying a 100 TB replication / migration
# without moving data (cf. table_diff_orders, which finds WHICH rows
# differ once a bucket mismatches: checksum first, diff the one bad
# bucket). One map-side-combined pass; bit_xor is commutative/
# associative so the result is partition-count independent, and every
# value is formatted EXPLICITLY (decimal-cast price, formatted
# timestamp) because raw float/timestamp→string casts are not
# cross-engine stable.
_CS_ROW = (
    "CAST(o_orderkey AS {S}) || '|' || CAST(o_custkey AS {S}) || '|' || "
    "o_orderstatus || '|' || o_orderpriority || '|' || "
    "CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS {S}) || '|' || {TS}"
)


@query(
    "table_checksum_orders",
    oracle=f"""
    SELECT CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4)) AS BIGINT) % 64
               AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           bit_xor(CAST(('0x' || substr(md5(
               {_CS_ROW.format(S="VARCHAR", TS="strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')")}
           ), 1, 12)) AS BIGINT)) AS checksum
    FROM orders
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def table_checksum_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    row = F.expr(
        _CS_ROW.format(
            S="STRING", TS="date_format(o_orderdate, 'yyyy-MM-dd HH:mm:ss')"
        )
    )
    fp = F.conv(F.substring(F.md5(row), 1, 12), 16, 10).cast("bigint")
    bucket = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 4), 16, 10)
        .cast("bigint")
        % 64
    )
    return (
        orders.select(bucket.alias("bucket"), fp.alias("fp"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(fp)").alias("checksum"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Shuffle-key skew report: the pre-flight diagnostic before keying a
# join or aggregation on a column — per-key row counts summarized into
# max / exact quartiles / skew ratio, plus the top heavy key. At
# 100 TB this one cheap pass (map-side-combined count, then a
# key-cardinality-sized exact percentile) decides whether the join
# needs salting (operators/partitioning.py) or AQE skew handling
# before the expensive run, instead of discovering the straggler at
# hour three.
@query(
    "key_skew_report_events",
    oracle="""
    WITH kc AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(MAX(n) AS BIGINT) AS max_key_rows,
           CAST(quantile_disc(n, 0.5) AS BIGINT) AS p50,
           CAST(quantile_disc(n, 0.9) AS BIGINT) AS p90,
           CAST(MAX(n) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE)
               / CAST(SUM(n) AS DOUBLE) AS skew_ratio,
           CAST(MIN(CASE WHEN n = (SELECT MAX(n) FROM kc) THEN user_id END) AS BIGINT)
               AS heaviest_key
    FROM kc
    """,
)
def key_skew_report_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    kc = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    mx = kc.agg(F.max("n").alias("mx"))
    return (
        kc.crossJoin(F.broadcast(mx))
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("n").alias("n_rows"),
            F.max("n").alias("max_key_rows"),
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n)")
            .cast("bigint")
            .alias("p50"),
            F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY n)")
            .cast("bigint")
            .alias("p90"),
            (
                F.max("n").cast("double")
                * F.count(F.lit(1)).cast("double")
                / F.sum("n").cast("double")
            ).alias("skew_ratio"),
            F.min(F.when(F.col("n") == F.col("mx"), F.col("user_id")))
            .cast("bigint")
            .alias("heaviest_key"),
        )
    )


# ---------------------------------------------------------------------------
# Benford first-digit screen: the classic forensic DQ check — leading
# digits of naturally-occurring amounts follow log10(1 + 1/d); a flat
# or spiked distribution flags synthetic/defaulted/fabricated values.
# One map-side-combined pass; the chi-square contribution per digit is
# derived from exact counts in fixed-order double arithmetic (both
# engines identical). Expected shares are micro-int literals so no
# cross-engine log10 is evaluated at query time.
_BENFORD_MICRO = {
    d: round(__import__("math").log10(1 + 1 / d) * 1_000_000) for d in range(1, 10)
}


def _benford_case_sql() -> str:
    arms = " ".join(
        f"WHEN first_digit = {d} THEN {m}" for d, m in _BENFORD_MICRO.items()
    )
    return f"CASE {arms} END"


@query(
    "benford_first_digit_orders",
    oracle=f"""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS VARCHAR), 1, 1)
                    AS BIGINT) AS first_digit
        FROM orders WHERE o_totalprice > 0
    ),
    counts AS (
        SELECT first_digit, CAST(COUNT(*) AS BIGINT) AS n
        FROM digits GROUP BY first_digit
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts)
    SELECT first_digit, n,
           CAST({_benford_case_sql()} AS BIGINT) AS expected_micro,
           (CAST(n AS DOUBLE) / CAST(t.total AS DOUBLE)
            - CAST({_benford_case_sql()} AS DOUBLE) / 1000000.0) AS deviation
    FROM counts CROSS JOIN tot t
    ORDER BY first_digit
    """,
)
def benford_first_digit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    first_digit = F.substring(
        F.col("o_totalprice").cast("decimal(15,2)").cast("string"), 1, 1
    ).cast("bigint")
    counts = (
        orders.select(first_digit.alias("first_digit"))
        .groupBy("first_digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = counts.agg(F.sum("n").alias("total"))
    expected = F.create_map(
        *[F.lit(x) for d, m in _BENFORD_MICRO.items() for x in (d, m)]
    )[F.col("first_digit")].cast("bigint")
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "first_digit",
            "n",
            expected.alias("expected_micro"),
            (
                F.col("n").cast("double") / F.col("total").cast("double")
                - F.col("expected_micro").cast("double") / F.lit(1_000_000.0)
            ).alias("deviation"),
        )
        .orderBy("first_digit")
    )


# ---------------------------------------------------------------------------
# Distribution-drift report (PSI): compare the order-value
# distribution of the current period against the historical base
# period in fixed bins — the standard pre-retraining / DQ gate
# (population stability index; PSI > 0.2 conventionally means "the
# feature moved, investigate"). Laplace-smoothed shares so empty bins
# stay finite; each bin's PSI term is micro-rounded after one double
# expression, so the report is engine-exact. One conditional-agg pass
# over the fact table — two snapshots never join row-to-row.
_PSI_SPLIT = "1998-01-01"
_PSI_BIN_W = 60000.0
_PSI_BINS = 10


@query(
    "drift_psi_orders",
    oracle=f"""
    WITH labeled AS (
      SELECT CASE WHEN o_orderdate < DATE '{_PSI_SPLIT}'
                  THEN 'base' ELSE 'cur' END AS period,
             LEAST({_PSI_BINS - 1}, GREATEST(0,
                 CAST(floor(o_totalprice / {_PSI_BIN_W}) AS BIGINT))) AS bin
      FROM orders
    ),
    counts AS (
      SELECT bin,
             SUM(CASE WHEN period = 'base' THEN 1 ELSE 0 END) AS nb,
             SUM(CASE WHEN period = 'cur' THEN 1 ELSE 0 END) AS nc
      FROM labeled GROUP BY bin
    ),
    tot AS (SELECT SUM(nb) AS tb, SUM(nc) AS tc FROM counts)
    SELECT bin,
           CAST(nb AS BIGINT) AS n_base,
           CAST(nc AS BIGINT) AS n_cur,
           CAST(round((
              ((nc + 1.0) / (tc + {float(_PSI_BINS)}))
              - ((nb + 1.0) / (tb + {float(_PSI_BINS)}))
            ) * ln(((nc + 1.0) / (tc + {float(_PSI_BINS)}))
                   / ((nb + 1.0) / (tb + {float(_PSI_BINS)})))
            * 1000000.0) AS BIGINT) AS psi_term_micro
    FROM counts, tot
    ORDER BY bin
    """,
)
def drift_psi_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_parquet_table(spark, sf_dir, "orders")
    labeled = orders.select(
        F.when(
            F.col("o_orderdate") < F.lit(_PSI_SPLIT).cast("date"), "base"
        )
        .otherwise("cur")
        .alias("period"),
        F.least(
            F.lit(_PSI_BINS - 1),
            F.greatest(
                F.lit(0),
                F.floor(F.col("o_totalprice") / F.lit(_PSI_BIN_W)).cast("bigint"),
            ),
        ).alias("bin"),
    )
    counts = labeled.groupBy("bin").agg(
        F.sum((F.col("period") == "base").cast("bigint")).alias("nb"),
        F.sum((F.col("period") == "cur").cast("bigint")).alias("nc"),
    )
    tot = counts.agg(F.sum("nb").alias("tb"), F.sum("nc").alias("tc"))
    k = float(_PSI_BINS)
    pc = (F.col("nc").cast("double") + F.lit(1.0)) / (
        F.col("tc").cast("double") + F.lit(k)
    )
    pb = (F.col("nb").cast("double") + F.lit(1.0)) / (
        F.col("tb").cast("double") + F.lit(k)
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            F.col("nb").cast("bigint").alias("n_base"),
            F.col("nc").cast("bigint").alias("n_cur"),
            F.round((pc - pb) * F.log(pc / pb) * F.lit(1_000_000.0))
            .cast("bigint")
            .alias("psi_term_micro"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Two-sample KS statistic over the same binning as drift_psi_orders:
# max |CDF_base − CDF_cur| — PSI weights every bin's move, KS catches
# a concentrated shift PSI smooths over; drift gates run both. The
# cumulative shares come from one window over the 10-bin aggregate
# (window input = bins, not rows), and the statistic is exact integer
# arithmetic: |nb_cum·tc − nc_cum·tb| avoids share division entirely,
# with the final KS reported in micro-units via one integer division.
@query(
    "drift_ks_orders",
    oracle=f"""
    WITH labeled AS (
      SELECT CASE WHEN o_orderdate < DATE '{_PSI_SPLIT}'
                  THEN 'base' ELSE 'cur' END AS period,
             LEAST({_PSI_BINS - 1}, GREATEST(0,
                 CAST(floor(o_totalprice / {_PSI_BIN_W}) AS BIGINT))) AS bin
      FROM orders
    ),
    counts AS (
      SELECT bin,
             SUM(CASE WHEN period = 'base' THEN 1 ELSE 0 END) AS nb,
             SUM(CASE WHEN period = 'cur' THEN 1 ELSE 0 END) AS nc
      FROM labeled GROUP BY bin
    ),
    cum AS (
      SELECT bin,
             SUM(nb) OVER (ORDER BY bin) AS nb_cum,
             SUM(nc) OVER (ORDER BY bin) AS nc_cum,
             SUM(nb) OVER () AS tb,
             SUM(nc) OVER () AS tc
      FROM counts
    )
    SELECT CAST(MAX(abs(nb_cum * tc - nc_cum * tb)) * 1000000
                // (MAX(tb) * MAX(tc)) AS BIGINT) AS ks_micro,
           CAST(MAX(tb) AS BIGINT) AS n_base,
           CAST(MAX(tc) AS BIGINT) AS n_cur
    FROM cum
    """,
)
def drift_ks_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = read_parquet_table(spark, sf_dir, "orders")
    labeled = orders.select(
        F.when(
            F.col("o_orderdate") < F.lit(_PSI_SPLIT).cast("date"), "base"
        )
        .otherwise("cur")
        .alias("period"),
        F.least(
            F.lit(_PSI_BINS - 1),
            F.greatest(
                F.lit(0),
                F.floor(F.col("o_totalprice") / F.lit(_PSI_BIN_W)).cast(
                    "bigint"
                ),
            ),
        ).alias("bin"),
    )
    counts = labeled.groupBy("bin").agg(
        F.sum((F.col("period") == "base").cast("bigint")).alias("nb"),
        F.sum((F.col("period") == "cur").cast("bigint")).alias("nc"),
    )
    w_cum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = counts.select(
        F.sum("nb").over(w_cum).alias("nb_cum"),
        F.sum("nc").over(w_cum).alias("nc_cum"),
        F.sum("nb").over(w_all).alias("tb"),
        F.sum("nc").over(w_all).alias("tc"),
    )
    return cum.agg(
        F.expr(
            "CAST(MAX(abs(nb_cum * tc - nc_cum * tb)) * 1000000 "
            "div (MAX(tb) * MAX(tc)) AS BIGINT)"
        ).alias("ks_micro"),
        F.max("tb").cast("bigint").alias("n_base"),
        F.max("tc").cast("bigint").alias("n_cur"),
    )


# ---------------------------------------------------------------------------
# Join-cardinality pre-flight: BEFORE running an expensive join,
# profile both sides' key multiplicity and predict the output size —
# Σ_k |L_k|·|R_k| — plus each side's hottest key. The "why did my
# join explode" audit: a surprise 10^12 prediction means a missing
# dedup or a wrong key, caught for the cost of two key aggregates and
# a (groups-sized) combine instead of the runaway join itself.
@query(
    "join_cardinality_audit",
    oracle="""
    WITH l AS (
      SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS nl
      FROM orders GROUP BY o_custkey
    ),
    r AS (
      SELECT c_custkey AS k, CAST(COUNT(*) AS BIGINT) AS nr
      FROM customer GROUP BY c_custkey
    ),
    j AS (SELECT l.k, nl, nr FROM l JOIN r USING (k))
    SELECT CAST((SELECT COUNT(*) FROM l) AS BIGINT) AS left_keys,
           CAST((SELECT COUNT(*) FROM r) AS BIGINT) AS right_keys,
           CAST((SELECT COUNT(*) FROM j) AS BIGINT) AS matched_keys,
           CAST(COALESCE(SUM(nl * nr), 0) AS BIGINT) AS predicted_rows,
           CAST(COALESCE(MAX(nl), 0) AS BIGINT) AS left_max_per_key,
           CAST(COALESCE(MAX(nr), 0) AS BIGINT) AS right_max_per_key
    FROM j
    """,
)
def join_cardinality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_parquet_table(spark, sf_dir, "orders")
    cust = read_parquet_table(spark, sf_dir, "customer")
    left = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("nl")
    )
    right = cust.groupBy(F.col("c_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("nr")
    )
    j = left.join(right, "k")
    lk = left.count()
    rk = right.count()
    return j.agg(
        F.lit(lk).cast("bigint").alias("left_keys"),
        F.lit(rk).cast("bigint").alias("right_keys"),
        F.count(F.lit(1)).cast("bigint").alias("matched_keys"),
        F.coalesce(F.sum(F.col("nl") * F.col("nr")), F.lit(0))
        .cast("bigint")
        .alias("predicted_rows"),
        F.coalesce(F.max("nl"), F.lit(0)).cast("bigint").alias("left_max_per_key"),
        F.coalesce(F.max("nr"), F.lit(0)).cast("bigint").alias("right_max_per_key"),
    )


# ---------------------------------------------------------------------------
# One-pass table profiler (the Deequ/Great-Expectations "profile"
# read-out): per-column null count, exact distinct count, and typed
# min/max for every column of orders, computed in a SINGLE aggregate
# pass (Spark expands the multi-distinct into one plan) and emitted
# one row per column via stack(). Typed min/max columns avoid
# cross-engine double→string formatting (Spark's Double.toString vs
# DuckDB's shortest-repr disagree): numerics report through
# dsum-style double casts, timestamps as formatted strings.
@query(
    "table_profile_orders",
    oracle="""
    SELECT * FROM (
        SELECT 'o_orderkey' AS column_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
               CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
               CAST(MIN(o_orderkey) AS DOUBLE) AS min_numeric,
               CAST(MAX(o_orderkey) AS DOUBLE) AS max_numeric,
               CAST(NULL AS VARCHAR) AS min_text,
               CAST(NULL AS VARCHAR) AS max_text
        FROM orders
        UNION ALL
        SELECT 'o_custkey', COUNT(*), SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END),
               COUNT(DISTINCT o_custkey),
               CAST(MIN(o_custkey) AS DOUBLE), CAST(MAX(o_custkey) AS DOUBLE),
               NULL, NULL
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus', COUNT(*), SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END),
               COUNT(DISTINCT o_orderstatus), NULL, NULL,
               MIN(o_orderstatus), MAX(o_orderstatus)
        FROM orders
        UNION ALL
        SELECT 'o_totalprice', COUNT(*), SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END),
               COUNT(DISTINCT o_totalprice),
               MIN(o_totalprice), MAX(o_totalprice), NULL, NULL
        FROM orders
        UNION ALL
        SELECT 'o_orderdate', COUNT(*), SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END),
               COUNT(DISTINCT o_orderdate), NULL, NULL,
               strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S'),
               strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S')
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority', COUNT(*), SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END),
               COUNT(DISTINCT o_orderpriority), NULL, NULL,
               MIN(o_orderpriority), MAX(o_orderpriority)
        FROM orders
    )
    ORDER BY column_name
    """,
)
def table_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    num_cols = ["o_orderkey", "o_custkey", "o_totalprice"]
    str_cols = ["o_orderstatus", "o_orderpriority"]
    ts_cols = ["o_orderdate"]
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in num_cols + str_cols + ts_cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__nd"),
        ]
    for c in num_cols:
        aggs += [
            F.min(c).cast("double").alias(f"{c}__mn"),
            F.max(c).cast("double").alias(f"{c}__mx"),
        ]
    for c in str_cols:
        aggs += [F.min(c).alias(f"{c}__mn"), F.max(c).alias(f"{c}__mx")]
    for c in ts_cols:
        aggs += [
            F.date_format(F.min(c), "yyyy-MM-dd HH:mm:ss").alias(f"{c}__mn"),
            F.date_format(F.max(c), "yyyy-MM-dd HH:mm:ss").alias(f"{c}__mx"),
        ]
    one = orders.agg(*aggs)
    rows = []
    for c in num_cols:
        rows.append(
            F.struct(
                F.lit(c).alias("column_name"),
                F.col("__n").cast("bigint").alias("n_rows"),
                F.col(f"{c}__nulls").cast("bigint").alias("n_nulls"),
                F.col(f"{c}__nd").cast("bigint").alias("n_distinct"),
                F.col(f"{c}__mn").alias("min_numeric"),
                F.col(f"{c}__mx").alias("max_numeric"),
                F.lit(None).cast("string").alias("min_text"),
                F.lit(None).cast("string").alias("max_text"),
            )
        )
    for c in str_cols + ts_cols:
        rows.append(
            F.struct(
                F.lit(c).alias("column_name"),
                F.col("__n").cast("bigint").alias("n_rows"),
                F.col(f"{c}__nulls").cast("bigint").alias("n_nulls"),
                F.col(f"{c}__nd").cast("bigint").alias("n_distinct"),
                F.lit(None).cast("double").alias("min_numeric"),
                F.lit(None).cast("double").alias("max_numeric"),
                F.col(f"{c}__mn").alias("min_text"),
                F.col(f"{c}__mx").alias("max_text"),
            )
        )
    return (
        one.select(F.explode(F.array(*rows)).alias("p"))
        .select("p.*")
        .orderBy("column_name")
    )


# ---------------------------------------------------------------------------
# Functional-dependency discovery (r7; Huhtala et al. 1999 "TANE",
# public): for each candidate LHS → RHS over orders, the FD holds
# iff COUNT(DISTINCT LHS) == COUNT(DISTINCT (LHS, RHS)); the
# violation count (#extra (LHS,RHS) combinations) and the strength
# ratio quantify near-FDs. Each candidate is two partial-combinable
# distinct aggregates — at 100 TB each is one shuffle on the LHS
# key, and all candidates scan the table once each (a production
# TANE pass would share one scan via grouping sets; candidates here
# are independent so the plans stay readable). Fixed candidate set
# keeps the output deterministic.
@query(
    "functional_deps_orders",
    oracle="""
    WITH cand AS (
        SELECT 'o_orderkey' AS lhs, 'o_custkey' AS rhs,
               CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_lhs,
               CAST(COUNT(DISTINCT (o_orderkey, o_custkey)) AS BIGINT)
                   AS n_pairs
        FROM orders
        WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL
        UNION ALL
        SELECT 'o_custkey', 'o_orderpriority',
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
               CAST(COUNT(DISTINCT (o_custkey, o_orderpriority)) AS BIGINT)
        FROM orders
        WHERE o_custkey IS NOT NULL AND o_orderpriority IS NOT NULL
        UNION ALL
        SELECT 'o_orderdate', 'o_orderstatus',
               CAST(COUNT(DISTINCT o_orderdate) AS BIGINT),
               CAST(COUNT(DISTINCT (o_orderdate, o_orderstatus)) AS BIGINT)
        FROM orders
        WHERE o_orderdate IS NOT NULL AND o_orderstatus IS NOT NULL
        UNION ALL
        SELECT 'o_orderpriority', 'o_orderstatus',
               CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
               CAST(COUNT(DISTINCT (o_orderpriority, o_orderstatus))
                    AS BIGINT)
        FROM orders
        WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
        UNION ALL
        SELECT 'o_totalprice', 'o_orderkey',
               CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
               CAST(COUNT(DISTINCT (o_totalprice, o_orderkey)) AS BIGINT)
        FROM orders
        WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL
    )
    SELECT lhs, rhs, n_lhs, n_pairs,
           n_pairs - n_lhs AS violations,
           (n_pairs = n_lhs) AS holds,
           CAST(n_lhs AS DOUBLE) / n_pairs AS strength
    FROM cand
    ORDER BY lhs, rhs
    """,
)
def functional_deps_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    orders = _t(spark, sf_dir, "orders")
    cands = [
        ("o_orderkey", "o_custkey"),
        ("o_custkey", "o_orderpriority"),
        ("o_orderdate", "o_orderstatus"),
        ("o_orderpriority", "o_orderstatus"),
        ("o_totalprice", "o_orderkey"),
    ]
    parts = []
    for lhs, rhs in cands:
        # pin NULL semantics explicitly: Spark's countDistinct(a, b)
        # drops tuples with ANY null while DuckDB's
        # COUNT(DISTINCT (a,b)) keeps them — filter nulls on BOTH
        # sides so the FD definition is over non-null rows
        # (code-review r7; orders is null-free so hashes are
        # unchanged, but the semantics no longer depend on that)
        parts.append(
            orders.filter(
                F.col(lhs).isNotNull() & F.col(rhs).isNotNull()
            ).agg(
                F.countDistinct(F.col(lhs)).cast("bigint").alias("n_lhs"),
                F.countDistinct(F.col(lhs), F.col(rhs))
                .cast("bigint")
                .alias("n_pairs"),
            ).select(
                F.lit(lhs).alias("lhs"),
                F.lit(rhs).alias("rhs"),
                "n_lhs",
                "n_pairs",
            )
        )
    u = reduce(lambda a, b: a.unionByName(b), parts)
    return u.select(
        "lhs",
        "rhs",
        "n_lhs",
        "n_pairs",
        (F.col("n_pairs") - F.col("n_lhs")).alias("violations"),
        (F.col("n_pairs") == F.col("n_lhs")).alias("holds"),
        (F.col("n_lhs").cast("double") / F.col("n_pairs")).alias(
            "strength"
        ),
    ).orderBy("lhs", "rhs")


# ---------------------------------------------------------------------------
# Group-mean imputation (r8): the repair step that follows the DQ
# gate — null measurements are filled from the (event_type, hour)
# cell mean with a global-mean fallback for empty cells (the
# standard two-level hierarchical imputer). Nulls are synthesized
# deterministically (event_id % 7 == 0 masks `value`) so the query
# is reproducible; cell means are exact micro-unit ratios computed
# from NON-NULL rows only. Audit-shaped output: per type, how many
# were imputed and the before/after means — fill values never
# silently shift a distribution without a trace.
@query(
    "impute_missing_events",
    oracle="""
    WITH base AS (
        SELECT event_id, event_type,
               CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 3600)
                    AS BIGINT) % 24 AS hh,
               CASE WHEN event_id % 7 = 0 THEN NULL
                    ELSE CAST(ROUND(value * 1000000.0) AS BIGINT)
               END AS vm
        FROM events
    ), cell AS (
        SELECT event_type, hh,
               CAST(ROUND(CAST(SUM(vm) AS DOUBLE) / COUNT(vm)) AS BIGINT)
                 AS cell_m
        FROM base WHERE vm IS NOT NULL GROUP BY 1, 2
    ), filled AS (
        SELECT b.event_type,
               b.vm IS NULL AS was_null,
               COALESCE(b.vm, c.cell_m) AS v
        FROM base b LEFT JOIN cell c
          ON b.event_type = c.event_type AND b.hh = c.hh
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN was_null THEN 1 ELSE 0 END) AS BIGINT)
             AS n_imputed,
           CAST(SUM(CASE WHEN NOT was_null THEN v END) AS DOUBLE)
             / COUNT(CASE WHEN NOT was_null THEN v END) / 1000000.0
             AS mean_observed,
           CAST(SUM(v) AS DOUBLE) / COUNT(*) / 1000000.0 AS mean_filled
    FROM filled
    GROUP BY 1 ORDER BY 1
    """,
)
def impute_missing_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        (
            (
                F.floor(
                    F.unix_timestamp("ts").cast("bigint") / F.lit(3600)
                ).cast("bigint")
            )
            % 24
        ).alias("hh"),
        F.when(
            F.col("event_id") % 7 == 0, F.lit(None).cast("bigint")
        )
        .otherwise(
            F.round(F.col("value") * F.lit(1000000.0)).cast("bigint")
        )
        .alias("vm"),
    )
    cell = (
        ev.filter(F.col("vm").isNotNull())
        .groupBy("event_type", "hh")
        .agg(
            F.round(F.sum("vm").cast("double") / F.count("vm"))
            .cast("bigint")
            .alias("cell_m")
        )
    )
    filled = ev.join(F.broadcast(cell), ["event_type", "hh"], "left").select(
        "event_type",
        F.col("vm").isNull().alias("was_null"),
        F.coalesce("vm", "cell_m").alias("v"),
    )
    return (
        filled.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.when(F.col("was_null"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_imputed"),
            (
                F.sum(F.when(~F.col("was_null"), F.col("v"))).cast("double")
                / F.count(F.when(~F.col("was_null"), F.col("v")))
                / F.lit(1000000.0)
            ).alias("mean_observed"),
            (
                F.sum("v").cast("double")
                / F.count(F.lit(1))
                / F.lit(1000000.0)
            ).alias("mean_filled"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Catalog profile (r8): one row per table across the whole catalog —
# row count, column count, and the distinct-count of the table's
# natural key (so key uniqueness is verified catalog-wide in one
# read-out: n_rows == n_keys ⇔ the key is a PK). The per-table
# column counts are schema literals; the counts are one aggregate
# per table, unioned — the "is every table sane" dashboard row.
@query(
    "catalog_profile_all_tables",
    oracle="""
    SELECT 'customer' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(5 AS BIGINT) AS n_cols,
           CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_keys
    FROM customer
    UNION ALL SELECT 'documents', COUNT(*), 5, COUNT(DISTINCT doc_id)
    FROM documents
    UNION ALL SELECT 'embeddings', COUNT(*), 3, COUNT(DISTINCT vec_id)
    FROM embeddings
    UNION ALL SELECT 'events', COUNT(*), 6, COUNT(DISTINCT event_id)
    FROM events
    UNION ALL SELECT 'lineitem', COUNT(*), 11,
              COUNT(DISTINCT l_orderkey * 16 + l_linenumber)
    FROM lineitem
    UNION ALL SELECT 'nation', COUNT(*), 3, COUNT(DISTINCT n_nationkey)
    FROM nation
    UNION ALL SELECT 'orders', COUNT(*), 6, COUNT(DISTINCT o_orderkey)
    FROM orders
    UNION ALL SELECT 'part', COUNT(*), 6, COUNT(DISTINCT p_partkey)
    FROM part
    UNION ALL SELECT 'region', COUNT(*), 2, COUNT(DISTINCT r_regionkey)
    FROM region
    UNION ALL SELECT 'supplier', COUNT(*), 4, COUNT(DISTINCT s_suppkey)
    FROM supplier
    ORDER BY table_name
    """,
)
def catalog_profile_all_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    keys = {
        "customer": F.col("c_custkey"),
        "documents": F.col("doc_id"),
        "embeddings": F.col("vec_id"),
        "events": F.col("event_id"),
        "lineitem": F.col("l_orderkey") * 16 + F.col("l_linenumber"),
        "nation": F.col("n_nationkey"),
        "orders": F.col("o_orderkey"),
        "part": F.col("p_partkey"),
        "region": F.col("r_regionkey"),
        "supplier": F.col("s_suppkey"),
    }
    parts = []
    for name in sorted(keys):
        t = _t(spark, sf_dir, name)
        parts.append(
            t.agg(
                F.lit(name).alias("table_name"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.lit(len(t.columns)).cast("bigint").alias("n_cols"),
                F.countDistinct(keys[name]).cast("bigint").alias("n_keys"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("table_name")


# ---------------------------------------------------------------------------
# Duplicate-charge audit (r8): the payments-ops classic — same
# customer, near-identical amount (same 1000-unit band), within a
# year: the repeat-submission suspect list. The self-join is keyed
# on (customer, amount band) — group sizes are tiny (~10 orders per
# customer), so the pair space is the candidate space, never
# orders² — with the day-window predicate applied inside the group.
# Top-20 suspects with deterministic tie-breaks on both keys.
@query(
    "duplicate_charge_audit_orders",
    oracle="""
    SELECT a.o_custkey AS custkey,
           a.o_orderkey AS order_a, b.o_orderkey AS order_b,
           CAST(a.o_totalprice AS DOUBLE) AS amount_a,
           CAST(b.o_totalprice AS DOUBLE) AS amount_b,
           datediff('day', a.o_orderdate, b.o_orderdate) AS days_apart
    FROM orders a JOIN orders b
      ON a.o_custkey = b.o_custkey
     AND CAST(FLOOR(a.o_totalprice / 1000) AS BIGINT)
         = CAST(FLOOR(b.o_totalprice / 1000) AS BIGINT)
     AND a.o_orderkey < b.o_orderkey
     AND abs(datediff('day', a.o_orderdate, b.o_orderdate)) <= 365
    ORDER BY custkey, order_a, order_b
    LIMIT 20
    """,
)
def duplicate_charge_audit_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    a, b = o.alias("a"), o.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (
                F.floor(F.col("a.o_totalprice") / F.lit(1000)).cast("bigint")
                == F.floor(F.col("b.o_totalprice") / F.lit(1000)).cast(
                    "bigint"
                )
            )
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
            & (
                F.abs(
                    F.datediff(
                        F.col("b.o_orderdate"), F.col("a.o_orderdate")
                    )
                )
                <= 365
            ),
        )
        .select(
            F.col("a.o_custkey").alias("custkey"),
            F.col("a.o_orderkey").alias("order_a"),
            F.col("b.o_orderkey").alias("order_b"),
            F.col("a.o_totalprice").cast("double").alias("amount_a"),
            F.col("b.o_totalprice").cast("double").alias("amount_b"),
            F.datediff(
                F.col("b.o_orderdate"), F.col("a.o_orderdate")
            ).alias("days_apart"),
        )
        .orderBy("custkey", "order_a", "order_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Observed ingest telemetry (Spark's Observation API): the DQ counters accumulate DURING the
# single pass an ingest already makes (driven here through the noop
# sink, the zero-cost "write" used for exactly this measurement
# shape), so there is NO second scan — the 100 TB telemetry contract.
# The observed metrics come back as driver-side scalars and are
# re-emitted as a one-row DataFrame; the oracle recomputes the same
# counters declaratively. Revenue goes through the DECIMAL(38,0)
# integer-cents sum so the observed total is exact.
@query(
    "observed_ingest_metrics_orders",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice < 0
                         OR o_totalprice > 300000
                         THEN 1 ELSE 0 END) AS BIGINT) AS bad_price,
           CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS bad_date,
           CAST(SUM(CAST(round(o_totalprice * 100) AS DECIMAL(38,0)))
                AS DOUBLE) / 100 AS total_revenue
    FROM orders
    """,
)
def observed_ingest_metrics_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Observation

    o = _t(spark, sf_dir, "orders")
    obs = Observation("ingest_orders")
    price_ok = (
        F.col("o_totalprice").isNotNull()
        & (F.col("o_totalprice") >= 0)
        & (F.col("o_totalprice") <= 300000)
    )
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(~price_ok, 1).otherwise(0)).alias("bad_price"),
        F.sum(F.when(F.col("o_orderdate").isNull(), 1).otherwise(0)).alias(
            "bad_date"
        ),
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("decimal(38,0)")
        ).alias("revenue_cents"),
    )
    # the action IS the pipeline's own write — noop sink, one pass
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                int(m["n_rows"]),
                int(m["bad_price"]),
                int(m["bad_date"]),
                float(m["revenue_cents"]) / 100,
            )
        ],
        "n_rows bigint, bad_price bigint, bad_date bigint, total_revenue double",
    )
