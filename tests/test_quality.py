"""Data-quality expectations engine (operators/quality.py): violation
annotation semantics, quarantine split, and the scale-critical plan
shapes (row-local checks add no exchange; the summary is one
aggregate pass, not one job per rule)."""

from __future__ import annotations

from pyspark.sql import functions as F

from lakehouse_poc_spark.operators import quality as Q


def _checked(spark):
    df = spark.createDataFrame(
        [
            (1, 10.0, "ok"),
            (2, -5.0, "ok"),       # range violation
            (3, 10.0, "bad"),      # set violation
            (4, None, "bad"),      # range (null) + set violations
            (4, 10.0, "ok"),       # duplicate key (both rows flagged)
            (4, 10.0, "ok"),
        ],
        "k int, amount double, status string",
    )
    return Q.check(
        df,
        [
            Q.in_range("amount_range", "amount", 0, 100),
            Q.one_of("status_known", "status", ["ok"]),
        ],
        unique_key=("k_unique", ["k"]),
    )


def test_violations_sorted_and_composed(spark):
    rows = {
        (r["k"], r["amount"], r["status"]): r[Q.VIOLATIONS_COL]
        for r in _checked(spark).collect()
    }
    assert rows[(1, 10.0, "ok")] == ""
    assert rows[(2, -5.0, "ok")] == "amount_range"
    assert rows[(3, 10.0, "bad")] == "status_known"
    # multi-violation: alphabetical, comma-joined; duplicate key adds k_unique
    assert rows[(4, None, "bad")] == "amount_range,k_unique,status_known"
    assert rows[(4, 10.0, "ok")] == "k_unique"


def test_summarize_counts_each_rule_and_total(spark):
    out = {
        r["expectation"]: (r["n_failed"], r["n_rows"])
        for r in Q.summarize(
            _checked(spark), ["amount_range", "status_known", "k_unique"]
        ).collect()
    }
    assert out["amount_range"] == (2, 6)
    assert out["status_known"] == (2, 6)
    assert out["k_unique"] == (3, 6)
    assert out["__total_invalid"] == (5, 6)


def test_quarantine_partitions_rows(spark):
    valid, invalid = Q.quarantine(_checked(spark))
    assert valid.count() == 1
    assert invalid.count() == 5
    assert Q.VIOLATIONS_COL not in valid.columns


def test_referential_flags_missing_and_null_fk(spark):
    facts = spark.createDataFrame(
        [(1, 100), (2, 999), (3, None)], "id int, fk int"
    )
    dim = spark.createDataFrame([(100,), (200,)], "pk int")
    rows = {
        r["id"]: r[Q.VIOLATIONS_COL]
        for r in Q.check(
            facts, [], referential=("fk_ref", "fk", dim, "pk")
        ).collect()
    }
    assert rows == {1: "", 2: "fk_ref", 3: "fk_ref"}


def test_row_local_checks_add_no_exchange(spark):
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).cast("double").alias("amount")
    )
    checked = Q.check(df, [Q.in_range("amount_range", "amount", 0, 5)])
    plan = checked._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure projection, no shuffle


def test_summarize_is_single_aggregate(spark):
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).cast("double").alias("amount")
    )
    checked = Q.check(df, [Q.in_range("amount_range", "amount", 0, 5)])
    plan = Q.summarize(checked, ["amount_range"])._jdf.queryExecution(
    ).executedPlan().toString()
    # one partial+final aggregate pair over the scan — not N count jobs
    assert plan.count("HashAggregate") <= 2 or "SortAggregate" in plan


def test_analyze_table_is_one_pass(spark):
    """Exact multi-column NDV compiles to a single Expand-based
    aggregate — one shuffle, not one count-distinct job per column."""
    from lakehouse_poc_spark.operators.stats import analyze_table

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 13).alias("a"), (F.col("id") % 7).alias("b")
    )
    prof = analyze_table(df, ["a", "b"])
    plan = prof._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan
    rows = {r["column"]: r for r in prof.collect()}
    assert rows["a"]["n_distinct"] == 13 and rows["b"]["n_distinct"] == 7
    assert rows["a"]["n_rows"] == 1000 and rows["a"]["n_nulls"] == 0
    assert rows["a"]["min_value"] == "0" and rows["a"]["max_value"] == "12"


def test_analyze_table_approx_mode(spark):
    from lakehouse_poc_spark.operators.stats import analyze_table

    df = spark.range(10_000).select((F.col("id") % 97).alias("a"))
    rows = analyze_table(df, ["a"], approx=True).collect()
    assert abs(rows[0]["n_distinct"] - 97) <= 5  # HLL within tolerance


def test_perplexity_buckets_terciles(spark):
    """CCNet bucketing invariants: tercile sizes differ by <=1, every
    doc is labeled, and the head tercile's mean logprob dominates the
    tail's (higher logprob == lower perplexity == cleaner)."""
    from lakehouse_poc_spark.plans.searchops import perplexity_buckets_docs

    out = perplexity_buckets_docs(spark, "/root/testdata/sf0.001").collect()
    sizes = {}
    means = {}
    for r in out:
        sizes[r.bucket] = sizes.get(r.bucket, 0) + 1
        means.setdefault(r.bucket, []).append(r.mean_logprob)
    assert set(sizes) == {"head", "middle", "tail"}
    assert max(sizes.values()) - min(sizes.values()) <= 1
    assert sum(sizes.values()) == len(out)
    head = sum(means["head"]) / len(means["head"])
    tail = sum(means["tail"]) / len(means["tail"])
    assert head > tail
