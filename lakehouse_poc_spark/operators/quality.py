"""Declarative data-quality expectations: validate → annotate →
quarantine, the Delta-Live-Tables / Great-Expectations-shaped surface
a lakehouse ingest pipeline gates batches with. (The reference has no
DQ surface; this is SURVEY §7 extension scope.)

Design for 100 TB:
- Row-local expectations (not-null, range, set-membership, regex)
  compile to ONE codegen'd projection — no shuffle, no extra pass.
- ``unique_key`` needs per-key counts: one hash shuffle on the key,
  flagged back onto rows via a window (no self-join).
- ``referential`` joins the (small) referenced key set; the key set
  is distinct-reduced first and broadcast when it fits.
- ``summarize`` folds every expectation into a SINGLE aggregate pass
  (conditional sums) — never one count-job per rule, which is the
  driver-side anti-pattern (the reference's 5-count merge stats bug,
  SURVEY §7.0.1, same lesson).

The violation annotation is a sorted comma-joined string (not an
array) so results compare identically across engines and survive the
driver's value-hash.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

VIOLATIONS_COL = "_violations"


@dataclass(frozen=True)
class Expectation:
    """A named row predicate; True = the row passes."""

    name: str
    predicate: Column


def not_null(name: str, *cols: str) -> Expectation:
    p = F.lit(True)
    for c in cols:
        p = p & F.col(c).isNotNull()
    return Expectation(name, p)


def in_range(name: str, col: str, lo, hi) -> Expectation:
    """Closed interval; null fails (a null amount is not in range)."""
    c = F.col(col)
    return Expectation(name, c.isNotNull() & (c >= lo) & (c <= hi))


def one_of(name: str, col: str, values: list) -> Expectation:
    return Expectation(name, F.col(col).isin(values))


def matches(name: str, col: str, pattern: str) -> Expectation:
    return Expectation(name, F.col(col).rlike(pattern))


def check(
    df: DataFrame,
    expectations: list[Expectation],
    unique_key: tuple[str, list[str]] | None = None,
    referential: tuple[str, str, DataFrame, str] | None = None,
) -> DataFrame:
    """Annotate every row with ``_violations``: the sorted
    comma-joined names of failed expectations ('' = clean row).

    ``unique_key=(name, [cols])`` flags every row whose key occurs
    more than once (both copies are violations — dedup policy is the
    caller's).
    ``referential=(name, fk_col, dim_df, pk_col)`` flags rows whose
    foreign key has no match in the referenced key set.
    """
    out = df
    names: list[str] = []
    for e in expectations:
        out = out.withColumn(f"__ok_{e.name}", e.predicate)
        names.append(e.name)
    if unique_key is not None:
        uname, kcols = unique_key
        w = Window.partitionBy(*kcols)
        out = out.withColumn(f"__ok_{uname}", F.count(F.lit(1)).over(w) == 1)
        names.append(uname)
    if referential is not None:
        rname, fk, dim, pk = referential
        keys = (
            dim.select(F.col(pk).alias("__ref_key"))
            .distinct()
            .withColumn("__ref_hit", F.lit(True))
        )
        out = out.join(
            F.broadcast(keys), F.col(fk) == F.col("__ref_key"), "left"
        ).drop("__ref_key")
        out = out.withColumn(
            f"__ok_{rname}", F.coalesce(F.col("__ref_hit"), F.lit(False))
        ).drop("__ref_hit")
        names.append(rname)
    viol = F.array_sort(
        F.filter(
            F.array(
                *[
                    F.when(~F.col(f"__ok_{n}"), F.lit(n)).otherwise(F.lit(None))
                    for n in sorted(names)
                ]
            ),
            lambda x: x.isNotNull(),
        )
    )
    out = out.withColumn(VIOLATIONS_COL, F.concat_ws(",", viol))
    return out.drop(*[f"__ok_{n}" for n in names])


def summarize(checked: DataFrame, names: list[str]) -> DataFrame:
    """Per-expectation failure counts + total, in ONE aggregate pass.
    Returns (expectation, n_failed, n_rows) rows sorted by name —
    '__total_invalid' counts rows failing ANY expectation."""
    v = F.col(VIOLATIONS_COL)
    aggs = [
        F.sum(
            F.when(
                F.array_contains(F.split(v, ","), n), F.lit(1)
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias(n)
        for n in sorted(names)
    ]
    aggs.append(
        F.sum(F.when(v != "", 1).otherwise(0)).cast("bigint").alias("__total_invalid")
    )
    aggs.append(F.count(F.lit(1)).cast("bigint").alias("__n_rows"))
    wide = checked.agg(*aggs)
    cols = sorted(names) + ["__total_invalid"]
    stacked = wide.selectExpr(
        "stack({}, {}) as (expectation, n_failed)".format(
            len(cols), ", ".join(f"'{c}', {c}" for c in cols)
        ),
        "__n_rows as n_rows",
    )
    return stacked.orderBy("expectation")


def quarantine(checked: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a checked frame into (valid, invalid). Valid rows drop
    the annotation; invalid rows keep it as the quarantine reason."""
    valid = checked.filter(F.col(VIOLATIONS_COL) == "").drop(VIOLATIONS_COL)
    invalid = checked.filter(F.col(VIOLATIONS_COL) != "")
    return valid, invalid


def fk_audit(
    tables: dict[str, DataFrame],
    edges: list[tuple[str, str, str, str]],
) -> DataFrame:
    """Referential-integrity audit: one row per foreign-key edge
    ``(child_table, fk_col, parent_table, pk_col)`` with the child row
    count, null-FK count, and dangling-reference count.

    Each edge is ONE left join (parent side reduced to distinct keys —
    dims auto-broadcast under the AQE threshold) feeding ONE aggregate,
    so the whole audit is a union of 7 two-stage branches; nothing is
    materialized row-wise. Null FKs are excluded from the orphan count:
    a null is a missing value (reported separately), not a dangling
    reference — the SQL ``NOT EXISTS`` twin has the same semantics.
    """
    out = None
    for child, fk, parent, pk in edges:
        parents = (
            tables[parent]
            .select(F.col(pk).alias(fk))
            .distinct()
            .withColumn("__hit", F.lit(1))
        )
        branch = (
            tables[child]
            .select(fk)
            .join(parents, fk, "left")
            .agg(
                F.lit(f"{child}.{fk}->{parent}").alias("edge"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(
                    F.when(F.col(fk).isNull(), 1).otherwise(0)
                ).alias("n_null"),
                F.sum(
                    F.when(
                        F.col(fk).isNotNull() & F.col("__hit").isNull(), 1
                    ).otherwise(0)
                ).alias("n_orphans"),
            )
        )
        out = branch if out is None else out.unionByName(branch)
    return out
