"""Range join: match rows to (lo, hi] / [lo, hi) intervals.

Spark executes a raw inequality join as BroadcastNestedLoopJoin when
one side is small — fine for a band table of dozens of rows, fatal if
both sides are big. Two strategies:

- :func:`band_join` — broadcast nested-loop against a small interval
  table (the common "bucketize by bands" case). O(|df|·|bands|)
  comparisons but bands ≪ 100 and it never shuffles the big side.
- :func:`interval_overlap_join` — both sides big: explode each
  interval into the fixed-width buckets it covers, equi-join on bucket
  id (one hash shuffle), then post-filter the exact predicate. This
  turns O(n·m) into O(n + m + matches) — the 100 TB-safe plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def band_join(
    df: DataFrame,
    bands: DataFrame,
    value_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
    closed: str = "left",
) -> DataFrame:
    """Join each row to the (small, broadcast) band containing
    ``value_col``. ``closed='left'`` → [lo, hi)."""
    v = F.col(value_col)
    if closed == "left":
        cond = (v >= F.col(lo_col)) & (v < F.col(hi_col))
    else:
        cond = (v > F.col(lo_col)) & (v <= F.col(hi_col))
    return df.join(F.broadcast(bands), cond, "inner")


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_lo: str,
    left_hi: str,
    right_lo: str,
    right_hi: str,
    bucket_width: int,
) -> DataFrame:
    """Big×big INTERVAL-INTERVAL overlap join, co-keyed: pairs whose
    [lo, hi] ranges intersect (closed ends) and whose ``keys`` match.
    The big×big member of the range-join family (band_join: point×small
    intervals).

    Both sides explode into the fixed-width buckets their interval
    covers; the equi-join runs on (keys…, bucket); a pair meeting in
    several buckets is kept once via the LOWEST shared bucket (the
    standard dedup trick — max(floor(lo_a/w), floor(lo_b/w)) is the
    first bucket both cover, a pure expression, so no distinct
    shuffle); the exact overlap predicate post-filters. Bucket width
    should be ≈ the median interval length: the explode factor is
    len/width + 1 per row, and the join shuffle is keyed on
    (keys…, bucket) — never an unkeyed cross.
    """
    def burst(df: DataFrame, lo: str, hi: str, side: str) -> DataFrame:
        return df.withColumn(
            f"__bkt_{side}",
            F.explode(
                F.sequence(
                    F.floor(F.col(lo) / bucket_width),
                    F.floor(F.col(hi) / bucket_width),
                )
            ),
        )
    l2 = burst(left, left_lo, left_hi, "l").alias("L")
    r2 = burst(right, right_lo, right_hi, "r").alias("R")
    first_shared = F.greatest(
        F.floor(F.col(f"L.{left_lo}") / bucket_width),
        F.floor(F.col(f"R.{right_lo}") / bucket_width),
    )
    cond = (
        (F.col("L.__bkt_l") == F.col("R.__bkt_r"))
        & (F.col("L.__bkt_l") == first_shared)  # emit each pair once
        & (F.col(f"L.{left_lo}") <= F.col(f"R.{right_hi}"))
        & (F.col(f"R.{right_lo}") <= F.col(f"L.{left_hi}"))
    )
    for k in keys:
        cond = cond & (F.col(f"L.{k}") == F.col(f"R.{k}"))
    return l2.join(r2, cond).drop("__bkt_l", "__bkt_r")
