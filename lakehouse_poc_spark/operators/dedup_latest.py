"""Dedup-latest: keep the newest row per business key.

Re-expresses the reference's "pro business_key nur den letzten Stand"
transform (reference notebooks/pipeline_core.py:95-106: ``row_number()
over (partition by key order by IngestTimestamp desc)`` then
``rn == 1``) with composite keys and explicit tie-breakers.

Scale notes: one shuffle on the key columns; at 100 TB this is the
canonical argmax pattern. Spark pushes partial ``max_by`` only in the
agg form, but the window form keeps the whole row (single shuffle, no
join-back), which is what the pipeline needs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dedup_latest(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    keep: str = "last",
) -> DataFrame:
    """Keep exactly one row per key: the greatest (``keep='last'``) or
    smallest (``keep='first'``) by ``order_by`` (later columns break ties).

    Deterministic only if ``order_by`` is a total order within key —
    callers should include a unique id as the final tie-breaker.
    """
    cols = [F.col(c).desc() if keep == "last" else F.col(c).asc() for c in order_by]
    w = Window.partitionBy(*keys).orderBy(*cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


