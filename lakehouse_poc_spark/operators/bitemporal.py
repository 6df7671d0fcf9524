"""Bitemporal dimension corrections: VALID time × TRANSACTION time
(Snodgrass, *Developing Time-Oriented Database Applications in SQL*,
public).

SCD2 tracks one timeline — when the warehouse LEARNED something
(transaction time). A bitemporal table adds when the fact was TRUE in
the business domain (valid time), so it can answer both "what do we
believe customer X's segment was during 2021?" and the audit twin
"what did we believe about 2021 *as of last March*?" — retroactive
corrections never destroy the earlier belief.

Row shape: business key + attributes + ``[valid_from, valid_to)``
(business validity, dates) + ``[tx_from, tx_to)`` (system knowledge,
timestamps; ``tx_to`` NULL = current belief).

The correction merge (one correction interval per key per batch — the
standard discipline; enforce upstream or the period algebra is
ambiguous) is pure DataFrame algebra:

1. current beliefs that OVERLAP a correction close (``tx_to=run_ts``);
2. their non-overlapped remainders re-insert under the new knowledge
   period — the left segment ``[valid_from, corr.valid_from)`` and the
   right segment ``[corr.valid_to, valid_to)`` when non-empty — with
   the OLD attribute values (we still believe them outside the
   corrected window);
3. the correction rows insert as the new belief for their window;
4. non-overlapping current rows and already-closed history pass
   through untouched.

Scale shape: one key-equi join (dim × corrections, corrections side
broadcast-eligible) + unions; no window, no shuffle beyond the join
key. History grows append-only — the physical write is an SCD2-style
close-and-insert on the same key partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bitemporal_correct(
    dim: DataFrame,
    corrections: DataFrame,
    keys: list[str],
    run_ts,
) -> DataFrame:
    """Apply one batch of retroactive corrections; returns the new
    bitemporal table. ``dim`` columns: keys + attrs + valid_from,
    valid_to (dates; valid_to = 9999-12-31 for open), tx_from, tx_to
    (timestamps; tx_to NULL = current). ``corrections``: keys + attrs
    + valid_from, valid_to."""
    attrs = [
        c
        for c in dim.columns
        if c not in set(keys) | {"valid_from", "valid_to", "tx_from", "tx_to"}
    ]
    run = F.lit(run_ts).cast("timestamp")

    closed = dim.filter(F.col("tx_to").isNotNull())
    open_rows = dim.filter(F.col("tx_to").isNull())

    c = corrections.select(
        *keys,
        *[F.col(a).alias(f"__c_{a}") for a in attrs],
        F.col("valid_from").alias("__c_vf"),
        F.col("valid_to").alias("__c_vt"),
    )
    j = open_rows.join(F.broadcast(c), keys, "left")
    overlap = (
        F.col("__c_vf").isNotNull()
        & (F.col("valid_from") < F.col("__c_vt"))
        & (F.col("__c_vf") < F.col("valid_to"))
    )

    untouched = j.filter(~overlap).select(*dim.columns)
    hit = j.filter(overlap)

    superseded = hit.select(
        *keys, *attrs, "valid_from", "valid_to", "tx_from"
    ).withColumn("tx_to", run)

    left_seg = (
        hit.filter(F.col("valid_from") < F.col("__c_vf"))
        .select(
            *keys,
            *attrs,
            "valid_from",
            F.col("__c_vf").alias("valid_to"),
        )
        .withColumn("tx_from", run)
        .withColumn("tx_to", F.lit(None).cast("timestamp"))
    )
    right_seg = (
        hit.filter(F.col("__c_vt") < F.col("valid_to"))
        .select(
            *keys,
            *attrs,
            F.col("__c_vt").alias("valid_from"),
            "valid_to",
        )
        .withColumn("tx_from", run)
        .withColumn("tx_to", F.lit(None).cast("timestamp"))
    )
    new_belief = corrections.select(
        *keys, *attrs, "valid_from", "valid_to"
    ).withColumn("tx_from", run).withColumn(
        "tx_to", F.lit(None).cast("timestamp")
    )

    cols = keys + attrs + ["valid_from", "valid_to", "tx_from", "tx_to"]
    out = closed.select(*cols)
    for part in (untouched, superseded, left_seg, right_seg, new_belief):
        out = out.unionByName(part.select(*cols))
    return out


