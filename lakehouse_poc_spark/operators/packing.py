"""Sequence packing: assign documents to fixed-token-budget packs for
LLM training batch construction.

Semantics: **next-fit in deterministic order within hash groups**. Docs
are bucketed by md5-nibble of their id (row-local, append-stable — the
same idiom as the curation splits), ordered by id within each group,
and packed sequentially: a running token total that would exceed
``budget`` starts a new pack (an oversized doc therefore occupies a
pack alone). Output is (id, tokens, grp, pack_id, pack_offset).

Why this shape at 100 TB: global greedy packing is inherently
sequential; hash-grouping makes it embarrassingly parallel — each group
packs independently and exactly, and nibble count is the lever that
sizes per-task state (choose group_nibbles so one group's (id, tokens)
pairs fit comfortably in an Arrow batch; the TEXT never moves — only
ids and counts shuffle, payloads re-join by id afterwards). The waste
vs global packing is bounded by one partial pack per group.

Why ``applyInPandas``: next-fit is a non-associative scan (the reset
makes prefix sums inapplicable), so no built-in window expresses it;
an Arrow-batched grouped kernel is the idiomatic Spark escape hatch.
The kernel is O(rows) over ids and counts only — cheap next to the
shuffle it rides on.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _pack_group(budget: int):
    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__id", kind="mergesort", ignore_index=True)
        packs: list[int] = []
        offsets: list[int] = []
        pack, acc = 0, 0
        for t in pdf["__tokens"]:
            t = int(t)
            if acc > 0 and acc + t > budget:
                pack += 1
                acc = 0
            offsets.append(acc)
            packs.append(pack)
            acc += t
        pdf["pack_id"] = pd.Series(packs, dtype="int64")
        pdf["pack_offset"] = pd.Series(offsets, dtype="int64")
        return pdf

    return fn


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_col,
    budget: int,
    group_nibbles: int = 1,
) -> DataFrame:
    """Pack rows of ``df`` into token-budget packs.

    ``token_col`` is a column name or Column with the per-row token
    count. ``group_nibbles`` md5 hex chars form the group key
    (16**group_nibbles groups). Returns (id, tokens, grp, pack_id,
    pack_offset): pack ids are dense per group starting at 0;
    ``pack_offset`` is the row's token position within its pack.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if group_nibbles < 1:
        raise ValueError(f"group_nibbles must be >= 1, got {group_nibbles}")
    tok = F.col(token_col) if isinstance(token_col, str) else token_col
    grp = F.substring(F.md5(F.col(id_col).cast("string")), 1, group_nibbles)
    slim = df.select(
        F.col(id_col).alias("__id"),
        tok.cast("long").alias("__tokens"),
        grp.alias("grp"),
    )
    out = slim.groupBy("grp").applyInPandas(
        _pack_group(budget),
        schema="__id long, __tokens long, grp string, pack_id long, pack_offset long",
    )
    return out.select(
        F.col("__id").alias(id_col),
        F.col("__tokens").alias("tokens"),
        "grp",
        "pack_id",
        "pack_offset",
    )


