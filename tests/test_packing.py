"""Sequence packing: next-fit semantics, oversized docs, group purity."""

from __future__ import annotations

from pyspark.sql import functions as F

from lakehouse_poc_spark.operators.packing import pack_sequences


def test_next_fit_semantics_single_group(spark):
    # force one group by using a constant-ish key set; verify against a
    # hand-computed next-fit: budget 10, tokens in id order
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate([4, 5, 3, 12, 2, 9, 1])],
        "id long, tokens long",
    )
    out = pack_sequences(df, "id", "tokens", budget=10, group_nibbles=1)
    rows = {r.id: r for r in out.collect()}
    # within each md5 group, packs never exceed budget unless a single
    # oversized doc (12 > 10) sits alone
    from collections import defaultdict

    packs = defaultdict(list)
    for r in rows.values():
        packs[(r.grp, r.pack_id)].append(r.tokens)
    for members in packs.values():
        assert sum(members) <= 10 or len(members) == 1
    # the oversized doc is alone in its pack
    big = rows[3]
    assert packs[(big.grp, big.pack_id)] == [12]
    # offsets are cumulative within the pack
    for (g, p), members in packs.items():
        offs = sorted(
            (r.pack_offset, r.tokens) for r in rows.values()
            if r.grp == g and r.pack_id == p
        )
        acc = 0
        for off, t in offs:
            assert off == acc
            acc += t


def test_pack_stats_fill_bounds(spark):
    df = spark.range(200).select(
        F.col("id"), (F.pmod(F.col("id"), 7) + 1).alias("tokens")
    )
    packed = pack_sequences(df, "id", "tokens", budget=16)
    fills = packed.groupBy("grp", "pack_id").agg(
        (F.sum("tokens") / F.lit(16.0)).alias("fill")
    ).collect()
    assert fills
    for r in fills:
        assert 0 < r.fill <= 1.0
    # totals preserved
    assert packed.agg(F.sum("tokens")).collect()[0][0] == sum(
        (i % 7) + 1 for i in range(200)
    )
