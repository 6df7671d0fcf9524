"""Distributed BPE tokenizer training (Sennrich et al. 2016, ACL —
public paper): learn the merge table a byte-pair-encoding tokenizer
needs, over a corpus DataFrame.

The scale design is the classic two-level trick:

1. Collapse the corpus to its WORD VOCABULARY first — (word, count)
   via one groupBy. All later work is per distinct word, weighted by
   count; a 100 TB corpus typically has a word vocab in the tens of
   millions — cluster-sized, not corpus-sized.
2. Each merge round is (a) one map-only explode of adjacent symbol
   pairs, (b) one pair-count groupBy (map-side combined), (c) a
   driver-side top-1 (a single row — like centroids), (d) one
   map-only fold applying the merge to every word's symbol array.
   k merges = k small shuffles over the vocab relation; lineage is
   truncated with localCheckpoint every few rounds (the iterative-
   Spark failure mode, same as pagerank_int).

Determinism: the winning pair is (max count, ties → lexicographically
smallest (left, right)), and the merge fold is left-to-right
non-overlapping — the reference semantics, reproduced exactly by the
pure-Python twin in tests. No SQL oracle (iterative, like the k-means
quantizer): the registered query is rows-only and the property test
asserts merge-table equality with the reference implementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens
from .partitioning import fan_out


def _merge_fold(a: str, b: str):
    """Left-to-right non-overlapping merge of adjacent (a, b) → a+b
    over a symbol array, as a codegen-free but JVM-side fold."""
    merged = F.lit(a + b)

    def step(acc, x):
        # try_element_at: a plain element_at(-1) on the empty initial
        # accumulator would throw under ANSI mode
        prev = F.try_element_at(acc, F.lit(-1))
        can = (F.size(acc) > 0) & (prev == F.lit(a)) & (x == F.lit(b))
        return F.when(
            can, F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged))
        ).otherwise(F.concat(acc, F.array(x)))

    return lambda syms: F.aggregate(
        syms, F.array().cast("array<string>"), step
    )


def word_vocab(corpus: DataFrame, text_col: str) -> DataFrame:
    """(word, n, syms) — distinct words with counts and their initial
    character-symbol arrays."""
    words = (
        fan_out(corpus)
        .select(F.explode(tokens(text_col)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    syms = F.filter(F.split(F.col("w"), ""), lambda c: c != "")
    return words.select("w", "n", syms.alias("syms"))


def bpe_train(
    corpus: DataFrame,
    text_col: str,
    n_merges: int = 20,
    checkpoint_every: int = 5,
) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` BPE merges; returns
    [(rank, left, right, pair_count)] in merge order."""
    vocab = word_vocab(corpus, text_col).persist()
    vocab.count()
    merges: list[tuple[int, str, str, int]] = []
    cur = vocab
    try:
        for rank in range(n_merges):
            pairs = (
                cur.select(
                    "n",
                    F.explode(
                        F.zip_with(
                            F.slice(F.col("syms"), 1, F.size("syms") - 1),
                            F.slice(F.col("syms"), 2, F.size("syms") - 1),
                            lambda l, r: F.struct(
                                l.alias("left"), r.alias("right")
                            ),
                        )
                    ).alias("p"),
                )
                .groupBy("p.left", "p.right")
                .agg(F.sum("n").alias("cnt"))
            )
            top = (
                pairs.orderBy(F.desc("cnt"), F.asc("left"), F.asc("right"))
                .limit(1)
                .collect()
            )
            if not top or top[0]["cnt"] < 2:
                break
            left, right, cnt = top[0]["left"], top[0]["right"], int(top[0]["cnt"])
            merges.append((rank, left, right, cnt))
            fold = _merge_fold(left, right)
            nxt = cur.select("w", "n", fold(F.col("syms")).alias("syms"))
            if (rank + 1) % checkpoint_every == 0:
                nxt = nxt.localCheckpoint(eager=True)
            cur = nxt
        return merges
    finally:
        vocab.unpersist()


def bpe_encode_words(words: DataFrame, merges: list[tuple[int, str, str, int]]) -> DataFrame:
    """(w, toks): encode each distinct word by applying the trained
    merge table in rank order — k JVM-side folds over the vocab
    relation, no Python in the loop. The vocab is the unit of work
    (two-level trick, same as training): a 100 TB corpus re-encodes
    its tens-of-millions-row vocab, not its trillions of tokens."""
    syms = F.filter(F.split(F.col("w"), ""), lambda c: c != "")
    out = words.select("w", syms.alias("toks"))
    for i, (_rank, left, right, _cnt) in enumerate(merges):
        fold = _merge_fold(left, right)
        out = out.select("w", fold(F.col("toks")).alias("toks"))
        # k nested folds would grow one expression tree of depth k;
        # cut it periodically so analysis/codegen stays bounded
        if (i + 1) % 8 == 0:
            out = out.localCheckpoint(eager=False)
    return out


def bpe_encode(
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    merges: list[tuple[int, str, str, int]],
) -> DataFrame:
    """(id, toks, n_tokens): tokenize each document with a trained BPE
    merge table. Word positions ride through the vocab join so each
    document's token stream comes back in text order: posexplode →
    join (word → token array) → re-assemble with an array_sort on
    position → flatten. One explode shuffle + one vocab-sized join —
    the join side is the distinct-word relation, which Spark
    broadcast-plans when small and hash-joins when not."""
    toks_by_word = bpe_encode_words(
        fan_out(corpus)
        .select(F.explode(tokens(text_col)).alias("w"))
        .filter(F.col("w") != "")
        .distinct(),
        merges,
    )
    pos = (
        fan_out(corpus)
        .select(F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "w"))
        .filter(F.col("w") != "")
    )
    joined = pos.join(toks_by_word, "w")
    per_doc = (
        joined.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("toks")))
            ).alias("parts")
        )
        .select(
            F.col(id_col),
            F.flatten(F.transform(F.col("parts"), lambda s: s["toks"])).alias("toks"),
        )
    )
    return per_doc.withColumn("n_tokens", F.size("toks"))


