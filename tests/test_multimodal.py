"""Multimodal operator tests: fake-codec round trip, Arrow batch
plumbing across partitions, frame sampling and resizing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from lakehouse_poc_spark.operators.multimodal import (
    decode_images,
    fake_dims,
    payload_byte_stats,
    sample_frames,
    synthesize_images,
)


@pytest.fixture()
def docs(spark):
    rows = [(i, "x" * (40 + 7 * i), 40 + 7 * i) for i in range(10)]
    return spark.createDataFrame(rows, "doc_id long, text string, n_chars long")


def test_synthesize_decode_roundtrip(spark, docs):
    out = {r.doc_id: r for r in decode_images(synthesize_images(docs)).collect()}
    assert len(out) == 10
    for doc_id in (0, 3, 9):
        w, h = fake_dims(doc_id, 40 + 7 * doc_id)
        px = (np.arange(w * h, dtype=np.int64) * 31 + doc_id) % 256
        r = out[doc_id]
        assert (r.width, r.height, r.n_pixels) == (w, h, w * h)
        assert r.mean_pixel == pytest.approx(px.mean())
        assert r.max_pixel == px.max()


def test_mapinpandas_preserves_rows_across_partitions(spark, docs):
    many = docs.repartition(7)
    assert synthesize_images(many).count() == 10
    stats = payload_byte_stats(
        many.withColumn("payload", F.encode("text", "UTF-8")), "doc_id", "payload"
    )
    rows = {r.doc_id: r for r in stats.collect()}
    # 'x' is codepoint 120; text i is all-x of length 40+7i.
    for i in range(10):
        n = 40 + 7 * i
        assert (rows[i].n_bytes, rows[i].byte_sum) == (n, 120 * n)
        assert rows[i].mean_byte == pytest.approx(120.0)


def test_frame_sampling_counts(spark, docs):
    framed = sample_frames(
        docs.withColumn("payload", F.encode("text", "UTF-8")),
        "doc_id",
        "payload",
        frame_bytes=16,
        every=2,
    )
    rows = {r.doc_id: r for r in framed.collect()}
    for i in range(10):
        n = 40 + 7 * i
        n_frames = -(-n // 16)
        n_sampled = -(-n_frames // 2)
        assert (rows[i].n_frames, rows[i].n_sampled) == (n_frames, n_sampled)
        # all bytes are 'x' (120): sampled sum = 120 * bytes in kept frames
        kept = sum(
            min(16, n - f * 16) for f in range(0, n_frames, 2)
        )
        assert rows[i].sampled_byte_sum == 120 * kept


def test_resize_roundtrip_decodes_at_target_dims(spark, docs):
    from lakehouse_poc_spark.operators.multimodal import resize_images

    resized = resize_images(synthesize_images(docs), out_w=4, out_h=4)
    decoded = {r.doc_id: r for r in decode_images(resized.select("doc_id", "payload")).collect()}
    for i in range(10):
        r = decoded[i]
        assert (r.width, r.height, r.n_pixels) == (4, 4, 16)
    # spot-check pixel selection for doc 0 against numpy reference
    w, h = fake_dims(0, 40)
    px = ((np.arange(w * h, dtype=np.int64) * 31) % 256).reshape(h, w)
    ys = (np.arange(4, dtype=np.int64) * h) // 4
    xs = (np.arange(4, dtype=np.int64) * w) // 4
    expected_mean = px[np.ix_(ys, xs)].mean()
    got = {r.doc_id: r.mean_pixel for r in resized.collect()}
    assert got[0] == pytest.approx(expected_mean)


def test_dhash_is_perceptual_not_byte_level(spark):
    """The property that separates dHash from md5 payload dedup: a
    small pixel perturbation leaves the hash within a few Hamming
    bits (still a near-dup), while an unrelated image is far away.
    Exact duplicates hash identically."""
    import struct

    import numpy as np

    from lakehouse_poc_spark.operators.multimodal import (
        HEADER_FMT,
        dhash_images,
        dhash_neardup_pairs,
    )

    w, h = 32, 16
    base = np.arange(w * h, dtype=np.int64) * 7 % 256

    def img(doc_id, px):
        return (
            doc_id,
            struct.pack(HEADER_FMT, w, h) + bytes(px.astype(np.uint8)),
            w,
            h,
            "fake",
        )

    perturbed = base.copy()
    perturbed[5] = (perturbed[5] + 3) % 256  # one pixel nudged
    unrelated = (np.arange(w * h, dtype=np.int64) * 131 + 17) % 256
    df = spark.createDataFrame(
        [img(1, base), img(2, base), img(3, perturbed), img(4, unrelated)],
        "doc_id long, payload binary, width int, height int, format string",
    )
    hs = {r.doc_id: (r.dhash_hi, r.dhash_lo) for r in dhash_images(df).collect()}
    assert hs[1] == hs[2]  # exact dup: identical hash

    def ham(a, b):
        return bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")

    assert ham(hs[1], hs[3]) <= 3  # perturbation: near
    assert ham(hs[1], hs[4]) > 10  # unrelated: far
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in dhash_neardup_pairs(dhash_images(df)).collect()
    }
    assert pairs[(1, 2)] == 0 and (1, 3) in pairs and (1, 4) not in pairs


def test_incremental_media_dedup_equals_one_shot(spark):
    """Id-ordered batches against the digest store reproduce the
    one-shot payload dedup exactly, including duplicates that span
    batch boundaries (synthetic dups injected by repeating texts)."""
    from pyspark.sql import functions as F

    from lakehouse_poc_spark import plans

    # sf0.001 has zero duplicate texts (dedup would be vacuous —
    # code-review r7); build a corpus WITH dups spanning the batch
    # boundaries by duplicating sf0.001 texts under shifted ids
    import hashlib

    import pandas as pd

    sf = "/root/testdata/sf0.001"
    docs = pd.read_parquet(f"{sf}/documents.parquet")
    import tempfile
    from pathlib import Path as _P

    dup = docs.copy()
    dup["doc_id"] = dup["doc_id"] + 400  # 100..499 overlap 0..99 dups
    corpus = pd.concat([docs, dup[dup["doc_id"] >= 400]])
    corpus = corpus.drop_duplicates("doc_id").reset_index(drop=True)
    d = tempfile.mkdtemp()
    corpus.to_parquet(_P(d) / "documents.parquet")
    out = plans.QUERIES["incremental_media_dedup"](spark, d).toPandas()
    corpus["digest"] = corpus["text"].map(
        lambda t: hashlib.md5(t.encode()).hexdigest()
    )
    keepers = corpus.groupby("digest")["doc_id"].min()
    assert sorted(out["doc_id"]) == sorted(keepers)
    # the dedup genuinely fired: duplicates exist and were dropped
    assert len(out) < len(corpus)
