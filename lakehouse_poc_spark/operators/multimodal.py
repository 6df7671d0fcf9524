"""Multimodal (image/audio/video-shaped) columns: opaque ``binary``
payloads + typed metadata, processed with Arrow-batched ``mapInPandas``.

No image/audio library is a dependency, so the *codec* is a
deterministic synthetic one (``synthesize_images`` / ``decode_images``)
whose Spark-side plumbing — binary columns, typed metadata structs,
Arrow batch shapes, mapInPandas signatures, partition-preserving
execution — is real and oracle-tested. A real codec swaps only the
per-payload call.

Scale notes (100 TB of media):
- payloads stay in executors end-to-end (binary column in Arrow
  batches); nothing is collected to the driver;
- mapInPandas streams record batches (bounded by
  ``spark.sql.execution.arrow.maxRecordsPerBatch``), so executor
  memory is per-batch, not per-partition;
- decode/feature steps are embarrassingly parallel map-only passes —
  no shuffle; downstream aggregations shuffle on their own keys;
- at real scale the binary column lives in parquet next to its
  metadata, so predicate pushdown on metadata (width, duration,
  format) prunes file groups before any byte is decoded.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .partitioning import fan_out

HEADER_FMT = "<II"  # width, height — the fake codec header
HEADER_SIZE = struct.calcsize(HEADER_FMT)

IMAGE_SCHEMA = (
    "doc_id long, payload binary, width int, height int, format string"
)


def _fake_pixels(doc_id: int, n: int) -> np.ndarray:
    """Deterministic pixel bytes: pixel i = (i*31 + doc_id) % 256 —
    trivially recomputable by the SQL oracle."""
    i = np.arange(n, dtype=np.int64)
    return ((i * 31 + doc_id) % 256).astype(np.uint8)


def fake_dims(doc_id: int, n_chars: int) -> tuple[int, int]:
    """Deterministic fake image dimensions from document features."""
    return 16 + n_chars % 32, 8 + doc_id % 16


def synthesize_images(docs: DataFrame) -> DataFrame:
    """documents → fake image table (binary payload + typed metadata).

    Stands in for a real ingest of image bytes; the payload layout is
    an 8-byte (width, height) header followed by width*height pixel
    bytes, so the decode step has something real to parse.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, widths, heights = [], [], []
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                w, h = fake_dims(int(doc_id), int(n_chars))
                payloads.append(
                    struct.pack(HEADER_FMT, w, h)
                    + _fake_pixels(int(doc_id), w * h).tobytes()
                )
                widths.append(w)
                heights.append(h)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": payloads,
                    "width": widths,
                    "height": heights,
                    "format": "fake-raw",
                }
            )

    return fan_out(docs).select("doc_id", "n_chars").mapInPandas(gen, IMAGE_SCHEMA)


def decode_images(images: DataFrame) -> DataFrame:
    """Parse the payload (header + pixels) and extract per-image
    features — the deterministic twin of a PIL/libvips decode."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": pdf["doc_id"],
                "width": [],
                "height": [],
                "n_pixels": [],
                "mean_pixel": [],
                "max_pixel": [],
            }
            for payload in pdf["payload"]:
                w, h = struct.unpack(HEADER_FMT, payload[:HEADER_SIZE])
                px = np.frombuffer(payload, dtype=np.uint8, offset=HEADER_SIZE)
                out["width"].append(w)
                out["height"].append(h)
                out["n_pixels"].append(len(px))
                out["mean_pixel"].append(float(px.sum()) / len(px))
                out["max_pixel"].append(int(px.max()))
            yield pd.DataFrame(out)

    return images.mapInPandas(
        decode,
        "doc_id long, width int, height int, n_pixels long, "
        "mean_pixel double, max_pixel int",
    )


def resize_images(images: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize of the raster payloads to (out_w, out_h):
    output pixel (x, y) samples source pixel
    (floor(x*w/out_w), floor(y*h/out_h)) — real raster math in numpy
    over Arrow batches, reproducible by the SQL oracle. Emits the
    resized payload (same header layout) plus summary features."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": pdf["doc_id"],
                "payload": [],
                "width": out_w,
                "height": out_h,
                "mean_pixel": [],
            }
            for payload in pdf["payload"]:
                w, h = struct.unpack(HEADER_FMT, payload[:HEADER_SIZE])
                px = np.frombuffer(
                    payload, dtype=np.uint8, offset=HEADER_SIZE
                ).reshape(h, w)
                ys = (np.arange(out_h, dtype=np.int64) * h) // out_h
                xs = (np.arange(out_w, dtype=np.int64) * w) // out_w
                small = px[np.ix_(ys, xs)]
                out["payload"].append(
                    struct.pack(HEADER_FMT, out_w, out_h) + small.tobytes()
                )
                out["mean_pixel"].append(float(small.sum()) / small.size)
            yield pd.DataFrame(out)

    return images.mapInPandas(
        resize,
        "doc_id long, payload binary, width int, height int, mean_pixel double",
    )


def grouped_demean(
    df: DataFrame, key_col: str, value_col: str
) -> DataFrame:
    """Grouped-map (``applyInPandas``) demonstration: subtract the
    group's exact mean from each row's value. The mean is computed in
    integer-scaled arithmetic (micro-units) so it is order-independent
    and bit-identical to a SQL decimal mean.

    Scale: one shuffle on the key; each group materializes as one
    pandas frame, so this pattern fits when groups are bounded (per
    user / per device) — for giant groups prefer window expressions.
    """

    def demean(pdf: pd.DataFrame) -> pd.DataFrame:
        # floor, not round: floor semantics agree across engines
        # (SQL round() is half-away-from-zero, numpy's is half-even).
        micros = np.floor(pdf[value_col] * 1_000_000).astype("int64")
        mean = float(micros.sum() / len(micros)) / 1_000_000
        out = pdf[[key_col]].copy()
        out["value"] = pdf[value_col]
        out["demeaned"] = pdf[value_col] - mean
        return out

    return df.select(key_col, value_col).groupBy(key_col).applyInPandas(
        demean, f"{key_col} long, value double, demeaned double"
    )


def payload_byte_stats(
    df: DataFrame, id_col: str, payload_col: str
) -> DataFrame:
    """Per-payload byte statistics (numpy over Arrow binary batches)."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = pdf[payload_col].map(len).astype("int64")
            s = pdf[payload_col].map(
                lambda b: int(np.frombuffer(b, dtype=np.uint8).sum())
            ).astype("int64")
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": n,
                    "byte_sum": s,
                    "mean_byte": s / n,
                }
            )

    return fan_out(df).select(id_col, payload_col).mapInPandas(
        stats, f"{id_col} long, n_bytes long, byte_sum long, mean_byte double"
    )


def sample_frames(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    frame_bytes: int = 64,
    every: int = 4,
) -> DataFrame:
    """Video-shaped op: treat the payload as fixed-size frames and
    keep every ``every``-th frame (a frame-sampling decimator). The
    trailing partial frame counts as a frame."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                id_col: pdf[id_col],
                "n_frames": [],
                "n_sampled": [],
                "sampled_byte_sum": [],
            }
            for payload in pdf[payload_col]:
                px = np.frombuffer(payload, dtype=np.uint8)
                n_frames = -(-len(px) // frame_bytes)  # ceil div
                total = 0
                n_sampled = 0
                for f in range(0, n_frames, every):
                    total += int(px[f * frame_bytes : (f + 1) * frame_bytes].sum())
                    n_sampled += 1
                out["n_frames"].append(n_frames)
                out["n_sampled"].append(n_sampled)
                out["sampled_byte_sum"].append(total)
            yield pd.DataFrame(out)

    return fan_out(df).select(id_col, payload_col).mapInPandas(
        sample,
        f"{id_col} long, n_frames long, n_sampled long, sampled_byte_sum long",
    )


# ---------------------------------------------------------------------------
# Audio modality: deterministic int16 PCM payloads + feature extraction
# (duration, energy, peak, zero-crossing rate — the standard first-pass
# audio curation features). Same contract as the image codec: payload
# layout is real (packed header + samples), the waveform is synthetic,
# and a librosa/soundfile decode would drop into the identical
# mapInPandas slot.

AUDIO_HEADER_FMT = "<ii"  # (sample_rate, n_samples)
AUDIO_HEADER_SIZE = struct.calcsize(AUDIO_HEADER_FMT)
AUDIO_SCHEMA = "doc_id long, payload binary, sample_rate int, n_samples int, format string"
_AUDIO_SR = 8000


def _fake_samples(doc_id: int, n: int) -> np.ndarray:
    """Deterministic pseudo-waveform in [-128, 127] (int16 storage)."""
    i = np.arange(n, dtype=np.int64)
    return (((doc_id * 31 + i * 17) % 256) - 128).astype(np.int16)


def synthesize_audio(docs: DataFrame) -> DataFrame:
    """documents → fake audio table: header + int16-LE samples;
    n_samples = 64 + doc_id % 64."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, ns = [], []
            for doc_id in pdf["doc_id"]:
                n = 64 + int(doc_id) % 64
                payloads.append(
                    struct.pack(AUDIO_HEADER_FMT, _AUDIO_SR, n)
                    + _fake_samples(int(doc_id), n).tobytes()
                )
                ns.append(n)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": payloads,
                    "sample_rate": _AUDIO_SR,
                    "n_samples": ns,
                    "format": "fake-pcm16",
                }
            )

    return fan_out(docs).select("doc_id").mapInPandas(gen, AUDIO_SCHEMA)


def audio_features(audio: DataFrame) -> DataFrame:
    """Unpack PCM payloads → per-clip features. Energy and peak are
    integer-exact; zero-crossing counts sign flips between consecutive
    samples (negative vs non-negative)."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": pdf["doc_id"],
                "sample_rate": [],
                "n_samples": [],
                "duration_s": [],
                "energy": [],
                "peak": [],
                "zero_crossings": [],
            }
            for payload in pdf["payload"]:
                sr, n = struct.unpack(AUDIO_HEADER_FMT, payload[:AUDIO_HEADER_SIZE])
                s = np.frombuffer(
                    payload, dtype=np.int16, offset=AUDIO_HEADER_SIZE
                ).astype(np.int64)
                neg = s < 0
                out["sample_rate"].append(sr)
                out["n_samples"].append(n)
                out["duration_s"].append(n / sr)
                out["energy"].append(float((s * s).sum()) / n)
                out["peak"].append(int(np.abs(s).max()))
                out["zero_crossings"].append(int((neg[1:] != neg[:-1]).sum()))
            yield pd.DataFrame(out)

    return audio.mapInPandas(
        feats,
        "doc_id long, sample_rate int, n_samples int, duration_s double, "
        "energy double, peak int, zero_crossings long",
    )


def dhash_images(images: DataFrame) -> DataFrame:
    """Perceptual difference hash (dHash — Krawetz's public
    "Kind of Like That" algorithm): nearest-sample the decoded
    grayscale payload to a 9×8 grid (xs(c) = c·w//9, ys(r) = r·h//8)
    and set bit r·8+c iff grid[r][c] < grid[r][c+1]. Near-duplicate
    images (small pixel perturbations, re-encodes, minor crops) land
    within a few Hamming bits of each other — the image twin of
    SimHash for text. The 64 bits are returned as two exact 32-bit
    halves (``dhash_hi``/``dhash_lo``) so both engines stay in signed
    BIGINT arithmetic.

    Map-only Arrow pass over payload bytes; payloads never reach the
    driver. Output: (doc_id, width, height, dhash_hi, dhash_lo)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ws, hs, his, los = [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h = struct.unpack_from(HEADER_FMT, payload, 0)
                px = np.frombuffer(
                    payload, dtype=np.uint8, offset=HEADER_SIZE
                ).astype(np.int64)
                xs = (np.arange(9, dtype=np.int64) * w) // 9
                ys = (np.arange(8, dtype=np.int64) * h) // 8
                grid = px[ys[:, None] * w + xs[None, :]]  # (8, 9)
                bits = (grid[:, :-1] < grid[:, 1:]).reshape(-1)  # b = r*8+c
                weights = 1 << (np.arange(64, dtype=np.int64) % 32)
                lo = int((bits[:32] * weights[:32]).sum())
                hi = int((bits[32:] * weights[:32]).sum())
                ids.append(doc_id)
                ws.append(w)
                hs.append(h)
                his.append(hi)
                los.append(lo)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "width": ws,
                    "height": hs,
                    "dhash_hi": his,
                    "dhash_lo": los,
                }
            )

    return fan_out(images).mapInPandas(
        kernel,
        "doc_id long, width int, height int, dhash_hi long, dhash_lo long",
    )


def dhash_neardup_pairs(
    hashes: DataFrame, max_hamming: int = 3, id_col: str = "doc_id"
) -> DataFrame:
    """Near-duplicate image pairs by dHash Hamming distance, via the
    4-chunk pigeonhole blocking of the SimHash text path: distance
    <= 3 over 64 bits guarantees at least one identical 16-bit chunk,
    so candidates join on (chunk index, chunk value) and pairs
    sharing no chunk never meet. Output (id_a, id_b, hamming),
    id_a < id_b, hamming <= max_hamming (<= 3 for lossless blocking
    with 4 chunks)."""
    from pyspark.sql import functions as F

    if max_hamming > 3:
        raise ValueError(
            "4-chunk pigeonhole blocking is lossless only for "
            "max_hamming <= 3; use more chunks for larger radii"
        )
    chunks = F.array(
        F.shiftright("dhash_hi", 16).bitwiseAND(F.lit(0xFFFF)),
        F.col("dhash_hi").bitwiseAND(F.lit(0xFFFF)),
        F.shiftright("dhash_lo", 16).bitwiseAND(F.lit(0xFFFF)),
        F.col("dhash_lo").bitwiseAND(F.lit(0xFFFF)),
    )
    blocked = hashes.select(
        F.col(id_col), "dhash_hi", "dhash_lo",
        F.posexplode(chunks).alias("ci", "cv"),
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            (
                F.bit_count(
                    F.col("a.dhash_hi").bitwiseXOR(F.col("b.dhash_hi"))
                )
                + F.bit_count(
                    F.col("a.dhash_lo").bitwiseXOR(F.col("b.dhash_lo"))
                )
            ).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )
    return cand


def frame_signatures(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    frame_bytes: int = 64,
) -> DataFrame:
    """Per-frame 8-bit perceptual signature for video-shaped payloads
    (fixed-size frames, trailing partial counts): sample 9 byte
    positions p(c) = c·L//9 within the frame (L = frame length) and
    set bit c iff byte[p(c)] < byte[p(c+1)] — the 1-D dHash. Output
    (id, frame_idx, sig) — one small int per frame, the persistable
    video fingerprint stream."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fidx, sigs = [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                px = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
                n_frames = -(-len(px) // frame_bytes)
                for f in range(n_frames):
                    fr = px[f * frame_bytes : (f + 1) * frame_bytes]
                    L = len(fr)
                    pos = (np.arange(9, dtype=np.int64) * L) // 9
                    samp = fr[pos]
                    bits = (samp[:-1] < samp[1:]).astype(np.int64)
                    ids.append(doc_id)
                    fidx.append(f)
                    sigs.append(int((bits << np.arange(8)).sum()))
            yield pd.DataFrame(
                {id_col: ids, "frame_idx": fidx, "sig": sigs}
            )

    return fan_out(df).select(id_col, payload_col).mapInPandas(
        kernel, f"{id_col} long, frame_idx long, sig int"
    )


def video_neardup_pairs(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    frame_bytes: int = 64,
    gram: int = 3,
    min_shared: int = 2,
    max_df: int = 50,
) -> DataFrame:
    """Video near-duplicate pairs by TEMPORAL fingerprint matching:
    consecutive frame signatures form ``gram``-length shingles (the
    sequence structure is what distinguishes a re-encoded copy from
    coincidentally similar stills); two videos pair when they share
    at least ``min_shared`` distinct shingle values. Shingles seen in
    more than ``max_df`` videos are dropped as stop-grams (the same
    frequency discipline as text winnowing — a ubiquitous pattern
    carries no identity and would quadratify the join). One
    gram-keyed shuffle; candidates only."""
    sigs = frame_signatures(df, id_col, payload_col, frame_bytes)
    return _sig_shingle_pairs(
        sigs, id_col, "frame_idx", gram, min_shared, max_df
    )


def _sig_shingle_pairs(
    sigs: DataFrame,
    id_col: str,
    order_col: str,
    gram: int,
    min_shared: int,
    max_df: int,
) -> DataFrame:
    """Shared core of the temporal near-dup matchers (video frames,
    audio windows): order each item's signature stream, form
    ``gram``-length shingles, drop shingles seen in more than
    ``max_df`` items (stop-grams carry no identity and would
    quadratify the join), and count distinct shared shingle values
    per pair. One gram-keyed shuffle; candidates only."""
    from pyspark.sql import functions as F

    seq = sigs.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct(order_col, "sig"))
        ).alias("__fs")
    )
    grams = (
        # size guard BEFORE sequence(): Spark's sequence(1, 0) yields a
        # DESCENDING [1, 0], not empty (the bigram-op pitfall), and
        # slice() rejects start 0
        seq.filter(F.size("__fs") >= gram)
        .select(
            F.col(id_col),
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(__fs) - {gram - 1}), "
                    f"i -> array_join(transform(slice(__fs, i, {gram}), "
                    "s -> CAST(s.sig AS STRING)), ','))"
                )
            ).alias("g"),
        )
        .distinct()
    )
    dfreq = grams.groupBy("g").agg(F.count(F.lit(1)).alias("__df"))
    kept = grams.join(
        dfreq.filter(F.col("__df") <= max_df).select("g"), "g"
    )
    a, b = kept.alias("a"), kept.alias("b")
    return (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_grams"))
        .filter(F.col("shared_grams") >= min_shared)
    )


def audio_signatures(
    audio: DataFrame,
    id_col: str,
    payload_col: str,
    window: int = 16,
) -> DataFrame:
    """Per-window 8-bit signature for PCM audio payloads (the audio
    analogue of :func:`frame_signatures`): split each ``window``-
    sample chunk into 9 energy segments (segment c = Σ|sample| over
    [c·L//9, (c+1)·L//9)) and set bit c iff energy[c] < energy[c+1]
    — a coarse envelope hash robust to amplitude-preserving
    re-encodes. Integer arithmetic end-to-end. Output
    (id, win_idx, sig)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, widx, sigs = [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                samples = np.frombuffer(
                    payload, dtype="<i2", offset=AUDIO_HEADER_SIZE
                ).astype(np.int64)
                n_win = -(-len(samples) // window)
                for k in range(n_win):
                    w = np.abs(samples[k * window : (k + 1) * window])
                    L = len(w)
                    bounds = (np.arange(10, dtype=np.int64) * L) // 9
                    e = np.add.reduceat(
                        np.concatenate([w, [0]]), bounds[:-1]
                    )
                    # reduceat with equal adjacent bounds yields the
                    # single element at that index; force empty
                    # segments to 0 instead
                    e = np.where(bounds[1:] > bounds[:-1], e, 0)
                    bits = (e[:-1] < e[1:]).astype(np.int64)
                    ids.append(doc_id)
                    widx.append(k)
                    sigs.append(int((bits << np.arange(8)).sum()))
            yield pd.DataFrame({id_col: ids, "win_idx": widx, "sig": sigs})

    return fan_out(audio).select(id_col, payload_col).mapInPandas(
        kernel, f"{id_col} long, win_idx long, sig int"
    )


def audio_neardup_pairs(
    audio: DataFrame,
    id_col: str,
    payload_col: str,
    window: int = 16,
    gram: int = 3,
    min_shared: int = 2,
    max_df: int = 50,
) -> DataFrame:
    """Audio near-duplicate pairs by temporal envelope-signature
    shingle matching — same mechanics (and shared implementation) as
    :func:`video_neardup_pairs`."""
    sigs = audio_signatures(audio, id_col, payload_col, window)
    return _sig_shingle_pairs(
        sigs, id_col, "win_idx", gram, min_shared, max_df
    )
