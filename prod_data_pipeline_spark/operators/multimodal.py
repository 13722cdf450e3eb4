"""Multimodal column plumbing: opaque binary payloads + typed metadata.

North-star surface for image/audio/video data in a training pipeline.
The Spark-side design is fully real — schema (schemas.MEDIA_ASSET_SCHEMA),
Arrow-batched mapInPandas decode/feature kernels, partition sizing — and
so is the codec path for uncompressed containers: `real_decode` parses
BMP / WAV (PCM16) / YUV4MPEG2 payloads in pure Python + numpy
(functions.codecs; no imaging libraries needed).  Compressed formats
(JPEG/MP3/H.264) would still need external decoders — gate those behind
import-try (PIL/soundfile) when deploying outside this container; the
`decode_and_featurize` fake-feature kernel remains for plumbing tests
that want codec-independent determinism.

Scale notes:
- payloads never pass through Python row-at-a-time: mapInPandas streams
  Arrow record batches, so a 100 TB media table moves executor->Python in
  ~10k-row columnar chunks;
- feature extraction emits fixed-width arrays -> downstream similarity
  search (operators.similarity) applies unchanged;
- `repartition_for_payloads` sizes partitions by payload bytes, not row
  count — media rows are orders of magnitude wider than text rows.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

try:  # compressed-format decoder — absent in this container, unused below
    import PIL.Image  # noqa: F401

    HAVE_PIL = True
except ImportError:
    HAVE_PIL = False

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


# Width of every decoded feature vector (real_decode's intensity histogram
# and the test-only fake kernel's digest bytes).
FEATURE_DIM = 16


def _fake_decode_features(payload: bytes) -> list[float]:
    """TEST-ONLY deterministic stand-in for a codec+embedding step:
    byte-histogram features from a sha256-seeded digest.  Production and
    all registered queries use `real_decode` (real BMP/WAV/Y4M parsing);
    this path exists solely for codec-independent plumbing tests and is
    deliberately NOT re-exported from operators/__init__.py."""
    if payload is None:
        return [0.0] * FEATURE_DIM
    digest = hashlib.sha256(payload).digest()
    return [b / 255.0 for b in digest[:FEATURE_DIM]]


def decode_and_featurize(df: DataFrame) -> DataFrame:
    """TEST-ONLY plumbing kernel: decode media payloads into fixed-width
    fake features via mapInPandas (see _fake_decode_features).  Exercises
    the Arrow batch shape / fixed output schema / null-payload handling
    without any codec dependency; every registered query and the
    production path use `real_decode` instead.  Not re-exported from
    operators/__init__.py.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_fake_decode_features(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "media_type": pdf["media_type"],
                    "width": pdf["width"].fillna(0).astype("int32"),
                    "height": pdf["height"].fillna(0).astype("int32"),
                    "n_bytes": [0 if p is None else len(p) for p in pdf["payload"]],
                    "features": feats,
                }
            )

    return df.mapInPandas(kernel, schema=DECODED_SCHEMA)


REAL_DECODED_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


def synthetic_media_assets(docs: DataFrame) -> DataFrame:
    """Fabricate a media-asset table with REAL container payloads from
    `documents`: doc_id % 3 picks the modality — 0 -> 24-bit BMP image,
    1 -> PCM16 WAV audio, 2 -> YUV4MPEG2 (C420) video — with header
    geometry derived arithmetically from doc_id (so an independent SQL
    oracle can recompute every header fact) and pixel/sample content
    tiled from the document text.  Construction runs in an Arrow-batched
    mapInPandas kernel; no per-row Python in the Spark plan beyond it."""
    from prod_data_pipeline_spark.functions.codecs import (
        encode_bmp,
        encode_wav,
        encode_y4m,
    )

    schema = T.StructType(
        [
            T.StructField("asset_id", T.LongType()),
            T.StructField("media_type", T.StringType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, types = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                content = (text or "").encode("utf-8")
                kind = doc_id % 3
                if kind == 0:
                    types.append("image")
                    payloads.append(
                        encode_bmp(4 + doc_id % 13, 4 + doc_id % 7, content)
                    )
                elif kind == 1:
                    types.append("audio")
                    payloads.append(
                        encode_wav(80 + 8 * (doc_id % 120), 8000, content)
                    )
                else:
                    types.append("video")
                    payloads.append(
                        encode_y4m(
                            4 + 2 * (doc_id % 7),
                            4 + 2 * (doc_id % 5),
                            1 + doc_id % 4,
                            content,
                        )
                    )
            yield pd.DataFrame(
                {"asset_id": pdf["doc_id"], "media_type": types, "payload": payloads}
            )

    return docs.select("doc_id", "text").mapInPandas(kernel, schema=schema)


def real_decode(df: DataFrame) -> DataFrame:
    """REAL codec path: parse BMP / WAV / Y4M payloads (pure-Python +
    numpy header/plane decoding, functions.codecs) inside an Arrow-batched
    mapInPandas kernel.  Every output fact — dimensions, frame count,
    sample rate, duration, declared byte size — comes from the parsed
    bytes, never carried alongside them, so an oracle recomputing the
    header arithmetic independently verifies the decoder end-to-end.
    Unrecognized payloads yield format='unknown' rows with zeroed facts
    (poison-pill media must not kill a 100 TB scan).  Features are
    normalized intensity histograms over the decoded sample plane."""
    from prod_data_pipeline_spark.functions.codecs import (
        decode_media,
        intensity_histogram,
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in REAL_DECODED_SCHEMA.fieldNames()}
            for asset_id, mtype, payload in zip(
                pdf["asset_id"], pdf["media_type"], pdf["payload"]
            ):
                info = decode_media(bytes(payload) if payload is not None else b"")
                rows["asset_id"].append(asset_id)
                rows["media_type"].append(mtype)
                if info is None:
                    rows["format"].append("unknown")
                    for k in ("width", "height", "n_frames", "sample_rate"):
                        rows[k].append(0)
                    rows["duration_ms"].append(0)
                    rows["n_bytes"].append(0)
                    rows["features"].append([0.0] * FEATURE_DIM)
                else:
                    rows["format"].append(info.format)
                    rows["width"].append(info.width)
                    rows["height"].append(info.height)
                    rows["n_frames"].append(info.n_frames)
                    rows["sample_rate"].append(info.sample_rate)
                    rows["duration_ms"].append(info.duration_ms)
                    rows["n_bytes"].append(info.declared_bytes)
                    rows["features"].append(intensity_histogram(info.samples, FEATURE_DIM))
            yield pd.DataFrame(rows)

    return df.mapInPandas(kernel, schema=REAL_DECODED_SCHEMA)


def sample_video_frames(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling plan for video payloads: emits (asset_id, frame_idx,
    frame_ts_ms) rows; the decode of each frame is the stubbed kernel above.
    Spark-side semantics (explode by duration) are real."""
    frames = F.sequence(
        F.lit(0),
        F.greatest((F.coalesce(F.col("duration_ms"), F.lit(0)) / every_ms).cast("int") - 1, F.lit(0)),
    )
    return (
        df.filter(F.col("media_type") == "video")
        .select("asset_id", F.explode(frames).alias("frame_idx"))
        .withColumn("frame_ts_ms", F.col("frame_idx") * every_ms)
    )


# Rows per partition: 128 MiB partitions of ~1 MiB payloads.
ROWS_PER_PAYLOAD_PARTITION = (128 << 20) // (1 << 20)


def repartition_for_payloads(df: DataFrame, row_count: int | None = None) -> DataFrame:
    """Size partitions by payload volume, not row count: media rows are MBs
    wide, so the default rows-per-partition heuristics overshoot memory.

    Never triggers an action: row_count is a caller-supplied estimate
    (catalog statistics, a prior count, a sampled extrapolation).  Without
    one, fall back to the session's default parallelism — an extra full
    scan of a 100 TB media table just to pick a partition count is never
    worth it.
    """
    n = max(1, df.sparkSession.sparkContext.defaultParallelism)
    if row_count is None:
        return df.repartition(n)
    return df.repartition(max(n, int(row_count / ROWS_PER_PAYLOAD_PARTITION) + 1))


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def resize_images(
    df: DataFrame, new_width: int, new_height: int
) -> DataFrame:
    """REAL image resize: nearest-neighbor downscale/upscale of BMP
    payloads (functions.codecs.resize_bmp — integer-only coordinate math,
    bit-deterministic) inside the same Arrow-batched mapInPandas shape as
    real_decode.  Non-BMP / unparseable payloads pass through unchanged
    with their original dims zeroed — a resize stage must never drop or
    poison rows it cannot handle.  Per-row cost is pure numpy indexing;
    there is no shuffle at all, so the stage scales with scan bandwidth
    like every other kernel here."""
    from prod_data_pipeline_spark.functions.codecs import decode_bmp, resize_bmp

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in RESIZED_SCHEMA.fieldNames()}
            for asset_id, mtype, payload in zip(
                pdf["asset_id"], pdf["media_type"], pdf["payload"]
            ):
                raw = bytes(payload) if payload is not None else b""
                rows["asset_id"].append(asset_id)
                rows["media_type"].append(mtype)
                try:
                    resized = resize_bmp(raw, new_width, new_height)
                    info = decode_bmp(resized)
                    rows["width"].append(info.width)
                    rows["height"].append(info.height)
                    rows["payload"].append(resized)
                except (ValueError, struct.error):
                    rows["width"].append(0)
                    rows["height"].append(0)
                    rows["payload"].append(raw)
            yield pd.DataFrame(rows)

    return df.mapInPandas(kernel, schema=RESIZED_SCHEMA)


def audio_features(df: DataFrame) -> DataFrame:
    """Waveform-level audio features from REAL PCM16-WAV decoding: total
    absolute amplitude, energy, and peak per asset — the loudness/clipping
    screen of an audio-corpus curation pass.

    The kernel parses each payload with functions.codecs.decode_wav and
    reconstructs the int16 PCM from the folded intensity plane (exact for
    16-bit samples that are multiples of 256, which PCM from 8-bit
    sources always is); all three statistics are integer sums, so the
    decoded WAVEFORM itself — not just header facts — is verifiable by an
    engine that regenerates the synthetic byte tiling (ASCII text
    assumption documented in the media-feature oracle).  Arrow-batched
    mapInPandas; non-WAV / unparseable payloads are skipped, mirroring a
    curation pipeline's quarantine behavior."""
    from prod_data_pipeline_spark.functions.codecs import decode_wav

    schema = T.StructType(
        [
            T.StructField("asset_id", T.LongType()),
            T.StructField("n_samples", T.LongType()),
            T.StructField("abs_amp_sum", T.LongType()),
            T.StructField("energy", T.LongType()),
            T.StructField("peak_amp", T.LongType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                try:
                    info = decode_wav(bytes(payload))
                except Exception:
                    continue
                pcm = (info.samples.astype(np.int64) - 128) * 256
                rows.append(
                    (
                        int(asset_id),
                        int(pcm.size),
                        int(np.abs(pcm).sum()),
                        int((pcm * pcm).sum()),
                        int(np.abs(pcm).max()) if pcm.size else 0,
                    )
                )
            yield pd.DataFrame(
                rows, columns=["asset_id", "n_samples", "abs_amp_sum", "energy", "peak_amp"]
            )

    return df.select("asset_id", "payload").mapInPandas(kernel, schema=schema)


def audio_band_energies(df: DataFrame) -> DataFrame:
    """DFT-bin band energies over REAL PCM16-WAV decoding — spectral
    analysis with an EXACT cross-engine story: per band (normalized
    freqs 1/4, 1/8, 1/16, 1/32), the cos/sin projections are int64 dot
    products of the decoded samples against integer-scaled coefficient
    tables (functions.dsp — trig runs once at import, never at query
    time), and power = sc^2 + ss^2 needs just four IEEE float ops on
    identical inputs in any engine.  Dominant band = argmax of the
    rounded powers, ties to the lower band.  This is the
    tonal-content / bandwidth screen of an audio curation pass (e.g.
    drop clips whose energy sits entirely below 1/32 cycles/sample —
    DC rumble), and the template for mel-bin feature extraction.
    Arrow-batched mapInPandas; undecodable payloads are skipped."""
    from prod_data_pipeline_spark.functions.codecs import decode_wav
    from prod_data_pipeline_spark.functions.dsp import COEF_SCALE, goertzel_tables

    tables = goertzel_tables()
    schema = T.StructType(
        [T.StructField("asset_id", T.LongType()), T.StructField("n_samples", T.LongType())]
        + [T.StructField(f"p_band{i}", T.DoubleType()) for i in range(len(tables))]
        + [T.StructField("dominant_band", T.IntegerType())]
    )

    def _round2(x: float) -> float:
        # half-UP on the shortest decimal expansion — matches Spark's
        # BigDecimal round and DuckDB's half-away-from-zero (python's
        # built-in round() is banker's and would diverge on .xx5 ties)
        from decimal import ROUND_HALF_UP, Decimal

        return float(Decimal(repr(x)).quantize(Decimal("0.01"), ROUND_HALF_UP))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = (
            ["asset_id", "n_samples"]
            + [f"p_band{i}" for i in range(len(tables))]
            + ["dominant_band"]
        )
        for pdf in batches:
            rows = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                try:
                    info = decode_wav(bytes(payload))
                except Exception:
                    continue
                pcm = (info.samples.astype(np.int64) - 128) * 256
                n = pcm.size
                powers = []
                for p, cos_t, sin_t in tables:
                    idx = np.arange(n) % p
                    c = np.asarray(cos_t, dtype=np.int64)[idx]
                    s = np.asarray(sin_t, dtype=np.int64)[idx]
                    sc = int((pcm * c).sum()) / float(COEF_SCALE)
                    ss = int((pcm * s).sum()) / float(COEF_SCALE)
                    powers.append(_round2(sc * sc + ss * ss))
                dom = max(range(len(powers)), key=lambda i: (powers[i], -i))
                rows.append((int(asset_id), int(n), *powers, int(dom)))
            yield pd.DataFrame(rows, columns=cols)

    return df.select("asset_id", "payload").mapInPandas(kernel, schema=schema)


def video_frame_features(df: DataFrame) -> DataFrame:
    """Per-FRAME luma statistics from REAL Y4M decoding: one row per
    (asset, frame) with the Y-plane sum and peak — the brightness /
    black-frame screen of a video-corpus curation pass, and (with the
    synthetic tiling) a sample-level verification that every frame body
    parses at the right offset: a frame-stride bug shifts every
    subsequent frame's bytes and flips the hash.

    Integer statistics only (sum and max of uint8 luma), Arrow-batched
    mapInPandas, frames enumerated inside the kernel — the linear scan a
    real decoder does anyway.  Non-Y4M / unparseable payloads are
    skipped (quarantine behavior, as in audio_features)."""
    from prod_data_pipeline_spark.functions.codecs import decode_y4m, y4m_frame_luma

    schema = T.StructType(
        [
            T.StructField("asset_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("y_sum", T.LongType()),
            T.StructField("y_peak", T.IntegerType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                try:
                    payload = bytes(payload)
                    info = decode_y4m(payload)
                    for i in range(info.n_frames):
                        y = y4m_frame_luma(payload, i).astype(np.int64)
                        rows.append((int(asset_id), i, int(y.sum()), int(y.max()) if y.size else 0))
                except Exception:
                    continue
            yield pd.DataFrame(rows, columns=["asset_id", "frame_idx", "y_sum", "y_peak"])

    return df.select("asset_id", "payload").mapInPandas(kernel, schema=schema)


def image_edge_density(df: DataFrame) -> DataFrame:
    """Sobel edge density of REAL-decoded BMP images — all-integer 3x3
    convolution over the stored-orientation grayscale grid: per interior
    pixel gx/gy with the classic [-1,0,1;-2,0,2;-1,0,1] kernels,
    edge_sum = sum(|gx|) + sum(|gy|).  This is the blur/flat-image
    screen of an image curation pass (near-zero density = synthetic
    fills, gray cards, corrupted scans) and, because gray, gx, gy are
    integers, an engine regenerating the byte tiling replays the
    convolution EXACTLY — sample-level verification extended from
    point lookups (phash) to a neighborhood operator.  Vertical-flip
    invariant, so the stored (bottom-up) row order gives the same sums
    as display order.  Arrow-batched; undecodable payloads skipped."""
    from prod_data_pipeline_spark.functions.codecs import decode_bmp

    schema = T.StructType(
        [
            T.StructField("asset_id", T.LongType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("n_interior", T.LongType()),
            T.StructField("edge_sum", T.LongType()),
            T.StructField("mean_edge", T.DoubleType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["asset_id", "width", "height", "n_interior", "edge_sum", "mean_edge"]
        for pdf in batches:
            rows = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                try:
                    info = decode_bmp(bytes(payload))
                except Exception:
                    continue
                w, h = info.width, info.height
                if w < 3 or h < 3:
                    continue
                stride = (3 * w + 3) // 4 * 4
                p = info.samples
                if p.size < h * stride:
                    continue
                g = (
                    p[: h * stride]
                    .reshape(h, stride)[:, : 3 * w]
                    .reshape(h, w, 3)
                    .astype(np.int64)
                    .sum(axis=2)
                    // 3
                )
                gx = (
                    -g[:-2, :-2]
                    + g[:-2, 2:]
                    - 2 * g[1:-1, :-2]
                    + 2 * g[1:-1, 2:]
                    - g[2:, :-2]
                    + g[2:, 2:]
                )
                gy = (
                    -g[:-2, :-2]
                    - 2 * g[:-2, 1:-1]
                    - g[:-2, 2:]
                    + g[2:, :-2]
                    + 2 * g[2:, 1:-1]
                    + g[2:, 2:]
                )
                n_int = (h - 2) * (w - 2)
                esum = int(np.abs(gx).sum() + np.abs(gy).sum())
                rows.append(
                    (
                        int(asset_id),
                        int(w),
                        int(h),
                        int(n_int),
                        esum,
                        float(esum) / n_int,
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    out = df.select("asset_id", "payload").mapInPandas(kernel, schema=schema)
    # the single float op (one division of exact integers) rounds at the
    # plan layer so both engines quantize identically
    return out.withColumn("mean_edge", F.round("mean_edge", 4))


def video_motion_energy(df: DataFrame) -> DataFrame:
    """Temporal motion energy from REAL Y4M decoding: per consecutive
    frame pair, the sum of absolute per-pixel luma differences — the
    static-clip / slideshow screen of a video curation pass (motion ~0
    means a still rendered as video; a spike localizes a cut, at pixel
    granularity rather than the frame-mean granularity of the
    scene-change query).  All integers; one row per (asset, frame pair);
    single-frame assets yield no rows by construction.  Arrow-batched;
    undecodable payloads skipped."""
    from prod_data_pipeline_spark.functions.codecs import decode_y4m, y4m_frame_luma

    schema = T.StructType(
        [
            T.StructField("asset_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("n_pixels", T.LongType()),
            T.StructField("motion_sum", T.LongType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["asset_id", "frame_idx", "n_pixels", "motion_sum"]
        for pdf in batches:
            rows = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                try:
                    payload = bytes(payload)
                    info = decode_y4m(payload)
                    prev = None
                    for i in range(info.n_frames):
                        y = y4m_frame_luma(payload, i).astype(np.int64)
                        if prev is not None:
                            rows.append(
                                (
                                    int(asset_id),
                                    i,
                                    int(y.size),
                                    int(np.abs(y - prev).sum()),
                                )
                            )
                        prev = y
                except Exception:
                    continue
            yield pd.DataFrame(rows, columns=cols)

    return df.select("asset_id", "payload").mapInPandas(kernel, schema=schema)


def image_phash(df: DataFrame) -> DataFrame:
    """Perceptual average-hash (aHash) of REAL-decoded BMP images: an
    8x8 nearest-neighbor downsample of integer grayscale, thresholded at
    the mean — the classic perceptual fingerprint that groups visually
    identical/near-identical images regardless of container bytes, which
    is how multimodal corpora dedup images (exact payload hashing misses
    re-encodes; aHash buckets them).

    ALL-INTEGER definition, fixed to the STORED pixel orientation so an
    independent engine can replay it from the synthetic byte tiling:
    for cell (v, u) in [0,8)^2, sample the pixel at stored row
    y = v*h//8, column x = u*w//8 (byte offset y*stride + 3x into the
    pixel area, stride = (3w+3)//4*4), gray = (b0+b1+b2)//3; the cell's
    bit is 1 iff 64*gray > sum(grays) — integer cross-multiplication, no
    float mean.  The hash is emitted as a 64-char bitstring (row-major),
    which avoids signed-int64 overflow for bit 63 and keeps the value
    engine-portable.  Arrow-batched mapInPandas; non-BMP payloads are
    skipped (quarantine semantics, as in audio_features)."""
    from prod_data_pipeline_spark.functions.codecs import decode_bmp

    schema = T.StructType(
        [
            T.StructField("asset_id", T.LongType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("phash", T.StringType()),
        ]
    )
    hs = 8  # 8x8 cells -> 64 bits

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                try:
                    info = decode_bmp(bytes(payload))
                except Exception:
                    continue
                w, h = info.width, info.height
                stride = (3 * w + 3) // 4 * 4
                p = info.samples  # raw pixel-area bytes, stored row order
                grays = []
                for v in range(hs):
                    y = v * h // hs
                    for u in range(hs):
                        x = u * w // hs
                        i0 = y * stride + 3 * x
                        grays.append(int(p[i0]) + int(p[i0 + 1]) + int(p[i0 + 2]))
                grays = [g // 3 for g in grays]
                total = sum(grays)
                n = hs * hs
                bits = "".join("1" if n * g > total else "0" for g in grays)
                rows.append((int(asset_id), int(w), int(h), bits))
            yield pd.DataFrame(rows, columns=["asset_id", "width", "height", "phash"])

    return df.select("asset_id", "payload").mapInPandas(kernel, schema=schema)


def audio_band_hash(df: DataFrame) -> DataFrame:
    """Perceptual AUDIO dedup key: the sign pattern of the DFT-bin band
    energies (audio_band_energies) against their mean — bit i is 1 iff
    n_bands * p_band_i > sum(p_bands), the same integer-free
    cross-multiplication trick image_phash uses so no float mean is ever
    formed.  Re-encoded / level-identical clips share the key even when
    payload bytes differ — the audio counterpart of aHash, computed from
    spectral shape instead of pixels.  The band powers are already
    rounded to 2 decimals by the kernel and the comparison is a fixed
    IEEE chain on identical doubles in any engine.

    One Arrow kernel pass (payloads never shuffle) + a per-asset
    projection.  Returns (asset_id, n_samples, band_hash)."""
    from prod_data_pipeline_spark.functions.dsp import goertzel_tables

    n_bands = len(goertzel_tables())
    feats = audio_band_energies(df)
    total = None
    for i in range(n_bands):
        c = F.col(f"p_band{i}")
        total = c if total is None else total + c
    bits = [
        F.when(F.lit(float(n_bands)) * F.col(f"p_band{i}") > total, "1").otherwise("0")
        for i in range(n_bands)
    ]
    return feats.select(
        "asset_id", "n_samples", F.concat(*bits).alias("band_hash")
    )


def video_temporal_hash(df: DataFrame) -> DataFrame:
    """Perceptual VIDEO dedup key: the per-frame brightness sign sequence
    — frame i's bit is 1 iff n_frames * y_sum_i > sum(y_sums), i.e. the
    frame is brighter than the clip average (all-integer
    cross-multiplication; y sums come from the real Y4M decode in
    video_frame_features).  Two re-muxed/re-encoded clips with the same
    frame content share the sequence; the key's LENGTH also pins the
    frame count, so clips of different lengths can never collide.  This
    is the aHash idea transposed to the TIME axis — the standard cheap
    video fingerprint before per-frame spatial hashing is worth paying
    for.

    Shape: one Arrow kernel pass emits (asset, frame) integer rows; the
    hash is a per-asset agg over that slim relation (payloads never
    shuffle, frames ordered by index inside the agg).  Returns
    (asset_id, n_frames, temporal_hash)."""
    per_frame = video_frame_features(df)
    agg = per_frame.groupBy("asset_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum("y_sum").alias("_tot"),
        F.array_sort(F.collect_list(F.struct("frame_idx", "y_sum"))).alias("_fr"),
    )
    bit = lambda s: F.when(  # noqa: E731
        F.col("n_frames") * s["y_sum"] > F.col("_tot"), "1"
    ).otherwise("0")
    return agg.select(
        "asset_id",
        F.col("n_frames").cast("long").alias("n_frames"),
        F.concat_ws("", F.transform("_fr", bit)).alias("temporal_hash"),
    )
