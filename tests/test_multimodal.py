"""Multimodal plumbing: Arrow-batched decode kernel, frame sampling."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prod_data_pipeline_spark.operators.multimodal import (
    HAVE_PIL,
    decode_and_featurize,
    real_decode,
    repartition_for_payloads,
    sample_video_frames,
)
from prod_data_pipeline_spark.schemas import MEDIA_ASSET_SCHEMA


@pytest.fixture(scope="module")
def assets(spark):
    rows = [
        (1, "image", b"\x89PNG fake payload one", "image/png", 64, 48, None, "s3://x/1.png"),
        (2, "image", b"\x89PNG fake payload two", "image/png", 32, 32, None, "s3://x/2.png"),
        (3, "audio", b"RIFF fake wav", "audio/wav", None, None, 2500, "s3://x/3.wav"),
        (4, "video", b"\x00\x00ftyp fake mp4", "video/mp4", 640, 360, 5500, "s3://x/4.mp4"),
        (5, "image", None, "image/png", None, None, None, "s3://x/missing.png"),
    ]
    return spark.createDataFrame(rows, MEDIA_ASSET_SCHEMA)


def test_decode_schema_and_determinism(spark, assets):
    out = decode_and_featurize(assets)
    rows = {r["asset_id"]: r for r in out.collect()}
    assert set(rows) == {1, 2, 3, 4, 5}
    assert all(len(r["features"]) == 16 for r in rows.values())
    assert rows[5]["n_bytes"] == 0 and all(v == 0.0 for v in rows[5]["features"])
    # deterministic: same payload -> same features across runs
    again = {r["asset_id"]: r["features"] for r in decode_and_featurize(assets).collect()}
    assert again == {k: r["features"] for k, r in rows.items()}
    # distinct payloads -> distinct features
    assert rows[1]["features"] != rows[2]["features"]


def test_features_feed_similarity(spark, assets):
    """Decoded features flow into the generic similarity operator."""
    from prod_data_pipeline_spark.operators.similarity import brute_force_topk

    feats = decode_and_featurize(assets).filter(F.col("n_bytes") > 0).select(
        F.col("asset_id").alias("vec_id"), F.col("features").alias("embedding")
    )
    out = brute_force_topk(feats, feats.filter(F.col("vec_id") == 1), k=2)
    got = out.collect()
    assert [r["query_id"] for r in got] == [1, 1]
    assert len({r["neighbor_id"] for r in got}) == 2


def test_video_frame_sampling(spark, assets):
    frames = sample_video_frames(assets, every_ms=1000).collect()
    assert [r["frame_idx"] for r in frames] == [0, 1, 2, 3, 4]
    assert frames[-1]["frame_ts_ms"] == 4000


def test_repartition_for_payloads_triggers_no_action(spark):
    """Building the repartitioned plan must not run a job: a poison UDF in
    the lineage would explode if anything (like the old eager count())
    materialized the input."""
    @F.udf("int")
    def boom(x):
        raise RuntimeError("repartition_for_payloads must not trigger an action")

    poisoned = spark.range(100).withColumn("payload_len", boom("id"))
    # plan construction alone — the old implementation would raise here
    repartition_for_payloads(poisoned)
    repartition_for_payloads(poisoned, row_count=100_000)

    n = spark.sparkContext.defaultParallelism
    clean = spark.range(100)
    assert repartition_for_payloads(clean).rdd.getNumPartitions() == n
    # 100k rows x 1 MiB into 128 MiB partitions -> 100000/128 + 1 = 782
    sized = repartition_for_payloads(clean, row_count=100_000)
    assert sized.rdd.getNumPartitions() == max(n, 782)


def test_codec_roundtrips():
    """Pure-Python codecs: encode -> decode recovers every header fact,
    the declared byte size equals the actual payload length, and decoded
    samples round-trip the tiled content."""
    import numpy as np

    from prod_data_pipeline_spark.functions.codecs import (
        decode_bmp,
        decode_media,
        decode_wav,
        decode_y4m,
        encode_bmp,
        encode_wav,
        encode_y4m,
        intensity_histogram,
    )

    content = b"some deterministic document text \xf0\x9f\x8c\x8d"

    bmp = encode_bmp(13, 7, content)
    info = decode_bmp(bmp)
    assert (info.width, info.height, info.n_frames) == (13, 7, 1)
    assert info.declared_bytes == len(bmp)
    row = (3 * 13 + 3) // 4 * 4
    assert info.samples.size == row * 7

    wav = encode_wav(808, 8000, content)
    info = decode_wav(wav)
    assert (info.sample_rate, info.duration_ms) == (8000, 101)
    assert info.declared_bytes == len(wav)
    want = np.tile(np.frombuffer(content, np.uint8), -(-808 // len(content)))[:808]
    assert np.array_equal(info.samples, want)  # PCM16 folds back exactly

    y4m = encode_y4m(10, 6, 3, content)
    info = decode_y4m(y4m)
    assert (info.width, info.height, info.n_frames, info.duration_ms) == (10, 6, 3, 120)
    assert info.declared_bytes == len(y4m)
    assert info.samples.size == 60  # first-frame luma plane

    # dispatch + junk handling
    assert decode_media(bmp).format == "bmp"
    assert decode_media(wav).format == "wav"
    assert decode_media(y4m).format == "y4m"
    assert decode_media(b"\x89PNG not supported") is None
    assert decode_media(b"") is None

    h = intensity_histogram(info.samples)
    assert len(h) == 16 and abs(sum(h) - 1.0) < 1e-9


def test_real_decode_parses_synthetic_assets(spark):
    """End-to-end real codec path: fabricated BMP/WAV/Y4M payloads parse
    back to the geometry the construction arithmetic dictates; junk
    payloads degrade to format='unknown' rows instead of failing."""
    from prod_data_pipeline_spark.operators.multimodal import synthetic_media_assets

    docs = spark.createDataFrame(
        [(i, "text for document %d" % i, len("text")) for i in range(30)],
        "doc_id long, text string, n_chars int",
    )
    out = {r["asset_id"]: r for r in real_decode(synthetic_media_assets(docs)).collect()}
    assert len(out) == 30
    for i, r in out.items():
        kind = i % 3
        if kind == 0:
            assert r["format"] == "bmp" and r["media_type"] == "image"
            assert (r["width"], r["height"]) == (4 + i % 13, 4 + i % 7)
        elif kind == 1:
            assert r["format"] == "wav" and r["sample_rate"] == 8000
            assert r["duration_ms"] == (80 + 8 * (i % 120)) // 8
        else:
            assert r["format"] == "y4m"
            assert (r["width"], r["height"]) == (4 + 2 * (i % 7), 4 + 2 * (i % 5))
            assert r["n_frames"] == 1 + i % 4 and r["duration_ms"] == 40 * (1 + i % 4)
        assert len(r["features"]) == 16 and abs(sum(r["features"]) - 1.0) < 1e-6

    junk = spark.createDataFrame(
        [(99, "image", bytearray(b"\x89PNG not a bmp"))],
        "asset_id long, media_type string, payload binary",
    )
    rows = real_decode(junk).collect()
    assert rows[0]["format"] == "unknown" and rows[0]["n_bytes"] == 0


def test_resize_images_real_bmp(spark):
    """resize_images: BMP payloads resize to the target dims with exact
    nearest-neighbor pixels (integer floor map); non-BMP payloads pass
    through untouched with zeroed dims."""
    import numpy as np

    from prod_data_pipeline_spark.functions.codecs import (
        decode_bmp,
        encode_bmp,
    )
    from prod_data_pipeline_spark.operators.multimodal import resize_images

    # 4x4 gradient BMP + one WAV-ish junk payload
    content = bytes(range(48))
    rows = [
        (1, "image", bytearray(encode_bmp(4, 4, content))),
        (2, "audio", bytearray(b"RIFFnotabmp")),
    ]
    df = spark.createDataFrame(rows, "asset_id long, media_type string, payload binary")
    out = {r["asset_id"]: r for r in resize_images(df, 2, 2).collect()}

    assert (out[1]["width"], out[1]["height"]) == (2, 2)
    resized = decode_bmp(bytes(out[1]["payload"]))
    assert (resized.width, resized.height) == (2, 2)
    # exact nearest-neighbor expectation computed in plain numpy
    stride = (3 * 4 + 3) // 4 * 4
    src = np.frombuffer(encode_bmp(4, 4, content)[54:], dtype=np.uint8)
    pix = src.reshape(4, stride)[:, :12].reshape(4, 4, 3)
    want = pix[(np.arange(2) * 4) // 2][:, (np.arange(2) * 4) // 2]
    got_stride = (3 * 2 + 3) // 4 * 4
    got = np.frombuffer(bytes(out[1]["payload"])[54:], dtype=np.uint8).reshape(2, got_stride)[
        :, :6
    ].reshape(2, 2, 3)
    assert (got == want).all()
    # junk passes through byte-identical with zero dims
    assert (out[2]["width"], out[2]["height"]) == (0, 0)
    assert bytes(out[2]["payload"]) == b"RIFFnotabmp"


def test_audio_features_known_wav_and_quarantine(spark):
    """audio_features on a hand-built WAV: exact integer stats (samples
    are (byte-128)*256 of the tiled content); junk payloads are skipped."""
    from prod_data_pipeline_spark.functions.codecs import encode_wav
    from prod_data_pipeline_spark.operators.multimodal import audio_features

    content = b"AB"  # bytes 65, 66 -> pcm -16128, -15872 tiled
    wav = encode_wav(4, 8000, content)
    df = spark.createDataFrame(
        [(1, wav), (2, b"not a wav at all")], ["asset_id", "payload"]
    )
    rows = {r["asset_id"]: r for r in audio_features(df).collect()}
    assert list(rows) == [1]  # junk quarantined
    r = rows[1]
    pcm = [(65 - 128) * 256, (66 - 128) * 256] * 2
    assert r["n_samples"] == 4
    assert r["abs_amp_sum"] == sum(abs(x) for x in pcm)
    assert r["energy"] == sum(x * x for x in pcm)
    assert r["peak_amp"] == max(abs(x) for x in pcm)


def test_video_frame_features_known_y4m(spark):
    """video_frame_features on a hand-built 2-frame Y4M: per-frame Y sums
    follow the content[i:] tiling rule exactly."""
    from prod_data_pipeline_spark.functions.codecs import encode_y4m
    from prod_data_pipeline_spark.operators.multimodal import video_frame_features

    content = b"ABCD"  # frame 0 tiles "ABCD", frame 1 tiles "BCD"
    y4m = encode_y4m(4, 4, 2, content)
    df = spark.createDataFrame([(7, y4m)], ["asset_id", "payload"])
    rows = sorted(video_frame_features(df).collect(), key=lambda r: r["frame_idx"])
    assert [r["frame_idx"] for r in rows] == [0, 1]

    def tile(src, n):
        return [src[i % len(src)] for i in range(n)]

    wh = 16
    f0 = tile(b"ABCD", wh)
    f1 = tile(b"BCD", wh)
    assert rows[0]["y_sum"] == sum(f0) and rows[0]["y_peak"] == max(f0)
    assert rows[1]["y_sum"] == sum(f1) and rows[1]["y_peak"] == max(f1)


def test_image_phash_known_payloads(spark):
    """aHash on hand-built BMPs: a uniform image thresholds to all-zero
    bits (no gray exceeds the mean), a half-dark/half-bright image sets
    exactly the bright rows, and junk payloads are quarantined."""
    from prod_data_pipeline_spark.functions.codecs import encode_bmp
    from prod_data_pipeline_spark.operators.multimodal import image_phash

    uniform = encode_bmp(8, 8, bytes([100]))
    # stride for w=8 is (24+3)//4*4 = 24, no padding; stored rows 0..3 dark,
    # 4..7 bright -> sampled y = v for v in 0..7
    half = encode_bmp(8, 8, bytes([0] * (24 * 4) + [200] * (24 * 4)))
    df = spark.createDataFrame(
        [(1, bytearray(uniform)), (2, bytearray(half)), (3, bytearray(b"junk"))],
        "asset_id long, payload binary",
    )
    out = {r["asset_id"]: r["phash"] for r in image_phash(df).collect()}
    assert set(out) == {1, 2}
    assert out[1] == "0" * 64
    assert out[2] == "0" * 32 + "1" * 32


def test_audio_band_energies_pure_tone(spark):
    """A pure 1/8-cycle tone must put its energy in band 1 (period 8),
    and a constant (DC) signal projects to ~zero in every band with the
    tie resolving to band 0."""
    import math

    from prod_data_pipeline_spark.functions.codecs import encode_wav
    from prod_data_pipeline_spark.operators.multimodal import audio_band_energies

    tone = bytes(128 + int(round(100 * math.cos(2 * math.pi * j / 8))) for j in range(8))
    dc = bytes([200] * 8)
    df = spark.createDataFrame(
        [(1, bytearray(encode_wav(64, 8000, tone))),
         (2, bytearray(encode_wav(64, 8000, dc)))],
        "asset_id long, payload binary",
    )
    rows = {r.asset_id: r for r in audio_band_energies(df).collect()}
    t = rows[1]
    assert t.dominant_band == 1
    assert t.p_band1 > 100 * max(t.p_band0, t.p_band2, t.p_band3)
    d = rows[2]
    assert d.dominant_band == 0
    assert max(d.p_band0, d.p_band1, d.p_band2, d.p_band3) < 1.0


def test_image_edge_density_step_edge(spark):
    """Hand-built BMP: numpy Sobel on the same decoded grid must equal the
    operator exactly (integers), and a constant image must give zero."""
    import numpy as np

    from prod_data_pipeline_spark.functions.codecs import decode_bmp, encode_bmp
    from prod_data_pipeline_spark.operators.multimodal import image_edge_density

    w, h = 8, 6
    content = bytes((7 * i) % 251 for i in range(101))
    flat = bytes([57] * 16)
    df = spark.createDataFrame(
        [(1, bytearray(encode_bmp(w, h, content))),
         (2, bytearray(encode_bmp(w, h, flat)))],
        "asset_id long, payload binary",
    )
    rows = {r.asset_id: r for r in image_edge_density(df).collect()}

    info = decode_bmp(encode_bmp(w, h, content))
    stride = (3 * w + 3) // 4 * 4
    g = (
        info.samples[: h * stride].reshape(h, stride)[:, : 3 * w]
        .reshape(h, w, 3).astype(np.int64).sum(axis=2) // 3
    )
    kx = np.array([[-1, 0, 1], [-2, 0, 2], [-1, 0, 1]])
    want = 0
    for y in range(1, h - 1):
        for x in range(1, w - 1):
            win = g[y - 1 : y + 2, x - 1 : x + 2]
            want += abs(int((win * kx).sum())) + abs(int((win * kx.T).sum()))
    assert rows[1].edge_sum == want
    assert rows[1].n_interior == (h - 2) * (w - 2)
    assert rows[2].edge_sum == 0 and rows[2].mean_edge == 0.0


def test_video_motion_energy_pairs(spark):
    """Two hand-built Y4M clips: per-pair motion equals the numpy frame
    diff, and a single-frame clip yields no rows."""
    import numpy as np

    from prod_data_pipeline_spark.functions.codecs import (
        decode_y4m,
        encode_y4m,
        y4m_frame_luma,
    )
    from prod_data_pipeline_spark.operators.multimodal import video_motion_energy

    w, h = 6, 4
    content = bytes((11 * i + 3) % 256 for i in range(77))
    clip = encode_y4m(w, h, 3, content)
    still = encode_y4m(w, h, 1, content)
    df = spark.createDataFrame(
        [(1, bytearray(clip)), (2, bytearray(still))],
        "asset_id long, payload binary",
    )
    got = {(r.asset_id, r.frame_idx): r.motion_sum for r in video_motion_energy(df).collect()}
    info = decode_y4m(clip)
    ys = [y4m_frame_luma(clip, i).astype(np.int64) for i in range(info.n_frames)]
    want = {
        (1, i): int(np.abs(ys[i] - ys[i - 1]).sum()) for i in range(1, info.n_frames)
    }
    assert got == want and want, got


def test_audio_band_hash_groups_duplicates(spark):
    """Two byte-identical-content clips at different container sizes
    (same PCM) share a band hash; a different tone lands elsewhere; the
    bit rule is n_bands * p_i > sum(p)."""
    from prod_data_pipeline_spark.functions.codecs import encode_wav
    from prod_data_pipeline_spark.operators.multimodal import audio_band_hash

    a = encode_wav(96, 8000, b"AZAZ")     # strong 1/2-period alternation
    b = encode_wav(96, 16000, b"AZAZ")    # same samples, different rate header
    c = encode_wav(96, 8000, b"AAAAAAZZ")  # different spectral shape
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "asset_id long, payload binary"
    )
    out = {r["asset_id"]: r["band_hash"] for r in audio_band_hash(df).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]
    assert len(out[1]) == 4 and set(out[1]) <= {"0", "1"}


def test_video_temporal_hash_duplicates_and_length_pin(spark):
    """Clips with identical frame content share the temporal hash; a
    clip with the bright frame moved gets a different sequence; the key
    length equals the frame count so different-length clips cannot
    collide."""
    from prod_data_pipeline_spark.functions.codecs import encode_y4m
    from prod_data_pipeline_spark.operators.multimodal import video_temporal_hash

    bright_then_dark = encode_y4m(4, 4, 3, bytes([200, 10, 10]))
    same = encode_y4m(4, 4, 3, bytes([200, 10, 10]))
    shifted = encode_y4m(4, 4, 3, bytes([10, 10, 200]))
    short = encode_y4m(4, 4, 2, bytes([200, 10, 10]))
    df = spark.createDataFrame(
        [(1, bright_then_dark), (2, same), (3, shifted), (4, short)],
        "asset_id long, payload binary",
    )
    out = {r["asset_id"]: r for r in video_temporal_hash(df).collect()}
    assert out[1]["temporal_hash"] == out[2]["temporal_hash"]
    assert out[1]["temporal_hash"] != out[3]["temporal_hash"]
    assert len(out[1]["temporal_hash"]) == 3 and out[4]["n_frames"] == 2
    assert len(out[4]["temporal_hash"]) == 2
