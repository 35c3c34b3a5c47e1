"""Multimodal plumbing tests: binary columns + mapInPandas seams (schema,
batching, corrupt payloads, binary-out transforms). Every codec is an
in-repo spec-exact implementation (BMP, WAV, PNG, AVI, baseline JPEG); the
fake DCSM format carries the rest of the plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fdp_dynamically_controlled_streams_spark.operators import multimodal as mm


def _decode_dcsm(media):
    return mm.decode_features(media, mm.fake_image_features, mm.DCSM_DECODED_SCHEMA)


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.range(0, 40).select(F.col("id").alias("doc_id"))
    return mm.attach_media(docs, mm.fake_image_for_id).cache()


def test_attach_schema_and_counts(media):
    assert [f.name for f in media.schema.fields] == [
        "media_id",
        "content",
        "content_type",
        "n_bytes",
    ]
    rows = media.collect()
    assert len(rows) == 40
    assert all(bytes(r.content)[:4] == b"DCSM" for r in rows)
    assert all(r.n_bytes == len(bytes(r.content)) for r in rows)


def test_decode_features_deterministic(media, spark):
    out = _decode_dcsm(media).orderBy("media_id").collect()
    assert len(out) == 40 and all(r.ok for r in out)
    assert out[0].width == 8 and out[0].height == 6 and out[0].channels == 3
    # decode twice -> identical features (determinism across partitions)
    again = _decode_dcsm(media).orderBy("media_id").collect()
    assert [r.mean_intensity for r in out] == [r.mean_intensity for r in again]


def test_corrupt_payload_flagged_not_fatal(spark):
    rows = [(1, mm.encode_fake_image(4, 4)), (2, b"JUNK" + b"\x00" * 10), (3, None)]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    out = {r.media_id: r.ok for r in _decode_dcsm(df).collect()}
    assert out == {1: True, 2: False, 3: False}


def test_resize_roundtrip(media):
    resized = mm.resize_media(media, 4, 4)
    decoded = _decode_dcsm(resized).orderBy("media_id").collect()
    assert all(r.width == 4 and r.height == 4 and r.ok for r in decoded)


def test_frame_sample_fan_out_and_compose(spark):
    vids = spark.createDataFrame(
        [
            (1, mm.encode_fake_video(6, 4, 3, seed=1)),
            (2, mm.encode_fake_video(3, 5, 2, seed=2)),
            (3, b"NOPE"),  # corrupt container -> skipped, not fatal
        ],
        "media_id long, content binary",
    )
    frames = mm.frame_sample(vids, every_nth=2).orderBy("media_id", "frame_no")
    got = [(r.media_id, r.frame_no) for r in frames.collect()]
    assert got == [(1, 0), (1, 2), (1, 4), (2, 0), (2, 2)]
    # sampled frames are standalone images: decode composes unchanged
    decoded = _decode_dcsm(frames.withColumn(
        "media_id", F.col("media_id") * 10 + F.col("frame_no"))).collect()
    assert all(r.ok for r in decoded)
    assert {(r.width, r.height) for r in decoded} == {(4, 3), (5, 2)}


TIERS = {
    "dcsm": (mm.fake_image_for_id, mm.fake_image_features, mm.DCSM_DECODED_SCHEMA),
    "bmp_wav": (mm.real_media_for_id, mm.real_media_features, mm.REAL_DECODED_SCHEMA),
    "png": (mm.png_for_id, mm.png_features, mm.IMAGE_DECODED_SCHEMA),
    "avi": (mm.avi_for_id, mm.avi_features, mm.AVI_DECODED_SCHEMA),
    "jpeg": (mm.jpeg_for_id, mm.jpeg_features, mm.IMAGE_DECODED_SCHEMA),
}


@pytest.mark.parametrize("tier", sorted(TIERS))
def test_tier_feature_rows(tier):
    """Every tier's closed form decodes through its own feature row, one
    field per schema column after media_id, under the content type its
    encoder attached; NULL and junk blobs get the tier's failure row at
    the same arity. No Spark needed."""
    encode, features, schema = TIERS[tier]
    arity = len(schema) - 1
    for i in range(10):
        blob, content_type = encode(i)
        row = features(blob)
        assert len(row) == arity and row[-1] is True, (i, row)
        assert row[0] == content_type
    fail = features(None)
    assert len(fail) == arity and fail[-1] is False
    assert features(b"JUNK") == fail


def test_fake_video_closed_form():
    """The DCSV tier has no feature row of its own (its frames decode as
    DCSM images); its closed form parses to 2 + id%3 frames of
    (6 + id%4) x (4 + id%3) x 3."""
    for i in range(10):
        blob, content_type = mm.fake_video_for_id(i)
        v = mm._decode_fake_video(blob)
        assert v is not None and content_type == "application/x-dcsv"
        n, w, h, c, frames = v
        assert (n, w, h, c) == (2 + i % 3, 6 + i % 4, 4 + i % 3, 3)
        assert len(frames) == n and all(len(f) == w * h * c for f in frames)


def test_unrecognized_payload_raises():
    # every real format decodes in-repo now; corrupt/unknown bytes raise
    # instead of silently passing or hitting a stub
    with pytest.raises(ValueError):
        mm.decode_image(b"\x89PNG\r\n\x1a\n" + b"\x00" * 16)


# --- real formats: BMP + WAV spec codecs (no Spark needed for the parsers) ---


def test_bmp_roundtrip_exact():
    buf = mm.encode_bmp(5, 3, seed=7)  # width 5 -> row stride 16 (padding)
    d = mm.decode_bmp(buf)
    assert d is not None
    assert (d["width"], d["height"], d["bit_depth"]) == (5, 3, 24)
    assert d["n_payload_bytes"] == 16 * 3
    assert d["file_size"] == len(buf) == 54 + 48
    # pixels come back unpadded, top-down, byte-exact vs the LCG payload
    raw = mm._lcg_bytes(3 * 5 * 3, 7)
    rows = [raw[y * 15 : (y + 1) * 15] for y in range(3)]
    assert d["pixels"] == b"".join(rows)


def test_bmp_top_down_negative_height():
    buf = bytearray(mm.encode_bmp(4, 2, seed=1))
    # flip to top-down (negative height) and reorder rows accordingly
    import struct as _s

    w, h = 4, 2
    stride = (3 * w + 3) // 4 * 4
    px = bytes(buf[54:])
    rows = [px[y * stride : (y + 1) * stride] for y in range(h)]
    buf[54:] = b"".join(reversed(rows))
    buf[22:26] = _s.pack("<i", -h)
    d = mm.decode_bmp(bytes(buf))
    assert d is not None and d["height"] == 2
    assert d["pixels"] == mm.decode_bmp(mm.encode_bmp(4, 2, seed=1))["pixels"]


def test_wav_roundtrip_and_chunk_walk():
    buf = mm.encode_wav(75, 16000, seed=3)
    a = mm.decode_wav(buf)
    assert a is not None
    assert (a["n_channels"], a["sample_rate"], a["bit_depth"]) == (1, 16000, 16)
    assert a["n_samples"] == 75 and a["n_payload_bytes"] == 150
    assert a["file_size"] == len(buf) == 44 + 150
    # parser walks chunks: inject an unknown odd-sized chunk before fmt/data
    import struct as _s

    body = buf[12:]
    junk = b"LIST" + _s.pack("<I", 5) + b"abcde" + b"\x00"  # word-aligned pad
    patched = b"RIFF" + _s.pack("<I", 4 + len(junk) + len(body)) + b"WAVE" + junk + body
    a2 = mm.decode_wav(patched)
    assert a2 is not None and a2["n_samples"] == 75 and a2["samples"] == a["samples"]


def test_decode_image_real_bmp_path():
    w, h, c, px = mm.decode_image(mm.encode_bmp(6, 4, seed=9))
    assert (w, h, c) == (6, 4, 3) and len(px) == 6 * 4 * 3


# --- PNG: compressed real format on stdlib zlib only (r4 verdict task 4) ---


def test_png_roundtrip_exercises_all_filters():
    # height 6 -> scanline filters 0,1,2,3,4,0 — the full PNG filter set
    buf = mm.encode_png(7, 6, seed=11)
    d = mm.decode_png(buf)
    assert d is not None
    assert (d["width"], d["height"], d["bit_depth"], d["channels"]) == (7, 6, 8, 3)
    assert d["n_payload_bytes"] == 7 * 6 * 3
    assert d["file_size"] == len(buf)
    assert d["pixels"] == mm._lcg_bytes(7 * 6 * 3, 11)  # byte-exact inflate+unfilter


def test_png_corrupt_flagged_not_silently_shortened():
    buf = mm.encode_png(9, 5, seed=2)
    assert mm.decode_png(buf[:-6]) is None  # truncated tail
    assert mm.decode_png(buf[:30]) is None  # truncated mid-chunk
    bad = bytearray(buf)
    bad[45] ^= 0xFF  # corrupt one IDAT byte -> CRC mismatch
    assert mm.decode_png(bytes(bad)) is None
    assert mm.decode_png(b"\x89PNG\r\n\x1a\n" + b"\x00" * 16) is None  # sig only
    assert mm.decode_png(None) is None


def test_png_multi_idat_concatenation():
    import struct as _s
    import zlib as _z

    buf = mm.encode_png(4, 3, seed=5)
    # split the single IDAT into two chunks; decoder must concatenate
    sig_end = 8 + 12 + 13  # signature + IHDR chunk
    ilen = _s.unpack_from(">I", buf, sig_end)[0]
    body = buf[sig_end + 8 : sig_end + 8 + ilen]
    tail = buf[sig_end + 12 + ilen :]

    def chunk(t, b):
        return _s.pack(">I", len(b)) + t + b + _s.pack(">I", _z.crc32(t + b) & 0xFFFFFFFF)

    split = buf[:sig_end] + chunk(b"IDAT", body[:7]) + chunk(b"IDAT", body[7:]) + tail
    d = mm.decode_png(split)
    assert d is not None and d["pixels"] == mm.decode_png(buf)["pixels"]


def test_decode_image_real_png_path():
    w, h, c, px = mm.decode_image(mm.encode_png(6, 4, seed=9))
    assert (w, h, c) == (6, 4, 3) and px == mm._lcg_bytes(6 * 4 * 3, 9)


def test_avi_roundtrip_frames_exact():
    buf = mm.encode_avi(4, 5, 3, fps=10, seed=6)  # width 5 -> padded stride
    d = mm.decode_avi(buf)
    assert d is not None
    assert (d["n_frames"], d["width"], d["height"]) == (4, 5, 3)
    assert d["micro_sec_per_frame"] == 100000
    assert d["file_size"] == len(buf) == 224 + 4 * (8 + 16 * 3)
    assert d["n_payload_bytes"] == 16 * 3 * 4
    # frames come back unpadded, top-down, byte-exact vs the per-frame LCG
    for f in range(4):
        assert d["frames"][f] == mm._lcg_bytes(3 * 5 * 3, 6 * 1000 + f)


def test_avi_truncation_and_header_mismatch_flagged():
    buf = mm.encode_avi(3, 4, 3, seed=2)
    assert mm.decode_avi(buf[:-5]) is None  # truncated tail
    assert mm.decode_avi(buf[:40]) is None  # truncated header
    # header/frame-count mismatch: drop the last frame chunk but keep the
    # declared RIFF size consistent -> decoder must flag, not truncate
    import struct as _s

    stride = (3 * 4 + 3) // 4 * 4
    frame_chunk = 8 + stride * 3
    short = buf[: len(buf) - frame_chunk]
    short = b"RIFF" + _s.pack("<I", len(short) - 8) + short[8:]
    assert mm.decode_avi(short) is None
    assert mm.decode_avi(None) is None


def test_wav_truncation_flagged():
    # r4 advice: a truncated data chunk must flag, not silently shorten
    buf = mm.encode_wav(60, 8000, seed=4)
    assert mm.decode_wav(buf[:-10]) is None
    assert mm.decode_wav(buf) is not None


def test_real_media_distributed(spark):
    docs = spark.range(0, 30).select(F.col("id").alias("doc_id"))
    out = mm.decode_features(
        mm.attach_media(docs, mm.real_media_for_id),
        mm.real_media_features,
        mm.REAL_DECODED_SCHEMA,
    ).orderBy("media_id").collect()
    assert len(out) == 30 and all(r.ok for r in out)
    for r in out:
        i = r.media_id
        if i % 2 == 0:
            assert r.content_type == "image/bmp"
            assert (r.width, r.height, r.bit_depth) == (4 + i % 9, 3 + i % 7, 24)
            stride = (3 * r.width + 3) // 4 * 4
            assert r.n_payload_bytes == stride * r.height
            assert r.file_size == 54 + stride * r.height
        else:
            assert r.content_type == "audio/wav"
            assert r.sample_rate == (8000, 16000, 44100)[i % 3]
            assert r.n_samples == 50 + i % 101
            assert r.file_size == 44 + 2 * r.n_samples


def test_real_media_corrupt_flagged(spark):
    rows = [
        (1, mm.encode_bmp(4, 4)),
        (2, mm.encode_bmp(4, 4)[:40]),  # truncated BMP
        (3, mm.encode_wav(10, 8000)),
        (4, b"RIFF\x10\x00\x00\x00WAVEjunk"),  # RIFF but no fmt/data
        (5, None),
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    out = mm.decode_features(df, mm.real_media_features, mm.REAL_DECODED_SCHEMA)
    out = {r.media_id: r.ok for r in out.collect()}
    assert out == {1: True, 2: False, 3: True, 4: False, 5: False}


# --- baseline JPEG: the exact flat-gray tier + general lossy path ---


def test_jpeg_exact_tier_roundtrip():
    # flat gray blocks survive the lossy pipeline bit-exactly (DC quant
    # step 8, gray => Cb=Cr=128): decoded pixels == LCG replay
    for seed, (w, h) in ((0, (8, 8)), (7, (16, 8)), (123, (24, 16))):
        buf = mm.encode_jpeg(w, h, seed=seed)
        d = mm.decode_jpeg(buf)
        assert d is not None
        assert (d["width"], d["height"], d["channels"], d["bit_depth"]) == (w, h, 3, 8)
        assert d["n_payload_bytes"] == w * h * 3 == len(d["pixels"])
        assert d["file_size"] == len(buf)
        grays = mm._lcg_bytes((w // 8) * (h // 8), seed)
        mx = w // 8
        exp = bytes(
            grays[(y // 8) * mx + (x // 8)]
            for y in range(h)
            for x in range(w)
            for _ in range(3)
        )
        assert d["pixels"] == exp


def test_jpeg_lossy_roundtrip_bounded():
    # the general encoder exercises the AC/run-length path; baseline JPEG
    # is lossy, so assert a tight error BOUND, not equality (quant table
    # is DC 8 / AC 4 — worst-case error stays single-digit even on noise)
    import random

    import numpy as np

    random.seed(42)
    w, h = 19, 13  # non-multiple-of-8: exercises padding + crop
    rgb = bytes(random.randrange(256) for _ in range(w * h * 3))
    d = mm.decode_jpeg(mm.encode_jpeg_rgb(w, h, rgb))
    assert d is not None and (d["width"], d["height"]) == (w, h)
    a = np.frombuffer(rgb, dtype=np.uint8).astype(int)
    b = np.frombuffer(d["pixels"], dtype=np.uint8).astype(int)
    assert np.abs(a - b).max() <= 12
    # smooth content roundtrips much tighter
    grad = bytes(
        (x * 7 + y * 3 + c) % 200 for y in range(h) for x in range(w) for c in range(3)
    )
    d2 = mm.decode_jpeg(mm.encode_jpeg_rgb(w, h, grad))
    g = np.frombuffer(grad, dtype=np.uint8).astype(int)
    g2 = np.frombuffer(d2["pixels"], dtype=np.uint8).astype(int)
    assert np.abs(g - g2).max() <= 4


def test_jpeg_corruption_flagged():
    buf = mm.encode_jpeg(16, 8, seed=3)
    assert mm.decode_jpeg(buf[:-4]) is None  # EOI truncated
    assert mm.decode_jpeg(buf[:30]) is None  # header truncated
    assert mm.decode_jpeg(b"\xff\xd8" + b"\x00" * 20) is None  # garbage body
    assert mm.decode_jpeg(b"NOPE") is None
    assert mm.decode_jpeg(None) is None
    # progressive frame marker (SOF2) is unsupported -> None, never wrong
    prog = bytearray(buf)
    sof = prog.find(b"\xff\xc0")
    prog[sof + 1] = 0xC2
    assert mm.decode_jpeg(bytes(prog)) is None


def test_decode_image_jpeg_path():
    w, h, c, px = mm.decode_image(mm.encode_jpeg(8, 16, seed=9))
    assert (w, h, c) == (8, 16, 3)
    grays = mm._lcg_bytes(2, 9)
    assert px[:3] == bytes([grays[0]] * 3) and px[-3:] == bytes([grays[1]] * 3)


def test_jpeg_media_distributed(spark):
    docs = spark.range(0, 24).select(F.col("id").alias("doc_id"))
    out = mm.decode_features(
        mm.attach_media(docs, mm.jpeg_for_id), mm.jpeg_features, mm.IMAGE_DECODED_SCHEMA
    ).orderBy("media_id").collect()
    assert len(out) == 24 and all(r.ok for r in out)
    for r in out:
        i = r.media_id
        w, h = 8 * (1 + i % 3), 8 * (1 + i % 2)
        assert (r.width, r.height, r.channels, r.bit_depth) == (w, h, 3, 8)
        assert r.n_payload_bytes == w * h * 3
        grays = mm._lcg_bytes((w // 8) * (h // 8), i)
        exp_mean = (sum(grays) * 64 * 3 * 1_000_000 // (w * h * 3)) / 1e6
        assert r.mean_intensity == exp_mean


# ----------------------------------------------------------- audio frames


def test_audio_frame_features_known_signal(spark):
    import struct

    from fdp_dynamically_controlled_streams_spark.operators.multimodal import (
        audio_frame_features,
        encode_wav,
    )

    # hand-built WAV: alternating +1000/-1000 for 40 samples -> 2 frames
    # (32 + 8), energy = n*1e6, zero crossings = n_pairs_in_frame
    samples = [1000 if i % 2 == 0 else -1000 for i in range(40)]
    data = b"".join(struct.pack("<h", s) for s in samples)
    wav = encode_wav(40, 8000, seed=0)
    wav = wav[:44] + data  # splice our payload over the LCG one
    media = spark.createDataFrame(
        [(7, bytearray(wav))], "media_id long, content binary"
    )
    got = {
        r.frame_id: r for r in audio_frame_features(media, frame_size=32).collect()
    }
    assert got[0].n_samples == 32
    assert got[0].energy == 32 * 1000 * 1000
    assert got[0].n_zero_cross == 31
    assert got[0].peak == 1000
    assert got[1].n_samples == 8
    assert got[1].energy == 8 * 1000 * 1000
    assert got[1].n_zero_cross == 7


def test_audio_frame_features_skips_non_wav(spark):
    from fdp_dynamically_controlled_streams_spark.operators.multimodal import (
        audio_frame_features,
        encode_bmp,
    )

    media = spark.createDataFrame(
        [(1, bytearray(encode_bmp(4, 3, seed=1))), (2, bytearray(b"garbage"))],
        "media_id long, content binary",
    )
    assert audio_frame_features(media).count() == 0


def test_audio_frame_features_zero_crossing_sign_rule(spark):
    import struct

    from fdp_dynamically_controlled_streams_spark.operators.multimodal import (
        audio_frame_features,
        encode_wav,
    )

    # 0 counts as non-negative: [-5, 0, 5, -5] crosses at (-5,0) and (5,-5)
    samples = [-5, 0, 5, -5]
    data = b"".join(struct.pack("<h", s) for s in samples)
    wav = encode_wav(4, 8000, seed=0)[:44] + data
    media = spark.createDataFrame(
        [(1, bytearray(wav))], "media_id long, content binary"
    )
    r = audio_frame_features(media, frame_size=32).collect()[0]
    assert r.n_zero_cross == 2
    assert r.energy == 25 + 0 + 25 + 25
    assert r.peak == 5
