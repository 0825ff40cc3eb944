"""Multimodal plumbing tests: binary payloads through mapInPandas."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

import hashlib

import pytest

from tabular_to_parquet_spark.operators import multimodal as mm

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    return mm.attach_payload(docs).cache()


def test_attach_payload_schema(media):
    assert [f.name for f in media.schema.fields] == [
        "media_id", "payload", "media_type", "meta_width", "meta_height",
    ]
    assert media.schema["payload"].dataType.typeName() == "binary"
    assert media.count() == 500


def test_extract_features_matches_hashlib(spark, media):
    feats = {r.media_id: r for r in mm.extract_features(media).collect()}
    docs = {r.doc_id: r.text for r in
            spark.read.parquet(f"{SF}/documents.parquet").collect()}
    assert len(feats) == 500
    for doc_id in list(docs)[:20]:
        raw = docs[doc_id].encode()
        assert feats[doc_id].n_bytes == len(raw)
        assert feats[doc_id].payload_md5 == hashlib.md5(raw).hexdigest()
        assert feats[doc_id].header_hex == raw[:4].hex()
        assert feats[doc_id].decoded is False  # codec absent → stub path


def test_decode_image_real_codec():
    # no longer a stub: BMP decodes via the pure-Python codec; formats
    # the builtin codec doesn't know (PNG without Pillow) raise
    from tabular_to_parquet_spark.operators.codecs import encode_bmp

    w, h, rgb = 4, 2, bytes(range(24))
    assert mm.decode_image(encode_bmp(w, h, rgb)) == (w, h, rgb)
    with pytest.raises((ValueError, NotImplementedError)):
        mm.decode_image(b"\x89PNG\r\n\x1a\n" + bytes(64))


def test_sample_frames_bounded(media):
    frames = mm.sample_frames(media.limit(10), every_n_bytes=32, max_frames=4)
    rows = frames.collect()
    assert 10 <= len(rows) <= 40
    per_doc: dict = {}
    for r in rows:
        per_doc.setdefault(r.media_id, []).append(r.frame_no)
    for frames_nos in per_doc.values():
        assert frames_nos == sorted(frames_nos)
        assert len(frames_nos) <= 4


def test_resize_media_stub(spark):
    import hashlib

    from tabular_to_parquet_spark.operators import multimodal as mm

    df = spark.createDataFrame(
        [(1, "x" * 1000), (2, "short")], "doc_id long, text string"
    )
    out = {r.media_id: r for r in
           mm.resize_media(mm.attach_payload(df)).collect()}
    # stride = 1000 // 256 = 3 → ceil(1000/3) = 334 sampled bytes
    assert out[1].resized_n_bytes == 334
    assert out[1].resized_md5 == hashlib.md5((b"x" * 1000)[::3]).hexdigest()
    assert not out[1].decoded  # codec stub: fake path taken
    # payloads below the target pass through whole (stride 1)
    assert out[2].resized_n_bytes == 5
    assert out[2].resized_md5 == hashlib.md5(b"short").hexdigest()


# --- real codecs (operators/codecs.py) -------------------------------------

def test_bmp_decoder_spec_conformance():
    """Decode a hand-crafted BMP (built from the spec, not our encoder):
    bottom-up row order, BGR byte order, 4-byte row padding."""
    import struct

    from tabular_to_parquet_spark.operators.codecs import decode_bmp

    px = bytes((3, 2, 1, 6, 5, 4)) + b"\x00\x00"  # one row, 2px, padded
    info = struct.pack("<IiiHHIIiiII", 40, 2, 1, 1, 24, 0, len(px), 0, 0, 0, 0)
    head = struct.pack("<2sIHHI", b"BM", 54 + len(px), 0, 0, 54)
    assert decode_bmp(head + info + px) == (2, 1, bytes((1, 2, 3, 4, 5, 6)))
    # top-down variant (negative height)
    info_td = struct.pack("<IiiHHIIiiII", 40, 2, -1, 1, 24, 0, len(px), 0, 0, 0, 0)
    assert decode_bmp(head + info_td + px) == (2, 1, bytes((1, 2, 3, 4, 5, 6)))


def test_bmp_roundtrip_and_rejects():
    import pytest

    from tabular_to_parquet_spark.operators.codecs import decode_bmp, encode_bmp

    w, h = 5, 3
    rgb = bytes((x * 7 + y * 13 + c) % 256 for y in range(h) for x in range(w) for c in range(3))
    assert decode_bmp(encode_bmp(w, h, rgb)) == (w, h, rgb)
    for bad in (b"", b"BMxx", b"not an image at all", bytes(100)):
        with pytest.raises(ValueError):
            decode_bmp(bad)


def test_wav_roundtrip_and_rejects():
    import pytest

    from tabular_to_parquet_spark.operators.codecs import decode_wav, encode_wav

    rate, samples = 16000, [0, -5, 32767, -32768, 1234]
    assert decode_wav(encode_wav(rate, samples)) == (rate, samples)
    for bad in (b"", b"RIFF1234WAVX", bytes(50)):
        with pytest.raises(ValueError):
            decode_wav(bad)


def test_decode_image_features_end_to_end(spark):
    from tabular_to_parquet_spark.operators.multimodal import (
        _img_dims,
        _img_rgb,
        attach_bmp_payload,
        decode_image_features,
    )

    docs = spark.range(0, 20).withColumnRenamed("id", "doc_id")
    out = decode_image_features(attach_bmp_payload(docs)).orderBy("media_id").collect()
    assert len(out) == 20
    for r in out:
        w, h = _img_dims(r.media_id)
        rgb = _img_rgb(r.media_id, w, h)
        assert r.decoded and (r.width, r.height) == (w, h)
        assert (r.r_sum, r.g_sum, r.b_sum) == (
            sum(rgb[0::3]), sum(rgb[1::3]), sum(rgb[2::3]))


def test_text_payloads_do_not_decode(spark):
    from tabular_to_parquet_spark.operators.multimodal import (
        attach_payload,
        extract_features,
    )

    docs = spark.createDataFrame(
        [(1, "BMnot really a bitmap"), (2, "plain text")], "doc_id long, text string"
    )
    out = extract_features(attach_payload(docs)).collect()
    assert all(not r.decoded for r in out)


def test_png_codec_all_filters_roundtrip():
    from tabular_to_parquet_spark.operators.codecs import decode_png, encode_png

    w, h = 7, 11  # >5 rows → every PNG filter type (y % 5) exercised
    rgb = bytes((x * 31 + y * 17 + c * 11) % 256
                for y in range(h) for x in range(w) for c in range(3))
    assert decode_png(encode_png(w, h, rgb)) == (w, h, rgb)


def test_png_codec_rejects_corruption():
    from tabular_to_parquet_spark.operators.codecs import decode_png, encode_png

    data = bytearray(encode_png(3, 3, bytes(27)))
    data[20] ^= 0xFF  # flip a bit inside IHDR → CRC mismatch
    with pytest.raises(ValueError, match="CRC|PNG"):
        decode_png(bytes(data))
    with pytest.raises(ValueError):
        decode_png(b"\x89PNG\r\n\x1a\n" + bytes(16))


def test_decode_image_dispatches_png(spark):
    from tabular_to_parquet_spark.operators.multimodal import (
        attach_png_payload,
        decode_image_features,
    )

    docs = spark.range(0, 10).withColumnRenamed("id", "doc_id")
    out = decode_image_features(attach_png_payload(docs)).collect()
    assert all(r.decoded for r in out) and len(out) == 10


def test_avi_codec_roundtrip_and_rejects():
    from tabular_to_parquet_spark.operators.codecs import decode_avi, encode_avi

    w, h = 5, 4
    frames = [bytes((x + y + f) % 256 for y in range(h) for x in range(w)
                    for _ in range(3)) for f in range(3)]
    assert decode_avi(encode_avi(w, h, frames)) == (w, h, frames)
    for bad in (b"", b"RIFF\x00\x00\x00\x00WAVE", bytes(64)):
        with pytest.raises(ValueError):
            decode_avi(bad)


def test_decode_video_features_end_to_end(spark):
    from tabular_to_parquet_spark.operators.multimodal import (
        _avi_dims,
        _avi_frame_rgb,
        attach_avi_payload,
        decode_video_features,
    )

    docs = spark.range(0, 12).withColumnRenamed("id", "doc_id")
    out = decode_video_features(attach_avi_payload(docs)).collect()
    assert len(out) == 12
    for r in out:
        w, h, n = _avi_dims(r.media_id)
        assert r.decoded and (r.width, r.height, r.n_frames) == (w, h, n)
        frames = [_avi_frame_rgb(r.media_id, f, w, h) for f in range(n)]
        assert r.px_sum == sum(sum(f) for f in frames)
        assert r.last_frame_sum == sum(frames[-1])


def test_jpeg_codec_roundtrips_and_rejects():
    from tabular_to_parquet_spark.operators.codecs import (
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    # block-constant tiles: DC-only spectrum -> bit-exact roundtrip
    w, h = 24, 16
    gray = bytes(((x // 8) * 13 + (y // 8) * 7 + 5) % 256
                 for y in range(h) for x in range(w))
    assert decode_jpeg_gray(encode_jpeg_gray(w, h, gray)) == (w, h, gray)
    # arbitrary content with the flat qtable: lossy but tight (the only
    # error source is float-DCT coefficient rounding)
    import random

    rnd = random.Random(7)
    noisy = bytes(rnd.randrange(256) for _ in range(w * h))
    _, _, back = decode_jpeg_gray(encode_jpeg_gray(w, h, noisy))
    assert max(abs(a - b) for a, b in zip(noisy, back)) <= 2
    # non-multiple-of-8 dims: edge-replicated pad, cropped on decode
    w2, h2 = 13, 10
    smooth = bytes((x * 7 + y * 3) % 256 for y in range(h2) for x in range(w2))
    got = decode_jpeg_gray(encode_jpeg_gray(w2, h2, smooth))
    assert got[0:2] == (w2, h2) and len(got[2]) == w2 * h2
    for bad in (b"", b"\xff\xd8\xff\xd9", bytes(64)):
        with pytest.raises(ValueError):
            decode_jpeg_gray(bad)


def test_mjpeg_avi_roundtrip_and_rejects():
    from tabular_to_parquet_spark.operators.codecs import (
        decode_avi_mjpeg,
        encode_avi_mjpeg,
        encode_jpeg_gray,
    )

    w, h = 16, 8
    frames = [bytes((((x // 8) + (y // 8) + f) * 17) % 256
                    for y in range(h) for x in range(w)) for f in range(3)]
    avi = encode_avi_mjpeg(w, h, [encode_jpeg_gray(w, h, f) for f in frames])
    assert decode_avi_mjpeg(avi) == (w, h, frames)
    # the uncompressed-DIB fourcc is rejected (biCompression gate)
    with pytest.raises(ValueError, match="biCompression"):
        decode_avi_mjpeg(avi.replace(b"MJPG", b"DIB "))
    for bad in (b"", b"RIFF\x00\x00\x00\x00WAVE", bytes(64)):
        with pytest.raises(ValueError):
            decode_avi_mjpeg(bad)


def test_decode_mjpeg_video_features_end_to_end(spark):
    from tabular_to_parquet_spark.operators.multimodal import (
        _mjpeg_dims,
        _mjpeg_frame_gray,
        attach_mjpeg_payload,
        decode_mjpeg_video_features,
    )

    docs = spark.range(0, 12).withColumnRenamed("id", "doc_id")
    out = decode_mjpeg_video_features(attach_mjpeg_payload(docs)).collect()
    assert len(out) == 12
    for r in out:
        w, h, n = _mjpeg_dims(r.media_id)
        assert r.decoded and (r.width, r.height, r.n_frames) == (w, h, n)
        frames = [_mjpeg_frame_gray(r.media_id, f, w, h) for f in range(n)]
        assert r.px_sum == 3 * sum(sum(f) for f in frames)
        assert r.last_frame_sum == 3 * sum(frames[-1])


def test_gif_codec_roundtrip_exact():
    from tabular_to_parquet_spark.operators.codecs import decode_gif, encode_gif

    w, h = 23, 17
    rgb = bytearray()
    for y in range(h):
        for x in range(w):
            p = (x + 2 * y + 5) % 256
            rgb += bytes([p, (2 * p) % 256, (3 * p) % 256])
    data = encode_gif(w, h, bytes(rgb))
    assert data[:6] == b"GIF89a" and data[-1] == 0x3B
    dw, dh, back = decode_gif(data)
    assert (dw, dh, back) == (w, h, bytes(rgb))


def test_gif_decode_rejects_interlaced():
    """An externally-encoded interlaced GIF (image-descriptor flag
    0x40) must raise, not decode with scrambled row order."""
    import pytest as _pytest

    from tabular_to_parquet_spark.operators.codecs import decode_gif, encode_gif

    data = bytearray(encode_gif(4, 4, bytes(range(48))))
    # skip header + global color table, then find the 0x2C image
    # descriptor (searching from byte 13 would hit palette bytes)
    pos = 13
    if data[10] & 0x80:
        pos += 3 * (2 ** ((data[10] & 0x07) + 1))
    while data[pos] != 0x2C:  # skip extension blocks
        pos += 2
        while data[pos] != 0:
            pos += 1 + data[pos]
        pos += 1
    data[pos + 9] |= 0x40  # set the interlace flag
    with _pytest.raises(ValueError, match="interlaced"):
        decode_gif(bytes(data))


def test_gif_encode_rejects_too_many_colors():
    import pytest as _pytest

    from tabular_to_parquet_spark.operators.codecs import encode_gif

    # 257 distinct colors cannot fit a GIF global color table
    rgb = b"".join(bytes([i % 256, i // 256, 7]) for i in range(257))
    with _pytest.raises(ValueError):
        encode_gif(257, 1, rgb)


@settings(max_examples=30, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=48),
    h=st.integers(min_value=1, max_value=32),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_gif_codec_roundtrip_property(w, h, seed):
    """Any ≤256-color image survives encode→decode bit-exactly."""
    import random as _random

    from tabular_to_parquet_spark.operators.codecs import decode_gif, encode_gif

    rng = _random.Random(seed)
    palette = [
        bytes([rng.randrange(256), rng.randrange(256), rng.randrange(256)])
        for _ in range(rng.randint(1, 256))
    ]
    # dedupe palette (random colors may collide) while keeping ≤256
    palette = list(dict.fromkeys(palette))
    rgb = b"".join(rng.choice(palette) for _ in range(w * h))
    data = encode_gif(w, h, rgb)
    assert decode_gif(data) == (w, h, rgb)
