"""Multimodal column plumbing (SURVEY.md §7.4).

Media (image/audio/video) travels as opaque ``binary`` payload columns
with typed metadata; per-item processing (decode, feature-extract,
resize, frame-sample) runs as Arrow-batched ``mapInPandas`` — the
correct Spark shape for byte-blob UDF work: columnar transfer, batch
amortization, linear scaling with partitions, no shuffle.

The actual codecs (PIL/ffmpeg/...) are NOT in this container, so the
decode step is gated behind an import-try and raises
``NotImplementedError`` when unavailable; the deterministic fallback
("fake decode") computes real byte-level features so the Spark-side
plumbing — schema, batching, UDF signature, partitioning — is fully
exercised and testable.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: canonical media-table schema: opaque payload + typed metadata
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("media_type", T.StringType(), True),
        T.StructField("meta_width", T.IntegerType(), True),
        T.StructField("meta_height", T.IntegerType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("payload_md5", T.StringType(), True),
        T.StructField("header_hex", T.StringType(), True),
        T.StructField("decoded", T.BooleanType(), True),
    ]
)


def attach_payload(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Build a media table from a text corpus: the UTF-8 bytes stand in
    for an encoded image; metadata columns are derived deterministically.
    (Pure projection — binary columns are first-class in parquet/Tungsten.)
    """
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col).alias("media_id"),
        payload.alias("payload"),
        F.lit("image/fake").alias("media_type"),
        (F.pmod(F.col(id_col), F.lit(1024)) + 16).cast("int").alias("meta_width"),
        (F.pmod(F.col(id_col), F.lit(768)) + 16).cast("int").alias("meta_height"),
    )


def decode_image(payload: bytes) -> tuple[int, int, bytes]:
    """Real image decode → (width, height, top-down RGB bytes).

    Prefers Pillow when installed (any format it knows); otherwise the
    pure-Python 24-bit BMP decoder (operators/codecs.py) — a genuine
    byte-level codec, so "decodable" is a real per-payload signal.
    Raises ``ValueError`` for payloads that are not images.
    """
    try:
        import io as _io

        import PIL.Image  # not installed in this container

        try:
            img = PIL.Image.open(_io.BytesIO(payload)).convert("RGB")
        except Exception as exc:
            raise ValueError(f"undecodable image: {exc}") from exc
        return img.width, img.height, img.tobytes()
    except ImportError:
        from tabular_to_parquet_spark.operators.codecs import (
            decode_bmp,
            decode_gif,
            decode_png,
        )

        if payload[:8] == b"\x89PNG\r\n\x1a\n":
            return decode_png(payload)
        if payload[:4] == b"GIF8":
            return decode_gif(payload)
        return decode_bmp(payload)


def _try_decode(payload) -> tuple[int, int, bytes] | None:
    if payload is None:
        return None
    try:
        return decode_image(bytes(payload))
    except (ValueError, NotImplementedError):
        return None


def extract_features(df: DataFrame) -> DataFrame:
    """Byte-level features via Arrow-batched mapInPandas.

    Deterministic (hashlib md5, byte slices) so the DuckDB oracle can
    reproduce every output; ``decoded`` records whether the real codec
    path was available.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": payloads.map(lambda b: len(b) if b is not None else 0).astype("int64"),
                    "payload_md5": payloads.map(
                        lambda b: hashlib.md5(b).hexdigest() if b is not None else None
                    ),
                    "header_hex": payloads.map(
                        lambda b: bytes(b[:4]).hex() if b is not None else None
                    ),
                    # per-payload truth: did a real codec accept these bytes?
                    "decoded": payloads.map(lambda b: _try_decode(b) is not None),
                }
            )

    return df.mapInPandas(batches, FEATURE_SCHEMA)


RESIZE_TARGET_BYTES = 256

RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("target_w", T.IntegerType(), True),
        T.StructField("target_h", T.IntegerType(), True),
        T.StructField("resized_n_bytes", T.LongType(), True),
        T.StructField("resized_md5", T.StringType(), True),
        T.StructField("decoded", T.BooleanType(), True),
    ]
)


def resize_media(df: DataFrame, target_w: int = 64, target_h: int = 64) -> DataFrame:
    """Resize via Arrow-batched mapInPandas.

    Payloads a real codec accepts (BMP here; any PIL format when Pillow
    is installed) go through decode → nearest-neighbor resize →
    re-encode; everything else falls back to the deterministic
    byte-stride sampler, so the operator is total over mixed media
    tables. Same one-row-in/one-row-out batch shape either way."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from tabular_to_parquet_spark.operators.codecs import (
            encode_bmp,
            resize_nearest,
        )

        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    rows.append((mid, target_w, target_h, 0, None, False))
                    continue
                data = bytes(payload)
                img = _try_decode(data)
                if img is not None:
                    w, h, rgb = img
                    resized = encode_bmp(
                        target_w, target_h,
                        resize_nearest(w, h, rgb, target_w, target_h),
                    )
                    decoded = True
                else:
                    stride = max(1, len(data) // RESIZE_TARGET_BYTES)
                    resized = data[::stride]
                    decoded = False
                rows.append(
                    (mid, target_w, target_h, len(resized),
                     hashlib.md5(resized).hexdigest(), decoded)
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "target_w", "target_h",
                         "resized_n_bytes", "resized_md5", "decoded"],
            )

    return df.mapInPandas(batches, RESIZE_SCHEMA)


# ---------------------------------------------------------------------------
# real-codec paths: deterministic synthetic BMP images / WAV clips keyed
# on the id column, so a SQL oracle can recompute every decoded statistic
# from the generation formula alone (proving the decoder actually parsed
# the container format — header layout, bottom-up rows, padding, chunks)

IMG_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("media_type", T.StringType(), True),
    ]
)


def _img_dims(media_id: int) -> tuple[int, int]:
    return 8 + media_id % 16, 8 + media_id % 12


def _img_rgb(media_id: int, w: int, h: int) -> bytes:
    # channel formulas shared verbatim with the DuckDB oracle
    return bytes(
        v
        for y in range(h)
        for x in range(w)
        for v in (
            (x + y + media_id) % 256,
            (2 * x + media_id) % 256,
            (y + 2 * media_id) % 256,
        )
    )


def attach_bmp_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a real 24-bit BMP per row (deterministic in the id)."""
    return _attach_image_payload(df, id_col, "bmp")


def attach_png_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a real PNG per row (same pixels as the BMP variant;
    the compressed container exercises chunk CRCs + zlib + the full
    per-row filter set)."""
    return _attach_image_payload(df, id_col, "png")


def attach_gif_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a real GIF89a per row. GIF is palette-indexed
    (≤256 colors), so the pixel formula differs from BMP/PNG: index
    p(x,y) = (x + 2y + id) % 256 with palette entry
    (p, 2p%256, 3p%256) — injective in p, so the decoder's RGB output
    is still fully oracle-predictable."""
    return _attach_image_payload(df, id_col, "gif")


def _gif_rgb(mid: int, w: int, h: int) -> bytes:
    rgb = bytearray()
    for y in range(h):
        for x in range(w):
            p = (x + 2 * y + mid) % 256
            rgb += bytes([p, (2 * p) % 256, (3 * p) % 256])
    return bytes(rgb)


def _attach_image_payload(df: DataFrame, id_col: str, fmt: str) -> DataFrame:
    from tabular_to_parquet_spark.operators.codecs import (
        encode_bmp,
        encode_gif,
        encode_png,
    )

    encode = {"bmp": encode_bmp, "png": encode_png, "gif": encode_gif}[fmt]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = pdf[id_col]
            payloads = []
            for mid in ids:
                w, h = _img_dims(int(mid))
                pixels = (
                    _gif_rgb(int(mid), w, h)
                    if fmt == "gif"
                    else _img_rgb(int(mid), w, h)
                )
                payloads.append(encode(w, h, pixels))
            yield pd.DataFrame(
                {"media_id": ids, "payload": payloads, "media_type": f"image/{fmt}"}
            )

    return df.select(id_col).mapInPandas(batches, IMG_SCHEMA)


IMG_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("width", T.LongType(), True),
        T.StructField("height", T.LongType(), True),
        T.StructField("r_sum", T.LongType(), True),
        T.StructField("g_sum", T.LongType(), True),
        T.StructField("b_sum", T.LongType(), True),
        T.StructField("decoded", T.BooleanType(), True),
    ]
)


def decode_image_features(df: DataFrame) -> DataFrame:
    """Decode each payload with the REAL codec and report per-channel
    pixel sums — exact integers an oracle can recompute."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                img = _try_decode(payload)
                if img is None:
                    rows.append((mid, None, None, None, None, None, False))
                    continue
                w, h, rgb = img
                rows.append(
                    (mid, w, h, sum(rgb[0::3]), sum(rgb[1::3]), sum(rgb[2::3]), True)
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "width", "height", "r_sum", "g_sum", "b_sum", "decoded"],
            )

    return df.mapInPandas(batches, IMG_FEATURE_SCHEMA)


def resize_image_features(df: DataFrame, target_w: int = 16, target_h: int = 16) -> DataFrame:
    """Decode → nearest-neighbor resize → per-channel sums of the
    RESIZED image (decode + geometry both oracle-checkable)."""
    from tabular_to_parquet_spark.operators.codecs import resize_nearest

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                img = _try_decode(payload)
                if img is None:
                    rows.append((mid, None, None, None, None, None, False))
                    continue
                w, h, rgb = img
                out = resize_nearest(w, h, rgb, target_w, target_h)
                rows.append(
                    (mid, target_w, target_h,
                     sum(out[0::3]), sum(out[1::3]), sum(out[2::3]), True)
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "width", "height", "r_sum", "g_sum", "b_sum", "decoded"],
            )

    return df.mapInPandas(batches, IMG_FEATURE_SCHEMA)


# --- video ------------------------------------------------------------------

VIDEO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("width", T.LongType(), True),
        T.StructField("height", T.LongType(), True),
        T.StructField("n_frames", T.LongType(), True),
        T.StructField("px_sum", T.LongType(), True),
        T.StructField("last_frame_sum", T.LongType(), True),
        T.StructField("decoded", T.BooleanType(), True),
    ]
)


def _avi_dims(media_id: int) -> tuple[int, int, int]:
    return 8 + media_id % 8, 6 + media_id % 6, 2 + media_id % 4


def _avi_frame_rgb(media_id: int, frame: int, w: int, h: int) -> bytes:
    # channel-uniform pixel value, shared verbatim with the oracle
    return bytes(
        v
        for y in range(h)
        for x in range(w)
        for v in ((x + y + frame + media_id) % 256,) * 3
    )


def attach_avi_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a real uncompressed AVI per row (deterministic)."""
    from tabular_to_parquet_spark.operators.codecs import encode_avi

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = pdf[id_col]
            payloads = []
            for mid in ids:
                w, h, n = _avi_dims(int(mid))
                payloads.append(
                    encode_avi(w, h, [_avi_frame_rgb(int(mid), f, w, h) for f in range(n)])
                )
            yield pd.DataFrame(
                {"media_id": ids, "payload": payloads, "media_type": "video/avi"}
            )

    return df.select(id_col).mapInPandas(batches, IMG_SCHEMA)


MOTION_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("n_frames", T.LongType(), True),
        T.StructField("motion_energy", T.LongType(), True),
    ]
)


def video_motion_energy(df: DataFrame) -> DataFrame:
    """Frame-difference motion metric over the REAL AVI decode: sum of
    absolute per-byte differences between consecutive frames — the
    primitive under scene-cut detection and static-clip filtering in
    video training pipelines. Exact integers (deterministic under any
    order); per-document work happens inside its Arrow batch, no
    shuffle. Single-frame clips report 0."""
    from tabular_to_parquet_spark.operators.codecs import decode_avi

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                try:
                    _w, _h, frames = decode_avi(bytes(payload))
                except ValueError:
                    continue
                energy = 0
                for a, b in zip(frames, frames[1:]):
                    energy += sum(abs(pa - pb) for pa, pb in zip(a, b))
                rows.append((mid, len(frames), energy))
            yield pd.DataFrame(
                rows, columns=["media_id", "n_frames", "motion_energy"]
            )

    return df.mapInPandas(batches, MOTION_SCHEMA)


def decode_video_features(df: DataFrame) -> DataFrame:
    """Decode each AVI payload with the real RIFF parser; exact-integer
    pixel statistics over all frames plus the last frame alone (the
    frame-sampling shape: container → per-frame pixel access)."""
    from tabular_to_parquet_spark.operators.codecs import decode_avi

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    w, h, frames = (
                        decode_avi(bytes(payload)) if payload is not None else (None, None, None)
                    )
                except ValueError:
                    w = h = frames = None
                if frames is None:
                    rows.append((mid, None, None, None, None, None, False))
                else:
                    rows.append(
                        (mid, w, h, len(frames),
                         sum(sum(f) for f in frames), sum(frames[-1]), True)
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "width", "height", "n_frames",
                         "px_sum", "last_frame_sum", "decoded"],
            )

    return df.mapInPandas(batches, VIDEO_FEATURE_SCHEMA)


SCENE_CUT_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("frame", T.LongType(), True),
        T.StructField("diff_sum", T.LongType(), True),
        T.StructField("is_cut", T.BooleanType(), True),
    ]
)


def scene_cut_frames(df: DataFrame) -> DataFrame:
    """Per-transition scene-cut series over the REAL AVI decode: one
    row per consecutive-frame pair (``frame`` = index of the later
    frame) with the exact integer byte-difference sum, flagged as a
    cut when the transition's energy exceeds 2x the clip's mean —
    compared as ``diff * n_transitions > 2 * total`` so no division
    ever happens. This is the per-frame view m11's per-video total
    collapses away: the boundary detector that turns raw video into
    trainable shot clips.

    Scale shape: decode, the transition series AND the per-clip mean
    all happen inside one Arrow batch (a clip never spans batches), so
    the operator is a ZERO-shuffle mapInPandas scan — at 100 TB it
    parallelizes per video file with no exchange at all. Single-frame
    clips emit nothing; undecodable payloads are skipped."""
    from tabular_to_parquet_spark.operators.codecs import decode_avi

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                try:
                    _w, _h, frames = decode_avi(bytes(payload))
                except ValueError:
                    continue
                diffs = [
                    sum(abs(pa - pb) for pa, pb in zip(a, b))
                    for a, b in zip(frames, frames[1:])
                ]
                total = sum(diffs)
                nt = len(diffs)
                for f, d in enumerate(diffs, start=1):
                    rows.append((mid, f, d, d * nt > 2 * total))
            yield pd.DataFrame(
                rows, columns=["media_id", "frame", "diff_sum", "is_cut"]
            )

    return df.mapInPandas(batches, SCENE_CUT_SCHEMA)


# --- audio ------------------------------------------------------------------

AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("sample_rate", T.LongType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("amp_sum", T.LongType(), True),
        T.StructField("amp_max", T.LongType(), True),
        T.StructField("decoded", T.BooleanType(), True),
    ]
)


def _wav_params(media_id: int) -> tuple[int, int]:
    return 8000 + (media_id % 4) * 4000, 64 + media_id % 128


def _wav_samples(media_id: int, n: int) -> list[int]:
    return [((i * (media_id + 7)) % 2003) - 1001 for i in range(n)]


def attach_wav_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a real PCM-16 WAV per row (deterministic in the id)."""
    from tabular_to_parquet_spark.operators.codecs import encode_wav

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = pdf[id_col]
            payloads = []
            for mid in ids:
                rate, n = _wav_params(int(mid))
                payloads.append(encode_wav(rate, _wav_samples(int(mid), n)))
            yield pd.DataFrame(
                {"media_id": ids, "payload": payloads, "media_type": "audio/wav"}
            )

    return df.select(id_col).mapInPandas(batches, IMG_SCHEMA)


def decode_audio_features(df: DataFrame) -> DataFrame:
    """Decode each WAV payload with the real RIFF/PCM parser and report
    exact-integer amplitude statistics."""
    from tabular_to_parquet_spark.operators.codecs import decode_wav

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    rate, samples = decode_wav(bytes(payload)) if payload is not None else (None, None)
                except ValueError:
                    rate, samples = None, None
                if samples is None:
                    rows.append((mid, None, None, None, None, False))
                else:
                    rows.append(
                        (mid, rate, len(samples), sum(samples), max(samples), True)
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "sample_rate", "n_samples", "amp_sum", "amp_max", "decoded"],
            )

    return df.mapInPandas(batches, AUDIO_FEATURE_SCHEMA)


AUDIO_WINDOW_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("window_idx", T.LongType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("energy", T.LongType(), True),
    ]
)


def audio_energy_windows(df: DataFrame, window: int = 32) -> DataFrame:
    """Windowed audio energy: sum of SQUARED int16 PCM samples per
    fixed-size sample window (the framing step under VAD / silence
    trimming / loudness features). Sums of squared ints are EXACT
    integers — deterministic under any evaluation order, so the gate
    is oracle-stable where a float RMS would not be. Each document's
    windows are produced inside its Arrow batch (mapInPandas over the
    real RIFF/PCM decode) — one row in, n/window rows out, no shuffle.
    """
    from tabular_to_parquet_spark.operators.codecs import decode_wav

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                try:
                    _rate, samples = decode_wav(bytes(payload))
                except ValueError:
                    continue
                for start in range(0, len(samples), window):
                    chunk = samples[start : start + window]
                    rows.append(
                        (
                            mid,
                            start // window,
                            len(chunk),
                            sum(s * s for s in chunk),
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["media_id", "window_idx", "n_samples", "energy"]
            )

    return df.mapInPandas(batches, AUDIO_WINDOW_SCHEMA)


def sample_frames(
    df: DataFrame, every_n_bytes: int = 64, max_frames: int = 8
) -> DataFrame:
    """'Frame sampling' stand-in: slice the payload every N bytes (the
    shape a video frame-sampler takes — one input row → many frame
    rows), as a mapInPandas generator with bounded fan-out."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), True),
            T.StructField("frame_no", T.IntegerType(), True),
            T.StructField("frame_bytes", T.BinaryType(), True),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                data = bytes(payload)
                for i in range(min(max_frames, max(1, len(data) // every_n_bytes))):
                    rows.append((mid, i, data[i * every_n_bytes : (i + 1) * every_n_bytes]))
            yield pd.DataFrame(rows, columns=["media_id", "frame_no", "frame_bytes"])

    return df.mapInPandas(batches, out_schema)


# --- compressed video (MJPEG-in-AVI) ----------------------------------------


def _mjpeg_dims(media_id: int) -> tuple[int, int, int]:
    """(width, height, n_frames) — multiples of 8 so every 8x8 JPEG
    block is interior (no edge padding in the fixture)."""
    return 8 * (1 + media_id % 3), 8 * (1 + media_id % 2), 2 + media_id % 3


def _mjpeg_frame_gray(media_id: int, frame: int, w: int, h: int) -> bytes:
    """Block-constant grayscale frame: each 8x8 tile holds one value
    from a formula shared verbatim with the oracle. Block-constant
    tiles have a DC-only spectrum, so the flat-qtable JPEG roundtrip
    is bit-exact and the oracle can recompute pixel sums (codecs.py)."""
    return bytes(
        ((x // 8) * 13 + (y // 8) * 7 + frame * 31 + media_id) % 256
        for y in range(h)
        for x in range(w)
    )


def attach_mjpeg_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a real MJPEG AVI per row: every frame is a baseline
    huffman-coded JPEG ('00dc' chunks, MJPG fourcc)."""
    from tabular_to_parquet_spark.operators.codecs import (
        encode_avi_mjpeg,
        encode_jpeg_gray,
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = pdf[id_col]
            payloads = []
            for mid in ids:
                w, h, n = _mjpeg_dims(int(mid))
                payloads.append(
                    encode_avi_mjpeg(
                        w, h,
                        [
                            encode_jpeg_gray(w, h, _mjpeg_frame_gray(int(mid), f, w, h))
                            for f in range(n)
                        ],
                    )
                )
            yield pd.DataFrame(
                {"media_id": ids, "payload": payloads, "media_type": "video/mjpeg-avi"}
            )

    return df.select(id_col).mapInPandas(batches, IMG_SCHEMA)


def decode_mjpeg_video_features(df: DataFrame) -> DataFrame:
    """Decode each MJPEG AVI with the real container + JPEG entropy
    decoder; pixel statistics are reported over the RGB expansion
    (grayscale replicated x3) so the output shape matches the
    uncompressed-AVI feature frame (VIDEO_FEATURE_SCHEMA)."""
    from tabular_to_parquet_spark.operators.codecs import decode_avi_mjpeg

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    w, h, frames = (
                        decode_avi_mjpeg(bytes(payload))
                        if payload is not None
                        else (None, None, None)
                    )
                except ValueError:
                    w = h = frames = None
                if frames is None:
                    rows.append((mid, None, None, None, None, None, False))
                else:
                    rows.append(
                        (mid, w, h, len(frames),
                         3 * sum(sum(f) for f in frames), 3 * sum(frames[-1]), True)
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "width", "height", "n_frames",
                         "px_sum", "last_frame_sum", "decoded"],
            )

    return df.mapInPandas(batches, VIDEO_FEATURE_SCHEMA)


AHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("mean_gray", T.LongType(), True),
        T.StructField("ahash_lo", T.LongType(), True),
        T.StructField("ahash_hi", T.LongType(), True),
        T.StructField("decoded", T.BooleanType(), True),
    ]
)


def perceptual_hash_features(df: DataFrame, hash_w: int = 8, hash_h: int = 8) -> DataFrame:
    """Average-hash (aHash) perceptual image signatures — the classic
    near-dup image fingerprint: decode with the REAL codec, nearest
    resize to hash_w × hash_h, integer grayscale (r+g+b)//3 per cell,
    then one bit per cell for gray > integer mean. Visually identical
    images (crops aside) collide; a groupBy on the hash is image
    dedup, a hamming-band join (the d05 simhash machinery) is image
    NEAR-dup — the multimodal twin of text fingerprinting.

    All-integer math end to end, so an oracle re-derives every bit.
    The 64 bits ship as two 32-bit halves (ahash_lo = cells 0-31 in
    row-major order, ahash_hi = 32-63): bit 63 of one BIGINT would
    collide with the sign. Arrow-batched mapInPandas, no per-row UDF;
    at 100 TB this is a pure map pass over payload bytes."""
    n = hash_w * hash_h
    if n > 64:
        raise ValueError(
            "hash_w * hash_h must be <= 64: the signature ships as two "
            "32-bit BIGINT halves (a 65th cell has no bit to live in)"
        )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from tabular_to_parquet_spark.operators.codecs import resize_nearest

        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                img = _try_decode(payload)
                if img is None:
                    rows.append((mid, None, None, None, False))
                    continue
                w, h, rgb = img
                out = resize_nearest(w, h, rgb, hash_w, hash_h)
                grays = [
                    (out[3 * p] + out[3 * p + 1] + out[3 * p + 2]) // 3
                    for p in range(n)
                ]
                mean = sum(grays) // n
                lo = sum(1 << p for p in range(min(32, n)) if grays[p] > mean)
                hi = sum(1 << (p - 32) for p in range(32, n) if grays[p] > mean)
                rows.append((mid, mean, lo, hi, True))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "mean_gray", "ahash_lo", "ahash_hi", "decoded"],
            )

    return df.mapInPandas(batches, AHASH_SCHEMA)


AUDIO_FP_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("n_windows", T.LongType(), True),
        T.StructField("mean_energy", T.LongType(), True),
        T.StructField("fingerprint", T.LongType(), True),
        T.StructField("decoded", T.BooleanType(), True),
    ]
)


def audio_fingerprint(df: DataFrame, window: int = 8, max_windows: int = 63) -> DataFrame:
    """Energy-profile audio fingerprint — the m14 aHash idea on PCM:
    decode with the real RIFF/PCM codec, frame into fixed windows,
    exact integer energy (Σ s²) per window, one bit per window for
    energy above the integer mean. Equal fingerprints = same loudness
    envelope (the cheap audio dedup key; a hamming band join is the
    near-dup path). All-integer math end to end — oracle-exact.
    Windows are capped at 63 bits (clip longer audio or raise the
    window size; bit 63 would collide with the BIGINT sign)."""
    from tabular_to_parquet_spark.operators.codecs import decode_wav

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    _rate, samples = decode_wav(bytes(payload))
                except (ValueError, TypeError):
                    rows.append((mid, None, None, None, False))
                    continue
                energies = [
                    sum(s * s for s in samples[start : start + window])
                    for start in range(0, len(samples), window)
                ][:max_windows]
                nw = len(energies)
                if nw == 0:
                    rows.append((mid, 0, 0, 0, True))
                    continue
                mean = sum(energies) // nw
                fp = sum(1 << i for i, e in enumerate(energies) if e > mean)
                rows.append((mid, nw, mean, fp, True))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "n_windows", "mean_energy", "fingerprint", "decoded"],
            )

    return df.mapInPandas(batches, AUDIO_FP_SCHEMA)
