"""Multimodal (image/audio/video) columns as opaque binary + typed
metadata, decoded by REAL pure-Python/numpy codecs inside the Arrow
``mapInPandas`` plumbing — no external image/audio libraries needed.

Formats (all self-describing, decoded from the payload bytes alone):
  * BMP  — 24-bit uncompressed BITMAPINFOHEADER (the classic format a
           codec-free environment can always parse: fixed offsets,
           bottom-up BGR rows padded to 4 bytes)
  * PPM  — binary P6 (header ``P6 <w> <h> 255`` then raw RGB bytes)
  * WAV  — RIFF/WAVE PCM16 mono (fmt + data chunks)
Video payloads carry a BMP keyframe; ``frame_sample`` explodes the
frame index space and the per-frame decode plugs into the same path.

Design (SURVEY.md §2.8): a media table is
    (media_id long, kind string, payload binary,
     meta struct<width int, height int, sample_rate int, n_frames int>)
Payloads are processed with ``mapInPandas`` so each Arrow batch of
binary blobs reaches Python exactly once, vectorized; decode output is
a fixed-width feature column that downstream ops (ANN, dedup) consume.

At 100 TB: binary columns stay columnar in parquet; repartition by
media_id before decode so batches are balanced; decoded features are
orders of magnitude smaller than payloads — project early, decode
late. ``mode='hist'`` keeps a codec-free byte-histogram signature for
content-level dedup where decoding is unnecessary work.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..util import local_frame

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, "
    "meta struct<width:int, height:int, sample_rate:int, n_frames:int>"
)

FEATURE_SCHEMA = "media_id long, kind string, n_bytes long, features array<double>"

FEATURE_DIM = 8


# ---------------------------------------------------------------------
# codecs (pure Python + numpy; also exported for driver-side use)
# ---------------------------------------------------------------------

def encode_bmp(rgb: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → 24-bit uncompressed BMP bytes."""
    rgb = np.ascontiguousarray(rgb, dtype=np.uint8)
    h, w, _ = rgb.shape
    row = (w * 3 + 3) // 4 * 4
    data = np.zeros((h, row), dtype=np.uint8)
    data[:, : w * 3] = rgb[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    body = data.tobytes()
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + len(body), 0, 0, 54
    ) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    return header + body


def _build_codecs() -> dict:
    """Factory returning the decode functions as CLOSURES: a
    mapInPandas closure that captures these is serialized by VALUE by
    cloudpickle (closures are not module attributes), so executors of
    driver-owned sessions never need to import andl_spark. The
    module-level names below are aliases of the same closures, used
    driver-side and in tests."""
    import struct
    import numpy as np

    def decode_bmp(payload: bytes) -> np.ndarray:
        """24-bit uncompressed BMP bytes → (h, w, 3) uint8 RGB."""
        if payload[:2] != b"BM":
            raise ValueError("not a BMP payload")
        (data_off,) = struct.unpack_from("<I", payload, 10)
        w, h = struct.unpack_from("<ii", payload, 18)
        (bpp,) = struct.unpack_from("<H", payload, 28)
        (comp,) = struct.unpack_from("<I", payload, 30)
        if bpp != 24 or comp != 0:
            raise ValueError(f"unsupported BMP (bpp={bpp}, compression={comp})")
        rows = abs(h)
        stride = (w * 3 + 3) // 4 * 4
        arr = np.frombuffer(payload, np.uint8, stride * rows, data_off)
        arr = arr.reshape(rows, stride)[:, : w * 3].reshape(rows, w, 3)
        if h > 0:  # bottom-up storage
            arr = arr[::-1]
        return arr[:, :, ::-1].copy()  # BGR → RGB


    def encode_ppm(rgb: np.ndarray) -> bytes:
        """(h, w, 3) uint8 RGB → binary P6 PPM bytes."""
        rgb = np.ascontiguousarray(rgb, dtype=np.uint8)
        h, w, _ = rgb.shape
        return f"P6\n{w} {h}\n255\n".encode() + rgb.tobytes()


    def decode_ppm(payload: bytes) -> np.ndarray:
        """Binary P6 PPM bytes → (h, w, 3) uint8 RGB."""
        if payload[:2] != b"P6":
            raise ValueError("not a P6 PPM payload")
        # header = magic, width, height, maxval — whitespace/comment-separated
        fields, pos = [], 2
        while len(fields) < 3:
            while payload[pos : pos + 1].isspace():
                pos += 1
            if payload[pos : pos + 1] == b"#":  # comment to end of line
                pos = payload.index(b"\n", pos) + 1
                continue
            start = pos
            while not payload[pos : pos + 1].isspace():
                pos += 1
            fields.append(int(payload[start:pos]))
        pos += 1  # single whitespace after maxval
        w, h, maxval = fields
        if maxval != 255:
            raise ValueError(f"unsupported PPM maxval {maxval}")
        return np.frombuffer(payload, np.uint8, h * w * 3, pos).reshape(h, w, 3).copy()


    def encode_wav(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
        """int16 mono samples → RIFF/WAVE PCM16 bytes."""
        pcm = samples.astype("<i2").tobytes()
        fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
        return (
            b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(pcm)) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(pcm)) + pcm
        )


    def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
        """RIFF/WAVE PCM16 mono bytes → (sample_rate, int16 samples)."""
        if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
            raise ValueError("not a RIFF/WAVE payload")
        pos, rate, samples = 12, None, None
        while pos + 8 <= len(payload):
            cid = payload[pos : pos + 4]
            (size,) = struct.unpack_from("<I", payload, pos + 4)
            body = pos + 8
            if cid == b"fmt ":
                audio_fmt, channels, rate = struct.unpack_from("<HHI", payload, body)
                (bits,) = struct.unpack_from("<H", payload, body + 14)
                if (audio_fmt, channels, bits) != (1, 1, 16):
                    raise ValueError("unsupported WAV (need PCM16 mono)")
            elif cid == b"data":
                samples = np.frombuffer(payload, "<i2", size // 2, body).copy()
            pos = body + size + (size & 1)
        if rate is None or samples is None:
            raise ValueError("WAV missing fmt/data chunk")
        return rate, samples


    def _image_features(rgb: np.ndarray) -> list[float]:
        """[w, h, mean RGB×3, std RGB×3] — fixed FEATURE_DIM contract."""
        f = rgb.reshape(-1, 3).astype(np.float64)
        return [
            float(rgb.shape[1]), float(rgb.shape[0]),
            *(float(x) for x in f.mean(axis=0)),
            *(float(x) for x in f.std(axis=0)),
        ]


    def _audio_features(rate: int, samples: np.ndarray) -> list[float]:
        """[rate, n, mean, std, rms, zero-crossings, min, max]."""
        s = samples.astype(np.float64)
        return [
            float(rate), float(len(s)), float(s.mean()), float(s.std()),
            float(np.sqrt((s ** 2).mean())),
            float(((s[:-1] * s[1:]) < 0).sum()),
            float(s.min()), float(s.max()),
        ]


    def decode_payload(kind: str, payload: bytes) -> list[float]:
        """Decode one payload to its FEATURE_DIM feature vector. Sniffs the
        container (BMP/PPM for images and video keyframes, WAV for audio)."""
        if kind in ("image", "video"):
            rgb = decode_bmp(payload) if payload[:2] == b"BM" else decode_ppm(payload)
            return _image_features(rgb)
        if kind == "audio":
            return _audio_features(*decode_wav(payload))
        raise ValueError(f"unknown media kind {kind!r}")

    return {
        "decode_bmp": decode_bmp, "decode_ppm": decode_ppm,
        "decode_wav": decode_wav, "decode_payload": decode_payload,
        "_image_features": _image_features, "_audio_features": _audio_features,
        "encode_ppm": encode_ppm, "encode_wav": encode_wav,
    }


_CODECS = _build_codecs()
decode_bmp = _CODECS["decode_bmp"]
decode_ppm = _CODECS["decode_ppm"]
decode_wav = _CODECS["decode_wav"]
decode_payload = _CODECS["decode_payload"]
_image_features = _CODECS["_image_features"]
_audio_features = _CODECS["_audio_features"]
encode_ppm = _CODECS["encode_ppm"]
encode_wav = _CODECS["encode_wav"]


# ---------------------------------------------------------------------
# synthesizer (deterministic REAL payloads)
# ---------------------------------------------------------------------

def media_rows(n: int = 64) -> list[tuple]:
    """The deterministic media rows as plain Python values — shared by
    synthesize_media (Spark table) and the q_multimodal_decode oracle
    (which decodes the same payloads WITHOUT Spark)."""
    rows = []
    for i in range(n):
        kind = ("image", "audio", "video")[i % 3]
        if kind == "audio":
            t = np.arange(256)
            freq = 220.0 + 20.0 * (i % 10)
            samples = (10000 * np.sin(2 * np.pi * freq * t / 16000)).astype(np.int16)
            payload, meta = encode_wav(samples), (0, 0, 16000, 0)
        else:
            y, x = np.mgrid[0:8, 0:8]
            rgb = np.stack(
                [(x * 32 + i) % 256, (y * 32 + 2 * i) % 256, (x * y + 3 * i) % 256],
                axis=-1,
            ).astype(np.uint8)
            # alternate containers so both image codecs are exercised
            payload = encode_ppm(rgb) if (kind == "image" and i % 2) else encode_bmp(rgb)
            meta = (8, 8, 0, (i % 30 + 1) if kind == "video" else 1)
        rows.append((i, kind, bytearray(payload), meta))
    return rows


def synthesize_media(spark, n: int = 64) -> DataFrame:
    """Deterministic media table with REAL self-describing payloads:
    images are 8×8 24-bit BMPs (id-seeded gradient; odd ids use the PPM
    container), audio is a 256-sample PCM16 WAV sine at an id-derived
    frequency, video is a BMP keyframe plus an n_frames count in meta.
    Stable across runs, so decode output is directly assertable."""
    return local_frame(spark, media_rows(n), MEDIA_SCHEMA)


# ---------------------------------------------------------------------
# the Spark-side decode pass
# ---------------------------------------------------------------------

def extract_features(media: DataFrame, dim: int = FEATURE_DIM,
                     mode: str = "decode") -> DataFrame:
    """Vectorized decode/feature-extract over Arrow batches.

    mode='decode' (default): REAL codec path — parse each payload
    (BMP/PPM/WAV by content) and emit its feature vector.
    mode='hist': codec-free byte-histogram signature (an honest
    content-hash-style featurizer, not a decode) for dedup flows where
    decoding is unnecessary work.
    """
    if mode not in ("decode", "hist"):
        raise ValueError(f"mode must be 'decode' or 'hist', got {mode!r}")

    # Self-contained closure: executors of driver-owned sessions can't
    # import andl_spark, so the closure captures the codec CLOSURES from
    # _build_codecs() — cloudpickle serializes closures by value, so no
    # executor-side import of this module is needed.
    decode = _CODECS["decode_payload"]

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        def hist(payload: bytes) -> list[float]:
            if not payload:
                return [0.0] * dim
            return [float(sum(payload[i::dim]) % 997) for i in range(dim)]

        for pdf in batches:
            if mode == "decode":
                feats = [
                    decode(k, bytes(p)) for k, p in zip(pdf["kind"], pdf["payload"])
                ]
            else:
                feats = [hist(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": pdf["payload"].map(len).astype("int64"),
                "features": feats,
            })

    # Decode late: only the columns the extractor needs reach Python.
    slim = media.select("media_id", "kind", "payload")
    return slim.mapInPandas(run, FEATURE_SCHEMA)


def frame_sample(media: DataFrame, every_nth: int = 5) -> DataFrame:
    """Video frame-sampling plumbing: one output row per sampled frame
    index (explode of a JVM sequence — the per-frame decode plugs into
    extract_features on the per-frame payload)."""
    frames = F.sequence(F.lit(0), F.col("meta.n_frames") - 1, F.lit(every_nth))
    return media.filter(F.col("kind") == "video").select(
        "media_id", F.explode(frames).alias("frame_idx"), "meta"
    )


