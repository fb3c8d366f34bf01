"""Multimodal-column plumbing: opaque binary payloads + typed metadata.

The pattern for image/audio/video at 100 TB: the media itself is an opaque
``binary`` column (or a reference to object storage) with a typed metadata
struct beside it; decode / feature-extract / resize / frame-sample run as
Arrow-batched pandas functions over ``mapInPandas`` so the raw bytes never
round-trip through row-at-a-time Python.

Decode support is tiered by what the container can honestly do:

- ``decode_stub=True``: deterministic fake (dimensions from the payload
  digest) — exercises the full Spark contract with any payload bytes.
- ``decode_stub=False``: REAL decoding for the uncompressed formats that
  need no codec library — PPM (P6) images and PCM16 WAV audio are parsed
  with numpy (`_decode_ppm` / `_decode_wav`); codec formats (JPEG/PNG/
  MP4…) raise NotImplementedError at the exact line a libjpeg/ffmpeg call
  would slot into. Either way the Spark-side contract — schema, Arrow
  batch iteration, null passthrough, partitioning — is identical.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("media_type", T.StringType(), True),
        T.StructField("byte_len", T.LongType(), True),
    ]
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), True),
        T.StructField("byte_len", T.LongType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Synthesize a media table from documents: text bytes as the opaque
    payload (stand-in for image/audio bytes), typed metadata derived."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
        F.when(F.col("doc_id") % 3 == 0, "image/png")
        .when(F.col("doc_id") % 3 == 1, "audio/wav")
        .otherwise("video/mp4")
        .alias("media_type"),
        F.length(F.encode("text", "utf-8")).cast("long").alias("byte_len"),
    )


def _pad_feature(vals: list[float], dim: int) -> list[float]:
    vals = [round(float(v), 6) for v in vals[:dim]]
    return vals + [0.0] * (dim - len(vals))


def _decode_ppm(payload: bytes, feature_dim: int):
    """Raw PPM (P6): ASCII header `P6\\n<w> <h>\\n<maxval>\\n` + RGB bytes.
    Feature: per-channel means + overall std, normalized to [0, 1]."""
    import re

    import numpy as np

    # Positional header parse: exactly ONE whitespace byte separates maxval
    # from the raster (PPM spec) — a split(maxsplit=4) would also eat raster
    # bytes that happen to be whitespace (first-pixel red of 9/10/13/32),
    # shifting the raster and corrupting the decode.
    m = re.match(rb"P6\s+(\d+)\s+(\d+)\s+(\d+)\s", payload)
    if not m:
        raise ValueError("not a P6 PPM payload")
    w, h, maxval = (int(g) for g in m.groups())
    raw = payload[m.end():]
    px = np.frombuffer(raw[: w * h * 3], dtype=np.uint8).reshape(h, w, 3)
    px = px.astype(np.float64) / maxval
    feature = _pad_feature(
        [px[..., 0].mean(), px[..., 1].mean(), px[..., 2].mean(), px.std()],
        feature_dim,
    )
    return w, h, 1, feature


def _decode_wav(payload: bytes, feature_dim: int):
    """PCM16 WAV: RIFF/fmt/data chunk walk + int16 samples via numpy.
    Feature: RMS, mean |x|, peak, zero-crossing rate (all in [0, 1]).
    width/height carry (n_channels, sample_rate_kHz) so the typed metadata
    stays one schema across modalities; n_frames = samples per channel."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, n_channels, sample_rate, data = 12, 1, 0, b""
    while pos + 8 <= len(payload):
        cid, size = payload[pos:pos + 4], struct.unpack(
            "<I", payload[pos + 4:pos + 8]
        )[0]
        body = payload[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            fmt_code, n_channels, sample_rate = struct.unpack("<HHI", body[:8])
            if fmt_code != 1:
                raise NotImplementedError("only PCM wav supported")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size % 2)
    x = np.frombuffer(data, dtype=np.int16).astype(np.float64) / 32768.0
    n = max(len(x) // max(n_channels, 1), 1)
    zcr = float(np.mean(np.abs(np.diff(np.signbit(x))))) if len(x) > 1 else 0.0
    feature = _pad_feature(
        [np.sqrt(np.mean(x ** 2)), np.mean(np.abs(x)),
         np.max(np.abs(x), initial=0.0), zcr],
        feature_dim,
    )
    return n_channels, sample_rate // 1000, n, feature


def decode_media(media: DataFrame, decode_stub: bool = True) -> DataFrame:
    """Decode + feature-extract via mapInPandas (Arrow batches); the
    feature vector has 8 dimensions.

    ``decode_stub=False`` really decodes PPM/WAV payloads (numpy only —
    see module docstring); codec formats raise NotImplementedError at the
    libjpeg/ffmpeg integration point. The Spark-side contract (schema
    in/out, batch iteration, null payloads passed through) is identical
    in both modes.
    """

    feature_dim = 8

    def _fake_decode(payload: bytes) -> tuple[int, int, int, list[float]]:
        import hashlib

        d = hashlib.md5(payload).digest()
        width = 64 + d[0] % 192
        height = 64 + d[1] % 192
        n_frames = 1 + d[2] % 30
        feature = [round(b / 255.0, 6) for b in d[:feature_dim]]
        return width, height, n_frames, feature

    def _real_decode(payload: bytes) -> tuple[int, int, int, list[float]]:
        if payload[:2] == b"P6":
            return _decode_ppm(payload, feature_dim)
        if payload[:4] == b"RIFF":
            return _decode_wav(payload, feature_dim)
        raise NotImplementedError(
            "codec-backed formats (JPEG/PNG/MP4/...) need libjpeg/ffmpeg; "
            "this container decodes raw PPM images and PCM WAV audio"
        )

    decode = _fake_decode if decode_stub else _real_decode

    def decode_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            out = {
                "media_id": pdf["media_id"],
                "media_type": pdf["media_type"],
                "byte_len": pdf["byte_len"],
                "width": [], "height": [], "n_frames": [], "feature": [],
            }
            for payload in pdf["payload"]:
                if payload is None:
                    out["width"].append(None)
                    out["height"].append(None)
                    out["n_frames"].append(None)
                    out["feature"].append(None)
                else:
                    w, h, n, f = decode(bytes(payload))
                    out["width"].append(w)
                    out["height"].append(h)
                    out["n_frames"].append(n)
                    out["feature"].append(f)
            yield pd.DataFrame(out)

    return media.mapInPandas(decode_batches, schema=DECODED_SCHEMA)


def _encode_ppm(px, maxval: int = 255) -> bytes:
    """Minimal P6 writer: header + raw RGB raster (the format _decode_ppm
    reads back — resize round-trips through it)."""
    h, w = px.shape[0], px.shape[1]
    return b"P6\n%d %d\n%d\n" % (w, h, maxval) + px.tobytes()


def _encode_wav(x16, n_channels: int, sample_rate: int) -> bytes:
    """Minimal PCM16 RIFF/WAVE writer (fmt + data chunks), the inverse of
    _decode_wav's chunk walk."""
    import struct

    data = x16.tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, n_channels, sample_rate,
        sample_rate * n_channels * 2, n_channels * 2, 16
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("byte_len", T.LongType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ]
)


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """Nearest-neighbor image resize: decode P6 PPM → numpy index-sample →
    re-encode P6. A REAL binary→binary media transform (no codec library
    needed); JPEG/PNG rows raise NotImplementedError at the same libjpeg
    slot as decode_media. Runs as Arrow-batched mapInPandas — payload bytes
    stay columnar end-to-end, rows process independently (embarrassingly
    parallel; partition count, not driver state, sets the parallelism).
    """

    def _resize(payload: bytes) -> tuple[bytes, int, int]:
        import numpy as np

        if payload[:2] != b"P6":
            raise NotImplementedError(
                "codec-backed image formats need libjpeg; container path "
                "resizes raw PPM"
            )
        w0, h0, _, _ = _decode_ppm(payload, 0)[:4]
        import re

        m = re.match(rb"P6\s+(\d+)\s+(\d+)\s+(\d+)\s", payload)
        maxval = int(m.group(3))
        raw = payload[m.end():]
        px = np.frombuffer(raw[: w0 * h0 * 3], dtype=np.uint8).reshape(
            h0, w0, 3
        )
        rows = (np.arange(height) * h0 // height).clip(0, h0 - 1)
        cols = (np.arange(width) * w0 // width).clip(0, w0 - 1)
        out = np.ascontiguousarray(px[rows][:, cols])
        return _encode_ppm(out, maxval), width, height

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in it:
            payloads, ws, hs, lens = [], [], [], []
            for payload in pdf["payload"]:
                if payload is None:
                    payloads.append(None), ws.append(None)
                    hs.append(None), lens.append(None)
                else:
                    p, w, h = _resize(bytes(payload))
                    payloads.append(p), ws.append(w), hs.append(h)
                    lens.append(len(p))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "payload": payloads,
                    "byte_len": lens,
                    "width": ws,
                    "height": hs,
                }
            )

    return media.mapInPandas(batches, schema=RESIZED_SCHEMA)


AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("byte_len", T.LongType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
    ]
)


def downsample_audio(media: DataFrame, factor: int) -> DataFrame:
    """Integer-stride audio decimation: decode PCM16 WAV → keep every
    `factor`-th frame (all channels) → re-encode WAV at rate/factor.
    Same tiering as resize_images: real numpy for PCM, NotImplementedError
    at the ffmpeg slot for codec formats; Arrow-batched mapInPandas.
    (Proper decimation needs an anti-aliasing low-pass first — out of
    scope without scipy; stride-only is the documented semantic here.)
    """

    def _down(payload: bytes) -> tuple[bytes, int, int]:
        import struct

        import numpy as np

        if payload[:4] != b"RIFF":
            raise NotImplementedError(
                "codec-backed audio formats need ffmpeg; container path "
                "decimates PCM WAV"
            )
        pos, n_channels, sample_rate, data = 12, 1, 0, b""
        while pos + 8 <= len(payload):
            cid = payload[pos:pos + 4]
            size = struct.unpack("<I", payload[pos + 4:pos + 8])[0]
            body = payload[pos + 8:pos + 8 + size]
            if cid == b"fmt ":
                _, n_channels, sample_rate = struct.unpack("<HHI", body[:8])
            elif cid == b"data":
                data = body
            pos += 8 + size + (size % 2)
        x = np.frombuffer(data, dtype=np.int16)
        n_frames = len(x) // max(n_channels, 1)
        frames = x[: n_frames * n_channels].reshape(n_frames, n_channels)
        kept = np.ascontiguousarray(frames[::factor])
        rate = max(sample_rate // factor, 1)
        return _encode_wav(kept, n_channels, rate), len(kept), rate

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in it:
            payloads, frames, rates, lens = [], [], [], []
            for payload in pdf["payload"]:
                if payload is None:
                    payloads.append(None), frames.append(None)
                    rates.append(None), lens.append(None)
                else:
                    p, n, r = _down(bytes(payload))
                    payloads.append(p), frames.append(n), rates.append(r)
                    lens.append(len(p))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "payload": payloads,
                    "byte_len": lens,
                    "n_frames": frames,
                    "sample_rate": rates,
                }
            )

    return media.mapInPandas(batches, schema=AUDIO_SCHEMA)


def frame_sample(decoded: DataFrame) -> DataFrame:
    """Frame-sampling plan for video rows: one output row per 5th frame
    index — pure explode/sequence, no Python.

    The n_frames >= 1 guard is load-bearing: ``sequence(0, n_frames-1,
    step)`` with an explicit positive step throws "Illegal sequence
    boundaries" at runtime the moment a zero-frame (or corrupt,
    negative-count) video row appears — the same crash class as the
    short-doc shingle bug (ADVICE r4). Zero-frame rows emit no frames."""
    frames = F.when(
        F.col("n_frames") >= 1,
        F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(5)),
    ).otherwise(F.array().cast("array<int>"))
    return (
        decoded.filter(F.col("media_type") == "video/mp4")
        .select("media_id", "n_frames", F.explode(frames).alias("frame_idx"))
    )
