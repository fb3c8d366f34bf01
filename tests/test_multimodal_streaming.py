"""Multimodal plumbing + Structured Streaming ingest tests."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from stock_market_etl_pipeline_spark.operators.multimodal import (
    DECODED_SCHEMA,
    decode_media,
    documents_as_media,
    frame_sample,
)
from stock_market_etl_pipeline_spark.streaming.ingest import start_quote_ingest

from conftest import SF_DIR, make_raw_rows

# Long-matrix tier (VERDICT r12 #1): multi-batch streaming / replay /
# restart-storm e2e tests. Excluded from the default run so the driver's
# verify window fits; run with `python -m pytest tests/ -m slow -q` (the
# round close-out ritual runs all tiers).
pytestmark = pytest.mark.slow



@pytest.fixture(scope="module")
def media(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(30)
    return documents_as_media(docs).cache()


def test_media_schema_and_payload(media):
    types = dict(media.dtypes)
    assert types["payload"] == "binary"
    row = media.first()
    assert row["byte_len"] == len(row["payload"])


def test_decode_stub_deterministic(media):
    out1 = decode_media(media).orderBy("media_id").collect()
    out2 = decode_media(media).orderBy("media_id").collect()
    assert [r.asDict() for r in out1] == [r.asDict() for r in out2]
    for r in out1:
        assert 64 <= r["width"] < 256 and 64 <= r["height"] < 256
        assert len(r["feature"]) == 8
    assert decode_media(media).schema == DECODED_SCHEMA


def test_decode_real_path_raises(media):
    with pytest.raises(Exception, match="NotImplementedError|real media decode"):
        decode_media(media, decode_stub=False).collect()


def test_frame_sample_explodes_video_rows(media):
    decoded = decode_media(media)
    frames = frame_sample(decoded)
    rows = frames.collect()
    assert rows, "expected at least one video row"
    for r in rows:
        assert r["frame_idx"] % 5 == 0
        assert r["frame_idx"] < r["n_frames"]


def test_frame_sample_zero_frame_video_emits_nothing(spark):
    """A zero-frame (or corrupt negative-count) video row must yield no
    sampled frames — not a runtime crash. sequence(0, n_frames-1, step)
    with an explicit positive step throws 'Illegal sequence boundaries'
    when n_frames < 1 (empirically confirmed; same crash class as the
    short-doc shingle ADVICE bug), so the operator guards n_frames >= 1."""
    rows = [
        (1, "video/mp4", 0),
        (2, "video/mp4", -3),
        (3, "video/mp4", 7),
    ]
    decoded = spark.createDataFrame(
        rows, "media_id long, media_type string, n_frames int"
    )
    got = frame_sample(decoded).collect()
    assert {(r["media_id"], r["frame_idx"]) for r in got} == {(3, 0), (3, 5)}


def test_streaming_ingest_dedups_overlap(spark, tmp_path):
    landing = str(tmp_path / "landing")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    day1 = make_raw_rows("AAPL", 5)
    # overlapping re-fetch: same dates, later extracted_at, bumped close
    day2 = [
        (s, d, o, h, lo, str(float(c) + 1), v,
         dt.datetime(2024, 6, 3, 12, 0, 0), src)
        for (s, d, o, h, lo, c, v, ts, src) in make_raw_rows("AAPL", 7)
    ]
    from stock_market_etl_pipeline_spark.schema import RAW_QUOTE_SCHEMA

    spark.createDataFrame(day1, RAW_QUOTE_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).json(landing)
    spark.createDataFrame(day2, RAW_QUOTE_SCHEMA).coalesce(1).write.mode(
        "append"
    ).json(landing)

    q = start_quote_ingest(spark, landing, sink, ckpt)
    q.awaitTermination(120)

    out = spark.read.parquet(sink)
    # 7 distinct (symbol, date) keys survive the overlap
    assert out.select("symbol", "date").distinct().count() == 7
    assert out.groupBy("symbol", "date").count().filter("count > 1").count() == 0


def test_real_decode_ppm_and_wav(spark):
    """decode_stub=False genuinely decodes raw PPM and PCM WAV payloads
    (numpy-only formats); values verified against hand-computed truth."""
    import math
    import struct

    from pyspark.sql import types as T

    from stock_market_etl_pipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_media,
    )

    # 2x2 PPM: red, green, blue, white
    pixels = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255])
    ppm = b"P6\n2 2\n255\n" + pixels
    # mono PCM16 WAV: 8 samples of a square wave at half amplitude
    samples = [16384, 16384, -16384, -16384] * 2
    data = b"".join(struct.pack("<h", s) for s in samples)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    wav = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    rows = [
        (1, ppm, "image/x-portable-pixmap", len(ppm)),
        (2, wav, "audio/wav", len(wav)),
        (3, None, "image/png", 0),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in decode_media(media, decode_stub=False).collect()}

    img = got[1]
    assert (img["width"], img["height"], img["n_frames"]) == (2, 2, 1)
    # channel means: R=(255+255)/4/255, G same, B same = 0.5 each
    assert img["feature"][0] == pytest.approx(0.5, abs=1e-6)
    assert img["feature"][1] == pytest.approx(0.5, abs=1e-6)
    assert img["feature"][2] == pytest.approx(0.5, abs=1e-6)

    aud = got[2]
    assert aud["width"] == 1            # channels
    assert aud["height"] == 8           # kHz
    assert aud["n_frames"] == 8         # samples
    assert aud["feature"][0] == pytest.approx(0.5, abs=1e-4)   # RMS
    assert aud["feature"][2] == pytest.approx(0.5, abs=1e-4)   # peak

    assert got[3]["width"] is None      # null payload passes through


def test_real_decode_ppm_whitespace_first_raster_byte(spark):
    """A raster whose FIRST byte is whitespace (red=10 = 0x0A) must not be
    eaten as a header separator — the header parse is positional, not
    split-on-whitespace."""
    from stock_market_etl_pipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_media,
    )

    pixels = bytes([10, 20, 30])  # 1x1, first raster byte is \n
    ppm = b"P6\n1 1\n255\n" + pixels
    media = spark.createDataFrame(
        [(1, ppm, "image/x-portable-pixmap", len(ppm))], MEDIA_SCHEMA
    )
    got = decode_media(media, decode_stub=False).collect()[0]
    assert (got["width"], got["height"]) == (1, 1)
    assert got["feature"][0] == pytest.approx(10 / 255, abs=1e-6)
    assert got["feature"][1] == pytest.approx(20 / 255, abs=1e-6)
    assert got["feature"][2] == pytest.approx(30 / 255, abs=1e-6)


def test_real_decode_codec_format_raises(spark):
    from stock_market_etl_pipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_media,
    )

    jpeg_ish = [(1, b"\xff\xd8\xff\xe0fakejpeg", "image/jpeg", 12)]
    media = spark.createDataFrame(jpeg_ish, MEDIA_SCHEMA)
    with pytest.raises(Exception, match="NotImplementedError|libjpeg"):
        decode_media(media, decode_stub=False).collect()
