"""Pure-stdlib codec layer: PNG/WAV encode → probe round-trips,
BMP/JPEG/GIF/AVI probes, and ``extract_features`` over real encoded
payloads.

The probes parse the formats directly (zlib/struct/numpy), and the
Spark tests run them through the Arrow-batched ``mapInPandas`` stage.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from rulemorph_spark.llm import codecs as C

# ---------------------------------------------------------------- PNG


@pytest.mark.parametrize("channels", [1, 2, 3, 4])
def test_png_round_trip(channels):
    rng = np.random.default_rng(42 + channels)
    img = rng.integers(0, 256, size=(37, 23, channels), dtype=np.uint8)
    png = C.encode_png(img)
    assert C.sniff_format(png) == "png"
    hdr = C.probe_png(png)
    assert (hdr["width"], hdr["height"]) == (23, 37)
    assert hdr["channels"] == channels


def test_png_corrupt():
    with pytest.raises(C.CorruptMedia):
        C.probe_png(C._PNG_SIG + b"\x00\x00")


# ---------------------------------------------------------------- BMP


def _make_bmp(pix: np.ndarray) -> bytes:
    bh, bw = pix.shape[:2]
    row_bytes = (bw * 3 + 3) & ~3
    rows = []
    for y in range(bh - 1, -1, -1):           # bottom-up
        bgr = pix[y][:, ::-1].tobytes()
        rows.append(bgr + b"\x00" * (row_bytes - len(bgr)))
    data = b"".join(rows)
    return (b"BM" + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
            + struct.pack("<IiiHHIIiiII", 40, bw, bh, 1, 24, 0,
                          len(data), 0, 0, 0, 0) + data)


def test_bmp_probe():
    rng = np.random.default_rng(9)
    pix = rng.integers(0, 256, size=(4, 6, 3), dtype=np.uint8)
    bmp = _make_bmp(pix)
    assert C.sniff_format(bmp) == "bmp"
    hdr = C.probe_bmp(bmp)
    assert (hdr["width"], hdr["height"]) == (6, 4)
    assert C.probe(bmp)["channels"] == 3


# ---------------------------------------------------------------- WAV


def test_wav_probe():
    rng = np.random.default_rng(5)
    samples = rng.integers(-3000, 3000, size=(4410, 2), dtype=np.int16)
    wav = C.encode_wav(samples, 44100)
    hdr = C.probe_wav(wav)
    assert hdr["channels"] == 2
    assert hdr["sample_rate"] == 44100
    assert hdr["n_frames"] == 4410
    assert hdr["duration_ms"] == 100


# ------------------------------------------------------- JPEG/GIF/AVI


def _make_jpeg(width: int, height: int) -> bytes:
    return (b"\xff\xd8"
            + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00"
            + b"\x00" * 9
            + b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
            + struct.pack(">HH", height, width) + b"\x03" + b"\x00" * 9
            + b"\xff\xd9")


def _make_avi(frames: list[bytes], width: int, height: int,
              fps: int = 25) -> bytes:
    """A minimal MJPEG AVI: RIFF ``hdrl`` (avih/strh/strf) + ``movi``."""
    usec_pf = 1_000_000 // fps

    def chunk(cid: bytes, data: bytes) -> bytes:
        pad = b"\x00" if len(data) & 1 else b""
        return cid + struct.pack("<I", len(data)) + data + pad

    def lst(kind: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", kind + data)

    avih = struct.pack("<14I", usec_pf, 0, 0, 0x10, len(frames), 0, 1,
                       0, width, height, 0, 0, 0, 0)
    strh = struct.pack("<4s4sIHHIIIIIIIIhhhh", b"vids", b"MJPG", 0, 0, 0,
                       0, 1, fps, 0, len(frames), 0, 0xFFFFFFFF, 0,
                       0, 0, width, height)
    strf = struct.pack("<IiiHH4sIiiII", 40, width, height, 1, 24, b"MJPG",
                       width * height * 3, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00dc", f) for f in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_jpeg_probe():
    assert C.probe_jpeg(_make_jpeg(640, 480)) == {
        "width": 640, "height": 480, "channels": 3}


def test_gif_probe():
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 10
    assert C.probe_gif(gif) == {"width": 320, "height": 200}


def test_avi_probe():
    frames = [_make_jpeg(64, 48), _make_jpeg(64, 48), _make_jpeg(64, 48)]
    avi = _make_avi(frames, 64, 48, fps=10)
    hdr = C.probe_avi(avi)
    assert (hdr["width"], hdr["height"]) == (64, 48)
    assert hdr["n_frames"] == 3
    assert hdr["duration_ms"] == 300


def test_unified_probe_dispatch():
    rng = np.random.default_rng(2)
    png = C.encode_png(rng.integers(0, 256, size=(5, 5, 3), dtype=np.uint8))
    wav = C.encode_wav(rng.integers(-100, 100, size=(80, 1),
                                    dtype=np.int16), 8000)
    avi = _make_avi([_make_jpeg(10, 10)], 10, 10)
    gif = b"GIF87a" + struct.pack("<HH", 1, 2) + b"\x00" * 4
    for payload, fmt in [(png, "png"), (wav, "wav"), (avi, "avi"),
                         (gif, "gif"), (_make_jpeg(3, 4), "jpeg")]:
        assert C.probe(payload)["format"] == fmt
    with pytest.raises(C.UnsupportedMedia):
        C.probe(b"not media at all")


# --------------------------------------------------- Spark operators


@pytest.fixture(scope="module")
def spark():
    from rulemorph_spark.engine import get_spark
    return get_spark("test-codecs", cpus="4")


def _real_media(spark, n: int):
    """Media rows whose payloads are real encoded files: PNG images,
    PCM WAVs and MJPEG AVIs, by media_id % 3."""
    from rulemorph_spark.llm.multimodal import MEDIA_SCHEMA
    rows = []
    for i in range(n):
        kind = ["image", "audio", "video"][i % 3]
        rng = np.random.default_rng(1000 + i)
        if kind == "image":
            img = rng.integers(0, 256, size=(16 + i % 7, 12 + i % 5, 3),
                               dtype=np.uint8)
            payload, mime = C.encode_png(img), "image/png"
        elif kind == "audio":
            samples = rng.integers(-20000, 20000,
                                   size=(800 + 100 * (i % 4), 1),
                                   dtype=np.int16)
            payload, mime = C.encode_wav(samples, 8000), "audio/wav"
        else:
            payload = _make_avi([_make_jpeg(64 + i, 48 + i)] * (2 + i % 3),
                                64 + i, 48 + i, fps=10)
            mime = "video/x-msvideo"
        rows.append((i, kind, mime, payload, {"src": f"synthetic://{i}"}))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_extract_features_real(spark):
    from rulemorph_spark.llm.multimodal import extract_features
    media = _real_media(spark, n=12)
    feats = {r["media_id"]: r for r in
             extract_features(media).collect()}
    assert len(feats) == 12
    for i, row in feats.items():
        assert row["error"] is None, row["error"]
        if row["kind"] == "image":
            assert row["format"] == "png"
            assert row["width"] == 12 + i % 5
            assert row["height"] == 16 + i % 7
        elif row["kind"] == "audio":
            assert row["format"] == "wav"
            assert row["sample_rate"] == 8000
            assert row["duration_ms"] == (800 + 100 * (i % 4)) * 1000 // 8000
        else:
            assert row["format"] == "avi"
            assert row["width"] == 64 + i
            assert row["n_frames"] == 2 + i % 3


def test_extract_features_real_corrupt_isolated(spark):
    """A corrupt payload yields an error row; good rows still decode."""
    from rulemorph_spark.llm.multimodal import (MEDIA_SCHEMA,
                                                extract_features)
    rng = np.random.default_rng(11)
    good = C.encode_png(rng.integers(0, 256, size=(4, 4, 3),
                                     dtype=np.uint8))
    bad = b"\x89PNG\r\n\x1a\n" + b"garbage"
    df = spark.createDataFrame(
        [(0, "image", "image/png", good, {}),
         (1, "image", "image/png", bad, {})], MEDIA_SCHEMA)
    rows = {r["media_id"]: r for r in
            extract_features(df).collect()}
    assert rows[0]["error"] is None and rows[0]["width"] == 4
    assert rows[1]["error"] is not None and rows[1]["width"] is None


# ------------------------------------------------- property probes

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=25, deadline=None)
@given(st.integers(1, 2000), st.integers(1, 3),
       st.sampled_from([8000, 16000, 44100]), st.integers(0, 2**32 - 1))
def test_wav_probe_property(frames, channels, rate, seed):
    rng = np.random.default_rng(seed)
    samples = rng.integers(-32768, 32768, size=(frames, channels),
                           dtype=np.int16)
    wav = C.encode_wav(samples, rate)
    hdr = C.probe_wav(wav)
    assert hdr["n_frames"] == frames and hdr["channels"] == channels
    assert hdr["sample_rate"] == rate
