"""Pure-stdlib media probes for the multimodal pipeline.

Header parsers — no Pillow/soundfile/ffmpeg required, only
``zlib``/``struct``/``numpy``:

- **PNG**: IHDR probe (dimensions, bit depth, channels) and encode
  (filter 0 + zlib).
- **BMP**: BITMAPINFOHEADER probe.
- **WAV**: RIFF ``fmt``/``data`` probe (channels, rate, frames,
  duration) and PCM int16 encode.
- **JPEG / GIF**: header probe (dimensions) — what the feature-extract
  stage needs.
- **AVI**: ``avih`` probe (dimensions, duration, frame count).

These run inside Arrow-batched ``mapInPandas`` workers (see
``multimodal.py``), so per-payload Python cost is amortized across
columnar batches and the stage stays a pure narrow map at cluster
scale.  The encoders let ``q_multimodal_probe`` build real payloads
whose probed fields its SQL oracle predicts.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np


class UnsupportedMedia(ValueError):
    """Payload is recognized but uses a feature this codec lacks."""


class CorruptMedia(ValueError):
    """Payload does not parse as its sniffed format."""


# --------------------------------------------------------------------------
# format sniffing
# --------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def sniff_format(payload: bytes) -> str | None:
    """Identify a payload by magic bytes.

    Returns one of ``png bmp jpeg gif wav avi`` or ``None``.
    """
    if not payload:
        return None
    if payload[:8] == _PNG_SIG:
        return "png"
    if payload[:2] == b"BM":
        return "bmp"
    if payload[:2] == b"\xff\xd8":
        return "jpeg"
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "wav"
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        return "avi"
    return None


# --------------------------------------------------------------------------
# PNG
# --------------------------------------------------------------------------

def _png_chunks(payload: bytes):
    pos = 8
    n = len(payload)
    while pos + 8 <= n:
        (length,) = struct.unpack(">I", payload[pos:pos + 4])
        ctype = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + length]
        if len(data) != length:
            raise CorruptMedia("truncated PNG chunk")
        yield ctype, data
        pos += 12 + length  # len + type + data + crc
        if ctype == b"IEND":
            return
    raise CorruptMedia("PNG missing IEND")


_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def probe_png(payload: bytes) -> dict:
    for ctype, data in _png_chunks(payload):
        if ctype == b"IHDR":
            w, h, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data[:13])
            return {"width": int(w), "height": int(h), "bit_depth": depth,
                    "color_type": color, "interlaced": bool(interlace),
                    "channels": _PNG_CHANNELS.get(color)}
    raise CorruptMedia("PNG missing IHDR")


def encode_png(img: np.ndarray) -> bytes:
    """Encode ``uint8[H, W]`` or ``uint8[H, W, C]`` (C ∈ 1,2,3,4) as PNG."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, channels = img.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}.get(channels)
    if color is None:
        raise UnsupportedMedia(f"cannot encode {channels}-channel image")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    # filter byte 0 per scanline; zlib default level
    raw = b"".join(b"\x00" + img[y].tobytes() for y in range(h))
    idat = zlib.compress(raw)

    def chunk(ctype: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + \
            struct.pack(">I", crc)

    return (_PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat)
            + chunk(b"IEND", b""))


# --------------------------------------------------------------------------
# BMP
# --------------------------------------------------------------------------

def probe_bmp(payload: bytes) -> dict:
    if len(payload) < 54 or payload[:2] != b"BM":
        raise CorruptMedia("not a BMP")
    w, h = struct.unpack("<ii", payload[18:26])
    bpp, compression = struct.unpack("<HI", payload[28:34])
    return {"width": int(w), "height": abs(int(h)), "bits_per_pixel": bpp,
            "compression": compression, "bottom_up": h > 0}


# --------------------------------------------------------------------------
# JPEG / GIF probes
# --------------------------------------------------------------------------

_JPEG_SOF = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
             0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}


def probe_jpeg(payload: bytes) -> dict:
    if payload[:2] != b"\xff\xd8":
        raise CorruptMedia("not a JPEG")
    pos, n = 2, len(payload)
    while pos + 4 <= n:
        if payload[pos] != 0xFF:
            pos += 1
            continue
        marker = payload[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (seg_len,) = struct.unpack(">H", payload[pos + 2:pos + 4])
        if marker in _JPEG_SOF:
            if pos + 9 > n:
                break
            h, w = struct.unpack(">HH", payload[pos + 5:pos + 9])
            ncomp = payload[pos + 9]
            return {"width": int(w), "height": int(h), "channels": int(ncomp)}
        pos += 2 + seg_len
    raise CorruptMedia("JPEG missing SOF marker")


def probe_gif(payload: bytes) -> dict:
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise CorruptMedia("not a GIF")
    w, h = struct.unpack("<HH", payload[6:10])
    return {"width": int(w), "height": int(h)}


# --------------------------------------------------------------------------
# WAV
# --------------------------------------------------------------------------

def _riff_chunks(payload: bytes, start: int = 12):
    pos, n = start, len(payload)
    while pos + 8 <= n:
        cid = payload[pos:pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4:pos + 8])
        yield cid, pos + 8, size
        pos += 8 + size + (size & 1)  # chunks are word-aligned


def probe_wav(payload: bytes) -> dict:
    if sniff_format(payload) != "wav":
        raise CorruptMedia("not a WAV")
    fmt = None
    data_size = 0
    for cid, off, size in _riff_chunks(payload):
        if cid == b"fmt " and size >= 16:
            (audio_fmt, channels, rate, _br, block_align,
             bits) = struct.unpack("<HHIIHH", payload[off:off + 16])
            fmt = {"audio_format": audio_fmt, "channels": channels,
                   "sample_rate": rate, "block_align": block_align,
                   "bits_per_sample": bits}
        elif cid == b"data":
            data_size = size
    if fmt is None:
        raise CorruptMedia("WAV missing fmt chunk")
    frames = data_size // fmt["block_align"] if fmt["block_align"] else 0
    fmt["n_frames"] = frames
    fmt["duration_ms"] = (frames * 1000) // fmt["sample_rate"] \
        if fmt["sample_rate"] else 0
    return fmt


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """Encode int16 ``samples[frames, channels]`` as PCM WAV."""
    samples = np.ascontiguousarray(samples, dtype=np.int16)
    if samples.ndim == 1:
        samples = samples[:, None]
    channels = samples.shape[1]
    data = samples.tobytes()
    block_align = channels * 2
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate,
                      sample_rate * block_align, block_align, 16)
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


# --------------------------------------------------------------------------
# AVI
# --------------------------------------------------------------------------

def probe_avi(payload: bytes) -> dict:
    """Parse the ``avih`` main header: dimensions, frame count, duration."""
    if sniff_format(payload) != "avi":
        raise CorruptMedia("not an AVI")
    for cid, off, size in _riff_chunks(payload):
        if cid != b"LIST" or payload[off:off + 4] != b"hdrl":
            continue
        for cid2, off2, size2 in _riff_chunks(payload[:off + size],
                                              start=off + 4):
            if cid2 == b"avih" and size2 >= 40:
                vals = struct.unpack("<10I", payload[off2:off2 + 40])
                usec_pf, total_frames = vals[0], vals[4]
                w, h = vals[8], vals[9]
                return {"width": int(w), "height": int(h),
                        "n_frames": int(total_frames),
                        "usec_per_frame": int(usec_pf),
                        "duration_ms": (usec_pf * total_frames) // 1000}
    raise CorruptMedia("AVI missing avih header")


# --------------------------------------------------------------------------
# unified probe
# --------------------------------------------------------------------------

def probe(payload: bytes) -> dict:
    """Sniff + probe any supported payload.

    Returns ``{"format", "width", "height", "channels", "sample_rate",
    "n_frames", "duration_ms"}`` with ``None`` for fields the format
    lacks.  Raises :class:`UnsupportedMedia` for unrecognized bytes.
    """
    base = {"format": None, "width": None, "height": None, "channels": None,
            "sample_rate": None, "n_frames": None, "duration_ms": None}
    fmt = sniff_format(payload)
    if fmt is None:
        raise UnsupportedMedia("unrecognized media payload")
    base["format"] = fmt
    if fmt == "png":
        p = probe_png(payload)
        base.update(width=p["width"], height=p["height"],
                    channels=p["channels"])
    elif fmt == "bmp":
        p = probe_bmp(payload)
        base.update(width=p["width"], height=p["height"],
                    channels=p["bits_per_pixel"] // 8)
    elif fmt == "jpeg":
        p = probe_jpeg(payload)
        base.update(width=p["width"], height=p["height"],
                    channels=p["channels"])
    elif fmt == "gif":
        p = probe_gif(payload)
        base.update(width=p["width"], height=p["height"])
    elif fmt == "wav":
        p = probe_wav(payload)
        base.update(channels=p["channels"], sample_rate=p["sample_rate"],
                    n_frames=p["n_frames"], duration_ms=p["duration_ms"])
    elif fmt == "avi":
        p = probe_avi(payload)
        base.update(width=p["width"], height=p["height"],
                    n_frames=p["n_frames"], duration_ms=p["duration_ms"])
    return base
