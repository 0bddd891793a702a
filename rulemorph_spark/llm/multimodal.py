"""Multimodal column plumbing: image/audio/video as opaque binary + typed
metadata, with the feature step as an Arrow-batched ``mapInPandas``.

``extract_features`` probes every payload through :mod:`.codecs` —
pure-stdlib PNG/BMP/JPEG/GIF/WAV/AVI header parsing (zlib + struct; no
Pillow/soundfile/ffmpeg).  Unrecognized/corrupt payloads yield a
null-featured row with an ``error`` string instead of failing the
stage — at 100 TB a single bad object must not kill the job.  Arrow
batches, no shuffle, partitioning preserved.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from . import codecs

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),     # image|audio|video
    T.StructField("mime", T.StringType(), True),
    T.StructField("payload", T.BinaryType(), True),   # opaque bytes
    T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
])

REAL_FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),
    T.StructField("format", T.StringType(), True),
    T.StructField("n_bytes", T.LongType(), True),
    T.StructField("sha1", T.StringType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("channels", T.IntegerType(), True),
    T.StructField("sample_rate", T.IntegerType(), True),
    T.StructField("n_frames", T.IntegerType(), True),
    T.StructField("duration_ms", T.LongType(), True),
    T.StructField("error", T.StringType(), True),
])


def extract_features(df: DataFrame) -> DataFrame:
    """Decode/probe each media payload → :data:`REAL_FEATURE_SCHEMA` rows.

    ``mapInPandas`` keeps Arrow batches columnar end-to-end; partitioning
    is preserved (no shuffle), so a 100 TB media table processes as a
    pure map stage.  Rows carry genuinely parsed metadata (PNG/BMP/JPEG/
    GIF dimensions, WAV/AVI duration); per-payload parse errors land in
    the ``error`` column.
    """
    def real_batches(it: Iterator[pd.DataFrame]) \
            -> Iterator[pd.DataFrame]:
        names = [f.name for f in REAL_FEATURE_SCHEMA]
        for pdf in it:
            rows = []
            for media_id, kind, payload in zip(
                    pdf["media_id"], pdf["kind"], pdf["payload"]):
                payload = bytes(payload) if payload is not None else b""
                row = {
                    "media_id": media_id, "kind": kind, "format": None,
                    "n_bytes": len(payload),
                    "sha1": hashlib.sha1(payload).hexdigest(),
                    "width": None, "height": None, "channels": None,
                    "sample_rate": None, "n_frames": None,
                    "duration_ms": None, "error": None,
                }
                try:
                    p = codecs.probe(payload)
                    row.update(
                        format=p["format"], width=p["width"],
                        height=p["height"], channels=p["channels"],
                        sample_rate=p["sample_rate"],
                        n_frames=p["n_frames"],
                        duration_ms=p["duration_ms"])
                except (codecs.UnsupportedMedia,
                        codecs.CorruptMedia) as exc:
                    row["error"] = f"{type(exc).__name__}: {exc}"
                rows.append(row)
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(real_batches, REAL_FEATURE_SCHEMA)
