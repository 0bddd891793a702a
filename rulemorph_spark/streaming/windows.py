"""Event-time session windows for streams (watermark + session window).

The reference engine has no event-time processing (SURVEY §2.1 "not
present": no watermarks / event-time windows); this is Spark-native
extension surface.  The same transformation works on a batch DataFrame
and a streaming DataFrame — Structured Streaming's unified model — so
correctness is tested by batch/stream equivalence.

Scale: a session agg shuffles on (session window, keys); state per
open session per key is O(1) aggregates and the watermark bounds how
many sessions stay open, so state size = keys × sessions-in-watermark-
horizon, independent of stream length.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def event_time(col: Column) -> Column:
    """event-time column → TimestampType (required by watermarks and
    F.window).  Accepts TIMESTAMP / TIMESTAMP_NTZ (cast is a no-op with
    a UTC session tz, matching the testdata's timestamp[us] parquet)."""
    return col.cast("timestamp")


def session_window_agg(df: DataFrame, ts_col: str, *, keys: list[str],
                       gap: str = "30 minutes",
                       value_col: str | None = None,
                       watermark: str | None = None) -> DataFrame:
    """Gap-based sessions via Spark's native ``session_window`` — the
    idiomatic form of the lag+running-sum sessionization.

    State shape on a stream: one open session per key, merged as events
    arrive, finalized once the watermark passes ``end``; on a batch
    DataFrame the same expression is a grouped aggregation.  ``end`` is
    last-event-time + gap; two events exactly one gap apart MERGE
    (window-overlap test is inclusive — verified on Spark 4.1.2).
    """
    aggs = [F.count("*").alias("n_events")]
    if value_col is not None:
        cents = F.floor(F.col(value_col) * 10000 + 0.5).cast("long")
        aggs.append((F.sum(cents) / F.lit(10000.0)).alias("session_value"))
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    win = F.session_window(F.col(ts_col), gap).alias("win")
    return (df.groupBy(win, *keys)
            .agg(*aggs)
            .select(*keys,
                    F.unix_micros(F.col("win.start").cast("timestamp"))
                    .alias("session_start_us"),
                    F.unix_micros(F.col("win.end").cast("timestamp"))
                    .alias("session_end_us"),
                    *[F.col(c) for c in
                      (["n_events"] +
                       (["session_value"] if value_col else []))]))
