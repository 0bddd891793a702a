"""Batch/stream equivalence for event-time session windows
(streaming/windows.py): the same transformation over the events table
run (a) as a batch DataFrame and (b) as a file-source stream with an
availableNow trigger into a memory sink must agree exactly.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import functions as F

from rulemorph_spark.streaming.windows import event_time, session_window_agg

SF_DIR = "/root/testdata/sf0.001"


def test_session_window_stream_equals_batch(spark):
    src = spark.read.parquet(f"{SF_DIR}/events.parquet")
    batch = src.select(event_time(F.col("ts")).alias("ets"), "user_id",
                       "value")
    expected = sorted(map(tuple, session_window_agg(
        batch, "ets", keys=["user_id"], gap="30 minutes",
        value_col="value").collect()))
    assert len(expected) > 10

    with tempfile.TemporaryDirectory() as d:
        shutil.copy(f"{SF_DIR}/events.parquet",
                    os.path.join(d, "part-0.parquet"))
        stream = (spark.readStream.schema(src.schema).parquet(d)
                  .select(event_time(F.col("ts")).alias("ets"),
                          "user_id", "value"))
        out = session_window_agg(stream, "ets", keys=["user_id"],
                                 gap="30 minutes", value_col="value",
                                 watermark="2 minutes")
        name = f"sess_{uuid.uuid4().hex[:8]}"
        q = (out.writeStream.format("memory").queryName(name)
             .outputMode("complete").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = sorted(map(tuple, spark.table(name).collect()))
    assert got == expected
