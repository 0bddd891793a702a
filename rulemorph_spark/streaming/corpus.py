"""Continuous corpus ingestion: Structured Streaming ``foreachBatch``
around the incremental-dedup + cleaning operators.

The production shape for "documents keep arriving, the training corpus
must only ever admit first occurrences":

    stream → (optional declarative cleaning spec) → exact dedup within
    the micro-batch → anti-join against the persistent fingerprint
    store → survivors land in ``out_path/batch_id=N`` → their
    fingerprints append to the store.

Exactly-once discipline (the standard idempotent-foreachBatch recipe):
- survivors write to a **per-epoch directory** with overwrite — a
  recovered/re-run epoch rewrites the same directory instead of
  duplicating rows;
- fingerprints append only AFTER the survivors are durable
  (durability ordering); a crash between the two writes re-runs the
  epoch: the fresh set recomputes identically (fps not yet
  committed), the overwrite is idempotent;
- a re-run after BOTH writes committed computes an empty fresh set and
  leaves the durable directory untouched.

Scale shape: the store holds only fingerprints (a tiny fraction of
corpus bytes); the anti-join broadcasts when a day's fingerprints fit,
else shuffles on the fingerprint key — identical cost to
``dedup_exact``.  State is in parquet, not executor memory, so the
stream's own state stays O(1) regardless of corpus history (unlike
``dropDuplicates`` with unbounded state or watermark-limited
``dedup_stream``, which forgets keys older than the delay).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ingest_batch(batch: DataFrame, batch_id: int, *, store_path: str,
                 out_path: str, key: Column, id_col: str = "doc_id",
                 spec: str | dict[str, Any] | None = None) -> int:
    """One micro-batch of the ingestion pipeline (also usable directly
    for batch backfills).  Returns the number of admitted rows."""
    from pyspark.errors import AnalysisException

    from ..llm.dedup import dedup_exact

    if spec is not None:
        from ..llm.pipeline import run_pipeline
        batch = run_pipeline(batch, spec)
    spark = batch.sparkSession
    keyed = batch.withColumn("__k__", key)
    within = dedup_exact(keyed, F.col("__k__"), id_col)
    try:
        seen = spark.read.parquet(store_path)
        fresh = within.join(seen, within["__k__"] == seen["fp"],
                            "left_anti")
    except AnalysisException as e:
        if "PATH_NOT_FOUND" not in str(e):
            raise
        fresh = within
    fresh = fresh.localCheckpoint(eager=True)
    n = fresh.count()
    if not n:
        return 0
    epoch_dir = f"{out_path}/batch_id={batch_id}"
    fresh.drop("__k__").write.mode("overwrite").parquet(epoch_dir)
    admitted = spark.read.parquet(epoch_dir)
    (admitted.withColumn("__k__", key)
     .select(F.col("__k__").alias("fp"))
     .distinct().write.mode("append").parquet(store_path))
    return n


def ingest_corpus_stream(stream_df: DataFrame, *, store_path: str,
                         out_path: str, checkpoint_path: str,
                         key: Column | None = None,
                         id_col: str = "doc_id",
                         spec: str | dict[str, Any] | None = None,
                         available_now: bool = True):
    """Start the ingestion stream.  ``key`` defaults to the corpus
    fingerprint (first-8-words md5, the same key ``dedup_exact``'s
    oracle uses).  ``available_now=True`` drains everything currently
    available then stops — the batch-backfill / cron shape; pass False
    for an always-on micro-batch stream."""
    if key is None:
        from ..llm.text import fingerprint
        key = fingerprint(F.col("text"))

    def _each(batch: DataFrame, batch_id: int) -> None:
        ingest_batch(batch, batch_id, store_path=store_path,
                     out_path=out_path, key=key, id_col=id_col,
                     spec=spec)

    writer = (stream_df.writeStream
              .foreachBatch(_each)
              .option("checkpointLocation", checkpoint_path))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _epoch_note(batch_id: int) -> str:
    return f"epoch={batch_id}"


def _rewrite_epoch_fps(spark, corpus, versions, epoch_version: dict,
                       fp_store_path: str, key: Column,
                       batch_id: int) -> None:
    """Recover step: the epoch's data commit exists but its fingerprint
    write may not (crash between).  The epoch's data dir is the diff
    against the previous version; recompute its fps and overwrite the
    deterministic per-epoch fp directory (idempotent)."""
    idx = [m["version"] for m in versions].index(
        epoch_version["version"])
    prev_dirs = set(versions[idx - 1]["dirs"]) if idx else set()
    added = sorted(set(epoch_version["dirs"]) - prev_dirs)
    if not added:
        return
    (spark.read.parquet(*added).withColumn("__k__", key)
     .select(F.col("__k__").alias("fp")).distinct()
     .write.mode("overwrite")
     .parquet(f"{fp_store_path}/epoch={batch_id}"))


def ingest_batch_versioned(batch: DataFrame, batch_id: int, *,
                           corpus, fp_store_path: str, key: Column,
                           id_col: str = "doc_id",
                           spec: str | dict[str, Any] | None = None
                           ) -> int:
    """:func:`ingest_batch` with the admitted corpus living in a
    ``sources.versioned.CorpusStore`` — every epoch becomes one
    atomic, time-travelable version (note ``epoch=N``), giving the
    exactly-once guarantee transactionally instead of by directory
    convention:

    1. if a version tagged ``epoch=N`` exists, the epoch already
       committed — re-derive its fingerprints from the store's own
       diff (idempotent overwrite) and admit nothing;
    2. else clean → dedup within batch → anti-join the fp store →
       ``corpus.append(fresh, note="epoch=N")`` (atomic rename
       commit) → overwrite the per-epoch fp directory.

    A crash before the manifest rename leaves an orphan data dir no
    reader sees (vacuumable); a crash after it re-runs step 1, which
    completes the fp write from the committed data itself.  Returns
    the number of rows admitted this call.
    """
    from pyspark.errors import AnalysisException

    from ..llm.dedup import dedup_exact

    spark = batch.sparkSession
    versions = corpus.versions()
    note = _epoch_note(batch_id)
    done = [m for m in versions if m["note"] == note]
    if done:
        _rewrite_epoch_fps(spark, corpus, versions, done[0],
                           fp_store_path, key, batch_id)
        return 0
    if spec is not None:
        from ..llm.pipeline import run_pipeline
        batch = run_pipeline(batch, spec)
    keyed = batch.withColumn("__k__", key)
    within = dedup_exact(keyed, F.col("__k__"), id_col)
    try:
        seen = spark.read.parquet(fp_store_path)
        fresh = within.join(seen, within["__k__"] == seen["fp"],
                            "left_anti")
    except AnalysisException as e:
        if "PATH_NOT_FOUND" not in str(e):
            raise
        fresh = within
    fresh = fresh.localCheckpoint(eager=True)
    n = fresh.count()
    if not n:
        return 0
    corpus.append(fresh.drop("__k__"), note=note)
    (fresh.select(F.col("__k__").alias("fp")).distinct()
     .write.mode("overwrite")
     .parquet(f"{fp_store_path}/epoch={batch_id}"))
    return n


def ingest_corpus_stream_versioned(stream_df: DataFrame, *,
                                   corpus_root: str, fp_store_path: str,
                                   checkpoint_path: str,
                                   key: Column | None = None,
                                   id_col: str = "doc_id",
                                   spec: str | dict[str, Any] | None
                                   = None,
                                   available_now: bool = True):
    """Streaming form of :func:`ingest_batch_versioned`."""
    if key is None:
        from ..llm.text import fingerprint
        key = fingerprint(F.col("text"))

    def _each(batch: DataFrame, batch_id: int) -> None:
        from ..sources.versioned import CorpusStore
        corpus = CorpusStore(batch.sparkSession, corpus_root)
        ingest_batch_versioned(batch, batch_id, corpus=corpus,
                               fp_store_path=fp_store_path, key=key,
                               id_col=id_col, spec=spec)

    writer = (stream_df.writeStream
              .foreachBatch(_each)
              .option("checkpointLocation", checkpoint_path))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
