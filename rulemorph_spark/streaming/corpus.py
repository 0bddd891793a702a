"""Continuous corpus ingestion: Structured Streaming ``foreachBatch``
around exact dedup, the declarative cleaning spec and a versioned
corpus store.

The production shape for "documents keep arriving, the training corpus
must only ever admit first occurrences":

    stream → (optional declarative cleaning spec) → exact dedup within
    the micro-batch → anti-join against the persistent fingerprint
    store → survivors commit as one ``CorpusStore`` version tagged
    ``epoch=N`` → their fingerprints land in the per-epoch fingerprint
    directory.

Exactly-once comes from the version tag: a re-run epoch finds its tag,
re-derives its fingerprints from the store's own diff and admits
nothing (see :func:`ingest_batch_versioned`).

Scale shape: the store holds only fingerprints (a tiny fraction of
corpus bytes); the anti-join broadcasts when a day's fingerprints fit,
else shuffles on the fingerprint key — identical cost to
``dedup_exact``.  State is in parquet, not executor memory, so the
stream's own state stays O(1) regardless of corpus history (unlike
``dropDuplicates`` with unbounded state).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


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
    """One micro-batch of the ingestion pipeline (also usable directly
    for batch backfills), with the admitted corpus living in a
    ``sources.versioned.CorpusStore`` — every epoch becomes one
    atomic, time-travelable version (note ``epoch=N``), giving the
    exactly-once guarantee transactionally:

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
