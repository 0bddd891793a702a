"""End-to-end versioned corpus ingestion (streaming/corpus.py): a
stream of document files → dedup against the persistent fingerprint
store → one CorpusStore version per epoch, exactly once across
replays."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def _drop_file(df, src_dir, name):
    """Materialize df as a single parquet FILE directly inside the
    stream source dir (the file source does not recurse into the
    directory a plain .write.parquet would create)."""
    with tempfile.TemporaryDirectory() as stage:
        df.coalesce(1).write.parquet(os.path.join(stage, "d"))
        part = next(f for f in os.listdir(os.path.join(stage, "d"))
                    if f.endswith(".parquet"))
        shutil.copy(os.path.join(stage, "d", part),
                    os.path.join(src_dir, name))


def test_versioned_stream_replay_after_checkpoint_loss(spark):
    """The OTHER crash ordering (VERDICT r2 next #7): the epoch fully
    committed (corpus version + fp write) but the crash hit BEFORE the
    streaming checkpoint recorded it.  On restart Structured Streaming
    replays the same batch_id with the same data — the epoch-tag dedup
    (note 'epoch=N' already present) must admit nothing: no duplicate
    rows, no duplicate version, no lost epoch."""
    from rulemorph_spark.sources.versioned import CorpusStore
    from rulemorph_spark.streaming.corpus import \
        ingest_corpus_stream_versioned

    docs = _docs(spark).filter(F.col("doc_id") < 60)
    schema = docs.schema
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        corpus_root = os.path.join(d, "corpus")
        fps = os.path.join(d, "fps")
        ckpt = os.path.join(d, "ckpt")
        _drop_file(docs, src, "b0.parquet")

        def run():
            stream = spark.readStream.schema(schema).parquet(src)
            q = ingest_corpus_stream_versioned(
                stream, corpus_root=corpus_root, fp_store_path=fps,
                checkpoint_path=ckpt)
            q.awaitTermination(120)
            assert not q.isActive

        run()
        store = CorpusStore(spark, corpus_root)
        rows1 = sorted(r["doc_id"] for r in store.read().collect())
        vs1 = [(m["version"], m["note"]) for m in store.versions()]
        assert vs1 and vs1[0][1] == "epoch=0"

        # crash-before-checkpoint: lose the checkpoint entirely → the
        # restarted stream replays batch 0 over the same file
        shutil.rmtree(ckpt)
        run()
        store = CorpusStore(spark, corpus_root)
        assert sorted(r["doc_id"]
                      for r in store.read().collect()) == rows1
        assert [(m["version"], m["note"])
                for m in store.versions()] == vs1  # no new version

        # both orderings stacked: also lose the epoch's fp dir (crash
        # between commit and fp write) before the replay — recovery
        # must rebuild fps from the store's own diff, still admit 0
        shutil.rmtree(os.path.join(fps, "epoch=0"))
        shutil.rmtree(ckpt)
        run()
        store = CorpusStore(spark, corpus_root)
        assert sorted(r["doc_id"]
                      for r in store.read().collect()) == rows1
        assert [(m["version"], m["note"])
                for m in store.versions()] == vs1
        # rebuilt fps still gate later epochs: a recrawl of the same
        # texts admits nothing
        recrawl = docs.withColumn("doc_id", F.col("doc_id") + 10_000)
        _drop_file(recrawl, src, "b1.parquet")
        run()
        store = CorpusStore(spark, corpus_root)
        assert sorted(r["doc_id"]
                      for r in store.read().collect()) == rows1
