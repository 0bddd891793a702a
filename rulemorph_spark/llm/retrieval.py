"""BM25 full-text retrieval over the corpus (Robertson & Zaragoza
2009, the Okapi weighting) — the lexical complement to the embedding
ANN operators in :mod:`similarity`: dedup/decontamination finds
near-copies, BM25 finds *relevant* documents for a query set (eval-set
mining, targeted corpus audits, retrieval baselines).

Two-phase, like the IVF index:

* :func:`bm25_index` — ONE tokenize pass over the corpus → postings
  ``(term, doc_id, tf, dl, idf)`` with doc length and the term's IDF
  denormalized in, so query time never re-joins corpus-sized side
  tables.  Two key-space-bounded shuffles build it ((doc,term) fold,
  then the term-DF aggregate), both with map-side combine; write the
  result to parquet partitioned however you like and it serves any
  number of query batches.
* :func:`bm25_topk` — queries are a small table: tokenized in-plan,
  **broadcast** against the postings (term equi-join — at rest this
  reads only the matched terms' row groups when the postings are
  sorted/clustered by term), per-(query,doc) score fold, window top-k
  per query.  The corpus is never shuffled at query time; the only
  exchange is on the (query,doc) score key space.

IDF uses the non-negative BM25+ variant ``ln(1 + (N - df + .5)/(df +
.5))`` so stop-word-ish terms can't produce negative scores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .text import WORD_SPLIT_RE


def _terms(text_col):
    return F.filter(F.split(F.lower(F.trim(text_col)), WORD_SPLIT_RE),
                    lambda t: t != "")


def bm25_index(corpus: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> tuple[DataFrame, DataFrame]:
    """→ (postings, stats): postings ``(term, doc_id, tf, dl, idf)``,
    stats a 1-row DF ``(n_docs, avgdl)``.  Persist postings (ideally
    repartitioned/sorted by term for min-max pruning) to reuse across
    query batches."""
    toks = corpus.select(F.col(id_col).alias("doc_id"),
                         F.explode(_terms(F.col(text_col)))
                         .alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                   F.avg("dl").alias("avgdl"))
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = (df_t.crossJoin(F.broadcast(stats))
           .select("term",
                   F.log(F.lit(1.0) +
                         (F.col("n_docs") - F.col("df") + 0.5) /
                         (F.col("df") + 0.5)).alias("idf")))
    postings = (tf.join(dl, "doc_id")
                .join(idf, "term")
                .select("term", "doc_id", "tf", "dl", "idf"))
    return postings, stats


def bm25_topk(postings: DataFrame, stats: DataFrame, queries: DataFrame,
              k: int = 10, k1: float = 1.2, b: float = 0.75,
              qid_col: str = "query_id",
              query_col: str = "query") -> DataFrame:
    """Top-``k`` documents per query: ``(query_id, doc_id, score,
    rank)``.  ``queries`` is a small (broadcastable) table."""
    qterms = (queries.select(F.col(qid_col).alias("query_id"),
                             F.explode(F.array_distinct(
                                 _terms(F.col(query_col))))
                             .alias("term"))
              .crossJoin(F.broadcast(stats)))
    hits = postings.join(F.broadcast(qterms), "term")
    tfc = F.col("tf").cast("double")
    norm = F.lit(k1) * (F.lit(1.0 - b) +
                        F.lit(b) * F.col("dl") / F.col("avgdl"))
    term_score = F.col("idf") * tfc * F.lit(k1 + 1.0) / (tfc + norm)
    scored = (hits.groupBy("query_id", "doc_id")
              .agg(F.sum(term_score).alias("score")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def bm25_search(corpus: DataFrame, queries: DataFrame, k: int = 10,
                k1: float = 1.2, b: float = 0.75,
                text_col: str = "text", id_col: str = "doc_id",
                qid_col: str = "query_id",
                query_col: str = "query") -> DataFrame:
    """One-call index-and-search (ad-hoc use; for repeated batches
    build :func:`bm25_index` once).

    r9 (guide §2.3 "aggregate before you shuffle" / §3.2 semi-join
    reduction): an ad-hoc search never needs the full postings table —
    a query's score depends only on the MATCHED terms' tf, the doc
    length, the matched terms' df, and the global (n_docs, avgdl).  So:
    doc length is ``size(tokens)`` in the same scan that explodes them
    (the index path reconstructs it with a corpus-wide (doc) fold);
    tokens are pruned to the (broadcast) query vocabulary BEFORE the
    (doc, term) fold, so every exchange carries matched terms only;
    (n_docs, avgdl) is one narrow aggregate over token counts.  Values
    are identical to the index path — tf/df/dl/n_docs are integer-exact
    under any partitioning and avgdl is an exact long sum divided once
    (``test_bm25_indexed_matches_adhoc_and_prunes`` pins the 9-decimal
    equality).  Measured 2.35 s → 0.9 s at sf0.1/local[32], and at
    scale the corpus-sized (doc, term) exchange of the index build
    disappears entirely from the query path."""
    toks = corpus.select(F.col(id_col).alias("doc_id"),
                         _terms(F.col(text_col)).alias("__ts__"))
    # r9 (guide §2.2 shuffle/stream fewer rows): with the query
    # vocabulary as an in-plan literal, the prune happens INSIDE the
    # token array before the explode — the former broadcast join
    # exploded EVERY token of every document into a (doc_id, dl, term)
    # row first and discarded the ~all-of-them non-matches after.  Rows
    # and row order are identical (the array filter keeps token order,
    # exactly like the stream-order-preserving broadcast join), so all
    # downstream float sums see the same operands in the same order —
    # output byte-identical, pinned by the indexed≡adhoc test.  Query
    # batches beyond the gate (or with no collectable vocabulary) keep
    # the broadcast-join form.
    vocab = None
    qterm_expr = F.explode(F.array_distinct(
        _terms(F.col(query_col)))).alias("term")
    try:
        # r10: LIMIT the probe collect to the gate size + 1 — the
        # gate itself must not require an unbounded driver collect (a
        # pathological query batch with millions of distinct terms
        # would otherwise OD the driver before the ≤4096 check could
        # route it to the join form).
        rows = (queries.select(qterm_expr).distinct()
                .limit(4097).collect())
        if len(rows) <= 4096:
            vocab = sorted({r["term"] for r in rows
                            if r["term"] is not None})
    except Exception:
        vocab = None
    if vocab is not None and 0 < len(vocab) <= 4096:
        lit_vocab = F.array(*[F.lit(t) for t in vocab])
        matched = toks.select(
            "doc_id", F.size("__ts__").alias("dl"),
            F.explode(F.filter(
                "__ts__",
                lambda t: F.array_contains(lit_vocab, t))).alias("term"))
    else:
        qterms_d = queries.select(qterm_expr).distinct()
        matched = (toks.select("doc_id", F.size("__ts__").alias("dl"),
                               F.explode("__ts__").alias("term"))
                   .join(F.broadcast(qterms_d), "term"))
    tf = (matched.groupBy("doc_id", "term")
          .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")))
    stats = (toks.select(F.size("__ts__").alias("dl"))
             .filter(F.col("dl") > 0)
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.avg("dl").alias("avgdl")))
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = (df_t.crossJoin(F.broadcast(stats))
           .select("term",
                   F.log(F.lit(1.0) +
                         (F.col("n_docs") - F.col("df") + 0.5) /
                         (F.col("df") + 0.5)).alias("idf")))
    postings = tf.join(F.broadcast(idf), "term") \
        .select("term", "doc_id", "tf", "dl", "idf")
    return bm25_topk(postings, stats, queries, k, k1, b,
                     qid_col, query_col)


def bm25_write_index(corpus: DataFrame, path: str,
                     text_col: str = "text", id_col: str = "doc_id",
                     num_files: int = 8) -> None:
    """Materialize the BM25 index at ``path``: postings range-clustered
    and sorted by term (so each file's parquet footer covers a narrow
    term range — a query's equality filters row-group-prune to the
    matched terms' files), plus the 1-row stats table.  Build once,
    then any number of query batches run as pruned scans with no
    re-tokenization of the corpus.
    """
    postings, stats = bm25_index(corpus, text_col, id_col)
    (postings.repartitionByRange(num_files, "term")
     .sortWithinPartitions("term")
     .write.mode("overwrite").parquet(f"{path}/postings"))
    stats.write.mode("overwrite").parquet(f"{path}/stats")


def bm25_topk_indexed(spark, path: str, queries: DataFrame,
                      k: int = 10, k1: float = 1.2, b: float = 0.75,
                      qid_col: str = "query_id",
                      query_col: str = "query") -> DataFrame:
    """Search a materialized index (``bm25_write_index``).  The query
    batch's distinct terms are collected (tiny) and pushed into the
    postings scan as an IN filter, so row-group statistics skip every
    file whose term range misses the query vocabulary."""
    postings = spark.read.parquet(f"{path}/postings")
    stats = spark.read.parquet(f"{path}/stats")
    terms = [r["term"] for r in
             queries.select(F.explode(F.array_distinct(
                 _terms(F.col(query_col)))).alias("term"))
             .distinct().collect()]
    pruned = postings.filter(F.col("term").isin(terms))
    return bm25_topk(pruned, stats, queries, k, k1, b,
                     qid_col, query_col)
