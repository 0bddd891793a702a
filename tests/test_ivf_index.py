"""LSH multiprobe (llm/similarity.py): Hamming-1 probing only widens the
exact-bucket candidate set, and signatures are deterministic.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _setup(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = e.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 11))
    return e, queries


def _top(scored, k):
    """Rank scored candidates per query by (cosine DESC, neighbor ASC)
    and keep the top ``k`` — the window ``q_ann_topk`` applies."""
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("neighbor").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def test_lsh_multiprobe_widens_exact_bucket(spark):
    from rulemorph_spark.llm.similarity import lsh_scored, lsh_signature

    e, queries = _setup(spark)
    narrow = {(r.query_id, r.neighbor)
              for r in _top(lsh_scored(e, queries, "vec_id", "embedding",
                                       nbits=6, multiprobe=False),
                            3).collect()}
    wide_df = _top(lsh_scored(e, queries, "vec_id", "embedding", nbits=6),
                   3)
    wide = {(r.query_id, r.neighbor) for r in wide_df.collect()}
    # Hamming-1 probing can only add candidates, so an exact-bucket
    # neighbor missing from the multiprobe result must have been
    # outranked by a better candidate — cosine ordering proves it
    assert len(wide) >= len(narrow) > 0
    by_query = {}
    for r in wide_df.collect():
        by_query.setdefault(r.query_id, []).append(r.rank)
    for ranks in by_query.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))

    # signatures are deterministic across evaluations
    sig = lsh_signature(F.col("embedding"), 6).alias("s")
    a = [r.s for r in e.select(sig).collect()]
    b = [r.s for r in e.select(sig).collect()]
    assert a == b and all(0 <= s < 64 for s in a)
