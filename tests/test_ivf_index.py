"""IVF materialized index (llm/similarity.py): partition-pruned probes
must return exactly what the in-memory ivf_topk computes, and the probe
scan must actually prune partitions (PartitionFilters in the plan).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from rulemorph_spark.llm.similarity import (ivf_topk, ivf_topk_indexed,
                                            ivf_write_index)

SF = "/root/testdata/sf0.001"


def _setup(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    centroids = (e.filter(F.col("vec_id") < 8)
                 .select(F.col("vec_id").alias("cell"),
                         F.col("embedding").alias("cvec")))
    queries = e.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 11))
    return e, centroids, queries


def test_indexed_matches_inmemory(spark, tmp_path):
    e, centroids, queries = _setup(spark)
    path = str(tmp_path / "ivf")
    ivf_write_index(e, centroids, path, "vec_id", "embedding")

    expected = sorted(
        map(tuple, ivf_topk(e, queries, centroids, "vec_id", "embedding",
                            k=3, nprobe=2).collect()))
    got = sorted(
        map(tuple, ivf_topk_indexed(spark, path, queries, centroids,
                                    "vec_id", "embedding",
                                    k=3, nprobe=2).collect()))
    assert got == expected and len(got) > 0


def test_indexed_scan_is_partition_pruned(spark, tmp_path):
    e, centroids, queries = _setup(spark)
    path = str(tmp_path / "ivf")
    ivf_write_index(e, centroids, path, "vec_id", "embedding")
    out = ivf_topk_indexed(spark, path, queries, centroids,
                           "vec_id", "embedding", k=3, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the index scan must carry a partition filter on cell — i.e. only
    # the probed cells' directories are listed/read
    assert "PartitionFilters: [cell" in plan.replace("#", " #") or \
        "PartitionFilters: [isnotnull(cell" in plan or \
        ("PartitionFilters" in plan and "cell" in
         plan.split("PartitionFilters", 1)[1][:200]), plan[:4000]


def test_lsh_multiprobe_widens_exact_bucket(spark):
    from rulemorph_spark.llm.similarity import lsh_signature, lsh_topk

    e, _, queries = _setup(spark)
    narrow = {(r.query_id, r.neighbor)
              for r in lsh_topk(e, queries, "vec_id", "embedding", k=3,
                                nbits=6, multiprobe=False).collect()}
    wide_df = lsh_topk(e, queries, "vec_id", "embedding", k=3, nbits=6)
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

