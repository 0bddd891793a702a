"""r9: SQL-text fast-path builders must be row-for-row identical to the
original Column-API builders (the templates exist only to cut the
30-130 ms/call py4j construction cost — semantics must not move).

Each case evaluates BOTH constructions over real sf0.001 data in one
projection and asserts zero differing rows.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rulemorph_spark.llm.dedup import (cosine_similarity,
                                       minhash_from_shingles, shingles,
                                       simhash64)
from rulemorph_spark.llm.similarity import lsh_signature

pytestmark = pytest.mark.smoke

SF = "/root/testdata/sf0.001"


def _assert_twin(df, fast, slow):
    out = df.select(fast.alias("a"), slow.alias("b"))
    # to_json: struct/array equality independent of NaN etc. (the inner
    # alias makes both sides serialize under the same field name)
    bad = out.filter(
        F.to_json(F.struct(F.col("a").alias("v"))) !=
        F.to_json(F.struct(F.col("b").alias("v")))).count()
    assert bad == 0


def test_shingles_twin(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet")
    _assert_twin(d, shingles("text", 3), shingles(F.col("text"), 3))
    _assert_twin(d, shingles("text", 50), shingles(F.col("text"), 50))


def test_minhash_twin(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        shingles("text", 3).alias("g"))
    _assert_twin(d, minhash_from_shingles("g", 4),
                 minhash_from_shingles(F.col("g"), 4))
    _assert_twin(d, minhash_from_shingles("g", 16),
                 minhash_from_shingles(F.col("g"), 16))


def test_simhash_twin(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet")
    _assert_twin(d, simhash64("text", 16), simhash64(F.col("text"), 16))


def test_cosine_twin(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    pairs = (e.alias("a").crossJoin(e.alias("b").limit(3))
             .select(F.col("a.embedding").alias("va"),
                     F.col("b.embedding").alias("vb")))
    _assert_twin(pairs, cosine_similarity("va", "vb"),
                 cosine_similarity(F.col("va"), F.col("vb")))


def test_lsh_signature_twin(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    _assert_twin(e, lsh_signature("embedding", 6),
                 lsh_signature(F.col("embedding"), 6))
    _assert_twin(e, lsh_signature("embedding", 12),
                 lsh_signature(F.col("embedding"), 12))


def test_ref_quotes_weird_names(spark):
    df = spark.createDataFrame([("a b c d e",)], ["weird name"])
    got = df.select(shingles("weird name", 3).alias("g")).collect()
    want = df.select(shingles(F.col("weird name"), 3)
                     .alias("g")).collect()
    assert got == want
