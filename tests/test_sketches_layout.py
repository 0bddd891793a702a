"""Bloom prefilter sketches: sizing, no-false-negative and
false-positive-rate guarantees, and the serialized-filter contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rulemorph_spark.functions.sketches import (bloom_build,
                                                bloom_might_contain,
                                                bloom_params)


def _keys(spark, n, mod, prefix="u"):
    return (spark.range(n)
            .withColumn("k", F.concat(F.lit(prefix),
                                      (F.col("id") % mod).cast("string"))))


# --------------------------------------------------------------- Bloom


def test_bloom_params_sane():
    num_bits, k = bloom_params(10_000, 0.01)
    assert 90_000 < num_bits < 110_000  # ~9.6 bits/key at 1% fpp
    assert 5 <= k <= 9
    with pytest.raises(ValueError):
        bloom_params(0)
    with pytest.raises(ValueError):
        bloom_params(10, 1.5)


def test_bloom_no_false_negatives_and_low_fpp(spark):
    members = _keys(spark, 2000, 2000, prefix="in")
    num_bits, k = bloom_params(2000, 0.01)
    bits = bloom_build(members, "k", num_bits, k)
    # r10 format: 1 scheme-tag byte + the packed bit array
    assert len(bits) == 1 + (num_bits + 7) // 8

    # every member passes (no false negatives — the hard guarantee)
    tested = bloom_might_contain(members, "k", bits, num_bits, k)
    assert tested.filter(~F.col("might_contain")).count() == 0

    # non-members pass at ~the configured false-positive rate
    outsiders = _keys(spark, 5000, 5000, prefix="out")
    fp = (bloom_might_contain(outsiders, "k", bits, num_bits, k)
          .filter(F.col("might_contain")).count())
    assert fp / 5000 < 0.03  # target 1%, generous bound


def test_bloom_prefilter_join_equivalence(spark):
    """Bloom-prefiltered semi join ≡ exact semi join after the exact
    verify — the 100 TB decontamination shape: prefilter drops ~all
    non-matching rows without a shuffle, the exact join then runs on
    the small survivor set."""
    big = _keys(spark, 10000, 9000, prefix="d")
    small = _keys(spark, 300, 150, prefix="d").select("k").distinct()
    num_bits, k = bloom_params(200, 0.01)
    bits = bloom_build(small, "k", num_bits, k)

    survivors = (bloom_might_contain(big, "k", bits, num_bits, k)
                 .filter("might_contain").drop("might_contain"))
    exact_after = survivors.join(small, "k", "left_semi")
    direct = big.join(small, "k", "left_semi")
    assert (sorted(r["id"] for r in exact_after.collect())
            == sorted(r["id"] for r in direct.collect()))


def test_bloom_empty_build(spark):
    empty = spark.createDataFrame([], "k string")
    bits = bloom_build(empty, "k", 1024, 5)
    probe = bloom_might_contain(_keys(spark, 100, 100), "k", bits, 1024, 5)
    assert probe.filter("might_contain").count() == 0


def test_bloom_blob_scheme_tag_enforced(spark):
    """r10: blobs are scheme-tagged; probing an untagged (pre-r10 /
    foreign-scheme) blob raises instead of silently returning false
    negatives — on BOTH probe paths (codegen and broadcast-numpy)."""
    from rulemorph_spark.functions.sketches import _JVM_PROBE_MAX_BITS
    members = _keys(spark, 100, 100)
    num_bits, k = 4096, 5
    bits = bloom_build(members, "k", num_bits, k)
    legacy = bits[1:]  # exactly the pre-tag format (packed bits only)
    with pytest.raises(ValueError, match="scheme"):
        bloom_might_contain(members, "k", legacy, num_bits, k)
    big_bits = _JVM_PROBE_MAX_BITS * 2
    blob = bloom_build(members, "k", big_bits, k)
    with pytest.raises(ValueError, match="scheme"):
        bloom_might_contain(members, "k", blob[1:], big_bits, k)
    # tagged blobs of the wrong length are refused too
    with pytest.raises(ValueError, match="length does not match"):
        bloom_might_contain(members, "k", bits + b"x", num_bits, k)


def test_bloom_foreign_tag_names_the_scheme(spark):
    """A blob whose tag byte is not the current scheme is told to
    rebuild — never that its num_bits is wrong."""
    members = _keys(spark, 100, 100)
    bits = bloom_build(members, "k", 4096, 5)
    for blob in (bytes([0]) + bits[1:], b""):
        with pytest.raises(ValueError,
                           match="untagged or carries a foreign scheme"):
            bloom_might_contain(members, "k", blob, 4096, 5)


def test_bloom_num_bits_mismatch_names_the_length(spark):
    """A correctly tagged blob probed with another num_bits is a
    signature error, not an older-scheme filter."""
    members = _keys(spark, 100, 100)
    bits = bloom_build(members, "k", 4096, 5)
    with pytest.raises(ValueError, match="num_bits=2048") as err:
        bloom_might_contain(members, "k", bits, 2048, 5)
    assert "length does not match" in str(err.value)
    assert "rebuilt" not in str(err.value)


def test_bloom_build_num_bits_past_java_int(spark, monkeypatch):
    """Spark's ``limit`` takes a Java int: a ``num_bits`` of 2**31 or
    more must still build from the full key set (the bit packing is
    stubbed so nothing of that size is allocated)."""
    from rulemorph_spark.functions import sketches
    seen = {}

    def stub(h1, h2, num_bits, num_hashes):
        seen.update(keys=h1.size, num_bits=num_bits)
        return b"stub"

    monkeypatch.setattr(sketches, "_pack_bits", stub)
    keys = spark.createDataFrame([("a",), ("b",), ("c",)], "k string")
    assert bloom_build(keys, "k", 2**31 + 8, 3) == b"stub"
    assert seen == {"keys": 3, "num_bits": 2**31 + 8}


def test_bloom_build_saturated_key_set_is_bounded_and_identical(spark):
    """r10: an explicit SMALL num_bits over a key set larger than the
    bit space must not collect the whole key set to the driver — the
    build falls back to collecting distinct positions (≤ num_bits
    rows).  The produced filter is bit-identical to the pair-collect
    build."""
    from rulemorph_spark.functions.sketches import (_hash_pairs,
                                                    _pack_bits)
    num_bits, k = 64, 3
    many = _keys(spark, 4000, 4000)  # 4000 distinct keys >> 64 bits
    via_fallback = bloom_build(many, "k", num_bits, k)
    h1, h2 = _hash_pairs(many, "k")
    via_pairs = _pack_bits(h1, h2, num_bits, k)
    assert via_fallback == via_pairs
    # no false negatives still holds
    probe = bloom_might_contain(many, "k", via_fallback, num_bits, k)
    assert probe.filter(~F.col("might_contain")).count() == 0
