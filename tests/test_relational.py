"""Unit tests for the scale-path relational operators
(functions/relational.py): as-of join, binned range join, salted join.

Each strategy is checked against a naive-but-obviously-correct
formulation on small in-memory data, including the edge cases the
strategies must preserve (equal timestamps, duplicate right rows,
window boundaries, unmatched left rows, hot keys).
"""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from rulemorph_spark.functions.relational import (
    asof_join, range_join_binned, salted_join)


def test_asof_backward_basic(spark):
    left = spark.createDataFrame(
        [Row(k=1, t=10, lid="a"), Row(k=1, t=25, lid="b"),
         Row(k=2, t=5, lid="c"), Row(k=3, t=50, lid="d")])
    right = spark.createDataFrame(
        [Row(k=1, t=10, rid=100, v=1.0),   # equal ts matches (inclusive)
         Row(k=1, t=20, rid=101, v=2.0),
         Row(k=2, t=6, rid=102, v=3.0),    # after left → no match
         Row(k=9, t=1, rid=103, v=4.0)])   # other key
    out = asof_join(left, right, "k", "k", "t", "t", ["rid", "v"],
                    tiebreak="rid")
    got = {r["lid"]: (r["rid"], r["v"]) for r in out.collect()}
    assert got == {"a": (100, 1.0), "b": (101, 2.0),
                   "c": (None, None), "d": (None, None)}


def test_asof_duplicate_right_times_latest_tiebreak_wins(spark):
    left = spark.createDataFrame([Row(k=1, t=10, lid="a")])
    right = spark.createDataFrame(
        [Row(k=1, t=10, rid=1), Row(k=1, t=10, rid=7),
         Row(k=1, t=9, rid=3)])
    out = asof_join(left, right, "k", "k", "t", "t", ["rid"],
                    tiebreak="rid")
    assert out.collect()[0]["rid"] == 7


def test_asof_matches_naive_window(spark):
    # randomized-ish grid vs a naive per-row max-scan
    left = spark.createDataFrame(
        [Row(k=i % 5, t=(i * 37) % 100, lid=i) for i in range(60)])
    right = spark.createDataFrame(
        [Row(k=i % 5, t=(i * 17) % 100, rid=i) for i in range(60)])
    out = asof_join(left, right, "k", "k", "t", "t", ["rid"],
                    tiebreak="rid")
    naive = left.join(right, (left.k == right.k) & (right.t <= left.t)) \
        .groupBy("lid") \
        .agg(F.max_by(
            F.struct(right.t.alias("t"), F.col("rid").alias("rid")),
            F.struct(right.t.alias("t"), F.col("rid").alias("rid")))
            .alias("m"))
    expected = {r["lid"]: r["m"]["rid"] for r in naive.collect()}
    got = {r["lid"]: r["rid"] for r in out.collect()}
    for lid, rid in got.items():
        assert expected.get(lid) == rid, (lid, rid, expected.get(lid))


def test_range_join_binned_equals_theta(spark):
    left = spark.createDataFrame(
        [Row(k=i % 3, t=i * 10, lid=i) for i in range(30)])
    right = spark.createDataFrame(
        [Row(k=i % 3, rt=i * 7, rid=i) for i in range(40)])
    lower, upper, width = -25, 15, 20
    binned = range_join_binned(left, right, "k", "k", "t", "rt",
                               lower, upper, width)
    got = sorted((r["lid"], r["rid"]) for r in binned.collect())
    naive = left.join(
        right, (left.k == right.k) &
        (right.rt >= left.t + lower) & (right.rt < left.t + upper))
    expected = sorted((r["lid"], r["rid"]) for r in naive.collect())
    assert got == expected and len(got) > 0


def test_range_join_boundaries(spark):
    # inclusive lower bound, exclusive upper bound
    left = spark.createDataFrame([Row(k=1, t=100, lid=0)])
    right = spark.createDataFrame(
        [Row(k=1, rt=90, rid=0),    # == t + lower → included
         Row(k=1, rt=109, rid=1),   # just inside
         Row(k=1, rt=110, rid=2),   # == t + upper → excluded
         Row(k=1, rt=89, rid=3)])   # below → excluded
    out = range_join_binned(left, right, "k", "k", "t", "rt",
                            -10, 10, 10)
    assert sorted(r["rid"] for r in out.collect()) == [0, 1]


def test_salted_join_equals_plain_join(spark):
    # hot key 7 has 200 rows on the left
    left = spark.createDataFrame(
        [Row(k=7 if i % 2 == 0 else i % 20, lv=i) for i in range(400)])
    right = spark.createDataFrame(
        [Row(rk=i, rv=i * 10) for i in range(20)])
    salted = salted_join(left, right, "k", "rk", salt=8)
    got = sorted((r["k"], r["lv"], r["rv"]) for r in salted.collect())
    plain = left.join(right, left.k == right.rk)
    expected = sorted((r["k"], r["lv"], r["rv"]) for r in plain.collect())
    assert got == expected and len(got) == 400


def test_connected_components_chain_and_island(spark):
    """min-label propagation converges on a 5-node chain (needs >1
    round) plus a separate 2-clique; labels = min reachable id."""
    from rulemorph_spark.llm.dedup import connected_components
    edges = spark.createDataFrame(
        [(4, 3), (3, 2), (2, 1), (1, 0),   # chain 0-1-2-3-4
         (10, 11)],                         # island
        "src long, dst long")
    got = {(r["node"], r["comp"])
           for r in connected_components(edges).collect()}
    assert got == {(0, 0), (1, 0), (2, 0), (3, 0), (4, 0),
                   (10, 10), (11, 10)}
