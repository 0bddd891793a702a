"""Scale-shaped joins over typed DataFrames.

As-of (``asof_join``), interval (``range_join_binned``) and
skew-salted (``salted_join``) joins, plus the Bloom-accelerated exact
semi/anti router (``bloom_route``) and its two-output reference form
(``bloom_split``).  Each avoids the shape a naive join degenerates to at
100 TB: a per-key cross product, a hot shuffle partition, or a full
fact-side exchange for a selective key set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(left: DataFrame, right: DataFrame, left_key: str,
              right_key: str, left_time: str, right_time: str,
              payload_cols: list[str], tiebreak: str | None = None
              ) -> DataFrame:
    """Backward as-of join: for each left row, the latest right row with
    the same key and ``right_time <= left_time`` (inclusive).

    Implemented as the scalable **union-merge** shape, not a range join:
    both sides are tagged and unioned, sorted within each key partition
    by (time, side), and the payload is carried forward with
    ``last(..., ignorenulls)``.  Cost = one shuffle of each side on the
    key + one sort — no candidate-pair explosion, no inequality join, so
    it survives 100 TB with AQE handling key skew.  (A per-key range
    join would be O(|L|·|R|) within hot keys.)

    ``payload_cols`` are taken from ``right``; left rows with no earlier
    right row get nulls (left-outer semantics).  When several right rows
    share (key, time), the one with the greatest ``tiebreak`` wins —
    pass a unique column for deterministic results.  Time columns must
    be mutually comparable (same numeric/timestamp type on both sides);
    null keys/timestamps follow SQL semantics poorly here (they sort
    into their own partition) — filter them out first.
    """
    pay = F.struct(*[F.col(c) for c in payload_cols])
    pay_t = right.select(pay.alias("__p__")).schema[0].dataType
    lcols = left.columns
    lrow = F.struct(*[F.col(c) for c in lcols])
    lrow_t = left.select(lrow.alias("__l__")).schema[0].dataType
    tb = F.col(tiebreak) if tiebreak is not None else F.lit(0)
    l2 = left.select(
        F.col(left_key).alias("__k__"), F.col(left_time).alias("__t__"),
        F.lit(1).alias("__side__"), F.lit(None).cast("long").alias("__tb__"),
        lrow.alias("__l__"), F.lit(None).cast(pay_t).alias("__p__"))
    r2 = right.select(
        F.col(right_key).alias("__k__"), F.col(right_time).alias("__t__"),
        F.lit(0).alias("__side__"), tb.cast("long").alias("__tb__"),
        F.lit(None).cast(lrow_t).alias("__l__"), pay.alias("__p__"))
    w = (Window.partitionBy("__k__")
         .orderBy(F.col("__t__").asc(), F.col("__side__").asc(),
                  F.col("__tb__").asc_nulls_last())
         .rowsBetween(Window.unboundedPreceding, 0))
    filled = (l2.unionByName(r2)
              .withColumn("__pf__", F.last("__p__", ignorenulls=True).over(w)))
    return filled.filter(F.col("__side__") == 1).select(
        *[F.col("__l__")[c].alias(c) for c in lcols],
        *[F.col("__pf__")[c].alias(c) for c in payload_cols])


def range_join_binned(left: DataFrame, right: DataFrame, left_key: str,
                      right_key: str, left_time: str, right_time: str,
                      lower: int, upper: int, bin_width: int) -> DataFrame:
    """Interval join: pairs where ``left_time + lower <= right_time <
    left_time + upper`` and the keys match.

    A naive theta join degenerates to a per-key cross product.  Here
    both sides get **time-bin** columns (``floor(t / bin_width)``): the
    left row is replicated into every bin its window overlaps, the join
    is a pure equi-join on (key, bin), and the exact band predicate
    filters the candidates.  Replication factor is
    ``(upper - lower) / bin_width + 1`` — pick ``bin_width`` close to
    the window span.  At scale the equi-join shuffles both sides once on
    (key, bin); no skew beyond what the keys already have.

    Times must be integral (epoch ns/us/s).  Returns all left columns
    plus the right columns (inner-join pairs); aggregate downstream.
    """
    n_bins = (upper - lower) // bin_width + 2
    lo_bin = F.floor((F.col(left_time) + F.lit(lower)) / F.lit(bin_width))
    bins = F.sequence(lo_bin, lo_bin + F.lit(n_bins - 1))
    l2 = left.withColumn("__bin__", F.explode(bins))
    r2 = right.withColumn(
        "__bin__", F.floor(F.col(right_time) / F.lit(bin_width)))
    lt, rt = l2[left_time], r2[right_time]
    cond = ((l2[left_key] == r2[right_key]) &
            (l2["__bin__"] == r2["__bin__"]) &
            (rt >= lt + F.lit(lower)) & (rt < lt + F.lit(upper)))
    return l2.join(r2, cond).drop("__bin__")


def salted_join(left: DataFrame, right: DataFrame, left_key: str,
                right_key: str, salt: int = 16, seed: int = 42
                ) -> DataFrame:
    """Skew-resistant inner equi-join: identical result to
    ``left.join(right, left_key == right_key)``.

    A hot key concentrates all its rows in one shuffle partition.  The
    big (left) side gets a random salt in ``[0, salt)``; the small
    (right) side is replicated ``salt`` times; the join key becomes
    (key, salt), spreading each hot key over ``salt`` partitions.  The
    result set is independent of the salt values, so correctness is
    deterministic even though the salt itself is random.  (On Spark
    3.2+ AQE's ``skewJoin`` handles moderate skew automatically; explicit
    salting is for the pathological keys AQE can't split, e.g. a single
    key larger than one executor.)
    """
    l2 = left.withColumn("__salt__",
                         (F.rand(seed) * salt).cast("int"))
    r2 = right.withColumn(
        "__salt__", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
    cond = ((l2[left_key] == r2[right_key]) &
            (l2["__salt__"] == r2["__salt__"]))
    return l2.join(r2, cond).drop("__salt__")


def _bloom_filter_for(dim: DataFrame, dim_key: str,
                      expected_items: int | None,
                      fpp: float) -> tuple[bytes, int, int]:
    """Shared build step: ONE job when unsized (bloom_build_auto — the
    distinct-key collect doubles as the exact count; r9 removed the
    separate dim.count() sizing job each bloom operator paid)."""
    from .sketches import bloom_build, bloom_build_auto, bloom_params
    keys = dim.select(F.col(dim_key).alias("__k__"))
    if expected_items is None:
        return bloom_build_auto(keys, "__k__", fpp)
    num_bits, num_hashes = bloom_params(max(expected_items, 1), fpp)
    return bloom_build(keys, "__k__", num_bits, num_hashes), \
        num_bits, num_hashes


def bloom_route(fact: DataFrame, dim: DataFrame, fact_key: str,
                dim_key: str, *, expected_items: int | None = None,
                fpp: float = 0.01,
                match_col: str = "__match__") -> DataFrame:
    """ONE-pass exact semi/anti router: every fact row plus a boolean
    ``match_col`` (key present in ``dim``), sharing one Bloom build and
    ONE scan of the fact side.

    This is the broadcastable-dim form of :func:`bloom_split`: a caller
    that consumes BOTH sides in one plan (retain/quarantine splits on a
    single output surface) would otherwise evaluate the fact scan and
    the membership probe twice — Spark does not share common subplans
    across union branches.  The Bloom probe short-circuits the exact
    lookup: rows the filter rejects get a NULL join key, so the
    broadcast hash lookup is skipped for the ~non-matching majority and
    the result is still exact (mc=false ⇒ definitely absent).  For a
    dim whose distinct key set cannot broadcast, use
    :func:`bloom_split` — its anti branch passes bloom-rejected rows
    with zero shuffle, which a single left join cannot do.

    r9 (guide §2.4/§3.1): q_bloom_join moved from the two-branch union
    (semi ∪ anti — two fact scans + two probes per run) to this form —
    measured 1.01 s → 0.42 s at sf0.1, results identical.
    """
    from .sketches import bloom_might_contain
    bits, num_bits, num_hashes = _bloom_filter_for(dim, dim_key,
                                                   expected_items, fpp)
    flagged = bloom_might_contain(fact, fact_key, bits, num_bits,
                                  num_hashes, out_col="__mc__")
    keys = F.broadcast(dim.select(F.col(dim_key).alias("__dk__"))
                       .distinct())
    probe_key = F.when(F.col("__mc__"), flagged[fact_key])
    routed = flagged.join(keys, probe_key == F.col("__dk__"), "left")
    return (routed
            .withColumn(match_col,
                        F.col("__mc__") & F.col("__dk__").isNotNull())
            .drop("__mc__", "__dk__"))


def bloom_split(fact: DataFrame, dim: DataFrame, fact_key: str,
                dim_key: str, *, expected_items: int | None = None,
                fpp: float = 0.01) -> tuple[DataFrame, DataFrame]:
    """EXACT (semi, anti) pair sharing ONE Bloom filter build — for
    callers that route both matching and non-matching fact rows
    (retain/quarantine splits, contaminated/clean partitions): the
    exact ``left_semi`` and ``left_anti`` joins on the key, from one
    filter build.  Rows the filter rejects pass the anti side with no
    shuffle; only the candidate slice meets the exact joins."""
    from .sketches import bloom_might_contain
    bits, num_bits, num_hashes = _bloom_filter_for(dim, dim_key,
                                                   expected_items, fpp)
    flagged = bloom_might_contain(fact, fact_key, bits, num_bits,
                                  num_hashes, out_col="__mc__")
    candidates = flagged.filter(F.col("__mc__")).drop("__mc__")
    definite_out = flagged.filter(~F.col("__mc__")).drop("__mc__")
    keys = F.broadcast(dim.select(F.col(dim_key).alias("__dk__"))
                       .distinct())
    semi = candidates.join(keys, candidates[fact_key] == F.col("__dk__"),
                           "left_semi")
    anti = definite_out.unionByName(
        candidates.join(keys, candidates[fact_key] == F.col("__dk__"),
                        "left_anti"))
    return semi, anti
