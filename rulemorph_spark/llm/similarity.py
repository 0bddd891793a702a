"""Approximate / exact nearest-neighbor candidates over embedding columns.

Each strategy returns un-ranked ``(query_id, neighbor, cosine)`` rows;
the caller ranks them (``q_ann_topk`` ranks all three under one
window).

- brute force: the correctness baseline — a crossJoin against the
  broadcast query set.  Fine for ≤10⁵ corpus × small query batches.
- IVF (inverted-file): the scale path — k-means-style coarse cells
  (deterministic seed centroids), each vector assigned to its nearest
  cell, queries probe only ``nprobe`` cells.  At 100 TB the cell
  assignment is a per-row argmax over ≤64k broadcast centroids.
- LSH (random-hyperplane): the centroid-free scale path — each
  vector gets an ``nbits``-bit sign signature under pseudo-random ±1
  hyperplanes; candidates share a bucket with the query (multi-probe:
  plus all buckets at Hamming distance 1).  No training step, a single
  narrow projection to compute signatures, and the candidate join is an
  equi-join on the bucket id — shuffle-partitioned by bucket, no cross
  product.  Hyperplane signs come from an integer LCG and per-component
  products are fixed-point micro-units, so signatures are bit-exact
  across engines (the DuckDB oracle replays them).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import cosine_similarity


def brute_force_scored(corpus: DataFrame, queries: DataFrame, id_col: str,
                       vec_col: str, query_id: str = "query_id"
                       ) -> DataFrame:
    """Exact cosine of every (corpus row, query) pair, un-ranked, so
    composite callers can rank several strategies' candidates under ONE
    shared window (r9, guide §2.4: one exchange instead of one per
    strategy).  Cosine is rounded to 6 places so rank ties break on the
    neighbor id deterministically across engines."""
    q = queries.select(F.col(id_col).alias(query_id),
                       F.col(vec_col).alias("__qv__"))
    joined = corpus.crossJoin(F.broadcast(q)) \
        .filter(F.col(id_col) != F.col(query_id))
    cos = F.round(cosine_similarity(vec_col, "__qv__"), 6)
    return joined.select(F.col(query_id), F.col(id_col).alias("neighbor"),
                         cos.alias("cosine"))


def _cents_1row(centroids: DataFrame, centroid_id: str,
                centroid_vec: str) -> DataFrame:
    """Collapse the (small, broadcastable) centroid table to ONE row
    holding the sorted struct array — the in-plan form every per-row
    argmax/probe expression consumes.  Sorting by cell id makes the
    array order deterministic under any physical partitioning."""
    return centroids.agg(
        F.array_sort(F.collect_list(F.struct(
            F.col(centroid_id).alias("cell"),
            F.col(centroid_vec).alias("cvec")))).alias("__cents__"))


def _with_cents(df: DataFrame, centroids: DataFrame,
                centroid_id: str = "cell",
                centroid_vec: str = "cvec") -> DataFrame:
    """``df`` plus the ``__cents__`` array: a typed plan literal when
    the centroid table is driver-local and small — no broadcast
    exchange, no driver broadcast-build job per consuming branch — else
    the one-row broadcast join (r9, guide §5.2; values identical, see
    ``clustering.cents_inline``)."""
    from .clustering import cents_inline
    lit = cents_inline(centroids, centroid_id, centroid_vec)
    if lit is not None:
        return df.withColumn("__cents__", lit)
    return df.crossJoin(
        F.broadcast(_cents_1row(centroids, centroid_id, centroid_vec)))


def _norm0(c: Column) -> Column:
    """+0.0 normalizes IEEE -0.0 to 0.0 so struct-wise comparisons on
    the rounded cosine tie exactly like a window sort (whose keys go
    through NormalizeFloatingNumbers) did."""
    return c + F.lit(0.0)


def _nearest_cell(vec_col: str, cell_type) -> Column:
    """argmax_{cell} cosine(vec, cvec) over the ``__cents__`` array:
    highest rounded cosine, ties to the LOWEST cell id — bit-for-bit
    the ordering of the former per-row window
    (round(cos,6) DESC, cell ASC), now a narrow expression with no
    k-way row blowup and no exchange (r9, guide §2.4).

    The per-centroid cosine is the Column form: this expression lives
    INSIDE a ``transform`` lambda, where the SQL-text twin cannot bind
    the lambda variable."""
    best = F.array_max(F.transform(
        F.col("__cents__"),
        lambda c: F.struct(
            _norm0(F.round(cosine_similarity(F.col(vec_col), c["cvec"]),
                           6)).alias("c"),
            (-c["cell"].cast("long")).alias("negcell"))))
    return (-best["negcell"]).cast(cell_type)


def _probe_cells(vec_col: str, nprobe: int) -> Column:
    """The ``nprobe`` nearest cells for a query vector, ordered by
    (rounded cosine DESC, cell ASC) — expression twin of the former
    probe window (row_number <= nprobe)."""
    ranked = F.array_sort(F.transform(
        F.col("__cents__"),
        lambda c: F.struct(
            (-_norm0(F.round(cosine_similarity(F.col(vec_col), c["cvec"]),
                             6))).alias("negc"),
            c["cell"].alias("cell"))))
    return F.transform(F.slice(ranked, 1, nprobe), lambda s: s["cell"])


_LCG_A = 1_013_904_223
_LCG_B = 2_654_435_761
_LCG_M = 4_294_967_296


def _hyperplane_sign(h: Column, idx: Column) -> Column:
    """Deterministic ±1 for hyperplane ``h``, component ``idx`` (0-based):
    the top bit of a Knuth-style integer hash.  Pure long arithmetic so
    any engine reproduces it exactly."""
    v = (h.cast("long") * F.lit(_LCG_A) + idx.cast("long") * F.lit(_LCG_B)) \
        % F.lit(_LCG_M)
    return F.when(v < F.lit(_LCG_M // 2), F.lit(1)).otherwise(F.lit(-1)) \
        .cast("long")


def lsh_signature(vec_col: Column | str, nbits: int = 6) -> Column:
    """``nbits``-bit random-hyperplane signature of a float vector.

    Bit ``h`` is the sign of the dot product with hyperplane ``h``.
    Components are quantized to integer micro-units (floor(x*1e6 + 0.5))
    before the fold, so the sum is exact integer arithmetic —
    order-independent and bit-identical across engines, unlike a float
    sum whose rounding depends on evaluation order.

    The quantized long array is hoisted once; each bit is then one
    integer pass over it (nbits passes total, O(1) allocation each).
    The earlier one-pass form allocated an nbits-wide product array
    per ELEMENT plus a zip_with accumulator — measured 22% slower in
    the interpreted HOF evaluator, bit-identical output.
    """
    from .dedup import _ref
    v = _ref(vec_col)
    if v is not None:
        return F.expr(_lsh_signature_sql(v, nbits))
    q = F.transform(vec_col,
                    lambda x: F.floor(x.cast("double") * 1e6 +
                                      F.lit(0.5)).cast("long"))
    hs = F.sequence(F.lit(0), F.lit(nbits - 1))

    def build(qq: Column) -> Column:
        def dot(h: Column) -> Column:
            prods = F.transform(
                qq, lambda x, i: x * _hyperplane_sign(h, i))
            return F.aggregate(prods, F.lit(0).cast("long"),
                               lambda a, x: a + x)

        return F.aggregate(
            hs, F.lit(0).cast("long"),
            lambda acc, h: acc + F.when(
                dot(h) >= 0,
                F.call_function("shiftleft", F.lit(1).cast("long"),
                                h.cast("int")))
            .otherwise(F.lit(0).cast("long")))

    # single-element transform let-binds the quantized array (one
    # evaluation per row, not one per bit)
    return F.element_at(F.transform(F.array(q), build), 1)


def _lsh_signature_sql(v: str, nbits: int) -> str:
    """SQL text twin of :func:`lsh_signature`."""
    q = (f"transform({v}, x -> cast(floor(cast(x as double) * 1e6 + "
         f"cast(0.5 as double)) as bigint))")
    sign = (f"CASE WHEN (cast(h as bigint) * {_LCG_A} + "
            f"cast(i as bigint) * {_LCG_B}) % {_LCG_M} < "
            f"{_LCG_M // 2} THEN cast(1 as bigint) "
            f"ELSE cast(-1 as bigint) END")
    dot = (f"aggregate(transform(qq, (x, i) -> x * {sign}), "
           f"cast(0 as bigint), (a, x) -> a + x)")
    build = (f"aggregate(sequence(0, {nbits - 1}), cast(0 as bigint), "
             f"(acc, h) -> acc + (CASE WHEN {dot} >= 0 THEN "
             f"shiftleft(cast(1 as bigint), cast(h as int)) "
             f"ELSE cast(0 as bigint) END))")
    return f"element_at(transform(array({q}), qq -> {build}), 1)"


def lsh_scored(corpus: DataFrame, queries: DataFrame, id_col: str,
               vec_col: str, nbits: int = 6,
               multiprobe: bool = True) -> DataFrame:
    """LSH candidates with exact cosine within signature buckets,
    un-ranked (see :func:`brute_force_scored`).

    The query side probes its own bucket plus (with ``multiprobe``)
    every bucket at Hamming distance 1 — ``nbits + 1`` probe rows per
    query, a tiny broadcast.  The candidate join is an equi-join on the
    bucket id: at 100 TB the corpus side shuffles (or is pre-bucketed /
    partitioned) by bucket once and each query batch touches only its
    probed buckets, never a cross product.  Output may rank fewer than
    ``k`` neighbors for a query when its probed buckets are sparse —
    the standard ANN recall trade-off (raise ``nbits`` probing or fall
    back to ``brute_force_scored`` for stragglers).
    """
    # one unbound expression reused for both sides — Column trees are
    # immutable, and building the signature once halves the py4j cost
    sig = lsh_signature(vec_col, nbits)
    keyed = corpus.select(F.col(id_col), F.col(vec_col),
                          sig.alias("__bucket__"))
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("__qv__"),
                       sig.alias("__qsig__"))
    if multiprobe:
        flips = F.array(F.lit(-1), *[F.lit(b) for b in range(nbits)])
        probe = (q.select("query_id", "__qv__", "__qsig__",
                          F.explode(flips).alias("__flip__"))
                 .select("query_id", "__qv__",
                         F.when(F.col("__flip__") < 0, F.col("__qsig__"))
                         .otherwise(F.col("__qsig__").bitwiseXOR(
                             F.call_function("shiftleft",
                                             F.lit(1).cast("long"),
                                             F.col("__flip__"))))
                         .alias("__bucket__")))
    else:
        probe = q.select("query_id", "__qv__",
                         F.col("__qsig__").alias("__bucket__"))
    cand = keyed.join(F.broadcast(probe), "__bucket__") \
        .filter(F.col(id_col) != F.col("query_id"))
    cos = F.round(cosine_similarity(vec_col, "__qv__"), 6)
    return cand.select("query_id", F.col(id_col).alias("neighbor"),
                       cos.alias("cosine"))


def ivf_scored(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
               id_col: str, vec_col: str, nprobe: int = 2) -> DataFrame:
    """IVF candidates with exact cosines, un-ranked (see
    :func:`brute_force_scored` for why this is exposed).

    r9 (guide §2.4): both the corpus cell assignment and the per-query
    probe selection are per-row expressions over the one-row broadcast
    centroid array — the former shape blew the corpus up k-fold through
    a crossJoin and shuffled it through a per-id window for the
    assignment, ran a second window for the probe, then
    SORT-MERGE-joined assigned⋈probe (the probe's size estimate was
    unknown).  Now: zero corpus exchange before the candidate join, and
    the (queries × nprobe)-row probe side is broadcast."""
    cell_type = centroids.schema["cell"].dataType
    cbase = _with_cents(corpus, centroids)
    assigned = (cbase
                .select(id_col, vec_col,
                        _nearest_cell(vec_col, cell_type).alias("cell")))
    qbase = _with_cents(
        queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("__qv__")),
        centroids)
    probe = qbase.select("query_id", "__qv__",
                         F.explode(_probe_cells("__qv__", nprobe))
                         .alias("cell"))
    cand = assigned.join(F.broadcast(probe), "cell") \
        .filter(F.col(id_col) != F.col("query_id"))
    cos = F.round(cosine_similarity(vec_col, "__qv__"), 6)
    return cand.select("query_id", F.col(id_col).alias("neighbor"),
                       cos.alias("cosine"))
