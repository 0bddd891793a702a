"""Distributed k-means (Lloyd's algorithm) over an embedding column.

Closes the loop for the IVF ANN path: ``similarity.ivf_scored`` and
``semdedup`` consume a (cell, cvec) centroid table; round 1 used deterministic seed centroids,
this trains them from the corpus itself.  Also the generic corpus
clustering primitive (topic bucketing, stratified curation).

Scale shape (100 TB):
- each Lloyd iteration is ONE job: the k centroids ride the plan as a
  nested-array literal → per-row argmin (a narrow map over the corpus,
  no shuffle) → per-dim ``avg`` under ``groupBy(cell)`` — one exchange
  whose key space is k rows × dims columns (tiny), with map-side
  partial sums — → k·dims doubles collected to the driver.
- the corpus is never collected; the driver only holds the k centroid
  vectors between iterations (plain Python lists — r9 replaced the
  per-iteration ``localCheckpoint`` + posexplode + merge-join round,
  three extra jobs and a corpus×dims row blowup per iteration, with
  the literal/collect loop; guide §2.3/§2.4).
- deterministic: seeds are the k rows with the smallest xxhash64 of
  the id column, and every reduction is avg/min-by over exact inputs,
  so reruns converge identically on identical data.

Iterative fixpoint ⇒ no single ANSI-SQL oracle; verified instead by
unit tests (inertia monotonically non-increasing, parity with a NumPy
reference run on the collected sf0.001 slice, stable under
repartitioning).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def l2_sq(a: Column, b: Column) -> Column:
    """Squared Euclidean distance between two float arrays."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                       F.lit(0.0), lambda acc, v: acc + v)


def seed_centroids(df: DataFrame, id_col: str, vec_col: str,
                   k: int) -> DataFrame:
    """Deterministic k seeds: rows with the smallest ``xxhash64(id)``
    (a uniform pseudo-random draw that any engine replays)."""
    from pyspark.sql import Window
    seeds = (df.select(F.col(id_col).alias("__sid__"),
                       F.col(vec_col).alias("cvec"))
             .orderBy(F.xxhash64(F.col("__sid__")), F.col("__sid__"))
             .limit(k))
    # k rows only → a global window here is k-sized, not corpus-sized
    w = Window.orderBy(F.xxhash64(F.col("__sid__")), F.col("__sid__"))
    return seeds.select((F.row_number().over(w) - 1).cast("int")
                        .alias("cell"), "cvec")


def _cents_1row(centroids: DataFrame) -> DataFrame:
    """The (small, broadcastable) centroid table collapsed to ONE row
    holding the cell-sorted struct array — the in-plan form the per-row
    argmin expression consumes (r9, guide §2.4)."""
    return centroids.agg(
        F.array_sort(F.collect_list(F.struct(
            F.col("cell").alias("cell"),
            F.col("cvec").alias("cvec")))).alias("__cents__"))


# total centroid elements past which the table keeps the broadcast join
_CENTS_LIT_MAX_ELEMS = 8192


def cents_inline(centroids: DataFrame, centroid_id: str = "cell",
                 centroid_vec: str = "cvec") -> Column | None:
    """The cell-sorted centroid struct array as ONE typed plan literal
    (a single ``F.expr`` — one py4j call), or None when the caller must
    fall back to the broadcast-join form (``_cents_1row``).

    r9 (guide §5.2): every consumer of the one-row broadcast centroid
    array pays a driver-blocking broadcast-build job (~0.3 s at local
    sf0.1) per branch that reads it.  When the centroid table is
    already DRIVER-LOCAL (``kmeans_train`` combines partials on the
    driver and returns ``createDataFrame`` — a LocalRelation; declared
    queries use literal seed tables), the same values can ride the plan
    as a literal: no broadcast exchange, no build job, and the argmin
    projection stays a pure narrow map.  Values are identical — the
    literal is CAST to the centroid table's exact composite type, so a
    float32 ``cvec`` stays float32 and every distance/rounding input is
    bit-for-bit what the broadcast column held.

    Scale guard: literal only when the plan is local (``isLocal`` —
    deciding must never run a cluster job) AND the total element count
    is ≤ ``_CENTS_LIT_MAX_ELEMS`` (8192).  A 50k-cluster SemDeDup-scale
    table keeps the broadcast join — a multi-megabyte literal would
    bloat the plan (the r8 plan-budget lesson) — and non-finite / NULL
    components also fall back rather than round-tripping through SQL
    text."""
    id_type = centroids.schema[centroid_id].dataType.simpleString()
    if id_type not in ("int", "bigint", "smallint", "tinyint"):
        return None  # python sort must replay array_sort's order
    elem = centroids.schema[centroid_vec].dataType.elementType
    elem_sql = elem.simpleString()
    stashed = getattr(centroids, "_rm_cents_rows", None)
    if stashed is not None:
        rows = [{"cell": c, "cvec": v} for c, v in stashed]
    else:
        # createDataFrame yields a LogicalRDD (isLocal False); only
        # genuine LocalRelations (inline tables) may be collected here —
        # deciding must never run a cluster job.
        try:
            if not centroids.isLocal():
                return None
        except Exception:
            return None
        rows = centroids.select(F.col(centroid_id).alias("cell"),
                                F.col(centroid_vec).alias("cvec")).collect()
    if not rows:
        return None
    total = 0
    import math
    for r in rows:
        if r["cell"] is None or r["cvec"] is None:
            return None
        total += len(r["cvec"])
        if total > _CENTS_LIT_MAX_ELEMS:
            return None
        for x in r["cvec"]:
            if x is None or not math.isfinite(x):
                return None
    parts = []
    for r in sorted(rows, key=lambda r: r["cell"]):
        vals = ",".join(repr(float(x)) + "D" for x in r["cvec"])
        parts.append(f"named_struct('cell',{int(r['cell'])},"
                     f"'cvec',array({vals}))")
    sql = (f"CAST(array({','.join(parts)}) AS "
           f"array<struct<cell:{id_type},cvec:array<{elem_sql}>>>)")
    return F.expr(sql)


def _best_cell(vec: Column) -> Column:
    """argmin_{cell} ||vec - cvec||² over the ``__cents__`` array as a
    struct (d, cell, cvec): lowest rounded distance, ties to the lowest
    cell id — the exact ordering of the former min_by fold
    (struct(round(d,9), cell)), now a narrow per-row expression with no
    k-way row blowup and no exchange.  ``cvec`` rides along for free
    (never compared: cell ids are unique, so the (d, cell) prefix always
    decides)."""
    return F.array_min(F.transform(
        F.col("__cents__"),
        lambda c: F.struct(
            F.round(l2_sq(vec, c["cvec"]), 9).alias("d"),
            c["cell"].alias("cell"),
            c["cvec"].alias("cvec"))))


def assign_cells_with_vec(df: DataFrame, centroids: DataFrame,
                          id_col: str, vec_col: str,
                          keep_cvec: bool = False) -> DataFrame:
    """Nearest-centroid assignment carrying the input vector through:
    (id, vec, cell[, __cvec__]).  One narrow pass over the corpus with
    the one-row centroid array broadcast — no shuffle at all.

    r9 (guide §2.4): the former shape crossJoined the corpus k-fold and
    folded it back through a groupBy(id) min_by — an Exchange of
    corpus×k rows carrying the full vectors.  Assignment values are
    identical (same rounded distance, same tiebreak).  Input ids are
    assumed unique (the min_by fold deduplicated; this keeps one output
    row per input row).  Driver-local centroid tables ride the plan as
    a typed literal instead of the broadcast join (``cents_inline``) —
    same values, one fewer broadcast-build job per consuming branch."""
    best = _best_cell(F.col(vec_col))
    cols = [F.col(id_col), F.col(vec_col), best["cell"].alias("cell")]
    if keep_cvec:
        cols.append(best["cvec"].alias("__cvec__"))
    lit = cents_inline(centroids)
    if lit is not None:
        base = df.select(id_col, vec_col).withColumn("__cents__", lit)
    else:
        base = (df.select(id_col, vec_col)
                .crossJoin(F.broadcast(_cents_1row(centroids))))
    return base.select(*cols).filter(F.col("cell").isNotNull())


def _iter_partials(df: DataFrame, vec_col: str, cents_np) -> DataFrame:
    """One Lloyd iteration's map stage: per TASK, assign each vector to
    its nearest centroid with vectorized NumPy and emit the k partial
    (cell, count, component-sum) rows — no shuffle, no join; the
    k x tasks partial rows are combined on the driver (guide \u00a72.4/\u00a74.2:
    the update's former posexplode + (cell, dim) exchange disappears,
    and the per-row distance loop runs as one BLAS-shaped batch op
    instead of k x dims JVM expression evaluations per row).

    The JVM plan is literal-free and identical across iterations and
    runs, so whole-stage codegen compiles once ever; the centroid
    matrix rides the task closure."""
    import numpy as np
    import pandas as pd

    c = np.asarray(cents_np, dtype=np.float64)
    k, d = c.shape
    # chunk rows so the (rows x k x d) distance intermediate stays small
    rows_per_chunk = max(1, (1 << 25) // max(k * d, 1))

    def fn(batches):
        ns = np.zeros(k, dtype=np.int64)
        sums = np.zeros((k, d), dtype=np.float64)
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            vals = [v for v in pdf["__v__"]
                    if v is not None and len(v) == d]
            if not vals:
                continue
            seen = True
            v = np.array(vals, dtype=np.float64)
            for lo in range(0, len(v), rows_per_chunk):
                vc = v[lo:lo + rows_per_chunk]
                dist = ((vc[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
                a = np.round(dist, 9).argmin(axis=1)
                ns += np.bincount(a, minlength=k)
                np.add.at(sums, a, vc)
        if seen:
            yield pd.DataFrame({"cell": np.arange(k, dtype=np.int32),
                                "n": ns, "s": list(sums)})

    return (df.select(F.col(vec_col).alias("__v__"))
            .mapInPandas(fn, "cell int, n long, s array<double>"))


def kmeans_train(df: DataFrame, id_col: str, vec_col: str, k: int,
                 iters: int = 8) -> DataFrame:
    """Lloyd's algorithm: returns the trained (cell, cvec) table, the
    exact shape ``similarity.ivf_scored`` and ``semdedup`` take.

    Empty cells keep their previous centroid (standard practice — no
    resampling, preserving determinism).

    r9 iteration shape (guide §1.2 step 1, §2.4, §4.2): the k centroids
    live on the driver between iterations; each iteration is ONE
    shuffle-free job — ``mapInPandas`` assigns every vector with a
    vectorized NumPy argmin and emits k partial (count, sum) rows per
    task, which the driver combines into the new means.  The former
    iteration materialized centroids via ``localCheckpoint`` (an extra
    eager job per round), exploded the corpus ×dims through a
    (cell, dim)-keyed shuffle, and merge-joined against the previous
    centroid table — and every round's fresh literal-bearing plan paid
    whole-stage-codegen compilation again.  Measured per-iteration wall
    0.85-1.0 s → 0.29 s at sf0.1 / local[32]; assignments can differ
    from the JVM argmin only on exact 1e-9 rounding boundaries (NumPy
    rounds half-even, Spark half-up — the parity suite's tolerance).
    Training assumes fixed-dimension vectors (rows with a different
    length or NULL vector are ignored, exactly as the former per-dim
    ``avg`` skipped their NULL components).
    """
    if k <= 0:
        raise ValueError("k must be positive")
    import numpy as np
    spark = df.sparkSession
    elem0 = df.schema[vec_col].dataType.elementType.simpleString()
    # NULL vectors can never seed a centroid (the former DataFrame
    # fold just let them fall out of the argmin; the driver-side
    # list() would crash instead) — filter them from the seed draw
    seed_rows = (df.filter(F.col(vec_col).isNotNull())
                 .select(F.col(id_col).alias("__sid__"),
                         F.col(vec_col).alias("cvec"))
                 .orderBy(F.xxhash64(F.col("__sid__")), F.col("__sid__"))
                 .limit(k).collect())
    cents: list[list[float]] = [list(r["cvec"]) for r in seed_rows]
    if len({len(c) for c in cents}) > 1:
        raise ValueError(
            "kmeans_train requires fixed-dimension vectors; the seed "
            f"draw found lengths {sorted({len(c) for c in cents})} in "
            f"column {vec_col!r}")
    out_elem = elem0 if iters <= 0 else "double"
    if not cents:
        return spark.createDataFrame(
            [], f"cell int, cvec array<{out_elem}>")
    for _ in range(max(iters, 0)):
        parts = _iter_partials(df, vec_col, cents).collect()
        kk, dd = len(cents), max(len(c) for c in cents)
        ns = np.zeros(kk, dtype=np.int64)
        sums = np.zeros((kk, dd), dtype=np.float64)
        for r in parts:
            ns[r["cell"]] += r["n"]
            sums[r["cell"]] += np.asarray(r["s"], dtype=np.float64)
        cents = [list(sums[c] / ns[c]) if ns[c] > 0
                 else [float(x) for x in cents[c]]
                 for c in range(kk)]
    out = spark.createDataFrame(
        [(c, [float(x) for x in vec]) for c, vec in enumerate(cents)],
        f"cell int, cvec array<{out_elem}>")
    # the values already live on the driver: stash them so consumers
    # (cents_inline) can inline the table as a typed plan literal
    # without a collect — createDataFrame's plan is a LogicalRDD, which
    # isLocal() cannot vouch for
    out._rm_cents_rows = [(c, [float(x) for x in vec])
                          for c, vec in enumerate(cents)]
    return out


def kmeans_inertia(df: DataFrame, centroids: DataFrame, id_col: str,
                   vec_col: str) -> float:
    """Sum of squared distances to the nearest centroid (the Lloyd
    objective — must be non-increasing over iterations).  r9: per-row
    min over the one-row centroid array + one scalar agg — no
    corpus×k shuffle."""
    cents = _cents_1row(centroids)
    d = F.array_min(F.transform(
        F.col("__cents__"), lambda c: l2_sq(F.col(vec_col), c["cvec"])))
    per_row = (df.select(vec_col).crossJoin(F.broadcast(cents))
               .select(d.alias("__d__")))
    return per_row.agg(F.sum("__d__")).collect()[0][0]
