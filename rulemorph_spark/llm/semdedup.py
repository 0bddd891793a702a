"""SemDeDup — semantic deduplication over an embedding column
(Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
through semantic deduplication").

Whole-document exact/MinHash dedup (``llm.dedup``) catches textual
copies; SemDeDup catches *paraphrases* — documents whose embeddings are
nearly identical even when their tokens are not.  The recipe:

1. k-means cluster the corpus embeddings (``llm.clustering``);
2. inside each cluster, find pairs with cosine similarity above a
   threshold (1 - eps);
3. keep ONE representative per near-duplicate group, drop the rest.

Scale shape (100 TB):
- clustering is the existing Lloyd's loop — broadcast centroids, one
  narrow argmin pass per iteration, shuffle key space k·dims;
- the pairwise stage NEVER compares across clusters: the corpus
  shuffles ONCE on (cell, shard) and each Arrow batch handles a single
  bounded group.  With k sized so clusters average ≲ ``max_cluster``
  rows, per-group work is O(m·kept·d) — the paper runs the same
  per-cluster pairwise on 50k-cluster FAISS assignments;
- oversized clusters are deterministically hash-sharded down to
  ``max_cluster`` rows before the pairwise stage (each shard dedups
  independently — a bounded, documented recall loss on pathological
  mega-clusters, instead of an unbounded O(m²) straggler task);
- the greedy leader scan inside a group is the deterministic variant
  of the paper's pruning: process rows in a fixed priority order,
  keep a row iff its max cosine to the already-kept rows is below the
  threshold.  Every executor replays the same order, so reruns and
  repartitionings return byte-identical keep sets.

Keep-priority (which row of a duplicate group survives):
- ``"centroid_far"`` (paper §3: keeping LOW-centroid-similarity
  examples retains the cluster's edge cases): ascending cosine to the
  cluster centroid, id ascending as the tiebreak;
- ``"min_id"``: ascending id — the convention used by the exact-dedup
  operators, handy for replayable oracles.

Iterative k-means + per-group greedy ⇒ not single-statement-SQL
expressible; verified by unit tests instead (NumPy reference parity,
exact-duplicate collapse, repartition determinism) like
``clustering.kmeans_train``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .clustering import assign_cells_with_vec, kmeans_train


def _dedup_group(pdf: pd.DataFrame, thr: float, keep: str):
    """Greedy leader dedup of ONE (cell, shard) group, ordered by the
    keep-priority.  Returns (keep flag, max cosine to a kept row)."""
    m = len(pdf)
    x = np.array([np.asarray(v, dtype=np.float64)
                  for v in pdf["__vec__"]])
    norms = np.linalg.norm(x, axis=1)
    norms[norms == 0.0] = 1.0  # zero vectors: cosine treated as 0
    xn = x / norms[:, None]

    if keep == "centroid_far":
        c = np.asarray(pdf["__cvec__"].iloc[0], dtype=np.float64)
        cn = np.linalg.norm(c)
        csim = xn @ (c / cn) if cn > 0 else np.zeros(m)
        # round so priority survives float reassembly across engines
        order = sorted(range(m),
                       key=lambda i: (round(csim[i], 9),
                                      pdf["__id__"].iat[i]))
    else:  # "min_id"
        order = sorted(range(m), key=lambda i: pdf["__id__"].iat[i])

    kept_rows: list[int] = []
    keep_flag = np.zeros(m, dtype=bool)
    max_sim = np.zeros(m, dtype=np.float64)
    for i in order:
        if kept_rows:
            sims = xn[kept_rows] @ xn[i]
            s = float(sims.max())
        else:
            s = 0.0
        max_sim[i] = s
        if s < thr:
            keep_flag[i] = True
            kept_rows.append(i)
    return keep_flag, max_sim


def semdedup(df: DataFrame, id_col: str = "doc_id",
             vec_col: str = "vec", *, centroids: DataFrame | None = None,
             k: int = 16, iters: int = 4, eps: float = 0.05,
             keep: str = "centroid_far",
             max_cluster: int = 4096) -> DataFrame:
    """Semantic dedup: returns every input row annotated with its
    cluster, a ``keep`` flag, and ``max_sim`` (cosine to the nearest
    already-kept row at decision time; 0.0 for the first row of a
    group).  Filter ``keep`` to materialize the pruned corpus.

    ``centroids``: a trained (cell, cvec) table (e.g. from
    ``clustering.kmeans_train``) — pass it to reuse an existing
    clustering; omitted, a fresh ``k``-cluster model is trained from
    the corpus itself.

    A pair is a near-duplicate when cosine ≥ ``1 - eps`` (the paper's
    parameterization).
    """
    if keep not in ("centroid_far", "min_id"):
        raise ValueError(f"unknown keep rule: {keep!r}")
    if centroids is None:
        centroids = kmeans_train(df, id_col, vec_col, k, iters)
    thr = 1.0 - eps

    # r9 (guide §2.4): assignment is a narrow per-row argmin over the
    # one-row broadcast centroid array (a typed plan literal when the
    # trained table is driver-local — no broadcast-build job), with the
    # assigned centroid vector riding along — the former shape shuffled
    # the corpus through a min_by fold and then JOINED the assignments
    # back to the corpus by id (a second corpus-sized exchange) plus a
    # third broadcast join for the centroid vectors.  The scan is
    # spread (exact no-op at scale) because the argmin is heavy per-row
    # compute that a single-row-group file would serialize on one core
    # (guide §2.4 stragglers); results are partitioning-independent
    # (pinned by the repartition-determinism test).
    from ..functions.spread import spread_small_scan
    rows = (assign_cells_with_vec(spread_small_scan(df), centroids,
                                  id_col, vec_col, keep_cvec=True)
            .select(F.col(id_col).alias("__id__"),
                    F.col(vec_col).alias("__vec__"), "cell", "__cvec__"))

    # deterministic sub-sharding of oversized clusters: shard count
    # depends only on the cluster's size, shard membership only on the
    # row id — stable under any physical partitioning
    sizes = rows.groupBy("cell").agg(F.count("*").alias("__n__"))
    rows = rows.join(F.broadcast(sizes), "cell").withColumn(
        "shard",
        F.pmod(F.xxhash64(F.col("__id__")),
               F.greatest(F.ceil(F.col("__n__") /
                                 F.lit(max_cluster)).cast("long"),
                          F.lit(1)))).drop("__n__")

    id_field = df.schema[id_col].dataType
    out_schema = T.StructType([
        T.StructField(id_col, id_field),
        T.StructField("cell", T.IntegerType()),
        T.StructField("keep", T.BooleanType()),
        T.StructField("max_sim", T.DoubleType()),
    ])

    def run(key, pdf):
        flags, sims = _dedup_group(pdf, thr, keep)
        return pd.DataFrame({
            id_col: pdf["__id__"],
            "cell": np.full(len(pdf), key[0], dtype=np.int32),
            "keep": flags,
            "max_sim": np.round(sims, 9),
        })

    return rows.groupBy("cell", "shard").applyInPandas(run, out_schema)

