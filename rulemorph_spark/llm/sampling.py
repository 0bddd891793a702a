"""Deterministic corpus sampling operators.

Training-data pipelines need *reproducible* samples (re-runs must pick
the same documents), so all sampling here is hash-ordered rather than
RNG-based: the sort key is ``md5(id)``, identical on any engine and any
partitioning.  Scale shape: stratified top-k is one window shuffle
partitioned by stratum; Bernoulli-by-hash is a narrow filter (no
shuffle at all).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _hash_key(id_col: Column) -> Column:
    return F.md5(id_col.cast("string"))


def stratified_sample(df: DataFrame, stratum_col: str, k: int,
                      id_col: str = "doc_id") -> DataFrame:
    """Deterministic k-per-stratum sample: rank rows within each
    stratum by ``md5(id)`` and keep the first ``k``.

    One shuffle on the stratum key; AQE handles skewed strata.  Adds
    ``sample_rank`` (1-based) to the surviving rows."""
    w = (Window.partitionBy(stratum_col)
         .orderBy(_hash_key(F.col(id_col)), id_col))
    return (df.withColumn("sample_rank", F.row_number().over(w))
            .filter(F.col("sample_rank") <= k))


def hash_sample(df: DataFrame, fraction: float,
                id_col: str = "doc_id", buckets: int = 10_000) -> DataFrame:
    """Deterministic Bernoulli-by-hash sample: keep a row when
    ``crc32-style bucket(md5(id)) < fraction * buckets``.

    Narrow (no shuffle), stable across runs and engines — the property
    RNG-based ``df.sample`` lacks.  Bucket granularity bounds the
    fraction error at 1/buckets."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    # first 8 hex chars of md5 → uniform 32-bit int, mod buckets;
    # round() not int(): 0.29 * 10000 float-truncates to 2899
    bucket = (F.conv(F.substring(_hash_key(F.col(id_col)), 1, 8), 16, 10)
              .cast("long") % buckets)
    return df.filter(bucket < int(round(fraction * buckets)))


def mixture_sample(df: DataFrame, stratum_col: str,
                   weights: dict[str, float], id_col: str = "doc_id",
                   buckets: int = 10_000) -> DataFrame:
    """Deterministic per-stratum rate sampling — the "data mixing" step
    of a pretraining pipeline: each stratum (source, language, quality
    bin, ...) keeps its own Bernoulli fraction, so the surviving corpus
    matches a target mixture.

    Same hash construction as ``hash_sample`` (bucketed md5 of the id),
    so it is narrow (no shuffle), reproducible across runs/engines, and
    a row's fate is independent of the partitioning.  Strata absent
    from ``weights`` are dropped (weight 0).
    """
    for s, frac in weights.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"weight for {s!r} must be in [0, 1]")
    bucket = (F.conv(F.substring(_hash_key(F.col(id_col)), 1, 8), 16, 10)
              .cast("long") % buckets)
    threshold = F.lit(0)
    for s, frac in weights.items():
        # round() not int(): 0.29 * 10000 float-truncates to 2899
        threshold = F.when(F.col(stratum_col) == s,
                           F.lit(int(round(frac * buckets)))) \
            .otherwise(threshold)
    return df.filter(bucket < threshold)
