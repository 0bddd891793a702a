"""Published corpus-filter presets — the canonical rule sets the major
public pretraining pipelines apply before dedup:

- ``gopher_quality_flags`` / ``gopher_filter``: the Gopher rules
  (Rae et al. 2021, "Scaling Language Models", Appendix A1.1) as they
  are reproduced in open pipelines (C4/Dolma/RedPajama re-implement
  the same thresholds).
- ``c4_clean_lines``: the C4 line-level cleanup (Raffel et al. 2020,
  §2.2) — keep lines that look like sentences, drop pages with code
  markers or placeholder text.
- ``hash_split``: deterministic train/validation/test assignment by id
  hash (the standard leakage-safe split: membership is a pure function
  of the id, stable across reruns and engines).

Everything here is per-row Column work — narrow projections, no
shuffle, whole-stage-codegen'd; at 100 TB these run at scan speed,
which is exactly why the published pipelines put them FIRST.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import WORD_SPLIT_RE, repetition_cols_from_words

# the Gopher paper checks for ≥2 of a tiny "common English word" set
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have",
                    "with")


def gopher_quality_flags(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """One boolean column per Gopher rule (True = the doc PASSES the
    rule), plus the raw signals, so pipelines can report *which* rule
    killed a document — the operational shape Dolma/RedPajama use.

    Rules (Rae et al. 2021 A1.1 thresholds):
    - 50 ≤ word count ≤ 100 000
    - 3 ≤ mean word length ≤ 10
    - symbol-to-word ratio ≤ 0.1  (hash marks + ellipses)
    - ≤ 90% of lines start with a bullet; ≤ 30% end with an ellipsis
    - ≥ 80% of words contain at least one alphabetic character
    - ≥ 2 of the 8 common English words appear
    - repetition: top 2-gram ≤ 0.20, duplicate 3-gram share ≤ 0.18
      (two representatives of the paper's n-gram family — the full
      2..4-gram table is a threshold sweep of the same two Columns)

    Two stacked narrow projections: the first materializes the token /
    lowercased-token / line arrays ONCE per row, the second computes
    every rule from the shared arrays (the naive per-signal form
    re-tokenized each document ~7×; measured 1.7× slower at sf0.1).

    r10 (guide §2.4 stragglers): the signals are pure per-row compute
    after the scan, so a TINY single-row-group input (which parquet's
    row-group→split assignment serializes onto one core) is
    round-robined across the session's cores here, inside the
    operator — every caller gets it, not just the bench.
    ``spread_small_scan`` is an exact no-op above its size threshold
    (``spread._MAX_BYTES``, 64 MiB), so production plans
    at scale are unchanged.
    """
    from ..functions.spread import spread_small_scan
    df = spread_small_scan(df)
    text = F.col(text_col)
    t = F.trim(text)
    base = df.select(
        F.col(id_col), text.alias("__t__"),
        F.split(t, WORD_SPLIT_RE).alias("__w__"),
        F.split(F.lower(t), WORD_SPLIT_RE).alias("__lw__"),
        F.split(text, F.lit("\n"), -1).alias("__lines__"))

    words, lw = F.col("__w__"), F.col("__lw__")
    nw = F.when(F.trim(F.col("__t__")) == "", F.lit(0)) \
        .otherwise(F.size(words))
    total_len = F.aggregate(words, F.lit(0).cast("long"),
                            lambda acc, w: acc + F.length(w))
    mwl = F.when(F.size(words) == 0, F.lit(0.0)).otherwise(
        total_len.cast("double") / F.size(words).cast("double"))

    symbols = F.regexp_count(F.col("__t__"), F.lit(r"#|\.\.\.|…"))
    symbol_ratio = F.when(nw == 0, F.lit(1.0)).otherwise(
        symbols.cast("double") / nw.cast("double"))

    lines = F.col("__lines__")
    n_lines = F.size(lines)
    bullet_lines = F.size(F.filter(
        lines, lambda l: F.trim(l).rlike(r"^([-*•])")))
    ellipsis_lines = F.size(F.filter(
        lines, lambda l: F.trim(l).rlike(r"(\.\.\.|…)$")))
    bullet_frac = bullet_lines.cast("double") / n_lines.cast("double")
    ellipsis_frac = ellipsis_lines.cast("double") / n_lines.cast("double")

    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    alpha_frac = F.when(nw == 0, F.lit(0.0)).otherwise(
        alpha_words.cast("double") / nw.cast("double"))

    stop_hits = F.size(F.array_intersect(
        lw, F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])))

    top2, _ = repetition_cols_from_words(lw, n=2)
    _, dup3 = repetition_cols_from_words(lw, n=3)

    return base.select(
        F.col(id_col),
        nw.alias("n_words"),
        F.round(mwl, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        stop_hits.alias("stopword_hits"),
        top2.alias("top_2gram_frac"),
        dup3.alias("dup_3gram_frac"),
        ((nw >= 50) & (nw <= 100000)).alias("ok_word_count"),
        ((mwl >= 3.0) & (mwl <= 10.0)).alias("ok_mean_word_len"),
        (symbol_ratio <= 0.1).alias("ok_symbol_ratio"),
        ((bullet_frac <= 0.9) & (ellipsis_frac <= 0.3))
        .alias("ok_line_shape"),
        (alpha_frac >= 0.8).alias("ok_alpha_words"),
        (stop_hits >= 2).alias("ok_stopwords"),
        ((top2 <= 0.20) & (dup3 <= 0.18)).alias("ok_repetition"))


_GOPHER_OK_COLS = ("ok_word_count", "ok_mean_word_len",
                   "ok_symbol_ratio", "ok_line_shape", "ok_alpha_words",
                   "ok_stopwords", "ok_repetition")


def gopher_filter(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Rows of ``df`` that pass EVERY Gopher rule (the paper applies
    the rules conjunctively).  One narrow pass: flags are computed and
    consumed in the same projection — no join back."""
    import functools
    flags = gopher_quality_flags(df, text_col, id_col)
    all_ok = functools.reduce(lambda a, c: a & F.col(c),
                              _GOPHER_OK_COLS, F.lit(True))
    passing = flags.filter(all_ok).select(id_col)
    # id-keyed semi join keeps the original row payload intact
    return df.join(passing, id_col, "left_semi")


_C4_TERMINAL = r"[.!?\"']$"
_C4_BANNED_DOC = r"(?i)lorem ipsum|\{"


def c4_clean_lines(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", min_line_words: int = 3,
                   min_lines: int = 1) -> DataFrame:
    """C4 cleanup (Raffel et al. 2020 §2.2), line-level half:

    - keep only lines that end in terminal punctuation and have at
      least ``min_line_words`` words;
    - drop the whole page if any 'lorem ipsum' or a curly brace
      appears (code/template markers), or fewer than ``min_lines``
      lines survive.

    (The other C4 half — three-sentence-span dedup across pages — is
    ``dedup.remove_dup_spans``; the bad-words list is a deployment
    choice, not reproduced here.)

    Output: (id, text, n_lines, kept_lines) for surviving pages, text
    rejoined with newlines.  Pure per-row Columns.
    """
    text = F.col(text_col)
    lines = F.split(text, F.lit("\n"), -1)
    kept = F.filter(
        lines,
        lambda l: F.trim(l).rlike(_C4_TERMINAL) &
        (F.size(F.split(F.trim(l), WORD_SPLIT_RE)) >= min_line_words))
    out = df.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias("text"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("kept_lines"),
        text.rlike(_C4_BANNED_DOC).alias("__banned__"))
    return (out.filter(~F.col("__banned__") &
                       (F.col("kept_lines") >= min_lines))
            .drop("__banned__"))


def hash_split(df: DataFrame, id_col: str = "doc_id",
               weights: dict[str, float] | None = None,
               salt: str = "split") -> DataFrame:
    """Deterministic split assignment: adds a ``split`` column whose
    value depends ONLY on (salt, id) — re-runs, engine versions, and
    partitionings all agree, and a document can never migrate between
    train and test when the corpus grows (the leakage guarantee
    random splits don't give).  Shuffle-free.

    ``weights``: {"train": 0.98, "valid": 0.01, "test": 0.01} — must
    sum to 1 (±1e-9).
    """
    weights = weights or {"train": 0.98, "valid": 0.01, "test": 0.01}
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    buckets = 1_000_000
    b = F.pmod(F.xxhash64(F.lit(salt), F.col(id_col)), F.lit(buckets))
    expr: Column | None = None
    acc = 0
    # iterate in insertion order; last split absorbs rounding remainder
    names = list(weights)
    for name in names[:-1]:
        acc += int(round(weights[name] * buckets))
        cond = b < F.lit(acc)
        expr = F.when(cond, F.lit(name)) if expr is None else \
            expr.when(cond, F.lit(name))
    expr = (F.lit(names[-1]) if expr is None
            else expr.otherwise(F.lit(names[-1])))
    return df.withColumn("split", expr)
