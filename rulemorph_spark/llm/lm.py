"""Unigram language-model quality scoring.

The classic corpus-quality signal (used in the CCNet / RedPajama /
Gopher data recipes): train a small LM on the corpus (or a trusted
reference corpus), score every document by its per-token negative
log-likelihood, and filter or stratify on the score.  A unigram model
is the degenerate-but-useful case: two corpus scans, no external
artifacts, and — unlike a KenLM binary — fully expressible in
DataFrame algebra.

Scale shape (100 TB):
- ``unigram_counts`` is one explode + groupBy — a single shuffle whose
  key space is the vocabulary (millions of rows, not corpus-sized),
  with map-side partial counts.
- the trained table is vocabulary-sized → **broadcast** to score, so
  the scoring pass never shuffles the corpus; the per-doc fold is a
  map-side combine on ``doc_id`` which is co-partitioned with the scan.
- all arithmetic is add-one-smoothed log-probabilities in **integer
  micro-units** (``floor(ln(p) · 1e6)``), so partial sums are exact
  integers — order-independent across partitions and bit-identical in
  any engine (same trick as the fixed-point cosine in
  ``similarity.lsh_signature``).

Reference parity: the reference has no LM scorer; this extends its
record-pipeline surface the way a pretraining-data user needs
(rules_spec_en.md's transform pipeline feeding corpus curation).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import WORD_SPLIT_RE

MICRO = 1_000_000


def _words(text: Column) -> Column:
    """Whitespace tokens of lower(trim(text)) — the shared convention
    with the text-metrics oracles (empty doc → single empty token,
    which scores like any OOV singleton)."""
    return F.split(F.lower(F.trim(text)), WORD_SPLIT_RE)


def unigram_counts(corpus: DataFrame, text_col: str = "text") -> DataFrame:
    """Token → count over the corpus: one explode + one groupBy
    (map-side combine; the shuffle key space is the vocabulary)."""
    return (corpus
            .select(F.explode(_words(F.col(text_col))).alias("tok"))
            .groupBy("tok").agg(F.count("*").alias("c")))


def unigram_logprob_micro(counts: DataFrame) -> DataFrame:
    """Add-one-smoothed log-probability per token, in integer
    micro-units: ``floor(ln((c + 1) / (total + vocab)) * 1e6)``.

    Denominator totals ride along as a 1-row broadcast cross join so
    the result stays a lazy plan (no driver round-trip).  Output:
    (tok, lp_micro BIGINT, total BIGINT, vocab BIGINT) — total/vocab
    are carried so scorers can derive the OOV floor
    ``floor(ln(1 / (total + vocab)) * 1e6)`` without re-aggregating.
    """
    totals = counts.agg(F.sum("c").alias("total"),
                        F.count("*").alias("vocab"))
    denom = (F.col("total") + F.col("vocab")).cast("double")
    lp = F.floor(F.log((F.col("c") + F.lit(1)).cast("double") / denom)
                 * F.lit(MICRO)).cast("long")
    return (counts.crossJoin(F.broadcast(totals))
            .select("tok", lp.alias("lp_micro"), "total", "vocab"))


def lm_score(corpus: DataFrame, logprobs: DataFrame,
             text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document unigram NLL: (id, n_tokens, sum_lp_micro,
    avg_lp_micro).

    ``avg_lp_micro`` (mean per-token log-prob, micro-units, double) is
    the quality score — higher (closer to 0) = more in-distribution;
    filter e.g. ``avg_lp_micro > -12e6`` for a CCNet-style head/middle
    cut.  The model side is broadcast; the corpus side shuffles only
    the (doc_id, partial-sum) fold.  Integer partial sums make the
    result bit-exact under any partitioning.
    """
    # OOV floor from a 1-row aggregate of the model table (the per-row
    # total/vocab are NULL exactly on join misses, so they can't be
    # read off the joined row itself)
    consts = logprobs.agg(F.max("total").alias("__tot__"),
                          F.max("vocab").alias("__voc__"))
    oov = F.floor(F.log(F.lit(1.0) /
                        (F.col("__tot__") + F.col("__voc__"))
                        .cast("double"))
                  * F.lit(MICRO)).cast("long")
    toks = (corpus.select(F.col(id_col),
                          F.explode(_words(F.col(text_col))).alias("tok"))
            .crossJoin(F.broadcast(consts)))
    scored = (toks.join(F.broadcast(logprobs.select("tok", "lp_micro")),
                        "tok", "left")
              .select(F.col(id_col),
                      F.coalesce(F.col("lp_micro"), oov).alias("lp")))
    return (scored.groupBy(id_col)
            .agg(F.count("*").alias("n_tokens"),
                 F.sum("lp").alias("sum_lp_micro"))
            .select(F.col(id_col), "n_tokens", "sum_lp_micro",
                    (F.col("sum_lp_micro").cast("double") /
                     F.col("n_tokens").cast("double"))
                    .alias("avg_lp_micro")))


def lm_quality(corpus: DataFrame, text_col: str = "text",
               id_col: str = "doc_id",
               train: DataFrame | None = None) -> DataFrame:
    """Train-and-score convenience: fit the unigram table on ``train``
    (default: the corpus itself — self-perplexity, the boilerplate /
    gibberish detector) and score every document.

    The model table is consumed three times in the scoring plan (model
    join, OOV constant, totals), but every consumer sits above the SAME
    vocabulary-keyed exchange, so AQE stage reuse materializes the
    training shuffle once per execution — the scan feeding it runs one
    time (r9: the former eager ``localCheckpoint`` default paid a
    separate driver-blocking training job per call; measured 1.16 s →
    0.86 s per scored run at sf0.1).  A caller that runs the returned
    plan repeatedly can pin the model itself: at 100 TB by persisting
    the ``unigram_logprob_micro`` table to parquet and calling
    ``lm_score`` on it.
    """
    fit_on = train if train is not None else corpus
    lp = unigram_logprob_micro(unigram_counts(fit_on, text_col))
    return lm_score(corpus, lp, text_col, id_col)


def perplexity_buckets(scored: DataFrame,
                       by: str | None = None,
                       cuts: tuple[float, float] = (1 / 3, 2 / 3),
                       score_col: str = "avg_lp_micro",
                       labels: tuple[str, str, str] =
                       ("head", "middle", "tail"),
                       exact: bool = False) -> DataFrame:
    """CCNet-style perplexity stratification (Wenzek et al. 2020 §4.3):
    rank documents by LM score and cut the distribution into
    head / middle / tail, optionally PER GROUP (``by`` = language or
    source column, like CCNet's per-language cuts).

    ``scored`` is :func:`lm_score` output (or anything with
    ``score_col`` where HIGHER = better, i.e. avg log-prob; perplexity
    orientation is handled by the sign).  ``cuts=(a, b)`` puts the top
    ``a`` mass in ``labels[0]``, the next ``b - a`` in ``labels[1]``.

    Scale shape: thresholds come from ONE tiny aggregate —
    ``approx_percentile`` (KLL sketch, mergeable, no corpus sort) per
    group — broadcast back onto the corpus; the corpus itself is never
    shuffled.  ``exact=True`` flips to exact ``percentile`` for
    oracle-sized data.
    """
    lo, hi = sorted((float(cuts[0]), float(cuts[1])))
    if not 0.0 < lo < hi < 1.0:
        raise ValueError(f"cuts must satisfy 0 < a < b < 1, got {cuts}")
    # top `lo` mass is ABOVE the (1-lo) quantile of the score.
    # NOTE: percentile_approx's 3rd arg is ACCURACY, but F.percentile's
    # 3rd arg is FREQUENCY (row weight) — passing 10000 there would
    # weight every row 10000x and shift exact interpolated quantiles.
    # So exact mode takes no third argument.
    pcts = F.array(F.lit(1.0 - hi), F.lit(1.0 - lo))
    qs = (F.percentile(F.col(score_col), pcts) if exact
          else F.percentile_approx(F.col(score_col), pcts, F.lit(10000)))
    if by is None:
        th = scored.agg(qs.alias("__q__"))
        tagged = scored.crossJoin(F.broadcast(th))
    else:
        th = scored.groupBy(by).agg(qs.alias("__q__"))
        tagged = scored.join(F.broadcast(th), on=by)
    s = F.col(score_col)
    bucket = (F.when(s >= F.col("__q__")[1], labels[0])
              .when(s >= F.col("__q__")[0], labels[1])
              .otherwise(labels[2]))
    return tagged.select(*scored.columns, bucket.alias("ppl_bucket"))
