"""Text-analysis operators over a document corpus.

All pure JVM expressions (regex + built-ins): one narrow projection over
the corpus, no shuffle, linear scale-out.  Deterministic across engines —
each is mirrored by an ANSI-SQL oracle in ``__spark_entry__.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# a small embedded stopword list (shared with the SQL oracles)
EN_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is",
                "it", "that", "for", "on", "with", "as"]

WORD_SPLIT_RE = r"\s+"
# BPE-ish sub-token pattern: letter runs, digit runs, or single
# non-alphanumeric glyphs — a public approximation of GPT-2's splitter
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def word_count(text: Column) -> Column:
    t = F.trim(text)
    return F.when(t == "", F.lit(0)).otherwise(
        F.size(F.split(t, WORD_SPLIT_RE)))


def token_count(text: Column) -> Column:
    """BPE-ish token count via regexp_count — one pass, no UDF."""
    return F.regexp_count(text, F.lit(TOKEN_RE))


def char_count(text: Column) -> Column:
    return F.length(text)


def stopword_ratio(text: Column) -> Column:
    words = F.split(F.lower(F.trim(text)), WORD_SPLIT_RE)
    stops = F.filter(words, lambda w: w.isin(*EN_STOPWORDS))
    return F.when(F.size(words) == 0, F.lit(0.0)).otherwise(
        F.size(stops).cast("double") / F.size(words).cast("double"))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + stopword presence
    + punctuation sanity.  A cheap first-pass filter for pretraining
    corpora (C4-style heuristics, public recipe)."""
    n_chars = char_count(text)
    n_words = word_count(text)
    punct = F.regexp_count(text, F.lit(r"[^\w\s]"))
    punct_ratio = F.when(n_chars == 0, F.lit(1.0)).otherwise(
        punct.cast("double") / n_chars.cast("double"))
    length_ok = ((n_words >= 5) & (n_words <= 100000)).cast("double")
    stop_ok = (stopword_ratio(text) > 0.01).cast("double")
    punct_ok = (punct_ratio < 0.3).cast("double")
    return (length_ok + stop_ok + punct_ok) / F.lit(3.0)


def lang_id_en(text: Column) -> Column:
    """Tiny language-ID heuristic: English stopword hit-rate + ASCII
    ratio.  Returns 'en' / 'other' — the n-gram profile extension slots
    in the same shape."""
    return lang_id_en_from_words(
        F.split(F.lower(F.trim(text)), WORD_SPLIT_RE), text)


def lang_id_en_from_words(words: Column, text: Column) -> Column:
    """:func:`lang_id_en` over a pre-tokenized lowercased word array
    (share one split across several per-doc signals)."""
    stop_hits = F.size(F.filter(words, lambda w: w.isin(*EN_STOPWORDS)))
    ascii_chars = F.regexp_count(text, F.lit(r"[\x00-\x7F]"))
    ascii_ratio = F.when(F.length(text) == 0, F.lit(0.0)).otherwise(
        ascii_chars.cast("double") / F.length(text).cast("double"))
    return F.when((stop_hits >= 1) & (ascii_ratio > 0.9),
                  F.lit("en")).otherwise(F.lit("other"))


LANG_PROFILES: dict[str, list[str]] = {
    # small, discriminative function-word profiles (shared words are
    # fine — the per-language hit counts arbitrate)
    "en": ["the", "and", "of", "to", "is", "that", "was", "for",
           "with", "his", "are", "this", "have", "not"],
    "es": ["el", "los", "las", "una", "es", "por", "para", "como",
           "pero", "su", "este", "ser", "muy", "del"],
    "fr": ["le", "les", "des", "une", "est", "dans", "pour", "qui",
           "pas", "avec", "sur", "ce", "je", "vous"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein",
           "eine", "zu", "den", "von", "auf", "für"],
    "it": ["il", "gli", "che", "di", "per", "con", "una", "non",
           "sono", "questo", "anche", "della", "più", "nel"],
    "pt": ["os", "um", "uma", "não", "para", "com", "por", "mais",
           "como", "esse", "dos", "ela", "você", "são"],
}


def lang_id_multi(text: Column, min_hits: int = 2) -> Column:
    """Multi-language ID over the stopword profiles in
    :data:`LANG_PROFILES` (en/es/fr/de/it/pt): per-language hit counts
    on the word array, argmax with a deterministic (hits desc, code
    asc) tie-break, 'other' below ``min_hits``.  Pure Column
    expressions — scan speed, no UDF; extend by adding a profile row.
    """
    return lang_id_multi_from_words(
        F.split(F.lower(F.trim(text)), WORD_SPLIT_RE), min_hits)


def lang_id_multi_from_words(words: Column,
                             min_hits: int = 2) -> Column:
    """:func:`lang_id_multi` over a pre-tokenized lowercased array."""
    scored = F.array(*[
        F.struct(
            (-F.size(F.filter(words, lambda w: w.isin(*profile))))
            .alias("neg_hits"),
            F.lit(code).alias("code"))
        for code, profile in sorted(LANG_PROFILES.items())])
    best = F.element_at(F.array_sort(scored), 1)
    return F.when(-best["neg_hits"] >= min_hits,
                  best["code"]).otherwise(F.lit("other"))


def fingerprint(text: Column, prefix_words: int = 8) -> Column:
    """Document fingerprint: md5 of the normalized leading words — the
    exact-dedup key that survives whitespace/case jitter."""
    return fingerprint_from_words(
        F.split(F.lower(F.trim(text)), WORD_SPLIT_RE), prefix_words)


def fingerprint_from_words(words: Column,
                           prefix_words: int = 8) -> Column:
    """:func:`fingerprint` over a pre-tokenized lowercased word
    array."""
    head = F.slice(words, 1, prefix_words)
    return F.md5(F.array_join(head, " "))


# ---------------------------------------------------------------------
# corpus-preparation operators: chunking, PII redaction, decontamination
# ---------------------------------------------------------------------

# public PII shapes (RE2/Java-compatible — shared verbatim with the SQL
# oracles; no lookaround, no backreferences)
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{3,10}"


def chunk_spans(text: Column, chunk_tokens: int,
                overlap: int) -> Column:
    """Overlapping token-window chunks of a document: array of chunk
    strings (whitespace tokens, window ``chunk_tokens``, stride
    ``chunk_tokens - overlap``).  Pure JVM HOFs — the per-document work
    is narrow (no shuffle), so chunking a 100 TB corpus scales linearly
    with executors; downstream ``posexplode`` multiplies rows without
    materializing chunk text twice."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    step = chunk_tokens - overlap
    words = F.split(F.trim(text), WORD_SPLIT_RE)

    # let-bind the tokenization (see shingle_strings): a bare `words`
    # subtree inside the per-chunk lambda re-splits the document for
    # every chunk
    def build(w: Column) -> Column:
        # 1-based window starts: 1, 1+step, … while start <= len - overlap
        starts = F.sequence(F.lit(1),
                            F.greatest(F.size(w) - F.lit(overlap),
                                       F.lit(1)),
                            F.lit(step))
        return F.transform(
            starts, lambda s: F.array_join(F.slice(w, s, chunk_tokens),
                                           " "))

    return F.transform(F.array(words), build)[0]


def chunk_documents(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", chunk_tokens: int = 64,
                    overlap: int = 16) -> DataFrame:
    """doc table → chunk table (id, chunk_index, chunk_text, n_tokens)."""
    chunks = chunk_spans(F.col(text_col), chunk_tokens, overlap)
    out = df.select(F.col(id_col),
                    F.posexplode(chunks).alias("chunk_index",
                                               "chunk_text"))
    return out.withColumn(
        "n_tokens",
        F.size(F.split(F.col("chunk_text"), WORD_SPLIT_RE)))


def redact_pii(text: Column) -> Column:
    """Mask emails then phone numbers with typed placeholder tags.
    Single-pass JVM regex — order matters (emails contain digits)."""
    masked = F.regexp_replace(text, EMAIL_RE, "[EMAIL]")
    return F.regexp_replace(masked, PHONE_RE, "[PHONE]")


def pii_count(text: Column) -> Column:
    return (F.regexp_count(text, F.lit(EMAIL_RE))
            + F.regexp_count(F.regexp_replace(text, EMAIL_RE, "[EMAIL]"),
                             F.lit(PHONE_RE)))


def shingle_strings(text: Column, n: int = 8) -> Column:
    """All n-token shingles of a document as strings (the
    decontamination / fuzzy-matching unit).

    The tokenized words array is **let-bound** through a
    single-element ``transform`` so it is evaluated once per row — a
    lambda that closes over the raw ``split`` expression re-tokenizes
    the document for every shingle (measured ~10× slower at sf0.1)."""
    words = F.split(F.lower(F.trim(text)), WORD_SPLIT_RE)

    def build(w: Column) -> Column:
        starts = F.sequence(F.lit(1),
                            F.greatest(F.size(w) - F.lit(n - 1),
                                       F.lit(1)))
        return F.transform(
            starts, lambda s: F.array_join(F.slice(w, s, n), " "))

    return F.transform(F.array(words), build)[0]


def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  n: int = 8) -> DataFrame:
    """Flag training documents that share any n-token shingle with a
    benchmark/eval set (public decontamination recipe: 13-gram overlap
    in GPT-3/PaLM reports; n configurable).

    Scale shape: the benchmark side is tiny → its distinct shingle set
    is **broadcast**, so the 100 TB corpus side never shuffles; the
    per-doc hit count folds map-side.  Returns (id, n_hit_shingles)
    for contaminated docs only."""
    bench_sh = (benchmark
                .select(F.explode(shingle_strings(F.col(text_col), n))
                        .alias("sh"))
                .distinct())
    corp_sh = corpus.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingle_strings(F.col(text_col), n)))
        .alias("sh"))
    return (corp_sh.join(F.broadcast(bench_sh), "sh")
            .groupBy(id_col)
            .agg(F.count("*").alias("n_hit_shingles")))


def repetition_cols_from_words(words: Column,
                               n: int = 3) -> tuple[Column, Column]:
    """Gopher-style repetition signals as pure per-row Columns over a
    PRE-TOKENIZED lowercased word array (public recipe: Rae et al.
    2021 §A1.1): ``top_gram_frac`` = share of the
    most frequent n-gram, ``dup_gram_frac`` = share of n-gram
    occurrences whose n-gram appears more than once.

    The statistic is per-document, so it never needs a shuffle: hash
    each n-gram to a long (multi-arg ``xxhash64`` over the let-bound
    words array — no gram-string allocation), sort, and run-length
    scan with one ``aggregate`` HOF — max run = top-gram count, summed
    runs >1 = duplicated occurrences.  Counts depend only on gram
    EQUALITY, which the 64-bit hash preserves up to a ~2⁻⁶⁴-per-pair
    collision (astronomically below the 6-decimal rounding of the
    output), so the string-gram SQL oracle still matches exactly.
    (The round-1 form exploded to (doc, gram) rows and aggregated
    twice — two corpus-sized shuffles for a row-local computation;
    measured at sf0.1 this form is also ~1.2× faster than the explode
    even before network costs.)  Callers computing several per-doc
    signals materialize the tokens once in a prior projection and share
    them (one split per row instead of one per signal).
    """
    acc0 = F.struct(F.lit(None).cast("long").alias("prev"),
                    F.lit(0).cast("long").alias("run"),
                    F.lit(0).cast("long").alias("maxrun"),
                    F.lit(0).cast("long").alias("dup"))

    def step(acc, g):
        same = acc["prev"].eqNullSafe(g)
        run = F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        # closing a run: fold its length into dup if it repeated
        dup = F.when(~same & (acc["run"] > 1), acc["dup"] + acc["run"]) \
               .otherwise(acc["dup"])
        return F.struct(g.alias("prev"), run.alias("run"),
                        F.greatest(acc["maxrun"], run).alias("maxrun"),
                        dup.alias("dup"))

    def fin(acc):
        dup = F.when(acc["run"] > 1, acc["dup"] + acc["run"]) \
               .otherwise(acc["dup"])
        return F.struct(acc["maxrun"].alias("maxrun"), dup.alias("dup"))

    def whole(w: Column) -> Column:
        starts = F.sequence(F.lit(1),
                            F.greatest(F.size(w) - F.lit(n - 1),
                                       F.lit(1)))
        # try_element_at: a doc shorter than n tokens has one truncated
        # gram (xxhash64 skips null args) — ANSI element_at would throw
        grams = F.transform(starts, lambda i: F.xxhash64(
            *[F.try_element_at(w, i + j) for j in range(n)]))
        agg = F.aggregate(F.array_sort(grams), acc0, step, fin)
        total = F.size(grams).cast("double")
        return F.struct(
            (agg["maxrun"].cast("double") / total).alias("top"),
            (agg["dup"].cast("double") / total).alias("dup"))

    res = F.transform(F.array(words), whole)[0]
    return F.round(res["top"], 6), F.round(res["dup"], 6)


def tfidf_top_terms(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """Top-``k`` TF-IDF terms per document.

    The canonical two-phase corpus statistic: term frequency is a
    per-doc aggregation (map-side combinable); document frequency is
    the count of TF rows per term, computed as a window over the TF
    table rather than a second aggregation + join — that keeps ONE
    corpus scan and ONE explode (a naive tf⋈docfreq formulation scans
    and re-aggregates the exploded corpus twice), at the cost of one
    extra shuffle of the much smaller TF table keyed by term.
    idf = ln(N / df); scores rounded before ranking so ties break on
    the term deterministically.
    """
    words = F.split(F.lower(F.trim(F.col(text_col))), WORD_SPLIT_RE)
    terms = (df.select(F.col(id_col), F.explode(words).alias("term"))
             .filter(F.col("term") != ""))
    tf = terms.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    n_docs = df.select(F.count("*").alias("__n__"))
    docfreq = F.count("*").over(Window.partitionBy("term"))
    scored = (tf.withColumn("__df__", docfreq)
              .crossJoin(F.broadcast(n_docs))
              .select(F.col(id_col), F.col("term"), F.col("tf"),
                      F.round(F.col("tf").cast("double") *
                              F.log(F.col("__n__").cast("double") /
                                    F.col("__df__").cast("double")), 6)
                      .alias("tfidf")))
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(),
                                           F.col("term").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def assign_token_bins(df: DataFrame, token_col: str, budget: int,
                      part_col: str = "source",
                      order_col: str = "doc_id") -> DataFrame:
    """Token-budget binning — the scalable shape of sequence packing:
    rows are taken in a deterministic order within each partition key
    and assigned to bin ``floor(preceding_token_count / budget)``.

    This is running-count bucketing (each bin closes as the cumulative
    token count crosses a budget multiple — a straddling row starts in
    the bin its prefix sum lands in), not bin-packing optimization:
    one window shuffle per partition key, no sequential state, which is
    what a 100 TB packing pass needs.  Downstream consumers split or
    pad the straddling row, exactly as fixed-context pretraining does.
    """
    w = Window.partitionBy(part_col).orderBy(order_col)
    preceding = F.coalesce(
        F.sum(F.col(token_col)).over(
            w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0))
    return df.withColumn("bin",
                         F.floor(preceding / F.lit(budget)).cast("long"))
