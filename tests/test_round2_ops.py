"""Round-2 operators: the Bloom semi/anti split, unigram-LM quality
scoring, distributed k-means, duplicate-span coverage, perplexity
buckets and multi-language ID.

Each scale-path operator is verified against its exact counterpart
(the Bloom split vs plain joins, Spark k-means vs a NumPy Lloyd
reference) — the same exact-equivalence strategy the round-1
ANN/dedup suites use.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _t(spark, name):
    return spark.read.parquet(os.path.join(SF_DIR, f"{name}.parquet"))


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


# ---------------------------------------------------------------- LM scoring

def test_lm_quality_matches_python_reference(spark):
    from rulemorph_spark.llm.lm import MICRO, lm_quality
    docs = _t(spark, "documents").limit(60).cache()
    got = {r["doc_id"]: (r["n_tokens"], r["sum_lp_micro"],
                         r["avg_lp_micro"])
           for r in lm_quality(docs).collect()}

    rows = docs.select("doc_id", "text").collect()
    corpus = {r["doc_id"]: r["text"].strip().lower().split()
              for r in rows}
    counts: dict[str, int] = {}
    for toks in corpus.values():
        toks = toks if toks else [""]
        for t in toks:
            counts[t] = counts.get(t, 0) + 1
    total, vocab = sum(counts.values()), len(counts)
    denom = float(total + vocab)
    for doc_id, toks in corpus.items():
        toks = toks if toks else [""]
        lps = [math.floor(math.log((counts.get(t, 0) + 1) / denom)
                          * MICRO) for t in toks]
        n, s = len(lps), sum(lps)
        gn, gs, ga = got[doc_id]
        assert (gn, gs) == (n, s)
        assert ga == s / n


def test_lm_score_oov_and_train_split(spark):
    """Scoring against a model trained on a DIFFERENT slice exercises
    the OOV path: every unseen token gets the floor probability."""
    from rulemorph_spark.llm.lm import (lm_score, unigram_counts,
                                        unigram_logprob_micro)
    docs = _t(spark, "documents")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    heldout = docs.filter(F.col("doc_id") % 2 == 1).limit(40)
    lp = unigram_logprob_micro(unigram_counts(train))
    scored = lm_score(heldout, lp)
    assert scored.count() == heldout.count()
    r = scored.agg(F.min("avg_lp_micro"), F.max("avg_lp_micro")).collect()[0]
    # all scores are negative log-probs in micro units
    assert r[1] < 0
    # gibberish (all-OOV) scores strictly below in-distribution text
    one = heldout.limit(1).select(
        F.col("doc_id") + 10_000_000, F.lit("zzqx jvvw qqqz"), F.lit("en"),
        F.lit("syn"), F.lit(14))
    gib = one.toDF("doc_id", "text", "lang", "source", "n_chars")
    gib_score = lm_score(gib, lp).collect()[0]["avg_lp_micro"]
    assert gib_score <= r[0]


# ------------------------------------------------------------------- k-means

def _np_kmeans(vecs, seed_idx, iters):
    cents = vecs[seed_idx].astype(np.float64).copy()
    for _ in range(iters):
        d = ((vecs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(len(cents)):
            m = assign == c
            if m.any():
                cents[c] = vecs[m].mean(axis=0)
    return cents, assign


def test_kmeans_matches_numpy_reference(spark):
    from rulemorph_spark.llm.clustering import (assign_cells_with_vec,
                                                kmeans_train)
    emb = (_t(spark, "embeddings")
           .select("vec_id",
                   F.transform("embedding",
                               lambda x: x.cast("double"))
                   .alias("embedding"))
           .cache())
    k, iters = 6, 4
    trained = kmeans_train(emb, "vec_id", "embedding", k, iters=iters)
    got_assign = {r["vec_id"]: r["cell"]
                  for r in assign_cells_with_vec(emb, trained, "vec_id",
                                                 "embedding").collect()}

    rows = sorted(emb.collect(), key=lambda r: r["vec_id"])
    ids = np.array([r["vec_id"] for r in rows])
    vecs = np.array([r["embedding"] for r in rows], dtype=np.float64)
    # replay the seed order: smallest xxhash64(vec_id)
    seed_rows = (emb.select("vec_id")
                 .orderBy(F.xxhash64("vec_id"), "vec_id").limit(k)
                 .collect())
    seed_ids = [r["vec_id"] for r in seed_rows]
    seed_idx = [int(np.where(ids == s)[0][0]) for s in seed_ids]
    _, np_assign = _np_kmeans(vecs, seed_idx, iters + 1)
    np_map = {int(ids[i]): int(np_assign[i]) for i in range(len(ids))}
    agree = sum(got_assign[v] == np_map[v] for v in np_map)
    # float tie-breaks can flip a handful of boundary points; demand
    # near-total agreement, not bit equality
    assert agree >= 0.98 * len(np_map)


def test_kmeans_inertia_decreases(spark):
    from rulemorph_spark.llm.clustering import (kmeans_inertia,
                                                kmeans_train,
                                                seed_centroids)
    emb = _t(spark, "embeddings").select("vec_id", "embedding").cache()
    seeds = seed_centroids(emb, "vec_id", "embedding", 5)
    i0 = kmeans_inertia(emb, seeds, "vec_id", "embedding")
    c1 = kmeans_train(emb, "vec_id", "embedding", 5, iters=1)
    i1 = kmeans_inertia(emb, c1, "vec_id", "embedding")
    c3 = kmeans_train(emb, "vec_id", "embedding", 5, iters=3)
    i3 = kmeans_inertia(emb, c3, "vec_id", "embedding")
    assert i1 <= i0 + 1e-6
    assert i3 <= i1 + 1e-6


def test_kmeans_null_vectors_cannot_seed_and_ragged_raises(spark):
    """r10 (ADVICE r9): a NULL vector in the first k hash-ordered rows
    crashed the driver-side seeding; ragged seed vectors crashed the
    partial-sum numpy cast.  NULLs are filtered from the seed draw
    (they still fall out of assignment, like the former DataFrame
    fold); ragged dimensions raise a clear error."""
    from rulemorph_spark.llm.clustering import kmeans_train
    base = _t(spark, "embeddings").select(
        "vec_id",
        F.when(F.col("vec_id") % 2 == 0, F.col("embedding"))
        .alias("embedding"))
    trained = kmeans_train(base, "vec_id", "embedding", 4, iters=2)
    rows = trained.collect()
    assert len(rows) == 4
    assert all(r["cvec"] is not None for r in rows)

    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0, 2.0, 3.0]), (3, [0.5, 0.1])],
        "vec_id int, embedding array<double>")
    with pytest.raises(ValueError, match="fixed-dimension"):
        kmeans_train(ragged, "vec_id", "embedding", 3, iters=1)


def test_trained_centroids_feed_ivf(spark):
    from pyspark.sql import Window

    from rulemorph_spark.llm.clustering import kmeans_train
    from rulemorph_spark.llm.similarity import ivf_scored
    emb = _t(spark, "embeddings")
    cents = kmeans_train(emb, "vec_id", "embedding", k=8, iters=2)
    assert cents.count() == 8
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    scored = ivf_scored(emb, queries, cents, "vec_id", "embedding",
                        nprobe=3)
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("neighbor").asc())
    top = (scored.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= 3))
    assert top.count() == queries.count() * 3


def test_cents_inline_literal_matches_broadcast(spark, monkeypatch):
    """r9: a driver-local centroid table rides the plan as a typed
    literal (no broadcast-build job).  Assignment must be bit-identical
    to the broadcast-join path — including a float32 cvec (the literal
    is CAST to the table's exact element type) — and every guarded case
    must fall back to the broadcast form (return None)."""
    from rulemorph_spark.llm import clustering
    from rulemorph_spark.llm.clustering import (
        _best_cell, _cents_1row, cents_inline, kmeans_train)
    emb = _t(spark, "embeddings")
    trained = kmeans_train(emb, "vec_id", "embedding", 5, iters=2)
    assert cents_inline(trained) is not None

    def assign_via(base):
        best = _best_cell(F.col("embedding"))
        return {r["vec_id"]: (r["cell"], tuple(r["cvec"])) for r in
                base.select("vec_id",
                            best["cell"].alias("cell"),
                            best["cvec"].alias("cvec"))
                .filter(F.col("cell").isNotNull()).collect()}

    lit = assign_via(emb.withColumn("__cents__", cents_inline(trained)))
    bc = assign_via(emb.crossJoin(F.broadcast(_cents_1row(trained))))
    assert lit == bc and len(lit) == emb.count()

    # float32 cvec: the literal CAST must reproduce the float values
    frows = [(0, [1.25, -0.5]), (1, [0.1, 2.75])]  # 0.1 inexact in f32
    fcents = spark.createDataFrame(frows, "cell int, cvec array<float>")
    fcents._rm_cents_rows = frows
    col = cents_inline(fcents)
    assert col is not None
    got = spark.range(1).select(col.alias("c")).collect()[0]["c"]
    want = sorted(fcents.collect(), key=lambda r: r["cell"])
    assert [(s["cell"], s["cvec"]) for s in got] == \
        [(r["cell"], r["cvec"]) for r in want]

    # guarded fallbacks: non-local w/o stash, oversized, NaN
    assert cents_inline(trained.filter(F.col("cell") >= 0)) is None
    monkeypatch.setattr(clustering, "_CENTS_LIT_MAX_ELEMS", 3)
    assert cents_inline(trained) is None
    monkeypatch.undo()
    bad = spark.createDataFrame([(0, [float("nan")])],
                                "cell int, cvec array<double>")
    bad._rm_cents_rows = [(0, [float("nan")])]
    assert cents_inline(bad) is None


# ---------------------------------------------------- dup-span coverage

def _py_dup_coverage(texts, n, min_docs):
    grams_by_doc = {}
    for did, t in texts.items():
        w = t.strip().lower().split()
        grams_by_doc[did] = [tuple(w[i:i + n])
                             for i in range(max(len(w) - n + 1, 1))]
    from collections import Counter
    df_count = Counter()
    for did, gs in grams_by_doc.items():
        for g in set(gs):
            df_count[g] += 1
    out = {}
    for did, t in texts.items():
        w = t.strip().lower().split()
        nt = len(w)
        spans = sorted(p for p, g in enumerate(grams_by_doc[did])
                       if df_count[g] >= min_docs)
        cov, end = 0, -1
        for p in spans:
            ne = p + n
            if ne > end:
                cov += ne - max(end, p)
                end = ne
        cov = min(cov, nt)
        out[did] = (nt, cov, round(cov / nt, 6))
    return out


def test_dup_span_coverage_matches_python(spark):
    from rulemorph_spark.llm.dedup import dup_span_coverage
    docs = _t(spark, "documents").filter(F.col("doc_id") < 150)
    got = {r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["dup_frac"])
           for r in dup_span_coverage(docs, n=5, min_docs=2).collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    want = _py_dup_coverage(texts, 5, 2)
    assert got == want


def test_dup_span_full_duplicate_is_fully_covered(spark):
    from rulemorph_spark.llm.dedup import dup_span_coverage
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(1, base), (2, base),
         (3, "completely different words that appear exactly once here")],
        ["doc_id", "text"])
    got = {r["doc_id"]: r["dup_frac"]
           for r in dup_span_coverage(df, n=4, min_docs=2).collect()}
    assert got[1] == 1.0 and got[2] == 1.0
    assert got[3] == 0.0


def test_bloom_split_matches_both_exact_joins(spark):
    from rulemorph_spark.functions.relational import bloom_split
    orders = _t(spark, "orders")
    dim = (_t(spark, "customer")
           .filter(F.col("c_mktsegment") == "MACHINERY")
           .select("c_custkey"))
    semi, anti = bloom_split(orders, dim, "o_custkey", "c_custkey")
    want_semi = orders.join(dim, orders["o_custkey"] == dim["c_custkey"],
                            "left_semi")
    want_anti = orders.join(dim, orders["o_custkey"] == dim["c_custkey"],
                            "left_anti")
    assert _rows(semi, ["o_orderkey"]) == _rows(want_semi, ["o_orderkey"])
    assert _rows(anti, ["o_orderkey"]) == _rows(want_anti, ["o_orderkey"])
    assert semi.count() + anti.count() == orders.count()


# ------------------------------------------------- perplexity bucketing
def test_perplexity_buckets_thirds_and_ordering(spark):
    from rulemorph_spark.llm.lm import perplexity_buckets

    n = 900
    scored = spark.range(n).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("lang"),
        # distinct scores, deterministic scatter across groups
        (-F.xxhash64("id").cast("double") / 1e12).alias("avg_lp_micro"))
    out = perplexity_buckets(scored, by="lang", exact=True)
    assert set(out.columns) == {"doc_id", "lang", "avg_lp_micro",
                                "ppl_bucket"}
    frac = {(r["lang"], r["ppl_bucket"]): r["n"]
            for r in out.groupBy("lang", "ppl_bucket").count()
            .withColumnRenamed("count", "n").collect()}
    for lang in ("0", "1", "2"):
        total = sum(v for (lg, _), v in frac.items() if lg == lang)
        for b in ("head", "middle", "tail"):
            assert abs(frac[(lang, b)] / total - 1 / 3) < 0.05, \
                (lang, b, frac)
    # within every group each head score beats every middle score,
    # which beats every tail score
    bounds = {(r["lang"], r["ppl_bucket"]): (r["lo"], r["hi"])
              for r in out.groupBy("lang", "ppl_bucket")
              .agg(F.min("avg_lp_micro").alias("lo"),
                   F.max("avg_lp_micro").alias("hi")).collect()}
    for lang in ("0", "1", "2"):
        assert bounds[(lang, "head")][0] >= bounds[(lang, "middle")][1]
        assert bounds[(lang, "middle")][0] >= bounds[(lang, "tail")][1]


def test_perplexity_buckets_global_and_custom_cuts(spark):
    from rulemorph_spark.llm.lm import perplexity_buckets

    scored = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.col("id").cast("double").alias("avg_lp_micro"))
    out = perplexity_buckets(scored, cuts=(0.1, 0.5), exact=True)
    n = {r["ppl_bucket"]: r["count"]
         for r in out.groupBy("ppl_bucket").count().collect()}
    assert abs(n["head"] - 100) <= 2
    assert abs(n["middle"] - 400) <= 2
    assert abs(n["tail"] - 500) <= 2
    with pytest.raises(ValueError):
        perplexity_buckets(scored, cuts=(0.0, 0.5))


def test_perplexity_buckets_approx_near_exact(spark):
    from rulemorph_spark.llm.lm import perplexity_buckets

    scored = spark.range(3000).select(
        F.col("id").alias("doc_id"),
        (F.xxhash64("id").cast("double") / 1e9).alias("avg_lp_micro"))
    a = perplexity_buckets(scored, exact=False)
    e = perplexity_buckets(scored, exact=True)
    diff = (a.select("doc_id", "ppl_bucket")
            .join(e.select("doc_id",
                           F.col("ppl_bucket").alias("pb")), "doc_id")
            .filter("ppl_bucket != pb").count())
    assert diff / 3000 < 0.01  # sketch error only at the cut boundary


# --------------------------------------------------- multi-language ID
def test_lang_id_multi_labels_and_threshold(spark):
    from rulemorph_spark.llm.text import lang_id_multi

    rows = [
        (1, "the cat sat on the mat and it was happy with this"),
        (2, "el perro corre por el parque pero este día es muy bonito"),
        (3, "le chat est dans la maison avec les enfants pour une fête"),
        (4, "der hund ist nicht mit der katze und das ist ein problem"),
        (5, "il gatto non è per la casa che sono questo anche della"),
        (6, "você não vai para casa com os amigos por mais um dia"),
        (7, "12345 67890 !!!"),
        (8, ""),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r["id"]: r["lang"] for r in
           df.select("id", lang_id_multi(F.col("text")).alias("lang"))
           .collect()}
    assert got == {1: "en", 2: "es", 3: "fr", 4: "de", 5: "it",
                   6: "pt", 7: "other", 8: "other"}


def test_lang_filter_pipeline_multi(spark):
    from rulemorph_spark.llm.pipeline import run_pipeline

    rows = [(1, "the cat sat on the mat and it was happy with this"),
            (2, "el perro corre por el parque pero este día es muy"),
            (3, "der hund ist nicht mit der katze und das ein")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = run_pipeline(df, {"steps": [
        {"op": "lang_filter", "langs": ["es", "de"]}]})
    assert sorted(r["doc_id"] for r in out.collect()) == [2, 3]
    # english-only gate still uses the binary detector (oracle shape)
    en = run_pipeline(df, {"steps": [
        {"op": "lang_filter", "langs": ["en"]}]})
    assert [r["doc_id"] for r in en.collect()] == [1]


def test_perplexity_buckets_exact_uses_true_quantiles(spark):
    """Regression: F.percentile's 3rd arg is FREQUENCY (row weight),
    not accuracy — passing 10000 there shifted exact interpolated
    quantiles.  Pin exact=True to the textbook interpolation: for
    values [1..4] the 0.5 quantile is 2.5, so cuts=(0.25, 0.5) must
    put exactly the top value in head and the next in middle."""
    scored = spark.createDataFrame(
        [(i, float(i)) for i in (1, 2, 3, 4)],
        "doc_id long, avg_lp_micro double")
    out = {r["doc_id"]: r["ppl_bucket"]
           for r in __import__("rulemorph_spark.llm.lm",
                               fromlist=["perplexity_buckets"])
           .perplexity_buckets(scored, cuts=(0.25, 0.5),
                               exact=True).collect()}
    # q(0.75)=3.25, q(0.5)=2.5 under exact interpolation
    assert out == {4: "head", 3: "middle", 2: "tail", 1: "tail"}
