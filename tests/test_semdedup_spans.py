"""SemDeDup (semantic dedup) and exact-substring span removal.

Verification strategy mirrors the other non-SQL operators: a pure
Python/NumPy reference replays the exact algorithm on the collected
sf0.001 slice, plus construction tests (exact duplicates collapse to
one survivor, untouched docs come back intact) and a determinism check
under repartitioning.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _t(spark, name):
    return spark.read.parquet(os.path.join(SF_DIR, f"{name}.parquet"))


# ---------------------------------------------------------- span removal

def _py_remove_spans(texts, n, min_docs):
    """Driver reference: same grams, same interval merge, same cut."""
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
        raw = t.strip().split()
        nt = len(raw)
        covered = set()
        for p, g in enumerate(grams_by_doc[did]):
            if df_count[g] >= min_docs:
                covered.update(range(p, min(p + n, nt)))
        kept = [w for i, w in enumerate(raw) if i not in covered]
        out[did] = (" ".join(kept), nt, nt - len(kept))
    return out


def test_remove_dup_spans_matches_python(spark):
    from rulemorph_spark.llm.dedup import remove_dup_spans
    docs = _t(spark, "documents").filter(F.col("doc_id") < 150)
    got = {r["doc_id"]: (r["text"], r["n_tokens"], r["removed_tokens"])
           for r in remove_dup_spans(docs, n=5, min_docs=2).collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    want = _py_remove_spans(texts, 5, 2)
    assert got == want


def test_remove_dup_spans_agrees_with_coverage(spark):
    """removed_tokens must equal dup_span_coverage's dup_tokens — the
    two operators share one definition of 'duplicated span'."""
    from rulemorph_spark.llm.dedup import (dup_span_coverage,
                                           remove_dup_spans)
    docs = _t(spark, "documents").filter(F.col("doc_id") < 200)
    removed = {r["doc_id"]: r["removed_tokens"]
               for r in remove_dup_spans(docs, n=6, min_docs=2).collect()}
    cov = {r["doc_id"]: r["dup_tokens"]
           for r in dup_span_coverage(docs, n=6, min_docs=2).collect()}
    assert removed == cov


def test_remove_dup_spans_cuts_boilerplate_keeps_unique(spark):
    from rulemorph_spark.llm.dedup import remove_dup_spans
    boiler = "Subscribe To Our Newsletter For Daily Updates"
    df = spark.createDataFrame(
        [(1, f"unique opening words here {boiler}"),
         (2, f"{boiler} and then some other original content follows"),
         (3, "entirely original document with no shared sentences at all")],
        ["doc_id", "text"])
    got = {r["doc_id"]: r for r in
           remove_dup_spans(df, n=7, min_docs=2).collect()}
    # the shared 7-gram is cut from both docs, original casing kept
    assert got[1]["text"] == "unique opening words here"
    assert got[2]["text"] == "and then some other original content follows"
    assert got[1]["removed_tokens"] == 7
    assert got[2]["removed_tokens"] == 7
    # untouched doc passes through verbatim
    assert got[3]["text"].startswith("entirely original")
    assert got[3]["removed_tokens"] == 0


def test_remove_dup_spans_full_duplicate_empties(spark):
    from rulemorph_spark.llm.dedup import remove_dup_spans
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame([(1, base), (2, base)], ["doc_id", "text"])
    got = {r["doc_id"]: r for r in
           remove_dup_spans(df, n=4, min_docs=2).collect()}
    assert got[1]["text"] == "" and got[2]["text"] == ""
    assert got[1]["removed_tokens"] == 10


def test_short_docs_do_not_crash_gram_ops(spark):
    """Docs shorter than n tokens have one truncated gram — regression
    for the ANSI-mode element_at crash (Spark 4 default)."""
    from rulemorph_spark.llm.dedup import (dup_span_coverage,
                                           remove_dup_spans)
    from rulemorph_spark.llm.text import (WORD_SPLIT_RE,
                                          repetition_cols_from_words)
    df = spark.createDataFrame(
        [(1, "tiny"), (2, "two words"), (3, "two words"),
         (4, "a full length document with plenty of tokens inside")],
        ["doc_id", "text"])
    cov = {r["doc_id"]: r["dup_frac"]
           for r in dup_span_coverage(df, n=5, min_docs=2).collect()}
    assert cov[2] == 1.0 and cov[3] == 1.0  # truncated grams match
    assert cov[1] == 0.0 and cov[4] == 0.0
    cut = {r["doc_id"]: r["text"]
           for r in remove_dup_spans(df, n=5, min_docs=2).collect()}
    assert cut[2] == "" and cut[1] == "tiny"
    words = F.split(F.lower(F.trim(F.col("text"))), WORD_SPLIT_RE)
    reps = df.select(*repetition_cols_from_words(words, 3)).collect()
    assert len(reps) == 4


# -------------------------------------------------------------- SemDeDup

def _collect_semdedup_inputs(spark, centroids):
    from rulemorph_spark.llm.clustering import assign_cells_with_vec
    emb = _t(spark, "embeddings")
    assigned = assign_cells_with_vec(emb, centroids, "vec_id",
                                     "embedding").select("vec_id", "cell")
    rows = (emb.join(assigned, "vec_id")
            .select("vec_id", "embedding", "cell").collect())
    cent = {r["cell"]: r["cvec"] for r in centroids.collect()}
    ids = [r["vec_id"] for r in rows]
    vecs = [r["embedding"] for r in rows]
    cells = [r["cell"] for r in rows]
    return emb, ids, vecs, cells, cent


def semdedup_reference(ids, vecs, cells, centroid_by_cell, eps: float,
                       keep: str = "centroid_far"):
    """Pure-NumPy reference: same greedy, same ordering, run per
    cluster on the driver.  Returns {id: (keep, max_sim)}."""
    thr = 1.0 - eps
    out = {}
    by_cell: dict[int, list[int]] = {}
    for i, c in enumerate(cells):
        by_cell.setdefault(c, []).append(i)
    for c, idxs in by_cell.items():
        x = np.array([np.asarray(vecs[i], dtype=np.float64)
                      for i in idxs])
        norms = np.linalg.norm(x, axis=1)
        norms[norms == 0.0] = 1.0
        xn = x / norms[:, None]
        if keep == "centroid_far":
            cv = np.asarray(centroid_by_cell[c], dtype=np.float64)
            cn = np.linalg.norm(cv)
            csim = xn @ (cv / cn) if cn > 0 else np.zeros(len(idxs))
            order = sorted(range(len(idxs)),
                           key=lambda j: (round(csim[j], 9),
                                          ids[idxs[j]]))
        else:
            order = sorted(range(len(idxs)),
                           key=lambda j: ids[idxs[j]])
        kept: list[int] = []
        for j in order:
            s = float((xn[kept] @ xn[j]).max()) if kept else 0.0
            ok = s < thr
            out[ids[idxs[j]]] = (ok, round(s, 9))
            if ok:
                kept.append(j)
    return out


@pytest.mark.parametrize("keep", ["centroid_far", "min_id"])
def test_semdedup_matches_numpy_reference(spark, keep):
    from rulemorph_spark.llm.clustering import kmeans_train
    from rulemorph_spark.llm.semdedup import semdedup
    emb = _t(spark, "embeddings")
    centroids = kmeans_train(emb, "vec_id", "embedding", k=8, iters=2)
    emb, ids, vecs, cells, cent = _collect_semdedup_inputs(spark,
                                                           centroids)
    got = {r["vec_id"]: (r["keep"], r["max_sim"])
           for r in semdedup(emb, "vec_id", "embedding",
                             centroids=centroids, eps=0.2,
                             keep=keep).collect()}
    want = semdedup_reference(ids, vecs, cells, cent, eps=0.2, keep=keep)
    assert len(got) == len(ids)
    assert {k: v[0] for k, v in got.items()} == \
           {k: v[0] for k, v in want.items()}
    for k, (_, s) in want.items():
        assert got[k][1] == pytest.approx(s, abs=1e-8)


def test_semdedup_exact_duplicates_keep_one(spark):
    from rulemorph_spark.llm.semdedup import semdedup
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(3)] + \
           [(i, [0.0, 1.0, 0.0, 0.0]) for i in range(10, 12)] + \
           [(20, [0.0, 0.0, 1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    centroids = spark.createDataFrame(
        [(0, [0.5, 0.5, 0.2, 0.0])], "cell int, cvec array<double>")
    out = semdedup(df, "vec_id", "vec", centroids=centroids,
                   eps=0.01, keep="min_id").collect()
    kept = sorted(r["vec_id"] for r in out if r["keep"])
    # one survivor per duplicate group, min id wins; singleton survives
    assert kept == [0, 10, 20]
    dropped = {r["vec_id"]: r["max_sim"] for r in out if not r["keep"]}
    assert all(s == pytest.approx(1.0) for s in dropped.values())


def test_semdedup_deterministic_under_repartition(spark):
    from rulemorph_spark.llm.clustering import kmeans_train
    from rulemorph_spark.llm.semdedup import semdedup
    emb = _t(spark, "embeddings")
    centroids = kmeans_train(emb, "vec_id", "embedding", k=4, iters=1)
    a = semdedup(emb, "vec_id", "embedding", centroids=centroids,
                 eps=0.15).collect()
    b = semdedup(emb.repartition(17), "vec_id", "embedding",
                 centroids=centroids, eps=0.15).collect()
    key = lambda rs: sorted((r["vec_id"], r["cell"], r["keep"],
                             r["max_sim"]) for r in rs)
    assert key(a) == key(b)


def test_semdedup_sharding_bounds_group_size(spark):
    """max_cluster forces deterministic sub-shards; every row still
    gets exactly one verdict and exact duplicates within a shard still
    collapse."""
    from rulemorph_spark.llm.semdedup import semdedup
    rows = [(i, [1.0, 0.0]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    centroids = spark.createDataFrame(
        [(0, [1.0, 0.0])], "cell int, cvec array<double>")
    out = semdedup(df, "vec_id", "vec", centroids=centroids, eps=0.01,
                   keep="min_id", max_cluster=10).collect()
    assert len(out) == 40
    kept = [r for r in out if r["keep"]]
    # one survivor per shard (all 40 are identical): 40/10 = 4 shards
    assert 1 <= len(kept) <= 4
