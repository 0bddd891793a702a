"""BM25 retrieval (llm/retrieval.py): exact parity with a pure-Python
reference on real documents, invariants, and the query-time plan."""

import math
import re
from collections import Counter

from pyspark.sql import functions as F

from rulemorph_spark.functions.diag import plan_summary
from rulemorph_spark.llm.retrieval import bm25_index, bm25_search, \
    bm25_topk

SF = "/root/testdata/sf0.001"
K1, B = 1.2, 0.75


def _py_bm25(docs: dict, queries: dict, k1=K1, b=B):
    """Reference BM25 (Robertson & Zaragoza 2009) in plain Python."""
    split = re.compile(r"\s+")
    toks = {d: [t for t in split.split(txt.strip().lower()) if t]
            for d, txt in docs.items()}
    tf = {d: Counter(ts) for d, ts in toks.items()}
    dl = {d: len(ts) for d, ts in toks.items()}
    n = len(docs)
    avgdl = sum(dl.values()) / n
    df = Counter(t for c in tf.values() for t in c)
    idf = {t: math.log(1 + (n - f + 0.5) / (f + 0.5))
           for t, f in df.items()}
    out = {}
    for q, qtxt in queries.items():
        qt = {t for t in split.split(qtxt.strip().lower()) if t}
        scores = {}
        for d in docs:
            s = 0.0
            for t in qt:
                f = tf[d].get(t, 0)
                if f:
                    s += idf[t] * f * (k1 + 1) / \
                        (f + k1 * (1 - b + b * dl[d] / avgdl))
            if s > 0:
                scores[d] = s
        out[q] = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return out


def _file_bounds(path: str, col: str) -> list[tuple]:
    """(min, max) of ``col`` per parquet data file, from the footers —
    the stats a scan planner prunes files with."""
    import os

    import pyarrow.parquet as pq

    out = []
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, name)).metadata
        stats = [rg.column(ci).statistics
                 for rg in (md.row_group(i) for i in range(md.num_row_groups))
                 for ci in range(rg.num_columns)
                 if rg.column(ci).path_in_schema == col]
        stats = [st for st in stats if st is not None and st.has_min_max]
        if stats:
            out.append((min(st.min for st in stats),
                        max(st.max for st in stats)))
    return out


def test_bm25_matches_python_reference(spark):
    docs_df = (spark.read.parquet(f"{SF}/documents.parquet")
               .select("doc_id", "text").limit(120).cache())
    docs = {r["doc_id"]: r["text"] for r in docs_df.collect()}
    queries = {1: "the quick data pipeline",
               2: list(docs.values())[3][:60],
               3: "zzz-no-such-term"}
    qdf = spark.createDataFrame(list(queries.items()),
                                "query_id int, query string")
    got = bm25_search(docs_df, qdf, k=10)
    ref = _py_bm25(docs, queries)
    got_rows = {(r["query_id"], r["rank"]): (r["doc_id"], r["score"])
                for r in got.collect()}
    for q, ranked in ref.items():
        for i, (d, s) in enumerate(ranked[:10], start=1):
            gd, gs = got_rows[(q, i)]
            assert gd == d, (q, i, gd, d)
            assert abs(gs - s) < 1e-9, (q, i, gs, s)
    # a query with no matching term returns no rows, not zero scores
    assert (3 not in {q for q, _ in got_rows})


def test_bm25_oversized_query_batch_takes_join_form(spark):
    """r10: the vocabulary-literal gate must be DECIDED with a bounded
    collect (limit(4097)) — a query batch with more distinct terms
    than the gate allows routes to the broadcast-join form without
    ever collecting the full vocabulary, and still scores
    identically."""
    docs_df = (spark.read.parquet(f"{SF}/documents.parquet")
               .select("doc_id", "text").limit(40))
    # 4200 distinct terms across the batch — past the 4096 gate; one
    # query also carries real corpus terms so results are non-empty
    real = docs_df.collect()[0]["text"].split()[:5]
    qrows = [(0, " ".join(real))] + \
        [(i, f"zzqq{i}a zzqq{i}b zzqq{i}c") for i in range(1, 1400)]
    qdf = spark.createDataFrame(qrows, "query_id int, query string")
    got = bm25_search(docs_df, qdf, k=5)
    # equivalence with the index path (which always joins) pins values
    postings, stats = bm25_index(docs_df)
    want = bm25_topk(postings, stats, qdf, k=5)
    g = {(r["query_id"], r["rank"]): (r["doc_id"], round(r["score"], 9))
         for r in got.collect()}
    w = {(r["query_id"], r["rank"]): (r["doc_id"], round(r["score"], 9))
         for r in want.collect()}
    assert g == w and g  # non-empty and identical


def test_bm25_index_reuse_and_self_retrieval(spark):
    docs_df = (spark.read.parquet(f"{SF}/documents.parquet")
               .select("doc_id", "text").limit(200))
    # the synthetic docs are bags over a tiny shared vocabulary — add
    # five with genuinely rare terms and retrieve them by those terms
    rare = spark.createDataFrame(
        [(100000 + i, f"filter join rareterm{i} table rareterm{i}")
         for i in range(5)], "doc_id long, text string")
    docs_df = docs_df.unionByName(rare)
    postings, stats = bm25_index(docs_df)
    probe = spark.createDataFrame(
        [(100000 + i, f"rareterm{i} merge") for i in range(5)],
        "query_id long, query string")
    top = bm25_topk(postings, stats, probe, k=3)
    r1 = {r["query_id"]: r["doc_id"]
          for r in top.filter("rank = 1").collect()}
    assert all(qid == did for qid, did in r1.items()), r1
    # postings invariants
    row = postings.agg(F.min("tf"), F.min("idf"), F.min("dl")).first()
    assert row[0] >= 1 and row[1] > 0 and row[2] >= 1


def test_bm25_query_plan_broadcasts_queries(spark):
    docs_df = (spark.read.parquet(f"{SF}/documents.parquet")
               .select("doc_id", "text"))
    postings, stats = bm25_index(docs_df)
    postings = postings.localCheckpoint(eager=False)
    stats = stats.localCheckpoint(eager=False)
    qdf = spark.createDataFrame([(1, "alpha beta")],
                                "query_id int, query string")
    s = plan_summary(bm25_topk(postings, stats, qdf, k=5))
    assert s["broadcast_exchanges"] >= 1
    # postings side joins without shuffling: only the (query,doc)
    # score fold and the per-query top-k window may exchange
    assert s["shuffle_exchanges"] <= 2
    assert s["python_udf_evals"] == 0


def test_bm25_indexed_matches_adhoc_and_prunes(spark, tmp_path):
    from rulemorph_spark.llm.retrieval import (bm25_topk_indexed,
                                               bm25_write_index)

    docs_df = (spark.read.parquet(f"{SF}/documents.parquet")
               .select("doc_id", "text").limit(150))
    path = str(tmp_path / "bm25")
    bm25_write_index(docs_df, path, num_files=4)
    qdf = spark.createDataFrame(
        [(1, "filter join merge"), (2, "window scan")],
        "query_id int, query string")
    via_index = bm25_topk_indexed(spark, path, qdf, k=5)
    adhoc = bm25_search(docs_df, qdf, k=5)
    a = sorted(map(tuple, via_index.collect()))
    e = sorted(map(tuple, adhoc.collect()))
    assert [(r[0], r[1], round(r[2], 9), r[3]) for r in a] == \
        [(r[0], r[1], round(r[2], 9), r[3]) for r in e]
    # clustered postings: term ranges are tight per file (prunable)
    spans = sorted(_file_bounds(f"{path}/postings", "term"))
    assert len(spans) >= 2
    for (lo1, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert hi1 <= lo2  # disjoint sorted ranges
    # the pushed IN filter appears in the scan
    s = plan_summary(bm25_topk_indexed(spark, path, qdf, k=5))
    post_scan = next(sc for sc in s["scans"]
                     if "tf" in (sc["read_schema"] or ""))
    assert "In(term" in (post_scan["pushed_filters"] or "")


def test_cli_search_adhoc_and_indexed(tmp_path):
    import json as _json
    import subprocess
    import sys

    corpus = f"{SF}/documents.parquet"
    r = subprocess.run(
        [sys.executable, "-m", "rulemorph_spark.cli", "search",
         "-i", corpus, "-q", "filter join merge", "-k", "3"],
        capture_output=True, text=True, cwd="/root/repo")
    assert r.returncode == 0, r.stderr[-800:]
    rows = [_json.loads(ln) for ln in r.stdout.strip().splitlines()]
    assert [x["rank"] for x in rows] == [1, 2, 3]
    assert all(x["score"] > 0 for x in rows)

    idx = str(tmp_path / "idx")
    rb = subprocess.run(
        [sys.executable, "-m", "rulemorph_spark.cli", "search",
         "-i", corpus, "--index", idx, "--build-index"],
        capture_output=True, text=True, cwd="/root/repo")
    assert rb.returncode == 0, rb.stderr[-800:]
    ri = subprocess.run(
        [sys.executable, "-m", "rulemorph_spark.cli", "search",
         "--index", idx, "-q", "filter join merge", "-k", "3"],
        capture_output=True, text=True, cwd="/root/repo")
    assert ri.returncode == 0, ri.stderr[-800:]
    rows_i = [_json.loads(ln) for ln in ri.stdout.strip().splitlines()]
    assert rows_i == rows  # indexed ≡ ad-hoc

    rerr = subprocess.run(
        [sys.executable, "-m", "rulemorph_spark.cli", "search",
         "-i", corpus],
        capture_output=True, text=True, cwd="/root/repo")
    assert rerr.returncode == 2
