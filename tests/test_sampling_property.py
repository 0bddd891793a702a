"""Property-based checks for the deterministic corpus-assembly
operators (llm/sampling.py, llm/text.assign_token_bins): the Spark
results must equal an independent pure-Python model of the same hash /
prefix-sum arithmetic, for arbitrary ids, weights, and token counts.

One Spark run covers the whole generated batch (job count stays low).
"""

from __future__ import annotations

import hashlib
import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from rulemorph_spark.llm.sampling import hash_sample, mixture_sample
from rulemorph_spark.llm.text import assign_token_bins

BUCKETS = 10_000


def _bucket(doc_id: int) -> int:
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) \
        % BUCKETS


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(ids=st.lists(st.integers(min_value=0, max_value=10**12),
                    min_size=1, max_size=40, unique=True),
       weights=st.dictionaries(
           st.sampled_from(["a", "b", "c"]),
           st.floats(min_value=0.0, max_value=1.0,
                     allow_nan=False), min_size=1, max_size=3),
       fraction=st.floats(min_value=0.0, max_value=1.0, allow_nan=False))
def test_samplers_match_python_model(spark, ids, weights, fraction):
    strata = ["a", "b", "c", "d"]
    rows = [(i, strata[i % 4]) for i in ids]
    df = spark.createDataFrame(rows, "doc_id long, source string")

    # the operators use round() on the threshold (a weight of 0.29
    # must mean 2900 buckets, not 2899) — the model must mirror that
    got_mix = {r.doc_id for r in
               mixture_sample(df, "source", weights).collect()}
    want_mix = {i for i, s in rows
                if _bucket(i) < int(round(weights.get(s, 0.0) * BUCKETS))}
    assert got_mix == want_mix

    got_frac = {r.doc_id for r in hash_sample(df, fraction).collect()}
    want_frac = {i for i, _ in rows
                 if _bucket(i) < int(round(fraction * BUCKETS))}
    assert got_frac == want_frac


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(tokens=st.lists(st.integers(min_value=0, max_value=5000),
                       min_size=1, max_size=60),
       budget=st.integers(min_value=1, max_value=4000))
def test_token_bins_match_prefix_sum_model(spark, tokens, budget):
    rows = [(i, "s0" if i % 2 == 0 else "s1", t)
            for i, t in enumerate(tokens)]
    df = spark.createDataFrame(rows, "doc_id long, source string, "
                                     "tokens long")
    got = {(r.doc_id, r.bin) for r in
           assign_token_bins(df, "tokens", budget).collect()}

    want = set()
    for src in ("s0", "s1"):
        cum = 0
        for i, s, t in sorted(rows):
            if s != src:
                continue
            want.add((i, cum // budget))
            cum += t
    assert got == want
