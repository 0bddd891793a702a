"""Physical-plan regression guards for the scale operators: the plans
that make these viable at 100 TB (broadcast instead of shuffle, pruned
scans, bounded exchange counts) are asserted, not just observed, so a
refactor that silently reintroduces a shuffle or a second corpus scan
fails here.
"""

from __future__ import annotations

import pytest

import re

from pyspark.sql import functions as F

import __spark_entry__ as E
from rulemorph_spark.functions import spread

SF = "/root/testdata/sf0.001"


# the guards share one parser with the user-facing diagnostics API, so
# what CI asserts is exactly what `functions.diag.plan_summary` reports
from rulemorph_spark.functions.diag import (  # noqa: E402
    count_shuffle_exchanges as _exchanges,
    physical_plan as _plan,
)

pytestmark = pytest.mark.smoke


def test_tfidf_scans_corpus_once(spark):
    plan = _plan(E.queries()["q_tfidf_topterms"](spark, SF))
    # one exploding scan + one count-only scan; a tf⋈docfreq rewrite
    # re-scans and re-aggregates the exploded corpus (14 exchanges)
    assert plan.count("FileScan parquet") == 2
    assert _exchanges(plan) <= 4


def test_lsh_probe_side_is_broadcast_and_pruned(spark):
    from rulemorph_spark.llm.similarity import lsh_scored
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries_df = e.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 11))
    plan = _plan(lsh_scored(e, queries_df, "vec_id", "embedding", nbits=6))
    assert "BroadcastExchange" in plan
    # the query-side scan must push the vec_id range into the reader
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(vec_id",
                     plan)
    # corpus-side: bucket join against the broadcast probe; the bound
    # leaves room for the one shuffle a caller's rank window adds
    assert _exchanges(plan) <= 2


def test_lookup_join_broadcasts_dimension(spark):
    plan = _plan(E.queries()["q_lookup"](spark, SF))
    assert "BroadcastExchange" in plan


def test_decontaminate_broadcasts_benchmark_side(spark):
    from rulemorph_spark.llm.text import decontaminate
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench = docs.filter(F.col("doc_id") < 10)
    plan = _plan(decontaminate(docs, bench))
    assert "BroadcastExchange" in plan


def test_mixture_sample_is_narrow(spark):
    from rulemorph_spark.llm.sampling import mixture_sample
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(mixture_sample(docs, "source", {"src0": 0.5}))
    assert _exchanges(plan) == 0 and "BroadcastExchange" not in plan


def test_pricing_summary_pushes_filter_and_prunes_columns(spark):
    plan = _plan(E.queries()["q_agg_pricing_summary"](spark, SF))
    # the shipdate predicate reaches the scan (DataFilters precede the
    # truncated PushedFilters section in toString output)
    assert re.search(r"DataFilters: \[isnotnull\(l_shipdate[^\]]*<=", plan)
    # column pruning: the 11-column lineitem scan must read only the
    # aggregation's inputs
    m = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
    assert m and len(m.group(1).split(",")) <= 6


def test_embedding_dedup_is_bucket_join_not_cross_product(spark):
    """The banded-LSH near-dup pairs must candidate-join on
    (band, band_bits) — never a cartesian/broadcast-nested-loop over
    the corpus (the round-1 4-dim sign key degenerated toward that at
    scale with its ≤16 buckets)."""
    from rulemorph_spark.llm.dedup import dedup_embedding_cosine
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(dedup_embedding_cosine(e, "vec_id", "embedding",
                                        threshold=0.5, nbits=12, bands=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the candidate join keys on the band slice
    assert "__band__" in plan and "__key__" in plan


def test_shingle_overlap_hot_shingle_capped(spark):
    """A boilerplate shingle shared by every doc must not explode the
    pair count: with max_df the hot shingle is dropped before the
    self-join."""
    from rulemorph_spark.llm.dedup import shingle_overlap_edges
    boiler = "the quick brown fox jumps over the lazy"
    rows = [(i, f"{boiler} unique{i} filler{i} token{i} pad{i} "
                f"extra{i} more{i} words{i} here{i}") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = shingle_overlap_edges(df, n=8, min_shared=1, max_df=10)
    # every doc shares ONLY the boilerplate 8-gram; dropping it leaves
    # no overlapping shingles at all
    assert capped.count() == 0
    uncapped = shingle_overlap_edges(df, n=8, min_shared=1, max_df=None)
    assert uncapped.count() == 50 * 49 // 2


def test_text_metrics_is_shuffle_free(spark, monkeypatch):
    """the whole text-analysis suite — including the repetition
    signals, which run-length-scan each row's sorted gram array —
    is ONE narrow projection: no shuffle, single scan.  r9: at tiny
    local inputs the adaptive spread adds exactly one ROUND-ROBIN
    exchange (scan parallelism is row-group-bounded); above the size
    threshold the plan must stay exchange-free — both shapes pinned."""
    plan = _plan(E.queries()["q_text_metrics"](spark, SF))
    assert _exchanges(plan) <= 1
    assert "hashpartitioning" not in plan  # spread is round-robin only
    assert plan.count("FileScan parquet") == 1
    monkeypatch.setattr(spread, "_MAX_BYTES", 0)
    plan = _plan(E.queries()["q_text_metrics"](spark, SF))
    assert _exchanges(plan) == 0
    assert plan.count("FileScan parquet") == 1


def test_bloom_route_single_scan_matches_split(spark):
    """r9: bloom_route must equal the (semi ∪ anti) pair row-for-row
    while scanning the fact side ONCE in one plan."""
    from rulemorph_spark.functions.relational import (bloom_route,
                                                      bloom_split)
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    dim = (spark.read.parquet(f"{SF}/customer.parquet")
           .filter(F.col("c_mktsegment") == "BUILDING")
           .select("c_custkey"))
    routed = bloom_route(orders, dim, "o_custkey", "c_custkey")
    plan = _plan(routed)
    assert plan.count("FileScan parquet") == 2  # fact once + dim once
    semi, anti = bloom_split(orders, dim, "o_custkey", "c_custkey")
    both = (semi.select("o_orderkey", F.lit(True).alias("__match__"))
            .unionByName(anti.select("o_orderkey",
                                     F.lit(False).alias("__match__"))))
    got = routed.select("o_orderkey", "__match__")
    assert got.exceptAll(both).count() == 0
    assert both.exceptAll(got).count() == 0


def test_lm_quality_broadcasts_model_and_bounds_shuffles(spark):
    """LM scoring: the trained table is broadcast; shuffles are the
    vocab count fold + the per-doc fold only.

    r9: the eager training localCheckpoint is gone, so the static plan
    shows the vocabulary fold once per consumer (model join, OOV
    constant, totals — ≤9 exchanges pre-AQE); at runtime AQE exchange
    reuse materializes the training shuffle ONCE, asserted below on
    the final adaptive plan."""
    df = E.queries()["q_lm_quality"](spark, SF)
    plan = _plan(df)
    assert "BroadcastExchange" in plan
    assert _exchanges(plan) <= 9
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert final.count("ReusedExchange") >= 2  # train fold shared


def test_kmeans_assignment_is_broadcast_no_corpus_window(spark):
    """k-means assignment: centroids broadcast, per-row argmin via
    min_by fold — no global window, no corpus-sized sort."""
    from rulemorph_spark.llm.clustering import (assign_cells_with_vec,
                                                seed_centroids)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = seed_centroids(emb, "vec_id", "embedding", 4) \
        .localCheckpoint(eager=True)
    plan = _plan(assign_cells_with_vec(emb, cents, "vec_id", "embedding"))
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan
    assert _exchanges(plan) <= 1  # the min_by fold only


def test_doc_signatures_is_shuffle_free_single_scan(spark, monkeypatch):
    """MinHash + SimHash signatures: one scan; no shuffle beyond the
    adaptive small-scan spread (round-robin only, absent above the
    size threshold — see test_text_metrics_is_shuffle_free)."""
    plan = _plan(E.queries()["q_doc_signatures"](spark, SF))
    assert _exchanges(plan) <= 1
    assert "hashpartitioning" not in plan
    assert plan.count("FileScan parquet") == 1
    monkeypatch.setattr(spread, "_MAX_BYTES", 0)
    plan = _plan(E.queries()["q_doc_signatures"](spark, SF))
    assert _exchanges(plan) == 0
    assert plan.count("FileScan parquet") == 1


def test_array_ops_single_shuffle(spark):
    """every array family feeds off ONE collect_list aggregation —
    exactly one hash exchange, one scan."""
    plan = _plan(E.queries()["q_array_ops"](spark, SF))
    assert _exchanges(plan) <= 1
    assert plan.count("FileScan parquet") == 1


def test_sessionize_bounded_exchanges(spark):
    """batch lag+cumsum and native session_window are co-partitioned by
    user; the stitch join must not add unbounded shuffles."""
    plan = _plan(E.queries()["q_sessionize"](spark, SF))
    assert _exchanges(plan) <= 6


def test_bloom_probe_hashes_jvm_side(spark):
    """Bloom membership: xxhash64 positions stay JVM-side and the probe
    is a pure narrow map (no shuffle, no join).  r9: a small filter is
    probed entirely in codegen (packed-long literal + shift/mask) — NO
    Python-eval node; a filter above _JVM_PROBE_MAX_BITS keeps the
    single Arrow bit-test as its only Python stage."""
    from rulemorph_spark.functions import sketches
    from rulemorph_spark.functions.sketches import (bloom_build,
                                                    bloom_might_contain)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bits = bloom_build(docs.limit(50).select("source"), "source", 4096, 5)
    probed = bloom_might_contain(docs, "source", bits, 4096, 5)
    plan = _plan(probed)
    assert _exchanges(plan) == 0
    assert "xxhash64" in plan.lower()
    assert "ArrowEvalPython" not in plan   # codegen-literal fast path
    assert "BatchEvalPython" not in plan   # no row-at-a-time Python
    # large-filter path: same probe through the broadcast+Arrow bit-test
    big_bits = sketches._JVM_PROBE_MAX_BITS * 2
    bits2 = bloom_build(docs.limit(50).select("source"), "source",
                        big_bits, 5)
    plan2 = _plan(bloom_might_contain(docs, "source", bits2, big_bits, 5))
    assert _exchanges(plan2) == 0
    assert plan2.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan2


def test_typed_branch_filter_pushes_to_scan(spark, tmp_path):
    """A typed rule with record_when + branch must still push the keep
    filter toward the scan and contain zero variant ops / Python."""
    from rulemorph_spark.engine import transform_table
    (tmp_path / "sub.yaml").write_text(
        "version: 2\ninput: {format: json}\nmappings:\n"
        "  - target: flagged\n    value: true\n")
    rule = """
version: 2
input: {format: json}
record_when: {gte: ["@input.l_quantity", 10]}
steps:
  - mappings:
      - target: okey
        source: l_orderkey
  - branch:
      when: {gte: ["@input.l_discount", 0.05]}
      then: sub.yaml
"""
    df = spark.read.parquet(f"{SF}/lineitem.parquet")
    out = transform_table(df, rule, mode="typed", base_dir=str(tmp_path))
    plan = _plan(out)
    assert "Python" not in plan
    assert "variant" not in plan.lower()
    assert _exchanges(plan) == 0
    # the record_when filter reaches the scan stage (pushed predicate
    # on l_quantity), so filtered rows never evaluate mappings
    assert "l_quantity" in plan.split("FileScan")[0] or \
        "PushedFilters: [" in plan


def test_gopher_flags_are_shuffle_free(spark, monkeypatch):
    """the whole Gopher rule set is ONE narrow projection over the
    corpus scan — at 100 TB it runs at scan speed.  The operator's
    built-in ``spread_small_scan`` (r10: moved from bench.py into the
    operator) is an exact no-op above its size threshold, so the
    at-scale plan stays exchange-free; on a TINY input the only added
    node is the round-robin spread exchange."""
    from rulemorph_spark.llm.filters import gopher_quality_flags
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    monkeypatch.setattr(spread, "_MAX_BYTES", 0)
    plan = _plan(gopher_quality_flags(docs))
    assert _exchanges(plan) == 0
    assert plan.count("FileScan parquet") == 1
    monkeypatch.setattr(spread, "_MAX_BYTES", 64 * 1024 * 1024)
    plan_tiny = _plan(gopher_quality_flags(docs))
    assert _exchanges(plan_tiny) == 0  # still no keyed shuffle
    assert "RoundRobinPartitioning" in plan_tiny


def test_remove_dup_spans_bounded_exchanges(spark):
    """span removal shares dup_span_coverage's shape: one gram-
    frequency aggregation + one hit shuffle + the doc-keyed
    re-join — bounded exchanges, no corpus-global window."""
    from rulemorph_spark.llm.dedup import remove_dup_spans
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(remove_dup_spans(docs, n=6, min_docs=2))
    assert _exchanges(plan) <= 5
    assert "Window" not in plan


def test_semdedup_single_corpus_shuffle(spark):
    """semdedup's only corpus-sized movement is the ONE
    (cell, shard) groupBy feeding applyInPandas; centroids and
    cluster sizes ride broadcasts."""
    from rulemorph_spark.llm.semdedup import semdedup
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = spark.createDataFrame(
        [(0, [0.1] * 8), (1, [-0.1] * 8)], "cell int, cvec array<double>")
    cents = cents.withColumn(
        "cvec", F.col("cvec").cast("array<float>"))
    plan = _plan(semdedup(emb, "vec_id", "embedding", centroids=cents,
                          eps=0.05))
    assert "BroadcastExchange" in plan          # centroids + sizes
    assert "FlatMapGroupsInPandas" in plan      # Arrow group dedup
    # corpus-shuffle bound: assignment min_by agg + the grouped-map
    # repartition (plus AQE bookkeeping) — must stay O(1) count,
    # no quadratic join, no corpus window
    assert _exchanges(plan) <= 4
    assert "Window" not in plan


def test_typed_record_when_pushes_to_parquet(spark):
    """The lenient null guards must not reappear around typed
    record_when comparisons — the predicate belongs in PushedFilters
    (row-group skipping), not in a post-scan DataFilter."""
    from rulemorph_spark.engine import transform_table
    rule = """
version: 2
input: {format: json}
record_when: {gt: ["@input.l_quantity", 45]}
mappings:
  - target: okey
    source: l_orderkey
"""
    df = spark.read.parquet(f"{SF}/lineitem.parquet")
    plan = _plan(transform_table(df, rule, mode="typed"))
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThan\(l_quantity",
                     plan), plan[:600]


def test_record_when_ordering_pushdown_on_long_column(spark, tmp_path):
    """f64 comparison over a LONG column blocks parquet pushdown
    (lossy cast, UnwrapCastInBinaryComparison skips it); the typed
    compiler AND-s an implied rounding-widened bound on the bare
    column, which folds to a pushable literal filter — values stay
    exactly f64-compare (reference numeric semantics)."""
    import re

    from rulemorph_spark.engine import transform_table

    p = str(tmp_path / "t")
    spark.range(1000).selectExpr("id", "id qty").write.parquet(p)
    df = spark.read.parquet(p)
    rule = """
version: 2
input: {format: json}
record_when: {gte: ["@input.qty", 100]}
mappings:
  - target: id
    source: id
"""
    out = transform_table(df, rule, mode="typed")
    plan = out._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "GreaterThanOrEqual(qty," in m.group(1), plan[:500]
    assert out.count() == 900
    # rounding-zone magnitudes: typed == variant == python f64 compare
    big = 2 ** 62 + 1024
    df2 = spark.createDataFrame(
        [(1, big), (2, big - 4096), (3, -big)], "id long, qty long")
    rule2 = ("version: 2\ninput: {format: json}\n"
             f"record_when: {{gte: [\"@input.qty\", {big}]}}\n"
             "mappings:\n  - target: id\n    source: id\n")
    t = sorted(r["id"] for r in
               transform_table(df2, rule2, mode="typed").collect())
    expect = sorted(i for i, q in ((1, big), (2, big - 4096), (3, -big))
                    if float(q) >= float(big))
    assert t == expect


def test_long_ordering_pushdown_rounding_zone_property(spark, tmp_path):
    """Property fuzz for the widened-bound pushdown (VERDICT r4 next
    #6, typed.py widen): randomized (column value, literal) pairs in
    +/-(2^52..2^63) across all four orderings must agree with the
    Python f64 oracle in BOTH engines, while the conjunct still
    reaches parquet as a PushedFilter for literals inside the 2^62
    safety guard.  Values include adversarial neighbors at lit+/-1,
    lit+/-(1024+/-1) (the guard constant), and the f64-rounded image
    of the literal."""
    import random
    import re

    from rulemorph_spark.engine import transform_table

    rng = random.Random(525252)
    lits = [2 ** 62 - 1024, 2 ** 53 + 1, -(2 ** 60) + 7]
    lits += [rng.randrange(2 ** 52, 2 ** 62) * rng.choice([1, -1])
             for _ in range(4)]
    lits += [rng.randrange(2 ** 62, 2 ** 63 - 2048)]  # beyond guard

    values = set()
    for lit in lits:
        rounded = int(float(lit))
        for v in (lit, rounded):
            values.update({v - 1025, v - 1024, v - 1023, v - 1, v,
                           v + 1, v + 1023, v + 1024, v + 1025, -v})
    for _ in range(900):
        values.add(rng.randrange(2 ** 52, 2 ** 63) * rng.choice([1, -1]))
    values = sorted(v for v in values if -(2 ** 63) <= v < 2 ** 63)
    assert len(values) * len(lits) * 4 >= 1000  # pair coverage floor

    p = str(tmp_path / "zone")
    spark.createDataFrame([(i, v) for i, v in enumerate(values)],
                          "id long, qty long").write.parquet(p)
    df = spark.read.parquet(p)

    import operator
    pyops = {"gt": operator.gt, "gte": operator.ge,
             "lt": operator.lt, "lte": operator.le}
    # the widened conjunct is inclusive regardless of the op's
    # strictness (it is an implied bound, not the comparison itself)
    pushed_name = {"gt": "GreaterThanOrEqual(qty,",
                   "gte": "GreaterThanOrEqual(qty,",
                   "lt": "LessThanOrEqual(qty,",
                   "lte": "LessThanOrEqual(qty,"}
    rule_t = ("version: 2\ninput: {format: json}\n"
              "record_when: {%s: [\"@input.qty\", %d]}\n"
              "mappings:\n  - target: id\n    source: id\n")

    checked_pairs = 0
    for lit in lits:
        for op, pyop in pyops.items():
            rule = rule_t % (op, lit)
            expect = sorted(i for i, v in enumerate(values)
                            if pyop(float(v), float(lit)))
            out = transform_table(df, rule, mode="typed")
            got = sorted(r["id"] for r in out.collect())
            assert got == expect, ("typed", op, lit)
            vgot = sorted(
                r["id"] for r in
                transform_table(df, rule, mode="variant")
                .select(F.to_json("id").cast("long").alias("id"))
                .collect())
            assert vgot == expect, ("variant", op, lit)
            checked_pairs += len(values)
            if abs(lit) <= 2 ** 62:  # inside the widen safety guard
                plan = out._jdf.queryExecution().executedPlan() \
                    .toString()
                m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
                assert m and pushed_name[op] in m.group(1), (op, lit)
    assert checked_pairs >= 1000
