"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 (reference: vinhphatfsg/rulemorph) plus the large-scale
pipeline operators (dedup / similarity / text analysis); ``oracle_sql()``
gives the DuckDB-equivalent ANSI SQL for the correctness gate.

Determinism rules used throughout:
- aggregates over doubles go through DECIMAL(18,2) (order-independent
  exact sums — a distributed Spark sum and DuckDB's serial sum would
  otherwise differ in final ulps), then cast to DOUBLE for a
  normalization-free comparison representation
- per-row double arithmetic is identical IEEE work in both engines
- ranking ties always break on an id column
- array results serialize via to_json for canonical comparison
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is",
              "it", "that", "for", "on", "with", "as"]



import weakref

_prepared: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()
# Raw parquet relations per (session, dir, table).  METADATA caching
# only (footer schema + file listing — what a real catalog holds): the
# DataFrame is a lazy plan and every action still reads the parquet
# files; no rows, results, or intermediates are retained (r9, guide
# §1.2 "the driver is part of the system": each spark.read.parquet is
# ~0.13 s of schema-inference round trips, paid per query build).
_scans: "weakref.WeakKeyDictionary[SparkSession, dict]" = \
    weakref.WeakKeyDictionary()


def _prepare(spark: SparkSession) -> None:
    """Session confs the queries rely on, set idempotently at runtime so
    any driver-provided session works: UTC rendering (timestamp
    comparisons vs DuckDB), serde-style map key dedup.  Guarded per
    session object — each conf.set is a py4j round trip and _t runs on
    every query construction."""
    if spark in _prepared:
        return
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    # r9 (guide §7.2): generator inputs here are always inline computed
    # arrays — the inferred pre-explode filter re-evaluates them per row
    # for nothing (see engine.get_spark); results identical.  r10:
    # APPEND to any exclusions a driver-provided session already
    # carries instead of clobbering them.
    rule = ("org.apache.spark.sql.catalyst.optimizer."
            "InferFiltersFromGenerate")
    try:
        cur = spark.conf.get("spark.sql.optimizer.excludedRules",
                             None) or ""
    except Exception:
        cur = ""
    if rule not in cur.split(","):
        spark.conf.set("spark.sql.optimizer.excludedRules",
                       f"{cur},{rule}".strip(","))
    # r9: suspend pyspark's per-Column-call debug-origin capture (3
    # py4j round trips + a stack walk per call) for the whole process —
    # query construction cost, measured 0.3-1.5 s per query at sf0.1
    # (r9 per-query build-time profile; guide §1.2 step 2)
    from rulemorph_spark.engine import disable_df_debugging
    disable_df_debugging(spark)
    _prepared.add(spark)


def _t(spark: SparkSession, sf_dir: str, name: str,
       spread: bool = False) -> DataFrame:
    """Memoized parquet relation (metadata only — see ``_scans``).

    Assumes IMMUTABLE inputs for the session lifetime: the memoized
    relation pins the file listing, so parquet rewritten under
    ``sf_dir`` mid-session would be served from the stale listing.
    The bench/test datasets are generated once and read-only; a caller
    that rewrites inputs must use a fresh session."""
    _prepare(spark)
    memo = _scans.setdefault(spark, {})
    df = memo.get((sf_dir, name))
    if df is None:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        memo[(sf_dir, name)] = df
    if spread:
        # heavy per-row compute follows this scan directly: redistribute
        # a tiny single-row-group input across the session's cores
        # (exact no-op beyond the size threshold — functions/spread.py)
        from rulemorph_spark.functions.spread import spread_small_scan
        df = spread_small_scan(df)
    return df


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: pricing-summary aggregation (TPC-H Q1 shape) at sf0.001."""
    return q_agg_pricing_summary(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------
# relational / rule-engine surface
# ---------------------------------------------------------------------

def q_project_cast(spark, sf_dir):
    """CSV-style all-string ingest + typed casts (SURVEY §2.1 CSV scan +
    `type` cast; transform.rs:943-951, :5925-5994)."""
    li = _t(spark, sf_dir, "lineitem")
    s = li.select(
        F.col("l_orderkey").cast("string").alias("id_str"),
        F.col("l_quantity").cast("string").alias("qty_str"),
        F.col("l_linenumber"), F.col("l_orderkey"))
    return s.select(
        F.col("id_str"),
        F.col("qty_str").cast("double").alias("qty"),
        (F.col("id_str").cast("long")).alias("id_int"),
        F.col("l_orderkey"), F.col("l_linenumber"),
    )


def q_record_when(spark, sf_dir):
    """record_when filter before projection (transform.rs:1065-1091)."""
    o = _t(spark, sf_dir, "orders")
    return (o.filter((F.col("o_totalprice") > 150000.0) &
                     (F.col("o_orderstatus") == "O"))
            .select("o_orderkey", "o_custkey", "o_totalprice"))


def q_mapping_defaults(spark, sf_dir):
    """per-mapping `when` conditional projection + required/default →
    coalesce semantics, one customer-grain pass (transform.rs:1041-1063,
    :1006-1032; composite of round-1 q_when_mapping + q_required_default)."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, F.lit("negative"))
        .when(F.col("c_acctbal") < 5000, F.lit("standard"))
        .otherwise(F.lit("premium")).alias("tier"),
        F.when(F.col("c_mktsegment") == "BUILDING",
               F.col("c_name")).alias("building_name"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")),
                   F.lit("N/A")).alias("segment_or_default"),
    )


def q_lookup(spark, sf_dir):
    """lookup_first (broadcast equi-join, first match per key) AND
    lookup-all (join + sorted collect_list → JSON) on the order grain
    (SURVEY §2.1 lookup; transform.rs:2733-2883; composite of round-1
    q_lookup_first + q_lookup_all — partkeys_json is null off the
    sampled keys)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name",
                                             "c_mktsegment")
    first = (o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left")
             .select("o_orderkey", "c_name", "c_mktsegment"))
    sub = o.filter(F.col("o_orderkey") % 100 == 0)
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # r9 (guide §3.2 semi-join reduction): the LEFT join keeps `sub` on
    # the outer side, so Spark cannot build the broadcast from the
    # small side and sort-merge-joined the FULL lineitem scan against
    # 1% of orders.  A broadcast left-semi pre-filter drops the 99% of
    # lineitem rows with no matching order key BEFORE the outer join —
    # identical join result for any data (the semi filter removes only
    # rows the join would not match) — and the surviving slice is small
    # enough that AQE replans the outer join itself as a broadcast.
    keys = sub.select(F.col("o_orderkey").alias("__k__"))
    li_f = li.join(F.broadcast(keys), li.l_orderkey == F.col("__k__"),
                   "left_semi")
    allm = (sub.join(li_f, sub.o_orderkey == li_f.l_orderkey, "left")
            .groupBy("o_orderkey")
            .agg(F.to_json(F.sort_array(F.collect_list("l_partkey")))
                 .alias("partkeys_json")))
    # allm is 1% of orders — broadcast it so the 100%-of-orders side
    # never shuffles for the final stitch
    return first.join(F.broadcast(allm), "o_orderkey", "left")


def q_sort_limit_offset(spark, sf_dir):
    """finalize sort/offset/limit with stable tiebreak
    (transform.rs:646-705)."""
    o = _t(spark, sf_dir, "orders")
    return (o.orderBy(F.col("o_totalprice").desc(),
                      F.col("o_orderkey").asc())
            .select("o_orderkey", "o_totalprice")
            .offset(5).limit(20))


def q_branch_union(spark, sf_dir):
    """branch routing: records flow through one of two projections
    (transform.rs:491-527) → union of the branch outputs."""
    o = _t(spark, sf_dir, "orders")
    high = (o.filter(F.col("o_totalprice") >= 200000.0)
            .select("o_orderkey", F.lit("high").alias("route"),
                    (F.col("o_totalprice") * F.lit(0.9)).alias("adjusted")))
    low = (o.filter(F.col("o_totalprice") < 200000.0)
           .select("o_orderkey", F.lit("low").alias("route"),
                   F.col("o_totalprice").alias("adjusted")))
    return high.unionAll(low)


def q_steps_pipeline(spark, sf_dir):
    """multi-step derive→filter→derive pipeline (steps, transform.rs:431)."""
    li = _t(spark, sf_dir, "lineitem")
    step1 = li.select(
        "l_orderkey", "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .alias("revenue"))
    step2 = step1.filter(F.col("revenue") > 10000.0)
    # explicit half-away rounding: F.round and DuckDB ROUND disagree on
    # last-ulp halves; floor(x*100+0.5)/100 is identical IEEE work in both
    rounded = F.floor(F.col("revenue") * 100 + 0.5) / 100
    return step2.select(
        "l_orderkey", "l_linenumber",
        rounded.alias("revenue_r"),
        (F.col("revenue") > 50000.0).alias("big"))


def q_finalize_wrap(spark, sf_dir):
    """finalize.wrap-style summary object over the result set
    (transform.rs:707-749): one aggregated row."""
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.count("*").alias("total"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double").alias("sum_price"),
        F.min("o_orderkey").alias("first_key"),
        F.max("o_orderkey").alias("last_key"))


# ---------------------------------------------------------------------
# scalar expression ops
# ---------------------------------------------------------------------

def q_string_ops(spark, sf_dir):
    """concat/trim/upper/lower/len (transform.rs:1403-1506, :4671)."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.concat(F.col("c_name"), F.lit(":"),
                 F.col("c_mktsegment")).alias("joined"),
        F.upper(F.col("c_mktsegment")).alias("seg_upper"),
        F.lower(F.col("c_name")).alias("name_lower"),
        F.length(F.col("c_name")).cast("bigint").alias("name_len"),
    )


def q_replace_split_pad(spark, sf_dir):
    """replace (literal-first / literal-all / regex-all) + split (keeps
    empties) + pad_start/pad_end + eq/ne/ordering/regex-match
    comparisons, one part-grain pass (transform.rs:2162-2373,
    rules_spec_en.md:225-248; composite of round-1 q_replace_modes +
    q_split_pad + q_comparisons)."""
    from rulemorph_spark.functions.scalar import (pad_end, pad_start,
                                                  replace_first)
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        replace_first(F.col("p_type"), " ", "_").alias("first_us"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("all_us"),
        F.regexp_replace(F.col("p_type"), "[AEIOU]", "*").alias("regex_all"),
        F.element_at(F.split(F.col("p_type"), " ", -1), 1).alias("first_tok"),
        F.size(F.split(F.col("p_type"), " ", -1)).alias("n_toks"),
        pad_start(F.col("p_partkey").cast("string"), 8, "0").alias("padded"),
        pad_end(F.col("p_brand"), 12, ".").alias("brand_pad"),
        (F.col("p_size") > 25).alias("gt25"),
        (F.col("p_brand") == "Brand#23").alias("is_b23"),
        (F.col("p_type") < F.col("p_brand")).alias("lex_lt"),
        F.col("p_type").rlike("BRASS$").alias("ends_brass"),
    )


def q_numeric_round_base(spark, sf_dir):
    """+ - * / per-row IEEE fold + round (half-away-from-zero) + to_base,
    one lineitem-grain pass (transform.rs:2375-2574; composite of
    round-1 q_numeric_fold + q_round_to_base)."""
    from rulemorph_spark.functions.scalar import round_half_away, to_base
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber",
        (F.col("l_extendedprice") + F.col("l_tax")).alias("add_r"),
        (F.col("l_extendedprice") - F.col("l_discount")).alias("sub_r"),
        (F.col("l_quantity") * F.lit(2.5)).alias("mul_r"),
        (F.col("l_extendedprice") / F.lit(4.0)).alias("div_r"),
        round_half_away(F.col("l_extendedprice") * F.lit(0.1), 1)
        .alias("rounded"),
        to_base(F.col("l_orderkey"), 16).alias("hex_key"),
        to_base(F.col("l_partkey"), 2).alias("bin_part"),
    )


def q_date_ops(spark, sf_dir):
    """date_format + to_unixtime (transform.rs:2576-2731)."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_format(F.col("o_orderdate"), "yyyy/MM/dd").alias("fmt"),
        F.unix_timestamp(F.col("o_orderdate")).alias("unix_s"),
        F.year(F.col("o_orderdate")).cast("bigint").alias("yr"),
    )


def q_casts_coalesce(spark, sf_dir):
    """strict int/float/bool casts (bool never from "1") + coalesce
    first-non-null chain, one events-grain pass
    (transform.rs:5925-5994, :1434-1457; composite of round-1
    q_casts_strict + q_coalesce_chain)."""
    from rulemorph_spark.functions.scalar import strict_bool, strict_int
    e = _t(spark, sf_dir, "events")
    derived = e.select(
        "event_id", "event_type",
        F.col("event_id").cast("string").alias("id_str"),
        F.when(F.col("event_id") % 2 == 0, F.lit("true"))
        .otherwise(F.lit("FALSE")).alias("flag_str"))
    return derived.select(
        "event_id",
        strict_int(F.col("id_str")).alias("as_int"),
        strict_bool(F.col("flag_str")).alias("as_bool"),
        F.coalesce(F.nullif(F.col("event_type"), F.lit("click")),
                   F.nullif(F.col("event_type"), F.lit("view")),
                   F.lit("fallback")).alias("resolved"),
    )


# ---------------------------------------------------------------------
# cross-record aggregation / windows (Spark-native additions)
# ---------------------------------------------------------------------

def q_agg_pricing_summary(spark, sf_dir):
    """Flagship group-by aggregation (TPC-H Q1 shape) — exact totals.

    r9 optimization (guide §2.3 narrower types): the money columns are
    2-decimal by data contract, so each ``sum(cast(x as decimal(18,2)))``
    is equivalently a LONG sum of integer cents — the per-row
    double→BigDecimal conversion and the non-compact decimal(28,2) sum
    buffer both disappear from the hot loop (measured 0.77 s → 0.49 s
    at sf0.1).  The single decimal division per GROUP at the end
    reproduces the exact decimal→double rounding of the original
    (one correctly-rounded conversion of the exact rational), so the
    results are bit-identical — pinned per SF by
    tests/test_entry_contract.py::test_agg_cents_equivalence."""
    li = _t(spark, sf_dir, "lineitem")
    cents = lambda c: F.round(F.col(c) * 100).cast("long")
    as_money = lambda s, unit: (s.cast("decimal(38,0)") / unit) \
        .cast("double")
    return (li.filter(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(as_money(F.sum(cents("l_quantity")), 100)
                 .alias("sum_qty"),
                 as_money(F.sum(cents("l_extendedprice")), 100)
                 .alias("sum_base_price"),
                 as_money(F.sum(cents("l_extendedprice") *
                                (F.lit(100).cast("long")
                                 - cents("l_discount"))), 10000)
                 .alias("sum_disc_price"),
                 F.count("*").alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


def q_window_rank(spark, sf_dir):
    """window functions: per-customer order ranking + running count."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderkey").asc())
    return (o.select("o_custkey", "o_orderkey",
                     F.row_number().over(w).alias("rn"),
                     F.count("*").over(
                         w.rowsBetween(Window.unboundedPreceding, 0))
                     .alias("running_ct"))
            .filter(F.col("rn") <= 3))


def q_distinct_groups(spark, sf_dir):
    """distinct over group keys (dedup primitive)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


# ---------------------------------------------------------------------
# array ops (higher-order functions over collected arrays)
# ---------------------------------------------------------------------

def q_array_ops(spark, sf_dir):
    """All array higher-order families in one per-order pass: map+filter
    (v2_eval.rs:1930-1993), reduce/fold + min/max/len
    (transform.rs:4117-4358), sort_by desc + slice/first/last
    (transform.rs:3272-3967), zip_with (transform.rs:3538-3598) and
    unique/distinct (transform.rs:3791).  Composite of round-1
    q_array_{map_filter,fold_agg,sort_slice,zip_with,distinct} — one
    collect_list shuffle feeds every family.

    distinct_flags is sorted for engine-portable comparison (DuckDB's
    list_distinct does not preserve first-occurrence order; the engine
    op `unique` does — see compiler/ops_array.py)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 50 == 0)
    base = (li.groupBy("l_orderkey")
            .agg(F.array_sort(F.collect_list(
                F.struct("l_linenumber", "l_quantity", "l_extendedprice")))
                .alias("lines"),
                F.array_sort(F.collect_list(
                    F.struct("l_linenumber", "l_returnflag"))).alias("ls"))
            .select("l_orderkey",
                    F.transform("lines", lambda s: s["l_quantity"])
                    .alias("qtys"),
                    F.transform("lines", lambda s: s["l_extendedprice"])
                    .alias("prices"),
                    F.transform("ls", lambda s: s["l_returnflag"])
                    .alias("seq")))
    sorted_desc = F.reverse(F.array_sort("qtys"))
    prods = F.zip_with("qtys", "prices",
                       lambda q, p: F.floor(q * p * 100 + 0.5) / 100)
    return base.select(
        "l_orderkey",
        F.to_json(F.transform("qtys", lambda q: q * 2)).alias("doubled"),
        F.to_json(F.filter("qtys", lambda q: q > 25.0)).alias("large"),
        F.aggregate("qtys", F.lit(0.0), lambda acc, q: acc + q)
        .alias("fold_sum"),
        F.array_min("qtys").alias("min_q"),
        F.array_max("qtys").alias("max_q"),
        F.size("qtys").alias("n"),
        F.to_json(F.slice(sorted_desc, 1, 3)).alias("top3"),
        F.element_at(F.array_sort("qtys"), 1).alias("first_asc"),
        F.element_at(F.array_sort("qtys"), -1).alias("last_asc"),
        F.to_json(prods).alias("products"),
        F.to_json(F.array_sort(F.array_distinct("seq")))
        .alias("distinct_flags"),
    )


# ---------------------------------------------------------------------
# text analysis (documents)
# ---------------------------------------------------------------------

def q_text_metrics(spark, sf_dir):
    """Text-analysis suite in one document-grain pass: token/word/char
    counting, quality scoring (stopword ratio + length gate),
    language-ID heuristic (stopword hits + ASCII ratio), md5
    fingerprinting, and Gopher-style repetition signals
    (top-3-gram share, duplicate-3-gram share) (SURVEY north-star
    text analysis; composite of round-1 q_text_tokens +
    q_text_quality + q_lang_id + q_fingerprint + q_repetition_stats —
    ALL per-row Column work including the repetition signals, which
    run-length-scan each row's sorted gram array instead of exploding
    to (doc, gram) rows: the whole suite stays one narrow shuffle-free
    projection, plan-asserted).  The lowercased token array is
    materialized ONCE in a first projection and shared by the five
    word-level signals (the per-signal form re-split each document
    5×; same two-stacked-projection shape as gopher_quality_flags,
    values bit-identical so the oracle is unchanged)."""
    from rulemorph_spark.llm.text import (char_count,
                                          fingerprint_from_words,
                                          lang_id_en_from_words,
                                          repetition_cols_from_words,
                                          token_count, word_count)
    d = _t(spark, sf_dir, "documents", spread=True)
    t = F.col("text")
    base = d.select(
        "doc_id", "lang", t.alias("__t__"),
        F.split(F.lower(F.trim(t)), r"\s+").alias("__lw__"))
    tt = F.col("__t__")
    words = F.col("__lw__")
    stops = F.size(F.filter(words, lambda w: w.isin(*_STOPWORDS)))
    top_gram, dup_gram = repetition_cols_from_words(words, 3)
    return base.select(
        "doc_id", "lang",
        char_count(tt).cast("bigint").alias("chars"),
        word_count(tt).cast("bigint").alias("words"),
        token_count(tt).cast("bigint").alias("tokens"),
        F.round(stops.cast("double") / F.size(words).cast("double"), 6)
        .alias("stop_ratio"),
        (F.size(words) >= 5).alias("length_ok"),
        lang_id_en_from_words(words, tt).alias("lang_pred"),
        fingerprint_from_words(words).alias("fp"),
        top_gram.alias("top_gram_frac"),
        dup_gram.alias("dup_gram_frac"),
    )


# ---------------------------------------------------------------------
# dedup / similarity
# ---------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    """exact dedup: keep min doc_id per fingerprint (one hash shuffle)."""
    from rulemorph_spark.llm.text import fingerprint
    d = _t(spark, sf_dir, "documents")
    keyed = d.select(fingerprint(F.col("text")).alias("fp"), "doc_id")
    return (keyed.groupBy("fp")
            .agg(F.min("doc_id").alias("keep_id"),
                 F.count("*").alias("dupes"))
            .orderBy("keep_id"))


def q_doc_signatures(spark, sf_dir):
    """MinHash signatures (md5 double-hash family) + SimHash (16-bit
    md5 bit votes) per document, one pass (composite of round-1
    q_minhash_signature + q_simhash).  Shingles materialize in their
    own projection so the per-seed minima don't re-tokenize the text."""
    from rulemorph_spark.llm.dedup import (minhash_from_shingles,
                                           shingles, simhash64)
    d = _t(spark, sf_dir, "documents", spread=True)
    grams = d.select("doc_id", F.col("text").alias("__t__"),
                     shingles("text", 3).alias("__grams__"))
    sig = minhash_from_shingles("__grams__", num_hashes=4)
    return grams.select("doc_id", F.to_json(sig).alias("sig_json"),
                        simhash64("__t__", 16).alias("simhash"))


def q_lsh_band_buckets(spark, sf_dir):
    """LSH banding: bucket sizes per band key (candidate generation)."""
    from rulemorph_spark.llm.dedup import (lsh_band_keys,
                                           minhash_from_shingles, shingles)
    d = _t(spark, sf_dir, "documents", spread=True)
    grams = d.select("doc_id",
                     shingles("text", 3).alias("__grams__"))
    sig_df = grams.select(
        "doc_id",
        minhash_from_shingles("__grams__", num_hashes=4)
        .alias("__sig__"))
    banded = sig_df.select(
        "doc_id",
        F.posexplode(lsh_band_keys(F.col("__sig__"), bands=2,
                                   rows_per_band=2))
        .alias("band", "band_key"))
    return (banded.groupBy("band", "band_key")
            .agg(F.count("*").alias("bucket_size"),
                 F.min("doc_id").alias("min_doc"))
            .filter(F.col("bucket_size") > 1))


def q_jaccard_pairs(spark, sf_dir):
    """n-gram Jaccard verification on two candidate streams, one
    result surface (composite of round-1 q_ngram_jaccard +
    q_minhash_dedup_pairs): 'adjacent' — a deterministic sample of
    document pairs; 'minhash_lsh' — the full fuzzy-dedup pipeline
    (MinHash → LSH banding → candidates → Jaccard ≥ 0.5; shuffle only
    on band keys, verification only on candidates)."""
    from rulemorph_spark.llm.dedup import (jaccard_ngram,
                                           minhash_lsh_candidates)
    d = _t(spark, sf_dir, "documents", spread=True)
    adj_base = d.filter(F.col("doc_id") < 40)
    a = adj_base.select(F.col("doc_id").alias("id_a"),
                        F.col("text").alias("ta"))
    b = adj_base.select(F.col("doc_id").alias("id_b"),
                        F.col("text").alias("tb"))
    adj = (a.join(b, F.col("id_a") + 1 == F.col("id_b"))
           .select(F.lit("adjacent").alias("pair_src"), "id_a", "id_b",
                   F.round(jaccard_ngram("ta", "tb", 3), 6)
                   .alias("jaccard")))
    cand = minhash_lsh_candidates(d, "doc_id", "text", num_hashes=4,
                                  bands=2)
    ca = d.select(F.col("doc_id").alias("id_a"),
                  F.col("text").alias("__ta__"))
    cb = d.select(F.col("doc_id").alias("id_b"),
                  F.col("text").alias("__tb__"))
    mh = (cand.join(ca, "id_a").join(cb, "id_b")
          .select(F.lit("minhash_lsh").alias("pair_src"), "id_a", "id_b",
                  F.round(jaccard_ngram("__ta__", "__tb__",
                                        3), 6).alias("jaccard"))
          .filter(F.col("jaccard") >= 0.5))
    return adj.unionAll(mh)


def q_ann_topk(spark, sf_dir):
    """ANN top-k, all three strategies on one result surface (composite
    of round-1 q_embedding_topk + q_ivf_topk + q_lsh_topk): 'brute' —
    exact broadcast baseline (k=5); 'ivf' — probe 2 of 8 coarse cells;
    'lsh' — random-hyperplane sign buckets + Hamming-1 multiprobe.
    Signatures/centroid picks are integer-exact so the oracle replays
    each strategy bit-for-bit."""
    from rulemorph_spark.llm.similarity import (brute_force_scored,
                                                ivf_scored, lsh_scored)
    e = _t(spark, sf_dir, "embeddings", spread=True)
    # query/centroid sides are a handful of rows after their vec_id
    # filters — read them un-spread so they don't pay the round-robin
    # Exchange meant for the corpus side (guide §2.4)
    tiny = _t(spark, sf_dir, "embeddings")
    bf = (brute_force_scored(e, tiny.filter(F.col("vec_id") < 3),
                             "vec_id", "embedding")
          .select(F.lit("brute").alias("method"), "query_id", "neighbor",
                  "cosine"))
    centroids = (tiny.filter(F.col("vec_id") < 8)
                 .select(F.col("vec_id").alias("cell"),
                         F.col("embedding").alias("cvec")))
    queries_df = tiny.filter((F.col("vec_id") >= 8) &
                             (F.col("vec_id") < 11))
    ivf = (ivf_scored(e, queries_df, centroids, "vec_id", "embedding",
                      nprobe=2)
           .select(F.lit("ivf").alias("method"), "query_id", "neighbor",
                   "cosine"))
    lsh = (lsh_scored(e, queries_df, "vec_id", "embedding", nbits=6)
           .select(F.lit("lsh").alias("method"), "query_id", "neighbor",
                   "cosine"))
    # ONE shared rank window over all three strategies (guide §2.4:
    # the per-strategy windows cost one Exchange each; partitioning by
    # (method, query_id) ranks each strategy independently under a
    # single Exchange).  The constant rank<=5 keeps the
    # WindowGroupLimit pushdown; the per-method k (brute 5, ivf/lsh 3)
    # is applied exactly afterwards — identical rows to the former
    # three per-leg windows.
    w = Window.partitionBy("method", "query_id") \
        .orderBy(F.col("cosine").desc(), F.col("neighbor").asc())
    ranked = (bf.unionAll(ivf).unionAll(lsh)
              .withColumn("rank", F.row_number().over(w))
              .filter(F.col("rank") <= 5))
    return ranked.filter((F.col("method") == "brute") |
                         (F.col("rank") <= 3))


def q_json_props_variant(spark, sf_dir):
    """dynamic JSON columns as VariantType — the engine's record
    representation applied to a typed table (events.props)."""
    e = _t(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    return (e.select("event_id",
                     F.variant_get(v, "$.k", "long").alias("k"))
            .groupBy().agg(F.count("*").alias("n"),
                           F.sum("k").alias("sum_k"),
                           F.min("k").alias("min_k"),
                           F.max("k").alias("max_k")))


def q_object_merge(spark, sf_dir):
    """merge/entries-style object ops over struct columns → JSON."""
    c = _t(spark, sf_dir, "customer")
    base = F.struct(F.col("c_custkey").alias("id"),
                    F.col("c_mktsegment").alias("segment"))
    override = F.struct(F.col("c_name").alias("name"),
                        F.lit("v2").alias("segment"))
    merged = F.struct(base["id"].alias("id"),
                      override["segment"].alias("segment"),
                      override["name"].alias("name"))
    return c.select("c_custkey", F.to_json(merged).alias("merged_json"))


def q_set_ops(spark, sf_dir):
    """intersect/except across datasets (Spark-native set operators)."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_totalprice") > 100000.0).select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    inter = a.intersect(b).withColumn("op", F.lit("both"))
    only_a = a.subtract(b).withColumn("op", F.lit("high_only"))
    return inter.unionAll(only_a)


def q_grouping_sets(spark, sf_dir):
    """grouping-sets aggregation with GROUPING() disambiguation —
    covers the whole rollup family (round-1 q_rollup_agg merged in:
    rollup's three sets are computed via the DataFrame ``rollup`` API,
    the remaining (l_linestatus) set via a plain groupBy union — one
    result, both APIs exercised, rollup ⊂ grouping sets verified by
    the single GROUPING SETS oracle)."""
    li = _t(spark, sf_dir, "lineitem")

    def qty():
        return (F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                .cast("double").alias("qty"))

    roll = (li.rollup("l_returnflag", "l_linestatus")
            .agg(F.grouping("l_returnflag").cast("int").alias("g_flag"),
                 F.grouping("l_linestatus").cast("int").alias("g_status"),
                 F.count("*").alias("n"), qty())
            .select("l_returnflag", "l_linestatus", "g_flag", "g_status",
                    "n", "qty"))
    extra = (li.groupBy("l_linestatus")
             .agg(F.count("*").alias("n"), qty())
             .select(F.lit(None).cast("string").alias("l_returnflag"),
                     "l_linestatus", F.lit(1).alias("g_flag"),
                     F.lit(0).alias("g_status"), "n", "qty"))
    return roll.unionAll(extra)


def _us(col):
    """event timestamp → epoch microseconds (long).  events.ts is a
    parquet timestamp[us] read as TIMESTAMP_NTZ; with the session tz
    pinned to UTC this matches DuckDB's epoch_us(ts) exactly."""
    return F.unix_micros(col.cast("timestamp"))


def q_events_time_window(spark, sf_dir):
    """event-time tumbling-window aggregation (the batch shape of the
    streaming windowed agg)."""
    e = _t(spark, sf_dir, "events")
    minute = F.floor(_us(F.col("ts")) / F.lit(60_000_000)).cast("long")
    return (e.groupBy(minute.alias("minute_bucket"),
                      F.col("event_type"))
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("value").cast("decimal(18,4)"))
                 .cast("double").alias("sum_value")))


_TYPED_TABLE_RULE = """
version: 2
input: {format: json}
record_when: {gte: ["@input.l_quantity", 10]}
mappings:
  - target: okey
    source: l_orderkey
  - target: net
    expr:
      - "@input.l_discount"
      - coalesce: [0.0]
      - multiply: ["@input.l_extendedprice"]
      - round: [2]
  - target: flag_status
    expr: ["@input.l_returnflag", {concat: ["-", "@input.l_linestatus"]}]
  - target: qty_int
    source: l_quantity
    type: int
  - target: flag_g
    expr: ["@input.fs", {get: ["flag"]}]
  - target: part_m
    expr: ["@input.fs", {merge: ["@input.pk"]}, {get: ["part"]}]
  - target: fs_keys
    expr: ["@input.fs", {keys: []}]
  - target: n_fields
    expr: ["@input.fs", {merge: ["@input.pk"]}, {len: []}]
  - target: status_p
    expr: ["@input.fs", {pick: ["status"]}, {get: ["status"]}]
  - target: rf0
    expr: ["@input.rfs[0]"]
  - target: oob
    expr: ["@input.rfs[7]", {coalesce: ["none"]}]
  - target: fm_rf
    expr: ["@input.fm.rf", {concat: ["@input.fm.ls"]}]
  - target: ship_day
    expr:
      - "@input.l_shipdate"
      - date_format: ["%Y.%m.%d", "%Y-%m-%d %H:%M:%S"]
"""


def q_rule_typed_transform(spark, sf_dir):
    """The rule engine's typed fast path over a parquet table
    (compiler/typed.py): rule semantics compiled onto native columns —
    no variant ops in-plan, record_when pushed to the scan.  The fs/pk
    struct columns route the round-3 typed OBJECT ops (get / merge /
    pick / keys / len compile to struct expressions, zero variant
    decoding — `compiler/typed.py` "object ops on native struct
    columns"; reference semantics ``transform.rs:4360-5143``).

    The `keys` op yields array<string>; the driver's canonicalizer
    hashes pandas values and cannot sort a list column, so the gated
    projection flattens it with array_join AFTER the typed transform —
    the typed `keys` plan is still fully exercised in-plan.

    Round 4: the rfs array and fm map columns route the typed STATIC
    NAVIGATION paths (`compiler/typed.py:_walk_tokens`) — `[0]` /
    out-of-bounds `[7]`-is-missing on an array column, key probes on a
    map column — under the driver gate."""
    from rulemorph_spark.engine import transform_table
    li = _t(spark, sf_dir, "lineitem")
    shaped = li.select(
        "*",
        F.struct(F.col("l_returnflag").alias("flag"),
                 F.col("l_linestatus").alias("status")).alias("fs"),
        F.struct(F.col("l_partkey").alias("part"),
                 F.col("l_suppkey").alias("supp")).alias("pk"),
        F.array(F.col("l_returnflag"),
                F.col("l_linestatus")).alias("rfs"),
        F.create_map(F.lit("rf"), F.col("l_returnflag"),
                     F.lit("ls"), F.col("l_linestatus")).alias("fm"))
    out = transform_table(shaped, _TYPED_TABLE_RULE, mode="typed")
    return out.withColumn("fs_keys", F.array_join("fs_keys", ","))


_HOUR_US = 3_600_000_000


def q_asof_join(spark, sf_dir):
    """backward as-of join (union-merge shape, no range explosion): each
    click attributed to the user's latest view at or before it."""
    from rulemorph_spark.functions.relational import asof_join
    e = _t(spark, sf_dir, "events")
    clicks = (e.filter(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_id"), "user_id",
                      _us(F.col("ts")).alias("ts")))
    views = (e.filter(F.col("event_type") == "view")
             .select("user_id", _us(F.col("ts")).alias("ts"),
                     F.col("event_id").alias("view_id"),
                     F.col("value").alias("view_value"),
                     _us(F.col("ts")).alias("view_ts")))
    out = asof_join(clicks, views, "user_id", "user_id", "ts", "ts",
                    ["view_id", "view_value", "view_ts"],
                    tiebreak="view_id")
    return (out.select("click_id", "user_id", "view_id", "view_value",
                       F.floor((F.col("ts") - F.col("view_ts"))
                               / F.lit(1_000_000))
                       .cast("long").alias("gap_s")))


def q_range_join(spark, sf_dir):
    """interval join via time-binning (equi-join on (key, bin) + band
    filter — no per-key cross product): clicks in the hour before each
    purchase.  Money sums go through integer cents for engine-exact
    totals."""
    from rulemorph_spark.functions.relational import range_join_binned
    e = _t(spark, sf_dir, "events")
    purch = (e.filter(F.col("event_type") == "purchase")
             .select(F.col("event_id").alias("purchase_id"), "user_id",
                     _us(F.col("ts")).alias("ts")))
    clicks = (e.filter(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user"),
                      _us(F.col("ts")).alias("c_ts"),
                      F.col("value").alias("c_value")))
    pairs = range_join_binned(purch, clicks, "user_id", "c_user",
                              "ts", "c_ts", -_HOUR_US, 0, _HOUR_US)
    cents = F.floor(F.col("c_value") * 10000 + 0.5).cast("long")
    agg = (pairs.groupBy("purchase_id")
           .agg(F.count("*").alias("n_clicks"),
                (F.sum(cents) / F.lit(10000.0)).alias("click_value")))
    return (purch.join(agg, "purchase_id", "left")
            .select("purchase_id", "user_id",
                    F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
                    F.coalesce("click_value", F.lit(0.0))
                    .alias("click_value")))


def q_skew_salted_join(spark, sf_dir):
    """salted equi-join (hot-key spreading) proven equal to the plain
    join: lineitem⋈orders aggregated per priority."""
    from rulemorph_spark.functions.relational import salted_join
    li = (_t(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_extendedprice", "l_discount"))
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = salted_join(li, o, "l_orderkey", "o_orderkey", salt=8)
    cents = F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    * 10000 + 0.5).cast("long")
    return (joined.groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"),
                 (F.sum(cents) / F.lit(10000.0)).alias("revenue")))


def q_percentile_groups(spark, sf_dir):
    """exact grouped percentiles (median/p25/p90) — the sort-based exact
    path; at 100 TB swap in approx_percentile's t-digest sketch."""
    li = _t(spark, sf_dir, "lineitem")
    pct = F.percentile("l_quantity", F.array(F.lit(0.25), F.lit(0.5),
                                             F.lit(0.9)))
    qs = F.transform(pct, lambda x: F.round(x, 6))
    return (li.groupBy("l_returnflag")
            .agg(F.to_json(qs).alias("quantiles"),
                 F.count("*").alias("n")))


def q_bloom_join(spark, sf_dir):
    """Bloom-pruned semi + anti join on one result surface, EXACT by
    construction (round 2): every orders row is routed 'semi' (its
    customer is in the BUILDING segment) or 'anti' (it is not) via
    a dim-built Bloom filter applied BEFORE the shuffle — the
    semi-join-reduction shape that keeps a selective 100 TB join from
    shuffling the whole fact side.  No false negatives + exact join on
    the candidates ⇒ the result is independent of the filter, which is
    what the plain-SQL oracle checks.  r9: the two-branch union
    (semi ∪ anti) evaluated the fact scan + probe TWICE — Spark shares
    no common subplans across union branches — so both sides now route
    through ONE pass (`bloom_route`, results identical, 1.01 s →
    0.42 s at sf0.1; the probe itself is the r9 codegen bit-literal,
    no ArrowEvalPython)."""
    from rulemorph_spark.functions.relational import bloom_route
    orders = _t(spark, sf_dir, "orders")
    dim = (_t(spark, sf_dir, "customer")
           .filter(F.col("c_mktsegment") == "BUILDING")
           .select("c_custkey"))
    routed = bloom_route(orders, dim, "o_custkey", "c_custkey")
    return routed.select(
        F.when(F.col("__match__"), F.lit("semi")).otherwise(F.lit("anti"))
        .alias("side"), "o_orderkey", "o_custkey")


def q_lm_quality(spark, sf_dir):
    """Unigram language-model quality scoring (round 2): train on the
    corpus, score every document by per-token NLL — the CCNet /
    RedPajama-style quality signal.  All log-probs are integer
    micro-units so partial sums are exact under any partitioning; the
    model table is broadcast, the corpus never shuffles except the
    per-doc fold."""
    from rulemorph_spark.llm.lm import lm_quality
    d = _t(spark, sf_dir, "documents")
    return lm_quality(d)


def q_embedding_cluster_dedup(spark, sf_dir):
    """embedding near-dup pairs via banded random-hyperplane LSH
    (nbits=12, 2 bands) + exact cosine on candidates — the rebuilt
    form of the round-1 sign-of-first-4-dims bucket (VERDICT #4)."""
    from rulemorph_spark.llm.dedup import dedup_embedding_cosine
    e = _t(spark, sf_dir, "embeddings")
    return dedup_embedding_cosine(e, "vec_id", "embedding",
                                  threshold=0.2, nbits=12, bands=2)


def q_corpus_clean(spark, sf_dir):
    """end-to-end corpus cleaning (C4-style): language gate → quality
    gate → exact dedup keep-first, all one plan with a single shuffle
    (the dedup partitionBy)."""
    from rulemorph_spark.llm.text import (fingerprint, lang_id_en,
                                          quality_score, token_count)
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    scored = d.select(
        "doc_id",
        lang_id_en(t).alias("lang_pred"),
        F.round(quality_score(t), 6).alias("quality"),
        token_count(t).cast("bigint").alias("n_tokens"),
        fingerprint(t).alias("fp"))
    gated = scored.filter((F.col("lang_pred") == "en") &
                          (F.col("quality") >= 0.66))
    w = Window.partitionBy("fp").orderBy("doc_id")
    kept = (gated.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1))
    return kept.select("doc_id", "n_tokens", "quality")


_TYPED_STEPS_RULE = """
version: 2
input: {format: json}
steps:
  - mappings:
      - target: okey
        source: l_orderkey
      - target: rev
        expr: ["@input.l_extendedprice", {multiply: [0.9]}, {round: [2]}]
  - record_when: {gte: ["@out.rev", 40000]}
  - mappings:
      - target: band
        expr:
          - "@out.rev"
          - if:
              cond: {gte: ["$", 70000]}
              then: "high"
              else: "mid"
"""


def q_rule_typed_steps(spark, sf_dir):
    """steps rule (ordered mappings → record_when on @out → @out-chained
    mapping with if) through the typed fast path on a parquet table."""
    from rulemorph_spark.engine import transform_table
    li = _t(spark, sf_dir, "lineitem")
    return transform_table(li, _TYPED_STEPS_RULE, mode="typed")


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization both ways on one result surface
    (composite of round-1 q_sessionize_batch + q_session_window):
    the batch lag+running-sum shape (the SQL form of
    streaming/stateful.py's sessionizer) joined per (user, session
    ordinal) to Spark's native ``session_window`` aggregation — the
    same 30-minute-gap sessions produced by two independent engines'
    worth of semantics, verified as one row set (counts/values from
    the batch path, start/end bounds from the native path)."""
    from rulemorph_spark.streaming.windows import (event_time,
                                                   session_window_agg)
    e = (_t(spark, sf_dir, "events")
         .select("user_id", _us(F.col("ts")).alias("ts"), "event_id",
                 "value"))
    gap_us = 1_800_000_000
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    is_new = F.when(prev.isNull() |
                    ((F.col("ts") - prev) > gap_us), 1).otherwise(0)
    run = (e.select("user_id", "ts", "event_id", "value",
                    is_new.alias("is_new"))
           .select("*", F.sum("is_new").over(
               w.rowsBetween(Window.unboundedPreceding, 0))
               .alias("session_idx")))
    cents = F.floor(F.col("value") * 10000 + 0.5).cast("long")
    batch = (run.groupBy("user_id", "session_idx")
             .agg(F.count("*").alias("n_events"),
                  (F.sum(cents) / F.lit(10000.0)).alias("session_value")))
    ets = (_t(spark, sf_dir, "events")
           .select(event_time(F.col("ts")).alias("ets"), "user_id",
                   "value"))
    native = session_window_agg(ets, "ets", keys=["user_id"],
                                gap="30 minutes", value_col="value")
    wn = Window.partitionBy("user_id").orderBy("session_start_us")
    native_idx = native.select(
        "user_id",
        F.row_number().over(wn).cast("long").alias("session_idx"),
        "session_start_us", "session_end_us")
    return batch.join(native_idx, ["user_id", "session_idx"])


_TYPED_ARRAYS_RULE = """
version: 2
input: {format: json}
mappings:
  - target: doc_id
    source: doc_id
  - target: first3
    expr: ["@input.text", {trim: []}, {split: [" "]}, {take: [3]}]
  - target: n_uniq
    expr: ["@input.text", {trim: []}, {split: [" "]}, {unique: []},
           {len: []}]
  - target: has_spark
    expr: ["@input.text", {trim: []}, {split: [" "]},
           {contains: ["spark"]}]
  - target: long_words
    expr: ["@input.text", {trim: []}, {split: [" "]},
           {filter: [["@item", {len: []}, {gte: [6]}]]}, {len: []}]
"""


def q_rule_typed_arrays(spark, sf_dir):
    """array pipeline (split → take/unique/contains/filter with @item
    lambdas) through the typed fast path: native array<string> HOFs,
    no variant decoding."""
    from rulemorph_spark.engine import transform_table
    d = _t(spark, sf_dir, "documents")
    out = transform_table(d, _TYPED_ARRAYS_RULE, mode="typed")
    return out.select("doc_id", F.to_json("first3").alias("first3"),
                      "n_uniq", "has_spark", "long_words")


_DYN_GET_RULE = """
version: 2
input: {format: json}
mappings:
  - target: event_id
    source: event_id
  - target: kv
    expr: ["@input.m", {get: ["@input.key"]}]
    required: false
    default: -1
"""


def q_dynamic_get_props(spark, sf_dir):
    """per-row dynamic ``get`` key over a string-keyed map — typed-
    native since round 5 (``compiler/typed._t_get_dynamic``): the
    events ``props`` JSON parses into a map column and the key is
    chosen per row from ``event_type``; absent keys take the mapping
    default.  The whole rule stays on the typed path (no variant
    decode) as a narrow zero-shuffle projection."""
    from rulemorph_spark.engine import transform_table
    ev = _t(spark, sf_dir, "events")
    df = ev.select(
        "event_id",
        F.from_json("props", "map<string,bigint>").alias("m"),
        F.when(F.col("event_type").isin("click", "view"), F.lit("k"))
        .otherwise(F.lit("absent")).alias("key"))
    out = transform_table(df, _DYN_GET_RULE, mode="typed")
    return out.select("event_id",
                      F.col("kv").cast("bigint").alias("kv"))


def q_doc_chunks(spark, sf_dir):
    """document chunking: overlapping 32-token windows (stride 24) —
    the context-window prep step of a pretraining pipeline.  Narrow
    per-doc HOF work + posexplode; no shuffle, linear scale-out."""
    from rulemorph_spark.llm.text import chunk_documents
    d = _t(spark, sf_dir, "documents")
    return (chunk_documents(d, chunk_tokens=32, overlap=8)
            .select("doc_id",
                    F.col("chunk_index").cast("bigint")
                    .alias("chunk_index"),
                    "chunk_text",
                    F.col("n_tokens").cast("bigint").alias("n_tokens")))


def q_pii_redact(spark, sf_dir):
    """PII redaction: mask emails/phones with typed tags + per-doc
    count.  Deterministic synthetic PII is appended first (the corpus
    is PII-free word salad) so redaction counts are nonzero.  One
    narrow regex projection — no shuffle."""
    from rulemorph_spark.llm.text import pii_count, redact_pii
    d = _t(spark, sf_dir, "documents")
    salted = F.concat(
        F.col("text"), F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"))
    return d.select("doc_id",
                    redact_pii(salted).alias("redacted"),
                    pii_count(salted).cast("bigint").alias("n_pii"))


def q_decontaminate(spark, sf_dir):
    """benchmark decontamination: flag training docs sharing any
    8-token shingle with the eval slice (doc_id % 97 == 0 stands in
    for the benchmark set).  The tiny benchmark shingle set is
    broadcast — the corpus side never shuffles until the per-doc
    count fold."""
    from rulemorph_spark.llm.text import decontaminate
    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return decontaminate(corpus, bench, n=8) \
        .select("doc_id", F.col("n_hit_shingles").cast("bigint")
                .alias("n_hit_shingles"))


def q_dup_clusters(spark, sf_dir):
    """duplicate-graph composite (round-6 merge of the former
    q_shingle_edges row so the registry fits the driver's 50-entry
    correctness window — VERDICT r5 #1):

    * part='cluster' — embedding near-dup pairs (LSH buckets + cosine
      ≥ 0.3) → connected components via iterative min-label
      propagation (the large-graph Spark shape: each round a
      distributed join + min-agg, driver only checks convergence);
      (a=node, b=component, n_shared=NULL).
    * part='shingle_edge' — shingle-overlap candidate edges WITH the
      document-frequency cap in-plan (VERDICT r1 #5): doc pairs
      sharing ≥2 distinct 5-token shingles, hot shingles (df > 50)
      dropped before the self-join — the cap stays part of the
      verified surface; (a=src, b=dst, n_shared).

    The oracle replays the CC half with a DuckDB recursive CTE
    (convergence makes both exact) and the edge half with the same
    df-capped self-join."""
    from rulemorph_spark.llm.dedup import (connected_components,
                                           dedup_embedding_cosine,
                                           shingle_overlap_edges)
    e = _t(spark, sf_dir, "embeddings")
    pairs = dedup_embedding_cosine(e, "vec_id", "embedding",
                                   threshold=0.3, nbits=12, bands=2)
    clusters = (connected_components(pairs, src="id_a", dst="id_b")
                .select(F.lit("cluster").alias("part"),
                        F.col("node").cast("bigint").alias("a"),
                        F.col("comp").cast("bigint").alias("b"),
                        F.lit(None).cast("bigint").alias("n_shared")))
    d = _t(spark, sf_dir, "documents")
    edges = (shingle_overlap_edges(d, n=5, min_shared=2, max_df=50)
             .select(F.lit("shingle_edge").alias("part"),
                     F.col("src").cast("bigint").alias("a"),
                     F.col("dst").cast("bigint").alias("b"),
                     F.col("n_shared").cast("bigint").alias("n_shared")))
    return clusters.unionAll(edges)


def q_sampling(spark, sf_dir):
    """Sampling suite on one result surface (composite of round-1
    q_stratified_sample + q_hash_sample + q_mixture_sample):
    'stratified' — deterministic k-per-language ranked by md5(doc_id),
    one window shuffle on the stratum key; 'hash' — ~10%
    Bernoulli-by-hash, narrow filter, no shuffle; 'mixture' —
    per-source Bernoulli rates by hashed id (sources outside the
    mixture drop to weight 0).  All reproducible across runs and
    engines, unlike RNG df.sample."""
    from rulemorph_spark.llm.sampling import (hash_sample, mixture_sample,
                                              stratified_sample)
    d = _t(spark, sf_dir, "documents")
    null_rank = F.lit(None).cast("bigint").alias("sample_rank")
    strat = (stratified_sample(d, "lang", 20)
             .select(F.lit("stratified").alias("method"), "doc_id",
                     F.col("lang").alias("attr"),
                     F.col("sample_rank").cast("bigint")
                     .alias("sample_rank")))
    hs = (hash_sample(d, 0.1)
          .select(F.lit("hash").alias("method"), "doc_id",
                  F.col("lang").alias("attr"), null_rank))
    mix = (mixture_sample(d, "source", _MIXTURE_WEIGHTS)
           .select(F.lit("mixture").alias("method"), "doc_id",
                   F.col("source").alias("attr"), null_rank))
    return strat.unionAll(hs).unionAll(mix)


def q_vocab_topk(spark, sf_dir):
    """corpus vocabulary statistics: top-20 words by frequency.
    Partial (map-side) aggregation then a 20-row TakeOrdered — the
    shuffle carries only distinct words, not the corpus."""
    d = _t(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        .alias("word"))
    counts = words.groupBy("word").agg(F.count("*").alias("n"))
    return counts.orderBy(F.col("n").desc(), "word").limit(20)


def q_tfidf_topterms(spark, sf_dir):
    """TF-IDF top-3 terms per document: per-doc TF agg + corpus DF agg
    meeting in a broadcast join on the (small) vocabulary."""
    from rulemorph_spark.llm.text import tfidf_top_terms
    d = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(d, "text", "doc_id", k=3)


_MIXTURE_WEIGHTS = {"src0": 1.0, "src1": 0.6, "src2": 0.3, "src3": 0.1}


def q_token_packing(spark, sf_dir):
    """token-budget binning (sequence-packing shape): running token
    count per source, bin = floor(preceding/budget); aggregated to
    per-bin sizes for a stable comparison surface."""
    from rulemorph_spark.llm.text import assign_token_bins, token_count
    d = _t(spark, sf_dir, "documents")
    sized = d.select("doc_id", "source",
                     token_count(F.col("text")).cast("long")
                     .alias("tokens"))
    binned = assign_token_bins(sized, "tokens", budget=2000,
                               part_col="source", order_col="doc_id")
    return (binned.groupBy("source", "bin")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("tokens").alias("total_tokens")))


def q_multimodal_probe(spark, sf_dir):
    """REAL codec path, oracle-gated end-to-end: per doc_id the query
    ENCODES a deterministic PNG (even ids) or PCM WAV (odd ids) with
    the repo's own stdlib encoders (llm/codecs.py) and then PARSES the
    bytes back through ``extract_features`` — so
    width/height/channels/sample_rate/n_frames/duration_ms in the
    result come from genuine byte-level PNG/WAV header decoding.  The
    oracle predicts every field with pure doc_id arithmetic, so any
    mis-parse (wrong endianness, wrong chunk walk, off-by-one in the
    RIFF frame math) breaks the hash.  ``error`` is projected too:
    a single corrupt encode would surface as a non-NULL mismatch.
    Encode happens in one Arrow-batched mapInPandas stage — no
    shuffle; the decode stage preserves partitioning (pure map)."""
    from rulemorph_spark.llm.multimodal import extract_features

    d = _t(spark, sf_dir, "documents").select("doc_id")

    def encode_batches(it):
        import numpy as np
        import pandas as pd
        from rulemorph_spark.llm import codecs
        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                if i % 2 == 0:
                    w, h = 1 + (i * 7) % 40, 1 + (i * 13) % 30
                    img = np.full((h, w, 3), i % 256, dtype=np.uint8)
                    rows.append({"media_id": i, "kind": "image",
                                 "payload": codecs.encode_png(img)})
                else:
                    sr = 8000 + (i % 5) * 2000
                    nf = 100 + (i * 11) % 900
                    ch = 1 + i % 2
                    pcm = np.zeros((nf, ch), dtype=np.int16)
                    rows.append({"media_id": i, "kind": "audio",
                                 "payload": codecs.encode_wav(pcm, sr)})
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "payload"])

    media = d.mapInPandas(
        encode_batches, "media_id long, kind string, payload binary")
    feats = extract_features(media)
    return feats.select("media_id", "kind", "format", "width", "height",
                        "channels", "sample_rate", "n_frames",
                        "duration_ms", "error")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """50 entries — consolidated from round 1's 69 so the driver's
    50-entry correctness window covers the ENTIRE registry (round-1
    gate saw only the first 50; near-duplicate same-grain queries are
    merged into composites whose columns are the union of the
    originals, so every operator family keeps a hard-gate row)."""
    return {
        # rule-engine relational surface
        "q_project_cast": q_project_cast,
        "q_record_when": q_record_when,
        "q_mapping_defaults": q_mapping_defaults,
        "q_lookup": q_lookup,
        "q_sort_limit_offset": q_sort_limit_offset,
        "q_branch_union": q_branch_union,
        "q_steps_pipeline": q_steps_pipeline,
        "q_finalize_wrap": q_finalize_wrap,
        # scalar ops
        "q_string_ops": q_string_ops,
        "q_replace_split_pad": q_replace_split_pad,
        "q_numeric_round_base": q_numeric_round_base,
        "q_date_ops": q_date_ops,
        "q_casts_coalesce": q_casts_coalesce,
        # aggregation / window
        "q_agg_pricing_summary": q_agg_pricing_summary,
        "q_window_rank": q_window_rank,
        "q_distinct_groups": q_distinct_groups,
        "q_grouping_sets": q_grouping_sets,
        # array ops
        "q_array_ops": q_array_ops,
        # text analysis
        "q_text_metrics": q_text_metrics,
        "q_lm_quality": q_lm_quality,
        # dedup / similarity
        "q_dedup_exact": q_dedup_exact,
        "q_doc_signatures": q_doc_signatures,
        "q_lsh_band_buckets": q_lsh_band_buckets,
        "q_jaccard_pairs": q_jaccard_pairs,
        "q_embedding_cluster_dedup": q_embedding_cluster_dedup,
        "q_ann_topk": q_ann_topk,
        "q_dup_clusters": q_dup_clusters,
        # variant / object / set ops
        "q_json_props_variant": q_json_props_variant,
        "q_object_merge": q_object_merge,
        "q_set_ops": q_set_ops,
        # typed rule engine on tables
        "q_rule_typed_transform": q_rule_typed_transform,
        "q_rule_typed_steps": q_rule_typed_steps,
        "q_rule_typed_arrays": q_rule_typed_arrays,
        "q_dynamic_get_props": q_dynamic_get_props,
        # event-time / sessionization / joins
        "q_events_time_window": q_events_time_window,
        "q_sessionize": q_sessionize,
        "q_asof_join": q_asof_join,
        "q_range_join": q_range_join,
        "q_skew_salted_join": q_skew_salted_join,
        "q_percentile_groups": q_percentile_groups,
        "q_bloom_join": q_bloom_join,
        # LLM corpus pipeline
        "q_corpus_clean": q_corpus_clean,
        "q_doc_chunks": q_doc_chunks,
        "q_pii_redact": q_pii_redact,
        "q_decontaminate": q_decontaminate,
        "q_vocab_topk": q_vocab_topk,
        "q_tfidf_topterms": q_tfidf_topterms,
        "q_multimodal_probe": q_multimodal_probe,
        "q_token_packing": q_token_packing,
        "q_sampling": q_sampling,
    }


_SQL_STOPWORDS = "(" + ",".join(f"'{w}'" for w in _STOPWORDS) + ")"


def oracle_sql() -> dict[str, str]:
    return {
        "q_project_cast": """
            SELECT CAST(l_orderkey AS VARCHAR) AS id_str,
                   CAST(CAST(l_quantity AS VARCHAR) AS DOUBLE) AS qty,
                   CAST(CAST(l_orderkey AS VARCHAR) AS BIGINT) AS id_int,
                   l_orderkey, l_linenumber
            FROM lineitem
        """,
        "q_record_when": """
            SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            WHERE o_totalprice > 150000.0 AND o_orderstatus = 'O'
        """,
        "q_mapping_defaults": """
            SELECT c_custkey,
                   CASE WHEN c_acctbal < 0 THEN 'negative'
                        WHEN c_acctbal < 5000 THEN 'standard'
                        ELSE 'premium' END AS tier,
                   CASE WHEN c_mktsegment = 'BUILDING' THEN c_name END
                       AS building_name,
                   COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'N/A')
                       AS segment_or_default
            FROM customer
        """,
        "q_lookup": """
            WITH first AS (
              SELECT o_orderkey, c_name, c_mktsegment
              FROM orders LEFT JOIN customer ON o_custkey = c_custkey),
            allm AS (
              SELECT o_orderkey,
                     to_json(COALESCE(
                         list_sort(list(l_partkey)
                                   FILTER (l_partkey IS NOT NULL)),
                         CAST([] AS BIGINT[]))) AS partkeys_json
              FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
              WHERE o_orderkey % 100 = 0
              GROUP BY o_orderkey)
            SELECT f.o_orderkey, f.c_name, f.c_mktsegment, a.partkeys_json
            FROM first f LEFT JOIN allm a USING (o_orderkey)
        """,
        "q_sort_limit_offset": """
            SELECT o_orderkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey ASC
            LIMIT 20 OFFSET 5
        """,
        "q_branch_union": """
            SELECT o_orderkey, 'high' AS route,
                   o_totalprice * 0.9 AS adjusted
            FROM orders WHERE o_totalprice >= 200000.0
            UNION ALL
            SELECT o_orderkey, 'low' AS route, o_totalprice AS adjusted
            FROM orders WHERE o_totalprice < 200000.0
        """,
        "q_steps_pipeline": """
            WITH step1 AS (
              SELECT l_orderkey, l_linenumber,
                     l_extendedprice * (1 - l_discount) AS revenue
              FROM lineitem)
            SELECT l_orderkey, l_linenumber,
                   floor(revenue * 100 + 0.5) / 100 AS revenue_r,
                   revenue > 50000.0 AS big
            FROM step1 WHERE revenue > 10000.0
        """,
        "q_finalize_wrap": """
            SELECT COUNT(*) AS total,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                        AS DOUBLE) AS sum_price,
                   MIN(o_orderkey) AS first_key,
                   MAX(o_orderkey) AS last_key
            FROM orders
        """,
        "q_string_ops": """
            SELECT c_custkey,
                   c_name || ':' || c_mktsegment AS joined,
                   UPPER(c_mktsegment) AS seg_upper,
                   LOWER(c_name) AS name_lower,
                   CAST(LENGTH(c_name) AS BIGINT) AS name_len
            FROM customer
        """,
        "q_replace_split_pad": """
            SELECT p_partkey,
                   CASE WHEN strpos(p_type, ' ') = 0 THEN p_type
                        ELSE substr(p_type, 1, strpos(p_type, ' ') - 1)
                             || '_' ||
                             substr(p_type, strpos(p_type, ' ') + 1)
                   END AS first_us,
                   REPLACE(p_type, ' ', '_') AS all_us,
                   regexp_replace(p_type, '[AEIOU]', '*', 'g') AS regex_all,
                   string_split(p_type, ' ')[1] AS first_tok,
                   CAST(len(string_split(p_type, ' ')) AS INTEGER)
                       AS n_toks,
                   CASE WHEN LENGTH(CAST(p_partkey AS VARCHAR)) >= 8
                        THEN CAST(p_partkey AS VARCHAR)
                        ELSE lpad(CAST(p_partkey AS VARCHAR), 8, '0') END
                       AS padded,
                   CASE WHEN LENGTH(p_brand) >= 12 THEN p_brand
                        ELSE rpad(p_brand, 12, '.') END AS brand_pad,
                   p_size > 25 AS gt25,
                   p_brand = 'Brand#23' AS is_b23,
                   p_type < p_brand AS lex_lt,
                   regexp_matches(p_type, 'BRASS$') AS ends_brass
            FROM part
        """,
        "q_bloom_join": """
            SELECT 'semi' AS side, o_orderkey, o_custkey
            FROM orders
            WHERE o_custkey IN (SELECT c_custkey FROM customer
                                WHERE c_mktsegment = 'BUILDING')
            UNION ALL
            SELECT 'anti' AS side, o_orderkey, o_custkey
            FROM orders
            WHERE o_custkey NOT IN (SELECT c_custkey FROM customer
                                    WHERE c_mktsegment = 'BUILDING')
        """,
        "q_lm_quality": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(LOWER(TRIM(text)),
                                                  '\\s+')) AS tok
              FROM documents),
            counts AS (
              SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
            tot AS (
              SELECT SUM(c) AS total, COUNT(*) AS vocab FROM counts),
            scored AS (
              SELECT t.doc_id,
                     CAST(FLOOR(LN((c.c + 1) /
                                   CAST(tot.total + tot.vocab AS DOUBLE))
                                * 1000000) AS BIGINT) AS lp
              FROM toks t
              CROSS JOIN tot
              LEFT JOIN counts c ON t.tok = c.tok)
            SELECT doc_id,
                   COUNT(*) AS n_tokens,
                   CAST(SUM(lp) AS BIGINT) AS sum_lp_micro,
                   CAST(SUM(lp) AS DOUBLE) / COUNT(*) AS avg_lp_micro
            FROM scored GROUP BY doc_id
        """,
        "q_numeric_round_base": """
            SELECT l_orderkey, l_linenumber,
                   l_extendedprice + l_tax AS add_r,
                   l_extendedprice - l_discount AS sub_r,
                   l_quantity * 2.5 AS mul_r,
                   l_extendedprice / 4.0 AS div_r,
                   CASE WHEN l_extendedprice * 0.1 >= 0
                        THEN floor(l_extendedprice * 0.1 * 10 + 0.5) / 10
                        ELSE ceil(l_extendedprice * 0.1 * 10 - 0.5) / 10
                   END AS rounded,
                   lower(to_base(l_orderkey, 16)) AS hex_key,
                   lower(to_base(l_partkey, 2)) AS bin_part
            FROM lineitem
        """,
        "q_date_ops": """
            SELECT o_orderkey,
                   strftime(o_orderdate, '%Y/%m/%d') AS fmt,
                   CAST(epoch(o_orderdate) AS BIGINT) AS unix_s,
                   CAST(year(o_orderdate) AS BIGINT) AS yr
            FROM orders
        """,
        "q_casts_coalesce": """
            WITH derived AS (
              SELECT event_id, event_type,
                     CAST(event_id AS VARCHAR) AS id_str,
                     CASE WHEN event_id % 2 = 0 THEN 'true'
                          ELSE 'FALSE' END AS flag_str
              FROM events)
            SELECT event_id,
                   CAST(id_str AS BIGINT) AS as_int,
                   lower(flag_str) = 'true' AS as_bool,
                   COALESCE(NULLIF(event_type, 'click'),
                            NULLIF(event_type, 'view'),
                            'fallback') AS resolved
            FROM derived
        """,
        "q_agg_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                        AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                        AS DOUBLE) AS sum_base_price,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                            (CAST(1 AS DECIMAL(18,2)) -
                             CAST(l_discount AS DECIMAL(18,2))))
                        AS DOUBLE) AS sum_disc_price,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q_window_rank": """
            SELECT * FROM (
              SELECT o_custkey, o_orderkey,
                     row_number() OVER w AS rn,
                     count(*) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderkey ASC
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS running_ct
              FROM orders
              WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey ASC))
            WHERE rn <= 3
        """,
        "q_distinct_groups": """
            SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        """,
        "q_array_ops": """
            WITH arr AS (
              SELECT l_orderkey,
                     list(l_quantity ORDER BY l_linenumber, l_quantity,
                          l_extendedprice) AS qtys,
                     list(l_extendedprice ORDER BY l_linenumber, l_quantity,
                          l_extendedprice) AS prices,
                     list(l_returnflag ORDER BY l_linenumber, l_returnflag)
                         AS seq
              FROM lineitem WHERE l_orderkey % 50 = 0
              GROUP BY l_orderkey)
            SELECT l_orderkey,
                   to_json(list_transform(qtys, q -> q * 2)) AS doubled,
                   to_json(list_filter(qtys, q -> q > 25.0)) AS large,
                   list_aggregate(qtys, 'sum') AS fold_sum,
                   list_aggregate(qtys, 'min') AS min_q,
                   list_aggregate(qtys, 'max') AS max_q,
                   CAST(len(qtys) AS INTEGER) AS n,
                   to_json(list_reverse_sort(qtys)[1:3]) AS top3,
                   list_sort(qtys)[1] AS first_asc,
                   list_sort(qtys)[-1] AS last_asc,
                   to_json(list_transform(list_zip(qtys, prices),
                           x -> floor(x[1] * x[2] * 100 + 0.5) / 100))
                       AS products,
                   to_json(list_sort(list_distinct(seq))) AS distinct_flags
            FROM arr
        """,
        "q_text_metrics": f"""
            WITH w AS (
              SELECT doc_id, lang, text,
                     regexp_split_to_array(LOWER(TRIM(text)), '\\s+')
                         AS wlist
              FROM documents),
            st AS (
              SELECT doc_id, wlist AS words,
                     unnest(generate_series(
                         1, GREATEST(len(wlist) - 2, 1), 1)) AS s
              FROM w),
            grams AS (
              SELECT doc_id,
                     array_to_string(
                         list_slice(words, s, s + 2), ' ') AS g
              FROM st),
            per_gram AS (
              SELECT doc_id, g, COUNT(*) AS c
              FROM grams GROUP BY doc_id, g),
            rep AS (
              SELECT doc_id,
                     ROUND(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE),
                           6) AS top_gram_frac,
                     ROUND(CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END)
                                AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6)
                         AS dup_gram_frac
              FROM per_gram GROUP BY doc_id)
            SELECT w.doc_id, lang,
                   CAST(LENGTH(text) AS BIGINT) AS chars,
                   CAST(CASE WHEN TRIM(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(TRIM(text), '\\s+'))
                        END AS BIGINT) AS words,
                   CAST(len(regexp_extract_all(text,
                        '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
                       AS tokens,
                   ROUND(CAST(len(list_filter(wlist,
                         x -> list_contains({_sql_stop_list()}, x)))
                         AS DOUBLE) / CAST(len(wlist) AS DOUBLE), 6)
                       AS stop_ratio,
                   len(wlist) >= 5 AS length_ok,
                   CASE WHEN len(list_filter(wlist,
                             x -> list_contains({_sql_stop_list()}, x))) >= 1
                         AND CAST(len(regexp_extract_all(text,
                             '[\\x00-\\x7F]')) AS DOUBLE)
                             / CAST(LENGTH(text) AS DOUBLE) > 0.9
                        THEN 'en' ELSE 'other' END AS lang_pred,
                   md5(array_to_string(wlist[1:8], ' ')) AS fp,
                   rep.top_gram_frac, rep.dup_gram_frac
            FROM w JOIN rep ON w.doc_id = rep.doc_id
        """,
        "q_dedup_exact": """
            WITH keyed AS (
              SELECT md5(array_to_string(
                         regexp_split_to_array(LOWER(TRIM(text)),
                                               '\\s+')[1:8], ' ')) AS fp,
                     doc_id
              FROM documents)
            SELECT fp, MIN(doc_id) AS keep_id, COUNT(*) AS dupes
            FROM keyed GROUP BY fp ORDER BY keep_id
        """,
        "q_doc_signatures": _doc_signatures_oracle(),
        "q_lsh_band_buckets": _lsh_oracle(),
        "q_jaccard_pairs": _jaccard_pairs_oracle(),
        "q_ann_topk": _ann_topk_oracle(),
        "q_json_props_variant": """
            SELECT COUNT(*) AS n,
                   CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT))
                        AS BIGINT) AS sum_k,
                   MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
                   MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
            FROM events
        """,
        "q_object_merge": """
            SELECT c_custkey,
                   to_json(struct_pack(id := c_custkey, segment := 'v2',
                                       name := c_name)) AS merged_json
            FROM customer
        """,
        "q_set_ops": """
            WITH a AS (SELECT o_custkey FROM orders
                       WHERE o_totalprice > 100000.0),
                 b AS (SELECT o_custkey FROM orders
                       WHERE o_orderstatus = 'F')
            SELECT o_custkey, 'both' AS op
            FROM (SELECT o_custkey FROM a INTERSECT
                  SELECT o_custkey FROM b)
            UNION ALL
            SELECT o_custkey, 'high_only' AS op
            FROM (SELECT o_custkey FROM a EXCEPT
                  SELECT o_custkey FROM b)
        """,
        "q_grouping_sets": """
            SELECT l_returnflag, l_linestatus,
                   CAST(CASE WHEN GROUPING(l_returnflag) THEN 1 ELSE 0
                        END AS INT) AS g_flag,
                   CAST(CASE WHEN GROUPING(l_linestatus) THEN 1 ELSE 0
                        END AS INT) AS g_status,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                       AS qty
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                    (l_returnflag), (l_linestatus), ())
        """,
        "q_embedding_cluster_dedup": _embedding_dedup_oracle(),
        "q_rule_typed_transform": """
            SELECT l_orderkey AS okey,
                   floor(l_extendedprice * COALESCE(l_discount, 0)
                         * 100 + 0.5) / 100 AS net,
                   l_returnflag || '-' || l_linestatus AS flag_status,
                   CAST(l_quantity AS BIGINT) AS qty_int,
                   l_returnflag AS flag_g,
                   l_partkey AS part_m,
                   'flag' || ',' || 'status' AS fs_keys,
                   CAST(4 AS BIGINT) AS n_fields,
                   l_linestatus AS status_p,
                   l_returnflag AS rf0,
                   'none' AS oob,
                   l_returnflag || l_linestatus AS fm_rf,
                   strftime(l_shipdate, '%Y.%m.%d') AS ship_day
            FROM lineitem WHERE l_quantity >= 10
        """,
        "q_events_time_window": """
            SELECT CAST(floor(epoch_us(ts) / 60000000) AS BIGINT)
                       AS minute_bucket,
                   event_type, COUNT(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                       AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "q_asof_join": """
            WITH v AS (
              SELECT user_id, ts, view_id, view_value FROM (
                SELECT user_id, ts, event_id AS view_id,
                       value AS view_value,
                       row_number() OVER (PARTITION BY user_id, ts
                                          ORDER BY event_id DESC) AS r
                FROM events WHERE event_type = 'view')
              WHERE r = 1),
            c AS (
              SELECT event_id AS click_id, user_id, ts FROM events
              WHERE event_type = 'click')
            SELECT c.click_id, c.user_id, v.view_id, v.view_value,
                   CAST(floor((epoch_us(c.ts) - epoch_us(v.ts)) / 1e6)
                        AS BIGINT) AS gap_s
            FROM c ASOF LEFT JOIN v
              ON c.user_id = v.user_id AND c.ts >= v.ts
        """,
        "q_range_join": """
            WITH p AS (
              SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS t
              FROM events WHERE event_type = 'purchase'),
            c AS (
              SELECT user_id, epoch_us(ts) AS t, value FROM events
              WHERE event_type = 'click'),
            agg AS (
              SELECT p.purchase_id, COUNT(*) AS n_clicks,
                     SUM(CAST(floor(c.value * 10000 + 0.5) AS BIGINT))
                         / 10000.0 AS click_value
              FROM p JOIN c ON p.user_id = c.user_id
                   AND c.t >= p.t - 3600000000 AND c.t < p.t
              GROUP BY p.purchase_id)
            SELECT p.purchase_id, p.user_id,
                   COALESCE(agg.n_clicks, 0) AS n_clicks,
                   COALESCE(agg.click_value, 0.0) AS click_value
            FROM p LEFT JOIN agg USING (purchase_id)
        """,
        "q_skew_salted_join": """
            SELECT o_orderpriority, COUNT(*) AS n,
                   SUM(CAST(floor(l_extendedprice * (1 - l_discount)
                                  * 10000 + 0.5) AS BIGINT)) / 10000.0
                       AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderpriority
        """,
        "q_percentile_groups": """
            SELECT l_returnflag,
                   to_json(list_transform(
                       quantile_cont(l_quantity, [0.25, 0.5, 0.9]),
                       x -> round(x, 6))) AS quantiles,
                   COUNT(*) AS n
            FROM lineitem GROUP BY l_returnflag
        """,
        "q_rule_typed_steps": """
            WITH s AS (
              SELECT l_orderkey AS okey,
                     floor((l_extendedprice * 0.9) * 100 + 0.5) / 100
                         AS rev
              FROM lineitem)
            SELECT okey, rev,
                   CASE WHEN rev >= 70000 THEN 'high' ELSE 'mid' END
                       AS band
            FROM s WHERE rev >= 40000
        """,
        "q_dynamic_get_props": """
            SELECT event_id,
                   CASE WHEN event_type IN ('click', 'view')
                        THEN COALESCE(CAST(json_extract(props, '$.k')
                                           AS BIGINT), -1)
                        ELSE -1 END AS kv
            FROM events
        """,
        "q_rule_typed_arrays": """
            WITH w AS (
              SELECT doc_id, string_split(TRIM(text), ' ') AS words
              FROM documents)
            SELECT doc_id,
                   to_json(list_slice(words, 1, 3)) AS first3,
                   CAST(len(list_distinct(words)) AS BIGINT) AS n_uniq,
                   list_contains(words, 'spark') AS has_spark,
                   CAST(len(list_filter(words, x -> LENGTH(x) >= 6))
                        AS BIGINT) AS long_words
            FROM w
        """,
        "q_doc_chunks": """
            WITH w AS (
              SELECT doc_id,
                     regexp_split_to_array(TRIM(text), '\\s+') AS words
              FROM documents),
            st AS (
              SELECT doc_id, words,
                     unnest(generate_series(
                         1, GREATEST(len(words) - 8, 1), 24)) AS s
              FROM w),
            c AS (
              SELECT doc_id,
                     CAST((s - 1) // 24 AS BIGINT) AS chunk_index,
                     array_to_string(
                         list_slice(words, s, s + 31), ' ')
                         AS chunk_text
              FROM st)
            SELECT doc_id, chunk_index, chunk_text,
                   CAST(len(regexp_split_to_array(chunk_text, '\\s+'))
                        AS BIGINT) AS n_tokens
            FROM c
        """,
        "q_pii_redact": """
            WITH s AS (
              SELECT doc_id,
                     text || ' contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com or +1-555-'
                       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                         AS t
              FROM documents)
            SELECT doc_id,
                   regexp_replace(
                     regexp_replace(t,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                       '[EMAIL]', 'g'),
                     '\\+[0-9]{1,2}-[0-9]{3}-[0-9]{3,10}',
                     '[PHONE]', 'g') AS redacted,
                   CAST(len(regexp_extract_all(t,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                      + len(regexp_extract_all(
                          regexp_replace(t,
                            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                            '[EMAIL]', 'g'),
                          '\\+[0-9]{1,2}-[0-9]{3}-[0-9]{3,10}'))
                        AS BIGINT) AS n_pii
            FROM s
        """,
        "q_decontaminate": """
            WITH w AS (
              SELECT doc_id,
                     regexp_split_to_array(LOWER(TRIM(text)), '\\s+')
                         AS words
              FROM documents),
            st AS (
              SELECT doc_id, words,
                     unnest(generate_series(
                         1, GREATEST(len(words) - 7, 1), 1)) AS s
              FROM w),
            sh AS (
              SELECT doc_id,
                     array_to_string(
                         list_slice(words, s, s + 7), ' ') AS sh
              FROM st),
            bench AS (
              SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0),
            corp AS (
              SELECT DISTINCT doc_id, sh FROM sh WHERE doc_id % 97 <> 0)
            SELECT corp.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_hit_shingles
            FROM corp JOIN bench USING (sh)
            GROUP BY corp.doc_id
        """,
        "q_dup_clusters": _dup_clusters_oracle(),
        "q_sampling": """
            WITH ranked AS (
              SELECT doc_id, lang,
                     ROW_NUMBER() OVER (
                         PARTITION BY lang
                         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                         AS sample_rank
              FROM documents)
            SELECT 'stratified' AS method, doc_id, lang AS attr,
                   CAST(sample_rank AS BIGINT) AS sample_rank
            FROM ranked WHERE sample_rank <= 20
            UNION ALL
            SELECT 'hash' AS method, doc_id, lang AS attr,
                   CAST(NULL AS BIGINT) AS sample_rank
            FROM documents
            WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                       1, 8))::BIGINT AS BIGINT)
                  % 10000 < 1000
            UNION ALL
            SELECT 'mixture' AS method, doc_id, source AS attr,
                   CAST(NULL AS BIGINT) AS sample_rank
            FROM documents
            WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                       1, 8))::BIGINT AS BIGINT) % 10000
                  < CASE source WHEN 'src0' THEN 10000
                                WHEN 'src1' THEN 6000
                                WHEN 'src2' THEN 3000
                                WHEN 'src3' THEN 1000
                                ELSE 0 END
        """,
        "q_vocab_topk": """
            SELECT word, CAST(COUNT(*) AS BIGINT) AS n
            FROM (SELECT unnest(regexp_split_to_array(
                             LOWER(TRIM(text)), '\\s+')) AS word
                  FROM documents)
            GROUP BY word
            ORDER BY n DESC, word
            LIMIT 20
        """,
        "q_tfidf_topterms": """
            WITH terms AS (
              SELECT doc_id, unnest(regexp_split_to_array(
                         LOWER(TRIM(text)), '\\s+')) AS term
              FROM documents),
            t AS (
              SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
              FROM terms WHERE term <> '' GROUP BY doc_id, term),
            d AS (SELECT term, COUNT(*) AS df FROM t GROUP BY term),
            n AS (SELECT COUNT(*) AS n FROM documents),
            scored AS (
              SELECT t.doc_id, t.term, t.tf,
                     ROUND(t.tf * ln(CAST(n.n AS DOUBLE) / d.df), 6)
                         AS tfidf
              FROM t JOIN d USING (term) CROSS JOIN n)
            SELECT doc_id, term, tf, tfidf, rank FROM (
              SELECT doc_id, term, tf, tfidf,
                     CAST(row_number() OVER (PARTITION BY doc_id
                          ORDER BY tfidf DESC, term ASC) AS INTEGER) AS rank
              FROM scored)
            WHERE rank <= 3
        """,
        "q_token_packing": """
            WITH sized AS (
              SELECT doc_id, source,
                     CAST(len(regexp_extract_all(text,
                          '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
                         AS tokens
              FROM documents),
            binned AS (
              SELECT source, tokens,
                     CAST(floor(COALESCE(SUM(tokens) OVER (
                          PARTITION BY source ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) / 2000) AS BIGINT) AS bin
              FROM sized)
            SELECT source, bin, COUNT(*) AS n_docs,
                   CAST(SUM(tokens) AS BIGINT) AS total_tokens
            FROM binned GROUP BY source, bin
        """,
        "q_multimodal_probe": """
            -- predicts what the REAL PNG/WAV decoders must parse out
            -- of the self-encoded payloads, from doc_id arithmetic
            SELECT doc_id AS media_id,
                   CASE WHEN doc_id % 2 = 0 THEN 'image'
                        ELSE 'audio' END AS kind,
                   CASE WHEN doc_id % 2 = 0 THEN 'png'
                        ELSE 'wav' END AS format,
                   CASE WHEN doc_id % 2 = 0
                        THEN CAST(1 + (doc_id * 7) % 40 AS INT)
                        END AS width,
                   CASE WHEN doc_id % 2 = 0
                        THEN CAST(1 + (doc_id * 13) % 30 AS INT)
                        END AS height,
                   CASE WHEN doc_id % 2 = 0 THEN 3
                        ELSE CAST(1 + doc_id % 2 AS INT) END AS channels,
                   CASE WHEN doc_id % 2 = 1
                        THEN CAST(8000 + (doc_id % 5) * 2000 AS INT)
                        END AS sample_rate,
                   CASE WHEN doc_id % 2 = 1
                        THEN CAST(100 + (doc_id * 11) % 900 AS INT)
                        END AS n_frames,
                   CASE WHEN doc_id % 2 = 1
                        THEN CAST((100 + (doc_id * 11) % 900) * 1000
                                  // (8000 + (doc_id % 5) * 2000)
                                  AS BIGINT)
                        END AS duration_ms,
                   CAST(NULL AS VARCHAR) AS error
            FROM documents
        """,
        "q_sessionize": """
            WITH flagged AS (
              SELECT user_id, ts, event_id, value,
                     -- > gap splits; Spark's session_window MERGES
                     -- events exactly one gap apart (verified on 4.1.2)
                     CASE WHEN lag(ts) OVER w IS NULL
                           OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                              > 1800000000
                          THEN 1 ELSE 0 END AS is_new
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            runs AS (
              SELECT user_id, ts, value,
                     SUM(is_new) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS session_idx
              FROM flagged)
            SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
                   COUNT(*) AS n_events,
                   SUM(CAST(floor(value * 10000 + 0.5) AS BIGINT))
                       / 10000.0 AS session_value,
                   epoch_us(MIN(ts)) AS session_start_us,
                   epoch_us(MAX(ts)) + 1800000000 AS session_end_us
            FROM runs GROUP BY user_id, session_idx
        """,
        "q_corpus_clean": f"""
            WITH base AS (
              SELECT doc_id, text,
                     regexp_split_to_array(LOWER(TRIM(text)), '\\s+')
                         AS words,
                     CASE WHEN TRIM(text) = '' THEN 0
                          ELSE len(regexp_split_to_array(TRIM(text),
                                                         '\\s+'))
                     END AS n_words
              FROM documents),
            scored AS (
              SELECT doc_id,
                     CASE WHEN len(list_filter(words,
                               x -> list_contains({_sql_stop_list()}, x)))
                               >= 1
                           AND CAST(len(regexp_extract_all(text,
                               '[\\x00-\\x7F]')) AS DOUBLE)
                               / CAST(LENGTH(text) AS DOUBLE) > 0.9
                          THEN 'en' ELSE 'other' END AS lang_pred,
                     ROUND((
                       CAST(n_words >= 5 AND n_words <= 100000 AS INT) +
                       CAST(CASE WHEN len(words) = 0 THEN 0.0
                            ELSE CAST(len(list_filter(words,
                                 x -> list_contains({_sql_stop_list()},
                                                    x))) AS DOUBLE)
                                 / CAST(len(words) AS DOUBLE) END > 0.01
                            AS INT) +
                       CAST(CASE WHEN LENGTH(text) = 0 THEN 1.0
                            ELSE CAST(len(regexp_extract_all(text,
                                 '[^\\w\\s]')) AS DOUBLE)
                                 / CAST(LENGTH(text) AS DOUBLE) END < 0.3
                            AS INT)) / 3.0, 6) AS quality,
                     CAST(len(regexp_extract_all(text,
                          '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
                         AS n_tokens,
                     md5(array_to_string(words[1:8], ' ')) AS fp
              FROM base)
            SELECT doc_id, n_tokens, quality FROM (
              SELECT doc_id, n_tokens, quality,
                     row_number() OVER (PARTITION BY fp
                                        ORDER BY doc_id) AS rn
              FROM scored
              WHERE lang_pred = 'en' AND quality >= 0.66)
            WHERE rn = 1
        """,
    }


def _doc_signatures_oracle(bits: int = 16) -> str:
    """Combined signature replay (round-1 _minhash_oracle +
    _simhash_oracle): the MinHash double-hash minima AND simhash64's
    per-bit md5 votes (bit b set iff the ±1 vote sum over word-hash
    bit b is positive), from one words/shingles scan."""
    mins = ",".join(
        f"list_min(list_transform(grams, g -> {_minhash_seed_sql(s)}))"
        for s in range(4))
    h = "('0x'||substr(md5(w),1,4))::BIGINT"
    votes = " + ".join(
        f"CASE WHEN list_sum(list_transform(words, "
        f"w -> CASE WHEN ({h} >> {b}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
        f"THEN {1 << b} ELSE 0 END"
        for b in range(bits))
    return f"""
        WITH w AS (
          SELECT doc_id,
                 regexp_split_to_array(LOWER(TRIM(text)), '\\s+') AS words,
                 {_shingle_sql()} AS grams
          FROM documents)
        SELECT doc_id, to_json([{mins}]) AS sig_json,
               CAST({votes} AS BIGINT) AS simhash
        FROM w
    """


def _jaccard_pairs_oracle() -> str:
    """Tagged union of the two Jaccard verification streams."""
    return f"""
        SELECT 'adjacent' AS pair_src, * FROM ({_jaccard_oracle()})
        UNION ALL
        SELECT 'minhash_lsh' AS pair_src, *
        FROM ({_minhash_dedup_pairs_oracle()})
    """


def _ann_topk_oracle() -> str:
    """Tagged union of the three ANN strategies' replays."""
    return f"""
        SELECT 'brute' AS method, * FROM ({_brute_topk_oracle()})
        UNION ALL
        SELECT 'ivf' AS method, * FROM ({_ivf_oracle()})
        UNION ALL
        SELECT 'lsh' AS method, * FROM ({_lsh_topk_oracle()})
    """


def _brute_topk_oracle() -> str:
    return """
        WITH q AS (
          SELECT vec_id AS query_id, embedding AS qv
          FROM embeddings WHERE vec_id < 3),
        scored AS (
          SELECT q.query_id, e.vec_id AS neighbor,
                 ROUND(
                   list_sum(list_transform(
                     list_zip(e.embedding, q.qv),
                     x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                   / (sqrt(list_sum(list_transform(e.embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(q.qv,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
                   6) AS cosine
          FROM embeddings e CROSS JOIN q
          WHERE e.vec_id <> q.query_id)
        SELECT query_id, neighbor, cosine, rank FROM (
          SELECT *, CAST(row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor ASC) AS INTEGER) AS rank
          FROM scored)
        WHERE rank <= 5
    """


def _lsh_sigs_cte(nbits: int) -> str:
    """Shared replay of llm/similarity.lsh_signature as a WITH-clause
    body ``comp, bits, sigs`` (sigs = vec_id, embedding, sig):
    hyperplane signs from the same integer LCG, components quantized
    to micro-unit BIGINTs before the fold (order-independent exact
    sum) — bit-for-bit identical to the Spark expression."""
    sign = ("CASE WHEN (h.h * 1013904223 + (c.j - 1) * 2654435761)"
            " % 4294967296 < 2147483648 THEN 1 ELSE -1 END")
    return f"""comp AS (
          SELECT vec_id, generate_subscripts(embedding, 1) AS j,
                 unnest(embedding) AS e
          FROM embeddings),
        bits AS (
          SELECT c.vec_id, h.h,
                 CASE WHEN SUM(CAST(floor(CAST(c.e AS DOUBLE) * 1e6 + 0.5)
                                    AS BIGINT) * {sign}) >= 0
                      THEN CAST(1 AS BIGINT) << h.h
                      ELSE CAST(0 AS BIGINT) END AS bitval
          FROM comp c CROSS JOIN range({nbits}) h(h)
          GROUP BY c.vec_id, h.h),
        sigs AS (
          SELECT e.vec_id, e.embedding, CAST(SUM(b.bitval) AS BIGINT) AS sig
          FROM embeddings e JOIN bits b USING (vec_id)
          GROUP BY e.vec_id, e.embedding)"""


def _embedding_dedup_oracle(threshold: float = 0.2, nbits: int = 12,
                            bands: int = 2) -> str:
    """Replay of the banded random-hyperplane near-dup pairs: same
    signatures as the Spark side, band key = nbits/bands-bit slice,
    candidates share any band, exact cosine on candidates."""
    r = nbits // bands
    cos = _COS_SQL.format(a="ea.embedding", b="eb.embedding")
    return f"""
        WITH {_lsh_sigs_cte(nbits)},
        banded AS (
          SELECT vec_id, f.b AS band,
                 (sig >> CAST(f.b * {r} AS INT)) & {(1 << r) - 1} AS key
          FROM sigs CROSS JOIN range({bands}) f(b)),
        cand AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.key = b.key
           AND a.vec_id < b.vec_id)
        SELECT id_a, id_b, cosine FROM (
          SELECT c.id_a, c.id_b, {cos} AS cosine
          FROM cand c
          JOIN embeddings ea ON ea.vec_id = c.id_a
          JOIN embeddings eb ON eb.vec_id = c.id_b)
        WHERE cosine >= {threshold}
    """


def _dup_clusters_oracle() -> str:
    """Composite duplicate-graph oracle (matches the round-6
    q_dup_clusters merge): the 'cluster' part replays embedding
    near-dup edges (reusing the pair oracle at the 0.3 threshold) →
    connected components via a recursive min-label walk; the
    'shingle_edge' part replays the df-capped 5-token shingle-overlap
    self-join that used to be q_shingle_edges."""
    pairs = _embedding_dedup_oracle(threshold=0.3)
    return f"""
        WITH RECURSIVE
        e AS ({pairs}),
        sym AS (
          SELECT id_a AS a, id_b AS b FROM e
          UNION
          SELECT id_b AS a, id_a AS b FROM e),
        walk AS (
          SELECT a AS node, a AS comp FROM sym
          UNION
          SELECT s.b AS node, wk.comp
          FROM walk wk JOIN sym s ON s.a = wk.node),
        w AS (
          SELECT doc_id,
                 regexp_split_to_array(LOWER(TRIM(text)), '\\s+')
                     AS words
          FROM documents),
        st AS (
          SELECT doc_id, words,
                 unnest(generate_series(
                     1, GREATEST(len(words) - 4, 1), 1)) AS s
          FROM w),
        sh0 AS (
          SELECT DISTINCT doc_id,
                 array_to_string(list_slice(words, s, s + 4), ' ')
                     AS sh
          FROM st),
        keep AS (
          SELECT sh FROM sh0 GROUP BY sh HAVING COUNT(*) <= 50),
        sh AS (SELECT sh0.doc_id, sh0.sh
               FROM sh0 JOIN keep USING (sh))
        SELECT 'cluster' AS part,
               CAST(node AS BIGINT) AS a,
               CAST(MIN(comp) AS BIGINT) AS b,
               CAST(NULL AS BIGINT) AS n_shared
        FROM walk GROUP BY node
        UNION ALL
        SELECT 'shingle_edge' AS part, a, b, n_shared FROM (
          SELECT CAST(x.doc_id AS BIGINT) AS a,
                 CAST(y.doc_id AS BIGINT) AS b,
                 CAST(COUNT(*) AS BIGINT) AS n_shared
          FROM sh x JOIN sh y
            ON x.sh = y.sh AND x.doc_id < y.doc_id
          GROUP BY 1, 2)
        WHERE n_shared >= 2
    """


def _minhash_dedup_pairs_oracle() -> str:
    mins = ",".join(
        f"list_min(list_transform(grams, g -> {_minhash_seed_sql(s)}))"
        for s in range(4))
    ga = _shingle_sql("ta")
    gb = _shingle_sql("tb")
    return f"""
        WITH sh AS (
          SELECT doc_id, text, {_shingle_sql()} AS grams FROM documents),
        sigs AS (
          SELECT doc_id, text, [{mins}] AS sig FROM sh),
        banded AS (
          SELECT doc_id, text, 0 AS band,
                 md5(CAST(sig[1] AS VARCHAR) || '|' ||
                     CAST(sig[2] AS VARCHAR)) AS band_key FROM sigs
          UNION ALL
          SELECT doc_id, text, 1 AS band,
                 md5(CAST(sig[3] AS VARCHAR) || '|' ||
                     CAST(sig[4] AS VARCHAR)) AS band_key FROM sigs),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, a.text AS ta,
                 b.doc_id AS id_b, b.text AS tb
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id),
        sets AS (
          SELECT id_a, id_b,
                 list_distinct({ga}) AS sa, list_distinct({gb}) AS sb
          FROM cand)
        SELECT id_a, id_b, jaccard FROM (
          SELECT id_a, id_b,
                 ROUND(CASE WHEN len(sa) + len(sb)
                                 - len(list_intersect(sa, sb)) = 0 THEN 0.0
                       ELSE CAST(len(list_intersect(sa, sb)) AS DOUBLE)
                            / (len(sa) + len(sb)
                               - len(list_intersect(sa, sb)))
                       END, 6) AS jaccard
          FROM sets)
        WHERE jaccard >= 0.5
    """


_COS_SQL = """ROUND(
  list_sum(list_transform(list_zip({a}, {b}),
    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
  / (sqrt(list_sum(list_transform({a},
       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
   * sqrt(list_sum(list_transform({b},
       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)"""


def _ivf_oracle() -> str:
    cos_ac = _COS_SQL.format(a="e.embedding", b="c.cvec")
    cos_qc = _COS_SQL.format(a="q.qv", b="c.cvec")
    cos_cand = _COS_SQL.format(a="cand.embedding", b="cand.qv")
    return f"""
        WITH centroids AS (
          SELECT vec_id AS cell, embedding AS cvec FROM embeddings
          WHERE vec_id < 8),
        assigned AS (
          SELECT vec_id, embedding, cell FROM (
            SELECT e.vec_id, e.embedding, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {cos_ac} DESC, c.cell ASC) AS r
            FROM embeddings e CROSS JOIN centroids c)
          WHERE r = 1),
        q AS (
          SELECT vec_id AS query_id, embedding AS qv FROM embeddings
          WHERE vec_id >= 8 AND vec_id < 11),
        probes AS (
          SELECT query_id, qv, cell FROM (
            SELECT q.query_id, q.qv, c.cell,
                   row_number() OVER (PARTITION BY q.query_id
                       ORDER BY {cos_qc} DESC, c.cell ASC) AS r
            FROM q CROSS JOIN centroids c)
          WHERE r <= 2),
        cand AS (
          SELECT p.query_id, p.qv, a.vec_id, a.embedding
          FROM assigned a JOIN probes p ON a.cell = p.cell
          WHERE a.vec_id <> p.query_id)
        SELECT query_id, neighbor, cosine, rank FROM (
          SELECT cand.query_id, cand.vec_id AS neighbor,
                 {cos_cand} AS cosine,
                 CAST(row_number() OVER (PARTITION BY cand.query_id
                      ORDER BY {cos_cand} DESC, cand.vec_id ASC)
                      AS INTEGER) AS rank
          FROM cand)
        WHERE rank <= 3
    """


def _lsh_topk_oracle() -> str:
    """Replays llm/similarity.lsh_signature bit-for-bit: hyperplane
    signs from the same integer LCG, components quantized to micro-unit
    BIGINTs before the fold (order-independent exact sum), then the
    same multiprobe bucket join + exact cosine top-k."""
    cos = _COS_SQL.format(a="s.embedding", b="p.qv")
    nbits = 6
    return f"""
        WITH {_lsh_sigs_cte(nbits)},
        q AS (
          SELECT vec_id AS query_id, embedding AS qv, sig FROM sigs
          WHERE vec_id >= 8 AND vec_id < 11),
        probe AS (
          SELECT q.query_id, q.qv,
                 CASE WHEN f.b < 0 THEN q.sig
                      ELSE xor(q.sig, CAST(1 AS BIGINT) << CAST(f.b AS INT))
                 END AS bucket
          FROM q CROSS JOIN (
            SELECT unnest([{", ".join(str(b) for b in [-1] + list(range(nbits)))}]) AS b) f),
        cand AS (
          SELECT p.query_id, s.vec_id AS neighbor, {cos} AS cosine
          FROM sigs s JOIN probe p ON s.sig = p.bucket
          WHERE s.vec_id <> p.query_id)
        SELECT query_id, neighbor, cosine, rank FROM (
          SELECT query_id, neighbor, cosine,
                 CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, neighbor ASC) AS INTEGER) AS rank
          FROM cand)
        WHERE rank <= 3
    """


def _sql_stop_list() -> str:
    return "[" + ",".join(f"'{w}'" for w in _STOPWORDS) + "]"


def _shingle_sql(col: str = "text", n: int = 3) -> str:
    return f"""
      CASE WHEN len(regexp_split_to_array(LOWER(TRIM({col})), '\\s+'))
                - {n - 1} <= 0
           THEN [array_to_string(
                 regexp_split_to_array(LOWER(TRIM({col})), '\\s+'), ' ')]
           ELSE list_transform(
             generate_series(1,
               len(regexp_split_to_array(LOWER(TRIM({col})), '\\s+'))
               - {n - 1}),
             i -> array_to_string(
               regexp_split_to_array(LOWER(TRIM({col})), '\\s+')[i:i+{n - 1}],
               ' '))
      END
    """


def _minhash_seed_sql(seed: int, g: str = "g") -> str:
    """DuckDB replay of the engine's double-hashed MinHash family:
    h_i(g) = h1 + i*h2 from the 60-/56-bit halves of one md5."""
    return (f"('0x'||substr(md5({g}),1,15))::BIGINT + {seed} * "
            f"('0x'||substr(md5({g}),16,14))::BIGINT")


def _lsh_oracle() -> str:
    mins = ",".join(
        f"list_min(list_transform(grams, g -> {_minhash_seed_sql(s)}))"
        for s in range(4))
    return f"""
        WITH sh AS (
          SELECT doc_id, {_shingle_sql()} AS grams FROM documents),
        sigs AS (
          SELECT doc_id, [{mins}] AS sig FROM sh),
        banded AS (
          SELECT doc_id, 0 AS band,
                 md5(CAST(sig[1] AS VARCHAR) || '|' ||
                     CAST(sig[2] AS VARCHAR)) AS band_key FROM sigs
          UNION ALL
          SELECT doc_id, 1 AS band,
                 md5(CAST(sig[3] AS VARCHAR) || '|' ||
                     CAST(sig[4] AS VARCHAR)) AS band_key FROM sigs)
        SELECT band, band_key, COUNT(*) AS bucket_size,
               MIN(doc_id) AS min_doc
        FROM banded GROUP BY band, band_key
        HAVING COUNT(*) > 1
    """


def _jaccard_oracle() -> str:
    ga = _shingle_sql("ta")
    gb = _shingle_sql("tb")
    return f"""
        WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 40),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.text AS ta, b.text AS tb
          FROM d a JOIN d b ON a.doc_id + 1 = b.doc_id),
        sets AS (
          SELECT id_a, id_b,
                 list_distinct({ga}) AS sa,
                 list_distinct({gb}) AS sb
          FROM pairs)
        SELECT id_a, id_b,
               ROUND(CASE WHEN len(sa) + len(sb)
                               - len(list_intersect(sa, sb)) = 0 THEN 0.0
                     ELSE CAST(len(list_intersect(sa, sb)) AS DOUBLE)
                          / (len(sa) + len(sb)
                             - len(list_intersect(sa, sb)))
                     END, 6) AS jaccard
        FROM sets
    """
