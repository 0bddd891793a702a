"""SQL-function fast path: capability probes + cross-path parity.

The ops that compile to session SQL functions outside lambda scopes
(arith, dates) keep an inline Column fallback for lambda contexts.
These tests pin (a) the Spark capabilities the design rests on, and
(b) that the two paths agree value-for-value and error-for-error on a
corpus covering every protocol branch — the drift detector for the
dual implementation (round 8, VERDICT r7 #1).
"""

from __future__ import annotations

import json

import pytest

from rulemorph_spark.compiler import sqlfn
from rulemorph_spark.engine import transform
from rulemorph_spark.errors import TransformEngineError


def _run(spark, rule, record):
    try:
        out = transform(spark, rule, input_text=json.dumps([record]))
        return ("ok", out)
    except TransformEngineError as e:
        return ("err", e.kind, e.message, e.path)


def _both_paths(spark, rule, record):
    """(sql-path result, inline result) for the same rule+record."""
    fast = _run(spark, rule, record)
    sqlfn.disable(spark)
    try:
        slow = _run(spark, rule, record)
    finally:
        sqlfn.enable(spark)
    return fast, slow


ARITH_RULE = """
version: 1
input: {format: json, json: {}}
mappings:
  - target: out
    expr: {op: "%(op)s", args: [{ref: "input.a"}, {ref: "input.b"}]}
"""

V2_RULE = """
version: 2
input: {format: json}
mappings:
  - target: out
    expr: ["@input.a", {%(op)s: ["@input.b"]}]
"""

DATE_RULE = """
version: 1
input: {format: json, json: {}}
mappings:
  - target: out
    expr:
      op: date_format
      args: [{ref: "input.d"}, "%Y/%m/%d %H:%M:%S%:z", "+09:00"]
  - target: epoch
    expr: {op: to_unixtime, args: [{ref: "input.d"}, "ms"]}
"""

ARITH_RECORDS = [
    {"a": 80.6, "b": "2.5"},
    {"a": 1, "b": 2},
    {"a": 1, "b": "x"},           # conversion error
    {"b": 2},                     # missing → missing
    {"a": 1, "b": None},          # null protocol error
    {"a": 1, "b": 0},             # ÷0 paths
    {"a": "inf", "b": 1},         # rust grammar non-finite → error (v1)
    {"a": "1e308", "b": "1e308"}, # overflow → not finite (v1 +)
    {"a": True, "b": 1},          # bool → error
    {"a": [1], "b": 1},           # container → error
    {"a": "0.1", "b": "0.2"},
    {"a": -0.0, "b": 0.0},
]

DATE_RECORDS = [
    {"d": "2024-01-02T03:04:05Z"},
    {"d": "2024-01-02 03:04:05"},
    {"d": "2024-01-02T03:04:05.123+09:00"},
    {"d": "Tue, 02 Jan 2024 03:04:05 +0900"},
    {"d": "20240102"},
    {"d": "not a date"},          # invalid-date error
    {"d": 12345},                 # value must be a string
    {"d": None},                  # null protocol
    {},                           # missing → missing
]


@pytest.mark.parametrize("op", ["+", "-", "*", "/"])
def test_arith_paths_agree_v1(spark, op):
    rule = ARITH_RULE % {"op": op}
    for rec in ARITH_RECORDS:
        fast, slow = _both_paths(spark, rule, rec)
        assert fast == slow, (op, rec, fast, slow)


@pytest.mark.parametrize("op", ["add", "divide"])
def test_arith_paths_agree_v2(spark, op):
    rule = V2_RULE % {"op": op}
    for rec in ARITH_RECORDS:
        fast, slow = _both_paths(spark, rule, rec)
        assert fast == slow, (op, rec, fast, slow)


def test_date_paths_agree(spark):
    for rec in DATE_RECORDS:
        fast, slow = _both_paths(spark, DATE_RULE, rec)
        assert fast == slow, (rec, fast, slow)


def test_sql_path_engages_and_shares(spark):
    """The fast path must actually be taken at top level, and two
    mappings differing only in error paths must SHARE one session
    function (the slot-parameterization contract)."""
    from pyspark.sql import functions as F

    from rulemorph_spark.engine import transform_table

    df = spark.createDataFrame([(1.0, 2.0)], "a double, b double")
    rule = """
version: 1
input: {format: json, json: {}}
mappings:
  - target: x
    expr: {op: "+", args: [{ref: "input.a"}, {ref: "input.b"}]}
  - target: y
    expr: {op: "+", args: [{ref: "input.b"}, {ref: "input.a"}]}
"""
    before = sqlfn.registered_names(spark)
    out = transform_table(df, rule, mode="variant")
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "_rm_ar_" in plan, "fast path not engaged"
    new = {n for n in sqlfn.registered_names(spark)
           if n.startswith("_rm_ar_")} - before
    # both mappings (and both within one) resolve to the same function
    import re
    names = set(re.findall(r"_rm_ar_\w+", plan))
    assert len(names) == 1, names
    rows = out.selectExpr("to_json(x) AS x", "to_json(y) AS y").collect()
    assert (rows[0]["x"], rows[0]["y"]) == ("3", "3")


def test_inline_path_used_inside_lambdas(spark):
    """Arith inside a {map:} body compiles inline (SQL-function args
    cannot reference Catalyst lambda variables) and still matches."""
    rule = """
version: 2
input: {format: json}
mappings:
  - target: out
    expr: ["@input.xs", {map: [{add: [1]}]}]
"""
    out = transform(spark, rule, input_text=json.dumps(
        [{"xs": [1, 2.5, "3"]}]))
    assert out == [{"out": [2.0, 3.5, 4.0]}]


def test_earlier_conversion_error_wins_over_later_arg_raise(spark):
    """ADVICE r8 #4: the absent-guard must cover earlier-operand
    CONVERSION failures, not just missing/null — the reference
    converts operand i before evaluating arg i+1, so a bool operand's
    "expected number" error fires before a later step-bearing arg's
    embedded division-by-zero.  Pinned against the interpreter oracle
    on both the SQL-function and inline paths."""
    import pytest as _pytest
    from rulemorph_spark import interp
    rule = """
version: 2
input: {format: json}
mappings:
  - target: out
    expr: ["@input.a", {"+": [["@input.b", {"/": [0]}]]}]
"""
    cases = [
        # bool operand 0 → its conversion error wins
        {"a": True, "b": 1},
        # numeric operand 0 → the heavy arg's ÷0 error fires
        {"a": 1, "b": 1},
        # missing operand 0 → whole op missing (r6 class, still green)
        {"b": 1},
    ]
    for rec in cases:
        try:
            expected = ("ok", interp.transform(
                rule, input_text=json.dumps([rec])))
        except interp.InterpError as e:
            expected = ("err", e.kind_snake, e.message, e.path) \
                if hasattr(e, "kind_snake") else ("err", e)
        fast, slow = _both_paths(spark, rule, rec)
        assert fast == slow, (rec, fast, slow)
        if expected[0] == "ok":
            assert fast[0] == "ok" and fast[1] == expected[1], \
                (rec, fast, expected)
        else:
            assert fast[0] == "err", (rec, fast)
            if len(expected) == 4:
                assert (fast[2], fast[3]) == (expected[2], expected[3]), \
                    (rec, fast, expected)
            else:
                err = expected[1]
                assert (fast[2], fast[3]) == (err.message, err.path), \
                    (rec, fast, err)


def test_deferred_registration_parallel_and_loud(spark):
    """r9: inside sqlfn.deferred, ensure_fn submits CREATEs to the
    background pool and returns the hash-derived name immediately;
    flush resolves everything (including bodies that reference still-
    pending helper names) and a malformed body still propagates
    LOUDLY at the barrier — never a silent slow path."""
    import pyspark.sql.functions as F

    with sqlfn.deferred(spark):
        h = sqlfn.ensure_fn("v BIGINT", "BIGINT", "v + 1", "tdefh")
        assert h is not None
        # dependent body references the still-pending helper by name
        dep = sqlfn.ensure_fn("v BIGINT", "BIGINT", f"{h}(v) * 10",
                              "tdefd")
        assert dep is not None
        st = sqlfn._state(spark)
        assert h in st.pending or h in st.registered
    # scope exit flushed: both callable, correct composition
    row = spark.range(1).select(
        sqlfn.call(dep, F.lit(4).cast("long")).alias("x")).collect()[0]
    assert row["x"] == 50
    assert {h, dep} <= sqlfn.registered_names(spark)

    # failure propagates at the barrier (scope exit), not silently
    import pytest as _pt
    with _pt.raises(Exception):
        with sqlfn.deferred(spark):
            sqlfn.ensure_fn("v BIGINT", "BIGINT",
                            "this_is_not_a_function(v", "tdefbad")
    # the registry is still healthy afterwards
    assert not sqlfn._state(spark).disabled
    ok = sqlfn.ensure_fn("v BIGINT", "BIGINT", "v + 2", "tdefok")
    row = spark.range(1).select(
        sqlfn.call(ok, F.lit(1).cast("long")).alias("x")).collect()[0]
    assert row["x"] == 3


def test_deferred_scope_is_thread_local(spark):
    """r10 (ADVICE r9): the deferred flag must only apply to the
    thread INSIDE the scope — a concurrent ensure_fn from another
    thread keeps the synchronous register-then-call-immediately
    contract (its CREATE has run before the call returns)."""
    from pyspark import InheritableThread

    result: dict = {}

    def other_thread():
        # a fresh py4j-pinned JVM thread has no active session; a real
        # concurrent driver thread would bind one the same way
        spark._jvm.SparkSession.setActiveSession(spark._jsparkSession)
        # runs while the main thread holds a deferred scope
        name = sqlfn.ensure_fn("v BIGINT", "BIGINT", "v + 41", "ttloc")
        st = sqlfn._state(spark)
        result["name"] = name
        result["registered"] = name in st.registered
        result["pending"] = name in st.pending

    with sqlfn.deferred(spark):
        t = InheritableThread(target=other_thread)
        t.start()
        t.join()
    assert result["name"] is not None
    assert result["registered"] and not result["pending"]
    import pyspark.sql.functions as F
    row = spark.range(1).select(
        sqlfn.call(result["name"], F.lit(1).cast("long"))
        .alias("x")).collect()[0]
    assert row["x"] == 42


def test_deferred_scope_drains_all_failures_on_clean_exit(spark):
    """r10 (ADVICE r9): a scope with TWO malformed bodies must drain
    both failed futures on exit (re-raising the first) — neither may
    linger in st.pending to poison a later unrelated flush."""
    import pytest as _pt
    with _pt.raises(Exception):
        with sqlfn.deferred(spark):
            sqlfn.ensure_fn("v BIGINT", "BIGINT",
                            "bad_one(v", "tdrain1")
            sqlfn.ensure_fn("v BIGINT", "BIGINT",
                            "bad_two(v", "tdrain2")
    assert sqlfn._state(spark).pending == {}
    sqlfn.flush(spark)  # clean — no poisoned leftovers


def test_deferred_failure_does_not_poison_later_flushes(spark):
    """A failed deferred CREATE raises at its barrier and is removed —
    subsequent flushes/compiles of the session stay healthy."""
    import pytest as _pt
    with _pt.raises(Exception):
        with sqlfn.deferred(spark):
            sqlfn.ensure_fn("v BIGINT", "BIGINT",
                            "nope_not_real(v", "tpois")
    # later flushes are clean and new registrations work
    sqlfn.flush(spark)
    assert sqlfn._state(spark).pending == {}
    import pyspark.sql.functions as F
    ok = sqlfn.ensure_fn("v BIGINT", "BIGINT", "v * 3", "tpoisok")
    row = spark.range(1).select(
        sqlfn.call(ok, F.lit(2).cast("long")).alias("x")).collect()[0]
    assert row["x"] == 6


def _on_fresh_thread(fn):
    """Run ``fn`` on a new ``threading.Thread`` — like a
    ThreadingHTTPServer request thread — and return what it returned
    or raised."""
    import threading
    out: dict = {}

    def body():
        try:
            out["value"] = fn()
        except BaseException as e:  # noqa: BLE001 — re-raised below
            out["exc"] = e

    t = threading.Thread(target=body)
    t.start()
    t.join(timeout=600)
    assert not t.is_alive()
    if "exc" in out:
        raise out["exc"]
    return out["value"]


def _compile_over_sql_source(spark, rule_text, record):
    """Compile ``rule_text`` over a ``spark.sql``-built source: unlike
    ``createDataFrame``, it does not make its session the thread's
    active one.  → (the plan as handed to the analyzer, the DataFrame)."""
    import pyspark.sql.functions as F
    from rulemorph_spark.compiler.rule import Builder, RuleCompiler
    from rulemorph_spark.model import parse_rule_file

    df = spark.sql("SELECT 0L AS __idx__, parse_json(:raw) AS __record__",
                   args={"raw": json.dumps(record)})
    builder = Builder(df)
    compiled = RuleCompiler(parse_rule_file(rule_text)).compile(
        builder, F.col("__record__"))
    out = builder.df.select(compiled.out_json().alias("__json__"))
    return out._jdf.queryExecution().logical().toString(), out


def test_compile_binds_its_session_off_the_main_thread(spark):
    """A compile on a thread with no active session still takes the
    SQL-function path: it uses its source's session, not the thread's
    ambient one (which a fresh thread does not have)."""
    import os
    from pyspark.sql import SparkSession

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "perfbench", "fixtures",
        "f5_extended.yaml")
    rule = open(path).read()
    record = {"text": "abc-1", "regex_text": "a1b2", "csv": "a,b",
              "pad": "7", "num_a": 1.5, "num_b": "2.5", "num_c": 3,
              "base_value": 255, "date_simple": "2020-01-02 03:04:05",
              "date_tz": "2020-01-02T03:04:05+09:00",
              "unix_s": "2020-01-02T03:04:05Z",
              "unix_ms": "2020-01-02T03:04:05.123Z"}

    def run():
        ambient = SparkSession.getActiveSession()
        plan, _ = _compile_over_sql_source(spark, rule, record)
        return ambient, plan

    ambient, plan = _on_fresh_thread(run)
    assert ambient is None  # the premise: no ambient session here
    assert "_rm_" in plan


def test_invalid_java_regex_is_caught_off_the_main_thread(spark):
    """The compile-time check for a pattern Java's regex rejects (here a
    Python-style named group) runs against the compile's own session on
    any thread: the error is the engine's ExprError at the pattern's
    path, never Spark's raw regex failure."""
    from rulemorph_spark.errors import extract_engine_error

    rule = """
version: 2
input: {format: json}
mappings:
  - target: m
    expr: ["@input.s", {"~=": ["lit:(?P<n>a)"]}]
"""

    def run():
        _, df = _compile_over_sql_source(spark, rule, {"s": "abc"})
        return df.collect()

    with pytest.raises(Exception) as ei:
        _on_fresh_thread(run)
    err = extract_engine_error(ei.value)
    assert err is not None, ei.value
    assert (err.kind, err.message, err.path) == (
        "ExprError", "regex pattern is invalid",
        "mappings[0].expr[1].args[0]")


def test_waiter_on_failed_deferred_create_does_not_hide_it(spark):
    """A synchronous ensure_fn on another thread that waits on a
    deferring scope's CREATE and sees it fail raises in its own thread
    AND leaves the failure for the scope, whose exit still raises."""
    body, tag = "injected_missing_fn(v", "twaitbad"
    with pytest.raises(Exception, match="injected_missing_fn"):
        with sqlfn.deferred(spark):
            name = sqlfn.ensure_fn("v BIGINT", "BIGINT", body, tag)
            assert name in sqlfn._state(spark).pending

            def waiter():
                with sqlfn.bound(spark), pytest.raises(
                        Exception, match="injected_missing_fn"):
                    sqlfn.ensure_fn("v BIGINT", "BIGINT", body, tag)
                return True

            assert _on_fresh_thread(waiter)
    st = sqlfn._state(spark)
    assert st.pending == {} and st.failed == {}
    sqlfn.flush(spark)  # retired: no poisoned leftovers


def test_failed_create_raises_in_every_thread_under_contention(spark):
    """Stress: more threads than cores race on one failing body, half
    inside deferring scopes and half synchronous.  Every one of them
    must raise — a scope that joined another's in-flight CREATE must
    not exit clean because a different thread retired the failure."""
    import sys
    import threading
    body, tag = "stress_missing_fn(v", "tstress"
    n = 8
    barrier = threading.Barrier(n)
    raised = [False] * n

    def worker(i):
        barrier.wait(timeout=60)
        try:
            if i % 2:
                with sqlfn.deferred(spark):
                    sqlfn.ensure_fn("v BIGINT", "BIGINT", body, tag)
            else:
                with sqlfn.bound(spark):
                    sqlfn.ensure_fn("v BIGINT", "BIGINT", body, tag)
        except Exception as e:  # noqa: BLE001 — the expected failure
            raised[i] = "stress_missing_fn" in str(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,))
                   for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert all(raised), raised
    st = sqlfn._state(spark)
    assert st.pending == {} and st.failed == {}
