"""String-op, arithmetic and array-op parity: the two renderings of
one body, the typed engine, and the oracle.

The string/stringify ops (trim/lowercase/uppercase, to_string, concat,
split, pad_start/pad_end, replace, to_base, round) and the arithmetic
ops (+ - * /) write each variant body once (compiler/ops_bodies.py)
and render it as a session SQL function outside lambda scopes or as
the inline Column tree inside lambda contexts / for step-bearing args.
Every case runs BOTH renderings (sqlfn enabled vs disabled) AND the
interpreter oracle; all three must agree value-for-value —
kind-exactly, as JSON text, so ``45000`` and ``45000.0`` differ — and
error-for-error (kind, message, path), through the shared comparator
in ``kind_exact.py``.  The cases cover every protocol branch: missing
short-circuit, variant-null wording, type errors, the serde/Rust float
renderings, mode dispatch, and boundary values.  The v2 arithmetic
cases also run through the typed engine.  The array ops (one kernel
each in compiler/ops_array.py, shared by the variant and typed
engines) render no SQL function: each array case runs once through the
engine and, where its columns are natively typed, through the typed
engine, both against the oracle.
"""

from __future__ import annotations

import json
import re

import pytest

import kind_exact as K
from rulemorph_spark.compiler import sqlfn

pytestmark = pytest.mark.smoke


def _both(spark, rule, record):
    fast = K.engine(spark, rule, [record])
    sqlfn.disable(spark)
    try:
        slow = K.engine(spark, rule, [record])
    finally:
        sqlfn.enable(spark)
    assert fast == slow, (rule, record, fast, slow)
    oracle = K.oracle(rule, [record])
    assert fast == oracle, (rule, record, fast, oracle)
    return fast


# Spark's parse_json reads -0.0 as DECIMAL(1,0) 0, so the engine never
# sees the sign that interp renders ("-0.0" in v2, "-0" in v1)
_NZERO = pytest.mark.xfail(
    strict=True, reason="parse_json('-0.0') is DECIMAL(1,0) 0: the sign "
    "is lost in the reader, so the engine renders 0 where interp keeps -0")


def _v2(expr):
    return (f"version: 2\ninput: {{format: json}}\nmappings:\n"
            f"  - target: out\n    expr: {json.dumps(expr)}\n")


def _v1(expr):
    return (f"version: 1\ninput: {{format: json, json: {{}}}}\n"
            f"mappings:\n  - target: out\n"
            f"    expr: {json.dumps(expr)}\n")


REC = {"s": "  aB c ", "t": "aXbXc", "n": 7, "f": 2.5, "neg": -255,
       "big": 1.23e21, "tiny": 1.5e-7, "intf": 2.0, "b": True,
       "arr": [1], "obj": {"k": 1}, "nul": None, "csv": "a,b,,c",
       "pat": "X", "rep": "-", "num_s": "42", "huge": 2 ** 60,
       "nzero": -0.0, "exp16": 1e16, "e_m4": 1e-4, "sci": 1.23e-7}

V2_CASES = [
    # unary string (native v2: numbers/bools stringify, containers err)
    ["@input.s", {"trim": []}],
    ["@input.n", {"trim": []}],
    ["@input.f", {"uppercase": []}],
    ["@input.b", {"lowercase": []}],
    ["@input.arr", {"trim": []}],          # expected string, got [..]
    ["@input.nul", {"trim": []}],          # expected string, got Null
    ["@input.nope", {"trim": []}],         # missing short-circuit
    # to_string v2: never errors, serde Display
    ["@input.intf", {"to_string": []}],    # 2.0 keeps .0
    ["@input.big", {"to_string": []}],     # bare-e scientific
    ["@input.sci", {"to_string": []}],
    ["@input.huge", {"to_string": []}],    # 2^60 ryu-shortest
    pytest.param(["@input.nzero", {"to_string": []}], marks=_NZERO),
    ["@input.exp16", {"to_string": []}],
    ["@input.e_m4", {"to_string": []}],
    ["@input.arr", {"to_string": []}],     # containers → JSON text
    ["@input.nul", {"to_string": []}],     # "null"
    # concat v2
    ["@input.s", {"concat": ["@input.f", "@input.b"]}],
    ["@input.s", {"concat": ["@input.arr"]}],
    ["@input.nope", {"concat": ["x"]}],
    ["@input.s", {"concat": ["@input.nul"]}],
    # delegated v1 string ops in v2 pipes
    ["@input.csv", {"split": [","]}],
    ["@input.csv", {"split": [""]}],       # empty delimiter error
    ["@input.csv", {"split": ["@input.n"]}],   # delim must be string
    ["@input.t", {"split": ["X"]}],
    ["@input.num_s", {"pad_start": [5]}],
    ["@input.num_s", {"pad_start": [5, "xy"]}],
    ["@input.num_s", {"pad_start": [1]}],      # value longer than len
    ["@input.num_s", {"pad_end": [5, ""]}],    # empty pad → unchanged
    ["@input.num_s", {"pad_start": [-1]}],     # negative length error
    ["@input.num_s", {"pad_start": ["@input.f"]}],  # non-int length
    ["@input.t", {"replace": ["X", "-"]}],     # literal FIRST only
    ["@input.t", {"replace": ["X", "-", "all"]}],
    ["@input.t", {"replace": ["[a-z]", "*", "regex"]}],
    ["@input.t", {"replace": ["[a-z]", "*", "regex_all"]}],
    ["@input.t", {"replace": ["X", "-", "bogus"]}],   # mode error
    ["@input.t", {"replace": ["", "-"]}],      # empty pattern prepends
    ["@input.neg", {"to_base": [16]}],
    ["@input.n", {"to_base": [2]}],
    ["@input.n", {"to_base": [37]}],           # base range error
    ["@input.n", {"to_base": ["@input.f"]}],   # base must be integer
    ["@input.f", {"to_base": [16]}],           # value must be integer
    ["@input.num_s", {"to_base": [16]}],       # i64-string accepted
    ["@input.f", {"to_base": ["@input.nul"]}],  # null check first
    ["@input.nul", {"to_base": ["@input.nope"]}],  # missing before null
    # round: half away from zero, integral results re-emit as ints
    ["@input.f", {"round": []}],               # 3, not 3.0
    ["@input.tiny", {"round": [7]}],
    ["@input.neg", {"round": [1]}],
    ["@input.big", {"round": [2]}],            # |x| >= 2^53 passes
    ["@input.num_s", {"round": []}],           # numeric string
    ["@input.n", {"round": [-1]}],             # negative scale error
    ["@input.n", {"round": [309]}],            # scale too large
    ["@input.s", {"round": []}],               # operand must be a number
    ["@input.nul", {"round": [1]}],            # null operand
    ["@input.n", {"round": ["@input.nul"]}],   # null scale
    # the Column rendering inside a lambda scope: conversions, then
    # the checks in operand order, as at the top level
    [["@input.f"], {"map": [{"to_base": ["@input.nul"]}]}],
    [["@input.t"], {"map": [{"replace": ["@input.n", "-"]}]}],
    [["@input.csv"], {"map": [{"split": [""]}]}],
    [["@input.num_s"], {"map": [{"pad_end": [6, "ab"]}]}],
    [["@input.f"], {"map": [{"round": ["@input.f"]}]}],
]

V1_CASES = [
    # v1 to_string: integral trim + Rust {} float rendering
    {"op": "to_string", "args": [{"ref": "input.intf"}]},   # "2"
    {"op": "to_string", "args": [{"ref": "input.big"}]},
    pytest.param({"op": "to_string", "args": [{"ref": "input.nzero"}]},
                 marks=_NZERO),                          # "-0"
    {"op": "to_string", "args": [{"ref": "input.arr"}]},    # error
    {"op": "concat", "args": [{"ref": "input.s"},
                              {"ref": "input.intf"}]},
    {"op": "concat", "args": [{"ref": "input.s"},
                              {"ref": "input.nul"}]},  # v1 null wording
    {"op": "trim", "args": [{"ref": "input.n"}]},      # v1: strings only
    {"chain": [{"ref": "input.csv"},
               {"op": "split", "args": [","]}]},
    {"chain": [{"ref": "input.num_s"},
               {"op": "pad_start", "args": [5, "0"]}]},
    {"chain": [{"ref": "input.t"},
               {"op": "replace", "args": ["X", "-", "regex"]}]},
    {"chain": [{"ref": "input.neg"},
               {"op": "to_base", "args": [36]}]},
]


@pytest.mark.parametrize("expr", V2_CASES,
                         ids=[f"v2-{i}" for i in range(len(V2_CASES))])
def test_v2_cross_path_parity(spark, expr):
    _both(spark, _v2(expr), REC)


@pytest.mark.parametrize("expr", V1_CASES,
                         ids=[f"v1-{i}" for i in range(len(V1_CASES))])
def test_v1_cross_path_parity(spark, expr):
    _both(spark, _v1(expr), REC)


# --- arithmetic ---------------------------------------------------------

ARITH_RECORDS = [
    {"a": 80.6, "b": "2.5"},
    {"a": 1, "b": 2},
    {"a": 1, "b": "x"},           # conversion error
    {"b": 2},                     # missing → missing
    {"a": 1, "b": None},          # null protocol error
    {"a": 1, "b": 0},             # ÷0 paths
    {"a": "inf", "b": 1},         # rust grammar non-finite → error (v1)
    {"a": "1e308", "b": "1e308"},  # overflow → not finite (v1 +)
    {"a": True, "b": 1},          # bool → error
    {"a": [1], "b": 1},           # container → error
    {"a": "0.1", "b": "0.2"},
    {"a": -0.0, "b": 0.0},
]
_NZ = len(ARITH_RECORDS) - 1  # the -0.0 record

STEP_REC = {"b": 5, "i": 3, "t": True}
MAP_REC = {"xs": [1, 2.5, "3"], "ys": [1, "x", None, 0]}

_ARITH_OPS = {"+": "add", "-": "sub", "*": "mul", "/": "div"}


def _arith_cases():
    """(id, version, expr, record) for every arithmetic case."""
    out = []
    for op, name in _ARITH_OPS.items():
        for i, rec in enumerate(ARITH_RECORDS):
            out += [
                (f"v1-{name}-{i}", 1, {"op": op, "args": [
                    {"ref": "input.a"}, {"ref": "input.b"}]}, rec),
                (f"v2-{name}-{i}", 2, ["@input.a", {op: ["@input.b"]}], rec),
                (f"v2x3-{name}-{i}", 2,
                 ["@input.a", {op: ["@input.b", "@input.a"]}], rec)]
        # the Column rendering inside a lambda scope
        for arr in ("xs", "ys"):
            out.append((f"map-{name}-{arr}", 2,
                        [f"@input.{arr}", {"map": [{op: [2]}]}], MAP_REC))
        # a step-bearing later arg runs only when no earlier operand
        # decides the op: numeric → its ÷0 fires; missing → missing;
        # bool → the bool's conversion error wins
        for first in ("b", "nope", "t"):
            out.append((f"step-{name}-{first}", 2,
                        [f"@input.{first}",
                         {op: [["@input.i", {"/": [0]}]]}], STEP_REC))
    # each divisor's zero check fires when that divisor is reached
    out += [("div-0-missing", 2, ["@input.b", {"/": [0, "@input.nope"]}],
             STEP_REC),
            ("div-missing-0", 2, ["@input.b", {"/": ["@input.nope", 0]}],
             STEP_REC)]
    return out


ARITH_CASES = _arith_cases()

# the -0.0 record: the reader turns -0.0 into 0, so a result whose sign
# interp keeps ("-0.0") reads "0.0" in the engine
_ARITH_NZERO = {f"v2-sub-{_NZ}", f"v2-mul-{_NZ}"}


@pytest.mark.parametrize(
    "version,expr,record",
    [pytest.param(v, e, r, id=cid,
                  marks=[_NZERO] if cid in _ARITH_NZERO else [])
     for cid, v, e, r in ARITH_CASES])
def test_arith_cross_path_parity(spark, version, expr, record):
    _both(spark, (_v2 if version >= 2 else _v1)(expr), record)


# v2 cases the typed engine hands to the variant engine: the map
# bodies read mixed-type arrays, which no typed column holds
_TYPED_CASES = [c for c in ARITH_CASES
                if c[1] >= 2 and not c[0].startswith("map-")]
# the cases whose rule the typed engine declines (TypedFallback); the
# list is exact, so a case that stops compiling typed fails the test.
# A statically missing first operand makes the only target missing:
# "rule produces no typed targets"
TYPED_FALLBACKS = {f"{form}-{name}-{miss}"
                   for name in _ARITH_OPS.values()
                   for form, miss in (("v2", 3), ("v2x3", 3),
                                      ("step", "nope"))}


def _typed_frame(spark, record):
    """A one-row typed DataFrame holding ``record``'s fields as columns:
    ints as bigint, floats as double, None as a void column, lists of
    ints as array<bigint>."""
    from pyspark.sql import functions as F

    def col(v):
        if isinstance(v, list):
            return F.array(*[col(x) for x in v])
        if isinstance(v, int) and not isinstance(v, bool):
            return F.lit(v).cast("bigint")
        return F.lit(v)
    return spark.range(1).select(*[col(v).alias(k)
                                   for k, v in record.items()])


def _typed_outcome(frame, rule):
    """Kind-exact outcome of ``mode="typed"`` over ``frame``: each row
    re-rendered by Python's JSON writer (Spark writes ``1.0E308``,
    Python ``1e+308``; both keep ``3`` and ``3.0`` apart).  A table row cannot tell a
    missing target from a null one: both render absent."""
    from rulemorph_spark.engine import transform_table
    from rulemorph_spark.errors import extract_engine_error
    df = transform_table(frame, rule, mode="typed")
    try:
        rows = K.table_rows(df)
    except Exception as exc:  # noqa: BLE001 — a rule error, re-raised if not
        err = extract_engine_error(exc)
        if err is None:
            raise
        return ("err", err.kind, err.message, err.path)
    return ("ok", [json.dumps(json.loads(r)) for r in rows])


def _oracle_rows(rule, record):
    """``interp``'s outcome as ``_typed_outcome`` renders it."""
    from rulemorph_spark import interp as I
    try:
        out = I.transform(rule, input_text=json.dumps([record]))
    except I.InterpError as e:
        return ("err", e.kind, e.message, e.path)
    return ("ok", [json.dumps({k: v for k, v in o.items() if v is not None})
                   for o in out])


@pytest.mark.parametrize("expr,record",
                         [pytest.param(e, r, id=cid)
                          for cid, _, e, r in _TYPED_CASES])
def test_arith_typed_matches_oracle(spark, request, expr, record):
    from rulemorph_spark.compiler.typed import TypedFallback
    rule = _v2(expr)
    if request.node.callspec.id in TYPED_FALLBACKS:
        with pytest.raises(TypedFallback):
            _typed_outcome(_typed_frame(spark, record), rule)
        return
    assert (_typed_outcome(_typed_frame(spark, record), rule)
            == _oracle_rows(rule, record))


def test_lambda_scope_falls_back(spark):
    """Inside a map body the op must take the Column path (SQL-function
    args can't reference lambda variables) and still agree with the
    top-level result."""
    rule = _v2([[" x ", "y "],
                {"map": [{"op": "trim", "args": []}]}])
    out = K.engine(spark, rule, [REC])
    assert out == ("ok", json.dumps([{"out": ["x", "y"]}]))


def test_step_bearing_arg_falls_back(spark):
    """A computed (step-bearing) argument needs the Column path's
    absent-guard machinery — the SQL gate must decline, and both paths
    agree end-to-end anyway."""
    expr = ["@input.num_s", {"pad_start": [["@input.n", {"+": [1]}]]}]
    _both(spark, _v2(expr), REC)


def test_lambda_free_rule_codegens_end_to_end(spark):
    """The round-9 goal (VERDICT r8 next #2): a variant rule using only
    string-family sqlfn ops compiles to a projection with ZERO lambda
    expressions, running entirely inside whole-stage codegen (arith
    keeps its eager-let lambdas and stays the documented exception)."""
    import json as _json

    from pyspark.sql import functions as F

    from rulemorph_spark.compiler.rule import Builder, RuleCompiler
    from rulemorph_spark.functions.diag import codegen_state, physical_plan
    from rulemorph_spark.model import parse_rule_file

    rule_text = """
version: 2
input: {format: json}
mappings:
  - target: a
    expr: ["@input.s", {trim: []}, {uppercase: []}, {concat: ["!"]}]
  - target: b
    expr: ["@input.s", {split: ["-"]}]
  - target: d
    expr: ["@input.s", {pad_start: [10, "0"]}, {replace: ["0", "x", "all"]}]
  - target: e
    expr: ["@input.n", {to_base: [16]}]
  - target: f
    expr: ["@input.n", {to_string: []}]
"""
    record = _json.dumps({"s": " ab-cd ", "n": 41})
    records = spark.range(10).select(
        F.col("id").alias("__idx__"),
        F.parse_json(F.lit(record)).alias("__record__"))
    rule = parse_rule_file(rule_text)
    builder = Builder(records)
    compiled = RuleCompiler(rule).compile(builder, F.col("__record__"))
    out = (builder.df.withColumn("__keep__", compiled.keep)
           .filter("__keep__").select(compiled.out_json().alias("j")))
    plan = physical_plan(out)
    assert "lambdafunction" not in plan, plan[:2000]
    st = codegen_state(out)
    assert not st["nodes_interpreted"], st
    assert any("Project" in n for n in st["nodes_in_codegen"]), st


# --- arrays ---------------------------------------------------------------
#
# Array ops register no SQL function, so each case runs once through the
# engine (no second rendering) and once through the oracle.  The typed
# leg runs the cases that read only natively typed columns.

_I64_MAX, _I64_MIN = 2 ** 63 - 1, -2 ** 63

ARR_REC = {"xs": [3, 1, 3, 2], "e": [], "nul": None, "n": 5,
           "sn": [1, None, 2], "ds": [1.5, 2.25, -3.5],
           "strs": ["b", "a", "b"], "nested": [[1, 2], [3], []],
           "mixed": [1, "1", True, "true", None], "deep": [[1]],
           "objs": [{"k": 1, "v": "a"}, {"k": "1", "v": "b"},
                    {"k": 2, "v": "c"}],
           "cnull": None, "nz": [-0.0]}

# the count operand of take/drop/slice: ints of both signs, zero, an
# i64 string, integral and fractional floats, null, missing, and the
# i64 extremes (the clamp must saturate, never overflow)
COUNTS = [2, -2, 0, "2", 2.0, 2.5, None, "@input.nope", _I64_MAX, _I64_MIN]

_GT2 = ["@item", {"gt": [2]}]


def _array_cases():
    """(id, version, expr) for every array case."""
    out = []
    for op in ("take", "drop", "slice"):
        out += [(f"{op}-{i}", 2, ["@input.xs", {op: [c]}])
                for i, c in enumerate(COUNTS)]
    out += [(f"slice-end-{i}", 2, ["@input.xs", {"slice": [1, c]}])
            for i, c in enumerate([-1, None, "@input.nope", _I64_MAX,
                                   _I64_MIN])]
    # empty, null, missing and non-array arrays
    for src in ("e", "nul", "nope", "n"):
        out += [(f"take-{src}", 2, [f"@input.{src}", {"take": [2]}]),
                (f"drop-{src}", 2, [f"@input.{src}", {"drop": [-2]}]),
                (f"slice-{src}", 2, [f"@input.{src}", {"slice": [1]}])]
    out += [(f"chunk-{i}", 2, ["@input.xs", {"chunk": [c]}])
            for i, c in enumerate([2, _I64_MAX, 2 ** 31, 0,
                                   "@input.nope"])]
    out.append(("chunk-e", 2, ["@input.e", {"chunk": [_I64_MAX]}]))
    # first-wins dedupe: mixed kinds stringify to colliding keys
    out += [(f"unique-{src}", 2, [f"@input.{src}", {"unique": []}])
            for src in ("xs", "mixed", "strs", "e", "nul", "deep")]
    out += [(f"distinct_by-{i}", 2, ["@input.objs", {"distinct_by": [k]}])
            for i, k in enumerate(["@item.k", "@item.v", "@item.nope",
                                   ["@item.index", {"gt": [0]}]])]
    # first-match search; a null element reaches the predicate
    for op in ("find", "find_index"):
        out += [(f"{op}-{src}-{i}", 2, [f"@input.{src}", {op: [p]}])
                for src in ("xs", "e", "nul", "sn")
                for i, p in enumerate([_GT2, ["@item", {"gt": [5]}]])]
        out += [(f"{op}-index", 2, ["@input.xs", {op: [
                    ["@item.index", {"gte": [2]}]]}]),
                (f"{op}-nonbool", 2, ["@input.xs", {op: [["@item"]]}])]
    out += [("filter-xs", 2, ["@input.xs", {"filter": [_GT2]}]),
            ("filter-index", 2, ["@input.xs", {"filter": [
                ["@item.index", {"gte": [1]}]]}]),
            ("filter-nul", 2, ["@input.nul", {"filter": [_GT2]}])]
    # the numeric fold: empty → null, null and string elements error
    out += [(f"{op}-{src}", 2, [f"@input.{src}", {op: []}])
            for op in ("sum", "min", "max", "avg")
            for src in ("xs", "e", "nul", "ds", "sn", "strs")]
    out += [(f"{op}-{src}", 2, [f"@input.{src}", {op: []}])
            for op in ("first", "last")
            for src in ("xs", "e", "nul", "n", "nope", "nested")]
    # string-coerced equality: "3" finds 3, null finds null
    out += [(f"{op}-{i}", 2, [f"@input.{src}", {op: [t]}])
            for op in ("contains", "index_of")
            for i, (src, t) in enumerate([
                ("xs", 3), ("xs", "3"), ("xs", 7), ("mixed", None),
                ("xs", "@input.nope"), ("xs", "@input.cnull"),
                ("strs", "b"), ("nul", 1), ("deep", 1)])]
    # flatten's depth: true is no integer, the reference rejects it
    out += [("flatten-nested", 2, ["@input.nested", {"flatten": []}]),
            ("flatten-1", 2, ["@input.nested", {"flatten": [1]}]),
            ("flatten-true", 2, ["@input.nested", {"flatten": [True]}]),
            ("first-nz", 2, ["@input.nz", {"first": []}])]
    # v1 {op, args}: the array is the first arg
    out += [("v1-take", 1, {"op": "take", "args": [{"ref": "input.xs"},
                                                   -2]}),
            ("v1-slice", 1, {"op": "slice", "args": [{"ref": "input.xs"},
                                                     1, -1]}),
            ("v1-unique", 1, {"op": "unique", "args": [
                {"ref": "input.mixed"}]}),
            ("v1-sum", 1, {"op": "sum", "args": [{"ref": "input.xs"}]}),
            ("v1-chunk", 1, {"op": "chunk", "args": [{"ref": "input.xs"},
                                                     _I64_MAX]})]
    return out


ARRAY_CASES = _array_cases()

# the reader turns -0.0 into 0 (see _NZERO)
_ARRAY_NZERO = {"first-nz"}


@pytest.mark.parametrize(
    "version,expr",
    [pytest.param(v, e, id=cid,
                  marks=[_NZERO] if cid in _ARRAY_NZERO else [])
     for cid, v, e in ARRAY_CASES])
def test_array_engine_matches_oracle(spark, version, expr):
    rule = (_v2 if version >= 2 else _v1)(expr)
    engine = K.engine(spark, rule, [ARR_REC])
    assert engine == K.oracle(rule, [ARR_REC]), (expr, engine)


# the fields a typed frame holds natively; a case reading any other
# field (besides the absent ``nope``) has no typed leg
_TYPED_ARR_DDL = ("xs array<bigint>, e array<bigint>, nul array<bigint>, "
                  "n bigint, sn array<bigint>, ds array<double>, "
                  "strs array<string>, nested array<array<bigint>>, "
                  "cnull bigint")
_TYPED_ARR_FIELDS = [f.split()[0] for f in _TYPED_ARR_DDL.split(", ")]


def _typed_refs_ok(expr) -> bool:
    refs = re.findall(r"@input\.(\w+)", json.dumps(expr))
    return all(r in _TYPED_ARR_FIELDS or r == "nope" for r in refs)


_TYPED_ARRAY_CASES = [c for c in ARRAY_CASES
                      if c[1] >= 2 and _typed_refs_ok(c[2])]
# the cases the typed engine declines (TypedFallback), exactly: a
# non-literal or null count, a missing target, a statically missing or
# non-array input, avg (its number kind is per row), folds over float
# or string elements, chunk, find, and a non-boolean predicate
TYPED_ARRAY_FALLBACKS = {
    *[f"{op}-{i}" for op in ("take", "drop", "slice") for i in (6, 7)],
    "slice-end-1", "slice-end-2",
    *[f"{op}-{src}" for op in ("take", "drop", "slice", "first", "last")
      for src in ("nope", "n")],
    *[f"chunk-{i}" for i in range(5)], "chunk-e",
    *[f"avg-{src}" for src in ("xs", "e", "nul", "ds", "sn", "strs")],
    *[f"{op}-{src}" for op in ("sum", "min", "max")
      for src in ("ds", "strs")],
    *[c[0] for c in ARRAY_CASES if c[0].startswith("find-")],
    "find_index-nonbool",
    "contains-4", "index_of-4", "flatten-true",
}


@pytest.mark.parametrize("expr",
                         [pytest.param(e, id=cid)
                          for cid, _, e in _TYPED_ARRAY_CASES])
def test_array_typed_matches_oracle(spark, request, expr):
    from rulemorph_spark.compiler.typed import TypedFallback
    rule = _v2(expr)
    record = {k: ARR_REC[k] for k in _TYPED_ARR_FIELDS}
    df = spark.createDataFrame([tuple(record.values())], _TYPED_ARR_DDL)
    if request.node.callspec.id in TYPED_ARRAY_FALLBACKS:
        with pytest.raises(TypedFallback):
            _typed_outcome(df, rule)
        return
    assert _typed_outcome(df, rule) == _oracle_rows(rule, record)
