"""The ops Spark cannot express evaluate through the interpreter
(compiler/interp_bridge.py) in every position: deep_merge,
object_(un)flatten, pick/omit whose paths are dynamic, indexed or
malformed, a flatten depth other than a literal 0-32 and a sort_by
order other than a literal asc/desc — as a mapping's direct step,
inside array-op bodies,
{map:} step bodies, if-branches, operand args, when-conditions and
finalize.wrap leaves.  Every case compares the ENGINE against the
INTERPRETER oracle — results and error {kind, message, path} alike."""

from __future__ import annotations

import json

import pytest

from rulemorph_spark import interp as I
from rulemorph_spark.engine import transform
from rulemorph_spark.errors import TransformEngineError

pytestmark = pytest.mark.smoke


def _engine(spark, rule, records):
    try:
        return ("ok", transform(spark, rule,
                                input_text=json.dumps(records)))
    except TransformEngineError as e:
        return ("err", e.kind, e.message, e.path)


def _oracle(rule, records):
    try:
        return ("ok", I.transform(rule, input_text=json.dumps(records)))
    except I.InterpError as e:
        return ("err", e.kind, e.message, e.path)


CASES = [
    # deep_merge inside a {map:} step body — ok rows and an indexed
    # per-item error path
    ("""
version: 2
input: {format: json}
mappings:
  - target: out
    expr: ["@input.xs", {map: [{deep_merge: [{"z": 9}]}]}]
""", [{"xs": [{"a": 1}, {"b": {"c": 2}}]}]),
    ("""
version: 2
input: {format: json}
mappings:
  - target: out
    expr: ["@input.xs", {map: [{deep_merge: [{"z": 9}]}]}]
""", [{"xs": [{"a": 1}, 5]}]),
    # object_flatten inside a map OP body (v2 array op)
    ("""
version: 2
input: {format: json}
mappings:
  - target: out
    expr: ["@input.xs", {map: [{object_flatten: []}]}]
""", [{"xs": [{"a": {"b": 1}}, {"p.q": {"r": 2}}]}]),
    # object_unflatten nested under an if-branch
    ("""
version: 2
input: {format: json}
mappings:
  - target: out
    expr:
      - "@input.doc"
      - if:
          cond: {eq: [["@input.mode"], ["lit:un"]]}
          then: [$, {object_unflatten: []}]
""", [{"doc": {"a.b": 1, "c": 2}, "mode": "un"}]),
    # deep_merge as an operand ARG of a non-UDF op (compiles inside
    # the op's let lambda)
    ("""
version: 1
input: {format: json, json: {}}
mappings:
  - target: out
    expr:
      op: merge
      args:
        - {op: deep_merge, args: [{ref: "input.a"}, {ref: "input.b"}]}
        - {"k": true}
""", [{"a": {"x": {"y": 1}}, "b": {"x": {"z": 2}}}]),
    # dynamic pick (paths from data) inside a map body
    ("""
version: 2
input: {format: json}
mappings:
  - target: out
    expr: ["@input.xs", {map: [{pick: ["@input.fields"]}]}]
""", [{"xs": [{"a": 1, "b": 2}, {"a": 3, "c": 4}], "fields": ["a"]}]),
    # flatten error inside map: bracket key — per-item path
    ("""
version: 2
input: {format: json}
mappings:
  - target: out
    expr: ["@input.xs", {map: [{object_flatten: []}]}]
""", [{"xs": [{"ok": 1}, {"ba[d": 2}]}]),
]

_V1_DEEP_MERGE = """
version: 1
input: {format: json, json: {}}
mappings:
  - target: out
    expr: {op: deep_merge, args: [{ref: "input.a"}, {ref: "input.b"}]}
"""
_V2_DEEP_MERGE = """
version: 2
input: {format: json}
mappings:
  - target: out
    expr: ["@input.a", {deep_merge: ["@input.b"]}]
"""
_TOP_LEVEL = """
version: 2
input: {format: json}
mappings:
  - target: out
    expr: ["@input.doc", {%s}]
"""
_IN_MAP = """
version: 2
input: {format: json}
mappings:
  - target: out
    expr: ["@input.xs", {map: [{%s}]}]
"""

CASES += [
    # a direct deep_merge step, v1 and v2: ok rows (a missing operand
    # is skipped), a non-object operand, a null operand
    *[(rule, records)
      for rule in (_V1_DEEP_MERGE, _V2_DEEP_MERGE)
      for records in (
          [{"a": {"x": {"y": 1}, "k": [1]}, "b": {"x": {"z": 2}, "k": [2]}},
           {"a": {"p": 1}}],
          [{"a": {"x": 1}, "b": 5}],
          [{"a": None, "b": {"x": 1}}])],
    # object_flatten: a dotted key is bracket-quoted, an empty key errors
    (_TOP_LEVEL % "object_flatten: []",
     [{"doc": {"a.b": {"c": 1}, "d": {}, "e": [1]}}]),
    (_TOP_LEVEL % "object_flatten: []", [{"doc": {"a": {"": 1}}}]),
    # object_unflatten: conflicting paths
    (_TOP_LEVEL % "object_unflatten: []", [{"doc": {"a": 1, "a.b": 2}}]),
    # dynamic pick/omit: ok, and a path that is not a string
    (_TOP_LEVEL % 'pick: ["@input.fields"]',
     [{"doc": {"a": {"b": 1, "c": 2}, "d": 3}, "fields": ["a.b", "d"]}]),
    (_TOP_LEVEL % 'omit: ["@input.fields"]',
     [{"doc": {"a": {"b": 1, "c": 2}, "d": 3}, "fields": ["a.b", "d"]}]),
    (_TOP_LEVEL % 'pick: ["@input.fields"]',
     [{"doc": {"a": 1}, "fields": ["a", 7]}]),
    # a literal indexed path, as a direct step and inside a map body
    (_TOP_LEVEL % 'pick: ["a[0]"]', [{"doc": {"a": [1, 2], "b": 3}}]),
    (_IN_MAP % 'pick: ["a[0]"]', [{"xs": [{"a": [1, 2]}, {"a": [3]}]}]),
    # literal paths the reference rejects per record, inside a map body
    (_IN_MAP % 'omit: ["a[0]"]', [{"xs": [{"a": [1, 2]}]}]),
    (_IN_MAP % 'pick: ["a..b"]', [{"xs": [{"a": {"b": 1}}]}]),
    # a finalize.wrap leaf: @input and @out are the output array
    ("""
version: 2
input: {format: json}
mappings:
  - target: a
    expr: ["@input.a"]
finalize:
  wrap:
    merged: ["@out", {first: []}, {deep_merge: [{"a": {"z": 1}}]}]
    n: ["@out", {len: []}]
""", [{"a": {"y": 1}}, {"a": {"y": 2}}]),
]


_DEEP = [1]
for _ in range(35):
    _DEEP = [_DEEP]

CASES += [
    # a flatten depth read from data, v2 and v1
    (_TOP_LEVEL % 'flatten: ["@input.d"]',
     [{"doc": [[1, 2], [3]], "d": 1}, {"doc": [[1, [2]]], "d": 5}]),
    ("""
version: 1
input: {format: json, json: {}}
mappings:
  - target: out
    expr: {op: flatten, args: [{ref: input.doc}, {ref: input.d}]}
""", [{"doc": [[1, 2], [3]], "d": 1}]),
    # a depth from data the reference rejects: negative, null, a float
    (_TOP_LEVEL % 'flatten: ["@input.d"]', [{"doc": [[1]], "d": -1}]),
    (_TOP_LEVEL % 'flatten: ["@input.d"]', [{"doc": [[1]], "d": None}]),
    (_TOP_LEVEL % 'flatten: ["@input.d"]', [{"doc": [[1]], "d": 1.5}]),
    # a literal depth beyond the unrolled 32 levels: a 36-deep array
    (_TOP_LEVEL % "flatten: [40]", [{"doc": _DEEP}]),
    # literal depths the reference rejects, after the array converts
    (_TOP_LEVEL % "flatten: [-1]", [{"doc": [[1]]}]),
    (_TOP_LEVEL % "flatten: [-1]", [{"doc": 5}]),
    (_TOP_LEVEL % "flatten: [null]", [{"doc": [[1]]}]),
    (_TOP_LEVEL % 'flatten: ["x"]', [{"doc": [[1]]}]),
    # a sort_by order read from data; [] sorts without reading it
    (_TOP_LEVEL % 'sort_by: [["@item"], "@input.o"]',
     [{"doc": [2, 3, 1], "o": "desc"}, {"doc": [2, 1], "o": "asc"}]),
    (_TOP_LEVEL % 'sort_by: [["@item"], "@input.o"]',
     [{"doc": [2, 1], "o": "up"}]),
    (_TOP_LEVEL % 'sort_by: [["@item"], "@input.o"]',
     [{"doc": [], "o": 5}]),
    # literal orders the reference rejects, v2 and v1
    (_TOP_LEVEL % "sort_by: [[\"@item\"], 5]", [{"doc": [2, 1]}]),
    (_TOP_LEVEL % "sort_by: [[\"@item\"], null]", [{"doc": [2, 1]}]),
    ("""
version: 1
input: {format: json, json: {}}
mappings:
  - target: out
    expr: {op: sort_by, args: [{ref: input.doc}, {ref: item}, null]}
""", [{"doc": [2, 1]}]),
    # a dynamic order inside a map body: per-item paths
    (_IN_MAP % 'sort_by: [["@item"], "@input.o"]',
     [{"xs": [[2, 1], [3]], "o": "desc"}]),
]


@pytest.mark.parametrize("rule,records", CASES)
def test_engine_matches_interp(spark, rule, records):
    assert _engine(spark, rule, records) == _oracle(rule, records)


def test_direct_steps_need_interp():
    """The predicate covers every position, a mapping's direct step
    included; a pick of plain literal keys keeps its Column body."""
    from rulemorph_spark.compiler.interp_bridge import needs_interp
    from rulemorph_spark.expr_ir import parse_expr

    assert needs_interp(parse_expr(["@input.a", {"deep_merge": [{"z": 1}]}]))
    assert needs_interp(
        parse_expr(["@input.xs", {"map": [{"deep_merge": [{"z": 1}]}]}]))
    assert needs_interp(parse_expr(["@input.a", {"pick": ["b[0]"]}]))
    assert not needs_interp(parse_expr(["@input.a", {"pick": ["b.c"]}]))
    assert needs_interp(parse_expr(["@input.a", {"flatten": ["@input.d"]}]))
    assert needs_interp(parse_expr(["@input.a", {"flatten": [33]}]))
    assert not needs_interp(parse_expr(["@input.a", {"flatten": [32]}]))
    assert not needs_interp(parse_expr(["@input.a", {"flatten": []}]))
    assert needs_interp(
        parse_expr(["@input.a", {"sort_by": [["@item"], "@input.o"]}]))
    assert not needs_interp(
        parse_expr(["@input.a", {"sort_by": [["@item"], "desc"]}]))


def test_analysis_error_is_not_an_engine_error(spark):
    """An AnalysisException prints the plan, raise_error markers
    included; it must surface as itself, not as a row error."""
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    from rulemorph_spark.compiler import variant as V
    from rulemorph_spark.errors import extract_engine_error

    @F.pandas_udf("long")
    def plus_one(s):
        return s + 1

    df = spark.range(1).select(F.array(F.col("id")).alias("xs"))
    with pytest.raises(AnalysisException) as ei:
        df.select(F.transform("xs", lambda x: F.when(
            x > 0, plus_one(x)).otherwise(V.raise_err(
                "expr_error", "boom", "p").cast("long")))).collect()
    assert "RULEMORPH_ERROR" in str(ei.value)
    assert extract_engine_error(ei.value) is None


WHEN_CASES = [
    # deep_merge inside a when-condition's map body
    ("""
version: 2
input: {format: json}
mappings:
  - target: out
    when: {gt: [["@input.xs", {map: [{deep_merge: [{"w": 1}]}]}, {len: []}], [1]]}
    expr: ["lit:many"]
""", [{"xs": [{"a": 1}, {"b": 2}]}]),
    ("""
version: 2
input: {format: json}
mappings:
  - target: out
    when: {gt: [["@input.xs", {map: [{deep_merge: [{"w": 1}]}]}, {len: []}], [1]]}
    expr: ["lit:many"]
""", [{"xs": [{"a": 1}]}]),
    # erroring condition → warning + skip in both
    ("""
version: 2
input: {format: json}
mappings:
  - target: out
    when: {gt: [["@input.xs", {map: [{deep_merge: [{"w": 1}]}]}, {len: []}], [1]]}
    expr: ["lit:many"]
""", [{"xs": [{"a": 1}, 5]}]),
]


@pytest.mark.parametrize("rule,records", WHEN_CASES)
def test_when_conditions_match_interp(spark, rule, records):
    assert _engine(spark, rule, records) == _oracle(rule, records)
