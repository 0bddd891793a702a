"""finalize.filter parity with the reference (``transform.rs:619-644``),
engine vs the interpreter oracle:

- ``@out`` inside the condition = the WHOLE pre-filter output array
  (the engine previously bound ``{}``);
- ``@item.index`` = a dense enumerate over the OUTPUT array — diverges
  from the input index once record_when dropped records;
- evaluation errors are HARD (the reference ``?``s them; the engine
  previously compiled the condition lenient and silently dropped);
- UDF-backed ops (object_flatten/deep_merge/dynamic pick) trapped in
  condition positions route through the interp bridge instead of
  failing analysis (VERDICT r8 "what's missing" #1);
- the per-record BRANCH finalize (``transform.rs:288-308``) shares all
  of the above with ``@out`` bound to the singleton output array;
- one record, three paths: a service request, the same rule as a
  ``return: true`` branch target and the interpreter agree on the
  single-record contract (the parity matrix below).
"""

from __future__ import annotations

import json
import threading

import pytest

from rulemorph_spark import interp as I
from rulemorph_spark.engine import transform, transform_table
from rulemorph_spark.errors import RuleError, TransformEngineError
from rulemorph_spark.service.record import transform_record

pytestmark = pytest.mark.smoke


def _engine(spark, rule, records, context=None):
    try:
        return ("ok", transform(spark, rule, input_text=json.dumps(records),
                                context=context))
    except TransformEngineError as e:
        return ("err", e.kind, e.message, e.path)


def _oracle(rule, records, context=None):
    try:
        return ("ok", I.transform(rule, input_text=json.dumps(records),
                                  context=context))
    except I.InterpError as e:
        return ("err", e.kind, e.message, e.path)


BASE = """
version: 2
input: {format: json}
mappings:
  - target: name
    source: input.name
  - target: score
    source: input.score
"""

ROWS = [{"name": "a", "score": 5}, {"name": "b", "score": 11},
        {"name": "c", "score": 8}, {"name": "d", "score": 20}]

CASES = [
    # @out: keep items scoring above the first output item's score —
    # needs the whole base array (driver interp path)
    (BASE + """
finalize:
  filter:
    gt: ["@item.score", "@out[0].score"]
""", ROWS),
    # @out via len(): condition references the pre-filter count
    (BASE + """
finalize:
  filter:
    expr: ["@out", {len: []}, {gte: [2]}]
""", ROWS),
    # @item.index dense over OUTPUT order after record_when dropped
    # rows — input __idx__ has gaps, reference renumbers
    (BASE + """
record_when:
  gte: ["@input.score", 8]
finalize:
  filter:
    eq: ["@item.index", 1]
""", ROWS),
    # same but keeping even output positions via index comparison
    (BASE + """
record_when:
  ne: ["@input.name", "b"]
finalize:
  filter:
    lte: ["@item.index", 1]
""", ROWS),
    # trapped UDF op: object_flatten inside the condition's pipe arg
    ("""
version: 2
input: {format: json}
mappings:
  - target: obj
    source: input.obj
  - target: keep
    source: input.keep
finalize:
  filter:
    expr: ["@item.obj", {object_flatten: []}, {get: ["a.b"]}, {eq: [1]}]
""", [{"obj": {"a": {"b": 1}}, "keep": True},
      {"obj": {"a": {"b": 2}}, "keep": False}]),
    # trapped UDF op: deep_merge in a condition arg
    ("""
version: 2
input: {format: json}
mappings:
  - target: obj
    source: input.obj
finalize:
  filter:
    expr: ["@item.obj", {deep_merge: [{"flag": true}]},
           {get: ["flag"]}]
""", [{"obj": {"x": 1}}, {"obj": {"flag": False}}]),
    # hard evaluation error: non-boolean bare-expression condition —
    # the reference propagates, nothing is silently dropped
    (BASE + """
finalize:
  filter:
    expr: ["@item.score"]
""", ROWS),
    # hard evaluation error: invalid regex in a match comparison
    (BASE + """
finalize:
  filter:
    match: ["@item.name", "("]
""", ROWS),
    # hard evaluation error inside a trapped-UDF condition
    ("""
version: 2
input: {format: json}
mappings:
  - target: obj
    source: input.obj
finalize:
  filter:
    expr: ["@item.obj", {object_flatten: []}, {len: []}, {gte: [1]}]
""", [{"obj": {"a": 1}}, {"obj": 7}]),
    # plain condition regression (no refs beyond @item.<field>)
    (BASE + """
finalize:
  filter:
    gte: ["@item.score", 10]
  sort: {by: score, order: desc}
""", ROWS),
    # @out + @item.index together (driver path carries the index too)
    (BASE + """
record_when:
  ne: ["@input.name", "a"]
finalize:
  filter:
    any:
      - eq: ["@item.index", 0]
      - gt: ["@item.score", "@out[0].score"]
""", ROWS),
    # a wrap leaf that fails to parse raises when it is evaluated, at
    # its leaf path
    (BASE + """
finalize:
  wrap: {o: "@bogus.x", n: ["@out", {len: []}]}
""", ROWS),
]


@pytest.mark.parametrize("rule,records",
                         CASES, ids=range(len(CASES)))
def test_finalize_filter_matches_interpreter(spark, rule, records):
    assert _engine(spark, rule, records) == _oracle(rule, records)


BRANCH_MAIN = """
version: 2
input: {format: json}
steps:
  - mappings:
      - target: name
        source: input.name
  - branch:
      when: { eq: [1, 1] }
      then: sub.yaml
      return: true
"""

BRANCH_SUBS = [
    # trapped UDF op in the per-record finalize filter
    """
version: 2
input: {format: json}
mappings:
  - target: obj
    source: input.obj
finalize:
  filter:
    expr: ["@item.obj", {object_flatten: []}, {len: []}, {gte: [1]}]
""",
    # @out in the per-record finalize = the singleton output array
    """
version: 2
input: {format: json}
mappings:
  - target: score
    source: input.score
finalize:
  filter:
    eq: ["@item.score", "@out[0].score"]
""",
    # hard error in the per-record finalize filter
    """
version: 2
input: {format: json}
mappings:
  - target: name
    source: input.name
finalize:
  filter:
    expr: ["@item.name"]
""",
]

BRANCH_ROWS = [{"name": "a", "obj": {"x": {"y": 1}}, "score": 3},
               {"name": "b", "obj": {}, "score": 9}]


@pytest.mark.parametrize("sub", BRANCH_SUBS, ids=range(len(BRANCH_SUBS)))
def test_branch_record_finalize_matches_interpreter(spark, tmp_path, sub):
    (tmp_path / "sub.yaml").write_text(sub)
    eng = None
    try:
        eng = ("ok", transform(spark, BRANCH_MAIN,
                               input_text=json.dumps(BRANCH_ROWS),
                               base_dir=str(tmp_path)))
    except TransformEngineError as e:
        eng = ("err", e.kind, e.message, e.path)
    try:
        orc = ("ok", I.transform(BRANCH_MAIN,
                                 input_text=json.dumps(BRANCH_ROWS),
                                 base_dir=str(tmp_path)))
    except I.InterpError as e:
        orc = ("err", e.kind, e.message, e.path)
    assert eng == orc


# --- the single-record contract: service, branch target, interp ---------

# each case: a rule's mappings-and-finalize, a record
_MAP_N = """
version: 2
input: {format: json}
mappings:
  - target: n
    source: input.n
"""

RECORD_CASES = {
    "no_finalize": (_MAP_N, {"n": 1}),
    "filter_keeps": (_MAP_N + """
finalize:
  filter: {gt: ["@item.n", 0]}
""", {"n": 1}),
    "filter_drops": (_MAP_N + """
finalize:
  filter: {gt: ["@item.n", 0]}
""", {"n": -1}),
    "record_when_drops": ("""
version: 2
input: {format: json}
record_when: {eq: ["@input.keep", true]}
mappings:
  - target: n
    source: input.n
finalize:
  limit: 1
""", {"keep": False, "n": 1}),
    "sort_missing_key": (_MAP_N + """
finalize:
  sort: {by: m}
""", {"n": 1}),
    "sort_null_key": (_MAP_N + """
finalize:
  sort: {by: n}
""", {"n": None}),
    "sort_array_key": (_MAP_N + """
finalize:
  sort: {by: n, order: desc}
""", {"n": [1, 2]}),
    "sort_number_key": (_MAP_N + """
finalize:
  sort: {by: n}
""", {"n": 1}),
    "offset_1": (_MAP_N + """
finalize:
  offset: 1
""", {"n": 1}),
    "limit_0": (_MAP_N + """
finalize:
  limit: 0
""", {"n": 1}),
    "limit_1": (_MAP_N + """
finalize:
  limit: 1
""", {"n": 1}),
    "wrap_kept": (_MAP_N + """
finalize:
  filter: {gt: ["@item.n", 0]}
  wrap: {items: "@out", count: ["@out", {len: []}]}
""", {"n": 1}),
    "wrap_dropped": (_MAP_N + """
finalize:
  filter: {gt: ["@item.n", 0]}
  wrap: {items: "@out", count: ["@out", {len: []}]}
""", {"n": -1}),
    "wrap_nested_and_empty": (_MAP_N + """
finalize:
  wrap:
    z:
      first: ["@out", {first: []}, {get: ["n"]}]
      none: ["@out", {first: []}, {get: ["m"]}]
      deeper: {all: "@input"}
    a: {}
""", {"n": 2}),
    "filter_reads_out": (_MAP_N + """
finalize:
  filter: {eq: ["@item.n", ["@out", {first: []}, {get: ["n"]}]]}
""", {"n": 3}),
    "filter_reads_item_index": (_MAP_N + """
finalize:
  filter: {eq: ["@item.index", 0]}
""", {"n": 3}),
    # a Python-UDF bridge op: the service's Dataset path
    "filter_bridge_op": (_MAP_N + """
finalize:
  filter: {gte: [["@item.n", {object_flatten: []}, {len: []}], 1]}
""", {"n": {"a": {"b": 1}}}),
    # the wrap reads no array, and the sort check still raises
    "wrap_ignores_out": (_MAP_N + """
finalize:
  sort: {by: m}
  wrap: {x: "lit:1"}
""", {"n": 1}),
    "wrap_parse_error": (_MAP_N + """
finalize:
  wrap: {o: "@bogus.x"}
""", {"n": 1}),
}


def _outcome(fn, errors):
    try:
        return ("ok", fn())
    except errors as e:
        return ("err", e.kind, e.message, e.path)


def _service(spark, rule, record):
    """``transform_record`` on a fresh thread, like an HTTP request."""
    out: dict = {}

    def run():
        out["res"] = _outcome(lambda: transform_record(spark, rule, record),
                              TransformEngineError)

    t = threading.Thread(target=run)
    t.start()
    t.join(timeout=600)
    return out["res"]


def _branch_target(spark, tmp_path, rule, record):
    """``rule`` as a ``return: true`` branch target of a rule that
    copies the record into ``@out``: its value, or None when dropped."""
    (tmp_path / "target.yaml").write_text(rule)
    copy = "".join(f"      - target: {k}\n        source: input.{k}\n"
                   for k in record)
    main = f"""
version: 2
input: {{format: json}}
steps:
  - mappings:
{copy}  - branch:
      when: {{eq: [1, 1]}}
      then: target.yaml
      return: true
"""

    def run():
        out = transform(spark, main, input_text=json.dumps([record]),
                        base_dir=str(tmp_path))
        assert len(out) <= 1
        return out[0] if out else None

    return _outcome(run, TransformEngineError)


def _interp(rule, record):
    def run():
        v = I.transform_record(rule, record)
        return None if v is I.MISSING else v
    return _outcome(run, I.InterpError)


EXPECTED = {
    "no_finalize": ("ok", {"n": 1}),
    "filter_keeps": ("ok", [{"n": 1}]),
    "filter_drops": ("ok", []),
    "record_when_drops": ("ok", None),
    "sort_missing_key": ("err", "InvalidRef",
                         "finalize.sort.by path not found",
                         "finalize.sort.by"),
    "sort_null_key": ("err", "ExprError",
                      "sort key must be string/number/bool",
                      "finalize.sort.by"),
    "sort_array_key": ("err", "ExprError",
                       "sort key must be string/number/bool",
                       "finalize.sort.by"),
    "sort_number_key": ("ok", [{"n": 1}]),
    "offset_1": ("ok", []),
    "limit_0": ("ok", []),
    "limit_1": ("ok", [{"n": 1}]),
    "wrap_kept": ("ok", {"count": 1, "items": [{"n": 1}]}),
    "wrap_dropped": ("ok", {"count": 0, "items": []}),
    "wrap_nested_and_empty": ("ok", {"a": {}, "z": {
        "deeper": {"all": [{"n": 2}]}, "first": 2, "none": None}}),
    "filter_reads_out": ("ok", [{"n": 3}]),
    "filter_reads_item_index": ("ok", [{"n": 3}]),
    "filter_bridge_op": ("ok", [{"n": {"a": {"b": 1}}}]),
    "wrap_ignores_out": ("err", "InvalidRef",
                         "finalize.sort.by path not found",
                         "finalize.sort.by"),
    "wrap_parse_error": ("err", "ExprError",
                         "invalid v2 expr: invalid start value: "
                         "invalid v2 reference: @bogus.x",
                         "finalize.wrap.o"),
}


@pytest.mark.parametrize("case", list(RECORD_CASES))
def test_single_record_contract_is_one(spark, tmp_path, case):
    rule, record = RECORD_CASES[case]
    oracle = _interp(rule, record)
    assert oracle == EXPECTED[case]
    assert _service(spark, rule, record) == oracle
    assert _branch_target(spark, tmp_path, rule, record) == oracle


# a target that ran finalize answers with an array or a wrap value, which
# has no per-key columns: transform_table rejects it rather than filling
# the columns with NULL
TABLE_MAIN = """
version: 2
input: {format: json}
steps:
  - mappings:
      - target: n
        source: input.n
  - branch:
      when: {eq: [1, 1]}
      then: %s
      return: true
"""


@pytest.mark.parametrize("nested", [False, True], ids=["direct", "nested"])
def test_transform_table_rejects_finalized_branch_return(spark, tmp_path,
                                                         nested):
    (tmp_path / "fin.yaml").write_text(_MAP_N + """
finalize:
  limit: 1
""")
    # nested: the returned target has no finalize of its own, but it
    # returns the output of one that has
    (tmp_path / "mid.yaml").write_text(TABLE_MAIN % "fin.yaml")
    rule = TABLE_MAIN % ("mid.yaml" if nested else "fin.yaml")
    df = spark.createDataFrame([(1,), (2,)], "n long")
    for mode in ("auto", "variant"):
        with pytest.raises(RuleError) as ei:
            transform_table(df, rule, mode=mode, base_dir=str(tmp_path))
        assert ei.value.code == "invalid_rule"
        assert ei.value.path == "steps[1]"
