"""The compiled-rule cache (``compiler/compiled.py``): a rule compiles
once per session and key, and every later call replays the program's
analyzed plan over its own input.

A replay must equal a fresh compile kind-exactly (``kind_exact.py``),
anything a compile reads must be in the key or re-checked, errors are
never cached, and concurrent first calls agree.
"""

from __future__ import annotations

import json
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import types as T

import kind_exact as K
from rulemorph_spark.compiler import compiled, sqlfn
from rulemorph_spark.compiler.rule import RuleCompiler
from rulemorph_spark.compiler.typed import TypedFallback, TypedRuleCompiler
from rulemorph_spark.engine import transform, transform_table
from rulemorph_spark.errors import RuleError

pytestmark = pytest.mark.smoke

RULE = """
version: 2
input: {format: json}
record_when: {gte: ["@input.n", 1]}
mappings:
  - target: id
    source: id
  - target: name
    expr: ["@input.name", {trim: []}, {uppercase: []}]
  - target: tag
    expr: ["@out.name", {concat: ["-", "@context.suffix"]}]
  - target: half
    expr: ["@input.n", {multiply: [0.5]}, {round: [1]}]
"""

WRAP_RULE = """
version: 2
input: {format: json}
mappings:
  - target: id
    source: id
  - target: n
    source: n
finalize:
  filter: {gte: ["@item.n", 1]}
  sort: {by: n, order: desc}
  limit: 3
  wrap: {items: "@out", count: ["@out", {len: []}]}
"""

TABLE_RULE = """
version: 2
input: {format: json}
record_when: {gt: ["@input.n", 0]}
mappings:
  - target: id
    source: id
  - target: s2
    expr: ["@input.s", {concat: ["!"]}]
  - target: twice
    expr: ["@input.n", {multiply: [2]}]
  - target: again
    expr: ["@out.twice", {add: ["@input.n"]}]
"""

# a when over a whole-record reference: outside the typed subset
UNTYPED_RULE = """
version: 2
input: {format: json}
mappings:
  - target: id
    source: id
  - target: rec
    expr: ["@input"]
"""

RECORDS = [{"id": i, "n": i % 4, "name": f" n{i} "} for i in range(8)]
CTX = {"suffix": "x"}


@pytest.fixture
def compiles(monkeypatch):
    """Counts RuleCompiler.compile and TypedRuleCompiler.compile calls
    (branch targets compile inside the outer call)."""
    counter = {"variant": 0, "typed": 0}
    lock = threading.Lock()

    def counting(kind, orig):
        def compile(self, *args, **kwargs):
            with lock:
                counter[kind] += 1
            return orig(self, *args, **kwargs)
        return compile

    monkeypatch.setattr(RuleCompiler, "compile",
                        counting("variant", RuleCompiler.compile))
    monkeypatch.setattr(TypedRuleCompiler, "compile",
                        counting("typed", TypedRuleCompiler.compile))
    return counter


@pytest.fixture
def table(spark):
    return spark.createDataFrame(
        [(i, f"s{i}", i % 3) for i in range(6)], "id long, s string, n long")


def _fresh(spark, call):
    """``call()``'s outcome with the session's programs forgotten."""
    compiled._programs.pop(spark, None)
    return call()


def _plan_text(spark, rule, context):
    """The analyzed plan that a hit of ``engine.transform`` replays."""
    key = compiled.rule_key(spark, "transform", rule, context, ".", None,
                            False)
    program = compiled._programs[spark][key]
    empty = spark.createDataFrame(
        [], T.StructType.fromJson(json.loads(program.schema)))
    return program.replay(empty)._jdf.queryExecution().analyzed().toString()


def _agrees(spark, rule, records, context, out=None):
    """``engine.transform``'s outcome (``out`` if given) equals the
    oracle's, object keys sorted."""
    if out is None:
        out = K.engine(spark, rule, records, context)
    if out[0] == "ok":
        out = ("ok", json.dumps(json.loads(out[1]), sort_keys=True))
    return out == K.oracle(rule, records, context, sort_keys=True)


def test_transform_hit_equals_a_fresh_compile(spark, compiles):
    for rule in (RULE, WRAP_RULE):
        fresh = _fresh(spark, lambda: K.engine(spark, rule, RECORDS, CTX))
        before = dict(compiles)
        hit = K.engine(spark, rule, RECORDS, CTX)
        assert compiles == before, "the second call compiled"
        assert hit == fresh
        assert _agrees(spark, rule, RECORDS, CTX, hit)


@pytest.mark.parametrize("mode", ["typed", "variant", "auto"])
def test_table_hit_equals_a_fresh_compile(spark, compiles, table, mode):
    fresh = _fresh(spark, lambda: K.table_rows(
        transform_table(table, TABLE_RULE, CTX, mode=mode)))
    assert compiles["typed" if mode != "variant" else "variant"] == 1
    before = dict(compiles)
    # a frame of the same schema replays the program
    sub = table.filter("id < 4")
    hit = K.table_rows(transform_table(sub, TABLE_RULE, CTX, mode=mode))
    again = K.table_rows(transform_table(table, TABLE_RULE, CTX, mode=mode))
    assert compiles == before, "a later call compiled"
    assert again == fresh
    assert hit == [r for r in fresh if json.loads(r)["id"] < 4]


def test_two_replays_in_one_query(spark, table):
    """Replays of one program share its attribute ids; the analyzer
    still tells the two sides of a join apart."""
    transform_table(table, TABLE_RULE, CTX, mode="typed")
    left = transform_table(table.filter("id < 4"), TABLE_RULE, CTX,
                           mode="typed")
    right = transform_table(table.filter("id > 1"), TABLE_RULE, CTX,
                            mode="typed")
    rows = (left.alias("l").join(right.alias("r"), "id")
            .select("id", "l.s2", "r.twice").collect())
    assert [tuple(r) for r in rows] == [(2, "s2!", 4)]


def test_typed_fallback_is_cached(spark, compiles, table):
    compiled._programs.pop(spark, None)
    for _ in range(2):
        with pytest.raises(TypedFallback, match="whole-record"):
            transform_table(table, UNTYPED_RULE, mode="typed")
    assert compiles == {"variant": 0, "typed": 1}
    auto = K.table_rows(transform_table(table, UNTYPED_RULE, mode="auto"))
    assert compiles == {"variant": 1, "typed": 2}
    assert auto == K.table_rows(
        transform_table(table, UNTYPED_RULE, mode="auto"))
    assert compiles == {"variant": 1, "typed": 2}


def test_what_a_compile_reads_is_in_the_key(spark, compiles, table,
                                            tmp_path):
    compiled._programs.pop(spark, None)
    K.engine(spark, RULE, RECORDS, CTX)
    n = compiles["variant"]
    # the context
    assert _agrees(spark, RULE, RECORDS, {"suffix": "y"})
    assert compiles["variant"] == n + 1
    # base_dir
    K.engine(spark, RULE, RECORDS, CTX)
    transform(spark, RULE, input_text=json.dumps(RECORDS), context=CTX,
              base_dir=str(tmp_path))
    assert compiles["variant"] == n + 2
    # the session's SQL-function switch: the rule renders through the
    # inline Column path
    assert "_rm_" in _plan_text(spark, RULE, CTX)
    sqlfn.disable(spark)
    try:
        out = K.engine(spark, RULE, RECORDS, CTX)
        assert "_rm_" not in _plan_text(spark, RULE, CTX)
    finally:
        sqlfn.enable(spark)
    assert compiles["variant"] == n + 3
    assert _agrees(spark, RULE, RECORDS, CTX, out)
    # the session time zone, which the analyzed plan binds
    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        assert _agrees(spark, RULE, RECORDS, CTX)
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
    assert compiles["variant"] == n + 4
    # the input schema and the mode
    transform_table(table, TABLE_RULE, mode="auto")
    t = dict(compiles)
    transform_table(table.selectExpr("cast(id as int) id", "s", "n"),
                    TABLE_RULE, mode="auto")
    assert compiles["typed"] == t["typed"] + 1
    transform_table(table, TABLE_RULE, mode="variant")
    assert compiles["variant"] == t["variant"] + 1


def test_an_edited_branch_target_recompiles(spark, compiles, tmp_path):
    target = tmp_path / "target.yaml"
    rule = """
version: 2
input: {format: json}
steps:
  - mappings:
      - target: id
        source: id
  - branch:
      when: {gte: ["@out.id", 0]}
      then: target.yaml
"""

    def target_sets(v):
        target.write_text("version: 2\ninput: {format: json}\nmappings:\n"
                          f"  - target: v\n    value: {v}\n")

    def run():
        return transform(spark, rule, input_text=json.dumps([{"id": 1}]),
                         base_dir=str(tmp_path))

    compiled._programs.pop(spark, None)
    target_sets(1)
    assert run() == [{"id": 1, "v": 1}]
    n = compiles["variant"]
    assert run() == [{"id": 1, "v": 1}]
    assert compiles["variant"] == n
    target_sets(2)
    assert run() == [{"id": 1, "v": 2}]
    assert compiles["variant"] > n


def test_a_compile_error_raises_on_every_call(spark, compiles):
    rule = """
version: 2
input: {format: json}
mappings:
  - target: a
    value: 1
  - target: a.b
    value: 2
"""
    compiled._programs.pop(spark, None)
    for _ in range(2):
        with pytest.raises(RuleError, match="intermediate path 'a'"):
            transform(spark, rule, input_text="[{}]")
    assert compiles["variant"] == 2


def test_concurrent_first_calls_agree(spark, compiles):
    """More first callers than cores, with a short switch interval."""
    rule = RULE.replace("0.5", "0.25")
    compiled._programs.pop(spark, None)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            got = list(pool.map(
                lambda _: K.engine(spark, rule, RECORDS, CTX), range(8),
                timeout=600))
    finally:
        sys.setswitchinterval(interval)
    assert len(got) == 8
    assert all(_agrees(spark, rule, RECORDS, CTX, out) for out in got)
    # one thread compiled; the others waited for its program
    assert compiles["variant"] == 1
