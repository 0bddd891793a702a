"""Single-record service transforms (``service.record.transform_record``)
run on the driver and launch no Spark job.

Each transform runs on a fresh ``threading.Thread``, like a
``ThreadingHTTPServer`` request, which has no ambient active session.
Replies match the interpreter oracle, and errors keep their kind,
message and path.  A rule compiles and optimizes once per session;
later calls evaluate its cached plan with a pooled evaluator, and only
a plan that is not a Project/Filter chain runs a rebound ``Dataset``.
"""

from __future__ import annotations

import importlib.util
import itertools
import json
import os
import random
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

import kind_exact as K
from rulemorph_spark import interp
from rulemorph_spark.errors import TransformEngineError
from rulemorph_spark.model import parse_rule_file
from rulemorph_spark.service import record as record_mod
from rulemorph_spark.service.endpoint import EndpointEngine
from rulemorph_spark.service.record import transform_record

pytestmark = pytest.mark.smoke

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERFBENCH = os.path.join(REPO, "perfbench")
F5_RULE = open(os.path.join(PERFBENCH, "fixtures",
                            "f5_extended.yaml")).read()

# the endpoint's reply ``body: "@input"`` compiles to this rule
INPUT_RULE = """
version: 2
input: {format: json, json: {}}
mappings:
  - target: v
    expr: "@input"
"""

WHEN_RULE = """
version: 2
input: {format: json}
record_when: {eq: ["@input.keep", true]}
mappings:
  - target: n
    expr: ["@input.n", {"+": [1]}]
"""

_groups = itertools.count()


def _gen():
    spec = importlib.util.spec_from_file_location(
        "perfbench_gen", os.path.join(PERFBENCH, "gen.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _bodies(seed: int, n: int) -> list[dict]:
    """Seeded FIXTURES §F5 request bodies, as the benchmark sends."""
    gen, r = _gen(), random.Random(seed)
    return [gen._f5_record(r) for _ in range(n)]


def _kx(call) -> tuple:
    """The kind-exact outcome of ``call()`` (``kind_exact.outcome``):
    ``("ok", JSON text)``, so ``3`` and ``3.0`` differ, or ``("err",
    kind, message, path)``.  Keys are sorted: ``interp`` writes them
    sorted, the engine in target order."""
    return K.outcome(call, sort_keys=True)


def _on_request_thread(spark, fn):
    """Run ``fn`` on a fresh thread under its own job group →
    (its ``_kx`` outcome, Spark jobs run)."""
    group = f"rm-record-{next(_groups)}"
    out: dict = {}

    def body():
        spark.sparkContext.setJobGroup(group, group)
        try:
            out["res"] = _kx(fn)
        except BaseException as e:  # noqa: BLE001 — re-raised below
            out["exc"] = e

    t = threading.Thread(target=body)
    t.start()
    t.join(timeout=600)
    assert not t.is_alive()
    if "exc" in out:
        raise out["exc"]
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(group)
    return out["res"], len(jobs)


def _oracle(rule, record, context=None):
    def call():
        v = interp.transform_record(rule, record, context=context)
        return None if v is interp.MISSING else v
    return _kx(call)


def _ok(value) -> tuple:
    """The ``_kx`` outcome of a call that returns ``value``."""
    return _kx(lambda: value)


def _entry(spark, rule: str):
    """The session's cache entry for ``rule``."""
    return record_mod._plans[spark][(repr(parse_rule_file(rule)), ".")]


def test_job_counter_sees_a_job(spark):
    """Control: the job-group count used below does see jobs that run
    on the request thread."""
    res, jobs = _on_request_thread(spark, lambda: spark.range(3).count())
    assert res == ("ok", "3")
    assert jobs >= 1


def test_f5_rule_runs_no_job_and_matches_interp(spark):
    for body in _bodies(seed=7, n=3):
        res, jobs = _on_request_thread(
            spark, lambda b=body: transform_record(spark, F5_RULE, b))
        assert jobs == 0
        assert res == _oracle(F5_RULE, body)


def test_input_expression_rule_runs_no_job(spark):
    body = {"body": _bodies(seed=8, n=1)[0], "method": "POST"}
    res, jobs = _on_request_thread(
        spark, lambda: transform_record(spark, INPUT_RULE, body))
    assert jobs == 0
    assert res == _ok({"v": body}) == _oracle(INPUT_RULE, body)


def _f5(**changes) -> dict:
    rec = _bodies(seed=9, n=1)[0]
    for k, v in changes.items():
        if v is ...:
            del rec[k]
        else:
            rec[k] = v
    return rec


_PATH = "mappings[{}].expr[1].args[0]"

ERROR_CASES = [
    ("num_b", _f5(num_b="abc"),
     ("ExprError", "failed to parse string as number", _PATH.format(6))),
    ("base_value", _f5(base_value=1.5),
     ("ExprError", "value must be an integer", _PATH.format(8))),
    ("date_simple", _f5(date_simple="not a date"),
     ("ExprError", "date format is invalid", _PATH.format(9))),
    ("unix_ms", _f5(unix_ms="2020-13-45"),
     ("ExprError", "date format is invalid", _PATH.format(12))),
    ("pad_null", _f5(pad=None),
     ("ExprError", "expr arg must not be null", _PATH.format(5))),
    ("text_number", _f5(text=5),
     ("ExprError", "value must be a string", _PATH.format(0))),
]


@pytest.mark.parametrize("record,expected",
                         [c[1:] for c in ERROR_CASES],
                         ids=[c[0] for c in ERROR_CASES])
def test_f5_errors_keep_kind_message_and_path(spark, record, expected):
    res, jobs = _on_request_thread(
        spark, lambda: transform_record(spark, F5_RULE, record))
    assert res == ("err", *expected)
    assert res == _oracle(F5_RULE, record)
    assert jobs == 0


def test_missing_csv_drops_parts(spark):
    record = _f5(csv=...)
    res, jobs = _on_request_thread(
        spark, lambda: transform_record(spark, F5_RULE, record))
    assert res[0] == "ok" and "parts" not in json.loads(res[1])
    assert jobs == 0
    assert res == _oracle(F5_RULE, record)


@pytest.mark.parametrize("record,expected", [
    ({"keep": True, "n": 1}, {"n": 2.0}),
    ({"keep": False, "n": 1}, None),
    # filtered out: the failing mapping never surfaces
    ({"keep": False, "n": "x"}, None),
], ids=["kept", "filtered", "filtered_failing_mapping"])
def test_record_when(spark, record, expected):
    res, jobs = _on_request_thread(
        spark, lambda: transform_record(spark, WHEN_RULE, record))
    assert res == _ok(expected) == _oracle(WHEN_RULE, record)
    assert jobs == 0


FINALIZE_RULE = """
version: 2
input: {format: json}
mappings:
  - target: a
    expr: "@input.text"
finalize:
  sort: {by: a, order: desc}
  limit: 1
  wrap:
    items: "@out"
"""


def test_finalize_sort_limit_and_wrap_run_no_job(spark):
    body = _bodies(seed=10, n=1)[0]
    res, jobs = _on_request_thread(
        spark, lambda: transform_record(spark, FINALIZE_RULE, body))
    assert res == _ok({"items": [{"a": body["text"]}]})
    assert res == _oracle(FINALIZE_RULE, body)
    assert jobs == 0


# --- plan cache --------------------------------------------------------

@pytest.fixture
def compiles(monkeypatch):
    """Counts ``RuleCompiler.compile`` calls, on any thread."""
    from rulemorph_spark.compiler.rule import RuleCompiler
    orig = RuleCompiler.compile
    counter = {"n": 0}
    lock = threading.Lock()

    def counting(self, *args, **kwargs):
        with lock:
            counter["n"] += 1
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(RuleCompiler, "compile", counting)
    return counter


def test_cached_rule_compiles_once_and_runs_no_job(spark, compiles):
    record_mod._plans.pop(spark, None)
    for i, body in enumerate(_bodies(seed=11, n=32)):
        before = compiles["n"]
        res, jobs = _on_request_thread(
            spark, lambda b=body: transform_record(spark, F5_RULE, b))
        if i == 0:
            assert compiles["n"] > before
        else:
            assert compiles["n"] == before, f"call {i} recompiled"
        assert jobs == 0
        assert res == _oracle(F5_RULE, body)


def _thread_cases() -> list[tuple[str, dict]]:
    bodies = _bodies(seed=12, n=16)
    return ([(F5_RULE, b) for b in bodies]
            + [(INPUT_RULE, {"body": b, "i": i})
               for i, b in enumerate(bodies)])


def _integral_float(value) -> bool:
    if isinstance(value, dict):
        return any(_integral_float(v) for v in value.values())
    return isinstance(value, float) and value.is_integer()


# Spark's parse_json reads 10.0 as DECIMAL(2,0) 10, which the engine
# writes as the int 10 (serde keeps the f64: 10.0)
_INTEGRAL_FLOAT = pytest.mark.xfail(
    strict=True, reason="parse_json('10.0') is DECIMAL(2,0) 10, written "
    "back as 10: an echoed integral float loses its float kind")


@pytest.mark.parametrize("rule,record", [
    pytest.param(rule, rec, id=f"{'f5' if rule is F5_RULE else 'input'}-{i}",
                 marks=([_INTEGRAL_FLOAT] if rule is INPUT_RULE
                        and _integral_float(rec) else []))
    for i, (rule, rec) in enumerate(_thread_cases())])
def test_reply_matches_interp(spark, rule, record):
    assert _kx(lambda: transform_record(spark, rule, record)) == \
        _oracle(rule, record)


def test_cached_rules_answer_each_request_thread(spark, monkeypatch):
    """Eight request threads (more than the cores) share one cached plan
    per rule and its pool: each reply is its own record's, kind-exactly
    as one thread answers it (``test_reply_matches_interp`` holds those
    answers against ``interp``), and no plan ever has more live
    evaluators than its bound."""
    record_mod._plans.pop(spark, None)
    record_mod._pools.pop(spark, None)
    cases = _thread_cases()
    expected = [_kx(lambda r=rule, c=rec: transform_record(spark, r, c))
                for rule, rec in cases]
    plans = [_entry(spark, F5_RULE), _entry(spark, INPUT_RULE)]
    evaluators = record_mod._pools[spark]
    seen = []
    call = record_mod._Evaluator.__call__

    def observed(self, raw, ctx):
        seen.append(dict(evaluators.live))
        return call(self, raw, ctx)

    monkeypatch.setattr(record_mod._Evaluator, "__call__", observed)

    def run(case):
        rule, rec = case
        return _kx(lambda: transform_record(spark, rule, rec))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            got = list(pool.map(run, cases, timeout=600))
    finally:
        sys.setswitchinterval(interval)
    assert got == expected
    assert len(seen) == len(cases)
    for plan in plans:
        assert plan.bound == spark.sparkContext.defaultParallelism
        assert max(live.get(plan, 0) for live in seen) <= plan.bound
    assert all(sum(live.values()) <= record_mod._EVALUATORS
               for live in seen)


def test_error_leaves_the_cached_plan_intact(spark):
    good = _bodies(seed=13, n=len(ERROR_CASES))
    transform_record(spark, F5_RULE, good[0])
    for (name, bad, expected), body in zip(ERROR_CASES, good):
        with pytest.raises(TransformEngineError) as ei:
            transform_record(spark, F5_RULE, bad)
        assert (ei.value.kind, ei.value.message, ei.value.path) == \
            expected, name
        assert _kx(lambda b=body: transform_record(spark, F5_RULE, b)) \
            == _oracle(F5_RULE, body), name


CONTEXT_RULE = """
version: 2
input: {format: json}
mappings:
  - target: v
    expr: ["@context.k", {"+": ["@input.n"]}]
  - target: c
    expr: "@context"
"""

# deep_merge in a map body runs the whole mapping through the
# interpreter bridge; when-conditions of that shape take the bridge too
CONTEXT_BRIDGE_RULE = """
version: 2
input: {format: json}
mappings:
  - target: xs
    expr: ["@input.xs", {map: [{deep_merge: ["@context.extra"]}]}]
  - target: w
    value: 1
    when: {gt: [["@input.xs", {map: [{deep_merge: ["@context.extra"]}]},
                {len: []}], ["@context.min"]]}
"""


@pytest.mark.parametrize("rule", [CONTEXT_RULE, CONTEXT_BRIDGE_RULE],
                         ids=["column", "bridge"])
def test_context_is_bound_per_call(spark, compiles, rule):
    """The context is read from the call's row, not compiled in: calls
    that differ only in context share one plan and each gets its own
    answer, with or without a context."""
    contexts = [{"k": 10, "extra": {"z": 1}, "min": 0},
                {"k": 20, "extra": {"z": [2]}, "min": 5},
                None,
                {"extra": {"y": "s"}, "k": 1.5, "min": 1},
                {"k": 1, 2: "a", "b": 3}]  # YAML params mix key types
    transform_record(spark, rule, {"n": 0, "xs": []}, context=contexts[0])
    before = compiles["n"]
    for n, ctx in enumerate(contexts * 2):
        rec = {"n": n, "xs": [{"a": n}, {"a": -n}]}
        assert _kx(lambda: transform_record(spark, rule, rec,
                                            context=ctx)) \
            == _oracle(rule, rec, ctx), (n, ctx)
    assert compiles["n"] == before


def test_cache_keeps_the_64_most_recent_rules(spark):
    record_mod._plans.pop(spark, None)
    rules = [f"version: 2\ninput: {{format: json}}\nmappings:\n"
             f"  - target: v\n    value: {i}\n"
             for i in range(record_mod._CACHE_SIZE + 1)]
    for i, rule in enumerate(rules):
        assert _ok(transform_record(spark, rule, {})) == _ok({"v": i})
    plans = record_mod._plans[spark]
    assert record_mod._CACHE_SIZE == 64
    assert len(plans) == 64
    kept = {k[0] for k in plans}
    assert repr(parse_rule_file(rules[0])) not in kept
    assert repr(parse_rule_file(rules[-1])) in kept


BRIDGE_RULE = """
version: 2
input: {format: json}
mappings:
  - target: flat
    expr: ["@input.obj", {object_flatten: []}]
"""


def test_bridge_op_rule_is_cached_and_answers_per_record(spark, compiles,
                                                         monkeypatch):
    """A Python-UDF bridge op cannot run inside a projection: its plan
    takes the Dataset path, the entry says why, and every call rebinds
    the cached plan to its own record."""
    rebinds = []
    rebound = record_mod._rebound

    def counting(*args):
        rebinds.append(1)
        return rebound(*args)

    monkeypatch.setattr(record_mod, "_rebound", counting)
    records = [{"obj": {"a": {"b": i}, "c": [i, {"d": "x" * i}]}}
               for i in range(3)]
    for i, rec in enumerate(records):
        before = compiles["n"]
        res = transform_record(spark, BRIDGE_RULE, rec)
        assert _ok(res) == _oracle(BRIDGE_RULE, rec)
        if i:
            assert compiles["n"] == before
    entry = _entry(spark, BRIDGE_RULE)
    assert entry.bound == 0
    assert "EvalPython" in entry.reason
    assert len(rebinds) == len(records)


# --- evaluators ----------------------------------------------------------

@pytest.fixture
def no_dataset(spark, monkeypatch):
    """Calling it makes every later SQL query and Dataset-path call
    raise."""
    def arm():
        def refuse(*args, **kwargs):
            raise AssertionError("a cached evaluator plan built a Dataset")

        monkeypatch.setattr(type(spark), "sql", refuse)
        monkeypatch.setattr(record_mod, "_rebound", refuse)
    return arm


# per-record finalize, no bridge op: it runs in the cached projection
FINALIZE_HIT_RULE = """
version: 2
input: {format: json}
mappings:
  - target: n
    expr: "@input.n"
finalize:
  filter: {gte: ["@item.n", 0]}
  sort: {by: n, order: desc}
  limit: 1
  wrap:
    items: "@out"
    first: ["@out", {first: []}, {get: ["n"]}]
"""

INDEX_FILTER_RULE = """
version: 2
input: {format: json}
mappings:
  - target: n
    expr: "@input.n"
finalize:
  filter: {eq: ["@item.index", 0]}
"""


@pytest.mark.parametrize("rule,records", [
    (F5_RULE, _bodies(seed=14, n=6)),
    (INPUT_RULE, [{"body": b, "i": i}
                  for i, b in enumerate(_bodies(seed=15, n=3))]),
    (WHEN_RULE, [{"keep": True, "n": 2}, {"keep": False, "n": 3},
                 {"keep": True, "n": "x"}]),
    (FINALIZE_HIT_RULE, [{"n": 2}, {"n": -1}, {"n": None}, {}]),
    (INDEX_FILTER_RULE, [{"n": 2}, {"n": "x"}]),
], ids=["f5", "input", "when", "finalize", "item_index"])
def test_hit_builds_no_dataset(spark, no_dataset, rule, records):
    transform_record(spark, rule, records[0])
    assert _entry(spark, rule).reason is None
    no_dataset()
    for rec in records:
        res, jobs = _on_request_thread(
            spark, lambda r=rec: transform_record(spark, rule, r))
        assert res == _oracle(rule, rec)
        assert jobs == 0


def test_record_when_false_returns_none_through_the_filter(spark,
                                                           no_dataset):
    transform_record(spark, WHEN_RULE, {"keep": True, "n": 1})
    no_dataset()
    ev = record_mod._Evaluator(spark, _entry(spark, WHEN_RULE).serialized)
    assert [p for p, _ in ev.steps].count(False) == 1  # one Filter
    assert ev('{"keep": false, "n": 1}', None) is None
    assert ev('{"keep": true, "n": 1}', None) == '{"n":2.0}'
    res, _ = _on_request_thread(
        spark, lambda: transform_record(spark, WHEN_RULE,
                                        {"keep": False, "n": 1}))
    assert res == _ok(None) == _oracle(WHEN_RULE, {"keep": False, "n": 1})


FALSE_WHEN_RULE = """
version: 2
input: {format: json}
mappings:
  - target: a
    expr: ["@input.s", {"+": [1]}]
    when: {eq: ["@input.go", true]}
  - target: b
    expr: "@input.s"
"""


def test_false_when_skips_a_mapping_that_would_raise(spark, no_dataset):
    records = [{"go": False, "s": "x"}, {"go": True, "s": 2},
               {"go": True, "s": "x"}, {"s": "y"}]
    transform_record(spark, FALSE_WHEN_RULE, {"go": True, "s": 1})
    no_dataset()
    for rec in records:
        res, _ = _on_request_thread(
            spark, lambda r=rec: transform_record(spark, FALSE_WHEN_RULE, r))
        assert res == _oracle(FALSE_WHEN_RULE, rec), rec
    assert _oracle(FALSE_WHEN_RULE, records[0]) == _ok({"b": "x"})
    assert _oracle(FALSE_WHEN_RULE, records[2])[0] == "err"


# map keys repeat: the session's LAST_WIN dedup policy keeps the last
KEY_BY_RULE = """
version: 2
input: {format: json}
mappings:
  - target: by_id
    expr: ["@input.xs", {key_by: ["@item.id"]}]
"""


def test_evaluator_reads_the_session_settings(spark, no_dataset):
    """An evaluator runs on a request thread, outside any query: it
    still evaluates under the session's settings."""
    transform_record(spark, KEY_BY_RULE, {"xs": []})
    no_dataset()
    # the request thread builds, and first runs, its own evaluator
    record_mod._pools.pop(spark, None)
    rec = {"xs": [{"id": "a", "v": 1}, {"id": "b", "v": 2},
                  {"id": "a", "v": 3}]}
    res, _ = _on_request_thread(
        spark, lambda: transform_record(spark, KEY_BY_RULE, rec))
    assert res == _oracle(KEY_BY_RULE, rec)
    assert json.loads(res[1])["by_id"]["a"] == {"id": "a", "v": 3}


def test_session_cap_drops_the_least_recently_used_evaluator(
        spark, monkeypatch):
    monkeypatch.setattr(record_mod, "_EVALUATORS", 2)
    record_mod._plans.pop(spark, None)
    record_mod._pools.pop(spark, None)
    rules = [f"version: 2\ninput: {{format: json}}\nmappings:\n"
             f"  - target: v\n    expr: [\"@input.n\", {{\"+\": [{i}]}}]\n"
             for i in range(3)]
    for n in range(2):
        for i, rule in enumerate(rules):
            assert _ok(transform_record(spark, rule, {"n": n})) == \
                _ok({"v": float(n + i)})
            live = record_mod._pools[spark].live
            assert sum(live.values()) <= 2
        # the first rule's evaluator was the least recently used
        assert set(live) == {_entry(spark, rules[1]), _entry(spark, rules[2])}


# --- non-finite numbers ------------------------------------------------

NON_FINITE_BODIES = ['{"x": NaN}', '{"x": Infinity}', '{"x": -Infinity}',
                     '{"x": 1e400}', '{"x": 1' + '0' * 400 + '}']
NON_FINITE_IDS = ["nan", "inf", "neg_inf", "float_overflow", "int_overflow"]

ECHO_ENDPOINT = """
version: 2
type: endpoint
endpoints:
  - method: POST
    path: /echo
    steps: []
    reply:
      status: 200
      body: "@input"
  - method: POST
    path: /caught
    catch:
      default: catch.yaml
    steps: []
    reply:
      status: 200
      body: "@input"
"""

# the handler echoes its fallback @input and the error it caught
CATCH_ECHO = """
version: 2
input: {format: json}
mappings:
  - target: input
    expr: "@input"
  - target: kind
    expr: "@context.error.kind"
"""


@pytest.fixture
def echo_engine(spark, tmp_path):
    (tmp_path / "endpoint.yaml").write_text(ECHO_ENDPOINT)
    (tmp_path / "catch.yaml").write_text(CATCH_ECHO)
    return EndpointEngine(spark, str(tmp_path / "endpoint.yaml"))


@pytest.mark.parametrize("body_text", NON_FINITE_BODIES,
                         ids=NON_FINITE_IDS)
def test_non_finite_body_is_invalid_json(echo_engine, body_text):
    malformed = echo_engine.handle_request("POST", "/echo",
                                           body_text='{"x": }')
    status, _, body = echo_engine.handle_request("POST", "/echo",
                                                 body_text=body_text)
    assert (status, body["kind"]) == (malformed[0], malformed[2]["kind"])
    assert (status, body["kind"]) == (500, "Invalid")
    assert body["message"].startswith("invalid JSON body: ")


@pytest.mark.parametrize("body_text", NON_FINITE_BODIES,
                         ids=NON_FINITE_IDS)
def test_non_finite_body_runs_catch_without_body(echo_engine, body_text):
    malformed = echo_engine.handle_request("POST", "/caught",
                                           body_text='{"x": }')
    got = echo_engine.handle_request("POST", "/caught",
                                     body_text=body_text)
    assert got == malformed
    assert got[0] == 200 and got[2]["kind"] == "Invalid"
    assert "body" not in got[2]["input"]


@pytest.mark.parametrize("value", [float("nan"), float("inf")])
def test_non_finite_record_fails_before_spark(value):
    # no session: the error must come before any Spark call
    with pytest.raises(ValueError, match="NaN or infinite"):
        transform_record(None, INPUT_RULE, {"x": value})


def test_catch_handlers_share_one_plan(echo_engine, compiles):
    """A catch handler's ``@context.error`` differs per request (it
    carries the parse position); every request still runs the cached
    plans."""
    echo_engine.handle_request("POST", "/caught", body_text='{"x": }')
    before = compiles["n"]
    for body_text in ['{"x": }', '{"yy": ]', "[1, 2", '{"x": NaN}']:
        status, _, body = echo_engine.handle_request(
            "POST", "/caught", body_text=body_text)
        assert (status, body["kind"]) == (200, "Invalid")
    assert compiles["n"] == before
