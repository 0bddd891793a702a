"""Single-record service transforms (``service.record.transform_record``)
run on a driver-local 1-row relation: the optimizer folds the rule plan
into a ``LocalTableScan`` and ``collect()`` launches no Spark job.

Each transform runs on a fresh ``threading.Thread``, like a
``ThreadingHTTPServer`` request, which has no ambient active session.
Replies match the interpreter oracle, and errors keep their kind,
message and path.
"""

from __future__ import annotations

import importlib.util
import itertools
import os
import random
import threading

import pytest

from rulemorph_spark import interp
from rulemorph_spark.errors import TransformEngineError
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


def _on_request_thread(spark, fn):
    """Run ``fn`` on a fresh thread under its own job group →
    (("ok", value) | ("err", kind, message, path), Spark jobs run)."""
    group = f"rm-record-{next(_groups)}"
    out: dict = {}

    def body():
        spark.sparkContext.setJobGroup(group, group)
        try:
            out["res"] = ("ok", fn())
        except TransformEngineError as e:
            out["res"] = ("err", e.kind, e.message, e.path)
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


def _oracle(rule, record):
    try:
        v = interp.transform_record(rule, record)
    except interp.InterpError as e:
        return ("err", e.kind, e.message, e.path)
    return ("ok", None if v is interp.MISSING else v)


def test_job_counter_sees_a_job(spark):
    """Control: the job-group count used below does see jobs that run
    on the request thread."""
    res, jobs = _on_request_thread(spark, lambda: spark.range(3).count())
    assert res == ("ok", 3)
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
    assert res == ("ok", {"v": body}) == _oracle(INPUT_RULE, body)


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
    assert res[0] == "ok" and "parts" not in res[1]
    assert jobs == 0
    assert res == _oracle(F5_RULE, record)


@pytest.mark.parametrize("record,expected", [
    ({"keep": True, "n": 1}, {"n": 2}),
    ({"keep": False, "n": 1}, None),
    # filtered out: the failing mapping never surfaces
    ({"keep": False, "n": "x"}, None),
], ids=["kept", "filtered", "filtered_failing_mapping"])
def test_record_when(spark, record, expected):
    res, jobs = _on_request_thread(
        spark, lambda: transform_record(spark, WHEN_RULE, record))
    assert res == ("ok", expected) == _oracle(WHEN_RULE, record)
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
    assert res == ("ok", {"items": [{"a": body["text"]}]})
    assert res == _oracle(FINALIZE_RULE, body)
    assert jobs == 0
