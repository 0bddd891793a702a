"""In-memory span tracer that wraps the program's public functions at
run time, plus Spark's REST stage metrics.

Nothing here edits the library: ``install()`` swaps wrappers onto the
module attributes and class methods named in ``_targets()`` (every
``rulemorph_spark`` module that imported a wrapped function by name gets
the wrapper too) and ``uninstall()`` puts the originals back.

A span is ``(id, parent, name, layer, start, end, request, thread)``.
Parents come from a per-thread stack, so a span opened on a worker
thread with an empty stack is *detached*: it counts toward busy-time
metrics (``sqlfn.create_s``) but not toward the self-time tree.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import sys
import threading
import time
import urllib.request

_CREATE_FN = "CREATE OR REPLACE TEMPORARY FUNCTION"
REQUEST_HEADER = "x-perfbench-request"

# DataFrame methods that run a Spark job; each is traced as
# catalyst.analyze (df.schema) → catalyst.plan (executedPlan) → exec
_ACTIONS = ("collect", "count", "toPandas", "take", "first", "head",
            "toLocalIterator", "foreach", "foreachPartition", "isEmpty")


class Span:
    __slots__ = ("sid", "parent", "name", "layer", "t0", "t1", "req", "tid")

    def __init__(self, sid, parent, name, layer, t0, req, tid):
        self.sid, self.parent, self.name, self.layer = sid, parent, name, layer
        self.t0, self.t1, self.req, self.tid = t0, None, req, tid

    def to_json(self) -> dict:
        return {"id": self.sid, "parent": self.parent, "name": self.name,
                "layer": self.layer, "start": self.t0, "end": self.t1,
                "request": self.req, "thread": self.tid}


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.py4j_calls = 0
        self.fallbacks = 0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._undo: list = []

    # -- spans ----------------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def set_request(self, req) -> None:
        self._tls.req = req

    def open(self, name: str, layer: str) -> Span:
        st = self._stack()
        parent = st[-1].sid if st else None
        req = st[-1].req if st else getattr(self._tls, "req", None)
        sp = Span(next(self._ids), parent, name, layer, time.perf_counter(),
                  req, threading.get_ident())
        st.append(sp)
        with self._lock:
            self.spans.append(sp)
        return sp

    def close(self, sp: Span) -> None:
        sp.t1 = time.perf_counter()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        sp = self.open(name, layer)
        try:
            yield sp
        finally:
            self.close(sp)

    def in_layer(self, layer: str) -> bool:
        return any(s.layer == layer for s in self._stack())

    def reset(self) -> None:
        with self._lock:
            self.spans = []
            self.py4j_calls = 0
            self.fallbacks = 0

    def finished(self) -> list[dict]:
        return [s.to_json() for s in self.spans if s.t1 is not None]

    # -- wrapping -------------------------------------------------------

    def _wrap(self, fn, name: str, layer: str, on_error=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if layer == "service":
                # the client numbers its requests in a header
                headers = (args[4] if len(args) > 4
                           else kwargs.get("headers")) or {}
                tracer.set_request(next(
                    (v for k, v in headers.items()
                     if k.lower() == REQUEST_HEADER), None))
            sp = tracer.open(name, layer)
            try:
                return fn(*args, **kwargs)
            except BaseException as exc:
                if on_error is not None:
                    on_error(exc)
                raise
            finally:
                tracer.close(sp)

        return wrapper

    def _patch(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def _patch_function(self, module, attr: str, name: str, layer: str,
                        on_error=None) -> None:
        """Wrap a module-level function everywhere it was imported by
        name inside the package."""
        orig = getattr(module, attr)
        wrapped = self._wrap(orig, name, layer, on_error)
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith("rulemorph_spark")
                    or mod is module) \
                    and mod.__dict__.get(attr) is orig:
                self._patch(mod, attr, wrapped)

    def _patch_method(self, cls, attr: str, name: str, layer: str,
                      on_error=None) -> None:
        self._patch(cls, attr, self._wrap(cls.__dict__[attr], name, layer,
                                          on_error))

    def install(self) -> None:
        if self._undo:
            return
        for owner, attr, name, layer, on_error in _targets(self):
            if isinstance(owner, type):
                self._patch_method(owner, attr, name, layer, on_error)
            else:
                self._patch_function(owner, attr, name, layer, on_error)
        self._install_sql()
        self._install_actions()
        self._install_py4j()

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def _install_sql(self) -> None:
        from pyspark.sql.session import SparkSession
        tracer = self
        orig = SparkSession.__dict__["sql"]

        @functools.wraps(orig)
        def sql(self, sqlQuery, *args, **kwargs):
            if not str(sqlQuery).startswith(_CREATE_FN):
                return orig(self, sqlQuery, *args, **kwargs)
            sp = tracer.open("SparkSession.sql(CREATE FUNCTION)", "sqlfn")
            try:
                return orig(self, sqlQuery, *args, **kwargs)
            finally:
                tracer.close(sp)

        self._patch(SparkSession, "sql", sql)

    def _install_actions(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter
        for attr in _ACTIONS:
            if attr in DataFrame.__dict__:
                self._patch(DataFrame, attr, self._action(
                    DataFrame.__dict__[attr], f"DataFrame.{attr}",
                    lambda a: a[0]))
        self._patch(DataFrameWriter, "save", self._action(
            DataFrameWriter.__dict__["save"], "DataFrameWriter.save",
            lambda a: a[0]._df))

    def _action(self, fn, name: str, df_of):
        tracer = self

        @functools.wraps(fn)
        def action(*args, **kwargs):
            if tracer.in_layer("exec"):
                return fn(*args, **kwargs)  # nested action: already timed
            df = df_of(args)
            with tracer.span("df.schema", "catalyst.analyze"):
                df.schema
            with tracer.span("executedPlan", "catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
            with tracer.span(name, "exec"):
                return fn(*args, **kwargs)

        return action

    def _install_py4j(self) -> None:
        """Count JVM round trips made while a compile span is open."""
        from py4j.clientserver import ClientServerConnection
        tracer = self
        orig = ClientServerConnection.__dict__["send_command"]

        @functools.wraps(orig)
        def send_command(self, command):
            if tracer.in_layer("compiler") or tracer.in_layer("typed"):
                with tracer._lock:
                    tracer.py4j_calls += 1
            return orig(self, command)

        self._patch(ClientServerConnection, "send_command", send_command)


def _targets(tracer: Tracer):
    """(module or class, attribute, span name, layer, on_error)."""
    from rulemorph_spark import engine, model
    from rulemorph_spark.compiler import rule, typed
    from rulemorph_spark.llm import dedup, retrieval, semdedup, similarity
    from rulemorph_spark.llm import text
    from rulemorph_spark.service import endpoint, record

    def count_fallback(exc):
        if isinstance(exc, typed.TypedFallback):
            with tracer._lock:
                tracer.fallbacks += 1

    out = [
        (model, "parse_rule_file", "parse_rule_file", "model", None),
        (model, "parse_rule_dict", "parse_rule_dict", "model", None),
        (rule.RuleCompiler, "compile", "RuleCompiler.compile", "compiler",
         None),
        (typed.TypedRuleCompiler, "compile", "TypedRuleCompiler.compile",
         "typed", count_fallback),
        (engine, "transform_with_warnings", "engine.transform", "engine",
         None),
        (engine, "transform_table", "engine.transform_table", "engine",
         None),
        (engine, "apply_finalize", "engine.apply_finalize",
         "engine.finalize", None),
        (endpoint.EndpointEngine, "handle_request",
         "EndpointEngine.handle_request", "service", None),
        (record, "transform_record", "transform_record",
         "service.transform", None),
        (dedup, "remove_dup_spans", "remove_dup_spans", "llm", None),
        (semdedup, "semdedup", "semdedup", "llm", None),
        (retrieval, "bm25_search", "bm25_search", "llm", None),
        (text, "tfidf_top_terms", "tfidf_top_terms", "llm", None),
    ]
    for fn in ("records_from_json_file", "records_from_csv",
               "records_from_json_text"):
        out.append((engine, fn, "engine.read", "engine.read", None))
    for fn in ("brute_force_scored", "ivf_scored", "lsh_scored"):
        out.append((similarity, fn, fn, "llm", None))
    entry = sys.modules.get("__spark_entry__")
    if entry is not None:  # the declared queries corpus_ops runs
        for q in ("q_ann_topk", "q_tfidf_topterms"):
            out.append((entry, q, q, "llm", None))
    return out


# --- self time -----------------------------------------------------------


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id → duration minus the union of its children's intervals."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, end = 0.0, s["start"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(c["start"], end), min(c["end"], s["end"])
            if b > a:
                covered += b - a
                end = b
        out[s["id"]] = s["end"] - s["start"] - covered
    return out


# --- Spark REST stage metrics -------------------------------------------


def _rest(spark, path: str):
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def stage_snapshot(spark) -> dict:
    """Ids of the jobs and stages the app has finished so far."""
    if not spark.sparkContext.uiWebUrl:
        raise RuntimeError("Spark UI is off: stage metrics need "
                           "SPARK_GRAFT_UI=true before the session starts")
    return {"jobs": {j["jobId"] for j in _rest(spark, "jobs")},
            "stages": {(s["stageId"], s["attemptId"])
                       for s in _rest(spark, "stages")}}


def stage_totals(spark, before: dict, max_summaries: int = 60) -> dict:
    """Job/stage/task counts, shuffle and spill bytes, and the worst
    per-stage ratio of max to median task run time, over the stages
    finished since ``before``."""
    jobs = [j for j in _rest(spark, "jobs")
            if j["jobId"] not in before["jobs"]]
    stages = [s for s in _rest(spark, "stages?status=complete")
              if (s["stageId"], s["attemptId"]) not in before["stages"]]
    out = {"jobs": len(jobs), "stages": len(stages),
           "tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
           "shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0)
                                     for s in stages),
           "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0)
                                      for s in stages),
           "spill_bytes": sum(s.get("memoryBytesSpilled", 0)
                              + s.get("diskBytesSpilled", 0)
                              for s in stages)}
    skew = 1.0
    multi = sorted((s for s in stages if s.get("numCompleteTasks", 0) > 1),
                   key=lambda s: -s.get("executorRunTime", 0))
    for s in multi[:max_summaries]:
        summ = _rest(spark, f"stages/{s['stageId']}/{s['attemptId']}/"
                            "taskSummary?quantiles=0.5,1.0")
        med, top = summ["executorRunTime"]
        if top > 0:
            skew = max(skew, top / max(med, 1.0))
    out["max_task_over_median"] = skew
    return out
