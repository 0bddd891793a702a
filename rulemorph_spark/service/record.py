"""Single-record rule application for the service layers.

Endpoint/MCP requests transform ONE record at a time. A rule is compiled
once per session: the first call compiles it over a driver-local 1-row
relation (the record and the context enter as an inline ``VALUES``
table, so the plan's leaf is a ``LocalRelation``) and caches the
**analyzed** JVM plan of the pre-finalize projection, Java-serialized
(about a fifth of the live plan's heap). The cache is per ``SparkSession``
(weakly keyed), then keyed by rule content and ``base_dir``; it keeps
the ``_CACHE_SIZE`` (64) most recently used plans. ``@context`` is not
part of the key: the plan reads it from its ``VALUES`` row like the
record, so calls that differ only in context (a catch handler's
``@context.error``, per-step params) share one plan. Compile errors are
never cached.

Every call takes one path: look up or compile, deserialize a fresh copy
of the plan, rebind its ``VALUES`` leaf to this request's row (the
output attributes stay), then execute. The copy is required: Catalyst
expressions keep mutable per-instance state (``to_json`` holds a Jackson
generator and writer), so requests sharing one plan's expressions would
read each other's records. Per request there remain the row parse (the
tiny ``VALUES`` query), the copy, optimization — the optimizer's
``ConvertToLocalRelation`` folds the Project/Filter rule plan into a
``LocalTableScan`` evaluated on the driver, so ``collect()`` launches no
Spark job — and ``finalize``. A job still runs when the plan holds a
Python-UDF bridge op (it cannot be evaluated on the driver) or a
``finalize.filter`` over ``@item.index`` (it re-indexes through an RDD).

A cached plan holds fixed, until it is evicted, what its compile read:
branch-target rule files under ``base_dir`` (edits to them are not
seen) and session settings bound at analysis, such as the session time
zone.
"""

from __future__ import annotations

import json
import threading
import weakref
from collections import OrderedDict
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine import apply_finalize, _apply_wrap
from ..errors import extract_engine_error
from ..model import RuleFile, parse_rule_file

# ``__ctx__`` is NULL for a call without a context.  The IF keeps the
# column nullable even when the compiling call had one (a bare
# non-null value would make it NOT NULL), so one cached plan serves
# calls with and without a context.
_RECORD_SQL = ("SELECT __idx__, parse_json(__raw__) AS __record__, "
               "parse_json(__ctx__) AS __context__ "
               "FROM VALUES (0L, :raw, "
               "IF(:ctx IS NULL, NULL, CAST(:ctx AS STRING))) "
               "AS t(__idx__, __raw__, __ctx__)")

# plans kept per session (least recently used evicted first).  Plans
# are kept serialized: a live analyzed plan of the FIXTURES §F5 rule
# holds about 12 MB of driver heap (its SQL-function call sites are
# expanded), so 64 of them would overflow the default 1 GB heap; 64
# serialized ones measured 170 MB.
_CACHE_SIZE = 64


@dataclass(frozen=True)
class _Plan:
    # the analyzed pre-finalize projection, Java-serialized (a JVM
    # ByteBuffer): every call deserializes its own copy
    serialized: Any
    # a copy's LocalRelation leaves that hold the compile-time row; every
    # copy's leaves equal them (each copy drops the transient ``stream``)
    sources: list


_lock = threading.Lock()
_plans: "weakref.WeakKeyDictionary[SparkSession, OrderedDict]" = \
    weakref.WeakKeyDictionary()


def transform_record(spark: SparkSession, rule: RuleFile | str,
                     record: Any, context: Any = None,
                     base_dir: str = ".") -> Any | None:
    """Apply a rule to one record (``transform_record_with_warnings_inner``,
    ``transform.rs:288-308``): returns the output value, or None when the
    record is filtered out; finalize applies to the singleton array."""
    if isinstance(rule, str):
        rule = parse_rule_file(rule)
    raw = _json_text(record, "record")
    ctx = None if context is None else _json_text(context, "context")
    plan = _cached_plan(spark, rule, base_dir, raw, ctx)
    result = _rebound(spark, plan, raw, ctx)
    try:
        result, wrap = apply_finalize(result, rule, context)
        rows = result.collect()
    except Exception as exc:
        err = extract_engine_error(exc)
        if err is not None:
            raise err from exc
        raise
    records = [json.loads(r["__json__"]) for r in rows]
    if wrap is not None:
        return _apply_wrap(records, wrap, rule, spark, context)
    if rule.finalize is not None:
        return records[0] if len(records) == 1 else records
    return records[0] if records else None


def _json_text(value: Any, what: str) -> str:
    try:
        return json.dumps(value, allow_nan=False)
    except ValueError as e:
        raise ValueError(f"{what} is not valid JSON: it holds a NaN or "
                         f"infinite number ({e})") from e


def _record_rows(spark: SparkSession, raw: str, ctx: str | None):
    """→ (the ``_RECORD_SQL`` DataFrame for ``raw`` and ``ctx``, the JVM
    row data of its ``LocalRelation``)."""
    df = spark.sql(_RECORD_SQL, args={"raw": raw, "ctx": ctx})
    leaf = df._jdf.queryExecution().analyzed().collectLeaves().apply(0)
    return df, leaf.data()


def _cached_plan(spark: SparkSession, rule: RuleFile, base_dir: str,
                 raw: str, ctx: str | None) -> _Plan:
    # the dataclass repr spells out the whole rule
    key = (repr(rule), base_dir)
    with _lock:
        plans = _plans.setdefault(spark, OrderedDict())
        plan = plans.get(key)
        if plan is not None:
            plans.move_to_end(key)
            return plan
    # compiled outside the lock: racing first calls may both compile,
    # and the last insert wins
    plan = _compile(spark, rule, base_dir, raw, ctx)
    with _lock:
        plans[key] = plan
        plans.move_to_end(key)
        while len(plans) > _CACHE_SIZE:
            plans.popitem(last=False)
    return plan


def _compile(spark: SparkSession, rule: RuleFile, base_dir: str,
             raw: str, ctx: str | None) -> _Plan:
    from ..compiler.rule import Builder, RuleCompiler

    df, row = _record_rows(spark, raw, ctx)
    builder = Builder(df)
    compiled = RuleCompiler(rule, base_dir=base_dir,
                            context_col=F.col("__context__")).compile(
        builder, F.col("__record__"))
    result = (builder.df.withColumn("__keep__", compiled.keep)
              .filter(F.col("__keep__"))
              .withColumn("__json__", compiled.out_json())
              .select("__idx__", "__json__"))
    analyzed = result._jdf.queryExecution().analyzed()
    # a copy is rebound by rewriting its plan tree: that rewrite does not
    # reach a subquery's own plan, and a nondeterministic expression
    # (a seeded rand) would repeat its compile-time seed per request
    if not analyzed.subqueriesAll().isEmpty():
        raise RuntimeError("service rule plan holds a subquery "
                           "expression; it cannot be cached and rebound")
    if not analyzed.deterministic():
        raise RuntimeError("service rule plan is nondeterministic; it "
                           "cannot be cached and rebound")
    serialized = _serializer(spark).serialize(analyzed, _tag(spark))
    leaves = _copy(spark, serialized).collectLeaves()
    sources = [leaf for leaf in (leaves.apply(i)
                                 for i in range(leaves.size()))
               if leaf.getClass().getSimpleName() == "LocalRelation"
               and leaf.data().equals(row)]
    if not sources:
        raise RuntimeError("service rule plan lost its record relation")
    return _Plan(serialized, sources)


def _serializer(spark: SparkSession):
    return spark._jvm.org.apache.spark.serializer.JavaSerializer(
        spark.sparkContext._jsc.sc().conf()).newInstance()


def _tag(spark: SparkSession):
    jvm = spark._jvm
    return jvm.scala.reflect.ClassTag.apply(
        jvm.java.lang.Class.forName("java.lang.Object"))


def _copy(spark: SparkSession, serialized):
    # duplicate(): a read position of this call's own
    return _serializer(spark).deserialize(serialized.duplicate(),
                                          _tag(spark))


def _rebound(spark: SparkSession, plan: _Plan, raw: str,
             ctx: str | None) -> DataFrame:
    """A fresh copy of ``plan`` reading ``raw`` and ``ctx``, as an
    analyzed DataFrame."""
    jvm = spark._jvm
    _, row = _record_rows(spark, raw, ctx)
    local = jvm.org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    swap = jvm.java.util.HashMap()
    for src in plan.sources:
        swap.put(src, local(src.output(), row, False,
                            jvm.scala.Option.empty()))
    # a Scala Map is a PartialFunction: it rewrites the copy's sources
    rebound = _copy(spark, plan.serialized).transformDown(
        jvm.org.apache.spark.api.python.PythonUtils.toScalaMap(swap))
    rebound.setAnalyzed()
    return DataFrame(jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, rebound), spark)
