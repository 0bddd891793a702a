"""Single-record rule application for the service layers.

Endpoint/MCP requests transform ONE record at a time. A rule is compiled
and optimized once per session; every later request evaluates that
optimized plan on the driver with Catalyst's interpreted evaluators.
Such a request builds no plan copy, runs no optimizer, builds no
``Dataset`` and launches no Spark job; the Dataset path below is the
exception.

**Compile (a cache miss).** The rule compiles over a driver-local 1-row
relation: the record and the context enter as an inline ``VALUES`` table
(``__idx__``, ``__raw__``, ``__ctx__``; ``parse_json`` on top). The
projection's ``__json__`` is the record's output; for a rule with
``finalize`` that is ``RuleCompiler.finalize_record``, the same per-record
finalize that branch targets run. In the analyzed projection, the
``VALUES`` ``LocalRelation`` is swapped for an opaque leaf with the same
output attributes, a ``LogicalRDD`` over an empty RDD, so the
optimizer's ``ConvertToLocalRelation`` cannot fold the plan away. The
plan is then optimized once; the FIXTURES §F5 rule optimizes to four
``Project``s over that leaf.

**The cache.** It is the shared per-session LRU,
``compiler.compiled.SessionLRU`` (weakly keyed by ``SparkSession``),
keyed by rule content and ``base_dir``. It keeps the ``_CACHE_SIZE``
(64) most recently used plans, Java-serialized and LZ4-compressed
(``compiler.compiled.serialize_plan``; the optimized F5 plan takes
101 KB). ``@context`` is not part of the key: the plan reads it
from its row like the record, so calls that differ only in context (a
catch handler's ``@context.error``, per-step params) share one plan.
Concurrent first calls compile once; compile errors are never cached.
It caches an optimized plan, not the ``CompiledRule`` program that
``engine.transform`` and ``transform_table`` replay.

**Evaluators and their pool.** An evaluator is the optimized plan's
``Project``/``Filter`` chain bound once, bottom to top, as
``InterpretedMutableProjection`` (what ``ConvertToLocalRelation`` itself
runs for a Project) and ``InterpretedPredicate`` (the interpreted form
of its Filter predicate): the same Catalyst expressions, so there is no
second semantics. Each evaluator binds a private copy of the plan, because
Catalyst expressions keep mutable per-instance state (``to_json`` holds
a Jackson generator, a lambda function its variables). One F5 evaluator
holds about 3.3 MB of heap. A request borrows an idle evaluator of its
plan from the session's pool, or builds one (about 70 ms of CPU for
F5). The pool holds at most ``defaultParallelism`` evaluators of one
plan and ``_EVALUATORS`` (16) in all; at that cap it drops the least
recently used idle one, and a request waits while none can be had. An
evaluator whose evaluation failed with anything but a rule error is
dropped.

**Per request** there remain the JSON text of the record and the context
and about ten py4j calls: make the session active on the JVM thread
(expressions read settings such as the map-key dedup policy from it),
fill the input row, run each node, read ``__json__``.

**The Dataset path.** The shape check runs once, at compile. A plan
whose optimized form is not a chain of ``Project``/``Filter`` nodes over
the record leaf, with every expression one ``ConvertToLocalRelation``
would evaluate, keeps the copy-and-rebind path. Its entry caches the
analyzed plan and records why (``_Plan.reason``). Each request then
deserializes a copy, rebinds its ``VALUES`` leaf to the request's row,
and collects it. A Python-UDF bridge op takes this path: its optimized
plan holds an ``ArrowEvalPython`` node, and each request runs one Spark
job.

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
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..compiler.compiled import CACHE_SIZE as _CACHE_SIZE, SessionLRU
from ..compiler.compiled import copy_plan, serialize_plan
from ..errors import TransformEngineError, extract_engine_error
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

# the columns of ``_RECORD_SQL``'s leaf, in order: an evaluator's input row
_LEAF = ["__idx__", "__raw__", "__ctx__"]

# evaluators kept per session, idle or busy: one of the F5 rule holds
# about 3.3 MB of heap, so 16 of them add about 55 MB to a full cache
_EVALUATORS = 16


class _Pool:
    """A session's evaluators: at most ``plan.bound`` of one plan and
    ``_EVALUATORS`` in all.  A request borrows an idle evaluator of its
    plan or builds one; at the session cap it first drops the least
    recently returned idle evaluator of any plan.  It waits while its
    plan's evaluators, or all of the session's, are busy."""

    def __init__(self):
        # plan → its evaluators, idle or busy
        self.live: dict = {}
        # (plan, evaluator) of the idle ones, least recently returned first
        self._idle: OrderedDict = OrderedDict()
        self._cond = threading.Condition()

    @contextmanager
    def borrow(self, plan: "_Plan", build):
        with self._cond:
            while (ev := self._take(plan)) is False:
                self._cond.wait()
        keep = False
        try:
            if ev is None:
                ev = build()
            yield ev
            keep = True
        except TransformEngineError:
            # a rule error (``raise_error``) ends an evaluation the way
            # the rule meant; the next one overwrites every node's row
            keep = ev is not None
            raise
        finally:
            with self._cond:
                if keep:
                    self._idle[(plan, ev)] = None
                else:
                    self._drop(plan)
                self._cond.notify_all()

    def _take(self, plan: "_Plan"):
        """→ an idle evaluator of ``plan``, None when the caller may
        build one, or False when it must wait."""
        for key in reversed(self._idle):
            if key[0] is plan:
                del self._idle[key]
                return key[1]
        if self.live.get(plan, 0) >= plan.bound:
            return False
        if sum(self.live.values()) >= _EVALUATORS:
            if not self._idle:
                return False
            (old, _), _ = self._idle.popitem(last=False)
            self._drop(old)
        self.live[plan] = self.live.get(plan, 0) + 1
        return None

    def _drop(self, plan: "_Plan") -> None:
        self.live[plan] -= 1
        if not self.live[plan]:
            del self.live[plan]


# eq=False: a plan is its own identity (it keys the pool)
@dataclass(frozen=True, eq=False)
class _Plan:
    # the record projection, serialized (``serialize_plan``, a JVM
    # ByteBuffer):
    # optimized over the opaque record leaf, or analyzed over the
    # ``VALUES`` leaf on the Dataset path
    serialized: Any
    # at most this many evaluators of the plan live at once (0 on the
    # Dataset path)
    bound: int
    # why the plan takes the Dataset path, or None
    reason: str | None = None
    # Dataset path: a copy's LocalRelation leaves that hold the
    # compile-time row; every copy's leaves equal them (each copy drops
    # the transient ``stream``)
    sources: tuple = ()


# plans kept per session (least recently used evicted first).  Plans
# are kept serialized: each evaluator deserializes a copy of its own,
# and 64 live plans of the FIXTURES §F5 rule would take hundreds of MB
# of the default 1 GB driver heap.
_plans = SessionLRU()
_pools_lock = threading.Lock()
_pools: "weakref.WeakKeyDictionary[SparkSession, _Pool]" = \
    weakref.WeakKeyDictionary()


def transform_record(spark: SparkSession, rule: RuleFile | str,
                     record: Any, context: Any = None,
                     base_dir: str = ".") -> Any | None:
    """Apply a rule to one record (``transform_record_with_warnings_inner``,
    ``transform.rs:288-308``): returns the output value, or None when the
    rule drops the record; finalize applies to the singleton array."""
    if isinstance(rule, str):
        rule = parse_rule_file(rule)
    raw = _json_text(record, "record")
    ctx = None if context is None else _json_text(context, "context")
    plan = _cached_plan(spark, rule, base_dir, raw, ctx)
    if plan.reason is None:
        out = _evaluate(spark, plan, raw, ctx)
    else:
        try:
            rows = _rebound(spark, plan, raw, ctx).collect()
        except Exception as exc:
            err = extract_engine_error(exc)
            if err is not None:
                raise err from exc
            raise
        out = rows[0]["__json__"] if rows else None
    return None if out is None else json.loads(out)


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
    return _plans.get(spark, (repr(rule), base_dir),
                      lambda: _compile(spark, rule, base_dir, raw, ctx))


def _compile(spark: SparkSession, rule: RuleFile, base_dir: str,
             raw: str, ctx: str | None) -> _Plan:
    from ..compiler.rule import Builder, RuleCompiler

    df, row = _record_rows(spark, raw, ctx)
    builder = Builder(df)
    compiler = RuleCompiler(rule, base_dir=base_dir,
                            context_col=F.col("__context__"))
    compiled = compiler.compile(builder, F.col("__record__"))
    # a rule without finalize outputs its record's JSON as it is
    out = (compiled.out_json() if rule.finalize is None
           else F.to_json(compiler.finalize_record(builder, compiled)))
    result = (builder.df.withColumn("__keep__", compiled.keep)
              .filter(F.col("__keep__"))
              .withColumn("__json__", out)
              .select("__idx__", "__json__"))
    analyzed = result._jdf.queryExecution().analyzed()
    # a cached plan serves every request: a subquery's own plan would
    # not be rebound, and a nondeterministic expression (a seeded rand)
    # would repeat its compile-time seed per request
    if not analyzed.subqueriesAll().isEmpty():
        raise RuntimeError("service rule plan holds a subquery "
                           "expression; it cannot be cached and rebound")
    if not analyzed.deterministic():
        raise RuntimeError("service rule plan is nondeterministic; it "
                           "cannot be cached and rebound")
    leaves = _local_leaves(analyzed, row)
    if not leaves:
        raise RuntimeError("service rule plan lost its record relation")
    optimized = _optimize_over_opaque_leaf(spark, analyzed, leaves)
    reason = _not_a_chain(spark, optimized, leaves[0].output())
    if reason is None:
        # clone(): fresh nodes, without the optimizer's cached
        # constraints (an ExpressionSet, which is not serializable)
        return _Plan(serialize_plan(spark, optimized.clone()),
                     spark.sparkContext.defaultParallelism)
    serialized = serialize_plan(spark, analyzed)
    return _Plan(serialized, 0, reason,
                 tuple(_local_leaves(copy_plan(spark, serialized), row)))


def _local_leaves(plan, row) -> list:
    """The plan's ``LocalRelation`` leaves that hold ``row``."""
    leaves = plan.collectLeaves()
    return [leaf for leaf in (leaves.apply(i)
                              for i in range(leaves.size()))
            if leaf.getClass().getSimpleName() == "LocalRelation"
            and leaf.data().equals(row)]


def _optimize_over_opaque_leaf(spark: SparkSession, analyzed, leaves):
    """The optimized form of ``analyzed`` with each record leaf swapped
    for a ``LogicalRDD`` over an empty RDD: the same output attributes,
    but nothing the optimizer can fold or evaluate."""
    jvm = spark._jvm
    rdd_leaf = jvm.org.apache.spark.sql.execution.LogicalRDD
    sc = spark.sparkContext._jsc.sc()
    empty = sc.emptyRDD(jvm.scala.reflect.ClassTag.apply(
        jvm.java.lang.Class.forName(
            "org.apache.spark.sql.catalyst.InternalRow")))
    swap = jvm.java.util.HashMap()
    for leaf in leaves:
        swap.put(leaf, rdd_leaf(
            leaf.output(), empty,
            jvm.org.apache.spark.sql.catalyst.plans.physical
            .UnknownPartitioning(0),
            getattr(rdd_leaf, "apply$default$4")(), False,
            jvm.scala.Option.empty(), spark._jsparkSession,
            jvm.scala.Option.empty(), jvm.scala.Option.empty()))
    # a Scala Map is a PartialFunction: it rewrites the record leaves
    swapped = analyzed.transformDown(
        jvm.org.apache.spark.api.python.PythonUtils.toScalaMap(swap))
    swapped.setAnalyzed()
    return jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, swapped).queryExecution().optimizedPlan()


def _not_a_chain(spark: SparkSession, plan, leaf_output) -> str | None:
    """Why ``plan`` cannot run as an evaluator, or None: it must be a
    chain of ``Project``/``Filter`` nodes over the record leaf, each of
    which ``ConvertToLocalRelation`` would fold over a local relation."""
    jvm = spark._jvm
    logical = jvm.org.apache.spark.sql.catalyst.plans.logical
    fold = jvm.org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
    no_rows = jvm.org.apache.spark.api.python.PythonUtils.toSeq(
        jvm.java.util.ArrayList())
    node = plan
    while not node.children().isEmpty():
        kind = node.getClass().getSimpleName()
        if kind not in ("Project", "Filter"):
            return (f"its optimized plan holds {kind}, which is not a "
                    f"Project or Filter")
        child = node.children().apply(0)
        # over no rows the probe binds the node's expressions and
        # evaluates none of them
        rows = logical.LocalRelation(child.output(), no_rows, False,
                                     jvm.scala.Option.empty())
        probe = (logical.Project(node.projectList(), rows)
                 if kind == "Project" else
                 logical.Filter(node.condition(), rows))
        if fold.apply(probe).getClass().getSimpleName() != "LocalRelation":
            return (f"a {kind} of its optimized plan holds an expression "
                    f"the driver cannot evaluate")
        node = child
    if (node.getClass().getSimpleName() != "LogicalRDD"
            or not node.output().equals(leaf_output)):
        return "its optimized plan does not read the record leaf"
    return None


class _Evaluator:
    """One private copy of an optimized plan's ``Project``/``Filter``
    chain, bound once; used by one request at a time."""

    def __init__(self, spark: SparkSession, serialized):
        jvm = spark._jvm
        ex = jvm.org.apache.spark.sql.catalyst.expressions
        attrs = getattr(ex, "package$AttributeSeq")
        plan = copy_plan(spark, serialized)
        chain = []
        node = plan
        while not node.children().isEmpty():
            chain.append(node)
            node = node.children().apply(0)
        # bottom to top: (is a projection, its evaluator)
        self.steps = []
        for node in reversed(chain):
            inputs = node.children().apply(0).output()
            is_projection = node.getClass().getSimpleName() == "Project"
            if is_projection:
                step = ex.InterpretedMutableProjection(node.projectList(),
                                                       inputs)
            else:
                step = ex.InterpretedPredicate(ex.BindReferences.bindReference(
                    node.condition(), attrs(inputs), False))
            step.initialize(0)
            self.steps.append((is_projection, step))
        out = plan.output()
        self.json_at = [out.apply(i).name()
                        for i in range(out.size())].index("__json__")
        self.row = ex.GenericInternalRow(len(_LEAF))
        self.row.setLong(0, 0)
        self.utf8 = jvm.org.apache.spark.unsafe.types.UTF8String.fromString
        self.activate = jvm.org.apache.spark.sql.classic.SparkSession \
            .setActiveSession
        self.session = spark._jsparkSession

    def __call__(self, raw: str, ctx: str | None) -> str | None:
        # expressions read session settings (the map-key dedup policy)
        # from the JVM thread's active session
        self.activate(self.session)
        self.row.update(1, self.utf8(raw))
        if ctx is None:
            self.row.setNullAt(2)
        else:
            self.row.update(2, self.utf8(ctx))
        row = self.row
        for is_projection, step in self.steps:
            if is_projection:
                row = step.apply(row)
            elif not step.eval(row):
                return None
        return row.getString(self.json_at)


def _evaluate(spark: SparkSession, plan: _Plan, raw: str,
              ctx: str | None) -> str | None:
    """``__json__`` of the request's row, or None when the rule filters
    it out."""
    with _pools_lock:
        pool = _pools.setdefault(spark, _Pool())
    with pool.borrow(plan, lambda: _Evaluator(spark, plan.serialized)) as ev:
        try:
            return ev(raw, ctx)
        except Exception as exc:
            err = extract_engine_error(exc)
            if err is not None:
                raise err from exc
            raise


def _rebound(spark: SparkSession, plan: _Plan, raw: str,
             ctx: str | None) -> DataFrame:
    """The Dataset path: a fresh copy of ``plan`` reading ``raw`` and
    ``ctx``, as an analyzed DataFrame."""
    jvm = spark._jvm
    _, row = _record_rows(spark, raw, ctx)
    local = jvm.org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    swap = jvm.java.util.HashMap()
    for src in plan.sources:
        swap.put(src, local(src.output(), row, False,
                            jvm.scala.Option.empty()))
    # a Scala Map is a PartialFunction: it rewrites the copy's sources
    rebound = copy_plan(spark, plan.serialized).transformDown(
        jvm.org.apache.spark.api.python.PythonUtils.toScalaMap(swap))
    rebound.setAnalyzed()
    return DataFrame(jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, rebound), spark)
