"""Compile a rule once per session; replay it on every later call.

A compile ends in DataFrames over its input (the rows, and for
``transform`` the warning counts).  ``CompiledRule`` keeps their
analyzed plans with the input's plan swapped for a stand-in leaf (a
``LocalRelation`` of no rows with the input's output attributes),
Java-serialized and compressed.  A replay deserializes a private copy, swaps the
stand-in for the new input (a ``Project`` that aliases the new
input's columns to the stand-in's attributes) and wraps it in a
``Dataset``: no rule parse, no Column construction and no Catalyst
analysis.  A plan that reads anything but its input and constant
``LocalRelation``s, or holds a subquery or a nondeterministic
expression, is not kept: such a program replays nothing, and each call
compiles again.

The programs live in a ``SessionLRU``: per ``SparkSession`` (weakly
keyed), the ``CACHE_SIZE`` most recently used.  The entry points key
them by everything a compile reads (see ``rule_key``).  A compile
that raises caches nothing, so an error raises again on every call.
"""

from __future__ import annotations

import json
import os
import threading
import weakref
from collections import OrderedDict
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from . import sqlfn

# values kept per session, least recently used evicted first: compiled
# rules here, optimized plans in the service (service/record.py)
CACHE_SIZE = 64

# session settings an analyzed plan binds: a program compiled under
# other values does not serve the call
_SETTINGS = ("spark.sql.session.timeZone", "spark.sql.ansi.enabled")


class SessionLRU:
    """Values per ``SparkSession`` (weakly keyed): at most ``CACHE_SIZE``
    per session, least recently used evicted first.

    ``get`` builds a missing value once: concurrent first calls for one
    key wait for the one build, and a build that raises caches nothing
    (the next caller builds again).  ``lru[spark]`` is the session's
    ``OrderedDict`` of values, ``lru.pop(spark)`` forgets the session."""

    def __init__(self):
        self._lock = threading.Lock()
        self._values: "weakref.WeakKeyDictionary[SparkSession, OrderedDict]" \
            = weakref.WeakKeyDictionary()
        # (session, key) → the lock its one build holds
        self._builds: dict = {}

    def __getitem__(self, spark: SparkSession) -> OrderedDict:
        return self._values[spark]

    def pop(self, spark: SparkSession, default=None):
        with self._lock:
            return self._values.pop(spark, default)

    def get(self, spark: SparkSession, key,
            build: Callable[[], Any] | None,
            valid: Callable[[Any], bool] | None = None):
        """The value under ``key``, built by ``build()`` when there is
        none, or when ``valid(value)`` says the cached one is stale
        (with no ``build``: None)."""
        while True:
            with self._lock:
                values = self._values.setdefault(spark, OrderedDict())
                value = values.get(key)
                if value is not None:
                    values.move_to_end(key)
            if value is not None:
                if valid is None or valid(value):
                    return value
                with self._lock:
                    if values.get(key) is value:
                        del values[key]
            if build is None:
                return None
            with self._lock:
                flight = self._builds.get((id(spark), key))
                mine = flight is None
                if mine:
                    flight = self._builds[(id(spark), key)] = \
                        threading.Lock()
                    flight.acquire()
            if not mine:
                # another thread builds it: wait, then look again
                with flight:
                    continue
            try:
                value = build()
                with self._lock:
                    values[key] = value
                    values.move_to_end(key)
                    while len(values) > CACHE_SIZE:
                        values.popitem(last=False)
                return value
            finally:
                with self._lock:
                    del self._builds[(id(spark), key)]
                flight.release()


class CompiledRule:
    """One rule compiled for one input schema.

    ``rule`` is the parsed rule, ``schema`` the input's schema JSON,
    ``loads`` the branch-target files the compile read
    (``{absolute path: text}``), ``warn_paths`` the rule paths of
    ``transform``'s warning counts.  ``replay(df, name)`` is the
    compile's DataFrame ``name`` over ``df``.  A
    ``transform_table(mode="typed")`` compile that fell back keeps no
    plan: its ``fallback`` is the ``TypedFallback`` to raise."""

    def __init__(self, rule, source: DataFrame,
                 frames: dict[str, DataFrame] | None = None,
                 warn_paths: list | None = None,
                 loads: dict[str, str] | None = None, fallback=None):
        self.rule = rule
        self.warn_paths = warn_paths or []
        self.loads = loads or {}
        self.fallback = fallback
        self.schema = source.schema.json()
        self._plans = _detach(source, frames) if frames else None

    @property
    def replays(self) -> bool:
        """Whether the program kept its plans (see ``_detach``)."""
        return self._plans is not None

    def replay(self, df: DataFrame, name: str = "rows") -> DataFrame:
        """The compile's DataFrame ``name`` over ``df`` (of the compiled
        schema)."""
        spark = df.sparkSession
        jvm = spark._jvm
        ex = jvm.org.apache.spark.sql.catalyst.expressions
        logical = jvm.org.apache.spark.sql.catalyst.plans.logical
        inputs, attrs, plans = self._plans
        plan = copy_plan(spark, plans[name])
        leaves = plan.collectLeaves()
        stand_in = next(leaf for leaf in (leaves.apply(i)
                                          for i in range(leaves.size()))
                        if leaf.output().equals(inputs))
        source = df._jdf.queryExecution().analyzed()
        new = source.output()
        aliases = jvm.java.util.ArrayList()
        none, empty = jvm.scala.Option.empty(), _seq(jvm)
        for i, (attr_name, expr_id, qualifier) in enumerate(attrs):
            aliases.add(ex.Alias(new.apply(i), attr_name, expr_id, qualifier,
                                 none, empty))
        swap = jvm.java.util.HashMap()
        swap.put(stand_in, logical.Project(_seq(jvm, aliases), source))
        # a Scala Map is a PartialFunction: it rewrites the stand-in
        plan = plan.transformDown(_scala_map(jvm, swap))
        plan.setAnalyzed()
        return DataFrame(jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, plan), spark)

    def fresh(self) -> bool:
        """Every branch-target file still holds the text it compiled."""
        for path, text in self.loads.items():
            try:
                with open(path, encoding="utf-8") as fh:
                    if fh.read() != text:
                        return False
            except OSError:
                return False
        return True


def _detach(source: DataFrame, frames: dict[str, DataFrame]):
    """→ (the stand-in's output attributes, their (name, expression
    id, qualifier), {name: serialized plan}), each plan the frame's
    analyzed plan with ``source``'s plan swapped for the stand-in
    leaf; None when a plan reads more than ``source`` and
    constant rows, holds a subquery or is nondeterministic (a seeded
    ``rand`` would repeat its compile-time seed on every call)."""
    spark = source.sparkSession
    jvm = spark._jvm
    logical = jvm.org.apache.spark.sql.catalyst.plans.logical
    analyzed = source._jdf.queryExecution().analyzed()
    stand_in = logical.LocalRelation(analyzed.output(), _seq(jvm), False,
                                     jvm.scala.Option.empty())
    swap = jvm.java.util.HashMap()
    swap.put(analyzed, stand_in)
    plans = {}
    for name, frame in frames.items():
        plan = frame._jdf.queryExecution().analyzed().transformDown(
            _scala_map(jvm, swap))
        if not (plan.subqueriesAll().isEmpty() and plan.deterministic()):
            return None
        leaves = plan.collectLeaves()
        leaves = [leaves.apply(i) for i in range(leaves.size())]
        # the input once (a self-join would alias one input twice), and
        # else only rows fixed at compile
        if (sum(bool(leaf.equals(stand_in)) for leaf in leaves) != 1
                or any(leaf.getClass().getSimpleName() != "LocalRelation"
                       for leaf in leaves)):
            return None
        plans[name] = serialize_plan(spark, plan)
    inputs = stand_in.output()
    attrs = [(a.name(), a.exprId(), a.qualifier())
             for a in (inputs.apply(i) for i in range(inputs.size()))]
    return inputs, attrs, plans


def _seq(jvm, items=None):
    if items is None:
        items = jvm.java.util.ArrayList()
    return jvm.org.apache.spark.api.python.PythonUtils.toSeq(items)


def _scala_map(jvm, mapping):
    return jvm.org.apache.spark.api.python.PythonUtils.toScalaMap(mapping)


def _serializer(spark: SparkSession):
    return spark._jvm.org.apache.spark.serializer.JavaSerializer(
        spark.sparkContext._jsc.sc().conf()).newInstance()


def _codec(spark: SparkSession):
    return spark._jvm.org.apache.spark.io.LZ4CompressionCodec(
        spark.sparkContext._jsc.sc().conf())


def _tag(spark: SparkSession):
    jvm = spark._jvm
    return jvm.scala.reflect.ClassTag.apply(
        jvm.java.lang.Class.forName("java.lang.Object"))


def serialize_plan(spark: SparkSession, plan):
    """``plan`` Java-serialized and LZ4-compressed, in a buffer of its
    exact size (the analyzed plan of the perfbench NDJSON rule: 1.1 MB
    serialized, in a stream buffer of up to twice that)."""
    jvm = spark._jvm
    stream = jvm.org.apache.spark.util.ByteBufferOutputStream(1 << 16)
    out = _serializer(spark).serializeStream(
        _codec(spark).compressedOutputStream(stream))
    out.writeObject(plan, _tag(spark))
    out.close()
    written = stream.toByteBuffer()
    return jvm.java.nio.ByteBuffer.allocate(written.remaining()).put(
        written).flip()


def copy_plan(spark: SparkSession, serialized):
    # duplicate(): a read position of this call's own
    stream = spark._jvm.org.apache.spark.util.ByteBufferInputStream(
        serialized.duplicate())
    return _serializer(spark).deserializeStream(
        _codec(spark).compressedInputStream(stream)).readObject(_tag(spark))


_programs = SessionLRU()


def rule_key(spark: SparkSession, kind: str, rule, context: Any,
             base_dir: str, *extra) -> tuple:
    """The cache key of a compile: the entry kind, the rule text (or
    the ``repr`` of a parsed ``RuleFile``, which spells out the whole
    rule), the context as JSON text (key order kept: typed outputs
    keep the context's field order), the absolute ``base_dir``, the
    session's SQL-function switch and the settings an analyzed plan
    binds (``_SETTINGS``), and the entry's ``extra`` parts."""
    return ((kind, rule if isinstance(rule, str) else repr(rule),
             json.dumps(context), os.path.abspath(base_dir),
             sqlfn.is_disabled(spark))
            + tuple(spark.conf.get(k) for k in _SETTINGS) + extra)


def compiled_rule(spark: SparkSession, key: tuple, schema: str,
                  build: Callable[[], CompiledRule]) -> CompiledRule:
    """The session's program under ``key``, compiled by ``build()`` on
    a miss.  A program of another input schema, or whose branch-target
    files changed, compiles again."""
    return _programs.get(spark, key, build,
                         lambda p: p.schema == schema and p.fresh())


def lookup(spark: SparkSession, key: tuple) -> CompiledRule | None:
    """The session's fresh program under ``key``, or None."""
    return _programs.get(spark, key, None, CompiledRule.fresh)
