"""Interpreter-backed evaluation for the ops Spark cannot express.

``deep_merge``, ``object_flatten`` and ``object_unflatten`` recurse
over data-dependent shapes, a ``pick``/``omit`` whose paths are not
plain object keys known at compile time reads them from data, and so
does a ``flatten`` whose depth is not a literal 0-32 or a ``sort_by``
whose order is not a literal ``asc``/``desc``; no Column expression
covers them.  They have one Python implementation, the
standalone interpreter (``interp.py``, the engine's oracle).  When any
of them appears anywhere in a mapping's expression — a direct step,
an array-op body, a ``{map:}`` step body, an if-branch or an operand
of another op — the WHOLE mapping value evaluates through ``interp``
inside one Arrow-batched pandas UDF (:func:`needs_interp`): the record,
the accumulated ``@out`` and the context ship as JSON (a context known
at compile time rides in the UDF's closure; one bound at run time, as
a cached service plan binds it, is read per row), and errors re-raise
with the standard engine payload.  Whole-mapping evaluation is what
lets these ops sit inside Catalyst lambdas, where Spark rejects a
Python UDF.  It is a slow path by construction, but oracle-exact,
including per-item error paths.

``when``/``record_when`` conditions take the same route
(:func:`when_value_column`), as do ``finalize.wrap`` leaves
(:func:`wrap_value_column`); ``finalize.filter`` conditions take a
STRICT one (:func:`finalize_filter_column` — finalize eval errors
propagate, ``transform.rs:638``, unlike the when channel's
warn-and-false).
"""

from __future__ import annotations

import json as _json

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..errors import encode_engine_error
from ..expr_ir import (CondAll, CondAny, CondCompare, CondExpr, IfStep,
                       LetStep, MapStep, OpStep, Pipe, RefStep,
                       StartLiteral, StartRef)
from ..registry import OP_ALIASES
from .ops_array import literal_depth, literal_order
from .ops_object import literal_key_paths

_INTERP_OPS = frozenset({"deep_merge", "object_flatten",
                         "object_unflatten"})

# observability (VERDICT r8 watch item #2): the bridge is a deliberate
# whole-mapping-interpreted slow path for rare shapes — these counters
# (compile-time hits per entry point, read via
# functions.diag.interp_bridge_stats) make it visible if a refactor
# silently routes a HOT path through it
BRIDGE_HITS = {"mapping": 0, "when": 0, "finalize": 0}


def _op_needs_interp(step: OpStep) -> bool:
    op = OP_ALIASES.get(step.op, step.op)
    if op in ("pick", "omit"):
        return literal_key_paths(step.args) is None
    if op == "flatten" and len(step.args) == 1:
        return literal_depth(step.args[0]) is None
    if op == "sort_by" and len(step.args) == 2:
        return literal_order(step.args[1]) is None
    return op in _INTERP_OPS


def cond_needs_interp(cond) -> bool:
    """A v2 condition (when/record_when, finalize.filter) holding an op
    only ``interp`` implements, in any of its pipes."""
    if isinstance(cond, (CondAll, CondAny)):
        return any(cond_needs_interp(c) for c in cond.conditions)
    if isinstance(cond, CondCompare):
        return any(needs_interp(p) for p in cond.args)
    if isinstance(cond, CondExpr):
        return needs_interp(cond.expr)
    return False


def needs_interp(pipe: Pipe) -> bool:
    """True when an op only ``interp`` implements appears anywhere in
    ``pipe``."""
    for step in pipe.steps:
        if isinstance(step, OpStep):
            if _op_needs_interp(step) or any(needs_interp(a)
                                             for a in step.args):
                return True
        elif isinstance(step, MapStep):
            if needs_interp(Pipe(start=StartLiteral(None),
                                 steps=step.steps)):
                return True
        elif isinstance(step, IfStep):
            branches = [step.then_branch]
            if step.else_branch is not None:
                branches.append(step.else_branch)
            if cond_needs_interp(step.cond) or any(needs_interp(b)
                                                    for b in branches):
                return True
        elif isinstance(step, LetStep):
            if any(needs_interp(e) for _n, e in step.bindings):
                return True
    return False


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


def parse_finalize_filter(raw_filter):
    """The reference's finalize.filter condition-parse protocol
    (``transform.rs:620-633``) → ``(cond, None)`` with the interp
    condition, or ``(None, (kind, message))`` when the value fails to
    parse as a v2 condition.  Callers raise the error on the
    transform-error channel with path ``finalize.filter`` — BEFORE the
    engine's own ``parse_condition``, whose wordings differ.
    ``parse_expr_model`` failures propagate to the caller's own rule
    parse channel (they fire at rule-parse time in both engines)."""
    from .. import interp as I

    model = I.parse_expr_model(raw_filter)
    raw = I._expr_to_json_for_v2_condition(model)
    if raw is None:
        return None, ("expr_error", "finalize.filter must be a v2 condition")
    try:
        return I.parse_v2_condition(raw), None
    except I.V2ParseError as e:
        return None, ("expr_error", f"invalid v2 condition: {e}")


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


def finalize_filter_column(cond, item_col: Column, idx_col: Column,
                           context_value, singleton_out: bool = False,
                           guard: Column | None = None,
                           context_col: Column | None = None) -> Column:
    """A finalize.filter condition (``cond``, from
    :func:`parse_finalize_filter`) as a STRICT interp-evaluated boolean
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


def _value_column(evaluate, scope) -> Column:
    """``evaluate(record, out, context)`` per row as a variant Column
    over ``scope``'s input, ``@out`` and context: MISSING → NULL, and
    interp errors re-raise with the standard engine payload."""
    from .. import interp as I

    fixed, ctx_j = _context_arg(scope.context_value, scope.context)
    record_j = F.to_json(scope.input)
    scope.used_out()
    out_j = F.to_json(scope.out) if scope.out is not None else F.lit("{}")

    @F.pandas_udf("string")
    def _udf(rec_s: pd.Series, out_s: pd.Series,
             ctx_s: pd.Series) -> pd.Series:
        def run(rec_t, out_t, ctx_t):
            record = _json.loads(rec_t) if rec_t is not None else {}
            out = _json.loads(out_t) if out_t is not None else {}
            try:
                v = evaluate(record, out, _context_value(fixed, ctx_t))
            except I.InterpError as e:
                raise RuntimeError(encode_engine_error(
                    e.kind, e.message, e.path)) from None
            if v is I.MISSING:
                return None
            return I.json_compact(v)

        return pd.Series([run(r, o, c)
                          for r, o, c in zip(rec_s, out_s, ctx_s)])

    return F.parse_json(_udf(record_j, out_j, ctx_j))


def mapping_value_column(raw_expr, version: int, scope,
                         base_path: str) -> Column:
    """The mapping's value as an interp-evaluated variant Column."""
    BRIDGE_HITS["mapping"] += 1
    from .. import interp as I
    from . import variant as V

    model = I.parse_expr_model(raw_expr)
    bp = str(base_path)
    if version >= 2:
        j = I._expr_to_json_for_v2_pipe(model)
        if j is not None:
            try:
                v2_pipe = I.parse_v2_pipe_from_value(j)
            except I.V2ParseError as e:
                # interp raises this per record as an expr error
                return V.raise_err("expr_error", str(e),
                                   bp).cast(V.VT)
            return _value_column(
                lambda record, out, ctx: I.eval_v2_pipe(
                    v2_pipe, record, ctx, out, bp, I.V2Ctx()), scope)
    return _value_column(
        lambda record, out, ctx: I.eval_expr(model, record, ctx, out, bp,
                                             None), scope)


def wrap_value_column(raw_leaf, scope, path: str) -> Column:
    """A ``finalize.wrap`` leaf as an interp-evaluated variant Column
    (``eval_wrap_value``, ``transform.rs:716-749``): a v2 expr whose
    ``scope`` binds ``@input`` and ``@out`` to the output array."""
    BRIDGE_HITS["finalize"] += 1
    from .. import interp as I
    from . import variant as V

    try:
        expr = I.parse_v2_expr(I.canon(raw_leaf))
    except I.V2ParseError as e:
        return V.raise_err("expr_error", f"invalid v2 expr: {e}",
                           path).cast(V.VT)
    return _value_column(
        lambda record, out, ctx: I.eval_v2_expr(expr, out, ctx, out, path,
                                                I.V2Ctx()), scope)
