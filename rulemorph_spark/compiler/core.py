"""Expression compiler core: pipe IR → a single variant Column.

The reference interprets pipes per record — re-parsing the expression every
evaluation (``transform.rs:965-997``).  Here a pipe compiles **once** into a
Catalyst expression tree; Spark then vectorizes it across all records.

Error model: hard errors compile to ``F.raise_error`` guarded by a
``F.when`` branch (lazily evaluated per row).  ``when``/``record_when``
conditions compile in *lenient* mode, where would-be errors yield NULL
(→ false), matching the reference's error-to-warning-and-skip semantics
(``transform.rs:1041-1091``).
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from dataclasses import dataclass, field, replace

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..errors import RuleError
from ..expr_ir import (CondAll, CondAny, CondCompare, CondExpr, Condition,
                       IfStep, LetStep, MapStep, OpStep, Pipe, Ref, RefStep,
                       StartLiteral, StartPipeValue, StartRef)
from ..paths import parse_path
from ..registry import (OP_ALIASES, OP_ARITY, V1_EVAL_ARITY,
                        V1_SUPPORTED_OPS, V2_DELEGATED_EVAL_ARITY,
                        V2_NATIVE_EVAL_ARITY, V2_NATIVE_IGNORED_ARGS)
from . import variant as V

_lenient_state = threading.local()
_version_state = threading.local()
_fast_columns_lock = threading.Lock()
_fast_columns_depth = 0
_fast_columns_saved = True


def lenient_on() -> bool:
    return getattr(_lenient_state, "depth", 0) > 0


@contextmanager
def lenient_errors():
    _lenient_state.depth = getattr(_lenient_state, "depth", 0) + 1
    try:
        yield
    finally:
        _lenient_state.depth -= 1


def cur_version() -> int:
    """Rule version in effect during compilation (defaults to 2).

    v1 and v2 diverge on a few op semantics — e.g. v1 arithmetic re-emits
    integral f64 results as ints (``transform.rs:5846-5859``) while the v2
    runtime keeps raw f64 (``v2_eval.rs:1861``); v1 ``map`` keeps missing
    results as null (``transform.rs:3104-3110``) while v2 drops them
    (``v2_eval.rs:1960-1962``).
    """
    return getattr(_version_state, "version", 2)


@contextmanager
def fast_columns():
    """Suspend pyspark's per-call DataFrame-debugging capture while
    building expression trees.

    PySpark 4 wraps every Column/functions call with a call-site
    capture that costs THREE extra py4j round trips (a conf read,
    ``PySparkCurrentOrigin.set``, ``.clear``) plus a Python stack walk
    — ~40% of rule-compile wall time (round-8 profile: 1199 wrapped
    calls → 3.7 s on the t13 anchor).  The captured origin would point
    at compiler internals, not user code, and engine errors carry
    their own structured payload (``errors.py``), so nothing of value
    is lost.

    The cache is a PROCESS-WIDE pyspark global, so suspension is
    refcounted under a lock (ADVICE r8 #2): the saved value is
    captured by the outermost enter and restored only when the
    outermost exit runs, so overlapping compiles from multiple
    threads can't restore a stale value or flip the flag back while
    another compile is still inside.  User queries on OTHER threads do
    lose debug-origin capture while any rule compiles — inherent to
    toggling a pyspark global, and origins are a debugging nicety, not
    a correctness input.  Tolerates pyspark versions without the
    private cache."""
    try:
        import pyspark.errors.utils as _eu
        _eu._enable_debugging_cache
    except (ImportError, AttributeError):  # pragma: no cover
        yield
        return
    global _fast_columns_depth, _fast_columns_saved
    with _fast_columns_lock:
        if _fast_columns_depth == 0:
            _fast_columns_saved = _eu._enable_debugging_cache
            _eu._enable_debugging_cache = False
        _fast_columns_depth += 1
    try:
        yield
    finally:
        with _fast_columns_lock:
            _fast_columns_depth -= 1
            if _fast_columns_depth == 0:
                _eu._enable_debugging_cache = _fast_columns_saved


@contextmanager
def rule_version(version: int):
    prev = getattr(_version_state, "version", 2)
    _version_state.version = version
    try:
        with fast_columns():
            yield
    finally:
        _version_state.version = prev


_flat_state = threading.local()


@contextmanager
def flat_rule(is_flat: bool):
    """Marks a compile as a FLAT rule (no steps / record_when /
    asserts / branch): the string-family SQL-function fast path only
    engages there.  In composed rules the optimizer multiplies
    inlined function bodies through the @out-chaining projections
    (PushDownPredicates substitutes keep through the builder layers,
    then ColumnPruning/CollapseProject re-copy — a 37 kB analyzed plan
    ballooned to an 8-29 MB optimized plan and OOM'd; round-9 find,
    latent since the r8 arith functions at smaller scale)."""
    prev = getattr(_flat_state, "flat", False)
    _flat_state.flat = is_flat
    try:
        yield
    finally:
        _flat_state.flat = prev


def in_flat_rule() -> bool:
    return getattr(_flat_state, "flat", False)


def rerr(kind: str, message: str, path: str | None = None,
         code: str | None = None) -> Column:
    """Error column: raise in strict mode, NULL in lenient (when) mode."""
    if lenient_on():
        return F.lit(None)
    return V.raise_err(kind, message, path, code)


class OpPath(str):
    """Error path for an op step: renders as the step path wherever a
    plain string is expected, and exposes the reference's per-operand
    attribution (round-7 follow-up: the engines used to collapse every
    operand/argument error onto the step path).

    Reference numbering, operand index ``o`` counting the pipe value
    as 0 and explicit args from 1:

    - ``v1`` (standalone ``{op, args}`` at ``transform.rs`` paths
      ``{base}.args[o]``, and chain items at ``{base}.chain[k].args[o]``
      — ``eval_expr_at_index``, transform.rs:1996-2135): operand ``o``
      → ``{base}.args[o]`` where ``base`` carries the original v1
      structure suffix; a standalone op's first arg is the hoisted
      pipe, so the numbering is the original arg index either way.
    - ``v2_delegated`` (v2 op steps the reference routes through
      ``eval_v2_op_with_v1_fallback``, v2_eval.rs:1580-1640): the pipe
      injects as args[0] → operand ``o`` → ``{step}.args[o]``; arg
      EXPRESSIONS pre-evaluate eagerly at 0-based ``{step}.args[j]``.
    - ``v2_native`` (ops ``eval_v2_op_step`` implements inline,
      v2_eval.rs:1765-3069): the pipe value errors at the STEP path,
      explicit arg ``j`` at ``{step}.args[j]``.
    """

    kind: str   # "v1_standalone" | "v1_chain" | "v2_native" | "v2_delegated"
    base: str

    def __new__(cls, step_path: str, kind: str = "v2_delegated",
                base: str | None = None):
        s = str.__new__(cls, step_path)
        s.kind = kind
        s.base = step_path if base is None else base
        return s

    def arg(self, o: int) -> str:
        """Protocol/conversion error path for operand ``o`` (0 = pipe)."""
        if self.kind.startswith("v1"):
            return f"{self.base}.args[{o}]"
        if self.kind == "v2_native":
            return str(self) if o == 0 else f"{self}.args[{o - 1}]"
        return f"{self}.args[{o}]"

    def sub(self, j: int) -> str:
        """Compile path of explicit arg ``j``'s own expression."""
        if self.kind.startswith("v1"):
            return f"{self.base}.args[{j + 1}]"
        return f"{self}.args[{j}]"

    def raw(self, j: int) -> str:
        """Lambda-arg path: the reference's per-item sub-expression ops
        (map/filter/sort_by/zip_with/fold families) compute the path
        from the RAW args index — a v1 CHAIN's lambda reports at
        ``{base}.args[j]``, not the operand slot ``args[j+1]``
        (``_two_arg_array_op_setup``: ``expr_index = 0 if injected``,
        transform.rs eval_map/eval_sort_by)."""
        if self.kind == "v1_chain":
            return f"{self.base}.args[{j}]"
        return self.sub(j)


def raw_path(path, j: int) -> str:
    """Lambda-arg path (raw args index; see :meth:`OpPath.raw`)."""
    return path.raw(j) if isinstance(path, OpPath) else path


def arg_path(path, o: int) -> str:
    """Reference-exact path for operand ``o`` (0 = the pipe value) —
    per-operand for :class:`OpPath`, the bare path otherwise."""
    return path.arg(o) if isinstance(path, OpPath) else path


def sub_path(path, j: int) -> str:
    """Compile path for explicit arg ``j``'s expression."""
    return path.sub(j) if isinstance(path, OpPath) \
        else f"{path}.args[{j + 1}]"


def rerr_dyn(kind: str, message: str, path_col: Column) -> Column:
    """``rerr`` with a data-dependent path Column (entry indexes)."""
    if lenient_on():
        return F.lit(None)
    return V.raise_err_dyn(kind, message, path_col)


@dataclass
class Scope:
    """Compile-time name environment: every slot is a variant Column."""

    input: Column
    context: Column | None = None
    out: Column | None = None
    item: Column | None = None
    item_index: Column | None = None
    acc: Column | None = None
    pipe: Column | None = None
    locals: dict[str, Column] = field(default_factory=dict)
    # the plain-Python context document, when known at compile time —
    # lets ops precompute (e.g. lookup hash maps from context arrays)
    context_value: object = None
    # mutable cell shared with child scopes: appended to whenever a
    # compiled expression actually reads ``out`` — lets the rule
    # compiler declare exact Builder.add deps instead of text-scanning
    # the rendered expression (ADVICE r8 #3)
    out_used: list | None = None

    def used_out(self) -> None:
        if self.out_used is not None:
            self.out_used.append(True)

    def child(self, **kw) -> "Scope":
        if "locals" not in kw:
            kw["locals"] = dict(self.locals)
        return replace(self, **kw)


# op name -> fn(scope, cur, args, path) ; populated by the ops modules.
OPS: dict[str, object] = {}

# ops ``eval_v2_op_step`` implements inline (v2_eval.rs:1765-3069) —
# everything else routes through ``eval_v2_op_with_v1_fallback`` and
# numbers the injected pipe as args[0].  Canonical (post-alias) names.
V2_NATIVE_STEP_OPS = {
    "trim", "lowercase", "uppercase", "to_string", "concat",
    "string", "int", "float", "bool",
    "+", "-", "*", "/",
    "map", "filter", "flat_map", "group_by", "key_by", "partition",
    "distinct_by", "sort_by", "find", "find_index", "reduce", "fold",
    "zip_with", "first", "last", "coalesce", "and", "or", "not",
    "==", "!=", "<", "<=", ">", ">=", "~=",
    "lookup", "lookup_first",
}

# ops that manage the pipe-value binding THEMSELVES, so compile_step
# must hand them the raw Column:
# - pick/omit, whose Column bodies read the raw pipe value directly
#   (deep_merge, object_(un)flatten and the pick/omit forms with no
#   Column body evaluate through the interpreter: see
#   interp_bridge.needs_interp);
# - SQL-function-backed ops (round 8): the date ops pass the raw pipe
#   value as the function ARGUMENT (the analyzer binds it once via a
#   Project) and fall back to an internal V.let inside lambda scopes.
UDF_OPS = {"pick", "omit", "date_format", "to_unixtime",
           "+", "-", "*", "/",
           # round 9: string/stringify ops with SQL-function fast paths
           # (ops_bodies.py) — raw pipe value becomes the function
           # argument; the inline fallback V.lets it itself
           "trim", "lowercase", "uppercase", "to_string", "concat",
           "split", "pad_start", "pad_end", "replace", "to_base",
           "round"}

_op_state = threading.local()
_op_state.current = None


def current_opstep():
    """The OpStep being compiled (for ops that inspect argument IR)."""
    return getattr(_op_state, "current", None)


def register(name: str):
    def deco(fn):
        OPS[name] = fn
        return fn
    return deco


def compile_ref(ref: Ref, scope: Scope, path: str) -> Column:
    """Resolve an ``@`` reference to a variant Column
    (``v2_eval.rs:301-386``)."""
    if ref.namespace == "input":
        base = scope.input
    elif ref.namespace == "context":
        if scope.context is None:
            return V.missing()
        base = scope.context
    elif ref.namespace == "out":
        scope.used_out()
        base = scope.out if scope.out is not None else V.lit_variant({})
    elif ref.namespace == "item":
        if scope.item is None:
            raise RuleError("expr_error",
                            "@item is only available in map/filter operations",
                            path)
        if ref.path == "":
            return scope.item
        if ref.path == "index":
            return scope.item_index.cast("long").cast(V.VT)
        # a leading "value" token addresses the item itself
        # (eval_v2_ref, v2_eval.rs:335-354; v1 eval_ref transform.rs:1262)
        tokens = parse_path(ref.path)
        from ..paths import Key as _Key
        if tokens and tokens[0] == _Key("value"):
            tokens = tokens[1:]
        return V.navigate(scope.item, tokens) if tokens else scope.item
    elif ref.namespace == "acc":
        if scope.acc is None:
            raise RuleError("expr_error",
                            "@acc is only available in reduce/fold operations",
                            path)
        if ref.path == "":
            return scope.acc
        tokens = parse_path(ref.path)
        from ..paths import Key as _Key
        if tokens and tokens[0] == _Key("value"):
            tokens = tokens[1:]
        return V.navigate(scope.acc, tokens) if tokens else scope.acc
    elif ref.namespace == "local":
        name = ref.local_name
        if name not in scope.locals:
            raise RuleError("expr_error", f"undefined variable: @{name}", path)
        return scope.locals[name]
    elif ref.namespace == "pipe":
        # v1 ``pipe.*`` refs: bound only during the reference's
        # v2→v1 delegation (which the engine never expresses through
        # v1 {ref:} syntax), so this is ALWAYS the eval error — raised
        # per evaluation position like eval_ref (transform.rs; pinned
        # by the v1_pipe_ref.rs inline suite)
        return rerr("expr_error", "pipe is only available within v2 pipes",
                    path).cast(V.VT)
    else:  # pragma: no cover
        raise RuleError("invalid_ref", f"unknown namespace {ref.namespace}")
    if ref.path == "":
        return base
    return V.navigate(base, parse_path(ref.path))


def compile_pipe(pipe: Pipe, scope: Scope, path: str = "expr") -> Column:
    """Fold the pipe left-to-right (``v2_eval.rs:820-893``)."""
    start = pipe.start
    if isinstance(start, StartLiteral):
        cur = V.lit_variant(start.value)
    elif isinstance(start, StartRef):
        cur = compile_ref(start.ref, scope, path)
    elif isinstance(start, StartPipeValue):
        # a `$` start outside a pipe context evaluates to missing
        # (V2EvalContext::new() has no pipe value)
        cur = scope.pipe if scope.pipe is not None else V.missing()
    else:  # pragma: no cover
        raise RuleError("expr_error", "invalid pipe start", path)

    scope = scope.child()
    for i, step in enumerate(pipe.steps):
        # steps index from 1 — the start value is [0]
        # (``eval_v2_pipe``, ``v2_eval.rs:834``; r7 path-parity fix)
        step_path = step_op_path(step, f"{path}[{i + 1}]", path)
        cur, scope = compile_step(step, cur, scope, step_path)
    return cur


def step_op_path(step, step_path: str, pipe_base: str):
    """Wrap an op step's path with the reference's per-operand
    attribution (see :class:`OpPath`); non-op steps keep the plain
    step path."""
    if not isinstance(step, OpStep):
        return step_path
    if step.v1_suffix is not None:
        # v1 forms render with the original structure suffix — the
        # reference never step-indexes v1 paths
        # (``mappings[0].expr.args[o]``, ``...chain[k].args[o]``)
        return OpPath(f"{pipe_base}{step.v1_suffix}",
                      "v1_chain" if step.v1_chain else "v1_standalone")
    op = OP_ALIASES.get(step.op, step.op)
    kind = "v2_native" if op in V2_NATIVE_STEP_OPS else "v2_delegated"
    return OpPath(step_path, kind)


def _args_then_err(scope: Scope, cur: Column, step, path, msg: str,
                   sfx: str) -> Column:
    """An arity-violating DELEGATED op step: the reference evaluates
    every argument expression first (``eval_v2_op_with_v1_fallback``
    binds them to v1 locals, v2_eval.rs:1594-1609), then v1's
    ``args_len`` check raises — so a raising argument's error must win
    over the arity error, in argument order.  Argument values (present
    or missing) don't matter, only their error channel — each compiled
    arg weaves in as a zero-length probe ahead of the arity error."""
    pipe_scope = scope.child(pipe=cur)
    out = rerr("expr_error", msg, f"{path}{sfx}").cast(V.VT)
    for j, a in reversed(list(enumerate(step.args))):
        binding = compile_pipe(a, pipe_scope, sub_path(path, j))
        probe = F.coalesce(
            F.substring(F.to_json(V.as_nullable(binding)), 1, 0),
            F.lit(""))
        out = F.when(F.length(probe) >= 1,
                     V.cached_col("raise", "__unreachable__",
                                  lambda: F.raise_error(
                                      F.lit("unreachable probe")))
                     .cast(V.VT)).otherwise(out)
    return out


def compile_step(step, cur: Column, scope: Scope, path: str):
    """Compile one step; returns (new_pipe_value, new_scope)."""
    if isinstance(step, OpStep):
        op = OP_ALIASES.get(step.op, step.op)
        n = len(step.args)
        # Arity and op-existence are EVAL errors with per-op wordings
        # and windows, NOT the validator's OP_ARITY table — the two
        # reference tables disagree (e.g. the v2 validator demands one
        # explicit arg for object_flatten while v2 eval delegates to v1
        # with the pipe injected and demands zero).  A violating step
        # compiles to a raising column so it only fires when the
        # reference would evaluate it (untaken if-branches stay silent,
        # when-conditions downgrade to the warning channel).  Derived
        # differentially from the interpreter; see registry.py and
        # tests/test_eval_arity.py (round 9 — this closed a systematic
        # fuzz blind spot: fuzzers only generated compile-accepted
        # shapes).
        if getattr(step, "v1_empty_args", False):
            # v1 standalone with args: [] — fires before even the
            # unsupported-op check (transform.rs:1397)
            return rerr("expr_error", "expr.args must be a non-empty "
                        "array", f"{path}.args").cast(V.VT), scope
        v1_form = (step.origin_first_arg is not None or step.v1_chain
                   or step.v1_empty_args)
        if v1_form:
            # v1 eval: unsupported names ("expr.op is not supported",
            # transform.rs:1989-1993) and per-op TOTAL windows checked
            # BEFORE any argument evaluates (args_len, transform.rs)
            if step.op not in V1_SUPPORTED_OPS:
                return rerr("expr_error", "expr.op is not supported",
                            f"{path}.op").cast(V.VT), scope
            spec = V1_EVAL_ARITY.get(step.op)
            if spec is not None:
                lo_t, hi_t, tail = spec
                total = n + 1  # injected pipe / hoisted first arg
                if total < lo_t or (hi_t is not None and total > hi_t):
                    return rerr("expr_error",
                                f"expr.args must contain {tail}",
                                f"{path}.args").cast(V.VT), scope
        elif op in V2_NATIVE_STEP_OPS:
            # native v2 steps check explicit args BEFORE evaluating
            # them; absent entries ignore extra args entirely
            spec = V2_NATIVE_EVAL_ARITY.get(op)
            if spec is not None:
                lo_n, hi_n, msg, sfx = spec
                if n < lo_n or (hi_n is not None and n > hi_n):
                    return rerr("expr_error", msg,
                                f"{path}{sfx}").cast(V.VT), scope
            if op in V2_NATIVE_IGNORED_ARGS and n:
                # ignored args are never EVALUATED either — a raising
                # extra arg must stay silent (v2_eval.rs native arms
                # read only the pipe value)
                step = replace(step, args=())
        else:
            if op not in OP_ARITY:
                return rerr("expr_error", "expr.op is not supported",
                            f"{path}.op").cast(V.VT), scope
            spec = V2_DELEGATED_EVAL_ARITY.get(op)
            if spec is not None:
                lo_n, hi_n, msg, sfx = spec
                if n < lo_n or (hi_n is not None and n > hi_n):
                    # delegated ops evaluate their argument expressions
                    # BEFORE the v1 arity check (v2_eval.rs:1594-1609)
                    # — a raising argument wins over the arity error
                    return _args_then_err(scope, cur, step, path, msg,
                                          sfx), scope
        fn = OPS.get(op)
        if fn is None:
            raise RuleError("unknown_op", f"op not implemented: {op}", path)
        # expose the raw step to ops that inspect argument IR (lookup
        # fast paths read origin_first_arg)
        _op_state.current = step
        try:
            # let-bind the pipe value: the op references it many times but
            # the incoming tree is embedded exactly once (linear analysis)
            if op in UDF_OPS:
                return fn(scope, cur, list(step.args), path), scope
            result = V.let(cur,
                           lambda x: fn(scope, x, list(step.args), path))
            return result, scope
        finally:
            _op_state.current = None
    if isinstance(step, LetStep):
        new_locals = dict(scope.locals)
        pipe_scope = scope.child(pipe=cur)
        for name, expr in step.bindings:
            # binding path is ``{step}.{name}`` (eval_v2_let_step,
            # v2_eval.rs:898-913)
            binding = compile_pipe(expr, pipe_scope, f"{path}.{name}")
            # the reference evaluates every binding EAGERLY — a raising
            # binding raises even when nothing references it
            # (eval_v2_let_step evaluates in its loop).  A Column
            # binding is lazy, so weave a zero-length probe of each
            # binding into the pipe value (r7 path-parity campaign
            # found the unused-raising-binding hole).
            probe = F.coalesce(
                F.substring(F.to_json(V.as_nullable(binding)), 1, 0),
                F.lit(""))
            cur = F.when(F.length(probe) >= 1,
                         V.cached_col("raise", "__unreachable__",
                                      lambda: F.raise_error(
                                          F.lit("unreachable probe")))
                         .cast(V.VT)).otherwise(cur)
            new_locals[name] = binding
            pipe_scope = pipe_scope.child(locals=dict(new_locals))
        return cur, scope.child(locals=new_locals)
    if isinstance(step, IfStep):
        def build_if(x):
            pipe_scope = scope.child(pipe=x)
            cond = compile_condition(step.cond, pipe_scope, f"{path}.cond")
            then_c = compile_pipe(step.then_branch, pipe_scope,
                                  f"{path}.then")
            if step.else_branch is not None:
                else_c = compile_pipe(step.else_branch, pipe_scope,
                                      f"{path}.else")
            else:
                # absent else: pipe value unchanged (v2_eval.rs:916-953)
                else_c = x
            out = F.when(F.coalesce(cond, F.lit(False)),
                         then_c).otherwise(else_c)
            if step.else_branch is not None \
                    and step.then_branch == step.else_branch:
                # structurally identical branches compile to identical
                # expressions and SimplifyConditionals collapses the
                # CASE, discarding the condition — but the reference
                # still evaluates it (a raising cond must raise).
                # Force the cond through a zero-length probe with an
                # unreachable distinct then-branch (see typed._force).
                probe = F.coalesce(
                    F.substring(V.as_nullable(cond).cast("string"), 1, 0),
                    F.lit(""))
                out = F.when(F.length(probe) >= 1,
                             F.raise_error(F.lit("unreachable probe"))
                             .cast(V.VT)).otherwise(out)
            return out
        return V.let(cur, build_if), scope
    if isinstance(step, MapStep):
        from .ops_array import compile_map_step
        return V.let(cur, lambda x: compile_map_step(step, x, scope,
                                                     path)), scope
    if isinstance(step, RefStep):
        return compile_ref(step.ref, scope.child(pipe=cur), path), scope
    raise RuleError("expr_error", f"unknown step type {type(step).__name__}", path)


# --- conditions (v2): strict eq, numeric-then-lexicographic ordering ----

def compile_condition(cond: Condition, scope: Scope, path: str = "when") -> Column:
    """Compile a v2 condition to a BooleanType Column.

    Comparison semantics per ``rules_spec_en.md:225-248`` and
    ``v2_eval.rs:1048-1218``: strict JSON equality for eq/ne; numeric
    comparison first then both-string lexicographic for orderings; regex
    for match.  Lenient mode maps evaluation errors to NULL (false).
    """
    if isinstance(cond, CondAll):
        result = F.lit(True)
        for i, c in enumerate(cond.conditions):
            result = result & compile_condition(c, scope, f"{path}[{i}]")
        return result
    if isinstance(cond, CondAny):
        result = F.lit(False)
        for i, c in enumerate(cond.conditions):
            result = result | compile_condition(c, scope, f"{path}[{i}]")
        return result
    if isinstance(cond, CondCompare):
        if len(cond.args) != 2:
            # an EVAL error, not a parse error (v2_eval.rs:1103-1110) —
            # so a mapping `when` downgrades it to the warning channel
            return rerr(
                "expr_error",
                "comparison requires exactly 2 arguments, got "
                f"{len(cond.args)}", path).cast("boolean")
        args = [compile_pipe(a, scope, f"{path}.args[{i}]")
                for i, a in enumerate(cond.args)]
        left, right = args
        perr = None
        if cond.op == "match":
            from .ops_scalar import (_literal_pattern, java_regex_invalid,
                                     py_regex_error)
            lit = _literal_pattern(cond.args[1])
            if lit is not None:
                # v2 conditions wrap the compile failure with the regex
                # error text ("invalid regex pattern: {e}",
                # compare_values_match v2_eval.rs:1208-1214; the Rust
                # regex Display is approximated with Python's re —
                # matching the interpreter oracle).  The error fires
                # AFTER the side checks (_compare orders it).
                perr = py_regex_error(lit)
                if perr is None and java_regex_invalid(lit):
                    perr = "__java_only__"
        return _compare(cond.op, left, right, path, pattern_err=perr)
    if isinstance(cond, CondExpr):
        # bare-expression conditions attribute to ``{path}.expr``
        # (eval_v2_condition, v2_eval.rs:1020-1045)
        expr_path = f"{path}.expr"
        value = compile_pipe(cond.expr, scope, expr_path)
        # must be a boolean; missing/null → false; non-bool → error
        return (
            F.when(V.is_absent(value), F.lit(False))
            .when(V.is_bool(value), value.try_cast("boolean"))
            .otherwise(rerr("expr_error",
                            "when/record_when must evaluate to boolean",
                            expr_path).cast("boolean"))
        )
    raise RuleError("expr_error", "unknown condition", path)


def _compare(op: str, left: Column, right: Column, path: str,
             pattern_err: str | None = None) -> Column:
    if op in ("eq", "ne"):
        eq = V.v2_eq(left, right)
        return eq if op == "eq" else ~eq
    if op == "match":
        # compare_values_match (v2_eval.rs:1181-1218): missing left is
        # non-string too ("match operator requires string on left side")
        s = F.when(V.is_string(left), left.try_cast("string")).otherwise(
            rerr("expr_error",
                 "match operator requires string on left side", path)
            .cast("string"))
        pat = F.when(V.is_string(right), right.try_cast("string")).otherwise(
            rerr("expr_error",
                 "match operator requires regex pattern string on right "
                 "side", path).cast("string"))
        if pattern_err is not None:
            # side checks evaluate first (compare_values_match order);
            # then the pattern compile failure
            from .ops_scalar import _chk
            msg = ("regex pattern is invalid"
                   if pattern_err == "__java_only__"
                   else f"invalid regex pattern: {pattern_err}")
            return F.when(
                F.length(F.concat(_chk(s), _chk(pat))) >= 1,
                V.cached_col("raise", "__unreachable__",
                             lambda: F.raise_error(
                                 F.lit("unreachable probe")))
                .cast("boolean")).otherwise(
                rerr("expr_error", msg, path).cast("boolean"))
        return F.coalesce(F.rlike(s, pat), F.lit(False))
    # orderings (compare_values_ord, v2_eval.rs:1150-1177): numeric
    # first when BOTH parse as f64 (numeric strings included), else
    # both-strings lexicographic — even when one side is a numeric
    # string ("5" vs "a" is lexicographic, not an error).  Error split
    # mirrors the reference exactly: a *missing* operand (SQL-NULL
    # variant) errs "cannot compare missing values" (v2_eval.rs:1175);
    # present-but-incomparable values — JSON null included, it is a
    # Value in the reference — err "cannot compare values of different
    # types" (v2_eval.rs:1169).
    ln = _numeric_or_null(left)
    rn = _numeric_or_null(right)
    ls = F.when(V.is_string(left), left.try_cast("string"))
    rs = F.when(V.is_string(right), right.try_cast("string"))
    num_ok = ln.isNotNull() & rn.isNotNull()
    str_ok = ls.isNotNull() & rs.isNotNull()
    miss = V.is_missing(left) | V.is_missing(right)
    import operator
    pyop = {"gt": operator.gt, "gte": operator.ge,
            "lt": operator.lt, "lte": operator.le}[op]
    # NaN on either side: the reference's partial_cmp yields None,
    # mapped to Ordering::Equal (v2_eval.rs:1160 ``unwrap_or(Equal)``)
    # — gt/lt false, gte/lte true.  Spark's own NaN ordering (NaN
    # greater than everything) must not leak through.
    nan = F.isnan(ln) | F.isnan(rn)
    return (
        F.when(miss, rerr("expr_error", "cannot compare missing values",
                          path).cast("boolean"))
        .when(num_ok & nan, F.lit(op in ("gte", "lte")))
        .when(num_ok, pyop(ln, rn))
        .when(str_ok, pyop(ls, rs))
        .otherwise(rerr("expr_error",
                        "cannot compare values of different types",
                        path).cast("boolean"))
    )


def _numeric_or_null(v: Column) -> Column:
    """double if the variant is a number or Rust-grammar numeric string
    (``value_as_f64`` uses ``parse::<f64>`` — no whitespace), else
    NULL."""
    return (
        F.when(V.is_number(v), v.try_cast("double"))
        .when(V.is_string(v), V.rust_f64_parse(v.try_cast("string")))
    )
