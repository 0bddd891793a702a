"""Typed fast-path rule compiler for statically-schemaed input.

The general engine represents every value as a ``variant`` Column and
dispatches op semantics per row on ``schema_of_variant`` tags.  When the
input is a typed table (parquet/DataFrame), the schema is known at
compile time, so this module compiles the same rule semantics directly
onto native typed Columns:

- **missing vs null becomes static**: a reference to a field absent from
  the schema is *missing at compile time* (``TVal.missing``); a runtime
  SQL NULL in a typed column is the reference's JSON null.  The
  missing-propagates / null-errors operand protocol
  (``transform.rs:1996-2135``) therefore compiles to constant folding
  plus one NULL guard, not a per-row type dispatch.
- ops whose semantics depend on the value type (``to_string`` integral
  rendering, numeric coercion, strict equality) branch at compile time
  on the static dtype — the generated plan stays inside whole-stage
  codegen with no variant decoding.

Coverage is the high-traffic subset: scalars (refs, literals, let/if,
arithmetic, comparisons — v2 conditions and v1 pipe ops — logical,
coalesce, casts, string/date ops, lookup) plus array pipelines on
native ``array<T>`` columns (map step, filter, take/drop/slice,
unique, contains, index_of, find_index with ``@item`` lambdas;
sum/min/max over integer elements, first/last, depth-1 flatten),
OBJECT ops on native ``struct`` columns (merge / deep_merge / get /
pick / omit / keys / values / entries / len — key resolution at
compile time, runtime only moves values; struct refs, struct-valued
outputs and object literals included), and
``steps`` rules including ``branch`` (the referenced rule file
compiles inline with ``@input`` = the current ``@out`` tree; its
typed outputs deep-merge or return, still zero variant columns).

A typed column cannot distinguish the reference's *missing* from a
runtime SQL NULL by itself; wherever the two can collide at runtime
the TVal carries a ``missing_when`` predicate Column (runtime
tri-state, round 3): nested refs through a nullable struct are
missing exactly when a prefix is NULL, ``first``/``last`` when the
array is empty, ``get`` when the base/intermediate is null,
``coalesce`` when all operands were absent, ``if`` when the taken
branch is missing.  Strict ops then propagate missing and error only
on true JSON nulls, ``default`` substitutes on exactly the missing
rows, ``required`` raises the reference's missing-vs-null message,
and the ``map`` step DROPS runtime-missing items — all in-plan,
whole-stage codegen.  Only values whose NULL-ambiguity has no
expressible predicate keep the ``maybe_missing``-without-predicate
state and force a :class:`TypedFallback` to the variant engine.
Anything else raises :class:`TypedFallback` and the
caller reruns through the variant engine via ``to_variant_object``
(`engine.transform_table`), so the fast path never changes semantics —
it only narrows when it provably matches.

Typed-output contract: targets become native columns; because a table
column cannot distinguish absent-key from null, *gated-off / missing
outputs surface as SQL NULL* (the JSON output contract drops them).
Only v2 rules take this path (v1's integral re-emission is a JSON
rendering rule with no typed-column equivalent).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..errors import RuleError
from ..expr_ir import (CondAll, CondAny, CondCompare, CondExpr, Condition,
                       IfStep, LetStep, MapStep, OpStep, Pipe, Ref, RefStep,
                       StartLiteral, StartPipeValue, StartRef)
from ..paths import Index, Key, parse_path
from ..registry import OP_ALIASES, OP_ARITY, eval_arity_anomaly
from . import ops_array as A
from . import ops_bodies as S
from . import variant as V
from .backend import InlineColB
from .core import (OpPath, V2_NATIVE_STEP_OPS, arg_path, lenient_errors,
                   lenient_on, raw_path, step_op_path, sub_path)
from .ops_scalar import _chk, _f64_as_i64

_LONG_MAX = (1 << 63) - 1

# --- fold anchor (round 7) ------------------------------------------------
# Catalyst's ConstantFolding may EVALUATE a foldable raise_error at
# optimization time (surfacing errors in tree-traversal order, not the
# reference's positional order) and SimplifyConditionals may DELETE the
# branch holding it (r6 "constant-fold residual": an all-constant pipe
# whose structurally-different if branches fold to the same constant
# skips the condition's error).  Weaving a zero-length probe of a REAL
# input column into every raise message makes the raise non-foldable,
# so constant errors stay in the plan and fire in the runtime CASE
# order the _seq machinery already guarantees.  The typed compiler
# registers the probe once as a projected column (``__terr_anchor__``)
# and points this thread-local at it, keeping the per-raise plan cost
# to one attribute reference.
import threading as _threading  # noqa: E402

_anchor_state = _threading.local()


def _fold_anchor() -> "Column | None":
    return getattr(_anchor_state, "col", None)


class fold_anchor:
    """Context manager installing a zero-length, never-NULL string
    Column (referencing a real input attribute) as the raise anchor."""

    def __init__(self, col: "Column | None"):
        self._col = col

    def __enter__(self):
        self._prev = getattr(_anchor_state, "col", None)
        _anchor_state.col = self._col
        return self

    def __exit__(self, *exc):
        _anchor_state.col = self._prev
        return False


def anchor_probe(col: Column, dtype) -> Column:
    """Zero-length never-NULL string probe of ``col`` suitable as a
    fold anchor (dtype-aware: complex types can't cast to string).
    Routed through ``V.as_nullable`` — substring(a,1,0) of a
    NON-nullable column (e.g. spark.range ids) folds to "" under
    SPARK-33847-family simplification, un-anchoring every raise."""
    c = V.as_nullable(col)
    if isinstance(dtype, (T.ArrayType, T.MapType)):
        p = F.size(c).cast("string")
    elif isinstance(dtype, T.StructType):
        p = F.to_json(c)
    elif isinstance(dtype, T.VariantType):
        p = c.try_cast("string")
    else:
        p = c.cast("string")
    return F.coalesce(F.substring(p, 1, 0), F.lit(""))


class TypedFallback(Exception):
    """The expression needs the general variant engine."""


@dataclass(frozen=True)
class TVal:
    """A typed value: Column + static Spark type.

    ``missing=True`` marks the reference's *missing* (path statically
    absent); then ``col`` is a NULL literal.  A runtime NULL in a
    non-missing TVal is JSON null.
    """
    col: Column
    dtype: T.DataType
    missing: bool = False
    # True when a runtime NULL in ``col`` may stand for *missing* (an
    # ``if`` with one statically-missing branch) rather than JSON null —
    # ops whose semantics differ on the two (``map``'s drop-missing)
    # must fall back to the variant engine on such inputs, UNLESS
    # ``missing_when`` resolves the ambiguity
    maybe_missing: bool = False
    # runtime tri-state (round 3): when set, the value is *missing* on
    # exactly the rows where this boolean Column is true (col is NULL
    # there); a NULL col elsewhere is JSON null.  Lets strict ops,
    # default/required, map-drop and v1 comparisons implement the
    # reference's missing semantics IN-PLAN instead of falling back.
    missing_when: Column | None = None
    # True when ``col`` may embed per-row error cells (raise-on-eval,
    # added by the strict null protocol or static type errors).  A
    # downstream op must NOT discard such a column in favor of a
    # static decision (e.g. get of a schema-absent field → missing)
    # because the variant engine's in-order evaluation would raise the
    # upstream error first — those sites defer to the variant bridge.
    # Default TRUE (round 6): a manually-constructed TVal is assumed
    # tainted unless the site explicitly marks it pristine — the safe
    # direction, since a wrong True only costs a variant fallback
    # while a wrong False silently drops per-row errors (three r5 fuzz
    # bugs + the r6 _seq static-missing probe were all of that class).
    errs: bool = True
    # True when the value is a double whose INTEGRAL rows are serde
    # INTEGER kind per v1 json_number_from_f64 re-emission (round: the
    # per-row kind cannot live in one static dtype) — kind-OBSERVING
    # consumers (v2 serde rendering, v2 strict eq) must defer to the
    # variant engine; kind-blind consumers stay typed (round 8)
    reemit_kind: bool = False
    # True when the value is ROW-INDEPENDENT (literals, and ops whose
    # operands are all const — tracked best-effort, default False).
    # Needed because Catalyst may constant-fold two branches of a CASE
    # into identical constants and then discard the CONDITION, raises
    # included (SimplifyConditionals) — sites that rely on a condition
    # raising must fall back when both branches may fold (r6 fuzz: an
    # all-constant pipe ending in an if over a missing-compare).
    const: bool = False
    # True ONLY for values that are PROVABLY never SQL NULL at runtime
    # (currently: non-null scalar literals from _py_literal).  The
    # t_coalesce presence-skip relies on this — an implicit
    # const∧¬errs proxy would silently turn a missing result into
    # JSON null the day an op returns errs=False for a const value
    # that can still be NULL (ADVICE r6).
    nonnull: bool = False


def _mw(v: "TVal") -> Column:
    """``missing_when`` as a null-safe boolean (False when unset)."""
    if v.missing_when is None:
        return F.lit(False)
    return F.coalesce(v.missing_when, F.lit(False))


def _unresolved(v: "TVal") -> bool:
    """NULL-ambiguous with no runtime resolution → must fall back."""
    return v.maybe_missing and v.missing_when is None


def _missing() -> TVal:
    return TVal(F.lit(None), T.NullType(), missing=True, errs=False,
                const=True)


def _tnull() -> TVal:
    return TVal(F.lit(None), T.NullType(), errs=False, const=True)


_INT_T = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_NUM_T = _INT_T + (T.FloatType, T.DoubleType, T.DecimalType)


def _is_int(dt) -> bool:
    return isinstance(dt, _INT_T)


def _is_dec0(dt) -> bool:
    return isinstance(dt, T.DecimalType) and dt.scale == 0


def _int_kind_col(tv) -> Column:
    """Per-row serde number-kind gate for eq (v2_eval.rs:1140 via
    serde Number PartialEq): integral dtypes are always integer kind;
    a scale-0 decimal is integer kind only in PosInt territory
    (i64::MAX, u64::MAX] — below, the value can only have been a
    float-written literal; above, serde overflows to Float."""
    if _is_int(tv.dtype):
        return F.lit(True)
    if _is_dec0(tv.dtype):
        d = tv.col.cast("decimal(38,0)")
        return ((d > F.lit("9223372036854775807")
                 .cast("decimal(38,0)"))
                & (d <= F.lit("18446744073709551615")
                   .cast("decimal(38,0)")))
    return F.lit(False)


def _is_num(dt) -> bool:
    return isinstance(dt, _NUM_T)


def _is_str(dt) -> bool:
    return isinstance(dt, T.StringType)


def _is_bool(dt) -> bool:
    return isinstance(dt, T.BooleanType)


def _is_null(dt) -> bool:
    return isinstance(dt, T.NullType)


def _terr(dtype, kind: str, message: str, path: str,
          code: str | None = None) -> Column:
    """Typed error column: raise in strict mode, NULL in lenient.

    The raise is anchored (non-foldable) when a fold anchor is
    installed — see :class:`fold_anchor`."""
    if lenient_on():
        return F.lit(None).cast(dtype)
    anchor = _fold_anchor()
    if anchor is None:
        return V.raise_err(kind, message, path, code).cast(dtype)
    from ..errors import encode_engine_error
    encoded = encode_engine_error(kind, message, path, code)
    parts = V.splice_markers(encoded)
    if parts is not None:
        # map-step item-index path (see V.dyn_path_marker)
        return F.raise_error(F.concat(*parts, anchor)).cast(dtype)
    raise_col = V.cached_col(
        "terr", (encoded, id(anchor)),
        lambda: F.raise_error(F.concat(F.lit(encoded), anchor)))
    return raise_col.cast(dtype)


class _TypedB(InlineColB):
    """The backend the kernels (``ops_bodies``) render through:
    lambda-free lets keep typed projections inside whole-stage codegen,
    and error sites are :func:`_terr`."""

    def err(self, kind, msg, path, t):
        return _terr(t, kind, msg, path)


_TB = _TypedB()


def _probe0(o: "TVal") -> Column:
    """Always-zero, never-NULL NUMERIC probe that FORCES evaluation of
    ``o.col`` (fires its embedded per-row errors).  Numeric on purpose
    (r7 perf): the r7 positional forcing evaluates one probe per
    errs-carrying operand per row, and a string-cast probe cost the
    rule_engine_typed anchor ~0.3 s at sf0.1; ``x * 0`` is never
    simplified by Catalyst (wrong under null/NaN) so the reference
    stays non-foldable.  Consumers: ``_force`` tests ``probe > 0``
    (never true); ``_terr_forced`` renders it zero-length into the
    raise message."""
    dt = o.dtype
    # nullable wrapper: a NON-nullable col (coalesce with a literal)
    # would let SimplifyArithmetic fold the probe away entirely
    # (see V.as_nullable; r7 fuzz fold-residual)
    c = V.as_nullable(o.col)
    if isinstance(dt, (T.ArrayType, T.MapType)):
        p = F.size(c) * 0
    elif isinstance(dt, T.StructType):
        p = F.length(F.to_json(c)) * 0
    elif _is_num(dt):
        p = c * 0
    elif _is_bool(dt):
        p = c.cast("int") * 0
    else:
        p = F.length(c.cast("string")) * 0
    return F.coalesce(p.cast("double"), F.lit(0.0))


def _terr_forced(operands: list["TVal"], dtype, kind: str, message: str,
                 path: str) -> Column:
    """``_terr`` that evaluates errs-carrying operands FIRST.

    A static error guard can constant-fold into an unconditional raise
    (``divide: [0]`` → ``when(lit(0)==0.0, raise)``), dropping every
    reference to the operand columns — so an upstream per-row error
    that the reference would surface first (operands evaluate before
    the op's own checks) silently vanishes.  Embedding a zero-length
    probe of each tainted operand into the raise MESSAGE makes Spark
    evaluate them before raising, restoring the reference order (r6
    fuzz: add(null,1) → coalesce → divide-by-literal-0 must raise the
    null error, not division by zero)."""
    if lenient_on():
        return F.lit(None).cast(dtype)
    probes = [F.substring(_probe0(o).cast("string"), 1, 0)
              for o in operands
              if o.errs and not o.missing and not _is_null(o.dtype)]
    anchor = _fold_anchor()
    if anchor is not None:
        probes.append(anchor)
    if not probes:
        return _terr(dtype, kind, message, path)
    from ..errors import encode_engine_error
    encoded = encode_engine_error(kind, message, path, None)
    return F.raise_error(F.concat(F.lit(encoded), *probes)).cast(dtype)


def _isnull(v: TVal) -> Column:
    """Runtime JSON-null test (missing handled statically by callers)."""
    if _is_null(v.dtype):
        return F.lit(not v.missing)
    return v.col.isNull()


def _force(probe: Column, col: Column) -> Column:
    """Evaluate a zero-length STRING probe (``_chk``) before ``col``,
    collapse-proof: a plain always-true guard is discarded by
    SimplifyConditionals whenever ``col`` is NULL (both branches fold
    identical) — so the then-branch is an unreachable raise (the probe
    is '' whenever it did not itself raise), keeping the branches
    distinct while the condition still evaluates the probe per row."""
    return F.when(F.length(probe) >= 1,
                  V.cached_col("raise", "__unreachable__",
                               lambda: F.raise_error(
                                   F.lit("unreachable probe")))
                  ).otherwise(col)


def _force_n(probe: Column, col: Column) -> Column:
    """``_force`` for the NUMERIC always-zero ``_probe0`` probes."""
    return F.when(probe > 0,
                  V.cached_col("raise", "__unreachable__",
                               lambda: F.raise_error(
                                   F.lit("unreachable probe")))
                  ).otherwise(col)


def _seq(operands: list[TVal], path: str, col: Column, dtype,
         *, allow_null: bool = False,
         null_msg: str = "expr arg must not be null",
         checks: "list[Column | None] | None" = None) -> TVal:
    """Missing-propagates / null-errors operand protocol, typed.

    The reference protocol is POSITIONAL (e.g. ``op_concat``,
    ``transform.rs:1403-1432``): each operand in order is evaluated
    (its errors fire), then *missing* short-circuits the whole op to
    missing WITHOUT touching later operands, then *null* errors.  So
    ``concat(null, missing)`` is a null error while
    ``concat(missing, ÷0-chain)`` is missing with the later chain
    never evaluated (r6 fuzz divergence: the old "any static missing →
    missing" shortcut got both wrong whenever an earlier operand could
    be null or carry per-row errors).  Rebuilt here as one ordered
    CASE whose lazy branch evaluation reproduces the reference's
    short-circuit exactly — embedded operand errors fire when their
    operand is reached and are suppressed when an earlier operand went
    missing, with no variant fallback needed.

    ``checks[i]``: optional per-operand OP-SPECIFIC check, a
    zero-length string column that raises when operand i fails it.
    The reference interleaves these with the missing/null protocol
    (v2 arith converts each arg to a number — and checks each divisor
    for zero — INSIDE the per-arg loop, v2_eval.rs:1848-1928; v1
    concat value_to_strings per arg, transform.rs:1403-1432), so
    ``divide(x, 0, missing)`` is a division-by-zero error while
    ``divide(x, missing, 0)`` is missing."""
    if operands and operands[0].missing:
        # first operand statically missing: nothing after it ever
        # evaluates in the reference — the whole op is missing
        return _missing()
    if any(_unresolved(o) for o in operands):
        raise TypedFallback("strict op over maybe-missing operand")
    # Force tainted operands to EVALUATE (in order) before the op's
    # value computes: an op whose result is a constant raise (static
    # type error, literal ÷0) otherwise drops every operand reference
    # once Catalyst folds the isNull probes of non-nullable operands
    # (IsNull(coalesce(x, lit)) → false), silently discarding upstream
    # per-row errors the reference raises first (r6 fuzz: add(null,2)
    # → coalesce(…, 1) → trim must raise the null error, not trim's
    # type error).  The probe condition references the operand cols,
    # so it can't constant-fold; it is always true at runtime.
    # Positional forcing (round 7, generalizing the r6 narrow probe):
    # an operand whose col embeds per-row errors must EVALUATE at its
    # position even when a LATER operand terminates the value path
    # early — a later operand's missing short-circuit (value → NULL),
    # null-protocol raise, or op-check raise all leave the earlier
    # operand's subtree dead, and Catalyst folds the earlier operand's
    # own isNull guard away whenever its CASE is statically
    # non-nullable (IsNull(coalesce(x, lit)) → false; r7 fuzz:
    # ``2.5 → ÷2 → int → concat(null)`` raised concat's null error
    # instead of the int-cast error).  Each errs-carrying operand gets
    # one _force probe wrapped OUTSIDE everything later, evaluated
    # right after its own missing handling — exactly the reference's
    # per-operand order.  This replaces the r6 "missing short-circuit
    # after errorable operand" TypedFallback.
    def _later_forces_probe(i: int) -> bool:
        """A HOT per-row probe of operand i is needed only when a
        LATER operand can kill the value path WITHOUT raising a
        column we control: a missing short-circuit (value → NULL) or
        an op-check raise (the converter's raise cannot embed earlier
        probes).  Null-protocol preemption needs NO hot probe — the
        null raise itself carries the earlier tainted probes in its
        message (error rows only; r7 perf: the unconditional probe
        cost rule_engine_typed ~2x at sf0.1)."""
        for j in range(i + 1, len(operands)):
            p = operands[j]
            if p.missing or p.missing_when is not None:
                return True
            if checks is not None and checks[j] is not None:
                return True
        return False

    def _null_err(i: int) -> Column:
        # the null raise at operand i evaluates every EARLIER tainted
        # operand through its message probes — reference order, zero
        # cost on non-error rows.  Attributes to the operand's path
        # (r7 path-parity).
        return _terr_forced(operands[:i], dtype, "expr_error",
                            null_msg, arg_path(path, i))

    # build backward so operand 0's checks end up outermost
    any_missing = False
    for i in reversed(range(len(operands))):
        o = operands[i]
        if o.missing:
            # everything after this operand is dead (reference
            # returns missing here) — including later error cells
            col = F.lit(None).cast(dtype)
            any_missing = True
            continue
        mp = _mw(o) if o.missing_when is not None else None
        if checks is not None and checks[i] is not None:
            # op-specific check for THIS operand runs after its
            # missing/null handling and before later operands
            col = _force(checks[i], col)
        if not allow_null and not o.nonnull:
            isn = _isnull(o)
            if mp is not None:
                isn = isn & ~mp          # missing is not a null error
            col = F.when(isn, _null_err(i)).otherwise(col)
        if o.errs and not _is_null(o.dtype) and _later_forces_probe(i):
            col = _force_n(_probe0(o), col)
        if mp is not None:
            col = F.when(mp, F.lit(None).cast(dtype)).otherwise(col)
            any_missing = True

    errs = (not allow_null and bool(operands)) \
        or any(o.errs for o in operands)
    const = all(o.const for o in operands)
    if not any_missing:
        return TVal(col, dtype, errs=errs, const=const)
    # downstream-visible missing predicate, built with the SAME ordered
    # backward structure as the value column: a row is missing only if
    # it REACHES a missing operand — null-error rows yield False (the
    # value path raises there), and op-check failures RAISE out of the
    # predicate itself via the same forced probes (r6 fuzz: marking a
    # concat-stringify-error row as missing let a downstream
    # when(mw, NULL) skip the raise entirely).
    mw = F.lit(False)
    for i in reversed(range(len(operands))):
        o = operands[i]
        if o.missing:
            mw = F.lit(True)
            continue
        mp = _mw(o) if o.missing_when is not None else None
        if checks is not None and checks[i] is not None:
            mw = _force(checks[i], mw)
        if not allow_null and not o.nonnull:
            isn = _isnull(o)
            if mp is not None:
                isn = isn & ~mp
            mw = F.when(isn, F.lit(False)).otherwise(mw)
        if o.errs and not _is_null(o.dtype) and _later_forces_probe(i):
            mw = _force_n(_probe0(o), mw)
        if mp is not None:
            mw = F.when(mp, F.lit(True)).otherwise(mw)
    return TVal(col, dtype, maybe_missing=True, missing_when=mw,
                errs=errs, const=const)


# --- static coercions ---------------------------------------------------

def t_str(v: TVal, path: str,
          msg: str = "value must be string/number/bool") -> Column:
    """``value_to_string`` with compile-time dispatch
    (``transform.rs:5774-5800``; floats via the Rust ``{}`` Display —
    positional, integral trim, ``-0`` — ``number_to_string``
    ``:5903-5923``)."""
    dt = v.dtype
    if _is_str(dt):
        return v.col
    if _is_bool(dt) or _is_int(dt):
        return v.col.cast("string")
    if _is_dec0(dt):
        # scale-0 decimals are serde ints (u64 zone): plain digits
        return v.col.cast("decimal(38,0)").cast("string")
    if _is_num(dt):
        return V.rust_f64_display(v.col.cast("double"))
    if _is_null(dt):
        return F.lit(None).cast("string")
    # static type error: upstream per-row errors still fire first
    # (reference evaluates the operand value before the check)
    return _terr_forced([v], "string", "expr_error", msg, path)


def t_num(v: TVal, path: str,
          msg: str = "value must be a number") -> Column:
    """``value_to_number``: number or FINITE Rust-grammar numeric
    string → double (transform.rs:5804-5817)."""
    dt = v.dtype
    if _is_num(dt):
        return v.col.cast("double")
    if _is_str(dt):
        parsed = V.rust_f64_parse(v.col)
        finite = parsed.isNotNull() & ~F.isnan(parsed) & \
            (F.abs(parsed) != F.lit(float("inf")))
        return (F.when(v.col.isNull(), F.lit(None).cast("double"))
                .when(finite, parsed)
                .otherwise(_terr("double", "expr_error", msg, path)))
    if _is_null(dt):
        return F.lit(None).cast("double")
    return _terr_forced([v], "double", "expr_error", msg, path)


def t_bool(v: TVal, path: str,
           msg: str = "value must be a boolean") -> Column:
    if _is_bool(v.dtype):
        return v.col
    if _is_null(v.dtype):
        return F.lit(None).cast("boolean")
    return _terr_forced([v], "boolean", "expr_error", msg, path)


# --- v2-native converters (typed mirrors of variant.as_string_v2 /
# as_number_v2; ``v2_eval.rs:1257-1304``) ----------------------------------

def t_json_text(v: TVal) -> Column:
    """Canonical JSON text of a typed value — the ``%%DBG%%`` payload
    rendered to the serde Debug form at the error boundary."""
    dt = v.dtype
    if _is_null(dt):
        return F.lit("null")
    if _is_bool(dt) or _is_int(dt):
        s = v.col.cast("string")
    elif _is_num(dt):
        s = v.col.cast("double").cast("string")  # 1.0E20 is valid JSON
    elif _is_str(dt):
        j = F.to_json(F.array(v.col))            # JSON-escape via array
        s = j.substr(F.lit(2), F.length(j) - F.lit(2))
    else:
        canon, _cdt = _json_canon(v.col, dt)
        s = F.to_json(canon, {"ignoreNullFields": "false"})
    return F.coalesce(s, F.lit("null"))


def _terr_got(dtype, kind: str, message_prefix: str, v: TVal,
              path: str) -> Column:
    """``_terr`` whose message embeds ``v``'s Debug rendering
    (reference ``format!("…, got {:?}", value)``)."""
    if lenient_on():
        return F.lit(None).cast(dtype)
    from ..errors import encode_engine_error_msg_parts
    prefix, suffix = encode_engine_error_msg_parts(kind, message_prefix,
                                                   path)
    head = V.splice_markers(prefix + "%%DBG:") or [F.lit(prefix + "%%DBG:")]
    parts = [*head,
             F.hex(F.encode(t_json_text(v), "UTF-8")),
             F.lit("%%" + suffix)]
    anchor = _fold_anchor()
    if anchor is not None:
        parts.append(anchor)
    return F.raise_error(F.concat(*parts)).cast(dtype)


def t_str_v2(v: TVal, path: str,
             prefix: str = "expected string, got ", *,
             protocol_null: bool = True) -> Column:
    """``eval_value_as_string`` (``v2_eval.rs:1257-1276``), typed:
    string as-is, number via serde Display (``2.0`` → ``"2.0"``), bool
    text; null / containers → ``expected string, got {:?}``.  Missing
    rows never evaluate this (the _seq protocol short-circuits first).

    ``protocol_null=True`` (callers running the _seq/null_msg protocol
    with the rendered-Null wording): skip the redundant in-place
    runtime-null wrap — the protocol's cheap isNull guard already
    raises the same error first."""
    if v.reemit_kind:
        raise TypedFallback("per-row int re-emission kind reaches v2 "
                            "serde rendering")
    dt = v.dtype
    null_err = _terr("string", "expr_error", prefix + "Null", path)
    if _is_null(dt):
        return null_err
    if _is_str(dt):
        base = v.col
    elif _is_bool(dt) or _is_int(dt):
        base = v.col.cast("string")
    elif _is_num(dt):
        d = v.col.cast("double")
        base = V.serde_float_text(d.cast("string"), d)
    else:
        return _terr_got("string", "expr_error", prefix, v, path)
    if protocol_null:
        return base
    return F.when(v.col.isNull(), null_err).otherwise(base)


def t_num_v2(v: TVal, path: str,
             prefix: str = "expected number, got ", *,
             protocol_null: bool = True) -> Column:
    """``eval_value_as_number`` (``v2_eval.rs:1278-1304``), typed:
    numbers → f64; strings parse (else ``failed to parse string as
    number``); null / bool / containers → ``expected number, got
    {:?}``.  ``protocol_null`` as in :func:`t_str_v2`."""
    dt = v.dtype
    null_err = _terr("double", "expr_error", prefix + "Null", path)
    if _is_null(dt):
        return null_err
    if _is_num(dt):
        base = v.col.cast("double")
    elif _is_str(dt):
        # Rust parse::<f64> grammar — no whitespace, inf/nan accepted
        # (V.rust_f64_parse; r7 fuzz edge row " 1 ")
        parsed = V.rust_f64_parse(v.col)
        base = F.when(parsed.isNotNull(), parsed).otherwise(
            _terr("double", "expr_error",
                  "failed to parse string as number", path))
    elif _is_bool(dt):
        base = _terr_got("double", "expr_error", prefix, v, path)
    else:
        return _terr_got("double", "expr_error", prefix, v, path)
    if protocol_null:
        return base
    return F.when(v.col.isNull(), null_err).otherwise(base)


def _json_num_repr(v: TVal) -> Column:
    """The number's canonical JSON text, for v2 strict equality: matches
    how the variant bridge renders each static type (BIGINT → ``1``,
    DOUBLE → ``1.0``, DECIMAL → normalized shortest)."""
    dt = v.dtype
    if _is_int(dt):
        return v.col.cast("string")
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return v.col.cast("double").cast("string")
    # decimal: to_variant_object normalizes (1.00 → "1", 1.50 → "1.5")
    d = v.col.cast("double")
    return F.when(
        (d == F.floor(d)) & (F.abs(d) <= F.lit(float(_LONG_MAX) / 2)),
        d.cast("long").cast("string")).otherwise(d.cast("string"))


def _unify(dts: list[T.DataType]) -> T.DataType | None:
    """Result type for branch/coalesce merges; None = not representable."""
    non_null = [dt for dt in dts if not _is_null(dt)]
    if not non_null:
        return T.NullType()
    if all(_is_str(dt) for dt in non_null):
        return T.StringType()
    if all(_is_bool(dt) for dt in non_null):
        return T.BooleanType()
    if all(_is_num(dt) for dt in non_null):
        if all(_is_int(dt) for dt in non_null):
            return T.LongType()
        if all(not _is_int(dt) for dt in non_null):
            return T.DoubleType()
        # mixed int/float branches: widening to double would ERASE the
        # serde number KIND the reference keeps per row — to_string
        # renders Int(1) as "1" but Float(1.0) as "1.0", strict v2 eq
        # is kind-aware, and the output JSON differs (r7 const-fuzz:
        # if [1] else [0,{add:[1]}] → to_string must be "1" on the
        # then-branch).  The variant engine carries kinds per row.
        return None
    if all(dt == non_null[0] for dt in non_null):
        return non_null[0]
    return None


def _cast_to(v: TVal, dt: T.DataType) -> Column:
    if _is_null(v.dtype):
        return F.lit(None).cast(dt)
    if v.dtype == dt:
        return v.col
    return v.col.cast(dt)


# --- scope & refs -------------------------------------------------------

@dataclass
class TScope:
    """Compile-time environment for the typed path."""
    schema: T.StructType
    context_value: object = None
    has_context: bool = False
    out: "dict[str, object] | None" = None  # name → TVal | subtree dict
    pipe: TVal | None = None
    locals: dict[str, TVal] = field(default_factory=dict)
    item: TVal | None = None       # lambda variable inside array HOFs
    item_index: Column | None = None
    # branch-referenced rules run with @input = the caller's @out
    # (transform.rs:509): when set, @input navigates this TVal tree
    # instead of the DataFrame schema
    input_tree: "dict[str, object] | None" = None

    def child(self, **kw) -> "TScope":
        if "locals" not in kw:
            kw["locals"] = dict(self.locals)
        return replace(self, **kw)


def _py_literal(value, path: str) -> TVal:
    if value is None:
        return _tnull()
    if isinstance(value, bool):
        return TVal(F.lit(value), T.BooleanType(), errs=False,
                    const=True, nonnull=True)
    if isinstance(value, int):
        if -(2 ** 63) <= value < 2 ** 63:
            return TVal(F.lit(value).cast("long"), T.LongType(),
                        errs=False, const=True, nonnull=True)
        # beyond int64: serde PosInt (u64) stays integer kind, which
        # maps onto a scale-0 decimal here (mirrors the variant
        # engine's DECIMAL(p,0) classification in V._serde_int_kind);
        # magnitudes beyond decimal(38) have no exact carrier
        if abs(value) < 10 ** 38:
            import decimal as _decimal
            return TVal(F.lit(_decimal.Decimal(value))
                        .cast(T.DecimalType(38, 0)),
                        T.DecimalType(38, 0), errs=False, const=True,
                        nonnull=True)
        raise TypedFallback("integer literal beyond decimal(38,0)")
    if isinstance(value, float):
        return TVal(F.lit(value), T.DoubleType(), errs=False,
                    const=True, nonnull=True)
    if isinstance(value, str):
        return TVal(F.lit(value), T.StringType(), errs=False,
                    const=True, nonnull=True)
    if isinstance(value, dict):
        # static-key object literal → native struct (key order kept)
        if not value:
            raise TypedFallback("empty object literal")
        fields = [(k, _py_literal(v, path)) for k, v in value.items()]
        return TVal(
            F.struct(*[tv.col.alias(k) for k, tv in fields]),
            T.StructType([T.StructField(k, tv.dtype, True)
                          for k, tv in fields]), errs=False, const=True)
    if isinstance(value, list):
        if not value:
            raise TypedFallback("empty array literal")
        tvs = [_py_literal(v, path) for v in value]
        dt = _unify([t.dtype for t in tvs])
        if dt is None or _is_null(dt):
            raise TypedFallback("mixed-type array literal")
        return TVal(F.array(*[_cast_to(t, dt) for t in tvs]),
                    T.ArrayType(dt), errs=False, const=True)
    raise TypedFallback(f"container literal at {path}")


_TEMPORAL = (T.DateType, T.TimestampType, T.TimestampNTZType)


def _has_temporal(dt: T.DataType) -> bool:
    if isinstance(dt, _TEMPORAL):
        return True
    if isinstance(dt, T.ArrayType):
        return _has_temporal(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_has_temporal(f.dataType) for f in dt.fields)
    if isinstance(dt, T.MapType):
        return _has_temporal(dt.valueType)
    return False


def _strfy_temporal_type(dt: T.DataType) -> T.DataType:
    if isinstance(dt, _TEMPORAL):
        return T.StringType()
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_strfy_temporal_type(dt.elementType),
                           dt.containsNull)
    if isinstance(dt, T.StructType):
        return T.StructType([
            T.StructField(f.name, _strfy_temporal_type(f.dataType),
                          f.nullable) for f in dt.fields])
    if isinstance(dt, T.MapType):
        return T.MapType(dt.keyType,
                         _strfy_temporal_type(dt.valueType),
                         dt.valueContainsNull)
    return dt


def _strfy_temporal_col(col: Column, dt: T.DataType) -> Column:
    """date/timestamp values enter the rules domain as their Spark
    string rendering (ISO-like; covered by the reference's default
    parse chain, ``transform.rs:5601-5633``) — the reference's data
    model is JSON, where dates ARE strings (SURVEY §1.2).  NULL
    containers pass through untouched."""
    if not _has_temporal(dt):
        return col
    if isinstance(dt, _TEMPORAL):
        return col.cast("string")
    if isinstance(dt, T.ArrayType):
        return F.transform(
            col, lambda x: _strfy_temporal_col(x, dt.elementType))
    if isinstance(dt, T.MapType):
        return F.transform_values(
            col, lambda k, v: _strfy_temporal_col(v, dt.valueType))
    rebuilt = F.struct(*[
        _strfy_temporal_col(col.getField(f.name), f.dataType).alias(f.name)
        for f in dt.fields])
    return F.when(col.isNull(), F.lit(None)).otherwise(rebuilt)


def _strfy_temporal(col: Column, dt: T.DataType
                    ) -> tuple[Column, T.DataType]:
    if not _has_temporal(dt):
        return col, dt
    return _strfy_temporal_col(col, dt), _strfy_temporal_type(dt)


def _walk_tokens(col: Column | None, dt: T.DataType, tokens,
                 mw: Column | None
                 ) -> tuple[Column, T.DataType, Column | None] | None:
    """Shared static token walk for @input / @item; None = statically
    missing.  Mirrors the variant engine's ``navigate``
    (``variant.py:202-213``, reference path semantics
    ``transform.rs:1006-1080``):

    - ``Key`` on a struct: field access; a NULL struct PREFIX makes the
      leaf runtime-missing (tracked in ``mw``), a NULL leaf is JSON
      null;
    - ``Key`` on a map (round 4): ``try_element_at`` probe; an absent
      key — or a NULL map, or a key not castable to the map's key type
      — is runtime-missing, a stored NULL value is JSON null;
    - ``Index`` on an array (round 4): 0-based ``try_element_at``;
      negative / out-of-bounds / non-array — statically or at runtime —
      is missing, a stored NULL element is JSON null;
    - ``Key`` on an array / ``Index`` on a struct or map: statically
      missing, like the variant engine's failed container cast;
    - variants stay a ``TypedFallback`` — genuinely dynamic.
    """
    for tok in tokens:
        if isinstance(dt, T.VariantType):
            # the variant engine navigates INTO dynamic containers;
            # statically we cannot, and returning "missing" here would
            # silently diverge — defer
            raise TypedFallback("navigation into dynamic container")
        if isinstance(tok, Index):
            if (col is None or not isinstance(dt, T.ArrayType)
                    or tok.index < 0):
                return None
            oob = F.coalesce(F.size(col) <= tok.index, F.lit(True))
            mw = oob if mw is None else mw | oob
            col = F.try_element_at(col, F.lit(tok.index + 1))
            dt = dt.elementType
            continue
        if isinstance(dt, T.MapType):
            if col is None:
                return None
            key = F.lit(tok.name).try_cast(dt.keyType)
            absent = F.coalesce(~F.map_contains_key(col, key),
                                F.lit(True))
            mw = absent if mw is None else mw | absent
            col = F.try_element_at(col, key)
            dt = dt.valueType
            continue
        if not isinstance(dt, T.StructType):
            return None
        sub = next((f for f in dt.fields if f.name == tok.name), None)
        if sub is None:
            return None
        if col is not None:          # col is a struct prefix
            mw = col.isNull() if mw is None else mw | col.isNull()
        col = F.col(tok.name) if col is None else col.getField(tok.name)
        dt = sub.dataType
    if col is None:  # empty path: whole record
        raise TypedFallback("whole-record reference")
    col, dt = _strfy_temporal(col, dt)
    return col, dt, mw


def _navigate_schema(schema: T.StructType, tokens, *,
                     allow_map: bool = False
                     ) -> tuple[Column, T.DataType, Column | None] | None:
    """Walk path tokens over the input schema; None = statically
    missing.

    Returns ``(col, dtype, missing_when)``: a path traversing an
    intermediate struct is runtime-missing exactly when some PREFIX is
    NULL (the leaf NULL then means *missing*, not JSON null) — that
    predicate is returned so downstream ops apply the reference's
    missing semantics in-plan (``missing_when`` tri-state).

    ``allow_map`` admits a string-keyed scalar-valued MapType leaf —
    only set when the consuming pipe's first step is a ``get``, which
    navigates maps natively (round 5); every other op keeps the
    fallback so map equality/merge/etc. stay on the variant engine.
    """
    nav = _walk_tokens(None, schema, tokens, None)
    if nav is None:
        return None
    col, dt, mw = nav
    if isinstance(dt, T.ArrayType):
        if not _scalar_element_array(dt):
            raise TypedFallback("array of non-scalar input field")
    elif allow_map and isinstance(dt, T.MapType) \
            and _is_str(dt.keyType) \
            and (_is_str(dt.valueType) or _is_num(dt.valueType)
                 or _is_bool(dt.valueType)):
        pass
    elif isinstance(dt, (T.MapType, T.VariantType, T.BinaryType)):
        raise TypedFallback("non-scalar input field")
    # StructType leaves are allowed: the typed object ops (get/merge/
    # pick/omit/keys/values/entries/len) and struct-valued outputs
    # consume them natively
    return col, dt, mw


def _scalar_element_array(dt: T.ArrayType) -> bool:
    """array<scalar|struct> or nested arrays thereof — referencable on
    the typed path (the array op set validates per-op dtypes itself;
    struct elements navigate via ``@item.field``, round 3)."""
    et = dt.elementType
    if isinstance(et, T.ArrayType):
        return _scalar_element_array(et)
    if isinstance(et, T.StructType):
        return True
    return not isinstance(et, (T.MapType, T.VariantType, T.BinaryType))


def _navigate_py(value, tokens):
    """Walk a compile-time Python document; _MISS = absent."""
    cur = value
    for tok in tokens:
        if isinstance(tok, Key):
            if not isinstance(cur, dict) or tok.name not in cur:
                return _MISS
            cur = cur[tok.name]
        elif isinstance(tok, Index):
            if not isinstance(cur, list) or not (
                    -len(cur) <= tok.value < len(cur)):
                return _MISS
            cur = cur[tok.value]
    return cur


_MISS = object()


def _navigate_tree(tree: dict, tokens) -> TVal:
    """Walk key tokens over a TVal tree (branch @input / @out)."""
    node: object = tree
    for tok in tokens:
        if not isinstance(tok, Key) or not isinstance(node, dict) \
                or tok.name not in node:
            return _missing()
        node = node[tok.name]
    if isinstance(node, dict):
        raise TypedFallback("object-valued tree reference")
    return node


def compile_tref(ref: Ref, scope: TScope, path: str, *,
                 allow_map: bool = False) -> TVal:
    if ref.namespace == "input":
        if ref.path == "":
            raise TypedFallback("whole-record reference")
        if scope.input_tree is not None:
            return _navigate_tree(scope.input_tree, parse_path(ref.path))
        nav = _navigate_schema(scope.schema, parse_path(ref.path),
                               allow_map=allow_map)
        if nav is None:
            return _missing()
        col, dt, mw = nav
        return TVal(col, dt, maybe_missing=mw is not None,
                    missing_when=mw, errs=False)
    if ref.namespace == "context":
        if not scope.has_context:
            return _missing()
        value = _navigate_py(scope.context_value,
                             parse_path(ref.path) if ref.path else [])
        if value is _MISS:
            return _missing()
        return _py_literal(value, path)
    if ref.namespace == "out":
        if scope.out is None:
            return _missing()
        node: object = scope.out
        for tok in (parse_path(ref.path) if ref.path else []):
            if not isinstance(tok, Key) or not isinstance(node, dict) \
                    or tok.name not in node:
                return _missing()
            node = node[tok.name]
        if isinstance(node, dict):
            raise TypedFallback("object-valued @out reference")
        return node
    if ref.namespace == "local":
        name = ref.local_name
        if name not in scope.locals:
            raise RuleError("expr_error",
                            f"undefined variable: @{name}", path)
        return scope.locals[name]
    if ref.namespace == "item":
        # mirror core.py compile_ref (eval_v2_ref, v2_eval.rs:335-354);
        # struct items navigate statically (round 3) — a null item or
        # null intermediate makes the leaf runtime-MISSING, tracked as
        # the missing_when predicate
        if scope.item is None:
            raise RuleError("expr_error",
                            "@item is only available in map/filter "
                            "operations", path)
        if ref.path == "":
            return scope.item
        if ref.path == "index":
            return TVal(scope.item_index.cast("long"), T.LongType(),
                        errs=False)
        tokens = parse_path(ref.path)
        if tokens and tokens[0] == Key("value"):
            tokens = tokens[1:]
        if not tokens:
            return scope.item
        nav = _walk_tokens(scope.item.col, scope.item.dtype, tokens,
                           _mw(scope.item)
                           if scope.item.missing_when is not None
                           else None)
        if nav is None:
            if scope.item.errs:
                # same guard as t_get: a static missing must not drop
                # an errorable item column (dead today — items are
                # pristine lambda vars — but cheap insurance)
                raise TypedFallback("@item nav of absent field over "
                                    "errorable item")
            return _missing()
        col, dt, mw = nav
        if isinstance(dt, T.ArrayType) and not _scalar_element_array(dt):
            raise TypedFallback("@item yields array of non-scalar")
        if isinstance(dt, (T.MapType, T.VariantType, T.BinaryType)):
            raise TypedFallback("@item yields dynamic container")
        return TVal(col, dt, maybe_missing=mw is not None,
                    missing_when=mw, errs=scope.item.errs)
    raise TypedFallback(f"@{ref.namespace} in typed mode")


# --- pipe compilation ---------------------------------------------------

def _leads_with_get(pipe: Pipe) -> bool:
    """True when the pipe's first step is a ``get`` — the one op that
    consumes a map-typed seed natively (static keys via _walk_tokens,
    dynamic keys via _t_get_dynamic)."""
    if not pipe.steps:
        return False
    s = pipe.steps[0]
    return (isinstance(s, OpStep)
            and OP_ALIASES.get(s.op, s.op) == "get")


# typed pipes compose raw Column expressions — every step references
# the previous value several times (value path, null probes, missing
# predicates, evaluation-order probes), so pathological chains grow
# the expression tree MULTIPLICATIVELY per step (a divide+concat chain
# OOMed Spark analysis at depth 3-4 — latent pre-round-6, surfaced by
# the r6 fuzzer).  The variant engine is immune (V.let binds each
# step's value once), so past this size the typed path defers to it.
_T_PIPE_SIZE_CAP = 200_000


def compile_tpipe(pipe: Pipe, scope: TScope, path: str = "expr") -> TVal:
    start = pipe.start
    if isinstance(start, StartLiteral):
        cur = _py_literal(start.value, path)
    elif isinstance(start, StartRef):
        cur = compile_tref(start.ref, scope, path,
                           allow_map=_leads_with_get(pipe))
    elif isinstance(start, StartPipeValue):
        cur = scope.pipe if scope.pipe is not None else _missing()
    else:  # pragma: no cover
        raise RuleError("expr_error", "invalid pipe start", path)
    scope = scope.child()
    for i, step in enumerate(pipe.steps):
        # steps index from 1 — the start value is [0]
        # (``eval_v2_pipe``, ``v2_eval.rs:834``; r7 path-parity fix).
        # Op steps carry the reference's per-operand attribution
        # (core.step_op_path)
        step_path = step_op_path(step, f"{path}[{i + 1}]", path)
        cur, scope = compile_tstep(step, cur, scope, step_path)
        if i >= 1 and len(pipe.steps) > 2 \
                and len(str(cur.col._jc)) > _T_PIPE_SIZE_CAP:
            raise TypedFallback("typed pipe expression growth")
    return cur


def compile_tstep(step, cur: TVal, scope: TScope, path: str):
    if isinstance(step, OpStep):
        op = OP_ALIASES.get(step.op, step.op)
        # eval-surface arity/op-existence anomalies (unknown ops, counts
        # outside the per-version windows, ignored-extra-args natives)
        # need the reference's per-op wordings and conditional-eval
        # semantics — core.compile_step implements those as raising
        # columns (round 9); defer such shapes to the variant engine
        # rather than duplicating that machinery here
        if eval_arity_anomaly(step, op, V2_NATIVE_STEP_OPS):
            raise TypedFallback(f"eval arity anomaly: {step.op}")
        fn = T_OPS.get(op)
        if fn is None:
            raise TypedFallback(f"op {step.op} not in typed subset")
        return fn(scope, cur, list(step.args), path), scope
    if isinstance(step, LetStep):
        new_locals = dict(scope.locals)
        pipe_scope = scope.child(pipe=cur)
        for name, expr in step.bindings:
            # binding path ``{step}.{name}`` (eval_v2_let_step)
            binding = compile_tpipe(expr, pipe_scope, f"{path}.{name}")
            if binding.errs and not binding.missing \
                    and not _is_null(binding.dtype):
                # the reference evaluates bindings EAGERLY — an unused
                # raising binding still raises.  Force it through the
                # pipe value; when the pipe can't carry the probe
                # (static missing / unresolved), defer to the variant
                # engine (which forces via its own weave).
                if cur.missing or _unresolved(cur):
                    raise TypedFallback(
                        "eager let binding over missing pipe")
                cur = TVal(_force_n(_probe0(binding), cur.col),
                           cur.dtype, maybe_missing=cur.maybe_missing,
                           missing_when=cur.missing_when, errs=True,
                           const=cur.const and binding.const,
                           nonnull=cur.nonnull)
                if cur.missing_when is not None:
                    cur = TVal(cur.col, cur.dtype, maybe_missing=True,
                               missing_when=_force_n(_probe0(binding),
                                                     cur.missing_when),
                               errs=True, const=cur.const,
                               nonnull=cur.nonnull)
            new_locals[name] = binding
            pipe_scope = pipe_scope.child(locals=dict(new_locals))
        return cur, scope.child(locals=new_locals)
    if isinstance(step, IfStep):
        pipe_scope = scope.child(pipe=cur)
        cond = compile_tcondition(step.cond, pipe_scope, f"{path}.cond")
        then_v = compile_tpipe(step.then_branch, pipe_scope, f"{path}.then")
        else_v = (compile_tpipe(step.else_branch, pipe_scope, f"{path}.else")
                  if step.else_branch is not None else cur)
        dt = _unify([then_v.dtype, else_v.dtype])
        if dt is None:
            raise TypedFallback("if branches with incompatible types")
        c = F.coalesce(cond, F.lit(False))
        col = F.when(c, _cast_to(then_v, dt)).otherwise(
            _cast_to(else_v, dt))
        if then_v.missing and else_v.missing:
            # a static missing here would DROP the condition column —
            # but the reference still evaluates it (a gt over missing
            # raises "cannot compare missing values" even when both
            # branches are missing), so defer to the variant bridge
            raise TypedFallback("if with both branches missing")

        # The reference evaluates pipe value → condition → taken
        # branch, in that order, and evaluates the condition even when
        # both branches agree.  Catalyst breaks both properties on
        # foldable shapes: SimplifyConditionals collapses a CASE whose
        # branches fold to the same constant (structurally identical
        # OR distinct-but-equal, e.g. [1] vs [0, {add: [1]}] — the r6
        # "constant-fold residual"), deleting the condition and any
        # raise inside it; and a step whose cond/branches never
        # reference the incoming pipe drops the pipe's own errors.
        # Forcing the condition (then the incoming pipe, outermost)
        # into the result closes both: _force keeps the probes
        # collapse-proof, and anchored raises (fold_anchor) keep the
        # probes non-foldable even over all-constant pipes.  This
        # replaces the r6 structural-identity / identical-NULL
        # TypedFallback guards — stronger (covers distinct-but-equal
        # branches) and cheaper (no variant re-run).
        col = _force(_chk(c), col)
        if cur.errs and not cur.missing and not _is_null(cur.dtype):
            col = _force_n(_probe0(cur), col)
        # runtime tri-state: the result is missing when the TAKEN
        # branch is missing (statically or by its own missing_when);
        # unresolved branches keep the result unresolved
        def br_mw(v: TVal, taken: Column) -> Column | None:
            if v.missing:
                return taken
            if v.missing_when is not None:
                return taken & _mw(v)
            if v.maybe_missing:
                return None           # unresolved — no predicate
            return F.lit(False)
        tm, em = br_mw(then_v, c), br_mw(else_v, ~c)
        maybe = (then_v.missing != else_v.missing
                 or then_v.maybe_missing or else_v.maybe_missing)
        if_const = cur.const and then_v.const and else_v.const
        if not maybe:
            return TVal(col, dt, const=if_const), scope
        if tm is None or em is None:
            return TVal(col, dt, maybe_missing=True,
                        const=if_const), scope
        mw = tm | em
        if cur.errs and not cur.missing and not _is_null(cur.dtype):
            # rows resolved through the missing predicate never touch
            # the value column — the incoming pipe's errors must still
            # fire there (reference evaluates the pipe value first)
            mw = _force_n(_probe0(cur), mw)
        return TVal(col, dt, maybe_missing=True, missing_when=mw,
                    const=if_const), scope
    if isinstance(step, RefStep):
        return compile_tref(step.ref, scope.child(pipe=cur), path), scope
    if isinstance(step, MapStep):
        # {map: [steps...]} — pipe value per element, steps folded
        # (``v2_eval.rs:955-1046``); per-element missing DROPS the
        # item (tri-state path below); unresolved bodies fall back
        if cur.missing:
            return _missing(), scope
        if _unresolved(cur):
            raise TypedFallback("map over maybe-missing array")
        arr, et = _t_arr_in(cur, path, null_to_empty=False)
        out: dict[str, TVal] = {}

        def body(x: Column, i: Column) -> TVal:
            # per-item error paths: ``{step}[{idx}].step[{k}]`` with
            # the runtime item index spliced (V.dyn_path_marker)
            marker = f"@@I{V.dyn_marker_depth()}@@"
            with V.dyn_path_marker(marker, i):
                inner = _t_item_scope(scope, x, i, et)
                value = inner.pipe
                for j, s in enumerate(step.steps):
                    sp = f"{path}{marker}.step[{j}]"
                    value, inner = compile_tstep(
                        s, value, inner, step_op_path(s, sp, sp))
                if value.missing or _unresolved(value) \
                        or _is_null(value.dtype):
                    raise TypedFallback(
                        "map step may produce missing items")
                out["v"] = value
                return value

        probe = body(F.get(arr, 0), F.lit(0))   # dtype/shape discovery
        if probe.missing_when is None:
            mapped = F.transform(
                arr, lambda x, i: body(x, i).col)
        else:
            # body can be runtime-missing per element → map DROPS
            # those items (``v2_eval.rs:955-1046``): carry (value,
            # missing) per element, filter, project — all in-plan
            def pair(x: Column, i: Column) -> Column:
                v = body(x, i)
                return F.struct(v.col.alias("v"), _mw(v).alias("m"))

            pairs = F.transform(arr, pair)
            kept = F.filter(pairs, lambda p: ~F.coalesce(
                p["m"], F.lit(False)))
            mapped = F.transform(kept, lambda p: p["v"])
        # a runtime-missing ARRAY propagates via the carried predicate;
        # a runtime NULL that is NOT missing errors — the v2 map step
        # requires an array ("map step requires array, got Null",
        # v2_eval.rs:965-977)
        result_dt = T.ArrayType(out["v"].dtype)
        not_missing = (~_mw(cur) if cur.missing_when is not None
                       else F.lit(True))
        mapped = F.when(
            arr.isNull() & not_missing,
            _terr(result_dt, "expr_error",
                  "map step requires array, got Null",
                  path)).otherwise(mapped)
        return TVal(mapped, result_dt,
                    maybe_missing=cur.maybe_missing,
                    missing_when=cur.missing_when, errs=True), scope
    raise TypedFallback(f"step {type(step).__name__} in typed mode")


# --- conditions ---------------------------------------------------------

def compile_tcondition(cond: Condition, scope: TScope,
                       path: str = "when") -> Column:
    if isinstance(cond, CondAll):
        result = F.lit(True)
        for i, c in enumerate(cond.conditions):
            result = result & compile_tcondition(c, scope, f"{path}[{i}]")
        return result
    if isinstance(cond, CondAny):
        result = F.lit(False)
        for i, c in enumerate(cond.conditions):
            result = result | compile_tcondition(c, scope, f"{path}[{i}]")
        return result
    if isinstance(cond, CondCompare):
        if len(cond.args) != 2:
            # eval-time error, mirror of core.compile_condition
            return _terr("boolean", "expr_error",
                         "comparison requires exactly 2 arguments, got "
                         f"{len(cond.args)}", path)
        perr = None
        if cond.op == "match":
            from .ops_scalar import (_literal_pattern, java_regex_invalid,
                                     py_regex_error)
            lit = _literal_pattern(cond.args[1])
            if lit is not None:
                perr = py_regex_error(lit)
                if perr is None and java_regex_invalid(lit):
                    perr = "__java_only__"
        args = [compile_tpipe(a, scope, f"{path}.args[{i}]")
                for i, a in enumerate(cond.args)]
        return _t_compare(cond.op, args[0], args[1], path,
                          pattern_err=perr)
    if isinstance(cond, CondExpr):
        expr_path = f"{path}.expr"
        v = compile_tpipe(cond.expr, scope, expr_path)
        if v.missing or _is_null(v.dtype):
            return F.lit(False)
        if _is_bool(v.dtype):
            return F.coalesce(v.col, F.lit(False))
        return _terr_forced([v], "boolean", "expr_error",
                            "when/record_when must evaluate to boolean",
                            expr_path)
    raise RuleError("expr_error", "unknown condition", path)


def _t_compare(op: str, left: TVal, right: TVal, path: str,
               pattern_err: str | None = None) -> Column:
    ln, rn = _isnull(left) | F.lit(left.missing), \
        _isnull(right) | F.lit(right.missing)
    if op in ("eq", "ne"):
        # v2 strict equality: missing ≡ null (null == null is true);
        # cross-type → unequal (v2_eval.rs:1048-1100; the variant path
        # compares canonical JSON text, mirrored here per static type).
        # eqNullSafe has exactly the null≡null semantics AND pushes to
        # parquet as an EqualNullSafe filter.
        if getattr(left, "reemit_kind", False) or \
                getattr(right, "reemit_kind", False):
            raise TypedFallback("per-row int re-emission kind reaches "
                                "v2 strict equality")
        if _is_num(left.dtype) and _is_num(right.dtype):
            # serde_json kind-aware number equality (Number PartialEq;
            # mirrored in the variant engine's V.v2_eq): integers never
            # equal floats, floats compare by f64 value.  Static
            # classes: integral dtypes = serde integer; double / float
            # / decimal = serde float (the JSON data model has no
            # decimal — a decimal column is a float that parsed with a
            # scale).  Mixed-class eq is null≡null only, which also
            # pushes to parquet as plain IsNull filters.
            l_int, r_int = _is_int(left.dtype), _is_int(right.dtype)
            if _is_dec0(left.dtype) or _is_dec0(right.dtype):
                # scale-0 decimals carry a PER-VALUE kind: values in
                # (i64::MAX, u64::MAX] are serde PosInt (integer kind,
                # exact compare), the rest are float kind (f64) —
                # mirrors V._serde_int_kind (round-5 u64-boundary fix)
                lk, rk = _int_kind_col(left), _int_kind_col(right)
                exact = left.col.cast("decimal(38,0)").eqNullSafe(
                    right.col.cast("decimal(38,0)"))
                f64 = left.col.cast("double").eqNullSafe(
                    right.col.cast("double"))
                eq = (F.when(ln & rn, F.lit(True))
                      .when(ln | rn, F.lit(False))
                      .when(lk & rk, exact)
                      .when(~lk & ~rk, f64)
                      .otherwise(F.lit(False)))
            elif l_int and r_int:
                eq = left.col.eqNullSafe(right.col)
            elif l_int != r_int:
                eq = ln & rn
            else:
                eq = left.col.cast("double").eqNullSafe(
                    right.col.cast("double"))
        elif (_is_str(left.dtype) and _is_str(right.dtype)) or \
                (_is_bool(left.dtype) and _is_bool(right.dtype)):
            eq = left.col.eqNullSafe(right.col)
        else:
            eq = ln & rn  # cross-type / null: equal only when both null
        return eq if op == "eq" else ~eq
    if op == "match":
        # compare_values_match (v2_eval.rs:1181-1218): left checks
        # before right, each with its own wording
        if not _is_str(left.dtype):
            return _terr_forced([left, right], "boolean", "expr_error",
                                "match operator requires string on left "
                                "side", path)
        if not _is_str(right.dtype):
            return _terr_forced([left, right], "boolean", "expr_error",
                                "match operator requires regex pattern "
                                "string on right side", path)
        null_guard = (
            F.when(left.col.isNull(),
                   _terr("boolean", "expr_error",
                         "match operator requires string on left "
                         "side", path))
            .when(right.col.isNull(),
                  _terr("boolean", "expr_error",
                        "match operator requires regex pattern "
                        "string on right side", path)))
        if pattern_err is not None:
            # per-row NULL sides fail the string check BEFORE the
            # pattern compiles; never build rlike over a bad pattern
            msg = ("regex pattern is invalid"
                   if pattern_err == "__java_only__"
                   else f"invalid regex pattern: {pattern_err}")
            return null_guard.otherwise(
                _terr_forced([left, right], "boolean", "expr_error",
                             msg, path))
        # a per-row NULL (or missing) side is not a Value(String) —
        # the reference raises, it does not fall through to false
        return null_guard.otherwise(
            F.coalesce(F.rlike(left.col, right.col), F.lit(False)))
    # orderings: numeric first, then both-string lexicographic.  Error
    # split per the reference (compare_values_ord): a *missing* operand
    # errs "cannot compare missing values" (v2_eval.rs:1175); a
    # present-but-incomparable value — JSON null included — errs
    # "cannot compare values of different types" (v2_eval.rs:1169).
    # NULL-ambiguous operands can't tell the two apart statically →
    # variant bridge.
    if _unresolved(left) or _unresolved(right):
        raise TypedFallback("v2 ordering over maybe-missing operand")
    l_miss = F.lit(True) if left.missing else _mw(left)
    r_miss = F.lit(True) if right.missing else _mw(right)
    miss_any = l_miss | r_miss
    import operator
    pyop = {"gt": operator.gt, "gte": operator.ge,
            "lt": operator.lt, "lte": operator.le}[op]
    if _is_num(left.dtype) and _is_num(right.dtype):
        ld, rd = left.col.cast("double"), right.col.cast("double")
        res = pyop(ld, rd)

        # pushdown-safe widened conjunct for LONG columns: the f64
        # comparison (reference semantics, v2_eval.rs numeric compare)
        # wraps the column in a lossy long→double cast that Spark's
        # UnwrapCastInBinaryComparison won't unwrap, so parquet gets NO
        # min/max pruning.  A bound widened by more than the max f64
        # rounding error for int64 (ulp/2 at 2^63 = 512 → use 1024) is
        # IMPLIED by the f64 result, so AND-ing it is a no-op on the
        # value — and when the other side is a literal the whole
        # conjunct constant-folds to `col >= lit`, which pushes.  NULLs
        # line up: the conjunct is NULL exactly when a side is NULL,
        # and NULL & NULL / NULL & TRUE keep the comparison's NULL.
        def widen(col: Column, other_d: Column, lower: bool) -> Column:
            safe = F.abs(other_d) <= F.lit(float(2 ** 62))
            if lower:
                bound = (F.floor(other_d) - F.lit(1024)).cast("long")
                keep = col >= bound
            else:
                bound = (F.ceil(other_d) + F.lit(1024)).cast("long")
                keep = col <= bound
            return F.when(safe, keep).otherwise(F.lit(True))

        if isinstance(left.dtype, T.LongType):
            res = res & widen(left.col, rd, lower=op in ("gt", "gte"))
        if isinstance(right.dtype, T.LongType):
            res = res & widen(right.col, ld, lower=op in ("lt", "lte"))
        if lenient_on() and not (left.missing or right.missing):
            # lenient (when/record_when) null handling would wrap this
            # in CASE WHEN isnull(..) THEN NULL — but a plain numeric
            # comparison ALREADY yields NULL on null operands, and the
            # unwrapped form is what parquet can push down
            # (PushedFilters: [GreaterThan(col, v)] instead of a
            # full-scan DataFilter).  Identical semantics, pruned scan.
            return res
    elif _is_str(left.dtype) and _is_str(right.dtype):
        # numeric strings compare numerically when BOTH parse with the
        # RUST f64 grammar (value_as_f64 → parse::<f64>); NaN on
        # either side → partial_cmp None → Equal (v2_eval.rs:1160)
        ld, rd = V.rust_f64_parse(left.col), V.rust_f64_parse(right.col)
        num_ok = ld.isNotNull() & rd.isNotNull()
        nan = F.isnan(ld) | F.isnan(rd)
        res = (F.when(num_ok & nan, F.lit(op in ("gte", "lte")))
               .when(num_ok, pyop(ld, rd))
               .otherwise(pyop(left.col, right.col)))
    elif (_is_num(left.dtype) and _is_str(right.dtype)) or \
            (_is_str(left.dtype) and _is_num(right.dtype)):
        sv, nv = (left, right) if _is_str(left.dtype) else (right, left)
        sd = V.rust_f64_parse(sv.col)
        both = F.when(sd.isNotNull(), sd)
        lc = both if _is_str(left.dtype) else left.col.cast("double")
        rc = both if _is_str(right.dtype) else right.col.cast("double")
        nan = F.isnan(F.coalesce(sd, F.lit(0.0))) | \
            F.isnan(nv.col.cast("double"))
        res = (F.when(sd.isNotNull() & nan, F.lit(op in ("gte", "lte")))
               .when(sd.isNotNull(), pyop(lc, rc))
               .otherwise(_terr("boolean", "expr_error",
                                "cannot compare values of different types",
                                path)))
    else:
        res = _terr_forced([left, right], "boolean", "expr_error",
                           "cannot compare values of different types",
                           path)
    return (
        F.when(miss_any, _terr("boolean", "expr_error",
                               "cannot compare missing values", path))
        .when(ln | rn, _terr("boolean", "expr_error",
                             "cannot compare values of different types",
                             path))
        .otherwise(res))


# --- ops ----------------------------------------------------------------

T_OPS: dict[str, object] = {}


def _treg(name: str):
    def deco(fn):
        T_OPS[name] = fn
        return fn
    return deco


def _toperands(scope: TScope, cur: TVal, args, path: str) -> list[TVal]:
    pipe_scope = scope.child(pipe=cur)
    return [cur] + [compile_tpipe(a, pipe_scope, sub_path(path, i))
                    for i, a in enumerate(args)]


@_treg("concat")
def t_concat(scope, cur, args, path):
    """v2 concat: parts via ``eval_value_as_string`` — serde-Display
    numbers (2.0 → "2.0"), containers → "expected string, got {:?}",
    null via the positional protocol with the rendered-Null wording
    (``v2_eval.rs:1820-1843``)."""
    ops = _toperands(scope, cur, args, path)
    parts = [t_str_v2(o, arg_path(path, i)) for i, o in enumerate(ops)]
    # per-arg value_as_string check interleaves with missing/null:
    # concat(array_lit, missing) is a stringify error, not missing.
    # Operands whose conversion cannot raise once null is handled by
    # the protocol (scalar dtypes) skip the probe — each probe is
    # another full operand reference and multiplies the tree per level
    checks = [None if _str_conv_safe(o) else _chk(pt)
              for o, pt in zip(ops, parts)]
    return _seq(ops, path, F.concat(*parts), T.StringType(),
                null_msg="expected string, got Null",
                checks=checks)


@_treg("coalesce")
def t_coalesce(scope, cur, args, path):
    """first non-missing, non-null; all → missing
    (``transform.rs:1434-1457``).  A runtime-missing operand's col is
    already NULL, so F.coalesce skips it like the variant path; the
    RESULT is missing exactly when it is NULL (coalesce can only
    yield NULL when every operand was absent) — recorded as
    ``missing_when`` so downstream strict ops propagate instead of
    raising."""
    ops = _toperands(scope, cur, args, path)
    live = [o for o in ops if not o.missing and not _is_null(o.dtype)]
    dt = _unify([o.dtype for o in live])
    if dt is None:
        raise TypedFallback("coalesce over mixed types")
    if not live:
        return _missing()
    col = F.coalesce(*[_cast_to(o, dt) for o in live])
    # a PROVABLY-non-null operand (``TVal.nonnull`` — scalar literals
    # only; an implicit const∧¬errs proxy was declared unsafe by
    # ADVICE r6) makes the result never-missing — skipping the runtime
    # tri-state here matters downstream: a missing-capable operand
    # makes every later op weave per-row evaluation probes (r6 bench:
    # coalesce(col, 0) piped into multiply/round cost 4× until this)
    if any(o.nonnull for o in live):
        return TVal(col, dt, errs=any(o.errs for o in live),
                    const=all(o.const for o in live))
    return TVal(col, dt, maybe_missing=True, missing_when=col.isNull(),
                const=all(o.const for o in live))


def _str_conv_safe(o: "TVal") -> bool:
    """True when ``t_str`` over this operand can never raise."""
    dt = o.dtype
    return (_is_str(dt) or _is_bool(dt) or _is_int(dt) or _is_num(dt)
            or _is_null(dt))


def _t_unary_string(scope, cur, args, path, op):
    """v2 trim/lowercase/uppercase: ``eval_value_as_string`` — numbers
    and bools stringify (serde Display), null/containers → "expected
    string, got {:?}" (``v2_eval.rs:1792-1811``)."""
    ops = _toperands(scope, cur, args, path)
    s = t_str_v2(ops[0], path)
    return _seq(ops, path, S.unary_string(_TB, op, s), T.StringType(),
                null_msg="expected string, got Null")


for _name in ("trim", "lowercase", "uppercase"):
    T_OPS[_name] = (lambda _op: lambda scope, cur, args, path:
                    _t_unary_string(scope, cur, args, path, _op))(_name)


def _json_canon(col: Column, dt: T.DataType) -> tuple[Column, T.DataType]:
    """Recursively sort struct/map keys so ``to_json`` matches the
    variant engine's canonical rendering (``parse_json`` normalizes
    object key order)."""
    if isinstance(dt, T.StructType):
        fields = sorted(dt.fields, key=lambda f: f.name)
        parts, new_fields = [], []
        for f in fields:
            c, d = _json_canon(col.getField(f.name), f.dataType)
            parts.append(c.alias(f.name))
            new_fields.append(T.StructField(f.name, d, True))
        new_dt = T.StructType(new_fields)
        # null guard: struct() over a NULL struct's fields would build
        # a non-null struct of NULLs
        return (F.when(col.isNull(), F.lit(None).cast(new_dt))
                .otherwise(F.struct(*parts)), new_dt)
    if isinstance(dt, T.ArrayType):
        if isinstance(dt.elementType, (T.StructType, T.MapType,
                                       T.ArrayType)):
            out = {}

            def el(x):
                c, d = _json_canon(x, dt.elementType)
                out["d"] = d
                return c
            arr = F.transform(col, el)
            return arr, T.ArrayType(out["d"])
        return col, dt
    if isinstance(dt, T.MapType):
        entries = F.array_sort(F.map_entries(col))
        if isinstance(dt.valueType, (T.StructType, T.MapType,
                                     T.ArrayType)):
            raise TypedFallback("to_string over nested map values")
        return F.map_from_entries(entries), dt
    if isinstance(dt, (T.VariantType, T.BinaryType)):
        raise TypedFallback("to_string over dynamic container")
    return col, dt


@_treg("to_string")
def t_to_string(scope, cur, args, path):
    # v2-native: null → "null", containers → their canonical JSON
    # text, missing → missing (v2_eval.rs:1813-1825; the typed path is
    # v2-only); runtime-missing rows stay NULL via the tri-state
    ops = _toperands(scope, cur, args, path)
    o = ops[0]
    if o.missing:
        return _missing()
    if _unresolved(o):
        raise TypedFallback("to_string over maybe-missing value")
    if isinstance(o.dtype, (T.StructType, T.ArrayType, T.MapType)):
        canon, _dt = _json_canon(o.col, o.dtype)
        # match the variant rendering: keys sorted, nulls KEPT
        rendered = F.to_json(canon, {"ignoreNullFields": "false"})
    elif _is_num(o.dtype) and not _is_int(o.dtype):
        # serde Display: integral floats keep .0 (v2_eval.rs:1818
        # ``n.to_string()``), unlike the v1 integral trim
        d = o.col.cast("double")
        rendered = V.serde_float_text(d.cast("string"), d)
    else:
        rendered = t_str(o, path)
    col = F.when(_isnull(o), F.lit("null")).otherwise(rendered)
    if o.missing_when is not None:
        col = F.when(_mw(o), F.lit(None).cast("string")).otherwise(col)
        return TVal(col, T.StringType(), maybe_missing=True,
                    missing_when=_mw(o), errs=o.errs, const=o.const)
    return TVal(col, T.StringType(), errs=o.errs, const=o.const)


def _t_arith(scope, cur, args, path, op):
    """v2-native arithmetic: f64 fold, division-by-zero error
    (``v2_eval.rs:1848-1928``).  Number conversion — and for divide
    the zero check — happens PER ARG inside the reference's loop, so
    they interleave with the missing short-circuit via _seq checks:
    ``divide(x, 0, missing)`` raises, ``add("x", missing)`` raises."""
    ops = _toperands(scope, cur, args, path)
    # v2: eval_value_as_number — strings parse ("failed to parse
    # string as number"), null/bool/containers → "expected number,
    # got {:?}" (null via the protocol's rendered-Null wording)
    nums = [t_num_v2(o, arg_path(path, i)) for i, o in enumerate(ops)]
    # conversion probes only where the converter can actually raise —
    # extra operand references multiply the expression tree per level
    checks: list[Column | None] = [
        None if _is_num(o.dtype) or _is_null(o.dtype) else _chk(n)
        for o, n in zip(ops, nums)]

    def divide(i, acc, n):
        # the zero check is forced: it fires after the operands' own
        # errors (see _terr_forced), at the divisor's arg path
        zerr = _terr_forced(ops[:i + 1], "double", "expr_error",
                            "division by zero", arg_path(path, i))
        base = checks[i] if checks[i] is not None else F.lit("")
        checks[i] = F.when(n == 0.0, zerr.cast("string")).otherwise(base)
        return F.when(n == 0.0, zerr).otherwise(acc / n)

    acc = S.arith_fold(_TB, op, nums, divide)
    # serde_json::json!(f64): Number::from_f64 of a NON-FINITE result
    # is None → the reference emits JSON NULL (a runtime NULL in a
    # non-missing TVal IS JSON null) — round-8 double fuzz.  Plain
    # CASE (acc referenced 3×, typed trees are compact): a transform
    # let here is a CodegenFallback lambda that kicked the ENTIRE
    # typed projection out of whole-stage codegen (typed anchor exec
    # 0.30 s → 1.05 s before this was caught)
    acc = _TB.case([(S.non_finite(_TB, acc), _TB.null("double"))], acc)
    return _seq(ops, path, acc, T.DoubleType(),
                null_msg="expected number, got Null", checks=checks)


for _name in ("+", "-", "*", "/"):
    T_OPS[_name] = (lambda _op: lambda scope, cur, args, path:
                    _t_arith(scope, cur, args, path, _op))(_name)


@_treg("round")
def t_round(scope, cur, args, path):
    """Half-away-from-zero with optional scale
    (``transform.rs:2437-2515``)."""
    ops = _toperands(scope, cur, args, path)
    number = t_num(ops[0], arg_path(path, 0), "operand must be a number")
    if len(ops) == 2:
        s = ops[1]
        sp = arg_path(path, 1)
        if _is_int(s.dtype):
            scale = s.col.cast("long")
        elif _is_num(s.dtype):
            d = s.col.cast("double")
            scale = F.when(d == F.floor(d), d.cast("long")).otherwise(
                _terr("long", "expr_error",
                      "scale must be a non-negative integer", sp))
        else:
            scale = _terr("long", "expr_error",
                          "scale must be a non-negative integer", sp)
        scale = S.round_scale(_TB, scale, sp)
    else:
        scale = F.lit(0).cast("long")
    # value converts before the scale's null/int checks (eval_round,
    # transform.rs:2437-2476); probes only where the conversion can
    # actually raise (a num-typed value / a literal int scale cannot)
    checks: list[Column | None] = [
        None if _is_num(ops[0].dtype) or _is_null(ops[0].dtype)
        else _chk(number)]
    if len(ops) == 2:
        s = ops[1]
        checks.append(None if s.nonnull and _is_int(s.dtype)
                      else _chk(scale))
    out = _seq(ops, path, S.round_half_away(_TB, number, scale),
               T.DoubleType(), checks=checks)
    # round is v1-delegated: json_number_from_f64 re-emits INTEGRAL
    # results as i64 PER ROW (huge values stay Float — the `as i64`
    # saturation round-trip fails).  A double column cannot carry the
    # per-row serde kind, so it is FLAGGED: kind-OBSERVING consumers
    # (v2 serde rendering, v2 strict equality) defer to the variant
    # engine; kind-blind consumers (arithmetic, v1 renders, native
    # output columns) stay typed (round-8 double-fuzz find: typed
    # rendered 0.0/3.0 where the reference emits 0/3)
    return replace(out, reemit_kind=True)


@_treg("and")
def t_and(scope, cur, args, path):
    return _t_and_or(scope, cur, args, path, is_and=True)


@_treg("or")
def t_or(scope, cur, args, path):
    return _t_and_or(scope, cur, args, path, is_and=False)


def _t_and_or(scope, cur, args, path, *, is_and: bool):
    """Short-circuit on false/true; missing operands skip but make a
    non-short-circuited result missing (``transform.rs:5340-5388``)."""
    ops = _toperands(scope, cur, args, path)
    flags = []
    for i, o in enumerate(ops):
        if o.missing:
            flags.append(F.lit(None).cast("boolean"))
        else:
            # null operand is an error (to_bool_strict on JSON null)
            op_ = arg_path(path, i)
            flags.append(F.when(_isnull(o),
                                _terr("boolean", "expr_error",
                                      "value must be a boolean", op_))
                         .otherwise(t_bool(o, op_)))
    any_missing = F.lit(False)
    for f in flags:
        any_missing = any_missing | f.isNull()
    final = F.when(any_missing, F.lit(None).cast("boolean")).otherwise(
        F.lit(is_and))
    result = final
    for f in reversed(flags):
        short = ~f if is_and else f
        result = F.when(F.coalesce(short, F.lit(False)),
                        F.lit(not is_and)).otherwise(result)
    return TVal(result, T.BooleanType())


@_treg("not")
def t_not(scope, cur, args, path):
    """Null routes through ``value_as_bool`` → "value must be a
    boolean" (``v2_eval.rs:2528-2534``), not the generic null
    protocol."""
    ops = _toperands(scope, cur, args, path)
    o = ops[0]
    if not _is_bool(o.dtype):
        col = _terr_forced(ops, "boolean", "expr_error",
                           "value must be a boolean", path)
    else:
        col = ~o.col
    return _seq(ops, path, col, T.BooleanType(),
                null_msg="value must be a boolean")


@_treg("string")
def t_cast_string(scope, cur, args, path):
    """v2 string CAST is STRICT ``value_to_string`` — null and
    containers ERROR "value must be string/number/bool" and integral
    floats render trimmed, unlike ``to_string``'s render-anything
    (``eval_type_cast`` → ``value_to_string``, ``v2_eval.rs:1747,
    1664-1675``)."""
    ops = _toperands(scope, cur, args, path)
    o = ops[0]
    msg = "value must be string/number/bool"
    if _str_conv_safe(o) and not _is_null(o.dtype):
        col = t_str(o, path)
    else:
        col = _terr_forced(ops, "string", "expr_error", msg, path)
    return _seq(ops, path, col, T.StringType(), null_msg=msg)


@_treg("int")
def t_cast_int(scope, cur, args, path):
    """int / integral float / integer string (``v2_eval.rs:1677-1698``)."""
    ops = _toperands(scope, cur, args, path)
    o = ops[0]
    dt = o.dtype
    if _is_int(dt):
        col = o.col.cast("long")
    elif _is_num(dt):
        # cast_to_int saturates (``f as i64``); fract test via % 1.0
        d = o.col.cast("double")
        col = F.when(F.abs(d % F.lit(1.0))
                     < F.lit(2.220446049250313e-16),
                     _f64_as_i64(d)).otherwise(
            _terr("long", "expr_error", "failed to cast to int", path))
    elif _is_str(dt):
        parsed = F.when(o.col.rlike(r"^[+-]?[0-9]+$"),
                        o.col.try_cast("long"))
        col = F.when(parsed.isNotNull(), parsed).otherwise(
            _terr("long", "expr_error", "failed to cast to int", path))
    elif _is_null(dt):
        # a null VALUE hits cast_to_int's catch-all, it is not the
        # generic null protocol (v2_eval.rs:1696; kind ExprError :1734)
        col = _terr("long", "expr_error", "failed to cast to int", path)
    else:
        col = _terr_forced(ops, "long", "expr_error",
                           "failed to cast to int", path)
    return _seq(ops, path, col, T.LongType(),
                null_msg="failed to cast to int")


@_treg("float")
def t_cast_float(scope, cur, args, path):
    ops = _toperands(scope, cur, args, path)
    o = ops[0]
    dt = o.dtype
    if _is_num(dt):
        col = o.col.cast("double")
    elif _is_str(dt):
        parsed = V.rust_f64_parse(o.col)
        finite = parsed.isNotNull() & ~F.isnan(parsed) & \
            (F.abs(parsed) != F.lit(float("inf")))
        col = F.when(finite, parsed).otherwise(
            _terr("double", "expr_error", "failed to cast to float",
                  path))
    elif _is_null(dt):
        col = _terr("double", "expr_error", "failed to cast to float",
                    path)
    else:
        col = _terr_forced(ops, "double", "expr_error",
                           "failed to cast to float", path)
    return _seq(ops, path, col, T.DoubleType(),
                null_msg="failed to cast to float")


@_treg("bool")
def t_cast_bool(scope, cur, args, path):
    ops = _toperands(scope, cur, args, path)
    o = ops[0]
    dt = o.dtype
    if _is_bool(dt):
        col = o.col
    elif _is_str(dt):
        lowered = F.lower(o.col)
        col = F.when(lowered.isin("true", "false"),
                     lowered == "true").otherwise(
            _terr("boolean", "expr_error", "failed to cast to bool",
                  path))
    elif _is_null(dt):
        col = _terr("boolean", "expr_error", "failed to cast to bool",
                    path)
    else:
        col = _terr_forced(ops, "boolean", "expr_error",
                           "failed to cast to bool", path)
    return _seq(ops, path, col, T.BooleanType(),
                null_msg="failed to cast to bool")


# --- string/numeric/date ops beyond the core subset ---------------------

def t_strict_str(v: TVal, path: str,
                 msg: str = "value must be a string") -> Column:
    """``value_as_string`` — strings only (``transform.rs:5787-5795``)."""
    if _is_str(v.dtype):
        return v.col
    if _is_null(v.dtype):
        return F.lit(None).cast("string")
    return _terr_forced([v], "string", "expr_error", msg, path)


def t_i64(v: TVal, path: str, msg: str) -> Column:
    """``value_to_i64`` (``transform.rs:5819-5844``) — int, float with
    ``fract().abs() < f64::EPSILON`` surviving the ``as i64``
    round-trip, or i64-STRING (``parse::<i64>()``: no floats, no
    whitespace).  ``d % 1.0`` is the fract test — Spark floor/ceil
    ANSI-throw on huge doubles."""
    if _is_int(v.dtype):
        return v.col.cast("long")
    if _is_str(v.dtype):
        parsed = F.when(v.col.rlike(r"^[+-]?[0-9]+$"),
                        v.col.try_cast("long"))
        return F.when(parsed.isNotNull(), parsed).otherwise(
            _terr("long", "expr_error", msg, path))
    d = t_num(v, path, msg)
    i = _f64_as_i64(d)
    eps = F.lit(2.220446049250313e-16)
    ok = (F.abs(d % F.lit(1.0)) < eps) & \
        (F.abs(i.cast("double") - d) < eps)
    return F.when(ok, i).otherwise(
        _terr("long", "expr_error", msg, path))


@_treg("replace")
def t_replace(scope, cur, args, path):
    """Four modes: literal-first (default) / all / regex / regex_all
    (``transform.rs:2162-2236``)."""
    ops = _toperands(scope, cur, args, path)
    value = t_strict_str(ops[0], arg_path(path, 0))
    pattern = t_strict_str(ops[1], arg_path(path, 1))
    replacement = t_strict_str(ops[2], arg_path(path, 2))
    mode = (t_strict_str(ops[3], arg_path(path, 3)) if len(ops) == 4
            else F.lit("__first__"))
    result = S.replace(_TB, value, pattern, replacement, mode,
                       arg_path(path, 3))
    # per-arg stringify interleaves with the protocol (eval_replace
    # converts each arg COMPLETELY in order, transform.rs:2162-2200):
    # replace(array_pipe, null, …) is the pipe's stringify error, not
    # the pattern's null error
    checks = [_chk(value), _chk(pattern), _chk(replacement)]
    if len(ops) == 4:
        checks.append(_chk(mode))
    return _seq(ops, path, result, T.StringType(), checks=checks)


@_treg("split")
def t_split(scope, cur, args, path):
    """Literal delimiter, keeps empty parts (``transform.rs:2238-2282``);
    output is a native ``array<string>`` column."""
    ops = _toperands(scope, cur, args, path)
    value = t_strict_str(ops[0], arg_path(path, 0))
    delim = S.split_delim(_TB, t_strict_str(ops[1], arg_path(path, 1)),
                          arg_path(path, 1))
    # arg 0 converts COMPLETELY before arg 1 (eval_arg_string_at per
    # arg, transform.rs:2256-2267)
    return _seq(ops, path, S.split(_TB, value, delim),
                T.ArrayType(T.StringType()),
                checks=[_chk(value), _chk(delim)])


def _t_pad(scope, cur, args, path, *, start: bool):
    ops = _toperands(scope, cur, args, path)
    value = t_strict_str(ops[0], arg_path(path, 0))
    length = S.pad_length(_TB, t_i64(
        ops[1], arg_path(path, 1),
        "pad length must be a non-negative integer"), arg_path(path, 1))
    pad = (t_strict_str(ops[2], arg_path(path, 2)) if len(ops) == 3
           else F.lit(" "))
    result = S.pad(_TB, value, length, pad, start)
    # value stringifies BEFORE the length's checks (eval_pad,
    # transform.rs:2284-2340)
    checks = [_chk(value), _chk(length)]
    if len(ops) == 3:
        checks.append(_chk(pad))
    return _seq(ops, path, result, T.StringType(), checks=checks)


@_treg("pad_start")
def t_pad_start(scope, cur, args, path):
    return _t_pad(scope, cur, args, path, start=True)


@_treg("pad_end")
def t_pad_end(scope, cur, args, path):
    return _t_pad(scope, cur, args, path, start=False)


@_treg("len")
def t_len(scope, cur, args, path):
    """char count of a string / element count of a split array
    (``transform.rs:4671-4719``); null ⇒ error via the operand protocol."""
    ops = _toperands(scope, cur, args, path)
    o = ops[0]
    if _is_str(o.dtype):
        col = F.length(o.col).cast("long")
    elif isinstance(o.dtype, T.ArrayType):
        col = F.size(o.col).cast("long")
    elif isinstance(o.dtype, T.StructType):
        # typed structs have a static key set (nulls keep their keys
        # through the variant bridge, verified): constant size
        col = F.lit(len(o.dtype.fields)).cast("long")
    elif _is_null(o.dtype):
        col = F.lit(None).cast("long")
    else:
        # static type error: the operand still evaluates FIRST (its
        # per-row errors win — r7 const-fuzz: if-cond raise → coalesce
        # → len must surface the compare error, not len's)
        col = _terr_forced(ops, "long", "expr_error",
                           "expr arg must be string, array, or object",
                           arg_path(path, 0))
    return _seq(ops, path, col, T.LongType())


@_treg("to_base")
def t_to_base(scope, cur, args, path):
    """int → base-2..36 lowercase digits, ``-`` for negatives
    (``transform.rs:2517-2574``; Spark's conv is unsigned+uppercase)."""
    ops = _toperands(scope, cur, args, path)
    # eval_to_base checks both operands for missing before either for
    # null: a missing base makes a null value missing
    base_mw = ops[1].missing_when
    if (ops[1].missing or base_mw is not None) and ops[0].errs:
        raise TypedFallback("to_base over a maybe-missing base")
    if ops[1].missing:
        return _missing()
    number = t_i64(ops[0], arg_path(path, 0), "value must be an integer")
    base = S.base_range(_TB, t_i64(ops[1], arg_path(path, 1),
                                   "base must be an integer"),
                        arg_path(path, 1))
    out = _seq(ops, path, S.to_base(_TB, number, base), T.StringType())
    if base_mw is None:
        return out
    mw = _mw(ops[1])
    return TVal(F.when(mw, F.lit(None).cast(out.dtype)).otherwise(out.col),
                out.dtype, maybe_missing=True, missing_when=mw | _mw(out),
                errs=out.errs, const=out.const)


def _py_scalar_type(vals) -> T.DataType | None:
    """One static Spark type covering the python scalars, else None."""
    if not vals:
        return T.StringType()
    if all(isinstance(v, bool) for v in vals):
        return T.BooleanType()
    if all(isinstance(v, int) and not isinstance(v, bool) for v in vals):
        return T.LongType()
    if all(isinstance(v, (int, float)) and not isinstance(v, bool)
           for v in vals):
        return T.DoubleType()
    if all(isinstance(v, str) for v in vals):
        return T.StringType()
    return None


def _t_json_key(mv: TVal, path: str) -> Column:
    """Canonical-JSON probe key of a typed match value — must render
    exactly like ``_py_strict_json`` keys the prebuilt map (strings are
    JSON-quoted via to_json so escaping matches)."""
    dt = mv.dtype
    if _is_str(dt):
        j = F.to_json(F.array(mv.col))
        return j.substr(F.lit(2), F.length(j) - F.lit(2))
    if _is_bool(dt):
        return F.when(mv.col, F.lit("true")).otherwise(F.lit("false"))
    if _is_num(dt):
        return _json_num_repr(mv)
    return F.lit(None).cast("string")


def _t_lookup(scope, cur, args, path, *, first_only: bool):
    """v2 ``lookup``/``lookup_first`` with a literal @context collection
    → compile-time hash map, probed with one ``element_at`` per record
    on native columns (the variant path's fast shape, fully typed).
    Anything dynamic falls back to the variant engine."""
    from .ops_lookup import (_context_collection, _literal_str,
                             _v2_prebuilt_maps)
    n = len(args)
    if n not in (3, 4):
        raise TypedFallback("typed lookup: explicit 3/4-arg form only")
    coll = _context_collection(args[0], scope)
    key_lit = _literal_str(args[1])
    get_lit = _literal_str(args[3]) if n == 4 else None
    if coll is None or key_lit is None or (n == 4 and get_lit is None):
        raise TypedFallback("typed lookup needs a literal @context "
                            "collection and literal match_key/get")
    first_map, all_map = _v2_prebuilt_maps(coll, key_lit, get_lit)
    table = first_map if first_only else all_map
    if first_only:
        elem_dt = _py_scalar_type([v for v in table.values()
                                   if v is not None])
        val_dt: T.DataType | None = elem_dt
    else:
        elem_dt = _py_scalar_type([x for vs in table.values() for x in vs
                                   if x is not None])
        val_dt = T.ArrayType(elem_dt) if elem_dt is not None else None
    if val_dt is None:
        raise TypedFallback("typed lookup over non-scalar or mixed "
                            "selected values")
    mv = compile_tpipe(args[2], scope.child(pipe=cur), f"{path}.args[2]")
    if mv.missing:
        return _missing()
    if table:
        entries: list[Column] = []
        for k, v in table.items():
            entries.append(F.lit(k))
            entries.append(F.lit(v).cast(val_dt))
        probe = F.element_at(F.create_map(*entries),
                             F.coalesce(_t_json_key(mv, path),
                                        F.lit("\x00")))
    else:
        probe = F.lit(None).cast(val_dt)
    if not first_only:
        probe = F.coalesce(probe, F.array().cast(val_dt))
    col = F.when(_isnull(mv), F.lit(None).cast(val_dt)).otherwise(probe)
    return TVal(col, val_dt)


@_treg("lookup")
def t_lookup(scope, cur, args, path):
    return _t_lookup(scope, cur, args, path, first_only=False)


@_treg("lookup_first")
def t_lookup_first(scope, cur, args, path):
    return _t_lookup(scope, cur, args, path, first_only=True)


@_treg("date_format")
def t_date_format(scope, cur, args, path):
    """Same compile-time chrono→Spark pattern translation as the variant
    path (``ops_date.py``), over native string columns."""
    from .ops_date import _render, date_format_args, parse_datetime_utc
    ops = _toperands(scope, cur, args, path)
    vp = arg_path(path, 0)
    value = t_strict_str(ops[0], vp)
    out_fmt, input_formats, tz_seconds = date_format_args(args, path)
    ts, input_off = parse_datetime_utc(value, input_formats, tz_seconds,
                                       vp)
    render_off = (F.lit(tz_seconds) if tz_seconds is not None
                  else input_off)
    result = _render(ts, out_fmt, render_off, path)
    return _seq(ops, path, result, T.StringType())


@_treg("to_unixtime")
def t_to_unixtime(scope, cur, args, path):
    from .ops_date import parse_datetime_utc, to_unixtime_args
    ops = _toperands(scope, cur, args, path)
    value = t_strict_str(ops[0], arg_path(path, 0))
    unit, tz_seconds = to_unixtime_args(args, path)
    ts, _ = parse_datetime_utc(value, None, tz_seconds, arg_path(path, 0))
    if unit == "ms":
        result = (F.unix_micros(ts) / 1000).cast("long")
    else:
        result = F.unix_timestamp(ts).cast("long")
    return _seq(ops, path, result, T.LongType())


# --- object ops on native struct columns --------------------------------
#
# Typed structs mirror variant objects with one static invariant: the
# key set is the schema (a NULL field keeps its key as JSON null — the
# ``to_variant_object`` bridge renders it that way, so both engine
# modes agree over the same table).  Shallow/deep merge, get, pick,
# omit, keys/values/entries therefore compile to struct expressions:
# key resolution happens at COMPILE time, runtime only moves values —
# whole-stage codegen, no variant decoding (``transform.rs:4360-5143``
# for the reference semantics of each op).


def _is_struct(dt) -> bool:
    return isinstance(dt, T.StructType)


def _t_literal_arg(arg):
    """Compile-time literal value of an arg pipe, else None."""
    if isinstance(arg.start, StartLiteral) and not arg.steps:
        return arg.start.value
    return None


def _t_obj_guard(ops: list[TVal], path: str):
    """Common merge-family operand protocol: missing args are skipped,
    null/non-object args error, maybe-missing defers.  Returns the live
    (index, TVal) list or None when all-missing."""
    if any(o.maybe_missing for o in ops):
        raise TypedFallback("object op over maybe-missing operand")
    live = [(j, o) for j, o in enumerate(ops) if not o.missing]
    return live or None


def _t_get_dynamic(scope, cur, args, path):
    """Dynamic (per-row) get key, typed-native for string-keyed maps
    of scalars (round 5; closes the ``dynamic get path`` fallback for
    the properties-map shape).  ``eval_json_get``
    (``transform.rs:4446-4474``): null base → missing, missing key-arg
    → missing, JSON-null key → ``expr arg must not be null``,
    non-string key → ``value must be a string``, empty key → ``path
    must be a non-empty string``; the key PARSES as a dot/bracket path
    (r7: the r5 "one key, no deep-navigation" pin contradicted the
    reference) — over a scalar-valued map any multi-segment path
    dead-ends as missing after the first lookup."""
    base = cur
    if base.missing:
        return _missing()
    if _unresolved(base):
        raise TypedFallback("get over maybe-missing base")
    dt = base.dtype
    if not (isinstance(dt, T.MapType) and _is_str(dt.keyType)):
        raise TypedFallback("dynamic get over non-map base")
    vt = dt.valueType
    if not (_is_str(vt) or _is_num(vt) or _is_bool(vt)):
        raise TypedFallback("dynamic get over non-scalar map values")
    key = compile_tpipe(args[0], scope.child(pipe=cur),
                        sub_path(path, 0))
    if key.missing:
        return _missing()
    if _unresolved(key):
        raise TypedFallback("dynamic get key maybe-missing")

    base_null = _isnull(base)
    key_null = _isnull(key)
    if key.missing_when is not None:
        key_null = key_null & ~_mw(key)  # missing key-arg ≠ null key
    kp = arg_path(path, 1)
    err = _terr(vt, "expr_error", "expr arg must not be null", kp)
    if _is_str(key.dtype):
        # a multi-segment path ("a.b", "a[0]") navigates past the
        # first lookup into a SCALAR value → missing
        deep = key.col.rlike(r"[.\[]")
        val = F.when(deep, F.lit(None).cast(vt)).otherwise(
            F.try_element_at(base.col, key.col))
        contains = F.coalesce(
            F.map_contains_key(base.col, key.col) & ~deep, F.lit(False))
        key_checked = F.when(
            key.col == "",
            _terr(T.StringType(), "expr_error",
                  "path must be a non-empty string", kp)
            ).otherwise(V.path_parse_guard(
                key.col,
                lambda m: _terr(T.StringType(), "expr_error", m, kp)))
        val = _force(_chk(key_checked), val)
    else:
        val = _terr_forced([base, key], vt, "expr_error",
                           "value must be a string", kp)
        contains = F.lit(False)
    col = (F.when(base_null, F.lit(None).cast(vt))
           .when(key_null, err)
           .otherwise(val))
    mw = base_null | (~key_null & ~contains)
    if _is_str(key.dtype):
        # empty-key rows are an ERROR, not missing — the predicate
        # must fire the raise too (a downstream when(mw, NULL) would
        # skip the value path)
        mw = F.when(base_null, F.lit(True)).when(key_null, F.lit(False)) \
              .otherwise(_force(_chk(key_checked), mw))
    if base.missing_when is not None:
        mw = _mw(base) | mw
    if key.missing_when is not None:
        mw = _mw(key) | mw
    return TVal(col, vt, maybe_missing=True, missing_when=mw)


@_treg("get")
def t_get(scope, cur, args, path):
    """Value at literal dot path; absent → missing; null base → missing
    (``transform.rs:4419-4474``)."""
    lit = _t_literal_arg(args[0]) if args else None
    if args and lit is None:
        return _t_get_dynamic(scope, cur, args, path)

    def _bad_key(msg: str) -> TVal:
        # bad literal key: the BASE still evaluates first — missing or
        # null base short-circuits to missing (eval_json_get)
        base = cur
        if base.missing:
            return _missing()
        if _unresolved(base):
            raise TypedFallback("get over maybe-missing base")
        kp = arg_path(path, 1)
        bn = _isnull(base)
        col = F.when(bn, F.lit(None).cast("string")).otherwise(
            _terr_forced([base], "string", "expr_error", msg, kp))
        mw = bn if base.missing_when is None else (_mw(base) | bn)
        return TVal(col, T.StringType(), maybe_missing=True,
                    missing_when=mw)

    if not isinstance(lit, str):
        return _bad_key("value must be a string")
    if not lit:
        return _bad_key("path must be a non-empty string")
    try:
        tokens = parse_path(lit, error_code="expr_error")
    except RuleError as e:
        # per-record parse error AFTER the base checks
        return _bad_key(e.message)
    base = cur
    if base.missing:
        return _missing()
    col, dt = base.col, base.dtype
    # the result is missing when the base (or any intermediate) is
    # null at runtime — tracked as a precise predicate so downstream
    # ops keep the reference's missing semantics in-plan
    mw = _mw(base) if base.missing_when is not None else None
    if _unresolved(base):
        raise TypedFallback("get over maybe-missing base")
    # the same static walk as @input/@item refs (round 4): array
    # indexes and map keys navigate natively, mirroring the variant
    # op's V.navigate
    nav = _walk_tokens(col, dt, tokens, mw)
    if nav is None:
        if base.errs:
            # the base column may embed per-row errors (e.g. a strict
            # op erroring on null rows) — a static missing would
            # silently drop them, so defer to the variant engine's
            # in-order evaluation
            raise TypedFallback("get of absent field over errorable base")
        return _missing()           # statically absent
    col, dt, mw = nav
    if isinstance(dt, T.ArrayType) and not _scalar_element_array(dt):
        raise TypedFallback("get yields array of non-scalar")
    if isinstance(dt, (T.MapType, T.VariantType, T.BinaryType)):
        raise TypedFallback("get yields dynamic container")
    return TVal(col, dt, maybe_missing=mw is not None, missing_when=mw,
                errs=base.errs, const=base.const)


@_treg("merge")
def t_merge(scope, cur, args, path):
    """Shallow merge, rightmost wins per key; missing args skipped;
    all-missing → missing (``transform.rs:4360-4417``)."""
    ops = _toperands(scope, cur, args, path)
    live = _t_obj_guard(ops, path)
    if live is None:
        return _missing()
    bad = next(((j, o) for j, o in live
                if not _is_struct(o.dtype)), None)
    if bad is not None:
        dt = next((o2.dtype for _, o2 in live if _is_struct(o2.dtype)),
                  T.StructType([T.StructField("_", T.NullType())]))
        # _seq evaluates operands in order: an earlier operand's
        # per-row error or null wins over the static type error,
        # matching the variant seq_strict order (forced: the constant
        # raise would otherwise fold away non-nullable operand refs).
        # NOTE: _seq paths index LIVE operands — only safe while every
        # earlier operand is live too; a statically-missing earlier
        # operand never errors, so slicing from 0 keeps indexes aligned
        # whenever bad is the first live non-struct
        live_ops = [o for _, o in live]
        if [j for j, _ in live] != list(range(len(live))):
            raise TypedFallback("merge type error after missing operand")
        return _seq(live_ops, path,
                    _terr_forced(live_ops, dt, "expr_error",
                                 "expr arg must be object",
                                 arg_path(path, bad[0])), dt)
    # union of fields, rightmost operand that declares a key wins
    # (a declared key with a NULL value is JSON null — it still wins,
    # exactly like the variant map_zip_with coalesce)
    order: list[str] = []
    chosen: dict[str, tuple[Column, T.DataType]] = {}
    for _, o in live:
        for f in o.dtype.fields:
            if f.name not in chosen:
                order.append(f.name)
            chosen[f.name] = (o.col.getField(f.name), f.dataType)
    result_dt = T.StructType([T.StructField(n, chosen[n][1], True)
                              for n in order])
    merged = F.struct(*[chosen[n][0].alias(n) for n in order])
    # runtime-null operands error (JSON null is not an object)
    for j, o in reversed(live):
        merged = F.when(o.col.isNull(),
                        _terr(result_dt, "expr_error",
                              "expr arg must not be null",
                              arg_path(path, j))
                        ).otherwise(merged)
    return TVal(merged, result_dt, errs=True)


def _t_deep_merge2(lc: Column, ldt, rc: Column, rdt):
    """Static recursive merge of two struct values with the variant
    runtime semantics: recurse only where BOTH sides are objects at
    runtime; a null left subtree is replaced by the right subtree; a
    null right value replaces (objects are values too)."""
    if not (_is_struct(ldt) and _is_struct(rdt)):
        return rc, rdt              # replace (arrays/scalars/mixed)
    order = [f.name for f in ldt.fields]
    rnames = {f.name for f in rdt.fields}
    order += [f.name for f in rdt.fields if f.name not in
              {f2.name for f2 in ldt.fields}]
    lmap = {f.name: f.dataType for f in ldt.fields}
    rmap = {f.name: f.dataType for f in rdt.fields}
    out_fields = []
    for n in order:
        if n in lmap and n in rnames:
            c, dt = _t_deep_merge2(lc.getField(n), lmap[n],
                                   rc.getField(n), rmap[n])
        elif n in rnames:
            c, dt = rc.getField(n), rmap[n]
        else:
            c, dt = lc.getField(n), lmap[n]
        out_fields.append((n, c, dt))
    merged_dt = T.StructType([T.StructField(n, dt, True)
                              for n, _, dt in out_fields])
    merged = F.struct(*[c.alias(n) for n, c, _ in out_fields])
    # right side as a standalone merged_dt value (left-only keys null):
    # used when the left subtree is runtime-null (not a dict → replace)
    r_alone = _t_promote(rc, rdt, merged_dt)
    col = (F.when(rc.isNull(), F.lit(None).cast(merged_dt))
           .when(lc.isNull(), r_alone)
           .otherwise(merged))
    return col, merged_dt


def _t_promote(col: Column, src_dt, dst_dt):
    """Reshape a struct value to ``dst_dt`` BY FIELD NAME (Spark's
    struct cast is positional): absent fields become NULL, common
    struct fields promote recursively, NULL input stays NULL."""
    if not (_is_struct(src_dt) and _is_struct(dst_dt)):
        return col              # scalar/array: types match by build
    smap = {f.name: f.dataType for f in src_dt.fields}
    parts = []
    for f in dst_dt.fields:
        if f.name in smap:
            c = _t_promote(col.getField(f.name), smap[f.name],
                           f.dataType)
        else:
            c = F.lit(None).cast(f.dataType)
        parts.append(c.alias(f.name))
    return F.when(col.isNull(), F.lit(None).cast(dst_dt)) \
            .otherwise(F.struct(*parts))


@_treg("deep_merge")
def t_deep_merge(scope, cur, args, path):
    """Recursive merge; arrays replaced (``transform.rs:5059-5080``)."""
    ops = _toperands(scope, cur, args, path)
    live = _t_obj_guard(ops, path)
    if live is None:
        return _missing()
    if any(not _is_struct(o.dtype) for _, o in live):
        return t_merge(scope, cur, args, path)  # same error surface
    acc_col, acc_dt = live[0][1].col, live[0][1].dtype
    for _, o in live[1:]:
        acc_col, acc_dt = _t_deep_merge2(acc_col, acc_dt,
                                         o.col, o.dtype)
    # top-level null operands error (unlike nested levels)
    for j, o in reversed(live):
        acc_col = F.when(o.col.isNull(),
                         _terr(acc_dt, "expr_error",
                               "expr arg must not be null",
                               arg_path(path, j))
                         ).otherwise(acc_col)
    return TVal(acc_col, acc_dt)


def _t_key_paths(args, path, op_name: str) -> list[str]:
    """Literal TOP-LEVEL key paths for pick/omit; nested or dynamic
    paths defer to the variant engine (its Column/UDF reconstruction
    handles them)."""
    keys: list[str] = []
    for j, a in enumerate(args):
        lit = _t_literal_arg(a)
        if lit is None:
            raise TypedFallback(f"dynamic {op_name} path")
        items = [lit] if isinstance(lit, str) else lit
        if not isinstance(items, list) or \
                not all(isinstance(x, str) for x in items):
            raise RuleError("expr_error",
                            "paths must be a string or array of strings",
                            sub_path(path, j))
        for p in items:
            tokens = parse_path(p, error_code="expr_error")
            if len(tokens) != 1 or not isinstance(tokens[0], Key):
                raise TypedFallback(f"nested {op_name} path")
            if tokens[0].name not in keys:
                keys.append(tokens[0].name)
    return keys


def _t_pick_omit(scope, cur, args, path, *, pick: bool):
    keys = _t_key_paths(args, path, "pick" if pick else "omit")
    base = cur
    if base.missing:
        return _missing()
    if not _is_struct(base.dtype):
        # route through the operand protocol so an upstream per-row
        # error/null fires FIRST, like the variant engine's in-order
        # evaluation (a null base is "must not be null", not the
        # static type error)
        dt = T.StructType([T.StructField("_", T.NullType())])
        return _seq([base], path,
                    _terr(dt, "expr_error", "expr arg must be object",
                          arg_path(path, 0)), dt)
    if pick:
        fields = [f for k in keys
                  for f in base.dtype.fields if f.name == k]
    else:
        fields = [f for f in base.dtype.fields if f.name not in keys]
    if not fields:
        # result is the empty object — a struct cannot be empty
        raise TypedFallback("pick/omit yields empty object")
    result_dt = T.StructType([T.StructField(f.name, f.dataType, True)
                              for f in fields])
    col = F.struct(*[base.col.getField(f.name).alias(f.name)
                     for f in fields])
    # the strict protocol handles null → error, runtime-missing →
    # propagate, unresolved → fallback
    return _seq([base], path, col, result_dt)


@_treg("pick")
def t_pick(scope, cur, args, path):
    """Sub-object of the named top-level keys, in pick order; keys
    absent from the schema are dropped (``transform.rs:4964-5040``)."""
    return _t_pick_omit(scope, cur, args, path, pick=True)


@_treg("omit")
def t_omit(scope, cur, args, path):
    return _t_pick_omit(scope, cur, args, path, pick=False)


def _t_struct_unary(scope, cur, args, path, build):
    """keys/values/entries share the strict unary-object protocol."""
    ops = _toperands(scope, cur, args, path)
    o = ops[0]
    if not _is_struct(o.dtype):
        # _seq's null protocol fires "must not be null" first for
        # null operands, matching the variant seq_strict order
        return _seq(ops, path,
                    _terr("string", "expr_error",
                          "expr arg must be object", arg_path(path, 0)),
                    T.StringType())
    col, dt = build(o)
    return _seq(ops, path, col, dt)


@_treg("keys")
def t_keys(scope, cur, args, path):
    def build(o):
        # variant objects store fields KEY-SORTED — keys/values/entries
        # array order must match
        names = sorted(f.name for f in o.dtype.fields)
        return (F.array(*[F.lit(n) for n in names]),
                T.ArrayType(T.StringType()))
    return _t_struct_unary(scope, cur, args, path, build)


@_treg("values")
def t_values(scope, cur, args, path):
    def build(o):
        fields = sorted(o.dtype.fields, key=lambda f: f.name)
        dt = _unify([f.dataType for f in fields])
        if dt is None:
            raise TypedFallback("values over mixed field types")
        cols = [_cast_to(TVal(o.col.getField(f.name), f.dataType), dt)
                for f in fields]
        return F.array(*cols), T.ArrayType(dt)
    return _t_struct_unary(scope, cur, args, path, build)


@_treg("entries")
def t_entries(scope, cur, args, path):
    def build(o):
        fields = sorted(o.dtype.fields, key=lambda f: f.name)
        dt = _unify([f.dataType for f in fields])
        if dt is None:
            raise TypedFallback("entries over mixed field types")
        ent_dt = T.StructType([T.StructField("key", T.StringType(), True),
                               T.StructField("value", dt, True)])
        cols = [F.struct(
            F.lit(f.name).alias("key"),
            _cast_to(TVal(o.col.getField(f.name), f.dataType),
                     dt).alias("value")) for f in fields]
        return F.array(*cols), T.ArrayType(ent_dt)
    return _t_struct_unary(scope, cur, args, path, build)


# --- v1 comparison *ops* (pipe steps) ----------------------------------
#
# Pipe-step comparisons are the v1 ops even inside v2 rules (OP_ALIASES
# maps eq → "==";  ``eval_v2_op_with_v1_fallback``, ``v2_eval.rs:
# 1580-1640``): string-coerced equality (``compare_eq``, ``transform.rs:
# 5480-5493``), numeric-only orderings (``:5495-5508``).  Distinct from
# the strict v2 *condition* comparisons in ``_t_compare``.


def _t_v1_cmp(name: str, pyop=None, eq: bool = False,
              negate: bool = False):
    def op(scope, cur, args, path):
        ops = _toperands(scope, cur, args, path)
        left, right = ops[0], ops[1]
        if _unresolved(left) or _unresolved(right):
            raise TypedFallback("v1 comparison over maybe-missing "
                                "operand")
        if eq:
            # v1 converts missing → null before comparing (is_absent,
            # compare_eq transform.rs:5480-5493): null==null true,
            # one-sided null false.  A missing col is already NULL, so
            # plain isNull gives exactly is_absent — statically
            # missing, runtime-missing and JSON null all alike.
            ln, rn = left.col.isNull(), right.col.isNull()
            canon_l = t_str(left, arg_path(path, 0),
                            "value must be string/number/bool")
            canon_r = t_str(right, arg_path(path, 1),
                            "value must be string/number/bool")
            res = F.when(ln | rn, ln & rn).otherwise(canon_l == canon_r)
            if negate:
                res = ~res
        elif name == "~=":
            from .ops_scalar import (_literal_pattern, java_regex_invalid,
                                     py_regex_error)
            if args:
                lit = _literal_pattern(args[-1])
                if lit is not None:
                    # typed engine is v2-only: the v2 ~= wraps the
                    # compile failure text; the operand stringify
                    # errors must still win, handled below via
                    # s_or_err forcing
                    perr = py_regex_error(lit)
                    if perr is None and java_regex_invalid(lit):
                        perr = "__java_only__"
                    if perr is not None and _is_str(left.dtype) \
                            and _is_str(right.dtype):
                        # both sides stringify statically; a per-row
                        # NULL side still errors first (value_as_string
                        # runs before the regex compiles)
                        msg = ("regex pattern is invalid"
                               if perr == "__java_only__"
                               else f"invalid regex pattern: {perr}")
                        bad = (
                            F.when(left.col.isNull(),
                                   _terr("boolean", "expr_error",
                                         "value must be a string",
                                         arg_path(path, 0)))
                            .when(right.col.isNull(),
                                  _terr("boolean", "expr_error",
                                        "value must be a string",
                                        arg_path(path, 1)))
                            .otherwise(_terr_forced(
                                [left, right], "boolean", "expr_error",
                                msg, arg_path(path, 1))))
                        return TVal(bad, T.BooleanType(), errs=True)
                    if perr is not None:
                        # statically non-string LEFT (the literal
                        # pattern is a string): the type error fires
                        # per row — never build rlike over a bad
                        # pattern (Spark compiles literal patterns at
                        # plan time and would throw raw)
                        return TVal(
                            _terr_forced([left], "boolean",
                                         "expr_error",
                                         "value must be a string",
                                         arg_path(path, 0)),
                            T.BooleanType(), errs=True)

            # variant: any non-string — including null AND missing
            # (is_string of an absent value is not true) — errors
            def s_or_err(v: TVal, vp: str) -> Column:
                if not _is_str(v.dtype):
                    # static type error — upstream per-row errors
                    # embedded in the operand still fire first
                    return _terr_forced([v], "string", "expr_error",
                                        "value must be a string", vp)
                return F.when(v.col.isNull(),
                              _terr("string", "expr_error",
                                    "value must be a string", vp)
                              ).otherwise(v.col)
            res = F.rlike(s_or_err(left, arg_path(path, 0)),
                          s_or_err(right, arg_path(path, 1)))
        else:
            # variant to_number_strict: missing → NULL (comparison
            # yields NULL), JSON null → error
            def n_or_err(v: TVal, vp: str) -> Column:
                if v.missing:               # statically missing → NULL
                    return F.lit(None).cast("double")
                err_when = v.col.isNull()
                if v.missing_when is not None:
                    err_when = err_when & ~_mw(v)  # missing → NULL too
                return F.when(err_when,
                              _terr("double", "expr_error",
                                    "comparison operand must be a "
                                    "number", vp)
                              ).otherwise(t_num(
                                  v, vp,
                                  "comparison operand must be a number"))
            res = pyop(n_or_err(left, arg_path(path, 0)),
                       n_or_err(right, arg_path(path, 1)))
        return TVal(res, T.BooleanType())
    T_OPS[name] = op


import operator as _operator  # noqa: E402

_t_v1_cmp("==", eq=True)
_t_v1_cmp("!=", eq=True, negate=True)
_t_v1_cmp("<", _operator.lt)
_t_v1_cmp("<=", _operator.le)
_t_v1_cmp(">", _operator.gt)
_t_v1_cmp(">=", _operator.ge)
_t_v1_cmp("~=")


# --- array ops on native array<T> columns ------------------------------
#
# Typed arrays come from input ``array<T>`` columns (nested ones such as
# ``array<array<long>>`` included) and from ``split`` / ``lookup``.  The
# array algorithms are the variant engine's kernels (``ops_array``);
# the conversions around them are typed's own.  Ops whose elements are
# not scalars fall back where a kernel needs an equality proxy, and ops
# whose result's JSON number type is runtime-dependent stay on the
# variant path (``avg`` always; ``sum``/``min``/``max`` over float or
# string elements).  Integer-element aggregates compile typed below —
# their integral re-emission is static (always a long).


def _t_arr_in(cur: TVal, path: str,
              *, null_to_empty: bool) -> tuple[Column, T.DataType]:
    """Require a statically array-typed pipe value.

    ``null_to_empty`` mirrors the variant ``_coerce_array``
    (missing/null → empty, ``ops_array.py``); v2 ``map`` instead
    passes null through (``transform.rs:3075-3112`` via
    ``ops_array.op_map``)."""
    if cur.missing:
        raise TypedFallback("array op over statically-missing input")
    if not isinstance(cur.dtype, T.ArrayType):
        raise TypedFallback("array op over non-array typed input")
    col = cur.col
    if null_to_empty:
        col = F.coalesce(col, F.array().cast(cur.dtype))
    return col, cur.dtype.elementType


def _t_item_scope(scope: TScope, x: Column, i: Column,
                  et: T.DataType) -> TScope:
    # lambda element of an already-evaluated array: the element
    # VALUES are data (upstream error cells fire when the array
    # column itself evaluates), so the item is pristine
    item = TVal(x, et, errs=False)
    return scope.child(item=item, item_index=i, pipe=item)


def _t_pred(scope: TScope, expr, et: T.DataType, path: str):
    """Per-item predicate: missing/null → false; a statically non-bool
    body falls back (the variant path raises the reference's per-record
    error) — ``v2_eval.rs:1404-1421``."""
    def pred(x: Column, i: Column) -> Column:
        v = compile_tpipe(expr, _t_item_scope(scope, x, i, et), path)
        if v.missing or _is_null(v.dtype):
            return F.lit(False)
        if not _is_bool(v.dtype):
            raise TypedFallback("non-boolean predicate in typed mode")
        return F.coalesce(v.col, F.lit(False))
    return pred


# NB: no ``map`` *op* here — the v2 parser always reads ``{map: [...]}``
# as the map STEP (handled in ``compile_tstep``), and v1 rules never
# reach the typed path.


@_treg("filter")
def t_filter(scope, cur, args, path):
    arr, et = _t_arr_in(cur, path, null_to_empty=True)
    kept = F.filter(arr, _t_pred(scope, args[0], et, raw_path(path, 0)))
    return TVal(kept, T.ArrayType(et))


def _t_count_arg(scope, cur: TVal, arg, path: str,
                 msg: str = "count must be an integer") -> Column:
    """Integer ARG with the reference protocol (``eval_array_take``,
    ``transform.rs:3290-3304``): missing → op missing, null → "expr
    arg must not be null", non-int → ``msg``.  Non-literal args (whose
    runtime null/missing needs the full per-row protocol) defer to the
    variant engine — count args are literals in practice."""
    v = compile_tpipe(arg, scope.child(pipe=cur), path)
    if v.missing or v.maybe_missing or _is_null(v.dtype) \
            or not (v.const and not v.errs):
        raise TypedFallback("count arg needs the variant protocol")
    return t_i64(v, path, msg)


@_treg("take")
def t_take(scope, cur, args, path):
    arr, et = _t_arr_in(cur, path, null_to_empty=True)
    n = _t_count_arg(scope, cur, args[0], arg_path(path, 1))
    return TVal(A.arr_take(arr, n), T.ArrayType(et))


@_treg("drop")
def t_drop(scope, cur, args, path):
    arr, et = _t_arr_in(cur, path, null_to_empty=True)
    n = _t_count_arg(scope, cur, args[0], arg_path(path, 1))
    return TVal(A.arr_drop(arr, n), T.ArrayType(et))


@_treg("slice")
def t_slice(scope, cur, args, path):
    arr, et = _t_arr_in(cur, path, null_to_empty=True)
    start = _t_count_arg(scope, cur, args[0], arg_path(path, 1),
                         "start must be an integer")
    end = None
    if len(args) == 2:
        end = _t_count_arg(scope, cur, args[1], arg_path(path, 2),
                           "end must be an integer")
    return TVal(A.arr_slice(arr, start, end), T.ArrayType(et))


def _t_eq_proxy(x: Column, et: T.DataType, path: str) -> Column:
    """v1 string-coerced equality proxy on a native scalar element
    (``compare_eq``, ``transform.rs:5480-5493``; null ≡ null)."""
    if not (_is_str(et) or _is_num(et) or _is_bool(et) or _is_null(et)):
        raise TypedFallback("equality proxy over non-scalar elements")
    return F.coalesce(t_str(TVal(x, et), path), F.lit("\x00null"))


@_treg("unique")
def t_unique(scope, cur, args, path):
    """order-preserving first-wins dedupe by string-coerced equality
    (``transform.rs:3791-3828``)."""
    arr, et = _t_arr_in(cur, path, null_to_empty=True)
    ip = arg_path(path, 0)
    return TVal(A.keep_first(arr, lambda x: _t_eq_proxy(x, et, ip)),
                T.ArrayType(et))


@_treg("contains")
def t_contains(scope, cur, args, path):
    arr, et = _t_arr_in(cur, path, null_to_empty=True)
    target = compile_tpipe(args[0], scope.child(pipe=cur),
                           sub_path(path, 0))
    if target.missing:
        raise TypedFallback("contains target statically missing")
    proxies = F.transform(arr, lambda x: _t_eq_proxy(x, et,
                                                     arg_path(path, 0)))
    hit = F.array_contains(proxies,
                           _t_eq_proxy(target.col, target.dtype,
                                       arg_path(path, 1)))
    return TVal(F.coalesce(hit, F.lit(False)), T.BooleanType())


@_treg("index_of")
def t_index_of(scope, cur, args, path):
    """0-based index of the first string-coerced-equal element, -1 if
    absent (``transform.rs:4047-4080``)."""
    arr, et = _t_arr_in(cur, path, null_to_empty=True)
    target = compile_tpipe(args[0], scope.child(pipe=cur),
                           sub_path(path, 0))
    if target.missing:
        raise TypedFallback("index_of target statically missing")
    proxies = F.transform(arr, lambda x: _t_eq_proxy(x, et,
                                                     arg_path(path, 0)))
    pos = F.array_position(proxies,
                           _t_eq_proxy(target.col, target.dtype,
                                       arg_path(path, 1)))
    return TVal((pos - 1).cast("long"), T.LongType())


@_treg("find_index")
def t_find_index(scope, cur, args, path):
    """index of first predicate match, -1 if none
    (``transform.rs:4008-4045``)."""
    arr, et = _t_arr_in(cur, path, null_to_empty=True)
    pred = _t_pred(scope, args[0], et, raw_path(path, 0))
    return TVal(A.match_index(arr, pred), T.LongType())


def _t_int_elems(arr: Column, et: T.DataType, path: str) -> Column:
    """Integer elements as doubles; JSON-null element errors like the
    variant ``to_number_strict`` (``transform.rs:4117-4260``)."""
    if not _is_int(et):
        # float/string element sums render int-or-double per ROW under
        # the reference's integral re-emission — no static column type
        raise TypedFallback("numeric agg over non-integer elements "
                            "(runtime-dependent JSON number type)")
    return F.transform(arr, lambda x: F.when(
        x.isNull(),
        _terr(T.DoubleType(), "expr_error",
              "array item must be a number",
              path)).otherwise(x.cast("double")))


def _t_fold(agg: str):
    """sum/min/max: the shared f64 fold, then the statically-integral
    re-emission as long; empty → null (``transform.rs:4117-4260``).
    Matches ``num_to_variant`` for |sum| ≤ 2^62 (beyond, the reference
    itself degrades to f64).  No typed ``avg``: its JSON number type
    (int vs float) is per-row runtime-dependent even for integer
    inputs — variant path only."""
    def op(scope, cur, args, path):
        arr, et = _t_arr_in(cur, path, null_to_empty=True)
        nums = _t_int_elems(arr, et, arg_path(path, 0))
        res = F.when(F.size(arr) == 0, F.lit(None).cast("long")) \
               .otherwise(A.numeric_fold(arr, nums, agg).cast("long"))
        return TVal(res, T.LongType())
    T_OPS[agg] = op


for _agg in ("sum", "min", "max"):
    _t_fold(_agg)


def _t_first_last(cur: TVal, path: str, op_name: str) -> TVal:
    """v2 first/last (``v2_eval.rs:2416-2445``): empty → missing;
    a runtime JSON null is NOT folded to empty — it errors with the
    rendered value ("first requires array, got Null").  Both the
    value column AND the missing predicate raise on null rows (a
    downstream ``when(mw, NULL)`` must not skip the error)."""
    arr, et = _t_arr_in(cur, path, null_to_empty=False)
    isn = arr.isNull()
    if cur.missing_when is not None:
        isn = isn & ~_mw(cur)
    nerr = f"{op_name} requires array, got Null"
    el = A.end_element(arr, op_name)
    empty = F.size(arr) == 0
    col = (F.when(isn, _terr(et, "expr_error", nerr, path))
           .when(empty, F.lit(None).cast(et))
           .otherwise(F.coalesce(el, F.lit(None).cast(et))))
    mw = (F.when(isn, _terr(T.BooleanType(), "expr_error", nerr, path))
          .otherwise(F.coalesce(empty, F.lit(True))))
    if cur.missing_when is not None:
        mw = F.when(_mw(cur), F.lit(True)).otherwise(mw)
        col = F.when(_mw(cur), F.lit(None).cast(et)).otherwise(col)
    return TVal(col, et, maybe_missing=True, missing_when=mw)


@_treg("first")
def t_first(scope, cur, args, path):
    """first element; empty → missing (``v2_eval.rs:2416-2430``) —
    runtime-missing exactly when the array is empty, tracked as the
    ``missing_when`` predicate (strict consumers then propagate
    missing in-plan instead of falling back)."""
    return _t_first_last(cur, path, "first")


@_treg("last")
def t_last(scope, cur, args, path):
    return _t_first_last(cur, path, "last")


@_treg("flatten")
def t_flatten(scope, cur, args, path):
    """depth-1 flatten of array<array<T>> (``transform.rs:3202-3232``).

    The variant path keeps non-array elements as-is; in a typed
    array<array<T>> every element is statically an array, and a
    JSON-null element passes through as a single null item — mirrored
    with a per-element wrap.  Deeper literal depths change the static
    element type per level → variant path."""
    if args and A.literal_depth(args[0]) != 1:
        raise TypedFallback("flatten depth != 1 in typed mode")
    arr, et = _t_arr_in(cur, path, null_to_empty=True)
    if not isinstance(et, T.ArrayType):
        raise TypedFallback("flatten over non-nested typed array")
    inner = et.elementType
    wrapped = F.transform(arr, lambda x: F.when(
        x.isNull(), F.array(F.lit(None).cast(inner))).otherwise(x))
    return TVal(F.flatten(wrapped), et)


# --- rule-level compilation --------------------------------------------

from ..model import Mapping, RuleFile  # noqa: E402


def _copy_tree(tree: dict) -> dict:
    """Deep-copy the dict spine of a TVal tree (TVal leaves immutable)."""
    return {k: _copy_tree(v) if isinstance(v, dict) else v
            for k, v in tree.items()}


def _anchor_field(rule: "RuleFile", schema: T.StructType) -> str:
    """Pick the fold-anchor column: the first input field the rule
    already references, so anchoring every raise message never widens
    the parquet ReadSchema (column pruning keeps holding at scale).
    Falls back to the first schema field for rules that read no input
    column at all (then one narrow column read is unavoidable)."""
    import dataclasses as _dc
    names = {f.name for f in schema.fields}
    found: list[str] = []

    def head_of(path: str) -> str:
        return path.split(".")[0].split("[")[0]

    def walk(x):
        if found:
            return
        if isinstance(x, str):
            if x.startswith("@input."):
                h = head_of(x[len("@input."):])
                if h in names:
                    found.append(h)
        elif isinstance(x, dict):
            for v in x.values():
                walk(v)
        elif isinstance(x, (list, tuple)):
            for v in x:
                walk(v)
        elif isinstance(x, Mapping):
            if x.source and head_of(x.source) in names:
                found.append(head_of(x.source))
                return
            for f in _dc.fields(x):
                walk(getattr(x, f.name))
        elif _dc.is_dataclass(x) and not isinstance(x, type):
            for f in _dc.fields(x):
                walk(getattr(x, f.name))

    walk(rule.record_when)
    walk(rule.mappings)
    walk(rule.steps)
    return found[0] if found else schema.fields[0].name


class TypedRuleCompiler:
    """Compile a v2 rule (mappings / steps, incl. branch) against a
    typed DataFrame.

    Raises :class:`TypedFallback` when the rule (or its input schema)
    needs the general variant engine.  Mirrors ``RuleCompiler``'s
    record flow (``rule.py``): record_when → keep filter; each mapping
    materialized as one typed column; gated by per-mapping ``when``;
    ``branch`` steps compile the referenced rule file inline with
    ``@input`` bound to the current ``@out`` tree (transform.rs:509),
    deep-merging (or returning) its typed output.
    """

    def __init__(self, rule: RuleFile, context=None, base_dir: str = "."):
        if rule.version < 2:
            raise TypedFallback("v1 rules use JSON int re-emission")
        if rule.finalize is not None:
            raise TypedFallback("finalize rules")
        self.rule = rule
        self.context = context
        self.base_dir = base_dir

    def compile(self, df):
        """→ (DataFrame of typed target columns, keep-filtered)."""
        self._df = df
        self._schema = df.schema
        self._n = 0
        # fold anchor: one projected zero-length probe of a real input
        # column; every _terr references it by attribute so no raise
        # in this rule's plan is constant-foldable (positional error
        # order survives all-constant pipes)
        anchor = None
        if df.schema.fields:
            fname = _anchor_field(self.rule, df.schema)
            fdt = df.schema[fname].dataType
            probe = anchor_probe(F.col(fname), fdt)
            self._df = self._df.select("*",
                                       probe.alias("__terr_anchor__"))
            anchor = F.col("__terr_anchor__")
        from . import sqlfn
        with fold_anchor(anchor), sqlfn.bound(df.sparkSession):
            out_tree, keep = self._flow(self.rule, input_tree=None,
                                        gate=None, base_dir=self.base_dir)
            outputs = [self._out_col(v, name)
                       for name, v in out_tree.items()]
            if not outputs:
                raise TypedFallback("rule produces no typed targets")
            return self._df.filter(keep).select(*outputs)

    # -- record flow ---------------------------------------------------

    def _add(self, col: Column, tag: str = "m") -> Column:
        name = f"__t{tag}{self._n}__"
        self._n += 1
        self._df = self._df.select("*", col.alias(name))
        return F.col(name)

    def _flow(self, rule: RuleFile, input_tree: dict | None,
              gate: Column | None, base_dir: str):
        """Compile one rule's record flow → (out tree, keep Column).

        ``gate`` is non-None for branch-referenced rules: a boolean
        Column true on rows where this rule actually runs — mapping
        values (and their error branches) are ``F.when``-gated on it so
        untaken rows never evaluate them.  Nested ``return`` branches
        are folded into the returned tree before returning.
        """
        out_tree: dict[str, object] = {}
        state = {"keep": F.lit(True), "returned": None}
        returns: list[tuple[Column, dict]] = []

        def scope() -> TScope:
            return TScope(schema=self._schema, context_value=self.context,
                          has_context=self.context is not None,
                          out=out_tree, input_tree=input_tree)

        if rule.has_record_when:
            cond = self._add(self._compile_when(rule.record_when, scope(),
                                                "record_when"), "w")
            # no coalesce(cond, false): every consumer of `keep` is a
            # Filter or a F.when gate, where NULL already behaves as
            # false — and the bare predicate is what parquet can push
            # down (PushedFilters) while coalesce forces a full scan
            state["keep"] = cond

        def apply_mappings(mappings, base: str) -> None:
            for i, m in enumerate(mappings):
                mpath = f"{base}[{i}]"
                tokens = parse_path(m.target, allow_index=False,
                                    error_code="invalid_target")
                names = [t.name for t in tokens if isinstance(t, Key)]
                s = scope()
                value = self._compile_mapping(m, s, mpath)
                if value is None:
                    continue  # statically missing, optional → absent
                # top-level ungated rules need no keep-gate: the keep
                # filter sits below every mapping projection after
                # predicate pushdown, so filtered rows never evaluate
                # mapping values (or their error branches).  Branch
                # sub-rules and post-return rows DO need a gate — the
                # branch condition is per-row, not a filter.
                g = gate
                if state["returned"] is not None:
                    nr = ~state["returned"]
                    g = nr if g is None else g & nr
                col = value.col
                if m.has_when:
                    wcond = self._add(self._compile_when(
                        m.when, s, f"{mpath}.when"), "w")
                    w = F.coalesce(wcond, F.lit(False))
                    g = w if g is None else g & w
                if g is not None:
                    col = F.when(g, col)
                materialized = self._add(col)
                node = out_tree
                for t in names[:-1]:
                    nxt = node.get(t)
                    if nxt is None:
                        nxt = node[t] = {}
                    elif not isinstance(nxt, dict):
                        raise RuleError("target_error",
                                        f"intermediate path {t!r} is not "
                                        f"an object", mpath)
                    node = nxt
                prev = node.get(names[-1])
                if isinstance(prev, dict):
                    raise RuleError("duplicate_target",
                                    f"target {m.target!r} conflicts", mpath)
                dt = value.dtype
                if prev is not None:
                    # duplicate target: set_path runs only when the
                    # mapping output is present (transform.rs:1006-1032)
                    # — a missing/gated-off later mapping keeps the
                    # earlier value per row (typed outputs collapse
                    # missing and JSON null into SQL NULL, so coalesce
                    # implements exactly that)
                    dt = _unify([prev.dtype, value.dtype])
                    if dt is None:
                        raise TypedFallback("duplicate-target mappings "
                                            "with incompatible types")
                    combined = F.coalesce(
                        materialized if value.dtype == dt
                        else materialized.cast(dt),
                        _cast_to(prev, dt))
                    if prev.errs:
                        # the earlier mapping evaluates first — its
                        # errors fire before the later value is
                        # consulted (coalesce would skip it lazily)
                        combined = _force_n(_probe0(prev), combined)
                    materialized = self._add(combined)
                node[names[-1]] = TVal(materialized, dt)

        if rule.steps is not None:
            # ordered steps (transform.rs:431-531): mappings accumulate
            # @out; record_when narrows `keep`; asserts raise for rows
            # still alive at their step; branch runs a referenced rule
            for si, step in enumerate(rule.steps):
                spath = f"steps[{si}]"
                if step.mappings is not None:
                    apply_mappings(step.mappings, f"{spath}.mappings")
                if step.has_record_when:
                    cond = self._add(self._compile_when(
                        step.record_when, scope(),
                        f"{spath}.record_when"), "w")
                    alive = F.coalesce(cond, F.lit(False))
                    if state["returned"] is not None:
                        alive = state["returned"] | alive
                    state["keep"] = self._add(state["keep"] & alive, "k")
                if step.asserts is not None:
                    for ai, a in enumerate(step.asserts):
                        apath = f"{spath}.asserts[{ai}]"
                        acond = self._compile_when(a.when, scope(), apath)
                        live = state["keep"]
                        if gate is not None:
                            live = live & gate
                        if state["returned"] is not None:
                            live = live & ~state["returned"]
                        guard = F.when(
                            live & ~F.coalesce(acond, F.lit(False)),
                            _terr(T.BooleanType(), "assert_failed",
                                  f"assert failed: "
                                  f"{a.error.code}: "
                                  f"{a.error.message}",
                                  apath, a.error.code)
                            ).otherwise(F.lit(True))
                        state["keep"] = self._add(state["keep"] & guard,
                                                  "k")
                if step.branch is not None:
                    self._compile_branch(step.branch, spath, scope,
                                         out_tree, state, returns,
                                         gate, base_dir)
        else:
            apply_mappings(rule.mappings, "mappings")

        out_tree = self._fold_returns(out_tree, returns)
        return out_tree, state["keep"]

    # -- branch steps --------------------------------------------------

    def _compile_branch(self, branch, spath: str, scope_fn, out_tree: dict,
                        state: dict, returns: list, gate: Column | None,
                        base_dir: str) -> None:
        """branch step (``transform.rs:491-527``), typed: compile the
        referenced rule file inline with ``@input`` = a snapshot of the
        current ``@out`` tree; merge its typed outputs (deep, non-null
        sub values win — mirrors ``OutTree.merged_with``) or record a
        return.  Sub-rule mapping errors are gated on the branch being
        taken, exactly like ``rule.py``'s ``F.when(gate, value)``."""
        import os

        from ..model import load_rule_file

        cond_raw = self._compile_when(branch.when, scope_fn(),
                                      f"{spath}.branch")
        cond = self._add(F.coalesce(cond_raw, F.lit(False)), "b")
        # both targets see the pre-branch @out (rule.py materializes
        # branch_input before compiling either target)
        snapshot = _copy_tree(out_tree)
        active = state["keep"]
        if state["returned"] is not None:
            active = active & ~state["returned"]
        if gate is not None:
            active = active & gate
        active = self._add(active, "g")

        for taken, rel in ((cond, branch.then), (~cond, branch.else_)):
            if rel is None:
                continue
            full = rel if os.path.isabs(rel) \
                else os.path.join(base_dir, rel)
            sub_rule = load_rule_file(full)
            if sub_rule.version < 2:
                raise TypedFallback("v1 branch target rule")
            if sub_rule.finalize is not None:
                if not branch.return_:
                    raise RuleError(
                        "invalid_rule",
                        "branch rules with finalize require return: true",
                        spath)
                raise TypedFallback("branch finalize in typed mode")
            g0 = self._add(active & taken, "g")
            # nested branch paths resolve relative to the referenced
            # rule file's directory (transform.rs:566-601)
            sub_tree, sub_keep = self._flow(
                sub_rule, input_tree=snapshot, gate=g0,
                base_dir=os.path.dirname(full))
            rg = self._add(g0 & sub_keep, "rg")
            if branch.return_:
                returns.append((rg, sub_tree))
                state["returned"] = rg if state["returned"] is None \
                    else self._add(state["returned"] | rg, "rf")
            else:
                self._merge_tree(out_tree, sub_tree, rg)
            state["keep"] = self._add(state["keep"] & (~g0 | sub_keep),
                                      "k")

    def _merge_tree(self, main: dict, sub: dict, g: Column) -> None:
        """In-place typed deep merge: rows where ``g`` holds take
        ``sub``'s non-null leaves over ``main`` (mirrors
        ``OutTree.merged_with(deep=True)``: NULL sub values never
        overwrite, so when-gated-off sub mappings keep parity)."""
        for k, b in sub.items():
            a = main.get(k)
            if a is None:
                main[k] = self._gate_subtree(b, g)
            elif isinstance(a, dict) and isinstance(b, dict):
                self._merge_tree(a, b, g)
            elif isinstance(a, dict) or isinstance(b, dict):
                # per-row object↔scalar replacement has no static type
                raise TypedFallback("branch merge replaces object with "
                                    "scalar (or vice versa)")
            else:
                dts = [x.dtype for x in (a, b) if not _is_null(x.dtype)]
                dt = _unify(dts) if dts else T.NullType()
                if dt is None:
                    raise TypedFallback("branch merge type conflict")
                col = F.when(g & b.col.isNotNull(), _cast_to(b, dt)) \
                       .otherwise(_cast_to(a, dt))
                main[k] = TVal(self._add(col), dt)

    def _gate_subtree(self, node, g: Column):
        if isinstance(node, dict):
            return {k: self._gate_subtree(v, g) for k, v in node.items()}
        return TVal(self._add(F.when(g, node.col)), node.dtype)

    def _fold_returns(self, main: dict,
                      returns: list[tuple[Column, dict]]) -> dict:
        """Fold ``return: true`` branches: returned rows' output is the
        sub-rule's tree INSTEAD of the accumulated one (keys the sub
        lacks become NULL — absent and null coincide in typed tables).
        Return gates are mutually exclusive by construction (each
        includes ``~returned``-so-far), so overlay order is free."""
        if not returns:
            return main

        def fold(main_node: dict | None, subs):
            keys: list[str] = list(main_node.keys()) if main_node else []
            for _, nd in subs:
                if isinstance(nd, dict):
                    keys += [k for k in nd if k not in keys]
            out: dict[str, object] = {}
            for k in keys:
                a = (main_node or {}).get(k)
                ks = [(g, nd.get(k) if isinstance(nd, dict) else None)
                      for g, nd in subs]
                vals = [a] + [n for _, n in ks]
                has_dict = any(isinstance(v, dict) for v in vals)
                has_leaf = any(isinstance(v, TVal) for v in vals)
                if has_dict and has_leaf:
                    raise TypedFallback(
                        "return branch object/scalar shape conflict")
                if has_dict:
                    out[k] = fold(a if isinstance(a, dict) else None, ks)
                    continue
                dts = [v.dtype for v in vals
                       if isinstance(v, TVal) and not _is_null(v.dtype)]
                dt = _unify(dts) if dts else T.NullType()
                if dt is None:
                    raise TypedFallback("return branch type conflict")
                expr = F.lit(None).cast(dt) if a is None \
                    else _cast_to(a, dt)
                for g, n in ks:
                    sub_col = _cast_to(n, dt) if isinstance(n, TVal) \
                        else F.lit(None).cast(dt)
                    expr = F.when(g, sub_col).otherwise(expr)
                out[k] = TVal(self._add(expr), dt)
            return out

        return fold(main, returns)

    # -- helpers -------------------------------------------------------

    def _out_col(self, node, name: str) -> Column:
        if isinstance(node, TVal):
            return node.col.alias(name)
        presence = F.lit(False)
        for leaf in _tree_leaves(node):
            presence = presence | leaf.col.isNotNull()
        fields = [self._out_col(v, k) for k, v in node.items()]
        return F.when(presence, F.struct(*fields)).alias(name)

    def _compile_when(self, raw, scope: TScope, path: str) -> Column:
        """v2 when/record_when → boolean; errors → NULL (lenient)."""
        from ..expr_ir import is_v2_expr, parse_condition, parse_expr
        with lenient_errors():
            if isinstance(raw, dict) and (
                    "ref" in raw or ("op" in raw and "if" not in raw)):
                raise TypedFallback("v1-style when in typed mode")
            try:
                cond = parse_condition(raw)
            except RuleError:
                raise TypedFallback("unparseable condition")
            return compile_tcondition(cond, scope, path)

    def _compile_mapping(self, m: Mapping, scope: TScope,
                         path: str) -> TVal | None:
        from ..expr_ir import is_v2_expr, parse_expr, v1_expr_to_pipe
        if m.source is not None:
            value = self._resolve_source(m.source, scope, path)
        elif m.has_value:
            value = _py_literal(m.value, path)
        elif m.has_expr:
            pipe = (parse_expr(m.expr) if is_v2_expr(m.expr)
                    else v1_expr_to_pipe(m.expr))
            value = compile_tpipe(pipe, scope, f"{path}.expr")
        else:
            raise RuleError("invalid_rule",
                            "mapping must define source, value, or expr",
                            path)

        # an UNRESOLVED maybe-missing value (no runtime predicate)
        # cannot drive default substitution or the required-missing
        # error message — defer to the variant engine
        if _unresolved(value) and (m.has_default or m.required):
            raise TypedFallback("default/required over maybe-missing "
                                "value")
        # missing → default / required-error / skip (transform.rs:1006-1032)
        if value.missing:
            if m.has_default:
                return _py_literal(m.default, path)
            if m.required:
                return TVal(_terr(T.StringType(), "missing_required",
                                  "required value is missing", path),
                            T.StringType())
            return None

        col, dtype = value.col, value.dtype
        mw = value.missing_when
        if mw is not None and m.has_default:
            # runtime-missing rows take the default (transform.rs:1006)
            dv = _py_literal(m.default, path)
            dt2 = _unify([dtype, dv.dtype])
            if dt2 is None:
                raise TypedFallback("default type incompatible with "
                                    "typed value")
            col = F.when(_mw(value), _cast_to(dv, dt2)).otherwise(
                _cast_to(TVal(col, dtype), dt2))
            dtype = dt2
            mw = None                # defaulted — never missing now
        if m.value_type is not None:
            casted = self._typed_cast(TVal(col, dtype), m.value_type,
                                      scope, f"{path}.type")
            col, dtype = casted.col, casted.dtype
        if m.required:
            is_miss = _mw(value) if mw is not None else F.lit(False)
            on_miss = _terr(dtype, "missing_required",
                            "required value is missing", path)
            on_null = _terr(dtype, "missing_required",
                            "required value is null", path)
            col = (F.when(is_miss, on_miss)
                   .when(_isnull(value), on_null).otherwise(col))
        elif m.value_type is not None:
            # cast never applies to null values (rule.py finish())
            col = F.when(_isnull(value), F.lit(None).cast(dtype)) \
                   .otherwise(col)
        return TVal(col, dtype)

    def _typed_cast(self, value: TVal, type_name: str, scope: TScope,
                    path: str) -> TVal:
        fn = {"string": t_cast_string, "int": t_cast_int,
              "float": t_cast_float, "bool": t_cast_bool}.get(type_name)
        if fn is None:
            raise RuleError("type_cast_failed",
                            "type must be string|int|float|bool", path)
        return fn(scope, value, [], path)

    def _resolve_source(self, source: str, scope: TScope,
                        path: str) -> TVal:
        """``resolve_source`` (``transform.rs:1144-1175``)."""
        text = source
        if text.startswith("input."):
            ns, rest = "input", text[len("input."):]
        elif text.startswith("context."):
            ns, rest = "context", text[len("context."):]
        elif text.startswith("out."):
            ns, rest = "out", text[len("out."):]
        elif text in ("input", "context", "out"):
            ns, rest = text, ""
        else:
            if "." in text or "[" in text:
                raise RuleError(
                    "invalid_ref",
                    "source with dot paths must use an explicit namespace",
                    path)
            ns, rest = "input", text
        return compile_tref(Ref(namespace=ns, path=rest), scope, path)


def _tree_leaves(node: dict):
    for v in node.values():
        if isinstance(v, dict):
            yield from _tree_leaves(v)
        else:
            yield v
