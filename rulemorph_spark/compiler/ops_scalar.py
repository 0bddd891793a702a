"""Scalar ops: string / numeric / logical / comparison / casts.

Semantics mirror the reference v1 evaluator, which the v2 runtime delegates
these ops to (``v2_eval.rs:1580-1640``):

- string ops: ``transform.rs:1403-2373``
- numeric ops: ``transform.rs:2375-2574``
- logical ops: ``transform.rs:5340-5417``
- comparisons: ``transform.rs:5419-5520`` (``==`` is string-coerced!)
- casts: ``transform.rs:5925-5994`` / ``v2_eval.rs:1677-1762``

The common argument protocol (``transform.rs:1996-2135``): evaluate
operands left-to-right; a *missing* operand makes the whole op missing; a
*null* operand is an error (unless the op says otherwise).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import variant as V
from .core import (OPS, Scope, arg_path, compile_pipe, cur_version,
                   register, rerr, sub_path)


def _operands(scope: Scope, cur: Column, args, path: str) -> list[Column]:
    """Pipe value + compiled args (reference's injected-arg protocol)."""
    pipe_scope = scope.child(pipe=cur)
    return [cur] + [compile_pipe(a, pipe_scope, sub_path(path, i))
                    for i, a in enumerate(args)]


def _operands_bound(scope: Scope, cur: Column, args, path: str, build,
                    *, short=V.is_absent):
    """``_operands`` + one let-binding of STEP-BEARING args before
    ``build`` consumes them.

    The pipe value (index 0) is already a bound leaf (compile_step
    lets it) and plain ref/literal args are cheap, but an arg that
    carries steps is a computed sub-tree the op body references
    several times — type dispatch, the null protocol, guards.
    Unbound, nested v1 ``{op, args}`` arguments duplicated the whole
    sub-tree per reference, growing plans ~16× per nesting level
    (right-nested concat: 1.9k → 27k → 440k plan chars; round 5).

    ``short``: the reference evaluates args IN ORDER and stops at the
    first missing (→ op missing) or null (→ error) operand
    (``op_concat``, ``transform.rs:1403-1432``), so a later arg's
    sub-tree — which may raise — must never evaluate on rows where an
    earlier operand already decided the result.  ``V.let`` binds via
    ``array(col)``, which IS evaluated per row, so each heavy arg is
    bound behind ``F.when(~<earlier short-circuit>, col)`` — the CASE
    (and Spark's lazily-evaluated OR) keeps the sub-tree unevaluated
    on short-circuited rows (r6 fuzz divergence: ``concat(missing,
    ÷0-chain)`` must be missing, not a division error).  Pass a
    different predicate for ops with another protocol (coalesce stops
    at the first PRESENT operand) or ``short=None`` for ops that
    always evaluate every operand (v1 comparisons)."""
    cols = _operands(scope, cur, args, path)
    heavy = sorted(i for i, a in enumerate(args, start=1) if a.steps)
    if not heavy:
        return build(*cols)

    def go(hs, acc):
        if not hs:
            return build(*acc)
        h = hs[0]
        c = acc[h]
        if short is not None:
            pre = short(acc[0])
            for j in range(1, h):
                pre = pre | short(acc[j])
            c = F.when(~pre, c)
        return V.let(c, lambda x: go(hs[1:],
                                     [x if i == h else cc
                                      for i, cc in enumerate(acc)]))

    return go(heavy, cols)


def _chk(col: Column) -> Column:
    """Zero-length check probe: evaluates ``col`` (raising its embedded
    errors) and contributes nothing; never NULL."""
    # as_nullable: substring(a,1,0) folds to "" for NON-nullable a
    # (SPARK-33847 family), deleting the probe — see V.as_nullable
    return F.coalesce(F.substring(V.as_nullable(col).cast("string"),
                                  1, 0), V.clit(""))


def seq_strict(operands: list[Column], path: str, result: Column,
               *, allow_null: bool = False,
               null_msg: str = "expr arg must not be null",
               checks: "list[Column | None] | None" = None,
               skip: "set[int] | None" = None) -> Column:
    """Wrap ``result`` with the missing-propagates / null-errors
    protocol; ``null_msg`` lets ops with a dedicated null message
    (concat, transform.rs:1423) keep the reference wording.

    ``checks[i]``: optional per-operand OP-SPECIFIC check probe (a
    zero-length string that raises on failure).  The reference runs
    these INSIDE its per-arg loop — conversion / divide-by-zero happen
    for operand i before operand i+1's missing short-circuit
    (op_concat transform.rs:1403-1432; v2 arith v2_eval.rs:1848-1928)
    — so the probe weaves in after operand i's own missing/null
    handling and before everything later.

    ``skip``: operand indexes whose missing/null protocol is handled
    by the operand's OWN conversion (e.g. the array argument of
    take/drop/slice — ``eval_array_arg`` folds missing/null to [] and
    errors on non-arrays, ``transform.rs``); their checks still weave
    positionally.

    Null-protocol errors attribute to the OPERAND's path
    (``{step}.args[{i}]`` — transform.rs per-arg converters report at
    ``eval_expr_at_index``'s arg path; round-7 follow-up)."""
    for i in reversed(range(len(operands))):
        o = operands[i]
        inner = result
        if checks is not None and checks[i] is not None:
            # collapse-proof weave (see typed._force): unreachable
            # then-branch keeps SimplifyConditionals from dropping
            # the condition when inner folds to NULL
            inner = F.when(F.length(checks[i]) >= 1,
                           V.cached_col("raise", "__unreachable__",
                                        lambda: F.raise_error(
                                            F.lit("unreachable probe")))
                           ).otherwise(inner)
        if skip is not None and i in skip:
            result = inner
            continue
        if not allow_null:
            inner = F.when(V.is_vnull(o),
                           rerr("expr_error", null_msg,
                                arg_path(path, i))).otherwise(inner)
        result = F.when(o.isNull(), F.lit(None)).otherwise(inner)
    return result.cast(V.VT)


def _as_string(o: Column, path: str) -> Column:
    """``value_as_string`` — strings only (``transform.rs:5787-5795``)."""
    return F.when(V.is_string(o), o.try_cast("string")).otherwise(
        rerr("expr_error", "value must be a string", path).cast("string"))


_F64_EPS = 2.220446049250313e-16  # f64::EPSILON


def _f64_as_i64(d: Column) -> Column:
    """Rust ``f as i64``: truncate toward zero, saturate at the i64
    bounds (Spark's try_cast truncates and saturates AT the boundary
    double but yields NULL beyond — fold the overflow back to the
    saturated bound)."""
    return F.coalesce(
        d.try_cast("long"),
        F.when(d > 0, F.lit(9223372036854775807).cast("long"))
        .otherwise(F.lit(-9223372036854775808).cast("long")))


def _as_i64(o: Column, path: str, msg: str) -> Column:
    """``value_to_i64`` (``transform.rs:5819-5844``) — int, float with
    ``fract().abs() < f64::EPSILON`` that survives the ``as i64``
    round-trip (1e20 errors: the saturated i64 differs), or i64-STRING
    (``parse::<i64>()``: no floats, no whitespace).  ``d % 1.0`` is the
    fract test — floor/ceil return LONG in Spark and ANSI-throw on
    huge doubles (latent r7 crash: take(1e20))."""
    t = V.typeof(o)
    d = o.try_cast("double")
    s = o.try_cast("string")
    parsed = F.when(s.rlike(r"^[+-]?[0-9]+$"), s.try_cast("long"))
    i = _f64_as_i64(d)
    f_ok = (F.abs(d % F.lit(1.0)) < F.lit(_F64_EPS)) & \
        (F.abs(i.cast("double") - d) < F.lit(_F64_EPS))
    return (
        F.when(t == "BIGINT", o.try_cast("long"))
        .when(V.is_number(o) & f_ok, i)
        .when(V.is_string(o) & parsed.isNotNull(), parsed)
        .otherwise(rerr("expr_error", msg, path).cast("long"))
    )


@register("coalesce")
def op_coalesce(scope, cur, args, path):
    # first non-missing, non-null (transform.rs:1434-1457); all → missing.
    # the reference stops EVALUATING at the first present operand, so
    # a later arg binds only while every earlier operand is absent
    def build(*ops):
        guarded = [F.when(~V.is_absent(o), o) for o in ops]
        return F.coalesce(*guarded, F.lit(None).cast(V.VT))
    return _operands_bound(scope, cur, args, path, build,
                           short=lambda c: ~V.is_absent(c))


# --- numeric ops ---------------------------------------------------------

@register("+")
def op_add(scope, cur, args, path):
    return _numeric_fold(scope, cur, args, path, "+")


@register("-")
def op_sub(scope, cur, args, path):
    return _numeric_fold(scope, cur, args, path, "-", exact_two=True)


@register("*")
def op_mul(scope, cur, args, path):
    return _numeric_fold(scope, cur, args, path, "*")


@register("/")
def op_div(scope, cur, args, path):
    return _numeric_fold(scope, cur, args, path, "/", exact_two=True)


def arith_decided(o: Column, version: int) -> Column:
    """True when operand ``o`` DECIDES the arithmetic op's result
    before any later operand is consulted: missing (op → missing),
    null (null-protocol error), or a value whose number conversion
    errors (bool/container, or a string that doesn't parse — v1
    additionally requires the parse to be finite,
    ``transform.rs:5962-5981`` vs ``v2_eval.rs:1278-1304``).

    Used as the absent-guard predicate for later STEP-BEARING args:
    the reference's per-operand loop converts operand i before
    evaluating arg i+1, so a later arg's embedded raise must stay
    unevaluated whenever an earlier operand already short-circuits OR
    errors (ADVICE r8 #4 — the guard used to cover only missing/null,
    letting a later arg's error fire before an earlier conversion
    error)."""
    parsed = V.rust_f64_parse(o.try_cast("string"))
    if version >= 2:
        ok_str = parsed.isNotNull()
    else:
        ok_str = parsed.isNotNull() & ~F.isnan(parsed) & \
            (F.abs(parsed) != F.lit(float("inf")))
    convertible = V.is_number(o) | (V.is_string(o) & ok_str)
    return V.is_absent(o) | V.is_vnull(o) | ~convertible


def _numeric_fold(scope, cur, args, path, op, exact_two=False):
    """``+ - * /``: v1 ``-`` and ``/`` take exactly two operands; the
    op body is ``ops_bodies._body_arith``."""
    if exact_two and cur_version() < 2 and len(args) != 1:
        from ..errors import RuleError
        raise RuleError("invalid_args",
                        f"{op} requires exactly two operands", path)
    from .ops_bodies import body_op
    return body_op(op, scope, cur, args, path)


# --- logical ops ---------------------------------------------------------

@register("and")
def op_and(scope, cur, args, path):
    return _and_or(scope, cur, args, path, is_and=True)


@register("or")
def op_or(scope, cur, args, path):
    return _and_or(scope, cur, args, path, is_and=False)


def _and_or(scope, cur, args, path, *, is_and: bool):
    """Short-circuits on false/true BEFORE later args can error; missing
    args are skipped but make a non-short-circuited result missing
    (``transform.rs:5340-5388``).

    Each operand is let-bound inside the previous level's ``otherwise``
    branch, so a later arg's sub-tree (which may raise) is only
    evaluated when no earlier arg already decided the result —
    ``or: [[1, {divide: [0]}]]`` over a true pipe value must return
    true, not divide-by-zero (``v2_eval.rs``
    ``test_eval_op_and_or_short_circuit``).  A flat ``let_many`` of all
    operands (as ``_operands_bound`` does) would force-evaluate every
    arg up front and break that contract."""
    ops = _operands(scope, cur, args, path)

    def level(i: int, any_missing: Column) -> Column:
        if i == len(ops):
            return F.when(any_missing, F.lit(None).cast(V.VT)).otherwise(
                V.bool_to_variant(F.lit(is_and)))

        def body(x: Column) -> Column:
            flag = F.when(x.isNull(), F.lit(None)).otherwise(
                V.to_bool_strict(x, arg_path(path, i),
                                 "value must be a boolean"))
            # and: stop on false; or: stop on true
            short = ~flag if is_and else flag
            return F.when(F.coalesce(short, F.lit(False)),
                          V.bool_to_variant(F.lit(not is_and))).otherwise(
                level(i + 1, any_missing | flag.isNull()))

        return V.let(ops[i], body)

    return level(0, F.lit(False))


@register("not")
def op_not(scope, cur, args, path):
    """Null is NOT the generic null-protocol error here: both versions
    route null through ``value_as_bool`` → "value must be a boolean"
    (``transform.rs:5411-5417``, ``v2_eval.rs:2528-2534``)."""
    ops = _operands(scope, cur, args, path)
    b = V.to_bool_strict(ops[0], arg_path(path, 0),
                         "value must be a boolean")
    return seq_strict(ops, path, V.bool_to_variant(~b),
                      null_msg="value must be a boolean")


# --- v1 comparison ops (string-coerced eq; numeric-only orderings) --------

def _v1_to_string(o: Column, path: str) -> Column:
    return V.to_string_strict(o, path, "value must be string/number/bool")


def _v1_eq(left: Column, right: Column, lp: str, rp: str) -> Column:
    """``compare_eq`` (``transform.rs:5480-5493``): null==null true;
    one-sided null false; else string-coerced equality (1 == "1")."""
    ln = V.is_absent(left)   # v1 converts missing → null before comparing
    rn = V.is_absent(right)
    return (
        F.when(ln | rn, ln & rn)
        .otherwise(_v1_to_string(left, lp) == _v1_to_string(right, rp))
    )


def java_regex_invalid(pattern: str) -> bool:
    """True when the JVM's ``java.util.regex`` rejects the pattern —
    the dialect ``rlike`` will actually execute.  A broken literal
    pattern must surface the reference's ExprError ("regex pattern is
    invalid", transform.rs:43) instead of letting Spark's raw
    INVALID_PARAMETER_VALUE escape the error envelope."""
    from . import sqlfn
    spark = sqlfn.session()
    if spark is None:
        return False
    try:
        spark._jvm.java.util.regex.Pattern.compile(pattern)
        return False
    except Exception:
        return True


def _literal_pattern(arg) -> str | None:
    from ..expr_ir import StartLiteral
    if isinstance(arg.start, StartLiteral) and not arg.steps \
            and isinstance(arg.start.value, str):
        return arg.start.value
    return None


def py_regex_error(pattern: str) -> str | None:
    """Python ``re.compile`` error text, None when the pattern is valid
    — the repo-wide approximation of the Rust regex crate's Display
    (the v2 wordings embed it: ``invalid regex pattern: {e}``,
    compare_values_match v2_eval.rs:1208; the interpreter oracle uses
    the same approximation)."""
    import re as _re2
    try:
        _re2.compile(pattern)
        return None
    except _re2.error as e:
        return str(e)


def _v1_compare_op(name, pyop=None, eq=False, negate=False):
    @register(name)
    def _op(scope, cur, args, path):
        bad_pattern = False
        v2_regex_err = None
        if name == "~=" and args:
            lit = _literal_pattern(args[-1])
            if lit is not None:
                if cur_version() >= 2:
                    # the v2 ~= op compiles the pattern fresh and wraps
                    # the failure text (``invalid regex pattern: {e}``,
                    # eval_v2_op_step ~=; python-re approximation like
                    # the interpreter oracle)
                    v2_regex_err = py_regex_error(lit)
                bad_pattern = v2_regex_err is None \
                    and java_regex_invalid(lit)
        # v1 compare evaluates BOTH operands unconditionally
        # (eval_compare, transform.rs:5439-5459 — missing folds to
        # null via eval_expr_value_or_null_at, no short-circuit)
        return _operands_bound(
            scope, cur, args, path,
            lambda *ops: _cmp_build(ops, path, bad_pattern,
                                    v2_regex_err),
            short=None)

    def _cmp_build(ops, path, bad_pattern=False, v2_regex_err=None):
        left, right = ops[0], ops[1]
        lp, rp = arg_path(path, 0), arg_path(path, 1)
        if eq:
            res = _v1_eq(left, right, lp, rp)
            if negate:
                res = ~res
        elif name == "~=":
            s = F.when(V.is_string(left), left.try_cast("string")).otherwise(
                rerr("expr_error", "value must be a string", lp)
                .cast("string"))
            pat = F.when(V.is_string(right), right.try_cast("string")).otherwise(
                rerr("expr_error", "value must be a string", rp)
                .cast("string"))
            if v2_regex_err is not None or bad_pattern:
                # invalid pattern reports at the pattern's path AFTER
                # both sides stringify (match_regex / v2 ~=); v1 wording
                # "regex pattern is invalid" (cached_regex), v2 wraps
                # the compile error text
                msg = ("regex pattern is invalid" if bad_pattern
                       else f"invalid regex pattern: {v2_regex_err}")
                return F.when(
                    F.length(F.concat(_chk(s), _chk(pat))) >= 1,
                    V.cached_col("raise", "__unreachable__",
                                 lambda: F.raise_error(
                                     F.lit("unreachable probe")))
                    .cast(V.VT)).otherwise(
                    rerr("expr_error", msg, rp).cast(V.VT))
            res = F.rlike(s, pat)
        else:
            ln = V.to_number_strict(left, lp,
                                    "comparison operand must be a number")
            rn = V.to_number_strict(right, rp,
                                    "comparison operand must be a number")
            res = pyop(ln, rn)
        return V.bool_to_variant(res)
    return _op


import operator as _operator

_v1_compare_op("==", eq=True)
_v1_compare_op("!=", eq=True, negate=True)
_v1_compare_op("<", _operator.lt)
_v1_compare_op("<=", _operator.le)
_v1_compare_op(">", _operator.gt)
_v1_compare_op(">=", _operator.ge)
_v1_compare_op("~=")


# --- type casts -----------------------------------------------------------

@register("string")
def op_cast_string(scope, cur, args, path):
    """v2-only cast (v1 has no cast expr ops): STRICT value_to_string —
    unlike ``to_string``, null and containers ERROR ("value must be
    string/number/bool") and integral floats render trimmed
    (``eval_type_cast`` → ``value_to_string``, ``v2_eval.rs:1747,
    1664-1675``)."""
    ops = _operands(scope, cur, args, path)
    s = V.to_string_strict(ops[0], path,
                           "value must be string/number/bool")
    return seq_strict(ops, path, s.cast(V.VT),
                      null_msg="value must be string/number/bool")


@register("int")
def op_cast_int(scope, cur, args, path):
    """int / integral float / integer string, else error
    (``v2_eval.rs:1677-1698``, ``transform.rs:5939-5960``)."""
    ops = _operands(scope, cur, args, path)
    o = ops[0]
    t = V.typeof(o)
    d = o.try_cast("double")
    s = o.try_cast("string")
    s_parsed = F.when(s.rlike(r"^[+-]?[0-9]+$"), s.try_cast("long"))
    # cast_to_int saturates (``f as i64``, transform.rs:5945-5947):
    # int(1e20) is i64::MAX, not an error; the fract test is
    # ``< f64::EPSILON`` via ``d % 1.0`` (floor ANSI-throws on 1e20)
    result = (
        F.when(t == "BIGINT", o.try_cast("long"))
        .when(V.is_number(o) & (F.abs(d % F.lit(1.0)) < F.lit(_F64_EPS)),
              _f64_as_i64(d))
        .when(V.is_string(o) & s_parsed.isNotNull(), s_parsed)
        .otherwise(rerr("expr_error", "failed to cast to int",
                        path).cast("long"))
    )
    # v2-only op: kind is ExprError (``type_cast_error``,
    # ``v2_eval.rs:1734-1740``) and null falls through to the cast
    # error, not the generic null protocol (``eval_type_cast`` has no
    # null arm — ``cast_to_int(Null)`` hits the catch-all)
    return seq_strict(ops, path, result.cast(V.VT),
                      null_msg="failed to cast to int")


@register("float")
def op_cast_float(scope, cur, args, path):
    ops = _operands(scope, cur, args, path)
    o = ops[0]
    # cast_to_float: Rust parse::<f64> grammar, FINITE only
    # (transform.rs:5962-5982 — "inf"/"nan" parse but fail the finite
    # check; whitespace never parses)
    parsed = V.rust_f64_parse(o.try_cast("string"))
    finite = parsed.isNotNull() & ~F.isnan(parsed) & \
        (F.abs(parsed) != F.lit(float("inf")))
    result = (
        F.when(V.is_number(o), o.try_cast("double"))
        .when(V.is_string(o) & finite, parsed)
        .otherwise(rerr("expr_error", "failed to cast to float",
                        path).cast("double"))
    )
    return seq_strict(ops, path, result.cast(V.VT),
                      null_msg="failed to cast to float")


@register("bool")
def op_cast_bool(scope, cur, args, path):
    """bool, or "true"/"false" case-insensitively — never "1"
    (``transform.rs:5984-5994``)."""
    ops = _operands(scope, cur, args, path)
    o = ops[0]
    lowered = F.lower(o.try_cast("string"))
    result = (
        F.when(V.is_bool(o), o.try_cast("boolean"))
        .when(V.is_string(o) & lowered.isin("true", "false"),
              lowered == "true")
        .otherwise(rerr("expr_error", "failed to cast to bool",
                        path).cast("boolean"))
    )
    return seq_strict(ops, path, result.cast(V.VT),
                      null_msg="failed to cast to bool")
