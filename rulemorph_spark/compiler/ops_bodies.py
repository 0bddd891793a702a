"""The ops written ONCE and rendered by every engine: the string /
stringify ops — ``trim/lowercase/uppercase``, ``to_string``,
``concat``, ``split``, ``pad_start/pad_end``, ``replace``, ``to_base``
and ``round`` (``transform.rs:1403-2574``) — and the arithmetic ops
``+ - * /`` (v1 ``transform.rs:2375-2435``, v2 ``v2_eval.rs:1848-1928``).

Three layers, each defined once:

- **Kernels** (``replace``, ``split``, ``pad``, ``to_base``,
  ``round_half_away``, ``arith_fold`` and their argument checks) hold
  the op semantics over already-converted values, written against the
  ``backend.py`` protocol.  The variant engine renders them through
  ``SqlB`` / ``ColB``, the typed engine (``typed.py``) through a
  lambda-free ``InlineColB`` whose errors are its ``_terr``, and
  ``functions/scalar.py`` through a plain ``InlineColB``.
- **Variant bodies** (``_body_*``) wrap a kernel for the variant
  engine: per-operand conversion, the kernel, then the positional
  missing/null/check protocol.  The conversions and the protocol are
  the engine's, reached through an operand adapter: ``_SqlOperands``
  for ``SqlB`` (calls of the shared helper session functions, the
  number converters' SQL text and the textual ``layers``),
  ``_ColOperands`` for ``ColB`` (the ``variant`` converters and
  ``ops_scalar.seq_strict``).
- **One entry** (``body_op``): outside Catalyst lambda scopes the
  body renders through ``SqlB`` into ONE session SQL function
  ``f(o0 VARIANT, …) RETURNS VARIANT`` (``sqlfn.py``) — the call site
  costs O(1) py4j round trips, the analyzer binds each argument once,
  and the optimizer inlines the body.  Lambda scopes, composed rules,
  step-bearing arguments and heavy concats render the same body
  through ``ColB`` into an inline Column tree.

The string SQL bodies are **lambda-free** (except ``round``): they
sequence the protocol textually — per operand, in order, a missing
short-circuit, the variant-null error, then a zero-length CHECK PROBE
of the operand's conversion (``substring(<as_nullable(conv)>, 1, 0)``
— raises the conversion's embedded errors without contributing bytes;
the ``as_nullable`` wrap is ``try_element_at(slice(array(x), 1, 1),
1)``, the textual ``variant.as_nullable``, so SimplifyConditionals
cannot fold the probe away).  Lambda-free bodies keep the final
projection inside whole-stage codegen (pinned in
tests/test_string_sqlfn.py).

Textual duplication of the CONVERSIONS multiplied into 150 kB bodies
that OOM'd the ANTLR parser (the known 70 kB class), so the heavy
conversions live in shared HELPER session functions registered once
per session (``_ensure_helpers`` — a SQL UDF body may call other SQL
UDFs): each value reference inside a helper is a free PARAMETER
reference, and op bodies shrink to a few hundred bytes of helper calls
while staying lambda-free.  Error payloads (and the ``%%DBG%%``
prefix/suffix of value-embedding messages) pass as call-site slot
parameters; a NULL payload renders the lenient (when-condition) typed
NULL instead of raising.

``round`` keeps ``b.let`` bindings: its intermediates multiply through
the power/scale math (round sites stay CodegenFallback in the variant
engine; the typed engine's inline lets keep them lambda-free).

The arithmetic body (``_body_arith``) keeps EAGER ``b.let`` bindings
instead of check probes: per operand, in order, missing
short-circuits the op, variant-null errors, then the operand's number
conversion binds once through a let (the transform's array argument
evaluates before the body), so a conversion error for operand i fires
before operand i+1's missing check, as in the reference loop.  Its
conversions are inline SQL text, not helper calls, and a probe plus
the fold would reference each of them twice: the textually duplicated
conversions of an n-operand fold hit the 70 kB ANTLR limit.

The SQL path engages only in flat rules and when NO argument carries
pipe steps — a step-bearing argument's embedded raises need the Column
path's absent-guard machinery.  The numeric-first ops are the
exceptions: ``round`` and the arithmetic ops guard each step-bearing
later argument on ``ops_scalar.arith_decided`` of every earlier
operand instead, and arithmetic also takes the SQL path in composed
rules.  Parity of the two renderings and the interpreter is pinned
case by case in tests/test_string_sqlfn.py and by the three-way
fuzzers.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import variant as V
from .backend import ColB, SqlB
from .core import arg_path, cur_version, lenient_on, register
from .ops_scalar import (_as_i64, _as_string, _chk, _operands,
                         _operands_bound, arith_decided, seq_strict)

_F64_EPS = 2.220446049250313e-16
_I64_MAX = 9223372036854775807


# --- kernels: op semantics over converted values -------------------------

_UNARY_FN = {"trim": "trim", "lowercase": "lower", "uppercase": "upper"}


def unary_string(b, op, s):
    """trim / lowercase / uppercase."""
    return b.fn(_UNARY_FN[op], s)


def replace_literal_first(b, value, pattern, replacement):
    """Literal first-occurrence replace (``transform.rs:2223``); an
    empty pattern prepends."""
    pos = b.fn("instr", value, pattern)  # 1-based, 0 = no match
    return b.case(
        [(b.eq(pattern, b.lit("")), b.concat(replacement, value)),
         (b.eq(pos, b.lit(0)), value)],
        b.concat(
            b.fn("substring", value, b.lit(1), b.op("-", pos, b.lit(1))),
            replacement,
            b.fn("substring", value,
                 b.op("+", pos, b.fn("length", pattern)),
                 b.fn("length", value))))


def replace(b, value, pattern, replacement, mode, mode_path):
    """The four modes (``transform.rs:2162-2236``): ``__first__``
    (the 3-arg default) literal-first, ``all`` literal-all, ``regex``
    regex-first, ``regex_all`` regex-all."""
    lit_first = replace_literal_first(b, value, pattern, replacement)
    lit_all = b.fn("replace", value, pattern, replacement)
    # regex-first splice: locate, then re-replace just the matched
    # slice so $n group references still resolve (Rust
    # regex.replace(first))
    rpos = b.fn("regexp_instr", value, pattern)  # 1-based, 0 = miss
    matched = b.fn("regexp_extract", value, pattern, b.lit(0))
    head = b.fn("substring", value, b.lit(1), b.op("-", rpos, b.lit(1)))
    tail = b.fn("substring", value,
                b.op("+", rpos, b.fn("length", matched)),
                b.fn("length", value))
    replaced = b.fn("regexp_replace", matched, pattern, replacement)
    rx_first = b.case([(b.eq(rpos, b.lit(0)), value)],
                      b.concat(head, replaced, tail))
    rx_all = b.fn("regexp_replace", value, pattern, replacement)
    return b.case(
        [(b.eq(mode, b.lit("__first__")), lit_first),
         (b.eq(mode, b.lit("all")), lit_all),
         (b.eq(mode, b.lit("regex")), rx_first),
         (b.eq(mode, b.lit("regex_all")), rx_all)],
        b.err("expr_error", "replace mode must be all|regex|regex_all",
              mode_path, "string"))


def split_delim(b, delim, path):
    """The delimiter check: empty is an error."""
    return b.case(
        [(b.eq(delim, b.lit("")),
          b.err("expr_error", "split delimiter must not be empty", path,
                "string"))], delim)


def split(b, value, delim):
    """Literal delimiter, keeps empty parts (``transform.rs:2238-2282``):
    Spark's split takes a regex, so the delimiter is escaped per row."""
    escaped = b.fn("regexp_replace", delim,
                   b.lit(r"([\\.\[\]\{\}\(\)\*\+\?\^\$\|])"),
                   b.lit(r"\\$1"))
    return b.fn("split", value, escaped, b.lit(-1))


def pad_length(b, length, path):
    """The pad-length check: negative is an error."""
    return b.case(
        [(b.lt(length, b.lit(0)),
          b.err("expr_error", "pad length must be a non-negative "
                "integer", path, "long"))], length)


def pad(b, value, length, fill, start):
    """``pad_start`` / ``pad_end``: Spark's lpad/rpad truncate long
    values and mishandle an empty pad; the reference returns the value
    unchanged (``transform.rs:2356-2373``)."""
    padded = b.fn("lpad" if start else "rpad", value, b.cast(length, "int"),
                  fill)
    return b.case(
        [(b.or_(b.ge(b.fn("length", value), length),
                b.eq(fill, b.lit(""))), value)], padded)


def base_range(b, base, path):
    """The to_base radix check: 2..36."""
    return b.case(
        [(b.or_(b.lt(base, b.lit(2)), b.gt(base, b.lit(36))),
          b.err("expr_error", "base must be between 2 and 36", path,
                "long"))], base)


def to_base(b, number, base):
    """int → base-2..36 lowercase digits with ``-`` for negatives
    (``to_radix_string``, ``transform.rs:5861-5888``; Spark's ``conv``
    is unsigned and uppercase)."""
    digits = b.fn("lower",
                  b.fn("conv", b.cast(b.fn("abs", number), "string"),
                       b.lit(10), b.cast(base, "int")))
    return b.case([(b.lt(number, b.lit(0)),
                    b.concat(b.lit("-"), digits))], digits)


def round_scale(b, scale, path):
    """The round scale checks, split like the reference (``eval_round``,
    ``transform.rs:2437-2476``): negative vs too large."""
    return b.case(
        [(b.lt(scale, b.lit(0)),
          b.err("expr_error", "scale must be a non-negative integer",
                path, "long")),
         (b.gt(scale, b.lit(308)),
          b.err("expr_error", "scale is too large", path, "long"))],
        scale)


def round_half_away(b, number, scale, finish=lambda x: x):
    """Rust ``f64::round`` (half away from zero) at ``scale`` decimals
    (``transform.rs:2437-2515``); ``finish`` maps the double result.

    Doubles at |x| >= 2^53 are already integral, where ``f64::round``
    is the identity — and Spark's floor/ceil over DOUBLE return LONG,
    which would clamp ``round(1e20)`` to 9.2e18."""
    def with_scaled(factor, scaled):
        rounded = b.case(
            [(b.ge(b.fn("abs", scaled), b.lit(9007199254740992.0)),
              scaled)],
            b.cast(b.case(
                [(b.ge(scaled, b.lit(0)),
                  b.fn("floor", b.op("+", scaled, b.lit(0.5))))],
                b.fn("ceil", b.op("-", scaled, b.lit(0.5)))), "double"))
        return finish(b.op("/", rounded, factor))

    return b.let(number, lambda n: b.let(
        b.fn("pow", b.lit(10.0), b.cast(scale, "double")),
        lambda factor: b.let(b.op("*", n, factor),
                             lambda scaled: with_scaled(factor, scaled))))


def arith_fold(b, op, nums, divide=None):
    """The f64 left fold of ``+ - * /`` over converted operands
    (``transform.rs:2375-2435``, ``v2_eval.rs:1848-1928``);
    ``divide(i, acc, n)`` replaces the plain division step."""
    acc = nums[0]
    for i, n in enumerate(nums[1:], start=1):
        acc = (divide(i, acc, n) if op == "/" and divide is not None
               else b.op(op, acc, n))
    return acc


def non_finite(b, x):
    """NaN or ±inf: serde's ``Number::from_f64`` has no such value."""
    return b.or_(b.fn("isnan", x),
                 b.eq(b.fn("abs", x), b.lit(float("inf"))))


# --- serde / Rust render chains (helper-body internals) -----------------


def _typeof(b, v):
    return b.fn("schema_of_variant", v)


def _is_string(b, v):
    return b.eq(_typeof(b, v), b.lit("STRING"))


def _sql_is_number(b, v):
    """``variant.is_number``."""
    t = _typeof(b, v)
    return b.or_(b.isin(t, "BIGINT", "DOUBLE"),
                 b.fn("startswith", t, b.lit("DECIMAL")))


def _sql_serde_int_kind(b, v):
    """``variant._serde_int_kind``."""
    t = _typeof(b, v)
    d = b.try_cast(v, "decimal(38,0)")
    huge = b.and_(
        b.rlike(t, r"^DECIMAL\(\d+,0\)$"),
        b.and_(b.gt(d, b.cast(b.lit("9223372036854775807"),
                              "decimal(38,0)")),
               b.le(d, b.cast(b.lit("18446744073709551615"),
                              "decimal(38,0)"))))
    return b.or_(b.eq(t, b.lit("BIGINT")),
                 b.fn("coalesce", huge, b.lit(False)))


def _sci_probe_body(b, d):
    """Shortest round-tripping ``%.pE`` rendering of ``d`` (the
    16-candidate probe chain of ``variant._sci_efmt`` /
    ``_sci_positional``).

    r10: registered as its OWN helper function and handed to the two
    render helpers as a STRING parameter — SQL-UDF parameters are
    let-bound by the analyzer (one Project alias), so the probe chain
    appears ONCE per call site instead of being textually copied into
    every mantissa/exponent/digit reference of the renders.  That
    blowup made ``tostr1`` a 24.7 kB body whose ~2.9 s analysis was
    the longest link of the extended-anchor first-compile chain
    (VERDICT r9 #4); values are identical — each former textual copy
    evaluated the same deterministic expression the parameter now
    binds once."""
    pairs = []
    for p in range(0, 16):
        cand = b.fn("format_string", b.lit(f"%.{p}E"), d)
        pairs.append((b.eq(b.try_cast(cand, "double"), d), cand))
    return b.case(pairs, b.fn("format_string", b.lit("%.16E"), d))


def _sci_efmt_render_body(b, sci):
    """``variant._sci_efmt``'s render over an already-probed ``sci``."""
    mant = b.fn("regexp_extract", sci, b.lit(r"^(-?[^eE]+)"), b.lit(1))
    exp = b.fn("regexp_extract", sci, b.lit(r"[eE]([+-]?\d+)$"), b.lit(1))
    mant = b.fn("regexp_replace", mant, b.lit(r"\.0$"), b.lit(""))
    exp = b.fn("regexp_replace",
               b.fn("regexp_replace", exp, b.lit(r"^\+"), b.lit("")),
               b.lit(r"^(-?)0+(\d)"), b.lit(r"$1$2"))
    return b.concat(mant, b.lit("e"), exp)


def _sci_pos_render_body(b, sci, d):
    """``variant._sci_positional``'s render over a probed ``sci``."""
    zeros = "0" * 330
    sign = b.case(
        [(b.fn("startswith", b.cast(d, "string"), b.lit("-")),
          b.lit("-"))], b.lit(""))
    mant_int = b.fn("regexp_extract", sci, b.lit(r"^-?(\d+)"), b.lit(1))
    mant_frac = b.fn("regexp_extract", sci, b.lit(r"\.(\d+)[eE]"),
                     b.lit(1))
    exp = b.cast(b.fn("regexp_extract", sci,
                      b.lit(r"[eE]([+-]?\d+)$"), b.lit(1)), "int")
    digits = b.concat(mant_int, mant_frac)
    shift = b.op("-", exp, b.fn("length", mant_frac))
    big = b.concat(sign, digits,
                   b.fn("substring", b.lit(zeros), b.lit(1), shift))
    lead = b.op("-", b.op("-", b.lit(0), exp), b.fn("length", mant_int))
    tiny = b.concat(sign, b.lit("0."),
                    b.fn("substring", b.lit(zeros), b.lit(1), lead),
                    digits)
    return b.case([(b.ge(exp, b.lit(0)), big)], tiny)


def _sql_sci_efmt(b, d, H):
    """``variant._sci_efmt`` (ryu bare-``e`` scientific form) as two
    helper calls: render(probe(d))."""
    return b.fn(H["sciefr"], b.fn(H["sci"], d))


def _sql_sci_positional(b, d, H):
    """``variant._sci_positional`` (positional digit-shift expansion)
    as two helper calls: render(probe(d), d)."""
    return b.fn(H["sciposr"], b.fn(H["sci"], d), d)


def _sql_serde_float_text(b, s, d, H):
    """``variant.serde_float_text`` (serde/ryu float Display)."""
    has_e = b.rlike(s, "[eE]")
    plain_zone = b.and_(b.ge(b.fn("abs", d), b.lit(1e-4)),
                        b.lt(b.fn("abs", d), b.lit(1e16)))
    dec = b.fn("regexp_replace",
               b.cast(b.try_cast(d, "decimal(38,21)"), "string"),
               b.lit(r"(\.\d*?)0+$"), b.lit(r"$1"))
    dec = b.fn("regexp_replace", dec, b.lit(r"\.$"), b.lit(".0"))
    dec = b.case([(b.fn("contains", dec, b.lit(".")), dec)],
                 b.concat(dec, b.lit(".0")))
    return b.case(
        [(b.not_(has_e),
          b.case([(b.fn("contains", s, b.lit(".")), s)],
                 b.concat(s, b.lit(".0")))),
         (plain_zone, dec)],
        _sql_sci_efmt(b, d, H))


def _sql_serde_num_str(b, v, H):
    """``variant.serde_num_str`` (serde ``Number`` Display)."""
    flt = _sql_serde_float_text(b, b.try_cast(v, "string"),
                                b.try_cast(v, "double"), H)
    return b.case(
        [(_sql_serde_int_kind(b, v),
          b.cast(b.try_cast(v, "decimal(38,0)"), "string"))], flt)


def _sql_rust_f64_display(b, d, H):
    """``variant.rust_f64_display`` (Rust ``{}`` of a finite f64)."""
    s = b.cast(d, "string")
    dec = b.fn("regexp_replace",
               b.cast(b.try_cast(d, "decimal(38,21)"), "string"),
               b.lit(r"(\.\d*?)0+$"), b.lit(r"$1"))
    dec = b.fn("regexp_replace", dec, b.lit(r"\.$"), b.lit(""))
    neg_zero = b.and_(b.eq(d, b.lit(0.0)),
                      b.fn("startswith", s, b.lit("-")))
    integral = b.eq(b.fn("abs", b.op("%", d, b.lit(1.0))), b.lit(0.0))
    small_int = b.and_(integral,
                       b.lt(b.fn("abs", d), b.lit(9007199254740992.0)))
    return b.case(
        [(b.fn("isnan", d), b.lit("NaN")),
         (b.eq(d, b.lit(float("inf"))), b.lit("inf")),
         (b.eq(d, b.lit(float("-inf"))), b.lit("-inf")),
         (neg_zero, b.lit("-0")),
         (small_int, b.cast(b.try_cast(d, "long"), "string")),
         (b.and_(b.ge(b.fn("abs", d), b.lit(1e-3)),
                 b.lt(b.fn("abs", d), b.lit(1e16))), dec)],
        _sql_sci_positional(b, d, H))


# --- helper session functions -------------------------------------------


def _cond_err(e, t):
    """Raise the encoded payload in param ``e``; a NULL payload is the
    lenient typed NULL (``core.rerr``'s two modes, at runtime)."""
    return (f"(CASE WHEN {e} IS NULL THEN CAST(NULL AS {t}) "
            f"ELSE CAST(raise_error({e}) AS {t}) END)")


def _dbg(b, v):
    """``%%DBG:<hex-of-json>%%`` value marker (``variant.raise_err_got``)."""
    return b.concat(
        b.lit("%%DBG:"),
        b.fn("hex", b.fn("encode",
                         b.fn("coalesce", b.fn("to_json", v),
                              b.lit("null")),
                         b.lit("UTF-8"))),
        b.lit("%%"))


def _h_asstr1(b):
    """``ops_scalar._as_string`` (v1 ``value_as_string``)."""
    return b.case([(_is_string(b, "v"), b.try_cast("v", "string"))],
                  _cond_err("e", "STRING"))


def _h_tostr1(b, H):
    """``variant.to_string_strict`` (v1 ``value_to_string``)."""
    t = _typeof(b, "v")
    return b.case(
        [(b.isnull("v"), b.null("string")),
         (b.eq(t, b.lit("STRING")), b.try_cast("v", "string")),
         (b.eq(t, b.lit("BOOLEAN")), b.try_cast("v", "string")),
         (b.eq(t, b.lit("BIGINT")), b.try_cast("v", "string")),
         (b.and_(_sql_is_number(b, "v"), _sql_serde_int_kind(b, "v")),
          b.cast(b.try_cast("v", "decimal(38,0)"), "string")),
         (_sql_is_number(b, "v"),
          _sql_rust_f64_display(b, b.try_cast("v", "double"), H))],
        _cond_err("e", "STRING"))


def _h_asstr2(b, numstr_name):
    """``variant.as_string_v2`` (``eval_value_as_string``); the error
    arm renders ``expected string, got {:?}`` from the pre/suf payload
    parts around the value's debug marker."""
    t = _typeof(b, "v")
    err = (f"(CASE WHEN pre IS NULL THEN CAST(NULL AS STRING) ELSE "
           f"CAST(raise_error("
           f"{b.fn('concat', 'pre', _dbg(b, 'v'), 'suf')}) AS STRING) "
           f"END)")
    return b.case(
        [(b.isnull("v"), b.null("string")),
         (b.eq(t, b.lit("STRING")), b.try_cast("v", "string")),
         (b.eq(t, b.lit("BOOLEAN")), b.try_cast("v", "string")),
         (_sql_is_number(b, "v"), b.fn(numstr_name, "v"))],
        err)


def _h_asi64(b):
    """``ops_scalar._as_i64`` (``value_to_i64``, transform.rs:5819)."""
    t = _typeof(b, "v")
    d = b.try_cast("v", "double")
    s = b.try_cast("v", "string")
    parsed = b.case(
        [(b.rlike(s, r"^[+-]?[0-9]+$"), b.try_cast(s, "long"))],
        b.null("long"))
    i = b.fn("coalesce", b.try_cast(d, "long"),
             b.case([(b.gt(d, b.lit(0.0)),
                      b.cast(b.lit(_I64_MAX), "long"))],
                    b.cast("(-9223372036854775807 - 1)", "long")))
    f_ok = b.and_(
        b.lt(b.fn("abs", b.op("%", d, b.lit(1.0))), b.lit(_F64_EPS)),
        b.lt(b.fn("abs", b.op("-", b.cast(i, "double"), d)),
             b.lit(_F64_EPS)))
    return b.case(
        [(b.eq(t, b.lit("BIGINT")), b.try_cast("v", "long")),
         (b.and_(_sql_is_number(b, "v"), f_ok), i),
         (b.and_(_is_string(b, "v"), b.isnotnull(parsed)), parsed)],
        _cond_err("e", "BIGINT"))


def _ensure_helpers():
    """Register the shared conversion helpers (idempotent per session);
    returns the tag→name map, or None when SQL UDFs are unavailable."""
    from . import sqlfn
    H = {}

    def reg(tag, params, returns, body):
        name = sqlfn.ensure_fn(params, returns, body, f"h{tag}")
        if name is not None:
            H[tag] = name
        return name

    b = SqlB(False)
    if reg("asstr1", "v VARIANT, e STRING", "STRING",
           _h_asstr1(b)) is None:
        return None
    # r10 (VERDICT r9 #4): the sci probe chain and its two renders are
    # standalone helpers — the probe result binds ONCE as a let-bound
    # STRING parameter instead of being textually duplicated into
    # every mantissa/exponent reference, collapsing tostr1/numstr from
    # ~25 kB bodies (the first-compile analysis wall) to ~2 kB ones.
    reg("sci", "d DOUBLE", "STRING", _sci_probe_body(b, "d"))
    reg("sciefr", "sci STRING", "STRING", _sci_efmt_render_body(b, "sci"))
    reg("sciposr", "sci STRING, d DOUBLE", "STRING",
        _sci_pos_render_body(b, "sci", "d"))
    reg("tostr1", "v VARIANT, e STRING", "STRING", _h_tostr1(b, H))
    reg("numstr", "v VARIANT", "STRING", _sql_serde_num_str(b, "v", H))
    reg("asstr2", "v VARIANT, pre STRING, suf STRING", "STRING",
        _h_asstr2(b, H["numstr"]))
    reg("asi64", "v VARIANT, e STRING", "BIGINT", _h_asi64(b))
    return H if len(H) == 8 else None


# --- the variant engine's operand side, per backend ----------------------


_UNREACHABLE = "CAST(raise_error('unreachable probe') AS VARIANT)"


def _sql_rust_f64_parse(b, s):
    """``variant.rust_f64_parse``."""
    low = b.fn("lower", s)
    special = b.case(
        [(b.isin(low, "inf", "infinity", "+inf", "+infinity"),
          b.lit(float("inf"))),
         (b.isin(low, "-inf", "-infinity"), b.lit(float("-inf"))),
         (b.isin(low, "nan", "+nan", "-nan"), b.lit(float("nan")))],
        b.null("double"))
    return b.case([(b.rlike(s, V.RUST_F64_NUM_RE), b.try_cast(s, "double"))],
                  special)


def _sql_to_number_strict(b, v, path, msg):
    """``variant.to_number_strict`` (v1 ``value_to_number``)."""
    err = b.err("expr_error", msg, path, "double")
    parsed = _sql_rust_f64_parse(b, b.try_cast(v, "string"))
    finite = b.and_(
        b.isnotnull(parsed),
        b.and_(b.not_(b.fn("isnan", parsed)),
               b.ne(b.fn("abs", parsed), b.lit(float("inf")))))
    return b.case(
        [(b.isnull(v), b.null("double")),
         (_sql_is_number(b, v), b.try_cast(v, "double")),
         (_is_string(b, v), b.case([(finite, parsed)], err))],
        err)


def _sql_as_number_v2(b, v, path, prefix="expected number, got "):
    """``variant.as_number_v2`` (``eval_value_as_number``); the error
    arm embeds the value's Debug rendering (``variant.raise_err_got``)."""
    from ..errors import encode_engine_error_msg_parts
    parsed = _sql_rust_f64_parse(b, b.try_cast(v, "string"))
    arms = [(b.isnull(v), b.null("double")),
            (_sql_is_number(b, v), b.try_cast(v, "double")),
            (_is_string(b, v),
             b.case([(b.isnotnull(parsed), parsed)],
                    b.err("expr_error", "failed to parse string as number",
                          path, "double")))]
    if b.lenient:
        return b.case(arms, b.null("double"))
    pre, suf = encode_engine_error_msg_parts("expr_error", prefix, path)
    return b.case(arms, b.err_raw([b.slot(pre), _dbg(b, v), b.slot(suf)],
                                  "double"))


def _sql_num_to_variant(b, d):
    """``variant.num_to_variant`` (v1 integral re-emission)."""
    return b.case(
        [(b.isnull(d), b.null("variant")),
         (b.and_(b.eq(d, b.fn("floor", d)),
                 b.le(b.fn("abs", d), b.lit(float(_I64_MAX) / 2))),
          b.cast(b.cast(d, "long"), "variant"))],
        b.cast(d, "variant"))


class _SqlOperands:
    """Conversions as calls of the shared helper session functions
    (error payloads as call-site slots) and the textual protocol."""

    def __init__(self, b: SqlB, H: dict):
        self.b, self.H = b, H

    def _err_slot(self, msg, path):
        from ..errors import encode_engine_error
        return self.b.slot(None if self.b.lenient
                           else encode_engine_error("expr_error", msg,
                                                    path))

    def as_string(self, v, path):
        return self.b.fn(self.H["asstr1"], v,
                         self._err_slot("value must be a string", path))

    def to_string(self, v, path):
        return self.b.fn(self.H["tostr1"], v, self._err_slot(
            "value must be string/number/bool", path))

    def as_string_v2(self, v, path):
        from ..errors import encode_engine_error_msg_parts
        if self.b.lenient:
            pre, suf = None, None
        else:
            pre, suf = encode_engine_error_msg_parts(
                "expr_error", "expected string, got ", path)
        return self.b.fn(self.H["asstr2"], v, self.b.slot(pre),
                         self.b.slot(suf))

    def to_string_v2(self, v):
        """v2-native to_string: never errors."""
        b = self.b
        t = _typeof(b, v)
        return b.cast(b.case(
            [(b.isnull(v), b.null("string")),
             (b.fn("coalesce", b.fn("is_variant_null", v), b.lit(False)),
              b.lit("null")),
             (b.or_(b.fn("startswith", t, b.lit("ARRAY")),
                    b.fn("startswith", t, b.lit("STRUCT"))),
              b.fn("to_json", v)),
             (_sql_is_number(b, v), b.fn(self.H["numstr"], v))],
            b.try_cast(v, "string")), "variant")

    def as_i64(self, v, path, msg):
        return self.b.fn(self.H["asi64"], v, self._err_slot(msg, path))

    def to_number(self, v, path, msg):
        return _sql_to_number_strict(self.b, v, path, msg)

    def as_number_v2(self, v, path):
        return _sql_as_number_v2(self.b, v, path)

    def num_to_variant(self, d):
        return _sql_num_to_variant(self.b, d)

    def _probe(self, conv):
        """Zero-length check probe of a conversion — raises its
        embedded errors, contributes nothing (textual ``_chk``)."""
        b = self.b
        nullable = b.fn("try_element_at",
                        b.fn("slice", b.fn("array", conv), b.lit(1),
                             b.lit(1)), b.lit(1))
        return b.fn("coalesce",
                    b.fn("substring", b.cast(nullable, "string"),
                         b.lit(1), b.lit(0)),
                    b.lit(""))

    def layers(self, names, path, result, checks,
               null_msg="expr arg must not be null"):
        """``ops_scalar.seq_strict``, textual: per operand in order —
        missing short-circuits the op, variant-null errors at the
        operand's path, then the operand's conversion probe raises
        before anything later evaluates."""
        b = self.b
        for i in reversed(range(len(names))):
            inner = result
            if checks[i] is not None:
                inner = b.case(
                    [(b.ge(b.fn("length", self._probe(checks[i])),
                           b.lit(1)), _UNREACHABLE)], inner)
            inner = b.case(
                [(b.fn("coalesce", b.fn("is_variant_null", names[i]),
                       b.lit(False)),
                  b.err("expr_error", null_msg, arg_path(path, i),
                        "variant"))],
                inner)
            result = b.case([(b.isnull(names[i]), b.null("variant"))],
                            inner)
        return b.cast(result, "variant")


class _ColOperands:
    """The ``variant`` converters and ``seq_strict``."""

    as_string = staticmethod(_as_string)
    to_string = staticmethod(V.to_string_strict)
    as_string_v2 = staticmethod(V.as_string_v2)
    as_i64 = staticmethod(_as_i64)
    to_number = staticmethod(V.to_number_strict)
    as_number_v2 = staticmethod(V.as_number_v2)
    num_to_variant = staticmethod(V.num_to_variant)

    @staticmethod
    def to_string_v2(o):
        """v2-native to_string never errors: null → "null", containers
        → their JSON text, numbers via serde Display — integral floats
        keep .0 (``v2_eval.rs:1813-1825``)."""
        return (
            F.when(o.isNull(), F.lit(None).cast("string"))
            .when(V.is_vnull(o), F.lit("null"))
            .when(V.is_array(o) | V.is_object(o), F.to_json(o))
            .when(V.is_number(o), V.serde_num_str(o))
            .otherwise(o.try_cast("string"))
        ).cast(V.VT)

    @staticmethod
    def layers(ops, path, result, checks,
               null_msg="expr arg must not be null"):
        return seq_strict(list(ops), path, result, null_msg=null_msg,
                          checks=[None if c is None else _chk(c)
                                  for c in checks])


# --- variant bodies: conversion, kernel, protocol -------------------------
#
# ``o`` holds the operand handles (SQL parameter names or bound
# Columns), ``cv`` the engine's operand adapter.  Each conversion is
# built in operand order: SqlB numbers its error slots in build order.


def _body_unary_string(op, b, cv, o, path, version, safe):
    p0 = arg_path(path, 0)
    if version >= 2:
        # eval_value_as_string: serde-Display numbers accepted,
        # null/containers → "expected string, got {:?}"
        # (v2_eval.rs:1792-1811)
        s = cv.as_string_v2(o[0], p0)
        return cv.layers(o, path, b.cast(unary_string(b, op, s), "variant"),
                         [None], null_msg="expected string, got Null")
    # v1 eval_unary_string_op: strings only (transform.rs:1996-2030)
    s = cv.as_string(o[0], p0)
    return cv.layers(o, path, b.cast(unary_string(b, op, s), "variant"),
                     [None])


def _body_to_string(op, b, cv, o, path, version, safe):
    if version >= 2:
        return cv.to_string_v2(o[0])
    return cv.layers(o, path, b.cast(cv.to_string(o[0], arg_path(path, 0)),
                                     "variant"), [None])


def _body_concat(op, b, cv, o, path, version, safe):
    """Positional per-arg stringify: v1 value_to_string with "concat
    does not accept null" (transform.rs:1403-1432), v2
    eval_value_as_string with the rendered-Null wording
    (v2_eval.rs:1820-1843).  The per-arg conversion runs inside the
    reference loop — concat(array_lit, missing) is a stringify error,
    not missing — except for literal parts, which cannot fail."""
    conv = cv.as_string_v2 if version >= 2 else cv.to_string
    parts = [conv(x, arg_path(path, i)) for i, x in enumerate(o)]
    return cv.layers(o, path, b.cast(b.concat(*parts), "variant"),
                     [None if safe[i] else pt for i, pt in enumerate(parts)],
                     null_msg=("expected string, got Null" if version >= 2
                               else "concat does not accept null"))


def _body_split(op, b, cv, o, path, version, safe):
    # arg 0 converts COMPLETELY before arg 1 (eval_arg_string_at per
    # arg, transform.rs:2256-2267)
    p1 = arg_path(path, 1)
    value = cv.as_string(o[0], arg_path(path, 0))
    delim = split_delim(b, cv.as_string(o[1], p1), p1)
    return cv.layers(o, path, b.cast(split(b, value, delim), "variant"),
                     [value, delim])


def _body_pad(op, b, cv, o, path, version, safe):
    # value stringifies BEFORE the length's checks (eval_pad,
    # transform.rs:2284-2340)
    p1 = arg_path(path, 1)
    value = cv.as_string(o[0], arg_path(path, 0))
    length = pad_length(b, cv.as_i64(
        o[1], p1, "pad length must be a non-negative integer"), p1)
    fill = cv.as_string(o[2], arg_path(path, 2)) if len(o) == 3 \
        else b.lit(" ")
    result = pad(b, value, length, fill, op == "pad_start")
    return cv.layers(o, path, b.cast(result, "variant"),
                     [value, length] + ([fill] if len(o) == 3 else []))


def _body_replace(op, b, cv, o, path, version, safe):
    # each arg stringifies COMPLETELY in order (eval_replace,
    # transform.rs:2162-2200)
    convs = [cv.as_string(x, arg_path(path, i)) for i, x in enumerate(o)]
    mode = convs[3] if len(o) == 4 else b.lit("__first__")
    result = replace(b, *convs[:3], mode, arg_path(path, 3))
    return cv.layers(o, path, b.cast(result, "variant"), convs)


def _body_to_base(op, b, cv, o, path, version, safe):
    # both operands are checked for missing, then both for null, before
    # either converts (eval_to_base, transform.rs:2517-2574): a missing
    # base makes a null value missing, not a null error
    p1 = arg_path(path, 1)
    number = cv.as_i64(o[0], arg_path(path, 0), "value must be an integer")
    base = base_range(b, cv.as_i64(o[1], p1, "base must be an integer"),
                      p1)
    layered = cv.layers(o, path, b.cast(to_base(b, number, base), "variant"),
                        [None, None])
    return b.case([(b.or_(b.isnull(o[0]), b.isnull(o[1])),
                    b.null("variant"))], layered)


def _body_round(op, b, cv, o, path, version, safe):
    """round is v1-delegated even from v2 pipes, so the conversions are
    the v1 ones in both versions; the number converts BEFORE the
    scale's null/int checks (eval_round, transform.rs:2437-2476)."""
    number = cv.to_number(o[0], arg_path(path, 0), "operand must be a number")
    if len(o) == 2:
        p1 = arg_path(path, 1)
        scale = round_scale(b, cv.as_i64(
            o[1], p1, "scale must be a non-negative integer"), p1)
    else:
        scale = b.cast(b.lit(0), "long")
    result = round_half_away(b, number, scale, cv.num_to_variant)
    return cv.layers(o, path, b.cast(result, "variant"),
                     [number] + ([scale] if len(o) == 2 else []))


def _body_arith(op, b, cv, o, path, version, safe):
    """f64 fold over operands; numeric strings accepted (v1: finite
    only); v1 re-emits integral results as ints and errors on a
    non-finite one, v2 emits JSON null for it (serde's
    ``Number::from_f64``).  The protocol is layered, not probed: per
    operand in order, missing short-circuits the op, null errors, then
    the conversion binds through an EAGER let — so a conversion error
    for operand i fires before operand i+1's missing check, like the
    reference loop (``v2_eval.rs:1848-1928``; ``op_concat``,
    ``transform.rs:1403-1432``).  Each conversion appears ONCE."""
    null_msg = ("expected number, got Null" if version >= 2
                else "expr arg must not be null")

    def conv(i):
        p = arg_path(path, i)
        if version < 2:
            return cv.to_number(o[i], p, "operand must be a number")
        c = cv.as_number_v2(o[i], p)
        if op == "/" and i >= 1:
            # per-divisor zero check at the divisor's arg path, when
            # that arg is reached (v2_eval.rs:1919-1925)
            c = b.let(c, lambda v: b.case(
                [(b.eq(v, b.lit(0.0)),
                  b.err("expr_error", "division by zero", p, "double"))],
                v))
        return c

    def result(nums):
        acc = arith_fold(b, op, nums)
        if version >= 2:
            return b.case([(non_finite(b, acc),
                            b.fn("parse_json", b.lit("null")))],
                          b.cast(acc, "variant"))
        if op == "/":
            # IEEE: x/0 → ±inf in Rust; Spark double /0 → NULL
            acc = b.case(
                [(b.eq(nums[1], b.lit(0.0)),
                  b.op("*", b.lit(float("inf")), b.fn("signum", nums[0])))],
                acc)
        return b.case(
            [(b.not_(non_finite(b, acc)), cv.num_to_variant(acc))],
            b.err("expr_error", "number result is not finite", path,
                  "variant"))

    def layer(i, nums):
        if i == len(o):
            return result(nums)
        return b.case(
            [(b.isnull(o[i]), b.null("variant")),
             (b.fn("coalesce", b.fn("is_variant_null", o[i]), b.lit(False)),
              b.err("expr_error", null_msg, arg_path(path, i), "variant"))],
            b.let(conv(i), lambda v: layer(i + 1, nums + [v])))

    return b.cast(layer(0, []), "variant")


_ARITH = ("+", "-", "*", "/")

_BODIES = {
    "trim": _body_unary_string, "lowercase": _body_unary_string,
    "uppercase": _body_unary_string, "to_string": _body_to_string,
    "concat": _body_concat, "split": _body_split,
    "pad_start": _body_pad, "pad_end": _body_pad,
    "replace": _body_replace, "to_base": _body_to_base,
    "round": _body_round, **{op: _body_arith for op in _ARITH},
}

_COLB = ColB()


def _sqlfn(op, scope, cur, args, path, version, safe):
    """The session-function rendering; None → the inline Column path
    (lambda scope, SQL UDFs unavailable, a heavy concat; and, for the
    ops other than arithmetic, a composed rule or — except round — a
    step-bearing argument needing the Column path's absent-guard
    machinery)."""
    from . import sqlfn
    from .core import in_flat_rule
    arith = op in _ARITH
    if not arith and not in_flat_rule():
        # composed rules (steps / record_when / mapping gates): the
        # optimizer multiplies inlined bodies through the @out-chaining
        # projections (see core.flat_rule) — keep the Column path there
        return None
    # the numeric-first ops (arithmetic, round: the reference converts
    # operand 0 before evaluating arg 1) guard step-bearing later args
    has_steps = any(a.steps for a in args)
    if V.lambda_depth() > 0 or V.dyn_marker_depth() > 0 \
            or not sqlfn.available() \
            or (has_steps and not arith and op != "round"):
        return None
    # the arithmetic body's conversions are inline: it calls no helper
    H = {} if arith else _ensure_helpers()
    if H is None:
        return None
    if op == "concat":
        # every NON-literal part inlines the stringify helper twice
        # (check probe + result); the optimizer's tree copies grow
        # multiplicatively with parts (a 16-part numeric concat OOM'd
        # a 2g driver, and even 4 heavy v1 parts cost ~6 s of optimizer
        # churn — the v1 tostr1 helper carries the full ryu probe
        # chain).  Heavy-part-rich concats keep the Column path, whose
        # V.let bindings share each conversion subtree once.  The
        # common literal-rich shapes (the t13 anchor) stay here.
        heavy = sum(1 for s in safe if not s)
        if heavy > (2 if version < 2 else 4):
            return None
    b = SqlB(lenient_on())
    n = 1 + len(args)
    body = _BODIES[op](op, b, _SqlOperands(b, H),
                       [f"o{i}" for i in range(n)], path, version, safe)
    cols = _operands(scope, cur, args, path)
    params = ", ".join(f"o{i} VARIANT" for i in range(n))
    if b.slots:
        params += ", " + b.slot_params()
    name = sqlfn.ensure_fn(params, "VARIANT", body, "ar" if arith else "st")
    if name is None:
        return None
    guarded = list(cols)
    if has_steps:
        # a step-bearing later arg's embedded raises must not evaluate
        # on rows an earlier operand already decides (missing / null /
        # conversion error, whose error fires first in the reference's
        # per-operand order); round is v1-delegated, so the v1 finite
        # rule applies
        decided_version = version if arith else 1
        for h in (i for i, a in enumerate(args, start=1) if a.steps):
            pre = arith_decided(cols[0], decided_version)
            for j in range(1, h):
                pre = pre | arith_decided(cols[j], decided_version)
            guarded[h] = F.when(~pre, cols[h])
    return sqlfn.call(name, *guarded, *b.slot_args())


def body_op(op, scope, cur, args, path, safe=None):
    """Compile ``op`` from its ``_BODIES`` body: the session function
    when ``_sqlfn`` takes it, else the inline Column tree."""
    version = cur_version()
    safe = safe or [False] * (1 + len(args))
    fast = _sqlfn(op, scope, cur, args, path, version, safe)
    if fast is not None:
        return fast
    # these ops skip compile_step's pipe binding (core.UDF_OPS), so the
    # Column path binds the raw pipe itself — every conversion and
    # protocol piece references it several times.  A step-bearing arg
    # binds behind the op's own short-circuit: the arithmetic ops stop
    # at any operand that decides them (``arith_decided``)
    body = _BODIES[op]
    short = ((lambda c: arith_decided(c, version)) if op in _ARITH
             else V.is_absent)
    return V.let(cur, lambda x: _operands_bound(
        scope, x, args, path,
        lambda *ops: body(op, _COLB, _ColOperands, ops, path, version,
                          safe),
        short=short))


def _register(op):
    register(op)(lambda scope, cur, args, path:
                 body_op(op, scope, cur, args, path))


# concat marks its literal parts; the arithmetic ops check their v1
# arity first (ops_scalar._numeric_fold)
for _op in _BODIES:
    if _op != "concat" and _op not in _ARITH:
        _register(_op)


@register("concat")
def op_concat(scope, cur, args, path):
    from ..expr_ir import StartLiteral

    # literal scalar args can never fail value_to_string — skip their
    # check probes (each probe adds plan size; the t13 extended rule
    # concats many literals)
    safe = [False] + [
        bool(not a.steps and isinstance(a.start, StartLiteral)
             and isinstance(a.start.value, (str, int, float, bool)))
        for a in args]
    return body_op("concat", scope, cur, args, path, safe)
