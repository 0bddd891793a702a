"""Date ops: ``date_format`` and ``to_unixtime``.

The reference treats dates as strings parsed on demand with chrono
(``transform.rs:2576-2731``): RFC3339/RFC2822 first, then 8 offset-bearing
default patterns (``:5522-5531``), then 12 naive patterns (``:5533-5546``),
or an explicit chrono format list; an optional fixed-offset timezone
applies to naive values and selects the rendering offset.

Here each chrono pattern is translated **at compile time** to a Spark
datetime pattern and the parse becomes a ``coalesce(try_to_timestamp...)``
chain — Catalyst evaluates it vectorized, versus the reference's
per-record sequential parse attempts.

Format/timezone arguments must be compile-time literals (they are in every
reference fixture and benchmark); dynamic formats raise at compile time.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..errors import RuleError
from ..expr_ir import Pipe, StartLiteral
from . import variant as V
from .core import Scope, arg_path, compile_pipe, register, rerr
from .backend import ColB as _ColB
from .backend import SqlB as _SqlB
from .ops_scalar import _as_string, _operands, seq_strict

# chrono strftime token → Spark (java.time) pattern token
_CHRONO_TOKENS = {
    "%Y": "yyyy", "%m": "MM", "%d": "dd",
    "%H": "HH", "%M": "mm", "%S": "ss",
    "%y": "yy", "%b": "MMM", "%B": "MMMM",
    "%a": "EEE", "%A": "EEEE",
    "%e": "d", "%j": "DDD",
    "%F": "yyyy-MM-dd", "%T": "HH:mm:ss", "%R": "HH:mm",
    "%z": "xx", "%:z": "XXX",
    "%3f": "SSS", "%6f": "SSSSSS", "%9f": "SSSSSSSSS",
    "%%": "%",
}

_HAS_OFFSET = ("%z", "%:z", "%#z")
_DATE_ONLY_TOKENS = {"%Y", "%m", "%d", "%y", "%b", "%B", "%a", "%A", "%e",
                     "%j", "%F", "%%"}


def chrono_to_spark(fmt: str, path: str) -> list[str]:
    """Translate a chrono format → one or more Spark patterns.

    Returns several candidates when a chrono token is variable-width
    (``%.f`` matches 1-9 fractional digits; Spark's ``S`` counts are fixed).
    """
    variants = [""]
    i = 0
    while i < len(fmt):
        c = fmt[i]
        if c == "%":
            for tok_len in (3, 2):
                tok = fmt[i:i + tok_len]
                if tok in _CHRONO_TOKENS:
                    variants = [v + _CHRONO_TOKENS[tok] for v in variants]
                    i += tok_len
                    break
            else:
                if fmt[i:i + 3] == "%.f":
                    variants = [v + ".".join(["", "S" * n])
                                for v in variants
                                for n in (3, 6, 1, 2, 4, 5, 7, 8, 9)]
                    i += 3
                else:
                    raise RuleError("expr_error",
                                    f"unsupported date format token at "
                                    f"{fmt[i:i + 3]!r} in {fmt!r}", path)
        elif c.isalpha():
            variants = [v + f"'{c}'" for v in variants]
            i += 1
        elif c == "'":
            variants = [v + "''" for v in variants]
            i += 1
        else:
            variants = [v + c for v in variants]
            i += 1
    return variants


def _fmt_has_offset(fmt: str) -> bool:
    return any(t in fmt for t in _HAS_OFFSET)


def _fmt_has_time(fmt: str) -> bool:
    i, has_time = 0, False
    while i < len(fmt):
        if fmt[i] == "%":
            tok3, tok2 = fmt[i:i + 3], fmt[i:i + 2]
            tok = tok3 if tok3 in _CHRONO_TOKENS or tok3 == "%.f" else tok2
            if tok not in _DATE_ONLY_TOKENS:
                has_time = True
            i += len(tok)
        else:
            i += 1
    return has_time


# The reference's default parse order (transform.rs:5601-5633):
# RFC3339, RFC2822, 8 offset formats, then 12 naive formats.
_DEFAULT_WITH_TZ = [
    "%Y-%m-%dT%H:%M:%S%:z", "%Y-%m-%d %H:%M:%S%:z",
    "%Y-%m-%dT%H:%M:%S%.f%:z", "%Y-%m-%d %H:%M:%S%.f%:z",
    "%Y-%m-%dT%H:%M:%S%z", "%Y-%m-%d %H:%M:%S%z",
    "%Y/%m/%d %H:%M:%S%:z", "%Y/%m/%d %H:%M:%S%z",
]
_DEFAULT_NAIVE = [
    "%Y-%m-%d", "%Y/%m/%d", "%Y%m%d",
    "%Y-%m-%d %H:%M", "%Y/%m/%d %H:%M",
    "%Y-%m-%d %H:%M:%S", "%Y/%m/%d %H:%M:%S",
    "%Y-%m-%dT%H:%M", "%Y-%m-%dT%H:%M:%S",
    "%Y-%m-%dT%H:%M:%S%.f", "%Y-%m-%d %H:%M:%S%.f", "%Y/%m/%d %H:%M:%S%.f",
]
# RFC3339 variants (chrono accepts 'Z' and fractional seconds)
_RFC3339 = ["%Y-%m-%dT%H:%M:%S%:z", "%Y-%m-%dT%H:%M:%S%.f%:z"]
# RFC2822: Spark forbids 'E' in parse patterns, so the optional weekday
# prefix is stripped before parsing "d MMM yyyy HH:mm:ss xx"
_RFC2822_SPARK = ["d MMM yyyy HH:mm:ss xx"]


def _lit_str_arg(arg: Pipe, path: str, what: str):
    if isinstance(arg.start, StartLiteral) and not arg.steps:
        return arg.start.value
    raise RuleError("expr_error",
                    f"{what} must be a literal (dynamic {what}s are not "
                    f"supported by the Spark compiler)", path)


_TZ_RE = re.compile(r"^([+-])(\d{2}):?(\d{2})?$")


def parse_tz_literal(value: str, path: str) -> int:
    """→ offset seconds (``transform.rs:5681-5772``)."""
    if value.upper() == "UTC" or value == "Z":
        return 0
    m = _TZ_RE.match(value)
    if not m:
        raise RuleError("expr_error",
                        "timezone must be UTC or an offset like +09:00", path)
    sign = 1 if m.group(1) == "+" else -1
    hours = int(m.group(2))
    minutes = int(m.group(3) or 0)
    if hours > 23 or minutes > 59:
        raise RuleError("expr_error",
                        "timezone must be UTC or an offset like +09:00", path)
    return sign * (hours * 3600 + minutes * 60)


def looks_like_timezone(value: str) -> bool:
    return value.upper() == "UTC" or value == "Z" or value[:1] in "+-"


def _offset_str(seconds: int) -> str:
    sign = "+" if seconds >= 0 else "-"
    seconds = abs(seconds)
    return f"{sign}{seconds // 3600:02d}:{(seconds % 3600) // 60:02d}"


# --- dual expression backends (round 8) -----------------------------------
#
# The parse chain is ~23 gated formats and built it one py4j call at a
# time, a date op cost ~0.8 s of COMPILE wall (3.5k socket round trips
# — round-8 profile).  The chain is now built generically over one of
# two backends: ``_ColB`` emits the hand-built Column tree (used inside
# Catalyst lambda scopes), ``_SqlB`` emits SQL TEXT registered once per
# (formats, tz, output, lenient) signature as a session SQL function
# (``sqlfn.py``) whose call site costs O(1) Column constructions and
# whose body the optimizer inlines — identical execution, ~10× faster
# compile.  ONE generic builder guarantees the two paths cannot drift.


def _b_try_parse(b, value, chrono_fmt: str, path: str,
                 tz_seconds: int | None):
    """One chrono format → timestamp-UTC (NULL on parse failure)."""
    cands = []
    for spark_fmt in chrono_to_spark(chrono_fmt, path):
        if _fmt_has_offset(chrono_fmt):
            cands.append(b.fn("try_to_timestamp", value, b.lit(spark_fmt)))
        elif _fmt_has_time(chrono_fmt):
            naive = b.fn("try_to_timestamp", value, b.lit(spark_fmt))
            # per-call-site constant (SqlB hoists it to a parameter so
            # bodies share across timezones)
            off = _offset_str(tz_seconds or 0)
            cands.append(b.fn("to_utc_timestamp", naive, b.slot(off)))
        else:
            d = b.fn("try_to_date", value, b.lit(spark_fmt))
            off = _offset_str(tz_seconds or 0)
            cands.append(b.fn("to_utc_timestamp", b.cast(d, "timestamp"),
                              b.slot(off)))
    return b.fn("coalesce", *cands) if len(cands) > 1 else cands[0]


def _fmt_gate_regex(chrono_fmt: str) -> str:
    """Loose structural regex for one chrono format: digit tokens →
    ``\\d+``, month names → letters, offsets → ``Z|±hh[:]mm``,
    literals escaped.  Used to SKIP formats in the default chain whose
    shape can't match — each skipped format saves an exception-driven
    ``try_to_timestamp`` attempt per row (the default chain is ~23
    formats; ungated, a late-chain match paid every earlier failure).
    Deliberately LOOSER than the real parser: a false positive only
    costs the parse attempt it would have made anyway; it must never
    reject a value the format would parse."""
    out = ["^"]
    i, n = 0, len(chrono_fmt)
    while i < n:
        ch = chrono_fmt[i]
        if ch == "%" and i + 1 < n:
            if chrono_fmt[i:i + 3] == "%.f":
                out.append(r"(\.\d+)?")
                i += 3
                continue
            if chrono_fmt[i:i + 3] == "%:z":
                out.append(r"(Z|z|[+-]\d{2}:?\d{2})")
                i += 3
                continue
            tok = chrono_fmt[i:i + 2]
            if tok == "%z":
                out.append(r"(Z|z|[+-]\d{2}:?\d{2})")
            elif tok in ("%b", "%B", "%a", "%A"):
                out.append(r"[A-Za-z.]+")
            else:  # %Y %m %d %H %M %S %y … all numeric
                out.append(r"\d+")
            i += 2
            continue
        out.append(re.escape(ch))
        i += 1
    out.append("$")
    return "".join(out)


def _b_gated_parse(b, value, chrono_fmt: str, path: str,
                   tz_seconds: int | None):
    gate = _fmt_gate_regex(chrono_fmt)
    return b.case([(b.rlike(value, gate),
                    _b_try_parse(b, value, chrono_fmt, path, tz_seconds))],
                  b.null("timestamp"))


_OFFSET_EXTRACT_RE = r"(Z|[+-]\d{2}:?\d{2})\s*$"


def _b_extract_offset(b, value):
    tz_raw = b.fn("regexp_extract", value, b.lit(_OFFSET_EXTRACT_RE),
                  b.lit(1))

    def body(tz):
        rr = b.fn("regexp_replace", tz, b.lit(":"), b.lit(""))
        hours = b.try_cast(b.fn("substring", rr, b.lit(2), b.lit(2)), "int")
        mins = b.try_cast(b.fn("substring", rr, b.lit(4), b.lit(2)), "int")
        signed = b.case([(b.eq(b.fn("substring", tz, b.lit(1), b.lit(1)),
                               b.lit("-")), b.lit(-1))], b.lit(1))
        return b.case(
            [(b.eq(tz, b.lit("Z")), b.lit(0)),
             (b.eq(tz, b.lit("")), b.null("int"))],
            b.op("*", signed,
                 b.op("+", b.op("*", hours, b.lit(3600)),
                      b.op("*", b.fn("coalesce", mins, b.lit(0)),
                           b.lit(60)))))

    return b.let(tz_raw, body)


def _b_parse_struct(b, value, formats: list[str] | None,
                    tz_seconds: int | None, path: str):
    """Full default/explicit parse chain → ``struct<ts, off>``.

    ``ts`` is NULL when no format matched (callers decide the error);
    ``off`` recovers the offset the input string itself carried (chrono
    keeps it for rendering); NULL when the matching format was naive.
    The candidates and the offset extraction are let-bound ONCE — the
    coalesce and the first-match offset fold both reference them.
    """
    cands, kinds = [], []
    if formats is None:
        for f in _RFC3339 + _DEFAULT_WITH_TZ:
            cands.append(_b_gated_parse(b, value, f, path, tz_seconds))
            kinds.append("extract")
        # RFC2822 (spark patterns directly, weekday prefix stripped)
        no_weekday = b.fn("regexp_replace", value,
                          b.lit(r"^[A-Za-z]{3},\s*"), b.lit(""))
        for sf in _RFC2822_SPARK:
            cands.append(b.fn("try_to_timestamp", no_weekday, b.lit(sf)))
            kinds.append("extract")
        for f in _DEFAULT_NAIVE:
            cands.append(_b_gated_parse(b, value, f, path, tz_seconds))
            kinds.append(None)
    else:
        for f in formats:
            cands.append(_b_try_parse(b, value, f, path, tz_seconds))
            kinds.append("extract" if _fmt_has_offset(f) else None)
    # "first successful candidate (declaration order) decides the
    # offset" — when every offset-carrying format PRECEDES every naive
    # one (always true for the default chain), that reduces to "did
    # any offset-group candidate match", so only the group's coalesce
    # needs binding and each candidate appears exactly once
    n_ext = sum(1 for k in kinds if k == "extract")
    if all(k == "extract" for k in kinds[:n_ext]) and \
            all(k is None for k in kinds[n_ext:]):
        naive = cands[n_ext:]
        if n_ext == 0:
            ts = b.fn("coalesce", *naive) if len(naive) > 1 else naive[0]
            return b.struct(ts=ts, off=b.null("int"))
        ext_ts = b.fn("coalesce", *cands[:n_ext]) if n_ext > 1 \
            else cands[0]

        def body(tzts):
            ts = b.fn("coalesce", tzts, *naive) if naive else tzts
            off = b.case([(b.isnotnull(tzts), _b_extract_offset(b, value))],
                         b.null("int"))
            return b.struct(ts=ts, off=off)

        return b.let(ext_ts, body)

    # interleaved explicit formats: per-candidate first-match fold
    ext = _b_extract_offset(b, value)

    def body(ext_h, *cs):
        ts = b.fn("coalesce", *cs) if len(cs) > 1 else cs[0]
        off = b.null("int")
        for c, k in reversed(list(zip(cs, kinds))):
            off = b.case(
                [(b.isnotnull(c),
                  ext_h if k == "extract" else b.null("int"))], off)
        return b.struct(ts=ts, off=off)

    return b.let_many([ext] + cands, body)


def parse_datetime_utc(value: Column, formats: list[str] | None,
                       tz_seconds: int | None, path: str):
    """Column-backend wrapper with the historical contract:
    (ts-with-invalid-raise, input_offset_seconds) — kept for the typed
    engine (``typed.py``)."""
    b = _ColB()
    pr = _b_parse_struct(b, value, formats, tz_seconds, path)
    ts = F.when(pr["ts"].isNotNull(), pr["ts"]).otherwise(
        rerr("expr_error", "date format is invalid", path).cast("timestamp"))
    return ts, pr["off"]


def _b_render(b, ts_utc, out_fmt: str, offset_seconds, path: str):
    """Format a UTC instant in the given per-row offset with a chrono fmt."""
    # shift the wall clock into the rendering offset
    off = b.fn("coalesce", offset_seconds, b.lit(0))
    shifted = b.ts_add_seconds(b.cast(off, "long"), ts_utc)
    # render offset literals for %z/%:z from offset_seconds
    sign = b.case([(b.lt(off, b.lit(0)), b.lit("-"))], b.lit("+"))
    abs_off = b.fn("abs", off)
    hh = b.fn("lpad",
              b.cast(b.cast(b.op("/", abs_off, b.lit(3600)), "int"),
                     "string"), b.lit(2), b.lit("0"))
    mm = b.fn("lpad",
              b.cast(b.cast(b.op("/", b.op("%", abs_off, b.lit(3600)),
                                 b.lit(60)), "int"), "string"),
              b.lit(2), b.lit("0"))
    off_colon = b.concat(sign, hh, b.lit(":"), mm)
    off_plain = b.concat(sign, hh, mm)

    parts = []
    i, buf = 0, ""

    def flush_fmt():
        nonlocal buf
        if buf:
            spark_fmts = chrono_to_spark(buf, path)
            parts.append(b.fn("date_format", shifted, b.lit(spark_fmts[0])))
            buf = ""

    while i < len(out_fmt):
        if out_fmt[i:i + 3] == "%:z":
            flush_fmt()
            parts.append(off_colon)
            i += 3
        elif out_fmt[i:i + 2] == "%z":
            flush_fmt()
            parts.append(off_plain)
            i += 2
        elif out_fmt[i:i + 2] == "%s":
            flush_fmt()
            parts.append(b.cast(b.fn("unix_timestamp", ts_utc), "string"))
            i += 2
        else:
            tok3, tok2 = out_fmt[i:i + 3], out_fmt[i:i + 2]
            if tok3 in _CHRONO_TOKENS or tok3 == "%.f":
                buf += tok3
                i += 3
            elif tok2 in _CHRONO_TOKENS:
                buf += tok2
                i += 2
            else:
                buf += out_fmt[i]
                i += 1
    flush_fmt()
    if not parts:
        # parse errors still fire with a token-free output format (the
        # reference parses BEFORE rendering — round-8 parity fix): the
        # zero-length probe evaluates ts_utc, raising its embedded
        # invalid-date error, and contributes ""
        return b.fn("coalesce",
                    b.fn("substring", b.cast(ts_utc, "string"),
                         b.lit(1), b.lit(0)), b.lit(""))
    return b.concat(*parts) if len(parts) > 1 else parts[0]


def _render(ts_utc: Column, out_fmt: str, offset_seconds: Column,
            path: str) -> Column:
    """Column-backend wrapper (typed engine entry)."""
    return _b_render(_ColB(), ts_utc, out_fmt, offset_seconds, path)


def _b_date_format_core(b, s, input_formats, tz_seconds, out_fmt: str,
                        path, vp: str):
    """Parse + render over a string handle ``s`` (backend-generic)."""
    pr = _b_parse_struct(b, s, input_formats, tz_seconds, vp)

    def with_pr(r):
        ts_raw = b.field(r, "ts")
        ts = b.case([(b.isnotnull(ts_raw), ts_raw)],
                    b.err("expr_error", "date format is invalid", vp,
                          "timestamp"))
        # tz as a hoisted constant: NULL → render in the input's own
        # offset (body text shared across timezones)
        tzp = b.slot(tz_seconds, "INT")
        render_off = b.case([(b.isnull(tzp), b.field(r, "off"))], tzp)
        return _b_render(b, ts, out_fmt, render_off, path)

    return b.let(pr, with_pr)


def _b_to_unixtime_core(b, s, tz_seconds, unit: str, vp: str):
    pr = _b_parse_struct(b, s, None, tz_seconds, vp)

    def with_pr(r):
        ts_raw = b.field(r, "ts")
        ts = b.case([(b.isnotnull(ts_raw), ts_raw)],
                    b.err("expr_error", "date format is invalid", vp,
                          "timestamp"))
        # unit as a hoisted constant (constant-folds at the call
        # site; body text shared across s/ms)
        unitp = b.slot(unit)
        return b.case(
            [(b.eq(unitp, b.lit("ms")),
              b.cast(b.op("/", b.fn("unix_micros", ts), b.lit(1000)),
                     "long"))],
            b.cast(b.fn("unix_timestamp", ts), "long"))

    return b.let(pr, with_pr)


def _date_sqlfn_call(cur: Column, ret_t: str, core, vp: str):
    """SQL-function fast path: the whole op (operand protocol + parse +
    render) as one session SQL function over the raw pipe value.

    Returns None (→ caller builds inline) when a Catalyst lambda var
    may be in scope (call args can't reference one), when a dynamic
    path marker is active (error paths would need per-row splicing),
    or when SQL UDFs are unavailable."""
    from .core import lenient_on
    from . import sqlfn
    if V.lambda_depth() > 0 or V.dyn_marker_depth() > 0 \
            or not sqlfn.available():
        return None
    b = _SqlB(lenient_on())
    body = b.case(
        [(b.isnull("v"), b.null(ret_t)),
         (b.fn("is_variant_null", "v"),
          b.err("expr_error", "expr arg must not be null", vp, ret_t)),
         (b.ne(b.fn("schema_of_variant", "v"), b.lit("STRING")),
          b.err("expr_error", "value must be a string", vp, ret_t))],
        b.let(b.try_cast("v", "string"), lambda s: core(b, s)))
    params = "v VARIANT"
    if b.slots:
        params += ", " + b.slot_params()
    name = sqlfn.ensure_fn(params, ret_t, body, "dt")
    if name is None:
        return None
    return sqlfn.call(name, cur, *b.slot_args()).cast(V.VT)


def date_format_args(args, path):
    """The literal arguments of ``date_format``: (output format, input
    formats or None, timezone offset seconds or None).  Both engines
    parse them here, at compile time."""
    out_fmt = _lit_str_arg(args[0], arg_path(path, 1), "output format")
    if not isinstance(out_fmt, str):
        raise RuleError("expr_error", "output format must be a string",
                        arg_path(path, 1))

    input_formats: list[str] | None = None
    tz_seconds: int | None = None
    if len(args) >= 2:
        ip = arg_path(path, 2)
        third = _lit_str_arg(args[1], ip, "input format / timezone")
        if isinstance(third, str) and looks_like_timezone(third):
            tz_seconds = parse_tz_literal(third, ip)
        elif isinstance(third, str):
            input_formats = [third]
        elif isinstance(third, list):
            input_formats = [str(x) for x in third]
        else:
            raise RuleError("expr_error",
                            "input_format must be a string or array", ip)
    if len(args) == 3:
        tp = arg_path(path, 3)
        tz = _lit_str_arg(args[2], tp, "timezone")
        tz_seconds = parse_tz_literal(str(tz), tp)
    return out_fmt, input_formats, tz_seconds


def to_unixtime_args(args, path):
    """The literal arguments of ``to_unixtime``: (unit, timezone offset
    seconds or None)."""
    unit = "s"
    tz_seconds: int | None = None
    if len(args) >= 1:
        up = arg_path(path, 1)
        second = str(_lit_str_arg(args[0], up, "unit / timezone"))
        if len(args) == 2:
            if second not in ("s", "ms"):
                raise RuleError("expr_error", "unit must be s or ms", up)
            unit = second
        elif second in ("s", "ms"):
            unit = second
        elif looks_like_timezone(second):
            tz_seconds = parse_tz_literal(second, up)
        else:
            raise RuleError("expr_error", "unit must be s or ms", up)
    if len(args) == 2:
        tp = arg_path(path, 2)
        tz = str(_lit_str_arg(args[1], tp, "timezone"))
        tz_seconds = parse_tz_literal(tz, tp)
    return unit, tz_seconds


@register("date_format")
def op_date_format(scope: Scope, cur, args, path):
    vp = arg_path(path, 0)
    out_fmt, input_formats, tz_seconds = date_format_args(args, path)
    fast = _date_sqlfn_call(
        cur, "STRING",
        lambda b, s: _b_date_format_core(b, s, input_formats, tz_seconds,
                                         out_fmt, path, vp), vp)
    if fast is not None:
        return fast

    # inline fallback (lambda scopes): let-bind the pipe value (this op
    # skips compile_step's binding — UDF_OPS), then the string value —
    # the default-chain parse references the value once per tried
    # format and _render references the parse result once per output
    # component; unbound, the whole parse tree inlined into every
    # component (~100k-char plans for one call; round 5)
    def inline(x: Column) -> Column:
        ops = _operands(scope, x, args, path)
        value = _as_string(ops[0], vp)
        result = V.let(value, lambda v: _b_date_format_core(
            _ColB(), v, input_formats, tz_seconds, out_fmt, path, vp))
        return seq_strict(ops, path, result.cast(V.VT))

    return V.let(cur, inline)


@register("to_unixtime")
def op_to_unixtime(scope: Scope, cur, args, path):
    vp = arg_path(path, 0)
    unit, tz_seconds = to_unixtime_args(args, path)
    fast = _date_sqlfn_call(
        cur, "BIGINT",
        lambda b, s: _b_to_unixtime_core(b, s, tz_seconds, unit, vp), vp)
    if fast is not None:
        return fast

    def inline(x: Column) -> Column:
        ops = _operands(scope, x, args, path)
        value = _as_string(ops[0], vp)
        result = V.let(value, lambda v: _b_to_unixtime_core(
            _ColB(), v, tz_seconds, unit, vp))
        return seq_strict(ops, path, result.cast(V.VT))

    return V.let(cur, inline)
