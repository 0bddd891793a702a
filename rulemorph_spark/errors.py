"""Typed errors for the rulemorph-spark engine.

Mirrors the reference's error taxonomy (``crates/rulemorph/src/error.rs``)
so golden error fixtures can assert ``{kind, path}``.  Runtime errors raised
from inside Spark expressions are encoded as a JSON payload embedded in the
``raise_error`` message and re-parsed by :func:`extract_engine_error`.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass

# Error kinds, mirroring the reference's TransformErrorKind
# (crates/rulemorph/src/error.rs:115-124).  Internal snake_case codes are
# normalized to the reference's CamelCase kinds at the error boundary.
INVALID_INPUT = "InvalidInput"
INVALID_REF = "InvalidRef"
MISSING_REQUIRED = "MissingRequired"
TYPE_CAST_FAILED = "TypeCastFailed"
EXPR_ERROR = "ExprError"
ASSERT_FAILED = "AssertionFailed"
TARGET_ERROR = "InvalidTarget"

_KIND_ALIASES = {
    "invalid_input": INVALID_INPUT,
    "invalid_records_path": "InvalidRecordsPath",
    "invalid_ref": INVALID_REF,
    "invalid_target": TARGET_ERROR,
    "target_error": TARGET_ERROR,
    "missing_required": MISSING_REQUIRED,
    "type_cast_failed": TYPE_CAST_FAILED,
    "expr_error": EXPR_ERROR,
    "assert_failed": ASSERT_FAILED,
    "unknown_op": EXPR_ERROR,
    "invalid_args": EXPR_ERROR,
}


def normalize_kind(kind: str) -> str:
    return _KIND_ALIASES.get(kind, kind)


class RuleError(Exception):
    """Static rule problem (parse/validation time)."""

    def __init__(self, code: str, message: str, path: str | None = None):
        self.code = code
        self.message = message
        self.path = path
        super().__init__(f"{code}: {message}" + (f" at {path}" if path else ""))


@dataclass
class TransformEngineError(Exception):
    """Runtime transform error with reference-compatible kind/path."""

    kind: str
    message: str
    path: str | None = None
    code: str | None = None  # asserts carry a user error code

    def __str__(self) -> str:
        loc = f" at {self.path}" if self.path else ""
        return f"{self.kind}: {self.message}{loc}"


_MARKER = "RULEMORPH_ERROR:"


def encode_engine_error(kind: str, message: str, path: str | None = None,
                        code: str | None = None) -> str:
    """Payload for F.raise_error so the driver can recover {kind, path}."""
    payload = {"kind": normalize_kind(kind), "message": message}
    if path is not None:
        payload["path"] = path
    if code is not None:
        payload["code"] = code
    return _MARKER + json.dumps(payload)


def encode_engine_error_parts(kind: str, message: str,
                              code: str | None = None) -> tuple[str, str]:
    """(prefix, suffix) around a DYNAMIC path, for errors whose path
    carries a data-dependent index (e.g. ``...args[0][3]`` pointing at
    the offending array entry, ``transform.rs`` from_entries) —
    ``F.concat(lit(prefix), path_col, lit(suffix))`` yields the same
    payload ``encode_engine_error`` would produce."""
    payload = {"kind": normalize_kind(kind), "message": message}
    if code is not None:
        payload["code"] = code
    base = json.dumps(payload)
    return _MARKER + base[:-1] + ', "path": "', '"}'


def encode_engine_error_msg_parts(kind: str, message_prefix: str,
                                  path: str | None = None,
                                  code: str | None = None
                                  ) -> tuple[str, str]:
    """(prefix, suffix) around a DYNAMIC message TAIL — for the
    reference's value-embedding errors (``expected string, got {:?}``,
    ``v2_eval.rs:1270``).  The spliced column must be JSON-string-safe;
    use a ``%%DBG:<hex>%%`` marker (see :func:`decode_dbg_message`) for
    arbitrary values."""
    payload = {"kind": normalize_kind(kind)}
    if path is not None:
        payload["path"] = path
    if code is not None:
        payload["code"] = code
    base = json.dumps(payload)
    msg = json.dumps(message_prefix)
    return _MARKER + base[:-1] + ', "message": ' + msg[:-1], '"}'


# --- value-embedding messages (``got {:?}``) ------------------------------
# A raise message cannot cheaply carry an arbitrarily-nested value's
# Rust Debug rendering as a Column expression (a runtime recursive
# renderer costs ~30 KB of plan text per error site), so the plan
# embeds the value's canonical JSON hex-encoded inside a marker and
# the DRIVER renders the exact serde_json Debug form when the error is
# extracted.  Zero cost on non-error rows; exact reference wording.

_DBG_RE = re.compile(r"%%DBG:([0-9A-Fa-f]*)%%")


def _is_int_kind(n) -> bool:
    return isinstance(n, int) and not isinstance(n, bool)


def serde_float_str(f: float) -> str:
    """serde_json ``Number`` Display for floats (ryu): shortest
    round-trip, ``.0`` kept on integral values, bare ``e`` exponents
    (``1e20``, ``1.23e-7``)."""
    s = repr(float(f))
    if "e" in s or "E" in s:
        mant, _, exp = s.lower().partition("e")
        exp = exp.lstrip("+")
        neg = exp.startswith("-")
        exp = exp.lstrip("-").lstrip("0") or "0"
        if mant.endswith(".0"):
            mant = mant[:-2]
        return f"{mant}e{'-' if neg else ''}{exp}"
    if "." not in s:
        s += ".0"
    return s


# Other_Grapheme_Extend (Unicode PropList.txt): Grapheme_Extend =
# Me + Mn + this set.  Rust's Debug-for-str escapes EVERY
# grapheme-extend char (escape_debug_ext with
# escape_grapheme_extended=true, core/src/fmt/mod.rs) — round 9,
# closes the r8 "one documented grapheme-extend corner".
_OTHER_GRAPHEME_EXTEND = frozenset(
    [0x09BE, 0x09D7, 0x0B3E, 0x0B57, 0x0BBE, 0x0BD7, 0x0CC2, 0x0CD5,
     0x0CD6, 0x0D3E, 0x0D57, 0x0DCF, 0x0DDF, 0x1715, 0x1734, 0x200C,
     0x302E, 0x302F, 0xFF9E, 0xFF9F, 0x1133E, 0x11357, 0x114B0, 0x114BD,
     0x115AF, 0x11930, 0x1D165]
    + list(range(0x1D16E, 0x1D173)) + list(range(0xE0020, 0xE0080)))


def is_grapheme_extend(ch: str) -> bool:
    import unicodedata
    return (unicodedata.category(ch) in ("Mn", "Me")
            or ord(ch) in _OTHER_GRAPHEME_EXTEND)


def rust_str_debug(s: str) -> str:
    """Rust ``str``'s ``{:?}`` rendering (Debug-for-str, which calls
    ``escape_debug_ext`` per char with grapheme-extend escaping ON):
    ``\\t`` ``\\r`` ``\\n`` ``\\0`` ``\\\\`` ``\\"`` named escapes,
    grapheme-extend chars (Mn/Me/Other_Grapheme_Extend — combining
    marks would visually glue to the opening quote) and non-printables
    as ``\\u{hex}``, everything else VERBATIM (json.dumps would
    ``\\uXXXX`` it).  Category-C/Zl/Zp approximates core::unicode's
    printable table."""
    import unicodedata
    out = ['"']
    for ch in s:
        if ch == '"':
            out.append('\\"')
        elif ch == "\\":
            out.append("\\\\")
        elif ch == "\n":
            out.append("\\n")
        elif ch == "\r":
            out.append("\\r")
        elif ch == "\t":
            out.append("\\t")
        elif ch == "\0":
            out.append("\\0")
        elif (is_grapheme_extend(ch)
              or unicodedata.category(ch) in ("Cc", "Cf", "Cs", "Co",
                                              "Cn", "Zl", "Zp")):
            out.append(f"\\u{{{ord(ch):x}}}")
        else:
            out.append(ch)
    out.append('"')
    return "".join(out)


def render_serde_debug(v) -> str:
    """serde_json ``Value``'s Debug rendering (the ``{:?}`` form the
    reference embeds in v2 error messages): ``Null`` / ``Bool(true)``
    / ``Number(2.5)`` / ``String("s")`` / ``Array [..]`` /
    ``Object {"k": ..}`` (keys already canonical-sorted); strings via
    Rust ``escape_debug``, not JSON escaping."""
    if v is None:
        return "Null"
    if isinstance(v, bool):
        return f"Bool({'true' if v else 'false'})"
    if _is_int_kind(v):
        return f"Number({v})"
    if isinstance(v, float):
        return f"Number({serde_float_str(v)})"
    if isinstance(v, str):
        return f"String({rust_str_debug(v)})"
    if isinstance(v, list):
        return "Array [" + ", ".join(render_serde_debug(x) for x in v) + "]"
    if isinstance(v, dict):
        inner = ", ".join(f"{rust_str_debug(k)}: {render_serde_debug(x)}"
                          for k, x in v.items())
        return "Object {" + inner + "}"
    return repr(v)  # pragma: no cover


def decode_dbg_message(message: str) -> str:
    """Replace every ``%%DBG:<hex-of-json>%%`` marker with the
    serde_json Debug rendering of the encoded value."""
    def _sub(m: re.Match) -> str:
        try:
            value = json.loads(bytes.fromhex(m.group(1)).decode("utf-8"))
        except (ValueError, UnicodeDecodeError):
            return m.group(0)
        return render_serde_debug(value)
    return _DBG_RE.sub(_sub, message)


def extract_engine_error(exc: BaseException) -> TransformEngineError | None:
    """Recover a TransformEngineError from a Spark exception message.

    An ``AnalysisException`` gives None: analysis evaluates no row, so
    no engine error was raised, and a marker in its text is plan text
    (an unevaluated ``raise_error`` call) — Spark's own error class is
    the real cause."""
    from pyspark.errors import AnalysisException

    if isinstance(exc, AnalysisException):
        return None
    text = str(exc)
    start = text.find(_MARKER)
    if start < 0:
        return None
    i = start + len(_MARKER)
    if i >= len(text) or text[i] != "{":
        return None
    depth, in_str, esc = 0, False, False
    end = None
    for j in range(i, len(text)):
        c = text[j]
        if in_str:
            if esc:
                esc = False
            elif c == "\\":
                esc = True
            elif c == '"':
                in_str = False
            continue
        if c == '"':
            in_str = True
        elif c == "{":
            depth += 1
        elif c == "}":
            depth -= 1
            if depth == 0:
                end = j + 1
                break
    if end is None:
        return None
    try:
        payload = json.loads(text[i:end])
    except json.JSONDecodeError:
        return None
    return TransformEngineError(
        kind=payload.get("kind", EXPR_ERROR),
        message=decode_dbg_message(payload.get("message", "")),
        path=payload.get("path"),
        code=payload.get("code"),
    )


def rule_error_to_transform(e: RuleError) -> "TransformEngineError | None":
    """Expression-level RuleErrors raised during rule COMPILE surface
    as transform errors: the reference parses v2 pipes at EVAL
    (per mapping), so parse failures are ExprErrors (CLI rc=3) rendered
    with the ``V2ParseError`` Display wrapper named by the variant tag
    (``expr_ir._err``).  Structural rule errors return None and stay on
    the rule channel (rc=2)."""
    if e.code not in ("expr_error", "unknown_op", "invalid_args"):
        return None
    label = {"start": "invalid start value", "step": "invalid step",
             "args": "invalid args", "cond": "invalid condition"}
    v = getattr(e, "v2_variant", None)
    msg = f"{label[v]}: {e.message}" if v else e.message
    return TransformEngineError(normalize_kind(e.code), msg, e.path)
