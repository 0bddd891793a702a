"""Independent single-record interpreter — the third fuzz oracle.

A plain tree-walking evaluator over Python values that mirrors the
reference engine *directly*, statement for statement:

- ``crates/rulemorph/src/transform.rs`` — document lifecycle, v1
  expression ops, finalize, casts, set_path
- ``crates/rulemorph/src/v2_eval.rs`` — v2 pipes, steps, inline ops and
  the v1-fallback bridge
- ``crates/rulemorph/src/v2_parser.rs`` — its OWN v2 parser (not
  ``expr_ir``), so a shared-parser bug cannot hide
- ``crates/rulemorph/src/path.rs`` — its OWN path parser

It shares NO evaluation or compilation code with the Spark engines
(``compiler/typed.py`` / ``compiler/variant.py`` / ``ops_*.py``) and
never touches Spark.  Its purpose (VERDICT r6 next-round #1): the
typed-vs-variant fuzzers cannot see a bug both engines share — this
module is the ground truth they are compared against.

Representation choices that mirror serde:

- JSON objects are **key-sorted dicts** everywhere (serde_json's Map is
  a BTreeMap — the reference builds rulemorph without ``preserve_order``;
  verified against ``crates/rulemorph/Cargo.toml``).  Iteration order of
  ``keys``/``values``/``entries``/``group_by``/let-bindings follows.
- ``missing`` is the module-level :data:`MISSING` sentinel; JSON null is
  Python ``None`` (``EvalValue::{Missing,Value}``, v2_eval.rs:27-30).
- Numbers keep the int/float split (serde i64/u64 vs f64); ints outside
  the u64/i64 zone fold to f64 like serde_json's parser.
"""

from __future__ import annotations

import json
import math
import os
import re as _re
from typing import Any

JsonValue = Any

I64_MIN = -(2 ** 63)
I64_MAX = 2 ** 63 - 1
U64_MAX = 2 ** 64 - 1
_F64_EPSILON = 2.220446049250313e-16  # f64::EPSILON


class _Missing:
    __slots__ = ()

    def __repr__(self):  # pragma: no cover - debug aid
        return "MISSING"


MISSING = _Missing()


class InterpRuleError(Exception):
    """Static rule problem (parse time) — mirrors RuleError."""

    def __init__(self, code: str, message: str, path: str | None = None):
        self.code = code
        self.message = message
        self.path = path
        super().__init__(f"{code}: {message}")


class InterpError(Exception):
    """TransformError mirror: {kind, message, path} with the reference's
    CamelCase kind names (error.rs:115-124)."""

    def __init__(self, kind: str, message: str, path: str | None = None):
        self.kind = kind
        self.message = message
        self.path = path
        super().__init__(f"{kind}: {message}"
                         + (f" (path: {path})" if path else ""))

    def with_path(self, path: str) -> "InterpError":
        return InterpError(self.kind, self.message, path)


INVALID_INPUT = "InvalidInput"
INVALID_RECORDS_PATH = "InvalidRecordsPath"
INVALID_REF = "InvalidRef"
INVALID_TARGET = "InvalidTarget"
MISSING_REQUIRED = "MissingRequired"
TYPE_CAST_FAILED = "TypeCastFailed"
EXPR_ERROR = "ExprError"
ASSERTION_FAILED = "AssertionFailed"


def _err(kind: str, message: str, path: str | None = None) -> InterpError:
    return InterpError(kind, message, path)


def _expr_err(message: str, path: str) -> InterpError:
    return InterpError(EXPR_ERROR, message, path)


def _is_int(v: Any) -> bool:
    return isinstance(v, int) and not isinstance(v, bool)


def _is_num(v: Any) -> bool:
    return (isinstance(v, (int, float)) and not isinstance(v, bool))


def canon(v: Any) -> Any:
    """Normalize a parsed JSON/YAML value to the interpreter's canonical
    form: objects key-sorted (BTreeMap), out-of-zone ints folded to f64
    (serde_json's number parser), YAML dates stringified (serde_yaml's
    YAML-1.2 core schema has no timestamp type)."""
    if isinstance(v, dict):
        return {str(k): canon(x) for k, x in sorted(v.items(),
                                                    key=lambda kv: str(kv[0]))}
    if isinstance(v, list):
        return [canon(x) for x in v]
    if _is_int(v) and not (I64_MIN <= v <= U64_MAX):
        return float(v)
    if v.__class__.__name__ in ("date", "datetime"):
        return v.isoformat()
    return v


def _obj(items) -> dict:
    """Build a key-sorted object (BTreeMap semantics; last-wins dups)."""
    d = dict(items)
    return {k: d[k] for k in sorted(d)}


def _obj_insert(d: dict, key: str, value: Any) -> dict:
    d[key] = value
    return {k: d[k] for k in sorted(d)}


# --- number rendering (serde / Rust display mirrors) ---------------------


def _expand_exponent(s: str) -> str:
    """Shortest-repr digits rendered positionally (Rust f64 Display never
    uses exponent notation)."""
    if "e" not in s and "E" not in s:
        return s
    from decimal import Decimal
    d = Decimal(s)
    out = format(d, "f")
    return out


def number_to_string(n: Any) -> str:
    """``number_to_string`` (transform.rs:5903-5923): ints plain; floats
    via Rust ``{}`` display then trailing-zero trim."""
    if isinstance(n, bool):  # callers guard; defensive
        return "true" if n else "false"
    if _is_int(n):
        return str(n)
    f = float(n)
    if math.isinf(f):
        return "inf" if f > 0 else "-inf"
    if math.isnan(f):
        return "NaN"
    s = _expand_exponent(repr(f))
    if "." in s:
        s = s.rstrip("0")
        if s.endswith("."):
            s = s[:-1]
    return s


def serde_number_str(n: Any) -> str:
    """serde_json ``Number::to_string`` (ryu): integral floats keep
    ``.0``; exponent form keeps ``e`` without ``+``/leading zeros."""
    if _is_int(n):
        return str(n)
    f = float(n)
    if math.isnan(f) or math.isinf(f):  # unreachable via JSON numbers
        return repr(f)
    s = repr(f)
    if "e" in s or "E" in s:
        mant, _, exp = s.partition("e")
        exp = exp.lstrip("+")
        if exp.startswith("-"):
            exp = "-" + exp[1:].lstrip("0")
        else:
            exp = exp.lstrip("0")
        if mant.endswith(".0"):
            mant = mant[:-2]
        return f"{mant}e{exp or '0'}"
    if "." not in s:
        s += ".0"
    return s


_OTHER_GRAPHEME_EXTEND = frozenset(
    [0x09BE, 0x09D7, 0x0B3E, 0x0B57, 0x0BBE, 0x0BD7, 0x0CC2, 0x0CD5,
     0x0CD6, 0x0D3E, 0x0D57, 0x0DCF, 0x0DDF, 0x1715, 0x1734, 0x200C,
     0x302E, 0x302F, 0xFF9E, 0xFF9F, 0x1133E, 0x11357, 0x114B0, 0x114BD,
     0x115AF, 0x11930, 0x1D165]
    + list(range(0x1D16E, 0x1D173)) + list(range(0xE0020, 0xE0080)))


def _rust_str_debug(s: str) -> str:
    """Rust ``str`` ``{:?}`` (Debug-for-str → ``escape_debug_ext`` with
    grapheme-extend escaping ON): named escapes for
    ``\\t \\r \\n \\0 \\\\ \\"``, grapheme-extend chars
    (Mn/Me/Other_Grapheme_Extend) and non-printables as ``\\u{hex}``,
    printable unicode verbatim (category-C/Zl/Zp approximates the
    printable table; round 9 added grapheme-extend)."""
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
        elif (unicodedata.category(ch) in ("Cc", "Cf", "Cs", "Co", "Cn",
                                           "Zl", "Zp", "Mn", "Me")
              or ord(ch) in _OTHER_GRAPHEME_EXTEND):
            out.append(f"\\u{{{ord(ch):x}}}")
        else:
            out.append(ch)
    out.append('"')
    return "".join(out)


def _rust_debug(v: Any) -> str:
    """serde_json ``Value``'s Debug rendering — appears in v2 error
    message tails (e.g. ``map step requires array, got Null``)."""
    if v is MISSING:
        return "Missing"
    if v is None:
        return "Null"
    if isinstance(v, bool):
        return f"Bool({'true' if v else 'false'})"
    if _is_num(v):
        return f"Number({serde_number_str(v)})"
    if isinstance(v, str):
        return f"String({_rust_str_debug(v)})"
    if isinstance(v, list):
        return "Array [" + ", ".join(_rust_debug(x) for x in v) + "]"
    if isinstance(v, dict):
        inner = ", ".join(f"{_rust_str_debug(k)}: {_rust_debug(x)}"
                          for k, x in v.items())
        return "Object {" + inner + "}"
    return repr(v)


def json_compact(v: Any) -> str:
    """serde compact JSON (``Value::to_string``): sorted keys come free
    from the canonical dict form; floats rendered ryu-style."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if _is_int(v):
        return str(v)
    if isinstance(v, float):
        return serde_number_str(v)
    if isinstance(v, str):
        return json.dumps(v, ensure_ascii=False)
    if isinstance(v, list):
        return "[" + ",".join(json_compact(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(
            json.dumps(k, ensure_ascii=False) + ":" + json_compact(x)
            for k, x in v.items()) + "}"
    raise TypeError(f"not a JSON value: {v!r}")


def json_eq(a: Any, b: Any) -> bool:
    """serde_json ``Value`` PartialEq: ints and floats are DIFFERENT
    number kinds (``1 != 1.0``); bools are not ints."""
    if isinstance(a, bool) or isinstance(b, bool):
        return isinstance(a, bool) and isinstance(b, bool) and a is b
    if a is None or b is None:
        return a is None and b is None
    if _is_num(a) and _is_num(b):
        if _is_int(a) != _is_int(b):
            return False
        return a == b
    if isinstance(a, str) and isinstance(b, str):
        return a == b
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(json_eq(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return (a.keys() == b.keys()
                and all(json_eq(a[k], b[k]) for k in a))
    return False


# --- strict Rust-style scalar parsers ------------------------------------

_I64_RE = _re.compile(r"^[+-]?[0-9]+$")
_F64_RE = _re.compile(
    r"^[+-]?("
    r"inf(inity)?|nan|"
    r"[0-9]+(\.[0-9]*)?([eE][+-]?[0-9]+)?|"
    r"\.[0-9]+([eE][+-]?[0-9]+)?"
    r")$",
    _re.IGNORECASE)


def parse_i64(s: str) -> int | None:
    """``str::parse::<i64>`` — no whitespace, no underscores, range."""
    if not _I64_RE.match(s):
        return None
    v = int(s)
    if not (I64_MIN <= v <= I64_MAX):
        return None
    return v


def parse_f64(s: str) -> float | None:
    """``str::parse::<f64>`` — Rust grammar (saturates to inf)."""
    if not _F64_RE.match(s):
        return None
    try:
        return float(s)
    except (ValueError, OverflowError):  # pragma: no cover
        return None


# --- path parser (path.rs) ------------------------------------------------

_PATH_ERRORS = {
    "empty": "path is empty",
    "syntax": "path syntax is invalid",
    "escape": "path escape is invalid",
    "key": "path segment is empty",
}


class PathParseError(Exception):
    def __init__(self, which: str):
        self.message = _PATH_ERRORS[which]
        super().__init__(self.message)


def parse_path(path: str) -> list:
    """``parse_path`` (path.rs:28-80); tokens are str keys / int indexes."""
    if path == "":
        raise PathParseError("empty")
    chars = path
    tokens: list = []
    i = 0
    n = len(chars)
    while i < n:
        if chars[i] == ".":
            raise PathParseError("key")
        if chars[i] == "[":
            tok, i = _parse_bracket(chars, i)
            tokens.append(tok)
        else:
            start = i
            while i < n and chars[i] != "." and chars[i] != "[":
                i += 1
            if start == i:
                raise PathParseError("key")
            tokens.append(chars[start:i])
        while i < n and chars[i] == "[":
            tok, i = _parse_bracket(chars, i)
            tokens.append(tok)
        if i < n:
            if chars[i] == ".":
                i += 1
                if i == n:
                    raise PathParseError("syntax")
            else:
                raise PathParseError("syntax")
    return tokens


def _parse_bracket(chars: str, start: int):
    if start >= len(chars) or chars[start] != "[":
        raise PathParseError("syntax")
    i = start + 1
    if i >= len(chars):
        raise PathParseError("syntax")
    c = chars[i]
    if c in ('"', "'"):
        return _parse_quoted(chars, i)
    if c.isdigit() and c.isascii():
        return _parse_index(chars, i)
    raise PathParseError("syntax")


def _parse_index(chars: str, start: int):
    i = start
    value = 0
    has_digit = False
    while i < len(chars) and chars[i].isascii() and chars[i].isdigit():
        has_digit = True
        value = min(value * 10 + int(chars[i]), U64_MAX)  # saturating
        i += 1
    if not has_digit:
        raise PathParseError("syntax")
    if i >= len(chars) or chars[i] != "]":
        raise PathParseError("syntax")
    return value, i + 1


def _parse_quoted(chars: str, start: int):
    quote = chars[start]
    i = start + 1
    value = []
    closed = False
    while i < len(chars):
        ch = chars[i]
        if ch == "\\":
            i += 1
            if i >= len(chars):
                raise PathParseError("escape")
            esc = chars[i]
            if esc == "\\" or esc == quote:
                value.append(esc)
                i += 1
                continue
            raise PathParseError("escape")
        if ch == "[" or ch == "]":
            raise PathParseError("syntax")
        if ch == quote:
            i += 1
            closed = True
            break
        value.append(ch)
        i += 1
    key = "".join(value)
    if key == "":
        raise PathParseError("key")
    if not closed:
        raise PathParseError("syntax")
    if i >= len(chars) or chars[i] != "]":
        raise PathParseError("syntax")
    return key, i + 1


def get_path(value: Any, tokens: list):
    """``get_path`` (path.rs:168-183) → value or MISSING."""
    cur = value
    for tok in tokens:
        if isinstance(tok, str):
            if isinstance(cur, dict) and tok in cur:
                cur = cur[tok]
            else:
                return MISSING
        else:
            if isinstance(cur, list) and tok < len(cur):
                cur = cur[tok]
            else:
                return MISSING
    return cur


def parse_path_tokens(path: str, kind: str, error_path: str) -> list:
    try:
        return parse_path(path)
    except PathParseError as e:
        raise _err(kind, e.message, error_path) from None


# =========================================================================
# Rule file model (model.rs via serde) — interpreter-private mirror
# =========================================================================

class VRef:
    __slots__ = ("ref_path",)

    def __init__(self, ref_path: str):
        self.ref_path = ref_path


class VOp:
    __slots__ = ("op", "args")

    def __init__(self, op: str, args: list):
        self.op = op
        self.args = args


class VChain:
    __slots__ = ("chain",)

    def __init__(self, chain: list):
        self.chain = chain


class VLit:
    __slots__ = ("value",)

    def __init__(self, value: Any):
        self.value = value


def parse_expr_model(v: Any):
    """serde untagged ``Expr`` (model.rs:160-188): try Ref, Op, Chain —
    each with deny_unknown_fields — then fall back to Literal (which
    accepts any JSON, so parsing never fails)."""
    if isinstance(v, dict):
        if set(v) == {"ref"} and isinstance(v["ref"], str):
            return VRef(v["ref"])
        if (isinstance(v.get("op"), str) and set(v) <= {"op", "args"}
                and isinstance(v.get("args", []), list)):
            return VOp(v["op"], [parse_expr_model(a)
                                 for a in v.get("args", [])])
        if set(v) == {"chain"} and isinstance(v["chain"], list):
            return VChain([parse_expr_model(a) for a in v["chain"]])
    return VLit(canon(v))


class Mapping:
    __slots__ = ("target", "source", "value", "expr", "when", "value_type",
                 "required", "default", "has_value", "has_default")

    def __init__(self, d: dict, path: str):
        known = {"target", "source", "value", "expr", "when", "type",
                 "required", "default"}
        if not isinstance(d, dict) or (set(d) - known):
            raise InterpRuleError("invalid_rule",
                                  "failed to parse rule: mapping", path)
        self.target = d.get("target")
        self.source = d.get("source")
        self.has_value = "value" in d
        self.value = canon(d.get("value"))
        self.expr = (parse_expr_model(d["expr"]) if "expr" in d
                     and d["expr"] is not None else None)
        self.when = (parse_expr_model(d["when"]) if "when" in d
                     and d["when"] is not None else None)
        self.value_type = d.get("type")
        self.required = bool(d.get("required", False))
        self.has_default = "default" in d and d["default"] is not None
        self.default = canon(d.get("default"))


class RuleStep:
    __slots__ = ("name", "mappings", "record_when", "asserts", "branch")

    def __init__(self, d: dict, path: str):
        known = {"name", "mappings", "record_when", "asserts", "branch"}
        if not isinstance(d, dict) or (set(d) - known):
            raise InterpRuleError("invalid_rule",
                                  "failed to parse rule: step", path)
        self.name = d.get("name")
        self.mappings = ([Mapping(m, path) for m in d["mappings"]]
                         if d.get("mappings") is not None else None)
        self.record_when = (parse_expr_model(d["record_when"])
                            if d.get("record_when") is not None else None)
        self.asserts = d.get("asserts")
        if self.asserts is not None:
            self.asserts = [
                {"when": parse_expr_model(a["when"]),
                 "code": a["error"]["code"],
                 "message": a["error"]["message"]}
                for a in self.asserts]
        self.branch = d.get("branch")
        if self.branch is not None:
            b = self.branch
            self.branch = {
                "when": parse_expr_model(b["when"]),
                "then": b["then"],
                "else": b.get("else"),
                "return": bool(b.get("return", False)),
            }


class FinalizeSpec:
    __slots__ = ("filter", "sort_by", "sort_order", "limit", "offset",
                 "wrap", "has_sort")

    def __init__(self, d: dict):
        self.filter = (parse_expr_model(d["filter"])
                       if d.get("filter") is not None else None)
        sort = d.get("sort")
        self.has_sort = sort is not None
        self.sort_by = sort.get("by") if sort else None
        self.sort_order = (sort.get("order", "asc") if sort else "asc")
        self.limit = d.get("limit")
        self.offset = d.get("offset")
        self.wrap = canon(d["wrap"]) if d.get("wrap") is not None else None


class RuleFile:
    __slots__ = ("version", "input_format", "csv", "json_input",
                 "record_when", "mappings", "steps", "finalize")

    def __init__(self, doc: dict):
        if not isinstance(doc, dict):
            raise InterpRuleError("invalid_rule", "failed to parse rule")
        known = {"version", "input", "output", "record_when", "mappings",
                 "steps", "finalize"}
        if set(doc) - known:
            raise InterpRuleError(
                "invalid_rule",
                f"failed to parse rule: unknown field "
                f"{sorted(set(doc) - known)[0]!r}")
        ver = doc.get("version")
        if not _is_int(ver) or not (0 <= ver <= 255):
            raise InterpRuleError("invalid_rule", "invalid version")
        self.version = ver
        inp = doc.get("input") or {}
        fmt = inp.get("format")
        if fmt not in ("csv", "json"):
            raise InterpRuleError("invalid_rule", "invalid input format")
        self.input_format = fmt
        self.csv = inp.get("csv")
        self.json_input = inp.get("json")
        self.record_when = (parse_expr_model(doc["record_when"])
                            if doc.get("record_when") is not None else None)
        self.mappings = [Mapping(m, f"mappings[{i}]")
                         for i, m in enumerate(doc.get("mappings") or [])]
        self.steps = ([RuleStep(s, f"steps[{i}]")
                       for i, s in enumerate(doc["steps"])]
                      if doc.get("steps") is not None else None)
        self.finalize = (FinalizeSpec(doc["finalize"])
                         if doc.get("finalize") is not None else None)


def parse_rule_file(text: str) -> RuleFile:
    import yaml

    class _Loader(yaml.SafeLoader):
        pass

    # serde_yaml is YAML 1.2 core schema: no timestamp type, and only
    # true/false are booleans (not yes/on).  Drop PyYAML's 1.1 resolvers.
    _Loader.yaml_implicit_resolvers = {
        k: [(tag, regexp) for tag, regexp in v
            if tag not in ("tag:yaml.org,2002:timestamp",)]
        for k, v in yaml.SafeLoader.yaml_implicit_resolvers.items()
    }
    try:
        doc = yaml.load(text, Loader=_Loader)
    except yaml.YAMLError as e:
        raise InterpRuleError("yaml_error", str(e)) from e
    return RuleFile(_repair_surrogates(doc))


def _repair_surrogates(v):
    """libyaml pairs adjacent ``\\uD8xx\\uDCxx`` escapes into the
    astral char (and rejects unpaired ones); PyYAML leaves lone
    surrogate code points — repair to match the reference's parser."""
    if isinstance(v, str):
        if any(0xD800 <= ord(c) <= 0xDFFF for c in v):
            try:
                return v.encode("utf-16-le", "surrogatepass") \
                        .decode("utf-16-le")
            except UnicodeDecodeError:
                raise InterpRuleError(
                    "yaml_error",
                    "unpaired surrogate escape in YAML scalar") from None
        return v
    if isinstance(v, list):
        return [_repair_surrogates(x) for x in v]
    if isinstance(v, dict):
        return {_repair_surrogates(k): _repair_surrogates(x)
                for k, x in v.items()}
    return v


# =========================================================================
# v2 parser (v2_parser.rs) — interpreter-private mirror
# =========================================================================

class V2ParseError(Exception):
    def __init__(self, variant: str, msg: str = ""):
        self.variant = variant
        self.msg = msg
        super().__init__(str(self))

    def __str__(self):
        if self.variant == "empty":
            return "pipe array cannot be empty"
        label = {"start": "invalid start value",
                 "step": "invalid step",
                 "args": "invalid args",
                 "cond": "invalid condition"}[self.variant]
        return f"{label}: {self.msg}"


_V2_VALID_OPS = frozenset([
    "concat", "to_string", "trim", "lowercase", "uppercase", "replace",
    "split", "pad_start", "pad_end", "coalesce", "lookup", "lookup_first",
    "+", "-", "*", "/", "multiply", "add", "subtract", "divide", "round",
    "to_base", "date_format", "to_unixtime", "and", "or", "not",
    "==", "!=", "<", "<=", ">", ">=", "~=",
    "eq", "ne", "lt", "lte", "gt", "gte", "match",
    "merge", "deep_merge", "get", "pick", "omit", "keys", "values",
    "entries", "len", "from_entries", "object_flatten", "object_unflatten",
    "map", "filter", "flat_map", "flatten", "take", "drop", "slice",
    "chunk", "zip", "zip_with", "unzip", "group_by", "key_by", "partition",
    "unique", "distinct_by", "sort_by", "find", "find_index", "index_of",
    "contains", "sum", "avg", "min", "max", "reduce", "fold", "first",
    "last", "string", "int", "float", "bool",
])  # v2_validator.rs:666-766

_IDENT_RE = _re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


class V2Ref:
    __slots__ = ("ns", "path")

    def __init__(self, ns: str, path: str):
        self.ns = ns  # input|context|out|item|acc|local
        self.path = path


def parse_v2_ref(s: str):
    """``parse_v2_ref`` (v2_parser.rs:28-97) → V2Ref or None."""
    if not s.startswith("@"):
        return None
    rest = s[1:]
    for ns in ("input", "context", "out"):
        if rest.startswith(ns + "."):
            p = rest[len(ns) + 1:]
            return V2Ref(ns, p) if p else None
        if rest == ns:
            return V2Ref(ns, "")
    for ns in ("item", "acc"):
        if rest.startswith(ns + "."):
            p = rest[len(ns) + 1:]
            return V2Ref(ns, p) if p else None
        if rest == ns:
            return V2Ref(ns, "")
    if _IDENT_RE.match(rest) and rest.isascii():
        return V2Ref("local", rest)
    return None


class V2Start:
    __slots__ = ("kind", "value", "ref")

    def __init__(self, kind: str, value=None, ref=None):
        self.kind = kind  # ref|pipe|lit
        self.value = value
        self.ref = ref


class V2OpStep:
    __slots__ = ("op", "args")

    def __init__(self, op: str, args: list):
        self.op = op
        self.args = args


class V2LetStep:
    __slots__ = ("bindings",)

    def __init__(self, bindings: list):
        self.bindings = bindings  # [(name, V2Pipe)] in SORTED key order


class V2IfStep:
    __slots__ = ("cond", "then_branch", "else_branch")

    def __init__(self, cond, then_branch, else_branch):
        self.cond = cond
        self.then_branch = then_branch
        self.else_branch = else_branch


class V2MapStep:
    __slots__ = ("steps",)

    def __init__(self, steps: list):
        self.steps = steps


class V2RefStep:
    __slots__ = ("ref",)

    def __init__(self, ref: V2Ref):
        self.ref = ref


class V2Pipe:
    __slots__ = ("start", "steps")

    def __init__(self, start: V2Start, steps: list):
        self.start = start
        self.steps = steps


class V2Cond:
    __slots__ = ("kind", "conds", "op", "args", "expr")

    def __init__(self, kind, conds=None, op=None, args=None, expr=None):
        self.kind = kind  # all|any|cmp|expr
        self.conds = conds
        self.op = op
        self.args = args
        self.expr = expr


def parse_v2_start(value: Any) -> V2Start:
    if isinstance(value, str):
        if value == "$":
            return V2Start("pipe")
        if value.startswith("lit:"):
            return V2Start("lit", value=value[4:])
        ref = parse_v2_ref(value)
        if ref is not None:
            return V2Start("ref", ref=ref)
        if value.startswith("@"):
            raise V2ParseError("start", f"invalid v2 reference: {value}")
        return V2Start("lit", value=value)
    return V2Start("lit", value=value)


_RESERVED_STEP_KEYS = ("op", "let", "if", "map", "then", "else", "cond")


def parse_v2_step(value: Any):
    if isinstance(value, dict):
        if isinstance(value.get("op"), str):
            if "args" in value:
                args_val = value["args"]
                if not isinstance(args_val, list):
                    raise V2ParseError("args", "args must be an array")
                args = [parse_v2_expr(a) for a in args_val]
            else:
                args = []
            return V2OpStep(value["op"], args)
        if "let" in value:
            bindings = value["let"]
            if not isinstance(bindings, dict):
                raise V2ParseError("step", "let bindings must be an object")
            # BTreeMap iteration: bindings evaluate in sorted-key order
            return V2LetStep([(k, parse_v2_expr(bindings[k]))
                              for k in sorted(bindings)])
        if "if" in value:
            return _parse_v2_if_step(value)
        if "map" in value:
            steps = value["map"]
            if not isinstance(steps, list):
                raise V2ParseError("step", "map steps must be an array")
            return V2MapStep([parse_v2_step(s) for s in steps])
        if len(value) == 1:
            (op_name, args_val), = value.items()
            if op_name not in _RESERVED_STEP_KEYS:
                if isinstance(args_val, list):
                    args = [parse_v2_expr(a) for a in args_val]
                else:
                    args = [parse_v2_expr(args_val)]
                return V2OpStep(op_name, args)
        raise V2ParseError("step", "unknown step type")
    if isinstance(value, str):
        ref = parse_v2_ref(value)
        if ref is not None:
            return V2RefStep(ref)
        if value == "$":
            raise V2ParseError(
                "step",
                "$ as a step is not valid, use it as start or in "
                "expressions")
        return V2OpStep(value, [])
    raise V2ParseError("step", "step must be object or string")


def _parse_v2_if_step(obj: dict) -> V2IfStep:
    if_val = obj["if"]
    if isinstance(if_val, dict) and ("cond" in if_val or "then" in if_val):
        if "cond" not in if_val:
            raise V2ParseError("step", "if step missing 'cond'")
        if "then" not in if_val:
            raise V2ParseError("step", "if step missing 'then' branch")
        cond = parse_v2_condition(if_val["cond"])
        then_branch = parse_v2_pipe_from_value(if_val["then"])
        else_branch = (parse_v2_pipe_from_value(if_val["else"])
                       if if_val.get("else") is not None else None)
        return V2IfStep(cond, then_branch, else_branch)
    if "then" not in obj:
        raise V2ParseError("step", "if step missing then branch")
    cond = parse_v2_condition(if_val)
    then_branch = parse_v2_pipe_from_value(obj["then"])
    else_branch = (parse_v2_pipe_from_value(obj["else"])
                   if obj.get("else") is not None else None)
    return V2IfStep(cond, then_branch, else_branch)


def _looks_like_step(value: Any) -> bool:
    if isinstance(value, dict):
        if any(k in value for k in ("op", "let", "if", "map")):
            return True
        if len(value) == 1:
            key = next(iter(value))
            if key not in ("op", "let", "if", "map", "then", "else",
                           "cond", "ref"):
                return key in _V2_VALID_OPS
        return False
    return False


def parse_v2_pipe(arr: list) -> V2Pipe:
    if not arr:
        raise V2ParseError("empty")
    if len(arr) == 1 and _looks_like_step(arr[0]):
        return V2Pipe(V2Start("pipe"), [parse_v2_step(arr[0])])
    start = parse_v2_start(arr[0])
    return V2Pipe(start, [parse_v2_step(s) for s in arr[1:]])


def parse_v2_pipe_from_value(value: Any) -> V2Pipe:
    if isinstance(value, list):
        return parse_v2_pipe(value)
    return V2Pipe(parse_v2_start(value), [])


def parse_v2_expr(value: Any) -> V2Pipe:
    """``parse_v2_expr`` (v2_parser.rs:438-482); V2Expr is always a pipe
    here (the V1Fallback variant is never constructed by the parser)."""
    if isinstance(value, list):
        return parse_v2_pipe(value)
    return V2Pipe(parse_v2_start(value), [])


_V2_CMP_KEYS = ("eq", "ne", "gt", "gte", "lt", "lte", "match")


def parse_v2_condition(value: Any) -> V2Cond:
    if isinstance(value, dict):
        if "all" in value:
            return _parse_cond_array(value["all"], "all")
        if "any" in value:
            return _parse_cond_array(value["any"], "any")
        for key in _V2_CMP_KEYS:
            if key in value:
                args_val = value[key]
                if not isinstance(args_val, list):
                    raise V2ParseError("args", "args must be an array")
                return V2Cond("cmp", op=key,
                              args=[parse_v2_expr(a) for a in args_val])
        return V2Cond("expr", expr=parse_v2_expr(value))
    return V2Cond("expr", expr=parse_v2_expr(value))


def _parse_cond_array(value: Any, kind: str) -> V2Cond:
    if not isinstance(value, list):
        raise V2ParseError("cond", "all/any must contain an array")
    return V2Cond(kind, conds=[parse_v2_condition(c) for c in value])


# =========================================================================
# v1 evaluation (transform.rs)
# =========================================================================

class EvalLocals:
    """``EvalLocals`` (transform.rs:6254-6260)."""

    __slots__ = ("item", "acc", "pipe", "locals")

    def __init__(self, item=None, acc=None, pipe=None, locals=None):
        self.item = item      # (value, index) tuple or None
        self.acc = acc        # JSON value or None  (None ≠ JSON null here:
        #                       acc scope absent; a JSON-null acc is ("v",)
        #                       boxed — see _Box below)
        self.pipe = pipe      # EvalValue (MISSING or value) boxed or None
        self.locals = locals  # dict[str, EvalValue] or None


class _Box:
    """Presence wrapper: distinguishes 'scope absent' from 'scope holds
    JSON null / MISSING'."""

    __slots__ = ("v",)

    def __init__(self, v):
        self.v = v


def v1_value_to_string(value: Any, path: str) -> str:
    """``value_to_string`` (transform.rs:5774-5785)."""
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, str):
        return value
    if _is_num(value):
        return number_to_string(value)
    raise _expr_err("value must be string/number/bool", path)


def v1_value_to_string_optional(value: Any):
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, str):
        return value
    if _is_num(value):
        return number_to_string(value)
    return None


def value_as_string(value: Any, path: str) -> str:
    if isinstance(value, str):
        return value
    raise _expr_err("value must be a string", path)


def value_as_bool(value: Any, path: str) -> bool:
    if isinstance(value, bool):
        return value
    raise _expr_err("value must be a boolean", path)


def value_to_number(value: Any, path: str, message: str) -> float:
    """``value_to_number`` (transform.rs:5804-5817) — finite f64."""
    if isinstance(value, bool):
        raise _expr_err(message, path)
    if _is_num(value):
        f = float(value)
        if math.isfinite(f):
            return f
        raise _expr_err(message, path)
    if isinstance(value, str):
        f = parse_f64(value)
        if f is not None and math.isfinite(f):
            return f
        raise _expr_err(message, path)
    raise _expr_err(message, path)


def value_to_i64(value: Any, path: str, message: str) -> int:
    """``value_to_i64`` (transform.rs:5819-5844)."""
    if isinstance(value, bool):
        raise _expr_err(message, path)
    if _is_int(value):
        if I64_MIN <= value <= I64_MAX:
            return value
        raise _expr_err(message, path)  # u64 > i64::MAX fails try_from
    if isinstance(value, float):
        f = value
        if math.isfinite(f) and abs(f - math.trunc(f)) < _F64_EPSILON:
            i = int(f)  # `f as i64` saturates; fract≈0 keeps us in range
            i = max(I64_MIN, min(I64_MAX, i))
            if abs(float(i) - f) < _F64_EPSILON:
                return i
        raise _expr_err(message, path)
    if isinstance(value, str):
        i = parse_i64(value)
        if i is None:
            raise _expr_err(message, path)
        return i
    raise _expr_err(message, path)


def json_number_from_f64(value: float, path: str) -> Any:
    """``json_number_from_f64`` (transform.rs:5846-5859): re-emit
    integral f64 results as i64."""
    if not math.isfinite(value):
        raise _expr_err("number result is not finite", path)
    if abs(value - math.trunc(value)) < _F64_EPSILON:
        as_i64 = int(value)
        if I64_MIN <= as_i64 <= I64_MAX and \
                abs(float(as_i64) - value) < _F64_EPSILON:
            return as_i64
    return value


# Rust-regex compile + semantics via Python re; the reference caches
# compiled patterns (cached_regex, transform.rs:28-51) — we memoize too.
_REGEX_CACHE: dict = {}


def cached_regex(pattern: str, path: str):
    rx = _REGEX_CACHE.get(pattern)
    if rx is None:
        try:
            rx = _re.compile(pattern)
        except _re.error:
            raise _expr_err("regex pattern is invalid", path) from None
        if len(_REGEX_CACHE) > 128:
            _REGEX_CACHE.clear()
        _REGEX_CACHE[pattern] = rx
    return rx


_RUST_GROUP_REF = _re.compile(
    r"\$(\$|[0-9]+|[A-Za-z_][A-Za-z0-9_]*|\{[^}]*\})")


def _rust_replacement_to_python(rep: str) -> str:
    """Rust regex replacement syntax ($1 / $name / ${name} / $$) →
    Python re.sub template."""
    def sub(m):
        g = m.group(1)
        if g == "$":
            return "$"
        if g.startswith("{"):
            g = g[1:-1]
        return f"\\g<{g}>"
    return _RUST_GROUP_REF.sub(sub, rep.replace("\\", "\\\\"))


def compare_eq(left: Any, right: Any, left_path: str,
               right_path: str) -> bool:
    """v1 ``compare_eq`` (transform.rs:5480-5493): string-coerced."""
    if left is None or right is None:
        return left is None and right is None
    lv = v1_value_to_string(left, left_path)
    rv = v1_value_to_string(right, right_path)
    return lv == rv


def compare_numbers(left, right, left_path, right_path, op) -> bool:
    lv = value_to_number(left, left_path, "comparison operand must be a number")
    rv = value_to_number(right, right_path,
                         "comparison operand must be a number")
    return op(lv, rv)


def match_regex(left, right, left_path, right_path) -> bool:
    value = value_as_string(left, left_path)
    pattern = value_as_string(right, right_path)
    rx = cached_regex(pattern, right_path)
    return rx.search(value) is not None


def ensure_eq_compatible(value: Any, path: str) -> None:
    if value is None:
        return
    if v1_value_to_string_optional(value) is not None:
        return
    raise _expr_err("value must be string/number/bool or null", path)


# --- v1 namespaces / refs -------------------------------------------------


def parse_source(source: str):
    """``parse_source`` (transform.rs:6004-6033)."""
    if "." in source:
        prefix, path = source.split(".", 1)
        if path == "":
            raise _err(INVALID_REF, "reference path is empty")
        if prefix in ("input", "context", "out"):
            return prefix, path
        raise _err(INVALID_REF, "ref namespace must be input|context|out")
    if source == "":
        raise _err(INVALID_REF, "reference path is empty")
    return "input", source


def parse_v1_ref(value: str):
    """``parse_ref`` (transform.rs:6035-6064)."""
    if "." not in value:
        raise _err(INVALID_REF, "ref must include namespace")
    prefix, path = value.split(".", 1)
    if path == "":
        raise _err(INVALID_REF, "ref path is empty")
    if prefix in ("input", "context", "out", "item", "acc", "pipe",
                  "local"):
        return prefix, path
    raise _err(INVALID_REF,
               "ref namespace must be input|context|out|item|acc|pipe|local")


def eval_ref(expr_ref: VRef, record, context, out, base_path,
             locals: EvalLocals | None):
    """``eval_ref`` (transform.rs:1247-1382)."""
    try:
        namespace, path = parse_v1_ref(expr_ref.ref_path)
    except InterpError as e:
        raise e.with_path(base_path) from None
    tokens = parse_path_tokens(path, INVALID_REF, base_path)
    if namespace == "input":
        target = record
    elif namespace == "context":
        # plain None = absent context (Option::None); a JSON-null context
        # is not representable here — same convention as the engines
        if context is None:
            return MISSING
        return get_path(context, tokens)
    elif namespace == "out":
        target = out
    elif namespace == "item":
        item = locals.item if locals else None
        if item is None:
            raise _expr_err("item is only available within array ops",
                            base_path)
        first, rest = tokens[0], tokens[1:]
        if first == "value":
            root = item[0]
        elif first == "index":
            if rest:
                return MISSING
            return item[1]
        else:
            raise _expr_err("item ref must start with value or index",
                            base_path)
        return get_path(root, rest)
    elif namespace == "acc":
        acc = locals.acc if locals else None
        if acc is None:
            raise _expr_err("acc is only available within reduce/fold ops",
                            base_path)
        first, rest = tokens[0], tokens[1:]
        if first != "value":
            raise _expr_err("acc ref must start with value", base_path)
        return get_path(acc.v, rest)
    elif namespace == "pipe":
        pipe = locals.pipe if locals else None
        if pipe is None:
            raise _expr_err("pipe is only available within v2 pipes",
                            base_path)
        first, rest = tokens[0], tokens[1:]
        if first != "value":
            raise _expr_err("pipe ref must start with value", base_path)
        if pipe.v is MISSING:
            return MISSING
        return get_path(pipe.v, rest)
    else:  # local
        locals_map = locals.locals if locals else None
        if locals_map is None:
            raise _expr_err("local is only available within v2 pipes",
                            base_path)
        first, rest = tokens[0], tokens[1:]
        if not isinstance(first, str):
            raise _expr_err("local ref must start with a key", base_path)
        if first not in locals_map:
            raise _expr_err(f"undefined local: {first}", base_path)
        local_value = locals_map[first]
        if local_value is MISSING:
            return MISSING
        return get_path(local_value, rest)
    return get_path(target, tokens)


def eval_expr(expr, record, context, out, base_path,
              locals: EvalLocals | None):
    """``eval_expr`` (transform.rs:1177-1191) → MISSING or value."""
    if isinstance(expr, VLit):
        return expr.value
    if isinstance(expr, VRef):
        return eval_ref(expr, record, context, out, base_path, locals)
    if isinstance(expr, VOp):
        return eval_op(expr, record, context, out, base_path, None, locals)
    if isinstance(expr, VChain):
        return eval_chain(expr, record, context, out, base_path, locals)
    raise TypeError(f"not an expr: {expr!r}")


def eval_chain(expr_chain: VChain, record, context, out, base_path,
               locals):
    if not expr_chain.chain:
        raise _expr_err("expr.chain must be a non-empty array",
                        f"{base_path}.chain")
    current = eval_expr(expr_chain.chain[0], record, context, out,
                        f"{base_path}.chain[0]", locals)
    for index in range(1, len(expr_chain.chain)):
        step = expr_chain.chain[index]
        step_path = f"{base_path}.chain[{index}]"
        if not isinstance(step, VOp):
            raise _expr_err("expr.chain items after first must be op",
                            step_path)
        current = eval_op(step, record, context, out, step_path,
                          _Box(current), locals)
    return current


# --- v1 arg plumbing ------------------------------------------------------


def _args_len(args: list, injected) -> int:
    return len(args) + (1 if injected is not None else 0)


def _arg_expr_at(index: int, args: list, injected):
    if injected is not None:
        if index == 0:
            return None
        return args[index - 1] if index - 1 < len(args) else None
    return args[index] if index < len(args) else None


def _eval_at(index, args, injected, record, context, out, base_path,
             locals):
    """``eval_expr_at_index`` → MISSING or value."""
    if injected is not None:
        if index == 0:
            return injected.v
        if index - 1 >= len(args):
            raise _expr_err("expr.args index is out of bounds",
                            f"{base_path}.args[{index}]")
        return eval_expr(args[index - 1], record, context, out,
                         f"{base_path}.args[{index}]", locals)
    if index >= len(args):
        raise _expr_err("expr.args index is out of bounds",
                        f"{base_path}.args[{index}]")
    return eval_expr(args[index], record, context, out,
                     f"{base_path}.args[{index}]", locals)


def _eval_string_at(index, args, injected, record, context, out,
                    base_path, locals):
    """``eval_arg_string_at`` → None (missing) or str; null errors."""
    v = _eval_at(index, args, injected, record, context, out, base_path,
                 locals)
    if v is MISSING:
        return None
    arg_path = f"{base_path}.args[{index}]"
    if v is None:
        raise _expr_err("expr arg must not be null", arg_path)
    return value_as_string(v, arg_path)


def _eval_value_at(index, args, injected, record, context, out, base_path,
                   locals):
    """``eval_arg_value_at`` → None (missing) or value."""
    v = _eval_at(index, args, injected, record, context, out, base_path,
                 locals)
    return None if v is MISSING else _Box(v)


def _eval_or_null_at(index, args, injected, record, context, out,
                     base_path, locals):
    v = _eval_at(index, args, injected, record, context, out, base_path,
                 locals)
    return None if v is MISSING else v


def _eval_array_arg(index, args, injected, record, context, out,
                    base_path, locals) -> list:
    """``eval_array_arg`` — missing/null → empty array."""
    v = _eval_at(index, args, injected, record, context, out, base_path,
                 locals)
    if v is MISSING or v is None:
        return []
    if isinstance(v, list):
        return v
    raise _expr_err("expr arg must be an array",
                    f"{base_path}.args[{index}]")


def _eval_expr_or_null(expr, record, context, out, base_path, locals):
    v = eval_expr(expr, record, context, out, base_path, locals)
    return None if v is MISSING else v


def _eval_predicate(expr, record, context, out, base_path, locals) -> bool:
    v = eval_expr(expr, record, context, out, base_path, locals)
    if v is MISSING or v is None:
        return False
    return value_as_bool(v, base_path)


def _eval_key_string(expr, record, context, out, base_path, locals) -> str:
    v = eval_expr(expr, record, context, out, base_path, locals)
    if v is MISSING:
        raise _expr_err("expr arg must not be missing", base_path)
    if v is None:
        raise _expr_err("expr arg must not be null", base_path)
    return v1_value_to_string(v, base_path)


def _locals_with_item(locals: EvalLocals | None, item) -> EvalLocals:
    return EvalLocals(
        item=item,
        acc=locals.acc if locals else None,
        pipe=locals.pipe if locals else None,
        locals=locals.locals if locals else None)


def _sort_key(value: Any, path: str):
    """``eval_sort_key``/``sort_key_from_value`` result as a (kind, key)
    pair; caller enforces one-kind and performs the stable sort."""
    if isinstance(value, bool):
        return ("bool", value)
    if _is_num(value):
        f = float(value)
        if not math.isfinite(f):
            raise _expr_err("sort_by key must be a finite number", path)
        return ("number", f)
    if isinstance(value, str):
        return ("string", value)
    raise _expr_err("sort_by key must be string/number/bool", path)


# --- v1 op implementations (transform.rs:1384-1994 + per-op fns) ---------


def eval_op(expr_op: VOp, record, context, out, base_path, injected,
            locals: EvalLocals | None):
    """``eval_op`` — injected is a _Box (chain pipe operand) or None."""
    op = expr_op.op
    args = expr_op.args
    total_len = _args_len(args, injected)
    if total_len == 0:
        raise _expr_err("expr.args must be a non-empty array",
                        f"{base_path}.args")
    A = (args, injected, record, context, out, base_path, locals)

    if op == "concat":
        parts = []
        for index in range(total_len):
            arg_path = f"{base_path}.args[{index}]"
            v = _eval_at(index, *A)
            if v is MISSING:
                return MISSING
            if v is None:
                raise _expr_err("concat does not accept null", arg_path)
            parts.append(v1_value_to_string(v, arg_path))
        return "".join(parts)

    if op == "coalesce":
        for index in range(total_len):
            v = _eval_at(index, *A)
            if v is MISSING or v is None:
                continue
            return v
        return MISSING

    if op in ("to_string", "trim", "lowercase", "uppercase"):
        if total_len != 1:
            raise _expr_err("expr.args must contain exactly one item",
                            f"{base_path}.args")
        arg_path = f"{base_path}.args[0]"
        v = _eval_at(0, *A)
        if v is MISSING:
            return MISSING
        if v is None:
            raise _expr_err("expr arg must not be null", arg_path)
        if op == "to_string":
            return v1_value_to_string(v, arg_path)
        s = value_as_string(v, arg_path)
        if op == "trim":
            return s.strip()
        return s.lower() if op == "lowercase" else s.upper()

    if op == "replace":
        return _op_replace(total_len, *A)
    if op == "split":
        return _op_split(total_len, *A)
    if op in ("pad_start", "pad_end"):
        return _op_pad(total_len, op == "pad_start", *A)
    if op in ("lookup", "lookup_first"):
        return _op_lookup(total_len, op == "lookup_first", *A)
    if op in ("merge", "deep_merge"):
        return _op_merge(total_len, op == "deep_merge", *A)
    if op == "get":
        return _op_get(total_len, *A)
    if op == "pick":
        return _op_pick(total_len, *A)
    if op == "omit":
        return _op_omit(total_len, *A)
    if op in ("keys", "values", "entries", "object_flatten",
              "object_unflatten"):
        return _op_object_unary(op, total_len, *A)
    if op == "len":
        return _op_len(total_len, *A)
    if op == "from_entries":
        return _op_from_entries(total_len, *A)
    if op in ("map", "filter", "flat_map", "group_by", "key_by",
              "partition", "distinct_by", "find", "find_index"):
        return _op_array_predicate_family(op, total_len, *A)
    if op == "flatten":
        return _op_flatten(total_len, *A)
    if op in ("take", "drop"):
        return _op_take_drop(op == "take", total_len, *A)
    if op == "slice":
        return _op_slice(total_len, *A)
    if op == "chunk":
        return _op_chunk(total_len, *A)
    if op == "zip":
        return _op_zip(total_len, *A)
    if op == "zip_with":
        return _op_zip_with(total_len, *A)
    if op == "unzip":
        return _op_unzip(total_len, *A)
    if op == "unique":
        return _op_unique(total_len, *A)
    if op == "sort_by":
        return _op_sort_by(total_len, *A)
    if op in ("index_of", "contains"):
        return _op_index_of_contains(op == "contains", total_len, *A)
    if op in ("sum", "avg", "min", "max"):
        return _op_numeric_fold(op, total_len, *A)
    if op == "reduce":
        return _op_reduce(total_len, *A)
    if op == "fold":
        return _op_fold(total_len, *A)
    if op in ("+", "-", "*", "/"):
        return _op_numeric(op, total_len, *A)
    if op == "round":
        return _op_round(total_len, *A)
    if op == "to_base":
        return _op_to_base(total_len, *A)
    if op == "date_format":
        return _op_date_format(total_len, *A)
    if op == "to_unixtime":
        return _op_to_unixtime(total_len, *A)
    if op in ("and", "or"):
        return _op_and_or(op == "and", total_len, *A)
    if op == "not":
        return _op_not(total_len, *A)
    if op in ("==", "!=", "<", "<=", ">", ">=", "~="):
        return _op_compare(op, total_len, *A)
    raise _expr_err("expr.op is not supported", f"{base_path}.op")


def _op_replace(total_len, args, injected, record, context, out,
                base_path, locals):
    if not (3 <= total_len <= 4):
        raise _expr_err("expr.args must contain three or four items",
                        f"{base_path}.args")
    A = (args, injected, record, context, out, base_path, locals)
    value = _eval_string_at(0, *A)
    if value is None:
        return MISSING
    pattern = _eval_string_at(1, *A)
    if pattern is None:
        return MISSING
    replacement = _eval_string_at(2, *A)
    if replacement is None:
        return MISSING
    pattern_path = f"{base_path}.args[1]"
    mode = "literal_first"
    if total_len == 4:
        mode_path = f"{base_path}.args[3]"
        mode_value = _eval_string_at(3, *A)
        if mode_value is None:
            return MISSING
        if mode_value == "all":
            mode = "literal_all"
        elif mode_value == "regex":
            mode = "regex_first"
        elif mode_value == "regex_all":
            mode = "regex_all"
        else:
            raise _expr_err("replace mode must be all|regex|regex_all",
                            mode_path)
    if mode == "literal_first":
        return value.replace(pattern, replacement, 1)
    if mode == "literal_all":
        return value.replace(pattern, replacement)
    rx = cached_regex(pattern, pattern_path)
    rep = _rust_replacement_to_python(replacement)
    return rx.sub(rep, value, count=0 if mode == "regex_all" else 1)


def _op_split(total_len, args, injected, record, context, out, base_path,
              locals):
    if total_len != 2:
        raise _expr_err("expr.args must contain exactly two items",
                        f"{base_path}.args")
    A = (args, injected, record, context, out, base_path, locals)
    value = _eval_string_at(0, *A)
    if value is None:
        return MISSING
    delimiter = _eval_string_at(1, *A)
    if delimiter is None:
        return MISSING
    if delimiter == "":
        raise _expr_err("split delimiter must not be empty",
                        f"{base_path}.args[1]")
    return value.split(delimiter)


def _pad_string_value(value: str, target_len: int, pad: str,
                      pad_start: bool) -> str:
    value_len = len(value)
    if value_len >= target_len or pad == "":
        return value
    needed = target_len - value_len
    pad_len = len(pad)
    repeats = (needed + pad_len - 1) // pad_len
    pad_slice = (pad * repeats)[:needed]
    return pad_slice + value if pad_start else value + pad_slice


def _op_pad(total_len, pad_start, args, injected, record, context, out,
            base_path, locals):
    if not (2 <= total_len <= 3):
        raise _expr_err("expr.args must contain two or three items",
                        f"{base_path}.args")
    A = (args, injected, record, context, out, base_path, locals)
    value = _eval_string_at(0, *A)
    if value is None:
        return MISSING
    boxed = _eval_value_at(1, *A)
    if boxed is None:
        return MISSING
    length_path = f"{base_path}.args[1]"
    if boxed.v is None:
        raise _expr_err("expr arg must not be null", length_path)
    length = value_to_i64(boxed.v, length_path,
                          "pad length must be a non-negative integer")
    if length < 0:
        raise _expr_err("pad length must be a non-negative integer",
                        length_path)
    if total_len == 3:
        pad = _eval_string_at(2, *A)
        if pad is None:
            return MISSING
    else:
        pad = " "
    return _pad_string_value(value, length, pad, pad_start)


def _op_numeric(op, total_len, args, injected, record, context, out,
                base_path, locals):
    requires_exact_two = op in ("-", "/")
    if requires_exact_two and total_len != 2:
        raise _expr_err("expr.args must contain exactly two items",
                        f"{base_path}.args")
    if not requires_exact_two and total_len < 2:
        raise _expr_err("expr.args must contain at least two items",
                        f"{base_path}.args")
    A = (args, injected, record, context, out, base_path, locals)
    result = 0.0
    for index in range(total_len):
        arg_path = f"{base_path}.args[{index}]"
        boxed = _eval_value_at(index, *A)
        if boxed is None:
            return MISSING
        if boxed.v is None:
            raise _expr_err("expr arg must not be null", arg_path)
        number = value_to_number(boxed.v, arg_path,
                                 "operand must be a number")
        if index == 0:
            result = number
        elif op == "+":
            result += number
        elif op == "-":
            result -= number
        elif op == "*":
            result *= number
        else:  # "/" — no zero check in v1: inf/NaN caught below
            try:
                result /= number
            except ZeroDivisionError:
                result = (math.nan if result == 0
                          else math.copysign(math.inf, result)
                          * math.copysign(1.0, number))
    return json_number_from_f64(result, base_path)


def _rust_round(x: float) -> float:
    """f64::round — half away from zero (Python round is banker's).
    The result stays a FLOAT: math.floor returns an exact python int,
    which would silently flip the serde number kind for huge values
    (round-8 double fuzz — json_number_from_f64's ``value as i64``
    saturation round-trip FAILS above i64 range, so the reference
    keeps Float there; an exact int here skipped that check)."""
    return float(math.floor(x + 0.5)) if x >= 0 \
        else float(math.ceil(x - 0.5))


def _op_round(total_len, args, injected, record, context, out, base_path,
              locals):
    if not (1 <= total_len <= 2):
        raise _expr_err("expr.args must contain one or two items",
                        f"{base_path}.args")
    A = (args, injected, record, context, out, base_path, locals)
    boxed = _eval_value_at(0, *A)
    if boxed is None:
        return MISSING
    value_path = f"{base_path}.args[0]"
    if boxed.v is None:
        raise _expr_err("expr arg must not be null", value_path)
    number = value_to_number(boxed.v, value_path, "operand must be a number")
    scale = 0
    if total_len == 2:
        scale_path = f"{base_path}.args[1]"
        sboxed = _eval_value_at(1, *A)
        if sboxed is None:
            return MISSING
        if sboxed.v is None:
            raise _expr_err("expr arg must not be null", scale_path)
        scale = value_to_i64(sboxed.v, scale_path,
                             "scale must be a non-negative integer")
        if scale < 0:
            raise _expr_err("scale must be a non-negative integer",
                            scale_path)
        if scale > 308:
            raise _expr_err("scale is too large", scale_path)
    if scale == 0:
        rounded = _rust_round(number)
    else:
        factor = 10.0 ** scale
        rounded = _rust_round(number * factor) / factor
    return json_number_from_f64(rounded, base_path)


def _to_radix_string(value: int, base: int, path: str) -> str:
    digits = "0123456789abcdefghijklmnopqrstuvwxyz"
    if value == 0:
        return "0"
    if value == I64_MIN:
        raise _expr_err("value is out of range for base conversion", path)
    is_negative = value < 0
    n = abs(value)
    buf = []
    while n > 0:
        buf.append(digits[n % base])
        n //= base
    if is_negative:
        buf.append("-")
    return "".join(reversed(buf))


def _op_to_base(total_len, args, injected, record, context, out,
                base_path, locals):
    if total_len != 2:
        raise _expr_err("expr.args must contain exactly two items",
                        f"{base_path}.args")
    A = (args, injected, record, context, out, base_path, locals)
    boxed = _eval_value_at(0, *A)
    if boxed is None:
        return MISSING
    bboxed = _eval_value_at(1, *A)
    if bboxed is None:
        return MISSING
    value_path = f"{base_path}.args[0]"
    base_arg_path = f"{base_path}.args[1]"
    if boxed.v is None:
        raise _expr_err("expr arg must not be null", value_path)
    if bboxed.v is None:
        raise _expr_err("expr arg must not be null", base_arg_path)
    number = value_to_i64(boxed.v, value_path, "value must be an integer")
    base = value_to_i64(bboxed.v, base_arg_path, "base must be an integer")
    if not (2 <= base <= 36):
        raise _expr_err("base must be between 2 and 36", base_arg_path)
    return _to_radix_string(number, base, value_path)


# --- chrono date mirror ----------------------------------------------------

_DEFAULT_DATE_FORMATS_WITH_TZ = [
    "%Y-%m-%dT%H:%M:%S%:z",
    "%Y-%m-%d %H:%M:%S%:z",
    "%Y-%m-%dT%H:%M:%S%.f%:z",
    "%Y-%m-%d %H:%M:%S%.f%:z",
    "%Y-%m-%dT%H:%M:%S%z",
    "%Y-%m-%d %H:%M:%S%z",
    "%Y/%m/%d %H:%M:%S%:z",
    "%Y/%m/%d %H:%M:%S%z",
]

_DEFAULT_DATE_FORMATS = [
    "%Y-%m-%d",
    "%Y/%m/%d",
    "%Y%m%d",
    "%Y-%m-%d %H:%M",
    "%Y/%m/%d %H:%M",
    "%Y-%m-%d %H:%M:%S",
    "%Y/%m/%d %H:%M:%S",
    "%Y-%m-%dT%H:%M",
    "%Y-%m-%dT%H:%M:%S",
    "%Y-%m-%dT%H:%M:%S%.f",
    "%Y-%m-%d %H:%M:%S%.f",
    "%Y/%m/%d %H:%M:%S%.f",
]


class _Dt:
    """Minimal DateTime<FixedOffset>: naive civil fields + offset secs +
    fractional nanoseconds."""

    __slots__ = ("y", "mo", "d", "h", "mi", "s", "nanos", "off")

    def __init__(self, y, mo, d, h=0, mi=0, s=0, nanos=0, off=0):
        self.y, self.mo, self.d = y, mo, d
        self.h, self.mi, self.s = h, mi, s
        self.nanos = nanos
        self.off = off  # seconds east of UTC

    def timestamp(self) -> int:
        import calendar
        days = (self._days_from_civil(self.y, self.mo, self.d))
        secs = days * 86400 + self.h * 3600 + self.mi * 60 + self.s
        return secs - self.off

    @staticmethod
    def _days_from_civil(y, m, d):
        y -= m <= 2
        era = (y if y >= 0 else y - 399) // 400
        yoe = y - era * 400
        doy = (153 * (m + (-3 if m > 2 else 9)) + 2) // 5 + d - 1
        doe = yoe * 365 + yoe // 4 - yoe // 100 + doy
        return era * 146097 + doe - 719468

    def with_timezone(self, off: int) -> "_Dt":
        ts = self.timestamp()
        return _Dt.from_timestamp(ts, self.nanos, off)

    @staticmethod
    def from_timestamp(ts: int, nanos: int, off: int) -> "_Dt":
        z = (ts + off) // 86400
        rem = (ts + off) - z * 86400
        y, mo, d = _Dt._civil_from_days(z)
        return _Dt(y, mo, d, rem // 3600, (rem % 3600) // 60, rem % 60,
                   nanos, off)

    @staticmethod
    def _civil_from_days(z):
        z += 719468
        era = (z if z >= 0 else z - 146096) // 146097
        doe = z - era * 146097
        yoe = (doe - doe // 1460 + doe // 36524 - doe // 146096) // 365
        y = yoe + era * 400
        doy = doe - (365 * yoe + yoe // 4 - yoe // 100)
        mp = (5 * doy + 2) // 153
        d = doy - (153 * mp + 2) // 5 + 1
        m = mp + (3 if mp < 10 else -9)
        return y + (m <= 2), m, d


def _valid_ymd(y, mo, d) -> bool:
    if not (1 <= mo <= 12 and 1 <= d <= 31):
        return False
    import calendar
    try:
        return d <= calendar.monthrange(y, mo)[1]
    except Exception:
        return False


class _ChronoNoMatch(Exception):
    pass


def _chrono_tokens(fmt: str):
    """Split a chrono format string into (literal|spec) tokens."""
    out = []
    i = 0
    while i < len(fmt):
        c = fmt[i]
        if c != "%":
            out.append(("lit", c))
            i += 1
            continue
        if i + 1 >= len(fmt):
            raise _ChronoNoMatch()
        nxt = fmt[i + 1]
        if nxt in ".:0-_":
            # %.f / %:z / padding modifiers — take one more char
            if nxt == "." and i + 2 < len(fmt):
                out.append(("spec", "." + fmt[i + 2]))
                i += 3
                continue
            if nxt == ":" and i + 2 < len(fmt):
                out.append(("spec", ":" + fmt[i + 2]))
                i += 3
                continue
            if i + 2 < len(fmt):
                out.append(("spec", nxt + fmt[i + 2]))
                i += 3
                continue
            raise _ChronoNoMatch()
        out.append(("spec", nxt))
        i += 2
    return out


_MONTHS = ["January", "February", "March", "April", "May", "June", "July",
           "August", "September", "October", "November", "December"]
_WDAYS = ["Monday", "Tuesday", "Wednesday", "Thursday", "Friday",
          "Saturday", "Sunday"]


def _chrono_parse(value: str, fmt: str, need_offset: bool):
    """chrono ``parse_from_str`` subset.  Returns dict of parsed fields;
    raises _ChronoNoMatch on any mismatch (incl. trailing input)."""
    toks = _chrono_tokens(fmt)
    pos = 0
    f: dict = {}

    def read_int(maxw, minw=1):
        nonlocal pos
        start = pos
        while (pos < len(value) and pos - start < maxw
               and value[pos].isascii() and value[pos].isdigit()):
            pos += 1
        if pos - start < minw:
            raise _ChronoNoMatch()
        return int(value[start:pos])

    for kind, t in toks:
        if kind == "lit":
            # chrono: a literal space matches any amount of whitespace
            if t == " ":
                if pos < len(value) and value[pos].isspace():
                    while pos < len(value) and value[pos].isspace():
                        pos += 1
                continue
            if pos >= len(value) or value[pos] != t:
                raise _ChronoNoMatch()
            pos += 1
            continue
        if t == "Y":
            neg = False
            if pos < len(value) and value[pos] in "+-":
                neg = value[pos] == "-"
                pos += 1
            y = read_int(6, 1)
            f["y"] = -y if neg else y
        elif t == "m":
            f["mo"] = read_int(2)
        elif t == "d":
            f["d"] = read_int(2)
        elif t == "e":
            if pos < len(value) and value[pos] == " ":
                pos += 1
            f["d"] = read_int(2)
        elif t == "H":
            f["h"] = read_int(2)
        elif t == "M":
            f["mi"] = read_int(2)
        elif t == "S":
            f["s"] = read_int(2)
        elif t == "y":
            yy = read_int(2)
            f["y"] = 2000 + yy if yy < 70 else 1900 + yy
        elif t == ".f":
            if pos < len(value) and value[pos] == ".":
                pos += 1
                start = pos
                while (pos < len(value) and value[pos].isascii()
                       and value[pos].isdigit()):
                    pos += 1
                if pos == start or pos - start > 9:
                    raise _ChronoNoMatch()
                frac = value[start:pos]
                f["nanos"] = int(frac.ljust(9, "0"))
        elif t == "f":
            start = pos
            while (pos < len(value) and value[pos].isascii()
                   and value[pos].isdigit()):
                pos += 1
            if pos == start:
                raise _ChronoNoMatch()
            f["nanos"] = int(value[start:pos].ljust(9, "0")[:9])
        elif t in ("z", ":z"):
            if pos >= len(value):
                raise _ChronoNoMatch()
            c = value[pos]
            if c in "Zz":
                pos += 1
                f["off"] = 0
            elif c in "+-":
                sign = 1 if c == "+" else -1
                pos += 1
                hh = read_int(2, 2)
                if pos < len(value) and value[pos] == ":":
                    pos += 1
                mm = read_int(2, 2)
                f["off"] = sign * (hh * 3600 + mm * 60)
            else:
                raise _ChronoNoMatch()
        elif t == "T":
            for sub in ("H", "lM", "lS"):  # H:M:S
                pass
            # expand %T = %H:%M:%S inline
            f["h"] = read_int(2)
            if pos >= len(value) or value[pos] != ":":
                raise _ChronoNoMatch()
            pos += 1
            f["mi"] = read_int(2)
            if pos >= len(value) or value[pos] != ":":
                raise _ChronoNoMatch()
            pos += 1
            f["s"] = read_int(2)
        elif t == "F":
            f["y"] = read_int(6)
            if pos >= len(value) or value[pos] != "-":
                raise _ChronoNoMatch()
            pos += 1
            f["mo"] = read_int(2)
            if pos >= len(value) or value[pos] != "-":
                raise _ChronoNoMatch()
            pos += 1
            f["d"] = read_int(2)
        elif t == "%":
            if pos >= len(value) or value[pos] != "%":
                raise _ChronoNoMatch()
            pos += 1
        else:
            raise _ChronoNoMatch()
    if pos != len(value):
        raise _ChronoNoMatch()
    if need_offset and "off" not in f:
        raise _ChronoNoMatch()
    if "y" not in f or "mo" not in f or "d" not in f:
        raise _ChronoNoMatch()
    if not _valid_ymd(f["y"], f["mo"], f["d"]):
        raise _ChronoNoMatch()
    h, mi, s = f.get("h", 0), f.get("mi", 0), f.get("s", 0)
    if h > 23 or mi > 59 or s > 60:
        raise _ChronoNoMatch()
    return f


def _chrono_has_time(fmt: str) -> bool:
    toks = _chrono_tokens(fmt)
    specs = {t for k, t in toks if k == "spec"}
    return bool(specs & {"H", "M", "S", "T"})


_RFC3339_RE = _re.compile(
    r"^(\d{4})-(\d{2})-(\d{2})[Tt ](\d{2}):(\d{2}):(\d{2})"
    r"(\.(\d{1,9}))?([Zz]|[+-]\d{2}:\d{2})$")


def _parse_rfc3339(value: str):
    m = _RFC3339_RE.match(value)
    if not m:
        return None
    y, mo, d, h, mi, s = (int(m.group(i)) for i in range(1, 7))
    if not _valid_ymd(y, mo, d) or h > 23 or mi > 59 or s > 60:
        return None
    nanos = int((m.group(8) or "0").ljust(9, "0")[:9]) if m.group(7) else 0
    tz = m.group(9)
    if tz in ("Z", "z"):
        off = 0
    else:
        sign = 1 if tz[0] == "+" else -1
        off = sign * (int(tz[1:3]) * 3600 + int(tz[4:6]) * 60)
    return _Dt(y, mo, d, h, mi, s, nanos, off)


def _parse_rfc2822(value: str):
    try:
        from email.utils import parsedate_to_datetime
        dt = parsedate_to_datetime(value)
    except Exception:
        return None
    if dt is None:
        return None
    off = int(dt.utcoffset().total_seconds()) if dt.utcoffset() else 0
    return _Dt(dt.year, dt.month, dt.day, dt.hour, dt.minute, dt.second,
               dt.microsecond * 1000, off)


def _parse_datetime_with_formats(value, formats, timezone, path):
    for fmt in formats:
        # DateTime::parse_from_str — needs an offset in the input
        try:
            f = _chrono_parse(value, fmt, need_offset=True)
            return _Dt(f["y"], f["mo"], f["d"], f.get("h", 0),
                       f.get("mi", 0), f.get("s", 0), f.get("nanos", 0),
                       f["off"])
        except _ChronoNoMatch:
            pass
        # NaiveDateTime::parse_from_str — needs time fields in the FORMAT
        if _chrono_has_time(fmt):
            try:
                f = _chrono_parse(value, fmt, need_offset=False)
                off = timezone if timezone is not None else 0
                return _Dt(f["y"], f["mo"], f["d"], f.get("h", 0),
                           f.get("mi", 0), f.get("s", 0),
                           f.get("nanos", 0), off)
            except _ChronoNoMatch:
                pass
        else:
            # NaiveDate::parse_from_str → midnight
            try:
                f = _chrono_parse(value, fmt, need_offset=False)
                off = timezone if timezone is not None else 0
                return _Dt(f["y"], f["mo"], f["d"], 0, 0, 0, 0, off)
            except _ChronoNoMatch:
                pass
    raise _expr_err("date format is invalid", path)


def _parse_datetime(value, formats, timezone, path):
    """``parse_datetime`` (transform.rs:5601-5633)."""
    if formats is not None:
        return _parse_datetime_with_formats(value, formats, timezone, path)
    dt = _parse_rfc3339(value)
    if dt is not None:
        return dt
    dt = _parse_rfc2822(value)
    if dt is not None:
        return dt
    for fmt in _DEFAULT_DATE_FORMATS_WITH_TZ:
        try:
            f = _chrono_parse(value, fmt, need_offset=True)
            return _Dt(f["y"], f["mo"], f["d"], f.get("h", 0),
                       f.get("mi", 0), f.get("s", 0), f.get("nanos", 0),
                       f["off"])
        except _ChronoNoMatch:
            pass
    return _parse_datetime_with_formats(value, _DEFAULT_DATE_FORMATS,
                                        timezone, path)


def _chrono_format(dt: _Dt, fmt: str) -> str:
    out = []
    try:
        toks = _chrono_tokens(fmt)
    except _ChronoNoMatch:
        return fmt
    for kind, t in toks:
        if kind == "lit":
            out.append(t)
            continue
        if t == "Y":
            out.append(f"{dt.y:04d}")
        elif t == "m":
            out.append(f"{dt.mo:02d}")
        elif t == "d":
            out.append(f"{dt.d:02d}")
        elif t == "e":
            out.append(f"{dt.d:2d}")
        elif t == "H":
            out.append(f"{dt.h:02d}")
        elif t == "M":
            out.append(f"{dt.mi:02d}")
        elif t == "S":
            out.append(f"{dt.s:02d}")
        elif t == "y":
            out.append(f"{dt.y % 100:02d}")
        elif t == "I":
            out.append(f"{(dt.h % 12) or 12:02d}")
        elif t == "p":
            out.append("AM" if dt.h < 12 else "PM")
        elif t == "b" or t == "h":
            out.append(_MONTHS[dt.mo - 1][:3])
        elif t == "B":
            out.append(_MONTHS[dt.mo - 1])
        elif t == "a":
            out.append(_WDAYS[_weekday(dt)][:3])
        elif t == "A":
            out.append(_WDAYS[_weekday(dt)])
        elif t == "j":
            out.append(f"{_yday(dt):03d}")
        elif t == "s":
            out.append(str(dt.timestamp()))
        elif t == ".f":
            if dt.nanos:
                frac = f"{dt.nanos:09d}".rstrip("0")
                out.append("." + frac)
        elif t == "f":
            out.append(f"{dt.nanos:09d}")
        elif t == "3f":
            out.append(f"{dt.nanos // 1_000_000:03d}")
        elif t == "6f":
            out.append(f"{dt.nanos // 1_000:06d}")
        elif t == "9f":
            out.append(f"{dt.nanos:09d}")
        elif t == "z":
            sign = "+" if dt.off >= 0 else "-"
            o = abs(dt.off)
            out.append(f"{sign}{o // 3600:02d}{(o % 3600) // 60:02d}")
        elif t == ":z":
            sign = "+" if dt.off >= 0 else "-"
            o = abs(dt.off)
            out.append(f"{sign}{o // 3600:02d}:{(o % 3600) // 60:02d}")
        elif t == "T":
            out.append(f"{dt.h:02d}:{dt.mi:02d}:{dt.s:02d}")
        elif t == "F":
            out.append(f"{dt.y:04d}-{dt.mo:02d}-{dt.d:02d}")
        elif t == "R":
            out.append(f"{dt.h:02d}:{dt.mi:02d}")
        elif t == "%":
            out.append("%")
        else:
            out.append("%" + t)
    return "".join(out)


def _weekday(dt: _Dt) -> int:
    days = _Dt._days_from_civil(dt.y, dt.mo, dt.d)
    return (days + 3) % 7  # 1970-01-01 was a Thursday; Monday=0


def _yday(dt: _Dt) -> int:
    return (_Dt._days_from_civil(dt.y, dt.mo, dt.d)
            - _Dt._days_from_civil(dt.y, 1, 1) + 1)


def _looks_like_timezone(value: str) -> bool:
    if value.lower() == "utc" or value == "Z":
        return True
    return value[:1] in ("+", "-")


def _parse_timezone(value: str, path: str) -> int:
    """``parse_timezone`` (transform.rs:5681-5772) → offset seconds."""
    bad = _expr_err("timezone must be UTC or an offset like +09:00", path)
    if value.lower() == "utc" or value == "Z":
        return 0
    if value[:1] == "+":
        sign, rest = 1, value[1:]
    elif value[:1] == "-":
        sign, rest = -1, value[1:]
    else:
        raise bad
    if ":" in rest:
        h, _, m = rest.partition(":")
        hi, mi = parse_i64(h), parse_i64(m)
        if hi is None or mi is None:
            raise bad
    elif len(rest) == 2:
        hi = parse_i64(rest)
        if hi is None:
            raise bad
        mi = 0
    elif len(rest) == 4:
        hi, mi = parse_i64(rest[:2]), parse_i64(rest[2:])
        if hi is None or mi is None:
            raise bad
    else:
        raise bad
    if not (0 <= hi <= 23) or not (0 <= mi <= 59):
        raise bad
    return sign * (hi * 3600 + mi * 60)


def _parse_format_list(value, path):
    """``parse_format_list`` (transform.rs:5548-5599)."""
    if isinstance(value, str):
        if value == "":
            raise _expr_err("input_format must not be empty", path)
        return [value]
    if isinstance(value, list):
        if not value:
            raise _expr_err("input_format must not be empty", path)
        formats = []
        for index, item in enumerate(value):
            item_path = f"{path}[{index}]"
            if not isinstance(item, str):
                raise _expr_err(
                    "input_format must be a string or array of strings",
                    item_path)
            if item == "":
                raise _expr_err("input_format must not be empty", item_path)
            formats.append(item)
        return formats
    raise _expr_err("input_format must be a string or array of strings",
                    path)


def _op_date_format(total_len, args, injected, record, context, out,
                    base_path, locals):
    if not (2 <= total_len <= 4):
        raise _expr_err("expr.args must contain two to four items",
                        f"{base_path}.args")
    A = (args, injected, record, context, out, base_path, locals)
    value = _eval_string_at(0, *A)
    if value is None:
        return MISSING
    output_format = _eval_string_at(1, *A)
    if output_format is None:
        return MISSING
    value_path = f"{base_path}.args[0]"
    input_formats = None
    timezone = None
    if total_len >= 3:
        input_path = f"{base_path}.args[2]"
        boxed = _eval_value_at(2, *A)
        if boxed is None:
            return MISSING
        if boxed.v is None:
            raise _expr_err("expr arg must not be null", input_path)
        if isinstance(boxed.v, str) and _looks_like_timezone(boxed.v):
            timezone = _parse_timezone(boxed.v, input_path)
        else:
            input_formats = _parse_format_list(boxed.v, input_path)
    if total_len == 4:
        tz_path = f"{base_path}.args[3]"
        tz_value = _eval_string_at(3, *A)
        if tz_value is None:
            return MISSING
        timezone = _parse_timezone(tz_value, tz_path)
    dt = _parse_datetime(value, input_formats, timezone, value_path)
    if timezone is not None:
        dt = dt.with_timezone(timezone)
    return _chrono_format(dt, output_format)


def _op_to_unixtime(total_len, args, injected, record, context, out,
                    base_path, locals):
    if not (1 <= total_len <= 3):
        raise _expr_err("expr.args must contain one to three items",
                        f"{base_path}.args")
    A = (args, injected, record, context, out, base_path, locals)
    value = _eval_string_at(0, *A)
    if value is None:
        return MISSING
    value_path = f"{base_path}.args[0]"
    unit = "s"
    timezone = None
    if total_len >= 2:
        arg_path = f"{base_path}.args[1]"
        arg_value = _eval_string_at(1, *A)
        if arg_value is None:
            return MISSING
        if total_len == 3:
            if arg_value not in ("s", "ms"):
                raise _expr_err("unit must be s or ms", arg_path)
            unit = arg_value
        elif arg_value in ("s", "ms"):
            unit = arg_value
        elif _looks_like_timezone(arg_value):
            timezone = _parse_timezone(arg_value, arg_path)
        else:
            raise _expr_err("unit must be s or ms", arg_path)
    if total_len == 3:
        tz_path = f"{base_path}.args[2]"
        tz_value = _eval_string_at(2, *A)
        if tz_value is None:
            return MISSING
        timezone = _parse_timezone(tz_value, tz_path)
    dt = _parse_datetime(value, None, timezone, value_path)
    if timezone is not None:
        dt = dt.with_timezone(timezone)
    ts = dt.timestamp()
    if unit == "ms":
        return ts * 1000 + dt.nanos // 1_000_000
    return ts


# --- v1 lookup -------------------------------------------------------------


def _literal_string(expr):
    if isinstance(expr, VLit) and isinstance(expr.value, str):
        return expr.value
    return None


def _op_lookup(total_len, first_only, args, injected, record, context,
               out, base_path, locals):
    if not (3 <= total_len <= 4):
        raise _expr_err(
            "lookup args must be [collection, key_path, match_value, "
            "output_path?]", f"{base_path}.args")
    A = (args, injected, record, context, out, base_path, locals)
    collection_path = f"{base_path}.args[0]"
    collection = _eval_at(0, *A)
    if collection is MISSING:
        return MISSING
    if not isinstance(collection, list):
        raise _expr_err("lookup collection must be an array",
                        collection_path)
    key_expr = _arg_expr_at(1, args, injected)
    key_path_lit = _literal_string(key_expr) if key_expr is not None else None
    if key_path_lit is None or key_path_lit == "":
        raise _expr_err("lookup key_path must be a non-empty string literal",
                        f"{base_path}.args[1]")
    try:
        key_tokens = parse_path(key_path_lit)
    except PathParseError:
        raise _expr_err("lookup key_path is invalid",
                        f"{base_path}.args[1]") from None
    output_tokens = None
    if total_len == 4:
        output_expr = _arg_expr_at(3, args, injected)
        value = (_literal_string(output_expr)
                 if output_expr is not None else None)
        if value is None or value == "":
            raise _expr_err(
                "lookup output_path must be a non-empty string literal",
                f"{base_path}.args[3]")
        try:
            output_tokens = parse_path(value)
        except PathParseError:
            raise _expr_err("lookup output_path is invalid",
                            f"{base_path}.args[3]") from None
    match_path = f"{base_path}.args[2]"
    match_value = _eval_at(2, *A)
    if match_value is MISSING:
        return MISSING
    if match_value is None:
        raise _expr_err("lookup match_value must not be null", match_path)
    match_key = v1_value_to_string(match_value, match_path)
    results = []
    for item in collection:
        key_value = get_path(item, key_tokens)
        if key_value is MISSING:
            continue
        item_key = v1_value_to_string_optional(key_value)
        if item_key is None or item_key != match_key:
            continue
        selected = (get_path(item, output_tokens)
                    if output_tokens is not None else item)
        if selected is not MISSING:
            if first_only:
                return selected
            results.append(selected)
    return results if results else MISSING


# --- v1 JSON object ops ----------------------------------------------------


def _merge_object(target: dict, incoming: dict, deep: bool) -> dict:
    for key, value in incoming.items():
        if deep and isinstance(target.get(key), dict) \
                and isinstance(value, dict):
            target[key] = _merge_object(dict(target[key]), value, True)
            continue
        target[key] = value
    return _obj(target)


def _op_merge(total_len, deep, args, injected, record, context, out,
              base_path, locals):
    if total_len < 2:
        raise _expr_err("expr.args must contain at least two items",
                        f"{base_path}.args")
    A = (args, injected, record, context, out, base_path, locals)
    result = None
    for index in range(total_len):
        arg_path = f"{base_path}.args[{index}]"
        v = _eval_at(index, *A)
        if v is MISSING:
            continue
        if v is None:
            raise _expr_err("expr arg must not be null", arg_path)
        if not isinstance(v, dict):
            raise _expr_err("expr arg must be object", arg_path)
        if result is None:
            result = dict(v)
        else:
            result = _merge_object(result, v, deep)
    if result is None:
        return MISSING
    return _obj(result)


def _op_get(total_len, args, injected, record, context, out, base_path,
            locals):
    if total_len != 2:
        raise _expr_err("expr.args must contain exactly two items",
                        f"{base_path}.args")
    A = (args, injected, record, context, out, base_path, locals)
    base_value = _eval_at(0, *A)
    if base_value is MISSING or base_value is None:
        return MISSING
    path_path = f"{base_path}.args[1]"
    path_value = _eval_at(1, *A)
    if path_value is MISSING:
        return MISSING
    if path_value is None:
        raise _expr_err("expr arg must not be null", path_path)
    path = value_as_string(path_value, path_path)
    if path == "":
        raise _expr_err("path must be a non-empty string", path_path)
    tokens = parse_path_tokens(path, EXPR_ERROR, path_path)
    return get_path(base_value, tokens)


def _has_duplicate_path(paths, tokens) -> bool:
    return any(existing == tokens for existing in paths)


def _is_path_prefix(prefix, tokens) -> bool:
    if len(prefix) > len(tokens):
        return False
    return all(a == b for a, b in zip(prefix, tokens))


def _has_path_conflict(paths, tokens) -> bool:
    return any(_is_path_prefix(existing, tokens)
               or _is_path_prefix(tokens, existing) for existing in paths)


def _eval_json_paths_arg(args, injected, record, context, out, base_path,
                         locals, index, allow_terminal_index):
    """``eval_json_paths_arg`` (transform.rs:4964-5040) → None (missing)
    or list of token lists."""
    arg_path = f"{base_path}.args[{index}]"
    A = (args, injected, record, context, out, base_path, locals)
    v = _eval_at(index, *A)
    if v is MISSING:
        return None
    if v is None:
        raise _expr_err("expr arg must not be null", arg_path)
    if isinstance(v, str):
        items = [(arg_path, v)]
    elif isinstance(v, list):
        items = []
        for path_index, item in enumerate(v):
            item_path = f"{base_path}.args[{index}][{path_index}]"
            if not isinstance(item, str):
                raise _expr_err("paths must be a string or array of strings",
                                item_path)
            items.append((item_path, item))
    else:
        raise _expr_err("paths must be a string or array of strings",
                        arg_path)
    paths = []
    for item_path, path in items:
        tokens = parse_path_tokens(path, EXPR_ERROR, item_path)
        if not allow_terminal_index and tokens \
                and not isinstance(tokens[-1], str):
            raise _expr_err("path must not end with array index", item_path)
        if _has_duplicate_path(paths, tokens):
            continue
        if _has_path_conflict(paths, tokens):
            raise _expr_err("path conflicts with another path", item_path)
        paths.append(tokens)
    return paths


def _set_path_with_indexes(root, tokens, value, base_path):
    """``set_path_with_indexes`` (transform.rs:5217-5310).  root is a
    one-element list cell so arrays can be grown in place."""
    conflict = _expr_err("path conflicts with non-object value",
                         f"{base_path}.args[1]")
    if not tokens:
        raise _expr_err("path is empty", f"{base_path}.args[1]")
    cur_parent, cur_key = root, 0  # root is [value]
    for index, token in enumerate(tokens):
        is_last = index == len(tokens) - 1
        next_token = tokens[index + 1] if index + 1 < len(tokens) else None
        current = cur_parent[cur_key]
        if isinstance(token, str):
            if not isinstance(current, dict):
                raise conflict
            if is_last:
                cur_parent[cur_key] = _obj_insert(current, token, value)
                return
            if token not in current:
                entry = [] if isinstance(next_token, int) else {}
                cur_parent[cur_key] = _obj_insert(current, token, entry)
                current = cur_parent[cur_key]
            entry = current[token]
            expect_index = isinstance(next_token, int)
            if not ((expect_index and isinstance(entry, list))
                    or (not expect_index and isinstance(entry, dict))):
                raise conflict
            cur_parent, cur_key = current, token
        else:
            if not isinstance(current, list):
                raise conflict
            if len(current) <= token:
                current.extend([None] * (token + 1 - len(current)))
            if is_last:
                current[token] = value
                return
            if current[token] is None:
                current[token] = [] if isinstance(next_token, int) else {}
            entry = current[token]
            expect_index = isinstance(next_token, int)
            if not ((expect_index and isinstance(entry, list))
                    or (not expect_index and isinstance(entry, dict))):
                raise conflict
            cur_parent, cur_key = current, token


def _set_path_object_only(root, tokens, value, base_path):
    """``set_path_object_only`` (transform.rs:5151-5215); root is [obj]."""
    err_path = f"{base_path}.args[0]"
    if not tokens:
        raise _expr_err("path is empty", err_path)
    cur_parent, cur_key = root, 0
    for index, token in enumerate(tokens):
        if not isinstance(token, str):
            raise _expr_err("array indexes are not allowed in path",
                            err_path)
        is_last = index == len(tokens) - 1
        current = cur_parent[cur_key]
        if not isinstance(current, dict):
            raise _expr_err("path conflicts with non-object value", err_path)
        if is_last:
            if token in current:
                raise _expr_err("path conflicts with existing value",
                                err_path)
            cur_parent[cur_key] = _obj_insert(current, token, value)
            return
        if token not in current:
            cur_parent[cur_key] = _obj_insert(current, token, {})
            current = cur_parent[cur_key]
        if not isinstance(current[token], dict):
            raise _expr_err("path conflicts with non-object value", err_path)
        cur_parent, cur_key = current, token


def _remove_path(root, tokens):
    if not tokens:
        return
    first, rest = tokens[0], tokens[1:]
    if isinstance(first, str):
        if isinstance(root, dict):
            if not rest:
                root.pop(first, None)
                return
            if first in root:
                _remove_path(root[first], rest)
    else:
        if isinstance(root, list) and first < len(root):
            _remove_path(root[first], rest)


def _op_pick(total_len, args, injected, record, context, out, base_path,
             locals):
    if total_len != 2:
        raise _expr_err("expr.args must contain exactly two items",
                        f"{base_path}.args")
    A = (args, injected, record, context, out, base_path, locals)
    base_arg = f"{base_path}.args[0]"
    base_value = _eval_at(0, *A)
    if base_value is MISSING:
        return MISSING
    if base_value is None:
        raise _expr_err("expr arg must not be null", base_arg)
    if not isinstance(base_value, dict):
        raise _expr_err("expr arg must be object", base_arg)
    paths = _eval_json_paths_arg(args, injected, record, context, out,
                                 base_path, locals, 1, True)
    if paths is None:
        return MISSING
    output = [{}]
    for tokens in paths:
        v = get_path(base_value, tokens)
        if v is not MISSING:
            _set_path_with_indexes(output, tokens,
                                   json.loads(json.dumps(v))
                                   if isinstance(v, (dict, list)) else v,
                                   base_path)
    return output[0]


def _op_omit(total_len, args, injected, record, context, out, base_path,
             locals):
    if total_len != 2:
        raise _expr_err("expr.args must contain exactly two items",
                        f"{base_path}.args")
    A = (args, injected, record, context, out, base_path, locals)
    base_arg = f"{base_path}.args[0]"
    base_value = _eval_at(0, *A)
    if base_value is MISSING:
        return MISSING
    if base_value is None:
        raise _expr_err("expr arg must not be null", base_arg)
    if not isinstance(base_value, dict):
        raise _expr_err("expr arg must be object", base_arg)
    paths = _eval_json_paths_arg(args, injected, record, context, out,
                                 base_path, locals, 1, False)
    if paths is None:
        return MISSING
    base_value = json.loads(json.dumps(base_value))  # deep copy
    for tokens in paths:
        _remove_path(base_value, tokens)
    return base_value


def _format_path_tokens(tokens) -> str:
    path = []
    for token in tokens:
        if isinstance(token, str):
            if "." in token:
                escaped = token.replace("\\", "\\\\").replace('"', '\\"')
                path.append(f'["{escaped}"]')
            else:
                if path:
                    path.append(".")
                path.append(token)
        else:
            path.append(f"[{token}]")
    return "".join(path)


def _flatten_object(map_, tokens, output, base_path):
    for key, value in map_.items():
        if key == "":
            raise _expr_err("object_flatten does not support empty keys",
                            f"{base_path}.args[0]")
        if "[" in key or "]" in key:
            raise _expr_err(
                "object_flatten does not support keys with '[' or ']'",
                f"{base_path}.args[0]")
        tokens.append(key)
        if isinstance(value, dict):
            if not value:
                output[_format_path_tokens(tokens)] = {}
            else:
                _flatten_object(value, tokens, output, base_path)
        else:
            output[_format_path_tokens(tokens)] = value
        tokens.pop()


def _op_object_unary(op, total_len, args, injected, record, context, out,
                     base_path, locals):
    if total_len != 1:
        raise _expr_err("expr.args must contain exactly one item",
                        f"{base_path}.args")
    arg_path = f"{base_path}.args[0]"
    A = (args, injected, record, context, out, base_path, locals)
    v = _eval_at(0, *A)
    if v is MISSING:
        return MISSING
    if v is None:
        raise _expr_err("expr arg must not be null", arg_path)
    if not isinstance(v, dict):
        raise _expr_err("expr arg must be object", arg_path)
    if op == "keys":
        return list(v.keys())
    if op == "values":
        return list(v.values())
    if op == "entries":
        return [_obj({"key": k, "value": x}) for k, x in v.items()]
    if op == "object_flatten":
        output: dict = {}
        _flatten_object(v, [], output, base_path)
        return _obj(output)
    # object_unflatten
    paths = []
    values = []
    for key, value in v.items():
        tokens = parse_path_tokens(key, EXPR_ERROR, f"{base_path}.args[0]")
        if any(not isinstance(t, str) for t in tokens):
            raise _expr_err("array indexes are not allowed in path",
                            f"{base_path}.args[0]")
        if _has_path_conflict(paths, tokens):
            raise _expr_err("path conflicts with another path",
                            f"{base_path}.args[0]")
        paths.append(tokens)
        values.append(value)
    root = [{}]
    for tokens, value in zip(paths, values):
        _set_path_object_only(root, tokens, value, base_path)
    return root[0]


def _op_len(total_len, args, injected, record, context, out, base_path,
            locals):
    if total_len != 1:
        raise _expr_err("expr.args must contain exactly one item",
                        f"{base_path}.args")
    arg_path = f"{base_path}.args[0]"
    A = (args, injected, record, context, out, base_path, locals)
    v = _eval_at(0, *A)
    if v is MISSING:
        return MISSING
    if v is None:
        raise _expr_err("expr arg must not be null", arg_path)
    if isinstance(v, str):
        return len(v)
    if isinstance(v, (list, dict)):
        return len(v)
    raise _expr_err("expr arg must be string, array, or object", arg_path)


def _op_from_entries(total_len, args, injected, record, context, out,
                     base_path, locals):
    if not (1 <= total_len <= 2):
        raise _expr_err("expr.args must contain one or two items",
                        f"{base_path}.args")
    arg_path = f"{base_path}.args[0]"
    A = (args, injected, record, context, out, base_path, locals)
    first_value = _eval_at(0, *A)
    if first_value is MISSING:
        return MISSING
    if first_value is None:
        raise _expr_err("expr arg must not be null", arg_path)
    if total_len == 1:
        if isinstance(first_value, dict):
            return first_value
        if isinstance(first_value, list):
            output: dict = {}
            for index, item in enumerate(first_value):
                entry_path = f"{arg_path}[{index}]"
                if isinstance(item, list):
                    if len(item) != 2:
                        raise _expr_err(
                            "entries must have exactly two items",
                            entry_path)
                    key = v1_value_to_string(item[0], f"{entry_path}[0]")
                    output[key] = item[1]
                elif isinstance(item, dict):
                    key_path = f"{entry_path}.key"
                    value_path = f"{entry_path}.value"
                    if "key" not in item:
                        raise _expr_err("entry must contain key", key_path)
                    key_value = item["key"]
                    if key_value is None:
                        raise _expr_err("entry key must not be null",
                                        key_path)
                    if "value" not in item:
                        raise _expr_err("entry must contain value",
                                        value_path)
                    key = v1_value_to_string(key_value, key_path)
                    output[key] = item["value"]
                else:
                    raise _expr_err("entries must be arrays or objects",
                                    entry_path)
            return _obj(output)
        raise _expr_err("expr arg must be object or array", arg_path)
    key = v1_value_to_string(first_value, arg_path)
    value = _eval_at(1, *A)
    if value is MISSING:
        return MISSING
    return _obj({key: value})


# --- v1 array ops ----------------------------------------------------------


def _two_arg_array_op_setup(total_len, args, injected, record, context,
                            out, base_path, locals):
    if total_len != 2:
        raise _expr_err("expr.args must contain exactly two items",
                        f"{base_path}.args")
    array = _eval_array_arg(0, args, injected, record, context, out,
                            base_path, locals)
    expr = _arg_expr_at(1, args, injected)
    if expr is None:
        raise _expr_err("expr.args index is out of bounds",
                        f"{base_path}.args[1]")
    expr_index = 0 if injected is not None else 1
    expr_path = f"{base_path}.args[{expr_index}]"
    return array, expr, expr_path


def _op_array_predicate_family(op, total_len, args, injected, record,
                               context, out, base_path, locals):
    array, expr, expr_path = _two_arg_array_op_setup(
        total_len, args, injected, record, context, out, base_path, locals)
    if op == "map":
        results = []
        for index, item in enumerate(array):
            il = _locals_with_item(locals, (item, index))
            results.append(_eval_expr_or_null(expr, record, context, out,
                                              expr_path, il))
        return results
    if op == "filter":
        return [item for index, item in enumerate(array)
                if _eval_predicate(expr, record, context, out, expr_path,
                                   _locals_with_item(locals, (item, index)))]
    if op == "flat_map":
        results = []
        for index, item in enumerate(array):
            il = _locals_with_item(locals, (item, index))
            v = _eval_expr_or_null(expr, record, context, out, expr_path, il)
            if isinstance(v, list):
                results.extend(v)
            else:
                results.append(v)
        return results
    if op == "group_by":
        results: dict = {}
        for index, item in enumerate(array):
            il = _locals_with_item(locals, (item, index))
            key = _eval_key_string(expr, record, context, out, expr_path, il)
            results.setdefault(key, []).append(item)
        return _obj(results)
    if op == "key_by":
        results = {}
        for index, item in enumerate(array):
            il = _locals_with_item(locals, (item, index))
            key = _eval_key_string(expr, record, context, out, expr_path, il)
            results[key] = item
        return _obj(results)
    if op == "partition":
        matched, unmatched = [], []
        for index, item in enumerate(array):
            il = _locals_with_item(locals, (item, index))
            if _eval_predicate(expr, record, context, out, expr_path, il):
                matched.append(item)
            else:
                unmatched.append(item)
        return [matched, unmatched]
    if op == "distinct_by":
        results = []
        seen = set()
        for index, item in enumerate(array):
            il = _locals_with_item(locals, (item, index))
            key = _eval_key_string(expr, record, context, out, expr_path, il)
            if key not in seen:
                seen.add(key)
                results.append(item)
        return results
    if op == "find":
        for index, item in enumerate(array):
            il = _locals_with_item(locals, (item, index))
            if _eval_predicate(expr, record, context, out, expr_path, il):
                return item
        return None
    # find_index
    for index, item in enumerate(array):
        il = _locals_with_item(locals, (item, index))
        if _eval_predicate(expr, record, context, out, expr_path, il):
            return index
    return -1


def _flatten_value(value, depth, out_list):
    if depth == 0:
        out_list.append(value)
        return
    if isinstance(value, list):
        for item in value:
            _flatten_value(item, depth - 1, out_list)
    else:
        out_list.append(value)


def _op_flatten(total_len, args, injected, record, context, out,
                base_path, locals):
    if not (1 <= total_len <= 2):
        raise _expr_err("expr.args must contain one or two items",
                        f"{base_path}.args")
    A = (args, injected, record, context, out, base_path, locals)
    array = _eval_array_arg(0, *A)
    depth = 1
    if total_len == 2:
        depth_path = f"{base_path}.args[1]"
        boxed = _eval_value_at(1, *A)
        if boxed is None:
            return MISSING
        if boxed.v is None:
            raise _expr_err("expr arg must not be null", depth_path)
        depth = value_to_i64(boxed.v, depth_path,
                             "depth must be a non-negative integer")
        if depth < 0:
            raise _expr_err("depth must be a non-negative integer",
                            depth_path)
    results: list = []
    for item in array:
        _flatten_value(item, depth, results)
    return results


def _op_take_drop(is_take, total_len, args, injected, record, context,
                  out, base_path, locals):
    if total_len != 2:
        raise _expr_err("expr.args must contain exactly two items",
                        f"{base_path}.args")
    A = (args, injected, record, context, out, base_path, locals)
    array = _eval_array_arg(0, *A)
    count_path = f"{base_path}.args[1]"
    boxed = _eval_value_at(1, *A)
    if boxed is None:
        return MISSING
    if boxed.v is None:
        raise _expr_err("expr arg must not be null", count_path)
    count = value_to_i64(boxed.v, count_path, "count must be an integer")
    n = len(array)
    if is_take:
        if count >= 0:
            return array[:min(count, n)]
        take_count = min(-count, n)
        return array[n - take_count:]
    if count >= 0:
        return array[min(count, n):]
    drop_count = min(-count, n)
    return array[:n - drop_count]


def _op_slice(total_len, args, injected, record, context, out, base_path,
              locals):
    if not (2 <= total_len <= 3):
        raise _expr_err("expr.args must contain two or three items",
                        f"{base_path}.args")
    A = (args, injected, record, context, out, base_path, locals)
    array = _eval_array_arg(0, *A)
    n = len(array)
    start_path = f"{base_path}.args[1]"
    boxed = _eval_value_at(1, *A)
    if boxed is None:
        return MISSING
    if boxed.v is None:
        raise _expr_err("expr arg must not be null", start_path)
    start = value_to_i64(boxed.v, start_path, "start must be an integer")
    if total_len == 3:
        end_path = f"{base_path}.args[2]"
        eboxed = _eval_value_at(2, *A)
        if eboxed is None:
            return MISSING
        if eboxed.v is None:
            raise _expr_err("expr arg must not be null", end_path)
        end = value_to_i64(eboxed.v, end_path, "end must be an integer")
    else:
        end = n
    start_index = n + start if start < 0 else start
    end_index = n + end if end < 0 else end
    start_index = max(0, min(start_index, n))
    end_index = max(0, min(end_index, n))
    if end_index <= start_index:
        return []
    return array[start_index:end_index]


def _op_chunk(total_len, args, injected, record, context, out, base_path,
              locals):
    if total_len != 2:
        raise _expr_err("expr.args must contain exactly two items",
                        f"{base_path}.args")
    A = (args, injected, record, context, out, base_path, locals)
    array = _eval_array_arg(0, *A)
    size_path = f"{base_path}.args[1]"
    boxed = _eval_value_at(1, *A)
    if boxed is None:
        return MISSING
    if boxed.v is None:
        raise _expr_err("expr arg must not be null", size_path)
    size = value_to_i64(boxed.v, size_path, "size must be a positive integer")
    if size <= 0:
        raise _expr_err("size must be a positive integer", size_path)
    return [array[i:i + size] for i in range(0, len(array), size)]


def _op_zip(total_len, args, injected, record, context, out, base_path,
            locals):
    if total_len < 2:
        raise _expr_err("expr.args must contain at least two items",
                        f"{base_path}.args")
    A = (args, injected, record, context, out, base_path, locals)
    arrays = [_eval_array_arg(i, *A) for i in range(total_len)]
    min_len = min((len(a) for a in arrays), default=0)
    return [[a[i] for a in arrays] for i in range(min_len)]


def _op_zip_with(total_len, args, injected, record, context, out,
                 base_path, locals):
    if total_len < 3:
        raise _expr_err("expr.args must contain at least three items",
                        f"{base_path}.args")
    A = (args, injected, record, context, out, base_path, locals)
    expr_index = total_len - 1
    expr = _arg_expr_at(expr_index, args, injected)
    if expr is None:
        raise _expr_err("expr.args index is out of bounds",
                        f"{base_path}.args[{expr_index}]")
    expr_arg_index = expr_index - 1 if injected is not None else expr_index
    expr_path = f"{base_path}.args[{expr_arg_index}]"
    arrays = [_eval_array_arg(i, *A) for i in range(expr_index)]
    min_len = min((len(a) for a in arrays), default=0)
    results = []
    for idx in range(min_len):
        row = [a[idx] for a in arrays]
        il = _locals_with_item(locals, (row, idx))
        results.append(_eval_expr_or_null(expr, record, context, out,
                                          expr_path, il))
    return results


def _op_unzip(total_len, args, injected, record, context, out, base_path,
              locals):
    if total_len != 1:
        raise _expr_err("expr.args must contain exactly one item",
                        f"{base_path}.args")
    A = (args, injected, record, context, out, base_path, locals)
    array = _eval_array_arg(0, *A)
    if not array:
        return []
    columns: list = []
    expected_len = None
    for item in array:
        if not isinstance(item, list):
            raise _expr_err("unzip items must be arrays",
                            f"{base_path}.args[0]")
        if expected_len is not None:
            if len(item) != expected_len:
                raise _expr_err("unzip items must have the same length",
                                f"{base_path}.args[0]")
        else:
            expected_len = len(item)
            columns = [[] for _ in range(expected_len)]
        for index, value in enumerate(item):
            if index < len(columns):
                columns[index].append(value)
    return columns


def _op_unique(total_len, args, injected, record, context, out, base_path,
               locals):
    if total_len != 1:
        raise _expr_err("expr.args must contain exactly one item",
                        f"{base_path}.args")
    A = (args, injected, record, context, out, base_path, locals)
    array = _eval_array_arg(0, *A)
    item_path = f"{base_path}.args[0]"
    results: list = []
    for item in array:
        ensure_eq_compatible(item, item_path)
        if not any(compare_eq(item, existing, item_path, item_path)
                   for existing in results):
            results.append(item)
    return results


def _op_sort_by(total_len, args, injected, record, context, out,
                base_path, locals):
    if not (2 <= total_len <= 3):
        raise _expr_err("expr.args must contain two or three items",
                        f"{base_path}.args")
    A = (args, injected, record, context, out, base_path, locals)
    array = _eval_array_arg(0, *A)
    if not array:
        return []
    expr = _arg_expr_at(1, args, injected)
    if expr is None:
        raise _expr_err("expr.args index is out of bounds",
                        f"{base_path}.args[1]")
    expr_index = 0 if injected is not None else 1
    expr_path = f"{base_path}.args[{expr_index}]"
    order = "asc"
    if total_len == 3:
        order_path = f"{base_path}.args[2]"
        value = _eval_string_at(2, *A)
        if value is None:
            return MISSING
        if value not in ("asc", "desc"):
            raise _expr_err("order must be asc or desc", order_path)
        order = value
    items = []
    key_kind = None
    for index, item in enumerate(array):
        il = _locals_with_item(locals, (item, index))
        v = eval_expr(expr, record, context, out, expr_path, il)
        if v is MISSING:
            raise _expr_err("expr arg must not be missing", expr_path)
        if v is None:
            raise _expr_err("expr arg must not be null", expr_path)
        kind, key = _sort_key(v, expr_path)
        if key_kind is not None and key_kind != kind:
            raise _expr_err("sort_by keys must be all the same type",
                            expr_path)
        key_kind = kind
        items.append((key, index, item))
    # Python's stable sort keeps equal keys in original (index) order for
    # BOTH directions — matching the reference's explicit index tiebreak
    items.sort(key=lambda t: t[0], reverse=(order == "desc"))
    return [t[2] for t in items]


def _op_index_of_contains(is_contains, total_len, args, injected, record,
                          context, out, base_path, locals):
    if total_len != 2:
        raise _expr_err("expr.args must contain exactly two items",
                        f"{base_path}.args")
    A = (args, injected, record, context, out, base_path, locals)
    array = _eval_array_arg(0, *A)
    value_path = f"{base_path}.args[1]"
    value = _eval_or_null_at(1, *A)
    ensure_eq_compatible(value, value_path)
    item_path = f"{base_path}.args[0]"
    for index, item in enumerate(array):
        ensure_eq_compatible(item, item_path)
        if compare_eq(item, value, item_path, value_path):
            return True if is_contains else index
    return False if is_contains else -1


def _op_numeric_fold(op, total_len, args, injected, record, context, out,
                     base_path, locals):
    if total_len != 1:
        raise _expr_err("expr.args must contain exactly one item",
                        f"{base_path}.args")
    A = (args, injected, record, context, out, base_path, locals)
    array = _eval_array_arg(0, *A)
    if not array:
        return None
    item_path = f"{base_path}.args[0]"
    nums = [value_to_number(item, item_path, "array item must be a number")
            for item in array]
    if op == "sum":
        result = _seq_sum(nums)
    elif op == "avg":
        result = _seq_sum(nums) / len(nums)
    elif op == "min":
        result = _rust_min(nums)
    else:
        result = _rust_max(nums)
    return json_number_from_f64(result, base_path)


def _seq_sum(nums):
    """Left-to-right f64 addition (Rust's loop, not fsum)."""
    total = 0.0
    for n in nums:
        total += n
    return total


def _rust_min(nums):
    cur = None
    for n in nums:
        cur = n if cur is None else min(cur, n)
    return cur


def _rust_max(nums):
    cur = None
    for n in nums:
        cur = n if cur is None else max(cur, n)
    return cur


def _op_reduce(total_len, args, injected, record, context, out, base_path,
               locals):
    array, expr, expr_path = _two_arg_array_op_setup(
        total_len, args, injected, record, context, out, base_path, locals)
    if not array:
        return None
    acc = array[0]
    for index in range(1, len(array)):
        item = array[index]
        il = EvalLocals(item=(item, index), acc=_Box(acc),
                        pipe=locals.pipe if locals else None,
                        locals=locals.locals if locals else None)
        acc = _eval_expr_or_null(expr, record, context, out, expr_path, il)
    return acc


def _op_fold(total_len, args, injected, record, context, out, base_path,
             locals):
    if total_len != 3:
        raise _expr_err("expr.args must contain exactly three items",
                        f"{base_path}.args")
    A = (args, injected, record, context, out, base_path, locals)
    array = _eval_array_arg(0, *A)
    initial = _eval_at(1, *A)
    if initial is MISSING:
        return MISSING
    expr = _arg_expr_at(2, args, injected)
    if expr is None:
        raise _expr_err("expr.args index is out of bounds",
                        f"{base_path}.args[2]")
    expr_index = 1 if injected is not None else 2
    expr_path = f"{base_path}.args[{expr_index}]"
    acc = initial
    for index, item in enumerate(array):
        il = EvalLocals(item=(item, index), acc=_Box(acc),
                        pipe=locals.pipe if locals else None,
                        locals=locals.locals if locals else None)
        acc = _eval_expr_or_null(expr, record, context, out, expr_path, il)
    return acc


def _op_and_or(is_and, total_len, args, injected, record, context, out,
               base_path, locals):
    if total_len < 2:
        raise _expr_err("expr.args must contain at least two items",
                        f"{base_path}.args")
    A = (args, injected, record, context, out, base_path, locals)
    saw_missing = False
    for index in range(total_len):
        arg_path = f"{base_path}.args[{index}]"
        v = _eval_at(index, *A)
        if v is MISSING:
            saw_missing = True
            continue
        flag = value_as_bool(v, arg_path)
        if is_and and not flag:
            return False
        if not is_and and flag:
            return True
    return MISSING if saw_missing else is_and


def _op_not(total_len, args, injected, record, context, out, base_path,
            locals):
    if total_len != 1:
        raise _expr_err("expr.args must contain exactly one item",
                        f"{base_path}.args")
    arg_path = f"{base_path}.args[0]"
    v = _eval_at(0, args, injected, record, context, out, base_path, locals)
    if v is MISSING:
        return MISSING
    return not value_as_bool(v, arg_path)


def _op_compare(op, total_len, args, injected, record, context, out,
                base_path, locals):
    if total_len != 2:
        raise _expr_err("expr.args must contain exactly two items",
                        f"{base_path}.args")
    A = (args, injected, record, context, out, base_path, locals)
    left_path = f"{base_path}.args[0]"
    right_path = f"{base_path}.args[1]"
    left = _eval_or_null_at(0, *A)
    right = _eval_or_null_at(1, *A)
    if op == "==":
        return compare_eq(left, right, left_path, right_path)
    if op == "!=":
        return not compare_eq(left, right, left_path, right_path)
    if op == "<":
        return compare_numbers(left, right, left_path, right_path,
                               lambda l, r: l < r)
    if op == "<=":
        return compare_numbers(left, right, left_path, right_path,
                               lambda l, r: l <= r)
    if op == ">":
        return compare_numbers(left, right, left_path, right_path,
                               lambda l, r: l > r)
    if op == ">=":
        return compare_numbers(left, right, left_path, right_path,
                               lambda l, r: l >= r)
    return match_regex(left, right, left_path, right_path)


# =========================================================================
# v2 evaluation (v2_eval.rs)
# =========================================================================

class V2Ctx:
    """``V2EvalContext`` (v2_eval.rs:65-148)."""

    __slots__ = ("pipe_value", "let_bindings", "item", "acc")

    def __init__(self, pipe_value=None, let_bindings=None, item=None,
                 acc=None):
        self.pipe_value = pipe_value      # _Box(EvalValue) or None
        self.let_bindings = let_bindings or {}
        self.item = item                  # (value, index) or None
        self.acc = acc                    # _Box(value) or None

    def clone(self) -> "V2Ctx":
        return V2Ctx(self.pipe_value, dict(self.let_bindings), self.item,
                     self.acc)

    def with_pipe_value(self, value) -> "V2Ctx":
        c = self.clone()
        c.pipe_value = _Box(value)
        return c

    def with_let_binding(self, name, value) -> "V2Ctx":
        c = self.clone()
        c.let_bindings[name] = value
        return c

    def with_item(self, item) -> "V2Ctx":
        c = self.clone()
        c.item = item
        return c

    def with_acc(self, acc) -> "V2Ctx":
        c = self.clone()
        c.acc = _Box(acc)
        return c


def _v2_get_path_str(value, path_str, error_path):
    try:
        tokens = parse_path(path_str)
    except PathParseError:
        raise _expr_err(f"invalid path: {path_str}", error_path) from None
    return get_path(value, tokens)


def eval_v2_ref(v2_ref: V2Ref, record, context, out, path, ctx: V2Ctx):
    """``eval_v2_ref`` (v2_eval.rs:301-386)."""
    ns, ref_path = v2_ref.ns, v2_ref.path
    if ns == "input":
        if ref_path == "":
            return record
        return _v2_get_path_str(record, ref_path, path)
    if ns == "context":
        if context is None:
            return MISSING
        if ref_path == "":
            return context
        return _v2_get_path_str(context, ref_path, path)
    if ns == "out":
        if ref_path == "":
            return out
        return _v2_get_path_str(out, ref_path, path)
    if ns == "item":
        if ctx.item is None:
            raise _expr_err(
                "@item is only available in map/filter operations", path)
        value, index = ctx.item
        if ref_path == "":
            return value
        if ref_path == "index":
            return index
        if ref_path.startswith("value."):
            return _v2_get_path_str(value, ref_path[6:], path)
        if ref_path == "value":
            return value
        return _v2_get_path_str(value, ref_path, path)
    if ns == "acc":
        if ctx.acc is None:
            raise _expr_err(
                "@acc is only available in reduce/fold operations", path)
        acc = ctx.acc.v
        if ref_path == "":
            return acc
        if ref_path.startswith("value."):
            return _v2_get_path_str(acc, ref_path[6:], path)
        if ref_path == "value":
            return acc
        return _v2_get_path_str(acc, ref_path, path)
    # local
    if v2_ref.path not in ctx.let_bindings:
        raise _expr_err(f"undefined variable: @{v2_ref.path}", path)
    return ctx.let_bindings[v2_ref.path]


def eval_v2_start(start: V2Start, record, context, out, path, ctx: V2Ctx):
    if start.kind == "ref":
        return eval_v2_ref(start.ref, record, context, out, path, ctx)
    if start.kind == "pipe":
        return ctx.pipe_value.v if ctx.pipe_value is not None else MISSING
    return start.value


def eval_v2_pipe(pipe: V2Pipe, record, context, out, path, ctx: V2Ctx):
    """``eval_v2_pipe`` (v2_eval.rs:820-892)."""
    current = eval_v2_start(pipe.start, record, context, out, path, ctx)
    current_ctx = ctx.clone()
    for i, step in enumerate(pipe.steps):
        step_path = f"{path}[{i + 1}]"
        current_ctx = current_ctx.with_pipe_value(current)
        if isinstance(step, V2OpStep):
            current = eval_v2_op_step(step, current, record, context, out,
                                      step_path, current_ctx)
        elif isinstance(step, V2LetStep):
            current_ctx = eval_v2_let_step(step, current, record, context,
                                           out, step_path, current_ctx)
        elif isinstance(step, V2IfStep):
            current = eval_v2_if_step(step, current, record, context, out,
                                      step_path, current_ctx)
        elif isinstance(step, V2MapStep):
            current = eval_v2_map_step(step, current, record, context, out,
                                       step_path, current_ctx)
        else:  # V2RefStep
            current = eval_v2_ref(step.ref, record, context, out,
                                  step_path, current_ctx)
    return current


def eval_v2_let_step(let_step: V2LetStep, pipe_value, record, context,
                     out, path, ctx: V2Ctx) -> V2Ctx:
    new_ctx = ctx.with_pipe_value(pipe_value)
    for name, expr in let_step.bindings:
        binding_path = f"{path}.{name}"
        value = eval_v2_expr(expr, record, context, out, binding_path,
                             new_ctx)
        new_ctx = new_ctx.with_let_binding(name, value)
    return new_ctx


def eval_v2_if_step(if_step: V2IfStep, pipe_value, record, context, out,
                    path, ctx: V2Ctx):
    cond_ctx = ctx.with_pipe_value(pipe_value)
    cond_path = f"{path}.cond"
    cond_result = eval_v2_condition(if_step.cond, record, context, out,
                                    cond_path, cond_ctx)
    if cond_result:
        return eval_v2_pipe(if_step.then_branch, record, context, out,
                            f"{path}.then", cond_ctx)
    if if_step.else_branch is not None:
        return eval_v2_pipe(if_step.else_branch, record, context, out,
                            f"{path}.else", cond_ctx)
    return pipe_value


def eval_v2_map_step(map_step: V2MapStep, pipe_value, record, context,
                     out, path, ctx: V2Ctx):
    if pipe_value is MISSING:
        return MISSING
    if not isinstance(pipe_value, list):
        raise _expr_err(
            f"map step requires array, got {_rust_debug(pipe_value)}", path)
    results = []
    for index, item_value in enumerate(pipe_value):
        item_path = f"{path}[{index}]"
        item_ctx = (ctx.with_pipe_value(item_value)
                    .with_item((item_value, index)))
        current = item_value
        step_ctx = item_ctx.clone()
        for step_idx, step in enumerate(map_step.steps):
            step_path = f"{item_path}.step[{step_idx}]"
            step_ctx = step_ctx.with_pipe_value(current)
            if isinstance(step, V2OpStep):
                current = eval_v2_op_step(step, current, record, context,
                                          out, step_path, step_ctx)
            elif isinstance(step, V2LetStep):
                step_ctx = eval_v2_let_step(step, current, record, context,
                                            out, step_path, step_ctx)
                if step_ctx.pipe_value is not None:
                    current = step_ctx.pipe_value.v
            elif isinstance(step, V2IfStep):
                current = eval_v2_if_step(step, current, record, context,
                                          out, step_path, step_ctx)
            elif isinstance(step, V2MapStep):
                current = eval_v2_map_step(step, current, record, context,
                                           out, step_path, step_ctx)
            else:
                current = eval_v2_ref(step.ref, record, context, out,
                                      step_path, step_ctx)
        if current is not MISSING:
            results.append(current)
    return results


def eval_v2_condition(condition: V2Cond, record, context, out, path,
                      ctx: V2Ctx) -> bool:
    if condition.kind == "all":
        for i, cond in enumerate(condition.conds):
            if not eval_v2_condition(cond, record, context, out,
                                     f"{path}[{i}]", ctx):
                return False
        return True
    if condition.kind == "any":
        for i, cond in enumerate(condition.conds):
            if eval_v2_condition(cond, record, context, out,
                                 f"{path}[{i}]", ctx):
                return True
        return False
    if condition.kind == "cmp":
        return _eval_v2_comparison(condition, record, context, out, path,
                                   ctx)
    expr_path = f"{path}.expr"
    value = eval_v2_expr(condition.expr, record, context, out, expr_path,
                         ctx)
    if value is MISSING:
        return False
    if isinstance(value, bool):
        return value
    raise _expr_err("when/record_when must evaluate to boolean", expr_path)


def _eval_v2_comparison(comparison: V2Cond, record, context, out, path,
                        ctx: V2Ctx) -> bool:
    if len(comparison.args) != 2:
        raise _expr_err(
            f"comparison requires exactly 2 arguments, got "
            f"{len(comparison.args)}", path)
    left = eval_v2_expr(comparison.args[0], record, context, out,
                        f"{path}.args[0]", ctx)
    right = eval_v2_expr(comparison.args[1], record, context, out,
                         f"{path}.args[1]", ctx)
    op = comparison.op
    if op == "eq":
        return _compare_values_eq(left, right)
    if op == "ne":
        return not _compare_values_eq(left, right)
    if op in ("gt", "gte", "lt", "lte"):
        ord_ = _compare_values_ord(left, right, path)
        if op == "gt":
            return ord_ > 0
        if op == "gte":
            return ord_ >= 0
        if op == "lt":
            return ord_ < 0
        return ord_ <= 0
    return _compare_values_match(left, right, path)


def _compare_values_eq(left, right) -> bool:
    """``compare_values_eq`` (v2_eval.rs:1140-1147): serde-strict eq;
    missing == missing == null."""
    if left is MISSING and right is MISSING:
        return True
    if left is MISSING:
        return right is None
    if right is MISSING:
        return left is None
    return json_eq(left, right)


def _v2_value_as_f64(v):
    if isinstance(v, bool):
        return None
    if _is_num(v):
        return float(v)
    if isinstance(v, str):
        return parse_f64(v)
    return None


def _compare_values_ord(left, right, path) -> int:
    """``compare_values_ord`` (v2_eval.rs:1150-1179) → -1/0/1."""
    if left is MISSING or right is MISSING:
        raise _expr_err("cannot compare missing values", path)
    lf, rf = _v2_value_as_f64(left), _v2_value_as_f64(right)
    if lf is not None and rf is not None:
        if math.isnan(lf) or math.isnan(rf):
            return 0  # partial_cmp(None) → Equal
        return (lf > rf) - (lf < rf)
    if isinstance(left, str) and isinstance(right, str):
        return (left > right) - (left < right)
    raise _expr_err("cannot compare values of different types", path)


def _compare_values_match(left, right, path) -> bool:
    if not isinstance(left, str) or left is MISSING:
        raise _expr_err("match operator requires string on left side", path)
    if not isinstance(right, str):
        raise _expr_err(
            "match operator requires regex pattern string on right side",
            path)
    try:
        rx = _re.compile(right)
    except _re.error as e:
        raise _expr_err(f"invalid regex pattern: {e}", path) from None
    return rx.search(left) is not None


def eval_v2_expr(expr: V2Pipe, record, context, out, path, ctx: V2Ctx):
    return eval_v2_pipe(expr, record, context, out, path, ctx)


def _eval_value_as_string(value, path) -> str:
    """v2 ``eval_value_as_string`` (v2_eval.rs:1257-1275) — NOTE: numbers
    render via serde Number::to_string (keeps ``.0``), unlike v1."""
    if value is MISSING:
        raise _expr_err("expected string, got missing value", path)
    if isinstance(value, str):
        return value
    if isinstance(value, bool):
        return "true" if value else "false"
    if _is_num(value):
        return serde_number_str(value)
    raise _expr_err(f"expected string, got {_rust_debug(value)}", path)


def _eval_value_as_number(value, path) -> float:
    """v2 ``eval_value_as_number`` (v2_eval.rs:1278-1304) — NOTE: does
    NOT require finite (no .filter(is_finite) like v1)."""
    if value is MISSING:
        raise _expr_err("expected number, got missing value", path)
    if isinstance(value, bool):
        raise _expr_err(f"expected number, got {_rust_debug(value)}", path)
    if _is_num(value):
        return float(value)
    if isinstance(value, str):
        f = parse_f64(value)
        if f is None:
            raise _expr_err("failed to parse string as number", path)
        return f
    raise _expr_err(f"expected number, got {_rust_debug(value)}", path)


def _v2_array_from_eval_value(value, path) -> list:
    if value is MISSING or value is None:
        return []
    if isinstance(value, list):
        return value
    raise _expr_err("expr arg must be an array", path)


def _v2_eval_expr_or_null(expr, record, context, out, path, ctx):
    v = eval_v2_expr(expr, record, context, out, path, ctx)
    return None if v is MISSING else v


def _v2_eval_predicate(expr, record, context, out, path, ctx) -> bool:
    v = eval_v2_expr(expr, record, context, out, path, ctx)
    if v is MISSING or v is None:
        return False
    return value_as_bool(v, path)


def _v2_eval_key_string(expr, record, context, out, path, ctx) -> str:
    v = eval_v2_expr(expr, record, context, out, path, ctx)
    if v is MISSING:
        raise _expr_err("expr arg must not be missing", path)
    if v is None:
        raise _expr_err("expr arg must not be null", path)
    return v1_value_to_string(v, path)


def _v2_map_op_name(op: str) -> str:
    return {"add": "+", "subtract": "-", "multiply": "*",
            "divide": "/"}.get(op, op)


def _eval_type_cast(op: str, value, path: str):
    """``eval_type_cast`` (v2_eval.rs:1742-1762)."""
    if value is MISSING:
        return MISSING
    if op == "string":
        return v1_value_to_string(value, path)
    if op == "int":
        return _cast_to_int(value, path)
    if op == "float":
        return _cast_to_float(value, path)
    if op == "bool":
        return _cast_to_bool(value, path)
    raise _expr_err("unknown cast op", path)


# v2 pipe casts raise ExprError (v2_eval.rs:1734-1740); the v1 mapping
# `type:` cast raises TypeCastFailed (transform.rs:5996-6002) — callers
# pass the kind.
_CAST_KIND = EXPR_ERROR


def _type_cast_error(type_name: str, path: str,
                     kind: str = EXPR_ERROR) -> InterpError:
    return InterpError(kind, f"failed to cast to {type_name}", path)


def _cast_to_int(value, path, kind=EXPR_ERROR):
    """``cast_to_int`` (transform.rs:5939-5960 / v2_eval.rs:1677)."""
    if isinstance(value, bool):
        raise _type_cast_error("int", path, kind)
    if _is_int(value):
        if I64_MIN <= value <= I64_MAX:
            return value
        # u64 > i64::MAX: as_i64 fails, as_f64 path: fract==0 → f as i64
        # saturates to i64::MAX
        return I64_MAX
    if isinstance(value, float):
        if math.isfinite(value) and \
                abs(value - math.trunc(value)) < _F64_EPSILON:
            i = int(value)
            return max(I64_MIN, min(I64_MAX, i))
        raise _type_cast_error("int", path, kind)
    if isinstance(value, str):
        i = parse_i64(value)
        if i is None:
            raise _type_cast_error("int", path, kind)
        return i
    raise _type_cast_error("int", path, kind)


def _cast_to_float(value, path, kind=EXPR_ERROR):
    if isinstance(value, bool):
        raise _type_cast_error("float", path, kind)
    if _is_num(value):
        f = float(value)
        if math.isfinite(f):
            return f
        raise _type_cast_error("float", path, kind)
    if isinstance(value, str):
        f = parse_f64(value)
        if f is None:
            raise _type_cast_error("float", path, kind)
        if not math.isfinite(f):
            raise _type_cast_error("float", path, kind)
        return f
    raise _type_cast_error("float", path, kind)


def _cast_to_bool(value, path, kind=EXPR_ERROR):
    if isinstance(value, bool):
        return value
    if isinstance(value, str):
        low = value.lower()
        if low == "true":
            return True
        if low == "false":
            return False
        raise _type_cast_error("bool", path, kind)
    raise _type_cast_error("bool", path, kind)


# --- v2 op step (v2_eval.rs:1765-3069) --------------------------------------


def _eval_v2_op_with_v1_fallback(op_step: V2OpStep, pipe_value, record,
                                 context, out, path, ctx: V2Ctx):
    """``eval_v2_op_with_v1_fallback`` (v2_eval.rs:1580-1640): args are
    pre-evaluated EAGERLY (their errors fire even when the pipe is
    missing), bound as locals, and the op re-runs through v1 eval with
    the pipe injected as the first operand."""
    v1_locals_map = dict(ctx.let_bindings)
    arg_refs = []
    for index, arg in enumerate(op_step.args):
        arg_path = f"{path}.args[{index}]"
        value = eval_v2_expr(arg, record, context, out, arg_path, ctx)
        key = f"__v2_arg{index}"
        if key in v1_locals_map:
            suffix = 1
            while f"{key}{suffix}" in v1_locals_map:
                suffix += 1
            key = f"{key}{suffix}"
        v1_locals_map[key] = value
        arg_refs.append(VRef(f"local.{key}"))
    expr_op = VOp(_v2_map_op_name(op_step.op), arg_refs)
    v1_item = ctx.item
    v1_locals = EvalLocals(
        item=v1_item,
        acc=ctx.acc,
        pipe=_Box(pipe_value),
        locals=v1_locals_map)
    result = eval_op(expr_op, record, context, out, path, _Box(pipe_value),
                     v1_locals)
    return result


def _v2_lookup(op_step: V2OpStep, pipe_value, first_only, record, context,
               out, path, ctx: V2Ctx):
    """v2 ``lookup``/``lookup_first`` (v2_eval.rs:2660-3062)."""
    args = op_step.args
    name = "lookup_first" if first_only else "lookup"
    if len(args) < 2:
        raise _expr_err(
            f"{name} requires at least 2 arguments: match_key, match_value",
            path)
    from_path = f"{path}.from"
    match_key_path = f"{path}.match_key"
    get_path_label = f"{path}.get"

    def E(i):
        return eval_v2_expr(args[i], record, context, out,
                            f"{path}.args[{i}]", ctx)

    if len(args) == 2:
        from_value = pipe_value
        match_key_value = E(0)
        match_value = E(1)
        get_field = None
    elif len(args) == 3:
        if pipe_value is MISSING:
            first_value = E(0)
            if not isinstance(first_value, list):
                return MISSING
            from_value, match_key_value, match_value = first_value, E(1), E(2)
            get_field = None
        else:
            first_value = E(0)
            if isinstance(first_value, list) or first_value is MISSING:
                from_value, match_key_value = first_value, E(1)
                match_value = E(2)
                get_field = None
            else:
                match_value = E(1)
                get_value = E(2)
                get_field = _eval_value_as_string(get_value, get_path_label)
                from_value, match_key_value = pipe_value, first_value
    else:
        from_value = E(0)
        match_key_value = E(1)
        match_value = E(2)
        get_value = E(3)
        get_field = _eval_value_as_string(get_value, get_path_label)

    if from_value is MISSING:
        return MISSING
    if not isinstance(from_value, list):
        raise _expr_err(f"{name} 'from' must be an array", from_path)
    match_key = _eval_value_as_string(match_key_value, match_key_path)
    if match_value is MISSING:
        return MISSING
    results = []
    for item in from_value:
        if isinstance(item, dict) and match_key in item:
            field_val = item[match_key]
            if _compare_values_eq(field_val, match_value):
                if get_field is not None:
                    if first_only:
                        return item.get(get_field, MISSING) \
                            if get_field in item else MISSING
                    if get_field in item:
                        results.append(item[get_field])
                else:
                    if first_only:
                        return item
                    results.append(item)
    return MISSING if first_only else results


def eval_v2_op_step(op_step: V2OpStep, pipe_value, record, context, out,
                    path, ctx: V2Ctx):
    step_ctx = ctx.with_pipe_value(pipe_value)
    op = op_step.op
    args = op_step.args

    if op.startswith("@"):
        v2_ref = parse_v2_ref(op)
        if v2_ref is not None:
            return eval_v2_ref(v2_ref, record, context, out, path, step_ctx)
        raise _expr_err(f"invalid reference: {op}", path)

    def E(i):
        return eval_v2_expr(args[i], record, context, out,
                            f"{path}.args[{i}]", step_ctx)

    if op in ("trim", "lowercase", "uppercase"):
        if pipe_value is MISSING:
            return MISSING
        s = _eval_value_as_string(pipe_value, path)
        if op == "trim":
            return s.strip()
        return s.lower() if op == "lowercase" else s.upper()

    if op == "to_string":
        if pipe_value is MISSING:
            return MISSING
        v = pipe_value
        if isinstance(v, str):
            return v
        if isinstance(v, bool):
            return "true" if v else "false"
        if _is_num(v):
            return serde_number_str(v)
        if v is None:
            return "null"
        return json_compact(v)

    if op == "concat":
        if pipe_value is MISSING:
            return MISSING
        parts = [_eval_value_as_string(pipe_value, path)]
        for i in range(len(args)):
            arg_path = f"{path}.args[{i}]"
            arg_value = E(i)
            if arg_value is MISSING:
                return MISSING
            parts.append(_eval_value_as_string(arg_value, arg_path))
        return "".join(parts)

    if op in ("string", "int", "float", "bool"):
        return _eval_type_cast(op, pipe_value, path)

    if op in ("add", "+", "subtract", "-", "multiply", "*", "divide", "/"):
        if op in ("subtract", "-") and not args:
            raise _expr_err("subtract requires at least one argument", path)
        if op in ("divide", "/") and not args:
            raise _expr_err("divide requires at least one argument", path)
        if pipe_value is MISSING:
            return MISSING
        result = _eval_value_as_number(pipe_value, path)
        for i in range(len(args)):
            arg_path = f"{path}.args[{i}]"
            arg_value = E(i)
            if arg_value is MISSING:
                return MISSING
            n = _eval_value_as_number(arg_value, arg_path)
            if op in ("add", "+"):
                result += n
            elif op in ("subtract", "-"):
                result -= n
            elif op in ("multiply", "*"):
                result *= n
            else:
                if n == 0.0:
                    raise _expr_err("division by zero", arg_path)
                result /= n
        # serde_json::json!(f64) keeps the FLOAT kind (no i64 re-emission
        # like v1's json_number_from_f64) and maps non-finite → JSON null
        # (Number::from_f64 fails inside the json! macro)
        return result if math.isfinite(result) else None

    if op == "map":
        if len(args) != 1:
            raise _expr_err("map requires exactly one argument", path)
        if pipe_value is MISSING:
            return MISSING
        if not isinstance(pipe_value, list):
            raise _expr_err(
                f"expr arg must be an array, got {_rust_debug(pipe_value)}",
                path)
        arg_path = f"{path}.args[0]"
        results = []
        for index, item in enumerate(pipe_value):
            item_ctx = (step_ctx.with_pipe_value(item)
                        .with_item((item, index)))
            v = eval_v2_expr(args[0], record, context, out, arg_path,
                             item_ctx)
            if v is not MISSING:
                results.append(v)
        return results

    if op == "filter":
        if len(args) != 1:
            raise _expr_err("filter requires exactly one argument", path)
        array = _v2_array_from_eval_value(pipe_value, path)
        arg_path = f"{path}.args[0]"
        results = []
        for index, item in enumerate(array):
            item_ctx = (step_ctx.with_pipe_value(item)
                        .with_item((item, index)))
            if _v2_eval_predicate(args[0], record, context, out, arg_path,
                                  item_ctx):
                results.append(item)
        return results

    if op == "flat_map":
        if len(args) != 1:
            raise _expr_err("flat_map requires exactly one argument", path)
        array = _v2_array_from_eval_value(pipe_value, path)
        arg_path = f"{path}.args[0]"
        results = []
        for index, item in enumerate(array):
            item_ctx = (step_ctx.with_pipe_value(item)
                        .with_item((item, index)))
            v = _v2_eval_expr_or_null(args[0], record, context, out,
                                      arg_path, item_ctx)
            if isinstance(v, list):
                results.extend(v)
            else:
                results.append(v)
        return results

    if op in ("group_by", "key_by"):
        if len(args) != 1:
            raise _expr_err(f"{op} requires exactly one argument", path)
        array = _v2_array_from_eval_value(pipe_value, path)
        arg_path = f"{path}.args[0]"
        results: dict = {}
        for index, item in enumerate(array):
            item_ctx = (step_ctx.with_pipe_value(item)
                        .with_item((item, index)))
            key = _v2_eval_key_string(args[0], record, context, out,
                                      arg_path, item_ctx)
            if op == "group_by":
                results.setdefault(key, []).append(item)
            else:
                results[key] = item
        return _obj(results)

    if op == "partition":
        if len(args) != 1:
            raise _expr_err("partition requires exactly one argument", path)
        array = _v2_array_from_eval_value(pipe_value, path)
        arg_path = f"{path}.args[0]"
        matched, unmatched = [], []
        for index, item in enumerate(array):
            item_ctx = (step_ctx.with_pipe_value(item)
                        .with_item((item, index)))
            if _v2_eval_predicate(args[0], record, context, out, arg_path,
                                  item_ctx):
                matched.append(item)
            else:
                unmatched.append(item)
        return [matched, unmatched]

    if op == "distinct_by":
        if len(args) != 1:
            raise _expr_err("distinct_by requires exactly one argument",
                            path)
        array = _v2_array_from_eval_value(pipe_value, path)
        arg_path = f"{path}.args[0]"
        results = []
        seen = set()
        for index, item in enumerate(array):
            item_ctx = (step_ctx.with_pipe_value(item)
                        .with_item((item, index)))
            key = _v2_eval_key_string(args[0], record, context, out,
                                      arg_path, item_ctx)
            if key not in seen:
                seen.add(key)
                results.append(item)
        return results

    if op == "sort_by":
        if not (1 <= len(args) <= 2):
            raise _expr_err("sort_by requires one or two arguments", path)
        array = _v2_array_from_eval_value(pipe_value, path)
        if not array:
            return []
        expr_path = f"{path}.args[0]"
        order = "asc"
        if len(args) == 2:
            order_path = f"{path}.args[1]"
            order_value = E(1)
            if order_value is MISSING:
                return MISSING
            order = v1_value_to_string(order_value, order_path)
            if order not in ("asc", "desc"):
                raise _expr_err("order must be asc or desc", order_path)
        items = []
        key_kind = None
        for index, item in enumerate(array):
            item_ctx = (step_ctx.with_pipe_value(item)
                        .with_item((item, index)))
            v = eval_v2_expr(args[0], record, context, out, expr_path,
                             item_ctx)
            if v is MISSING:
                raise _expr_err("expr arg must not be missing", expr_path)
            if v is None:
                raise _expr_err("expr arg must not be null", expr_path)
            kind, key = _sort_key(v, expr_path)
            if key_kind is not None and key_kind != kind:
                raise _expr_err("sort_by keys must be all the same type",
                                expr_path)
            key_kind = kind
            items.append((key, index, item))
        items.sort(key=lambda t: t[0], reverse=(order == "desc"))
        return [t[2] for t in items]

    if op in ("find", "find_index"):
        if len(args) != 1:
            raise _expr_err(f"{op} requires exactly one argument", path)
        array = _v2_array_from_eval_value(pipe_value, path)
        arg_path = f"{path}.args[0]"
        for index, item in enumerate(array):
            item_ctx = (step_ctx.with_pipe_value(item)
                        .with_item((item, index)))
            if _v2_eval_predicate(args[0], record, context, out, arg_path,
                                  item_ctx):
                return item if op == "find" else index
        return None if op == "find" else -1

    if op == "reduce":
        if len(args) != 1:
            raise _expr_err("reduce requires exactly one argument", path)
        array = _v2_array_from_eval_value(pipe_value, path)
        if not array:
            return None
        expr_path = f"{path}.args[0]"
        acc = array[0]
        for index in range(1, len(array)):
            item = array[index]
            item_ctx = (step_ctx.with_pipe_value(item)
                        .with_item((item, index)).with_acc(acc))
            acc = _v2_eval_expr_or_null(args[0], record, context, out,
                                        expr_path, item_ctx)
        return acc

    if op == "fold":
        if len(args) != 2:
            raise _expr_err("fold requires exactly two arguments", path)
        array = _v2_array_from_eval_value(pipe_value, path)
        initial = E(0)
        if initial is MISSING:
            return MISSING
        expr_path = f"{path}.args[1]"
        acc = initial
        for index, item in enumerate(array):
            item_ctx = (step_ctx.with_pipe_value(item)
                        .with_item((item, index)).with_acc(acc))
            acc = _v2_eval_expr_or_null(args[1], record, context, out,
                                        expr_path, item_ctx)
        return acc

    if op == "zip_with":
        if len(args) < 2:
            raise _expr_err("zip_with requires at least two arguments",
                            path)
        arrays = [_v2_array_from_eval_value(pipe_value, path)]
        for index in range(len(args) - 1):
            arg_path = f"{path}.args[{index}]"
            value = E(index)
            arrays.append(_v2_array_from_eval_value(value, arg_path))
        min_len = min(len(a) for a in arrays)
        expr_index = len(args) - 1
        expr_path = f"{path}.args[{expr_index}]"
        results = []
        for row_index in range(min_len):
            row = [a[row_index] for a in arrays]
            item_ctx = (step_ctx.with_pipe_value(row)
                        .with_item((row, row_index)))
            results.append(_v2_eval_expr_or_null(
                args[expr_index], record, context, out, expr_path,
                item_ctx))
        return results

    if op in ("first", "last"):
        if pipe_value is MISSING:
            return MISSING
        if isinstance(pipe_value, list):
            if pipe_value:
                return pipe_value[0] if op == "first" else pipe_value[-1]
            return MISSING
        raise _expr_err(
            f"{op} requires array, got {_rust_debug(pipe_value)}", path)

    if op == "coalesce":
        if pipe_value is not MISSING and pipe_value is not None:
            return pipe_value
        for i in range(len(args)):
            arg_value = E(i)
            if arg_value is not MISSING and arg_value is not None:
                return arg_value
        return MISSING

    if op in ("and", "or"):
        is_and = op == "and"
        total_len = len(args) + 1
        if total_len < 2:
            raise _expr_err("expr.args must contain at least two items",
                            f"{path}.args")
        saw_missing = False
        if pipe_value is MISSING:
            saw_missing = True
        else:
            flag = value_as_bool(pipe_value, path)
            if is_and and not flag:
                return False
            if not is_and and flag:
                return True
        for index in range(len(args)):
            arg_path = f"{path}.args[{index}]"
            value = E(index)
            if value is MISSING:
                saw_missing = True
                continue
            flag = value_as_bool(value, arg_path)
            if is_and and not flag:
                return False
            if not is_and and flag:
                return True
        return MISSING if saw_missing else is_and

    if op == "not":
        if args:
            raise _expr_err("expr.args must contain exactly one item",
                            f"{path}.args")
        if pipe_value is MISSING:
            return MISSING
        return not value_as_bool(pipe_value, path)

    if op in ("==", "!=", "<", "<=", ">", ">=", "~=", "eq", "ne", "lt",
              "lte", "gt", "gte", "match"):
        if len(args) != 1:
            raise _expr_err("expr.args must contain exactly one item",
                            f"{path}.args")
        left = None if pipe_value is MISSING else pipe_value
        right_path = f"{path}.args[0]"
        right = _v2_eval_expr_or_null(args[0], record, context, out,
                                      right_path, step_ctx)
        left_path = path
        cmp_op = {"eq": "==", "ne": "!=", "lt": "<", "lte": "<=",
                  "gt": ">", "gte": ">=", "match": "~="}.get(op, op)
        if cmp_op == "==":
            return compare_eq(left, right, left_path, right_path)
        if cmp_op == "!=":
            return not compare_eq(left, right, left_path, right_path)
        if cmp_op == "<":
            return compare_numbers(left, right, left_path, right_path,
                                   lambda l, r: l < r)
        if cmp_op == "<=":
            return compare_numbers(left, right, left_path, right_path,
                                   lambda l, r: l <= r)
        if cmp_op == ">":
            return compare_numbers(left, right, left_path, right_path,
                                   lambda l, r: l > r)
        if cmp_op == ">=":
            return compare_numbers(left, right, left_path, right_path,
                                   lambda l, r: l >= r)
        # ~= via fresh compile (match_regex_v1: no cache, error wording
        # "invalid regex pattern: {e}" at the RIGHT path)
        value = value_as_string(left, left_path)
        pattern = value_as_string(right, right_path)
        try:
            rx = _re.compile(pattern)
        except _re.error as e:
            raise _expr_err(f"invalid regex pattern: {e}",
                            right_path) from None
        return rx.search(value) is not None

    if op in ("pick", "omit"):
        if not args:
            raise _expr_err(f"{op} requires at least one argument",
                            f"{path}.args")
        path_values = []
        for index in range(len(args)):
            arg_path = f"{path}.args[{index}]"
            value = E(index)
            if value is MISSING:
                return MISSING
            if value is None:
                raise _expr_err("expr arg must not be null", arg_path)
            if isinstance(value, str):
                path_values.append(value)
            elif isinstance(value, list):
                for item_index, item in enumerate(value):
                    item_path = f"{path}.args[{index}][{item_index}]"
                    if not isinstance(item, str):
                        raise _expr_err(
                            "paths must be a string or array of strings",
                            item_path)
                    path_values.append(item)
            else:
                raise _expr_err(
                    "paths must be a string or array of strings", arg_path)
        normalized = V2OpStep(op, [V2Pipe(V2Start("lit",
                                                  value=path_values), [])])
        return _eval_v2_op_with_v1_fallback(normalized, pipe_value, record,
                                            context, out, path, step_ctx)

    if op == "lookup_first":
        return _v2_lookup(op_step, pipe_value, True, record, context, out,
                          path, step_ctx)
    if op == "lookup":
        return _v2_lookup(op_step, pipe_value, False, record, context, out,
                          path, step_ctx)

    return _eval_v2_op_with_v1_fallback(op_step, pipe_value, record,
                                        context, out, path, step_ctx)


# =========================================================================
# Document lifecycle (transform.rs:53-1175)
# =========================================================================


def _expr_to_json_value(expr) -> Any:
    """``expr_to_json_value`` (transform.rs:6220-6235)."""
    if isinstance(expr, VRef):
        return expr.ref_path
    if isinstance(expr, VLit):
        return expr.value
    if isinstance(expr, VOp):
        return _obj({expr.op: [_expr_to_json_value(a) for a in expr.args]})
    if isinstance(expr, VChain):
        return [_expr_to_json_value(e) for e in expr.chain]
    raise TypeError


def _expr_to_json_for_v2_pipe(expr):
    """``expr_to_json_for_v2_pipe`` (transform.rs:6153-6191)."""
    if isinstance(expr, VLit):
        v = expr.value
        if isinstance(v, list):
            return v
        if isinstance(v, str):
            if (v.startswith("@") or v == "$" or v.startswith("lit:")):
                return v
            return None
        return None
    if isinstance(expr, VRef) and (expr.ref_path.startswith("@")
                                   or expr.ref_path.startswith("lit:")):
        return [expr.ref_path]
    if isinstance(expr, VChain) and expr.chain:
        first = expr.chain[0]
        if isinstance(first, VRef) and first.ref_path.startswith("@"):
            return [_expr_to_json_value(e) for e in expr.chain]
    return None


def _expr_to_json_for_v2_condition(expr):
    """``expr_to_json_for_v2_condition`` (transform.rs:6195-6217)."""
    if isinstance(expr, VLit):
        return expr.value
    if isinstance(expr, VRef) and (expr.ref_path.startswith("@")
                                   or expr.ref_path.startswith("lit:")):
        return expr.ref_path
    if isinstance(expr, VChain) and expr.chain:
        first = expr.chain[0]
        if isinstance(first, VRef) and first.ref_path.startswith("@"):
            return [_expr_to_json_value(e) for e in expr.chain]
    return None


def _resolve_source(source, record, context, out, mapping_path):
    try:
        namespace, path = parse_source(source)
    except InterpError as e:
        raise e.with_path(f"{mapping_path}.source") from None
    tokens = parse_path_tokens(path, INVALID_REF, f"{mapping_path}.source")
    if namespace == "input":
        target = record
    elif namespace == "context":
        if context is None:
            return MISSING
        target = context
    else:
        target = out
    return get_path(target, tokens)


def _cast_value(value, type_name, path):
    """``cast_value`` (transform.rs:5925-5937) — TypeCastFailed kind."""
    if type_name == "string":
        try:
            return v1_value_to_string(value, path)
        except InterpError as e:
            raise InterpError(e.kind, e.message, e.path) from None
    if type_name == "int":
        return _cast_to_int(value, path, TYPE_CAST_FAILED)
    if type_name == "float":
        return _cast_to_float(value, path, TYPE_CAST_FAILED)
    if type_name == "bool":
        return _cast_to_bool(value, path, TYPE_CAST_FAILED)
    raise _err(TYPE_CAST_FAILED, "type must be string|int|float|bool", path)


def _eval_mapping(mapping: Mapping, record, context, out, mapping_path,
                  version):
    """``eval_mapping`` (transform.rs:953-1039) → None (skip) or value."""
    if mapping.source is not None:
        value = _resolve_source(mapping.source, record, context, out,
                                mapping_path)
    elif mapping.has_value:
        value = mapping.value
    elif mapping.expr is not None:
        expr_path = f"{mapping_path}.expr"
        if version >= 2:
            v2_json = _expr_to_json_for_v2_pipe(mapping.expr)
            if v2_json is not None:
                try:
                    v2_pipe = parse_v2_pipe_from_value(v2_json)
                except V2ParseError as e:
                    raise _expr_err(str(e), expr_path) from None
                value = eval_v2_pipe(v2_pipe, record, context, out,
                                     expr_path, V2Ctx())
            else:
                value = eval_expr(mapping.expr, record, context, out,
                                  expr_path, None)
        else:
            value = eval_expr(mapping.expr, record, context, out,
                              expr_path, None)
    else:
        raise _err(INVALID_INPUT,
                   "mapping must define source, value, or expr",
                   mapping_path)

    if value is MISSING:
        if mapping.has_default:
            value = mapping.default
        elif mapping.required:
            raise _err(MISSING_REQUIRED, "required value is missing",
                       mapping_path)
        else:
            return None
    if value is None:
        if mapping.required:
            raise _err(MISSING_REQUIRED, "required value is null",
                       mapping_path)
        return _Box(None)
    if mapping.value_type is not None:
        value = _cast_value(value, mapping.value_type,
                            f"{mapping_path}.type")
    return _Box(value)


def _when_type_error(path):
    return _expr_err("when/record_when must evaluate to boolean", path)


def _eval_bool_expr(expr, record, context, out, path) -> bool:
    value = eval_expr(expr, record, context, out, path, None)
    if value is MISSING:
        value = None
    if isinstance(value, bool):
        return value
    raise _when_type_error(path)


def _eval_when_expr(expr, record, context, out, path, rule_version) -> bool:
    """``eval_when_expr`` (transform.rs:1111-1134)."""
    if rule_version >= 2:
        raw_value = _expr_to_json_for_v2_condition(expr)
        if raw_value is not None:
            try:
                condition = parse_v2_condition(raw_value)
            except V2ParseError as e:
                raise _expr_err(f"invalid v2 condition: {e}", path) \
                    from None
            return eval_v2_condition(condition, record, context, out,
                                     path, V2Ctx())
    return _eval_bool_expr(expr, record, context, out, path)


def _eval_when(mapping: Mapping, record, context, out, mapping_path,
               warnings, rule_version) -> bool:
    if mapping.when is None:
        return True
    when_path = f"{mapping_path}.when"
    try:
        return _eval_when_expr(mapping.when, record, context, out,
                               when_path, rule_version)
    except InterpError as e:
        warnings.append({"kind": e.kind, "message": e.message,
                         "path": e.path})
        return False


def _eval_record_when(rule: RuleFile, record, context, warnings) -> bool:
    if rule.record_when is None:
        return True
    try:
        return _eval_when_expr(rule.record_when, record, context, {},
                               "record_when", rule.version)
    except InterpError as e:
        warnings.append({"kind": e.kind, "message": e.message,
                         "path": e.path})
        return False


def _set_path(out_cell, path, value, mapping_path):
    """``set_path`` (transform.rs:6075-6138) — out_cell is [obj]."""
    tokens = parse_path_tokens(path, INVALID_TARGET,
                               f"{mapping_path}.target")
    if not tokens:
        raise _err(INVALID_TARGET, "target path is invalid",
                   f"{mapping_path}.target")
    cur_parent, cur_key = out_cell, 0
    for index, token in enumerate(tokens):
        is_last = index == len(tokens) - 1
        if not isinstance(token, str):
            raise _err(INVALID_TARGET,
                       "target path must not include indexes",
                       f"{mapping_path}.target")
        current = cur_parent[cur_key]
        if not isinstance(current, dict):
            raise _err(INVALID_TARGET, "target root must be an object",
                       f"{mapping_path}.target")
        if is_last:
            cur_parent[cur_key] = _obj_insert(current, token, value)
            return
        if token not in current:
            cur_parent[cur_key] = _obj_insert(current, token, {})
            current = cur_parent[cur_key]
        if not isinstance(current[token], dict):
            raise _err(INVALID_TARGET,
                       "target path conflicts with non-object value",
                       f"{mapping_path}.target")
        cur_parent, cur_key = current, token


def _apply_mappings_into(mappings, record, context, out_cell, warnings,
                         rule_version, base_path):
    for index, mapping in enumerate(mappings):
        mapping_path = f"{base_path}[{index}]"
        if not _eval_when(mapping, record, context, out_cell[0],
                          mapping_path, warnings, rule_version):
            continue
        boxed = _eval_mapping(mapping, record, context, out_cell[0],
                              mapping_path, rule_version)
        if boxed is not None:
            _set_path(out_cell, mapping.target, boxed.v, mapping_path)


def _merge_object_maps(out_map: dict, other_map: dict) -> dict:
    for key, other_value in other_map.items():
        if isinstance(out_map.get(key), dict) \
                and isinstance(other_value, dict):
            out_map[key] = _merge_object_maps(dict(out_map[key]),
                                              other_value)
        else:
            out_map[key] = other_value
    return _obj(out_map)


def _load_rule_from_path(base_dir, path):
    resolved = path if os.path.isabs(path) else (
        os.path.join(base_dir, path) if base_dir else path)
    try:
        with open(resolved, encoding="utf-8") as fh:
            yaml_text = fh.read()
    except OSError as e:
        raise _err(INVALID_INPUT, f"failed to read rule: {e}",
                   path) from None
    try:
        rule = parse_rule_file(yaml_text)
    except InterpRuleError as e:
        raise _err(INVALID_INPUT, f"failed to parse rule: {e.message}",
                   path) from None
    resolved_base = os.path.dirname(resolved) or "."
    return rule, resolved_base


def _apply_steps(steps, record, context, warnings, rule_version, base_dir):
    """``apply_steps`` (transform.rs:431-531) → None (dropped) or out."""
    out_cell = [{}]
    for step_index, step in enumerate(steps):
        base_path = f"steps[{step_index}]"
        if step.mappings is not None:
            _apply_mappings_into(step.mappings, record, context, out_cell,
                                 warnings, rule_version,
                                 f"{base_path}.mappings")
            continue
        if step.record_when is not None:
            when_path = f"{base_path}.record_when"
            keep = _eval_when_expr(step.record_when, record, context,
                                   out_cell[0], when_path, rule_version)
            if not keep:
                return None
            continue
        if step.asserts is not None:
            for assert_index, assert_ in enumerate(step.asserts):
                assert_path = f"{base_path}.asserts[{assert_index}]"
                ok = _eval_when_expr(assert_["when"], record, context,
                                     out_cell[0], f"{assert_path}.when",
                                     rule_version)
                if not ok:
                    raise _err(
                        ASSERTION_FAILED,
                        f"assert failed: {assert_['code']}: "
                        f"{assert_['message']}", assert_path)
            continue
        if step.branch is not None:
            branch = step.branch
            branch_path = f"{base_path}.branch"
            take = _eval_when_expr(branch["when"], record, context,
                                   out_cell[0], f"{branch_path}.when",
                                   rule_version)
            if take:
                target, target_field = branch["then"], "then"
            else:
                target, target_field = branch["else"], "else"
            if target is not None:
                try:
                    branch_rule, branch_base_dir = _load_rule_from_path(
                        base_dir, target)
                except InterpError as e:
                    raise e.with_path(
                        f"{branch_path}.{target_field}") from None
                branch_input = out_cell[0]
                branch_output, branch_warnings = \
                    _transform_record_with_warnings_inner(
                        branch_rule, branch_input, context,
                        branch_base_dir)
                warnings.extend(branch_warnings)
                if branch_output is None:
                    return None
                if branch["return"]:
                    return _Box(branch_output.v)
                bout = branch_output.v
                if not isinstance(out_cell[0], dict):
                    raise _err(INVALID_TARGET, "output must be object",
                               branch_path)
                if not isinstance(bout, dict):
                    raise _err(INVALID_TARGET,
                               "branch output must be object", branch_path)
                out_cell[0] = _merge_object_maps(out_cell[0], bout)
            continue
    return _Box(out_cell[0])


def _apply_mappings(rule: RuleFile, record, context, warnings):
    out_cell = [{}]
    _apply_mappings_into(rule.mappings, record, context, out_cell,
                         warnings, rule.version, "mappings")
    return out_cell[0]


def _apply_rule_to_record(rule: RuleFile, record, context, warnings,
                          base_dir):
    """``apply_rule_to_record`` → None (dropped) or _Box(output)."""
    if rule.steps is not None:
        return _apply_steps(rule.steps, record, context, warnings,
                            rule.version, base_dir)
    if not _eval_record_when(rule, record, context, warnings):
        return None
    return _Box(_apply_mappings(rule, record, context, warnings))


# --- finalize ---------------------------------------------------------------


def _finalize_sort_key(value, path):
    """``sort_key_from_value`` (transform.rs:751-768)."""
    if isinstance(value, bool):
        return ("bool", value)
    if _is_num(value):
        f = float(value)
        if not math.isfinite(f):
            raise _expr_err("sort key must be a finite number", path)
        return ("number", f)
    if isinstance(value, str):
        return ("string", value)
    raise _expr_err("sort key must be string/number/bool", path)


def _eval_wrap_value(value, out, context, path):
    """``eval_wrap_value`` (transform.rs:716-749)."""
    if isinstance(value, dict):
        out_map = {}
        for key, v in value.items():
            child_path = f"{path}.{key}"
            out_map[key] = _eval_wrap_value(v, out, context, child_path)
        return _obj(out_map)
    try:
        expr = parse_v2_expr(value)
    except V2ParseError as e:
        raise _expr_err(f"invalid v2 expr: {e}", path) from None
    result = eval_v2_expr(expr, out, context, out, path, V2Ctx())
    return None if result is MISSING else result


def _apply_finalize(finalize: FinalizeSpec, records, context):
    """``apply_finalize`` (transform.rs:603-714)."""
    if finalize.filter is not None:
        raw = _expr_to_json_for_v2_condition(finalize.filter)
        if raw is None:
            raise _expr_err("finalize.filter must be a v2 condition",
                            "finalize.filter")
        try:
            cond = parse_v2_condition(raw)
        except V2ParseError as e:
            raise _expr_err(f"invalid v2 condition: {e}",
                            "finalize.filter") from None
        base_out = list(records)
        filtered = []
        for index, item in enumerate(records):
            ctx = V2Ctx(item=(item, index))
            keep = eval_v2_condition(cond, item, context, base_out,
                                     "finalize.filter", ctx)
            if keep:
                filtered.append(item)
        records = filtered

    if finalize.has_sort:
        try:
            tokens = parse_path(finalize.sort_by)
        except PathParseError:
            raise _err(INVALID_RECORDS_PATH, "finalize.sort.by is invalid",
                       "finalize.sort.by") from None
        items = []
        for index, item in enumerate(records):
            key_value = get_path(item, tokens)
            if key_value is MISSING:
                raise _err(INVALID_REF, "finalize.sort.by path not found",
                           "finalize.sort.by")
            if key_value is None:
                raise _expr_err("sort key must be string/number/bool",
                                "finalize.sort.by")
            _, key = _finalize_sort_key(key_value, "finalize.sort.by")
            items.append((key, index, item))
        try:
            items.sort(key=lambda t: t[0],
                       reverse=(finalize.sort_order == "desc"))
        except TypeError:
            # mixed kinds: the reference's comparator returns Equal, so
            # order falls back to the index tiebreak — i.e. input order
            items.sort(key=lambda t: t[1])
        records = [t[2] for t in items]

    if finalize.offset is not None:
        offset = finalize.offset
        if 0 < offset < len(records):
            records = records[offset:]
        elif offset >= len(records):
            records = []

    if finalize.limit is not None and finalize.limit < len(records):
        records = records[:finalize.limit]

    if finalize.wrap is not None:
        return _eval_wrap_value(finalize.wrap, records, context,
                                "finalize.wrap"), True
    return records, False


# --- input readers -----------------------------------------------------------


def _input_records(rule: RuleFile, input_text: str):
    if rule.input_format == "csv":
        return _csv_records(rule, input_text)
    return _json_records(rule, input_text)


def _csv_records(rule: RuleFile, input_text: str):
    csv_spec = rule.csv
    if csv_spec is None:
        raise _err(INVALID_INPUT, "input.csv is required when format=csv")
    delimiter = csv_spec.get("delimiter", ",")
    if len(delimiter) != 1:
        raise _err(INVALID_INPUT,
                   "csv.delimiter must be a single character")
    has_header = csv_spec.get("has_header", True)
    import csv as _csv
    import io
    reader = _csv.reader(io.StringIO(input_text), delimiter=delimiter)
    rows = [row for row in reader]
    if has_header:
        if not rows:
            raise _err(INVALID_INPUT, "failed to read csv header: empty")
        headers = rows[0]
        data_rows = rows[1:]
    else:
        columns = csv_spec.get("columns")
        if not columns:
            raise _err(INVALID_INPUT,
                       "csv.columns is required when has_header=false")
        headers = [c["name"] for c in columns]
        data_rows = rows
    expected = len(rows[0]) if rows else 0
    records = []
    for row in data_rows:
        if len(row) != expected:
            raise _err(INVALID_INPUT,
                       "failed to read csv record: unequal lengths")
        obj = {}
        for index, name in enumerate(headers):
            if index < len(row):
                obj[name] = row[index]
        records.append(_obj(obj))
    return records


def _json_records(rule: RuleFile, input_text: str):
    try:
        value = canon(json.loads(input_text))
    except json.JSONDecodeError as e:
        raise _err(INVALID_INPUT,
                   f"failed to parse JSON input: {e}") from None
    records_path = (rule.json_input or {}).get("records_path")
    if records_path:
        try:
            tokens = parse_path(records_path)
        except PathParseError as e:
            raise _err(INVALID_RECORDS_PATH, e.message,
                       "input.json.records_path") from None
        found = get_path(value, tokens)
        if found is MISSING:
            raise _err(INVALID_RECORDS_PATH, "records_path does not exist",
                       "input.json.records_path")
        value = found
    if isinstance(value, list):
        return value
    if isinstance(value, dict):
        return [value]
    raise _err(INVALID_INPUT,
               "records_path must point to an array or object")


# --- public entry points ------------------------------------------------------


def _transform_record_with_warnings_inner(rule: RuleFile, record, context,
                                          base_dir):
    warnings: list = []
    output = _apply_rule_to_record(rule, record, context, warnings,
                                   base_dir)
    if output is None:
        return None, warnings
    if rule.finalize is not None:
        finalized, _ = _apply_finalize(rule.finalize, [output.v], context)
        return _Box(finalized), warnings
    return output, warnings


def transform_with_warnings(rule_text_or_rule, input_text: str,
                            context=None, base_dir=None):
    """``transform_with_warnings_inner`` (transform.rs:209-249)."""
    rule = (rule_text_or_rule
            if isinstance(rule_text_or_rule, RuleFile)
            else parse_rule_file(rule_text_or_rule))
    context = canon(context) if context is not None else None
    warnings: list = []
    output_records = []
    for record in _input_records(rule, input_text):
        record_warnings: list = []
        boxed = _apply_rule_to_record(rule, record, context,
                                      record_warnings, base_dir)
        warnings.extend(record_warnings)
        if boxed is not None:
            output_records.append(boxed.v)
    if rule.finalize is not None:
        out, _ = _apply_finalize(rule.finalize, output_records, context)
        return out, warnings
    return output_records, warnings


def transform(rule_text: str, input_text: str | None = None,
              input_path: str | None = None, context=None,
              base_dir: str | None = None):
    """Document transform — same surface as the reference CLI transform
    and the repo's ``engine.transform`` (minus Spark)."""
    if input_text is None:
        with open(input_path, encoding="utf-8") as fh:
            input_text = fh.read()
    out, _ = transform_with_warnings(rule_text, input_text, context,
                                     base_dir)
    return out


def transform_record(rule_text_or_rule, record, context=None,
                     base_dir=None):
    """Single-record transform → (MISSING | output value).  The fuzz
    harness and trace replay consume this."""
    rule = (rule_text_or_rule
            if isinstance(rule_text_or_rule, RuleFile)
            else parse_rule_file(rule_text_or_rule))
    boxed, _ = _transform_record_with_warnings_inner(
        rule, canon(record), canon(context) if context is not None
        else None, base_dir)
    return MISSING if boxed is None else boxed.v
