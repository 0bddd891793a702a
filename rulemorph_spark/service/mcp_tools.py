"""MCP tool implementations.

The protocol loop lives in :mod:`.mcp`; this module holds the seven
tool runners and their helpers, mirroring the reference server's tool
surface (``rulemorph_mcp/src/main.rs``):

- ``transform``            (main.rs:748-994)
- ``validate_rules``       (main.rs:996-1047)
- ``generate_dto``         (main.rs:1049-1095)
- ``list_ops``             (main.rs:1097-1313)
- ``analyze_input``        (main.rs:1315-1413)
- ``generate_rules_from_base`` (main.rs:1415-1666)
- ``generate_rules_from_dto``  (main.rs:1668-1899)

Tool-call failures follow the reference's two-level error model:
:class:`InvalidParams` becomes a JSON-RPC ``-32602`` error, while
:class:`ToolError` becomes a successful response whose result carries
``isError: true`` plus structured ``meta.errors``.
"""

from __future__ import annotations

import csv as _csv
import io
import json
import os
import re
from typing import Any

import yaml

from ..errors import RuleError
from .dto_parse import (DtoParseError, append_path,
                        generate_mappings_from_schema, parse_dto_schema)


class InvalidParams(Exception):
    pass


class ToolError(Exception):
    def __init__(self, message: str, errors: list | None = None):
        super().__init__(message)
        self.message = message
        self.errors = errors


def _parse_error(message: str, path: str | None = None) -> dict:
    obj = {"type": "parse", "message": message}
    if path is not None:
        obj["path"] = path
    return obj


def _io_error(message: str, path: str | None = None) -> dict:
    obj = {"type": "io", "message": message}
    if path is not None:
        obj["path"] = path
    return obj


def _dto_error(message: str) -> dict:
    return {"type": "dto", "message": message}


# ---------------------------------------------------------------------
# argument extraction (get_optional_*, main.rs:1919-1972)
# ---------------------------------------------------------------------

def _opt_str(args: dict, key: str) -> str | None:
    v = args.get(key)
    if v is None:
        return None
    if not isinstance(v, str):
        raise InvalidParams(f"{key} must be a string")
    return v


def _opt_bool(args: dict, key: str) -> bool | None:
    v = args.get(key)
    if v is None:
        return None
    if not isinstance(v, bool):
        raise InvalidParams(f"{key} must be a boolean")
    return v


def _opt_usize(args: dict, key: str) -> int | None:
    v = args.get(key)
    if v is None:
        return None
    if isinstance(v, bool) or not isinstance(v, int) or v <= 0:
        raise InvalidParams(f"{key} must be a positive integer")
    return v


def _opt_json_value(args: dict, key: str) -> Any:
    v = args.get(key)
    if v is None:
        return None
    if not isinstance(v, (dict, list)):
        raise InvalidParams(f"{key} must be an object or array")
    return v


def _opt_object(args: dict, key: str) -> Any:
    v = args.get(key)
    if v is None:
        return None
    if not isinstance(v, dict):
        raise InvalidParams(f"{key} must be an object")
    return v


# ---------------------------------------------------------------------
# shared input loading
# ---------------------------------------------------------------------

def _require_one_rules_source(rules_path, rules_text) -> None:
    n = (rules_path is not None) + (rules_text is not None)
    if n == 0:
        raise InvalidParams("rules_path or rules_text is required")
    if n > 1:
        raise InvalidParams("rules_path and rules_text are mutually "
                            "exclusive")


def _require_one_input_source(input_path, input_text, input_json) -> None:
    n = ((input_path is not None) + (input_text is not None)
         + (input_json is not None))
    if n == 0:
        raise InvalidParams("input_path, input_text, or input_json is "
                            "required")
    if n > 1:
        raise InvalidParams("input_path, input_text, and input_json are "
                            "mutually exclusive")


def _check_format(format_, input_json) -> None:
    if input_json is not None and format_ is not None \
            and format_.lower() == "csv":
        raise InvalidParams("format must be json when input_json is "
                            "provided")
    if format_ is not None and format_.lower() not in ("csv", "json"):
        raise InvalidParams("format must be csv or json")


def _load_rule_source(rules_path, rules_text):
    """Returns (RuleFile, yaml_text)."""
    from ..model import parse_rule_file
    if rules_path is not None:
        try:
            with open(rules_path, encoding="utf-8") as fh:
                text = fh.read()
        except OSError as e:
            msg = f"failed to read rules: {e}"
            raise ToolError(msg, [_io_error(msg, rules_path)]) from e
    else:
        text = rules_text
    try:
        rule = parse_rule_file(text)
    except RuleError as e:
        msg = f"failed to parse rules: {e}"
        raise ToolError(msg,
                        [_parse_error(msg, rules_path)]) from e
    return rule, text


def _read_input_text(input_path, input_text, input_json) -> str:
    if input_path is not None:
        try:
            with open(input_path, encoding="utf-8") as fh:
                return fh.read()
        except OSError as e:
            msg = f"failed to read input: {e}"
            raise ToolError(msg, [_io_error(msg, input_path)]) from e
    if input_text is not None:
        return input_text
    if input_json is not None:
        return json.dumps(input_json)
    return ""


def _sniff_format(format_: str | None, text: str) -> str:
    """csv/json auto-detection (``normalize_format``,
    main.rs:2078-2088): explicit value wins, otherwise a leading
    ``{``/``[`` means JSON."""
    if format_ is not None:
        return "csv" if format_.lower() == "csv" else "json"
    head = text.lstrip()[:1]
    return "json" if head in ("{", "[") else "csv"


def _json_records(value, records_path: str | None) -> list:
    """records under records_path: array → items, object → [object]
    (``json_records_from_value``, main.rs:2090-2120)."""
    from ..paths import get_path, parse_path
    target = value
    if records_path:
        try:
            tokens = parse_path(records_path)
        except RuleError as e:
            raise InvalidParams(f"records_path is invalid: {e}") from e
        found, target = get_path(value, tokens)
        if not found:
            msg = "records_path did not match any value"
            raise ToolError(msg, [_parse_error(msg)])
    if isinstance(target, list):
        return target
    if isinstance(target, dict):
        return [target]
    msg = "records_path must resolve to an object or array"
    raise ToolError(msg, [_parse_error(msg)])


def _csv_cell(value: str):
    """Typed CSV cell (``csv_cell_to_value``, main.rs:2155-2176):
    empty → null, true/false → bool, i64 → int, f64 → float, else
    the trimmed string."""
    t = value.strip()
    if not t:
        return None
    low = t.lower()
    if low == "true":
        return True
    if low == "false":
        return False
    if re.fullmatch(r"[+-]?\d+", t):
        try:
            n = int(t)
            if -(2 ** 63) <= n < 2 ** 63:
                return n
        except ValueError:
            pass
    try:
        f = float(t)
        if f == f and f not in (float("inf"), float("-inf")):
            return f
    except ValueError:
        pass
    return t


def _csv_records(text: str) -> list:
    reader = _csv.reader(io.StringIO(text))
    rows = list(reader)
    if not rows:
        return []
    headers = [h.strip() or f"column_{i + 1}"
               for i, h in enumerate(rows[0])]
    records = []
    for row in rows[1:]:
        records.append({headers[i]: _csv_cell(cell)
                        for i, cell in enumerate(row)
                        if i < len(headers)})
    return records


def _parse_records(input_text: str, input_json, format_: str,
                   records_path: str | None,
                   input_path: str | None) -> list:
    if input_json is not None:
        return _json_records(input_json, records_path)
    if format_ == "json":
        try:
            value = json.loads(input_text)
        except ValueError as e:
            msg = f"failed to parse input JSON: {e}"
            raise ToolError(msg, [_parse_error(msg, input_path)]) from e
        return _json_records(value, records_path)
    try:
        return _csv_records(input_text)
    except _csv.Error as e:
        msg = f"failed to parse input CSV: {e}"
        raise ToolError(msg, [_parse_error(msg, input_path)]) from e


# ---------------------------------------------------------------------
# path statistics (analyze_records, main.rs:2178-2264)
# ---------------------------------------------------------------------

def _type_name(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, (int, float)):
        return "number"
    if isinstance(v, str):
        return "string"
    if isinstance(v, list):
        return "array"
    return "object"


def analyze_records(records: list, max_paths: int | None = None) -> dict:
    """path → {count, type_counts, examples} over every record.
    Objects recurse; arrays and scalars are leaves; a non-object root
    records under ``$``."""
    stats: dict[str, dict] = {}

    def record(path: str, v) -> None:
        path = path or "$"
        if path not in stats and max_paths is not None \
                and len(stats) >= max_paths:
            return
        entry = stats.setdefault(
            path, {"count": 0, "types": {}, "examples": []})
        entry["count"] += 1
        tn = _type_name(v)
        entry["types"][tn] = entry["types"].get(tn, 0) + 1
        primitive = v is None or isinstance(v, (bool, int, float, str))
        if primitive and len(entry["examples"]) < 3 \
                and v not in entry["examples"]:
            entry["examples"].append(v)

    def walk(v, prefix: str) -> None:
        if isinstance(v, dict):
            if not v:
                record(prefix, v)
                return
            for key, child in v.items():
                walk(child, append_path(prefix, str(key)))
        else:
            record(prefix, v)

    for rec in records:
        walk(rec, "")
    return stats


def stats_to_json(stats: dict) -> list:
    out = []
    for path in sorted(stats):
        stat = stats[path]
        obj = {"path": path, "count": stat["count"],
               "types": {k: stat["types"][k]
                         for k in sorted(stat["types"])}}
        if stat["examples"]:
            obj["examples"] = stat["examples"]
        out.append(obj)
    return out


# ---------------------------------------------------------------------
# candidate selection (select_candidates, main.rs:2342-2439)
# ---------------------------------------------------------------------

def _split_tokens(value: str) -> list[str]:
    return [t.lower() for t in re.split(r"[^0-9A-Za-z]+", value) if t]


def _token_similarity(a: list[str], b: list[str]) -> float:
    if not a or not b:
        return 0.0
    sa, sb = set(a), set(b)
    denom = max(len(sa), len(sb))
    return len(sa & sb) / denom if denom else 0.0


def _leaf_from_path(path: str) -> str | None:
    from ..paths import Key, parse_path
    try:
        tokens = parse_path(path)
    except RuleError:
        return path
    for tok in reversed(tokens):
        if isinstance(tok, Key):
            return tok.name
    return None


def _type_boost(type_counts: dict, value_type: str | None) -> float:
    if value_type is None:
        return 0.0
    name = {"string": "string", "int": "number", "float": "number",
            "bool": "bool"}.get(value_type)
    return 0.1 if name is not None and name in type_counts else 0.0


def _confidence(score: float) -> str:
    if score >= 0.9:
        return "high"
    if score >= 0.7:
        return "medium"
    return "low"


def build_input_paths(stats: dict) -> list[dict]:
    paths = []
    for path, stat in stats.items():
        if path == "$":
            continue
        leaf = _leaf_from_path(path) or path
        paths.append({"path": path, "leaf": leaf,
                      "tokens": _split_tokens(leaf),
                      "types": stat["types"]})
    return paths


def select_candidates(target_leaf: str, source_hint: str | None,
                      value_type: str | None, input_paths: list[dict],
                      max_candidates: int) -> list[dict]:
    """Rank input paths against a target: exact source hint (1.0) >
    leaf name match (0.8 target / 0.75 source) > token-set overlap
    (0.6 × similarity); +0.1 when the observed JSON type matches the
    mapping's declared cast."""
    target_tokens = _split_tokens(target_leaf)
    source_leaf = _leaf_from_path(source_hint) if source_hint else None
    source_tokens = _split_tokens(source_leaf) if source_leaf else []

    candidates = []
    for info in input_paths:
        score, reason = 0.0, None
        if source_hint is not None and info["path"] == source_hint:
            score, reason = 1.0, "exact_source"
        if reason is None and target_leaf \
                and info["leaf"].lower() == target_leaf.lower():
            score, reason = 0.8, "leaf_match"
        if reason is None and source_leaf \
                and info["leaf"].lower() == source_leaf.lower():
            score, reason = 0.75, "leaf_match"
        if reason is None:
            sim = _token_similarity(target_tokens, info["tokens"])
            if source_tokens:
                sim = max(sim,
                          _token_similarity(source_tokens,
                                            info["tokens"]))
            if sim > 0.0:
                score, reason = 0.6 * sim, "token_match"
        if reason is None:
            continue
        score += _type_boost(info["types"], value_type)
        candidates.append({"source": info["path"], "score": score,
                           "reason": reason,
                           "confidence": _confidence(score)})
    candidates.sort(key=lambda c: (-c["score"], c["source"]))
    return candidates[:max_candidates]


# ---------------------------------------------------------------------
# expression ref walking (collect_missing_refs, main.rs:4491-4550)
# ---------------------------------------------------------------------

def _collect_expr_refs(expr, out: list[str]) -> None:
    """Collect ref paths from a raw expr tree.  Handles both rule
    dialects: v1 ``{ref: "input.x"}`` nodes and v2 ``"@input.x"``
    strings (pipes/step dicts recurse generically)."""
    if isinstance(expr, str):
        if expr.startswith("@") and len(expr) > 1:
            out.append(expr[1:])
        return
    if isinstance(expr, dict):
        ref = expr.get("ref")
        if isinstance(ref, str):
            out.append(ref)
        for key, v in expr.items():
            if key == "lit":
                continue  # lit: payloads are literals, never refs
            _collect_expr_refs(v, out)
        return
    if isinstance(expr, list):
        for item in expr:
            _collect_expr_refs(item, out)


def _input_ref_path(ref: str) -> str | None:
    ref = ref.strip()
    if ref.startswith("input."):
        rest = ref[len("input."):]
        return rest or None
    return None


def collect_missing_refs(mapping, input_path_set: set[str],
                         out: list[dict], seen: set[str]) -> None:
    for expr in (mapping.expr if mapping.has_expr else None,
                 mapping.when if mapping.has_when else None):
        if expr is None:
            continue
        refs: list[str] = []
        _collect_expr_refs(expr, refs)
        for ref in refs:
            path = _input_ref_path(ref)
            if path is None or path in input_path_set:
                continue
            key = f"{mapping.target}|{ref}"
            if key not in seen:
                seen.add(key)
                out.append({"target": mapping.target, "ref": ref,
                            "path": path})


# ---------------------------------------------------------------------
# list_ops payload (run_list_ops_tool, main.rs:1097-1313)
# ---------------------------------------------------------------------

_STRING_OPS = ["concat", "to_string", "trim", "lowercase", "uppercase",
               "replace", "split", "pad_start", "pad_end"]
_JSON_OPS = ["merge", "deep_merge", "get", "pick", "omit", "keys",
             "values", "entries", "len", "from_entries",
             "object_flatten", "object_unflatten"]
_ARRAY_OPS = ["map", "filter", "flat_map", "flatten", "take", "drop",
              "slice", "chunk", "zip", "zip_with", "unzip", "group_by",
              "key_by", "partition", "unique", "distinct_by", "sort_by",
              "find", "find_index", "index_of", "contains", "sum", "avg",
              "min", "max", "reduce", "fold"]
_NUMERIC_OPS = ["+", "-", "*", "/", "round", "to_base", "sum", "avg",
                "min", "max"]
_DATE_OPS = ["date_format", "to_unixtime"]

EXPR_OPS = (["concat", "coalesce", "to_string", "trim", "lowercase",
             "uppercase", "replace", "split", "pad_start", "pad_end",
             "lookup", "lookup_first"]
            + _JSON_OPS + _ARRAY_OPS
            + ["+", "-", "*", "/", "round", "to_base"]
            + _DATE_OPS)

_CATEGORY_DOCS = {
    "string_ops": {
        "summary": "String transformations and formatting.",
        "examples": [
            {"op": "replace",
             "expr": {"op": "replace", "args": ["a-b", "-", "_", "all"]}},
            {"op": "concat",
             "expr": {"op": "concat",
                      "args": [{"ref": "input.first"}, " ",
                               {"ref": "input.last"}]}},
        ],
    },
    "json_ops": {
        "summary": "Object merge and structural helpers.",
        "examples": [
            {"op": "merge",
             "expr": {"op": "merge",
                      "args": [{"ref": "input.base"},
                               {"ref": "context.override"}]}},
            {"op": "get",
             "expr": {"op": "get", "args": [{"ref": "input.obj"}, "id"]}},
            {"op": "pick",
             "expr": {"op": "pick",
                      "args": [{"ref": "input.obj"}, ["id"]]}},
        ],
    },
    "array_ops": {
        "summary": "Array transforms and aggregations.",
        "examples": [
            {"op": "map",
             "expr": {"op": "map",
                      "args": [{"ref": "input.values"},
                               {"ref": "item.value"}]}},
            {"op": "filter",
             "expr": {"op": "filter",
                      "args": [{"ref": "input.values"},
                               {"op": ">",
                                "args": [{"ref": "item.value"}, 0]}]}},
        ],
    },
    "numeric_ops": {
        "summary": "Numeric arithmetic and formatting.",
        "examples": [
            {"op": "+", "expr": {"op": "+", "args": [1, 2, 3]}},
            {"op": "round", "expr": {"op": "round", "args": [12.345, 2]}},
        ],
    },
    "date_ops": {
        "summary": "Date/time parsing and formatting.",
        "examples": [
            {"op": "date_format",
             "expr": {"op": "date_format",
                      "args": ["2024-01-02", "%Y/%m/%d"]}},
        ],
    },
}

LIST_OPS_PAYLOAD = {
    "expr_ops": EXPR_OPS,
    "categories": {
        "string_ops": _STRING_OPS,
        "json_ops": _JSON_OPS,
        "array_ops": _ARRAY_OPS,
        "numeric_ops": _NUMERIC_OPS,
        "date_ops": _DATE_OPS,
    },
    "category_docs": _CATEGORY_DOCS,
    "logical_ops": ["and", "or", "not"],
    "comparison_ops": ["==", "!=", "<", "<=", ">", ">=", "~="],
    "type_casts": ["string", "int", "float", "bool"],
}


def run_list_ops() -> dict:
    return {
        "content": [{"type": "text",
                     "text": json.dumps(LIST_OPS_PAYLOAD, indent=2)}],
        "meta": {"ops": LIST_OPS_PAYLOAD},
    }


# ---------------------------------------------------------------------
# transform tool
# ---------------------------------------------------------------------

def _transform_error_json(err) -> dict:
    obj = {"type": "transform", "kind": err.kind, "message": err.message}
    if err.path is not None:
        obj["path"] = err.path
    return obj


def _warnings_json(warnings: list[dict]) -> list[dict]:
    return [{"type": "warning", **{k: w[k] for k in ("kind", "message",
                                                     "path")
             if w.get(k) is not None}} for w in warnings]


def _validation_error_json(e) -> dict:
    obj = {"type": "validation", "code": e.code, "message": e.message}
    if e.path is not None:
        obj["path"] = e.path
    if getattr(e, "line", None) is not None:
        obj["line"] = e.line
        obj["column"] = e.column
    return obj


def _truncate_bytes(text: str, max_bytes: int) -> str:
    raw = text.encode("utf-8")
    if len(raw) <= max_bytes:
        return text
    return raw[:max_bytes].decode("utf-8", "ignore")


def run_transform(spark, args: dict) -> dict:
    from ..engine import transform_with_warnings
    from ..errors import TransformEngineError

    rules_path = _opt_str(args, "rules_path")
    rules_text = _opt_str(args, "rules_text")
    input_path = _opt_str(args, "input_path")
    input_text = _opt_str(args, "input_text")
    input_json = _opt_json_value(args, "input_json")
    context_path = _opt_str(args, "context_path")
    context_json = _opt_object(args, "context_json")
    format_ = _opt_str(args, "format")
    ndjson = _opt_bool(args, "ndjson") or False
    validate = _opt_bool(args, "validate") or False
    output_path = _opt_str(args, "output_path")
    max_output_bytes = _opt_usize(args, "max_output_bytes")
    preview_rows = _opt_usize(args, "preview_rows")
    return_output_json = _opt_bool(args, "return_output_json") or False

    _require_one_rules_source(rules_path, rules_text)
    _require_one_input_source(input_path, input_text, input_json)
    if context_path is not None and context_json is not None:
        raise InvalidParams("context_path and context_json are mutually "
                            "exclusive")
    _check_format(format_, input_json)

    rule, yaml_text = _load_rule_source(rules_path, rules_text)
    base_dir = "."
    if rules_path is not None:
        parent = os.path.dirname(rules_path)
        if parent:
            base_dir = parent

    if input_path is not None:
        text_input, path_input = None, input_path
        if "://" not in input_path:  # fast-fail before the Spark read
            try:
                with open(input_path, encoding="utf-8"):
                    pass
            except OSError as e:
                msg = f"failed to read input: {e}"
                raise ToolError(msg,
                                [_io_error(msg, input_path)]) from e
    elif input_text is not None:
        text_input, path_input = input_text, None
    else:
        text_input, path_input = json.dumps(input_json), None

    context = None
    if context_path is not None:
        try:
            with open(context_path, encoding="utf-8") as fh:
                data = fh.read()
        except OSError as e:
            msg = f"failed to read context: {e}"
            raise ToolError(msg, [_io_error(msg, context_path)]) from e
        try:
            context = json.loads(data)
        except ValueError as e:
            msg = f"failed to parse context JSON: {e}"
            raise ToolError(msg,
                            [_parse_error(msg, context_path)]) from e
    elif context_json is not None:
        context = context_json

    format_override = "json" if input_json is not None else format_

    if validate:
        from ..validator import validate_rule_source
        errors = validate_rule_source(rule, yaml_text)
        if errors:
            values = [_validation_error_json(e) for e in errors]
            raise ToolError(json.dumps(values), values)

    if ndjson and rule.finalize is not None:
        err = {"type": "transform", "kind": "InvalidInput",
               "message": "finalize is not supported in stream mode"}
        raise ToolError(json.dumps([err]), [err])

    try:
        output, warnings = transform_with_warnings(
            spark, yaml_text, input_text=text_input,
            input_path=path_input, context=context, base_dir=base_dir,
            format_override=(format_override.lower()
                             if format_override else None))
    except TransformEngineError as e:
        err = _transform_error_json(e)
        raise ToolError(json.dumps([err]), [err]) from e
    except RuleError as e:
        msg = f"failed to parse rules: {e}"
        raise ToolError(msg, [_parse_error(msg, rules_path)]) from e

    if ndjson:
        records = output if isinstance(output, list) else [output]
        output_text = "".join(json.dumps(r, separators=(",", ":")) + "\n"
                              for r in records)
        output_value = None
    else:
        output_text = json.dumps(output, separators=(",", ":"))
        output_value = output

    if output_path is not None:
        try:
            parent = os.path.dirname(output_path)
            if parent:
                os.makedirs(parent, exist_ok=True)
            with open(output_path, "w", encoding="utf-8") as fh:
                fh.write(output_text)
        except OSError as e:
            msg = f"failed to write output: {e}"
            raise ToolError(msg, [_io_error(msg, output_path)]) from e

    output_bytes = len(output_text.encode("utf-8"))
    response_text = output_text
    truncated = False

    if ndjson and preview_rows is not None:
        lines = output_text.split("\n")
        kept = [ln for ln in lines if ln][:preview_rows]
        preview = "".join(ln + "\n" for ln in kept)
        if len(preview) != len(output_text):
            truncated = True
        response_text = preview

    if max_output_bytes is not None:
        if output_bytes > max_output_bytes:
            truncated = True
        if len(response_text.encode("utf-8")) > max_output_bytes:
            response_text = _truncate_bytes(response_text,
                                            max_output_bytes)
            truncated = True

    result = {"content": [{"type": "text", "text": response_text}]}
    meta: dict = {}
    if warnings:
        meta["warnings"] = _warnings_json(warnings)
    if output_path is not None:
        meta["output_path"] = output_path
    if truncated:
        meta["output_bytes"] = output_bytes
        meta["truncated"] = True
    exceeds = (max_output_bytes is not None
               and output_bytes > max_output_bytes)
    if return_output_json and not ndjson and not exceeds \
            and output_value is not None:
        meta["output"] = output_value
    if meta:
        result["meta"] = meta
    return result


# ---------------------------------------------------------------------
# validate_rules / generate_dto tools
# ---------------------------------------------------------------------

def run_validate_rules(args: dict) -> dict:
    from ..validator import collect_rule_warnings, validate_rule_source
    rules_path = _opt_str(args, "rules_path")
    rules_text = _opt_str(args, "rules_text")
    _require_one_rules_source(rules_path, rules_text)
    rule, yaml_text = _load_rule_source(rules_path, rules_text)
    errors = validate_rule_source(rule, yaml_text)
    if errors:
        return {
            "content": [{"type": "text", "text": "validation failed"}],
            "isError": True,
            "meta": {"errors": [_validation_error_json(e)
                                for e in errors]},
        }
    result = {"content": [{"type": "text", "text": "ok"}]}
    warnings = collect_rule_warnings(rule)
    if warnings:
        out = []
        from ..locator import YamlLocator
        locator = YamlLocator(yaml_text)
        for w in warnings:
            obj = {"type": "warning", "code": w.code,
                   "message": w.message}
            if w.path is not None:
                obj["path"] = w.path
                loc = locator.location_for_nearest(w.path)
                if loc is not None:
                    obj["line"], obj["column"] = loc
            out.append(obj)
        result["meta"] = {"warnings": out}
    return result


DTO_LANGUAGES = ("rust", "typescript", "python", "go", "java", "kotlin",
                 "swift")


def run_generate_dto(args: dict) -> dict:
    from ..dto import generate_dto
    rules_path = _opt_str(args, "rules_path")
    rules_text = _opt_str(args, "rules_text")
    language = _opt_str(args, "language")
    name = _opt_str(args, "name")
    _require_one_rules_source(rules_path, rules_text)
    if language is None:
        raise InvalidParams("language is required")
    lang = language.lower()
    if lang not in DTO_LANGUAGES:
        raise InvalidParams("language must be one of rust, typescript, "
                            "python, go, java, kotlin, swift")
    rule, _ = _load_rule_source(rules_path, rules_text)
    try:
        dto = generate_dto(rule, lang, name)
    except RuleError as e:
        msg = f"failed to generate dto: {e}"
        raise ToolError(msg, [_dto_error(msg)]) from e
    meta = {"language": lang}
    if name is not None:
        meta["name"] = name
    return {"content": [{"type": "text", "text": dto}], "meta": meta}


# ---------------------------------------------------------------------
# analyze_input tool
# ---------------------------------------------------------------------

def run_analyze_input(args: dict) -> dict:
    input_path = _opt_str(args, "input_path")
    input_text = _opt_str(args, "input_text")
    input_json = _opt_json_value(args, "input_json")
    format_ = _opt_str(args, "format")
    records_path = _opt_str(args, "records_path")
    max_paths = _opt_usize(args, "max_paths")

    _require_one_input_source(input_path, input_text, input_json)
    _check_format(format_, input_json)

    text = _read_input_text(input_path, input_text, None)
    if input_json is not None:
        records = _json_records(input_json, records_path)
    else:
        fmt = _sniff_format(format_, text)
        records = _parse_records(text, None, fmt, records_path,
                                 input_path)

    stats = analyze_records(records, max_paths)
    meta = {
        "summary": {"records": len(records), "paths": len(stats)},
        "paths": stats_to_json(stats),
    }
    return {"content": [{"type": "text",
                         "text": json.dumps(meta, indent=2)}],
            "meta": meta}


# ---------------------------------------------------------------------
# generate_rules_from_base tool
# ---------------------------------------------------------------------

def _yaml_dump(value) -> str:
    return yaml.safe_dump(value, sort_keys=False, allow_unicode=True,
                          default_flow_style=False)


def _candidates_json(candidates: list[dict]) -> list[dict]:
    return [{"source": c["source"], "score": c["score"],
             "reason": c["reason"], "confidence": c["confidence"]}
            for c in candidates]


def run_generate_rules_from_base(args: dict) -> dict:
    rules_path = _opt_str(args, "rules_path")
    rules_text = _opt_str(args, "rules_text")
    input_path = _opt_str(args, "input_path")
    input_text = _opt_str(args, "input_text")
    input_json = _opt_json_value(args, "input_json")
    format_ = _opt_str(args, "format")
    records_path = _opt_str(args, "records_path")
    max_candidates = _opt_usize(args, "max_candidates") or 3

    _require_one_rules_source(rules_path, rules_text)
    _require_one_input_source(input_path, input_text, input_json)
    _check_format(format_, input_json)

    rule, yaml_text = _load_rule_source(rules_path, rules_text)
    try:
        yaml_value = yaml.safe_load(yaml_text)
    except yaml.YAMLError as e:
        msg = f"failed to parse rules yaml: {e}"
        raise ToolError(msg, [_parse_error(msg)]) from e

    text = _read_input_text(input_path, input_text, None)
    if records_path is None and rule.input.json is not None:
        records_path = rule.input.json.records_path

    if input_json is not None:
        parse_format = "json"
    elif format_ is not None:
        parse_format = "csv" if format_.lower() == "csv" else "json"
    else:
        parse_format = rule.input.format
    records = _parse_records(text, input_json, parse_format,
                             records_path, input_path)

    format_override = "json" if input_json is not None else format_
    if format_override is not None:
        format_for_yaml = format_override.lower()
    elif records_path is not None:
        format_for_yaml = "json"
    else:
        format_for_yaml = None
    _update_yaml_input_spec(yaml_value, format_for_yaml, records_path)

    stats = analyze_records(records)
    input_paths = build_input_paths(stats)
    input_path_set = {info["path"] for info in input_paths}

    mappings_yaml = _yaml_mappings(yaml_value)
    candidates_meta: list[dict] = []
    unmapped: list[str] = []
    missing_refs: list[dict] = []
    seen_refs: set[str] = set()
    mapped = with_expr = with_value = 0

    for index, mapping in enumerate(rule.mappings):
        collect_missing_refs(mapping, input_path_set, missing_refs,
                             seen_refs)
        if mapping.has_expr:
            with_expr += 1
            continue
        if mapping.has_value:
            with_value += 1
            continue
        target_leaf = _leaf_from_path(mapping.target) or ""
        candidates = select_candidates(target_leaf, mapping.source,
                                       mapping.value_type, input_paths,
                                       max_candidates)
        selected = candidates[0] if candidates else None
        if selected is not None:
            mapped += 1
            _update_yaml_mapping(mappings_yaml, index,
                                 selected["source"])
        else:
            unmapped.append(mapping.target)
            _update_yaml_mapping(mappings_yaml, index, None)
        entry = {"target": mapping.target,
                 "candidates": _candidates_json(candidates)}
        if selected is not None:
            entry["selected"] = selected["source"]
            entry["confidence"] = selected["confidence"]
        candidates_meta.append(entry)

    output_text = _yaml_dump(yaml_value)
    meta: dict = {
        "summary": {"total": len(rule.mappings), "mapped": mapped,
                    "unmapped": len(unmapped), "with_expr": with_expr,
                    "with_value": with_value},
        "candidates": candidates_meta,
    }
    if unmapped:
        meta["unmapped"] = unmapped
    if missing_refs:
        meta["missing_refs"] = missing_refs
    return {"content": [{"type": "text", "text": output_text}],
            "meta": meta}


def _update_yaml_input_spec(root, format_: str | None,
                            records_path: str | None) -> None:
    if format_ is None and records_path is None:
        return
    if not isinstance(root, dict):
        return
    input_map = root.setdefault("input", {})
    if not isinstance(input_map, dict):
        return
    if format_ is not None:
        input_map["format"] = format_
    if records_path is not None:
        json_map = input_map.setdefault("json", {})
        if isinstance(json_map, dict):
            json_map["records_path"] = records_path


def _yaml_mappings(root) -> list:
    if not isinstance(root, dict):
        msg = "rules yaml must be a mapping"
        raise ToolError(msg, [_parse_error(msg)])
    mappings = root.get("mappings")
    if mappings is None:
        msg = "rules yaml is missing mappings"
        raise ToolError(msg, [_parse_error(msg)])
    if not isinstance(mappings, list):
        msg = "rules yaml mappings must be a sequence"
        raise ToolError(msg, [_parse_error(msg)])
    return mappings


def _update_yaml_mapping(mappings: list, index: int,
                         source: str | None) -> None:
    if index >= len(mappings):
        msg = "mapping index out of range"
        raise ToolError(msg, [_parse_error(msg)])
    mapping = mappings[index]
    if not isinstance(mapping, dict):
        msg = "mapping entry must be a mapping"
        raise ToolError(msg, [_parse_error(msg)])
    if source is not None:
        mapping["source"] = source
        mapping.pop("value", None)
        mapping.pop("expr", None)
    else:
        mapping.pop("source", None)
        mapping.pop("expr", None)
        mapping["value"] = None
        mapping["required"] = False


# ---------------------------------------------------------------------
# generate_rules_from_dto tool
# ---------------------------------------------------------------------

def run_generate_rules_from_dto(args: dict) -> dict:
    dto_text = _opt_str(args, "dto_text")
    dto_language = _opt_str(args, "dto_language")
    input_path = _opt_str(args, "input_path")
    input_text = _opt_str(args, "input_text")
    input_json = _opt_json_value(args, "input_json")
    format_ = _opt_str(args, "format")
    records_path = _opt_str(args, "records_path")
    max_candidates = _opt_usize(args, "max_candidates") or 3

    if dto_text is None:
        raise InvalidParams("dto_text is required")
    if dto_language is None:
        raise InvalidParams("dto_language is required")
    if dto_language.lower() not in DTO_LANGUAGES:
        raise InvalidParams("dto_language must be rust, typescript, "
                            "python, go, java, kotlin, or swift")
    _require_one_input_source(input_path, input_text, input_json)
    _check_format(format_, input_json)

    text = _read_input_text(input_path, input_text, None)
    if input_json is not None:
        parse_format = "json"
    else:
        parse_format = _sniff_format(format_, text)
    records = _parse_records(text, input_json, parse_format,
                             records_path, input_path)

    try:
        schema = parse_dto_schema(dto_text, dto_language)
        generated = generate_mappings_from_schema(schema)
    except DtoParseError as e:
        raise ToolError(str(e), [_dto_error(str(e))]) from e

    stats = analyze_records(records)
    input_paths = build_input_paths(stats)

    candidates_meta: list[dict] = []
    unmapped: list[str] = []
    mapped = 0
    mappings_yaml: list[dict] = []

    for gm in generated:
        target_leaf = _leaf_from_path(gm.target) or ""
        candidates = select_candidates(target_leaf, None, gm.value_type,
                                       input_paths, max_candidates)
        selected = candidates[0] if candidates else None
        mapping: dict = {"target": gm.target}
        if gm.value_type is not None:
            mapping["type"] = gm.value_type
        if selected is not None:
            mapped += 1
            mapping["source"] = selected["source"]
            if gm.required:
                mapping["required"] = True
        else:
            unmapped.append(gm.target)
            mapping["value"] = None
            mapping["required"] = False
        mappings_yaml.append(mapping)
        entry = {"target": gm.target,
                 "candidates": _candidates_json(candidates)}
        if selected is not None:
            entry["selected"] = selected["source"]
            entry["confidence"] = selected["confidence"]
        candidates_meta.append(entry)

    input_spec: dict = {"format": parse_format}
    if parse_format == "json":
        json_map: dict = {}
        if records_path is not None:
            json_map["records_path"] = records_path
        input_spec["json"] = json_map
    else:
        input_spec["csv"] = {}

    root = {"version": 1, "input": input_spec,
            "mappings": mappings_yaml}
    output_text = _yaml_dump(root)

    meta: dict = {
        "summary": {"total": len(generated), "mapped": mapped,
                    "unmapped": len(unmapped)},
        "candidates": candidates_meta,
    }
    if unmapped:
        meta["unmapped"] = unmapped
    return {"content": [{"type": "text", "text": output_text}],
            "meta": meta}
