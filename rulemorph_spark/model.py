"""Rule-file model: YAML → dataclasses.

Shape mirrors the reference's rule model (``crates/rulemorph/src/model.rs:6-188``):
``RuleFile { version, input, output?, record_when?, mappings, steps?, finalize? }``.
Unknown fields are rejected (the reference uses serde ``deny_unknown_fields``).
"""

from __future__ import annotations

import contextlib
import os
import threading
from dataclasses import dataclass, field
from typing import Any

import yaml

from .errors import RuleError

JsonValue = Any  # plain-Python JSON tree


def _check_keys(obj: dict, allowed: set[str], where: str) -> None:
    unknown = set(obj) - allowed
    if unknown:
        raise RuleError("invalid_rule",
                        f"unknown field(s) {sorted(unknown)} in {where}")


@dataclass
class Column:
    name: str
    value_type: str | None = None


@dataclass
class CsvInput:
    has_header: bool = True
    delimiter: str = ","
    columns: list[Column] | None = None


@dataclass
class JsonInput:
    records_path: str | None = None


@dataclass
class InputSpec:
    format: str  # "csv" | "json"
    csv: CsvInput | None = None
    json: JsonInput | None = None


@dataclass
class OutputSpec:
    name: str | None = None


@dataclass
class Mapping:
    target: str
    source: str | None = None
    value: JsonValue = None
    has_value: bool = False  # value may legitimately be null
    expr: JsonValue = None  # raw expr tree (parsed lazily into IR)
    has_expr: bool = False
    when: JsonValue = None
    has_when: bool = False
    value_type: str | None = None
    required: bool = False
    default: JsonValue = None
    has_default: bool = False


@dataclass
class AssertError:
    code: str
    message: str


@dataclass
class Assert:
    when: JsonValue
    error: AssertError


@dataclass
class Branch:
    when: JsonValue
    then: str
    else_: str | None = None
    return_: bool = False


@dataclass
class RuleStep:
    name: str | None = None
    mappings: list[Mapping] | None = None
    record_when: JsonValue = None
    has_record_when: bool = False
    asserts: list[Assert] | None = None
    branch: Branch | None = None


@dataclass
class FinalizeSort:
    by: str
    order: str = "asc"


@dataclass
class Finalize:
    filter: JsonValue = None
    has_filter: bool = False
    sort: FinalizeSort | None = None
    limit: int | None = None
    offset: int | None = None
    wrap: JsonValue = None
    has_wrap: bool = False


@dataclass
class RuleFile:
    version: int
    input: InputSpec
    output: OutputSpec | None = None
    record_when: JsonValue = None
    has_record_when: bool = False
    mappings: list[Mapping] = field(default_factory=list)
    steps: list[RuleStep] | None = None
    finalize: Finalize | None = None


def _parse_mapping(obj: dict, where: str) -> Mapping:
    if not isinstance(obj, dict):
        raise RuleError("invalid_rule", f"mapping must be an object at {where}")
    _check_keys(obj, {"target", "source", "value", "expr", "when", "type",
                      "required", "default"}, where)
    if "target" not in obj or not isinstance(obj["target"], str):
        raise RuleError("invalid_rule", f"mapping.target required at {where}")
    return Mapping(
        target=obj["target"],
        source=obj.get("source"),
        value=obj.get("value"),
        has_value="value" in obj,
        expr=obj.get("expr"),
        has_expr="expr" in obj,
        when=obj.get("when"),
        has_when="when" in obj,
        value_type=obj.get("type"),
        required=bool(obj.get("required", False)),
        default=obj.get("default"),
        has_default="default" in obj,
    )


def _parse_step(obj: dict, where: str) -> RuleStep:
    _check_keys(obj, {"name", "mappings", "record_when", "asserts", "branch"},
                where)
    mappings = None
    if "mappings" in obj:
        mappings = [_parse_mapping(m, f"{where}.mappings[{i}]")
                    for i, m in enumerate(obj["mappings"])]
    asserts = None
    if "asserts" in obj:
        asserts = []
        for i, a in enumerate(obj["asserts"]):
            _check_keys(a, {"when", "error"}, f"{where}.asserts[{i}]")
            err = a.get("error") or {}
            _check_keys(err, {"code", "message"}, f"{where}.asserts[{i}].error")
            asserts.append(Assert(when=a["when"],
                                  error=AssertError(code=err.get("code", ""),
                                                    message=err.get("message", ""))))
    branch = None
    if "branch" in obj:
        b = obj["branch"]
        _check_keys(b, {"when", "then", "else", "return"}, f"{where}.branch")
        branch = Branch(when=b.get("when"), then=b.get("then"),
                        else_=b.get("else"), return_=bool(b.get("return", False)))
    return RuleStep(
        name=obj.get("name"),
        mappings=mappings,
        record_when=obj.get("record_when"),
        has_record_when="record_when" in obj,
        asserts=asserts,
        branch=branch,
    )


def parse_rule_dict(doc: dict) -> RuleFile:
    if not isinstance(doc, dict):
        raise RuleError("invalid_rule", "rule file must be a mapping")
    _check_keys(doc, {"version", "input", "output", "record_when", "mappings",
                      "steps", "finalize"}, "rule")
    version = doc.get("version")
    if version not in (1, 2):
        raise RuleError("invalid_rule", f"unsupported version: {version!r}")

    inp = doc.get("input")
    if not isinstance(inp, dict):
        raise RuleError("invalid_rule", "input is required")
    _check_keys(inp, {"format", "csv", "json"}, "input")
    fmt = inp.get("format")
    if fmt not in ("csv", "json"):
        raise RuleError("invalid_rule", f"input.format must be csv|json, got {fmt!r}")
    csv_spec = None
    if inp.get("csv") is not None:
        c = inp["csv"]
        _check_keys(c, {"has_header", "delimiter", "columns"}, "input.csv")
        cols = None
        if c.get("columns") is not None:
            cols = []
            for i, col in enumerate(c["columns"]):
                _check_keys(col, {"name", "type"}, f"input.csv.columns[{i}]")
                cols.append(Column(name=col["name"], value_type=col.get("type")))
        csv_spec = CsvInput(has_header=bool(c.get("has_header", True)),
                            delimiter=c.get("delimiter", ","), columns=cols)
    json_spec = None
    if inp.get("json") is not None:
        j = inp["json"] or {}
        _check_keys(j, {"records_path"}, "input.json")
        json_spec = JsonInput(records_path=j.get("records_path"))
    input_spec = InputSpec(format=fmt, csv=csv_spec, json=json_spec)

    output = None
    if doc.get("output") is not None:
        o = doc["output"]
        _check_keys(o, {"name"}, "output")
        output = OutputSpec(name=o.get("name"))

    mappings = [_parse_mapping(m, f"mappings[{i}]")
                for i, m in enumerate(doc.get("mappings") or [])]

    steps = None
    if doc.get("steps") is not None:
        steps = [_parse_step(s, f"steps[{i}]")
                 for i, s in enumerate(doc["steps"])]

    finalize = None
    if doc.get("finalize") is not None:
        f = doc["finalize"]
        _check_keys(f, {"filter", "sort", "limit", "offset", "wrap"}, "finalize")
        sort = None
        if f.get("sort") is not None:
            s = f["sort"]
            _check_keys(s, {"by", "order"}, "finalize.sort")
            sort = FinalizeSort(by=s["by"], order=s.get("order", "asc"))
        finalize = Finalize(filter=f.get("filter"), has_filter="filter" in f,
                            sort=sort, limit=f.get("limit"),
                            offset=f.get("offset"), wrap=f.get("wrap"),
                            has_wrap="wrap" in f)

    return RuleFile(
        version=version,
        input=input_spec,
        output=output,
        record_when=doc.get("record_when"),
        has_record_when="record_when" in doc,
        mappings=mappings,
        steps=steps,
        finalize=finalize,
    )


def repair_yaml_surrogates(v):
    """PyYAML decodes adjacent ``\\uD8xx\\uDCxx`` escapes in quoted
    scalars as two LONE surrogate code points; the reference's libyaml
    pairs them into the astral char (and errors on an unpaired one).
    Lone surrogates also crash py4j string transport, so repair at the
    YAML boundary.  JSON input needs none of this — Python's json
    pairs surrogate escapes itself."""
    if isinstance(v, str):
        if any(0xD800 <= ord(c) <= 0xDFFF for c in v):
            try:
                return v.encode("utf-16-le", "surrogatepass") \
                        .decode("utf-16-le")
            except UnicodeDecodeError:
                raise RuleError("yaml_error",
                                "unpaired surrogate escape in YAML "
                                "scalar") from None
        return v
    if isinstance(v, list):
        return [repair_yaml_surrogates(x) for x in v]
    if isinstance(v, dict):
        return {repair_yaml_surrogates(k): repair_yaml_surrogates(x)
                for k, x in v.items()}
    return v


def parse_rule_file(text: str) -> RuleFile:
    try:
        doc = yaml.safe_load(text)
    except yaml.YAMLError as e:
        raise RuleError("yaml_error", str(e)) from e
    return parse_rule_dict(repair_yaml_surrogates(doc))


# this thread's ``recording_loads`` scope: {absolute path: text}
_loads = threading.local()


@contextlib.contextmanager
def recording_loads():
    """Record every file ``load_rule_file`` reads on this thread within
    the scope, as ``{absolute path: text}`` (a compiled rule re-checks
    them, ``compiler/compiled.py``)."""
    outer = getattr(_loads, "files", None)
    files = _loads.files = {}
    try:
        yield files
    finally:
        _loads.files = outer


def load_rule_file(path: str) -> RuleFile:
    with open(path, encoding="utf-8") as fh:
        text = fh.read()
    files = getattr(_loads, "files", None)
    if files is not None:
        files[os.path.abspath(path)] = text
    return parse_rule_file(text)
