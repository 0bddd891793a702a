"""DTO generation: reconstruct a static output schema from the rule's
target paths + ``type:`` + required/when/default optionality and render
it to 7 languages.

Mirrors the reference's generator (``crates/rulemorph/src/dto.rs:86-138``
schema inference; renderers ``:720-1250``) — a pure metadata feature, no
Spark involved.  Optionality: a field is optional when it has a
non-trivially-true ``when``, or none of required/value/default.
"""

from __future__ import annotations

import keyword as _pykeyword
from dataclasses import dataclass, field as dc_field

from .errors import RuleError
from .model import RuleFile
from .paths import Index, Key, parse_path

LANGUAGES = ["rust", "typescript", "python", "go", "java", "kotlin",
             "swift"]


@dataclass
class Field:
    key: str
    type: str          # string|int|float|bool|json|object
    optional: bool
    children: "Schema | None" = None


@dataclass
class Schema:
    fields: list[Field] = dc_field(default_factory=list)

    def has_json(self) -> bool:
        return any(f.type == "json" or
                   (f.children and f.children.has_json())
                   for f in self.fields)

    def has_optional(self) -> bool:
        return any(f.optional or (f.children and f.children.has_optional())
                   for f in self.fields)


def build_schema(rule: RuleFile) -> Schema:
    root = Schema()
    mappings = list(rule.mappings)
    for step in rule.steps or []:
        mappings.extend(step.mappings or [])
    for m in mappings:
        tokens = parse_path(m.target)
        keys = [t.name for t in tokens if isinstance(t, Key)]
        if any(isinstance(t, Index) for t in tokens) or not keys:
            raise RuleError("dto_error", "target path must not include "
                            "indexes")
        ftype = {"string": "string", "int": "int", "float": "float",
                 "bool": "bool", None: "json"}.get(m.value_type)
        if ftype is None:
            raise RuleError("dto_error", "unsupported type in mapping")
        conditional = m.has_when and m.when is not True
        optional = conditional or not (m.required or m.has_value
                                       or m.has_default)
        _insert(root, keys, ftype, optional)
    return root


def _insert(node: Schema, keys: list[str], ftype: str, optional: bool):
    key = keys[0]
    if len(keys) == 1:
        if any(f.key == key for f in node.fields):
            raise RuleError("dto_error", "duplicate target in dto")
        node.fields.append(Field(key, ftype, optional))
        return
    for f in node.fields:
        if f.key == key:
            if f.children is None:
                raise RuleError("dto_error",
                                "target conflicts with non-object")
            _insert(f.children, keys[1:], ftype, optional)
            return
    child = Schema()
    _insert(child, keys[1:], ftype, optional)
    node.fields.append(Field(key, "object", False, child))


# --- naming helpers ----------------------------------------------------

def _words(key: str) -> list[str]:
    out, buf = [], []
    for c in key:
        if c in "-_. ":
            if buf:
                out.append("".join(buf))
                buf = []
        else:
            buf.append(c)
    if buf:
        out.append("".join(buf))
    return out or [key]


def _pascal(key: str) -> str:
    return "".join(w[:1].upper() + w[1:] for w in _words(key))


def _camel(key: str) -> str:
    p = _pascal(key)
    return p[:1].lower() + p[1:]


def _snake(key: str) -> str:
    return "_".join(w.lower() if w.isupper() else w for w in _words(key))


_TS_KEYWORDS = {"class", "function", "var", "let", "const", "enum",
                "interface", "new", "delete", "typeof", "in", "of",
                "return", "import", "export", "default", "this"}
_JAVA_KEYWORDS = {"class", "public", "private", "protected", "static",
                  "final", "int", "long", "double", "boolean", "new",
                  "return", "void", "package", "import", "interface",
                  "enum", "default", "switch"}
_KOTLIN_KEYWORDS = {"class", "object", "interface", "fun", "val", "var",
                    "when", "in", "is", "as", "return", "package",
                    "import", "typealias"}
_SWIFT_KEYWORDS = {"class", "struct", "enum", "func", "var", "let", "in",
                   "is", "as", "return", "import", "default", "switch",
                   "protocol", "extension"}
_RUST_KEYWORDS = {"type", "match", "move", "ref", "struct", "enum", "impl",
                  "fn", "let", "mod", "pub", "use", "crate", "self",
                  "super", "where", "trait", "loop", "in", "for", "if",
                  "else", "while", "return", "break", "continue", "box",
                  "static", "const", "unsafe", "extern", "dyn", "async",
                  "await", "as", "true", "false"}
_GO_KEYWORDS: set[str] = set()  # exported PascalCase never collides


def _ident(name: str, keywords: set[str]) -> str:
    if name in keywords or (name and name[0].isdigit()):
        return name + "_"
    return name


def _type_names(schema: Schema, base: str):
    """(ordered nested type defs, path→name) — children before parents,
    in field order (dto01 golden layout)."""
    defs: list[tuple[str, Schema]] = []

    def walk(node: Schema, path: list[str]):
        for f in node.fields:
            if f.children is not None:
                walk(f.children, path + [f.key])
                defs.append((base + "".join(_pascal(p)
                                            for p in path + [f.key]),
                             f.children))
        return

    walk(schema, [])
    # children-before-parents with parents last: reorder by depth
    name_of: dict[int, str] = {id(s): n for n, s in defs}
    ordered = defs
    return ordered, name_of


# --- renderers ---------------------------------------------------------

def generate_dto(rule: RuleFile, language: str,
                 name: str | None = None) -> str:
    base = name or (rule.output.name if rule.output and rule.output.name
                    else None) or "Record"
    schema = build_schema(rule)
    renderer = {
        "rust": _render_rust, "typescript": _render_typescript,
        "python": _render_python, "go": _render_go, "java": _render_java,
        "kotlin": _render_kotlin, "swift": _render_swift,
    }.get(language)
    if renderer is None:
        raise RuleError("dto_error", f"unsupported language: {language}")
    return renderer(schema, base)


def _each_struct(schema: Schema, base: str):
    """yield (type_name, node) children-first then the root."""
    ordered, name_of = _type_names(schema, base)
    for n, s in ordered:
        yield n, s, name_of
    yield base, schema, name_of


def _render_rust(schema: Schema, base: str) -> str:
    out = ["use serde::{Deserialize, Serialize};"]
    if schema.has_json():
        out.append("use serde_json::Value;")
    out.append("")
    prim = {"string": "String", "int": "i64", "float": "f64",
            "bool": "bool", "json": "Value"}

    def struct(name, node, name_of):
        lines = ["#[derive(Debug, Clone, Serialize, Deserialize)]",
                 f"pub struct {name} {{"]
        for f in node.fields:
            rust_name = _ident(_snake(f.key), _RUST_KEYWORDS)
            tname = (name_of[id(f.children)] if f.children is not None
                     else prim[f.type])
            attrs = []
            if f.optional:
                attrs += ["default", 'skip_serializing_if = "Option::is_none"']
                tname = f"Option<{tname}>"
            if rust_name != f.key:
                attrs.append(f'rename = "{f.key}"')
            if attrs:
                lines.append(f"    #[serde({', '.join(attrs)})]")
            lines.append(f"    pub {rust_name}: {tname},")
        lines.append("}")
        return "\n".join(lines)

    structs = [struct(n, s, no) for n, s, no in _each_struct(schema, base)]
    return "\n".join(out) + "\n" + "\n\n".join(structs) + "\n"


def _render_typescript(schema: Schema, base: str) -> str:
    prim = {"string": "string", "int": "number", "float": "number",
            "bool": "boolean", "json": "unknown"}

    def iface(name, node, name_of):
        lines = [f"export interface {name} {{"]
        for f in node.fields:
            ts_name = _ident(_camel(f.key), _TS_KEYWORDS)
            tname = (name_of[id(f.children)] if f.children is not None
                     else prim[f.type])
            if ts_name != f.key:
                lines.append(f'  /** json: "{f.key}" */')
            opt = "?" if f.optional else ""
            lines.append(f"  {ts_name}{opt}: {tname};")
        lines.append("}")
        return "\n".join(lines)

    parts = [iface(n, s, no) for n, s, no in _each_struct(schema, base)]
    return "\n\n".join(parts) + "\n"


def _render_python(schema: Schema, base: str) -> str:
    prim = {"string": "str", "int": "int", "float": "float",
            "bool": "bool", "json": "Any"}
    uses_field = False
    uses_any = False

    def cls(name, node, name_of):
        nonlocal uses_field, uses_any
        required = [f for f in node.fields if not f.optional]
        optional = [f for f in node.fields if f.optional]
        lines = ["@dataclass", f"class {name}:"]
        for f in required + optional:
            py_name = _snake(f.key)
            if _pykeyword.iskeyword(py_name):
                py_name += "_"
            tname = (name_of[id(f.children)] if f.children is not None
                     else prim[f.type])
            if f.type == "json":
                uses_any = True
            if f.optional:
                tname = f"Optional[{tname}]"
                if py_name != f.key:
                    uses_field = True
                    lines.append(f'    # json: "{f.key}"')
                    lines.append(
                        f"    {py_name}: {tname} = field(default=None, "
                        f'metadata={{"json_key": "{f.key}"}})')
                else:
                    lines.append(f"    {py_name}: {tname} = None")
            else:
                lines.append(f"    {py_name}: {tname}")
        return "\n".join(lines)

    bodies = [cls(n, s, no) for n, s, no in _each_struct(schema, base)]
    imports = "from dataclasses import dataclass" + \
        (", field" if uses_field else "")
    typing = []
    if schema.has_optional():
        typing.append("Optional")
    if uses_any:
        typing.append("Any")
    header = [imports]
    if typing:
        header.append(f"from typing import {', '.join(typing)}")
    return "\n".join(header) + "\n\n" + "\n\n".join(bodies) + "\n"


def _render_go(schema: Schema, base: str) -> str:
    prim = {"string": "string", "int": "int64", "float": "float64",
            "bool": "bool", "json": "json.RawMessage"}

    def struct(name, node, name_of):
        lines = [f"type {name} struct {{"]
        for f in node.fields:
            go_name = _pascal(f.key)
            tname = (name_of[id(f.children)] if f.children is not None
                     else prim[f.type])
            tag = f.key
            if f.optional:
                tname = "*" + tname
                tag += ",omitempty"
            lines.append(f"    {go_name} {tname} `json:\"{tag}\"`")
        lines.append("}")
        return "\n".join(lines)

    header = "package dto\n"
    if schema.has_json():
        header += '\nimport "encoding/json"\n'
    bodies = [struct(n, s, no) for n, s, no in _each_struct(schema, base)]
    return header + "\n" + "\n\n".join(bodies) + "\n"


def _render_java(schema: Schema, base: str) -> str:
    prim = {"string": "String", "int": "Long", "float": "Double",
            "bool": "Boolean", "json": "JsonNode"}
    any_rename = False

    def cls(name, node, name_of, public):
        nonlocal any_rename
        kw = "public class" if public else "class"
        lines = [f"{kw} {name} {{"]
        for f in node.fields:
            jname = _ident(_camel(f.key), _JAVA_KEYWORDS)
            tname = (name_of[id(f.children)] if f.children is not None
                     else prim[f.type])
            if f.optional:
                tname = f"Optional<{tname}>"
            if jname != f.key:
                any_rename = True
                lines.append(f'    @JsonProperty("{f.key}")')
            lines.append(f"    public {tname} {jname};")
        lines.append("}")
        return "\n".join(lines)

    all_structs = list(_each_struct(schema, base))
    bodies = [cls(n, s, no, i == len(all_structs) - 1)
              for i, (n, s, no) in enumerate(all_structs)]
    header = []
    if any_rename:
        header.append(
            "import com.fasterxml.jackson.annotation.JsonProperty;")
    if schema.has_json():
        header.append("import com.fasterxml.jackson.databind.JsonNode;")
    if schema.has_optional():
        header.append("import java.util.Optional;")
    return "\n".join(header) + "\n\n" + "\n\n".join(bodies) + "\n"


def _render_kotlin(schema: Schema, base: str) -> str:
    prim = {"string": "String", "int": "Long", "float": "Double",
            "bool": "Boolean", "json": "JsonNode"}
    any_rename = False

    def cls(name, node, name_of):
        nonlocal any_rename
        lines = [f"data class {name}("]
        entries = []
        for f in node.fields:
            kname = _ident(_camel(f.key), _KOTLIN_KEYWORDS)
            tname = (name_of[id(f.children)] if f.children is not None
                     else prim[f.type])
            if f.optional:
                tname += "?"
            prefix = ""
            if kname != f.key:
                any_rename = True
                prefix = f'    @JsonProperty("{f.key}")\n'
            entries.append(f"{prefix}    val {kname}: {tname}")
        lines.append(",\n".join(entries))
        lines.append(")")
        return "\n".join(lines)

    bodies = [cls(n, s, no) for n, s, no in _each_struct(schema, base)]
    header = []
    if any_rename:
        header.append("import com.fasterxml.jackson.annotation.JsonProperty")
    if schema.has_json():
        header.append("import com.fasterxml.jackson.databind.JsonNode")
    return "\n".join(header) + "\n\n" + "\n\n".join(bodies) + "\n"


_SWIFT_JSONVALUE = '''enum JSONValue: Codable {
    case string(String)
    case number(Double)
    case bool(Bool)
    case object([String: JSONValue])
    case array([JSONValue])
    case null

    init(from decoder: Decoder) throws {
        let container = try decoder.singleValueContainer()
        if container.decodeNil() {
            self = .null
        } else if let value = try? container.decode(Bool.self) {
            self = .bool(value)
        } else if let value = try? container.decode(Double.self) {
            self = .number(value)
        } else if let value = try? container.decode(String.self) {
            self = .string(value)
        } else if let value = try? container.decode([String: JSONValue].self) {
            self = .object(value)
        } else if let value = try? container.decode([JSONValue].self) {
            self = .array(value)
        } else {
            throw DecodingError.typeMismatch(JSONValue.self, DecodingError.Context(codingPath: decoder.codingPath, debugDescription: "Unsupported JSON value"))
        }
    }

    func encode(to encoder: Encoder) throws {
        var container = encoder.singleValueContainer()
        switch self {
        case .string(let value):
            try container.encode(value)
        case .number(let value):
            try container.encode(value)
        case .bool(let value):
            try container.encode(value)
        case .object(let value):
            try container.encode(value)
        case .array(let value):
            try container.encode(value)
        case .null:
            try container.encodeNil()
        }
    }
}'''


def _render_swift(schema: Schema, base: str) -> str:
    prim = {"string": "String", "int": "Int", "float": "Double",
            "bool": "Bool", "json": "JSONValue"}

    def struct(name, node, name_of):
        lines = [f"struct {name}: Codable {{"]
        renames = []
        for f in node.fields:
            sname = _ident(_camel(f.key), _SWIFT_KEYWORDS)
            tname = (name_of[id(f.children)] if f.children is not None
                     else prim[f.type])
            if f.optional:
                tname += "?"
            if sname != f.key:
                renames.append((sname, f.key))
            lines.append(f"    let {sname}: {tname}")
        if renames:
            lines.append("")
            lines.append("    enum CodingKeys: String, CodingKey {")
            for sname, key in renames:
                lines.append(f'        case {sname} = "{key}"')
            lines.append("    }")
        lines.append("}")
        return "\n".join(lines)

    bodies = [struct(n, s, no) for n, s, no in _each_struct(schema, base)]
    if schema.has_json():
        bodies.append(_SWIFT_JSONVALUE)
    return "\n\n".join(bodies) + "\n"
