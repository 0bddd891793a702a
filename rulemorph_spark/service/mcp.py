"""MCP stdio server exposing the engine's tools.

Mirrors ``crates/rulemorph_mcp/src/main.rs``: a blocking stdio JSON-RPC
loop (line- or Content-Length-framed, ``main.rs:67-128``) with the full
tool surface — ``transform``, ``validate_rules``, ``generate_dto``,
``list_ops``, ``analyze_input``, ``generate_rules_from_base``,
``generate_rules_from_dto`` (``main.rs:220-258``) — plus the
``resources/*`` docs surface (``main.rs:262-311``) and the
rule-generation prompts (``main.rs:313-419``).

Tool-call failures follow the reference's two-level model: invalid
parameters are JSON-RPC ``-32602`` errors; tool-level failures are
successful responses with ``isError: true`` and structured
``meta.errors``.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

from . import mcp_tools
from .mcp_tools import InvalidParams, ToolError

PROTOCOL_VERSION = "2024-11-05"
SERVER_NAME = "rulemorph-spark"
SERVER_VERSION = "0.1.0"

RESOURCE_URI_RULES_SPEC_EN = "rulemorph://docs/rules_spec_en"
RESOURCE_URI_RULES_SPEC_JA = "rulemorph://docs/rules_spec_ja"
RESOURCE_URI_README = "rulemorph://docs/readme"

_DOCS_DIR = Path(__file__).resolve().parents[1] / "docs"
_README_PATH = Path(__file__).resolve().parents[2] / "README.md"

_RESOURCE_FILES = {
    RESOURCE_URI_RULES_SPEC_EN: _DOCS_DIR / "rules_spec_en.md",
    RESOURCE_URI_RULES_SPEC_JA: _DOCS_DIR / "rules_spec_ja.md",
    RESOURCE_URI_README: _README_PATH,
}

RESOURCES = [
    {"uri": RESOURCE_URI_RULES_SPEC_EN, "name": "rules_spec_en",
     "description": "Rule specification (English).",
     "mimeType": "text/markdown"},
    {"uri": RESOURCE_URI_RULES_SPEC_JA, "name": "rules_spec_ja",
     "description": "ルール仕様 (日本語).",
     "mimeType": "text/markdown"},
    {"uri": RESOURCE_URI_README, "name": "readme",
     "description": "Project README.",
     "mimeType": "text/markdown"},
]


def read_resource(uri: str) -> str:
    path = _RESOURCE_FILES.get(uri)
    if path is None:
        raise KeyError(uri)
    return path.read_text(encoding="utf-8")


# ---------------------------------------------------------------------
# tool input schemas (main.rs:435-711)
# ---------------------------------------------------------------------

def _rules_props() -> dict:
    return {
        "rules_path": {
            "type": "string",
            "description": "Path to the YAML rules file. Mutually "
                           "exclusive with rules_text.",
            "examples": ["rules.yaml"],
        },
        "rules_text": {
            "type": "string",
            "description": "Inline YAML rules content. Mutually "
                           "exclusive with rules_path.",
            "examples": ["version: 1\ninput:\n  format: json\n  json: "
                         "{}\nmappings:\n  - target: \"id\"\n    "
                         "source: \"id\""],
        },
    }


def _input_props() -> dict:
    return {
        "input_path": {
            "type": "string",
            "description": "Path to the input CSV/JSON file. Mutually "
                           "exclusive with input_text and input_json.",
            "examples": ["input.json"],
        },
        "input_text": {
            "type": "string",
            "description": "Inline input text (CSV or JSON). Mutually "
                           "exclusive with input_path and input_json.",
            "examples": ["{\"items\":[{\"id\":1}]}"],
        },
        "input_json": {
            "type": ["object", "array"],
            "description": "Inline input JSON value. Mutually exclusive "
                           "with input_path and input_text.",
            "examples": [[{"id": 1}]],
        },
    }


_FORMAT_PROP = {
    "type": "string",
    "enum": ["csv", "json"],
    "description": "Override input format.",
    "examples": ["json"],
}

_RECORDS_PATH_PROP = {
    "type": "string",
    "description": "Optional records path for JSON inputs.",
    "examples": ["items"],
}

_MAX_CANDIDATES_PROP = {
    "type": "integer",
    "minimum": 1,
    "description": "Maximum number of candidates to return per target.",
    "examples": [3],
}

_DTO_LANG_ENUM = ["rust", "typescript", "python", "go", "java",
                  "kotlin", "swift"]


def _transform_schema() -> dict:
    props = {**_rules_props(), **_input_props()}
    props.update({
        "context_path": {
            "type": "string",
            "description": "Optional path to a JSON context file. "
                           "Mutually exclusive with context_json.",
            "examples": ["context.json"],
        },
        "context_json": {
            "type": "object",
            "description": "Optional inline JSON context value. "
                           "Mutually exclusive with context_path.",
            "examples": [{"tenant_id": "t-001"}],
        },
        "format": dict(_FORMAT_PROP,
                       description="Override input format from the "
                                   "rule file."),
        "ndjson": {
            "type": "boolean",
            "description": "Emit NDJSON output (one JSON object per "
                           "line).",
            "examples": [False],
        },
        "validate": {
            "type": "boolean",
            "description": "Validate the rule file before transforming.",
            "examples": [True],
        },
        "output_path": {
            "type": "string",
            "description": "Optional path to write the output.",
            "examples": ["out.json"],
        },
        "max_output_bytes": {
            "type": "integer",
            "minimum": 1,
            "description": "Maximum output size in bytes before "
                           "truncation.",
            "examples": [1000000],
        },
        "preview_rows": {
            "type": "integer",
            "minimum": 1,
            "description": "Maximum rows to return when ndjson=true.",
            "examples": [100],
        },
        "return_output_json": {
            "type": "boolean",
            "description": "Include parsed output JSON in meta.output "
                           "when ndjson=false and within size limits.",
            "examples": [False],
        },
    })
    return {"type": "object", "properties": props}


def _tools_list() -> list[dict]:
    return [
        {"name": "transform",
         "description": "Transform CSV/JSON input with a YAML rule "
                        "file.",
         "inputSchema": _transform_schema()},
        {"name": "validate_rules",
         "description": "Validate a YAML rule file.",
         "inputSchema": {"type": "object",
                         "properties": _rules_props()}},
        {"name": "generate_dto",
         "description": "Generate DTO definitions from a YAML rule "
                        "file.",
         "inputSchema": {
             "type": "object",
             "properties": {
                 **_rules_props(),
                 "language": {
                     "type": "string",
                     "enum": _DTO_LANG_ENUM,
                     "description": "DTO output language.",
                     "examples": ["typescript"],
                 },
                 "name": {
                     "type": "string",
                     "description": "Optional DTO root type name.",
                     "examples": ["Record"],
                 },
             },
             "required": ["language"]}},
        {"name": "list_ops",
         "description": "List supported expression ops, comparisons, "
                        "and type casts.",
         "inputSchema": {"type": "object", "properties": {}}},
        {"name": "analyze_input",
         "description": "Analyze input data and summarize field paths "
                        "and types.",
         "inputSchema": {
             "type": "object",
             "properties": {
                 **_input_props(),
                 "format": dict(_FORMAT_PROP,
                                description="Input format when "
                                            "input_text/input_path is "
                                            "used."),
                 "records_path": _RECORDS_PATH_PROP,
                 "max_paths": {
                     "type": "integer",
                     "minimum": 1,
                     "description": "Maximum number of unique paths to "
                                    "include in the response.",
                     "examples": [200],
                 },
             }}},
        {"name": "generate_rules_from_base",
         "description": "Generate rules by mapping input data to "
                        "existing rule targets.",
         "inputSchema": {
             "type": "object",
             "properties": {
                 **_rules_props(), **_input_props(),
                 "format": _FORMAT_PROP,
                 "records_path": _RECORDS_PATH_PROP,
                 "max_candidates": _MAX_CANDIDATES_PROP,
             }}},
        {"name": "generate_rules_from_dto",
         "description": "Generate rules by mapping input data to a DTO "
                        "schema.",
         "inputSchema": {
             "type": "object",
             "properties": {
                 "dto_text": {
                     "type": "string",
                     "description": "DTO source text.",
                     "examples": ["export interface Record { id: "
                                  "string; }"],
                 },
                 "dto_language": {
                     "type": "string",
                     "enum": _DTO_LANG_ENUM,
                     "description": "DTO language.",
                     "examples": ["typescript"],
                 },
                 **_input_props(),
                 "format": _FORMAT_PROP,
                 "records_path": _RECORDS_PATH_PROP,
                 "max_candidates": _MAX_CANDIDATES_PROP,
             },
             "required": ["dto_text", "dto_language"]}},
    ]


# ---------------------------------------------------------------------
# prompt surface (main.rs:313-419): templates re-expressed; the
# contract — names, argument lists, {{placeholder}} substitution, and
# what each prompt instructs — matches the reference
# ---------------------------------------------------------------------

PROMPTS = [
    {
        "name": "rule_from_input_base",
        "description": "Generate rules from base rules and input samples.",
        "arguments": [
            {"name": "rules_text", "description": "Base rules YAML.",
             "required": True},
            {"name": "input_sample", "description": "Input sample "
             "(JSON/CSV).", "required": True},
            {"name": "format", "description": "Input format (json or "
             "csv).", "required": False},
            {"name": "records_path", "description": "Records path for "
             "JSON input.", "required": False},
        ],
    },
    {
        "name": "rule_from_dto",
        "description": "Generate rules from DTO schema and input samples.",
        "arguments": [
            {"name": "dto_text", "description": "DTO source text.",
             "required": True},
            {"name": "dto_language", "description": "DTO language "
             "(rust/typescript).", "required": True},
            {"name": "input_sample", "description": "Input sample "
             "(JSON/CSV).", "required": True},
            {"name": "format", "description": "Input format (json or "
             "csv).", "required": False},
            {"name": "records_path", "description": "Records path for "
             "JSON input.", "required": False},
        ],
    },
    {
        "name": "explain_errors",
        "description": "Explain validation/transform errors and suggest "
                       "fixes.",
        "arguments": [
            {"name": "errors_json", "description": "Errors array from "
             "tool output.", "required": True},
            {"name": "rules_text", "description": "Optional rules YAML "
             "for context.", "required": False},
        ],
    },
]

_PROMPT_TEMPLATES = {
    "rule_from_input_base": """You are writing a rule file (YAML) for \
this engine.
The base rules fix the output shape — keep each mapping's \
expr/value/default/required unless it cannot be resolved.
Map sources from the input sample. Any target you cannot map gets \
value: null with required: false.
Respond with YAML only.

Base rules:
{{rules_text}}

Input sample:
{{input_sample}}

Optional format: {{format}}
Optional records_path: {{records_path}}
""",
    "rule_from_dto": """You are writing a rule file (YAML) whose output \
conforms to the DTO schema below.
Map sources from the input sample. Any target you cannot map gets \
value: null with required: false.
Respond with YAML only.

DTO:
{{dto_text}}

DTO language: {{dto_language}}

Input sample:
{{input_sample}}

Optional format: {{format}}
Optional records_path: {{records_path}}
""",
    "explain_errors": """Explain each of the following \
validation/transform errors and suggest a concrete fix.

Errors:
{{errors_json}}

Rules (optional):
{{rules_text}}
""",
}


def render_prompt(name: str, args: dict | None) -> dict:
    """prompts/get result: template with ``{{arg}}`` placeholders
    substituted (missing args left as-is, like the reference)."""
    template = _PROMPT_TEMPLATES.get(name)
    if template is None:
        raise KeyError("unknown prompt name")
    content = template
    for k, v in (args or {}).items():
        text = v if isinstance(v, str) else json.dumps(v)
        content = content.replace("{{%s}}" % k, text)
    meta = next(p for p in PROMPTS if p["name"] == name)
    return {
        "description": meta["description"],
        "messages": [{"role": "user", "content": content}],
    }


# ---------------------------------------------------------------------
# server
# ---------------------------------------------------------------------

def _tool_error_result(message: str, errors: list | None = None) -> dict:
    result = {"content": [{"type": "text", "text": message}],
              "isError": True}
    if errors is not None:
        result["meta"] = {"errors": errors}
    return result


class McpServer:
    def __init__(self, spark=None):
        self._spark = spark

    def _get_spark(self):
        if self._spark is None:
            from ..engine import get_spark
            self._spark = get_spark("rulemorph-mcp")
        return self._spark

    def call_tool(self, name: str, args: dict) -> dict:
        """Dispatch a tools/call; returns the tool result object."""
        if name == "transform":
            return mcp_tools.run_transform(self._get_spark(), args)
        if name == "validate_rules":
            return mcp_tools.run_validate_rules(args)
        if name == "generate_dto":
            return mcp_tools.run_generate_dto(args)
        if name == "list_ops":
            return mcp_tools.run_list_ops()
        if name == "analyze_input":
            return mcp_tools.run_analyze_input(args)
        if name == "generate_rules_from_base":
            return mcp_tools.run_generate_rules_from_base(args)
        if name == "generate_rules_from_dto":
            return mcp_tools.run_generate_rules_from_dto(args)
        return _tool_error_result(f"unknown tool: {name}")

    # -- method handlers -------------------------------------------

    def handle(self, request: dict) -> dict | None:
        rid = request.get("id")
        method = request.get("method")
        if not isinstance(method, str):
            if rid is None:
                return None
            return _err(rid, -32600, "Invalid Request")

        if method in ("initialized", "notifications/initialized"):
            return None
        if method == "initialize":
            return _ok(rid, {
                "protocolVersion": PROTOCOL_VERSION,
                "capabilities": {
                    "tools": {"listChanged": False},
                    "resources": {"listChanged": False},
                    "prompts": {"listChanged": False},
                },
                "serverInfo": {"name": SERVER_NAME,
                               "version": SERVER_VERSION},
            })
        if method == "tools/list":
            return _ok(rid, {"tools": _tools_list()})
        if method == "tools/call":
            return self._handle_tools_call(rid,
                                           request.get("params"))
        if method == "resources/list":
            return _ok(rid, {"resources": RESOURCES})
        if method == "resources/read":
            return self._handle_resources_read(rid,
                                               request.get("params"))
        if method == "prompts/list":
            return _ok(rid, {"prompts": PROMPTS})
        if method == "prompts/get":
            return self._handle_prompts_get(rid, request.get("params"))
        if method == "ping":
            return _ok(rid, {})
        if method == "shutdown":
            return _ok(rid, None)
        return _err(rid, -32601, "Method not found")

    def _handle_tools_call(self, rid, params) -> dict:
        try:
            if not isinstance(params, dict):
                raise InvalidParams("params must be an object")
            name = params.get("name")
            if not isinstance(name, str):
                raise InvalidParams("params.name is required")
            args = params.get("arguments")
            if not isinstance(args, dict):
                raise InvalidParams("params.arguments must be an object")
            result = self.call_tool(name, args)
        except InvalidParams as e:
            return _err(rid, -32602, str(e))
        except ToolError as e:
            return _ok(rid, _tool_error_result(e.message, e.errors))
        except Exception as e:  # unexpected engine failure
            return _ok(rid, _tool_error_result(str(e)))
        return _ok(rid, result)

    def _handle_resources_read(self, rid, params) -> dict:
        if not isinstance(params, dict):
            return _err(rid, -32602, "params must be an object")
        uri = params.get("uri")
        if not isinstance(uri, str):
            return _err(rid, -32602, "params.uri is required")
        try:
            text = read_resource(uri)
        except KeyError:
            return _err(rid, -32602, "unknown resource uri")
        return _ok(rid, {"contents": [{"uri": uri,
                                       "mimeType": "text/markdown",
                                       "text": text}]})

    def _handle_prompts_get(self, rid, params) -> dict:
        if not isinstance(params, dict):
            return _err(rid, -32602, "params must be an object")
        name = params.get("name")
        if not isinstance(name, str):
            return _err(rid, -32602, "params.name is required")
        args = params.get("arguments")
        try:
            result = render_prompt(name,
                                   args if isinstance(args, dict)
                                   else None)
        except KeyError:
            return _err(rid, -32602, "unknown prompt name")
        return _ok(rid, result)

    # -- stdio loop with dual framing (main.rs:37-128) ---------------

    def serve_stdio(self, stdin=None, stdout=None):
        stdin = stdin or sys.stdin
        stdout = stdout or sys.stdout
        mode = "line"
        while True:
            message, mode = _read_message(stdin, mode)
            if message is None:
                break
            try:
                request = json.loads(message)
            except json.JSONDecodeError as e:
                print(f"invalid json: {e}", file=sys.stderr)
                continue
            response = self.handle(request)
            if response is not None:
                _write_message(stdout, mode, response)


def _ok(rid, result) -> dict:
    return {"jsonrpc": "2.0", "id": rid, "result": result}


def _err(rid, code: int, message: str) -> dict:
    return {"jsonrpc": "2.0", "id": rid,
            "error": {"code": code, "message": message}}


def _read_message(stdin, mode: str) -> tuple[str | None, str]:
    """Read one message: either a bare JSON line or an LSP-style
    ``Content-Length: N`` framed body.  Returns (message, mode)."""
    while True:
        line = stdin.readline()
        if not line:
            return None, mode
        if line.startswith("Content-Length:"):
            try:
                length = int(line.split(":", 1)[1].strip())
            except ValueError:
                continue
            while True:  # consume remaining headers
                header = stdin.readline()
                if not header or header in ("\r\n", "\n"):
                    break
            body = stdin.read(length)
            return body, "content-length"
        stripped = line.rstrip("\r\n")
        if not stripped:
            continue
        return stripped, "line"


def _write_message(stdout, mode: str, message: dict) -> None:
    text = json.dumps(message)
    if mode == "content-length":
        stdout.write(f"Content-Length: {len(text.encode('utf-8'))}"
                     f"\r\n\r\n{text}")
    else:
        stdout.write(text + "\n")
    stdout.flush()


def main():
    McpServer().serve_stdio()


if __name__ == "__main__":
    main()
