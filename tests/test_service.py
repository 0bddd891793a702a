"""Endpoint-engine + MCP tests (``endpoint_engine.rs:3646-4520`` and
``rulemorph_mcp/tests/stdio.rs`` models): path matching, @input shape,
step pipelines, network calls with retry/select, catch routing, reply."""

from __future__ import annotations

import json
import os
import tempfile

import pytest

from rulemorph_spark.service.endpoint import EndpointEngine, EndpointError
from rulemorph_spark.service.mcp import McpServer
from rulemorph_spark.service.mcp_tools import run_analyze_input

ENDPOINT_YAML = """
version: 2
type: endpoint
endpoints:
  - method: GET
    path: /users/{id}
    input:
      - target: "user_id"
        source: "input.path.id"
        type: int
      - target: "verbose"
        expr: ["@input.query.verbose", {coalesce: ["lit:false"]}]
    steps:
      - rule: enrich.yaml
      - rule: fetch.yaml
        when: { eq: ["@input.verbose", "true"] }
    reply:
      status: 200
      body: "@input"
  - method: POST
    path: /echo
    steps: []
    reply:
      status: 201
      headers: { "x-engine": "rulemorph-spark" }
      body: "@input.body"
    catch:
      default: error_handler.yaml
"""

ENRICH_YAML = """
version: 2
input:
  format: json
  json: {}
mappings:
  - target: "user_id"
    source: "input.user_id"
  - target: "verbose"
    source: "input.verbose"
  - target: "label"
    expr: ["@input.user_id", "to_string", {concat: ["-label"]}]
"""

FETCH_YAML = """
version: 2
type: network
request:
  method: GET
  url:
    - "lit:http://upstream/users/"
    - concat: ["@input.user_id"]
timeout: 500ms
select: data.name
retry:
  max: 2
  backoff: fixed
  initial_delay: 1ms
"""

ERROR_HANDLER_YAML = """
version: 2
input:
  format: json
  json: {}
mappings:
  - target: "status"
    value: 400
  - target: "error_kind"
    source: "context.error.kind"
"""


@pytest.fixture(scope="module")
def engine_dir():
    with tempfile.TemporaryDirectory() as d:
        for name, text in [("endpoint.yaml", ENDPOINT_YAML),
                           ("enrich.yaml", ENRICH_YAML),
                           ("fetch.yaml", FETCH_YAML),
                           ("error_handler.yaml", ERROR_HANDLER_YAML)]:
            with open(os.path.join(d, name), "w") as fh:
                fh.write(text)
        yield d


def _fake_http_factory(log):
    def fake_http(method, url, headers, body, timeout_s):
        log.append((method, url, body))
        if url.endswith("/users/42"):
            return 200, {"data": {"name": "answer"}}
        return 404, None
    return fake_http


def test_endpoint_basic_pipeline(spark, engine_dir):
    log = []
    eng = EndpointEngine(spark, f"{engine_dir}/endpoint.yaml",
                         http_opener=_fake_http_factory(log))
    status, headers, body = eng.handle_request(
        "GET", "/users/7", query={}, headers={})
    assert status == 200
    # enrich ran; fetch skipped (verbose != "true"); reply body = @input
    assert body == {"user_id": 7, "verbose": "false", "label": "7-label"}
    assert log == []


def test_endpoint_network_step_with_select(spark, engine_dir):
    log = []
    eng = EndpointEngine(spark, f"{engine_dir}/endpoint.yaml",
                         http_opener=_fake_http_factory(log))
    status, _, body = eng.handle_request(
        "GET", "/users/42", query={"verbose": "true"}, headers={})
    assert status == 200
    assert body == "answer"  # select: data.name extracted the field
    assert log[0][1] == "http://upstream/users/42"



def test_select_path_error_is_invalid_but_other_errors_surface(
        spark, engine_dir, monkeypatch):
    """Only a path error (``RuleError``) is an invalid select path; a
    fault in the parser itself is not reported as one."""
    from rulemorph_spark.errors import RuleError
    from rulemorph_spark.service import endpoint

    def call():
        eng = EndpointEngine(spark, f"{engine_dir}/endpoint.yaml",
                             http_opener=_fake_http_factory([]))
        return eng.handle_request("GET", "/users/42",
                                  query={"verbose": "true"}, headers={})

    def bad_path(path):
        raise RuleError("invalid_path", "path segment is empty")

    monkeypatch.setattr(endpoint, "parse_path", bad_path)
    status, _, body = call()
    assert (status, body["kind"]) == (500, "Invalid")
    assert body["message"] == "invalid select path: data.name"

    def parser_bug(path):
        raise TypeError("parser bug (injected)")

    monkeypatch.setattr(endpoint, "parse_path", parser_bug)
    with pytest.raises(TypeError, match="parser bug"):
        call()

def test_endpoint_network_retry_and_catch(spark, engine_dir):
    calls = []

    def failing_http(method, url, headers, body, timeout_s):
        calls.append(url)
        return 503, None

    eng = EndpointEngine(spark, f"{engine_dir}/endpoint.yaml",
                         http_opener=failing_http)
    status, _, body = eng.handle_request(
        "GET", "/users/42", query={"verbose": "true"}, headers={})
    # retries max=2 → 3 attempts, then the un-caught error bubbles to 500
    assert len(calls) == 3
    assert status == 500
    assert body["kind"] == "HttpStatus"
    assert body["status"] == 503


def test_endpoint_post_echo_and_headers(spark, engine_dir):
    eng = EndpointEngine(spark, f"{engine_dir}/endpoint.yaml")
    status, headers, body = eng.handle_request(
        "POST", "/echo", headers={"Content-Type": "application/json"},
        body_text='{"hello": [1, 2]}')
    assert status == 201
    assert headers["x-engine"] == "rulemorph-spark"
    assert body == {"hello": [1, 2]}


def test_endpoint_catch_invalid_body(spark, engine_dir):
    eng = EndpointEngine(spark, f"{engine_dir}/endpoint.yaml")
    status, _, body = eng.handle_request(
        "POST", "/echo", body_text="{not json")
    # endpoint catch output becomes the pipeline value and feeds the
    # NORMAL reply (handle_input_error, endpoint_engine.rs:347-380):
    # status stays the endpoint's literal 201, body "@input.body" is
    # missing on the handler output → null
    assert status == 201
    assert body is None


def test_endpoint_duplicate_query_key(spark, engine_dir):
    eng = EndpointEngine(spark, f"{engine_dir}/endpoint.yaml")
    status, _, body = eng.handle_request(
        "GET", "/users/1", query=[("a", "1"), ("a", "2")])
    assert status == 500
    assert body["kind"] == "Invalid"


def test_endpoint_404(spark, engine_dir):
    eng = EndpointEngine(spark, f"{engine_dir}/endpoint.yaml")
    status, _, _ = eng.handle_request("GET", "/nope")
    assert status == 404


def test_mcp_protocol(spark):
    server = McpServer(spark)
    init = server.handle({"jsonrpc": "2.0", "id": 1,
                          "method": "initialize", "params": {}})
    assert init["result"]["serverInfo"]["name"] == "rulemorph-spark"
    assert "resources" in init["result"]["capabilities"]
    tools = server.handle({"jsonrpc": "2.0", "id": 2,
                           "method": "tools/list"})
    names = {t["name"] for t in tools["result"]["tools"]}
    assert names == {"transform", "validate_rules", "generate_dto",
                     "list_ops", "analyze_input",
                     "generate_rules_from_base",
                     "generate_rules_from_dto"}

    rules = ("version: 2\ninput:\n  format: json\n  json: {}\n"
             "mappings:\n  - target: up\n    expr: [\"@input.s\","
             " \"uppercase\"]\n")
    call = server.handle({
        "jsonrpc": "2.0", "id": 3, "method": "tools/call",
        "params": {"name": "transform",
                   "arguments": {"rules_text": rules,
                                 "input_text": '[{"s": "hi"}]'}}})
    out = json.loads(call["result"]["content"][0]["text"])
    assert out == [{"up": "HI"}]

    bad = server.handle({
        "jsonrpc": "2.0", "id": 4, "method": "tools/call",
        "params": {"name": "validate_rules",
                   "arguments": {"rules_text": rules.replace(
                       "uppercase", "nope_op")}}})
    assert bad["result"]["isError"] is True
    assert bad["result"]["content"][0]["text"] == "validation failed"
    errors = bad["result"]["meta"]["errors"]
    assert errors[0]["code"] == "UnknownOp"
    assert errors[0]["type"] == "validation"


def test_analyze_input():
    result = run_analyze_input(
        {"input_text": '[{"a": 1, "b": {"c": "x"}}, {"a": null}]'})["meta"]
    assert result["summary"]["records"] == 2
    paths = {f["path"]: f["types"] for f in result["paths"]}
    assert paths["a"] == {"number": 1, "null": 1}
    assert paths["b.c"] == {"string": 1}


@pytest.fixture
def broken_parse_path(monkeypatch):
    """``parse_path`` failing with an error that is not a path error."""
    from rulemorph_spark import paths

    def broken(*args, **kwargs):
        raise TypeError("parse_path bug (injected)")

    monkeypatch.setattr(paths, "parse_path", broken)


def test_records_path_surfaces_a_non_path_error(broken_parse_path):
    with pytest.raises(TypeError, match="injected"):
        run_analyze_input({"input_json": {"rows": [{"a": 1}]},
                           "records_path": "rows"})


def test_target_leaf_surfaces_a_non_path_error(broken_parse_path):
    from rulemorph_spark.service import mcp_tools
    with pytest.raises(TypeError, match="injected"):
        mcp_tools._leaf_from_path("a.b")


@pytest.mark.smoke
def test_http_server_round_trip(spark, engine_dir):
    """cli.make_http_server: real HTTP requests through the stdlib
    front end hit the same engine (serve command surface)."""
    import json as _json
    import threading
    import urllib.request

    from rulemorph_spark.cli import make_http_server

    eng = EndpointEngine(spark, f"{engine_dir}/endpoint.yaml")
    httpd = make_http_server(eng, port=0)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        with urllib.request.urlopen(
                f"http://127.0.0.1:{port}/users/7") as resp:
            assert resp.status == 200
            body = _json.loads(resp.read().decode())
        assert body == {"user_id": 7, "verbose": "false",
                        "label": "7-label"}

        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/echo",
            data=_json.dumps({"hello": "world"}).encode(),
            headers={"content-type": "application/json"}, method="POST")
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 201
            assert resp.headers["x-engine"] == "rulemorph-spark"
            assert _json.loads(resp.read().decode()) == {"hello": "world"}

        # unmatched path → engine's 404 JSON
        try:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/nope")
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        httpd.shutdown()
        httpd.server_close()


def test_mcp_prompts_surface():
    from rulemorph_spark.service.mcp import McpServer
    srv = McpServer()
    listed = srv.handle({"jsonrpc": "2.0", "id": 1,
                         "method": "prompts/list"})
    names = [p["name"] for p in listed["result"]["prompts"]]
    assert names == ["rule_from_input_base", "rule_from_dto",
                     "explain_errors"]
    got = srv.handle({"jsonrpc": "2.0", "id": 2, "method": "prompts/get",
                      "params": {"name": "explain_errors",
                                 "arguments": {"errors_json": "[E1]"}}})
    msg = got["result"]["messages"][0]
    assert msg["role"] == "user"
    assert "[E1]" in msg["content"]
    assert "{{rules_text}}" in msg["content"]  # missing args stay as-is
    bad = srv.handle({"jsonrpc": "2.0", "id": 3, "method": "prompts/get",
                      "params": {"name": "nope"}})
    assert bad["error"]["code"] == -32602


# ---------------------------------------------------------------------
# rules-dir validation (endpoint_engine.rs:151 validate_rules_dir model)
# ---------------------------------------------------------------------

def test_validate_rules_dir_ok(engine_dir):
    from rulemorph_spark.service.rules_dir import validate_rules_dir
    assert validate_rules_dir(engine_dir) == []


def test_validate_rules_dir_mixed_validity(tmp_path):
    """per-file aggregation over a dir with several broken rules: a
    missing step rule, an invalid transform rule, a network rule used
    as catch target, and a bad YAML file."""
    from rulemorph_spark.service.rules_dir import validate_rules_dir
    (tmp_path / "endpoint.yaml").write_text("""
version: 1
type: endpoint
endpoints:
  - method: GET
    path: /x
    steps:
      - rule: missing.yaml
      - rule: bad_rule.yaml
      - rule: broken.yaml
    catch:
      default: net.yaml
""")
    (tmp_path / "bad_rule.yaml").write_text("""
version: 2
input: {format: json}
mappings:
  - target: out
    expr: ["@input.x", {definitely_not_an_op: []}]
""")
    (tmp_path / "broken.yaml").write_text("a: [unclosed\n")
    (tmp_path / "net.yaml").write_text("""
version: 2
type: network
request: {method: GET, url: "lit:http://x"}
""")
    errors = validate_rules_dir(str(tmp_path))
    codes = {(e.code, os.path.basename(e.file)) for e in errors}
    assert ("InvalidVersion", "endpoint.yaml") in codes
    assert ("ReadFailed", "missing.yaml") in codes
    assert ("YamlParseFailed", "broken.yaml") in codes
    assert ("CatchRuleInvalid", "net.yaml") in codes
    assert any(c[1] == "bad_rule.yaml" for c in codes)  # unknown op


def test_validate_rules_dir_branch_reference_missing(tmp_path):
    """A transform rule reached through a step whose ``branch.then``
    targets a missing file reports ReadFailed — mirrors
    ``rulemorph_endpoint/tests/rules_dir_validation.rs``
    (validate_rules_dir_branch_reference_missing)."""
    from rulemorph_spark.service.rules_dir import validate_rules_dir
    (tmp_path / "endpoint.yaml").write_text("""
version: 2
type: endpoint
endpoints:
  - method: GET
    path: /api/test
    steps:
      - rule: ./hello.yaml
    reply:
      status: 200
""")
    (tmp_path / "hello.yaml").write_text("""
version: 2
input:
  format: json
  json: {}
steps:
  - branch:
      when: { eq: [1, 1] }
      then: ./missing.yaml
      return: true
""")
    errors = validate_rules_dir(str(tmp_path))
    assert any(e.code == "ReadFailed" and
               os.path.basename(e.file) == "missing.yaml" for e in errors)


def test_cli_validate_rules_dir(engine_dir, tmp_path):
    import subprocess, sys
    r = subprocess.run(
        [sys.executable, "-m", "rulemorph_spark.cli",
         "validate-rules-dir", engine_dir], capture_output=True,
        text=True, cwd="/root/repo")
    assert r.returncode == 0, r.stderr
    (tmp_path / "endpoint.yaml").write_text("version: 2\ntype: endpoint\n"
                                            "endpoints:\n  - method: GET\n"
                                            "    path: /x\n    steps:\n"
                                            "      - rule: nope.yaml\n")
    r = subprocess.run(
        [sys.executable, "-m", "rulemorph_spark.cli",
         "validate-rules-dir", str(tmp_path), "-e", "json"],
        capture_output=True, text=True, cwd="/root/repo")
    assert r.returncode == 2
    payload = json.loads(r.stderr.strip())
    assert any(e["code"] == "ReadFailed" for e in payload)


def test_ui_page_served():
    """the ui command's /ui page renders the endpoint table without
    touching the engine request path."""
    import threading
    import urllib.request
    from rulemorph_spark.cli import _ui_index_html, make_http_server

    class _E:
        class _Ep:
            method, path, steps = "GET", "/users/{id}", [1, 2]
        endpoints = [_Ep()]

        def handle_request(self, *a):  # pragma: no cover
            return 200, {}, {}

    eng = _E()
    httpd = make_http_server(eng, port=0, ui_html=_ui_index_html(eng))
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        port = httpd.server_address[1]
        html = urllib.request.urlopen(
            f"http://127.0.0.1:{port}/ui").read().decode()
        assert "/users/{id}" in html and "2 step(s)" in html
    finally:
        httpd.shutdown()


def test_ui_dir_serves_filesystem_spa(tmp_path):
    """``--ui-dir`` serves static SPA assets from the filesystem in
    place of the built-in page (reference ``UiSource::Filesystem``,
    server lib.rs:102-108); traversal outside the dir 404s."""
    import threading
    import urllib.error
    import urllib.request
    from rulemorph_spark.cli import make_http_server

    (tmp_path / "index.html").write_text("<html>CUSTOM-SPA</html>")
    (tmp_path / "assets").mkdir()
    (tmp_path / "assets" / "app.js").write_text("console.log(1)")

    class _E:
        endpoints = []

        def handle_request(self, *a):  # pragma: no cover
            return 200, {}, {}

    httpd = make_http_server(_E(), port=0, ui_dir=str(tmp_path))
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        port = httpd.server_address[1]
        base = f"http://127.0.0.1:{port}"
        html = urllib.request.urlopen(f"{base}/ui").read().decode()
        assert html == "<html>CUSTOM-SPA</html>"
        js = urllib.request.urlopen(
            f"{base}/ui/assets/app.js").read().decode()
        assert js == "console.log(1)"
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(f"{base}/ui/assets/../../etc/passwd")
        assert ei.value.code == 404
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(f"{base}/ui/missing.css")
        assert ei.value.code == 404
    finally:
        httpd.shutdown()


def test_ui_dir_not_found_errors():
    """A nonexistent --ui-dir fails fast like the reference's
    resolve_ui_source bail (server lib.rs:105-107)."""
    import subprocess
    import sys as _sys
    r = subprocess.run(
        [_sys.executable, "-m", "rulemorph_spark.cli", "ui",
         "--api-mode", "ui-only", "--data-dir", "/tmp",
         "--ui-dir", "/nonexistent/ui/dir"],
        capture_output=True, text=True, cwd="/root/repo")
    assert r.returncode == 1
    assert "ui directory not found" in r.stderr


def test_validate_rules_warning_with_yaml_location():
    """Predicate-literal lint surfaces through validate_rules with a
    nearest-ancestor YAML position (locator.location_for_nearest)."""
    from rulemorph_spark.service.mcp import McpServer
    server = McpServer()
    rules = (
        "version: 2\n"
        "input: {format: json, json: {}}\n"
        "mappings:\n"
        "  - target: a\n"
        "    expr: [\"@input.xs\", {filter: [{gte: [\"@item.q\", 5]}]}]\n")
    resp = server.handle({
        "jsonrpc": "2.0", "id": 9, "method": "tools/call",
        "params": {"name": "validate_rules",
                   "arguments": {"rules_text": rules}}})
    assert resp["result"]["content"][0]["text"] == "ok"
    (w,) = resp["result"]["meta"]["warnings"]
    assert w["code"] == "predicate_literal_condition_object"
    assert w["path"] == "mappings[0].expr[1].filter[0]"
    assert (w["line"], w["column"]) == (5, 5)  # the expr key's line


def test_step_context_carries_internal_base(spark, tmp_path):
    """Every step context includes @context.config.internal_base
    (EngineConfig surface, endpoint_engine.rs:45-55 + step_context
    :1148) — rules use it to build URLs against the local server."""
    (tmp_path / "endpoint.yaml").write_text("""
version: 2
type: endpoint
endpoints:
  - method: GET
    path: /base
    steps:
      - rule: base.yaml
    reply:
      status: 200
      body: "@input"
""")
    (tmp_path / "base.yaml").write_text("""
version: 2
input: {format: json, json: {}}
mappings:
  - target: base_url
    expr: ["@context.config.internal_base"]
""")
    eng = EndpointEngine(spark, f"{tmp_path}/endpoint.yaml",
                         internal_base="http://127.0.0.1:9999")
    status, _, body = eng.handle_request("GET", "/base")
    assert status == 200
    assert body == {"base_url": "http://127.0.0.1:9999"}
