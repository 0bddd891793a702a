"""CLI: ``validate / preflight / transform / generate``.

Mirrors the reference CLI surface and exit-code convention
(``crates/rulemorph_cli/src/main.rs:152-310``): 0 = ok, 1 = I/O error,
2 = validation errors, 3 = transform errors.  ``transform --ndjson``
streams one JSON object per line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _load_text(path: str) -> str:
    with open(path, encoding="utf-8") as fh:
        return fh.read()


def _emit_validation_errors(errors, error_format: str):
    """``emit_validation_errors`` (rulemorph_cli/src/main.rs:538-604):
    json = one stderr array of ``{"type": "validation", "code", ...}``
    (path/line/column only when present); text = ``E <Code> path=..
    line=N col=N msg=".."`` per error.  Duck-typed over
    ValidationError and RuleError (no line/column)."""
    if error_format == "json":
        payload = []
        for e in errors:
            obj = {"type": "validation", "code": e.code,
                   "message": e.message}
            if e.path is not None:
                obj["path"] = e.path
            if getattr(e, "line", None) is not None:
                obj["line"], obj["column"] = e.line, e.column
            payload.append(obj)
        print(json.dumps(payload), file=sys.stderr)
    else:
        for e in errors:
            parts = [f"E {e.code}"]
            if e.path is not None:
                parts.append(f"path={e.path}")
            if getattr(e, "line", None) is not None:
                parts.append(f"line={e.line}")
                parts.append(f"col={e.column}")
            parts.append(f'msg="{e.message}"')
            print(" ".join(parts), file=sys.stderr)


def _emit_transform_error(err, error_format: str):
    """``emit_transform_error`` (main.rs:624-650): json = one stderr
    ARRAY holding a single ``{"type": "transform", "kind", "message",
    "path"?}``; text = ``E <Kind> path=.. msg=".."``."""
    from .errors import normalize_kind
    kind = normalize_kind(getattr(err, "kind", None)
                          or getattr(err, "code", "ExprError"))
    path = getattr(err, "path", None)
    if error_format == "json":
        value = {"type": "transform", "kind": kind,
                 "message": err.message}
        if path is not None:
            value["path"] = path
        print(json.dumps([value]), file=sys.stderr)
    else:
        parts = [f"E {kind}"]
        if path is not None:
            parts.append(f"path={path}")
        parts.append(f'msg="{err.message}"')
        print(" ".join(parts), file=sys.stderr)


def cmd_validate(args) -> int:
    from .model import parse_rule_file
    from .validator import validate_rule_source
    from .errors import RuleError
    try:
        rule_text = _load_text(args.rules)
        rule = parse_rule_file(rule_text)
    except OSError as e:
        print(f"failed to read rules: {e}", file=sys.stderr)
        return 1
    except RuleError as e:
        print(f"failed to parse rules: {e}", file=sys.stderr)
        return 2
    errors = validate_rule_source(rule, rule_text)
    if errors:
        _emit_validation_errors(errors, args.error_format)
        return 2
    return 0


def _run_transform(args, *, discard: bool) -> int:
    from .engine import get_spark, transform
    from .errors import RuleError, TransformEngineError
    try:
        rule_text = _load_text(args.rules)
        # readability check only — the engine reads the file itself so
        # NDJSON inputs can take the distributed scan instead of a
        # driver-side slurp.  Schemed URIs (hdfs://, s3a://, file://)
        # are resolved by Spark's Hadoop readers, not the local OS, so
        # only bare local paths get the fast-fail open() probe.
        if "://" not in args.input:
            with open(args.input, encoding="utf-8"):
                pass
        input_text = None
        context = (json.loads(_load_text(args.context))
                   if args.context else None)
    except OSError as e:
        print(f"failed to read input: {e}", file=sys.stderr)
        return 1

    if getattr(args, "validate", False):
        from .model import parse_rule_file
        from .validator import validate_rule
        errors = validate_rule(parse_rule_file(rule_text))
        if errors:
            _emit_validation_errors(errors, args.error_format)
            return 2

    from .engine import transform_with_warnings
    base_dir = os.path.dirname(os.path.abspath(args.rules))
    spark = get_spark("rulemorph-cli")
    try:
        output, warnings = transform_with_warnings(
            spark, rule_text, input_text=input_text,
            input_path=args.input, context=context, base_dir=base_dir,
            format_override=getattr(args, "format", None))
    except TransformEngineError as e:
        _emit_transform_error(e, args.error_format)
        return 3
    except RuleError as e:
        # compile/parse failures during transform surface as TRANSFORM
        # errors, exit 3 (the reference's v2 parse errors become
        # TransformError ExprError; exit 2 is reserved for -v)
        _emit_transform_error(e, args.error_format)
        return 3
    _emit_transform_warnings(warnings, args.error_format)

    if discard:
        return 0

    if getattr(args, "ndjson", False):
        if not isinstance(output, list):
            print("ndjson output requires an array result", file=sys.stderr)
            return 1
        lines = "\n".join(json.dumps(r, separators=(",", ":"),
                                     sort_keys=True)
                          for r in output)
        text = lines + ("\n" if lines else "")
    else:
        text = json.dumps(output, separators=(",", ":"),
                          sort_keys=True) + "\n"

    if args.output:
        parent = os.path.dirname(args.output)
        if parent:
            os.makedirs(parent, exist_ok=True)
        with open(args.output, "w", encoding="utf-8") as fh:
            fh.write(text)
    else:
        sys.stdout.write(text)
    return 0


def _emit_transform_warnings(warnings, error_format: str) -> None:
    """``emit_transform_warnings`` (rulemorph_cli/src/main.rs:652-678):
    text = one ``W <Kind> path=<p> msg="<m>"`` line per warning; json =
    ONE stderr line holding the array of ``{"type": "warning", ...}``
    objects.  This engine aggregates identical warnings across records,
    so each object also carries a ``records`` count."""
    if not warnings:
        return
    if error_format == "json":
        values = []
        for w in warnings:
            v = {"type": "warning", "kind": w["kind"],
                 "message": w["message"]}
            if w.get("path") is not None:
                v["path"] = w["path"]
            v["records"] = w.get("records", 1)
            values.append(v)
        print(json.dumps(values), file=sys.stderr)
        return
    for w in warnings:
        parts = [f"W {w['kind']}"]
        if w.get("path") is not None:
            parts.append(f"path={w['path']}")
        parts.append(f'msg="{w["message"]}"')
        if w.get("records", 1) > 1:
            parts.append(f"records={w['records']}")
        print(" ".join(parts), file=sys.stderr)


def cmd_preflight(args) -> int:
    """Run the whole transform on real input, discard the output, surface
    the first error (``transform.rs:310-361``)."""
    return _run_transform(args, discard=True)


def cmd_transform(args) -> int:
    return _run_transform(args, discard=False)


def cmd_generate(args) -> int:
    from .dto import generate_dto
    from .errors import RuleError
    from .model import parse_rule_file
    try:
        rule = parse_rule_file(_load_text(args.rules))
        text = generate_dto(rule, args.lang, args.name)
    except OSError as e:
        print(f"failed to read rules: {e}", file=sys.stderr)
        return 1
    except RuleError as e:
        print(f"dto error: {e}", file=sys.stderr)
        return 2
    if args.output:
        with open(args.output, "w", encoding="utf-8") as fh:
            fh.write(text)
    else:
        sys.stdout.write(text)
    return 0


def make_http_server(engine, host: str = "127.0.0.1", port: int = 0,
                     ui_html: str | None = None,
                     ui_dir: str | None = None):
    """stdlib HTTP front end over ``EndpointEngine`` — the reference's
    axum server surface (``rulemorph_server``); with ``ui_html`` the
    ``/ui`` path serves the browser page (``ui`` command) and the
    ``/ui/api/*`` routes expose traces, the API dependency graph, and
    a long-poll trace version (the reference's trace watcher push,
    ``trace_watch.rs:9`` — here a :class:`TraceWatcher` poll thread).
    Returns an unstarted :class:`~.service.httpd.WorkerHTTPServer`
    (call serve_forever), which serves each connection on a reused
    worker thread: unbounded, and retired after 60 s idle;
    ``server.trace_watcher`` is the running watcher (None without a
    trace dir), stopped by ``server_close``."""
    from http.server import BaseHTTPRequestHandler
    from urllib.parse import parse_qsl, urlsplit

    from .service.httpd import WorkerHTTPServer

    watcher = None
    if getattr(engine, "trace_store", None) is not None:
        from .service.trace import TraceWatcher
        watcher = TraceWatcher(engine.trace_store.data_dir).start()

    class Handler(BaseHTTPRequestHandler):
        def _send_json(self, payload) -> None:
            data = json.dumps(payload).encode("utf-8")
            self.send_response(200)
            self.send_header("content-type", "application/json")
            self.send_header("content-length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def _ui_api(self, path: str, query) -> bool:
            if path == "/ui/api/traces":
                if engine.trace_store is None:
                    self._send_json({"traces": []})
                elif dict(query).get("summary"):
                    self._send_json(
                        {"traces": engine.trace_store.summaries()})
                else:
                    self._send_json({"traces": engine.trace_store.list()})
                return True
            if path == "/ui/api/trace":
                tid = dict(query).get("id", "")
                doc = (engine.trace_store.get(tid)
                       if engine.trace_store is not None else None)
                if doc is None:
                    self._send_json({"error": "not found"})
                else:
                    self._send_json(doc)
                return True
            if path == "/ui/api/trace-graph":
                from .service.trace import build_trace_graph, layout_layers
                tid = dict(query).get("id", "")
                doc = (engine.trace_store.get(tid)
                       if engine.trace_store is not None else None)
                if doc is None:
                    self._send_json({"error": "not found"})
                else:
                    self._send_json(layout_layers(build_trace_graph(doc)))
                return True
            if path == "/ui/api/graph":
                from .service.trace import build_api_graph, layout_layers
                if engine.endpoint_file is None:  # ui-only mode
                    self._send_json({"nodes": [], "edges": [],
                                     "layers": []})
                else:
                    self._send_json(
                        layout_layers(
                            build_api_graph(engine.endpoint_file)))
                return True
            if path == "/ui/api/trace-version":
                since = int(dict(query).get("since", -1))
                if watcher is None:
                    self._send_json({"version": 0})
                elif since < 0:
                    self._send_json({"version": watcher.version})
                else:  # long-poll: return when a newer trace lands
                    self._send_json(
                        {"version": watcher.wait_newer(since,
                                                       timeout=20.0)})
                return True
            return False

        def _send_error(self, status: int, message: str) -> None:
            # reference ApiError shape (server.rs:241-246)
            data = json.dumps({"error": message}).encode("utf-8")
            self.send_response(status)
            self.send_header("content-type", "application/json")
            self.send_header("content-length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def _internal_api(self, method: str, path: str,
                          body: str | None) -> bool:
            """The reference server's ``/internal/*`` routes
            (server.rs:59-64): traces list/read, bundle import, the
            data-dir API graph, and the SSE trace stream."""
            from .service import server as srv
            store = getattr(engine, "trace_store", None)
            if store is None:
                self._send_error(500, "trace store not configured")
                return True
            data_dir = store.data_dir
            if method == "GET" and path == "/internal/traces":
                self._send_json(
                    {"traces": srv.trace_meta_list(data_dir)})
                return True
            if method == "GET" and path.startswith("/internal/traces/"):
                tid = path[len("/internal/traces/"):]
                doc = srv.get_trace(data_dir, tid)
                if doc is None:
                    self._send_error(404, "trace not found")
                else:
                    self._send_json({"trace": doc})
                return True
            if method == "POST" and path == "/internal/import":
                try:
                    payload = json.loads(body or "")
                    bundle = payload["bundle_path"]
                except (ValueError, KeyError, TypeError):
                    self._send_error(400, "bundle_path is required")
                    return True
                try:
                    self._send_json(
                        srv.import_bundle(data_dir, bundle))
                except OSError as e:
                    self._send_error(500, str(e))
                return True
            if method == "GET" and path == "/internal/api-graph":
                self._send_json(srv.build_api_graph_dir(data_dir))
                return True
            if method == "GET" and path == "/internal/stream":
                self._sse_stream()
                return True
            return False

        def _sse_stream(self) -> None:
            """``/internal/stream`` (server.rs:200-210): an SSE feed
            emitting ``event: traces`` whenever a trace lands, with
            15 s keep-alives; backed by the TraceWatcher poll."""
            self.send_response(200)
            self.send_header("content-type", "text/event-stream")
            self.send_header("cache-control", "no-cache")
            self.end_headers()
            version = watcher.version if watcher is not None else 0
            try:
                while True:
                    if watcher is None:
                        self.wfile.write(b": keep-alive\n\n")
                        self.wfile.flush()
                        import time as _t
                        _t.sleep(15.0)
                        continue
                    newer = watcher.wait_newer(version, timeout=15.0)
                    if newer > version:
                        version = newer
                        self.wfile.write(
                            b"event: traces\ndata: updated\n\n")
                    else:
                        self.wfile.write(b": keep-alive\n\n")
                    self.wfile.flush()
            except (BrokenPipeError, ConnectionResetError):
                return

        def _serve_ui_file(self, rel: str) -> None:
            """Static SPA asset from ``ui_dir`` — the reference's
            ``UiSource::Filesystem`` (server lib.rs:102-108, the
            ``--ui-dir`` flag)."""
            import mimetypes
            target = os.path.normpath(os.path.join(ui_dir,
                                                   rel or "index.html"))
            if not target.startswith(os.path.normpath(ui_dir) + os.sep) \
                    and target != os.path.normpath(ui_dir):
                self._send_error(404, "not found")
                return
            if os.path.isdir(target):
                target = os.path.join(target, "index.html")
            if not os.path.isfile(target):
                self._send_error(404, "not found")
                return
            ctype = (mimetypes.guess_type(target)[0]
                     or "application/octet-stream")
            with open(target, "rb") as fh:
                data = fh.read()
            self.send_response(200)
            self.send_header("content-type", ctype)
            self.send_header("content-length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def _run(self, method: str):
            parts = urlsplit(self.path)
            if ui_dir is not None and method == "GET":
                p = parts.path.rstrip("/")
                if p in ("", "/ui"):
                    self._serve_ui_file("index.html")
                    return
                if parts.path.startswith("/ui/") \
                        and not parts.path.startswith("/ui/api/"):
                    self._serve_ui_file(parts.path[len("/ui/"):])
                    return
            if ui_html is not None and method == "GET" \
                    and parts.path.rstrip("/") in ("", "/ui"):
                data = ui_html.encode("utf-8")
                self.send_response(200)
                self.send_header("content-type", "text/html; charset=utf-8")
                self.send_header("content-length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)
                return
            if method == "GET" and parts.path.startswith("/ui/api/"):
                if self._ui_api(parts.path,
                                parse_qsl(parts.query,
                                          keep_blank_values=True)):
                    return
            query = parse_qsl(parts.query, keep_blank_values=True)
            raw_length = (self.headers.get("content-length")
                          or "0").strip()
            # -1 would read until the client hangs up; text would raise
            if not (raw_length.isascii() and raw_length.isdigit()):
                self._send_error(400, "invalid content-length")
                return
            length = int(raw_length)
            body = (self.rfile.read(length).decode("utf-8")
                    if length else None)
            if parts.path.startswith("/internal/"):
                if self._internal_api(method, parts.path, body):
                    return
            headers = dict(self.headers.items())
            # the reference server nests the rules API under /api/*
            # (server.rs:53); bare paths stay routable for direct use
            engine_path = parts.path
            if engine_path == "/api" or engine_path.startswith("/api/"):
                engine_path = engine_path[len("/api"):] or "/"
            status, hdrs, payload = engine.handle_request(
                method, engine_path, query, headers, body)
            from rulemorph_spark.service.endpoint import NO_BODY
            no_body = payload is NO_BODY
            data = b"" if no_body else json.dumps(payload).encode("utf-8")
            self.send_response(int(status))
            sent = set()
            for k, v in (hdrs or {}).items():
                self.send_header(k, v)
                sent.add(k.lower())
            # a bodyless reply carries no content-type
            # (reply_body_omitted_returns_empty_body)
            if "content-type" not in sent and not no_body:
                self.send_header("content-type", "application/json")
            self.send_header("content-length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def do_GET(self):
            self._run("GET")

        def do_POST(self):
            self._run("POST")

        def do_PUT(self):
            self._run("PUT")

        def do_PATCH(self):
            self._run("PATCH")

        def do_DELETE(self):
            self._run("DELETE")

        def log_message(self, *args):  # quiet; engine traces instead
            pass

    httpd = WorkerHTTPServer((host, port), Handler)
    httpd.trace_watcher = watcher
    return httpd


def cmd_validate_rules_dir(args) -> int:
    """Validate endpoint.yaml + every referenced rule in a rules dir
    with per-file error aggregation (reference:
    ``rulemorph_cli/src/main.rs:157`` → ``validate_rules_dir``,
    ``endpoint_engine.rs:151``)."""
    from .service.rules_dir import validate_rules_dir
    rules_dir = args.rules_dir or getattr(args, "rules_dir_flag", None)
    if not rules_dir:
        print("a rules directory is required (-r DIR)", file=sys.stderr)
        return 1
    errors = validate_rules_dir(rules_dir)
    if not errors:
        return 0
    if args.error_format == "json":
        print(json.dumps([e.to_json() for e in errors]), file=sys.stderr)
    else:
        for e in errors:
            print(e.render_text(), file=sys.stderr)
    return 2


class _TraceOnlyEngine:
    """``--api-mode ui-only`` (reference ``UiApiMode::UiOnly``,
    ``rulemorph_cli/src/main.rs:146-151``): browse a data dir of
    traces in the UI without loading a rules engine — no Spark
    session, endpoint requests 404, the API graph is empty."""

    def __init__(self, data_dir: str):
        from .service.trace import TraceStore
        self.trace_store = TraceStore(data_dir)
        self.endpoint_file = None
        self.endpoints = []

    def handle_request(self, *args, **kwargs):
        # ui-only mode mounts NO api router in the reference
        # (server.rs:52 Router::new()) — non-UI paths 404.  The
        # "api engine not configured" ApiError (server.rs:134) only
        # exists for a rules-mode server whose engine failed to build,
        # a state this server cannot reach (cmd_ui builds the engine
        # up front and exits on failure).
        return 404, {}, {"kind": "NotFound",
                         "message": "no endpoint engine in ui-only mode"}


def cmd_ui(args) -> int:
    """Serve the endpoint engine plus a minimal browser UI (reference:
    ``rulemorph_cli/src/main.rs:162`` → ``run_ui``; the reference ships
    a bundled SPA — here the UI is a single status/explorer page over
    the same engine API).  ``--api-mode ui-only`` serves the trace
    views from ``--data-dir`` without an engine; ``--no-ui`` serves
    the engine API without the page."""
    from .engine import get_spark
    from .errors import RuleError
    from .service.endpoint import EndpointEngine

    ui_dir = getattr(args, "ui_dir", None)
    if ui_dir is not None and not os.path.isdir(ui_dir):
        # reference: resolve_ui_source bails (server lib.rs:105-107)
        print(f"ui directory not found: {ui_dir}", file=sys.stderr)
        return 1

    if args.api_mode in ("ui-only", "ui_only", "native"):
        data_dir = args.data_dir or args.trace_dir
        if not data_dir:
            print("--data-dir is required with --api-mode ui-only",
                  file=sys.stderr)
            return 2
        engine = _TraceOnlyEngine(data_dir)
        ui_html = (None if args.no_ui or ui_dir
                   else _ui_index_html(engine))
        httpd = make_http_server(engine, args.host, args.port,
                                 ui_html=ui_html,
                                 ui_dir=None if args.no_ui else ui_dir)
        print(f"ui on http://{args.host}:{httpd.server_address[1]}/ui",
              file=sys.stderr)
        try:
            httpd.serve_forever()
        except KeyboardInterrupt:
            pass
        return 0

    if not args.rules_dir:
        print("-d/--rules-dir is required unless --api-mode ui-only",
              file=sys.stderr)
        return 2
    endpoint_file = os.path.join(args.rules_dir, "endpoint.yaml")
    from .service.rules_dir import validate_rules_dir
    errors = validate_rules_dir(args.rules_dir)
    if errors:
        for e in errors:
            print(e.render_text(), file=sys.stderr)
        return 2
    try:
        spark = get_spark("rulemorph-ui")
        engine = EndpointEngine(
            spark, endpoint_file, trace_dir=args.trace_dir,
            internal_base=f"http://{args.host}:{args.port}")
    except OSError as e:
        print(f"failed to load endpoint rules: {e}", file=sys.stderr)
        return 1
    except RuleError as e:
        _emit_validation_errors([e], "text")
        return 2
    ui_html = None if args.no_ui or ui_dir else _ui_index_html(engine)
    httpd = make_http_server(engine, args.host, args.port,
                             ui_html=ui_html,
                             ui_dir=None if args.no_ui else ui_dir)
    print(f"ui on http://{args.host}:{httpd.server_address[1]}/ui",
          file=sys.stderr)
    try:
        httpd.serve_forever()
    except KeyboardInterrupt:
        pass
    return 0


def _ui_index_html(engine) -> str:
    """The browser SPA (two views: API-graph overview + live trace
    detail — ``service/ui.py``, porting the reference UI's
    ``App.tsx``/``view_mode.ts`` behaviors; traces stay live via the
    ``trace_watch.rs``-mirror long-poll)."""
    from .service.ui import ui_index_html
    return ui_index_html(engine)


def cmd_serve(args) -> int:
    from .engine import get_spark
    from .service.endpoint import EndpointEngine
    from .errors import RuleError
    try:
        spark = get_spark("rulemorph-serve")
        engine = EndpointEngine(
            spark, args.endpoint, trace_dir=args.trace_dir,
            internal_base=f"http://{args.host}:{args.port}")
    except OSError as e:
        print(f"failed to load endpoint rules: {e}", file=sys.stderr)
        return 1
    except RuleError as e:
        _emit_validation_errors([e], "text")
        return 2
    httpd = make_http_server(engine, args.host, args.port)
    print(f"serving on http://{args.host}:{httpd.server_address[1]}",
          file=sys.stderr)
    try:
        httpd.serve_forever()
    except KeyboardInterrupt:
        pass
    return 0


def cmd_pipeline(args) -> int:
    """Run a declarative corpus pipeline (llm/pipeline.py) over a
    parquet or NDJSON input and write parquet.  Extension surface (no
    reference counterpart): the batch entry point for the
    training-data operators."""
    from .engine import get_spark
    from .llm.pipeline import PipelineSpecError, compile_pipeline
    try:
        spec = _load_text(args.spec)
    except OSError as e:
        print(f"failed to read spec: {e}", file=sys.stderr)
        return 1
    try:
        run = compile_pipeline(spec)
    except PipelineSpecError as e:
        print(f"error[InvalidPipeline]: {e}", file=sys.stderr)
        return 2
    spark = get_spark("rulemorph-pipeline")
    try:
        if args.input.endswith((".json", ".jsonl", ".ndjson")):
            if not args.input_schema:
                print("NDJSON input requires --input-schema "
                      "(e.g. 'doc_id long, text string')",
                      file=sys.stderr)
                return 2
            from .sources import read_ndjson_quarantine
            df, quarantine = read_ndjson_quarantine(
                spark, args.input, args.input_schema)
            if args.quarantine:
                quarantine.write.mode("overwrite") \
                    .parquet(args.quarantine)
        else:
            df = spark.read.parquet(args.input)
    except Exception as e:  # noqa: BLE001 - I/O boundary
        print(f"failed to read input: {e}", file=sys.stderr)
        return 1
    out = run(df)
    out.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(json.dumps({"rows_out": n, "output": args.output}))
    return 0


def cmd_ingest(args) -> int:
    """One-command continuous corpus ingestion (extension surface):
    NDJSON arrivals → optional declarative cleaning spec → exact dedup
    vs the persistent fingerprint store → exactly-once versioned
    commits into a CorpusStore.  Runs with the availableNow trigger —
    process everything currently in the input dir, commit, exit — so
    each CLI invocation is one idempotent catch-up; re-running admits
    nothing new."""
    from .engine import get_spark
    from .sources.versioned import CorpusStore
    from .streaming.corpus import ingest_corpus_stream_versioned
    spec = None
    if args.spec:
        try:
            spec = _load_text(args.spec)
        except OSError as e:
            print(f"failed to read spec: {e}", file=sys.stderr)
            return 1
    spark = get_spark("rulemorph-ingest")
    stream = (spark.readStream.schema(args.input_schema)
              .json(args.input))
    q = ingest_corpus_stream_versioned(
        stream, corpus_root=args.corpus, fp_store_path=args.fp_store,
        checkpoint_path=args.checkpoint, id_col=args.id_col, spec=spec,
        available_now=True)
    q.awaitTermination()
    store = CorpusStore(spark, args.corpus)
    v = store.latest_version()
    n = store.read().count() if v is not None else 0
    print(json.dumps({"version": v, "corpus_rows": n}))
    return 0


def cmd_search(args) -> int:
    """BM25 top-k over a parquet corpus (llm/retrieval.py), NDJSON
    results on stdout.  `--index` searches a materialized
    `bm25_write_index` layout (vocabulary-pruned scan); `--build-index`
    materializes one."""
    from .engine import get_spark
    from .llm.retrieval import (bm25_search, bm25_topk_indexed,
                                bm25_write_index)
    spark = get_spark("rulemorph-search")
    if args.build_index:
        if not args.input:
            print("--build-index needs -i/--input", file=sys.stderr)
            return 2
        corpus = spark.read.parquet(args.input)
        bm25_write_index(corpus, args.index, args.text_col,
                         args.id_col)
        print(json.dumps({"index": args.index, "built": True}))
        return 0
    if not args.query:
        print("search needs -q/--query (or --build-index)",
              file=sys.stderr)
        return 2
    import pyarrow as pa
    # an Arrow table plans as a JVM-side scan: no Python workers
    qdf = spark.createDataFrame(pa.table({
        "query_id": pa.array([0], pa.int32()),
        "query": pa.array([args.query], pa.string())}))
    if args.index:
        hits = bm25_topk_indexed(spark, args.index, qdf, k=args.k)
    else:
        if not args.input:
            print("ad-hoc search needs -i/--input", file=sys.stderr)
            return 2
        corpus = spark.read.parquet(args.input)
        hits = bm25_search(corpus, qdf, k=args.k,
                           text_col=args.text_col, id_col=args.id_col)
    for r in hits.orderBy("rank").collect():
        print(json.dumps({"rank": r["rank"], "doc_id": r["doc_id"],
                          "score": round(r["score"], 6)},
                         ensure_ascii=False))
    return 0


def cmd_export(args) -> int:
    """Freeze a parquet corpus into N deterministic training shards
    with a verifiable manifest (llm/export.py); `--verify` re-derives
    every shard's stats from disk and exits 3 on any divergence."""
    from .engine import get_spark
    from .llm.export import verify_shards, write_training_shards
    spark = get_spark("rulemorph-export")
    if args.verify:
        problems = verify_shards(spark, args.output)
        print(json.dumps({"verified": not problems,
                          "problems": problems}))
        return 0 if not problems else 3
    try:
        df = spark.read.parquet(args.input)
    except Exception as e:  # noqa: BLE001 - I/O boundary
        print(f"failed to read input: {e}", file=sys.stderr)
        return 1
    try:
        manifest = write_training_shards(
            df, args.output, args.num_shards, id_col=args.id_col,
            token_col=args.token_col, salt=args.salt)
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    print(json.dumps({"n_shards": manifest["n_shards"],
                      "total_rows": manifest["total_rows"],
                      "total_tokens": manifest.get("total_tokens")}))
    return 0


def cmd_explain(args) -> int:
    """Print the physical-plan digest (and optionally the full plan)
    for a rule or pipeline over a parquet table WITHOUT running it —
    the pre-flight scale check: shuffle/broadcast counts, pushed
    filters, read schemas, Python-UDF evaluations (functions/diag.py).
    Extension surface: the table path is where 100 TB jobs live."""
    from .engine import get_spark, transform_table
    from .errors import RuleError
    from .functions.diag import physical_plan, plan_summary
    from .llm.pipeline import PipelineSpecError, compile_pipeline
    if bool(args.rules) == bool(args.pipeline):
        print("explain needs exactly one of -r/--rules or --pipeline",
              file=sys.stderr)
        return 2
    spark = get_spark("rulemorph-explain")
    try:
        df = spark.read.parquet(args.input)
    except Exception as e:  # noqa: BLE001 - I/O boundary
        print(f"failed to read input: {e}", file=sys.stderr)
        return 1
    try:
        if args.pipeline:
            out = compile_pipeline(_load_text(args.pipeline))(df)
        else:
            context = (json.loads(_load_text(args.context))
                       if args.context else None)
            out = transform_table(df, _load_text(args.rules), context,
                                  mode=args.mode)
    except OSError as e:
        print(f"failed to read spec: {e}", file=sys.stderr)
        return 1
    except (RuleError, PipelineSpecError) as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    print(json.dumps(plan_summary(out)))
    if args.full:
        print(physical_plan(out))
    return 0


def cmd_report(args) -> int:
    """Per-source corpus health report as NDJSON on stdout (extension
    surface — the between-stages statistics table)."""
    from .engine import get_spark
    from .llm.report import corpus_report, corpus_report_total
    spark = get_spark("rulemorph-report")
    try:
        df = spark.read.parquet(args.input)
    except Exception as e:  # noqa: BLE001 - I/O boundary
        print(f"failed to read input: {e}", file=sys.stderr)
        return 1
    if args.total or args.source_col not in df.columns:
        rep = corpus_report_total(df, args.text_col)
    else:
        rep = corpus_report(df, args.text_col, args.source_col)
    for r in rep.orderBy("source").collect():
        print(json.dumps(r.asDict(), ensure_ascii=False))
    return 0


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(
        prog="rulemorph-spark",
        description="Transform CSV/JSON data using YAML rules on Spark")
    sub = parser.add_subparsers(dest="command", required=True)

    p = sub.add_parser("validate")
    p.add_argument("-r", "--rules", required=True)
    p.add_argument("-e", "--error-format", default="text",
                   choices=["text", "json"])
    p.set_defaults(fn=cmd_validate)

    p = sub.add_parser("preflight")
    p.add_argument("-r", "--rules", required=True)
    p.add_argument("-i", "--input", required=True)
    p.add_argument("-f", "--format", choices=["csv", "json"],
                   help="override the rule's input format")
    p.add_argument("-c", "--context")
    p.add_argument("-e", "--error-format", default="text",
                   choices=["text", "json"])
    p.set_defaults(fn=cmd_preflight)

    p = sub.add_parser("transform")
    p.add_argument("-r", "--rules", required=True)
    p.add_argument("-i", "--input", required=True)
    p.add_argument("-f", "--format", choices=["csv", "json"],
                   help="override the rule's input format")
    p.add_argument("-c", "--context")
    p.add_argument("-o", "--output")
    p.add_argument("--ndjson", action="store_true")
    p.add_argument("-v", "--validate", action="store_true")
    p.add_argument("-e", "--error-format", default="text",
                   choices=["text", "json"])
    p.set_defaults(fn=cmd_transform)

    p = sub.add_parser("generate")
    p.add_argument("-r", "--rules", required=True)
    # "ts" alias per the reference's ValueEnum (main.rs:135-136)
    p.add_argument("-l", "--lang", required=True,
                   type=lambda v: "typescript" if v == "ts" else v,
                   choices=["rust", "typescript", "python", "go", "java",
                            "kotlin", "swift"])
    p.add_argument("-n", "--name")
    p.add_argument("-o", "--output")
    p.set_defaults(fn=cmd_generate)

    p = sub.add_parser("serve")
    p.add_argument("-d", "--endpoint", required=True,
                   help="path to endpoint.yaml")
    p.add_argument("--host", default="127.0.0.1")
    p.add_argument("-p", "--port", type=int, default=8080)
    p.add_argument("--trace-dir")
    p.set_defaults(fn=cmd_serve)

    p = sub.add_parser("validate-rules-dir")
    # reference spelling is -r/--rules-dir (main.rs:50-53); a bare
    # positional is accepted too
    p.add_argument("rules_dir", nargs="?", default=None,
                   help="directory containing endpoint.yaml")
    p.add_argument("-r", "--rules-dir", dest="rules_dir_flag",
                   default=None)
    p.add_argument("-e", "--error-format", default="text",
                   choices=["text", "json"])
    p.set_defaults(fn=cmd_validate_rules_dir)

    p = sub.add_parser("ui")
    p.add_argument("-d", "--rules-dir",
                   help="directory containing endpoint.yaml "
                        "(required unless --api-mode ui-only)")
    p.add_argument("--host", default="127.0.0.1")
    p.add_argument("-p", "--port", type=int, default=8080)
    p.add_argument("--trace-dir")
    p.add_argument("--data-dir",
                   help="trace data dir for --api-mode ui-only")
    p.add_argument("--ui-dir",
                   help="serve SPA assets from this directory instead "
                        "of the built-in page (main.rs:111)")
    p.add_argument("--api-mode", default="rules",
                   choices=["rules", "ui-only", "ui_only", "native"])
    p.add_argument("--no-ui", action="store_true")
    p.set_defaults(fn=cmd_ui)

    p = sub.add_parser("pipeline")
    p.add_argument("-s", "--spec", required=True,
                   help="YAML pipeline spec (llm/pipeline.py ops)")
    p.add_argument("-i", "--input", required=True,
                   help="parquet dir or NDJSON file/glob")
    p.add_argument("-o", "--output", required=True,
                   help="output parquet dir")
    p.add_argument("--input-schema", default=None,
                   help="DDL schema for NDJSON input")
    p.add_argument("--quarantine", default=None,
                   help="write unparsable NDJSON lines here (parquet)")
    p.set_defaults(fn=cmd_pipeline)

    p = sub.add_parser("search")
    p.add_argument("-i", "--input", help="corpus parquet dir")
    p.add_argument("-q", "--query", help="query text")
    p.add_argument("-k", type=int, default=10)
    p.add_argument("--index", help="materialized BM25 index dir")
    p.add_argument("--build-index", action="store_true",
                   help="build --index from -i instead of searching")
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.set_defaults(fn=cmd_search)

    p = sub.add_parser("export")
    p.add_argument("-i", "--input", help="corpus parquet dir "
                                         "(not needed with --verify)")
    p.add_argument("-o", "--output", required=True,
                   help="shard output dir")
    p.add_argument("-n", "--num-shards", type=int, default=64)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--token-col")
    p.add_argument("--salt", type=int, default=0)
    p.add_argument("--verify", action="store_true",
                   help="verify an existing export instead of writing")
    p.set_defaults(fn=cmd_export)

    p = sub.add_parser("ingest")
    p.add_argument("-i", "--input", required=True,
                   help="NDJSON input directory (watched)")
    p.add_argument("--input-schema", required=True,
                   help="DDL schema, e.g. 'doc_id long, text string'")
    p.add_argument("--corpus", required=True,
                   help="CorpusStore root (versioned output)")
    p.add_argument("--fp-store", required=True,
                   help="persistent fingerprint store path")
    p.add_argument("--checkpoint", required=True,
                   help="streaming checkpoint dir")
    p.add_argument("--spec", help="optional pipeline spec YAML applied "
                                  "to each micro-batch before dedup")
    p.add_argument("--id-col", default="doc_id")
    p.set_defaults(fn=cmd_ingest)

    p = sub.add_parser("explain")
    p.add_argument("-r", "--rules", help="rule YAML (table path)")
    p.add_argument("--pipeline", help="pipeline spec YAML")
    p.add_argument("-i", "--input", required=True,
                   help="parquet table/dir the plan is built against")
    p.add_argument("-c", "--context")
    p.add_argument("--mode", default="auto",
                   choices=["auto", "typed", "variant"])
    p.add_argument("--full", action="store_true",
                   help="also print the full physical plan")
    p.set_defaults(fn=cmd_explain)

    p = sub.add_parser("report")
    p.add_argument("-i", "--input", required=True,
                   help="corpus parquet dir")
    p.add_argument("--text-col", default="text")
    p.add_argument("--source-col", default="source")
    p.add_argument("--total", action="store_true",
                   help="one whole-corpus row instead of per-source")
    p.set_defaults(fn=cmd_report)

    args = parser.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
