"""Service-layer concurrency pin (VERDICT r8 next-round #5): the
reference's axum server handles requests concurrently
(rulemorph_server/src/lib.rs:48-100); the engine shares one
SparkSession, one rule LRU, and one TraceStore across requests, so
concurrent handling must not bleed state between requests — every
response must correspond to ITS request, the trace store must record
one uncorrupted trace per request, and the rules cache must stay
coherent under racing first-loads.
"""

from __future__ import annotations

import contextlib
import http.client
import json
import os
import tempfile
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from rulemorph_spark.service.endpoint import EndpointEngine

pytestmark = pytest.mark.smoke

ENDPOINT_YAML = """
version: 2
type: endpoint
endpoints:
  - method: GET
    path: /items/{id}
    steps:
      - rule: echo.yaml
      - rule: branchy.yaml
        when: { gte: ["@input.id", 0] }
    reply:
      status: 200
      body: "@input"
    catch:
      default: handler.yaml
  - method: GET
    path: /boom/{id}
    steps:
      - rule: boom.yaml
    reply:
      status: 200
      body: "@input"
    catch:
      default: handler.yaml
"""

ECHO = """
version: 2
input: {format: json}
mappings:
  - target: id
    source: input.path.id
    type: int
  - target: doubled
    expr: ["@input.path.id", {int: []}, {"*": [2]}]
"""

BRANCHY = """
version: 2
input: {format: json}
steps:
  - mappings:
      - target: tag
        value: branchy
      - target: id
        source: input.id
      - target: doubled
        source: input.doubled
  - branch:
      when: { gte: ["@out.id", 0] }
      then: sub.yaml
"""

SUB = """
version: 2
input: {format: json}
mappings:
  - target: sub
    value: true
"""

BOOM = """
version: 2
input: {format: json}
mappings:
  - target: x
    expr: ["@input.path.nope", {int: []}]
    required: true
"""

HANDLER = """
version: 2
input: {format: json}
mappings:
  - target: handled
    value: true
"""


@pytest.fixture(scope="module")
def svc_dir():
    with tempfile.TemporaryDirectory() as d:
        for name, text in [("endpoint.yaml", ENDPOINT_YAML),
                           ("echo.yaml", ECHO), ("branchy.yaml", BRANCHY),
                           ("sub.yaml", SUB), ("boom.yaml", BOOM),
                           ("handler.yaml", HANDLER)]:
            with open(os.path.join(d, name), "w") as fh:
                fh.write(text)
        yield d


N_THREADS = 6
N_REQUESTS = 8  # per thread


def test_concurrent_requests_no_bleed(spark, svc_dir):
    with tempfile.TemporaryDirectory() as trace_dir:
        eng = EndpointEngine(spark, f"{svc_dir}/endpoint.yaml",
                             trace_dir=trace_dir)
        results: dict[tuple[int, int], tuple] = {}
        errors: list = []
        barrier = threading.Barrier(N_THREADS)

        def worker(t):
            try:
                barrier.wait()  # maximize first-load races on the LRU
                for i in range(N_REQUESTS):
                    rid = t * 1000 + i
                    if i % 4 == 3:
                        status, _, body = eng.handle_request(
                            "GET", f"/boom/{rid}")
                    else:
                        status, _, body = eng.handle_request(
                            "GET", f"/items/{rid}")
                    results[(t, i)] = (status, body)
            except Exception as e:  # noqa: BLE001 — collected for assert
                errors.append((t, repr(e)))

        threads = [threading.Thread(target=worker, args=(t,))
                   for t in range(N_THREADS)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=600)
        assert not errors, errors
        assert len(results) == N_THREADS * N_REQUESTS

        for (t, i), (status, body) in results.items():
            rid = t * 1000 + i
            assert status == 200, (t, i, status, body)
            if i % 4 == 3:
                # boom route: step failed, endpoint catch ran — the
                # catch output becomes the pipeline value
                assert body.get("handled") is True, (t, i, body)
            else:
                # every response carries ITS OWN id — any cross-request
                # bleed shows up as a mismatched id/doubled pair
                assert body.get("id") == rid, (t, i, body)
                assert body.get("doubled") == 2 * rid, (t, i, body)
                assert body.get("sub") is True, (t, i, body)

        # one trace per request, each internally consistent
        traces = eng.trace_store.list()
        assert len(traces) == N_THREADS * N_REQUESTS
        items = [t for t in traces if t["endpoint"] == "/items/{id}"]
        booms = [t for t in traces if t["endpoint"] == "/boom/{id}"]
        assert len(booms) == N_THREADS * (N_REQUESTS // 4)
        assert len(items) == N_THREADS * N_REQUESTS - len(booms)
        for tr in items:
            rid = int(tr["path"].rsplit("/", 1)[1])
            step_names = [s["name"] for s in tr["steps"]]
            assert step_names == ["echo.yaml", "branchy.yaml", "reply"]
            out = tr["steps"][0]["output"]
            assert out["id"] == rid and out["doubled"] == 2 * rid, tr


# --- the HTTP front end (cli.make_http_server) ---------------------------


class _ThreadRecorder:
    """An engine that records the thread serving each request."""

    def __init__(self, engine):
        self._engine = engine
        self.threads: list[threading.Thread] = []

    def __getattr__(self, name):
        return getattr(self._engine, name)

    def handle_request(self, *args, **kwargs):
        self.threads.append(threading.current_thread())
        return self._engine.handle_request(*args, **kwargs)


@contextlib.contextmanager
def _serving(engine):
    from rulemorph_spark.cli import make_http_server

    httpd = make_http_server(engine, port=0)
    loop = threading.Thread(target=httpd.serve_forever, daemon=True)
    loop.start()
    try:
        yield httpd, httpd.server_address[1]
    finally:
        httpd.shutdown()
        httpd.server_close()
        loop.join(timeout=30)


def _get(port: int, path: str) -> tuple[int, dict]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("GET", path)
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read())
    finally:
        conn.close()


def test_http_workers_are_reused(spark, svc_dir):
    """Sequential requests, a catch-handled failure among them, reuse
    the server's worker threads; each reply is its own request's and
    the trace store holds one trace per request."""
    n = 40
    with tempfile.TemporaryDirectory() as trace_dir:
        eng = _ThreadRecorder(EndpointEngine(
            spark, f"{svc_dir}/endpoint.yaml", trace_dir=trace_dir))
        with _serving(eng) as (_, port):
            for i in range(n):
                if i % 5 == 2:
                    status, body = _get(port, f"/boom/{i}")
                    assert (status, body) == (200, {"handled": True})
                else:
                    status, body = _get(port, f"/items/{i}")
                    assert status == 200, body
                    assert (body["id"], body["doubled"]) == (i, 2 * i)
        assert len(eng.threads) == n
        assert len({id(t) for t in eng.threads}) < n
        assert len(eng.trace_store.list()) == n


def test_http_request_answers_past_held_streams(spark, svc_dir):
    """More held ``/internal/stream`` feeds than cores do not starve a
    normal request: the workers are not bounded."""
    with tempfile.TemporaryDirectory() as trace_dir:
        eng = EndpointEngine(spark, f"{svc_dir}/endpoint.yaml",
                             trace_dir=trace_dir)
        streams = []
        with _serving(eng) as (_, port):
            try:
                for _ in range(len(os.sched_getaffinity(0)) + 2):
                    conn = http.client.HTTPConnection("127.0.0.1", port,
                                                      timeout=60)
                    conn.request("GET", "/internal/stream")
                    resp = conn.getresponse()
                    assert resp.status == 200
                    assert resp.getheader("content-type") \
                        == "text/event-stream"
                    streams.append(conn)
                status, body = _get(port, "/items/5")
                assert status == 200 and body["id"] == 5, body
            finally:
                for conn in streams:
                    conn.close()


def test_http_workers_exit_on_close(spark, svc_dir):
    """After shutdown() and server_close(), no worker of the server is
    left alive, including the ones that served concurrent requests."""
    eng = _ThreadRecorder(EndpointEngine(spark,
                                         f"{svc_dir}/endpoint.yaml"))
    with _serving(eng) as (_, port):
        with ThreadPoolExecutor(4) as pool:
            replies = list(pool.map(lambda i: _get(port, f"/items/{i}"),
                                    range(12)))
        assert [b["id"] for _, b in replies] == list(range(12))
    deadline = time.monotonic() + 5
    while any(t.is_alive() for t in eng.threads) \
            and time.monotonic() < deadline:
        time.sleep(0.05)
    assert not [t for t in eng.threads if t.is_alive()]


@pytest.mark.parametrize("length", ["-1", "abc"])
def test_http_malformed_content_length_is_400(spark, svc_dir, length):
    """A content-length that is not a non-negative integer gets the
    ApiError 400 reply; it neither reads until the client hangs up
    (-1) nor drops the connection without a reply (abc)."""
    eng = EndpointEngine(spark, f"{svc_dir}/endpoint.yaml")
    with _serving(eng) as (_, port):
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=20)
        try:
            conn.putrequest("POST", "/items/1")
            conn.putheader("content-length", length)
            conn.endheaders()
            resp = conn.getresponse()
            assert resp.status == 400
            assert json.loads(resp.read()) == {
                "error": "invalid content-length"}
        finally:
            conn.close()
        # the server still answers afterwards
        assert _get(port, "/items/2")[0] == 200


class _EchoEngine:
    """A Spark-free engine: replies with the request path."""

    trace_store = None

    def handle_request(self, method, path, query, headers, body):
        return 200, {}, {"path": path}


def test_http_idle_workers_retire_and_restart(monkeypatch):
    """A worker idle past the timeout exits; the next request starts a
    new one."""
    from rulemorph_spark.service import httpd

    monkeypatch.setattr(httpd, "IDLE_TIMEOUT", 0.2)
    eng = _ThreadRecorder(_EchoEngine())
    with _serving(eng) as (_, port):
        assert _get(port, "/a") == (200, {"path": "/a"})
        first = eng.threads[0]
        first.join(timeout=10)
        assert not first.is_alive()
        assert _get(port, "/b") == (200, {"path": "/b"})
        assert eng.threads[1] is not first


def test_http_handoff_loses_no_request(monkeypatch):
    """Under an idle timeout shorter than the gaps between requests,
    workers retire and start all the time, and every request of
    several clients is still answered with its own reply."""
    from rulemorph_spark.service import httpd

    monkeypatch.setattr(httpd, "IDLE_TIMEOUT", 0.002)
    with _serving(_EchoEngine()) as (_, port):
        def client(c):
            out = []
            for i in range(40):
                out.append(_get(port, f"/c{c}/{i}"))
                time.sleep(0.002 * (i % 3))
            return out

        with ThreadPoolExecutor(8) as pool:
            results = list(pool.map(client, range(8)))
    for c, replies in enumerate(results):
        assert replies == [(200, {"path": f"/c{c}/{i}"})
                           for i in range(40)]
