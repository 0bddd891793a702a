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

import os
import tempfile
import threading

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
