"""Per-layer metrics from a traced window.

Batch workloads report per timed pass; service_requests reports per
request.  A ``*_s`` metric is the layer's self time (its spans minus
their child spans) unless its docs entry says inclusive; counts are
spans (or Spark jobs/stages/tasks) per pass or request.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from tracer import self_times

LLM_OPS = {"remove_dup_spans": "llm.remove_dup_spans_s",
           "semdedup": "llm.semdedup_s",
           "bm25_search": "llm.bm25_search_s",
           "q_ann_topk": "llm.ann_topk_s",
           "q_tfidf_topterms": "llm.tfidf_topterms_s"}

# (name, unit, better) — BENCHMARK.json's per_layer list, in order.
# Every traced run emits every name; a layer the workload does not
# reach reads 0 (llm.* off the corpus operators, service.* off the
# service).
PER_LAYER = [
    ("model.parse_s", "s", "lower"),
    ("model.parses", "count", "lower"),
    ("compiler.compile_s", "s", "lower"),
    ("compiler.compiles", "count", "lower"),
    ("compiler.py4j_calls", "count", "lower"),
    ("typed.compile_s", "s", "lower"),
    ("typed.attempts", "count", "lower"),
    ("typed.fallbacks", "count", "lower"),
    ("typed.hit_ratio", "ratio", "higher"),
    ("sqlfn.creates", "count", "lower"),
    ("sqlfn.create_s", "s", "lower"),
    ("engine.read_s", "s", "lower"),
    ("engine.read_jobs", "count", "lower"),
    ("engine.finalize_s", "s", "lower"),
    ("engine.self_s", "s", "lower"),
    ("service.handle_s", "s", "lower"),
    ("service.transform_calls_per_req", "count", "lower"),
    ("service.jobs_per_req", "count", "lower"),
    ("service.http_s", "s", "lower"),
    *((m, "s", "lower") for m in LLM_OPS.values()),
    ("catalyst.analyze_s", "s", "lower"),
    ("catalyst.plan_s", "s", "lower"),
    ("exec.s", "s", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.shuffle_read_bytes", "bytes", "lower"),
    ("exec.shuffle_write_bytes", "bytes", "lower"),
    ("exec.spill_bytes", "bytes", "lower"),
    ("exec.max_task_over_median", "ratio", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.coverage", "ratio", "higher"),
]


def _trees(spans: list[dict], is_root) -> list[dict]:
    """Spans whose root span matches ``is_root``."""
    by_id = {s["id"]: s for s in spans}

    def root(s):
        while s["parent"] in by_id:
            s = by_id[s["parent"]]
        return s

    return [s for s in spans if is_root(root(s))]


def _under(spans: list[dict], layer: str, target_layer: str) -> int:
    """Number of ``target_layer`` spans with a ``layer`` ancestor."""
    by_id = {s["id"]: s for s in spans}
    n = 0
    for s in spans:
        if s["layer"] != target_layer:
            continue
        p = by_id.get(s["parent"])
        while p is not None:
            if p["layer"] == layer:
                n += 1
                break
            p = by_id.get(p["parent"])
    return n


def _common(tree: list[dict], stages: dict, tr,
            n: int) -> tuple[dict, float]:
    """Layer metrics shared by both kinds of workload, divided by ``n``;
    also returns the summed self time of the program's layers."""
    st = self_times(tree)
    self_by = defaultdict(float)
    count_by = defaultdict(int)
    for s in tree:
        self_by[s["layer"]] += st[s["id"]]
        count_by[s["layer"]] += 1
    attempts = count_by["typed"]
    fallbacks = tr["fallbacks"]
    m = {
        "model.parse_s": self_by["model"] / n,
        "model.parses": count_by["model"] / n,
        "compiler.compile_s": self_by["compiler"] / n,
        "compiler.compiles": count_by["compiler"] / n,
        "compiler.py4j_calls": tr["py4j_calls"] / n,
        "typed.compile_s": self_by["typed"] / n,
        "typed.attempts": attempts / n,
        "typed.fallbacks": fallbacks / n,
        "typed.hit_ratio": ((attempts - fallbacks) / attempts
                            if attempts else 0.0),
        "engine.read_s": self_by["engine.read"] / n,
        "engine.read_jobs": _under(tree, "engine.read", "exec") / n,
        "engine.finalize_s": self_by["engine.finalize"] / n,
        "engine.self_s": self_by["engine"] / n,
        "catalyst.analyze_s": self_by["catalyst.analyze"] / n,
        "catalyst.plan_s": self_by["catalyst.plan"] / n,
        "exec.s": self_by["exec"] / n,
        "exec.jobs": stages["jobs"] / n,
        "exec.stages": stages["stages"] / n,
        "exec.tasks": stages["tasks"] / n,
        "exec.shuffle_read_bytes": stages["shuffle_read_bytes"] / n,
        "exec.shuffle_write_bytes": stages["shuffle_write_bytes"] / n,
        "exec.spill_bytes": stages["spill_bytes"] / n,
        "exec.max_task_over_median": stages["max_task_over_median"],
    }
    attributed = sum(v for k, v in self_by.items()
                     if not k.startswith("bench"))
    return m, attributed


def _sqlfn(spans: list[dict], n: int) -> dict:
    """CREATE statements and their busy time, on any thread."""
    creates = [s for s in spans if s["layer"] == "sqlfn"]
    return {"sqlfn.creates": len(creates) / n,
            "sqlfn.create_s": sum(s["end"] - s["start"]
                                  for s in creates) / n}


def _finish(m: dict) -> dict:
    return {k: (m.get(k, 0.0), unit) for k, unit, _ in PER_LAYER}


def batch_metrics(spans, setup_spans, stages, tr, traced: list,
                  untraced: list) -> dict:
    """Per pass, except sqlfn.*, which count the set-up's CREATEs (the
    timed passes reuse the session's functions).  llm.* are inclusive:
    each corpus operator's span covers building its plan and running it
    to the noop sink."""
    tree = _trees(spans, lambda s: s["name"] == "pass")
    n = len(traced)
    m, attributed = _common(tree, stages, tr, n)
    m.update(_sqlfn(setup_spans, 1))
    for s in tree:
        if s["layer"] == "bench.op" and s["name"] in LLM_OPS:
            key = LLM_OPS[s["name"]]
            m[key] = m.get(key, 0.0) + (s["end"] - s["start"]) / n
    wall = sum(s["end"] - s["start"] for s in tree if s["name"] == "pass")
    m["trace.coverage"] = attributed / wall
    m["trace.overhead_s"] = (statistics.median(traced)
                             - statistics.median(untraced))
    return _finish(m)


def service_metrics(spans, stages, tr, requests: list[dict],
                    overhead_s: float) -> dict:
    """Per request.  ``requests`` are the client's traced requests:
    {"id", "latency"}.  service.handle_s is the median inclusive
    handle_request span; service.http_s the median of client latency
    minus that span (HTTP, queueing and the client)."""
    handles = {s["request"]: s for s in spans
               if s["layer"] == "service" and s["parent"] is None}
    done = [r for r in requests if r["id"] in handles]
    n = len(done)
    tree = _trees(spans, lambda s: s["request"] in handles
                  and s["parent"] is None)
    m, attributed = _common(tree, stages, tr, n)
    m.update(_sqlfn(spans, n))
    inclusive = [handles[r["id"]]["end"] - handles[r["id"]]["start"]
                 for r in done]
    http = [r["latency"] - h for r, h in zip(done, inclusive)]
    m["service.handle_s"] = statistics.median(inclusive)
    m["service.http_s"] = statistics.median(http)
    m["service.transform_calls_per_req"] = sum(
        1 for s in tree if s["layer"] == "service.transform") / n
    m["service.jobs_per_req"] = stages["jobs"] / n
    m["trace.coverage"] = ((attributed + sum(http))
                           / sum(r["latency"] for r in done))
    m["trace.overhead_s"] = overhead_s
    return _finish(m)
