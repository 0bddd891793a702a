"""service_requests: the endpoint server in its own process, driven by
a closed loop of ``nproc`` client threads on loopback.

Each client sends its next request only after the previous reply
arrived.  Bodies come from the seed; every reply is checked against the
pure-Python interpreter (``interp.transform_record``).
"""

from __future__ import annotations

import http.client
import itertools
import json
import os
import re
import signal
import subprocess
import sys
import threading
import time

import gen
import runinfo
from tracer import REQUEST_HEADER
from workloads import canon, fixture

HERE = os.path.dirname(os.path.abspath(__file__))
BODIES = 512


def rebase(rule_text: str) -> str:
    """Point a document rule at the request record: fields come from
    ``@input.body``."""
    return rule_text.replace("@input.", "@input.body.")


def write_endpoint_dir(work: str) -> str:
    """endpoint.yaml plus its step rule."""
    d = gen.ensure_dir(os.path.join(work, "endpoint"))
    gen.ensure_dir(os.path.join(d, "rules"))
    with open(os.path.join(d, "endpoint.yaml"), "w") as fh:
        fh.write(fixture("endpoint.yaml"))
    with open(os.path.join(d, "rules", "extended.yaml"), "w") as fh:
        fh.write(rebase(fixture("f5_extended.yaml")))
    return os.path.join(d, "endpoint.yaml")


class Oracle:
    """Expected reply per body index, from the interpreter."""

    def __init__(self, bodies):
        from rulemorph_spark import interp
        self.interp = interp
        self.bodies = bodies
        self.rule = rebase(fixture("f5_extended.yaml"))
        self.cache: dict[int, str] = {}

    def ok(self, idx: int, reply) -> bool:
        if idx not in self.cache:
            self.cache[idx] = canon(self.interp.transform_record(
                self.rule, {"body": self.bodies[idx]}, {}))
        ok = canon(reply) == self.cache[idx]
        if not ok:
            print(f"reply mismatch on {self.bodies[idx]}: got {reply}, "
                  f"want {self.cache[idx]}", file=sys.stderr)
        return ok


def _post(port: int, path: str, body: dict, req_id: str) -> tuple[int, object]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("POST", path, json.dumps(body),
                     {"content-type": "application/json",
                      REQUEST_HEADER: req_id})
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read() or b"null")
    finally:
        conn.close()


class Server:
    def __init__(self, work: str, trace_file: str | None):
        self.log_path = os.path.join(work, "server.log")
        self.trace_file = trace_file
        endpoint = write_endpoint_dir(work)
        cmd = [sys.executable, os.path.join(HERE, "serve_main.py"), endpoint]
        if trace_file:
            cmd.append(trace_file)
        self.log = open(self.log_path, "w")
        self.t_launch = time.perf_counter()
        self.proc = subprocess.Popen(cmd, stdout=self.log, stderr=self.log)
        self.port = self._wait_port()

    def _wait_port(self, timeout: float = 170.0) -> int:
        end = time.perf_counter() + timeout
        while time.perf_counter() < end:
            if self.proc.poll() is not None:
                raise RuntimeError("server exited:\n" + self._tail())
            with open(self.log_path, encoding="utf-8",
                      errors="replace") as fh:
                m = re.search(r"serving on http://[^:]+:(\d+)", fh.read())
            if m:
                return int(m.group(1))
            time.sleep(0.05)
        raise RuntimeError("server did not start:\n" + self._tail())

    def _tail(self) -> str:
        with open(self.log_path, encoding="utf-8", errors="replace") as fh:
            return fh.read()[-3000:]

    def dump_trace(self) -> dict:
        self.proc.send_signal(signal.SIGUSR2)
        end = time.perf_counter() + 120
        while not os.path.exists(self.trace_file):
            if time.perf_counter() > end or self.proc.poll() is not None:
                raise RuntimeError("no trace from server:\n" + self._tail())
            time.sleep(0.05)
        with open(self.trace_file, encoding="utf-8") as fh:
            return json.load(fh)

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGINT)
            try:
                self.proc.wait(timeout=90)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.log.close()


class Load:
    """Closed loop: ``clients`` threads, each waits for its reply."""

    def __init__(self, port: int, bodies, oracle: Oracle, clients: int):
        self.port, self.bodies, self.oracle = port, bodies, oracle
        self.clients = clients
        self.next = itertools.count()
        self.ids = itertools.count()

    def one(self, idx: int) -> dict:
        body = self.bodies[idx % len(self.bodies)]
        rid = f"r{next(self.ids)}"
        t0 = time.perf_counter()
        try:
            status, reply = _post(self.port, "/extended", body, rid)
            ok = status == 200 and self.oracle.ok(idx % len(self.bodies),
                                                  reply)
        except (OSError, http.client.HTTPException, ValueError) as exc:
            print(f"request failed: {exc!r}", file=sys.stderr)
            ok = False
        return {"id": rid, "latency": time.perf_counter() - t0, "ok": ok}

    def run(self, seconds: float) -> tuple[list[dict], float]:
        """Requests completed in the window, and the window's length
        (until the last reply).  Each client sends at least one."""
        done: list[dict] = []
        lock = threading.Lock()
        t0 = time.perf_counter()
        end = t0 + seconds

        def client():  # at least one request each
            while True:
                r = self.one(next(self.next))
                with lock:
                    done.append(r)
                if time.perf_counter() >= end:
                    return

        threads = [threading.Thread(target=client)
                   for _ in range(self.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return done, time.perf_counter() - t0


def run(args, work: str, record: dict):
    """run_cpu_s is the server's CPU seconds (its process, JVM and
    Python workers, less the JVM's JIT and GC threads) per request in
    the window.  The mean request latency at ``nproc`` closed-loop
    clients (run_s: window × clients ÷ replies), the median, the tail
    and the request rate go into the run record."""
    import layers

    clients = record["nproc"]
    bodies = gen.service_bodies(args.seed, BODIES)
    oracle = Oracle(bodies)
    trace_file = os.path.join(work, "server-trace.json") if args.trace \
        else None
    server = Server(work, trace_file)
    try:
        load = Load(server.port, bodies, oracle, clients)
        warm = [load.one(0)]
        setup_s = time.perf_counter() - server.t_launch
        # one untimed round, a request per client: the first requests
        # after the cold one still run while the JIT warms up
        warm += load.run(0)[0]
        record.update(spark_cores=clients, setup_from="server launch to "
                      "first 200 reply", server_pid=server.proc.pid)
        if args.trace:
            half = args.seconds / 2
            untraced, t_u = load.run(half)
            server.proc.send_signal(signal.SIGUSR1)
            time.sleep(0.5)  # the handler runs between serve_forever polls
            traced, t_t = load.run(half)
            dump = server.dump_trace()
            overhead = clients * (t_t / len(traced) - t_u / len(untraced))
            metrics = layers.service_metrics(
                dump["spans"], dump["stages"], dump, traced, overhead)
            done = untraced + traced
        else:
            c0 = runinfo.cpu_reading(server.proc.pid)
            done, elapsed = load.run(args.seconds)
            cpu = runinfo.program_cpu_s(c0,
                                        runinfo.cpu_reading(server.proc.pid))
        rss = runinfo.peak_rss_mb([os.getpid(), server.proc.pid])
    finally:
        server.stop()
    if not args.trace:
        metrics = runinfo.end_to_end(setup_s, cpu / len(done), rss)
        st = runinfo.latency_stats([r["latency"] for r in done])
        record["latency"] = dict(st, req_per_s=len(done) / elapsed,
                                 window_s=elapsed)
        record["run_s"] = clients * elapsed / len(done)
    record["peak_rss_mb"] = rss
    all_reqs = warm + done
    return metrics, len(all_reqs), sum(1 for r in all_reqs if not r["ok"])
