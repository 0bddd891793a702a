"""The HTTP front end's server: each connection is served on a reused
worker thread.

``ThreadingHTTPServer`` starts a thread for every connection, and the
server speaks HTTP/1.0, so every request pays for one.  py4j pins each
Python thread to its own gateway connection, served by its own JVM
thread, so a thread per request also opens a py4j socket and a JVM
thread per request and tears both down again.

:class:`WorkerHTTPServer` keeps its workers instead: an accepted
connection goes to an idle worker, and a new worker starts only when
none is idle.  Workers are not bounded, as with ``ThreadingHTTPServer``:
a held ``/internal/stream`` feed, a trace long-poll, or a network step
that calls this same server must never wait for a free worker, and a
bounded pool could deadlock on such a self-call.  A worker that has
waited ``IDLE_TIMEOUT`` seconds without a connection exits, and
``server_close`` lets every idle worker exit.
"""

from __future__ import annotations

import collections
import threading
from http.server import ThreadingHTTPServer

IDLE_TIMEOUT = 60.0


class WorkerHTTPServer(ThreadingHTTPServer):
    """``ThreadingHTTPServer`` over reused worker threads.
    ``trace_watcher``, when set, is stopped by ``server_close``."""

    trace_watcher = None

    def __init__(self, *args, **kwargs):
        # the queue of accepted connections and the idle count sit
        # under one lock: a handoff and a worker's exit never race
        self._cv = threading.Condition()
        self._jobs: collections.deque = collections.deque()
        self._idle = 0
        self._closed = False
        super().__init__(*args, **kwargs)

    def process_request(self, request, client_address):
        with self._cv:
            self._jobs.append((request, client_address))
            # every queued connection has a waiting worker of its own
            if len(self._jobs) <= self._idle:
                self._cv.notify()
                return
        threading.Thread(target=self._work, name="http-worker",
                         daemon=True).start()

    def _work(self) -> None:
        while True:
            with self._cv:
                while not self._jobs:
                    if self._closed:
                        return
                    self._idle += 1
                    woken = self._cv.wait(IDLE_TIMEOUT)
                    self._idle -= 1
                    # a timed-out worker still takes a connection that
                    # was queued for it before it exits
                    if not woken and not self._jobs:
                        return
                request, client_address = self._jobs.popleft()
            self.process_request_thread(request, client_address)

    def server_close(self):
        super().server_close()
        with self._cv:
            self._closed = True
            self._cv.notify_all()
        if self.trace_watcher is not None:
            self.trace_watcher.stop()
