"""Local HTTP responder for the pipe_fetch workload.

Derived from the shipped `ganda_spark.echoserver.EchoHandler` with two
changes:

  * Nagle is off (`disable_nagle_algorithm = True`). The shipped handler
    writes headers and body in two writes, so with Nagle on every
    keep-alive response waits for the client's delayed ACK (~40 ms each).
  * 200 bodies are a deterministic function of the path
    (`inputs.item_body`), so the output check can predict every sha256.

One thread per connection, at most `--max-conns` connections at a time
(further connections wait in the listen backlog). Each path's hits are
counted; the counts are written to `--hits-out` as JSON on SIGTERM.

Run: python3 perfbench/responder.py --max-conns 4 --hits-out hits.json
Prints `PORT <n>` on stdout once it listens.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import threading
from collections import defaultdict
from http.server import ThreadingHTTPServer

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ganda_spark.echoserver import EchoHandler  # noqa: E402

from perfbench.inputs import item_body  # noqa: E402


class BenchHandler(EchoHandler):
    disable_nagle_algorithm = True
    hits: dict[str, int] = defaultdict(int)
    flaky_counts: dict[str, int] = defaultdict(int)
    flaky_lock = threading.Lock()

    def _handle(self) -> None:
        with self.flaky_lock:
            self.hits[self.path] += 1
        length = int(self.headers.get("Content-Length") or 0)
        if length:
            self.rfile.read(length)
        parts = self.path.lstrip("/").split("/")
        if parts[0] == "status" and len(parts) >= 2 and parts[1].isdigit():
            self._respond(int(parts[1]), b"")
            return
        if parts[0] == "flaky" and len(parts) >= 2 and parts[1].isdigit():
            with self.flaky_lock:
                self.flaky_counts[self.path] += 1
                hit = self.flaky_counts[self.path]
            if hit <= int(parts[1]):
                self._respond(500, b"")
                return
        self._respond(200, item_body(self.path))

    do_GET = do_POST = do_HEAD = _handle


class CappedServer(ThreadingHTTPServer):
    """Thread per connection; accept blocks while max_conns are open."""

    daemon_threads = True

    def __init__(self, addr, handler, max_conns: int):
        super().__init__(addr, handler)
        self._slots = threading.BoundedSemaphore(max_conns)
        self.peak_conns = 0
        self._open = 0
        self._count_lock = threading.Lock()

    def process_request(self, request, client_address):
        self._slots.acquire()
        with self._count_lock:
            self._open += 1
            self.peak_conns = max(self.peak_conns, self._open)
        super().process_request(request, client_address)

    def process_request_thread(self, request, client_address):
        try:
            super().process_request_thread(request, client_address)
        finally:
            with self._count_lock:
                self._open -= 1
            self._slots.release()


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--max-conns", type=int, required=True)
    p.add_argument("--hits-out", required=True)
    args = p.parse_args()
    server = CappedServer(("127.0.0.1", 0), BenchHandler, args.max_conns)
    done = threading.Event()
    signal.signal(signal.SIGTERM, lambda *_: done.set())
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    print(f"PORT {server.server_address[1]}", flush=True)
    while not done.wait(0.2):
        pass
    server.shutdown()
    server.server_close()
    with open(args.hits_out, "w") as f:
        json.dump({"hits": dict(BenchHandler.hits), "peak_conns": server.peak_conns}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
