"""In-process mock Solana JSON-RPC server for the benchmark.

Serves ``getBlock`` (the chain's pre-rendered responses, ``null`` for
skipped or unknown slots, after a fixed service delay that stands in
for the RPC round trip) and ``getSlot`` (the chain head). The head is
either fixed (every generated slot final) or advances on a wall-clock
schedule, in which case each slot's finality time is the instant the
schedule puts the head at ``slot + FINALITY_LAG``.

Requests are handled by a fixed pool of worker threads, so at most
``workers`` requests are served at once; the server counts calls,
distinct slots, bytes served and peak concurrent ``getBlock``s.
"""

from __future__ import annotations

import json
import math
import socketserver
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler

from .chain import FINALITY_LAG, Chain

_NULL = b'{"jsonrpc":"2.0","id":1,"result":null}'


class Counters:
    def __init__(self) -> None:
        self.getblock_calls = 0
        self.getslot_calls = 0
        self.slots: set[int] = set()
        self.bytes_served = 0
        self.inflight = 0
        self.inflight_max = 0

    def snapshot(self) -> dict:
        return {
            "getblock_calls": self.getblock_calls,
            "getslot_calls": self.getslot_calls,
            "distinct_slots": len(self.slots),
            "bytes_served": self.bytes_served,
            "inflight_max": self.inflight_max,
        }


class HeadSchedule:
    """head(t) = head0 + floor((t - t0) * rate), capped at ``head_max``."""

    def __init__(self, head0: int, t0: float, rate: float, head_max: int):
        self.head0, self.t0, self.rate, self.head_max = head0, t0, rate, head_max

    def head(self, now: float) -> int:
        if now <= self.t0:
            return self.head0
        return min(self.head_max, self.head0 + math.floor((now - self.t0) * self.rate))

    def final_time(self, slot: int) -> float:
        """When the head reaches ``slot + FINALITY_LAG``."""
        return self.t0 + max(0, slot + FINALITY_LAG - self.head0) / self.rate


class _PoolServer(socketserver.TCPServer):
    allow_reuse_address = True
    request_queue_size = 128

    def __init__(self, addr, handler, workers: int):
        super().__init__(addr, handler)
        self._pool = ThreadPoolExecutor(max_workers=workers, thread_name_prefix="mockrpc")

    def process_request(self, request, client_address):
        self._pool.submit(self._serve, request, client_address)

    def _serve(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:  # one bad connection must not stop the server
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)

    def server_close(self):
        super().server_close()
        self._pool.shutdown(wait=True)


class MockRpc:
    """``with MockRpc(chain, delay_s, workers) as rpc: ... rpc.url``"""

    def __init__(self, chain: Chain, delay_s: float, workers: int):
        self.chain = chain
        self.delay_s = delay_s
        self.schedule: HeadSchedule | None = None
        self._lock = threading.Lock()
        self.counters = Counters()
        rpc = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # keep the benchmark's stdout clean
                pass

            def do_POST(self):
                body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
                out = rpc.handle(json.loads(body))
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(out)))
                self.end_headers()
                self.wfile.write(out)

        self._server = _PoolServer(("127.0.0.1", 0), Handler, workers)
        self._thread = threading.Thread(
            target=self._server.serve_forever, kwargs={"poll_interval": 0.05}, daemon=True
        )

    @property
    def url(self) -> str:
        return f"http://127.0.0.1:{self._server.server_address[1]}"

    def __enter__(self) -> MockRpc:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)

    def reset(self) -> Counters:
        """Start a fresh set of counters and return the old one."""
        with self._lock:
            old, self.counters = self.counters, Counters()
        return old

    def head(self) -> int:
        if self.schedule is None:
            return self.chain.last_slot + FINALITY_LAG
        return self.schedule.head(time.time())

    def handle(self, req: dict) -> bytes:
        method = req.get("method")
        c = self.counters
        if method == "getSlot":
            with self._lock:
                c.getslot_calls += 1
            return json.dumps({"jsonrpc": "2.0", "id": req.get("id"), "result": self.head()}).encode()
        if method != "getBlock":
            return json.dumps(
                {"jsonrpc": "2.0", "id": req.get("id"), "error": {"code": -32601, "message": "Method not found"}}
            ).encode()
        slot = int(req["params"][0])
        with self._lock:
            c.getblock_calls += 1
            c.slots.add(slot)
            c.inflight += 1
            c.inflight_max = max(c.inflight_max, c.inflight)
        out = _NULL
        try:
            if self.delay_s:
                time.sleep(self.delay_s)
            if slot + FINALITY_LAG <= self.head():  # never serve a slot before it is final
                out = self.chain.responses.get(slot, _NULL)
            return out
        finally:
            with self._lock:
                c.inflight -= 1
                c.bytes_served += len(out)
