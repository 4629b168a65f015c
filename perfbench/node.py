"""Loopback Ethereum JSON-RPC node serving a generated chain.

Run as ``python3 node.py CHAIN.parquet``; it prints ``PORT <n>`` on its
first stdout line and then serves ``eth_blockNumber`` and ``eth_getLogs``
(the protocol of the engine's ``rpc_url`` transport) on 127.0.0.1 from one
thread. Responses are pre-encoded per block, so serving costs a join of
ready JSON fragments.

The head is a schedule on wall time, independent of the client (an open
loop): ``bench_live(rate)`` starts advancing the head by one block every
``1/rate`` seconds from its current value, ``bench_freeze`` stops it, and
``bench_setHead(n)`` sets it while frozen. The node runs until terminated.
It counts calls per method, its own busy time, and how late each scheduled
head step was applied (``bench_stats``), so the load generator's cost stays
visible and separate from the engine's.
"""

from __future__ import annotations

import json
import sys
import time
from http.server import BaseHTTPRequestHandler, HTTPServer

import pyarrow.parquet as pq


def _encode_blocks(path: str) -> dict[int, list[tuple[str, str, str]]]:
    """block -> [(address_lower, topic0_lower, json_log_object)] in log order."""
    cols = pq.read_table(path).to_pydict()
    out: dict[int, list[tuple[str, str, str]]] = {}
    for addr, topics, data, block, idx, txh, removed in zip(
        cols["address"], cols["topics"], cols["data"], cols["block_number"],
        cols["log_index"], cols["transaction_hash"], cols["removed"],
    ):
        obj = json.dumps(
            {
                "address": addr,
                "topics": topics,
                "data": "0x" + data.hex(),
                "blockNumber": hex(block),
                "logIndex": hex(idx),
                "transactionHash": txh,
                "removed": removed,
            }
        )
        out.setdefault(block, []).append((addr.lower(), topics[0].lower(), obj))
    return out


class Node:
    def __init__(self, path: str):
        self.blocks = _encode_blocks(path)
        self.max_block = max(self.blocks)
        self.head = min(self.blocks) - 1
        self.calls: dict[str, int] = {}
        self.busy_s = 0.0
        self.live: tuple[float, float, int] | None = None  # (t0, rate, head at t0)
        self.steps = 0
        self.late_s: list[float] = []

    def tick(self) -> None:
        """Apply every head step that is due, recording its lateness."""
        if self.live is None:
            return
        t0, rate, h0 = self.live
        now = time.time()
        while self.head < self.max_block:
            due = t0 + (self.steps + 1) / rate
            if due > now:
                break
            self.steps += 1
            self.head = h0 + self.steps
            self.late_s.append(now - due)

    def next_due(self) -> float | None:
        if self.live is None or self.head >= self.max_block:
            return None
        t0, rate, _ = self.live
        return t0 + (self.steps + 1) / rate

    def get_logs(self, flt: dict) -> str:
        lo, hi = int(flt["fromBlock"], 16), int(flt["toBlock"], 16)
        addr = flt.get("address")
        addr = addr.lower() if addr else None
        topics = flt.get("topics") or []
        t0 = topics[0].lower() if topics else None
        parts = []
        for b in range(lo, min(hi, self.head) + 1):
            for a, t, obj in self.blocks.get(b, ()):
                if (addr is None or a == addr) and (t0 is None or t == t0):
                    parts.append(obj)
        return "[" + ",".join(parts) + "]"

    def handle(self, body: dict) -> str:
        self.tick()
        method, params = body["method"], body.get("params") or []
        self.calls[method] = self.calls.get(method, 0) + 1
        if method == "eth_blockNumber":
            result = json.dumps(hex(self.head))
        elif method == "eth_getLogs":
            result = self.get_logs(params[0])
        elif method == "bench_setHead":
            self.live = None
            self.head = min(int(params[0]), self.max_block)
            result = json.dumps(self.head)
        elif method == "bench_live":
            self.live = (time.time(), float(params[0]), self.head)
            self.steps = 0
            result = json.dumps({"t0": self.live[0], "head": self.head})
        elif method == "bench_freeze":
            self.live = None
            result = json.dumps(self.head)
        elif method == "bench_stats":
            result = json.dumps(
                {"calls": self.calls, "busy_s": self.busy_s, "late_s": self.late_s}
            )
        else:
            return json.dumps(
                {"jsonrpc": "2.0", "id": body.get("id"),
                 "error": {"code": -32601, "message": f"no method {method}"}}
            )
        return '{"jsonrpc":"2.0","id":%s,"result":%s}' % (json.dumps(body.get("id")), result)


def serve(path: str) -> None:
    node = Node(path)

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_POST(self):
            t = time.perf_counter()
            body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
            payload = node.handle(body).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)
            node.busy_s += time.perf_counter() - t

    class Server(HTTPServer):
        request_queue_size = 128  # source tasks and planners connect at once

    server = Server(("127.0.0.1", 0), Handler)
    print(f"PORT {server.server_port}", flush=True)
    while True:  # until the benchmark terminates the process
        due = node.next_due()
        server.timeout = 0.5 if due is None else max(0.0, due - time.time())
        server.handle_request()
        node.tick()


if __name__ == "__main__":
    serve(sys.argv[1])
