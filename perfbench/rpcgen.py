"""Seeded JSON-RPC provider, run as its own OS process.

Plays the Ethereum node the ETL polls: ``eth_blockNumber`` returns the
current head and ``eth_getLogs`` serves the logs of a block range from
the seeded chain model (chain.py). Two control methods let the benchmark
move the head and read the counters:

- ``bench_setHead [n]`` sets the head,
- ``bench_stats []`` returns the call and byte counters.

It serves at most as many connections at once as it has CPUs; further
connections wait in the listen backlog. Running it in a separate
process keeps its JSON encoding off the interpreter lock of the
benchmark process, which also drives Spark.

    python3 perfbench/rpcgen.py --seed 7 --address 0x_origin_marketplace \
        --docs-out docs.parquet

On start it writes the docs dimension to ``--docs-out`` (if absent) and
prints ``READY <port>`` on stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from chain import START_BLOCK, ChainSpec  # noqa: E402


class Provider:
    """Chain state and counters; every handler thread shares one instance."""

    def __init__(self, spec: ChainSpec):
        self.spec = spec
        self.lock = threading.Lock()
        self.head = START_BLOCK
        self.stats = {"getlogs_calls": 0, "bytes_served": 0, "head_calls": 0}

    def count(self, **inc: int) -> None:
        with self.lock:
            for k, v in inc.items():
                self.stats[k] += v

    def call(self, method: str, params: list):
        if method == "eth_blockNumber":
            self.count(head_calls=1)
            with self.lock:
                return self.head
        if method == "eth_getLogs":
            lo, hi = int(params[0]["fromBlock"]), int(params[0]["toBlock"])
            self.count(getlogs_calls=1)
            return self.spec.logs(lo, hi)
        if method == "bench_setHead":
            with self.lock:
                self.head = int(params[0])
                return self.head
        if method == "bench_stats":
            with self.lock:
                return dict(self.stats)
        raise KeyError(method)


class BoundedServer(ThreadingHTTPServer):
    request_queue_size = 256
    daemon_threads = True

    def __init__(self, addr, handler, provider: Provider, max_conns: int):
        super().__init__(addr, handler)
        self.provider = provider
        self.slots = threading.BoundedSemaphore(max_conns)

    def process_request(self, request, client_address):
        self.slots.acquire()
        super().process_request(request, client_address)

    def process_request_thread(self, request, client_address):
        try:
            super().process_request_thread(request, client_address)
        finally:
            self.slots.release()


class Handler(BaseHTTPRequestHandler):
    def do_POST(self):  # noqa: N802
        body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
        provider: Provider = self.server.provider
        try:
            reply = {"jsonrpc": "2.0", "id": body.get("id"),
                     "result": provider.call(body["method"], body.get("params", []))}
        except KeyError:
            reply = {"jsonrpc": "2.0", "id": body.get("id"),
                     "error": {"code": -32601, "message": f"unknown method {body['method']}"}}
        payload = json.dumps(reply, separators=(",", ":")).encode()
        if body["method"] == "eth_getLogs":
            provider.count(bytes_served=len(payload))
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def log_message(self, *args):
        pass


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--address", required=True, help="the marketplace contract address")
    ap.add_argument("--docs-out", required=True, help="parquet path for the docs dimension")
    args = ap.parse_args()

    spec = ChainSpec.from_seed(args.seed, args.address)
    if not os.path.exists(args.docs_out):
        import pyarrow.parquet as pq

        tmp = f"{args.docs_out}.{os.getpid()}.tmp"
        pq.write_table(spec.docs_table(), tmp)
        os.replace(tmp, args.docs_out)

    server = BoundedServer(("127.0.0.1", 0), Handler, Provider(spec),
                           max_conns=len(os.sched_getaffinity(0)))
    print(f"READY {server.server_address[1]}", flush=True)
    try:
        server.serve_forever()
    finally:
        server.server_close()


if __name__ == "__main__":
    main()
