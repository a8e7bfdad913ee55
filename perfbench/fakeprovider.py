"""Loopback fake of the OpenAI Files + Batches wire, run as its own process.

Serves what ``inference.providers.OpenAIBatchBackend`` calls:

* ``POST /v1/files`` (multipart ``files.create``),
* ``POST /v1/batches`` and ``GET /v1/batches/{id}`` (each batch reports
  ``in_progress`` on its first retrieve and ``completed`` after that),
* ``GET /v1/files/{id}/content``, ``DELETE /v1/files/{id}`` and
  ``POST /v1/batches/{id}/cancel``.

Batch outputs follow the deterministic mock rule
(``inference.mock.MockInferenceClient``): successful lines go to the
output file, error lines to the error file. A fixed seeded share of
requests (``FAULT_SHARE``) is refused with ``429`` and ``Retry-After: 0``;
the retry of a refused request is never refused again, so every job
completes. File and batch ids are derived from what was uploaded or
created, so for a fixed seed the fault schedule depends only on the
requests the client sends, not on their timing. Each
request is logged as one JSON line: wall time, route, method, status,
request and response bytes, handling time and whether a fault was
injected.

Run: ``python3 perfbench/fakeprovider.py --seed 1 --log provider.jsonl``;
the first line on stdout is the port it listens on (127.0.0.1 only).
The server uses at most as many threads as the process may use cores,
the accept loop included.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import signal
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer

FAULT_SHARE = 0.1
ROUTES = ("files_create", "batches_create", "batches_retrieve", "file_content", "other")


def route_of(method: str, path: str) -> str:
    if method == "POST" and path == "/v1/files":
        return "files_create"
    if method == "POST" and path == "/v1/batches":
        return "batches_create"
    if method == "GET" and re.fullmatch(r"/v1/batches/[^/]+", path):
        return "batches_retrieve"
    if method == "GET" and re.fullmatch(r"/v1/files/[^/]+/content", path):
        return "file_content"
    return "other"


def multipart_file(body: bytes, content_type: str) -> bytes:
    """The payload of the ``file`` field of a multipart/form-data body."""
    m = re.search(r"boundary=(\S+)", content_type or "")
    if m is None:
        raise ValueError("multipart body without boundary")
    for part in body.split(b"--" + m.group(1).encode()):
        head, sep, data = part.partition(b"\r\n\r\n")
        if sep and b'name="file"' in head:
            return data[:-2] if data.endswith(b"\r\n") else data
    raise ValueError("multipart body without a file field")


def mock_outputs(jsonl: bytes) -> tuple[bytes, bytes]:
    """(output file, error file) for a batch input file, by the mock rule."""
    from genai_batch_processor_spark.inference.mock import MockInferenceClient

    client = MockInferenceClient()
    ok, err = [], []
    for line in jsonl.splitlines():
        if not line.strip():
            continue
        req = json.loads(line)
        prompt = req["body"]["messages"][-1]["content"][-1]["text"]
        resp = client.complete(req["custom_id"], prompt)
        (err if resp["error"] else ok).append(json.dumps(resp))
    return ("\n".join(ok) + "\n").encode(), ("\n".join(err) + "\n").encode()


def fault_identity(route: str, body: bytes, ctype: str) -> bytes:
    """The part of a request body that names what it asks for: the file
    of an upload, the input file of a batch create (its metadata carries
    the client's random job id), nothing for requests addressed by path."""
    if route == "files_create":
        return multipart_file(body, ctype)
    if route == "batches_create":
        return json.loads(body)["input_file_id"].encode()
    return b""


class Provider:
    """Server-side state: files, batches and the fault schedule."""

    def __init__(self, seed: int, log_path: str):
        self.seed = seed
        self.lock = threading.Lock()
        self.files: dict[str, bytes] = {}
        self.batches: dict[str, dict] = {}
        self.seen: dict[tuple, int] = {}
        self.faulted: set[tuple] = set()
        self.minted: dict[str, int] = {}
        self.log = open(log_path, "a", buffering=1)

    def close(self) -> None:
        self.log.close()

    def should_fault(self, key: tuple) -> bool:
        """Seeded share of request identities get one 429; the identity's
        next request (the retry) always passes."""
        with self.lock:
            n = self.seen.get(key, 0)
            self.seen[key] = n + 1
            if key in self.faulted:
                self.faulted.discard(key)
                return False
            h = hashlib.sha256(repr((self.seed, key, n)).encode()).digest()
            hit = int.from_bytes(h[:8], "big") / 2.0**64 < FAULT_SHARE
            if hit:
                self.faulted.add(key)
            return hit

    def _mint(self, prefix: str, basis: str) -> str:
        """An id from the hash of ``basis`` and how often it was seen;
        caller holds the lock."""
        key = f"{prefix}{hashlib.sha1(basis.encode()).hexdigest()[:12]}"
        n = self.minted.get(key, 0)
        self.minted[key] = n + 1
        return f"{key}-{n}"

    def _store(self, data: bytes, basis: str) -> str:
        fid = self._mint("file-", basis + hashlib.sha1(data).hexdigest())
        self.files[fid] = data
        return fid

    @staticmethod
    def _view(batch: dict) -> dict:
        return {k: v for k, v in batch.items() if k != "retrieves"}

    def record(self, entry: dict) -> None:
        line = json.dumps(entry)
        with self.lock:
            self.log.write(line + "\n")

    def handle(self, method: str, path: str, body: bytes, ctype: str) -> tuple[int, dict | bytes]:
        if method == "POST" and path == "/v1/files":
            data = multipart_file(body, ctype)
            with self.lock:
                fid = self._store(data, "upload")
            return 200, {"id": fid, "object": "file", "bytes": len(data), "purpose": "batch"}
        if method == "POST" and path == "/v1/batches":
            req = json.loads(body)
            with self.lock:
                if req["input_file_id"] not in self.files:
                    return 404, {"error": {"message": "no such file"}}
                bid = self._mint("batch_", req["input_file_id"])
                b = {"id": bid, "status": "in_progress", "input_file_id": req["input_file_id"], "retrieves": 0}
                self.batches[bid] = b
                return 200, dict(self._view(b), status="validating")
        m = re.fullmatch(r"/v1/batches/([^/]+)/cancel", path)
        if m and method == "POST":
            with self.lock:
                b = self.batches.get(m.group(1))
                if b is None:
                    return 404, {"error": {"message": "no such batch"}}
                b["status"] = "cancelled"
                return 200, self._view(b)
        m = re.fullmatch(r"/v1/batches/([^/]+)", path)
        if m and method == "GET":
            with self.lock:
                b = self.batches.get(m.group(1))
                if b is None:
                    return 404, {"error": {"message": "no such batch"}}
                b["retrieves"] += 1
                due = b["retrieves"] > 1 and b["status"] == "in_progress"
                data = self.files[b["input_file_id"]] if due else None
            if due:
                out, err = mock_outputs(data)
                with self.lock:
                    if b["status"] == "in_progress":
                        b["output_file_id"] = self._store(out, b["id"] + "out")
                        b["error_file_id"] = self._store(err, b["id"] + "err")
                        b["status"] = "completed"
            with self.lock:
                return 200, self._view(b)
        m = re.fullmatch(r"/v1/files/([^/]+)(/content)?", path)
        if m:
            with self.lock:
                if method == "DELETE":
                    self.files.pop(m.group(1), None)
                    return 200, {"id": m.group(1), "deleted": True}
                data = self.files.get(m.group(1))
            if data is None:
                return 404, {"error": {"message": "no such file"}}
            return 200, data if m.group(2) else {"id": m.group(1), "bytes": len(data)}
        return 404, {"error": {"message": f"no route {method} {path}"}}


def make_handler(provider: Provider):
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.0"

        def log_message(self, *args) -> None:  # noqa: D401 — silence stderr
            pass

        def _serve(self) -> None:
            t_wall, t0 = time.time(), time.perf_counter()
            n = int(self.headers.get("Content-Length") or 0)
            body = self.rfile.read(n) if n else b""
            path = self.path.split("?")[0]
            route = route_of(self.command, path)
            ctype = self.headers.get("Content-Type", "")
            key = (self.command, path, hashlib.sha1(fault_identity(route, body, ctype)).hexdigest())
            fault = provider.should_fault(key)
            if fault:
                status, payload, extra = 429, {"error": {"message": "rate limited"}}, {"Retry-After": "0"}
            else:
                status, payload = provider.handle(self.command, path, body, ctype)
                extra = {}
            raw = payload if isinstance(payload, bytes) else json.dumps(payload).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/octet-stream" if isinstance(payload, bytes) else "application/json")
            self.send_header("Content-Length", str(len(raw)))
            for k, v in extra.items():
                self.send_header(k, v)
            self.end_headers()
            self.wfile.write(raw)
            provider.record(
                {
                    "t": t_wall,
                    "route": route,
                    "method": self.command,
                    "status": status,
                    "req_bytes": len(body),
                    "resp_bytes": len(raw),
                    "handle_s": time.perf_counter() - t0,
                    "fault": fault,
                }
            )

        do_GET = do_POST = do_DELETE = _serve

    return Handler


class PooledHTTPServer(HTTPServer):
    """HTTPServer whose requests run on a fixed pool of worker threads."""

    def __init__(self, addr, handler, workers: int):
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=workers)

    def process_request(self, request, client_address) -> None:
        self.pool.submit(self._work, request, client_address)

    def _work(self, request, client_address) -> None:
        try:
            self.finish_request(request, client_address)
        except Exception:  # noqa: BLE001 — one bad request must not stop the server
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)

    def server_close(self) -> None:
        super().server_close()
        self.pool.shutdown(wait=True)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--log", required=True)
    args = ap.parse_args(argv)
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    provider = Provider(args.seed, args.log)
    threads = len(os.sched_getaffinity(0))
    server = PooledHTTPServer(("127.0.0.1", 0), make_handler(provider), max(1, threads - 1))
    server.timeout = 0.05
    stop = threading.Event()
    signal.signal(signal.SIGTERM, lambda *_: stop.set())
    parent = os.getppid()
    print(server.server_address[1], flush=True)
    try:
        # a parent that died without stopping us leaves us re-parented
        while not stop.is_set() and os.getppid() == parent:
            server.handle_request()
    finally:
        server.server_close()
        provider.close()


if __name__ == "__main__":
    main()
