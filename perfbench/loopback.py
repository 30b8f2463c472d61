"""Loopback LiveAgent API for the ``elt_windows`` workload.

Serves the generated pages (``windows.json``: endpoint → list of pages)
with the LiveAgent envelope ``{"data": [...]}`` on 127.0.0.1. Pages are
encoded once at start, so a request costs a dict lookup and a socket
write; the extraction time the benchmark measures is the client's.
"""
from __future__ import annotations

import json
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

_EMPTY = b'{"data":[]}'


class LoopbackApi:
    """Context manager: start on enter, stop and join on exit."""

    def __init__(self, pages_path: str):
        with open(pages_path) as f:
            pages = json.load(f)
        self._pages = {
            ep: [json.dumps({"data": p}, separators=(",", ":")).encode() for p in ps]
            for ep, ps in pages.items()
        }
        self.requests = 0
        self.rows_served = 0
        self._rows = {ep: [len(p) for p in ps] for ep, ps in pages.items()}
        self._lock = threading.Lock()
        self._server: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    @property
    def base_url(self) -> str:
        host, port = self._server.server_address[:2]
        return f"http://{host}:{port}"

    def _lookup(self, path: str, query: str) -> tuple[int, bytes]:
        ep = path.strip("/")
        if ep not in self._pages:
            return 404, b'{"error":"unknown endpoint"}'
        params = urllib.parse.parse_qs(query)
        page = int(params.get("_page", ["1"])[0])
        per_page = int(params.get("_perPage", ["100"])[0])
        pages = self._pages[ep]
        with self._lock:
            self.requests += 1
            if 1 <= page <= len(pages):
                self.rows_served += self._rows[ep][page - 1]
        if not 1 <= page <= len(pages):
            return 200, _EMPTY
        if self._rows[ep][page - 1] > per_page:
            return 400, b'{"error":"page size differs from the generated pages"}'
        return 200, pages[page - 1]

    def __enter__(self) -> "LoopbackApi":
        api = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 - http.server API name
                url = urllib.parse.urlsplit(self.path)
                status, body = api._lookup(url.path, url.query)
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *args):
                pass

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._server.daemon_threads = True
        self._thread = threading.Thread(
            target=self._server.serve_forever, name="loopback-api", daemon=True
        )
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)
