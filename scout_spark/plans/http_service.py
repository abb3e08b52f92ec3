"""HTTP shim over the Python service API — closes the reference's
user-facing boundary (reference app.py:41-120: POST /v1/geocode/forward,
GET /healthz, Server-Timing/X-Process-Time middleware).

Runs a stdlib ThreadingHTTPServer speaking the reference's FastAPI wire
contract — request body ``{"candidates": [{"text": ...}], "country",
"city_hint", "limit"}`` (plain-string candidates also accepted),
response ``{"hits": [...]}``, schema-validated 422s with FastAPI's
``{"detail": [{"type", "loc", "msg", "input"}]}`` error envelope
(plans/openapi.py::validate_forward), a generated OpenAPI 3.1 document
at GET /openapi.json (mirroring the reference's pydantic-derived
schema + openapi_examples, app.py:14-38,74-85), and timing headers on
every response. A request the engine fails on gets a 500 with
``{"detail": "Internal Server Error"}`` (traceback on stderr) and the
service keeps serving. Requests share the one long-lived SparkSession/engine
(SURVEY.md §2.1 S3: singleton session replaces per-request
connections); http.server's threading model mirrors FastAPI running
sync endpoints on a threadpool.
"""

from __future__ import annotations

import json
import sys
import time
import traceback
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from scout_spark.plans.api import forward_geocode
from scout_spark.plans.geocode import ScoutEngine
from scout_spark.plans.openapi import openapi_spec, validate_forward


def make_handler(engine: ScoutEngine):
    class Handler(BaseHTTPRequestHandler):
        # quiet request logging; tests and embedded use don't want stderr spam
        def log_message(self, fmt, *args):  # noqa: D102
            pass

        def _respond(self, status: int, payload: dict, t0: float) -> None:
            body = json.dumps(payload).encode("utf-8")
            dur_ms = (time.perf_counter() - t0) * 1000.0
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            # reference app.py:58-65 middleware
            self.send_header("Server-Timing", f"app;dur={dur_ms:.1f}")
            self.send_header("X-Process-Time", f"{dur_ms:.1f}ms")
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):  # noqa: N802
            t0 = time.perf_counter()
            if self.path == "/healthz":
                self._respond(200, {"ok": True}, t0)
            elif self.path == "/openapi.json":
                self._respond(200, openapi_spec(), t0)
            else:
                self._respond(404, {"detail": "Not Found"}, t0)

        def do_POST(self):  # noqa: N802
            t0 = time.perf_counter()
            if self.path != "/v1/geocode/forward":
                self._respond(404, {"detail": "Not Found"}, t0)
                return
            length = self.headers.get("Content-Length", "0")
            try:
                # Content-Length is 1*DIGIT: read(-1) would wait for EOF
                # and a length past sys.maxsize overflows read(), so
                # neither reaches the socket
                n = int(length) if length.isascii() and length.isdigit() else -1
                if not 0 <= n <= sys.maxsize:
                    raise ValueError(f"invalid Content-Length {length!r}")
                body = json.loads(self.rfile.read(n) or b"{}")
            except ValueError as e:
                # FastAPI wraps malformed JSON as a body-level 422 too
                self._respond(
                    422,
                    {"detail": [{
                        "type": "json_invalid", "loc": ["body"],
                        "msg": f"JSON decode error: {e}", "input": None,
                    }]},
                    t0,
                )
                return
            req, errors = validate_forward(body)
            if errors:
                self._respond(422, {"detail": errors}, t0)
                return
            try:
                resp = forward_geocode(engine, req)
            except Exception:
                # a failed request (e.g. a failed Spark job) is this
                # request's 500, not a dropped connection; the shared
                # engine keeps serving
                traceback.print_exc()
                self._respond(500, {"detail": "Internal Server Error"}, t0)
                return
            self._respond(200, {"hits": resp.hits}, t0)

    return Handler


def serve(engine: ScoutEngine, host: str = "127.0.0.1", port: int = 0):
    """Start the HTTP service; returns the (running, threaded) server —
    call ``.server_address`` for the bound port, ``.shutdown()`` to
    stop. A FastAPI deployment would mount the same three routes over
    ``forward_geocode`` (and generate the /openapi.json document that
    plans/openapi.py hand-maintains)."""
    server = ThreadingHTTPServer((host, port), make_handler(engine))
    import threading

    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server
