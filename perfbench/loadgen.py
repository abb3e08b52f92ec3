"""HTTP load generation (one client in a closed loop) and the percentile
the report uses."""

from __future__ import annotations

import http.client
import json
import math
import time
from dataclasses import dataclass

PATH = "/v1/geocode/forward"


@dataclass
class Sample:
    """One request, timed in ``time.monotonic()`` seconds from when it was
    sent until its whole response was read."""

    index: int
    sent: float
    done: float
    status: int  # HTTP status, or 0 when the request raised
    server_ms: float | None = None
    payload: dict | None = None

    @property
    def latency(self) -> float:
        return self.done - self.sent


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def closed_loop(send, n: int, clock=time.monotonic) -> list[Sample]:
    """One client sending requests ``0..n-1``, each when the previous
    response has been read."""
    samples = []
    for i in range(n):
        sent = clock()
        status, server_ms, payload = send(i)
        samples.append(Sample(i, sent, clock(), status, server_ms, payload))
    return samples


def http_sender(port: int, bodies: list[dict], timeout: float = 60.0):
    """``send(i)`` that POSTs ``bodies[i]`` to the geocode route."""

    def send(i: int):
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
        try:
            conn.request("POST", PATH, json.dumps(bodies[i]),
                         {"Content-Type": "application/json"})
            resp = conn.getresponse()
            data = resp.read()
            timing = resp.getheader("Server-Timing") or ""
            server_ms = float(timing.split("dur=")[1]) if "dur=" in timing else None
            return resp.status, server_ms, json.loads(data)
        except (OSError, http.client.HTTPException, ValueError):
            return 0, None, None
        finally:
            conn.close()

    return send
