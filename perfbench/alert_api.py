"""Seeded alert API for the ``alert-ingest`` workload.

A stand-alone HTTP server shaped like the Prisma endpoints the package's
REST connector reads:

- ``POST /login``       -> ``{"token": ...}``
- ``GET  /v1/inventory`` -> one inventory document (``groupedAggregates``)
- ``POST /v2/alerts``    -> indexed paging: ``pageToken: "page-<i>"``,
  ``limit`` items per page, ``X-Total-Count`` on every answer

Load shaping: every request sleeps ``DELAY_S`` before answering, and
every ``THROTTLE_EVERY``-th request (counted over all three endpoints)
is answered 429 with no ``Retry-After``, so the client's own exponential
backoff decides the wait. Requests run on one handler thread per CPU
this process may use.

Counters (read with ``GET /_stats``, zeroed with ``POST /_reset``; neither
is counted): requests, full alert pages served, 429s, and the summed gap
between each 429 and the retry of the same request.

The alert list is a pure function of ``(seed, n_alerts)`` —
``make_alerts`` — so the benchmark recomputes the expected report from
the same call without talking to the server.

Run: ``python3 perfbench/alert_api.py --seed 1 --alerts 2000``; the first
line on stdout is ``PORT <n>`` once the socket is bound.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer

USER = "bench-user"
PASSWORD = "bench-pass"  # local load-generator credential, not a secret
TOKEN = "tok-bench"
PAGE_SIZE = 100
# A local API answers in milliseconds; 2 ms keeps the service time small
# but non-zero, so the connector's per-page cost, not the server,
# dominates the scan.
DELAY_S = 0.002
# About one request in ten is throttled: at the benchmark's size (14
# requests an iteration) every iteration takes the retry path once, and
# the connector's first backoff step stays a small share of the
# iteration.
THROTTLE_EVERY = 10
CLOUDS = ("aws", "azure", "gcp")
SERVICES = ("Amazon EC2", "Amazon S3", "Amazon RDS", "AWS Lambda",
            "Azure VM", "Azure Blob", "Azure SQL", "GCE", "GCS Bucket",
            "Cloud SQL", "GKE", "EKS")


def make_alerts(seed: int, n: int) -> list[dict]:
    """``n`` alert items drawn from ``seed``: a Zipf-ish account
    popularity (a few hot accounts, a long tail), every cloud type, and
    about one alert in nine without account groups (the reference's
    empty-list case)."""
    rng = random.Random(seed)
    n_accounts = max(3, n // 25)
    weights = [1.0 / (i + 1) for i in range(n_accounts)]
    accounts = rng.choices(range(n_accounts), weights=weights, k=n)
    out = []
    for i, a in enumerate(accounts):
        groups = ([] if rng.random() < 0.11
                  else [f"grp-{rng.randrange(6)}"])
        out.append({"resource": {
            "account": f"acct-{a:04d}",
            "accountId": str(100000 + a * 7 + rng.randrange(3)),
            "cloudType": CLOUDS[(a + i) % 3] if rng.random() < 0.2
            else CLOUDS[a % 3],
            "cloudAccountGroups": groups,
        }})
    return out


def make_inventory(seed: int) -> dict:
    """One inventory document; a few numeric fields are left out so the
    report's null fill has work to do."""
    rng = random.Random(seed * 7919 + 1)
    rows = []
    for s in SERVICES:
        failed, passed = rng.randrange(0, 40), rng.randrange(10, 400)
        row = {"serviceName": s, "cloudTypeName": CLOUDS[len(s) % 3],
               "failedResources": failed, "passedResources": passed,
               "totalResources": failed + passed}
        if rng.random() < 0.25:
            del row[rng.choice(("failedResources", "totalResources"))]
        rows.append(row)
    return {"timestamp": 1718000000000 + seed,
            "requestedTimestamp": 1717990000000 + seed,
            "summary": {}, "groupedAggregates": rows}


class Counters:
    """Request accounting shared by the handler threads."""

    def __init__(self):
        self.lock = threading.Lock()
        self.reset()

    def reset(self):
        self.n = 0  # ordinal used for the every-k-th 429
        self.requests = 0
        self.pages = 0
        self.throttled = 0
        self.retry_gap_s = 0.0
        self.pending: dict[tuple, float] = {}

    def admit(self, key: tuple) -> bool:
        """Count one request; False when it is to be answered 429."""
        now = time.monotonic()
        with self.lock:
            self.n += 1
            self.requests += 1
            t429 = self.pending.pop(key, None)
            if t429 is not None:
                self.retry_gap_s += now - t429
            if self.n % THROTTLE_EVERY == 0:
                self.throttled += 1
                self.pending[key] = now
                return False
            return True

    def snapshot(self) -> dict:
        with self.lock:
            return {"requests": self.requests, "pages": self.pages,
                    "throttled": self.throttled,
                    "retry_gap_s": self.retry_gap_s}


class PooledHTTPServer(HTTPServer):
    """HTTPServer whose requests run on a fixed pool of handler threads."""

    daemon_threads = True

    def __init__(self, addr, handler, threads: int):
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=threads)

    def process_request(self, request, client_address):
        self.pool.submit(self._work, request, client_address)

    def _work(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)

    def server_close(self):
        super().server_close()
        self.pool.shutdown(wait=True)


class Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.0"

    def log_message(self, *args):
        pass

    def _send(self, code: int, body: dict, headers: dict | None = None):
        data = json.dumps(body).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        for k, v in (headers or {}).items():
            self.send_header(k, v)
        self.end_headers()
        self.wfile.write(data)

    def _gate(self, key: tuple) -> bool:
        """Delay, count and maybe throttle; True when the caller answers."""
        time.sleep(DELAY_S)
        if self.server.counters.admit(key):
            return True
        self._send(429, {"error": "rate limited"})
        return False

    def _authed(self) -> bool:
        if self.headers.get("x-redlock-auth") == TOKEN:
            return True
        self._send(401, {"error": "unauthorized"})
        return False

    def do_GET(self):
        if self.path == "/_stats":
            self._send(200, self.server.counters.snapshot())
        elif self.path.startswith("/v1/inventory"):
            if self._gate(("GET", self.path)) and self._authed():
                self._send(200, self.server.inventory)
        else:
            self._send(404, {"error": "not found"})

    def do_POST(self):
        raw = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        payload = json.loads(raw or b"{}")
        srv = self.server
        if self.path == "/_reset":
            with srv.counters.lock:
                srv.counters.reset()
            self._send(200, {"reset": True})
        elif self.path == "/login":
            if not self._gate(("POST", "/login")):
                return
            if (payload.get("username"), payload.get("password")) != (USER, PASSWORD):
                self._send(401, {"error": "bad credentials"})
                return
            self._send(200, {"token": TOKEN})
        elif self.path == "/v2/alerts":
            limit = int(payload.get("limit", PAGE_SIZE))
            tok = payload.get("pageToken")
            if not self._gate(("POST", "/v2/alerts", tok, limit)) or not self._authed():
                return
            page = int(tok.split("-")[1]) if tok else 0
            start = page * limit
            alerts = srv.alerts
            body = {"items": alerts[start:start + limit]}
            if start + limit < len(alerts):
                body["nextPageToken"] = f"page-{page + 1}"
            if limit >= PAGE_SIZE:  # smaller limits are probes
                with srv.counters.lock:
                    srv.counters.pages += 1
            self._send(200, body, {"X-Total-Count": str(len(alerts))})
        else:
            self._send(404, {"error": "not found"})


def serve(seed: int, n_alerts: int) -> None:
    srv = PooledHTTPServer(("127.0.0.1", 0), Handler,
                           len(os.sched_getaffinity(0)))
    srv.alerts = make_alerts(seed, n_alerts)
    srv.inventory = make_inventory(seed)
    srv.counters = Counters()
    print(f"PORT {srv.server_address[1]}", flush=True)
    # the parent closes our stdin to stop us; watch it from a thread
    stopper = threading.Thread(
        target=lambda: (sys.stdin.read(), srv.shutdown()), daemon=True)
    stopper.start()
    try:
        srv.serve_forever(poll_interval=0.05)
    finally:
        srv.server_close()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--alerts", type=int, required=True)
    a = p.parse_args(argv)
    serve(a.seed, a.alerts)
    return 0


if __name__ == "__main__":
    sys.exit(main())
