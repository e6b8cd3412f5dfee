"""Deterministic in-process mock of the Prisma-shaped REST API
(FIXTURES.md A1-A3 shapes) for connector tests and the src-* catalog
queries. Never talks to any real endpoint; binds 127.0.0.1 on an
ephemeral port.

Every payload is a pure function of fixed constants, so the catalog
oracles can reproduce the expected DataFrames with VALUES/range() SQL.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

MOCK_TOKEN = "tok-mock-01"
MOCK_USER = "mock-user"
MOCK_PASSWORD = "mock-pass"  # test-only fixture, not a credential

# A1-shaped inventory fixture: 3 groupedAggregates rows, fixed constants
INVENTORY_FIXTURE = {
    "timestamp": 1718000000000,
    "requestedTimestamp": 1717990000000,
    "summary": {},
    "groupedAggregates": [
        {"serviceName": "Amazon EC2", "cloudTypeName": "aws",
         "failedResources": 14, "passedResources": 120, "totalResources": 134},
        {"serviceName": "Azure VM", "cloudTypeName": "azure",
         "failedResources": 5, "passedResources": 55, "totalResources": 60},
        {"serviceName": "GCS Bucket", "cloudTypeName": "gcp",
         "failedResources": 2, "passedResources": 8},  # totalResources ABSENT
    ],
}

N_ALERTS = 237
PAGE_SIZE = 100
CLOUDS = ("aws", "azure", "gcp")


def alert_item(i: int) -> dict:
    """A3-shaped alert item i — the formula the range() oracle replays."""
    return {"resource": {
        "account": f"acct-{i % 7}",
        "accountId": str(9000 + i),
        "cloudType": CLOUDS[i % 3],
        # every 11th alert has NO account groups (the reference's
        # IndexError case, SURVEY §2.5.6)
        "cloudAccountGroups": [] if i % 11 == 0 else [f"grp-{i % 3}"],
    }}


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, *a):  # silence request logging in tests
        pass

    def _send(self, code: int, body: dict, headers: dict | None = None):
        data = json.dumps(body).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        for k, v in (headers or {}).items():
            self.send_header(k, v)
        self.end_headers()
        self.wfile.write(data)

    def _authed(self) -> bool:
        # token expiry fixture: /admin/expire invalidates the (constant)
        # token until the next /login re-validates it — tokens stay a pure
        # constant so the VALUES/range() oracles stay reproducible
        expired = getattr(self.server, "token_expired", False)
        return (not expired
                and self.headers.get("x-redlock-auth") == MOCK_TOKEN)

    # ------------------------------------------------------------- GET --
    def do_GET(self):
        if self.path.startswith("/flaky"):
            n = self.server.flaky_counter = getattr(self.server, "flaky_counter", 0) + 1
            if n % 3:  # two 429s, then a 200, repeating
                self._send(429, {"error": "rate limited"})
            else:
                self._send(200, {"ok": True, "served_after": n})
        elif self.path.startswith("/v1/inventory"):
            if not self._authed():
                self._send(401, {"error": "unauthorized"})
            else:
                self._send(200, INVENTORY_FIXTURE)
        else:
            self._send(404, {"error": "not found"})

    # ------------------------------------------------------------ POST --
    def do_POST(self):
        length = int(self.headers.get("Content-Length", 0))
        payload = json.loads(self.rfile.read(length) or b"{}")
        if self.path == "/login":
            if (payload.get("username") == MOCK_USER
                    and payload.get("password") == MOCK_PASSWORD):
                self.server.token_expired = False
                self.server.login_count = getattr(self.server, "login_count", 0) + 1
                self._send(200, {"token": MOCK_TOKEN,
                                 "login_count": self.server.login_count})
            else:
                self._send(401, {"error": "bad credentials"})
        elif self.path == "/admin/expire":
            self.server.token_expired = True
            self._send(200, {"expired": True})
        elif self.path == "/v2/alerts":
            # request counter beside login_count: every /v2/alerts call,
            # probes and rejected ones included (handlers run concurrently)
            with _SERVER_LOCK:
                self.server.alerts_count = getattr(self.server, "alerts_count", 0) + 1
            if not self._authed():
                self._send(401, {"error": "unauthorized"})
                return
            # side-band test instrumentation (never in response bodies, so
            # the VALUES/range() oracles stay pure): request-start log for
            # rate-limit assertions + opt-in artificial latency
            import time as _time
            self.server.__dict__.setdefault("alert_request_log", []).append(
                (_time.time(), int(payload.get("limit", PAGE_SIZE))))
            if payload.get("_delay"):
                _time.sleep(float(payload["_delay"]))
            limit = int(payload.get("limit", PAGE_SIZE))
            tok = payload.get("pageToken")
            page = int(tok.split("-")[1]) if tok else 0
            start = page * limit
            items = [alert_item(i) for i in range(start, min(start + limit, N_ALERTS))]
            body = {"items": items}
            if start + limit < N_ALERTS:
                body["nextPageToken"] = f"page-{page + 1}"
            self._send(200, body, {"X-Total-Count": str(N_ALERTS)})
        elif self.path == "/v2/alerts-opaque":
            # production-shaped pagination: tokens are server-issued opaque
            # strings (md5 of a salted offset, resolvable only via the
            # server-side map), NO X-Total-Count — the contract the real
            # nextPageToken chain (P:266-318) exposes. ``countOnly`` is the
            # cheap cursor-walk probe: advances the chain without bodies.
            if not self._authed():
                self._send(401, {"error": "unauthorized"})
                return
            import hashlib
            # setdefault on the instance __dict__ is atomic under the
            # GIL — two concurrent first requests must share ONE map or
            # a token issued by the loser vanishes (ThreadingHTTPServer)
            tokmap = self.server.__dict__.setdefault("opaque_tokens", {})
            limit = int(payload.get("limit", PAGE_SIZE))
            tok = payload.get("pageToken")
            if tok is not None and tok not in tokmap:
                self._send(400, {"error": "unknown pageToken"})
                return
            start = tokmap[tok] if tok else 0
            # single-use-token fixture (``filters`` passthrough
            # ``{"_singleUse": true}``): the token is consumed on
            # resolution, so any second fetch of the same cursor 400s —
            # the contract a fanout plan must detect and degrade on
            if payload.get("_singleUse") and tok:
                del tokmap[tok]
            body = {}
            if payload.get("countOnly"):
                body["items"] = []
            else:
                body["items"] = [alert_item(i) for i in
                                 range(start, min(start + limit, N_ALERTS))]
            nxt = start + limit
            if nxt < N_ALERTS:
                t = "op-" + hashlib.md5(f"salt:{nxt}".encode()).hexdigest()[:12]
                tokmap[t] = nxt
                body["nextPageToken"] = t
            self._send(200, body)
        else:
            self._send(404, {"error": "not found"})


_SERVER_LOCK = threading.Lock()
_SERVER: ThreadingHTTPServer | None = None


def mock_server_url() -> str:
    """Start (once per process) the daemon mock server; return its URL."""
    global _SERVER
    with _SERVER_LOCK:
        if _SERVER is None:
            _SERVER = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
            t = threading.Thread(target=_SERVER.serve_forever, daemon=True)
            t.start()
        host, port = _SERVER.server_address
        return f"http://{host}:{port}"


def server_state() -> ThreadingHTTPServer | None:
    """The live in-process server, for test-side inspection of side-band
    instrumentation (e.g. ``alert_request_log``); None before first use."""
    return _SERVER
