"""HTTP / MLLP ingest sidecars (SURVEY §2.A rows 3-4, §7.4).

Pypeman's HTTP and MLLP channels are socket servers whose requests
become messages and whose pipeline result becomes the response
(``contrib/http.py:99-182``, ``contrib/hl7.py:18-186``). Spark has no
server sources; the idiomatic bridge is a tiny receiver (stdlib only —
no aiohttp in this image) that appends each request as a landing file,
which the FileWatcher/streaming file source then consumes — the async
ack pattern of SURVEY §7.4.

Response semantics (both mirror the MLLP sidecar's two modes):

* default: the sidecar acks ``202 {"id": ...}`` immediately; callers
  poll the outcome via the admin API (message-store search). This is
  the scale mode — landing never blocks on Spark.
* ``respond=callable``: the caller supplies ``(payload, meta) ->
  outcome row`` (e.g. a driver-side ``Pipeline.handle_and_wait``) and
  the HTTP response carries the pipeline result — body from the result
  payload, status from ``meta['status_code']``/``meta['status']``,
  Dropped → 200 "Dropped", errors → 503, exactly
  ``contrib/http.py:159-182``. Reference-parity for low-volume
  request/response (SURVEY §7.4 hard parts).

Routing: ``url`` accepts an aiohttp-style pattern with ``{name}``
placeholders (``contrib/http.py:110-158`` registers method+url routes
and exposes ``request.match_info``); matched segments land in meta, as
do ``method``/``url``/``get_params``. ``method='*'`` accepts any verb,
including GET (empty payload), so lookup-style endpoints route too.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
import uuid
from datetime import datetime
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Callable
from urllib.parse import parse_qsl, urlsplit

__all__ = [
    "HttpLandingServer",
    "hl7_ack_for_state",
    "http_response_for_row",
    "MLLP_VT",
    "MLLP_FS",
    "MLLP_CR",
]

MLLP_VT = b"\x0b"
MLLP_FS = b"\x1c"
MLLP_CR = b"\x0d"


def hl7_ack_for_state(state: str, msh_fields: list | None = None) -> str:
    """Outcome → HL7 ACK (AA success/drop, AR reject, AE error) —
    ``contrib/hl7.py:173-186``."""
    code = {
        "processed": "AA",
        "dropped": "AA",
        "rejected": "AR",
    }.get(state, "AE")
    ctrl_id = ""
    if msh_fields and len(msh_fields) > 9:
        ctrl_id = msh_fields[9] if isinstance(msh_fields[9], str) else ""
    return f"MSH|^~\\&|PYPEMAN_SPARK|ACK|||{time.strftime('%Y%m%d%H%M%S')}||ACK|{ctrl_id}|P|2.3.1\rMSA|{code}|{ctrl_id}|\r"


def landing_id() -> str:
    """A landing file's name stem, ``<YYYYmmdd_HHMMSS_ffffff>_<uuid>``:
    files sort by arrival to the microsecond, where a stamp to the second
    would order two arrivals within one second by their random uuid."""
    return f"{datetime.now().strftime('%Y%m%d_%H%M%S_%f')}_{uuid.uuid4().hex}"


def http_response_for_row(row) -> tuple[int, str]:
    """Pipeline outcome row → ``(status, body)`` per
    ``contrib/http.py:159-182``: result payload is the body and
    ``meta['status_code']`` (legacy ``'status'``) the code; ``Dropped``
    → 200 "Dropped"; rejected/error → 503 with the error message."""
    if row is None:
        return 503, "no result"
    get = row.get if isinstance(row, dict) else row.asDict().get
    state = get("state")
    if state == "dropped":
        return 200, "Dropped"
    if state in ("rejected", "error"):
        return 503, str(get("err_msg") or state)
    meta = dict(get("meta") or {})
    # reference warns on 'status' but still honors it first
    status = meta.get("status", meta.get("status_code", 200))
    try:
        status = int(status)
    except (TypeError, ValueError):
        status = 200
    payload = get("payload")
    return status, "" if payload is None else str(payload)


def _compile_url_pattern(url: str) -> re.Pattern:
    """aiohttp-style ``/orders/{order_id}`` → anchored regex with named
    groups (``contrib/http.py:110-158`` match_info)."""
    out, pos = "", 0
    for m in re.finditer(r"\{(\w+)\}", url):
        out += re.escape(url[pos:m.start()]) + f"(?P<{m.group(1)}>[^/]+)"
        pos = m.end()
    out += re.escape(url[pos:])
    return re.compile(f"^{out}$")


class HttpLandingServer:
    """Threaded stdlib HTTP server: each request lands as
    ``<landing_dir>/<ts>_<uuid>.json`` with method/url/match-info/query
    meta — the exact meta surface of ``contrib/http.py:141-158``.

    :param url: optional route pattern (``/a/{b}``); non-matching paths
        get 404. ``None`` accepts every path.
    :param method: verb filter (``'*'`` = any, reference default).
    :param respond: optional ``(payload, meta) -> outcome row`` for
        synchronous request/response mode (see module docstring).
    :param add_headers: land request headers in meta
        (``contrib/http.py:154-155``).
    """

    def __init__(self, landing_dir: str, host: str = "127.0.0.1", port: int = 0,
                 url: str | None = None, method: str = "*",
                 respond: Callable[[str, dict], object] | None = None,
                 add_headers: bool = False, encoding: str = "utf-8"):
        self.landing_dir = landing_dir
        os.makedirs(landing_dir, exist_ok=True)
        self._respond = respond
        self._rx = _compile_url_pattern(url) if url else None
        self._method = method.upper()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def _reply(self, status: int, body: str,
                       content_type: str = "application/json") -> None:
                data = body.encode(encoding, "replace")
                self.send_response(status)
                self.send_header("Content-Type", content_type)
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def _land(self):
                parts = urlsplit(self.path)
                if outer._method not in ("*", self.command):
                    self._reply(405, "method not allowed", "text/plain")
                    return
                match_info: dict[str, str] = {}
                if outer._rx is not None:
                    m = outer._rx.match(parts.path)
                    if not m:
                        self._reply(404, "not found", "text/plain")
                        return
                    match_info = m.groupdict()
                length = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(length).decode(encoding, "replace")
                msg_id = landing_id()
                # match-info first: known keys (method/url/...) win on
                # collision, same as contrib/http.py:145-150
                meta = dict(match_info)
                meta.update({
                    "method": self.command,
                    "url": self.path,
                    "get_params": json.dumps(dict(parse_qsl(parts.query))),
                })
                if add_headers:
                    meta.update({
                        f"header_{k.lower()}": v for k, v in self.headers.items()
                    })
                else:
                    meta.update({
                        f"header_{k.lower()}": v
                        for k, v in self.headers.items()
                        if k.lower() in ("content-type", "x-request-id")
                    })
                record = {"payload": body, "meta": meta}
                tmp = os.path.join(outer.landing_dir, f".{msg_id}.tmp")
                dest = os.path.join(outer.landing_dir, f"{msg_id}.json")
                with open(tmp, "w") as fh:
                    json.dump(record, fh)
                os.replace(tmp, dest)  # atomic: the file source never sees partials
                if outer._respond is not None:
                    try:
                        row = outer._respond(body, meta)
                        status, rbody = http_response_for_row(row)
                    except Exception as exc:  # noqa: BLE001 — 503 like the ref
                        status, rbody = 503, str(exc)
                    self._reply(status, rbody, "text/plain")
                else:
                    self._reply(202, json.dumps({"id": msg_id}))

            do_POST = _land
            do_PUT = _land
            do_GET = _land
            do_DELETE = _land
            do_PATCH = _land

        self._server = ThreadingHTTPServer((host, port), Handler)
        self.port = self._server.server_port
        self._thread: threading.Thread | None = None

    def start(self) -> None:
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
