"""MLLP (HL7) TCP ingest sidecar (SURVEY §2.A row 4).

Reference: ``contrib/hl7.py:18-186`` — a TCP server speaking MLLP
framing (``<VT>message<FS><CR>``); each frame becomes a message; the
channel outcome maps to an HL7 ACK (AA/AE/AR).

Spark-first shape: like the HTTP sidecar, frames land as files for the
streaming file source. Because MLLP callers expect a synchronous ACK,
the sidecar supports two modes:

* ``ack="accept"`` (default): immediate AA ACK on landing (async
  processing, the scale mode);
* ``ack=callable``: the caller supplies ``frame -> state`` (e.g. a
  driver-side ``Pipeline.handle_and_wait``) and the ACK reflects the
  pipeline outcome — reference-parity for low-volume request/response
  (SURVEY §7.4 hard parts).
"""

from __future__ import annotations

import os
import socketserver
import threading
from typing import Callable

from .http_sidecar import MLLP_CR, MLLP_FS, MLLP_VT, hl7_ack_for_state, landing_id

__all__ = ["MllpLandingServer"]


class MllpLandingServer:
    def __init__(self, landing_dir: str, host: str = "127.0.0.1", port: int = 0,
                 ack: str | Callable[[str], str] = "accept",
                 encoding: str = "utf-8"):
        self.landing_dir = landing_dir
        os.makedirs(landing_dir, exist_ok=True)
        outer = self

        class Handler(socketserver.StreamRequestHandler):
            def handle(self):
                buf = b""
                while True:
                    chunk = self.request.recv(65536)
                    if not chunk:
                        break
                    buf += chunk
                    while True:
                        start = buf.find(MLLP_VT)
                        end = buf.find(MLLP_FS + MLLP_CR)
                        if start == -1 or end == -1:
                            break
                        frame = buf[start + 1:end].decode(encoding, "replace")
                        buf = buf[end + 2:]
                        state = outer._land(frame)
                        msh = frame.split("\r")[0].split("|") if frame else []
                        ack_msg = hl7_ack_for_state(state, msh)
                        self.request.sendall(
                            MLLP_VT + ack_msg.encode(encoding) + MLLP_FS + MLLP_CR
                        )

        class Server(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

        self._ack = ack
        self._server = Server((host, port), Handler)
        self.port = self._server.server_address[1]
        self._thread: threading.Thread | None = None

    def _land(self, frame: str) -> str:
        """Write the frame as a landing file; return the state for the ACK."""
        msg_id = landing_id()
        tmp = os.path.join(self.landing_dir, f".{msg_id}.tmp")
        dest = os.path.join(self.landing_dir, f"{msg_id}.hl7")
        with open(tmp, "w") as fh:
            fh.write(frame)
        os.replace(tmp, dest)
        if callable(self._ack):
            try:
                return self._ack(frame)
            except Exception:  # noqa: BLE001 — ACK must still go out
                return "error"
        return "processed"

    def start(self) -> None:
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
