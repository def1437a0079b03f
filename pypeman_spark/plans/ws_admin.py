"""WebSocket JSON-RPC admin transport (SURVEY §2.G row 61; VERDICT r01
missing item 4).

Reference: ``remoteadmin.py:42-228`` — a websocket server dispatching
JSON-RPC 2.0 requests (``jsonrpcserver``) to admin verbs (``channels``,
``start_channel``, ``stop_channel``, ``list_msgs``, ``view_msg``,
``preview_msg``, ``replay_msg``, ``push_msg``), plus a client the
interactive shell drives (``remoteadmin.py:231-283``).

This image has no ``websockets``/``jsonrpcserver`` packages, so the
transport is a minimal stdlib RFC 6455 implementation: HTTP upgrade
handshake (Sec-WebSocket-Accept = b64(sha1(key + GUID))), single-frame
text messages, masked client→server frames, ping/pong and close
handling. The RPC layer speaks JSON-RPC 2.0 (positional or named
params) against the same :class:`~.admin.ChannelRegistry` the REST
transport uses — one verb surface, two wire protocols, exactly like the
reference's REST + websocket pair.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import socket
import socketserver
import struct
import threading
from urllib.parse import urlparse

__all__ = ["WsAdminServer", "WsAdminClient"]

_WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"


# -- RFC 6455 framing (shared by server and client) ----------------------

def _accept_key(key: str) -> str:
    return base64.b64encode(
        hashlib.sha1((key + _WS_GUID).encode()).digest()
    ).decode()


def _encode_frame(data: bytes, opcode: int = 0x1, mask: bool = False) -> bytes:
    head = bytes([0x80 | opcode])
    n = len(data)
    mask_bit = 0x80 if mask else 0
    if n < 126:
        head += bytes([mask_bit | n])
    elif n < 65536:
        head += bytes([mask_bit | 126]) + struct.pack(">H", n)
    else:
        head += bytes([mask_bit | 127]) + struct.pack(">Q", n)
    if mask:
        key = os.urandom(4)
        masked = bytes(b ^ key[i % 4] for i, b in enumerate(data))
        return head + key + masked
    return head + data


def _read_exact(sock: socket.socket, n: int) -> bytes:
    buf = b""
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise ConnectionError("websocket peer closed")
        buf += chunk
    return buf


def _decode_frame(sock: socket.socket) -> tuple[int, bytes]:
    """Read one frame; returns ``(opcode, payload)``."""
    b1, b2 = _read_exact(sock, 2)
    opcode = b1 & 0x0F
    masked = bool(b2 & 0x80)
    n = b2 & 0x7F
    if n == 126:
        (n,) = struct.unpack(">H", _read_exact(sock, 2))
    elif n == 127:
        (n,) = struct.unpack(">Q", _read_exact(sock, 8))
    key = _read_exact(sock, 4) if masked else None
    data = _read_exact(sock, n)
    if key:
        data = bytes(b ^ key[i % 4] for i, b in enumerate(data))
    return opcode, data


# -- server ---------------------------------------------------------------

class WsAdminServer:
    """WebSocket JSON-RPC server over a ChannelRegistry
    (``remoteadmin.py:42-79`` start/command loop)."""

    def __init__(self, registry, host: str = "127.0.0.1", port: int = 0):
        self.registry = registry
        outer = self

        class Handler(socketserver.BaseRequestHandler):
            def handle(self):
                sock = self.request
                if not self._handshake(sock):
                    return
                while True:
                    try:
                        opcode, data = _decode_frame(sock)
                    except (ConnectionError, OSError):
                        return
                    if opcode == 0x8:  # close
                        try:
                            sock.sendall(_encode_frame(b"", opcode=0x8))
                        except OSError:
                            pass
                        return
                    if opcode == 0x9:  # ping → pong
                        sock.sendall(_encode_frame(data, opcode=0xA))
                        continue
                    if opcode != 0x1:
                        continue
                    resp = outer._dispatch(data.decode("utf-8", "replace"))
                    sock.sendall(_encode_frame(resp.encode()))

            def _handshake(self, sock: socket.socket) -> bool:
                req = b""
                while b"\r\n\r\n" not in req:
                    chunk = sock.recv(4096)
                    if not chunk:
                        return False
                    req += chunk
                headers = {}
                for line in req.split(b"\r\n")[1:]:
                    if b":" in line:
                        k, v = line.split(b":", 1)
                        headers[k.strip().lower().decode()] = v.strip().decode()
                key = headers.get("sec-websocket-key")
                if not key or "websocket" not in headers.get("upgrade", "").lower():
                    sock.sendall(b"HTTP/1.1 400 Bad Request\r\n\r\n")
                    return False
                sock.sendall(
                    b"HTTP/1.1 101 Switching Protocols\r\n"
                    b"Upgrade: websocket\r\n"
                    b"Connection: Upgrade\r\n"
                    b"Sec-WebSocket-Accept: " + _accept_key(key).encode() +
                    b"\r\n\r\n"
                )
                return True

        class Server(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

        self._server = Server((host, port), Handler)
        self.port = self._server.server_address[1]
        self._thread: threading.Thread | None = None

    # -- JSON-RPC 2.0 dispatch (remoteadmin.py:84-228 verb set) ----------
    _METHODS = {
        "channels": ("registry",),
        "start_channel": ("channel",),
        "stop_channel": ("channel",),
        "list_msgs": ("channel", "start", "count", "order_by", "start_dt",
                      "end_dt", "text", "rtext", "start_id"),
        "view_msg": ("channel", "msg_id"),
        "preview_msg": ("channel", "msg_id"),
        "replay_msg": ("channel", "msg_id"),
        "push_msg": ("channel", "text"),
        "tables": ("registry",),
        "table_info": ("table",),
        "table_history": ("table",),
        "table_rows": ("table", "version", "limit"),
    }

    def _dispatch(self, raw: str) -> str:
        rid = None
        try:
            req = json.loads(raw)
            rid = req.get("id")
            method = req["method"]
            params = req.get("params", [])
            if method not in self._METHODS:
                return json.dumps({
                    "jsonrpc": "2.0", "id": rid,
                    "error": {"code": -32601, "message": f"method {method!r} not found"},
                })
            if isinstance(params, dict):
                kwargs = dict(params)
            else:
                names = self._METHODS[method]
                kwargs = {} if names == ("registry",) else dict(zip(names, params))
            result = self._call(method, kwargs)
            return json.dumps({"jsonrpc": "2.0", "id": rid, "result": result})
        except KeyError as exc:
            return json.dumps({
                "jsonrpc": "2.0", "id": rid,
                "error": {"code": -32602, "message": f"unknown channel/param {exc}"},
            })
        except Exception as exc:  # noqa: BLE001 — RPC boundary
            return json.dumps({
                "jsonrpc": "2.0", "id": rid,
                "error": {"code": -32000, "message": str(exc)},
            })

    def _call(self, method: str, kw: dict):
        reg = self.registry
        if method == "channels":
            # reference returns [{name, status}] (remoteadmin.py:101-112)
            return [
                {"name": n, "status": reg.channel_status(n)} for n in reg.names()
            ]
        if method == "start_channel":
            return reg.start_channel(kw["channel"])
        if method == "stop_channel":
            return reg.stop_channel(kw["channel"])
        if method == "list_msgs":
            channel = kw.pop("channel")
            kw = {k: v for k, v in kw.items() if v is not None}
            msgs = reg.list_msgs(channel, **kw)
            return {"messages": msgs,
                    "total": reg.get(channel).message_store.total()}
        if method == "view_msg":
            return reg.view_msg(kw["channel"], kw["msg_id"])
        if method == "preview_msg":
            return {"preview": reg.preview_msg(kw["channel"], kw["msg_id"])}
        if method == "replay_msg":
            return reg.replay_msg(kw["channel"], kw["msg_id"])
        if method == "push_msg":
            return reg.push_msg(kw["channel"], kw["text"])
        if method == "tables":
            return [reg.table_info(n) for n in reg.table_names()]
        if method == "table_info":
            return reg.table_info(kw["table"])
        if method == "table_history":
            return {
                "name": kw["table"],
                "history": reg.table_history(kw["table"]),
            }
        if method == "table_rows":
            return reg.table_rows(
                kw["table"],
                version=kw.get("version"),
                limit=kw.get("limit") or 100,
            )
        raise KeyError(method)

    def start(self) -> None:
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()


# -- client ---------------------------------------------------------------

class WsAdminClient:
    """Blocking websocket JSON-RPC client (``remoteadmin.py:231-283``) —
    one connection per command, like the reference's
    ``async with websockets.connect`` per send."""

    def __init__(self, url: str, timeout: float = 30.0):
        self.url = url
        self.timeout = timeout
        self._next_id = 0

    def send_command(self, command: str, args: list | dict | None = None):
        """``remoteadmin.py:246-260``: JSON-RPC request → result (raises
        RuntimeError on an RPC error response)."""
        parsed = urlparse(self.url)
        host, port = parsed.hostname, parsed.port or 80
        self._next_id += 1
        req = {
            "jsonrpc": "2.0", "id": self._next_id,
            "method": command, "params": args or [],
        }
        with socket.create_connection((host, port), timeout=self.timeout) as sock:
            key = base64.b64encode(os.urandom(16)).decode()
            sock.sendall(
                f"GET {parsed.path or '/'} HTTP/1.1\r\n"
                f"Host: {host}:{port}\r\n"
                "Upgrade: websocket\r\nConnection: Upgrade\r\n"
                f"Sec-WebSocket-Key: {key}\r\n"
                "Sec-WebSocket-Version: 13\r\n\r\n".encode()
            )
            resp = b""
            while b"\r\n\r\n" not in resp:
                chunk = sock.recv(4096)
                if not chunk:
                    raise ConnectionError("handshake failed")
                resp += chunk
            status = resp.split(b"\r\n", 1)[0]
            if b"101" not in status:
                raise ConnectionError(f"handshake rejected: {status!r}")
            expect = _accept_key(key).encode()
            if expect not in resp:
                raise ConnectionError("bad Sec-WebSocket-Accept")
            sock.sendall(_encode_frame(json.dumps(req).encode(), mask=True))
            while True:
                opcode, data = _decode_frame(sock)
                if opcode == 0x9:
                    sock.sendall(_encode_frame(data, opcode=0xA, mask=True))
                    continue
                if opcode == 0x1:
                    break
                if opcode == 0x8:
                    raise ConnectionError("server closed before responding")
            try:
                sock.sendall(_encode_frame(b"", opcode=0x8, mask=True))
            except OSError:
                pass
        out = json.loads(data)
        if "error" in out:
            raise RuntimeError(out["error"].get("message", str(out["error"])))
        return out.get("result")

    # convenience verbs mirroring RemoteAdminClient's shell surface
    def channels(self):
        return self.send_command("channels")

    def start(self, channel: str):
        return self.send_command("start_channel", [channel])

    def stop(self, channel: str):
        return self.send_command("stop_channel", [channel])

    def list_msgs(self, channel: str, **kw):
        return self.send_command("list_msgs", {"channel": channel, **kw})

    def view(self, channel: str, msg_id: str):
        return self.send_command("view_msg", [channel, msg_id])

    def preview(self, channel: str, msg_id: str):
        return self.send_command("preview_msg", [channel, msg_id])

    def replay(self, channel: str, msg_id: str):
        return self.send_command("replay_msg", [channel, msg_id])

    def push(self, channel: str, text: str):
        return self.send_command("push_msg", [channel, text])
