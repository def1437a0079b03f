"""Remote-admin API (SURVEY §2.G row 61).

Reference: ``plugins/remoteadmin/urls.py:6-26`` + ``views.py:13-231`` —
REST over channels and their message stores: list, search (with
``meta_*`` query params, ``views.py:104-108``), view, preview, replay,
push.

Spark shape: a thin stdlib HTTP layer over (a) a channel registry
``{name: StreamingChannel}`` and (b) Spark SQL on the audit tables. A
read compiles to one Catalyst plan via ``MessageStore.search``; a
replay or push runs the channel's ``handle``, so it is stored, parked
and settled like any channel batch. The server holds no state of its
own.
"""

from __future__ import annotations

import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from ..message import messages_from_payloads
from ..streaming.channel import StreamingChannel

__all__ = ["ChannelRegistry", "AdminServer"]


class ChannelRegistry:
    """name → channel (:class:`~..streaming.channel.StreamingChannel`);
    the object graph the reference builds at import time
    (``graph.py:19-40``)."""

    def __init__(self, spark):
        self.spark = spark
        self._channels: dict[str, StreamingChannel] = {}
        self._tables: dict[str, object] = {}

    def register(self, name: str, pipeline, store, streaming_channel=None) -> None:
        """Register ``streaming_channel``, else a source-less channel
        over ``pipeline`` and ``store``."""
        chan = streaming_channel or StreamingChannel(None, pipeline, store)
        if chan.pipeline is not pipeline or chan.message_store is not store:
            raise ValueError(
                f"channel {name!r}: the streaming channel runs another "
                "pipeline or store than the one registered"
            )
        self._channels[name] = chan

    def names(self) -> list[str]:
        return sorted(self._channels)

    def get(self, name: str) -> StreamingChannel:
        return self._channels[name]

    # -- lakehouse tables (beyond-reference: the reference's remote
    # admin operates its stores, ``views.py:71-231``; the TxTable
    # store gets the same operability — history, stats, constraints,
    # time-travel reads — all driver-side log reads, zero table scans
    # except the bounded `rows` preview) ------------------------------
    def register_table(self, name: str, table) -> None:
        self._tables[name] = table

    def table_names(self) -> list[str]:
        return sorted(self._tables)

    def get_table(self, name: str):
        return self._tables[name]

    def table_info(self, name: str) -> dict:
        tx = self.get_table(name)
        return {
            "name": name,
            "path": tx.path,
            "key_cols": list(tx.key_cols),
            "n_buckets": tx.n_buckets,
            "logstore": tx.logstore.kind,
            "stats": tx.stats(),
            "constraints": tx.constraints(),
        }

    def table_history(self, name: str) -> list[dict]:
        return self.get_table(name).history()

    def table_rows(
        self, name: str, version: "int | None" = None, limit: int = 100
    ) -> dict:
        """Bounded preview of the table at ``version`` (time travel
        when given; latest otherwise). Values JSON-safe via str() for
        non-primitives."""
        tx = self.get_table(name)
        df = tx.snapshot(version=version).limit(int(limit))
        rows = [
            {
                k: (v if isinstance(v, (int, float, str, bool, type(None)))
                    else str(v))
                for k, v in r.asDict().items()
            }
            for r in df.collect()
        ]
        return {
            "name": name,
            "version": tx.version() if version is None else int(version),
            "rows": rows,
        }

    # -- lifecycle (views.py start_channel/stop_channel) ----------------
    def channel_status(self, name: str) -> str:
        chan = self.get(name)
        return chan.status if chan.source is not None else "BATCH"

    def _streaming(self, name: str) -> StreamingChannel:
        chan = self.get(name)
        if chan.source is None:
            raise ValueError(f"channel {name!r} has no streaming source")
        return chan

    def start_channel(self, name: str) -> dict:
        chan = self._streaming(name)
        if chan.query is None:
            chan.start()
        return {"name": name, "status": chan.status}

    def stop_channel(self, name: str) -> dict:
        chan = self._streaming(name)
        chan.stop()
        return {"name": name, "status": chan.status}

    # -- operations (views.py) ------------------------------------------
    @staticmethod
    def _msg(r) -> dict:
        return {
            "id": r["id"],
            "timestamp": str(r["timestamp"]),
            "state": r["state"],
            "payload": r["payload"],
            "meta": dict(r["meta"] or {}),
        }

    def list_msgs(self, channel: str, **search_kw) -> list[dict]:
        rows = self.get(channel).message_store.search(**search_kw).collect()
        return [self._msg(r) for r in rows]

    def view_msg(self, channel: str, msg_id: str) -> dict | None:
        r = self.get(channel).message_store.get(msg_id)
        return None if r is None else self._msg(r)

    def preview_msg(self, channel: str, msg_id: str, length: int = 1000):
        return self.get(channel).message_store.get_preview_str(msg_id, length)

    def replay_msg(self, channel: str, msg_id: str) -> dict:
        """``channels.py:857-869``: fetch → renew → the channel's
        ``handle``."""
        chan = self.get(channel)
        # detached from the store's files: the settle appends to them,
        # and a write to a path drops every cached frame that reads it
        df = chan.message_store.get_for_replay(msg_id).localCheckpoint(eager=True)
        with chan.handle(df) as out:
            states = [r["state"] for r in out.select("state").collect()]
        return {"replayed": msg_id, "outcomes": states}

    def push_msg(self, channel: str, payload: str) -> dict:
        """``remoteadmin.py:217-228``: wrap raw text, the channel's
        ``handle``."""
        df = messages_from_payloads(self.spark, [payload], channel=channel)
        with self.get(channel).handle(df) as out:
            states = [r["state"] for r in out.select("state").collect()]
        return {"pushed": 1, "outcomes": states}


_ROUTES = [
    (re.compile(r"^/tables/?$"), "list_tables"),
    (re.compile(r"^/tables/([^/]+)/history/?$"), "table_history"),
    (re.compile(r"^/tables/([^/]+)/rows/?$"), "table_rows"),
    (re.compile(r"^/tables/([^/]+)/?$"), "table_info"),
    (re.compile(r"^/channels/?$"), "list_channels"),
    (re.compile(r"^/channels/([^/]+)/start/?$"), "start"),
    (re.compile(r"^/channels/([^/]+)/stop/?$"), "stop"),
    (re.compile(r"^/channels/([^/]+)/messages/?$"), "messages"),
    (re.compile(r"^/channels/([^/]+)/messages/([^/]+)/replay/?$"), "replay"),
    (re.compile(r"^/channels/([^/]+)/messages/([^/]+)/preview/?$"), "preview"),
    (re.compile(r"^/channels/([^/]+)/messages/([^/]+)/?$"), "view"),
]


class AdminServer:
    """Threaded admin HTTP server over a ChannelRegistry (urls.py parity)."""

    def __init__(self, registry: ChannelRegistry, host: str = "127.0.0.1", port: int = 0):
        self.registry = registry
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):
                pass

            def _json(self, code: int, obj) -> None:
                body = json.dumps(obj).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self):
                parsed = urlparse(self.path)
                q = {k: v[0] for k, v in parse_qs(parsed.query).items()}
                try:
                    for rx, op in _ROUTES:
                        m = rx.match(parsed.path)
                        if not m:
                            continue
                        if op == "list_tables":
                            return self._json(200, {"tables": [
                                outer.registry.table_info(n)
                                for n in outer.registry.table_names()
                            ]})
                        if op == "table_info":
                            return self._json(
                                200, outer.registry.table_info(m.group(1))
                            )
                        if op == "table_history":
                            return self._json(200, {
                                "name": m.group(1),
                                "history": outer.registry.table_history(
                                    m.group(1)
                                ),
                            })
                        if op == "table_rows":
                            from ..store.txtable import VacuumedVersionError

                            version = (
                                int(q["version"]) if "version" in q else None
                            )
                            limit = int(q.get("limit", 100))
                            try:
                                return self._json(
                                    200,
                                    outer.registry.table_rows(
                                        m.group(1), version=version,
                                        limit=limit,
                                    ),
                                )
                            except VacuumedVersionError as exc:
                                # 410: the pinned version's files are
                                # gone by retention — a deterministic
                                # protocol answer, not a 500
                                return self._json(410, {"error": str(exc)})
                        if op == "list_channels":
                            return self._json(200, {"channels": [
                                {"name": n, "status": outer.registry.channel_status(n)}
                                for n in outer.registry.names()
                            ]})
                        if op == "start":
                            return self._json(200, outer.registry.start_channel(m.group(1)))
                        if op == "stop":
                            return self._json(200, outer.registry.stop_channel(m.group(1)))
                        if op == "messages":
                            kw = {}
                            if "start" in q:
                                kw["start"] = int(q.pop("start"))
                            if "count" in q:
                                kw["count"] = int(q.pop("count"))
                            for key in ("order_by", "text", "rtext", "start_id",
                                        "start_dt", "end_dt"):
                                if key in q:
                                    kw[key] = q.pop(key)
                            meta = {
                                k[len("meta_"):]: v
                                for k, v in q.items()
                                if k.startswith("meta_")
                            }
                            if meta:
                                kw["meta"] = meta
                            return self._json(
                                200,
                                {"messages": outer.registry.list_msgs(m.group(1), **kw)},
                            )
                        if op == "view":
                            r = outer.registry.view_msg(m.group(1), m.group(2))
                            return self._json(200 if r else 404, r or {"error": "not found"})
                        if op == "preview":
                            p = outer.registry.preview_msg(m.group(1), m.group(2))
                            return self._json(
                                200 if p is not None else 404,
                                {"preview": p} if p is not None else {"error": "not found"},
                            )
                        if op == "replay":
                            return self._json(200, outer.registry.replay_msg(m.group(1), m.group(2)))
                    self._json(404, {"error": "no route"})
                except KeyError as exc:
                    self._json(404, {"error": f"unknown channel {exc}"})
                except ValueError as exc:
                    self._json(400, {"error": f"bad parameter: {exc}"})
                except Exception as exc:  # noqa: BLE001
                    self._json(500, {"error": str(exc)})

            def do_POST(self):
                parsed = urlparse(self.path)
                m = re.match(r"^/channels/([^/]+)/messages/?$", parsed.path)
                if not m:
                    return self._json(404, {"error": "no route"})
                length = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(length).decode()
                try:
                    return self._json(201, outer.registry.push_msg(m.group(1), body))
                except KeyError as exc:
                    return self._json(404, {"error": f"unknown channel {exc}"})
                except Exception as exc:  # noqa: BLE001
                    return self._json(500, {"error": str(exc)})

        self._server = ThreadingHTTPServer((host, port), Handler)
        self.port = self._server.server_port
        self._thread: threading.Thread | None = None

    def start(self) -> None:
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
