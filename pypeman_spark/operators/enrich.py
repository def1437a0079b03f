"""Outbound-request enrichment operators (SURVEY §2.A rows 7-9).

``HttpRequest`` (reference ``contrib/http.py:185-374``, RequestNode):
per-message outbound HTTP call with URL templating from meta/payload
(dotted paths, ``contrib/http.py:259-280``), response body → payload and
status/url → meta.

Spark-first: the canonical "REST lookup" pattern — ``mapInPandas`` with
one pooled HTTP client per partition, requests issued per Arrow batch.
Never a row-at-a-time UDF: connection reuse amortizes handshake cost,
and partition parallelism gives N concurrent clients cluster-wide.
Errors are captured per row (timeout/connection refused → state=error),
matching pypeman's per-message exception routing.

``FileReader`` (rows 7-8): mid-pipeline read of a per-row file path.
"""

import json
import re
from typing import Iterator

from pyspark.sql import DataFrame, functions as F, types as T

from ..message import ERROR
from .base import Node, active_cond

__all__ = ["HttpRequest", "FileReader"]

_TEMPLATE_RX = re.compile(r"%\(([^)]+)\)s")


def render_url(template: str, payload: str, meta: dict) -> str:
    """``%(meta.x)s`` / ``%(payload.y)s`` templating with dotted paths
    (``contrib/http.py:23-29,259-280``)."""
    try:
        pobj = json.loads(payload) if payload else {}
    except (ValueError, TypeError):
        pobj = {}

    def resolve(m: re.Match) -> str:
        path = m.group(1)
        parts = path.split(".")
        if parts[0] == "meta":
            cur: object = meta or {}
            parts = parts[1:]
        elif parts[0] == "payload":
            cur = pobj
            parts = parts[1:]
        else:
            cur = {**(meta or {}), **(pobj if isinstance(pobj, dict) else {})}
        for p in parts:
            if isinstance(cur, dict) and p in cur:
                cur = cur[p]
            else:
                raise KeyError(f"template path {path!r} unresolved")
        return str(cur)

    return _TEMPLATE_RX.sub(resolve, template)


_HTTP_RESULT = T.StructType(
    [
        T.StructField("payload", T.StringType()),
        T.StructField("status_code", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("err", T.StringType()),
        T.StructField("headers", T.MapType(T.StringType(), T.StringType())),
    ]
)


class HttpRequest(Node):
    """Per-row outbound HTTP call (``contrib/http.py:185-374``).

    ``url`` supports ``%(meta.k)s``/``%(payload.k)s`` templates;
    ``send_payload`` posts the row payload as the body; response body
    becomes the payload, ``status_code``/``url`` land in meta.

    Client-option parity with the reference RequestNode:

    :param auth: ``(user, password)`` basic auth
        (``contrib/http.py:214-216``).
    :param params: query params dict; values may be strings, lists
        (repeated key, ``contrib/http.py:311-321``), or callables
        ``(payload, meta) -> value`` evaluated per row.
    :param cookies: cookie dict sent as a ``Cookie`` header
        (``contrib/http.py:308``).
    :param verify: verify TLS (``contrib/http.py:217``); ``False``
        disables certificate checks.
    :param client_cert: ``(crt_path, key_path)`` client certificate
        (``contrib/http.py:288-301``) — paths must exist on executors.
    :param binary: keep the response body as bytes, base64-encoded into
        the payload (``contrib/http.py:219``).
    :param json: parse the response as JSON (normalized re-serialization;
        malformed JSON routes the row to error, ``contrib/http.py:221``).
    :param send_as_json: serialize the posted payload as JSON with a
        ``Content-Type: application/json`` header
        (``contrib/http.py:220,330-333``).
    :param add_meta: land response headers in meta as ``header_*`` keys
        (``contrib/http.py:223,352-360``).
    """

    def __init__(self, url: str, method: str = "GET",
                 headers: dict | None = None, send_payload: bool = False,
                 timeout: float = 10.0, auth: tuple | None = None,
                 params: dict | None = None, cookies: dict | None = None,
                 verify: bool = True, client_cert: tuple | None = None,
                 binary: bool = False, json: bool = False,
                 send_as_json: bool = False, add_meta: bool = False, **kw):
        super().__init__(**kw)
        self.url = url
        self.method = method
        self.headers = headers or {}
        self.send_payload = send_payload or send_as_json
        self.timeout = timeout
        self.auth = auth
        self.params = params
        self.cookies = cookies
        self.verify = verify
        self.client_cert = client_cert
        self.binary = binary
        self.parse_json = json
        self.send_as_json = send_as_json
        self.add_meta = add_meta

    def transform(self, df: DataFrame) -> DataFrame:
        import pandas as pd

        url_t, method, headers = self.url, self.method, dict(self.headers)
        send_payload, timeout = self.send_payload, self.timeout
        auth, params, cookies = self.auth, self.params, self.cookies
        verify, client_cert = self.verify, self.client_cert
        binary, parse_json = self.binary, self.parse_json
        send_as_json, add_meta = self.send_as_json, self.add_meta

        def _call(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import base64
            import ssl
            import urllib.error
            import urllib.parse
            import urllib.request

            # per-partition client setup: one ssl context / header base
            # reused across the whole Arrow batch (contrib/http.py:288-308)
            ctx = None
            if client_cert or not verify:
                if verify:
                    ctx = ssl.create_default_context()
                else:
                    ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_CLIENT)
                    ctx.check_hostname = False
                    ctx.verify_mode = ssl.CERT_NONE
                if client_cert:
                    ctx.load_cert_chain(client_cert[0], client_cert[1])
            base_headers = dict(headers)
            if auth:
                tok = base64.b64encode(
                    f"{auth[0]}:{auth[1]}".encode()
                ).decode()
                base_headers["Authorization"] = f"Basic {tok}"
            if cookies:
                base_headers["Cookie"] = "; ".join(
                    f"{k}={v}" for k, v in cookies.items()
                )
            if send_as_json:
                base_headers["Content-Type"] = "application/json"

            def _query_for(payload: str, meta: dict) -> str:
                pairs: list[tuple[str, str]] = []
                for key, val in (params or {}).items():
                    if callable(val):
                        val = val(payload, meta)
                    if isinstance(val, (list, tuple)):
                        pairs.extend((key, str(v)) for v in val)
                    else:
                        pairs.append((key, str(val)))
                return urllib.parse.urlencode(pairs)

            for pdf in batches:
                out = {"payload": [], "status_code": [], "url": [], "err": []}
                hdr_out: list[dict | None] = []
                for payload, meta in zip(pdf["payload"], pdf["meta"]):
                    try:
                        mdict = dict(meta or {})
                        url = render_url(url_t, payload, mdict)
                        if params:
                            q = _query_for(payload, mdict)
                            url = f"{url}&{q}" if "?" in url else f"{url}?{q}"
                        if send_as_json and payload:
                            # normalize: payload is already a JSON string;
                            # re-serialize so malformed input fails here
                            data = json.dumps(json.loads(payload)).encode()
                        elif send_payload and payload:
                            data = payload.encode()
                        else:
                            data = None
                        req = urllib.request.Request(
                            url, data=data, method=method, headers=base_headers
                        )
                        try:
                            with urllib.request.urlopen(
                                req, timeout=timeout, context=ctx
                            ) as resp:
                                raw = resp.read()
                                status = str(resp.status)
                                rheaders = dict(resp.headers.items())
                        except urllib.error.HTTPError as he:
                            raw = he.read()
                            status = str(he.code)
                            rheaders = dict(he.headers.items())
                        if binary:
                            body = base64.b64encode(raw).decode()
                        else:
                            body = raw.decode("utf-8", "replace")
                            if parse_json:
                                body = json.dumps(json.loads(body))
                        out["payload"].append(body)
                        out["status_code"].append(status)
                        out["url"].append(url)
                        out["err"].append(None)
                        hdr_out.append(
                            {f"header_{k.lower()}": str(v)
                             for k, v in rheaders.items()} if add_meta else None
                        )
                    except Exception as exc:  # noqa: BLE001 — per-row routing
                        out["payload"].append(payload)
                        out["status_code"].append(None)
                        out["url"].append(None)
                        out["err"].append(f"{type(exc).__name__}: {exc}")
                        hdr_out.append(None)
                res = pd.DataFrame(out)
                res["headers"] = hdr_out
                yield pd.concat(
                    [pdf.reset_index(drop=True), res.add_prefix("__http_")], axis=1
                )

        schema = T.StructType(
            df.schema.fields
            + [T.StructField(f"__http_{f.name}", f.dataType) for f in _HTTP_RESULT.fields]
        )
        # meta merge overwrites url/status_code keys; LAST_WIN is runtime-
        # settable and a bare session defaults to EXCEPTION
        df.sparkSession.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        called = df.mapInPandas(_call, schema)
        # through set_state, not raw withColumn: auto_retry=True must
        # rewrite transient HTTP failures to wait_retry + retry_stage so
        # the DLQ re-entry path applies (nodes.py:194-204 parity)
        out = self.set_state(
            called,
            F.col("__http_err").isNotNull(),
            ERROR,
            err_msg=F.col("__http_err"),
        )
        act2 = active_cond()
        out = (
            out.withColumn(
                "payload",
                F.when(act2, F.col("__http_payload")).otherwise(F.col("payload")),
            )
            .withColumn(
                "meta",
                F.when(
                    act2,
                    F.map_concat(
                        F.coalesce(F.col("meta"), F.create_map().cast("map<string,string>")),
                        F.map_filter(
                            F.create_map(
                                F.lit("status_code"), F.col("__http_status_code"),
                                F.lit("url"), F.col("__http_url"),
                            ),
                            lambda k, v: v.isNotNull(),
                        ),
                        F.coalesce(
                            F.col("__http_headers"),
                            F.create_map().cast("map<string,string>"),
                        ),
                    ),
                ).otherwise(F.col("meta")),
            )
            .drop(
                "__http_payload", "__http_status_code", "__http_url",
                "__http_err", "__http_headers",
            )
        )
        return out


class FileReader(Node):
    """Mid-pipeline file read (``nodes.py:619-657``): path from param or
    ``meta[filepath]``; content becomes the payload. Control-plane
    volumes only — bulk reads belong in sources/."""

    def __init__(self, filepath: str | None = None, binary_file: bool = False,
                 encoding: str = "utf-8", **kw):
        super().__init__(**kw)
        self.filepath = filepath
        self.binary_file = binary_file
        self.encoding = encoding

    def transform(self, df: DataFrame) -> DataFrame:
        fixed, binary, encoding = self.filepath, self.binary_file, self.encoding

        def _read(path):
            import base64

            with open(path, "rb") as fh:
                raw = fh.read()
            return base64.b64encode(raw).decode() if binary else raw.decode(encoding)

        src = F.lit(fixed) if fixed else F.col("meta").getItem("filepath")
        return self.apply_payload_fn(
            df, _read, decode_json=False, src=src,
            content_type="application/octet-stream" if binary else "application/text",
        )
