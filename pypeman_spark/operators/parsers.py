"""Format-conversion operators (SURVEY §2.B, rows 11–21).

Payloads are JSON-encoded strings (see message.py). Conversions that are
expressible with built-in Spark functions (base64, encode/decode, JSON
validation) stay JVM-side; text formats with row-internal structure
(multi-record CSV strings, XML, HL7) use Arrow-batched pandas UDFs —
pypeman's equivalents are python libs too (``csv``, ``xmltodict``,
``hl7``), so the python boundary is inherent to the format, but we cross
it once per Arrow batch, not once per message.
"""

from __future__ import annotations

import csv as _csv
import io
import json
from typing import Any

from pyspark.sql import DataFrame, functions as F, types as T

from .base import Node

__all__ = [
    "JsonToPython",
    "PythonToJson",
    "CSVstr2Python",
    "CSV2Python",
    "Python2CSVstr",
    "XMLToPython",
    "PythonToXML",
    "HL7ToPython",
    "PythonToHL7",
    "Encode",
    "Decode",
    "B64Encode",
    "B64Decode",
]


class JsonToPython(Node):
    """Validate/parse a JSON payload (``nodes.py:468-479``).

    Payloads are stored as JSON strings, so "parsing" means: verify the
    payload is valid JSON (per-row error otherwise, mirroring the
    reference raising on bad input) and set ``content_type``. Uses the
    built-in ``try_parse_json`` — JVM-side, no UDF.
    """

    def transform(self, df: DataFrame) -> DataFrame:
        invalid = F.col("payload").isNotNull() & F.expr(
            "try_parse_json(payload)"
        ).isNull()
        err = F.when(invalid, F.concat(F.lit("ValueError: invalid JSON: "),
                                       F.substring("payload", 1, 80)))
        return self.apply_payload(
            df, F.col("payload"), content_type="application/json", err=err
        )


class PythonToJson(Node):
    """Serialize payload to JSON (``nodes.py:482-492``). Payloads are
    already JSON-encoded; normalizes content_type."""

    def __init__(self, indent: int | None = None, **kw):
        super().__init__(**kw)
        self.indent = indent

    def transform(self, df: DataFrame) -> DataFrame:
        expr = F.col("payload")
        if self.indent is not None:
            indent = self.indent
            return self.apply_payload_fn(
                df, lambda p: json.dumps(p, indent=indent),
                content_type="application/json",
            )
        return self.apply_payload(df, expr, content_type="application/json")


def _parse_csv_text(
    text: str, headers: bool, to_dict: bool, delimiter: str, quoting: int
) -> Any:
    reader = _csv.reader(io.StringIO(text), delimiter=delimiter, quoting=quoting)
    rows = [row for row in reader if row]
    if not rows:
        return []
    if headers and to_dict:
        hdr = rows[0]
        return [dict(zip(hdr, r)) for r in rows[1:]]
    if headers and not to_dict:
        return rows[1:]
    return rows


class CSVstr2Python(Node):
    """Parse a CSV *string* payload into a list of rows/dicts
    (``contrib/csv.py:43-71``). Options mirror the reference:
    ``headers``, ``to_dict`` (requires headers), ``delimiter``,
    ``quoting`` (csv module constants)."""

    def __init__(
        self,
        headers: bool = True,
        to_dict: bool = False,
        delimiter: str = ",",
        quoting: int = _csv.QUOTE_NONE,
        **kw,
    ):
        super().__init__(**kw)
        if to_dict and not headers:
            raise ValueError("to_dict requires headers")
        self._opts = (headers, to_dict, delimiter, quoting)

    def transform(self, df: DataFrame) -> DataFrame:
        headers, to_dict, delim, quoting = self._opts
        return self.apply_payload_fn(
            df, lambda p: _parse_csv_text(p, headers, to_dict, delim, quoting),
            decode_json=False, content_type="application/json",
        )


class CSV2Python(CSVstr2Python):
    """Read the CSV *file* whose path is in ``meta[filepath]`` (or a fixed
    param) and parse it (``contrib/csv.py:7-40``).

    Mid-pipeline per-row file reads don't scale — the idiomatic Spark
    answer is ``spark.read.csv`` on the directory (sources/files.py). This
    node exists for reference parity on small control-plane volumes.
    """

    def __init__(self, filepath: str | None = None, encoding: str = "utf-8", **kw):
        super().__init__(**kw)
        self.filepath = filepath
        self.encoding = encoding

    def transform(self, df: DataFrame) -> DataFrame:
        headers, to_dict, delim, quoting = self._opts
        encoding = self.encoding
        fixed = self.filepath

        def _read(path_or_payload):
            path = fixed or path_or_payload
            with open(path, encoding=encoding) as fh:
                return _parse_csv_text(fh.read(), headers, to_dict, delim, quoting)

        src = F.lit(fixed) if fixed else F.coalesce(
            F.col("meta").getItem("filepath"), F.col("payload")
        )
        return self.apply_payload_fn(
            df, _read, decode_json=False, src=src, content_type="application/json"
        )


class Python2CSVstr(Node):
    """list[dict] / list[list] payload → CSV string
    (``contrib/csv.py:74-98``)."""

    def __init__(
        self,
        header: bool = False,
        fieldnames: list[str] | None = None,
        delimiter: str = ",",
        **kw,
    ):
        super().__init__(**kw)
        self.header = header
        self.fieldnames = fieldnames
        self.delimiter = delimiter

    def transform(self, df: DataFrame) -> DataFrame:
        header, fieldnames, delim = self.header, self.fieldnames, self.delimiter

        def _to_csv(obj):
            buf = io.StringIO()
            if obj and isinstance(obj[0], dict):
                names = fieldnames or list(obj[0].keys())
                w = _csv.DictWriter(buf, fieldnames=names, delimiter=delim,
                                    extrasaction="ignore", lineterminator="\n")
                if header:
                    w.writeheader()
                w.writerows(obj)
            else:
                w = _csv.writer(buf, delimiter=delim, lineterminator="\n")
                w.writerows(obj or [])
            return buf.getvalue()

        return self.apply_payload_fn(df, _to_csv, content_type="text/csv")


# --- XML (contrib/xml.py uses xmltodict; we mirror its dict shape with
# stdlib ElementTree: attributes as '@attr', text as '#text', repeated
# children as lists) -----------------------------------------------------

def _etree_to_dict(elem) -> Any:
    children = list(elem)
    node: dict[str, Any] = {}
    for k, v in elem.attrib.items():
        node[f"@{k}"] = v
    if children:
        agg: dict[str, Any] = {}
        for ch in children:
            sub = _etree_to_dict(ch)[ch.tag]
            if ch.tag in agg:
                if not isinstance(agg[ch.tag], list):
                    agg[ch.tag] = [agg[ch.tag]]
                agg[ch.tag].append(sub)
            else:
                agg[ch.tag] = sub
        node.update(agg)
        if elem.text and elem.text.strip():
            node["#text"] = elem.text.strip()
    elif elem.text and elem.text.strip():
        if node:
            node["#text"] = elem.text.strip()
        else:
            return {elem.tag: elem.text.strip()}
    if not node:
        return {elem.tag: None}
    return {elem.tag: node}


class XMLToPython(Node):
    """XML string payload → dict (``contrib/xml.py:7-18``; xmltodict-style
    shape via stdlib ElementTree)."""

    def transform(self, df: DataFrame) -> DataFrame:
        import xml.etree.ElementTree as ET

        def _parse(p):
            return _etree_to_dict(ET.fromstring(p))

        return self.apply_payload_fn(
            df, _parse, decode_json=False, content_type="application/json"
        )


def _dict_to_xml(obj: Any) -> str:
    if not isinstance(obj, dict) or len(obj) != 1:
        raise ValueError("XML document must have exactly one root")

    def render(tag: str, val: Any) -> str:
        if isinstance(val, list):
            return "".join(render(tag, v) for v in val)
        if val is None:
            return f"<{tag}></{tag}>"
        if not isinstance(val, dict):
            return f"<{tag}>{val}</{tag}>"
        attrs = "".join(
            f' {k[1:]}="{v}"' for k, v in val.items() if k.startswith("@")
        )
        inner = "".join(
            render(k, v) for k, v in val.items() if not k.startswith("@") and k != "#text"
        )
        text = val.get("#text", "")
        return f"<{tag}{attrs}>{text}{inner}</{tag}>"

    [(root, val)] = obj.items()
    return render(root, val)


class PythonToXML(Node):
    """dict payload → XML string (``contrib/xml.py:21-33``)."""

    def transform(self, df: DataFrame) -> DataFrame:
        return self.apply_payload_fn(
            df, _dict_to_xml, content_type="application/xml"
        )


# --- HL7 (contrib/hl7.py:189-211; python-hl7 not in the image, so a
# deterministic minimal v2.x parser: segments split on \r, fields on |,
# components on ^) -------------------------------------------------------

def hl7_parse(text: str) -> list[list[Any]]:
    segments = [s for s in text.replace("\n", "\r").split("\r") if s.strip()]
    out = []
    for seg in segments:
        fields: list[Any] = seg.split("|")
        fields = [f.split("^") if "^" in f else f for f in fields]
        out.append(fields)
    return out


def hl7_unparse(segments: list[list[Any]]) -> str:
    segs = []
    for seg in segments:
        fields = ["^".join(f) if isinstance(f, list) else str(f) for f in seg]
        segs.append("|".join(fields))
    return "\r".join(segs) + "\r"


class HL7ToPython(Node):
    """HL7 v2 string payload → nested list structure
    (``contrib/hl7.py:189-199``)."""

    def transform(self, df: DataFrame) -> DataFrame:
        return self.apply_payload_fn(
            df, hl7_parse, decode_json=False, content_type="application/json"
        )


class PythonToHL7(Node):
    """Nested list structure → HL7 string (``contrib/hl7.py:202-211``)."""

    def transform(self, df: DataFrame) -> DataFrame:
        return self.apply_payload_fn(df, hl7_unparse, content_type="text/hl7")


# --- bytes / base64 (nodes.py:495-540) — pure built-ins ----------------

class Encode(Node):
    """str → bytes (``nodes.py:495-505``). Bytes can't live in a STRING
    column, so encoded payloads are carried base64; fully JVM-side."""

    def __init__(self, encoding: str = "utf-8", **kw):
        super().__init__(**kw)
        self.encoding = encoding

    def transform(self, df: DataFrame) -> DataFrame:
        expr = F.base64(F.encode(F.col("payload"), self.encoding))
        return self.apply_payload(df, expr, content_type="application/octet-stream")


class Decode(Node):
    """bytes → str (``nodes.py:508-516``)."""

    def __init__(self, encoding: str = "utf-8", **kw):
        super().__init__(**kw)
        self.encoding = encoding

    def transform(self, df: DataFrame) -> DataFrame:
        expr = F.decode(F.unbase64(F.col("payload")), self.encoding)
        return self.apply_payload(df, expr, content_type="application/text")


class B64Encode(Node):
    """base64-encode payload (``nodes.py:519-530``)."""

    def __init__(self, encoding: str = "utf-8", **kw):
        super().__init__(**kw)
        self.encoding = encoding

    def transform(self, df: DataFrame) -> DataFrame:
        return self.apply_payload(df, F.base64(F.encode(F.col("payload"), self.encoding)))


class B64Decode(Node):
    """base64-decode payload (``nodes.py:533-540``)."""

    def __init__(self, encoding: str = "utf-8", **kw):
        super().__init__(**kw)
        self.encoding = encoding

    def transform(self, df: DataFrame) -> DataFrame:
        return self.apply_payload(df, F.decode(F.unbase64(F.col("payload")), self.encoding))
