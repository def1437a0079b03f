"""Projection / reshaping operators (SURVEY §2.C, rows 22–25).

``Map``/``ToOrderedDict`` reshape dict payloads, and ``FuncNode`` /
``MsgFuncNode`` run any callable. All four take one path: the node's
callable runs through the one Python builder
(``operators/base.py:python_udf``, via ``Node.apply_payload_fn`` /
``Node.apply_python``), Arrow-batched and projected once. The builder
decodes a JSON payload to a dict and turns a row that raises into that
row's error; the callables of ``Map``/``ToOrderedDict`` do the
reference's dict surgery exactly (dotted nested paths, ``default``,
per-field ``transform`` callables, ``recopy``). No node here compiles
to JVM expressions.

Reference: Map ``nodes.py:752-796``, MapItem/JoinMapItem
``map_item.py:6-49``, ToOrderedDict ``nodes.py:805-854``, FuncNode
``nodes.py:976-1007``, MsgFuncNode ``nodes.py:943-973``.
"""


from typing import Any, Callable

from pyspark.sql import DataFrame, functions as F, types as T

from ..message import META_TYPE
from .base import Node

__all__ = ["MapItem", "JoinMapItem", "Map", "ToOrderedDict", "FuncNode", "MsgFuncNode"]


def _get_path(obj: Any, dotted: str, default=None):
    cur = obj
    for part in dotted.split("."):
        if isinstance(cur, dict) and part in cur:
            cur = cur[part]
        else:
            return default, False
    return cur, True


def _set_path(obj: dict, dotted: str, value: Any) -> None:
    parts = dotted.split(".")
    cur = obj
    for part in parts[:-1]:
        cur = cur.setdefault(part, {})
    cur[parts[-1]] = value


class MapItem:
    """old→new key mapping with optional default and transform
    (``map_item.py:6-31``)."""

    def __init__(
        self,
        old: str,
        new: str | None = None,
        default: Any = None,
        transform: Callable[[Any], Any] | None = None,
    ):
        self.old = old
        self.new = new or old
        self.default = default
        self.transform = transform

    def conv(self, src: dict, dst: dict) -> None:
        val, found = _get_path(src, self.old, self.default)
        if self.transform is not None and found:
            val = self.transform(val)
        _set_path(dst, self.new, val)


class JoinMapItem(MapItem):
    """Concatenate several source fields with a separator
    (``map_item.py:34-49``). JVM equivalent: ``concat_ws``."""

    def __init__(self, olds: list[str], new: str, sep: str = " ", default: Any = None):
        super().__init__(olds[0], new, default=default)
        self.olds = olds
        self.sep = sep

    def conv(self, src: dict, dst: dict) -> None:
        vals = []
        for o in self.olds:
            v, found = _get_path(src, o)
            if found and v is not None:
                vals.append(str(v))
        _set_path(dst, self.new, self.sep.join(vals) if vals else self.default)


class Map(Node):
    """Reshape a dict payload via MapItems (``nodes.py:752-796``):
    ``recopy`` keeps unmapped keys; missing sources take ``default``."""

    def __init__(self, items: list[MapItem], recopy: bool = False, **kw):
        super().__init__(**kw)
        self.items = items
        self.recopy = recopy

    def transform(self, df: DataFrame) -> DataFrame:
        items, recopy = self.items, self.recopy

        def _map(obj):
            if not isinstance(obj, dict):
                raise TypeError("Map requires a dict payload")
            dst: dict = dict(obj) if recopy else {}
            if recopy:
                for it in items:
                    dst.pop(it.old.split(".")[0], None)
            for it in items:
                it.conv(obj, dst)
            return dst

        return self.apply_payload_fn(df, _map)


class ToOrderedDict(Node):
    """Project payload to a fixed ordered key set with defaults
    (``nodes.py:805-854``) — exactly a SELECT with column order."""

    def __init__(self, keys: list[str], defaults: dict[str, Any] | None = None, **kw):
        super().__init__(**kw)
        self.keys = keys
        self.defaults = defaults or {}

    def transform(self, df: DataFrame) -> DataFrame:
        keys, defaults = self.keys, self.defaults

        def _proj(obj):
            src = obj if isinstance(obj, dict) else {}
            return {k: src.get(k, defaults.get(k)) for k in keys}

        return self.apply_payload_fn(df, _proj)


class FuncNode(Node):
    """Arbitrary ``payload → payload`` callable (``nodes.py:976-1007``) —
    the generic scalar-UDF surface, Arrow-batched."""

    def __init__(self, fn: Callable[[Any], Any], decode_json: bool = True, **kw):
        super().__init__(**kw)
        self.fn = fn
        self.decode_json = decode_json

    def transform(self, df: DataFrame) -> DataFrame:
        return self.apply_payload_fn(df, self.fn, decode_json=self.decode_json)


class MsgFuncNode(Node):
    """Whole-row mutator ``(payload, meta) → (payload, meta)``
    (``nodes.py:943-973``). The callable receives the decoded payload and
    the meta dict and may mutate/return both."""

    def __init__(self, fn: Callable[[Any, dict], tuple[Any, dict] | None], **kw):
        super().__init__(**kw)
        self.fn = fn

    def transform(self, df: DataFrame) -> DataFrame:
        fn = self.fn

        def _call(obj, meta):
            meta = meta or {}
            ret = fn(obj, meta)
            return (obj, meta) if ret is None else ret

        return self.apply_python(
            df, _call, [F.col("payload"), F.col("meta")],
            {"payload": T.StringType(), "meta": META_TYPE},
        )
