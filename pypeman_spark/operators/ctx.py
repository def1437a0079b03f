"""Context operators (SURVEY §2.C rows 26–30).

In pypeman, ``msg.ctx[key]`` holds payload/meta snapshots taken at
earlier nodes (``message.py:92-102``); ``contrib/ctx.py`` restores or
combines them. In Spark **columns are the context** — a snapshot is a
struct copy inside the same codegen stage; restoring is a column swap.
No joins and no shuffles; the only UDF is :class:`CombineCtx`'s dict
merge.
"""


from typing import Any

from pyspark.sql import DataFrame, functions as F, types as T

from ..message import META_TYPE, add_context
from .base import Node, active_cond

__all__ = ["SaveContext", "SetCtx", "CombineCtx", "UseMetaFromCtx", "EmptyMeta"]


class SaveContext(Node):
    """Explicit snapshot: ``ctx[key] = (payload, meta)`` — the standalone
    form of the ``store_input_as``/``store_output_as`` BaseNode params
    (``nodes.py:114-115``)."""

    def __init__(self, key: str, **kw):
        super().__init__(**kw)
        self.key = key

    def transform(self, df: DataFrame) -> DataFrame:
        return add_context(df, self.key)


class SetCtx(Node):
    """Restore payload+meta from ``ctx[key]`` (``nodes.py:396-407``)."""

    def __init__(self, key: str, **kw):
        super().__init__(**kw)
        self.key = key

    def transform(self, df: DataFrame) -> DataFrame:
        act = active_cond()
        entry = F.col("ctx").getItem(self.key)
        return df.withColumn(
            "payload", F.when(act, entry.getField("payload")).otherwise(F.col("payload"))
        ).withColumn(
            "meta", F.when(act, entry.getField("meta")).otherwise(F.col("meta"))
        )


class CombineCtx(Node):
    """Build a new dict payload from ≥2 saved contexts
    (``contrib/ctx.py:10-62``): ``flatten=True`` merges the ctx payload
    dicts into one; else nests each under its ctx key. ``meta_from``
    selects which context supplies meta.

    The merge itself is dict-level (payloads are JSON), done in one
    Arrow batch through the nodes' one Python builder, so a context that
    cannot merge makes its row an error; the ctx lookup stays columnar.
    """

    def __init__(self, keys: list[str], flatten: bool = False,
                 meta_from: str | None = None, **kw):
        super().__init__(**kw)
        self.keys = keys
        self.flatten = flatten
        self.meta_from = meta_from

    def transform(self, df: DataFrame) -> DataFrame:
        keys, flatten = self.keys, self.flatten

        def _combine(*payloads):
            if not flatten:
                return dict(zip(keys, payloads))
            merged: dict[str, Any] = {}
            for obj in payloads:
                if obj is None:
                    continue
                if not isinstance(obj, dict):
                    raise TypeError("flatten requires dict payloads")
                merged.update(obj)
            return merged

        out = self.apply_python(
            df, _combine,
            [F.col("ctx").getItem(k).getField("payload") for k in keys],
            {"payload": T.StringType()}, content_type="application/json",
        )
        if self.meta_from:
            act = active_cond()
            out = out.withColumn(
                "meta",
                F.when(
                    act, F.col("ctx").getItem(self.meta_from).getField("meta")
                ).otherwise(F.col("meta")),
            )
        return out


class UseMetaFromCtx(Node):
    """Replace meta from a saved context (``contrib/ctx.py:65-76``)."""

    def __init__(self, key: str, **kw):
        super().__init__(**kw)
        self.key = key

    def transform(self, df: DataFrame) -> DataFrame:
        act = active_cond()
        return df.withColumn(
            "meta",
            F.when(
                act, F.col("ctx").getItem(self.key).getField("meta")
            ).otherwise(F.col("meta")),
        )


class EmptyMeta(Node):
    """meta = {} (``contrib/ctx.py:79-86``)."""

    def transform(self, df: DataFrame) -> DataFrame:
        act = active_cond()
        return df.withColumn(
            "meta",
            F.when(act, F.create_map().cast(META_TYPE)).otherwise(F.col("meta")),
        )
