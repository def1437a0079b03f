"""Routing operators — the reference's WHERE/CASE (SURVEY §2.D).

Pypeman routes per-message via exceptions (``Dropped``/``Rejected``,
``exceptions.py:1-33``); a dropped row is simply a filtered row. We flip
the ``state`` column instead of raising, so one linear Catalyst plan
carries every outcome and the pipeline splits them at the end
(``Pipeline.run``). ``when``/``case``/``fork`` branch constructs live on
:class:`~pypeman_spark.pipeline.Pipeline` itself.

Conditions are Spark ``Column`` booleans (JVM-side); python callables
over the decoded payload are accepted for reference parity
(``channels.py:1193-1197``) and compiled to a pandas UDF.
"""


import json
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, functions as F, types as T

from ..message import DROPPED, ERROR, REJECTED
from .base import Node

__all__ = ["Drop", "Reject", "RaiseError", "Empty", "condition_to_column"]


def condition_to_column(cond: Column | bool | Callable[[Any], bool]) -> Column:
    """Normalize a condition: Column passes through; bool becomes a
    literal; a python ``payload -> bool`` callable is Arrow-compiled
    (``callable_or_value``, ``nodes.py:54-62``)."""
    if isinstance(cond, Column):
        return cond
    if isinstance(cond, bool):
        return F.lit(cond)
    import pandas as pd

    @F.pandas_udf(T.BooleanType())
    def _cond(s: pd.Series) -> pd.Series:
        out = []
        for raw in s:
            try:
                obj = json.loads(raw) if raw is not None else None
            except (ValueError, TypeError):
                obj = raw
            out.append(bool(cond(obj)))
        return pd.Series(out)

    # nondeterministic for the reason given in base.payload_fn_udf;
    # _route projects it once
    return _cond.asNondeterministic()(F.col("payload"))


def _route(node: Node, df: DataFrame, condition, state: str, message) -> DataFrame:
    """Flip matching active rows to ``state``. A python condition is
    projected into one temporary column first, so ``set_state`` reading
    it twice, and a later ``state`` filter, do not re-run its UDF."""
    cond = condition_to_column(condition)
    err = F.lit(message) if message else F.lit(None).cast("string")
    if isinstance(condition, (Column, bool)):
        return node.set_state(df, cond, state, err_msg=err)
    out = node.set_state(df.withColumn("__cond", cond), F.col("__cond"), state,
                         err_msg=err)
    return out.drop("__cond")


class Drop(Node):
    """Terminate matching rows as successful drops (``nodes.py:358-368``;
    ``Dropped`` handling ``channels.py:465-477``). With no condition,
    drops every active row (the reference node is unconditional — pair it
    with ``Pipeline.when`` for conditional drops)."""

    def __init__(self, condition: Column | bool | Callable = True,
                 message: str | None = None, **kw):
        super().__init__(**kw)
        self.condition = condition
        self.message = message

    def transform(self, df: DataFrame) -> DataFrame:
        return _route(self, df, self.condition, DROPPED, self.message)


class Reject(Node):
    """Terminate matching rows with error semantics — store state REJECTED
    (``nodes.py:371-381``, ``channels.py:478-489``)."""

    def __init__(self, condition: Column | bool | Callable = True,
                 message: str | None = None, **kw):
        super().__init__(**kw)
        self.condition = condition
        self.message = message

    def transform(self, df: DataFrame) -> DataFrame:
        return _route(self, df, self.condition, REJECTED, self.message)


class RaiseError(Node):
    """Always fail (test helper, ``nodes.py:353-355``). Never raises
    JVM-side — flips rows to state=error for fail-chain routing."""

    def __init__(self, message: str = "raised", **kw):
        super().__init__(**kw)
        self.message = message

    def transform(self, df: DataFrame) -> DataFrame:
        return self.set_state(df, F.lit(True), ERROR, err_msg=F.lit(self.message))


class Empty(Node):
    """Replace message with a fresh empty one (``nodes.py:390-393``)."""

    def transform(self, df: DataFrame) -> DataFrame:
        from ..message import META_TYPE
        from .base import active_cond

        act = active_cond()
        return (
            df.withColumn(
                "payload", F.when(act, F.lit(None).cast("string")).otherwise(F.col("payload"))
            )
            .withColumn(
                "meta", F.when(act, F.create_map().cast(META_TYPE)).otherwise(F.col("meta"))
            )
        )
