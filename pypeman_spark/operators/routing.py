"""Routing operators — the reference's WHERE/CASE (SURVEY §2.D).

Pypeman routes per-message via exceptions (``Dropped``/``Rejected``,
``exceptions.py:1-33``); a dropped row is simply a filtered row. We flip
the ``state`` column instead of raising, so one linear Catalyst plan
carries every outcome and the pipeline splits them at the end
(``Pipeline.run``). ``when``/``case``/``fork`` branch constructs live on
:class:`~pypeman_spark.pipeline.Pipeline` itself.

Conditions are Spark ``Column`` booleans (JVM-side); python callables
over the decoded payload are accepted for reference parity
(``channels.py:1193-1197``) and run through the nodes' one Python
builder (``base.python_udf``).
"""


from typing import Callable

from pyspark.sql import Column, DataFrame, functions as F, types as T

from ..message import DROPPED, ERROR, REJECTED
from .base import Node

__all__ = ["Drop", "Reject", "RaiseError", "Empty"]


def _route(node: Node, df: DataFrame, condition, state: str, message) -> DataFrame:
    """Flip matching active rows to ``state``. A Column or bool
    condition is a JVM predicate; a Python ``payload -> bool`` callable
    (``callable_or_value``, ``nodes.py:54-62``) runs through
    :meth:`Node.apply_python` into a temporary column, so a row whose
    call raises becomes that row's error."""
    err = F.lit(message) if message else F.lit(None).cast("string")
    if isinstance(condition, (Column, bool)):  # lit() passes a Column
        return node.set_state(df, F.lit(condition), state, err_msg=err)
    out = node.apply_python(
        df, condition, [F.col("payload")], {"__cond": T.BooleanType()}
    )
    return node.set_state(out, F.col("__cond"), state, err_msg=err).drop("__cond")


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
