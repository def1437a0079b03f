"""Operator (node) base class.

Reference: ``pypeman/nodes.py:94-343`` (BaseNode). A node is a unit of
the processing chain. Our nodes are **DataFrame → DataFrame functions**
built from built-in Spark expressions wherever possible; the whole chain
collapses into a handful of whole-stage-codegen projections at runtime —
there is no per-node execution boundary, unlike the reference's
one-message-at-a-time ``node.handle(msg.copy())`` loop
(``channels.py:790``).

Cross-cutting BaseNode params reproduced here (``nodes.py:114-121``):

* ``store_input_as`` / ``store_output_as`` — snapshot payload+meta into
  ``ctx[key]`` before/after the transform (``nodes.py:189-190,224-225``).
* ``passthrough`` — run the node (for side effects / ctx capture) but
  forward the *input* payload+meta (``nodes.py:227-229``).
* ``name`` — stage-addressable name for inject/replay
  (``channels.py:551-662``).
* ``auto_retry`` — failures from this node become ``wait_retry`` rows
  tagged with the node's name as re-entry stage, instead of ``error``
  (``nodes.py:132,194-204`` auto_retry_exceptions → RetryException); the
  channel parks them in the retry store (``retry.py:13-240``).
* ``store_meta`` — after the node, append ``str(meta[k])`` for each
  listed key to the row's audit store-meta list (``nodes.py:119-121,
  216-222``); collected into a ``__store_meta`` column and bulk-flushed
  with the row's state by ``MessageStore.settle`` — one distributed
  append, no per-row driver loop.

Per-row failure never raises: nodes write ``err_msg`` and flip ``state``
to ``error``; downstream nodes skip non-active rows. This is the columnar
translation of pypeman's per-message exception routing
(``channels.py:465-517``).
"""


import json
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, functions as F, types as T

from ..message import (
    DROPPED,
    ERROR,
    PENDING,
    PROCESSING,
    REJECTED,
    WAIT_RETRY,
    add_context,
)

__all__ = ["Node", "active_cond", "payload_fn_udf"]


def active_cond() -> Column:
    """Rows still flowing through the chain (not dropped/rejected/errored)."""
    return F.col("state").isin(PENDING, PROCESSING) | F.col("state").isNull()


class Node:
    """Base operator: subclasses override :meth:`transform`."""

    def __init__(
        self,
        name: str | None = None,
        passthrough: bool = False,
        store_input_as: str | None = None,
        store_output_as: str | None = None,
        auto_retry: bool = False,
        store_meta: list[str] | None = None,
    ):
        self.name = name or type(self).__name__
        self.passthrough = passthrough
        self.store_input_as = store_input_as
        self.store_output_as = store_output_as
        self.auto_retry = auto_retry
        self.store_meta = list(store_meta) if store_meta else []

    # -- override points -------------------------------------------------
    def transform(self, df: DataFrame) -> DataFrame:
        raise NotImplementedError

    # -- helpers for subclasses ------------------------------------------
    def apply_payload(
        self,
        df: DataFrame,
        expr: Column,
        content_type: str | None = None,
        err: Column | None = None,
    ) -> DataFrame:
        """Replace ``payload`` for active rows only; optionally record a
        per-row error condition (``err`` column evaluating to an error
        string or NULL)."""
        act = active_cond()
        out = df
        if err is not None:
            # via set_state so auto_retry rewrites error → wait_retry
            out = self.set_state(out, err.isNotNull(), ERROR, err_msg=err)
            act = active_cond()
        out = out.withColumn(
            "payload", F.when(act, expr).otherwise(F.col("payload"))
        )
        if content_type is not None:
            out = out.withColumn(
                "content_type",
                F.when(act, F.lit(content_type)).otherwise(F.col("content_type")),
            )
        return out

    def apply_payload_fn(
        self,
        df: DataFrame,
        fn: Callable[[Any], Any],
        decode_json: bool = True,
        src: Column | None = None,
        content_type: str | None = None,
    ) -> DataFrame:
        """Run the python ``fn`` over ``src`` (default: ``payload``) via
        :func:`payload_fn_udf` and apply its result like
        :meth:`apply_payload`, with the UDF's per-row error as ``err``.

        The UDF result is projected once into a temporary struct column
        and payload, err and state are all read from it, so each row
        crosses into Python exactly once per plan (see
        :func:`payload_fn_udf` for why that needs the nondeterministic
        marking too)."""
        udf = payload_fn_udf(fn, decode_json=decode_json)
        out = df.withColumn("__fn", udf(F.col("payload") if src is None else src))
        out = self.apply_payload(
            out, F.col("__fn.payload"), content_type=content_type,
            err=F.col("__fn.err"),
        )
        return out.drop("__fn")

    def set_state(self, df: DataFrame, cond: Column, state: str, err_msg: Column | None = None) -> DataFrame:
        # err_msg must be set BEFORE state: active_cond() is symbolic and
        # would resolve against the already-flipped state column.
        act = active_cond()
        out = df
        if err_msg is not None:
            out = out.withColumn(
                "err_msg", F.when(act & cond, err_msg).otherwise(F.col("err_msg"))
            )
        if state == ERROR and self.auto_retry:
            # auto_retry_exceptions parity (nodes.py:194-204): the failed
            # row re-enters at THIS node instead of terminating in error.
            state = WAIT_RETRY
            if "retry_stage" not in out.columns:
                out = out.withColumn("retry_stage", F.lit(None).cast("string"))
            out = out.withColumn(
                "retry_stage",
                F.when(act & cond, F.lit(self.name)).otherwise(F.col("retry_stage")),
            )
        out = out.withColumn(
            "state", F.when(act & cond, F.lit(state)).otherwise(F.col("state"))
        )
        return out

    # -- chain protocol --------------------------------------------------
    def __call__(self, df: DataFrame) -> DataFrame:
        if self.store_input_as:
            df = add_context(df, self.store_input_as)
        if self.passthrough:
            saved = df.withColumn("__pt_payload", F.col("payload")).withColumn(
                "__pt_meta", F.col("meta")
            )
            out = self.transform(saved)
            out = (
                out.withColumn("payload", F.col("__pt_payload"))
                .withColumn("meta", F.col("__pt_meta"))
                .drop("__pt_payload", "__pt_meta")
            )
        else:
            out = self.transform(df)
        if self.store_output_as:
            out = add_context(out, self.store_output_as)
        if self.store_meta:
            out = self._append_store_meta(out)
        return out

    def _append_store_meta(self, df: DataFrame) -> DataFrame:
        """Collect ``(key, str(meta[key]))`` pairs for active rows into
        ``__store_meta``; keys absent from ``meta`` are skipped
        (``nodes.py:216-222`` only stores present keys)."""
        entry_type = T.ArrayType(
            T.StructType(
                [T.StructField("key", T.StringType()), T.StructField("value", T.StringType())]
            )
        )
        out = df
        if "__store_meta" not in out.columns:
            out = out.withColumn("__store_meta", F.lit(None).cast(entry_type))
        new_entries = F.filter(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("key"),
                        F.col("meta").getItem(k).alias("value"),
                    )
                    for k in self.store_meta
                ]
            ),
            lambda e: e["value"].isNotNull(),
        )
        appended = F.concat(
            F.coalesce(F.col("__store_meta"), F.array().cast(entry_type)), new_entries
        )
        return out.withColumn(
            "__store_meta",
            F.when(active_cond(), appended).otherwise(F.col("__store_meta")),
        )

    def __repr__(self) -> str:  # pragma: no cover
        return f"<{type(self).__name__} {self.name!r}>"


_FN_RESULT = T.StructType(
    [T.StructField("payload", T.StringType()), T.StructField("err", T.StringType())]
)


def payload_fn_udf(fn: Callable[[Any], Any], decode_json: bool = True):
    """Lift an arbitrary python ``payload -> payload`` callable to an
    Arrow-batched pandas UDF returning ``(payload, err)``.

    This is the generic escape hatch (FuncNode, ``nodes.py:976-1007``) and
    the ONLY place arbitrary python runs in the hot path — everything
    expressible as built-in Spark functions stays JVM-side. Errors are
    captured per row, mirroring pypeman's per-message exception routing.

    Once per message: the UDF is marked nondeterministic, and callers
    (:meth:`Node.apply_payload_fn`) project its result into ONE struct
    column that payload, err and state all read. Both halves are needed.
    A deterministic UDF lets Catalyst push every downstream ``state``
    filter (one per outcome in ``Pipeline.run``) below the projection
    that holds it, inlining the UDF into the filter and adding a second
    ``ArrowEvalPython`` per filter. A nondeterministic UDF referenced as
    ``res["payload"]`` and ``res["err"]`` separately is evaluated once
    per reference, since Spark may not merge nondeterministic calls.
    """
    import pandas as pd

    @F.pandas_udf(_FN_RESULT)
    def _udf(s: pd.Series) -> pd.DataFrame:
        payloads: list[str | None] = []
        errs: list[str | None] = []
        for raw in s:
            try:
                obj = raw
                if decode_json and raw is not None:
                    try:
                        obj = json.loads(raw)
                    except (ValueError, TypeError):
                        obj = raw
                res = fn(obj)
                if res is None or isinstance(res, str):
                    payloads.append(res)
                else:
                    payloads.append(json.dumps(res))
                errs.append(None)
            except Exception as exc:  # noqa: BLE001 — per-row error routing
                payloads.append(raw)
                errs.append(f"{type(exc).__name__}: {exc}")
        return pd.DataFrame({"payload": payloads, "err": errs})

    return _udf.asNondeterministic()
