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
(``channels.py:465-517``). Every Python callable a node runs goes
through one builder, :func:`python_udf`, applied by
:meth:`Node.apply_python`: a row whose call raises becomes that row's
``error`` (or ``wait_retry`` under ``auto_retry``), never a failed batch.
"""


import json
from operator import call
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

__all__ = ["Node", "active_cond", "python_udf"]


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
        return self._write_active(df, {"payload": expr}, content_type, err)

    def apply_python(
        self,
        df: DataFrame,
        fn: Callable[..., Any],
        inputs: list[Column],
        outputs: dict[str, T.DataType],
        decode_json: bool = True,
        content_type: str | None = None,
    ) -> DataFrame:
        """Run the Python ``fn`` over ``inputs`` through :func:`python_udf`
        and write its ``outputs``, each to the column of its name.

        The UDF result is projected once into a temporary struct column
        that every write reads, so each row crosses into Python exactly
        once per plan (see :func:`python_udf` for why that also needs
        the nondeterministic marking). A row whose call raised goes to
        ``error`` with the exception as ``err_msg`` (``wait_retry``
        under ``auto_retry``); the outputs are written as in
        :meth:`_write_active`."""
        out = df.withColumn(
            "__py", python_udf(fn, outputs, decode_json=decode_json)(*inputs)
        )
        cols = {name: F.col(f"__py.{name}") for name in outputs}
        out = self._write_active(out, cols, content_type, F.col("__py.err"))
        return out.drop("__py")

    def _write_active(
        self,
        df: DataFrame,
        cols: dict[str, Column],
        content_type: str | None,
        err: Column | None,
    ) -> DataFrame:
        """Route rows whose ``err`` is not NULL through :meth:`set_state`
        (so ``auto_retry`` rewrites error → wait_retry), then write each
        of ``cols`` (and ``content_type``) to the rows still active. The
        other rows keep the column's value, or get NULL in a column
        ``df`` does not have."""
        out = df
        if err is not None:
            out = self.set_state(out, err.isNotNull(), ERROR, err_msg=err)
        if content_type is not None:
            cols = {**cols, "content_type": F.lit(content_type)}
        act = active_cond()
        for name, expr in cols.items():
            new = F.when(act, expr)
            out = out.withColumn(
                name, new.otherwise(F.col(name)) if name in df.columns else new
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
        """:meth:`apply_python` for a ``payload -> payload`` callable
        reading ``src`` (default: ``payload``)."""
        return self.apply_python(
            df, fn, [F.col("payload") if src is None else src],
            {"payload": T.StringType()}, decode_json=decode_json,
            content_type=content_type,
        )

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


def _dump(value: Any) -> str | None:
    """A Python value as a payload string: ``None`` and ``str`` pass,
    anything else is JSON-encoded."""
    return value if value is None or isinstance(value, str) else json.dumps(value)


def _encoder(dtype: T.DataType) -> Callable[[Any], Any]:
    """How a callable's return value becomes a value of ``dtype``."""
    if isinstance(dtype, T.BooleanType):
        return bool
    if isinstance(dtype, T.MapType):  # meta: every value a string
        return lambda m: {k: str(v) for k, v in m.items()}
    if isinstance(dtype, T.ArrayType):  # a JSON array's elements
        return lambda xs: None if xs is None else [
            x if isinstance(x, str) else json.dumps(x) for x in xs
        ]
    return _dump


def python_udf(fn: Callable[..., Any], outputs: dict[str, T.DataType],
               decode_json: bool = True):
    """Lift a Python callable to an Arrow-batched pandas UDF returning
    ``struct<*outputs, err>``: the one place arbitrary Python runs in a
    node. Everything expressible as built-in Spark functions stays
    JVM-side.

    Per row, ``fn`` receives the input columns' values (a JSON string
    decoded when ``decode_json``, left as is when it does not parse; a
    map as a dict) and returns one value per output, a tuple when there
    are several. Each value is encoded by its output type (a payload
    string is JSON-encoded unless it is ``None`` or a ``str``). A row
    whose call raises gets null outputs and ``"<Type>: <message>"`` as
    ``err``, pypeman's per-message exception routing.

    Once per message: the UDF is marked nondeterministic, and
    :meth:`Node.apply_python` projects its result into ONE struct
    column that every output, ``err`` and ``state`` read. Both halves
    are needed. A deterministic UDF lets Catalyst push every downstream
    ``state`` filter (one per outcome in ``Pipeline.run``) below the
    projection that holds it, inlining the UDF into the filter and
    adding a second ``ArrowEvalPython`` per filter, or prune it from an
    action (a count) that does not read its outputs, so a raising row
    would count as processed. A nondeterministic UDF referenced as
    ``res["payload"]`` and ``res["err"]`` separately is evaluated once
    per reference, since Spark may not merge nondeterministic calls.
    """
    import pandas as pd

    names = list(outputs)
    encoders = [_encoder(t) for t in outputs.values()]
    single = len(names) == 1
    failed = (None,) * len(names)
    schema = T.StructType(
        [T.StructField(n, t) for n, t in outputs.items()]
        + [T.StructField("err", T.StringType())]
    )

    def decode(value: Any) -> Any:
        if decode_json and isinstance(value, str):
            try:
                return json.loads(value)
            except ValueError:
                pass
        return value

    @F.pandas_udf(schema)
    def _udf(*cols: pd.Series) -> pd.DataFrame:
        rows = []
        for vals in zip(*cols):
            try:
                res = fn(*map(decode, vals))
                rows.append((*map(call, encoders, (res,) if single else res), None))
            except Exception as exc:  # noqa: BLE001 — per-row error routing
                rows.append((*failed, f"{type(exc).__name__}: {exc}"))
        return pd.DataFrame(rows, columns=[*names, "err"])

    return _udf.asNondeterministic()
