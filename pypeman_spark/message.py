"""The Message data model as a DataFrame schema.

Reference: ``pypeman/message.py:16-102`` — a Message carries ``payload``
(arbitrary object), ``meta`` (dict), ``timestamp``, ``uuid``,
``content_type``, ``ctx`` (named payload/meta snapshots) and store
bookkeeping. Pypeman pickles payloads (``message.py:117``); we
standardize on JSON-encoded string payloads — columnar, portable,
oracle-comparable.

A *message DataFrame* is any DataFrame with (a subset of) MESSAGE_SCHEMA.
Operators only require the columns they touch, so plain relational
DataFrames flow through the same pipeline API untouched. At scale the
message frame is just a normal DataFrame: Catalyst prunes the unused
message columns out of parquet scans.

State model mirrors ``message.py:36-43``: priority order (least to most
important) wait_retry < pending < processing < processed < rejected <
error. ``DROPPED`` is an outcome (reference handles it via the
``Dropped`` exception, ``exceptions.py:9``), not a store state; we carry
it in the ``state`` column for routing and map it to filtered-out rows
at sink time.
"""

from __future__ import annotations

import json
from typing import Any, Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

# --- states (pypeman/message.py:36-43) ---------------------------------
WAIT_RETRY = "wait_retry"
PENDING = "pending"
PROCESSING = "processing"
PROCESSED = "processed"
REJECTED = "rejected"
ERROR = "error"
DROPPED = "dropped"  # routing outcome, not a stored state in the reference

#: Less important first — worst-substate aggregation takes the max index.
STATES_PRIORITY = [WAIT_RETRY, PENDING, PROCESSING, PROCESSED, REJECTED, ERROR]

META_TYPE = T.MapType(T.StringType(), T.StringType())
CTX_TYPE = T.MapType(
    T.StringType(),
    T.StructType(
        [
            T.StructField("payload", T.StringType()),
            T.StructField("meta", META_TYPE),
        ]
    ),
)
SUBSTATE_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("sub_id", T.StringType()),
            T.StructField("state", T.StringType()),
            T.StructField("ts", T.DoubleType()),
        ]
    )
)

MESSAGE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("uuid", T.StringType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("channel", T.StringType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("payload", T.StringType()),
        T.StructField("meta", META_TYPE),
        T.StructField("ctx", CTX_TYPE),
        T.StructField("state", T.StringType()),
        T.StructField("submessage_states", SUBSTATE_TYPE),
        T.StructField("err_msg", T.StringType()),
    ]
)

MESSAGE_COLUMNS = [f.name for f in MESSAGE_SCHEMA.fields]


def state_priority_col(state_col: str = "state") -> F.Column:
    """Priority index of a state (higher = worse) — ``array_position`` over
    STATES_PRIORITY, mirroring ``msgstore.py:66-130`` worst-substate logic."""
    return F.array_position(
        F.array(*[F.lit(s) for s in STATES_PRIORITY]), F.col(state_col)
    )


def worst_state_expr(states_col: F.Column) -> F.Column:
    """Worst state of an array of state strings (``set_state_to_worst_sub_state``,
    ``msgstore.py:687-705``)."""
    prio = F.array(*[F.lit(s) for s in STATES_PRIORITY])
    idx = F.array_max(
        F.transform(states_col, lambda s: F.array_position(prio, s))
    )
    return F.element_at(prio, idx.cast("int"))


def ensure_message_columns(
    df: DataFrame,
    channel: str = "default",
    *,
    coerce_ntz: bool | Sequence[str] = True,
) -> DataFrame:
    """Add any missing message columns with engine defaults.

    Mirrors ``Message.__init__`` (``message.py:45-66``): fresh uuid,
    now() timestamp, empty meta/ctx, state=pending. Uses only built-in
    expressions — no UDFs — so it costs nothing at scale.

    ``coerce_ntz`` scopes the ``TIMESTAMP_NTZ`` → ``TimestampType``
    normalization (watermarks/windows/epoch ops reject NTZ; the cast is
    an identity under the engine's pinned UTC session timezone):

    * ``True`` (default) — every NTZ column, because users point
      watermarks at arbitrary event-time columns;
    * a sequence of column names — only those columns are coerced,
      for frames where other NTZ columns must keep their flavor;
    * ``False`` — no coercion.
    """
    from datetime import datetime, timezone

    from pyspark.sql.types import TimestampNTZType

    out = df
    # Event-time columns read from external parquet/json may surface as
    # TIMESTAMP_NTZ (unadjusted parquet timestamps); normalize per
    # coerce_ntz — identity under the pinned UTC session timezone.
    if coerce_ntz:
        targets = None if coerce_ntz is True else set(coerce_ntz)
        for f_ in out.schema.fields:
            if isinstance(f_.dataType, TimestampNTZType) and (
                targets is None or f_.name in targets
            ):
                out = out.withColumn(f_.name, F.col(f_.name).cast("timestamp"))
    cols = set(out.columns)
    if "uuid" not in cols:
        out = out.withColumn("uuid", F.regexp_replace(F.expr("uuid()"), "-", ""))
    if "timestamp" not in cols:
        if out.isStreaming:
            # Structured Streaming resolves current_timestamp() to the
            # micro-batch timestamp: each batch stamps arrival time (a
            # plan-baked literal would stamp stream-DEFINITION time on
            # every batch forever), and it's stable across the several
            # foreachBatch actions within one batch.
            out = out.withColumn("timestamp", F.current_timestamp())
        else:
            # literal, NOT current_timestamp(): the latter re-evaluates
            # on every action, so `store(df)` and a later `run(df)` would
            # stamp the same message with different ids. A plan-baked
            # literal (and uuid()'s per-plan seed) make message identity
            # stable across actions on the same DataFrame.
            now = datetime.now(timezone.utc).replace(tzinfo=None)
            out = out.withColumn("timestamp", F.lit(now))
    if "id" not in cols:
        # store id format '<ts>_<uuid>' (msgstore.py:622)
        out = out.withColumn(
            "id",
            F.concat_ws(
                "_",
                F.date_format(F.col("timestamp"), "yyyyMMdd_HHmmssSSS"),
                F.col("uuid"),
            ),
        )
    if "channel" not in cols:
        out = out.withColumn("channel", F.lit(channel))
    if "content_type" not in cols:
        out = out.withColumn("content_type", F.lit("application/text"))
    if "payload" not in cols:
        out = out.withColumn("payload", F.lit(None).cast("string"))
    if "meta" not in cols:
        out = out.withColumn("meta", F.create_map().cast(META_TYPE))
    if "ctx" not in cols:
        out = out.withColumn("ctx", F.lit(None).cast(CTX_TYPE))
    if "state" not in cols:
        out = out.withColumn("state", F.lit(PENDING))
    if "submessage_states" not in cols:
        out = out.withColumn("submessage_states", F.lit(None).cast(SUBSTATE_TYPE))
    if "err_msg" not in cols:
        out = out.withColumn("err_msg", F.lit(None).cast("string"))
    return out


def conform(df: DataFrame, schema: T.StructType) -> DataFrame:
    """``df`` as exactly ``schema``'s columns, in its order and types;
    a column ``df`` lacks is NULL. A table that records its schema on
    the first write (``TxTable``) then sees one schema from every
    writer, nested nullability included. ``schema``'s names, nested
    ones too, are plain identifiers."""
    have = set(df.columns)
    # SQL text: one py4j call per expression, where a Column per field
    # costs several
    return df.selectExpr(*[
        f"CAST({f'`{f.name}`' if f.name in have else 'NULL'} "
        f"AS {f.dataType.simpleString()}) AS `{f.name}`"
        for f in schema.fields
    ])


def messages_from_payloads(
    spark: SparkSession,
    payloads: Iterable[Any],
    meta: dict[str, str] | list[dict[str, str]] | None = None,
    channel: str = "default",
    content_type: str = "application/json",
) -> DataFrame:
    """Build a message DataFrame from python payloads (JSON-encoded).
    ``meta`` is one dict shared by every row, or a list parallel to
    ``payloads``.

    Test/ingest helper mirroring ``generate_msg`` (reference
    ``tests/common.py:52-78``).
    """
    payloads = list(payloads)
    metas = meta if isinstance(meta, list) else [meta or {}] * len(payloads)
    rows = []
    for p, m in zip(payloads, metas):
        payload = p if isinstance(p, str) else json.dumps(p)
        rows.append((payload, m or {}))
    df = spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("payload", T.StringType()),
                T.StructField("meta", META_TYPE),
            ]
        ),
    )
    return ensure_message_columns(
        df.withColumn("content_type", F.lit(content_type)), channel=channel
    )


def renew(df: DataFrame) -> DataFrame:
    """New uuid + timestamp, everything else kept (``message.py:80-90``) —
    the replay primitive. Timestamp is a plan-baked literal for the same
    action-stability reason as :func:`ensure_message_columns`."""
    from datetime import datetime, timezone

    now = datetime.now(timezone.utc).replace(tzinfo=None)
    return (
        df.withColumn("uuid", F.regexp_replace(F.expr("uuid()"), "-", ""))
        .withColumn("timestamp", F.lit(now))
        .withColumn(
            "id",
            F.concat_ws(
                "_",
                F.date_format(F.col("timestamp"), "yyyyMMdd_HHmmssSSS"),
                F.col("uuid"),
            ),
        )
    )


def add_context(df: DataFrame, key: str) -> DataFrame:
    """Snapshot current payload+meta under ``ctx[key]``
    (``Message.add_context``, ``message.py:92-102``).

    Pure column expression: at scale this is a struct copy inside the
    same stage, no shuffle, no UDF.
    """
    entry = F.struct(
        F.col("payload").alias("payload"), F.col("meta").alias("meta")
    )
    new_ctx = F.when(
        F.col("ctx").isNull(), F.create_map(F.lit(key), entry).cast(CTX_TYPE)
    ).otherwise(F.map_concat(F.col("ctx"), F.create_map(F.lit(key), entry)))
    return df.withColumn("ctx", new_ctx)


def message_to_dict(row) -> dict:
    """Row → plain JSON-able dict (``Message.to_dict``,
    ``message.py:117-151``) — the interchange form for admin APIs,
    webhooks and cross-engine hand-off. Payloads are already JSON
    strings (never pickle, SURVEY §1.1), so the dict is fully portable."""
    d = row.asDict(recursive=True)
    ts = d.get("timestamp")
    if ts is not None and not isinstance(ts, str):
        d["timestamp"] = ts.isoformat()
    return d


def messages_from_dicts(spark, dicts) -> DataFrame:
    """Inverse of :func:`message_to_dict` (``Message.from_dict``,
    ``message.py:153-171``): rebuild a message DataFrame, filling any
    missing columns with engine defaults."""
    from datetime import datetime

    rows = []
    for d in dicts:
        d = dict(d)
        ts = d.get("timestamp")
        if isinstance(ts, str):
            d["timestamp"] = datetime.fromisoformat(ts)
        rows.append(
            tuple(d.get(f.name) for f in MESSAGE_SCHEMA.fields)
        )
    df = spark.createDataFrame(rows, MESSAGE_SCHEMA)
    return ensure_message_columns(df)
