"""Custom stateful streaming operators (SURVEY §1.4, §2.H).

Pypeman nodes keep cross-run state via ``BaseNode.save_data/restore_data``
(``nodes.py:283-303``). For in-flight streaming state the Spark-native
primitive is ``applyInPandasWithState`` — per-key state in the state
store, checkpoint-backed, with timeout-based eviction.

Provided operators:

* :func:`running_counter` — per-key message counter + last-seen payload
  (the reference's counter/dedup-window node shape).
* :func:`watermarked_window_counts` — event-time tumbling window with
  late-data handling via watermark (pypeman has no event-time semantics
  at all — SURVEY §2 'not present'; this is the Spark-first upgrade).
* :func:`ttl_first_seen` — first-occurrence filter with processing-time
  TTL eviction (``applyInPandasWithState`` + ``ProcessingTimeTimeout``).

Scale: state is partitioned by key across the cluster; the watermark
bounds state size (old windows evicted), so the operator runs
indefinitely on unbounded streams.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

__all__ = [
    "running_counter",
    "watermarked_window_counts",
    "session_window_counts",
    "stream_dedup",
    "ttl_first_seen",
]

_COUNTER_OUT = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("count", T.LongType()),
        T.StructField("last_payload", T.StringType()),
    ]
)
_COUNTER_STATE = T.StructType(
    [T.StructField("count", T.LongType()), T.StructField("last", T.StringType())]
)


def running_counter(
    df: DataFrame, key_col: str = "channel", payload_col: str = "payload"
) -> DataFrame:
    """Per-key running message count across micro-batches.

    Works on a streaming DataFrame (state store) and, for tests, on any
    grouped batch via the same code path semantics.
    """
    import pandas as pd

    def update(
        key: Tuple[Any, ...],
        pdfs: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        count, last = state.get if state.exists else (0, None)
        for pdf in pdfs:
            count += len(pdf)
            if len(pdf):
                last = pdf[payload_col].iloc[-1]
        state.update((count, last))
        yield pd.DataFrame({"key": [key[0]], "count": [count], "last_payload": [last]})

    return (
        df.groupBy(F.col(key_col))
        .applyInPandasWithState(
            update,
            outputStructType=_COUNTER_OUT,
            stateStructType=_COUNTER_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def session_window_counts(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "timestamp",
    gap: str = "5 minutes",
    watermark: str | None = None,
) -> DataFrame:
    """Per-key session windows via the native ``session_window``
    aggregation: a session extends while consecutive events arrive
    within ``gap``; the window closes ``gap`` after the last event.
    Works identically on batch frames (one-shot gaps-and-islands) and
    streams (state-store sessions, evicted once the watermark passes
    the session end — pass ``watermark`` on unbounded streams so state
    stays bounded).

    Returns ``(key, session_start, session_end, n)`` with real
    TimestampType bounds.
    """
    src = df.withWatermark(ts_col, watermark) if watermark else df
    return (
        src.groupBy(
            F.col(key_col), F.session_window(F.col(ts_col), gap).alias("win")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col(key_col),
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            F.col("n"),
        )
    )


def stream_dedup(
    df: DataFrame, keys: list[str], ts_col: str | None = None,
    within: str | None = None,
) -> DataFrame:
    """Streaming exact dedup on ``keys``.

    ``within=None`` keeps every seen key in the state store — exact
    forever, state grows with distinct keys (fine for bounded key
    domains or ``availableNow`` backfills). Passing ``within`` (e.g.
    ``"24 hours"``) switches to ``dropDuplicatesWithinWatermark``: a
    watermark on ``ts_col`` bounds state by evicting keys older than
    the delay — the 100 TB / unbounded-stream path, trading "duplicates
    farther apart than the delay re-emit" for bounded memory.
    """
    if within is not None and df.isStreaming:
        if ts_col is None:
            raise ValueError("within= requires ts_col for the watermark")
        return df.withWatermark(ts_col, within).dropDuplicatesWithinWatermark(keys)
    # batch frames: dropDuplicatesWithinWatermark is streaming-only, and
    # a bounded frame needs no state bound — plain dedup IS the semantics
    return df.dropDuplicates(keys)


def watermarked_window_counts(
    df: DataFrame,
    ts_col: str = "timestamp",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Event-time tumbling window counts with late-data tolerance."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            F.col("n"),
        )
    )


_FIRST_SEEN_OUT = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("first_payload", T.StringType()),
    ]
)


def ttl_first_seen(
    df: DataFrame,
    key_col: str = "payload",
    payload_col: str | None = None,
    ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming first-occurrence filter with processing-time TTL:
    emits only the FIRST row seen per key; later duplicates are
    swallowed while the key's state lives.

    The difference from :func:`stream_dedup`'s
    ``dropDuplicatesWithinWatermark`` is the state bound: watermark
    dedup evicts by EVENT time (needs a timestamp column and
    ordered-ish data), while ``ttl_ms`` here evicts by PROCESSING-time
    TTL, refreshed on every sighting. A key unseen for ``ttl_ms`` is
    forgotten and its next occurrence re-emits: the standard
    cache-shaped dedup for sources with no usable event time.
    ``ttl_ms=None`` keeps keys forever (exact dedup, state grows with
    distinct keys).

    Implementation: ``applyInPandasWithState`` with
    ``ProcessingTimeTimeout``. The timeout IS the TTL: it is set on
    every sighting, and a timed-out key's state is removed so its next
    occurrence re-emits. Timing nuance: Spark fires the timeout only
    in a micro-batch where the key has NO new data, so a duplicate
    arriving in the first batch after expiry, before any batch has
    fired the timeout, is still swallowed.

    Scale: state is hash-partitioned by key across executors and lives
    in the checkpointed state store, so the operator runs indefinitely
    on unbounded streams with bounded memory once a TTL is set."""
    import pandas as pd

    out_payload = payload_col or key_col

    def update(
        key: Tuple[Any, ...],
        pdfs: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        if state.hasTimedOut:
            # TTL lapsed with no sighting: forget the key entirely so
            # its next occurrence re-emits
            state.remove()
            return
        fresh = not state.exists
        first = None
        for pdf in pdfs:
            if fresh and first is None and len(pdf):
                first = pdf[out_payload].iloc[0]
        state.update((True,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)  # refreshed every sighting
        if fresh:
            yield pd.DataFrame(
                {"key": [str(key[0])], "first_payload": [first]}
            )

    return df.groupBy(F.col(key_col)).applyInPandasWithState(
        update,
        outputStructType=_FIRST_SEEN_OUT,
        stateStructType=T.StructType(
            [T.StructField("seen", T.BooleanType())]
        ),
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )
