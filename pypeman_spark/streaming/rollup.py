"""Continuous time-bucketed rollup (the "hypertable continuous
aggregate" pattern): a streaming ``foreachBatch`` merges each
micro-batch's partial aggregates into a :class:`~..store.txtable.TxTable`
keyed by ``(day, bucket_start, *keys)`` and partitioned by ``day``.

Why this shape at 100 TB:

* The store keeps ONE row per (bucket, key) — mergeable partial state
  (count + sum), never raw events. Readers get the rollup with a plain
  scan; no re-aggregation of history.
* Each micro-batch is one ``MERGE``: matched rows add the batch's
  partials to their own, new (bucket, key) rows insert. ``day`` is
  derived from ``bucket_start`` and is both a key and the partition
  column, so the merge rewrites only the *day partitions it touches*;
  steady-state cost is proportional to the batch's time spread, not to
  history size.
* count/sum are associative, so merging partials is exact regardless of
  how the stream is micro-batched; avg/rates derive at read time.
* The merge commits under ``txn=(query token, batch_id)``: the marker
  lands in the same commit as the data, so a re-delivered batch is a
  no-op and no crash point merges a batch twice.

This is the streaming twin of the batch ``hourly_event_rollup`` query —
the registry drives both against the same oracle.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..store.txtable import TxTable
from .token import query_token

__all__ = ["ContinuousRollup"]


class ContinuousRollup:
    """Incrementally-maintained ``(bucket_start, *keys) -> (n, total)``
    aggregate over an event-time column.

    :param path: store directory (a ``TxTable`` partitioned by ``day``)
    :param bucket: time bucket width, e.g. ``"1 hour"``
    :param keys: grouping key columns beside the bucket
    :param ts_col: event-time column
    :param value_col: summed metric column (count-only if None)
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        bucket: str = "1 hour",
        keys: tuple[str, ...] = ("event_type",),
        ts_col: str = "ts",
        value_col: str | None = "value",
    ):
        self.spark = spark
        self.path = path
        self.bucket = bucket
        self.keys = list(keys)
        self.ts_col = ts_col
        self.value_col = value_col
        self.checkpoint: str | None = None
        self._query_token = uuid.uuid4().hex
        self.table = TxTable(
            spark, path, key_cols=["day", "bucket_start", *self.keys],
            n_buckets=1, partition_by=["day"],
        )

    def _partials(self, df: DataFrame) -> DataFrame:
        aggs = [F.count(F.lit(1)).alias("n")]
        if self.value_col:
            aggs.append(F.sum(F.col(self.value_col)).alias("total"))
        return (
            df.groupBy(
                F.window(F.col(self.ts_col), self.bucket)["start"].alias(
                    "bucket_start"
                ),
                *[F.col(k) for k in self.keys],
            )
            .agg(*aggs)
            .withColumn("day", F.to_date(F.col("bucket_start")))
        )

    # -- foreachBatch sink --------------------------------------------------
    def merge_batch(self, batch_df: DataFrame, batch_id: int = 0) -> None:
        """Merge one (micro-)batch into the store: one ``TxTable.merge``
        that adds the batch's partials to the matching rows. Exact for
        any batch split because count/sum partials are associative.

        Replay guard: ``foreachBatch`` is AT-LEAST-ONCE across query
        restarts — after a crash between a completed merge and the
        checkpoint commit, Structured Streaming re-delivers the same
        ``batch_id``. The merge commits under ``txn=(token, batch_id)``,
        so a re-delivery of a committed batch is a no-op. ``token`` is
        the running query's id (:func:`~.token.query_token`): a fresh
        query pointed at an existing store merges from its batch 0. A
        direct call keys on the id of the query :meth:`start` last
        started, else on a uuid minted per instance. Task-level retries
        WITHIN a batch need no guard (Spark recomputes
        deterministically before the sink commits)."""
        token = query_token(self.spark, self._query_token)
        add = {"n": "t.n + s.n"}
        if self.value_col:
            # sum() skips nulls: a null partial leaves the other side
            add["total"] = "coalesce(t.total + s.total, t.total, s.total)"
        self.table.merge(
            self._partials(batch_df), when_matched_update=add,
            txn=(token, int(batch_id)),
        )

    def start(
        self,
        stream_df: DataFrame,
        available_now: bool = True,
        checkpoint: str | None = None,
    ):
        """Attach to a streaming DataFrame; returns the StreamingQuery.

        With ``checkpoint``, restarts of the same checkpoint share a
        query identity (batch re-deliveries are no-ops) while a RESET
        checkpoint gets a new id and merges from batch 0. Without one,
        each ``start()`` is a new query with a new id — an
        un-checkpointed query can never legitimately re-deliver across
        runs, so skipping on an older run's commit would be data
        loss."""
        if checkpoint:
            self.checkpoint = checkpoint
        writer = stream_df.writeStream.foreachBatch(self.merge_batch)
        if self.checkpoint:
            writer = writer.option("checkpointLocation", self.checkpoint)
        if available_now:
            writer = writer.trigger(availableNow=True)
        query = writer.start()
        self._query_token = str(query.id)
        return query

    def read(self) -> DataFrame:
        return self.table.snapshot()
