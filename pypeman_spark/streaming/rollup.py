"""Continuous time-bucketed rollup (the "hypertable continuous
aggregate" pattern): a streaming ``foreachBatch`` merges each
micro-batch's partial aggregates into a date-partitioned parquet store.

Why this shape at 100 TB:

* The store keeps ONE row per (bucket, key) — mergeable partial state
  (count + sum), never raw events. Readers get the rollup with a plain
  scan; no re-aggregation of history.
* Each micro-batch only rewrites the *day partitions it touches*:
  the merge filters the store to affected days (partition-pruned scan),
  unions the batch partials, re-aggregates, and rewrites just those
  partitions via dynamic partition overwrite. Steady-state cost is
  proportional to the batch's time spread, not to history size.
* count/sum are associative, so merging partials is exact regardless of
  how the stream is micro-batched; avg/rates derive at read time.

This is the streaming twin of the batch ``hourly_event_rollup`` query —
the registry drives both against the same oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .token import query_token

__all__ = ["ContinuousRollup"]


class ContinuousRollup:
    """Incrementally-maintained ``(bucket_start, *keys) -> (n, total)``
    aggregate over an event-time column.

    :param path: parquet store directory (partitioned by ``day``)
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
        self._query_token: str | None = None

    # -- aggregation pieces -------------------------------------------------
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

    def _merge_partials(self, df: DataFrame) -> DataFrame:
        aggs = [F.sum("n").alias("n")]
        if self.value_col:
            aggs.append(F.sum("total").alias("total"))
        return df.groupBy("bucket_start", *self.keys, "day").agg(*aggs)

    # -- foreachBatch sink --------------------------------------------------
    def merge_batch(self, batch_df: DataFrame, batch_id: int = 0) -> None:
        """Merge one (micro-)batch into the store. Exact for any batch
        split because count/sum partials are associative.

        Replay guard: ``foreachBatch`` is AT-LEAST-ONCE across query
        restarts — after a crash between a completed merge and the
        checkpoint commit, Structured Streaming re-delivers the same
        ``batch_id``. The ``_last_batch`` marker (written tmp+rename
        after each merge) makes the re-delivery a no-op instead of a
        double-merge. Task-level retries WITHIN a batch need no guard
        (Spark recomputes deterministically before the sink commits).
        Remaining window, stated honestly: the multi-day dynamic
        partition overwrite plus the marker write are not one atomic
        unit — a crash between them still replays one merge; closing
        that needs a transactional table format (Delta/Iceberg MERGE),
        the same substitution the localCheckpoint note below makes."""
        marker = os.path.join(self.path, "_last_batch")
        # the checkpointed query's id, else the token start() minted:
        # a fresh query pointed at an existing store must not skip
        # batches up to an older query's marker (data loss)
        token = query_token(self.checkpoint, self._query_token or "adhoc")
        if os.path.isfile(marker):
            with open(marker) as fh:
                txt = fh.read().strip()
            # marker format "<query_token>:<batch_id>" — skip only when
            # the SAME query re-delivers; a fresh query's batch 0 must
            # merge even if an old marker is present (checkpoint reset)
            if ":" in txt:
                mtok, _, mid = txt.rpartition(":")
                if mtok == token and mid and batch_id <= int(mid):
                    return
            elif txt.isdigit() and self.checkpoint and os.path.isfile(
                os.path.join(self.checkpoint, "metadata")
            ):
                # Legacy bare-int marker from a pre-token version of
                # this store, under a checkpoint-backed query. Spark
                # re-delivers at most the LAST uncommitted batch, so a
                # genuine replay arrives with batch_id == marker —
                # honor exactly that (adopting the marker under the
                # current token), which restores the old format's
                # replay protection. Any OTHER batch id means this is
                # not a replay of the marker batch (a reset checkpoint
                # restarts at 0, a continuation arrives at marker+1):
                # merge, and the post-merge marker write upgrades the
                # format. This avoids re-introducing the reset-time
                # data loss the token format exists to prevent.
                if batch_id == int(txt):
                    tmp2 = marker + f".tmp{os.getpid()}"
                    with open(tmp2, "w") as fh:
                        fh.write(f"{token}:{int(txt)}")
                    os.replace(tmp2, marker)
                    return
        spark = batch_df.sparkSession
        partials = self._partials(batch_df)
        days = [r["day"] for r in partials.select("day").distinct().collect()]
        if not days:
            return
        merged = partials
        if os.path.isdir(self.path) and any(
            not e.startswith(("_", ".")) for e in os.listdir(self.path)
        ):
            existing = spark.read.parquet(self.path).filter(
                F.col("day").isin(days)  # partition-pruned: touched days only
            )
            merged = existing.unionByName(partials)
        # localCheckpoint truncates lineage so the write doesn't see its
        # own input path ("cannot overwrite a path being read from") —
        # it also materializes the merge once. On a real deployment a
        # table format (Delta/Iceberg MERGE INTO) replaces this dance.
        merged = self._merge_partials(merged).localCheckpoint(eager=True)
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("day")
            .parquet(self.path)
        )
        tmp = marker + f".tmp{os.getpid()}"
        with open(tmp, "w") as fh:
            fh.write(f"{token}:{batch_id}")
        os.replace(tmp, marker)

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
        each ``start()`` mints a fresh token — an un-checkpointed query
        can never legitimately re-deliver across runs, so skipping on
        an older run's marker would be data loss."""
        import uuid as _uuid

        if checkpoint:
            self.checkpoint = checkpoint
        self._query_token = _uuid.uuid4().hex
        writer = stream_df.writeStream.foreachBatch(self.merge_batch)
        if self.checkpoint:
            writer = writer.option("checkpointLocation", self.checkpoint)
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path)
