"""Retry store — dead-letter queue with automatic re-injection.

Reference: ``pypeman/retry.py:13-240`` (RetryFileMsgStore): failed
messages are parked with the node name to re-enter at; a background loop
retries oldest-first every ``retry_delay`` seconds; the channel pauses
while the store is non-empty.

Spark design: the retry table IS the buffer — no global pause needed
(SURVEY §2.H row 63). A retry row is the full message plus ``(stage,
retry_at, attempts)``. ``retry_due`` reads rows whose ``retry_at`` has
passed; the caller re-runs ``Pipeline.run(df, from_stage=stage)`` and
acks success. Appends only (Delta-ready); acks are tombstone events, so
nothing rewrites at scale.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..message import MESSAGE_COLUMNS, WAIT_RETRY, ensure_message_columns

__all__ = ["RetryStore"]

# acks are keyed (id, attempts): re-parking a failed retry appends a new
# generation of the same message id, and acking the consumed generation
# must not tombstone the fresh one
_ACK_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("attempts", T.IntegerType()),
        T.StructField("ack_ts", T.DoubleType()),
    ]
)


class RetryStore:
    def __init__(self, spark: SparkSession, base_path: str,
                 channel: str = "default", retry_delay: float = 60.0):
        self.spark = spark
        self.base_path = base_path
        self.channel = channel
        self.retry_delay = retry_delay
        self.msg_path = os.path.join(base_path, "retry_messages")
        self.ack_path = os.path.join(base_path, "retry_acks")

    def store_until_retry(self, df: DataFrame, stage: str | None = None) -> None:
        """Park rows for retry at ``stage`` (``retry.py:58-86``). Rows
        carrying a ``retry_stage`` column (set by ``auto_retry`` nodes,
        ``nodes.py:194-204``) re-enter at that per-row stage; ``stage``
        is the fallback (None = restart from the first stage)."""
        out = (
            self._park_rows(df, stage)
            .withColumn("retry_at", F.lit(time.time() + self.retry_delay))
            .withColumn("attempts", F.lit(1))
        )
        out.write.mode("append").parquet(self.msg_path)

    def _park_rows(self, df: DataFrame, stage: str | None,
                   generations: DataFrame | None = None) -> DataFrame:
        """``df`` as retry rows, less ``retry_at`` and ``attempts``: the
        message columns, ``state=wait_retry`` and the re-entry ``stage``
        (a row's ``retry_stage`` wins). A re-park joins in the consumed
        ``generations`` (id, attempts) it counts from."""
        stage_col = F.lit(stage).cast("string")
        if "retry_stage" in df.columns:
            stage_col = F.coalesce(F.col("retry_stage"), stage_col)
        out = (
            ensure_message_columns(df, channel=self.channel)
            .withColumn("__stage", stage_col)
            .select(*MESSAGE_COLUMNS, "__stage")
        )
        if generations is not None:
            out = out.join(generations, "id")
        return (
            out.withColumn("state", F.lit(WAIT_RETRY))
            .withColumn("stage", F.col("__stage"))
            .drop("__stage")
        )

    def _acks(self) -> DataFrame:
        if not os.path.isdir(self.ack_path):
            return self.spark.createDataFrame([], _ACK_SCHEMA)
        return self.spark.read.schema(_ACK_SCHEMA).parquet(self.ack_path)

    def pending(self) -> DataFrame:
        """All parked, un-acked rows, oldest first (``retry.py:96-120``)."""
        if not os.path.isdir(self.msg_path):
            from ..message import MESSAGE_SCHEMA

            schema = T.StructType(
                MESSAGE_SCHEMA.fields
                + [
                    T.StructField("stage", T.StringType()),
                    T.StructField("retry_at", T.DoubleType()),
                    T.StructField("attempts", T.IntegerType()),
                ]
            )
            return self.spark.createDataFrame([], schema)
        # no broadcast hint: acks grow with parked volume between
        # compactions; AQE broadcasts the anti-join side while small
        parked = self.spark.read.parquet(self.msg_path)
        return parked.join(
            self._acks(), ["id", "attempts"], "left_anti"
        ).orderBy("id")

    def retry_due(self, now: float | None = None) -> DataFrame:
        """Rows whose backoff has elapsed (``retry.py:225-240``)."""
        now = time.time() if now is None else now
        return self.pending().filter(F.col("retry_at") <= now)

    def ack(self, df: DataFrame) -> None:
        """Tombstone parked rows (``retry.py:150-160`` delete).

        Rows from :meth:`pending`/:meth:`retry_due` carry ``attempts``;
        a frame without it acks every parked generation of each id.
        """
        if "attempts" not in df.columns:
            generations = self.spark.read.parquet(self.msg_path).select(
                "id", "attempts"
            )
            df = df.select("id").join(generations, "id")
        df.select("id", "attempts").withColumn(
            "ack_ts", F.lit(time.time())
        ).write.mode("append").parquet(self.ack_path)

    def is_empty(self) -> bool:
        return self.pending().isEmpty()

    def retry_once(self, pipeline, now: float | None = None) -> dict[str, int]:
        """One retry sweep (the reference's background loop body,
        ``retry.py:130-170``): group due rows by re-entry stage, run the
        pipeline from that stage, then settle every outcome —

        * processed/dropped → success, acked;
        * rejected → terminal, acked (handler side effects must not
          re-fire on the next sweep);
        * error/wait_retry → the consumed generation is acked and the row
          re-parked as generation ``attempts+1`` with doubled backoff
          (``retry_at = now + retry_delay * 2**attempts``).
        """
        from ..message import DROPPED, ERROR, PROCESSED, REJECTED

        now = time.time() if now is None else now
        due = self.retry_due(now)
        # due rows per re-entry stage: the stage list and each stage's
        # `retried` count from one job
        stages = {
            r["stage"]: r["count"] for r in due.groupBy("stage").count().collect()
        }
        counts = {"retried": 0, "succeeded": 0, "rejected": 0, "reparked": 0}
        for stage, n_due in stages.items():
            # snapshot the due generation BEFORE writing acks/re-parks:
            # the sweep's own appends would otherwise be visible to these
            # lazy frames on re-execution (reading files it just wrote)
            sel = due.filter(
                F.col("stage").eqNullSafe(F.lit(stage))
            ).localCheckpoint(eager=True)
            batch = sel.select(*MESSAGE_COLUMNS).withColumn(
                "state", F.lit(None).cast("string")
            )
            res = pipeline.run(batch, from_stage=stage)
            outcome = res.all.persist()
            try:
                # one job settles the stage's outcome: the counts below come
                # from this aggregate, and the re-park reads persisted rows
                by_state = {
                    r["state"]: r["count"]
                    for r in outcome.groupBy("state").count().collect()
                }
                n_ok = by_state.get(PROCESSED, 0) + by_state.get(DROPPED, 0)
                n_rej = by_state.get(REJECTED, 0)
                n_fail = by_state.get(ERROR, 0) + by_state.get(WAIT_RETRY, 0)
                # consume this generation whatever the outcome; failures
                # re-enter below as generation attempts+1
                self.ack(sel.select("id", "attempts"))
                if n_fail:
                    failed = outcome.filter(F.col("state").isin(ERROR, WAIT_RETRY))
                    repark = (
                        self._park_rows(failed, stage, sel.select("id", "attempts"))
                        .withColumn(
                            "retry_at",
                            F.lit(float(now))
                            + F.lit(float(self.retry_delay))
                            * F.pow(F.lit(2.0), F.col("attempts")),
                        )
                        .withColumn(
                            "attempts", (F.col("attempts") + 1).cast("int")
                        )
                    )
                    repark.write.mode("append").parquet(self.msg_path)
                counts["retried"] += n_due
                counts["succeeded"] += n_ok
                counts["rejected"] += n_rej
                counts["reparked"] += n_fail
            finally:
                outcome.unpersist()
                pipeline.release()
        return counts
