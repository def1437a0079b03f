"""Retry store — dead-letter queue with automatic re-injection.

Reference: ``pypeman/retry.py:13-240`` (RetryFileMsgStore): failed
messages are parked with the node name to re-enter at; a background loop
retries oldest-first every ``retry_delay`` seconds; the channel pauses
while the store is non-empty.

Spark design: the retry table IS the buffer — no global pause needed
(SURVEY §2.H row 63). It is one append-only log, ``retry_log/``: a
:class:`~.txtable.TxTable` keyed by ``id`` with one bucket, every row in
one schema (``_LOG_SCHEMA``). A park is one row per generation — the
full message plus ``(stage, retry_at, attempts)`` — and an ack is a
tombstone row ``(id, attempts, acked=true)`` in the same log. One fold,
``_fold()``, anti-joins the tombstones away; ``_live()`` applies it to
one ``snapshot()``. ``retry_due``, ``ack`` and ``is_empty`` read that,
and only the public ``pending()`` sorts (pypeman lists the queue oldest
first). A sweep checkpoints its due rows once, re-runs
``Pipeline.run(df, from_stage=stage)`` per stage (each run entered on
one ``ExitStack``, so it stays cached until the settle), and settles
with one commit: the tombstones of every consumed generation plus the
re-parks, so a failed settle leaves every message parked. A park takes
``txn=(app, version)`` and no-ops when ``version`` is not above the
log's last committed one for ``app``, so a channel's re-delivered epoch
parks once. Files the log no longer references are reclaimed by
``TxTable.vacuum`` past its grace period (``RetryStore.log.vacuum()``).

:meth:`RetryStore.compact` bounds the log: one ``TxTable.swap`` replaces
it by its fold, then ``TxTable.compact`` merges the files.
"""

from __future__ import annotations

import os
import time
from contextlib import ExitStack

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..message import (
    DROPPED,
    ERROR,
    MESSAGE_COLUMNS,
    MESSAGE_SCHEMA,
    PROCESSED,
    REJECTED,
    WAIT_RETRY,
    conform,
    ensure_message_columns,
)
from .txtable import TxTable

__all__ = ["RetryStore"]

# tombstones are keyed (id, attempts): re-parking a failed retry appends
# a new generation of the same message id, and acking the consumed
# generation must not tombstone the fresh one
_LOG_SCHEMA = T.StructType(
    MESSAGE_SCHEMA.fields
    + [
        T.StructField("stage", T.StringType()),
        T.StructField("retry_at", T.DoubleType()),
        T.StructField("attempts", T.IntegerType()),
        T.StructField("acked", T.BooleanType()),
    ]
)


def _tombstones(generations: DataFrame) -> DataFrame:
    return generations.select("id", "attempts", F.lit(True).alias("acked"))


class RetryStore:
    def __init__(self, spark: SparkSession, base_path: str,
                 channel: str = "default", retry_delay: float = 60.0):
        self.spark = spark
        self.base_path = base_path
        self.channel = channel
        self.retry_delay = retry_delay
        self.log = TxTable(spark, os.path.join(base_path, "retry_log"),
                           key_cols=["id"], n_buckets=1)

    def _append(self, df: DataFrame, txn: tuple[str, int] | None = None) -> None:
        self.log.append(conform(df, _LOG_SCHEMA), txn=txn)

    def store_until_retry(self, df: DataFrame, stage: str | None = None,
                          txn: tuple[str, int] | None = None) -> None:
        """Park rows for retry at ``stage`` (``retry.py:58-86``). Rows
        carrying a ``retry_stage`` column (set by ``auto_retry`` nodes,
        ``nodes.py:194-204``) re-enter at that per-row stage; ``stage``
        is the fallback (None = restart from the first stage). ``txn``:
        see the module docstring."""
        self._append(
            self._park_rows(df, stage)
            .withColumn("retry_at", F.lit(time.time() + self.retry_delay))
            .withColumn("attempts", F.lit(1)),
            txn=txn,
        )

    def _park_rows(self, df: DataFrame, stage: str | None,
                   generations: DataFrame | None = None) -> DataFrame:
        """``df`` as un-acked log rows, less ``retry_at`` and
        ``attempts``: the message columns, ``state=wait_retry`` and the
        re-entry ``stage`` (a row's ``retry_stage`` wins). A re-park joins
        in the consumed ``generations`` (id, attempts) it counts from."""
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
            .withColumn("acked", F.lit(False))
            .drop("__stage")
        )

    @staticmethod
    def _fold(log: DataFrame) -> DataFrame:
        """The fold: the parked generations of ``log`` without a
        tombstone, unsorted, as log rows."""
        # no broadcast hint: tombstones grow with parked volume; AQE
        # broadcasts the anti-join side while it is small
        return log.filter(~F.col("acked")).join(
            log.filter("acked"), ["id", "attempts"], "left_anti"
        )

    def _live(self) -> DataFrame:
        """The live generations, without the ``acked`` column."""
        log = self.log.snapshot()
        if not log.columns:  # nothing parked yet: no schema recorded
            log = self.spark.createDataFrame([], _LOG_SCHEMA)
        return self._fold(log).drop("acked")

    def compact(self) -> None:
        """Shrink the log without changing :meth:`pending`: one swap for
        its live generations (tombstones and the rows they ack go), then
        ``TxTable.compact`` into one file. A park that lands during the
        swap is kept: the swap folds again on the fresh snapshot."""
        self.log.swap(self._fold)
        self.log.compact()

    def pending(self) -> DataFrame:
        """All parked, un-acked rows, oldest first (``retry.py:96-120``)."""
        return self._live().orderBy("id")

    def retry_due(self, now: float | None = None) -> DataFrame:
        """Rows whose backoff has elapsed (``retry.py:225-240``)."""
        now = time.time() if now is None else now
        return self._live().filter(F.col("retry_at") <= now)

    def ack(self, df: DataFrame) -> None:
        """Tombstone parked rows (``retry.py:150-160`` delete).

        Rows from :meth:`pending`/:meth:`retry_due` carry ``attempts``;
        a frame without it acks every live generation of each id.
        """
        if "attempts" not in df.columns:
            df = df.select("id").join(self._live().select("id", "attempts"), "id")
        self._append(_tombstones(df))

    def is_empty(self) -> bool:
        return self._live().isEmpty()

    def retry_once(self, pipeline, now: float | None = None) -> dict[str, int]:
        """One retry sweep (the reference's background loop body,
        ``retry.py:130-170``): group due rows by re-entry stage, run the
        pipeline from that stage, then settle every outcome in one
        commit —

        * processed/dropped → success, acked;
        * rejected → terminal, acked (handler side effects must not
          re-fire on the next sweep);
        * error/wait_retry → the consumed generation is acked and the row
          re-parked as generation ``attempts+1`` with doubled backoff
          (``retry_at = now + retry_delay * 2**attempts``).
        """
        now = time.time() if now is None else now
        # materialise the due generations once: the stage count, every
        # stage's run and the settle's tombstones read them
        due = self.retry_due(now).localCheckpoint(eager=True)
        stages = {
            r["stage"]: r["count"] for r in due.groupBy("stage").count().collect()
        }
        counts = {"retried": 0, "succeeded": 0, "rejected": 0, "reparked": 0}
        settle = _tombstones(due)
        # every stage's run stays cached until the settle reads its re-parks
        with ExitStack() as runs:
            for stage, n_due in stages.items():
                sel = due.filter(F.col("stage").eqNullSafe(F.lit(stage)))
                batch = sel.select(*MESSAGE_COLUMNS).withColumn(
                    "state", F.lit(None).cast("string")
                )
                res = runs.enter_context(pipeline.run(batch, from_stage=stage))
                # one job counts the stage's outcome; the re-parks below
                # read the persisted rows
                by_state = res.counts()
                n_ok = by_state.get(PROCESSED, 0) + by_state.get(DROPPED, 0)
                n_fail = by_state.get(ERROR, 0) + by_state.get(WAIT_RETRY, 0)
                if n_fail:
                    failed = res.all.filter(F.col("state").isin(ERROR, WAIT_RETRY))
                    repark = self._park_rows(
                        failed, stage, sel.select("id", "attempts")
                    ).withColumn(
                        "retry_at",
                        F.lit(float(now))
                        + F.lit(float(self.retry_delay))
                        * F.pow(F.lit(2.0), F.col("attempts")),
                    ).withColumn("attempts", (F.col("attempts") + 1).cast("int"))
                    settle = settle.unionByName(repark, allowMissingColumns=True)
                counts["retried"] += n_due
                counts["succeeded"] += n_ok
                counts["rejected"] += by_state.get(REJECTED, 0)
                counts["reparked"] += n_fail
            if stages:
                self._append(settle)
        return counts
