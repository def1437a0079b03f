"""Streaming channel: the pypeman channel lifecycle on Structured
Streaming (SURVEY §2.H rows 62-65, §3.1).

A :class:`StreamingChannel` binds a message DataFrame source (from
sources/, or ``None`` for a channel driven only by direct calls) to a
:class:`~pypeman_spark.pipeline.Pipeline`. :meth:`StreamingChannel.handle`
is the one message batch (``channels.py:465-517``): the ``foreachBatch``
body, the admin replay and push, and the example ticks all run it.

* it stores the batch, runs the pipeline (one Catalyst plan per batch)
  and persists its outcome (``PipelineResult.all``) once: the retry
  park, the settle append and the caller all read those materialised
  rows, so every message crosses each Python node once per batch, not
  once per action. The run owns that cache (``with pipeline.run(df)``):
  its exit, also on a failing batch, releases only this batch's frames;
* rows whose ``state`` is ``wait_retry`` — or error rows when
  ``retry_on_error`` — are parked in the retry store with their re-entry
  stage (dead-letter topology, ``retry.py:13-240``);
* the other outcomes settle in the message store (audit) with one
  append (``MessageStore.settle``): each row's state event and its
  ``store_meta`` events, one job and one commit per batch;
* the channel lifecycle (STARTING/PROCESSING/WAITING/STOPPED) mirrors
  ``channels.py:65-66`` via the StreamingQuery state, and listeners can
  subscribe through :func:`add_listener` (events.py:6-60 parity via
  ``StreamingQueryListener``).

Delivery: the file-source offset log + checkpointLocation give
at-least-once delivery into ``foreachBatch``; Spark re-delivers an epoch
whose offsets it had not committed before a crash. ``process_batch``
runs ``handle`` with ``txn=(token, epoch_id)``, so the store append, the
park and the settle each commit under it, where ``token`` is the
running query's id (:func:`~.token.query_token`; stable across restarts
of one checkpoint), else, for a direct call, a uuid minted per channel
instance. So each table's write is exactly-once: a re-delivered
epoch stores, parks and settles nothing twice, while a fresh checkpoint
(epoch ids from 0 again) still lands. The batch as a whole is not
exactly-once. A re-delivery re-runs the pipeline, so its side effects
run again. And after a crash between the park and the settle, the first
delivery's parks stand: a message the re-run settles is still retried
once more by the next sweep. An admin replay or push runs ``handle``
with ``txn=None``, so it is not exactly-once at all; pypeman's
``handle`` is not either.
"""

from __future__ import annotations

import os
import tempfile
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, functions as F

from ..message import WAIT_RETRY
from ..pipeline import Pipeline
from .token import query_token

__all__ = ["StreamingChannel"]


class StreamingChannel:
    STARTING = "STARTING"
    WAITING = "WAITING"
    PROCESSING = "PROCESSING"
    STOPPED = "STOPPED"

    def __init__(
        self,
        source: DataFrame,
        pipeline: Pipeline,
        message_store=None,
        retry_store=None,
        retry_on_error: bool = False,
        checkpoint_dir: str | None = None,
    ):
        self.source = source
        self.pipeline = pipeline
        self.message_store = message_store
        self.retry_store = retry_store
        self.retry_on_error = retry_on_error
        self.checkpoint_dir = checkpoint_dir
        self.query = None
        self.batches_processed = 0
        self._token = uuid.uuid4().hex

    # -- one message batch (channels.py:465-517 handle) -----------------
    @contextmanager
    def handle(self, df: DataFrame, txn: tuple[str, int] | None = None):
        """Store ``df``, run the pipeline, park its retry rows and settle
        the rest; yield the run's persisted outcome (every row,
        ``wait_retry`` included), released on exit."""
        if self.message_store is not None:
            self.message_store.store(df, txn=txn)
        with self.pipeline.run(df) as res:
            # the park, the settle append and the caller read these
            # materialised rows instead of re-running the chain
            out = res.all
            if self.retry_store is not None:
                retry_cond = F.col("state") == WAIT_RETRY
                if self.retry_on_error:
                    retry_cond = retry_cond | (F.col("state") == "error")
                to_retry = out.filter(retry_cond)
                if not to_retry.isEmpty():
                    self.retry_store.store_until_retry(to_retry, None, txn=txn)
                    out = out.filter(~retry_cond)
            if self.message_store is not None:
                self.message_store.settle(out, txn=txn)
            yield res.all

    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """The ``foreachBatch`` body: :meth:`handle` under
        ``txn=(token, epoch_id)``."""
        txn = (query_token(batch_df.sparkSession, self._token), int(epoch_id))
        with self.handle(batch_df, txn=txn):
            self.batches_processed += 1

    # -- lifecycle (channels.py:206-247) --------------------------------
    def start(self, trigger: dict | None = None):
        if self.checkpoint_dir is None:
            self.checkpoint_dir = tempfile.mkdtemp(
                prefix=f"pypeman_spark_ckpt_{self.pipeline.channel}_"
            )
        writer = (
            self.source.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", os.path.join(self.checkpoint_dir, "cp"))
            .outputMode("update")
        )
        if trigger:
            writer = writer.trigger(**trigger)
        self.query = writer.start()
        return self.query

    @property
    def status(self) -> str:
        if self.query is None:
            return self.STOPPED
        if not self.query.isActive:
            return self.STOPPED
        s = self.query.status
        return self.PROCESSING if s.get("isTriggerActive") else self.WAITING

    def process_all_available(self) -> None:
        """Drain everything currently available (test/batch-drive mode —
        ``handle_and_wait`` parity for streams)."""
        if self.query is None:
            raise ValueError("channel not started")
        self.query.processAllAvailable()

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None

    def run_retries_once(self) -> dict:
        """One retry sweep (the reference's background loop body)."""
        if self.retry_store is None:
            raise ValueError("channel has no retry store")
        return self.retry_store.retry_once(self.pipeline)


def add_channel_listener(spark, on_event) -> object:
    """Channel state-change events (``events.py:6-60``,
    ``channels.py:192-198``) via ``StreamingQueryListener``: ``on_event``
    receives ``(kind, query_id, payload)`` with kind in
    start|progress|terminate. Returns the listener (pass to
    ``spark.streams.removeListener`` to detach)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            on_event("start", str(event.id), {"name": event.name})

        def onQueryProgress(self, event):
            p = event.progress
            on_event(
                "progress",
                str(p.id),
                {"batchId": p.batchId, "numInputRows": p.numInputRows},
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            on_event("terminate", str(event.id), {"exception": event.exception})

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener
