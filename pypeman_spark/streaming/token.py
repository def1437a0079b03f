"""Identity of the streaming query that feeds a ``foreachBatch`` sink.

A sink that keys its exactly-once markers on ``(token, batch_id)`` must
skip a batch only when the SAME query re-delivers it. A checkpointed
query keeps its id across restarts; a reset checkpoint gets a new id
and restarts its batch ids at 0, so a marker of the old query must not
skip the new query's batches. Spark sets the running query's id as the
``sql.streaming.queryId`` local property on the thread that calls the
``foreachBatch`` function, so the sink reads it there.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

__all__ = ["query_token"]


def query_token(spark: SparkSession, fallback: str) -> str:
    """The id of the streaming query whose ``foreachBatch`` call runs
    on this thread, else ``fallback`` (the token of a direct call)."""
    return spark.sparkContext.getLocalProperty("sql.streaming.queryId") or fallback
