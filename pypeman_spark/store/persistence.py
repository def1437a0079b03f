"""Node-level key-value persistence (SURVEY §1.4).

Reference: ``pypeman/persistence.py:45,93`` — Memory and Sqlite backends
behind ``BaseNode.save_data/restore_data`` (``nodes.py:283-303``).

Spark design: a small ``(namespace, key, value)`` :class:`~.txtable.TxTable`
keyed by ``(namespace, key)`` with one bucket. A save is a MERGE of one
row (``merge_upsert``), so the table holds one row per key and the last
commit wins; a restore filters the snapshot. Values are JSON strings.
"""

from __future__ import annotations

import json
import tempfile
from typing import Any

from pyspark.sql import SparkSession, functions as F, types as T

from .txtable import TxTable

__all__ = ["KVStore", "MemoryKVStore"]

_KV_SCHEMA = T.StructType(
    [
        T.StructField("namespace", T.StringType()),
        T.StructField("key", T.StringType()),
        T.StructField("value", T.StringType()),
    ]
)


class KVStore:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.table = TxTable(spark, path, key_cols=["namespace", "key"],
                             n_buckets=1)

    def save_data(self, namespace: str, key: str, value: Any) -> None:
        self.table.merge_upsert(self.spark.createDataFrame(
            [(namespace, key, json.dumps(value))], _KV_SCHEMA
        ))

    def restore_data(self, namespace: str, key: str, default: Any = None) -> Any:
        df = self.table.snapshot()
        if not df.columns:  # nothing saved yet: no schema recorded
            return default
        rows = df.filter(
            (F.col("namespace") == namespace) & (F.col("key") == key)
        ).select("value").collect()
        if not rows:
            return default
        return json.loads(rows[0]["value"])


class MemoryKVStore(KVStore):
    """Ephemeral (``persistence.py:45``)."""

    def __init__(self, spark: SparkSession):
        super().__init__(spark, tempfile.mkdtemp(prefix="pypeman_spark_kv_"))
