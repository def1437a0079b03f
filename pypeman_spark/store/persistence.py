"""Node-level key-value persistence (SURVEY §1.4).

Reference: ``pypeman/persistence.py:45,93`` — Memory and Sqlite backends
behind ``BaseNode.save_data/restore_data`` (``nodes.py:283-303``).

Spark design: a tiny ``(namespace, key, value, ts)`` parquet table;
writes append, reads resolve latest-wins with a max-ts window. With
Delta this becomes a MERGE. Values are JSON strings.
"""

from __future__ import annotations

import json
import os
import tempfile
import time
from typing import Any

from pyspark.sql import SparkSession, Window, functions as F, types as T

__all__ = ["KVStore", "MemoryKVStore"]

_KV_SCHEMA = T.StructType(
    [
        T.StructField("namespace", T.StringType()),
        T.StructField("key", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("ts", T.DoubleType()),
    ]
)


class KVStore:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def save_data(self, namespace: str, key: str, value: Any) -> None:
        df = self.spark.createDataFrame(
            [(namespace, key, json.dumps(value), time.time())], _KV_SCHEMA
        )
        df.write.mode("append").parquet(self.path)

    def restore_data(self, namespace: str, key: str, default: Any = None) -> Any:
        if not os.path.isdir(self.path):
            return default
        df = self.spark.read.schema(_KV_SCHEMA).parquet(self.path)
        w = Window.partitionBy("namespace", "key").orderBy(F.col("ts").desc())
        rows = (
            df.filter((F.col("namespace") == namespace) & (F.col("key") == key))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("value")
            .collect()
        )
        if not rows:
            return default
        return json.loads(rows[0]["value"])


class MemoryKVStore(KVStore):
    """Ephemeral (``persistence.py:45``)."""

    def __init__(self, spark: SparkSession):
        super().__init__(spark, tempfile.mkdtemp(prefix="pypeman_spark_kv_"))
