"""Stateful streaming tests: per-key state across micro-batches and
watermarked windows (SURVEY §2.H / guide 'Structured Streaming')."""

import json

from pyspark.sql import functions as F

from pypeman_spark.message import ensure_message_columns
from pypeman_spark.streaming.stateful import (
    running_counter,
    watermarked_window_counts,
)


def test_running_counter_across_batches(spark, tmp_path):
    landing = tmp_path / "in"
    landing.mkdir()
    for i in range(3):
        (landing / f"a{i}.txt").write_text(json.dumps({"n": i}))

    src = (
        spark.readStream.format("text")
        .option("wholetext", "true")
        .option("pathGlobFilter", "*.txt")
        .load(str(landing))
        .select(F.col("value").alias("payload"))
        .withColumn("channel", F.lit("c1"))
    )
    counted = running_counter(src, key_col="channel")
    q = (
        counted.writeStream.format("memory")
        .queryName("counter_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        first = {
            r["key"]: r["count"]
            for r in spark.sql("SELECT * FROM counter_out").collect()
        }
        assert first == {"c1": 3}
        # second batch: state persists, counter continues
        (landing / "late1.txt").write_text(json.dumps({"n": 99}))
        (landing / "late2.txt").write_text(json.dumps({"n": 100}))
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT * FROM counter_out ORDER BY count DESC LIMIT 1"
        ).collect()
        assert rows[0]["count"] == 5
    finally:
        q.stop()


def test_watermarked_window_counts_batch_semantics(spark, sf_dir):
    # batch run of the same expression the streaming channel uses
    from pypeman_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").alias("timestamp")
    )
    out = watermarked_window_counts(ev, window="60 minutes", watermark="10 minutes")
    rows = out.collect()
    assert sum(r["n"] for r in rows) == ev.count()
    # tumbling windows are exactly 1h wide
    assert all(
        (r["window_end"] - r["window_start"]).total_seconds() == 3600 for r in rows
    )


def test_ttl_first_seen_dedup_across_batches(spark, tmp_path):
    # first-occurrence filter (applyInPandasWithState): only first
    # occurrences emit; duplicates across micro-batches are swallowed
    import time
    from pypeman_spark.streaming.stateful import ttl_first_seen

    landing = tmp_path / "in"
    landing.mkdir()
    (landing / "b0.txt").write_text("alpha")
    (landing / "b1.txt").write_text("beta")
    (landing / "b2.txt").write_text("alpha")  # dup within batch 1

    src = (
        spark.readStream.format("text")
        .option("wholetext", "true")
        .option("pathGlobFilter", "*.txt")
        .load(str(landing))
        .select(F.col("value").alias("payload"))
    )
    out = ttl_first_seen(src, key_col="payload")
    q = (
        out.writeStream.format("memory")
        .queryName("ttl_seen_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            r["key"]
            for r in spark.sql("SELECT * FROM ttl_seen_out").collect()
        )
        assert got == ["alpha", "beta"]
        # batch 2: dup of alpha swallowed (state persists), new key emits
        (landing / "b3.txt").write_text("alpha")
        (landing / "b4.txt").write_text("gamma")
        q.processAllAvailable()
        got = sorted(
            r["key"]
            for r in spark.sql("SELECT * FROM ttl_seen_out").collect()
        )
        assert got == ["alpha", "beta", "gamma"]
    finally:
        q.stop()


def test_ttl_first_seen_expiry_reemits(spark, tmp_path):
    # TTL path (v1 semantics): after the TTL lapses AND a later batch
    # fires the timeout (v1 timeouts fire only in a batch where the key
    # has no data), the key is forgotten and re-emits.
    # NOTE: poll the sink instead of processAllAvailable() — with
    # ProcessingTimeTimeout the engine keeps scheduling timeout-check
    # batches, so "all available" never settles and that call hangs.
    import time
    from pypeman_spark.streaming.stateful import ttl_first_seen

    landing = tmp_path / "in"
    landing.mkdir()
    (landing / "c0.txt").write_text("delta")
    src = (
        spark.readStream.format("text")
        .option("wholetext", "true")
        .option("pathGlobFilter", "*.txt")
        .load(str(landing))
        .select(F.col("value").alias("payload"))
    )
    out = ttl_first_seen(src, key_col="payload", ttl_ms=2000)
    q = (
        out.writeStream.format("memory")
        .queryName("ttl_expire_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )

    def wait_rows(n, timeout_s=60):
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM ttl_expire_out").collect()
            if len(rows) >= n:
                return rows
            time.sleep(0.2)
        return spark.sql("SELECT * FROM ttl_expire_out").collect()

    try:
        assert [r["key"] for r in wait_rows(1)] == ["delta"]
        time.sleep(3)  # let the 2 s TTL lapse
        # a batch without delta fires its timeout -> state removed
        (landing / "c1.txt").write_text("epsilon")
        assert len(wait_rows(2)) == 2
        # delta re-arrives after eviction -> re-emits
        (landing / "c2.txt").write_text("delta")
        keys = sorted(r["key"] for r in wait_rows(3))
        assert keys == ["delta", "delta", "epsilon"]
    finally:
        q.stop()
