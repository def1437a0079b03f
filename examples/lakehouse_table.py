"""Lakehouse-style ACID table end-to-end (`store/txtable.py`).

The full table lifecycle a warehouse job would run, against the real
commit log:

1. **Create + append** — customers land as an immutable, bucket-
   partitioned snapshot (version 1).
2. **Upsert** — a balance adjustment MERGEs by key, rewriting only the
   touched key-hash buckets.
3. **General MERGE INTO** — conditional update (`t.bal + s.delta`),
   conditional delete, expression-built inserts.
4. **Time travel** — the version-1 snapshot re-read exactly, after
   later commits rewrote those buckets' files.
5. **Change data feed** — the per-commit log diff, both as a batch
   DataFrame and as a Structured Streaming source (checkpointed
   commit-version offsets).
6. **Data skipping** — a range scan pruned by footer min/max stats
   recorded in the log, tightened by a clustered (sorted) compaction.
7. **Vacuum** — physical deletion of unreferenced files past a grace
   period.
8. **Deletion vectors** — merge-on-read point deletes: positions in
   the commit log, zero files rewritten; compaction materializes
   them away.
9. **Log retention** — ``truncate_log`` drops entries a checkpoint
   supersedes, bounding log storage for long-lived tables.
10. **Restore + timestamp travel** — ``restore(version|timestamp)``
    rolls the table back in one metadata-only commit (files re-added,
    never rewritten; the feed reports the logical diff);
    ``snapshot(timestamp=...)`` / ``table_changes(
    starting_timestamp=...)`` resolve wall-clock times against
    monotonicized commit times.
11. **Shallow clone** — ``clone(dest)`` makes an independent
    zero-copy table borrowing the source's files; its DML never
    touches the source's bytes.

Run: ``python examples/lakehouse_table.py [sf_dir]``
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pypeman_spark import get_spark
from pypeman_spark.sources.tables import load_table
from pypeman_spark.store import TxTable
from pypeman_spark.streaming.drain import await_stream


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("lakehouse_table", cpus=8)
    root = tempfile.mkdtemp(prefix="lakehouse_")
    tx = TxTable(
        spark, os.path.join(root, "customers"),
        key_cols=["c_custkey"], n_buckets=8,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    v1 = tx.append(cust)
    print(f"v{v1}: appended {tx.snapshot().count()} customers")

    tx.merge_upsert(
        cust.filter(F.col("segment") == "BUILDING")
        .withColumn("bal_cents", F.col("bal_cents") + 12345)
    )
    print(f"v{tx.version()}: upserted BUILDING balances")

    tx.merge(
        cust.filter(F.col("segment") == "MACHINERY").select(
            "c_custkey", (F.col("c_custkey") % 100).alias("delta")
        ),
        when_matched_update={"bal_cents": "t.bal_cents + s.delta"},
        when_matched_delete="s.delta % 13 = 0",
        when_matched_condition="t.bal_cents > 0",
        when_not_matched_insert=False,
    )
    print(f"v{tx.version()}: general MERGE over MACHINERY")

    pinned = tx.snapshot(version=v1).agg(
        F.sum("bal_cents").alias("s")
    ).first()["s"]
    print(f"time travel to v{v1}: total cents {pinned} (pre-merge exact)")

    feed = tx.table_changes(0)
    print("batch change feed:", {
        r["_change_type"]: r["n"]
        for r in feed.groupBy("_change_type").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    })

    q = (
        tx.stream_changes().writeStream.format("memory")
        .queryName("cdc").option(
            "checkpointLocation", os.path.join(root, "ckpt")
        ).trigger(availableNow=True).start()
    )
    await_stream(q, 120, "CDC stream drain")
    print("streaming feed rows:", spark.table("cdc").count(),
          "(must equal batch:", feed.count(), ")")

    tx.compact(min_files=1, cluster_by=["bal_cents"], files_per_bucket=4)
    hits = tx.scan(("bal_cents", "between", (100000, 200000)))
    print(
        f"clustered scan: {hits.count()} rows from "
        f"{tx.last_scan_info['files_read']}/"
        f"{tx.last_scan_info['files_live']} files"
    )

    tx.add_constraint("segment_known", "segment is not null")
    try:
        tx.merge_upsert(
            tx.snapshot().limit(1).withColumn(
                "segment", F.lit(None).cast("string")
            )
        )
    except Exception as e:  # ConstraintViolation
        print("CHECK constraint blocked a bad write:", e)

    tx.rename_column("bal_cents", "balance_cents")  # log-only: no rewrite
    print("renamed, no data rewritten:", tx.read().columns,
          "| exact rows from the log alone:", tx.count(),
          "| table stats:", tx.stats())

    removed = tx.vacuum(grace_s=0.0)
    print(f"vacuum removed {len(removed)} unreferenced files")

    # ---- partitioned table: the 100 TB layout -------------------
    # Hive col=value dirs above the buckets, exact partition values
    # in the log: region deletes are metadata-only, scans prune to
    # the touched directories, writers on different days commute.
    from pyspark.sql import functions as F2

    pt = TxTable(
        spark, os.path.join(root, "orders_by_prio"),
        key_cols=["prio", "o_orderkey"], n_buckets=8,
        partition_by=["prio"],
        checkpoint_interval=3,  # frequent anchors for the demo
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F2.col("o_orderpriority").alias("prio"), "o_orderkey",
        F2.round(F2.col("o_totalprice") * 100).cast("long")
        .alias("cents"),
    )
    pt.append(orders)
    print("partitioned stats:", pt.stats())  # incl. protocol v2
    files_before = pt.stats()["files"]
    pt.delete_where(("prio", "=", "1-URGENT"))  # metadata-only drop
    print(
        f"retention delete: {files_before} -> {pt.stats()['files']} "
        f"files, no data read or rewritten"
    )
    pt.update_where({"cents": "cents + 1"}, ("prio", "=", "2-HIGH"))
    hi = pt.scan(("prio", "=", "2-HIGH"))
    print(
        f"partition-pruned scan: {hi.count()} rows from "
        f"{pt.last_scan_info['files_read']}/"
        f"{pt.last_scan_info['files_live']} files"
    )
    pt.replace_where(  # reprocess one region atomically
        orders.where(F2.col("prio") == "3-MEDIUM")
        .withColumn("cents", F2.lit(0).cast("long")),
        ("prio", "=", "3-MEDIUM"),
    )
    pt.compact(min_files=2, where=(("prio", "=", "2-HIGH"),))
    print("after DML:", pt.stats(), "| history ops:",
          [h["op"] for h in pt.history()])

    # ---- deletion vectors: merge-on-read point deletes ----------
    # GDPR-shaped: delete a handful of keys from a big table as a
    # metadata-sized commit (row positions in the log), not a bucket
    # rewrite; every reader applies the vector, the change feed
    # reports exactly the newly-dead rows, compact materializes.
    victims = pt.snapshot().where(
        F2.col("prio") == "5-LOW"
    ).select("prio", "o_orderkey").limit(3)
    v_before = pt.version()
    pt.delete_keys(victims, mode="dv")
    st = pt.stats()
    print(
        f"dv point delete: {st.get('dv_rows', 0)} rows marked dead "
        f"across {st.get('dv_files', 0)} files, 0 rewritten "
        f"(protocol v{pt.protocol()['min_reader']}); feed reports "
        f"{pt.table_changes(v_before).count()} deletes"
    )
    # Picking a delete/update mode (measured at sf0.1,
    # TXTABLE_PERF_r10.json): mode="dv" wins on COMMIT SIZE and write
    # amplification — a point delete was a 755-byte commit staging 0
    # files vs 5 rewritten files copy-on-write — and that gap widens
    # with file size (at 100 TB a rewrite is GBs of IO per touched
    # file, the vector stays bytes). mode="rewrite" wins on small
    # tables (2.59 s dv vs 1.57 s rewrite at sf0.1: computing row
    # positions reads the matched files, which at toy scale costs
    # more than rewriting them) and leaves no read-path anti-join.
    # Rule of thumb: dv for point/narrow DML on big files, rewrite
    # for small tables or when you'd immediately compact anyway.
    # update_where(..., mode="dv") and merge(..., mode="dv") follow
    # the same trade-off: dead positions + appended post-images
    # instead of rewriting every touched bucket.
    v_upd = pt.version()
    pt.update_where(
        {"cents": "cents + 1"},
        ("prio", "=", "5-LOW"), ("o_orderkey", "<", 500),
        mode="dv",
    )
    upd_feed = (
        pt.table_changes(v_upd)
        .groupBy("_change_type").count().collect()
    )
    print("dv update feed:", sorted(
        (r["_change_type"], r["count"]) for r in upd_feed
    ))
    pt.compact(min_files=99)  # only dv-carrying buckets rewrite
    print("after materializing compact:",
          {k: pt.stats().get(k) for k in ("rows", "dv_files")})

    # ---- restore: metadata-only rollback -------------------------
    # One commit returns the table to the pre-update state: no file
    # is rewritten (removed files come back, added ones drop out of
    # the log), and the feed reports exactly what the rollback undid.
    rv = pt.restore(v_upd)
    print("restore feed:", sorted(
        (r["_change_type"], r["count"])
        for r in pt.table_changes(rv - 1, rv)
        .groupBy("_change_type").count().collect()
    ))
    # timestamp forms: resolve a wall-clock time to a version (commit
    # times are monotonicized, so writer clock skew can't make this
    # ambiguous), then read / feed / restore by it
    ts = [i for i in pt.history() if i["version"] == rv][0]["ts"]
    print("version_at:", pt.version_at(ts),
          "| changes since:", pt.table_changes(
              starting_timestamp=ts + 1e-4).count())

    # ---- shallow clone: zero-copy dev/test table ------------------
    # The clone borrows the source's files by absolute path — instant
    # regardless of table size. Its DML stages under its own root and
    # NEVER deletes the source's bytes. The Delta hazard (vacuum on
    # the SOURCE reclaiming borrowed files) is guarded here: the clone
    # leaves a TTL'd marker at the source, refreshed by its reads, and
    # the source's vacuum/truncate_log refuse what a live clone needs.
    cl = pt.clone(os.path.join(root, "orders_clone"))
    cl.delete_where(("prio", "=", "2-HIGH"))
    print("clone rows:", cl.count(), "| source rows:", pt.count(),
          "| borrowed files:", cl.stats().get("borrowed_files"),
          "| clones pinning the source:", pt.clones())
    # every commit records what it cost — zero data IO to answer
    last = cl.history()[-1]
    print("last clone commit:", last["op"], last["metrics"])
    # a deep clone copies the bytes EXECUTOR-side (Spark tasks, not a
    # driver loop) and depends on nobody afterwards
    dcl = pt.clone(os.path.join(root, "orders_deep"), shallow=False)
    print("deep clone rows:", dcl.count(),
          "| borrowed files:", dcl.stats().get("borrowed_files", 0))

    # ---- log retention: bound the commit log itself -------------
    dropped = pt.truncate_log()
    print(
        f"truncate_log dropped {len(dropped)} superseded log "
        f"entries; earliest change feed is now "
        f"table_changes({max(dropped) if dropped else 0})"
    )
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
