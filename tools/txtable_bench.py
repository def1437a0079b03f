#!/usr/bin/env python
"""Measure TxTable's lifecycle costs at $SPARK_GRAFT_SF_DIR scale.

Emits one JSON line with wall-clock seconds per operation plus the
scale-relevant ratios the design claims:

- ``merge_files_touched_frac`` — a 1%-of-keys MERGE must rewrite only
  the buckets those keys hash to, never the table.
- ``scan_files_frac`` — a selective range scan after clustered
  compaction must read a small fraction of live files.
- ``count_log_s`` vs ``count_scan_s`` — exact COUNT(*) from the log
  is O(log), not O(data).
- CDC costs are per-commit-diff, not per-table.

Run: ``python tools/txtable_bench.py`` (sf0.1 default;
``SPARK_GRAFT_SF_DIR`` picks the scale, ``SPARK_GRAFT_CPUS`` the Spark
cores, default 32). The JSON line records ``cpus`` and ``nproc``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import functions as F  # noqa: E402

from pypeman_spark.session import get_spark  # noqa: E402
from pypeman_spark.sources.tables import load_table  # noqa: E402
from pypeman_spark.store import TxTable  # noqa: E402
from pypeman_spark.streaming.drain import await_stream  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("txtable_bench", cpus=cpus)
    root = tempfile.mkdtemp(prefix="txbench_")
    # timings compare only at the same core count: record both the
    # Spark cores asked for and the cores this process may run on
    out: dict = {"metric": "txtable_lifecycle", "unit": "sec",
                 "sf_dir": sf_dir, "cpus": cpus,
                 "nproc": len(os.sched_getaffinity(0))}

    # the synthetic lineitem does NOT keep (orderkey, linenumber)
    # unique (118k dup pairs at sf0.1) — dedupe to honor the merge
    # discipline (one row per key), like any real ingest would
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        "l_shipdate",
    ).dropDuplicates(["l_orderkey", "l_linenumber"]).cache()
    n = li.count()
    out["rows"] = n

    tx = TxTable(
        spark, os.path.join(root, "tbl"),
        key_cols=["l_orderkey", "l_linenumber"], n_buckets=64,
    )
    t0 = time.time()
    tx.append(li)
    out["append_s"] = round(time.time() - t0, 3)

    # 1% of keys merged: bucket-scoped rewrite
    upd = li.where(F.col("l_orderkey") % 100 == 0).withColumn(
        "cents", F.col("cents") + 1
    )
    n_upd = upd.count()
    _v, live_before = tx._replay()
    t0 = time.time()
    v_m = tx.merge_upsert(upd)
    out["merge_upsert_s"] = round(time.time() - t0, 3)
    removed = len(tx._commit_actions(v_m)[1])
    out["merge_rows"] = n_upd
    out["merge_files_touched_frac"] = round(
        removed / max(1, len(live_before)), 3
    )  # M >> B: every bucket holds a touched key — frac is ~1 BY DESIGN

    # the point-update shape (few keys per batch) is where bucket
    # scoping pays: one order's lines must touch ~rows/B of the files
    point = li.where(F.col("l_orderkey") == li.first()["l_orderkey"]) \
        .withColumn("cents", F.col("cents") + 1)
    _v, live_now = tx._replay()
    t0 = time.time()
    v_p = tx.merge_upsert(point)
    out["point_merge_s"] = round(time.time() - t0, 3)
    out["point_merge_files_touched_frac"] = round(
        len(tx._commit_actions(v_p)[1]) / max(1, len(live_now)), 3
    )

    t0 = time.time()
    tx.merge(
        upd.select("l_orderkey", "l_linenumber",
                   F.col("cents").alias("delta")),
        when_matched_update={"cents": "t.cents + s.delta"},
        when_not_matched_insert=False,
    )
    out["general_merge_s"] = round(time.time() - t0, 3)

    t0 = time.time()
    feed_n = tx.table_changes(0).count()
    out["cdc_batch_s"] = round(time.time() - t0, 3)
    out["cdc_rows"] = feed_n

    t0 = time.time()
    q = (tx.stream_changes().writeStream.format("noop")
         .option("checkpointLocation", os.path.join(root, "ckpt"))
         .trigger(availableNow=True).start())
    await_stream(q, 600, "CDC stream drain")
    out["cdc_stream_s"] = round(time.time() - t0, 3)

    t0 = time.time()
    tx.compact(min_files=1, cluster_by=["cents"], files_per_bucket=4)
    out["clustered_compact_s"] = round(time.time() - t0, 3)

    lo = int(li.agg(F.expr("percentile(cents, 0.50)")).first()[0])
    hi = int(li.agg(F.expr("percentile(cents, 0.51)")).first()[0])
    t0 = time.time()
    got = tx.scan(("cents", "between", (lo, hi))).count()
    out["scan_pruned_s"] = round(time.time() - t0, 3)
    out["scan_rows"] = got
    out["scan_files_frac"] = round(
        tx.last_scan_info["files_read"]
        / max(1, tx.last_scan_info["files_live"]), 3
    )

    t0 = time.time()
    c_log = tx.count()
    out["count_log_s"] = round(time.time() - t0, 4)
    t0 = time.time()
    c_scan = tx.snapshot().count()
    out["count_scan_s"] = round(time.time() - t0, 3)
    assert c_log == c_scan, (c_log, c_scan)

    # ---- partitioned lifecycle (round 9): year-partitioned table,
    # partition ⊆ key so merges scope to (partition, bucket). The
    # claims under test: partition-region DELETE is metadata-only
    # (zero staged files), scans prune to one partition's directories,
    # and a one-partition merge touches ~1/P of a bucket's files.
    pli = li.withColumn("year", F.year("l_shipdate").cast("int"))
    years = sorted(r["year"] for r in pli.select("year").distinct().collect())
    pt = TxTable(
        spark, os.path.join(root, "ptbl"),
        key_cols=["year", "l_orderkey", "l_linenumber"], n_buckets=64,
        partition_by=["year"],
    )
    t0 = time.time()
    pt.append(pli)
    out["p_append_s"] = round(time.time() - t0, 3)
    out["p_partitions"] = len(years)
    out["p_files"] = pt.stats()["files"]

    y_hot = years[len(years) // 2]
    _v, plive = pt._replay()
    pupd = pli.where(
        (F.col("year") == y_hot) & (F.col("l_orderkey") % 100 == 0)
    ).withColumn("cents", F.col("cents") + 1)
    t0 = time.time()
    v_pm = pt.merge_upsert(pupd)
    out["p_merge_one_partition_s"] = round(time.time() - t0, 3)
    out["p_merge_files_touched_frac"] = round(
        len(pt._commit_actions(v_pm)[1]) / max(1, len(plive)), 3
    )  # expect ~1/P (only the hot year's files of the touched buckets)

    t0 = time.time()
    got = pt.scan(("year", "=", y_hot)).count()
    out["p_scan_partition_s"] = round(time.time() - t0, 3)
    out["p_scan_files_frac"] = round(
        pt.last_scan_info["files_read"]
        / max(1, pt.last_scan_info["files_live"]), 3
    )
    out["p_scan_rows"] = got

    files_before = pt.stats()["files"]
    t0 = time.time()
    v_d = pt.delete_where(("year", "=", years[0]))
    out["p_delete_region_s"] = round(time.time() - t0, 3)
    padds, premoves, _pdv, _pi = pt._commit_actions(v_d)
    out["p_delete_staged_files"] = len(padds)  # MUST be 0: metadata-only
    out["p_delete_dropped_files"] = len(premoves)
    out["p_files_after_delete"] = pt.stats()["files"]
    assert len(padds) == 0, "partition-region delete staged files"
    assert files_before - len(premoves) == pt.stats()["files"]

    t0 = time.time()
    pt.update_where({"cents": "cents + 1"}, ("year", "=", y_hot))
    out["p_update_region_s"] = round(time.time() - t0, 3)

    t0 = time.time()
    pt.replace_where(
        pli.where(F.col("year") == years[-1])
        .withColumn("cents", F.lit(0).cast("long")),
        ("year", "=", years[-1]),
    )
    out["p_replace_region_s"] = round(time.time() - t0, 3)
    assert pt.count() == pt.snapshot().count()

    # ---- deletion vectors (round 10): the point-delete fast path.
    # Claims under test: a dv delete stages ZERO files and its commit
    # is metadata-sized regardless of table size; the same delete in
    # rewrite mode pays a bucket rewrite; reads with vectors applied
    # stay a broadcast anti-join (no data-side shuffle).
    some = li.orderBy("l_orderkey", "l_linenumber").limit(10).collect()
    k1 = [(r["l_orderkey"], r["l_linenumber"]) for r in some[:5]]
    k2 = [(r["l_orderkey"], r["l_linenumber"]) for r in some[5:]]
    kdf = spark.createDataFrame(k1, "l_orderkey long, l_linenumber long")
    t0 = time.time()
    v_dv = tx.delete_keys(kdf, mode="dv")
    out["dv_point_delete_s"] = round(time.time() - t0, 3)
    dv_adds, dv_rm, dv_acts, _di = tx._commit_actions(v_dv)
    out["dv_staged_files"] = len(dv_adds)  # MUST be 0: merge-on-read
    out["dv_marked_rows"] = sum(d["card"] for d in dv_acts)
    out["dv_commit_bytes"] = len(tx.logstore.read(v_dv) or "")
    assert not dv_adds and not dv_rm and dv_acts
    t0 = time.time()
    c_dv = tx.snapshot().count()
    out["dv_read_s"] = round(time.time() - t0, 3)
    assert c_dv == tx.count()
    # the same-shape delete, copy-on-write: pays the bucket rewrite
    kdf2 = spark.createDataFrame(k2, "l_orderkey long, l_linenumber long")
    t0 = time.time()
    v_rw = tx.delete_keys(kdf2)
    out["rw_point_delete_s"] = round(time.time() - t0, 3)
    rw_adds, _rm, _dv2, _i2 = tx._commit_actions(v_rw)
    out["rw_staged_files"] = len(rw_adds)

    # ---- dv UPDATE / MERGE (round 11): merge-on-read DML stages
    # only the post-image rows — write amplification tracks the
    # CHURN, not the touched files; the same update copy-on-write
    # rewrites every candidate file.
    t0 = time.time()
    v_du = tx.update_where(
        {"cents": "cents + 1"}, ("l_partkey", "=", 777), mode="dv"
    )
    out["dv_update_s"] = round(time.time() - t0, 3)
    du_adds, du_rm, du_acts, _du = tx._commit_actions(v_du)
    out["dv_update_staged_files"] = len(du_adds)
    out["dv_update_staged_bytes"] = sum(a["bytes"] for a in du_adds)
    out["dv_update_marked_rows"] = sum(d["card"] for d in du_acts)
    assert not du_rm  # merge-on-read: nothing rewritten
    t0 = time.time()
    v_ru = tx.update_where({"cents": "cents + 1"},
                           ("l_partkey", "=", 778))
    out["rw_update_s"] = round(time.time() - t0, 3)
    ru_adds, _rrm, _rd, _ri = tx._commit_actions(v_ru)
    out["rw_update_staged_files"] = len(ru_adds)
    out["rw_update_staged_bytes"] = sum(a["bytes"] for a in ru_adds)
    # dv MERGE upsert over ~0.1% of keys: dead positions + appended
    # post-images; untouched rows never leave their files. Exclude
    # orderkey 0 — it is among the point-deleted keys above and an
    # upsert would (correctly) re-insert it, shifting the count
    # asserts below.
    ups = li.filter(
        (F.col("l_orderkey") % 997 == 0) & (F.col("l_orderkey") > 0)
    ).select(
        "l_orderkey", "l_linenumber", "l_partkey",
        (F.col("cents") + 7).alias("cents"), "l_shipdate",
    )
    t0 = time.time()
    v_dm = tx.merge_upsert(ups, mode="dv")
    out["dv_merge_s"] = round(time.time() - t0, 3)
    dm_adds, dm_rm, dm_acts, _dm = tx._commit_actions(v_dm)
    out["dv_merge_staged_files"] = len(dm_adds)
    out["dv_merge_staged_bytes"] = sum(a["bytes"] for a in dm_adds)
    out["dv_merge_removed_files"] = len(dm_rm)
    out["dv_merge_marked_rows"] = sum(d["card"] for d in dm_acts)

    # ---- restore (round 11): metadata-only rollback of the dv merge
    # — commit size and staged files are the claim (files re-added,
    # never rewritten), plus the feed cost of the rollback diff
    pre_restore = tx.version()
    t0 = time.time()
    v_rs = tx.restore(v_dm - 1)
    out["restore_s"] = round(time.time() - t0, 3)
    rs_adds, rs_rm, _rs_dv, _rs = tx._commit_actions(v_rs)
    out["restore_staged_files"] = 0  # by construction: no _stage call
    out["restore_readds"] = len(rs_adds)
    out["restore_removes"] = len(rs_rm)
    out["restore_commit_bytes"] = len(tx.logstore.read(v_rs) or "")
    t0 = time.time()
    out["restore_feed_rows"] = tx.table_changes(v_rs - 1, v_rs).count()
    out["restore_feed_s"] = round(time.time() - t0, 3)
    tx.restore(pre_restore)  # roll forward again for the asserts below

    # ---- shallow clone (round 11): zero-copy table — wall clock must
    # be O(metadata) regardless of data size, and the clone's region
    # delete must leave the source untouched
    t0 = time.time()
    cl = tx.clone(os.path.join(root, "clone"))
    out["clone_shallow_s"] = round(time.time() - t0, 3)
    out["clone_commit_bytes"] = len(cl.logstore.read(1) or "")
    src_rows = tx.count()
    t0 = time.time()
    # narrow cents range: stats-pruned under the clustered layout, so
    # the clone rewrite touches few BORROWED files — all staged under
    # the clone's own root
    cl.delete_where(("cents", "between", (lo, hi)))
    out["clone_delete_s"] = round(time.time() - t0, 3)
    assert tx.count() == src_rows  # clone DML invisible to the source
    t0 = time.time()
    out["clone_read_rows"] = cl.count()
    out["clone_count_s"] = round(time.time() - t0, 3)

    # ---- deep clone (round 12): the file copy ships as Spark tasks
    # above _DEEP_CLONE_DRIVER_MAX_BYTES (executor-side, parallel,
    # restartable); a metadata-sized table like this SF's takes the
    # driver fast path. The driver-SERIAL baseline over the same
    # bytes is printed alongside; DEEP_CLONE_STUDY_r12.json records
    # the distributed path's wall time at 1 to 32 copy tasks.
    _v_live, live_now = tx._replay()
    t0 = time.time()
    dcl = tx.clone(os.path.join(root, "deep_clone"), shallow=False)
    out["deep_clone_s"] = round(time.time() - t0, 3)
    out["deep_clone_files"] = len(live_now)
    out["deep_clone_mb"] = round(
        sum(int(i.get("bytes", 0)) for i in live_now.values()) / 1e6, 2
    )
    assert dcl.count() == tx.count()
    serial_root = os.path.join(root, "serial_copy")
    t0 = time.time()
    for f in live_now:
        _src = os.path.join(tx.path, f)
        _dst = os.path.join(serial_root, f)
        os.makedirs(os.path.dirname(_dst), exist_ok=True)
        shutil.copy2(_src, _dst)
    out["deep_clone_serial_baseline_s"] = round(time.time() - t0, 3)
    shutil.rmtree(serial_root, ignore_errors=True)

    # ---- log retention (round 10): entries a checkpoint supersedes
    # drop; the loop is one conditional delete per superseded entry
    from pypeman_spark.store.txtable import _replay_log  # noqa: E402

    st = _replay_log(tx.logstore)
    tx.logstore.write_checkpoint(st.version, {
        "version": st.version, "live": st.live, "txns": st.txns,
        "schema": st.schema, "constraints": st.constraints,
        "protocol": st.protocol,
    })
    entries_before = len(tx._log_versions())
    t0 = time.time()
    # ttl 0: the availableNow CDC stream above is finished, not a
    # live consumer — don't let its marker pin retention for an hour;
    # same for the bench's own shallow clone's marker
    dropped = tx.truncate_log(consumer_ttl_s=0.0, clone_ttl_s=0.0)
    out["log_truncate_s"] = round(time.time() - t0, 3)
    out["log_entries_before"] = entries_before
    out["log_entries_after"] = len(tx._log_versions())
    assert tx.count() == c_dv - 5  # rewrite delete took 5 more

    shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
