"""Log retention (store/txtable.py ``truncate_log``): the commit-log
counterpart of vacuum's data retention. Entries a checkpoint
supersedes are dropped; every read that would need them fails
deterministically (LogTruncatedError), never silently; active CDC
consumers and a requested time-travel window pin the floor."""

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from pypeman_spark.store.txtable import (
    LogTruncatedError,
    TxTable,
    _log_floor,
)

pytestmark = pytest.mark.usefixtures("file_log")


def _mk(spark, tmp_path, **kw):
    kw.setdefault("key_cols", ["k"])
    kw.setdefault("n_buckets", 2)
    kw.setdefault("checkpoint_interval", 3)
    return TxTable(spark, str(tmp_path / "tbl"), **kw)


def _df(spark, pairs):
    return spark.createDataFrame(list(pairs), "k long, val string")


def _grow(spark, t, n=10):
    for i in range(n):
        t.append(_df(spark, [(i, f"v{i}")]))


def test_truncate_drops_superseded_entries_and_guards_reads(
    spark, tmp_path
):
    t = _mk(spark, tmp_path)
    _grow(spark, t)  # head = 10, checkpoints at 3, 6, 9
    dropped = t.truncate_log()
    assert dropped == list(range(1, 9))  # floor = newest ckpt = 9
    assert _log_floor(t.logstore) == 9
    # v0 (table meta) survives; reopening works
    t2 = TxTable(spark, str(tmp_path / "tbl"))
    assert t2.key_cols == ["k"]
    # latest reads exact
    assert t.count() == 10
    assert {r["k"] for r in t.read().collect()} == set(range(10))
    # time travel: at/above the floor fine; a SURVIVING checkpoint
    # below it stays readable as a coarse anchor; anything else raises
    assert t.snapshot(version=9).count() == 9
    assert t.snapshot(version=6).count() == 6  # checkpoint anchor
    with pytest.raises(LogTruncatedError):
        t.snapshot(version=5).count()
    # change feed from the floor forward; below it refuses
    assert t.table_changes(9).count() == 1
    with pytest.raises(LogTruncatedError):
        t.table_changes(0)
    # idempotent: nothing more to drop
    assert t.truncate_log() == []
    # history over the surviving tail only, plus the v4 protocol
    # bump the first actual truncation committed (see below)
    assert [h["op"] for h in t.history()] == [
        "create", "append", "append", "protocol",
    ]
    # the truncation protocol gate: a pre-truncation reader must fail
    # loudly (full log replay would silently miss commits 1..8 —
    # phantom rows), matching the dv v3 precedent
    assert t.protocol() == {"min_reader": 4, "min_writer": 4}
    import pypeman_spark.store.txtable as txmod
    from pypeman_spark.store.txtable import TableProtocolError

    old = txmod._SUPPORTED_READER
    txmod._SUPPORTED_READER = 3
    try:
        with pytest.raises(TableProtocolError, match="reader"):
            TxTable(spark, str(tmp_path / "tbl")).read()
    finally:
        txmod._SUPPORTED_READER = old


def test_truncate_floor_never_exceeds_consumer_offset(
    spark, tmp_path
):
    """A checkpoint landing EXACTLY at (consumer offset + 1) must not
    become the floor: the consumer's next batch starts at offset+1
    and its dv-state seed replays upto=offset — floor=offset+1 would
    raise LogTruncatedError in the very stream whose marker was
    supposed to pin truncation, and the error's remediation (restart
    from startingVersion >= floor) skips commit offset+1 entirely."""
    t = _mk(spark, tmp_path)  # checkpoint_interval 3
    _grow(spark, t)  # head 10, checkpoints 3, 6, 9
    # drain the feed up to commit 8, leaving 9, 10 unread; the
    # consumer's committed offset marker lands at 8 — checkpoint 9
    # is exactly offset + 1
    ckpt = str(tmp_path / "ck_pin")
    q = (
        t.stream_changes()
        .writeStream.format("memory").queryName("pin_feed")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    d = os.path.join(t.path, "_consumers")
    marker = [f for f in os.listdir(d) if f.endswith(".json")][0]
    with open(os.path.join(d, marker), "w") as fh:
        json.dump({"version": 8, "ts": time.time()}, fh)
    t.truncate_log()
    # floor capped at the newest checkpoint <= 8 (i.e. 6), NOT 9
    assert _log_floor(t.logstore) <= 8
    # the pinned consumer restarts cleanly and reads commits 9, 10
    q2 = (
        t.stream_changes(starting_version=8)
        .writeStream.format("memory").queryName("pin_feed2")
        .option("checkpointLocation", str(tmp_path / "ck_pin2"))
        .trigger(availableNow=True).start()
    )
    q2.awaitTermination(120)
    got = {
        r["k"] for r in spark.sql("select k from pin_feed2").collect()
    }
    assert got == {8, 9}  # commits 9 and 10 — nothing skipped


def test_truncate_respects_retain_window_and_consumers(
    spark, tmp_path
):
    t = _mk(spark, tmp_path)
    _grow(spark, t)
    # keep a 5-version travel window: cap 5 -> floor = ckpt 3
    assert t.truncate_log(retain_versions=5) == [1, 2]
    assert _log_floor(t.logstore) == 3
    # an ACTIVE consumer at offset 4 pins the floor at <= 5 -> ckpt 3
    d = os.path.join(t.path, "_consumers")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "q-test.json"), "w") as fh:
        json.dump({"version": 4, "ts": time.time()}, fh)
    assert t.truncate_log() == []  # floor stays 3: consumer pins it
    assert _log_floor(t.logstore) == 3
    # a STALE marker no longer pins (crashed consumer, TTL expired)
    old = time.time() - 10_000
    os.utime(os.path.join(d, "q-test.json"), (old, old))
    dropped = t.truncate_log()
    assert _log_floor(t.logstore) == 9
    assert dropped == list(range(3, 9))


def test_truncated_stream_checkpoint_fails_loudly(spark, tmp_path):
    """A streaming consumer restarting from an offset below the floor
    must get a deterministic error, not a feed missing commits."""
    t = _mk(spark, tmp_path)
    _grow(spark, t)
    t.truncate_log()  # floor 9
    q = (
        t.stream_changes()  # startingVersion 0 < floor
        .writeStream.format("memory").queryName("trunc_feed")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    with pytest.raises(Exception) as ei:
        q.awaitTermination(120)
    assert "floor" in str(ei.value)
    # from the floor forward the stream works
    q2 = (
        t.stream_changes(starting_version=9)
        .writeStream.format("memory").queryName("trunc_feed_ok")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True).start()
    )
    q2.awaitTermination(120)
    assert spark.sql(
        "select count(*) c from trunc_feed_ok"
    ).collect()[0]["c"] == 1


def test_vacuum_after_truncate_reclaims_as_orphans(spark, tmp_path):
    """Files removed by a commit that truncation later dropped are
    still reclaimed: they fall out of the removal index into the
    orphan sweep (on disk, unreferenced) — no leak, live set intact."""
    t = _mk(spark, tmp_path)
    _grow(spark, t)
    t.merge_upsert(_df(spark, [(0, "NEW"), (1, "NEW")]))  # removes files
    for i in range(2):  # roll a checkpoint past the merge
        t.append(_df(spark, [(100 + i, "x")]))
    assert t.logstore.list_checkpoints()[-1] >= 11
    t.truncate_log()
    _v, live = t._replay()
    on_disk_before = sum(
        len(fs) for _d, _s, fs in os.walk(t.data_dir)
    )
    gone = t.vacuum(grace_s=0.0)
    assert gone  # the merge's removed files, reclaimed via orphan path
    assert not (set(gone) & set(live))
    rows = {r["k"]: r["val"] for r in t.read().collect()}
    assert rows[0] == "NEW" and rows[1] == "NEW" and rows[5] == "v5"
    assert len(rows) == 12
    assert sum(
        len(fs) for _d, _s, fs in os.walk(t.data_dir)
    ) == on_disk_before - len(gone)


def test_checkpoint_compression_roundtrip_and_legacy(spark, tmp_path):
    """Checkpoints are compressed (the live-file list is the largest
    metadata object at scale); the store must round-trip the state
    exactly and still read PRE-compression checkpoints."""
    t = _mk(spark, tmp_path)  # interval 3
    _grow(spark, t, 7)
    cks = t.logstore.list_checkpoints()
    assert cks == [3, 6]
    v, state = t.logstore.latest_checkpoint(10)
    assert v == 6 and len(state["live"]) > 0
    # replay THROUGH the checkpoint equals the truth
    assert t.count() == 7 and t.read().count() == 7
    gz = os.path.join(
        t.log_dir, f"{6:020d}.checkpoint.json.gz"
    )
    assert os.path.exists(gz)
    raw = json.dumps(state).encode()
    assert os.path.getsize(gz) < len(raw)  # actually compressed
    # legacy uncompressed checkpoint at a NEWER version wins and
    # still reads (pre-compression tables keep working)
    with open(os.path.join(
        t.log_dir, f"{7:020d}.checkpoint.json"
    ), "w") as fh:
        fh.write(json.dumps({**state, "version": 7}))
    v2, st2 = t.logstore.latest_checkpoint(10)
    assert v2 == 7 and st2["live"] == state["live"]
    assert 7 in t.logstore.list_checkpoints()
