"""CREATE TABLE ... CLONE (store/txtable.py ``TxTable.clone``):
shallow clones reference the source's data files by absolute path —
zero copy, independent commit log, layout/schema/constraints/protocol
inherited — and may drop borrowed files from their own log but never
delete the source's bytes; deep clones copy the files and sever the
dependency.

Reference basis: Delta Lake CLONE semantics (delta.io) — shallow
clone's vacuum-on-source hazard is documented there too.
"""

import os

import pytest
from pyspark.sql import functions as F

from pypeman_spark.store.txtable import TxTable

pytestmark = pytest.mark.usefixtures("file_log")


def _mk(spark, tmp_path, name="tbl", **kw):
    kw.setdefault("key_cols", ["k"])
    kw.setdefault("n_buckets", 2)
    return TxTable(spark, str(tmp_path / name), **kw)


def _df(spark, pairs):
    return spark.createDataFrame(list(pairs), "k long, val string")


def _rows(df):
    return sorted((r["k"], r["val"]) for r in df.select("k", "val").collect())


def _parquets(root):
    out = []
    for r, _d, files in os.walk(root):
        out += [os.path.join(r, f) for f in files if f.endswith(".parquet")]
    return sorted(out)


def test_shallow_clone_zero_copy_and_isolation(spark, tmp_path):
    src = _mk(spark, tmp_path)
    src.append(_df(spark, [(i, f"v{i}") for i in range(10)]))
    want = _rows(src.snapshot())
    c = src.clone(str(tmp_path / "c1"))
    assert _rows(c.snapshot()) == want
    assert c.count() == 10
    # ZERO copy: the clone's data dir holds no parquet
    assert _parquets(c.data_dir) == []
    info = c._commit_info(c.version())
    assert info["op"] == "clone" and info["shallow"] is True
    assert info["source_version"] == 1
    # independent logs: writes on either side are invisible to the other
    c.append(_df(spark, [(100, "clone-only")]))
    src.append(_df(spark, [(200, "src-only")]))
    assert (100, "clone-only") in _rows(c.snapshot())
    assert (200, "src-only") not in _rows(c.snapshot())
    assert (100, "clone-only") not in _rows(src.snapshot())
    # layout identity inherited; lookup routes through buckets
    assert c.n_buckets == src.n_buckets and c.key_cols == src.key_cols
    keys = spark.createDataFrame([(3,), (100,)], "k long")
    assert _rows(c.lookup(keys)) == [(3, "v3"), (100, "clone-only")]


def test_clone_at_version_and_timestamp(spark, tmp_path):
    src = _mk(spark, tmp_path)
    v1 = src.append(_df(spark, [(1, "a")]))
    src.append(_df(spark, [(2, "b")]))
    c1 = src.clone(str(tmp_path / "cv"), version=v1)
    assert _rows(c1.snapshot()) == [(1, "a")]
    ts1 = [i for i in src.history() if i["version"] == v1][0]["ts"]
    c2 = src.clone(str(tmp_path / "ct"), timestamp=ts1)
    assert _rows(c2.snapshot()) == [(1, "a")]
    with pytest.raises(ValueError, match="not both"):
        src.clone(str(tmp_path / "cx"), version=v1, timestamp=ts1)
    with pytest.raises(ValueError, match="already holds"):
        src.clone(str(tmp_path / "cv"))


def test_clone_dml_never_touches_source_bytes(spark, tmp_path):
    src = _mk(spark, tmp_path)
    src.append(_df(spark, [(i, f"v{i}") for i in range(10)]))
    src_files = _parquets(src.data_dir)
    c = src.clone(str(tmp_path / "c"))
    # rewrite DML on the clone: borrowed files leave the clone's LOG,
    # new files land under the clone's root, the source keeps its
    # bytes AND its rows
    c.delete_where(("k", ">=", 5))
    assert c.count() == 5
    assert _parquets(src.data_dir) == src_files
    assert src.count() == 10
    # even vacuum on the clone only walks the clone's own data dir
    c.vacuum(grace_s=0.0)
    assert _parquets(src.data_dir) == src_files
    assert src.count() == 10
    # and compaction migrates the remaining borrowed data into the
    # clone's own files without touching the source
    c.compact(min_files=1)
    assert c.count() == 5
    assert all(p.startswith(c.path) for p in _parquets(c.data_dir))
    assert _parquets(src.data_dir) == src_files


def test_clone_carries_deletion_vectors_and_protocol(spark, tmp_path):
    src = _mk(spark, tmp_path)
    src.append(_df(spark, [(i, f"v{i}") for i in range(10)]))
    src.delete_where(("k", ">=", 7), mode="dv")
    c = src.clone(str(tmp_path / "c"))
    # the borrowed add-infos embed the source's vectors: every reader
    # of the clone applies them
    assert c.count() == 7
    assert sorted(r["k"] for r in c.snapshot().collect()) == list(range(7))
    # and the dv reader gate rides along
    assert c.protocol()["min_reader"] == 3
    # dv DML on the clone vectors the BORROWED file without touching it
    c.delete_where(("k", "=", 0), mode="dv")
    assert c.count() == 6
    assert src.count() == 7


def test_clone_feed_starts_fresh(spark, tmp_path):
    src = _mk(spark, tmp_path)
    src.append(_df(spark, [(1, "a"), (2, "b")]))
    c = src.clone(str(tmp_path / "c"))
    # the clone commit is a baseline, not churn (Delta CLONE): the
    # feed is empty until the clone's own first change
    assert c.table_changes(0).count() == 0
    c.delete_where(("k", "=", 1))
    feed = c.table_changes(0)
    assert [(r["_change_type"], r["k"]) for r in feed.collect()] == [
        ("delete", 1)
    ]
    # streaming source agrees
    q = (c.stream_changes().writeStream.format("memory")
         .queryName("clone_cdc")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert [(r["_change_type"], r["k"])
            for r in spark.table("clone_cdc").collect()] == [
        ("delete", 1)
    ]


def test_clone_inherits_schema_mapping_and_constraints(spark, tmp_path):
    from pypeman_spark.store.txtable import ConstraintViolation

    src = _mk(spark, tmp_path)
    src.append(_df(spark, [(1, "a")]))
    src.rename_column("val", "payload")
    src.add_constraint("payload_ok", "payload is not null")
    c = src.clone(str(tmp_path / "c"))
    assert c.snapshot().columns == ["k", "payload"]
    assert c.constraints() == {"payload_ok": "payload is not null"}
    with pytest.raises(ConstraintViolation):
        c.append(spark.createDataFrame(
            [(9, None)], "k long, payload string"
        ))
    # writes under column mapping land with the PHYSICAL name and
    # read back logically
    c.append(spark.createDataFrame([(5, "ok")], "k long, payload string"))
    assert (5, "ok") in sorted(
        (r["k"], r["payload"]) for r in c.snapshot().collect()
    )


def test_clone_partitioned_scan_prunes(spark, tmp_path):
    src = _mk(spark, tmp_path, partition_by=["day"],
              key_cols=["day", "k"])
    src.append(spark.createDataFrame(
        [(("d1" if i < 5 else "d2"), i, f"v{i}") for i in range(10)],
        "day string, k long, val string",
    ))
    c = src.clone(str(tmp_path / "c"))
    assert c.partition_by == ["day"]
    got = c.scan(("day", "=", "d1"))
    assert sorted(r["k"] for r in got.collect()) == [0, 1, 2, 3, 4]
    assert c.stats()["partitions"] == 2
    # partition-region delete on the clone is metadata-only and the
    # source keeps both regions
    c.delete_where(("day", "=", "d2"))
    assert c.count() == 5 and src.count() == 10


def test_deep_clone_severs_the_dependency(spark, tmp_path):
    src = _mk(spark, tmp_path)
    src.append(_df(spark, [(i, f"v{i}") for i in range(6)]))
    c = src.clone(str(tmp_path / "c"), shallow=False)
    assert c._commit_info(c.version())["shallow"] is False
    assert len(_parquets(c.data_dir)) == len(_parquets(src.data_dir))
    # brutal: delete every source byte — the deep clone must not care
    for p in _parquets(src.data_dir):
        os.unlink(p)
    assert c.count() == 6
    assert _rows(c.snapshot()) == [(i, f"v{i}") for i in range(6)]


def test_shallow_clone_source_vacuum_refuses_then_fails_loud(
    spark, tmp_path
):
    """The Delta hazard, upgraded: while the clone's marker at the
    source is ACTIVE, source-side vacuum refuses (with a warning) to
    reclaim files the clone still borrows — the clone keeps reading.
    Only once the marker EXPIRES (clone deleted/abandoned) does the
    reclaim go through, and then the clone's read surfaces as an
    error, never as silently missing rows."""
    import warnings as _w

    src = _mk(spark, tmp_path)
    src.append(_df(spark, [(i, f"v{i}") for i in range(6)]))
    c = src.clone(str(tmp_path / "c"))
    assert len(src.clones()) == 1
    assert src.stats()["active_clones"] == 1
    src.delete_where(("k", ">=", 0))  # drops every file from src log
    # active marker: vacuum skips the borrowed files and warns
    with _w.catch_warnings(record=True) as got:
        _w.simplefilter("always")
        gone = src.vacuum(grace_s=0.0)
    assert gone == []
    assert any("shallow clone" in str(w.message) for w in got)
    assert c.count() == 6  # the clone still reads everything
    # expired marker (clone_ttl_s=0): current reclaim behavior
    gone = src.vacuum(grace_s=0.0, clone_ttl_s=0.0)
    assert gone
    with pytest.raises(Exception):
        c.snapshot().count()


def test_clone_reads_refresh_marker_and_pin_truncation(
    spark, tmp_path
):
    """The clone's reads keep its source marker fresh (TTL tracks
    actual use), and the source's truncate_log keeps the log entries
    vacuum's clone guard needs (removal versions after the clone's
    snapshot)."""
    src = _mk(spark, tmp_path, checkpoint_interval=2)
    src.append(_df(spark, [(i, f"v{i}") for i in range(4)]))
    c = src.clone(str(tmp_path / "c"))
    mdir = os.path.join(src.path, "_clones")
    (name,) = [n for n in os.listdir(mdir) if n.endswith(".json")]
    p = os.path.join(mdir, name)
    os.utime(p, (1.0, 1.0))  # age the marker far past any TTL
    assert src.clones(ttl_s=60.0) == []
    c.snapshot().count()  # a clone read refreshes (or re-creates) it
    assert src.clones(ttl_s=60.0) != []
    # churn the source past several checkpoints, then truncate: the
    # floor must stay at/below the clone's version + 1 so the clone
    # guard can still see every later removal
    for i in range(6):
        src.delete_where(("k", "=", i % 4))
        src.append(_df(spark, [(i % 4, f"w{i}")]))
    clone_v = src.clones()[0]["version"]
    src.truncate_log()
    from pypeman_spark.store.txtable import _log_floor

    assert _log_floor(src.logstore) <= clone_v + 1
    # and vacuum still refuses: the clone keeps reading after it
    src.vacuum(grace_s=0.0)
    assert c.count() == 4
    # expired marker frees truncation too
    os.utime(p, (1.0, 1.0))
    src.truncate_log(clone_ttl_s=0.0)


def test_clone_stats_expose_borrowed_and_vacuum_dry_run(
    spark, tmp_path
):
    src = _mk(spark, tmp_path)
    src.append(_df(spark, [(i, f"v{i}") for i in range(8)]))
    c = src.clone(str(tmp_path / "c"))
    st = c.stats()
    assert st["borrowed_files"] == st["files"] > 0
    assert "borrowed_files" not in src.stats()
    # after the clone writes its own data the gauge splits
    c.append(_df(spark, [(50, "own")]))
    st2 = c.stats()
    assert st2["borrowed_files"] == st["files"]
    assert st2["files"] > st2["borrowed_files"]
    # vacuum dry_run on the SOURCE reports the blast radius without
    # deleting — and, with the clone's marker active, excludes (and
    # warns about) the files the clone still borrows, exactly like
    # the real pass would
    import warnings as _w

    src.delete_where(("k", ">=", 0))
    with _w.catch_warnings(record=True) as got:
        _w.simplefilter("always")
        would_pinned = src.vacuum(grace_s=0.0, dry_run=True)
    assert would_pinned == []
    assert any("shallow clone" in str(w.message) for w in got)
    # expired marker: the dry run reports the full blast radius
    would = src.vacuum(grace_s=0.0, dry_run=True, clone_ttl_s=0.0)
    assert would
    assert c.count() == 9  # nothing actually deleted
    gone = src.vacuum(grace_s=0.0, clone_ttl_s=0.0)
    assert sorted(gone) == sorted(would)  # the report was exact


def test_deep_clone_executor_path_byte_identical(spark, tmp_path):
    """The distributed copy route (engaged above the driver-copy byte
    threshold — a CREATE-TIME TABLE PROPERTY, forced here by creating
    the table with threshold 0) produces byte-identical files under
    the clone's root — same contract as the driver fast path the
    small tables take."""
    import hashlib

    src = _mk(spark, tmp_path, deep_clone_driver_max_bytes=0)
    src.append(_df(spark, [(i, f"v{i}") for i in range(20)]))
    c = src.clone(str(tmp_path / "c"), shallow=False)

    def digest(root):
        return {
            os.path.relpath(p, root): hashlib.md5(
                open(p, "rb").read()
            ).hexdigest()
            for p in _parquets(root)
        }

    assert digest(c.data_dir) == digest(src.data_dir)
    assert _rows(c.snapshot()) == _rows(src.snapshot())
    for p in _parquets(src.data_dir):
        os.unlink(p)
    assert c.count() == 20  # severed


def test_deep_clone_of_shallow_clone_severs_both_owners(
    spark, tmp_path
):
    """Deep-cloning a SHALLOW clone must copy borrowed files from
    wherever they live (the original's root, the shallow clone's own
    root) and re-root every one under the deep clone's data dir with
    the borrowed flag dropped — the deep clone depends on nobody."""
    src = _mk(spark, tmp_path)
    src.append(_df(spark, [(1, "a"), (2, "b")]))
    c1 = src.clone(str(tmp_path / "c1"))
    c1.append(_df(spark, [(3, "c1-own")]))
    deep = c1.clone(str(tmp_path / "deep"), shallow=False)
    want = [(1, "a"), (2, "b"), (3, "c1-own")]
    assert _rows(deep.snapshot()) == want
    # every live entry re-rooted: relative path, no borrowed flag
    _v, live = deep._replay()
    assert all(not os.path.isabs(f) for f in live)
    assert all(not i.get("borrowed") for i in live.values())
    assert len(_parquets(deep.data_dir)) == len(live)
    # brutal: delete every byte both owners hold — deep must not care
    for p in _parquets(src.data_dir) + _parquets(c1.data_dir):
        os.unlink(p)
    assert _rows(deep.snapshot()) == want


def test_restore_on_clone_never_touches_source_mtimes(
    spark, tmp_path
):
    """restore()'s vacuum-grace mtime refresh must skip BORROWED
    re-add candidates: touching them would re-arm the SOURCE's vacuum
    grace window — a clone influencing the source's reclamation
    contract. The borrowed files' own guard is the source's clone
    marker, not mtime."""
    src = _mk(spark, tmp_path)
    src.append(_df(spark, [(i, f"v{i}") for i in range(6)]))
    before = {p: os.stat(p).st_mtime_ns for p in _parquets(src.data_dir)}
    c = src.clone(str(tmp_path / "c"))
    v_clone = c.version()
    c.delete_where(("k", ">=", 3))  # drops borrowed files from c's log
    rv = c.restore(v_clone)         # re-adds them
    assert rv > v_clone
    assert c.count() == 6
    after = {p: os.stat(p).st_mtime_ns for p in _parquets(src.data_dir)}
    assert after == before  # the source was never touched


def test_shallow_clone_from_relative_source_path(spark, tmp_path):
    """A source handle opened with a RELATIVE path (the CLI passes
    store paths verbatim) must still record borrowed files as
    absolute paths — a relative borrow would resolve under the
    clone's own root/CWD and break every read of the clone. The
    relative path stays valid for the current CWD (Spark resolves
    relative paths against the JVM's startup dir, so no chdir here —
    the point is what the CLONE records, not where the source
    resolves)."""
    rel = os.path.relpath(str(tmp_path / "rel_tbl"))
    src = TxTable(
        spark, rel, key_cols=["k"], n_buckets=2,
    )
    src.append(_df(spark, [(1, "a"), (2, "b")]))
    c = src.clone(str(tmp_path / "c"))
    _v, live = c._replay()
    assert live and all(os.path.isabs(f) for f in live)
    assert _rows(c.snapshot()) == [(1, "a"), (2, "b")]


def test_vacuum_sweeps_stale_markers_and_reads_recreate(
    spark, tmp_path
):
    """Stale clone markers (ignored by the guard) are physically
    swept by the source's vacuum so _clones stays bounded; a live
    clone that was merely quiet re-creates its marker on its next
    read — the TTL contract cuts both ways."""
    src = _mk(spark, tmp_path)
    src.append(_df(spark, [(1, "a"), (2, "b")]))
    c = src.clone(str(tmp_path / "c"))
    mdir = os.path.join(src.path, "_clones")
    (name,) = [n for n in os.listdir(mdir) if n.endswith(".json")]
    os.utime(os.path.join(mdir, name), (1.0, 1.0))
    src.vacuum(grace_s=0.0, clone_ttl_s=60.0)
    assert [n for n in os.listdir(mdir) if n.endswith(".json")] == []
    # the quiet-but-live clone's next read re-creates the marker
    c.snapshot().count()
    assert len(src.clones(ttl_s=60.0)) == 1
    # dry_run never sweeps
    os.utime(
        os.path.join(mdir, os.listdir(mdir)[0]), (1.0, 1.0)
    )
    src.vacuum(grace_s=0.0, clone_ttl_s=60.0, dry_run=True)
    assert len(os.listdir(mdir)) == 1


def test_clone_inherits_dv_table_cap_property(spark, tmp_path):
    src = _mk(spark, tmp_path, dv_table_cap=7)
    src.append(_df(spark, [(1, "a")]))
    c = src.clone(str(tmp_path / "c"))
    assert c.dv_table_cap == 7
    assert TxTable(spark, c.path).dv_table_cap == 7


def test_clone_of_clone_chains_to_original_files(spark, tmp_path):
    """Cloning a shallow clone borrows each file from wherever it
    physically lives: the original's files stay absolute to the
    ORIGINAL root, the first clone's own files to the clone's root —
    borrowed paths are already absolute and pass through verbatim."""
    src = _mk(spark, tmp_path)
    src.append(_df(spark, [(1, "a"), (2, "b")]))
    c1 = src.clone(str(tmp_path / "c1"))
    c1.append(_df(spark, [(3, "c1-own")]))
    c2 = c1.clone(str(tmp_path / "c2"))
    assert _rows(c2.snapshot()) == [(1, "a"), (2, "b"), (3, "c1-own")]
    assert _parquets(c2.data_dir) == []
    # every borrowed ref resolves to the file's true owner
    _v, live = c2._replay()
    owners = {f.split("/data/")[0] for f in live}
    assert owners == {src.path, c1.path}
    # and c2 stays readable when c1 is deleted WHOLESALE except its
    # data dir contents c2 borrowed... (the log is c2's own)
    import shutil as _sh

    _sh.rmtree(c1.log_dir, ignore_errors=True)
    assert c2.count() == 3


def test_failed_clone_leaves_no_marker(spark, tmp_path):
    """A clone that fails for ANY reason between the pin write and the
    commit must unlink the just-written source marker. Regression for
    the r12 leak: an occupied-destination ValueError escaped the
    cleanup and left a phantom pin blocking the source's
    vacuum/truncate_log for the whole TTL."""
    src = _mk(spark, tmp_path)
    src.append(_df(spark, [(1, "a"), (2, "b")]))
    dest = str(tmp_path / "c1")
    src.clone(dest)
    assert len(src.clones()) == 1
    with pytest.raises(ValueError, match="already holds a table"):
        src.clone(dest)
    assert len(src.clones()) == 1  # no phantom pin from the failure


def test_failed_clone_arbitrary_error_unpins(spark, tmp_path, monkeypatch):
    """Not just the occupied-destination path: ANY exception between
    the marker write and the commit (staging error, copy failure,
    commit conflict) reaches clone()'s broad handler and unpins."""
    src = _mk(spark, tmp_path)
    src.append(_df(spark, [(1, "a")]))

    real = TxTable._commit

    def boom(self, *a, **kw):
        if kw.get("op") == "clone" or (a and a[-1] == "clone"):
            raise RuntimeError("staging blew up")
        return real(self, *a, **kw)

    monkeypatch.setattr(TxTable, "_commit", boom)
    with pytest.raises(RuntimeError, match="staging blew up"):
        src.clone(str(tmp_path / "cX"))
    assert src.clones() == []


def test_chained_clone_reads_refresh_owner_marker(spark, tmp_path):
    """A clone-of-a-clone's reads must keep a pin alive at EVERY
    owner it borrows from — not just its direct source. If only the
    intermediate's marker at the original owner tracked use, an idle
    intermediate would let the owner's TTL expire while the grandchild
    is still reading the owner's bytes."""
    src = _mk(spark, tmp_path)
    src.append(_df(spark, [(1, "a"), (2, "b")]))
    c1 = src.clone(str(tmp_path / "c1"))
    c1.append(_df(spark, [(3, "c1-own")]))
    c2 = c1.clone(str(tmp_path / "c2"))
    # age every existing marker far past the probe TTL: c1's at src,
    # c2's at c1
    for root in (src.path, c1.path):
        d = os.path.join(root, "_clones")
        for n in os.listdir(d):
            os.utime(os.path.join(d, n), (1.0, 1.0))
    assert src.clones(ttl_s=60.0) == []
    assert c1.clones(ttl_s=60.0) == []
    # one grandchild read refreshes (or re-creates) a pin at BOTH
    # owners it borrows from — c1 (direct source) AND src (original).
    # (count() alone is log-only and touches no files, so it is NOT
    # expected to refresh anything — snapshot() reads the bytes.)
    assert c2.snapshot().count() == 3
    assert src.clones(ttl_s=60.0) != []
    assert c1.clones(ttl_s=60.0) != []
    # the re-created owner pin is conservative (version 0) and real:
    # src's vacuum refuses to reap what c2 borrows even after churn
    src.delete_where(("k", "<=", 2))
    assert src.vacuum(grace_s=0.0) == []
    assert c2.count() == 3


def test_deep_clone_of_shallow_pins_owner_during_copy(
    spark, tmp_path, monkeypatch
):
    """While a deep clone of a shallow clone copies borrowed bytes, a
    transient marker pins the owner's vacuum; it is gone afterwards."""
    import shutil as _sh

    src = _mk(spark, tmp_path)
    src.append(_df(spark, [(i, f"v{i}") for i in range(6)]))
    c1 = src.clone(str(tmp_path / "c1"))

    def markers_at_src():
        d = os.path.join(src.path, "_clones")
        return [n for n in os.listdir(d) if n.endswith(".json")]

    seen_during_copy: list = []
    real_copy2 = _sh.copy2

    def spy(s, d, **kw):
        if not seen_during_copy:
            seen_during_copy.extend(markers_at_src())
        return real_copy2(s, d, **kw)

    monkeypatch.setattr(_sh, "copy2", spy)
    deep = c1.clone(str(tmp_path / "d1"), shallow=False)
    assert deep.count() == 6
    # during the copy: c1's own marker + the transient owner pin
    assert len(seen_during_copy) == 2
    # after: only c1's marker remains — the transient pin is removed
    assert len(markers_at_src()) == 1


@pytest.mark.parametrize("threshold", [0, None])
def test_deep_clone_threshold_property_routes_and_inherits(
    spark, tmp_path, threshold
):
    """deep_clone_driver_max_bytes is a create-time table property
    like dv_table_cap: persisted in the table meta (a reopened handle
    sees it), inherited by clones, surfaced in stats() when
    non-default — and BOTH copy routes it selects (0 = always
    executor-side; default = driver loop for small tables) produce
    the same table."""
    kw = {}
    if threshold is not None:
        kw["deep_clone_driver_max_bytes"] = threshold
    src = _mk(spark, tmp_path, **kw)
    src.append(_df(spark, [(i, f"v{i}") for i in range(12)]))
    # a REOPENED handle reads the property from meta, not the kwarg
    from pypeman_spark.store.txtable import _DEEP_CLONE_DRIVER_MAX_BYTES

    reopened = TxTable(spark, src.path)
    want = 0 if threshold == 0 else _DEEP_CLONE_DRIVER_MAX_BYTES
    assert reopened.deep_clone_driver_max_bytes == want
    if threshold == 0:
        assert src.stats()["deep_clone_driver_max_bytes"] == 0
    else:
        assert "deep_clone_driver_max_bytes" not in src.stats()
    deep = reopened.clone(str(tmp_path / "deep"), shallow=False)
    assert _rows(deep.snapshot()) == _rows(src.snapshot())
    # clones inherit the property (both deep and shallow)
    assert (
        deep.deep_clone_driver_max_bytes
        == reopened.deep_clone_driver_max_bytes
    )
    sh = reopened.clone(str(tmp_path / "sh"))
    assert (
        sh.deep_clone_driver_max_bytes
        == reopened.deep_clone_driver_max_bytes
    )


def test_deep_clone_threshold_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="deep_clone_driver_max_bytes"):
        _mk(spark, tmp_path, name="bad", deep_clone_driver_max_bytes=-1)


def test_chained_clone_pins_owner_at_clone_time(spark, tmp_path):
    """A shallow clone of a shallow clone must pin the ORIGINAL owner
    at creation — not at its first read — so the window between
    cloning and reading is covered even when the intermediate's own
    marker has expired."""
    src = _mk(spark, tmp_path)
    src.append(_df(spark, [(1, "a"), (2, "b")]))
    c1 = src.clone(str(tmp_path / "c1"))
    # the intermediate goes idle: its marker at src expires
    d = os.path.join(src.path, "_clones")
    for n in os.listdir(d):
        os.utime(os.path.join(d, n), (1.0, 1.0))
    assert src.clones(ttl_s=60.0) == []
    c2 = c1.clone(str(tmp_path / "c2"))
    # BEFORE any c2 read: the owner already holds c2's pin
    pins = src.clones(ttl_s=60.0)
    assert [p["dest"] for p in pins] == [os.path.abspath(c2.path)]
    # and it is live protection: churn + vacuum reclaim nothing
    src.delete_where(("k", ">=", 0))
    assert src.vacuum(grace_s=0.0) == []
    assert c2.snapshot().count() == 2
    # the read-refresh touches the SAME file (no marker proliferation)
    c2.snapshot().count()
    assert len(src.clones(ttl_s=60.0)) == 1
    # a RETRIED clone to the occupied destination fails BEFORE any
    # pin write — the LIVE clone's owner pin must survive (the owner
    # pin names are deterministic per (dest, owner), so a cleanup
    # after this ValueError would have unlinked the live clone's pin)
    live_before = {p["dest"] for p in src.clones(ttl_s=60.0)}
    assert os.path.abspath(c2.path) in live_before
    with pytest.raises(ValueError, match="already holds"):
        c1.clone(str(tmp_path / "c2"))
    assert {p["dest"] for p in src.clones(ttl_s=60.0)} == live_before
    assert c2.snapshot().count() == 2


def test_failed_chained_clone_spares_preexisting_owner_pin(
    spark, tmp_path, monkeypatch
):
    """A chained clone that finds its deterministic owner pin ALREADY
    on disk (crashed earlier attempt whose cleanup died between the
    pin write and the unlink) refreshes it but does not claim it: a
    later failure in the same call must not unlink a pin this call
    did not create."""
    src = _mk(spark, tmp_path)
    src.append(_df(spark, [(1, "a"), (2, "b")]))
    c1 = src.clone(str(tmp_path / "c1"))
    dest_abs = os.path.abspath(str(tmp_path / "c2"))
    # simulate the orphaned pin from a crashed attempt
    nm = TxTable._write_marker_file(
        src.path, dest_abs, 0,
        name=TxTable._owner_pin_name(dest_abs, os.path.abspath(src.path)),
    )
    pin = os.path.join(src.path, "_clones", nm)
    assert os.path.exists(pin)

    def boom(self, *a, **kw):
        raise RuntimeError("induced clone failure")

    monkeypatch.setattr(TxTable, "_clone_build", boom)
    with pytest.raises(RuntimeError, match="induced"):
        c1.clone(str(tmp_path / "c2"))
    # the pre-existing pin survived the failure cleanup (only pins
    # THIS call created are unlinked), and its TTL was refreshed
    assert os.path.exists(pin)
    monkeypatch.undo()
    # the real clone then succeeds and reuses the same pin file
    c2 = c1.clone(str(tmp_path / "c2"))
    assert c2.snapshot().count() == 2
    assert dest_abs in {p["dest"] for p in src.clones(ttl_s=60.0)}


def test_deep_clone_pins_owner_before_preimage_guard(
    spark, tmp_path, monkeypatch
):
    """The deep-clone transient owner pins must be ON DISK before the
    vacuumed-preimage guard runs at _clone_build entry (pin-first
    discipline, matching the shallow path): otherwise an owner vacuum
    in the guard-to-pin window could reap borrowed files mid-copy."""
    src = _mk(spark, tmp_path)
    src.append(_df(spark, [(i, f"v{i}") for i in range(4)]))
    c1 = src.clone(str(tmp_path / "c1"))
    d = os.path.join(src.path, "_clones")
    at_guard: list = []
    real_guard = TxTable._guard_vacuumed

    def spy(self, rel_files, what):
        if "clone(" in what and not at_guard:
            at_guard.extend(
                n for n in os.listdir(d) if n.endswith(".json")
            )
        return real_guard(self, rel_files, what)

    monkeypatch.setattr(TxTable, "_guard_vacuumed", spy)
    deep = c1.clone(str(tmp_path / "d1"), shallow=False)
    assert deep.count() == 4
    # at guard time: c1's own marker at src AND the transient pin
    assert len(at_guard) == 2
    # afterwards the transient pin is gone — only c1's marker remains
    assert len([n for n in os.listdir(d) if n.endswith(".json")]) == 1


def test_expired_marker_vacuum_then_read_fails_deterministically(
    spark, tmp_path
):
    """The TTL soak: a shallow clone idles past the marker TTL, the
    source vacuums (stale marker ignored AND swept, borrowed bytes
    reaped). The clone's next read must raise the protocol error at
    PLAN time — the re-pin guard in _maybe_refresh_clone_marker —
    never a task-time FileNotFound or a silent partial result."""
    from pypeman_spark.store.txtable import VacuumedVersionError

    src = _mk(spark, tmp_path)
    src.append(_df(spark, [(i, f"v{i}") for i in range(6)]))
    c1 = src.clone(str(tmp_path / "c1"))
    assert c1.snapshot().count() == 6
    # the clone goes idle past the TTL (clock injection via mtime)
    d = os.path.join(src.path, "_clones")
    for n in os.listdir(d):
        os.utime(os.path.join(d, n), (1.0, 1.0))
    # source churn + vacuum: the stale marker no longer pins, so the
    # borrowed preimage is reaped and the marker itself swept
    src.delete_where(("k", ">=", 0))
    reaped = src.vacuum(grace_s=0.0)
    assert reaped != []
    assert [n for n in os.listdir(d) if n.endswith(".json")] == []
    # deterministic failure on the NEXT read, at snapshot() call time
    with pytest.raises(VacuumedVersionError, match="marker expiry"):
        c1.snapshot()
    # and it stays deterministic (the guard re-fires every read; the
    # re-created marker must not mask the damage)
    with pytest.raises(VacuumedVersionError, match="marker expiry"):
        c1.snapshot()


def test_expired_marker_benign_sweep_read_recovers(spark, tmp_path):
    """Counterpart: if the marker expired and was swept but the owner
    vacuum reaped NOTHING the clone borrows (no churn), the re-pin
    guard passes and the read recovers — expiry alone must not brick
    a healthy clone."""
    src = _mk(spark, tmp_path)
    src.append(_df(spark, [(1, "a"), (2, "b")]))
    c1 = src.clone(str(tmp_path / "c1"))
    d = os.path.join(src.path, "_clones")
    for n in os.listdir(d):
        os.utime(os.path.join(d, n), (1.0, 1.0))
    assert src.vacuum(grace_s=0.0) == []  # nothing removed, no reap
    assert [n for n in os.listdir(d) if n.endswith(".json")] == []
    assert c1.snapshot().count() == 2  # guard passed, marker re-made
    assert len(src.clones(ttl_s=60.0)) == 1


def test_clones_reports_expiry_warning_fields(spark, tmp_path):
    """clones() must give the operator the near-expiry alarm: a fresh
    marker is not expiring_soon; past 75% of the TTL it is, with
    expires_in_s counting down."""
    src = _mk(spark, tmp_path)
    src.append(_df(spark, [(1, "a")]))
    src.clone(str(tmp_path / "c1"))
    fresh = src.clones(ttl_s=100.0)
    assert len(fresh) == 1
    assert fresh[0]["expiring_soon"] is False
    assert fresh[0]["expires_in_s"] > 90
    # age the marker to 80% of the TTL
    d = os.path.join(src.path, "_clones")
    import time as _t

    for n in os.listdir(d):
        t = _t.time() - 80.0
        os.utime(os.path.join(d, n), (t, t))
    aged = src.clones(ttl_s=100.0)
    assert aged[0]["expiring_soon"] is True
    assert 0 < aged[0]["expires_in_s"] <= 25
