"""RESTORE TABLE ... TO VERSION AS OF (store/txtable.py
``TxTable.restore``): one metadata-only commit that returns the live
set, deletion vectors, schema, and constraints to an earlier
snapshot's state — files are re-added, never rewritten; the protocol
and dropped-column tombstones only ratchet forward; and both change
feeds report the restore as the logical row diff.

Reference basis: Delta Lake RESTORE semantics (delta.io; Armbrust et
al., VLDB 2020) — beyond the reference engine, whose stores
(``pypeman/msgstore.py``) keep no versioned state to restore.
"""

import os

import pytest
from pyspark.sql import functions as F

from pypeman_spark.store.txtable import (
    LogTruncatedError,
    TxTable,
    VacuumedVersionError,
)

_KIND = {"logstore": "file"}


@pytest.fixture(autouse=True, params=["file", "sqlite"])
def logstore_kind(request):
    _KIND["logstore"] = request.param
    yield request.param
    _KIND["logstore"] = "file"


def _mk(spark, tmp_path, **kw):
    kw.setdefault("key_cols", ["k"])
    kw.setdefault("n_buckets", 2)
    kw.setdefault("logstore", _KIND["logstore"])
    return TxTable(spark, str(tmp_path / "tbl"), **kw)


def _df(spark, pairs):
    return spark.createDataFrame(list(pairs), "k long, val string")


def _rows(df):
    return sorted((r["k"], r["val"]) for r in df.select("k", "val").collect())


def _feed_counts(df):
    return {
        r["_change_type"]: r["cnt"]
        for r in df.groupBy("_change_type").agg(
            F.count("*").alias("cnt")
        ).collect()
    }


def _data_files(t):
    out = set()
    for root, _dirs, files in os.walk(t.data_dir):
        for f in files:
            if f.endswith(".parquet"):
                out.add(os.path.join(root, f))
    return out


def test_restore_roundtrip_and_metadata_only(spark, tmp_path):
    t = _mk(spark, tmp_path)
    v1 = t.append(_df(spark, [(i, f"v{i}") for i in range(10)]))
    want = _rows(t.snapshot())
    t.merge_upsert(_df(spark, [(3, "NEW"), (50, "INS")]))
    t.delete_where(("k", ">=", 8))
    assert _rows(t.snapshot()) != want
    before = _data_files(t)
    got = t.restore(v1)
    assert got == t.version()
    # state is exactly the target snapshot's, from the log AND data
    assert _rows(t.snapshot()) == want
    assert t.count() == 10
    # metadata-only: no parquet was written by the restore itself
    assert _data_files(t) == before
    info = t._commit_info(got)
    assert info["op"] == "restore"
    assert info["restored_to"] == v1


def test_restore_noop_and_future_version(spark, tmp_path):
    t = _mk(spark, tmp_path)
    v1 = t.append(_df(spark, [(1, "a")]))
    assert t.restore(v1) == v1  # already there: no commit
    assert t.version() == v1
    with pytest.raises(ValueError, match="future|is at"):
        t.restore(v1 + 5)


def test_restore_cdc_batch_reports_logical_diff(spark, tmp_path):
    t = _mk(spark, tmp_path)
    v1 = t.append(_df(spark, [(i, f"v{i}") for i in range(6)]))
    t.merge_upsert(_df(spark, [(2, "CHG"), (100, "INS")]))
    t.delete_where(("k", "=", 5))
    rv = t.restore(v1)
    feed = t.table_changes(rv - 1, rv)
    # 5 comes back (insert), 100 goes away (delete), 2 reverts
    assert _feed_counts(feed) == {
        "insert": 1, "delete": 1,
        "update_preimage": 1, "update_postimage": 1,
    }
    by = {
        (r["_change_type"], r["k"]): r["val"] for r in feed.collect()
    }
    assert by[("insert", 5)] == "v5"
    assert by[("delete", 100)] == "INS"
    assert by[("update_preimage", 2)] == "CHG"
    assert by[("update_postimage", 2)] == "v2"


def test_restore_cdc_stream_matches_batch_feed(spark, tmp_path):
    t = _mk(spark, tmp_path)
    v1 = t.append(_df(spark, [(i, f"v{i}") for i in range(8)]))
    t.delete_where(("k", ">=", 6), mode="dv")
    t.merge_upsert(_df(spark, [(0, "CHG")]))
    t.restore(v1)
    q = (t.stream_changes().writeStream.format("memory")
         .queryName("restore_cdc")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(tuple(r) for r in spark.sql(
        "select _commit_version, _change_type, k, val from restore_cdc"
    ).collect())
    want = sorted(tuple(r) for r in t.table_changes(0).select(
        "_commit_version", "_change_type", "k", "val"
    ).collect())
    assert got == want


def test_restore_resurrects_dv_dead_rows(spark, tmp_path):
    """Copy-on-write never touched the file; only the vector grew.
    Restore drops the vector (or reverts it) and the rows are back."""
    t = _mk(spark, tmp_path)
    v1 = t.append(_df(spark, [(i, f"v{i}") for i in range(10)]))
    t.delete_where(("k", ">=", 7), mode="dv")
    assert t.count() == 7
    rv = t.restore(v1)
    assert t.count() == 10
    assert _rows(t.snapshot()) == [(i, f"v{i}") for i in range(10)]
    # the resurrected rows are feed INSERTS
    assert _feed_counts(t.table_changes(rv - 1, rv)) == {"insert": 3}


def test_restore_to_dv_carrying_version(spark, tmp_path):
    """Target itself had a vector: the re-add embeds it, so every
    reader (snapshot/lookup/count/feed) applies the TARGET's deaths,
    not the later ones."""
    t = _mk(spark, tmp_path, n_buckets=1)
    t.append(_df(spark, [(i, f"v{i}") for i in range(10)]))
    v2 = t.delete_where(("k", "=", 0), mode="dv")
    t.delete_where(("k", ">=", 5), mode="dv")
    assert t.count() == 4
    rv = t.restore(v2)
    assert t.count() == 9
    assert _rows(t.snapshot()) == [(i, f"v{i}") for i in range(1, 10)]
    keys = spark.createDataFrame([(0,), (6,)], "k long")
    assert _rows(t.lookup(keys)) == [(6, "v6")]
    # feed: only the five v3-killed rows come back; k=0 stays dead
    assert sorted(
        r["k"] for r in t.table_changes(rv - 1, rv).collect()
    ) == [5, 6, 7, 8, 9]
    # and the change feed seeded BELOW the restore still nets out:
    # dv state tracking must treat the re-add as the new vector
    assert _feed_counts(t.table_changes(0)) == {
        "insert": 10 + 5, "delete": 1 + 5,
    }


def test_restore_across_compact(spark, tmp_path):
    """Compact rewrote files (materializing vectors); restore to the
    pre-compact version re-adds the ORIGINAL files."""
    t = _mk(spark, tmp_path, n_buckets=1)
    t.append(_df(spark, [(i, f"v{i}") for i in range(6)]))
    t.append(_df(spark, [(i, f"v{i}") for i in range(6, 12)]))
    v2 = t.version()
    want = _rows(t.snapshot())
    t.compact(min_files=2)
    t.delete_where(("k", "<", 3))
    rv = t.restore(v2)
    assert _rows(t.snapshot()) == want
    # compact is row-preserving and the delete then restore cancel:
    # the restore commit's logical diff is exactly the deleted rows
    assert _feed_counts(t.table_changes(rv - 1, rv)) == {"insert": 3}


def test_restore_schema_and_constraints_revert(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    t.add_constraint("val_ok", "val is not null")
    v = t.version()
    t.drop_constraint("val_ok")  # rename requires no reference to val
    t.rename_column("val", "payload")
    t.add_constraint("k_pos", "k > 0")
    assert "payload" in t.snapshot().columns
    t.restore(v)
    assert t.snapshot().columns == ["k", "val"]
    assert t.constraints() == {"val_ok": "val is not null"}
    # the reverted-in constraint still enforces on new writes
    from pypeman_spark.store.txtable import ConstraintViolation

    with pytest.raises(ConstraintViolation):
        t.append(spark.createDataFrame([(9, None)], "k long, val string"))


def test_restore_keeps_drop_tombstones(spark, tmp_path):
    """A column dropped AFTER the target comes back on restore, but
    its physical-name tombstone survives the revert (x_dropped is
    unioned, never reverted)."""
    import json as _json

    t = _mk(spark, tmp_path)
    t.append(_df(spark, [(1, "a")]))
    v = t.version()
    t.drop_column("val")
    t.restore(v)
    assert t.snapshot().columns == ["k", "val"]
    assert _rows(t.snapshot()) == [(1, "a")]
    sj = _json.loads(t._replay_full()[3])
    assert sj.get("x_dropped")  # the tombstone ratcheted


def test_restore_never_downgrades_protocol(spark, tmp_path):
    t = _mk(spark, tmp_path)
    v1 = t.append(_df(spark, [(i, f"v{i}") for i in range(5)]))
    assert t.protocol()["min_reader"] == 1
    t.delete_where(("k", "=", 0), mode="dv")  # bumps to v3
    assert t.protocol()["min_reader"] == 3
    t.restore(v1)
    assert t.protocol()["min_reader"] == 3
    assert t.count() == 5


def test_restore_vacuumed_target_raises(spark, tmp_path):
    t = _mk(spark, tmp_path)
    v1 = t.append(_df(spark, [(i, f"v{i}") for i in range(4)]))
    t.delete_where(("k", ">=", 0))  # rewrite-drops every file
    t.vacuum(grace_s=0.0)
    with pytest.raises(VacuumedVersionError):
        t.restore(v1)
    # and the failed restore committed nothing
    assert t._commit_info(t.version())["op"] != "restore"


def test_restore_below_log_floor_raises(spark, tmp_path):
    t = _mk(spark, tmp_path, checkpoint_interval=3)
    for i in range(10):
        t.append(_df(spark, [(i, f"v{i}")]))
    t.truncate_log()  # floor = newest checkpoint (9)
    with pytest.raises(LogTruncatedError):
        t.restore(5)  # no surviving checkpoint anchor at 5
    # a surviving checkpoint below the floor still anchors a restore
    t.restore(6)
    assert t.count() == 6


def test_restore_retries_past_concurrent_commit(spark, tmp_path):
    """A commit that lands between restore's replay and its claim
    forces a full recompute — and the late commit is restored away,
    because restore defines the WHOLE table state."""
    t = _mk(spark, tmp_path)
    v1 = t.append(_df(spark, [(1, "a"), (2, "b")]))
    t.delete_where(("k", "=", 2))
    other = _mk(spark, tmp_path)
    real = t._commit
    raced = {"n": 0}

    def inject(expected_version, *a, **kw):
        if raced["n"] == 0:
            raced["n"] += 1
            other.append(_df(spark, [(99, "LATE")]))
        return real(expected_version, *a, **kw)

    t._commit = inject
    rv = t.restore(v1)
    t._commit = real
    assert raced["n"] == 1
    assert rv == t.version()
    assert _rows(t.snapshot()) == [(1, "a"), (2, "b")]  # LATE gone


def test_restore_of_restore(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(_df(spark, [(1, "a")]))
    v2 = t.append(_df(spark, [(2, "b")]))
    t.delete_where(("k", "=", 1))
    v3 = t.version()
    mid = _rows(t.snapshot())
    t.restore(v2)
    assert _rows(t.snapshot()) == [(1, "a"), (2, "b")]
    t.restore(v3)
    assert _rows(t.snapshot()) == mid


def test_restore_partitioned_table(spark, tmp_path):
    t = _mk(spark, tmp_path, partition_by=["day"])
    df = spark.createDataFrame(
        [(i, f"v{i}", "d1" if i < 5 else "d2") for i in range(10)],
        "k long, val string, day string",
    )
    t.append(df)
    v1 = t.version()
    want = sorted(tuple(r) for r in t.snapshot().collect())
    t.delete_where(("day", "=", "d1"))  # metadata-only drop
    t.append(spark.createDataFrame(
        [(50, "new", "d3")], "k long, val string, day string"
    ))
    t.restore(v1)
    assert sorted(tuple(r) for r in t.snapshot().collect()) == want
    assert t.stats()["partitions"] == 2


# -------------------------------------------- concurrency races --
# Mirrors the dv race matrix (tests/test_txtable_dv_races.py):
# restore defines the WHOLE table state, so any interleaved commit
# forces a full recompute from a fresh snapshot — the invariant is
# that snapshot(restore_commit) is ALWAYS exactly the target state,
# no matter what landed in between.


def test_restore_vs_dv_delete_race(spark, tmp_path):
    """A dv delete lands between restore's replay and its claim: the
    retry must also revert THAT vector — committing the stale diff
    would leave the racer's dead rows missing from the 'restored'
    state."""
    t_a = _mk(spark, tmp_path)
    v1 = t_a.append(_df(spark, [(i, f"v{i}") for i in range(20)]))
    t_a.delete_where(("k", ">=", 15), mode="dv")
    t_b = TxTable(spark, str(tmp_path / "tbl"))
    real = t_a._commit
    fired = {"n": 0}

    def hooked(expected_version, actions, op, buckets, **kw):
        if op == "restore" and fired["n"] == 0:
            fired["n"] += 1
            t_b.delete_where(("k", "=", 3), mode="dv")
        return real(expected_version, actions, op, buckets, **kw)

    t_a._commit = hooked
    rv = t_a.restore(v1)
    assert fired["n"] == 1
    assert _rows(t_a.snapshot()) == [(i, f"v{i}") for i in range(20)]
    assert _rows(t_a.snapshot(version=rv)) == [
        (i, f"v{i}") for i in range(20)
    ]


def test_restore_vs_compact_and_vacuum_race(spark, tmp_path):
    """Compaction + vacuum land mid-restore, REWRITING the current
    live set (the files restore planned to remove) — the retry must
    re-diff against the compacted files; the vacuum cannot reclaim
    the restore's re-add candidates because earlier commits' removed
    files are still feed-pinned only by grace, and the target files
    here are still LIVE in the target... they were removed at v2, so
    grace_s=3600 (default window) protects them."""
    t_a = _mk(spark, tmp_path, n_buckets=1)
    v1 = t_a.append(_df(spark, [(i, f"v{i}") for i in range(10)]))
    t_a.delete_where(("k", ">=", 5))  # rewrite: v1's file removed
    t_b = TxTable(spark, str(tmp_path / "tbl"))
    real = t_a._commit
    fired = {"n": 0}

    def hooked(expected_version, actions, op, buckets, **kw):
        if op == "restore" and fired["n"] == 0:
            fired["n"] += 1
            t_b.append(_df(spark, [(100, "mid")]))
            t_b.compact(min_files=2)
            t_b.vacuum()  # default grace: re-add candidates survive
        return real(expected_version, actions, op, buckets, **kw)

    t_a._commit = hooked
    rv = t_a.restore(v1)
    assert fired["n"] == 1
    assert _rows(t_a.snapshot()) == [(i, f"v{i}") for i in range(10)]
    assert _rows(t_a.snapshot(version=rv)) == [
        (i, f"v{i}") for i in range(10)
    ]


def test_restore_vacuum_steals_candidate_fails_loud(
    spark, tmp_path, monkeypatch
):
    """The residual hazard: a zero-grace vacuum reclaims a re-add
    candidate INSIDE the commit window (the mtime re-arm only
    protects positive grace windows). The post-commit guard must
    surface it as VacuumedVersionError — loud, never a silently
    partial restore."""
    t_a = _mk(spark, tmp_path, n_buckets=1)
    v1 = t_a.append(_df(spark, [(i, f"v{i}") for i in range(6)]))
    t_a.delete_where(("k", ">=", 0))  # drops v1's file from the log
    t_b = TxTable(spark, str(tmp_path / "tbl"))
    real = t_a._commit
    fired = {"n": 0}

    def hooked(expected_version, actions, op, buckets, **kw):
        if op == "restore" and fired["n"] == 0:
            fired["n"] += 1
            assert t_b.vacuum(grace_s=0.0)  # reclaims the candidate
        return real(expected_version, actions, op, buckets, **kw)

    t_a._commit = hooked
    with pytest.raises(VacuumedVersionError, match="post-commit"):
        t_a.restore(v1)


def _race_restore_vs_appends(path, role, payload, barrier):
    """Child process: either restore to version 1, or append rows —
    all through the real conditional-put commit protocol."""
    import json as _json

    from pypeman_spark.store.logstore import open_logstore

    t = TxTable.__new__(TxTable)
    t.path = path
    t.log_dir = os.path.join(path, "_txlog")
    t.data_dir = os.path.join(path, "data")
    t.checkpoint_interval = 1 << 30
    t.logstore = open_logstore(t.log_dir)
    barrier.wait()
    if role == "restore":
        from pypeman_spark.store.txtable import _replay_log

        for attempt in range(50):
            base_v, live, _t, _s, _c, _p = _replay_log(t.logstore)
            tgt = _replay_log(t.logstore, upto=1)
            actions = [
                {"remove": {"file": f}} for f in sorted(live)
                if f not in tgt.live
            ] + [
                {"add": dict(i)} for f, i in sorted(tgt.live.items())
                if f not in live
            ]
            if not actions:
                break
            if t._commit(base_v + 1, actions, op="restore",
                         buckets=[0], extra={"restored_to": 1}):
                with open(os.path.join(path, "race_restore_v"),
                          "w") as fh:
                    _json.dump({"v": base_v + 1}, fh)
                break
    else:
        # appends re-commit borrowed ADD actions (pre-staged parquet
        # paths passed in payload) through the OCC loop
        for rel in payload:
            v = t.version()
            while not t._commit(
                v + 1,
                [{"add": {"file": rel, "bucket": 0, "rows": 1,
                          "bytes": 1}}],
                op="append", buckets=[0],
            ):
                v += 1


def test_cross_process_restore_vs_appends(spark, tmp_path):
    """A restore races two real appender processes through the
    conditional-put protocol: whatever interleaving wins, the state
    AT the restore's commit version is exactly the target state —
    appends that landed before it are restored away, appends after
    it survive on top."""
    import multiprocessing as mp
    import shutil as _sh

    t = _mk(spark, tmp_path, n_buckets=1)
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    # a second commit ABOVE the restore target guarantees the
    # restorer always has a non-empty diff — otherwise a restorer
    # whose first replay beats every appender legitimately finds
    # nothing to do and the marker assert below turns load-flaky
    t.append(_df(spark, [(9, "above-target")]))
    # pre-stage loose parquet files the appender processes can
    # re-add without needing Spark in the child
    _v, live = t._replay()
    src = sorted(live)[0]
    extras = []
    for i in range(6):
        rel = src.replace(".parquet", f"_x{i}.parquet")
        _sh.copy(os.path.join(t.path, src), os.path.join(t.path, rel))
        extras.append(rel)
    ctx = mp.get_context("spawn")
    barrier = ctx.Barrier(3)
    procs = [
        ctx.Process(target=_race_restore_vs_appends,
                    args=(t.path, "restore", None, barrier)),
        ctx.Process(target=_race_restore_vs_appends,
                    args=(t.path, "append", extras[:3], barrier)),
        ctx.Process(target=_race_restore_vs_appends,
                    args=(t.path, "append", extras[3:], barrier)),
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(180)
        assert p.exitcode == 0
    import json as _json

    marker = os.path.join(t.path, "race_restore_v")
    assert os.path.exists(marker)
    rv = _json.load(open(marker))["v"]
    # THE invariant: at the restore commit, the table IS version 1
    _v1_live = set(t._replay(upto=1)[1])
    assert set(t._replay(upto=rv)[1]) == _v1_live
    # and every append committed after it is still there on top
    final = set(t._replay()[1])
    later_adds = {
        a["file"]
        for v in t._log_versions() if v > rv
        for a in t._commit_actions(v)[0]
    }
    assert final == _v1_live | later_adds
