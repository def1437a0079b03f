"""Deletion vectors (store/txtable.py ``delete_where(mode="dv")``):
merge-on-read deletes as metadata-sized commits — cumulative vector
union, per-file escalation to copy-on-write, protocol v3 bump, every
reader applying the vectors, CDC newly-dead diffing (batch and
streaming), compaction materializing them away.

Reference basis: Delta deletion vectors (merge-on-read DELETE) /
Iceberg positional delete files — public designs; the positions ride
in the commit log itself here because the log IS the metadata plane.
"""

import os

import pytest
from pyspark.sql import functions as F

import pypeman_spark.store.txtable as txmod
from pypeman_spark.store.txtable import (
    TableProtocolError,
    TxTable,
    _dv_decode,
    _dv_encode,
    _file_uri,
)

_KIND = {"logstore": "file"}


@pytest.fixture(autouse=True, params=["file", "sqlite"])
def logstore_kind(request):
    _KIND["logstore"] = request.param
    yield request.param
    _KIND["logstore"] = "file"


def _mk(spark, tmp_path, **kw):
    kw.setdefault("key_cols", ["k"])
    kw.setdefault("n_buckets", 4)
    kw.setdefault("logstore", _KIND["logstore"])
    return TxTable(spark, str(tmp_path / "tbl"), **kw)


def _df(spark, pairs):
    return spark.createDataFrame(list(pairs), "k long, val string")


def _feed_counts(df):
    return {
        r["_change_type"]: r["cnt"]
        for r in df.groupBy("_change_type").agg(
            F.count("*").alias("cnt")
        ).collect()
    }


def test_dv_encode_decode_roundtrip():
    pos = [5, 1, 99, 1 << 40, 0]
    enc, card = _dv_encode(pos)
    assert card == 5
    assert _dv_decode(enc) == sorted(set(pos))


def test_file_uri_matches_hadoop_path_form():
    """Regression: pathname2url percent-encodes '=', Hadoop Path does
    not — a '%3D' in the join key silently disabled every DV filter."""
    u = _file_uri("/tmp/a b/data/bucket=3/part-x.parquet")
    assert "bucket=3" in u and "%3D" not in u
    assert "a%20b" in u  # space IS encoded, like Hadoop Path
    assert u.startswith("file:/") and not u.startswith("file:///")


def test_dv_delete_marks_rows_without_rewriting_files(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(_df(spark, [(i, f"v{i}") for i in range(40)]))
    _v, live_before = t._replay()
    v = t.delete_where(("k", ">=", 35), mode="dv")
    _v, live_after = t._replay()
    # same physical files — the delete was metadata-only
    assert set(live_before) == set(live_after)
    adds, removes, dvs, info = t._commit_actions(v)
    assert not adds and not removes and dvs and info["op"] == "delete"
    assert sum(d["card"] for d in dvs) == 5
    # every reader applies the vector
    assert t.count() == 35
    assert t.snapshot().count() == 35
    assert t.read().count() == 35
    assert t.scan(("k", ">=", 30)).count() == 5
    assert {r["k"] for r in t.snapshot().collect()} == set(range(35))
    st = t.stats()
    assert st["rows"] == 35 and st["dv_rows"] == 5


def test_dv_commit_bumps_protocol_to_v3_atomically(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(_df(spark, [(i, f"v{i}") for i in range(10)]))
    assert t.protocol()["min_reader"] < 3
    v = t.delete_where(("k", "=", 3), mode="dv")
    assert t.protocol() == {"min_reader": 3, "min_writer": 3}
    # the bump rides IN the dv commit, not a separate one
    payload = t.logstore.read(v)
    assert '"protocol"' in payload and '"dv"' in payload
    # a pre-dv reader must refuse loudly (silent resurrection is the
    # failure mode the bump exists to prevent)
    old = txmod._SUPPORTED_READER
    txmod._SUPPORTED_READER = 2
    try:
        with pytest.raises(TableProtocolError):
            t._replay_full()
    finally:
        txmod._SUPPORTED_READER = old


def test_dv_cumulative_union_across_commits(spark, tmp_path):
    t = _mk(spark, tmp_path, n_buckets=1)  # one file, both deletes hit it
    t.append(_df(spark, [(i, f"v{i}") for i in range(30)]))
    t.delete_where(("k", ">=", 25), mode="dv")
    v2 = t.delete_where(("k", "between", (20, 22)), mode="dv")
    assert t.count() == 22
    # the second action republishes the UNION (replay is last-writer-
    # wins per file, so each vector must be self-contained)
    _adds, _removes, dvs, _info = t._commit_actions(v2)
    assert len(dvs) == 1 and dvs[0]["card"] == 8
    assert {r["k"] for r in t.snapshot().collect()} == (
        set(range(20)) | {23, 24}
    )


def test_dv_escalates_to_rewrite_when_fraction_large(spark, tmp_path):
    t = _mk(spark, tmp_path, n_buckets=1)
    t.append(_df(spark, [(i, f"v{i}") for i in range(100)]))
    _v, before = t._replay()
    v = t.delete_where(("k", "<", 60), mode="dv")  # 60 % >= _DV_MAX_FRAC
    adds, removes, dvs, _info = t._commit_actions(v)
    assert not dvs and adds and removes  # copy-on-write, no vector
    assert t.count() == 40
    assert t.stats().get("dv_files", 0) == 0
    # escalation means protocol stays pre-v3 (no dv construct written)
    assert t.protocol()["min_reader"] < 3


def test_dv_nothing_matched_no_commit(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(_df(spark, [(i, f"v{i}") for i in range(10)]))
    v_before = t.version()
    assert t.delete_where(("k", ">", 1000), mode="dv") == v_before
    assert t.version() == v_before


def test_dv_rows_stay_dead_under_dml_and_merge(spark, tmp_path):
    """Reads feeding DML rewrites apply the vector, so a later merge /
    update / compact permanently materializes the delete instead of
    resurrecting the rows."""
    t = _mk(spark, tmp_path, n_buckets=2)
    t.append(_df(spark, [(i, f"v{i}") for i in range(20)]))
    t.delete_where(("k", "in", (3, 7, 11)), mode="dv")
    assert t.count() == 17
    t.merge_upsert(_df(spark, [(4, "NEW"), (50, "INS")]))
    assert t.lookup(spark.createDataFrame([(3,), (4,)], "k long")
                    ).count() == 1  # 3 is dead, 4 updated
    t.update_where({"val": "upper(val)"}, ("k", "<", 100))
    got = {r["k"]: r["val"] for r in t.snapshot().collect()}
    assert set(got) == (set(range(20)) - {3, 7, 11}) | {50}
    assert got[4] == "NEW"
    assert t.count() == 18


def test_dv_compact_materializes_vectors(spark, tmp_path):
    t = _mk(spark, tmp_path, n_buckets=2)
    t.append(_df(spark, [(i, f"v{i}") for i in range(30)]))
    t.delete_where(("k", ">=", 26), mode="dv")
    assert t.stats()["dv_files"] >= 1
    pre_compact_v = t.version()
    # min_files high: ONLY the dv-carrying buckets qualify
    t.compact(min_files=99)
    st = t.stats()
    assert st.get("dv_files", 0) == 0 and st["rows"] == 26
    assert t.snapshot().count() == 26
    # compact is row-preserving: the feed contributes nothing for it
    assert t.table_changes(pre_compact_v).count() == 0
    # time travel to the pre-compact version still applies the vector
    assert t.snapshot(version=pre_compact_v).count() == 26


def test_dv_cdc_batch_newly_dead_diffing(spark, tmp_path):
    """Each dv commit's feed contribution is its NEWLY dead rows —
    the cumulative republish never re-reports earlier deletes — and
    a preimage read of a later rewrite drops already-dead rows."""
    t = _mk(spark, tmp_path, n_buckets=1)
    t.append(_df(spark, [(i, f"v{i}") for i in range(30)]))        # v1
    t.delete_where(("k", ">=", 27), mode="dv")                     # v2
    t.delete_where(("k", "between", (24, 25)), mode="dv")          # v3
    t.merge_upsert(_df(spark, [(0, "NEW")]))                       # v4
    assert _feed_counts(t.table_changes(1, 2)) == {"delete": 3}
    assert _feed_counts(t.table_changes(2, 3)) == {"delete": 2}
    assert sorted(
        r["k"] for r in t.table_changes(2, 3).collect()
    ) == [24, 25]
    # the merge rewrote the (single-bucket) file: its preimage must
    # exclude the 5 dead rows, so the diff is exactly the one update
    assert _feed_counts(t.table_changes(3, 4)) == {
        "update_preimage": 1, "update_postimage": 1,
    }
    assert _feed_counts(t.table_changes(0)) == {
        "insert": 30, "delete": 5,
        "update_preimage": 1, "update_postimage": 1,
    }


def test_dv_cdc_stream_matches_batch_feed(spark, tmp_path):
    t = _mk(spark, tmp_path, n_buckets=2)
    t.append(_df(spark, [(i, f"v{i}") for i in range(20)]))
    t.delete_where(("k", ">=", 17), mode="dv")
    t.delete_where(("k", "=", 0), mode="dv")
    t.merge_upsert(_df(spark, [(5, "NEW"), (50, "INS")]))
    t.compact(min_files=1)  # materializes; must add nothing to feed
    q = (t.stream_changes().writeStream.format("memory")
         .queryName("dv_cdc")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(tuple(r) for r in spark.sql(
        "select _commit_version, _change_type, k, val from dv_cdc"
    ).collect())
    want = sorted(tuple(r) for r in t.table_changes(0).select(
        "_commit_version", "_change_type", "k", "val"
    ).collect())
    assert got == want
    types = _feed_counts(spark.table("dv_cdc"))
    assert types == {
        "insert": 21, "delete": 4,
        "update_preimage": 1, "update_postimage": 1,
    }


def test_dv_partitioned_full_match_still_metadata_remove(
    spark, tmp_path
):
    """In dv mode a provably all-matching file is DROPPED, not
    vectored — a metadata remove beats a full-cover vector."""
    t = _mk(spark, tmp_path, n_buckets=2, partition_by=["day"])
    df = spark.createDataFrame(
        [(i, f"v{i}", "d1" if i < 100 else "d2") for i in range(200)],
        "k long, val string, day string",
    )
    t.append(df)
    v = t.delete_where(("day", "=", "d1"), mode="dv")
    adds, removes, dvs, _info = t._commit_actions(v)
    assert removes and not dvs and not adds
    assert t.count() == 100
    # mixed predicate, small fraction: d2 files get vectors (the d1
    # files are already gone, nothing escalates)
    v2 = t.delete_where(("k", ">=", 190), mode="dv")
    _adds, removes2, dvs2, _info2 = t._commit_actions(v2)
    assert dvs2 and not removes2
    assert t.count() == 90


def test_dv_delete_keys_point_delete(spark, tmp_path):
    """GDPR-shaped point delete: delete_keys(mode='dv') publishes
    positions, rewrites nothing, and the feed reports the rows."""
    t = _mk(spark, tmp_path)
    t.append(_df(spark, [(i, f"v{i}") for i in range(50)]))
    _v, live_before = t._replay()
    v = t.delete_keys(
        spark.createDataFrame([(7,), (31,)], "k long"), mode="dv"
    )
    _v, live_after = t._replay()
    assert set(live_before) == set(live_after)  # zero files rewritten
    adds, removes, dvs, _info = t._commit_actions(v)
    assert not adds and not removes and sum(d["card"] for d in dvs) == 2
    assert t.count() == 48
    assert t.lookup(spark.createDataFrame([(7,), (8,)], "k long")
                    ).count() == 1
    assert sorted(
        r["k"] for r in t.table_changes(v - 1, v).collect()
    ) == [7, 31]
    # absent keys: provable no-op, no commit
    assert t.delete_keys(
        spark.createDataFrame([(999,)], "k long"), mode="dv"
    ) == v
    assert t.version() == v


def test_dv_vacuum_keeps_vectored_files(spark, tmp_path):
    """A dv'd file is still LIVE — vacuum must never touch it."""
    t = _mk(spark, tmp_path, n_buckets=1)
    t.append(_df(spark, [(i, f"v{i}") for i in range(10)]))
    t.delete_where(("k", "=", 1), mode="dv")
    assert t.vacuum(grace_s=0.0) == []
    assert t.count() == 9


def test_dv_survives_schema_evolution(spark, tmp_path):
    """Vectors are file-scoped positions; adding a column afterwards
    (old files null-fill) must not resurrect or shift dead rows, in
    snapshots or in the feed."""
    t = _mk(spark, tmp_path, n_buckets=1)
    t.append(_df(spark, [(i, f"v{i}") for i in range(20)]))
    t.delete_where(("k", ">=", 17), mode="dv")
    # evolve: merge with a NEW column (new keys only — no rewrite of
    # the dv'd file is forced beyond its own bucket)
    t.merge_upsert(spark.createDataFrame(
        [(100, "x", 1.5)], "k long, val string, score double"
    ))
    snap = {r["k"]: (r["val"], r["score"]) for r in t.snapshot().collect()}
    assert set(snap) == set(range(17)) | {100}
    assert snap[3] == ("v3", None) and snap[100] == ("x", 1.5)
    assert t.count() == 18
    feed = _feed_counts(t.table_changes(0))
    assert feed["delete"] == 3 and feed["insert"] == 21


def test_dv_state_survives_checkpoint_roundtrip(spark, tmp_path):
    """Checkpoints serialize the live set WITH each file's merged dv
    — a replay that shortcuts through a post-dv checkpoint must still
    filter the dead rows (and the next dv commit must still union
    against them)."""
    t = _mk(spark, tmp_path, n_buckets=1, checkpoint_interval=2)
    t.append(_df(spark, [(i, f"v{i}") for i in range(30)]))   # v1
    t.delete_where(("k", ">=", 28), mode="dv")                # v2 + ckpt
    cks = t.logstore.list_checkpoints()
    assert cks and max(cks) == 2
    # a FRESH handle replays from the checkpoint, not the entries
    t2 = TxTable(spark, str(tmp_path / "tbl"))
    _v, live = t2._replay()
    assert any(i.get("dv") for i in live.values())
    assert t2.count() == 28 and t2.snapshot().count() == 28
    # cumulative union still works across the checkpoint boundary
    t2.delete_where(("k", "=", 0), mode="dv")
    assert t2.snapshot().count() == 27
    assert {r["k"] for r in t2.snapshot().collect()} == set(range(1, 28))


@pytest.mark.parametrize("how", ["module_default", "table_property"])
def test_dv_table_cap_escalates_and_gauges(spark, tmp_path, how):
    """Global dv-size guard: per-file escalation bounds each vector,
    but the snapshot read broadcasts the UNION across every live
    file's positions — a write that would push the table total past
    the cap escalates the offending file(s) to copy-on-write (warning
    pointing at compact()) so the broadcast stays under the cap by
    construction; stats() exposes the gauge. The cap is a create-time
    TABLE property (``dv_table_cap``, stored in the version-0 meta so
    every writer agrees), defaulting to the module constant."""
    import warnings as _w

    old = txmod._DV_MAX_TABLE_POSITIONS
    if how == "module_default":
        # the default resolves at CREATE time, like any table property
        txmod._DV_MAX_TABLE_POSITIONS = 6
    try:
        t = _mk(
            spark, tmp_path,
            **({"dv_table_cap": 6} if how == "table_property" else {}),
        )
        t.append(_df(spark, [(i, f"v{i}") for i in range(80)]))
        t.delete_where(("k", "<", 4), mode="dv")  # 4 pos: under cap
        assert t.stats().get("dv_total_positions", 0) <= 6
        with _w.catch_warnings(record=True) as got:
            _w.simplefilter("always")
            t.delete_where(("k", ">=", 70), mode="dv")  # +10: past cap
        assert any("compact()" in str(w.message) for w in got)
        st = t.stats()
        assert st.get("dv_total_positions", 0) <= 6
        assert st.get("dv_table_cap") in (6, None)
    finally:
        txmod._DV_MAX_TABLE_POSITIONS = old
    # correctness never depends on which path a file took
    assert t.count() == 66
    assert {r["k"] for r in t.read().collect()} == set(range(4, 70))
    if how == "table_property":
        # the property persists in v0 meta: a FRESH handle re-reads
        # it (writers can never disagree on escalation behavior)
        t2 = TxTable(spark, t.path)
        assert t2.dv_table_cap == 6
    # compaction materializes vectors away and resets the gauge
    t.compact()
    assert "dv_total_positions" not in t.stats()
    assert t.count() == 66


# ------------------------------------------------ dv-backed UPDATE --


def test_dv_update_appends_without_rewriting_files(spark, tmp_path):
    """update_where(mode="dv"): matched positions go dead in the
    vector, updated rows append — the touched files stay live and
    nothing is rewritten (the Delta DV protocol's UPDATE path)."""
    t = _mk(spark, tmp_path)
    t.append(_df(spark, [(i, f"v{i}") for i in range(40)]))
    _v, live_before = t._replay()
    v = t.update_where({"val": F.lit("UP")}, ("k", ">=", 36), mode="dv")
    adds, removes, dvs, info = t._commit_actions(v)
    assert info["op"] == "update"
    assert not removes and dvs and adds  # merge-on-read: no rewrite
    assert sum(d["card"] for d in dvs) == 4
    _v, live_after = t._replay()
    assert set(live_before) <= set(live_after)  # old files still live
    # every reader sees exactly one live row per key, post-update
    assert t.count() == 40
    rows = {r["k"]: r["val"] for r in t.snapshot().collect()}
    assert len(rows) == 40
    assert all(rows[k] == "UP" for k in range(36, 40))
    assert all(rows[k] == f"v{k}" for k in range(36))
    assert t.protocol()["min_reader"] == 3  # dv bump rode the commit


def test_dv_update_matches_rewrite_semantics(spark, tmp_path):
    """Same assignments, same predicates: dv and rewrite modes must
    produce identical tables AND identical change feeds."""
    rows = [(i, f"v{i % 7}") for i in range(60)]
    ta = _mk(spark, tmp_path / "a")
    tb = _mk(spark, tmp_path / "b")
    for t in (ta, tb):
        t.append(_df(spark, rows))
    va = ta.update_where(
        {"val": F.concat(F.col("val"), F.lit("!"))},
        ("k", "<", 10), mode="dv",
    )
    vb = tb.update_where(
        {"val": F.concat(F.col("val"), F.lit("!"))},
        ("k", "<", 10), mode="rewrite",
    )
    snap_a = sorted((r["k"], r["val"]) for r in ta.snapshot().collect())
    snap_b = sorted((r["k"], r["val"]) for r in tb.snapshot().collect())
    assert snap_a == snap_b
    feed_a = sorted(
        (r["_change_type"], r["k"], r["val"])
        for r in ta.table_changes(va - 1, va).collect()
    )
    feed_b = sorted(
        (r["_change_type"], r["k"], r["val"])
        for r in tb.table_changes(vb - 1, vb).collect()
    )
    assert feed_a == feed_b
    assert {c for c, _k, _v in feed_a} == {
        "update_preimage", "update_postimage",
    }
    assert len(feed_a) == 20  # 10 pre + 10 post, no rewrite noise


def test_dv_update_cdc_stream_matches_batch(spark, tmp_path):
    """The streaming feed reconstructs update_pre/postimage from the
    position diff + new adds, bucket-locally, identical to batch."""
    t = _mk(spark, tmp_path, n_buckets=2)
    t.append(_df(spark, [(i, f"v{i}") for i in range(30)]))
    t.update_where({"val": F.lit("X")}, ("k", "<", 5), mode="dv")
    t.delete_where(("k", "=", 29), mode="dv")
    t.update_where({"val": F.lit("Y")}, ("k", "=", 7), mode="dv")
    q = (t.stream_changes().writeStream.format("memory")
         .queryName("dv_upd_cdc")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(tuple(r) for r in spark.sql(
        "select _commit_version, _change_type, k, val from dv_upd_cdc"
    ).collect())
    want = sorted(tuple(r) for r in t.table_changes(0).select(
        "_commit_version", "_change_type", "k", "val"
    ).collect())
    assert got == want
    types = _feed_counts(spark.table("dv_upd_cdc"))
    assert types == {
        "insert": 30, "delete": 1,
        "update_preimage": 6, "update_postimage": 6,
    }


def test_dv_update_escalation_and_compact(spark, tmp_path):
    """A dv update whose file crosses the dead-fraction bound falls
    back to copy-on-write in the same commit; compaction materializes
    surviving vectors away without touching the feed."""
    t = _mk(spark, tmp_path, n_buckets=1)
    t.append(_df(spark, [(i, f"v{i}") for i in range(10)]))
    # 8/10 rows: past _DV_MAX_FRAC -> the single file escalates
    v = t.update_where({"val": F.lit("E")}, ("k", "<", 8), mode="dv")
    adds, removes, dvs, _info = t._commit_actions(v)
    assert removes and adds and not dvs  # escalated: plain rewrite
    rows = {r["k"]: r["val"] for r in t.snapshot().collect()}
    assert all(rows[k] == "E" for k in range(8))
    # now a small dv update, then compact materializes it
    t.update_where({"val": F.lit("Z")}, ("k", "=", 9), mode="dv")
    assert t.stats().get("dv_files", 0) >= 1
    n_feed = t.table_changes(0).count()
    t.compact()
    assert "dv_files" not in t.stats()
    assert t.table_changes(0).count() == n_feed  # row-preserving
    rows = {r["k"]: r["val"] for r in t.snapshot().collect()}
    assert rows[9] == "Z" and rows[8] == "v8" and t.count() == 10


def test_dv_update_txn_idempotent(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(_df(spark, [(i, f"v{i}") for i in range(20)]))
    v1 = t.update_where(
        {"val": F.lit("once")}, ("k", "=", 3), mode="dv",
        txn=("app", 7),
    )
    v2 = t.update_where(
        {"val": F.concat(F.col("val"), F.lit("+again"))},
        ("k", "=", 3), mode="dv", txn=("app", 7),
    )
    assert v2 == v1  # re-delivery: provable no-op
    rows = {r["k"]: r["val"] for r in t.snapshot().collect()}
    assert rows[3] == "once"


# ------------------------------------------------- dv-backed MERGE --


def test_dv_merge_stages_only_the_churn(spark, tmp_path):
    """merge(mode="dv"): exactly the clause-touched matched rows go
    dead + re-append; untouched rows (unmatched targets AND matched
    rows the condition skips) stay alive in place — the commit stages
    only the churn, never the bucket."""
    t = _mk(spark, tmp_path)
    t.append(_df(spark, [(i, f"v{i}") for i in range(40)]))
    _v, live_before = t._replay()
    src = spark.createDataFrame(
        [(3, 10), (5, -1), (7, 20), (100, 5)], "k long, delta long"
    )
    v = t.merge(
        src,
        when_matched_update={"val": "concat(t.val, '+', s.delta)"},
        when_matched_delete="s.delta < 0",
        when_not_matched_insert={"val": "concat('ins', s.delta)"},
        when_matched_condition="s.delta >= 20",
        mode="dv",
    )
    adds, removes, dvs, info = t._commit_actions(v)
    assert info["op"] == "merge"
    assert not removes and dvs  # merge-on-read: nothing rewritten
    assert sum(d["card"] for d in dvs) == 2  # k=5 deleted, k=7 updated
    _v, live_after = t._replay()
    assert set(live_before) <= set(live_after)
    rows = {r["k"]: r["val"] for r in t.snapshot().collect()}
    assert rows[7] == "v7+20"       # matched, condition holds
    assert rows[3] == "v3"          # matched, condition fails: alive
    assert 5 not in rows            # matched delete
    assert rows[100] == "ins5"      # insert
    assert len(rows) == 40          # 40 - 1 delete + 1 insert
    feed = _feed_counts(t.table_changes(v - 1, v))
    assert feed == {
        "insert": 1, "delete": 1,
        "update_preimage": 1, "update_postimage": 1,
    }


def test_dv_merge_upsert_matches_rewrite(spark, tmp_path):
    """merge_upsert in both modes: identical snapshots and feeds
    (whole-row replace, missing columns null-filled)."""
    rows = [(i, f"v{i}", i * 10) for i in range(50)]
    schema = "k long, val string, score long"
    ta = _mk(spark, tmp_path / "a")
    tb = _mk(spark, tmp_path / "b")
    for t in (ta, tb):
        t.append(spark.createDataFrame(rows, schema))
    ups = spark.createDataFrame(
        [(3, "UP3"), (60, "NEW")], "k long, val string"  # no score
    )
    va = ta.merge_upsert(ups, mode="dv")
    vb = tb.merge_upsert(ups, mode="rewrite")
    snap_a = sorted(tuple(r) for r in ta.snapshot().collect())
    snap_b = sorted(tuple(r) for r in tb.snapshot().collect())
    assert snap_a == snap_b
    assert ("k", "val", "score") == tuple(ta.snapshot().columns)
    feed_a = sorted(
        (r["_change_type"], r["k"], r["val"], r["score"])
        for r in ta.table_changes(va - 1, va).collect()
    )
    feed_b = sorted(
        (r["_change_type"], r["k"], r["val"], r["score"])
        for r in tb.table_changes(vb - 1, vb).collect()
    )
    assert feed_a == feed_b
    assert ("update_preimage", 3, "v3", 30) in feed_a
    assert ("update_postimage", 3, "UP3", None) in feed_a
    assert ("insert", 60, "NEW", None) in feed_a


def test_dv_merge_cdc_stream_matches_batch(spark, tmp_path):
    t = _mk(spark, tmp_path, n_buckets=2)
    t.append(_df(spark, [(i, f"v{i}") for i in range(20)]))
    t.merge_upsert(
        _df(spark, [(1, "U1"), (2, "U2"), (50, "I50")]), mode="dv"
    )
    t.merge(
        spark.createDataFrame([(4, 1), (6, 1)], "k long, d long"),
        when_matched_delete=True, when_not_matched_insert=False,
        mode="dv",
    )
    q = (t.stream_changes().writeStream.format("memory")
         .queryName("dv_mrg_cdc")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(tuple(r) for r in spark.sql(
        "select _commit_version, _change_type, k, val from dv_mrg_cdc"
    ).collect())
    want = sorted(tuple(r) for r in t.table_changes(0).select(
        "_commit_version", "_change_type", "k", "val"
    ).collect())
    assert got == want
    types = _feed_counts(spark.table("dv_mrg_cdc"))
    assert types == {
        "insert": 21, "delete": 2,
        "update_preimage": 2, "update_postimage": 2,
    }


def test_dv_merge_escalates_when_too_dead(spark, tmp_path):
    """A dv merge touching most of a file's rows escalates that file
    to copy-on-write in the same commit — identical semantics."""
    t = _mk(spark, tmp_path, n_buckets=1)
    t.append(_df(spark, [(i, f"v{i}") for i in range(10)]))
    v = t.merge_upsert(
        _df(spark, [(i, f"U{i}") for i in range(8)]), mode="dv"
    )
    adds, removes, dvs, _info = t._commit_actions(v)
    assert removes and adds and not dvs  # 8/10 dead: escalated
    rows = {r["k"]: r["val"] for r in t.snapshot().collect()}
    assert all(rows[k] == f"U{k}" for k in range(8))
    assert rows[9] == "v9" and len(rows) == 10


def test_dv_merge_txn_idempotent(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(_df(spark, [(i, f"v{i}") for i in range(20)]))
    v1 = t.merge_upsert(
        _df(spark, [(3, "once")]), mode="dv", txn=("app", 9)
    )
    v2 = t.merge_upsert(
        _df(spark, [(3, "twice")]), mode="dv", txn=("app", 9)
    )
    assert v2 == v1
    rows = {r["k"]: r["val"] for r in t.snapshot().collect()}
    assert rows[3] == "once"


def test_dv_update_after_rename_and_evolution(spark, tmp_path):
    """dv update against a renamed column (logical-only rename,
    column-mapping physicals) and across schema evolution: positions
    stay file-scoped, post-images stage under the current physical
    names, old files null-fill the evolved column."""
    t = _mk(spark, tmp_path, n_buckets=1)
    t.append(_df(spark, [(i, f"v{i}") for i in range(20)]))
    t.rename_column("val", "label")
    # evolve: add a column via merge of a new key
    t.merge_upsert(spark.createDataFrame(
        [(100, "x", 9)], "k long, label string, score long"
    ))
    v = t.update_where(
        {"label": "upper(label)"}, ("k", "<", 3), mode="dv"
    )
    adds, removes, dvs, _i = t._commit_actions(v)
    assert dvs and adds and not removes
    rows = {r["k"]: (r["label"], r["score"])
            for r in t.snapshot().collect()}
    assert rows[0] == ("V0", None) and rows[2] == ("V2", None)
    assert rows[5] == ("v5", None) and rows[100] == ("x", 9)
    assert len(rows) == 21
    feed = _feed_counts(t.table_changes(v - 1, v))
    assert feed == {"update_preimage": 3, "update_postimage": 3}
    # compaction materializes; the renamed/evolved schema holds
    t.compact(min_files=1)
    assert t.count() == 21
    assert [f.name for f in t.table_schema().fields] == [
        "k", "label", "score",
    ]


def test_dv_backlog_respects_bytes_admission(spark, tmp_path):
    """A dv-only commit stages zero files; bytes-based admission must
    bill its encoded-vector size instead of admitting the whole
    backlog as one giant batch (add-bytes are zero for dv commits)."""
    t = _mk(spark, tmp_path, n_buckets=2)
    t.append(_df(spark, [(i, f"v{i}") for i in range(30)]))
    for k in range(6):  # 6 dv-only commits
        t.delete_where(("k", "=", k), mode="dv")
    from tests.test_txtable import _paced_drain

    feed = t.stream_changes(
        starting_version=1, max_bytes_per_trigger=1
    )
    drained = _paced_drain(feed, str(tmp_path / "ck_dvb"), want_rows=6)
    assert sum(len(rows) for _b, rows in drained) == 6
    # 1-byte budget: exactly one dv commit admitted per micro-batch
    assert all(len(rows) == 1 for _b, rows in drained)


# ----------------------------------------------- dv-backed REPLACE --


def test_dv_replace_marks_straddlers_without_rewrite(spark, tmp_path):
    """replace_where(mode="dv"): straddler files' inside-region rows
    go dead in the vector (no outside-row rewrite), the replacement
    rows append — full-inside files would still drop as metadata."""
    t = _mk(spark, tmp_path)
    t.append(_df(spark, [(i, f"v{i}") for i in range(40)]))
    _v, live_before = t._replay()
    repl = _df(spark, [(36, "R36"), (37, "R37")])
    v = t.replace_where(repl, ("k", ">=", 36), mode="dv")
    adds, removes, dvs, info = t._commit_actions(v)
    assert info["op"] == "replace"
    assert dvs and adds and not removes  # straddlers untouched
    assert sum(d["card"] for d in dvs) == 4  # k 36..39 dead
    _v, live_after = t._replay()
    assert set(live_before) <= set(live_after)
    rows = {r["k"]: r["val"] for r in t.snapshot().collect()}
    assert rows[36] == "R36" and rows[37] == "R37"
    assert 38 not in rows and 39 not in rows  # replaced away
    assert rows[5] == "v5" and len(rows) == 38
    feed = _feed_counts(t.table_changes(v - 1, v))
    assert feed == {
        "delete": 2,  # 38, 39: in the region, not re-supplied
        "update_preimage": 2, "update_postimage": 2,  # 36, 37
    }


def test_dv_replace_matches_rewrite_semantics(spark, tmp_path):
    rows = [(i, f"v{i}") for i in range(50)]
    ta = _mk(spark, tmp_path / "a")
    tb = _mk(spark, tmp_path / "b")
    for t in (ta, tb):
        t.append(_df(spark, rows))
    repl = _df(spark, [(45, "R"), (48, "R"), (60, "R")])
    va = ta.replace_where(repl, ("k", ">=", 45), mode="dv")
    vb = tb.replace_where(repl, ("k", ">=", 45), mode="rewrite")
    snap_a = sorted(tuple(r) for r in ta.snapshot().collect())
    snap_b = sorted(tuple(r) for r in tb.snapshot().collect())
    assert snap_a == snap_b
    feed_a = sorted(
        (r["_change_type"], r["k"], r["val"])
        for r in ta.table_changes(va - 1, va).collect()
    )
    feed_b = sorted(
        (r["_change_type"], r["k"], r["val"])
        for r in tb.table_changes(vb - 1, vb).collect()
    )
    assert feed_a == feed_b
    assert ("insert", 60, "R") in feed_a  # new key inside the region


def test_dv_foreach_batch_merge_sink(spark, tmp_path):
    """The streaming merge sink in dv mode: exactly-once via the
    (app, batch_id) txn marker, batches applied merge-on-read."""
    t = _mk(spark, tmp_path)
    t.append(_df(spark, [(i, f"v{i}") for i in range(40)]))
    sink = t.foreach_batch_merge("q1", mode="dv")
    sink(_df(spark, [(3, "B0"), (50, "I0")]), 0)
    v = t.version()
    adds, removes, dvs, info = t._commit_actions(v)
    assert info["op"] == "merge" and dvs and not removes
    sink(_df(spark, [(3, "REPLAY")]), 0)  # re-delivery: no-op
    assert t.version() == v
    rows = {r["k"]: r["val"] for r in t.snapshot().collect()}
    assert rows[3] == "B0" and rows[50] == "I0" and len(rows) == 41


# ------------------------------------------- one row-level DML step --


@pytest.mark.parametrize("verb", ["delete_where", "delete_keys", "merge"])
def test_dv_matches_rewrite_when_one_file_vectors_one_escalates(
    spark, tmp_path, verb
):
    """Copy-on-write is the dv step with every file escalated: one dv
    commit that vectors one file (1 of ~20 rows dead) and escalates
    the other (3/4 dead, past _DV_MAX_FRAC) leaves the same table and
    the same change feed as the rewrite."""
    rows = [(i, f"v{i}") for i in range(40)]
    ta = _mk(spark, tmp_path / "dv", n_buckets=2)
    tb = _mk(spark, tmp_path / "rw", n_buckets=2)
    for t in (ta, tb):
        t.append(_df(spark, rows))
    by: dict = {}
    for r in _df(spark, rows).select(
        "k", ta._bucket_col().alias("b")
    ).collect():
        by.setdefault(r["b"], []).append(r["k"])
    few, most = by.values()
    most = most[: len(most) * 3 // 4]
    doomed = [few[0]] + most

    def run(t, mode):
        if verb == "delete_where":
            return t.delete_where(("k", "in", tuple(doomed)), mode=mode)
        if verb == "delete_keys":
            return t.delete_keys(spark.createDataFrame(
                [(k,) for k in doomed], "k long"
            ), mode=mode)
        src = spark.createDataFrame(
            [(few[0], -1), (few[1], 5), (100, 3)]
            + [(k, 20) for k in most],
            "k long, delta long",
        )
        return t.merge(
            src,
            when_matched_update={"val": "concat(t.val, '+', s.delta)"},
            when_matched_delete="s.delta < 0",
            when_not_matched_insert={"val": "concat('ins', s.delta)"},
            when_matched_condition="s.delta >= 10",
            mode=mode,
        )

    va, vb = run(ta, "dv"), run(tb, "rewrite")
    _adds, removes, dvs, _info = ta._commit_actions(va)
    assert len(dvs) == 1 and len(removes) == 1  # vectored + escalated
    assert sorted(tuple(r) for r in ta.snapshot().collect()) == sorted(
        tuple(r) for r in tb.snapshot().collect()
    )

    def feed(t, v):
        return sorted(
            (r["_change_type"], r["k"], r["val"])
            for r in t.table_changes(v - 1, v).collect()
        )

    assert feed(ta, va) == feed(tb, vb)


def test_rewrite_mode_reads_no_row_positions(spark, tmp_path):
    """Rewrite mode builds no vector, so no frame the five row-level
    verbs stage may read a row position (``_metadata``)."""
    t = _mk(spark, tmp_path, n_buckets=2)
    t.append(_df(spark, [(i, f"v{i}") for i in range(20)]))
    plans = []
    real_stage = t._stage

    def hooked_stage(df, **kw):
        plans.append(df._jdf.queryExecution().analyzed().toString())
        return real_stage(df, **kw)

    t._stage = hooked_stage
    t.delete_keys(spark.createDataFrame([(1,)], "k long"))
    t.delete_where(("k", "=", 2))
    t.update_where({"val": "upper(val)"}, ("k", "<", 5))
    t.replace_where(_df(spark, [(7, "r7")]), ("k", "between", (6, 8)))
    t.merge(
        spark.createDataFrame([(3, 1), (50, 2)], "k long, delta long"),
        when_matched_update={"val": "concat(t.val, s.delta)"},
        when_not_matched_insert={"val": "'ins'"},
    )
    # replace_where stages its rows, then the straddlers' outside rows
    assert len(plans) == 6
    for p in plans:
        assert not any(
            m in p for m in ("_metadata", "row_index", "__txdv_fp")
        ), p
    assert t.stats().get("dv_files", 0) == 0
    assert {r["k"]: r["val"] for r in t.snapshot().collect()}[3] == "V31"



def test_dv_merge_with_nothing_to_write_commits_no_version(spark, tmp_path):
    """A merge whose plan holds no action returns the current version
    and commits nothing: here one unmatched key with inserts off."""
    t = _mk(spark, tmp_path, n_buckets=2)
    t.append(_df(spark, [(i, f"v{i}") for i in range(40)]))
    v_before, n_before = t.version(), len(t.history())
    got = t.merge(
        spark.createDataFrame([(100, 1)], "k long, delta long"),
        when_matched_update={"val": "concat(t.val, s.delta)"},
        when_not_matched_insert=False,
        mode="dv",
    )
    assert got == v_before
    assert len(t.history()) == n_before
    assert t.snapshot().count() == 40
