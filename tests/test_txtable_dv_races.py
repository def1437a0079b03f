"""Deletion-vector concurrency (store/txtable.py): the dv writer
publishes each file's CUMULATIVE vector (replay is last-writer-wins
per file), so two interleaved dv writes touching the same file MUST
either merge positions (retry from a fresh snapshot recomposes the
union) or serialize via OCC — a dv commit racing past an overlapping
commit unchecked would silently lose deletes. Mirrors the pdml race
matrix (tests/test_txtable_partitions.py): genuine cross-process
races through the conditional-put claim, plus full-Spark
dv-vs-dv / dv-vs-compact / dv-vs-vacuum interleavings injected at
the commit seam."""

import json
import os

import pytest

from pypeman_spark.store.txtable import TxTable, _dv_decode, _dv_encode

pytestmark = pytest.mark.usefixtures("file_log")


def _mk(spark, tmp_path, **kw):
    kw.setdefault("key_cols", ["k"])
    kw.setdefault("n_buckets", 1)
    return TxTable(spark, str(tmp_path / "tbl"), **kw)


def _df(spark, pairs):
    return spark.createDataFrame(list(pairs), "k long, val string")


# ------------------------------- cross-process protocol-level race --


def _race_dv_commits(path, writer_id, positions, barrier):
    """Child process: publish a cumulative dv for THE SAME live file
    through _occ_commit, one position per commit. Each attempt
    replays the log for the file's current vector and publishes the
    union — exactly the writer discipline delete_where(mode="dv")
    follows — so a clash-forced retry recomposes over the
    interleaved writer's positions instead of overwriting them."""
    from pypeman_spark.store.logstore import FileLogStore
    from pypeman_spark.store.txtable import (
        _dv_decode as dec,
        _dv_encode as enc,
        _replay_log,
    )

    t = TxTable.__new__(TxTable)
    t.path = path
    t.log_dir = os.path.join(path, "_txlog")
    t.data_dir = os.path.join(path, "data")
    t.checkpoint_interval = 1 << 30
    t.logstore = FileLogStore(t.log_dir)
    rel = json.load(open(os.path.join(path, "race_target")))["file"]
    barrier.wait()
    landed, retries = [], 0
    for p in positions:
        while True:
            st = _replay_log(t.logstore)
            prev = (st.live[rel].get("dv") or {}).get("pos")
            allpos = ({p} | set(dec(prev))) if prev else {p}
            pos_enc, card = enc(allpos)
            got = t._occ_commit(
                st.version,
                [{"dv": {"file": rel, "pos": pos_enc, "card": card}}],
                "delete", [0], None, {0},
            )
            if got is not None:
                landed.append(got)
                break
            retries += 1  # clash: recompose from a fresh snapshot
    with open(os.path.join(path, f"dvrace_{writer_id}"), "w") as fh:
        json.dump({"landed": landed, "retries": retries}, fh)


def test_cross_process_dv_writers_never_lose_deletes(spark, tmp_path):
    """3 processes x 6 cumulative dv commits against the SAME file:
    every commit lands exactly once, the clash path fires under real
    contention, and the final vector is the exact union of all 18
    positions — zero lost deletes under interleaving."""
    import multiprocessing as mp

    t = _mk(spark, tmp_path)
    t.append(_df(spark, [(i, f"v{i}") for i in range(60)]))
    _v, live = t._replay()
    rel = sorted(live)[0]
    with open(os.path.join(t.path, "race_target"), "w") as fh:
        json.dump({"file": rel}, fh)
    base = t.version()
    ctx = mp.get_context("spawn")
    barrier = ctx.Barrier(3)
    want: set[int] = set()
    procs = []
    for w in range(3):
        pos = list(range(w * 6, w * 6 + 6))
        want |= set(pos)
        procs.append(ctx.Process(
            target=_race_dv_commits,
            args=(str(tmp_path / "tbl"), w, pos, barrier),
        ))
    for p in procs:
        p.start()
    for p in procs:
        p.join(180)
        assert p.exitcode == 0
    res = []
    for w in range(3):
        with open(os.path.join(t.path, f"dvrace_{w}")) as fh:
            res.append(json.load(fh))
    landed = [v for r in res for v in r["landed"]]
    assert len(landed) == 18 and len(set(landed)) == 18
    assert t.version() == base + 18
    assert sum(r["retries"] for r in res) > 0  # real contention
    _v, live = t._replay()
    assert set(_dv_decode(live[rel]["dv"]["pos"])) == want
    assert live[rel]["dv"]["card"] == len(want)


# ------------------------------------- full-Spark seam injections --


def test_dv_vs_dv_same_file_retry_merges_positions(spark, tmp_path):
    """Writer B's dv delete lands between A's snapshot and A's
    commit, same file: A must retry from the fresh snapshot and
    publish the UNION — committing its stale vector would resurrect
    B's deletes (cumulative replay is last-writer-wins)."""
    t_a = _mk(spark, tmp_path)
    t_a.append(_df(spark, [(i, f"v{i}") for i in range(40)]))
    t_b = TxTable(spark, str(tmp_path / "tbl"))
    real_commit = t_a._commit
    fired = {"n": 0}

    def hooked(expected_version, actions, op, buckets, **kw):
        if op == "delete" and fired["n"] == 0:
            fired["n"] += 1
            t_b.delete_where(("k", "=", 7), mode="dv")
        return real_commit(expected_version, actions, op, buckets, **kw)

    t_a._commit = hooked
    t_a.delete_where(("k", "=", 3), mode="dv")
    keys = {r["k"] for r in t_a.snapshot().collect()}
    assert 3 not in keys and 7 not in keys  # neither delete lost
    assert len(keys) == 38
    _v, live = t_a._replay()
    cards = [i["dv"]["card"] for i in live.values() if i.get("dv")]
    assert sum(cards) == 2  # one cumulative vector carrying both


def test_dv_vs_compact_retry_replans_on_new_files(spark, tmp_path):
    """Compaction removes the very file A's dv positions reference,
    mid-flight: A must retry and re-plan positions against the
    compacted file — a dv action for a removed file is silently
    ignored by replay (lost delete)."""
    t_a = _mk(spark, tmp_path)
    for i in range(4):  # several small files in the bucket
        t_a.append(_df(spark, [(j, f"v{j}") for j in
                               range(i * 10, i * 10 + 10)]))
    t_b = TxTable(spark, str(tmp_path / "tbl"))
    real_commit = t_a._commit
    fired = {"n": 0}

    def hooked(expected_version, actions, op, buckets, **kw):
        if op == "delete" and fired["n"] == 0:
            fired["n"] += 1
            t_b.compact(min_files=2)
        return real_commit(expected_version, actions, op, buckets, **kw)

    t_a._commit = hooked
    t_a.delete_where(("k", "=", 25), mode="dv")
    keys = {r["k"] for r in t_a.snapshot().collect()}
    assert keys == set(range(40)) - {25}  # delete survived compaction
    assert t_a.count() == 39
    # the landed dv (if any) must reference a LIVE file
    _v, live = t_a._replay()
    for f, i in live.items():
        if i.get("dv"):
            assert f in live


def test_dv_vs_vacuum_retry_never_reads_reclaimed_files(
    spark, tmp_path
):
    """Compact + vacuum(grace 0) land mid-flight, physically deleting
    the files A's stale plan referenced: A's retry must re-plan from
    the fresh snapshot (new files) and succeed — never read a
    reclaimed file, never lose the delete."""
    t_a = _mk(spark, tmp_path)
    for i in range(4):
        t_a.append(_df(spark, [(j, f"v{j}") for j in
                               range(i * 10, i * 10 + 10)]))
    t_b = TxTable(spark, str(tmp_path / "tbl"))
    real_commit = t_a._commit
    fired = {"n": 0}

    def hooked(expected_version, actions, op, buckets, **kw):
        if op == "delete" and fired["n"] == 0:
            fired["n"] += 1
            t_b.compact(min_files=2)
            gone = t_b.vacuum(grace_s=0.0)
            assert gone  # the pre-compaction files are really deleted
        return real_commit(expected_version, actions, op, buckets, **kw)

    t_a._commit = hooked
    t_a.delete_where(("k", "=", 12), mode="dv")
    keys = {r["k"] for r in t_a.snapshot().collect()}
    assert keys == set(range(40)) - {12}
    assert t_a.count() == 39


def test_dv_update_vs_dv_delete_same_file(spark, tmp_path):
    """A dv UPDATE races a dv DELETE into the same file: the update's
    retry recomposes over the delete's vector — the deleted row must
    not be resurrected by the update's re-append, and the updated
    row must carry the assignment."""
    t_a = _mk(spark, tmp_path)
    t_a.append(_df(spark, [(i, f"v{i}") for i in range(40)]))
    t_b = TxTable(spark, str(tmp_path / "tbl"))
    real_commit = t_a._commit
    fired = {"n": 0}

    def hooked(expected_version, actions, op, buckets, **kw):
        if op == "update" and fired["n"] == 0:
            fired["n"] += 1
            t_b.delete_where(("k", "=", 9), mode="dv")
        return real_commit(expected_version, actions, op, buckets, **kw)

    t_a._commit = hooked
    t_a.update_where({"val": "upper(val)"}, ("k", "<", 10), mode="dv")
    rows = {r["k"]: r["val"] for r in t_a.snapshot().collect()}
    assert 9 not in rows            # B's delete survived A's update
    assert all(rows[k] == f"V{k}" for k in range(9))  # A applied
    assert rows[20] == "v20" and len(rows) == 39
