"""Message store, retry store, and kv persistence tests, mirroring
`pypeman/tests/test_msgstore.py` and `test_retrystore.py` (SURVEY §5)."""

import json
import time

import pytest
from pyspark.sql import functions as F

from pypeman_spark import Pipeline, messages_from_payloads
from pypeman_spark.operators import FuncNode, Reject
from pypeman_spark.store import (
    KVStore, MemoryMessageStore, NullMessageStore, RetryStore,
)
from pypeman_spark.streaming.channel import StreamingChannel


@pytest.fixture()
def store(spark):
    s = MemoryMessageStore(spark, channel="t")
    yield s
    s.close()


def _store_n(spark, store, n=10):
    msgs = messages_from_payloads(
        spark, [{"i": i, "tag": "even" if i % 2 == 0 else "odd"} for i in range(n)]
    )
    store.store(msgs)
    return msgs


def test_store_and_total(spark, store):
    _store_n(spark, store, 10)
    assert store.total() == 10


def test_search_text_and_regex(spark, store):
    # test_msgstore.py search semantics: text=contains, rtext=anchored match
    _store_n(spark, store, 10)
    assert store.search(text='"tag": "even"').count() == 5
    # anchored: payloads start with '{"i":' so 'i' alone must not match
    assert store.search(rtext='i').count() == 0
    assert store.search(rtext='\\{"i": [0-9], "tag": "odd"').count() == 5


def test_search_meta_filters(spark, store):
    # meta filter grammar (msgstore.py:214-290): exact / text_ / rtext_ /
    # start_ / end_ + order_by, ANY-match over store-meta lists
    _store_n(spark, store, 4)
    ids = [r["id"] for r in store.current().select("id").collect()]
    for i, mid in enumerate(sorted(ids)):
        store.add_message_meta_infos(mid, "score", str(i * 10))
        store.add_message_meta_infos(mid, "label", f"item_{i}")
    assert store.search(meta={"label": "item_2"}).count() == 1
    assert store.search(meta={"text_label": "item"}).count() == 4
    assert store.search(meta={"rtext_label": "m_[23]"}).count() == 2
    assert store.search(meta={"start_score": "15"}).count() == 2
    assert store.search(meta={"end_score": "15"}).count() == 2
    got = [
        r["store_meta"]["label"][0]
        for r in store.search(meta={"order_by": "-label"}).collect()
    ]
    assert got == ["item_3", "item_2", "item_1", "item_0"]


def test_state_lifecycle_and_replay(spark, store):
    _store_n(spark, store, 3)
    mid = sorted(r["id"] for r in store.current().select("id").collect())[0]
    store.change_message_state(mid, "processed")
    assert store.get(mid)["state"] == "processed"
    # replay renews uuid/timestamp (message.py:80-90)
    replayed = store.get_for_replay(mid)
    row = replayed.collect()[0]
    assert row["state"] == "pending"
    assert row["uuid"] != store.get(mid)["uuid"]
    assert json.loads(row["payload"])["i"] == json.loads(store.get(mid)["payload"])["i"]


def test_delete_tombstone(spark, store):
    _store_n(spark, store, 3)
    mid = store.current().select("id").collect()[0]["id"]
    store.delete(mid)
    assert store.get(mid) is None
    assert store.total() == 2


def test_delete_many_single_append(spark, store):
    # bulk tombstone: one event-log append for N ids (scale path)
    _store_n(spark, store, 5)
    ids = sorted(r["id"] for r in store.current().select("id").collect())
    store.delete_many(ids[:3])
    store.delete_many([])  # no-op
    assert store.total() == 2
    left = sorted(r["id"] for r in store.current().select("id").collect())
    assert left == ids[3:]


def test_null_message_store_is_a_noop(spark, tmp_path):
    """pypeman's default store keeps nothing: a channel batch runs
    through it, every write is dropped, and every read sees an empty
    store."""
    store = NullMessageStore(spark, channel="null")
    pipe = Pipeline("null").add(FuncNode(lambda d: {**d, "x": 1}))
    chan = StreamingChannel(None, pipe, store,
                            checkpoint_dir=str(tmp_path / "ckpt"))
    chan.process_batch(messages_from_payloads(spark, [{"n": 1}, {"n": 2}]), 0)
    assert chan.batches_processed == 1
    store.change_message_state("m1", "processed")
    store.add_message_meta_infos("m1", "k", "v")
    store.delete_many(["m1"])
    store.compact()
    assert store.apply_retention(keep_days=1) == []
    assert store.total() == 0
    assert store.search(text="n").count() == 0
    assert store.get("m1") is None
    assert store.get_preview_str("m1") is None


def test_retry_store_cycle(spark, tmp_path):
    # test_retrystore.py:181 test_complete_retry — park, retry, drain
    flaky_state = {"fail": True}

    p = Pipeline("t").add(
        FuncNode(lambda d: {"n": d["n"] + 1}, name="incr"),
        FuncNode(lambda d: d, name="flaky"),
    )
    rs = RetryStore(spark, str(tmp_path), channel="t", retry_delay=0.0)
    msgs = messages_from_payloads(spark, [{"n": 1}, {"n": 2}])

    # simulate a node failure routing to the retry store at stage 'flaky'
    res = p.run(msgs, to_stage="incr")
    rs.store_until_retry(res.df, "flaky")
    assert not rs.is_empty()
    assert rs.pending().count() == 2

    # sweep: re-enter at 'flaky', both succeed, store drains
    counts = rs.retry_once(p, now=time.time() + 1)
    assert counts == {"retried": 2, "succeeded": 2, "rejected": 0, "reparked": 0}
    assert rs.is_empty()


def test_retry_due_respects_backoff(spark, tmp_path):
    rs = RetryStore(spark, str(tmp_path), channel="t", retry_delay=3600.0)
    msgs = messages_from_payloads(spark, [{"n": 1}])
    rs.store_until_retry(msgs, None)
    assert rs.retry_due(now=time.time()).count() == 0
    assert rs.retry_due(now=time.time() + 7200).count() == 1


def test_kv_store_latest_wins(spark, tmp_path):
    kv = KVStore(spark, str(tmp_path / "kv"))
    assert kv.restore_data("ns", "k", default="none") == "none"
    kv.save_data("ns", "k", {"v": 1})
    kv.save_data("ns", "k", {"v": 2})
    assert kv.restore_data("ns", "k") == {"v": 2}
    kv.save_data("other", "k", "x")
    assert kv.restore_data("other", "k") == "x"
    assert kv.restore_data("ns", "k") == {"v": 2}


def test_kv_store_keeps_one_row_per_key(spark, tmp_path):
    # a save merges over the key's row instead of appending another
    kv = KVStore(spark, str(tmp_path / "kv"))
    for i in range(5):
        kv.save_data("ns", "k", i)
    assert kv.table.count() == 1
    assert kv.restore_data("ns", "k") == 4


def test_auto_retry_node_parks_at_stage(spark, tmp_path):
    # nodes.py:132,194-204 auto_retry_exceptions: a failing node's rows
    # become wait_retry tagged with the node name, not error
    def flaky(d):
        if d["n"] == 1:
            raise RuntimeError("boom")
        return d

    p = Pipeline("t").add(
        FuncNode(lambda d: {"n": d["n"]}, name="head"),
        FuncNode(flaky, name="flaky", auto_retry=True),
    )
    msgs = messages_from_payloads(spark, [{"n": 1}, {"n": 2}])
    res = p.run(msgs)
    assert res.df.count() == 1          # n=2 sailed through
    assert res.errors.count() == 0      # failure did NOT terminate in error
    waiting = res.all.filter(F.col("state") == "wait_retry")
    assert [r["retry_stage"] for r in waiting.collect()] == ["flaky"]

    # park via the per-row retry_stage column, then heal the node and sweep
    rs = RetryStore(spark, str(tmp_path), channel="t", retry_delay=0.0)
    rs.store_until_retry(waiting)
    assert [r["stage"] for r in rs.pending().collect()] == ["flaky"]
    healed = Pipeline("t").add(
        FuncNode(lambda d: {"n": d["n"]}, name="head"),
        FuncNode(lambda d: d, name="flaky"),
    )
    counts = rs.retry_once(healed, now=time.time() + 1)
    assert counts == {"retried": 1, "succeeded": 1, "rejected": 0, "reparked": 0}
    assert rs.is_empty()


def test_retry_repark_doubles_backoff(spark, tmp_path):
    # retry.py:103 sweep semantics: a still-failing row is re-parked as
    # generation attempts+1 with retry_at = now + delay * 2**attempts;
    # a rejected row is terminal and acked (never re-runs)
    p = Pipeline("t").add(
        FuncNode(lambda d: (_ for _ in ()).throw(RuntimeError("still down"))
                 if d["n"] == 1 else d, name="flaky"),
        Reject(condition=F.col("payload").contains('"n": 2'), name="rej"),
    )
    rs = RetryStore(spark, str(tmp_path), channel="t", retry_delay=10.0)
    msgs = messages_from_payloads(spark, [{"n": 1}, {"n": 2}])
    rs.store_until_retry(msgs, "flaky")

    t0 = time.time() + 60
    counts = rs.retry_once(p, now=t0)
    assert counts == {"retried": 2, "succeeded": 0, "rejected": 1, "reparked": 1}

    parked = rs.pending().collect()
    assert len(parked) == 1                      # rejected row stayed acked
    assert parked[0]["attempts"] == 2
    assert parked[0]["retry_at"] == pytest.approx(t0 + 10.0 * 2, abs=0.1)
    assert rs.retry_due(now=t0 + 1).count() == 0   # backoff respected
    assert rs.retry_due(now=t0 + 30).count() == 1

    # heal: the re-parked generation drains on the next sweep
    healed = Pipeline("t").add(
        FuncNode(lambda d: d, name="flaky"),
        Reject(condition=F.lit(False), name="rej"),
    )
    counts = rs.retry_once(healed, now=t0 + 30)
    assert counts == {"retried": 1, "succeeded": 1, "rejected": 0, "reparked": 0}
    assert rs.is_empty()


def test_retry_ack_without_attempts(spark, tmp_path):
    # a frame without `attempts` acks every live generation of its ids;
    # on a store with nothing parked that is a no-op, not a missing path
    rs = RetryStore(spark, str(tmp_path), channel="t", retry_delay=0.0)
    msgs = messages_from_payloads(spark, [{"n": 1}, {"n": 2}])
    rs.ack(msgs.select("id"))
    assert rs.is_empty()

    rs.store_until_retry(msgs, "flaky")
    rs.ack(msgs.filter(F.col("payload").contains('"n": 1')).select("id"))
    assert [r["payload"] for r in rs.pending().collect()] == ['{"n": 2}']


def _failing_half_parked(spark, path):
    """A retry store after two sweeps of a pipeline that fails the odd
    rows: 2 of 4 messages acked, 2 re-parked twice."""
    p = Pipeline("t").add(
        FuncNode(lambda d: (_ for _ in ()).throw(RuntimeError("still down"))
                 if d["n"] % 2 else d, name="flaky"),
    )
    rs = RetryStore(spark, path, channel="t", retry_delay=0.0)
    rs.store_until_retry(
        messages_from_payloads(spark, [{"n": i} for i in range(4)]), "flaky"
    )
    for step in (1, 2):
        rs.retry_once(p, now=time.time() + step)
    return rs


def _parked(rs):
    return sorted(
        (r["id"], r["attempts"], r["retry_at"], r["payload"])
        for r in rs.pending().collect()
    )


def test_retry_compact_keeps_pending_and_drops_settled_rows(spark, tmp_path):
    rs = _failing_half_parked(spark, str(tmp_path))
    before = _parked(rs)
    assert len(before) == 2 and {a for _i, a, _t, _p in before} == {3}
    assert rs.log.count() > 2  # parks, re-parks and their tombstones
    rs.compact()
    assert _parked(rs) == before
    log = rs.log.snapshot()
    assert log.count() == 2 and log.filter("acked").count() == 0
    assert len(rs.log._replay()[1]) == 1  # one file after the compaction
    assert _parked(RetryStore(spark, str(tmp_path), channel="t")) == before


def test_retry_compact_keeps_park_landing_mid_swap(spark, tmp_path):
    # a park that commits between compact()'s read of the log and its
    # commit survives the swap
    rs = _failing_half_parked(spark, str(tmp_path))
    other = RetryStore(spark, str(tmp_path), channel="t", retry_delay=0.0)
    late = messages_from_payloads(spark, [{"n": 99}])
    fold = rs._fold
    calls = []

    def fold_racing_a_park(log):
        if not calls:
            other.store_until_retry(late, "flaky")
        calls.append(1)
        return fold(log)

    rs._fold = fold_racing_a_park
    rs.compact()
    assert len(calls) == 2  # the swap lost its claim and folded again
    parked = rs.pending().collect()
    assert len(parked) == 3
    assert late.first()["id"] in {r["id"] for r in parked}
    assert rs.log.snapshot().filter("acked").count() == 0


def test_retry_sweep_settle_is_all_or_nothing(spark, tmp_path, monkeypatch):
    # the acks and the re-parks of a sweep land in one write: if that
    # write fails, every consumed generation is still parked
    from pyspark.sql import DataFrameWriter

    p = Pipeline("t").add(FuncNode(
        lambda d: (_ for _ in ()).throw(RuntimeError("still down")), name="flaky"
    ))
    rs = RetryStore(spark, str(tmp_path), channel="t", retry_delay=0.0)
    rs.store_until_retry(
        messages_from_payloads(spark, [{"n": i} for i in range(4)]), "flaky"
    )

    real_parquet = DataFrameWriter.parquet

    def failing_parquet(self, path, *args, **kwargs):
        if "payload" in self._df.columns:
            raise OSError("settle write failed")
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing_parquet)
    with pytest.raises(OSError, match="settle write failed"):
        rs.retry_once(p, now=time.time() + 1)
    monkeypatch.undo()

    parked = rs.pending().collect()
    assert len(parked) == 4
    assert {r["attempts"] for r in parked} == {1}


def test_retry_sweep_job_count(spark, tmp_path):
    # one single-stage sweep: the due rows are read and checkpointed once,
    # the pipeline runs once, and the settle is one append
    p = Pipeline("t").add(
        FuncNode(lambda d: (_ for _ in ()).throw(RuntimeError("still down"))
                 if d["n"] % 2 else d, name="flaky"),
    )
    rs = RetryStore(spark, str(tmp_path), channel="t", retry_delay=0.0)
    rs.store_until_retry(
        messages_from_payloads(spark, [{"n": i} for i in range(4)]), "flaky"
    )
    sc = spark.sparkContext
    group = f"retry_sweep_jobs_{tmp_path.name}"
    sc.setJobGroup(group, "one retry sweep")
    try:
        counts = rs.retry_once(p, now=time.time() + 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert counts == {"retried": 4, "succeeded": 2, "rejected": 0, "reparked": 2}
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 10


def test_store_meta_node_param(spark, store):
    # nodes.py:119-121,216-222 store_meta: after the node, meta[k] is
    # appended to the audit store's meta list, queryable via search
    msgs = messages_from_payloads(
        spark,
        [{"i": 0}, {"i": 1}],
        meta=[{"kind": "a"}, {"kind": "b"}],
    )
    store.store(msgs)
    p = Pipeline("t").add(
        FuncNode(lambda d: d, name="noop", store_meta=["kind", "absent"]),
    )
    res = p.run(msgs)
    store.change_message_states(res.all)
    store.add_meta_from_messages(res.all)
    assert store.search(meta={"kind": "a"}).count() == 1
    got = store.search(meta={"text_kind": ""})
    assert got.count() == 2
    # absent keys are skipped, not stored as nulls
    assert store.search(meta={"text_absent": ""}).count() == 0


def _settle_batch(spark, tmp_path, store, name):
    """One channel batch through a ``store_meta`` node and an
    ``auto_retry`` node: ``n=1`` parks, the rest settle. Returns the
    batch's Spark job count and the message ids by ``n``."""
    def flaky(d):
        if d["n"] == 1:
            raise RuntimeError("boom")
        return d

    pipe = Pipeline("t").add(
        FuncNode(lambda d: d, name="tag", store_meta=["kind"]),
        FuncNode(flaky, name="flaky", auto_retry=True),
    )
    rs = RetryStore(spark, str(tmp_path / f"retry_{name}"), channel="t",
                    retry_delay=0.0)
    chan = StreamingChannel(None, pipe, store, rs,
                            checkpoint_dir=str(tmp_path / f"ckpt_{name}"))
    msgs = messages_from_payloads(
        spark, [{"n": i} for i in range(4)],
        meta=[{"kind": "a"}, {"kind": "b"}, {"kind": "c"}, {}],
    ).localCheckpoint(eager=True)
    ids = {json.loads(r["payload"])["n"]: r["id"] for r in msgs.collect()}
    sc = spark.sparkContext
    group = f"settle_{name}_{tmp_path.name}"
    sc.setJobGroup(group, "one channel batch")
    try:
        chan.process_batch(msgs, 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [r["stage"] for r in rs.pending().collect()] == ["flaky"]
    return len(sc.statusTracker().getJobIdsForGroup(group)), ids


def test_channel_batch_settles_in_one_event_append(spark, tmp_path):
    """A batch's states and store-meta land in ONE events/ append, one
    Spark job fewer than a state append plus a meta append."""
    from pypeman_spark.store import FileMessageStore

    one = FileMessageStore(spark, str(tmp_path / "one"), channel="t")
    events_before = one.events.version()
    jobs_one, _ = _settle_batch(spark, tmp_path, one, "one")
    assert one.events.version() - events_before == 1

    two = FileMessageStore(spark, str(tmp_path / "two"), channel="t")
    two.settle = lambda out, txn=None: (two.change_message_states(out),
                                        two.add_meta_from_messages(out))
    jobs_two, _ = _settle_batch(spark, tmp_path, two, "two")
    assert jobs_one == jobs_two - 1


def test_channel_batch_job_count(spark, tmp_path):
    """Guard: one channel batch with a park and a settle runs at most 4
    Spark jobs (store, park check, park, settle)."""
    from pypeman_spark.store import FileMessageStore

    store = FileMessageStore(spark, str(tmp_path / "audit"), channel="t")
    jobs, _ = _settle_batch(spark, tmp_path, store, "jobs")
    assert jobs <= 4


def test_channel_batch_settle_current_view(spark, tmp_path):
    """After one settled batch, ``current()`` holds each settled row's
    state and store-meta; the parked row keeps ``pending`` and no meta."""
    from pypeman_spark.store import FileMessageStore

    store = FileMessageStore(spark, str(tmp_path / "audit"), channel="t")
    _, ids = _settle_batch(spark, tmp_path, store, "view")
    got = {r["id"]: (r["state"], r["store_meta"])
           for r in store.current().collect()}
    assert got == {
        ids[0]: ("processed", {"kind": ["a"]}),
        ids[1]: ("pending", None),
        ids[2]: ("processed", {"kind": ["c"]}),
        ids[3]: ("processed", None),
    }


def test_compact_folds_events(spark, tmp_path):
    # compaction = plain-parquet OPTIMIZE: same query surface before/after
    from pypeman_spark.store import FileMessageStore

    store = FileMessageStore(spark, str(tmp_path / "audit"), channel="t")
    msgs = messages_from_payloads(spark, [{"i": i} for i in range(6)])
    store.store(msgs)
    ids = sorted(r["id"] for r in store.current().select("id").collect())
    store.change_message_state(ids[0], "processed")
    store.change_message_state(ids[0], "error")     # later event wins
    store.add_message_meta_infos(ids[1], "k", "v1")
    store.add_message_meta_infos(ids[1], "k", "v2")  # list order preserved
    store.add_sub_message_state(ids[2], "sub1", "rejected")
    store.delete(ids[3])

    before = {r["id"]: r for r in store.current().collect()}
    store.compact()
    after = {r["id"]: r for r in store.current().collect()}

    assert sorted(after) == sorted(before) and len(after) == 5
    assert after[ids[0]]["state"] == "error"
    assert list(after[ids[1]]["store_meta"]["k"]) == ["v1", "v2"]
    assert [s["state"] for s in after[ids[2]]["submessage_states"]] == ["rejected"]
    assert ids[3] not in after
    # post-compact mutations still work (fresh event log)
    store.change_message_state(ids[4], "rejected")
    assert store.get(ids[4])["state"] == "rejected"
    assert store.search(meta={"k": "v2"}).count() == 1


def _resolved(store):
    # current() minus event timestamps, which differ between two stores
    # fed the same calls
    return {
        r["id"]: (
            r["state"],
            [(s["sub_id"], s["state"]) for s in r["submessage_states"] or []],
            {k: list(v) for k, v in (r["store_meta"] or {}).items()},
        )
        for r in store.current().collect()
    }


def test_compact_never_changes_current(spark):
    # the compaction contract: one store compacted mid-sequence and one
    # never compacted resolve every later event to the same view
    msgs = messages_from_payloads(
        spark, [{"i": i} for i in range(5)]
    ).localCheckpoint(eager=True)  # same ids in both stores
    stores = [MemoryMessageStore(spark, channel=f"inv{n}") for n in range(2)]
    try:
        for s in stores:
            s.store(msgs)
        ids = sorted(r["id"] for r in stores[0].current().select("id").collect())
        for s in stores:
            s.change_message_state(ids[0], "processed")
            s.add_sub_message_state(ids[1], "s1", "processed")
            s.add_sub_message_state(ids[1], "s2", "error")
            for v in range(5):
                s.add_message_meta_infos(ids[2], "k", f"v{v}")
            s.delete(ids[3])
        stores[0].compact()
        for s in stores:
            s.add_message_meta_infos(ids[2], "k", "v5")
            s.add_sub_message_state(ids[1], "s3", "rejected")
            s.set_state_to_worst_sub_state(ids[1])
            s.change_message_state(ids[3], "processed")  # stays deleted
            s.change_message_state(ids[2], "rejected")
            s.delete(ids[4])
        compacted, plain = (_resolved(s) for s in stores)
        assert compacted == plain
        assert plain == {
            ids[0]: ("processed", [], {}),
            ids[1]: (
                "error",
                [("s1", "processed"), ("s2", "error"), ("s3", "rejected")],
                {},
            ),
            ids[2]: ("rejected", [], {"k": [f"v{v}" for v in range(6)]}),
        }
    finally:
        for s in stores:
            s.close()


def test_worst_sub_state_after_compact(spark, store):
    _store_n(spark, store, 2)
    mid = sorted(r["id"] for r in store.current().select("id").collect())[0]
    for sub, state in (("a", "processed"), ("b", "error"), ("c", "rejected")):
        store.add_sub_message_state(mid, sub, state)
    store.compact()
    store.set_state_to_worst_sub_state(mid)
    assert store.get(mid)["state"] == "error"


def test_current_folds_events_in_one_scan_and_one_join(spark, store):
    _store_n(spark, store, 3)
    mid = store.current().select("id").collect()[0]["id"]
    store.change_message_state(mid, "processed")
    store.add_sub_message_state(mid, "s", "error")
    store.add_message_meta_infos(mid, "k", "v")
    store.delete(mid)
    plan = store.current()._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert sum(store.event_path in ln for ln in scans) == 1
    assert sum(store.msg_path in ln for ln in scans) == 1
    joins = [ln for ln in plan.splitlines() if "Join " in ln]
    assert len(joins) == 1, joins
    assert "Window" not in plan


def test_apply_retention_drops_old_partitions(spark, tmp_path):
    import datetime as dt

    from pyspark.sql import functions as F

    from pypeman_spark.store import MessageStore

    store = MessageStore(spark, str(tmp_path / "store"), channel="ret")
    today = dt.datetime.now()
    old = today - dt.timedelta(days=40)
    df = spark.createDataFrame(
        [("old-1", old), ("old-2", old - dt.timedelta(days=5)),
         ("new-1", today), ("new-2", today - dt.timedelta(days=2))],
        "payload string, timestamp timestamp",
    )
    store.store(df)
    assert store.total() == 4

    dropped = store.apply_retention(keep_days=30)
    assert len(dropped) == 2 and all(d.startswith("date=") for d in dropped)
    assert store.total() == 2
    payloads = {r["payload"] for r in store.current().collect()}
    assert payloads == {"new-1", "new-2"}
    # idempotent; events for expired ids are orphaned, compact survives
    assert store.apply_retention(keep_days=30) == []
    store.compact()
    assert store.total() == 2

    # explicit cutoff form + arg validation
    dropped2 = store.apply_retention(
        before=(today + dt.timedelta(days=1)).date().isoformat()
    )
    assert store.total() == 0 and len(dropped2) == 2
    import pytest as _pytest
    with _pytest.raises(ValueError):
        store.apply_retention()
    with _pytest.raises(ValueError):
        store.apply_retention(keep_days=5, before="2024-01-01")


def _parking_channel(spark, tmp_path, store, rs, name):
    """A channel whose ``flaky`` node parks the messages with ``n < 4``."""
    def flaky(d):
        if d["n"] < 4:
            raise RuntimeError("boom")
        return d

    pipe = Pipeline("t").add(FuncNode(flaky, name="flaky", auto_retry=True))
    return StreamingChannel(None, pipe, store, rs,
                            checkpoint_dir=str(tmp_path / f"ckpt_{name}"))


def _batch(spark, first, n=10):
    return messages_from_payloads(
        spark, [{"n": i} for i in range(first, first + n)]
    ).localCheckpoint(eager=True)  # one set of ids for every delivery


def test_channel_redelivered_epoch_lands_once(spark, tmp_path):
    """Spark re-delivers an epoch whose offsets it had not committed:
    the second delivery stores, parks and settles nothing again."""
    from pypeman_spark.store import FileMessageStore

    store = FileMessageStore(spark, str(tmp_path / "audit"), channel="t")
    rs = RetryStore(spark, str(tmp_path / "retry"), channel="t")
    chan = _parking_channel(spark, tmp_path, store, rs, "a")
    msgs = _batch(spark, 0)

    def seen():
        parked = sorted((r["id"], r["attempts"]) for r in rs.pending().collect())
        return store.total(), _resolved(store), parked

    chan.process_batch(msgs, 0)
    first = seen()
    assert first[0] == 10 and len(first[2]) == 4
    chan.process_batch(msgs, 0)
    assert seen() == first


def test_fresh_channel_lands_its_epoch_zero(spark, tmp_path):
    """A second channel over the same stores, on a fresh checkpoint dir,
    is a new query: its epoch 0 is not the first channel's epoch 0."""
    from pypeman_spark.store import FileMessageStore

    store = FileMessageStore(spark, str(tmp_path / "audit"), channel="t")
    rs = RetryStore(spark, str(tmp_path / "retry"), channel="t")
    _parking_channel(spark, tmp_path, store, rs, "a").process_batch(
        _batch(spark, 0), 0)
    _parking_channel(spark, tmp_path, store, rs, "b").process_batch(
        _batch(spark, 10), 0)
    assert store.total() == 20
    assert rs.pending().count() == 4


def _compactable(spark, path):
    from pypeman_spark.store import FileMessageStore

    store = FileMessageStore(spark, path, channel="t")
    store.store(messages_from_payloads(spark, [{"i": i} for i in range(4)]))
    ids = sorted(r["id"] for r in store.current().select("id").collect())
    store.change_message_state(ids[0], "processed")
    store.change_message_state(ids[0], "error")
    store.add_sub_message_state(ids[1], "s1", "rejected")
    store.add_message_meta_infos(ids[2], "k", "v")
    store.delete(ids[3])
    return store, ids


def test_compact_keeps_events_appended_mid_swap(spark, tmp_path):
    """An events append that lands between compact()'s snapshot of the
    log and its commit survives the swap."""
    from pypeman_spark.store import FileMessageStore

    path = str(tmp_path / "audit")
    store, ids = _compactable(spark, path)
    other = FileMessageStore(spark, path, channel="t")
    fold = store._minimal_events
    calls = []

    def fold_racing_an_append(events):
        if not calls:
            other.change_message_state(ids[1], "processed")
        calls.append(1)
        return fold(events)

    store._minimal_events = fold_racing_an_append
    store.compact()
    assert len(calls) == 2  # the swap lost its claim and folded again
    reopened = FileMessageStore(spark, path, channel="t")
    assert reopened.get(ids[1])["state"] == "processed"
    assert _resolved(reopened) == _resolved(other)


def test_compact_crash_between_commits_keeps_current(spark, tmp_path):
    """compact() dying after its messages commit and before its events
    commit leaves current() as it was, read from a reopened store."""
    from pypeman_spark.store import FileMessageStore

    path = str(tmp_path / "audit")
    store, ids = _compactable(spark, path)
    before = _resolved(store)

    def crash(fn):
        raise RuntimeError("simulated crash before the events commit")

    store.events.swap = crash
    with pytest.raises(RuntimeError, match="simulated crash"):
        store.compact()
    reopened = FileMessageStore(spark, path, channel="t")
    assert reopened.messages.snapshot().count() == 3  # step 1 landed
    assert _resolved(reopened) == before


def test_compact_leaves_one_state_event_per_id(spark, tmp_path):
    store, ids = _compactable(spark, str(tmp_path / "audit"))
    before = _resolved(store)
    store.compact()
    per_id = store.events.snapshot().groupBy("id", "kind").count()
    assert per_id.filter("kind = 'state' AND count > 1").count() == 0
    assert per_id.filter(F.col("id") == ids[3]).count() == 0  # deleted id
    assert _resolved(store) == before
