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
    locks = []
    real_lock = one._writer_lock

    def spy_lock(op, **kw):
        locks.append(op)
        return real_lock(op, **kw)

    one._writer_lock = spy_lock
    jobs_one, _ = _settle_batch(spark, tmp_path, one, "one")
    assert locks.count("events") == 1

    two = FileMessageStore(spark, str(tmp_path / "two"), channel="t")
    two.settle = lambda out: (two.change_message_states(out),
                              two.add_meta_from_messages(out))
    jobs_two, _ = _settle_batch(spark, tmp_path, two, "two")
    assert jobs_one == jobs_two - 1


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


def test_point_lookup_uses_id_index_partition_pruning(spark, tmp_path):
    import datetime as dt

    from pyspark.sql import functions as F

    from pypeman_spark.store import MessageStore

    store = MessageStore(spark, str(tmp_path / "s"), channel="idx")
    base = dt.datetime(2026, 1, 1, 12)
    df = spark.createDataFrame(
        [(f"d{i}", base + dt.timedelta(days=i)) for i in range(5)],
        "payload string, timestamp timestamp",
    )
    store.store(df)
    target = store.current().filter("payload = 'd3'").collect()[0]["id"]

    # the index knows exactly one date for the id
    dates = store._id_dates(target)
    assert dates == [dt.date(2026, 1, 4)]
    # and the pruned base scan carries a date PartitionFilter
    pruned = store.current(dates=dates).filter(F.col("id") == target)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters")[1][:160]
    assert "date" in pf and ("2026-01-04" in pf or " IN " in pf or "= 20" in pf)

    row = store.get(target)
    assert row is not None and row["payload"] == "d3"
    assert store.get_preview_str(target, 2) == "d3"[:2]
    # unknown id: index miss -> clean None (fallback full view)
    assert store.get("nope") is None
    # index survives retention semantics: expired id simply vanishes
    store.apply_retention(before="2026-01-03")
    assert store.get(target) is not None  # unexpired id still resolves
    expired = store.current().filter("payload = 'd0'").count()
    assert expired == 0


def test_compact_rewrites_id_index(spark, tmp_path):
    # ADVICE r5: every store() appends small files to the id index and
    # deletes leave stale rows — compact() must rewrite it (live ids
    # only, coalesced) so point lookups don't scan an ever-growing
    # many-small-files side table
    import datetime as dt
    import glob

    from pypeman_spark.store import MessageStore

    store = MessageStore(spark, str(tmp_path / "s"), channel="idxc")
    base = dt.datetime(2026, 2, 1, 9)
    for batch in range(3):  # 3 appends -> >= 3 index files
        df = spark.createDataFrame(
            [(f"b{batch}-{i}", base + dt.timedelta(days=batch)) for i in range(4)],
            "payload string, timestamp timestamp",
        )
        store.store(df)

    def idx_files():
        return glob.glob(str(tmp_path / "s" / "id_index" / "*.parquet"))

    def idx_ids():
        return {
            r["id"] for r in spark.read.parquet(store.index_path).collect()
        }

    assert len(idx_files()) >= 3
    victim = store.current().filter("payload = 'b1-2'").collect()[0]["id"]
    store.delete(victim)
    assert victim in idx_ids()  # tombstone alone leaves the index stale

    store.compact()
    assert len(idx_files()) == 1  # coalesced
    live = idx_ids()
    assert victim not in live and len(live) == 11
    # index still drives pruned point lookups after the rewrite
    target = store.current().filter("payload = 'b2-3'").collect()[0]["id"]
    assert store._id_dates(target) == [dt.date(2026, 2, 3)]
    assert store.get(target)["payload"] == "b2-3"
    assert store.get(victim) is None


def test_writer_lock_blocks_second_writer(spark, tmp_path):
    # VERDICT r6 #6: the store is no longer implicitly single-writer —
    # every mutating entry point takes the .store_lock lease, so a
    # concurrent compact/store cannot interleave with a swap
    from pypeman_spark.store import FileMessageStore, StoreLockTimeout

    store = FileMessageStore(spark, str(tmp_path / "audit"), channel="t")
    store.store(messages_from_payloads(spark, [{"i": 1}]))
    other = FileMessageStore(spark, str(tmp_path / "audit"), channel="t")

    store._acquire_lock("test-holder")
    try:
        with pytest.raises(StoreLockTimeout):
            other._acquire_lock("contender", timeout=0.3)
        # a held LIVE lease blocks mutations on the other handle
        t0 = time.time()
        with pytest.raises(StoreLockTimeout):
            with other._writer_lock("store", timeout=0.3):
                pass
        assert time.time() - t0 < 5
    finally:
        store._release_lock()
    # released -> the other handle proceeds
    other.store(messages_from_payloads(spark, [{"i": 2}]))
    assert store.total() == 2


def test_stale_lock_from_dead_pid_is_broken(spark, tmp_path):
    from pypeman_spark.store import FileMessageStore

    store = FileMessageStore(spark, str(tmp_path / "audit"), channel="t")
    # a lease left by a crashed process: pid that cannot exist
    import os as _os

    _os.makedirs(store.base_path, exist_ok=True)
    with open(store.lock_path, "w") as fh:
        fh.write("999999999 crashed 0")
    # acquire must break it and proceed, not dead-wait
    store.store(messages_from_payloads(spark, [{"i": 1}]))
    assert store.total() == 1
    assert not _os.path.exists(store.lock_path)


def test_crash_mid_compact_rolls_forward_never_mixed(spark, tmp_path):
    # kill the process between the three swap renames: the journal is
    # on disk, so the next open must roll FORWARD to the fully-new
    # state — a reader never sees new messages with the old event log
    import os as _os

    from pypeman_spark.store import FileMessageStore

    path = str(tmp_path / "audit")
    store = FileMessageStore(spark, path, channel="t")
    store.store(messages_from_payloads(spark, [{"i": i} for i in range(5)]))
    ids = sorted(r["id"] for r in store.current().select("id").collect())
    store.change_message_state(ids[0], "processed")
    store.delete(ids[1])
    expected = {
        r["id"]: r["state"] for r in store.current().collect()
    }

    real_replace = _os.replace
    calls = {"n": 0}

    def dying_replace(src, dst):
        # let the journal land (first replace), then die after the
        # FIRST directory rename of the swap — messages/ is moved to
        # .old, nothing else has happened: maximum mixed-state hazard
        real_replace(src, dst)
        if dst == store.journal_path:
            return
        calls["n"] += 1
        if calls["n"] >= 1:
            raise RuntimeError("simulated crash mid-swap")

    _os.replace = dying_replace
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            store.compact()
    finally:
        _os.replace = real_replace
    assert _os.path.isfile(store.journal_path)  # crash left the journal

    # next open (a new process in real life) recovers; lease from the
    # "crashed" holder is ours-alive here, so drop it as the crash would
    store._release_lock()
    recovered = FileMessageStore(spark, path, channel="t")
    assert not _os.path.isfile(recovered.journal_path)
    got = {r["id"]: r["state"] for r in recovered.current().collect()}
    assert got == expected  # the compacted (new) state, complete
    # and the store is fully functional post-recovery
    recovered.change_message_state(ids[2], "error")
    assert recovered.get(ids[2])["state"] == "error"
    recovered.compact()
    assert {
        r["id"]: r["state"] for r in recovered.current().collect()
    }[ids[2]] == "error"


def test_crash_before_journal_leaves_store_untouched(spark, tmp_path):
    # a crash while WRITING the fresh dirs (pre-journal) must leave the
    # live store intact; the orphan .compact_* dirs are swept on open
    import glob as _glob
    import os as _os

    from pypeman_spark.store import FileMessageStore

    path = str(tmp_path / "audit")
    store = FileMessageStore(spark, path, channel="t")
    store.store(messages_from_payloads(spark, [{"i": i} for i in range(3)]))
    expected = sorted(r["id"] for r in store.current().select("id").collect())

    # simulate: fresh dirs half-written, process died before the journal
    # (base_path is <path>/<channel> — the store root, not the parent)
    _os.makedirs(_os.path.join(store.base_path, ".compact_msg_deadbeef"))
    store._release_lock()

    recovered = FileMessageStore(spark, path, channel="t")
    assert not _glob.glob(_os.path.join(store.base_path, ".compact_*"))
    assert sorted(
        r["id"] for r in recovered.current().select("id").collect()
    ) == expected


# ---- cross-process lease contention (VERDICT r7 task #8) -------------------

_HOLDER = """
import os, signal, sys, time
lock = sys.argv[1]
hold_s = float(sys.argv[2])
fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
with os.fdopen(fd, "w") as fh:
    fh.write(f"{os.getpid()} ext_compact {time.time()}")
print("HELD", flush=True)
time.sleep(hold_s)
os.unlink(lock)
print("RELEASED", flush=True)
"""


def _spawn_holder(lock_path, hold_s):
    import subprocess
    import sys

    p = subprocess.Popen(
        [sys.executable, "-c", _HOLDER, lock_path, str(hold_s)],
        stdout=subprocess.PIPE, text=True,
    )
    assert p.stdout.readline().strip() == "HELD"
    return p


def test_store_blocks_on_live_foreign_lease_then_succeeds(spark, tmp_path):
    """A SECOND PROCESS holds the writer lease mid-'compact'; this
    process's store() must BLOCK (not proceed, not error) until the
    holder releases, then land the rows."""
    import os

    from pypeman_spark.store import FileMessageStore

    path = str(tmp_path / "audit")
    store = FileMessageStore(spark, path, channel="t")
    store.store(messages_from_payloads(spark, [{"i": 0}]))

    holder = _spawn_holder(store.lock_path, 3.0)
    t0 = time.monotonic()
    store.store(messages_from_payloads(spark, [{"i": 1}]))  # must block
    waited = time.monotonic() - t0
    holder.wait(timeout=10)
    assert waited >= 2.0, f"store() did not wait for the live lease ({waited:.1f}s)"
    assert store.current().count() == 2
    assert not os.path.isfile(store.lock_path)  # our lease released too


def test_store_takes_over_sigkilled_holder_lease(spark, tmp_path):
    """A holder process SIGKILLed mid-lease leaves a lock naming a dead
    pid; the next store() must detect the dead holder and take over
    promptly instead of waiting out the timeout."""
    import os
    import signal

    from pypeman_spark.store import FileMessageStore

    path = str(tmp_path / "audit")
    store = FileMessageStore(spark, path, channel="t")
    store.store(messages_from_payloads(spark, [{"i": 0}]))  # creates dirs
    holder = _spawn_holder(store.lock_path, 3600.0)  # would hold forever
    os.kill(holder.pid, signal.SIGKILL)
    holder.wait(timeout=10)

    t0 = time.monotonic()
    store.store(messages_from_payloads(spark, [{"i": 1}]))
    waited = time.monotonic() - t0
    assert waited < 20.0, "stale-lease takeover took too long"
    assert store.current().count() == 2
    assert not os.path.isfile(store.lock_path)


def test_concurrent_recovery_waits_for_live_compactor(spark, tmp_path):
    """Opening a store while a FOREIGN LIVE process holds the lease and
    a compact journal exists must leave the journal for the holder (no
    roll-forward under a live lease), but a dead holder's journal is
    recovered on the next open."""
    import json as _json
    import os
    import signal

    from pypeman_spark.store import FileMessageStore

    path = str(tmp_path / "audit")
    store = FileMessageStore(spark, path, channel="t")
    store.store(messages_from_payloads(spark, [{"i": 0}]))
    base = store.base_path
    fresh = os.path.join(base, ".compact_msg_x")
    os.makedirs(fresh)
    with open(os.path.join(base, ".compact_journal"), "w") as fh:
        _json.dump({"pairs": [[os.path.join(base, "events"), fresh]]}, fh)

    holder = _spawn_holder(store.lock_path, 3600.0)
    try:
        FileMessageStore(spark, path, channel="t")  # open under live lease
        assert os.path.isfile(os.path.join(base, ".compact_journal"))
        assert os.path.isdir(fresh)
    finally:
        os.kill(holder.pid, signal.SIGKILL)
        holder.wait(timeout=10)

    FileMessageStore(spark, path, channel="t")  # holder dead -> recover
    assert not os.path.isfile(os.path.join(base, ".compact_journal"))
    assert not os.path.isdir(fresh)
