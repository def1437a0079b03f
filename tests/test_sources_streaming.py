"""Source + streaming-channel tests, mirroring the reference's channel
source tests (`test_channel.py:1015-1275`: http/fwatcher/merge) and the
streaming lifecycle (SURVEY §2.H)."""

import json
import os
import time
import urllib.error
import urllib.request
from datetime import datetime

import pytest

from pyspark.sql import functions as F

from pypeman_spark import Pipeline, messages_from_payloads
from pypeman_spark.operators import FuncNode, JsonToPython, Drop, PythonToJson
from pypeman_spark.sources.cron import cron_ticks
from pypeman_spark.sources.file_watcher import FileWatcher, scan_files, stream_files
from pypeman_spark.sources.http_sidecar import HttpLandingServer, hl7_ack_for_state, landing_id
from pypeman_spark.sources.merge import merge_channels
from pypeman_spark.store import KVStore, MemoryMessageStore
from pypeman_spark.streaming.channel import StreamingChannel


def test_scan_files_basic(spark, tmp_path):
    # test_fwatcher_channel :1205 — regex match, payload=content, meta
    d = tmp_path / "in"
    d.mkdir()
    (d / "a.txt").write_text("hello A")
    (d / "b.txt").write_text("hello B")
    (d / "skip.log").write_text("nope")
    df = scan_files(spark, str(d), regex=r".*\.txt$")
    rows = {r["meta"]["filename"]: r["payload"] for r in df.collect()}
    assert rows == {"a.txt": "hello A", "b.txt": "hello B"}
    assert all(
        r["meta"]["filepath"].endswith(r["meta"]["filename"]) for r in df.collect()
    )


def test_scan_files_ack_indirection(spark, tmp_path):
    # real_extensions: the .ok file is only the marker (channels.py:1384)
    d = tmp_path / "in"
    d.mkdir()
    (d / "data1.csv").write_text("payload1")
    (d / "data1.ok").write_text("")
    (d / "data2.csv").write_text("not acked yet")
    df = scan_files(spark, str(d), regex=r".*\.ok$", real_extensions=[".csv"])
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["payload"] == "payload1"


def test_scan_files_mtime_repickup(spark, tmp_path):
    # modified-file re-read (channels.py:1353-1356) via kv snapshot
    d = tmp_path / "in"
    d.mkdir()
    f = d / "x.txt"
    f.write_text("v1")
    kv = KVStore(spark, str(tmp_path / "kv"))
    w = FileWatcher(spark, str(d), regex=r".*\.txt$", kv_store=kv)
    assert w.tick().count() == 1
    assert w.tick().count() == 0  # unchanged → not re-read
    time.sleep(0.01)
    f.write_text("v2")
    os.utime(f, (time.time() + 5, time.time() + 5))
    rows = w.tick().collect()
    assert len(rows) == 1 and rows[0]["payload"] == "v2"


def test_scan_files_idle_ticks_save_nothing(spark, tmp_path):
    # a tick that finds no new or modified file leaves the kv store alone
    d = tmp_path / "in"
    d.mkdir()
    (d / "x.txt").write_text("v1")
    kv = KVStore(spark, str(tmp_path / "kv"))
    w = FileWatcher(spark, str(d), regex=r".*\.txt$", kv_store=kv)
    assert w.tick().count() == 1
    v = kv.table.version()
    assert w.tick().count() == 0
    assert w.tick().count() == 0
    assert kv.table.version() == v


def test_merge_channels(spark):
    # test_mergechannel :1275
    a = messages_from_payloads(spark, [{"s": 1}], channel="a")
    b = messages_from_payloads(spark, [{"s": 2}, {"s": 3}], channel="b")
    merged = merge_channels(a, b, channel="m")
    assert merged.count() == 3


def test_cron_ticks(spark):
    # contrib/time.py: every 15 min of one hour window
    df = cron_ticks(
        spark,
        datetime(2024, 1, 1, 0, 0),
        datetime(2024, 1, 1, 1, 0),
        cron="*/15 * * * *",
    )
    fire_times = sorted(r["payload"] for r in df.collect())
    assert fire_times == [
        "2024-01-01 00:00:00",
        "2024-01-01 00:15:00",
        "2024-01-01 00:30:00",
        "2024-01-01 00:45:00",
    ]


def test_streaming_channel_end_to_end(spark, tmp_path):
    # readStream file source → pipeline in foreachBatch → audit store
    landing = tmp_path / "landing"
    landing.mkdir()
    for i in range(4):
        (landing / f"m{i}.txt").write_text(json.dumps({"n": i}))

    store = MemoryMessageStore(spark, channel="stream_t")
    pipe = Pipeline("stream_t").add(
        JsonToPython(),
        Drop(condition=F.get_json_object("payload", "$.n").cast("int") >= 3,
             name="drop_big"),
        FuncNode(lambda d: {"n": d["n"] * 10}, name="x10"),
    )
    src = stream_files(spark, str(landing), glob="*.txt", channel="stream_t")
    chan = StreamingChannel(
        src, pipe, message_store=store, checkpoint_dir=str(tmp_path / "ckpt")
    )
    chan.start()
    try:
        chan.process_all_available()
        assert chan.batches_processed >= 1
        # late-arriving file picked up by the next trigger (exactly-once)
        (landing / "late.txt").write_text(json.dumps({"n": 1}))
        chan.process_all_available()
    finally:
        chan.stop()
    cur = store.current()
    assert cur.count() == 5
    states = dict(
        (r["state"], r["count"]) for r in cur.groupBy("state").count().collect()
    )
    assert states == {"processed": 4, "dropped": 1}
    # the audit store keeps the ORIGINAL incoming payload (reference
    # stores the message at ingress, msgstore.py:617; only state updates)
    payloads = sorted(
        r["payload"] for r in cur.filter(F.col("state") == "processed").collect()
    )
    assert payloads == ['{"n": 0}', '{"n": 1}', '{"n": 1}', '{"n": 2}']
    store.close()


def test_http_sidecar_lands_files(spark, tmp_path):
    # test_http_channel :1015 — request becomes a message with meta
    landing = tmp_path / "http_landing"
    server = HttpLandingServer(str(landing))
    server.start()
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{server.port}/api/ingest?x=1",
            data=json.dumps({"hello": "world"}).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 202
            ack = json.loads(resp.read())
            assert "id" in ack
    finally:
        server.stop()
    files = list(landing.glob("*.json"))
    assert len(files) == 1
    record = json.loads(files[0].read_text())
    assert json.loads(record["payload"]) == {"hello": "world"}
    assert record["meta"]["method"] == "POST"
    assert record["meta"]["url"] == "/api/ingest?x=1"
    # and the landing dir is a valid channel source
    df = scan_files(spark, str(landing), regex=r".*\.json$", channel="http")
    assert df.count() == 1


def test_hl7_ack_mapping():
    # contrib/hl7.py:173-186 — AA on success/drop, AR reject, AE error
    assert "MSA|AA|" in hl7_ack_for_state("processed")
    assert "MSA|AA|" in hl7_ack_for_state("dropped")
    assert "MSA|AR|" in hl7_ack_for_state("rejected")
    assert "MSA|AE|" in hl7_ack_for_state("error")


def test_admin_streaming_lifecycle(spark, tmp_path):
    # urls.py:17-18 start/stop channel over the admin API
    from pypeman_spark.plans.admin import ChannelRegistry

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "a.txt").write_text(json.dumps({"n": 1}))
    store = MemoryMessageStore(spark, channel="adm_s")
    pipe = Pipeline("adm_s").add(FuncNode(lambda d: d, name="noop"))
    src = stream_files(spark, str(landing), glob="*.txt", channel="adm_s")
    chan = StreamingChannel(
        src, pipe, message_store=store, checkpoint_dir=str(tmp_path / "ckpt")
    )
    reg = ChannelRegistry(spark)
    reg.register("adm_s", pipe, store, streaming_channel=chan)
    assert reg.channel_status("adm_s") == "STOPPED"
    out = reg.start_channel("adm_s")
    try:
        assert out["status"] in ("STARTING", "WAITING", "PROCESSING")
        chan.process_all_available()
        assert store.total() == 1
    finally:
        assert reg.stop_channel("adm_s")["status"] == "STOPPED"


def test_dirwatch_batch_read(spark, tmp_path):
    # Spark 4 Python DataSource, batch form: one partition per file
    from pypeman_spark.sources.dirwatch_datasource import DirWatchDataSource

    spark.dataSource.register(DirWatchDataSource)
    d = tmp_path / "watch"
    d.mkdir()
    (d / "a.txt").write_text("alpha")
    (d / "b.txt").write_text("beta")
    (d / "skip.log").write_text("no")
    df = spark.read.format("dirwatch").option("path", str(d)).option(
        "regex", r".*\.txt$"
    ).load()
    rows = {r["filename"]: r["content"] for r in df.collect()}
    assert rows == {"a.txt": "alpha", "b.txt": "beta"}


def test_dirwatch_stream_repicks_modified_files(spark, tmp_path):
    # SURVEY §7.4: modified-file re-pickup — the semantic the native file
    # source cannot express; the mtime snapshot is the stream offset
    import os, time as _time
    from pypeman_spark.sources.dirwatch_datasource import DirWatchDataSource

    spark.dataSource.register(DirWatchDataSource)
    d = tmp_path / "watch"
    d.mkdir()
    f = d / "a.txt"
    f.write_text("v1")
    got = []
    src = (
        spark.readStream.format("dirwatch")
        .option("path", str(d))
        .option("regex", r".*\.txt$")
        .load()
    )
    q = (
        src.writeStream.foreachBatch(
            lambda df, _e: got.extend(
                (r["filename"], r["content"]) for r in df.collect()
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        deadline = _time.time() + 30
        while ("a.txt", "v1") not in got and _time.time() < deadline:
            _time.sleep(0.2)
        assert ("a.txt", "v1") in got
        # rewrite the SAME file with a bumped mtime → must be re-emitted
        f.write_text("v2")
        os.utime(f, (_time.time() + 5, _time.time() + 5))
        while ("a.txt", "v2") not in got and _time.time() < deadline:
            _time.sleep(0.2)
        assert ("a.txt", "v2") in got
    finally:
        q.stop()


def test_streaming_channel_auto_retry_sweep(spark, tmp_path):
    # end-to-end DLQ topology: a flaky auto_retry node parks rows during
    # the stream; run_retries_once drains them (retry.py:130-170)
    from pypeman_spark.store import RetryStore

    landing = tmp_path / "landing"
    landing.mkdir()
    for i in range(3):
        (landing / f"m{i}.txt").write_text(json.dumps({"n": i}))

    def flaky(d):
        if d["n"] == 1:
            raise RuntimeError("transient")
        return d

    store = MemoryMessageStore(spark, channel="rt_s")
    rs = RetryStore(spark, str(tmp_path / "rt"), channel="rt_s", retry_delay=0.0)
    pipe = Pipeline("rt_s").add(
        JsonToPython(),
        FuncNode(flaky, name="flaky", auto_retry=True),
    )
    src = stream_files(spark, str(landing), glob="*.txt", channel="rt_s")
    chan = StreamingChannel(
        src, pipe, message_store=store, retry_store=rs,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    chan.start()
    try:
        chan.process_all_available()
    finally:
        chan.stop()
    parked = rs.pending().collect()
    assert [r["stage"] for r in parked] == ["flaky"]

    # heal and sweep
    healed = Pipeline("rt_s").add(
        JsonToPython(), FuncNode(lambda d: d, name="flaky")
    )
    chan.pipeline = healed
    counts = chan.run_retries_once()
    assert counts == {"retried": 1, "succeeded": 1, "rejected": 0, "reparked": 0}
    assert rs.is_empty()


def test_channel_makes_its_checkpoint_dir_on_start(spark, tmp_path, monkeypatch):
    # a channel driven only by direct calls (a registered batch channel)
    # leaves no temp dir behind; start() makes one when none was given
    import tempfile

    from pypeman_spark.plans.admin import ChannelRegistry
    from pypeman_spark.store import NullMessageStore

    landing = tmp_path / "landing"
    landing.mkdir()
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    store = NullMessageStore(spark, channel="ckpt")
    pipe = Pipeline("ckpt").add(FuncNode(lambda d: d, name="noop"))
    src = stream_files(spark, str(landing), glob="*.txt", channel="ckpt")
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    StreamingChannel(None, pipe, store)
    ChannelRegistry(spark).register("ckpt", pipe, store)
    chan = StreamingChannel(src, pipe, store)
    assert os.listdir(tmp) == []
    chan.start()
    try:
        chan.process_all_available()
    finally:
        chan.stop()
    (made,) = os.listdir(tmp)
    assert made.startswith("pypeman_spark_ckpt_ckpt_")
    assert chan.checkpoint_dir == str(tmp / made)


def test_process_batch_runs_each_message_once(spark, tmp_path):
    # one process_batch = one pass of every message through the chain:
    # the retry park and both store appends read one materialised
    # outcome, so the python node's fn runs once per input message
    from pypeman_spark.store import RetryStore

    calls = spark.sparkContext.accumulator(0)

    def enrich(d):
        calls.add(1)
        if d["n"] == 3:
            raise ConnectionError("downstream down")
        return {**d, "enriched": True}

    payloads = [{"n": i} for i in range(8)] + ["not json"]
    metas = [
        {"user": f"u{i}", "kind": "heartbeat" if i in (1, 5) else "event"}
        for i in range(9)
    ]
    batch = messages_from_payloads(
        spark, payloads, meta=metas, channel="once"
    ).localCheckpoint(eager=True)  # fixed ids across the store and run
    store = MemoryMessageStore(spark, channel="once")
    rs = RetryStore(spark, str(tmp_path / "rt"), channel="once", retry_delay=0.0)
    pipe = Pipeline("once").add(
        JsonToPython(),
        Drop(condition=F.col("meta").getItem("kind") == "heartbeat",
             name="drop_hb"),
        FuncNode(enrich, name="enrich", auto_retry=True, store_meta=["user"]),
        PythonToJson(),
    )
    chan = StreamingChannel(None, pipe, message_store=store, retry_store=rs,
                            checkpoint_dir=str(tmp_path / "ckpt"))
    try:
        chan.process_batch(batch, 0)
        assert calls.value == 9
        cur = store.current()
        states = {
            r["state"]: r["count"] for r in cur.groupBy("state").count().collect()
        }
        # the parked message keeps its stored pending state
        assert states == {"processed": 5, "dropped": 2, "error": 1, "pending": 1}
        parked = rs.pending().collect()
        assert [(json.loads(r["payload"])["n"], r["stage"]) for r in parked] == [
            (3, "enrich")
        ]
        meta = {
            r["meta"]["user"]: r["store_meta"]
            for r in cur.filter(F.col("store_meta").isNotNull()).collect()
        }
        assert meta == {f"u{i}": {"user": [f"u{i}"]} for i in (0, 2, 4, 6, 7)}
    finally:
        store.close()


def _counting_when_pipe(spark, name):
    # JsonToPython -> a counting node -> a when branch, so each run
    # shares (persists) the counted frame for its fan-out
    calls = spark.sparkContext.accumulator(0)

    def count(d):
        calls.add(1)
        return d

    pipe = Pipeline(name).add(
        JsonToPython(), FuncNode(count, name="count")
    ).when(F.col("payload").contains('"n": 1'), FuncNode(lambda d: d, name="one"))
    return pipe, calls


def test_nested_handle_keeps_the_outer_batch_cached(spark):
    # a batch that ends inside another releases only its own frames: the
    # outer batch's fan-out stays cached, so its rows cross the counting
    # node once
    pipe, calls = _counting_when_pipe(spark, "nest")
    chan = StreamingChannel(None, pipe)
    a = messages_from_payloads(spark, [{"n": i} for i in range(4)], channel="nest")
    b = messages_from_payloads(spark, [{"n": i} for i in range(3)], channel="nest")
    with chan.handle(a) as out_a:
        with chan.handle(b) as out_b:
            assert out_b.count() == 3
        rows = out_a.collect()
    assert sorted(r["state"] for r in rows) == ["processed"] * 4
    assert calls.value == 4 + 3


def _persisted_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_retry_sweep_inside_a_batch_keeps_its_fanout_cached(spark, tmp_path):
    # a sweep on the channel's pipeline while a batch is open releases
    # only the sweep's own runs: every frame the batch cached stays
    from pypeman_spark.store import RetryStore

    pipe, calls = _counting_when_pipe(spark, "sweep")
    rs = RetryStore(spark, str(tmp_path / "rt"), channel="sweep", retry_delay=0.0)
    rs.store_until_retry(
        messages_from_payloads(spark, [{"n": 9}], channel="sweep")
    )
    chan = StreamingChannel(None, pipe, retry_store=rs)
    batch = messages_from_payloads(spark, [{"n": i} for i in range(4)], channel="sweep")
    with chan.handle(batch) as out:
        cached = _persisted_rdds(spark)
        counts = chan.run_retries_once()
        assert cached <= _persisted_rdds(spark)
        assert out.count() == 4
    assert counts == {"retried": 1, "succeeded": 1, "rejected": 0, "reparked": 0}
    assert calls.value == 4 + 1


def test_channel_preconditions_raise(spark):
    # checked by a raise, not an assert that python -O removes
    chan = StreamingChannel(None, Pipeline("pre"))
    with pytest.raises(ValueError, match="no retry store"):
        chan.run_retries_once()
    with pytest.raises(ValueError, match="not started"):
        chan.process_all_available()


def test_http_sidecar_sync_respond_and_routing(spark, tmp_path):
    # VERDICT r01 items 1-2 (missing): synchronous request/response mode
    # (contrib/http.py:159-182) + method/url routing with {match_info}
    # path params (contrib/http.py:110-158)
    from pypeman_spark.operators import JsonToPython, Drop, FuncNode

    pipe = Pipeline("sync").add(
        JsonToPython(),
        Drop(condition=F.col("payload").contains('"skip": true'), name="d"),
        FuncNode(lambda d: {**d, "seen": True}, name="f"),
    )

    def respond(payload, meta):
        row = pipe.handle_and_wait(spark, payload or meta, meta=meta)
        return row

    landing = tmp_path / "sync_landing"
    server = HttpLandingServer(
        str(landing), url="/orders/{order_id}", method="POST", respond=respond,
    )
    server.start()
    try:
        base = f"http://127.0.0.1:{server.port}"
        # happy path: response body is the TRANSFORMED payload, 200
        req = urllib.request.Request(
            f"{base}/orders/o42?src=web", data=json.dumps({"n": 1}).encode(),
            method="POST",
        )
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 200
            body = json.loads(resp.read())
            assert body["seen"] is True and body["n"] == 1

        # dropped → 200 "Dropped" (contrib/http.py:176)
        req = urllib.request.Request(
            f"{base}/orders/o43", data=json.dumps({"skip": True}).encode(),
            method="POST",
        )
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 200
            assert resp.read() == b"Dropped"

        # route mismatches: wrong path → 404, wrong verb → 405
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(
                urllib.request.Request(f"{base}/other", data=b"{}", method="POST")
            )
        assert ei.value.code == 404
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(f"{base}/orders/o1")
        assert ei.value.code == 405
    finally:
        server.stop()

    # match_info + query params landed in meta (contrib/http.py:143-150)
    records = [json.loads(f.read_text()) for f in sorted(landing.glob("*.json"))]
    assert len(records) == 2
    assert records[0]["meta"]["order_id"] == "o42"
    assert json.loads(records[0]["meta"]["get_params"]) == {"src": "web"}
    assert records[0]["meta"]["method"] == "POST"


def test_landing_ids_sort_by_arrival():
    # landing files are read in name order; arrivals within one second
    # must not be ordered by their random uuid
    ids = [landing_id() for _ in range(50)]
    assert ids == sorted(ids)


def test_http_sidecar_get_routing(spark, tmp_path):
    # GET endpoints: empty payload, query params in meta; pipeline result
    # as the response body with meta-driven status_code
    from pypeman_spark.operators import FuncNode

    pipe = Pipeline("g").add(
        FuncNode(lambda d: {"answer": 42}, name="lookup"),
    )

    def respond(payload, meta):
        return pipe.handle_and_wait(spark, {"q": meta.get("get_params")}, meta=meta)

    landing = tmp_path / "get_landing"
    server = HttpLandingServer(str(landing), respond=respond)
    server.start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{server.port}/lookup?id=9"
        ) as resp:
            assert resp.status == 200
            assert json.loads(resp.read()) == {"answer": 42}
    finally:
        server.stop()
    record = json.loads(next(iter(landing.glob("*.json"))).read_text())
    assert record["payload"] == ""
    assert json.loads(record["meta"]["get_params"]) == {"id": "9"}


def test_incremental_ingest_sink_dedups_and_noops(spark, tmp_path):
    """streaming/ingest.py: the foreachBatch sink exact-dedups within
    a batch, catches cross-batch near-dups via the persisted index
    alone, and a re-delivered batch_id no-ops on both tables."""
    from pypeman_spark.store.txtable import TxTable
    from pypeman_spark.streaming.ingest import incremental_ingest_sink

    corpus = TxTable(
        spark, str(tmp_path / "corpus"), key_cols=["doc_id"],
        n_buckets=2,
    )
    index = TxTable(
        spark, str(tmp_path / "idx"), key_cols=["doc_id", "band"],
        n_buckets=2,
    )
    sink = incremental_ingest_sink(corpus, index)

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    long_a = "alpha beta gamma delta epsilon zeta eta theta"
    long_b = "one two three four five six seven eight nine"
    # batch 0: two docs + an exact in-batch dup (kept rep = lowest id)
    sink(docs([(1, long_a), (2, long_b), (3, long_a)]), 0)
    assert corpus.count() == 2
    assert index.count() == 8  # 2 docs x 4 bands
    # batch 1: one new doc + a verbatim copy of doc 1 (caught by the
    # INDEX — batch 0's rows are long gone)
    sink(docs([(10, "x y z w v u t s r q"), (11, long_a)]), 1)
    assert corpus.count() == 3
    assert sorted(
        r["doc_id"] for r in corpus.snapshot().collect()
    ) == [1, 2, 10]
    v_c, v_i = corpus.version(), index.version()
    # re-delivered batch 1 (same batch_id): provable no-op
    sink(docs([(10, "x y z w v u t s r q"), (11, long_a)]), 1)
    assert (corpus.version(), index.version()) == (v_c, v_i)
    assert corpus.count() == 3
    # batch 2: two WITHIN-BATCH near-dups (same text bar one word —
    # not exact, so only the self-probe can catch the higher id)
    # plus one genuinely new doc
    near_a = long_b.replace("nine", "ten")
    sink(docs([(20, near_a), (21, near_a + " "), (22, "p o i u y t r e w q")]), 2)
    got = sorted(r["doc_id"] for r in corpus.snapshot().collect())
    assert got == [1, 2, 10, 20, 22]
    # the index holds rows ONLY for ingested docs (4 bands each)
    assert index.count() == 4 * len(got)
    # and near_a itself is near-dup to long_b's history entry? No —
    # one changed word out of nine flips ~3 of 7 shingles; with
    # min_agree=8/16 the estimator keeps it. within_batch=False
    # would have ingested BOTH 20 and 21.


def test_incremental_ingest_converges_after_partial_append(
    spark, tmp_path
):
    """Crash seam: the corpus append landed but the process died
    before the index append. The re-delivered batch must no-op the
    corpus side (txn marker) and complete the index side — the pair
    converges without a cross-table transaction."""
    from pypeman_spark.store.txtable import TxTable
    from pypeman_spark.streaming.ingest import incremental_ingest_sink

    corpus = TxTable(
        spark, str(tmp_path / "corpus"), key_cols=["doc_id"],
        n_buckets=2,
    )
    index = TxTable(
        spark, str(tmp_path / "idx"), key_cols=["doc_id", "band"],
        n_buckets=2,
    )
    batch = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "q w e r t y u i")],
        "doc_id long, text string",
    )
    # simulate the half-landed state the crash leaves behind
    corpus.append(batch, txn=("ingest", 0))
    assert corpus.count() == 2 and index.count() == 0
    incremental_ingest_sink(corpus, index)(batch, 0)
    assert corpus.count() == 2          # no double-ingest
    assert index.count() == 2 * 4      # index side completed
    assert corpus.version() == 1        # corpus append was a no-op


def test_index_sync_prunes_ghosts_then_reingests(spark, tmp_path):
    """streaming/ingest.py:index_sync — a corpus delete must cascade
    into the MinHash index, or the deleted doc's band rows suppress
    every future near-copy forever. Proves the ghost first (copy of a
    deleted doc is WRONGLY suppressed pre-sync), then the cure (after
    index_sync the next copy IS ingested), then the safety rail (a
    live id in deleted_ids is never pruned)."""
    from pypeman_spark.store.txtable import TxTable
    from pypeman_spark.streaming.ingest import (
        incremental_ingest_sink, index_sync,
    )

    corpus = TxTable(
        spark, str(tmp_path / "corpus"), key_cols=["doc_id"],
        n_buckets=2,
    )
    index = TxTable(
        spark, str(tmp_path / "idx"), key_cols=["doc_id", "band"],
        n_buckets=2,
    )
    sink = incremental_ingest_sink(corpus, index)

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    text_1 = "alpha beta gamma delta epsilon zeta eta theta"
    text_2 = "one two three four five six seven eight nine"
    sink(docs([(1, text_1), (2, text_2)]), 0)
    assert corpus.count() == 2 and index.count() == 8
    # GDPR-shaped point delete of doc 1 from the corpus only
    corpus.delete_keys(docs([(1, text_1)]).select("doc_id"), mode="dv")
    assert corpus.count() == 1
    # GHOST: the index still holds doc 1's rows, so a verbatim
    # re-arrival is wrongly suppressed
    sink(docs([(11, text_1)]), 1)
    assert sorted(
        r["doc_id"] for r in corpus.snapshot().collect()
    ) == [2]
    # CURE: full reconciliation finds exactly the one dead id,
    # bucket-scoped dv delete prunes its band rows
    assert index_sync(corpus, index) == 1
    assert index.count() == 4
    assert sorted(
        r["doc_id"] for r in index.snapshot().select("doc_id")
        .distinct().collect()
    ) == [2]
    sink(docs([(21, text_1)]), 2)
    assert sorted(
        r["doc_id"] for r in corpus.snapshot().collect()
    ) == [2, 21]
    assert index.count() == 8
    # SAFETY: a live id in deleted_ids is filtered out, nothing pruned
    v = index.version()
    assert index_sync(
        corpus, index,
        deleted_ids=spark.createDataFrame([(2,), (21,)], "doc_id long"),
    ) == 0
    assert index.version() == v and index.count() == 8
    # sync is idempotent: nothing dead, nothing touched
    assert index_sync(corpus, index) == 0


def test_corpus_retention_recipe_cascades_o_deleted(spark, tmp_path):
    """streaming/ingest.py:corpus_retention — DELETE WHERE on the
    corpus plus the O(deleted) index prune (doomed ids captured by a
    pruned scan BEFORE the delete, passed as the narrow candidate
    list), idempotent under txn re-delivery."""
    from pypeman_spark.store.txtable import TxTable
    from pypeman_spark.streaming.ingest import (
        corpus_retention, incremental_ingest_sink,
    )

    corpus = TxTable(
        spark, str(tmp_path / "corpus"), key_cols=["doc_id"],
        n_buckets=2,
    )
    index = TxTable(
        spark, str(tmp_path / "idx"), key_cols=["doc_id", "band"],
        n_buckets=2,
    )
    rows = [
        (i, " ".join(f"w{i}x{j}" for j in range(10)))
        for i in range(1, 9)
    ]
    incremental_ingest_sink(corpus, index)(
        spark.createDataFrame(rows, "doc_id long, text string"), 0
    )
    assert corpus.count() == 8 and index.count() == 32
    pruned = corpus_retention(
        corpus, index, ("doc_id", "<=", 3), txn=("retention", 1)
    )
    assert pruned == 3
    assert corpus.count() == 5
    assert index.count() == 4 * 5
    assert sorted(
        r["doc_id"] for r in index.snapshot().select("doc_id")
        .distinct().collect()
    ) == [4, 5, 6, 7, 8]
    # re-delivered retention pass: scan finds nothing doomed, both
    # tables' versions hold
    v_c, v_i = corpus.version(), index.version()
    assert corpus_retention(
        corpus, index, ("doc_id", "<=", 3), txn=("retention", 1)
    ) == 0
    assert (corpus.version(), index.version()) == (v_c, v_i)


def test_ingest_sink_schema_evolution_mid_stream(spark, tmp_path):
    """A column appearing in a later micro-batch (here ``lang`` in
    batch 1) must flow through the ingest sink via append()'s schema
    evolution: earlier rows read back null-filled, counts and versions
    exact, and the index schema is unaffected (its four columns are
    fixed)."""
    from pypeman_spark.store.txtable import TxTable
    from pypeman_spark.streaming.ingest import incremental_ingest_sink

    corpus = TxTable(
        spark, str(tmp_path / "corpus"), key_cols=["doc_id"],
        n_buckets=2,
    )
    index = TxTable(
        spark, str(tmp_path / "idx"), key_cols=["doc_id", "band"],
        n_buckets=2,
    )
    sink = incremental_ingest_sink(corpus, index)
    sink(spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "q w e r t y u i")],
        "doc_id long, text string",
    ), 0)
    sink(spark.createDataFrame(
        [(3, "m n b v c x z l", "en"), (4, "p o i u y t r e", "fr")],
        "doc_id long, text string, lang string",
    ), 1)
    snap = corpus.snapshot()
    assert set(snap.columns) == {"doc_id", "text", "lang"}
    got = {
        r["doc_id"]: r["lang"]
        for r in snap.select("doc_id", "lang").collect()
    }
    assert got == {1: None, 2: None, 3: "en", 4: "fr"}
    assert index.count() == 4 * 4
    assert set(index.snapshot().columns) == {
        "doc_id", "band", "band_hash", "sig",
    }
    # exactly one append per table per batch
    assert corpus.version() == 2 and index.version() == 2
    # a re-delivered evolved batch still no-ops
    sink(spark.createDataFrame(
        [(3, "m n b v c x z l", "en"), (4, "p o i u y t r e", "fr")],
        "doc_id long, text string, lang string",
    ), 1)
    assert corpus.version() == 2 and index.version() == 2
    assert corpus.count() == 4


def test_await_stream_times_out_and_stops_the_query(spark, tmp_path):
    """A drain still running past its timeout raises TimeoutError and
    leaves the query stopped, so the caller never reads a partial
    sink. A rate source never finishes on its own."""
    from pypeman_spark.streaming.drain import await_stream

    q = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        with pytest.raises(TimeoutError, match="rate drain"):
            await_stream(q, 1, "rate drain")
        assert not q.isActive
    finally:
        q.stop()
