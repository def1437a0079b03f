"""Admin API tests, mirroring `pypeman/tests/test_remoteadmin.py`
semantics (list/search/view/preview/replay/push)."""

import json
import urllib.request

import pytest
from pyspark.sql import functions as F

from pypeman_spark import Pipeline, messages_from_payloads
from pypeman_spark.operators import FuncNode, JsonToPython, MsgFuncNode
from pypeman_spark.plans.admin import AdminServer, ChannelRegistry
from pypeman_spark.store import MemoryMessageStore


@pytest.fixture()
def admin(spark):
    store = MemoryMessageStore(spark, channel="chan_a")
    pipe = Pipeline("chan_a").add(
        JsonToPython(),
        FuncNode(lambda d: {"n": d["n"] * 2}, name="double"),
    )
    msgs = messages_from_payloads(spark, [{"n": 1}, {"n": 2}, {"n": 3}])
    store.store(msgs)
    reg = ChannelRegistry(spark)
    reg.register("chan_a", pipe, store)
    server = AdminServer(reg)
    server.start()
    yield server, store
    server.stop()
    store.close()


def _get(server, path):
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{server.port}{path}") as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_list_channels(admin):
    server, _ = admin
    status, body = _get(server, "/channels")
    assert status == 200
    assert body == {"channels": [{"name": "chan_a", "status": "BATCH"}]}
    # start/stop require a streaming source (views.py start/stop_channel)
    status, body = _get(server, "/channels/chan_a/start")
    assert status == 400


def test_search_messages(admin):
    server, _ = admin
    status, body = _get(server, "/channels/chan_a/messages?count=2&text=%22n%22")
    assert status == 200
    assert len(body["messages"]) == 2
    assert all("n" in m["payload"] for m in body["messages"])


def test_view_preview_and_404(admin):
    server, store = admin
    mid = store.current().select("id").collect()[0]["id"]
    status, body = _get(server, f"/channels/chan_a/messages/{mid}")
    assert status == 200 and body["id"] == mid
    status, body = _get(server, f"/channels/chan_a/messages/{mid}/preview")
    assert status == 200 and body["preview"].startswith('{"n":')
    status, _ = _get(server, "/channels/chan_a/messages/nope_123")
    assert status == 404


def test_replay(admin):
    server, store = admin
    mid = store.current().select("id").collect()[0]["id"]
    status, body = _get(server, f"/channels/chan_a/messages/{mid}/replay")
    assert status == 200
    assert body["outcomes"] == ["processed"]
    assert store.total() == 4  # replayed message stored as a new row


def test_push_msg(admin):
    server, store = admin
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}/channels/chan_a/messages",
        data=json.dumps({"n": 10}).encode(),
        method="POST",
    )
    with urllib.request.urlopen(req) as r:
        assert r.status == 201
        body = json.loads(r.read())
    assert body == {"pushed": 1, "outcomes": ["processed"]}
    assert store.total() == 4


def test_push_and_replay_run_the_pipeline_once(spark):
    # a push or replay settles like a channel batch: the state append,
    # the store_meta flush and the returned outcomes read one run
    calls = spark.sparkContext.accumulator(0)

    def count(d):
        calls.add(1)
        return d

    store = MemoryMessageStore(spark, channel="once")
    pipe = Pipeline("once").add(
        JsonToPython(),
        MsgFuncNode(lambda p, m: (p, {**m, "tag": str(p["n"])}), name="tag"),
        FuncNode(count, name="count", store_meta=["tag"]),
    )
    reg = ChannelRegistry(spark)
    reg.register("once", pipe, store)
    try:
        assert reg.push_msg("once", json.dumps({"n": 7})) == {
            "pushed": 1, "outcomes": ["processed"]
        }
        assert calls.value == 1
        (pushed,) = store.current().collect()
        assert pushed["state"] == "processed"
        assert pushed["store_meta"] == {"tag": ["7"]}
        assert reg.replay_msg("once", pushed["id"]) == {
            "replayed": pushed["id"], "outcomes": ["processed"]
        }
        assert calls.value == 2
        replayed = store.current().filter(F.col("id") != pushed["id"]).collect()
        assert [(r["state"], r["store_meta"]) for r in replayed] == [
            ("processed", {"tag": ["7"]})
        ]
    finally:
        store.close()

def _flaky_channel(spark, tmp_path, name):
    """A channel whose ``flaky`` node raises under ``auto_retry``, with
    a ``RetryStore``; registered with that channel."""
    from pypeman_spark.store import RetryStore
    from pypeman_spark.streaming.channel import StreamingChannel

    def flaky(d):
        raise ConnectionError("downstream down")

    store = MemoryMessageStore(spark, channel=name)
    rs = RetryStore(spark, str(tmp_path / "rt"), channel=name, retry_delay=0.0)
    pipe = Pipeline(name).add(
        JsonToPython(), FuncNode(flaky, name="flaky", auto_retry=True)
    )
    chan = StreamingChannel(None, pipe, store, rs)
    reg = ChannelRegistry(spark)
    reg.register(name, pipe, store, streaming_channel=chan)
    return reg, chan, store, rs


def test_push_and_replay_park_retry_rows(spark, tmp_path):
    # a pushed or replayed message runs the channel's batch: a wait_retry
    # outcome is parked at its node and keeps its stored pending state
    reg, _chan, store, rs = _flaky_channel(spark, tmp_path, "park")
    try:
        assert reg.push_msg("park", json.dumps({"n": 1}))["outcomes"] == [
            "wait_retry"
        ]
        (pushed,) = store.current().collect()
        assert pushed["state"] == "pending"
        assert [(r["id"], r["stage"]) for r in rs.pending().collect()] == [
            (pushed["id"], "flaky")
        ]
        assert reg.replay_msg("park", pushed["id"])["outcomes"] == ["wait_retry"]
        states = {r["id"]: r["state"] for r in store.current().collect()}
        assert set(states.values()) == {"pending"} and len(states) == 2
        parked = {r["id"]: r["stage"] for r in rs.pending().collect()}
        assert parked == {i: "flaky" for i in states}
    finally:
        store.close()


def test_push_runs_the_channels_current_pipeline(spark, tmp_path):
    reg, chan, store, _rs = _flaky_channel(spark, tmp_path, "swap")
    try:
        chan.pipeline = Pipeline("swap").add(
            JsonToPython(), FuncNode(lambda d: d, name="flaky")
        )
        assert reg.push_msg("swap", json.dumps({"n": 1}))["outcomes"] == [
            "processed"
        ]
    finally:
        store.close()


def test_register_rejects_a_channel_over_another_store(spark):
    from pypeman_spark.store import NullMessageStore
    from pypeman_spark.streaming.channel import StreamingChannel

    pipe = Pipeline("mis").add(FuncNode(lambda d: d, name="noop"))
    store = NullMessageStore(spark, channel="mis")
    chan = StreamingChannel(None, pipe, NullMessageStore(spark, channel="mis"))
    reg = ChannelRegistry(spark)
    with pytest.raises(ValueError):
        reg.register("mis", pipe, store, streaming_channel=chan)
    assert reg.names() == []


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_push_and_replay_job_counts(spark, tmp_path):
    # guard: the callers read their outcomes from the batch's persisted
    # rows, so a push is store + settle + collect and a replay adds the
    # store read and its checkpoint
    store = MemoryMessageStore(spark, channel="jobs")
    pipe = Pipeline("jobs").add(
        JsonToPython(), FuncNode(lambda d: d, name="noop")
    )
    reg = ChannelRegistry(spark)
    reg.register("jobs", pipe, store)
    try:
        out, push_jobs = _jobs(spark, f"push_{tmp_path.name}", lambda: reg.push_msg(
            "jobs", json.dumps({"n": 1})))
        assert out["outcomes"] == ["processed"]
        (mid,) = [r["id"] for r in store.current().collect()]
        out, replay_jobs = _jobs(spark, f"replay_{tmp_path.name}",
                                 lambda: reg.replay_msg("jobs", mid))
        assert out["outcomes"] == ["processed"]
        assert push_jobs <= 3
        assert replay_jobs <= 6
    finally:
        store.close()


def test_concurrent_pushes_run_each_message_once(spark):
    # pushes on one channel from two threads (AdminServer is a
    # ThreadingHTTPServer): each push's run keeps its own branch fan-out
    # cached until it ends, so the counting node runs once per message
    from concurrent.futures import ThreadPoolExecutor

    calls = spark.sparkContext.accumulator(0)

    def count(d):
        calls.add(1)
        return d

    store = MemoryMessageStore(spark, channel="conc")
    pipe = Pipeline("conc").add(
        JsonToPython(), FuncNode(count, name="count")
    ).when(F.col("payload").contains('"n": 1'), FuncNode(lambda d: d, name="one"))
    reg = ChannelRegistry(spark)
    reg.register("conc", pipe, store)

    def push3():
        return [reg.push_msg("conc", json.dumps({"n": i}))["outcomes"]
                for i in range(3)]

    try:
        with ThreadPoolExecutor(2) as pool:
            outs = [f.result() for f in [pool.submit(push3) for _ in range(2)]]
        assert [o for out in outs for o in out] == [["processed"]] * 6
        assert calls.value == 6
    finally:
        store.close()


def test_admin_shell_client(admin):
    # remoteadmin.py:403-557 shell client verbs over the live server
    from pypeman_spark.plans.admin_client import AdminClient

    server, store = admin
    c = AdminClient(f"http://127.0.0.1:{server.port}")
    assert c.channels()["channels"][0]["name"] == "chan_a"
    msgs = c.list_msgs("chan_a", count=3)
    assert len(msgs["messages"]) == 3
    mid = msgs["messages"][0]["id"]
    assert c.view("chan_a", mid)["id"] == mid
    assert c.preview("chan_a", mid)["preview"]
    out = c.push("chan_a", '{"n": 99}')
    assert out["outcomes"] == ["processed"]


@pytest.fixture()
def ws_admin(spark):
    store = MemoryMessageStore(spark, channel="chan_w")
    pipe = Pipeline("chan_w").add(
        JsonToPython(),
        FuncNode(lambda d: {"n": d["n"] * 2}, name="double"),
    )
    store.store(messages_from_payloads(spark, [{"n": 1}, {"n": 2}]))
    reg = ChannelRegistry(spark)
    reg.register("chan_w", pipe, store)
    from pypeman_spark.plans.ws_admin import WsAdminServer

    server = WsAdminServer(reg)
    server.start()
    yield server, store
    server.stop()
    store.close()


def test_ws_admin_rpc_verbs(ws_admin):
    # remoteadmin.py:42-228 — websocket JSON-RPC transport over the same
    # registry verb surface as REST
    from pypeman_spark.plans.ws_admin import WsAdminClient

    server, store = ws_admin
    c = WsAdminClient(f"ws://127.0.0.1:{server.port}")
    chans = c.channels()
    assert chans == [{"name": "chan_w", "status": "BATCH"}]
    out = c.list_msgs("chan_w", count=2)
    assert len(out["messages"]) == 2 and out["total"] == 2
    mid = out["messages"][0]["id"]
    assert c.view("chan_w", mid)["id"] == mid
    assert c.preview("chan_w", mid)["preview"]
    pushed = c.push("chan_w", '{"n": 40}')
    assert pushed["outcomes"] == ["processed"]
    replayed = c.replay("chan_w", mid)
    assert replayed["outcomes"] == ["processed"]
    # RPC error surface: unknown method and unknown channel
    with pytest.raises(RuntimeError):
        c.send_command("nope")
    with pytest.raises(RuntimeError):
        c.start("chan_w")  # no streaming source → error result


def test_ws_admin_named_params_and_shell(ws_admin):
    from pypeman_spark.plans.admin_client import AdminShell, client_for

    server, _ = ws_admin
    c = client_for(f"ws://127.0.0.1:{server.port}")
    # named-params dispatch (jsonrpcserver accepts both forms)
    out = c.send_command("list_msgs", {"channel": "chan_w", "text": '"n"'})
    assert out["total"] == 2
    # the interactive shell runs the same verbs and survives errors
    shell = AdminShell(c)
    assert not shell.onecmd("channels")
    assert not shell.onecmd("view chan_w missing_id")  # error printed, not raised
    assert shell.onecmd("exit") is True


# ------------------------------------------- lakehouse table admin --


@pytest.fixture()
def table_admin(spark, tmp_path):
    from pypeman_spark.store.txtable import TxTable

    tx = TxTable(spark, str(tmp_path / "tbl"), key_cols=["k"], n_buckets=2)
    tx.append(spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, val string"))
    tx.merge_upsert(spark.createDataFrame([(2, "B2")], "k long, val string"))
    tx.add_constraint("val_nonempty", "length(val) > 0")
    reg = ChannelRegistry(spark)
    reg.register_table("events_tbl", tx)
    server = AdminServer(reg)
    server.start()
    yield server, tx
    server.stop()


def test_table_admin_info_and_history(table_admin):
    server, tx = table_admin
    status, body = _get(server, "/tables")
    assert status == 200 and len(body["tables"]) == 1
    info = body["tables"][0]
    assert info["name"] == "events_tbl"
    assert info["key_cols"] == ["k"] and info["n_buckets"] == 2
    assert info["stats"]["rows"] == 2 and info["stats"]["version"] == 3
    assert info["constraints"] == {"val_nonempty": "length(val) > 0"}
    assert info["logstore"] == tx.logstore.kind

    status, body = _get(server, "/tables/events_tbl/history")
    assert status == 200
    assert [h["op"] for h in body["history"]] == [
        "create", "append", "merge", "constraint",
    ]
    status, _ = _get(server, "/tables/nope")
    assert status == 404


def test_table_admin_snapshot_and_time_travel(table_admin):
    server, tx = table_admin
    status, body = _get(server, "/tables/events_tbl/rows?limit=10")
    assert status == 200
    assert {r["k"]: r["val"] for r in body["rows"]} == {1: "a", 2: "B2"}
    # time travel to the pre-merge version
    status, body = _get(server, "/tables/events_tbl/rows?version=1")
    assert status == 200 and body["version"] == 1
    assert {r["k"]: r["val"] for r in body["rows"]} == {1: "a", 2: "b"}
    # vacuumed pinned version answers 410, deterministically
    tx.vacuum(grace_s=0)
    status, body = _get(server, "/tables/events_tbl/rows?version=1")
    assert status == 410 and "vacuum" in body["error"]


def test_table_admin_over_websocket(spark, tmp_path):
    from pypeman_spark.plans.ws_admin import WsAdminClient, WsAdminServer
    from pypeman_spark.store.txtable import TxTable

    tx = TxTable(spark, str(tmp_path / "wtbl"), key_cols=["k"], n_buckets=2)
    tx.append(spark.createDataFrame([(5, "x")], "k long, val string"))
    reg = ChannelRegistry(spark)
    reg.register_table("wtbl", tx)
    server = WsAdminServer(reg)
    server.start()
    try:
        c = WsAdminClient(f"ws://127.0.0.1:{server.port}")
        tables = c.send_command("tables")
        assert tables[0]["name"] == "wtbl" and tables[0]["stats"]["rows"] == 1
        hist = c.send_command("table_history", {"table": "wtbl"})
        assert [h["op"] for h in hist["history"]] == ["create", "append"]
        rows = c.send_command("table_rows", {"table": "wtbl", "limit": 5})
        assert rows["rows"] == [{"k": 5, "val": "x"}]
    finally:
        server.stop()


def test_table_cli_tools(spark, tmp_path, capsys):
    """CLI parity: tools table_history / table_stats / table_rows
    operate an existing TxTable from its path alone."""
    from pypeman_spark.__main__ import main as cli_main
    from pypeman_spark.store.txtable import TxTable

    path = str(tmp_path / "ctbl")
    tx = TxTable(spark, path, key_cols=["k"], n_buckets=2)
    tx.append(spark.createDataFrame([(1, "a"), (2, "b")], "k long, val string"))

    assert cli_main(["tools", "table_history", path]) == 0
    ops = [json.loads(x)["op"] for x in capsys.readouterr().out.splitlines()]
    assert ops == ["create", "append"]

    assert cli_main(["tools", "table_stats", path]) == 0
    stats = json.loads(capsys.readouterr().out)
    assert stats["stats"]["rows"] == 2 and stats["key_cols"] == ["k"]

    assert cli_main(["tools", "table_rows", path, "--count", "10"]) == 0
    rows = [json.loads(x) for x in capsys.readouterr().out.splitlines()]
    assert {r["k"]: r["val"] for r in rows} == {1: "a", 2: "b"}

    # table_restore: roll back a delete from the CLI alone
    tx.delete_where(("k", "=", 2))
    assert cli_main(
        ["tools", "table_restore", path, "--version", "1"]
    ) == 0
    out = json.loads(capsys.readouterr().out)
    assert out == {"restored_to": 1, "committed": 3, "rows": 2}
    # missing --version and a future version are operator errors
    assert cli_main(["tools", "table_restore", path]) == 1
    assert cli_main(
        ["tools", "table_restore", path, "--version", "99"]
    ) == 1

    # table_clone: zero-copy clone from the CLI alone
    dest = str(tmp_path / "ctbl_clone")
    assert cli_main(
        ["tools", "table_clone", path, "--dest", dest]
    ) == 0
    out = json.loads(capsys.readouterr().out)
    assert out == {
        "cloned_to": dest, "shallow": True,
        "source_version": 3, "rows": 2,
    }
    assert cli_main(["tools", "table_clone", path]) == 1  # no --dest
    assert cli_main(
        ["tools", "table_clone", path, "--dest", dest]
    ) == 1  # occupied destination
    capsys.readouterr()

    # table_clones: the shallow clone above left a marker here
    assert cli_main(["tools", "table_clones", path]) == 0
    markers = json.loads(capsys.readouterr().out)
    assert len(markers) == 1 and markers[0]["dest"] == dest

    # rewrite a file AFTER the clone's snapshot (v3): its preimage is
    # unreferenced but the live clone still borrows it — table_vacuum
    # must refuse while the marker is active
    tx.update_where({"val": "'zz'"}, ("k", "=", 1))
    assert cli_main(
        ["tools", "table_vacuum", path, "--dry-run", "--grace", "0"]
    ) == 0
    rep = json.loads(capsys.readouterr().out)
    assert rep["dry_run"] is True and rep["active_clones"] == 1
    assert rep["files"] == []  # clone-pinned: nothing reclaimable
    # age the marker past TTL (clone deleted/abandoned): the dry run
    # now reports the preimage file — still without deleting it
    import os as _os

    mdir = _os.path.join(path, "_clones")
    for n in _os.listdir(mdir):
        _os.utime(_os.path.join(mdir, n), (1.0, 1.0))
    assert cli_main(
        ["tools", "table_vacuum", path, "--dry-run", "--grace", "0"]
    ) == 0
    rep = json.loads(capsys.readouterr().out)
    assert rep["active_clones"] == 0 and rep["files"]
    assert cli_main(["tools", "table_rows", path, "--count", "10"]) == 0
    assert len(capsys.readouterr().out.splitlines()) == 2  # intact

    # table_widen: lossless promotion from the CLI; key columns and
    # unknown types are refused with actionable errors
    wpath = str(tmp_path / "wtbl")
    TxTable(spark, wpath, key_cols=["k"], n_buckets=2).append(
        spark.createDataFrame([(1, 5)], "k long, n int")
    )
    assert cli_main(
        ["tools", "table_widen", wpath, "--column", "n", "--to", "x"]
    ) == 1  # unknown type
    assert cli_main(
        ["tools", "table_widen", wpath, "--column", "k", "--to", "long"]
    ) == 1  # key column
    assert cli_main(["tools", "table_widen", wpath]) == 1  # no --column
    capsys.readouterr()
    assert cli_main(
        ["tools", "table_widen", wpath, "--column", "n", "--to", "long"]
    ) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["widened"] == "n" and out["to"] == "long"
    assert cli_main(["tools", "table_rows", wpath]) == 0
    row = json.loads(capsys.readouterr().out)
    assert row == {"k": 1, "n": 5}
