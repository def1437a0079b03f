"""Channel-semantics tests, mirroring the reference's behavioral spec
(`pypeman/tests/test_channel.py`, SURVEY §5): outcome routing, branch
semantics, explode fan-out, worst-substate aggregation, inject."""

import json

import pytest
from pyspark.sql import functions as F

from pypeman_spark import Pipeline, messages_from_payloads
from pypeman_spark.operators import (
    Drop,
    FuncNode,
    JsonToPython,
    RaiseError,
    Reject,
    Yielder,
    aggregate_substates,
)


def payloads(result_df):
    return sorted(
        r["payload"] for r in result_df.select("payload").collect()
    )


def test_simple_chain(spark):
    p = Pipeline("t").add(
        JsonToPython(),
        FuncNode(lambda d: {"test": d["test"] + 1}, name="incr"),
    )
    msgs = messages_from_payloads(spark, [{"test": 1}, {"test": 5}])
    res = p.run(msgs)
    assert payloads(res.df) == ['{"test": 2}', '{"test": 6}']
    assert res.dropped.count() == 0


def test_outcome_routing_drop_reject_error(spark):
    # test_channel.py:133-251 — per-outcome end-node chains
    p = Pipeline("t").add(
        JsonToPython(),
        Drop(condition=F.get_json_object("payload", "$.kind") == "drop"),
        Reject(condition=F.get_json_object("payload", "$.kind") == "reject"),
        FuncNode(lambda d: (_ for _ in ()).throw(ValueError("boom"))
                 if d["kind"] == "fail" else d, name="maybe_fail"),
    )
    msgs = messages_from_payloads(
        spark,
        [{"kind": "ok"}, {"kind": "drop"}, {"kind": "reject"}, {"kind": "fail"}],
    )
    res = p.run(msgs)
    counts = res.counts()
    assert counts == {"processed": 1, "dropped": 1, "rejected": 1, "error": 1}
    err_row = res.errors.collect()[0]
    assert "boom" in err_row["err_msg"]


def test_when_branch_terminal(spark):
    # cond channel: matching rows end in the branch (test_channel.py:851)
    p = (
        Pipeline("t")
        .add(JsonToPython())
        .when(
            F.get_json_object("payload", "$.x").cast("int") > 1,
            FuncNode(lambda d: {"branch": True}, name="brancher"),
        )
        .add(FuncNode(lambda d: {"main": d["x"]}, name="mainer"))
    )
    msgs = messages_from_payloads(spark, [{"x": 1}, {"x": 2}])
    res = p.run(msgs)
    got = payloads(res.df)
    assert '{"branch": true}' in got
    assert '{"main": 1}' in got


def test_case_first_match_continues_main(spark):
    # case channel: first-true arm runs, then main chain continues
    # (test_channel.py:883, channels.py:371-397)
    p = (
        Pipeline("t")
        .add(JsonToPython())
        .case(
            (F.get_json_object("payload", "$.x").cast("int") < 0,
             [FuncNode(lambda d: {"x": 0}, name="clamp")]),
            (F.get_json_object("payload", "$.x").cast("int") > 10,
             [FuncNode(lambda d: {"x": 10}, name="cap")]),
        )
        .add(FuncNode(lambda d: {"x": d["x"] + 100}, name="add100"))
    )
    msgs = messages_from_payloads(spark, [{"x": -5}, {"x": 5}, {"x": 50}])
    res = p.run(msgs)
    xs = sorted(json.loads(r)["x"] for r in payloads(res.df))
    assert xs == [100, 105, 110]


def test_fork_runs_both_chains(spark):
    # sub channel fork (test_channel.py:788): copy processed in parallel,
    # main chain unaffected
    seen = []
    p = (
        Pipeline("t")
        .add(JsonToPython())
        .fork(FuncNode(lambda d: {"forked": True}, name="forker"), name="fk")
        .add(FuncNode(lambda d: {"main": True}, name="mainer"))
    )
    msgs = messages_from_payloads(spark, [{"x": 1}])
    with p.run(msgs) as res:
        assert payloads(res.df) == ['{"main": true}']
        assert payloads(res.forks["fk"]) == ['{"forked": true}']


def test_explode_and_substate_agg(spark):
    # generator fan-out 3x3 (test_channel.py:951-981) + worst-substate
    # (test_channel.py:1648-1733)
    p = Pipeline("t").add(
        JsonToPython(),
        Yielder(name="yield1"),
        FuncNode(
            lambda d: (_ for _ in ()).throw(ValueError("bad")) if d == 3 else d,
            name="maybe_fail",
        ),
    )
    msgs = messages_from_payloads(spark, [[1, 2, 3], [4, 5, 6]])
    res = p.run(msgs)
    # 6 sub-messages; one errored
    assert res.df.count() == 5
    assert res.errors.count() == 1

    rolled = aggregate_substates(res.all)
    states = {r["id"]: r["state"] for r in rolled.collect()}
    assert sorted(states.values()) == ["error", "processed"]
    sub_lists = {r["id"]: r["submessage_states"] for r in rolled.collect()}
    assert all(len(v) == 3 for v in sub_lists.values())


def test_nested_explode(spark):
    # nested generators: 2 msgs -> 2x2=4 subs each -> 8 rows
    p = Pipeline("t").add(
        JsonToPython(),
        Yielder(name="y1"),
        Yielder(name="y2"),
    )
    msgs = messages_from_payloads(spark, [[[1, 2], [3, 4]]])
    res = p.run(msgs)
    vals = sorted(int(r) for r in payloads(res.df))
    assert vals == [1, 2, 3, 4]


def test_inject_from_stage(spark):
    # mid-chain injection (test_channel.py:1384, channels.py:551-662)
    p = Pipeline("t").add(
        FuncNode(lambda d: {"n": d["n"] + 1}, name="first"),
        FuncNode(lambda d: {"n": d["n"] * 10}, name="second"),
    )
    msgs = messages_from_payloads(spark, [{"n": 1}])
    full = p.run(msgs)
    assert payloads(full.df) == ['{"n": 20}']
    # inject at 'second': skips the +1
    partial = p.run(messages_from_payloads(spark, [{"n": 1}]), from_stage="second")
    assert payloads(partial.df) == ['{"n": 10}']


def test_run_to_stage(spark):
    p = Pipeline("t").add(
        FuncNode(lambda d: {"n": d["n"] + 1}, name="first"),
        FuncNode(lambda d: {"n": d["n"] * 10}, name="second"),
    )
    msgs = messages_from_payloads(spark, [{"n": 1}])
    assert payloads(p.run(msgs, to_stage="first").df) == ['{"n": 2}']
    # an unknown stage, or one before from_stage, names the stages it had
    with pytest.raises(KeyError, match=r"unknown stage 'nope'; have \['first', 'second'\]"):
        p.run(msgs, to_stage="nope")
    with pytest.raises(KeyError, match=r"unknown stage 'first'; have \['second'\]"):
        p.run(msgs, from_stage="second", to_stage="first")


def test_join_and_final_nodes(spark):
    p = Pipeline("t").add(
        JsonToPython(),
        Drop(condition=F.get_json_object("payload", "$.d").cast("boolean")),
    )
    p.add_join_nodes(FuncNode(lambda d: {"joined": True}, name="join1"))
    p.add_final_nodes(
        lambda df: df.withColumn("meta",
                                 F.map_concat(F.col("meta"),
                                              F.create_map(F.lit("final"), F.lit("1"))))
    )
    msgs = messages_from_payloads(spark, [{"d": False}, {"d": True}])
    res = p.run(msgs)
    assert payloads(res.df) == ['{"joined": true}']
    metas = [r["meta"] for r in res.all.collect()]
    assert all(m.get("final") == "1" for m in metas)


def test_error_skips_downstream(spark):
    # an errored row must not be transformed by later nodes
    p = Pipeline("t").add(
        RaiseError(message="always"),
        FuncNode(lambda d: {"should": "never"}, name="after"),
    )
    msgs = messages_from_payloads(spark, [{"x": 1}])
    res = p.run(msgs)
    assert res.df.count() == 0
    row = res.errors.collect()[0]
    assert row["payload"] == '{"x": 1}'
    assert row["err_msg"] == "always"


def test_inject_all_entry_points(spark):
    # channels.py:551-662: inject into init / main / end-node chains
    seen = []

    def tag(label):
        def fn(d, _l=label):
            return {**d, "via": d.get("via", []) + [_l]}
        return fn

    p = (
        Pipeline("t")
        .add(FuncNode(tag("main1"), name="main1"), FuncNode(tag("main2"), name="main2"))
        .add_init_nodes(FuncNode(tag("init1"), name="init1"), FuncNode(tag("init2"), name="init2"))
        .add_join_nodes(FuncNode(tag("join1"), name="join1"))
        .add_final_nodes(FuncNode(tag("final1"), name="final1"))
    )
    msgs = messages_from_payloads(spark, [{}])

    def via(out_df):
        return json.loads(out_df.select("payload").collect()[0]["payload"])["via"]

    # full handle: init → main → join → final
    assert via(p.inject(msgs).all) == ["init1", "init2", "main1", "main2", "join1", "final1"]
    # _initial bypasses init
    assert via(p.inject(msgs, "_initial").all) == ["main1", "main2", "join1", "final1"]
    # mid-main
    assert via(p.inject(msgs, "main2").all) == ["init1", "init2", "main2", "join1", "final1"]
    # mid-init
    assert via(p.inject(msgs, "init2").all) == ["init2", "main1", "main2", "join1", "final1"]
    # join-chain entry runs join then final, returns a DataFrame
    assert via(p.inject(msgs, "join1")) == ["join1", "final1"]
    # final-chain entry runs final only
    assert via(p.inject(msgs, "final1")) == ["final1"]


def test_quality_quarantine_routing(spark):
    # the data-quality surface composes with the Pipeline's state
    # routing: flag rows against rules, Reject the violators (state
    # REJECTED, like a DLQ quarantine), clean rows flow on processed
    from pyspark.sql import functions as F

    from pypeman_spark import Pipeline, messages_from_payloads
    from pypeman_spark.functions.quality import flag_violations
    from pypeman_spark.operators import Reject

    msgs = messages_from_payloads(
        spark,
        ['{"v": 5}', '{"v": -1}', '{"v": 9}', '{"oops": 1}'],
    )
    flagged = flag_violations(
        msgs,
        {
            "v_present": F.get_json_object("payload", "$.v").isNotNull(),
            "v_positive": F.get_json_object("payload", "$.v").cast("int") > 0,
        },
    )
    p = Pipeline("dq").add(
        Reject(
            condition=F.size("violations") > 0,
            message="quality violation",
            name="quarantine",
        )
    )
    with p.run(flagged) as res:
        counts = res.counts()
        assert counts == {"processed": 2, "rejected": 2}
        rej = res.all.filter(F.col("state") == "rejected").collect()
        assert all(r["err_msg"] == "quality violation" for r in rej)
