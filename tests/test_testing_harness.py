"""Tests for the user-pipeline test harness (PypeTestCase parity,
pypeman/test.py + nodes.py:244-343 mock hooks)."""

import json

from pyspark.sql import functions as F

from pypeman_spark import Pipeline, messages_from_payloads
from pypeman_spark.operators import FuncNode, Reject
from pypeman_spark.testing import mock_stage, observe_outcomes, spy_stage


def _pipe():
    return Pipeline("t").add(
        FuncNode(lambda d: {"n": d["n"] + 1}, name="incr"),
        FuncNode(lambda d: {"n": d["n"] * 10}, name="scale"),
    )


def test_mock_stage_output(spark):
    p = _pipe()
    with mock_stage(p, "scale", output_payload={"mocked": True}):
        res = p.run(messages_from_payloads(spark, [{"n": 1}]))
        assert json.loads(res.df.collect()[0]["payload"]) == {"mocked": True}
    # restored after the context
    res2 = p.run(messages_from_payloads(spark, [{"n": 1}]))
    assert json.loads(res2.df.collect()[0]["payload"]) == {"n": 20}


def test_mock_stage_passthrough(spark):
    p = _pipe()
    with mock_stage(p, "incr"):
        res = p.run(messages_from_payloads(spark, [{"n": 3}]))
        assert json.loads(res.df.collect()[0]["payload"]) == {"n": 30}


def test_spy_counts_rows(spark):
    p = _pipe()
    with spy_stage(p, "scale") as spy:
        res = p.run(messages_from_payloads(spark, [{"n": i} for i in range(7)]))
        res.df.collect()  # action drives the observation
        assert spy.processed == 7


def test_handle_and_wait(spark):
    # channels.py:399-405 synchronous one-message run
    row = _pipe().handle_and_wait(spark, {"n": 4})
    assert json.loads(row["payload"]) == {"n": 50}
    assert row["state"] == "processed"


def test_handle_and_wait_releases_shared_frames(spark, monkeypatch):
    # a handler chain shares the stage output across outcome arms; the
    # synchronous run releases it once the row is collected
    p = Pipeline("t").add(
        Reject(condition=F.col("payload").contains('"n": 4'), name="rej")
    ).add_reject_nodes(FuncNode(lambda d: {**d, "seen": True}, name="on_rej"))
    runs = []
    run = p.run
    monkeypatch.setattr(p, "run", lambda df: runs.append(run(df)) or runs[-1])
    row = p.handle_and_wait(spark, {"n": 4})
    assert row["state"] == "rejected"
    assert json.loads(row["payload"]) == {"n": 4, "seen": True}
    (res,) = runs
    assert len(res.cached) == 1
    for frame in (res.all, *res.cached):
        level = frame.storageLevel
        assert not (level.useMemory or level.useDisk)


def test_observe_outcomes(spark):
    p = _pipe()
    res = p.run(messages_from_payloads(spark, [{"n": 1}, {"n": 2}]))
    counts = observe_outcomes(res.all)
    assert counts["processed"] == 2
    assert counts["dropped"] == 0
