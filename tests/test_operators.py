"""Per-operator unit tests, mirroring the reference's node tests
(`pypeman/tests/test_nodes.py`, SURVEY §5)."""

import base64
import json

from pyspark.sql import functions as F

from pypeman_spark import Pipeline, messages_from_payloads
from pypeman_spark.operators import (
    B64Decode,
    B64Encode,
    CSVstr2Python,
    CombineCtx,
    Decode,
    Drop,
    Empty,
    EmptyMeta,
    Encode,
    HL7ToPython,
    JoinMapItem,
    JsonToPython,
    Map,
    MapItem,
    MsgFuncNode,
    Python2CSVstr,
    PythonToHL7,
    PythonToXML,
    Reject,
    SaveContext,
    SetCtx,
    ToOrderedDict,
    XMLToPython,
)


def run_one(spark, node, payload, meta=None, **msg_kw):
    p = Pipeline("t").add(node)
    msgs = messages_from_payloads(spark, [payload], meta=meta, **msg_kw)
    res = p.run(msgs)
    rows = res.all.collect()
    assert len(rows) == 1
    return rows[0]


def test_json_invalid_errors(spark):
    # test_nodes.py:243 test_json_to_python_node — bad input errors the row
    row = run_one(spark, JsonToPython(), "not json {")
    assert row["state"] == "error"
    assert "invalid JSON" in row["err_msg"]


def test_csv_str_roundtrip(spark):
    # contrib/csv.py fixtures: id,msg,ty with header (tests/data/csv_test_data.csv)
    text = "id,msg,ty\n1,msg1,ty1\n2,msg2,ty2\n3,msg3,ty3\n"
    row = run_one(spark, CSVstr2Python(headers=True, to_dict=True), text)
    data = json.loads(row["payload"])
    assert data == [
        {"id": "1", "msg": "msg1", "ty": "ty1"},
        {"id": "2", "msg": "msg2", "ty": "ty2"},
        {"id": "3", "msg": "msg3", "ty": "ty3"},
    ]
    # back to CSV
    back = run_one(spark, Python2CSVstr(header=True), row["payload"])
    assert back["payload"] == text


def test_csv_no_header_lists(spark):
    text = "1;a\n2;b\n"
    row = run_one(spark, CSVstr2Python(headers=False, delimiter=";"), text)
    assert json.loads(row["payload"]) == [["1", "a"], ["2", "b"]]


def test_xml_roundtrip(spark):
    xml = '<root attr="1"><item>a</item><item>b</item></root>'
    row = run_one(spark, XMLToPython(), xml)
    data = json.loads(row["payload"])
    assert data == {"root": {"@attr": "1", "item": ["a", "b"]}}
    back = run_one(spark, PythonToXML(), row["payload"])
    assert back["payload"] == xml


def test_hl7_roundtrip(spark):
    # shape of tests/data/hl7_test_data.HL7 (MSH + MSA ACK)
    hl7 = "MSH|^~\\&|LIS|Example|Hospital|Mirth|20111207||ACK^A01|A234244|P|2.3.1\rMSA|AA|234242|Message Received Successfully|\r"
    row = run_one(spark, HL7ToPython(), hl7)
    data = json.loads(row["payload"])
    assert data[0][0] == "MSH"
    assert data[0][8] == ["ACK", "A01"]
    assert data[1][1] == "AA"
    back = run_one(spark, PythonToHL7(), row["payload"])
    assert back["payload"] == hl7


def test_encode_decode_b64(spark):
    row = run_one(spark, Encode(), "héllo")
    assert row["payload"] == base64.b64encode("héllo".encode()).decode()
    assert row["content_type"] == "application/octet-stream"
    back = run_one(spark, Decode(), row["payload"])
    assert back["payload"] == "héllo"
    b = run_one(spark, B64Encode(), "data")
    assert b["payload"] == base64.b64encode(b"data").decode()
    d = run_one(spark, B64Decode(), b["payload"])
    assert d["payload"] == "data"


def test_map_items(spark):
    # nodes.py:752 Map: rename, default, transform, dotted paths, recopy
    node = Map(
        [
            MapItem("a", "renamed"),
            MapItem("missing", "with_default", default="dflt"),
            MapItem("b", "upper_b", transform=lambda v: v.upper()),
            MapItem("nested.x", "flat_x"),
        ],
        recopy=False,
    )
    row = run_one(spark, node, {"a": 1, "b": "low", "nested": {"x": "deep"}, "keep": 9})
    assert json.loads(row["payload"]) == {
        "renamed": 1,
        "with_default": "dflt",
        "upper_b": "LOW",
        "flat_x": "deep",
    }


def test_map_recopy(spark):
    node = Map([MapItem("a", "b")], recopy=True)
    row = run_one(spark, node, {"a": 1, "other": 2})
    assert json.loads(row["payload"]) == {"other": 2, "b": 1}


def test_join_map_item(spark):
    node = Map([JoinMapItem(["first", "last"], "full", sep=" ")])
    row = run_one(spark, node, {"first": "Ada", "last": "Lovelace"})
    assert json.loads(row["payload"]) == {"full": "Ada Lovelace"}


def test_to_ordered_dict(spark):
    node = ToOrderedDict(["x", "y", "z"], defaults={"z": 0})
    row = run_one(spark, node, {"y": 2, "x": 1, "extra": 99})
    assert list(json.loads(row["payload"]).items()) == [("x", 1), ("y", 2), ("z", 0)]


def test_msg_func_node_mutates_meta(spark):
    def fn(payload, meta):
        meta["seen"] = "yes"
        return {"n": payload["n"] * 2}, meta

    row = run_one(spark, MsgFuncNode(fn), {"n": 21})
    assert json.loads(row["payload"]) == {"n": 42}
    assert row["meta"]["seen"] == "yes"


def test_ctx_save_set_combine(spark):
    # contrib/ctx.py: save two snapshots, combine flattened
    p = Pipeline("t").add(
        SaveContext("orig"),
        Map([MapItem("a", "b")]),
        SaveContext("mapped"),
        CombineCtx(["orig", "mapped"], flatten=True),
    )
    msgs = messages_from_payloads(spark, [{"a": 1}])
    row = p.run(msgs).all.collect()[0]
    assert json.loads(row["payload"]) == {"a": 1, "b": 1}


def test_ctx_nested_combine_and_meta(spark):
    p = Pipeline("t").add(
        SaveContext("s1"),
        Map([MapItem("a", "x")]),
        SaveContext("s2"),
        CombineCtx(["s1", "s2"], flatten=False),
    )
    msgs = messages_from_payloads(spark, [{"a": 5}])
    row = p.run(msgs).all.collect()[0]
    assert json.loads(row["payload"]) == {"s1": {"a": 5}, "s2": {"x": 5}}


def _outcomes(res):
    return {
        json.dumps(json.loads(r["payload"]), sort_keys=True):
            (r["state"], r["err_msg"])
        for r in res.all.collect()
    }


def test_raising_condition_errors_only_its_row(spark):
    # a Python Drop/Reject condition that raises on one message sends
    # that message to error with its exception (channels.py:465-517);
    # the other messages route on
    for node, state in ((Drop(condition=lambda d: d["x"] > 1), "dropped"),
                        (Reject(condition=lambda d: d["x"] > 1), "rejected")):
        msgs = messages_from_payloads(spark, [{"x": 1}, {"y": 2}, {"x": 3}])
        res = Pipeline("t").add(node).run(msgs)
        assert _outcomes(res) == {
            '{"x": 1}': ("processed", None),
            '{"y": 2}': ("error", "KeyError: 'x'"),
            '{"x": 3}': (state, None),
        }
        assert res.counts() == {"processed": 1, "error": 1, state: 1}


def test_raising_condition_auto_retry_parks_its_row(spark):
    node = Drop(condition=lambda d: d["x"] > 1, name="d", auto_retry=True)
    msgs = messages_from_payloads(spark, [{"x": 1}, {"y": 2}, {"x": 3}])
    res = Pipeline("t").add(node).run(msgs)
    rows = {r["state"]: r for r in res.all.collect()}
    assert sorted(rows) == ["dropped", "processed", "wait_retry"]
    parked = rows["wait_retry"]
    assert json.loads(parked["payload"]) == {"y": 2}
    assert parked["retry_stage"] == "d"
    assert parked["err_msg"] == "KeyError: 'x'"


def test_combine_ctx_flatten_non_dict_errors_its_row(spark):
    # a context that cannot flatten errors its own row, and counts()
    # (which reads only `state`) agrees with the collected rows
    p = Pipeline("t").add(
        SaveContext("s1"),
        SaveContext("s2"),
        CombineCtx(["s1", "s2"], flatten=True),
    )
    msgs = messages_from_payloads(spark, [{"a": 1}, [1, 2]])
    res = p.run(msgs)
    assert _outcomes(res) == {
        '{"a": 1}': ("processed", None),
        "[1, 2]": ("error", "TypeError: flatten requires dict payloads"),
    }
    assert res.counts() == {"processed": 1, "error": 1}


def test_set_ctx_restores(spark):
    p = Pipeline("t").add(
        SaveContext("before"),
        Map([MapItem("a", "gone")]),
        SetCtx("before"),
    )
    msgs = messages_from_payloads(spark, [{"a": 7}])
    row = p.run(msgs).all.collect()[0]
    assert json.loads(row["payload"]) == {"a": 7}


def test_empty_meta_and_empty(spark):
    row = run_one(spark, EmptyMeta(), {"a": 1}, meta={"k": "v"})
    assert row["meta"] == {}
    row2 = run_one(spark, Empty(), {"a": 1}, meta={"k": "v"})
    assert row2["payload"] is None


def test_store_input_output_as(spark):
    # BaseNode store_input_as/store_output_as (nodes.py:114-115)
    node = Map([MapItem("a", "b")], store_input_as="inp", store_output_as="outp")
    row = run_one(spark, node, {"a": 3})
    assert json.loads(row["ctx"]["inp"]["payload"]) == {"a": 3}
    assert json.loads(row["ctx"]["outp"]["payload"]) == {"b": 3}


def test_passthrough(spark):
    # passthrough forwards input payload (nodes.py:227-229)
    node = Map([MapItem("a", "b")], passthrough=True)
    row = run_one(spark, node, {"a": 3})
    assert json.loads(row["payload"]) == {"a": 3}
