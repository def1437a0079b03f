"""Operator-exercising registry queries.

Unlike the expression-level queries in :mod:`.queries`, every entry here
drives the REAL operator / pipeline / store code paths — ``Pipeline.run``
with actual ``Node`` subclasses, ``MessageStore`` round-trips,
``RetryStore`` sweeps — over deterministic message frames derived from
the parquet corpus, then projects a deterministic result the DuckDB
oracle can reproduce. This is the driver-checked proof that the operator
*implementations* (not just their SQL equivalents) compute the reference
semantics (``/root/reference/pypeman/nodes.py``, ``channels.py``,
``contrib/*.py``).

Determinism rules: never output uuid/timestamp/id columns; bound inputs
by key ranges; JSON produced by the Arrow UDF layer uses
``json.dumps``'s default ``', '``/``': '`` separators, which the oracles
reproduce with string concatenation.
"""

from __future__ import annotations

import json
import os
import tempfile
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..message import MESSAGE_COLUMNS, ensure_message_columns, renew
from ..operators import (
    CSVstr2Python,
    CombineCtx,
    Drop,
    Empty,
    FileMover,
    FileReader,
    FileWriter,
    FuncNode,
    HL7ToPython,
    HttpRequest,
    Log,
    MsgFuncNode,
    Python2CSVstr,
    PythonToHL7,
    PythonToXML,
    RaiseError,
    Reject,
    SaveContext,
    Sleep,
    XMLToPython,
)
from ..pipeline import Pipeline
from ..sources.http_sidecar import hl7_ack_for_state
from ..store.msgstore import FileMessageStore
from ..store.retry import RetryStore
from ..streaming.drain import await_stream
from .queries import q, t


def _event_msgs(spark: SparkSession, sf_dir: str, limit: int = 300) -> DataFrame:
    """Message frame from events: payload = props JSON, meta.etype set,
    event_id/value carried as extra columns (they survive every node —
    nodes are pure column projections)."""
    ev = t(spark, sf_dir, "events").filter(F.col("event_id") < limit)
    msgs = ev.select(
        "event_id",
        "value",
        F.col("props").alias("payload"),
        F.create_map(F.lit("etype"), F.col("event_type")).alias("meta"),
    )
    return ensure_message_columns(msgs, channel="coverage")


# =====================================================================
# Parsers driven through real Node pipelines (SURVEY §2.B rows 13-19)
# =====================================================================

@q(
    "parser_pipeline_roundtrips",
    """
    SELECT 'csv' AS fmt, CAST(c_custkey AS BIGINT) AS key,
           '[["' || c_custkey || '", "' || c_name || '", "' || c_mktsegment
             || '"]]' AS stage_a,
           c_custkey || ',' || c_name || ',' || c_mktsegment || chr(10)
             AS stage_b
    FROM customer WHERE c_custkey < 200
    UNION ALL
    SELECT 'xml', CAST(n_nationkey AS BIGINT),
           '<nation key="' || n_nationkey || '"><name>' || n_name
             || '</name><region>' || n_regionkey || '</region></nation>',
           '{"nation": {"@key": "' || n_nationkey || '", "name": "' || n_name
             || '", "region": "' || n_regionkey || '"}}'
    FROM nation
    UNION ALL
    SELECT 'hl7', CAST(c_custkey AS BIGINT),
           '[["MSH", "PYPEMAN", "' || c_custkey || '"], ["PID", "1", "'
             || c_custkey || '", ["' || c_name || '", "' || c_mktsegment
             || '"]]]',
           'MSH|PYPEMAN|' || c_custkey || chr(13) || 'PID|1|' || c_custkey
             || '|' || c_name || '^' || c_mktsegment || chr(13)
    FROM customer WHERE c_custkey < 200
    UNION ALL
    SELECT 'ack', CAST(event_id AS BIGINT),
           CASE WHEN event_type = 'error' THEN 'error'
                WHEN event_type = 'purchase' THEN 'rejected'
                ELSE 'processed' END,
           'MSA|'
             || CASE WHEN event_type = 'error' THEN 'AE'
                     WHEN event_type = 'purchase' THEN 'AR'
                     ELSE 'AA' END
             || '|CID' || event_id || '|'
    FROM events WHERE event_id < 300
    """,
)
def parser_pipeline_roundtrips(spark, sf_dir):
    """Rows 13-19 in one labeled union (consolidated from the former
    csv/xml/hl7_pipeline_roundtrip entries so one driver sample checks
    all three parser families through real ``Pipeline.run`` chains):

    * ``csv`` — CSVstr2Python → Python2CSVstr (``contrib/csv.py:43-98``);
      ``stage_a`` is the parsed JSON row-list, ``stage_b`` the
      re-serialized line proving inversion.
    * ``xml`` — PythonToXML → XMLToPython (``contrib/xml.py:7-33``);
      attribute (``@key``) and child elements round-trip exactly.
    * ``hl7`` — HL7ToPython → PythonToHL7 (``contrib/hl7.py:189-211``);
      ``^`` components parse to nested lists and re-serialize exactly.
    * ``ack`` — rows 4/48 (consolidates the former hl7_ack_mapping
      entry): outcome state → MLLP HL7 ACK via the real
      :func:`hl7_ack_for_state` (``contrib/hl7.py:173-186``). The MSH
      segment embeds the wall clock, so the deterministic check targets
      the MSA segment with the per-row control id substituted in;
      ``stage_a`` carries the state, ``stage_b`` the MSA segment.
    """
    c = t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 200)
    n = t(spark, sf_dir, "nation")

    csv_msgs = c.select(
        "c_custkey",
        F.concat_ws(",", "c_custkey", "c_name", "c_mktsegment").alias("payload"),
    )
    csv_res = Pipeline("csv_rt").add(
        CSVstr2Python(headers=False, name="parse"),
        SaveContext("parsed"),
        Python2CSVstr(name="unparse"),
    ).run(csv_msgs)
    csv_out = csv_res.df.select(
        F.lit("csv").alias("fmt"),
        F.col("c_custkey").cast("bigint").alias("key"),
        F.col("ctx").getItem("parsed").getField("payload").alias("stage_a"),
        F.col("payload").alias("stage_b"),
    )

    xml_msgs = n.select(
        "n_nationkey",
        F.concat(
            F.lit('{"nation": {"@key": "'), F.col("n_nationkey"),
            F.lit('", "name": "'), F.col("n_name"),
            F.lit('", "region": "'), F.col("n_regionkey"),
            F.lit('"}}'),
        ).alias("payload"),
    )
    xml_res = Pipeline("xml_rt").add(
        PythonToXML(name="to_xml"),
        SaveContext("xml"),
        XMLToPython(name="to_dict"),
    ).run(xml_msgs)
    xml_out = xml_res.df.select(
        F.lit("xml").alias("fmt"),
        F.col("n_nationkey").cast("bigint").alias("key"),
        F.col("ctx").getItem("xml").getField("payload").alias("stage_a"),
        F.col("payload").alias("stage_b"),
    )

    hl7_msgs = c.select(
        "c_custkey",
        F.concat(
            F.lit("MSH|PYPEMAN|"), F.col("c_custkey"), F.lit("\r"),
            F.lit("PID|1|"), F.col("c_custkey"), F.lit("|"),
            F.col("c_name"), F.lit("^"), F.col("c_mktsegment"),
        ).alias("payload"),
    )
    hl7_res = Pipeline("hl7_rt").add(
        HL7ToPython(name="parse"),
        SaveContext("parsed"),
        PythonToHL7(name="unparse"),
    ).run(hl7_msgs)
    hl7_out = hl7_res.df.select(
        F.lit("hl7").alias("fmt"),
        F.col("c_custkey").cast("bigint").alias("key"),
        F.col("ctx").getItem("parsed").getField("payload").alias("stage_a"),
        F.col("payload").alias("stage_b"),
    )
    ev = t(spark, sf_dir, "events").filter(F.col("event_id") < 300)
    state = (
        F.when(F.col("event_type") == "error", "error")
        .when(F.col("event_type") == "purchase", "rejected")
        .otherwise("processed")
    )
    rows = ev.select("event_id", state.alias("state"))
    # build each state's ACK with the real function (control id slot is
    # MSH-10), keep its MSA segment, substitute the id per row JVM-side
    msh = ["MSH", "^~\\&", "APP", "FAC", "", "", "TS", "", "ACK", "CID$"]
    msa = {
        st: hl7_ack_for_state(st, msh_fields=msh).split("\r")[1]
        for st in ("error", "rejected", "processed")
    }

    def tmpl(st):
        head, tail = msa[st].split("CID$")
        return F.concat(F.lit(head + "CID"), F.col("event_id"), F.lit(tail))

    ack_out = rows.select(
        F.lit("ack").alias("fmt"),
        F.col("event_id").cast("bigint").alias("key"),
        F.col("state").alias("stage_a"),
        F.when(F.col("state") == "error", tmpl("error"))
        .when(F.col("state") == "rejected", tmpl("rejected"))
        .otherwise(tmpl("processed"))
        .alias("stage_b"),
    )
    return (
        csv_out.unionByName(xml_out).unionByName(hl7_out).unionByName(ack_out)
    )


# =====================================================================
# Generic python nodes (rows 10, 24, 25, 31, 49, 50)
# =====================================================================

_GENERIC_NODES_SQL = """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           2 * CAST(json_extract_string(props, '$.k') AS BIGINT) AS k2,
           CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 2 = 0
                THEN 'even' ELSE 'odd' END AS parity,
           upper(event_type) AS tag,
           event_type AS etype,
           '1' AS seen,
           CAST(NULL AS VARCHAR) AS wiped_payload,
           0 AS wiped_meta_n
    FROM events WHERE event_id < 300
    """


def generic_nodes_ctx_pipeline(spark, sf_dir):
    """Rows 10/24/25/26-28/29/31/49/50 in one chained pipeline + join
    (consolidates the former generic_nodes_pipeline /
    ctx_combine_pipeline entries — the ctx machinery now snapshots the
    REAL node chain instead of a bespoke rewrite):

    One ``Pipeline.run`` chains Log → SaveContext("orig") (payload+meta
    snapshot, ``nodes.py:114-115``) → FuncNode (Arrow-batched
    ``payload→payload``, ``nodes.py:976-1007``) → a ``passthrough=True``
    FuncNode whose mutation is discarded (``nodes.py:227-229``) →
    Sleep(0) → MsgFuncNode mutating payload AND meta from the whole
    message (``nodes.py:943-973``) → SaveContext("tagged") →
    CombineCtx(flatten, meta_from="tagged") dict-merging both snapshots
    (``contrib/ctx.py:10-76``): the original ``k`` survives only
    through the FIRST snapshot (the FuncNode replaced the payload) and
    ``k2``/``parity``/``tag`` only through the SECOND — proving the two
    snapshots are independent. A second run applies Empty
    (``nodes.py:390-393``) to the same frame; the join brings its wiped
    payload/meta alongside (size(meta)=0 ⇒ EmptyMeta semantics)."""
    msgs = _event_msgs(spark, sf_dir)
    p = Pipeline("gn").add(
        Log(name="log"),
        SaveContext("orig"),
        FuncNode(
            lambda d: {"k2": d["k"] * 2,
                       "parity": "even" if d["k"] % 2 == 0 else "odd"},
            name="derive",
        ),
        FuncNode(lambda d: {"clobbered": True}, passthrough=True, name="shadow"),
        Sleep(0.0, name="nap"),
        MsgFuncNode(
            lambda d, m: ({**d, "tag": m["etype"].upper()},
                          {**m, "seen": "1"}),
            name="tagger",
        ),
        SaveContext("tagged"),
        CombineCtx(["orig", "tagged"], flatten=True, meta_from="tagged",
                   name="combine"),
    )
    res = p.run(msgs)
    main = res.df.select(
        "event_id",
        F.get_json_object("payload", "$.k").cast("bigint").alias("k"),
        F.get_json_object("payload", "$.k2").cast("bigint").alias("k2"),
        F.get_json_object("payload", "$.parity").alias("parity"),
        F.get_json_object("payload", "$.tag").alias("tag"),
        F.col("meta").getItem("etype").alias("etype"),
        F.col("meta").getItem("seen").alias("seen"),
    )
    wiped = Pipeline("empty").add(Empty(name="wipe")).run(msgs).df.select(
        "event_id",
        F.col("payload").alias("wiped_payload"),
        F.size("meta").alias("wiped_meta_n"),
    )
    return main.join(wiped, "event_id")


# =====================================================================
# Routing through real nodes + end-node chains (rows 33-39, 51, 65)
# =====================================================================

_ROUTING_SQL = """
    WITH routed AS (
      SELECT event_id, event_type, value,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events WHERE event_id < 300
    )
    SELECT event_id,
           CASE WHEN k % 10 = 0 THEN 'dropped'
                WHEN event_type = 'click' THEN 'dropped'
                WHEN value > 250 THEN 'rejected'
                WHEN event_type = 'error' THEN 'error'
                ELSE 'processed' END AS state,
           CASE WHEN k % 10 = 0 OR event_type = 'click' THEN 'drop'
                WHEN value > 250 THEN 'reject'
                WHEN event_type = 'error' THEN 'fail'
                ELSE 'join' END AS chain,
           '1' AS final,
           CASE WHEN k % 10 = 0 THEN NULL
                WHEN event_type = 'click' THEN 'clicked'
                WHEN value > 250 THEN 'too big'
                WHEN event_type = 'error' THEN 'boom'
                ELSE NULL END AS err
    FROM routed
    """


def routing_nodes_end_chains(spark, sf_dir):
    """Rows 33/34/35/38/39/51/65: Drop with a *python-callable*
    condition (``nodes.py:54-62``), Drop/Reject with Column conditions,
    RaiseError inside a terminal ``when`` branch (``channels.py:354-369``),
    and all four outcome chains + final chain tagging rows
    (``channels.py:410-533``)."""
    msgs = _event_msgs(spark, sf_dir)
    tag = lambda name: MsgFuncNode(  # noqa: E731
        lambda d, m, _n=name: (d, {**m, "chain": _n}), name=f"tag_{name}"
    )
    p = (
        Pipeline("route")
        .add(
            Drop(condition=lambda payload: payload["k"] % 10 == 0,
                 name="drop_k10"),
            Drop(condition=F.col("meta").getItem("etype") == "click",
                 message="clicked", name="drop_clicks"),
            Reject(condition=F.col("value") > 250, message="too big",
                   name="rej_big"),
        )
        .when(
            F.col("meta").getItem("etype") == "error",
            RaiseError(message="boom", name="raise"),
            name="error_branch",
        )
    )
    p.add_join_nodes(tag("join"))
    p.add_drop_nodes(tag("drop"))
    p.add_reject_nodes(tag("reject"))
    p.add_fail_nodes(tag("fail"))
    p.add_final_nodes(
        MsgFuncNode(lambda d, m: (d, {**m, "final": "1"}), name="tag_final")
    )
    res = p.run(msgs)
    return res.all.select(
        "event_id",
        "state",
        F.col("meta").getItem("chain").alias("chain"),
        F.col("meta").getItem("final").alias("final"),
        F.col("err_msg").alias("err"),
    )


_INJECT_SQL = """
    SELECT 'batch' AS src, event_id AS key,
           2 * CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_out
    FROM events WHERE event_id < 300
    UNION ALL
    SELECT 'sync', i, (i + 10) * 2 FROM range(1, 6) t(i)
    """


def inject_and_wait(spark, sf_dir):
    """Rows 60/67 (consolidates the former inject_mid_chain /
    handle_and_wait_sync entries — both entry-point surfaces of the
    same two-node chain, so the contrast is itself the check):

    ``Pipeline.inject(at='double')`` enters the chain at a named node,
    skipping ``add_ten`` (``channels.py:551-662``) — batch rows come
    out as ``k*2``. ``Pipeline.handle_and_wait`` submits one payload
    through the FULL chain and blocks for the terminal row
    (``channels.py:1050-1080`` handle() await) — sync rows come out as
    ``(k+10)*2``. If inject failed to skip the head node (or wait
    entered mid-chain) the two arms would collide."""
    msgs = _event_msgs(spark, sf_dir)
    p = Pipeline("inj").add(
        FuncNode(lambda d: {"k": d["k"] + 10}, name="add_ten"),
        FuncNode(lambda d: {"k": d["k"] * 2}, name="double"),
    )
    res = p.inject(msgs, at="double")
    batch = res.df.select(
        F.lit("batch").alias("src"),
        F.col("event_id").cast("bigint").alias("key"),
        F.get_json_object("payload", "$.k").cast("bigint").alias("k_out"),
    )
    rows = []
    for n in range(1, 6):
        row = p.handle_and_wait(spark, {"k": n})
        rows.append((n, json.loads(row["payload"])["k"]))
    sync = spark.createDataFrame(rows, "key bigint, k_out bigint").select(
        F.lit("sync").alias("src"), "key", "k_out"
    )
    return batch.unionByName(sync)


_HTTP_ENRICH_SQL = """
    SELECT event_id,
           2 * CAST(json_extract_string(props, '$.k') AS BIGINT) AS k2,
           '200' AS status
    FROM events WHERE event_id < 300
    """


@q(
    "pipeline_control_suite",
    f"""
    SELECT 'routing' AS mode, event_id, state, chain, final, err,
           CAST(NULL AS BIGINT) AS k_out
    FROM ({_ROUTING_SQL}) r
    UNION ALL
    SELECT 'inject_' || src, key, CAST(NULL AS VARCHAR),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(NULL AS VARCHAR), k_out
    FROM ({_INJECT_SQL}) i
    UNION ALL
    SELECT 'http', event_id, CAST(NULL AS VARCHAR),
           CAST(NULL AS VARCHAR), status, CAST(NULL AS VARCHAR), k2
    FROM ({_HTTP_ENRICH_SQL}) h
    """,
)
def pipeline_control_suite(spark, sf_dir):
    """Composed Pipeline-control machinery (r7 consolidation of the
    former routing_nodes_end_chains + inject_and_wait entries —
    VERDICT r6 #7; each arm keeps its exact machinery and oracle, mode-
    tagged under one nullable schema):

    * ``routing`` — Drop (python-callable AND Column conditions),
      Reject, RaiseError in a terminal ``when`` branch, all four
      outcome chains + final tagging (rows 33-39/51/65);
    * ``inject_batch`` / ``inject_sync`` — ``Pipeline.inject(at=)``
      skipping the head node vs ``handle_and_wait`` through the full
      chain (rows 60/67) — the k*2 vs (k+10)*2 contrast;
    * ``http`` (r7 fold) — HttpRequest enrichment against a live local
      service: Arrow-batched outbound calls, templated params, JSON
      response into payload, status into meta (row 9)."""
    null_s = F.lit(None).cast("string")
    routing = routing_nodes_end_chains(spark, sf_dir).select(
        F.lit("routing").alias("mode"),
        "event_id", "state", "chain", "final", "err",
        F.lit(None).cast("bigint").alias("k_out"),
    )
    inject = inject_and_wait(spark, sf_dir).select(
        F.concat(F.lit("inject_"), F.col("src")).alias("mode"),
        F.col("key").alias("event_id"),
        null_s.alias("state"), null_s.alias("chain"),
        null_s.alias("final"), null_s.alias("err"),
        "k_out",
    )
    http = http_request_enrich(spark, sf_dir).select(
        F.lit("http").alias("mode"),
        "event_id",
        null_s.alias("state"), null_s.alias("chain"),
        F.col("status").alias("final"), null_s.alias("err"),
        F.col("k2").alias("k_out"),
    )
    return routing.unionByName(inject).unionByName(http)


# =====================================================================
# File lifecycle: write → read → move → read (rows 7, 43, 45)
# =====================================================================

_FORK_FILES_SQL = """
    SELECT doc_id, text AS content_in, text AS content_moved, 100 AS n_main
    FROM documents WHERE doc_id < 100 AND doc_id % 2 = 0
    """


def fork_write_read_move(spark, sf_dir):
    """Rows 7/37/43/45 in one file lifecycle (consolidates the former
    fork_side_effects / file_write_read_move entries — the fork's sink
    branch now PRODUCES the files the read/move chain consumes):

    ``Pipeline.fork`` (``channels.py:339-352``) sends a copy of the
    rows down a parallel sink chain — Drop(odd doc_ids) → FileWriter
    (templated path, safe rename, ``nodes.py:660-701``) — while the
    main chain continues with ALL rows untouched (``n_main`` proves the
    fork's Drop did not leak back). The even docs' files are then read
    via ``meta.filepath`` (FileReader, ``nodes.py:640-657``), moved
    (FileMover, ``nodes.py:704-723``), and re-read from the new
    location. ``localCheckpoint`` sequences the lazy readers against
    the eager file side effects."""
    tmp = tempfile.mkdtemp(prefix="pypeman_forkfiles_")
    in_dir, moved_dir = os.path.join(tmp, "in"), os.path.join(tmp, "moved")
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    msgs = ensure_message_columns(
        d.select(
            "doc_id",
            F.col("text").alias("payload"),
            F.create_map(
                F.lit("name"), F.col("doc_id").cast("string"),
                F.lit("filepath"),
                F.concat(F.lit(in_dir + "/"), F.col("doc_id"), F.lit(".txt")),
            ).alias("meta"),
        ),
        channel="files",
    )

    # fork: the side chain drops odd ids and writes one file per even
    # doc (eager inside run()); the main chain keeps every row
    p = (
        Pipeline("forked")
        .fork(
            Drop(condition=F.col("doc_id") % 2 == 1, name="keep_even"),
            FileWriter(os.path.join(in_dir, "%(meta.name)s.txt"), name="write"),
            name="side",
        )
        .add(Log(name="log"))
    )
    res = p.run(msgs)
    n_main = res.df.count()

    evens = msgs.filter(F.col("doc_id") % 2 == 0)
    read1 = Pipeline("read1").add(FileReader(name="read")).run(evens)
    frozen = read1.df.select(
        "doc_id", F.col("payload").alias("content_in")
    ).localCheckpoint()

    # move, then re-read from the new location
    Pipeline("move").add(FileMover(moved_dir, name="move")).run(evens)
    reread = ensure_message_columns(
        frozen.select(
            "doc_id",
            "content_in",
            F.create_map(
                F.lit("filepath"),
                F.concat(F.lit(moved_dir + "/"), F.col("doc_id"), F.lit(".txt")),
            ).alias("meta"),
        ),
        channel="files",
    )
    res2 = Pipeline("read2").add(FileReader(name="reread")).run(reread)
    return res2.df.select(
        "doc_id",
        "content_in",
        F.col("payload").alias("content_moved"),
        F.lit(n_main).cast("int").alias("n_main"),
    )


@q(
    "node_chain_file_suite",
    f"""
    SELECT 'nodes' AS mode, event_id AS key, k, k2, parity, tag, etype,
           seen, wiped_payload, wiped_meta_n,
           CAST(NULL AS VARCHAR) AS content_in,
           CAST(NULL AS VARCHAR) AS content_moved,
           CAST(NULL AS INTEGER) AS n_main
    FROM ({_GENERIC_NODES_SQL}) g
    UNION ALL
    SELECT 'files', doc_id, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER),
           content_in, content_moved, n_main
    FROM ({_FORK_FILES_SQL}) f
    """,
)
def node_chain_file_suite(spark, sf_dir):
    """Composed Pipeline node-chain machinery (r7 consolidation of the
    former generic_nodes_ctx_pipeline + fork_write_read_move entries —
    VERDICT r6 #7; both arms keep their exact machinery and oracle):

    * ``nodes`` — Log → SaveContext → FuncNode → passthrough FuncNode
      → Sleep → MsgFuncNode → SaveContext → CombineCtx, plus the Empty
      wipe join (rows 10/24-29/31/49/50);
    * ``files`` — Pipeline.fork sink branch (Drop + FileWriter) with
      the n_main isolation proof, then FileReader → FileMover →
      re-read (rows 7/37/43/45)."""
    null_s = F.lit(None).cast("string")
    null_l = F.lit(None).cast("bigint")
    null_i = F.lit(None).cast("int")
    nodes = generic_nodes_ctx_pipeline(spark, sf_dir).select(
        F.lit("nodes").alias("mode"),
        F.col("event_id").cast("bigint").alias("key"),
        "k", "k2", "parity", "tag", "etype", "seen",
        "wiped_payload",
        F.col("wiped_meta_n").cast("int").alias("wiped_meta_n"),
        null_s.alias("content_in"), null_s.alias("content_moved"),
        null_i.alias("n_main"),
    )
    files = fork_write_read_move(spark, sf_dir).select(
        F.lit("files").alias("mode"),
        F.col("doc_id").cast("bigint").alias("key"),
        null_l.alias("k"), null_l.alias("k2"),
        null_s.alias("parity"), null_s.alias("tag"),
        null_s.alias("etype"), null_s.alias("seen"),
        null_s.alias("wiped_payload"), null_i.alias("wiped_meta_n"),
        "content_in", "content_moved", "n_main",
    )
    return nodes.unionByName(files)


# =====================================================================
# Store lifecycle: store / change-state / delete / current
# (rows 32, 52, 57, 58)
# =====================================================================

_STORE_LIFECYCLE_SQL = """
    WITH base AS (
      SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
             CASE WHEN event_type = 'purchase' THEN 'processed'
                  ELSE 'pending' END AS state
      FROM events WHERE event_id < 200 AND event_type <> 'click'
    ),
    replays AS (
      SELECT event_type, k, 'processed' AS state
      FROM base WHERE event_type = 'error'
    )
    SELECT event_type AS etype, state, count(*) AS n,
           CAST(sum(k) AS BIGINT) AS sum_k
    FROM (SELECT * FROM base UNION ALL SELECT * FROM replays)
    GROUP BY event_type, state
    """


def store_lifecycle_replay(spark, sf_dir):
    """Rows 32/52/57/58/59 in one store lifecycle (consolidates the
    former store_lifecycle / replay_batch entries — the same machinery,
    run as the sequence an operator actually performs):

    FileMessageStore store → bulk ``change_message_states`` (purchases
    → processed) → per-id ``delete`` + bulk ``delete_many`` (clicks,
    ``msgstore.py:577-705``) → batch replay of the error-typed rows via
    ``get_for_replay``'s renew semantics (``message.py:80-90``): fresh
    ids, same payloads, re-entered through a pipeline and stored
    processed → ``current()`` state reconstruction aggregated per
    (etype, state) with a payload-fidelity checksum (sum of the JSON
    ``k`` field — a replay that corrupted payloads or re-used ids would
    break it)."""
    tmp = tempfile.mkdtemp(prefix="pypeman_storelr_")
    store = FileMessageStore(spark, tmp, channel="cov")
    msgs = _event_msgs(spark, sf_dir, limit=200)
    store.store(msgs)

    purchases = msgs.filter(F.col("meta").getItem("etype") == "purchase")
    store.change_message_states(
        purchases.withColumn("state", F.lit("processed"))
    )
    click_ids = [
        r["id"]
        for r in msgs.filter(F.col("meta").getItem("etype") == "click")
        .select("id").collect()
    ]
    store.delete(click_ids[0])          # per-id tombstone (row 58)
    store.delete_many(click_ids[1:])    # bulk path: one append for the rest

    # batch replay of the error-typed messages: renewed ids, same
    # payloads, re-run through a pipeline, stored as processed copies
    errors = store.current().filter(F.col("meta").getItem("etype") == "error")
    replayed = renew(errors.select(*MESSAGE_COLUMNS)).withColumn(
        "state", F.lit("pending")
    )
    res = Pipeline("replay").add(Log(name="log")).run(replayed)
    store.store(res.all, state="processed")

    return (
        store.current()
        .groupBy(
            F.col("meta").getItem("etype").alias("etype"),
            "state",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.get_json_object("payload", "$.k").cast("bigint")
            ).alias("sum_k"),
        )
    )


# =====================================================================
# Auto-retry + retry store sweep (rows 62, 63)
# =====================================================================

_AUTO_RETRY_SQL = """
    SELECT event_id,
           CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 5 = 0
                THEN 'wait_retry' ELSE 'processed' END AS first_state,
           'processed' AS final_state
    FROM events WHERE event_id < 200
    """


def auto_retry_sweep(spark, sf_dir):
    """Rows 62/63: ``auto_retry=True`` turns a transient failure into
    ``wait_retry`` tagged with the re-entry stage (``nodes.py:194-204``);
    ``RetryStore.retry_once`` re-runs the parked rows after the outage
    heals (``retry.py:13-240``). The outage is a missing marker file the
    sweep-time run can see."""
    import time as _time

    tmp = tempfile.mkdtemp(prefix="pypeman_retry_")
    marker = os.path.join(tmp, "service_up")

    def flaky(d, _marker=marker):
        if d["k"] % 5 == 0 and not os.path.exists(_marker):
            raise RuntimeError("service down")
        return d

    p = Pipeline("retry").add(FuncNode(flaky, auto_retry=True, name="flaky"))
    msgs = _event_msgs(spark, sf_dir, limit=200)
    res = p.run(msgs)
    first = res.all.select("event_id", *MESSAGE_COLUMNS).localCheckpoint()

    rs = RetryStore(spark, tmp, channel="coverage", retry_delay=0.0)
    rs.store_until_retry(
        first.filter(F.col("state") == "wait_retry").drop("event_id"), "flaky"
    )

    open(marker, "w").close()  # heal the service
    counts = rs.retry_once(p, now=_time.time() + 1)
    if counts["retried"] != counts["succeeded"] or not rs.is_empty():
        raise RuntimeError(f"retry sweep did not drain: {counts}")

    return first.select(
        "event_id",
        F.col("state").alias("first_state"),
        F.when(F.col("state") == "wait_retry", "processed")
        .otherwise(F.col("state"))
        .alias("final_state"),
    )


@q(
    "store_machinery_suite",
    f"""
    SELECT 'lifecycle' AS mode, etype, state, n, sum_k,
           CAST(NULL AS BIGINT) AS event_id,
           CAST(NULL AS VARCHAR) AS first_state,
           CAST(NULL AS VARCHAR) AS final_state
    FROM ({_STORE_LIFECYCLE_SQL}) l
    UNION ALL
    SELECT 'retry', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           event_id, first_state, final_state
    FROM ({_AUTO_RETRY_SQL}) r
    """,
)
def store_machinery_suite(spark, sf_dir):
    """Composed store-machinery drains (r7 consolidation of the former
    store_lifecycle_replay + auto_retry_sweep entries — VERDICT r6 #7;
    both arms keep their exact machinery and oracle):

    * ``lifecycle`` — FileMessageStore store → bulk state changes →
      per-id delete + delete_many → renew/replay → current()
      reconstruction with the Σk payload checksum (rows 32/52/57/58/59);
    * ``retry`` — auto_retry wait_retry tagging + RetryStore sweep
      draining after the outage heals (rows 62/63)."""
    null_s = F.lit(None).cast("string")
    null_l = F.lit(None).cast("bigint")
    lifecycle = store_lifecycle_replay(spark, sf_dir).select(
        F.lit("lifecycle").alias("mode"),
        "etype", "state", "n", "sum_k",
        null_l.alias("event_id"),
        null_s.alias("first_state"), null_s.alias("final_state"),
    )
    retry = auto_retry_sweep(spark, sf_dir).select(
        F.lit("retry").alias("mode"),
        null_s.alias("etype"), null_s.alias("state"),
        null_l.alias("n"), null_l.alias("sum_k"),
        F.col("event_id").cast("bigint").alias("event_id"),
        "first_state", "final_state",
    )
    return lifecycle.unionByName(retry)


# =====================================================================
# Synchronous request/response (rows 9, 67)
# =====================================================================

def http_request_enrich(spark, sf_dir):
    """Row 9: HttpRequest — Arrow-batched outbound calls with templated
    query params, JSON response → payload, status into meta
    (``contrib/http.py:185-374``). Target is a local deterministic
    compute service (the container has no egress); in local mode
    executor threads share the driver host."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
    from urllib.parse import parse_qsl, urlsplit

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            params = dict(parse_qsl(urlsplit(self.path).query))
            body = json.dumps({"k2": int(params["k"]) * 2}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):  # quiet
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()

    msgs = _event_msgs(spark, sf_dir)
    p = Pipeline("http").add(
        HttpRequest(
            url=f"http://127.0.0.1:{srv.server_port}/double",
            # params callables receive the RAW payload string + meta
            params={"k": lambda payload, meta: json.loads(payload)["k"]},
            json=True,
            name="fetch",
        )
    )
    res = p.run(msgs)
    return res.df.select(
        "event_id",
        F.get_json_object("payload", "$.k2").cast("bigint").alias("k2"),
        F.col("meta").getItem("status_code").alias("status"),
    )


# =====================================================================
# Structured Streaming end-to-end (rows 1, 64 + §1.4 event time)
# =====================================================================

# (streaming_window_counts was consolidated into
# scale_queries.py:ttl_dedup_window_counts in round 6 — the identical
# watermarked tumbling-window drain now runs downstream of the
# ttl_first_seen dedup stage, so one entry attests both.)


# =====================================================================
# Composed training-data cleaning pipeline (C4-style)
# =====================================================================

from ..functions import dedup as _D  # noqa: E402
from ..functions import text as _TX  # noqa: E402
from ..functions.layout import zvalue, zvalue_sql  # noqa: E402
from .queries import _MINHASH_SQL, _STOP_SQL, tp  # noqa: E402

_TRAINING_FILTER_SQL = (
    _MINHASH_SQL.replace("WITH words", "WITH RECURSIVE words", 1)
    + f"""
    , edges AS (
      SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_hash = b.band_hash
       AND a.doc_id <> b.doc_id
    ),
    reach(node, lab) AS (
      SELECT doc_id, doc_id FROM documents WHERE doc_id < 200
      UNION
      SELECT e.src, r.lab FROM edges e JOIN reach r ON r.node = e.dst
    ),
    clusters AS (
      SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node
    ),
    m AS (
      SELECT doc_id,
             length(text) AS n,
             length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS punct,
             len(string_split_regex(trim(text), '\\s+')) AS toks,
             len(regexp_extract_all(text, '(?i)\\b({_STOP_SQL["en"]})\\b')) AS s_en,
             len(regexp_extract_all(text, '(?i)\\b({_STOP_SQL["fr"]})\\b')) AS s_fr,
             len(regexp_extract_all(text, '(?i)\\b({_STOP_SQL["de"]})\\b')) AS s_de,
             len(regexp_extract_all(text, '(?i)\\b({_STOP_SQL["es"]})\\b')) AS s_es
      FROM documents WHERE doc_id < 200
    ),
    scored AS (
      SELECT doc_id, toks AS ws_tokens,
             round((least(n / 500.0, 1.0)
                  + greatest(0.0, 1.0 - (CASE WHEN n > 0 THEN punct::DOUBLE / n ELSE 0 END) * 4)
                  + least((CASE WHEN toks > 0 THEN s_en::DOUBLE / toks ELSE 0 END) * 5, 1.0)
                   ) / 3, 6) AS quality,
             CASE WHEN s_en > 0 AND s_en >= greatest(s_en, s_fr, s_de, s_es) THEN 'en'
                  WHEN s_fr > 0 AND s_fr >= greatest(s_en, s_fr, s_de, s_es) THEN 'fr'
                  WHEN s_de > 0 AND s_de >= greatest(s_en, s_fr, s_de, s_es) THEN 'de'
                  WHEN s_es > 0 AND s_es >= greatest(s_en, s_fr, s_de, s_es) THEN 'es'
                  ELSE 'und' END AS detected
      FROM m
    )
    SELECT s.doc_id, s.quality, s.ws_tokens
    FROM scored s JOIN clusters c ON c.doc_id = s.doc_id
    WHERE s.detected = 'en' AND s.quality >= 0.4
      AND s.ws_tokens BETWEEN 20 AND 5000
      AND s.doc_id = c.cluster_id
    """
)


def training_data_filter(spark, sf_dir):
    """The composed LLM-corpus cleaning pipeline, C4-style: language ID
    (keep en), quality threshold, token-count bounds, and near-dup
    removal keeping only each cluster's canonical document. One
    declarative plan: the metric stage is all codegen'd expressions over
    a single scan; dedup reuses the LSH candidate graph + connected
    components. At 100 TB every stage is shuffle-bounded by hash keys —
    document text never moves except into its own metric computation."""
    d = tp(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = _D.minhash_candidate_pairs(d, num_hashes=16, bands=4, shingle_n=3)
    clusters = _D.connected_components(
        pairs, nodes=d.select(F.col("doc_id").alias("node")),
        assume_canonical=True,
    )
    m = d.select(
        "doc_id",
        _TX.quality_score(F.col("text")).alias("quality"),
        _TX.detect_language(F.col("text")).alias("detected"),
        _TX.whitespace_token_count(F.col("text")).alias("ws_tokens"),
    )
    return (
        m.join(clusters, m["doc_id"] == clusters["node"])
        .filter(
            (F.col("detected") == "en")
            & (F.col("quality") >= 0.4)
            & F.col("ws_tokens").between(20, 5000)
            & (F.col("doc_id") == F.col("cluster_id"))
        )
        .select("doc_id", "quality", "ws_tokens")
    )


# =====================================================================
# ACID transaction table (store/txtable.py — beyond-reference storage:
# the mini Delta-protocol log closing the survey §7.4 "no ACID table"
# gap; reference stores are append-only, ``pypeman/msgstore.py``)
# =====================================================================

_TXTABLE_SQL = """
    WITH base AS (
      SELECT c_custkey, c_mktsegment AS segment,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
      FROM customer
    ), upserted AS (
      SELECT c_custkey, segment,
             CASE WHEN segment = 'BUILDING'
                  THEN bal_cents + 12345 ELSE bal_cents END AS bal_cents
      FROM base
    ), final AS (
      SELECT * FROM upserted WHERE c_custkey % 7 <> 0
    ), src AS (
      SELECT c_custkey, c_custkey % 100 AS delta
      FROM base WHERE segment = 'MACHINERY'
    ), porders AS (
      SELECT o_orderpriority AS prio, o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), p_final AS (
      SELECT prio, o_orderkey,
             CASE WHEN prio = '2-HIGH' THEN cents + 77
                  WHEN prio = '3-MEDIUM'
                       THEN -(o_orderkey % 1000) - 1
                  ELSE cents END AS cents
      FROM porders WHERE prio <> '1-URGENT'
    ), p_dv AS (
      SELECT * FROM p_final
      WHERE NOT (prio = '5-LOW' AND o_orderkey < 3000)
    ), p_dvu AS (
      SELECT prio, o_orderkey,
             CASE WHEN prio = '4-NOT SPECIFIED' AND o_orderkey < 5000
                  THEN cents + 5 ELSE cents END AS cents
      FROM p_dv
    ), p_dvm AS (
      SELECT prio, o_orderkey,
             CASE WHEN prio = '2-HIGH' AND o_orderkey % 10 = 0
                  THEN cents + 1000 ELSE cents END AS cents
      FROM p_dvu
      WHERE NOT (prio = '2-HIGH' AND o_orderkey % 40 = 0)
    ), p_dvr AS (
      SELECT prio, o_orderkey,
             CASE WHEN prio = '5-LOW' AND o_orderkey >= 45000
                  THEN -o_orderkey ELSE cents END AS cents
      FROM p_dvm
    ), merged AS (
      SELECT f.c_custkey, f.segment, f.bal_cents
      FROM final f WHERE f.c_custkey NOT IN (SELECT c_custkey FROM src)
      UNION ALL
      SELECT f.c_custkey, f.segment,
             CASE WHEN f.bal_cents > 0 THEN f.bal_cents + s.delta
                  ELSE f.bal_cents END AS bal_cents
      FROM final f JOIN src s USING (c_custkey)
      WHERE s.delta % 13 <> 0
      UNION ALL
      SELECT s.c_custkey, 'REINSERTED' AS segment, s.delta AS bal_cents
      FROM src s
      WHERE s.c_custkey NOT IN (SELECT c_custkey FROM final)
    )
    SELECT 'initial' AS arm, segment, count(*) AS n,
           CAST(sum(bal_cents) AS BIGINT) AS bal_cents
    FROM base GROUP BY segment
    UNION ALL
    SELECT 'final' AS arm, segment, count(*) AS n,
           CAST(sum(bal_cents) AS BIGINT) AS bal_cents
    FROM final GROUP BY segment
    UNION ALL
    SELECT 'cdc_insert' AS arm, segment, count(*) AS n,
           CAST(sum(bal_cents) AS BIGINT) AS bal_cents
    FROM base GROUP BY segment
    UNION ALL
    SELECT 'cdc_update_preimage' AS arm, segment, count(*) AS n,
           CAST(sum(bal_cents) AS BIGINT) AS bal_cents
    FROM base WHERE segment = 'BUILDING' GROUP BY segment
    UNION ALL
    SELECT 'cdc_update_postimage' AS arm, segment, count(*) AS n,
           CAST(sum(bal_cents) AS BIGINT) AS bal_cents
    FROM upserted WHERE segment = 'BUILDING' GROUP BY segment
    UNION ALL
    SELECT 'cdc_delete' AS arm, segment, count(*) AS n,
           CAST(sum(bal_cents) AS BIGINT) AS bal_cents
    FROM upserted WHERE c_custkey % 7 = 0 GROUP BY segment
    UNION ALL
    SELECT 'cdcs_insert' AS arm, segment, count(*) AS n,
           CAST(sum(bal_cents) AS BIGINT) AS bal_cents
    FROM base GROUP BY segment
    UNION ALL
    SELECT 'cdcs_update_preimage' AS arm, segment, count(*) AS n,
           CAST(sum(bal_cents) AS BIGINT) AS bal_cents
    FROM base WHERE segment = 'BUILDING' GROUP BY segment
    UNION ALL
    SELECT 'cdcs_update_postimage' AS arm, segment, count(*) AS n,
           CAST(sum(bal_cents) AS BIGINT) AS bal_cents
    FROM upserted WHERE segment = 'BUILDING' GROUP BY segment
    UNION ALL
    SELECT 'cdcs_delete' AS arm, segment, count(*) AS n,
           CAST(sum(bal_cents) AS BIGINT) AS bal_cents
    FROM upserted WHERE c_custkey % 7 = 0 GROUP BY segment
    UNION ALL
    SELECT 'skipping' AS arm, segment, count(*) AS n,
           CAST(sum(bal_cents) AS BIGINT) AS bal_cents
    FROM final WHERE bal_cents BETWEEN 100000 AND 400000
    GROUP BY segment
    UNION ALL
    SELECT 'merge2' AS arm, segment, count(*) AS n,
           CAST(sum(bal_cents) AS BIGINT) AS bal_cents
    FROM merged GROUP BY segment
    UNION ALL
    SELECT 'zcompact' AS arm, segment, count(*) AS n,
           CAST(sum(bal_cents) AS BIGINT) AS bal_cents
    FROM merged GROUP BY segment
    UNION ALL
    -- pdml_* arms (round 9): partitioned predicate DML recomputed
    -- relationally — partition-region delete (metadata-only on the
    -- Spark side), partition-scoped UPDATE, replaceWhere region
    -- overwrite, a partition-pruned scan, and the change feed the
    -- three DML commits must emit
    SELECT 'pdml_final' AS arm, prio AS segment, count(*) AS n,
           CAST(sum(cents) AS BIGINT) AS bal_cents
    FROM p_final GROUP BY prio
    UNION ALL
    SELECT 'pdml_scan' AS arm, prio AS segment, count(*) AS n,
           CAST(sum(cents) AS BIGINT) AS bal_cents
    FROM p_final WHERE prio = '2-HIGH' GROUP BY prio
    UNION ALL
    SELECT 'pdml_cdc_insert' AS arm, prio AS segment, count(*) AS n,
           CAST(sum(cents) AS BIGINT) AS bal_cents
    FROM porders GROUP BY prio
    UNION ALL
    SELECT 'pdml_cdc_delete' AS arm, prio AS segment, count(*) AS n,
           CAST(sum(cents) AS BIGINT) AS bal_cents
    FROM porders WHERE prio = '1-URGENT' GROUP BY prio
    UNION ALL
    SELECT 'pdml_cdc_update_preimage' AS arm, prio AS segment,
           count(*) AS n, CAST(sum(cents) AS BIGINT) AS bal_cents
    FROM porders WHERE prio IN ('2-HIGH', '3-MEDIUM') GROUP BY prio
    UNION ALL
    SELECT 'pdml_cdc_update_postimage' AS arm, prio AS segment,
           count(*) AS n, CAST(sum(cents) AS BIGINT) AS bal_cents
    FROM p_final WHERE prio IN ('2-HIGH', '3-MEDIUM') GROUP BY prio
    UNION ALL
    -- dv_* arms (round 10): deletion-vector delete of the low-key
    -- 5-LOW orders — snapshot after the merge-on-read delete, the
    -- newly-dead rows the change feed must report, and the snapshot
    -- again after compaction materializes the vectors (identical)
    SELECT 'dv_final' AS arm, prio AS segment, count(*) AS n,
           CAST(sum(cents) AS BIGINT) AS bal_cents
    FROM p_dv GROUP BY prio
    UNION ALL
    SELECT 'dv_cdc_delete' AS arm, prio AS segment, count(*) AS n,
           CAST(sum(cents) AS BIGINT) AS bal_cents
    FROM p_final WHERE prio = '5-LOW' AND o_orderkey < 3000
    GROUP BY prio
    UNION ALL
    SELECT 'dv_compact' AS arm, prio AS segment, count(*) AS n,
           CAST(sum(cents) AS BIGINT) AS bal_cents
    FROM p_dv GROUP BY prio
    UNION ALL
    -- dv_update_* arms (round 11): MERGE-ON-READ update — matched
    -- positions go dead in the vector, updated rows append, one
    -- atomic commit; the feed reconstructs update pre/postimages
    -- from the position diff joined with the new adds, and
    -- compaction again materializes the vectors away unchanged
    SELECT 'dv_update_final' AS arm, prio AS segment, count(*) AS n,
           CAST(sum(cents) AS BIGINT) AS bal_cents
    FROM p_dvu GROUP BY prio
    UNION ALL
    SELECT 'dv_update_cdc_update_preimage' AS arm, prio AS segment,
           count(*) AS n, CAST(sum(cents) AS BIGINT) AS bal_cents
    FROM p_dv WHERE prio = '4-NOT SPECIFIED' AND o_orderkey < 5000
    GROUP BY prio
    UNION ALL
    SELECT 'dv_update_cdc_update_postimage' AS arm, prio AS segment,
           count(*) AS n, CAST(sum(cents) AS BIGINT) AS bal_cents
    FROM p_dvu WHERE prio = '4-NOT SPECIFIED' AND o_orderkey < 5000
    GROUP BY prio
    UNION ALL
    SELECT 'dv_update_compact' AS arm, prio AS segment, count(*) AS n,
           CAST(sum(cents) AS BIGINT) AS bal_cents
    FROM p_dvu GROUP BY prio
    UNION ALL
    -- dv_merge_* arms (round 11): MERGE-ON-READ MERGE — clause-
    -- touched matched rows (conditional update, delete) go dead in
    -- the vectors, post-images append, untouched rows stay in place
    SELECT 'dv_merge_final' AS arm, prio AS segment, count(*) AS n,
           CAST(sum(cents) AS BIGINT) AS bal_cents
    FROM p_dvm GROUP BY prio
    UNION ALL
    SELECT 'dv_merge_cdc_delete' AS arm, prio AS segment,
           count(*) AS n, CAST(sum(cents) AS BIGINT) AS bal_cents
    FROM p_dvu WHERE prio = '2-HIGH' AND o_orderkey % 40 = 0
    GROUP BY prio
    UNION ALL
    SELECT 'dv_merge_cdc_update_preimage' AS arm, prio AS segment,
           count(*) AS n, CAST(sum(cents) AS BIGINT) AS bal_cents
    FROM p_dvu WHERE prio = '2-HIGH' AND o_orderkey % 10 = 0
          AND o_orderkey % 40 <> 0
    GROUP BY prio
    UNION ALL
    SELECT 'dv_merge_cdc_update_postimage' AS arm, prio AS segment,
           count(*) AS n, CAST(sum(cents) AS BIGINT) AS bal_cents
    FROM p_dvm WHERE prio = '2-HIGH' AND o_orderkey % 10 = 0
    GROUP BY prio
    UNION ALL
    -- dv_replace_* arms (round 11): MERGE-ON-READ region replace —
    -- straddler files' inside rows go dead in the vectors, the
    -- recomputed region appends; row set unchanged here so the feed
    -- is pure update pre/postimages
    SELECT 'dv_replace_final' AS arm, prio AS segment, count(*) AS n,
           CAST(sum(cents) AS BIGINT) AS bal_cents
    FROM p_dvr GROUP BY prio
    UNION ALL
    SELECT 'dv_replace_cdc_update_preimage' AS arm, prio AS segment,
           count(*) AS n, CAST(sum(cents) AS BIGINT) AS bal_cents
    FROM p_dvm WHERE prio = '5-LOW' AND o_orderkey >= 45000
    GROUP BY prio
    UNION ALL
    SELECT 'dv_replace_cdc_update_postimage' AS arm, prio AS segment,
           count(*) AS n, CAST(sum(cents) AS BIGINT) AS bal_cents
    FROM p_dvr WHERE prio = '5-LOW' AND o_orderkey >= 45000
    GROUP BY prio
    UNION ALL
    -- restore_* arms (round 11): RESTORE TO VERSION AS OF back to
    -- the pre-merge state (p_dvu): the restored snapshot IS p_dvu;
    -- the restore commit's feed is the p_dvr -> p_dvu diff — the
    -- merge's deleted rows return as inserts, the merge's and
    -- replace's updated rows revert as update pre/postimages
    SELECT 'restore_final' AS arm, prio AS segment, count(*) AS n,
           CAST(sum(cents) AS BIGINT) AS bal_cents
    FROM p_dvu GROUP BY prio
    UNION ALL
    SELECT 'restore_cdc_insert' AS arm, prio AS segment, count(*) AS n,
           CAST(sum(cents) AS BIGINT) AS bal_cents
    FROM p_dvu WHERE prio = '2-HIGH' AND o_orderkey % 40 = 0
    GROUP BY prio
    UNION ALL
    SELECT 'restore_cdc_update_preimage' AS arm, prio AS segment,
           count(*) AS n, CAST(sum(cents) AS BIGINT) AS bal_cents
    FROM p_dvr
    WHERE (prio = '2-HIGH' AND o_orderkey % 10 = 0
           AND o_orderkey % 40 <> 0)
       OR (prio = '5-LOW' AND o_orderkey >= 45000)
    GROUP BY prio
    UNION ALL
    SELECT 'restore_cdc_update_postimage' AS arm, prio AS segment,
           count(*) AS n, CAST(sum(cents) AS BIGINT) AS bal_cents
    FROM p_dvu
    WHERE (prio = '2-HIGH' AND o_orderkey % 10 = 0
           AND o_orderkey % 40 <> 0)
       OR (prio = '5-LOW' AND o_orderkey >= 45000)
    GROUP BY prio
    UNION ALL
    -- clone_* arms (round 11): shallow clone of the restored table
    -- (p_dvu), then clone-side DML — region delete of 3-MEDIUM plus
    -- a dv delete of low-key 2-HIGH rows; the SOURCE must still be
    -- p_dvu exactly
    SELECT 'clone_final' AS arm, prio AS segment, count(*) AS n,
           CAST(sum(cents) AS BIGINT) AS bal_cents
    FROM p_dvu
    WHERE prio <> '3-MEDIUM'
      AND NOT (prio = '2-HIGH' AND o_orderkey < 2000)
    GROUP BY prio
    UNION ALL
    SELECT 'clone_src_intact' AS arm, prio AS segment, count(*) AS n,
           CAST(sum(cents) AS BIGINT) AS bal_cents
    FROM p_dvu GROUP BY prio
    UNION ALL
    -- clone_guard_* arms (round 12): clone-aware source vacuum — a
    -- full-table source UPDATE orphans every file the clone borrows;
    -- with the clone's marker active the vacuum refuses them all, so
    -- the clone still reads the ORIGINAL every-5th-customer data
    -- while the source reads the updated balances
    SELECT 'clone_guard_final' AS arm, segment, count(*) AS n,
           CAST(sum(bal_cents) AS BIGINT) AS bal_cents
    FROM base WHERE c_custkey % 5 = 0 GROUP BY segment
    UNION ALL
    SELECT 'clone_guard_src' AS arm, segment, count(*) AS n,
           CAST(sum(bal_cents + 1) AS BIGINT) AS bal_cents
    FROM base WHERE c_custkey % 5 = 0 GROUP BY segment
    UNION ALL
    -- per-row Morton z-values (former zorder_values entry VERBATIM,
    -- reshaped into the suite's arm schema): proves the bit
    -- interleave engine-portable, next to the zcompact arm that runs
    -- it as the table's clustered-compaction sort key
    SELECT 'zorder' AS arm, CAST(event_id AS VARCHAR) AS segment,
           CAST(1 AS BIGINT) AS n,
           CAST(ZVALUE_EXPR AS BIGINT) AS bal_cents
    FROM events WHERE event_id < 2000
""".replace(
    "ZVALUE_EXPR",
    zvalue_sql("user_id", "CAST(floor(value) AS BIGINT)", 16),
)


@q("txtable_acid_suite", _TXTABLE_SQL)
def txtable_acid_suite(spark, sf_dir):
    """ACID table end-to-end through the REAL commit log: append all
    customers (one log version), MERGE-upsert the BUILDING segment with
    adjusted balances (bucket-scoped rewrite, last-write-wins by key),
    delete every 7th key, then read BOTH the final snapshot and a
    TIME-TRAVEL snapshot pinned at the append version — proving
    immutable-file snapshot isolation: the initial arm must reproduce
    the pre-merge table exactly even though later commits rewrote and
    removed its buckets' files. The cdc_* arms read the CHANGE DATA
    FEED over the whole history: the log-reconstructed per-commit
    diffs must classify every append row as insert, exactly the
    BUILDING rows as update pre/post images (the merge physically
    rewrites every cohabitant row in its buckets — rewrite noise must
    NOT appear), and the deleted keys as deletes carrying their
    post-merge values. The cdcs_* arms read the SAME feed as a
    Structured Streaming SOURCE (store/txtable_stream.py — Python Data
    Source API, offsets = commit versions, one Arrow diff task per
    touched (commit, bucket)) drained with availableNow into a memory
    sink: batch and streaming consumers of one history must agree
    exactly. The skipping arm reads a balance range through scan()'s
    footer-stats file pruner (data skipping must never drop a matching
    row). The merge2 arm is the general MERGE INTO: conditional update
    (t.bal + s.delta where t.bal > 0), conditional delete, and
    expression-built inserts for previously-deleted keys — the oracle
    recomputes the clause algebra relationally. Scale: merges rewrite
    only touched key-hash buckets (~min(M, B) of B), never the table;
    the feed diffs only each commit's own files; integer-cents sums
    are partial-agg-order-proof. The pdml_* arms (round 9) run the
    partitioned predicate-DML surface — partition-region
    delete_where (metadata-only), partition-scoped update_where,
    replace_where region overwrite, exact partition-pruned scan, and
    the change feed of all three — on a second table partitioned by
    o_orderpriority with partition ⊆ key (see the inline comment)."""
    from ..store import TxTable

    tmp = tempfile.mkdtemp(prefix="pypeman_txtable_")
    tx = TxTable(
        spark, os.path.join(tmp, "tbl"),
        key_cols=["c_custkey"], n_buckets=8,
    )
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    v_insert = tx.append(cust)
    tx.merge_upsert(
        cust.filter(F.col("segment") == "BUILDING")
        .withColumn("bal_cents", F.col("bal_cents") + F.lit(12345))
    )
    tx.delete_keys(cust.filter(F.col("c_custkey") % 7 == 0))

    def agg(df, arm):
        return df.groupBy("segment").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("bal_cents").alias("bal_cents"),
        ).select(F.lit(arm).alias("arm"), "segment", "n", "bal_cents")

    def cdc_arms(df, prefix):
        return (
            df.groupBy("_change_type", "segment")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("bal_cents").alias("bal_cents"),
            )
            .select(
                F.concat(F.lit(prefix), F.col("_change_type")).alias("arm"),
                "segment", "n", "bal_cents",
            )
        )

    # The CDC stream runs Python Data Source tasks; spawning their
    # Python workers can transiently fail on a loaded host ("Python
    # worker failed to connect back" — the JVM-side accept timeout is
    # a hard-coded constant, not configurable). The stream is a
    # deterministic availableNow drain of the full change feed from
    # version 0, so a clean restart (fresh memory sink + fresh
    # checkpoint) recomputes the identical result: retry the spawn
    # failure a bounded number of times instead of failing the entry.
    sink = None
    _spawn_err = None
    for _attempt in range(3):
        sink = f"txcdc_{uuid.uuid4().hex[:12]}"
        sq = (
            tx.stream_changes().writeStream.format("memory")
            .queryName(sink)
            .option("checkpointLocation", os.path.join(tmp, f"ckpt_{sink}"))
            .trigger(availableNow=True).start()
        )
        try:
            await_stream(sq, 120, "CDC stream drain")
            break
        except TimeoutError:
            raise  # a slow drain is not a spawn failure: never retried
        except Exception as e:  # StreamingQueryException
            msg = str(e)
            if "connect back" not in msg and "PYTHON_WORKER" not in msg:
                raise
            _spawn_err = e
            try:
                sq.stop()
            except Exception:
                pass
            time.sleep(2.0 * (_attempt + 1))
    else:
        raise _spawn_err
    # skipping arm: the range scan goes through the footer-stats file
    # pruner (scan() — the filter is re-applied, so the oracle proves
    # pruning never drops a matching row)
    skipping = agg(
        tx.scan(("bal_cents", "between", (100000, 400000))), "skipping"
    )
    # plans above fixed their immutable file lists at call time; the
    # general MERGE below (conditional update + delete + expression
    # insert, the Delta MERGE INTO shape) mutates only the log
    pre_merge2 = (
        agg(tx.snapshot(version=v_insert), "initial")
        .unionByName(agg(tx.snapshot(), "final"))
        .unionByName(cdc_arms(tx.table_changes(0), "cdc_"))
        .unionByName(cdc_arms(spark.table(sink), "cdcs_"))
        .unionByName(skipping)
    )
    tx.merge(
        cust.filter(F.col("segment") == "MACHINERY").select(
            "c_custkey", (F.col("c_custkey") % 100).alias("delta")
        ),
        when_matched_update={"bal_cents": "t.bal_cents + s.delta"},
        when_matched_delete="s.delta % 13 = 0",
        when_matched_condition="t.bal_cents > 0",
        when_not_matched_insert={
            "segment": F.lit("REINSERTED"), "bal_cents": "s.delta"
        },
    )
    merge2 = agg(tx.snapshot(), "merge2")
    # zcompact arm: OPTIMIZE-ZORDER analog — Morton-clustered
    # compaction on (c_custkey, bal_cents) must be exactly
    # row-preserving (oracle: the merged relation again)
    tx.compact(
        min_files=1, cluster_by=["c_custkey", "bal_cents"], zorder=True
    )
    zcompact = agg(tx.snapshot(), "zcompact")
    # zorder arm (r9 fold of the former zorder_values entry): per-row
    # Morton z-values over events, bit-identical to the oracle's SQL
    # interleave — proving the zcompact sort key engine-portable
    ev = t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    zorder = ev.select(
        F.lit("zorder").alias("arm"),
        F.col("event_id").cast("string").alias("segment"),
        F.lit(1).cast("long").alias("n"),
        zvalue(
            F.col("user_id"), F.floor(F.col("value")).cast("long"), 16
        ).alias("bal_cents"),
    )
    # pdml_* arms (round 9): partitioned predicate DML on a SECOND,
    # Hive-partitioned table (orders by o_orderpriority; partition ⊆
    # key, so writes scope to (partition, bucket)). delete_where on
    # the partition predicate is a METADATA-ONLY commit (whole files
    # provably inside the region drop unread), update_where rewrites
    # only the 2-HIGH files, replace_where atomically swaps the
    # 3-MEDIUM region for recomputed rows, and scan() prunes to the
    # 2-HIGH directories exactly. The pdml_cdc_* arms prove all three
    # DML commits feed the change log correctly: region deletes as
    # deletes, in-place updates and region replacement both as
    # noise-free update pre/post images.
    tx2 = TxTable(
        spark, os.path.join(tmp, "ptbl"),
        key_cols=["prio", "o_orderkey"], n_buckets=8,
        partition_by=["prio"],
    )
    po = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"), "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    tx2.append(po)
    tx2.delete_where(("prio", "=", "1-URGENT"))
    tx2.update_where({"cents": "cents + 77"}, ("prio", "=", "2-HIGH"))
    tx2.replace_where(
        po.filter(F.col("prio") == "3-MEDIUM").withColumn(
            "cents", (-(F.col("o_orderkey") % 1000) - 1).cast("long")
        ),
        ("prio", "=", "3-MEDIUM"),
    )

    def pagg(df, arm):
        return df.groupBy(F.col("prio").alias("segment")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("bal_cents"),
        ).select(F.lit(arm).alias("arm"), "segment", "n", "bal_cents")

    pdml = (
        pagg(tx2.snapshot(), "pdml_final")
        .unionByName(pagg(
            tx2.scan(("prio", "=", "2-HIGH")), "pdml_scan"
        ))
        .unionByName(
            tx2.table_changes(0)
            .groupBy("_change_type", F.col("prio").alias("segment"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("cents").alias("bal_cents"),
            )
            .select(
                F.concat(
                    F.lit("pdml_cdc_"), F.col("_change_type")
                ).alias("arm"),
                "segment", "n", "bal_cents",
            )
        )
    )
    # dv_* arms (round 10): MERGE-ON-READ delete — delete_where(
    # mode="dv") publishes the matching ROW POSITIONS as a cumulative
    # deletion-vector action in the commit log (a metadata-sized
    # commit; files too small for a vector to pay off escalate to the
    # copy-on-write rewrite, with identical semantics — which is
    # exactly what the oracle checks). dv_cdc_delete proves the feed
    # reports the newly-dead rows; dv_compact proves compaction
    # materializes the vector away without changing a single row.
    dv_from = tx2.version()
    tx2.delete_where(
        ("prio", "=", "5-LOW"), ("o_orderkey", "<", 3000), mode="dv",
    )
    dv_final = pagg(tx2.snapshot(), "dv_final")
    dv_cdc = (
        tx2.table_changes(dv_from)
        .groupBy("_change_type", F.col("prio").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("bal_cents"),
        )
        .select(
            F.concat(
                F.lit("dv_cdc_"), F.col("_change_type")
            ).alias("arm"),
            "segment", "n", "bal_cents",
        )
    )
    tx2.compact(min_files=99)  # only dv-carrying buckets qualify
    dv_compact = pagg(tx2.snapshot(), "dv_compact")
    # dv_update_* arms (round 11): merge-on-read UPDATE — matched
    # positions dead in the vector + updated rows appended in one
    # atomic commit (files too dead to vector escalate to
    # copy-on-write with identical semantics — the oracle checks
    # exactly that); the feed must report noise-free update
    # pre/postimages, and compaction materializes unchanged.
    dvu_from = tx2.version()
    tx2.update_where(
        {"cents": "cents + 5"},
        ("prio", "=", "4-NOT SPECIFIED"), ("o_orderkey", "<", 5000),
        mode="dv",
    )
    dv_update_final = pagg(tx2.snapshot(), "dv_update_final")
    dv_update_cdc = (
        tx2.table_changes(dvu_from)
        .groupBy("_change_type", F.col("prio").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("bal_cents"),
        )
        .select(
            F.concat(
                F.lit("dv_update_cdc_"), F.col("_change_type")
            ).alias("arm"),
            "segment", "n", "bal_cents",
        )
    )
    tx2.compact(min_files=99)
    dv_update_compact = pagg(tx2.snapshot(), "dv_update_compact")
    # dv_merge_* arms (round 11): merge-on-read MERGE — conditional
    # update + delete against the partitioned table; only the
    # clause-touched rows churn (dead positions + post-image adds),
    # untouched rows never leave their files.
    dvm_from = tx2.version()
    tx2.merge(
        po.filter(
            (F.col("prio") == "2-HIGH") & (F.col("o_orderkey") % 10 == 0)
        ).select("prio", "o_orderkey"),
        when_matched_update={"cents": "t.cents + 1000"},
        when_matched_delete="s.o_orderkey % 40 = 0",
        when_not_matched_insert=False,
        mode="dv",
    )
    dv_merge_final = pagg(tx2.snapshot(), "dv_merge_final")
    dv_merge_cdc = (
        tx2.table_changes(dvm_from)
        .groupBy("_change_type", F.col("prio").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("bal_cents"),
        )
        .select(
            F.concat(
                F.lit("dv_merge_cdc_"), F.col("_change_type")
            ).alias("arm"),
            "segment", "n", "bal_cents",
        )
    )
    # dv_replace_* arms (round 11): merge-on-read region replace —
    # the recomputed region appends, straddlers' inside rows go dead
    # in the vectors (full-inside files would still drop as pure
    # metadata). Row set unchanged by construction (the replacement
    # is the current region recomputed), so the feed carries pure
    # update pre/postimages.
    dvr_from = tx2.version()
    region = tx2.scan(
        ("prio", "=", "5-LOW"), ("o_orderkey", ">=", 45000)
    ).withColumn("cents", (-F.col("o_orderkey")).cast("long"))
    tx2.replace_where(
        region, ("prio", "=", "5-LOW"), ("o_orderkey", ">=", 45000),
        mode="dv",
    )
    dv_replace_final = pagg(tx2.snapshot(), "dv_replace_final")
    dv_replace_cdc = (
        tx2.table_changes(dvr_from)
        .groupBy("_change_type", F.col("prio").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("bal_cents"),
        )
        .select(
            F.concat(
                F.lit("dv_replace_cdc_"), F.col("_change_type")
            ).alias("arm"),
            "segment", "n", "bal_cents",
        )
    )
    # restore_* arms (round 11): RESTORE TABLE ... TO VERSION AS OF —
    # one metadata-only commit returns the table to the pre-merge
    # state (version dvm_from): the merge's dv-deleted rows come BACK
    # as feed inserts, the merge's and replace's updates revert as
    # noise-free update pre/postimages, and the restored snapshot
    # must equal the target version's relation exactly. The dv_* and
    # dv_replace_* DataFrames above fixed their immutable file lists
    # at call time, so the restore (log metadata only — no file is
    # deleted) cannot disturb them.
    rv = tx2.restore(dvm_from)
    restore_final = pagg(tx2.snapshot(), "restore_final")
    # clone_* arms (round 11): SHALLOW CLONE — a zero-copy table
    # whose log borrows the source's files by absolute path. The
    # clone then deletes a partition region and dv-deletes a key
    # range; clone_final proves borrowed reads + clone-side DML,
    # clone_src_intact proves the source (still the restored p_dvu
    # state) is untouched by everything the clone did.
    cl = tx2.clone(os.path.join(tmp, "ctbl"))
    cl.delete_where(("prio", "=", "3-MEDIUM"))  # metadata-only drop
    cl.delete_where(
        ("prio", "=", "2-HIGH"), ("o_orderkey", "<", 2000), mode="dv",
    )
    clone_final = pagg(cl.snapshot(), "clone_final")
    clone_src = pagg(tx2.snapshot(), "clone_src_intact")
    # clone_guard_* arms (round 12): clone-aware SOURCE VACUUM, on a
    # fresh pair so the real deletions the guard permits cannot
    # disturb earlier arms' pinned file lists. The source holds every
    # 5th customer, a shallow clone borrows ALL of its files, then a
    # full-table source UPDATE rewrites every file — the preimages
    # are unreferenced but removed AFTER the clone's snapshot, so
    # vacuum(grace_s=0) must refuse every one (the clone's marker is
    # active). clone_guard_final aggregates the CLONE after the
    # vacuum — the ORIGINAL balances, readable only if the guard
    # held; clone_guard_src proves the source's update landed
    # alongside.
    t3 = TxTable(
        spark, os.path.join(tmp, "gtbl"),
        key_cols=["c_custkey"], n_buckets=4,
    )
    t3.append(cust.filter(F.col("c_custkey") % 5 == 0))
    g3 = t3.clone(os.path.join(tmp, "gclone"))
    t3.update_where(
        {"bal_cents": "bal_cents + 1"}, ("c_custkey", ">=", 0)
    )
    t3.vacuum(grace_s=0.0)  # guarded: preimages pinned by g3's marker
    clone_guard = agg(g3.snapshot(), "clone_guard_final")
    clone_guard_src = agg(t3.snapshot(), "clone_guard_src")
    restore_cdc = (
        tx2.table_changes(rv - 1, rv)
        .groupBy("_change_type", F.col("prio").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("bal_cents"),
        )
        .select(
            F.concat(
                F.lit("restore_cdc_"), F.col("_change_type")
            ).alias("arm"),
            "segment", "n", "bal_cents",
        )
    )
    return (
        pre_merge2.unionByName(merge2)
        .unionByName(zcompact)
        .unionByName(zorder)
        .unionByName(pdml)
        .unionByName(dv_final)
        .unionByName(dv_cdc)
        .unionByName(dv_compact)
        .unionByName(dv_update_final)
        .unionByName(dv_update_cdc)
        .unionByName(dv_update_compact)
        .unionByName(dv_merge_final)
        .unionByName(dv_merge_cdc)
        .unionByName(dv_replace_final)
        .unionByName(dv_replace_cdc)
        .unionByName(restore_final)
        .unionByName(restore_cdc)
        .unionByName(clone_final)
        .unionByName(clone_src)
        .unionByName(clone_guard)
        .unionByName(clone_guard_src)
    )


# =====================================================================
# Exactly-once streaming APPEND sink (SURVEY §2.I; Delta txn-appId
# protocol). A REAL StreamingQuery drains a file source into a TxTable
# through foreach_batch_append, then the newest batch commit is
# removed from the checkpoint and the query restarted — Structured
# Streaming re-delivers that micro-batch with the SAME batch_id and
# data (file-source offsets are durable), and the sink's
# (app, batch_id) txn marker must make the re-delivery a provable
# no-op: identical row counts/sums AND an unchanged table version,
# both inside the oracle hash.
# =====================================================================

_STREAM_APPEND_SQL = """
    WITH src AS (
        SELECT event_type,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_id % 3 = 0
    )
    SELECT 'stream_final' AS arm, event_type AS segment,
           count(*) AS n, CAST(sum(cents) AS BIGINT) AS bal_cents
    FROM src GROUP BY event_type
    UNION ALL
    SELECT 'stream_redelivered' AS arm, event_type AS segment,
           count(*) AS n, CAST(sum(cents) AS BIGINT) AS bal_cents
    FROM src GROUP BY event_type
    UNION ALL
    SELECT 'stream_version_delta' AS arm, 'redelivery' AS segment,
           CAST(1 AS BIGINT) AS n, CAST(0 AS BIGINT) AS bal_cents
"""


@q("stream_append_exactly_once", _STREAM_APPEND_SQL)
def stream_append_exactly_once(spark, sf_dir):
    """Exactly-once append-only streaming sink: a real availableNow
    StreamingQuery over a parquet file source (maxFilesPerTrigger=1 →
    several micro-batches) lands every batch in a TxTable via
    ``foreach_batch_append`` (store/txtable.py). Re-delivery is forced
    the way a crashed job produces it — the newest entry in the
    checkpoint's ``commits/`` is deleted and the query restarted, so
    the engine replans that micro-batch from its durable offsets with
    the same batch_id — and the sink's (app, batch_id) txn marker must
    no-op it: the ``stream_redelivered`` arm re-aggregates the table
    (a duplicate append would double its counts and break the hash)
    and ``stream_version_delta`` pins the commit-log version delta
    across the redelivery at literal 0. Reference semantics: Delta
    Lake idempotent writes (txn appId/version); the reference engine's
    channels replay safely via message-store state
    (/root/reference/pypeman/channels.py process/replay), re-expressed
    here as table-level transaction markers."""
    from ..store import TxTable

    tmp = tempfile.mkdtemp(prefix="pypeman_streamappend_")
    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_id") % 3 == 0)
        .select(
            "event_id", "event_type",
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    srcdir = os.path.join(tmp, "src")
    ev.repartition(3).write.parquet(srcdir)
    schema = spark.read.parquet(srcdir).schema
    tx = TxTable(
        spark, os.path.join(tmp, "tbl"),
        key_cols=["event_id"], n_buckets=4,
    )
    ckpt = os.path.join(tmp, "ckpt")

    def drain():
        sq = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(srcdir)
            .writeStream
            .foreachBatch(tx.foreach_batch_append("ingest"))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        await_stream(sq, 600, "availableNow drain")

    drain()
    v1 = tx.version()

    def agg(df, arm):
        return df.groupBy(F.col("event_type").alias("segment")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("bal_cents"),
        ).select(F.lit(arm).alias("arm"), "segment", "n", "bal_cents")

    # snapshot() fixes its immutable file list at call time, so the
    # restart below cannot disturb this plan even if it (wrongly)
    # appended
    final = agg(tx.snapshot(), "stream_final")
    cdir = os.path.join(ckpt, "commits")
    last = max(int(n) for n in os.listdir(cdir) if n.isdigit())
    os.unlink(os.path.join(cdir, str(last)))
    try:
        # Hadoop's ChecksumFs keeps a .N.crc sidecar; a leftover one
        # makes the restart's commit rewrite fail on rename
        os.unlink(os.path.join(cdir, f".{last}.crc"))
    except OSError:
        pass
    drain()  # re-delivers batch `last` with identical data
    v2 = tx.version()
    redelivered = agg(tx.snapshot(), "stream_redelivered")
    delta = spark.range(1).select(
        F.lit("stream_version_delta").alias("arm"),
        F.lit("redelivery").alias("segment"),
        F.lit(1).cast("long").alias("n"),
        F.lit(v2 - v1).cast("long").alias("bal_cents"),
    )
    return final.unionByName(redelivered).unionByName(delta)


# =====================================================================
# Streaming corpus ingestion end-to-end (SURVEY §2.I; the streaming
# form of examples/incremental_corpus.py): a real availableNow query
# drains one parquet file per micro-batch through
# streaming/ingest.py:incremental_ingest_sink — within-batch exact
# dedup, near-dup probe against the PERSISTED MinHash index, survivors
# appended to corpus + index tables exactly-once. Batch k carries
# fresh synthetic docs (sha2-chunk words: novel shingles, text is a
# pure function of the ORIGINAL doc_id) and, for k>0, verbatim
# re-keyed copies of batch-0 docs that only the index can catch. The
# oracle needs no text: every original is ingested exactly once, every
# planted copy is caught, so the arms are pure doc_id arithmetic. A
# forced checkpoint re-delivery (newest commit deleted, stream
# restarted) must leave counts AND both tables' versions unchanged.
# =====================================================================

_STREAM_INGEST_SQL = """
    SELECT 'final_originals' AS arm, count(*) AS n,
           CAST(sum(doc_id) AS BIGINT) AS val
    FROM documents
    UNION ALL
    SELECT 'planted_arrived' AS arm, count(*) AS n,
           CAST(0 AS BIGINT) AS val
    FROM documents WHERE doc_id % 3 = 0 AND doc_id % 5 IN (1, 2)
    UNION ALL
    SELECT 'planted_survivors' AS arm, CAST(0 AS BIGINT) AS n,
           CAST(0 AS BIGINT) AS val
    UNION ALL
    SELECT 'index_rows' AS arm, 4 * count(*) AS n,
           count(*) AS val
    FROM documents
    UNION ALL
    SELECT 'versions_after_redelivery' AS arm, CAST(1 AS BIGINT) AS n,
           CAST(0 AS BIGINT) AS val
"""


@q("streaming_incremental_ingest", _STREAM_INGEST_SQL)
def streaming_incremental_ingest(spark, sf_dir):
    """Streaming day-2 corpus ingestion, gated end-to-end: three
    parquet files (mtime-ordered, one micro-batch each via
    maxFilesPerTrigger=1) drain through ``incremental_ingest_sink``
    (streaming/ingest.py). Batch k holds synthetic docs for original
    ids with ``doc_id % 3 == k`` — text is a deterministic function of
    the original id, so the planted copies in batches 1-2 (ids
    ``% 3 == 0 AND % 5 == k``, re-keyed +10M*k) are verbatim
    duplicates of batch-0-ingested docs that ONLY the persisted index
    can catch. Expected end state, all in the hash: every original
    ingested exactly once (count + id-sum), zero planted survivors,
    index rows = 4 bands x docs, and — after a forced checkpoint
    re-delivery of the last batch — both tables' commit versions
    unchanged (the sink's per-table txn markers no-op the replay).
    Reference semantics: pypeman channels replay without double-
    processing via store state (/root/reference/pypeman/channels.py);
    here the store state is the tables' txn map."""
    from ..store import TxTable
    from ..streaming.ingest import incremental_ingest_sink

    tmp = tempfile.mkdtemp(prefix="pypeman_streamingest_")
    ids = t(spark, sf_dir, "documents").select("doc_id")

    def synth(src_ids, new_id_col):
        words = [
            F.substring(
                F.sha2(
                    F.concat_ws(":", F.col("doc_id"), F.lit(j)), 256
                ),
                1, 8,
            )
            for j in range(20)
        ]
        return src_ids.select(
            new_id_col.cast("long").alias("doc_id"),
            F.concat_ws(" ", *words).alias("text"),
        )

    srcdir = os.path.join(tmp, "src")
    os.makedirs(srcdir)
    for k in range(3):
        b = synth(
            ids.filter(F.col("doc_id") % 3 == k), F.col("doc_id")
        )
        if k > 0:
            b = b.unionByName(synth(
                ids.filter(
                    (F.col("doc_id") % 3 == 0)
                    & (F.col("doc_id") % 5 == k)
                ),
                F.col("doc_id") + 10_000_000 * k,
            ))
        path = os.path.join(srcdir, f"b{k}.parquet")
        b.toPandas().to_parquet(path, index=False)
        os.utime(path, (1_000_000 + 10 * k, 1_000_000 + 10 * k))
    corpus = TxTable(
        spark, os.path.join(tmp, "corpus"),
        key_cols=["doc_id"], n_buckets=8,
    )
    index = TxTable(
        spark, os.path.join(tmp, "mh_index"),
        key_cols=["doc_id", "band"], n_buckets=8,
    )
    sink = incremental_ingest_sink(corpus, index)
    ckpt = os.path.join(tmp, "ckpt")

    def drain():
        sq = (
            spark.readStream
            .schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1).parquet(srcdir)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        await_stream(sq, 600, "availableNow drain")

    drain()
    v_corpus, v_index = corpus.version(), index.version()
    # forced re-delivery of the last micro-batch (crash-shaped): the
    # sink's txn markers must no-op both appends
    cdir = os.path.join(ckpt, "commits")
    last = max(int(n) for n in os.listdir(cdir) if n.isdigit())
    os.unlink(os.path.join(cdir, str(last)))
    try:
        os.unlink(os.path.join(cdir, f".{last}.crc"))
    except OSError:
        pass
    drain()
    snap = corpus.snapshot()
    originals = snap.filter(F.col("doc_id") < 10_000_000).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("val"),
    ).select(F.lit("final_originals").alias("arm"), "n", "val")
    planted_arrived = ids.filter(
        (F.col("doc_id") % 3 == 0) & (F.col("doc_id") % 5).isin(1, 2)
    ).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("planted_arrived").alias("arm"), "n",
        F.lit(0).cast("long").alias("val"),
    )
    planted_left = snap.filter(F.col("doc_id") >= 10_000_000).agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("doc_id"), F.lit(0)).alias("val"),
    ).select(F.lit("planted_survivors").alias("arm"), "n", "val")
    idx_rows = index.snapshot().agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("doc_id").alias("val"),
    ).select(F.lit("index_rows").alias("arm"), "n", "val")
    vdelta = spark.range(1).select(
        F.lit("versions_after_redelivery").alias("arm"),
        F.lit(1).cast("long").alias("n"),
        (
            F.lit(corpus.version() - v_corpus)
            + F.lit(index.version() - v_index)
        ).cast("long").alias("val"),
    )
    return (
        originals.unionByName(planted_arrived)
        .unionByName(planted_left)
        .unionByName(idx_rows)
        .unionByName(vdelta)
    )


# =====================================================================
# Index maintenance (SURVEY §2.I day-2 lifecycle): a corpus delete
# must cascade into the persisted MinHash index, or the retired doc's
# band rows suppress every future near-copy forever. Gates
# streaming/ingest.py:index_sync end-to-end: ingest originals, dv-
# delete a subset from the corpus, prune exactly their index rows
# (O(deleted): the candidate list is the deleted ids; decoy LIVE ids
# in the list must NOT be pruned), then a second batch carrying
# re-keyed verbatim copies of BOTH deleted docs (must be INGESTED —
# the ghost is gone) and live docs (must be suppressed — the real
# index rows remain). Texts are pure functions of the ORIGINAL id, so
# every arm is doc_id arithmetic the oracle reproduces without text.
# =====================================================================

_INDEX_SYNC_SQL = """
    SELECT 'live_originals' AS arm, count(*) AS n,
           CAST(sum(doc_id) AS BIGINT) AS val
    FROM documents WHERE doc_id % 3 = 0 AND doc_id % 5 <> 0
    UNION ALL
    SELECT 'reingested' AS arm, count(*) AS n,
           CAST(sum(doc_id + 10000000) AS BIGINT) AS val
    FROM documents WHERE doc_id % 15 = 0
    UNION ALL
    SELECT 'suppressed' AS arm, CAST(0 AS BIGINT) AS n,
           CAST(0 AS BIGINT) AS val
    UNION ALL
    SELECT 'pruned_ids' AS arm, count(*) AS n,
           CAST(0 AS BIGINT) AS val
    FROM documents WHERE doc_id % 15 = 0
    UNION ALL
    SELECT 'index_docs' AS arm, 4 * count(*) AS n, count(*) AS val
    FROM (
        SELECT doc_id FROM documents
        WHERE doc_id % 3 = 0 AND doc_id % 5 <> 0
        UNION ALL
        SELECT doc_id FROM documents WHERE doc_id % 15 = 0
    )
"""


@q("index_sync_reingest", _INDEX_SYNC_SQL)
def index_sync_reingest(spark, sf_dir):
    """Day-2 index maintenance, gated end-to-end (the missing piece of
    the ingestion lifecycle): batch 0 ingests synthetic docs for ids
    ``% 3 == 0`` through ``incremental_ingest_sink``; the ids
    ``% 15 == 0`` are then dv-deleted from the CORPUS and
    ``index_sync`` prunes exactly their index rows — the candidate
    list also carries live decoys (``% 15 == 3``) that the corpus
    anti-join must spare, so the returned prune count IS the deleted
    count (hash arm). Batch 1 re-keys verbatim copies: +10M for
    deleted originals (only prunable ghosts could suppress them →
    ingested), +20M for live originals (real index rows remain →
    suppressed). Reference basis: store retention
    (/root/reference/pypeman/msgstore.py apply_retention) — the same
    lifecycle applied to the dedup tier's index table."""
    from ..store import TxTable
    from ..streaming.ingest import incremental_ingest_sink, index_sync

    tmp = tempfile.mkdtemp(prefix="pypeman_idxsync_")
    ids = t(spark, sf_dir, "documents").select("doc_id")

    def synth(src_ids, new_id_col):
        words = [
            F.substring(
                F.sha2(
                    F.concat_ws(":", F.col("doc_id"), F.lit(j)), 256
                ),
                1, 8,
            )
            for j in range(20)
        ]
        return src_ids.select(
            new_id_col.cast("long").alias("doc_id"),
            F.concat_ws(" ", *words).alias("text"),
        )

    corpus = TxTable(
        spark, os.path.join(tmp, "corpus"),
        key_cols=["doc_id"], n_buckets=8,
    )
    index = TxTable(
        spark, os.path.join(tmp, "mh_index"),
        key_cols=["doc_id", "band"], n_buckets=8,
    )
    sink = incremental_ingest_sink(corpus, index)
    originals = ids.filter(F.col("doc_id") % 3 == 0)
    sink(synth(originals, F.col("doc_id")), 0)
    doomed = originals.filter(F.col("doc_id") % 5 == 0)
    corpus.delete_keys(doomed, mode="dv")
    pruned = index_sync(
        corpus, index,
        deleted_ids=doomed.unionByName(
            originals.filter(F.col("doc_id") % 5 == 3)  # live decoys
        ),
        bands=4,
    )
    sink(
        synth(doomed, F.col("doc_id") + 10_000_000).unionByName(
            synth(
                originals.filter(F.col("doc_id") % 5 == 1),
                F.col("doc_id") + 20_000_000,
            )
        ),
        1,
    )
    snap = corpus.snapshot()
    live_orig = snap.filter(F.col("doc_id") < 10_000_000).agg(
        F.count(F.lit(1)).alias("n"), F.sum("doc_id").alias("val"),
    ).select(F.lit("live_originals").alias("arm"), "n", "val")
    reingested = snap.filter(
        (F.col("doc_id") >= 10_000_000)
        & (F.col("doc_id") < 20_000_000)
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("doc_id"), F.lit(0)).alias("val"),
    ).select(F.lit("reingested").alias("arm"), "n", "val")
    suppressed = snap.filter(F.col("doc_id") >= 20_000_000).agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("doc_id"), F.lit(0)).alias("val"),
    ).select(F.lit("suppressed").alias("arm"), "n", "val")
    pruned_arm = spark.range(1).select(
        F.lit("pruned_ids").alias("arm"),
        F.lit(int(pruned)).cast("long").alias("n"),
        F.lit(0).cast("long").alias("val"),
    )
    idx_docs = index.snapshot().agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("doc_id").alias("val"),
    ).select(F.lit("index_docs").alias("arm"), "n", "val")
    return (
        live_orig.unionByName(reingested).unionByName(suppressed)
        .unionByName(pruned_arm).unionByName(idx_docs)
    )
