"""Seeded input generators for the three workloads.

Everything here is plain numpy/pyarrow: inputs are written as parquet
files before any timing starts, and the program under test only ever
receives those files. The same seed gives byte-identical inputs.

* :func:`message_table` — channel messages (id, uuid, timestamp,
  channel, content_type, payload, meta) with a seeded outcome mix.
* :func:`expected_outcome` — the plain-Python model of the benchmark
  pipeline, used by the ledgers that check the program's answers.
* :func:`write_registry_tables` — the ten TPC-H-style corpus tables the
  registry entries read, with the schemas and value domains of the
  repository's test corpus.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(2024, 1, 1)
SPAN_US = 30 * 86400 * 1_000_000  # timestamps spread over 30 days

_WORDS = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()

# outcome mix of generated messages (the rest are processed)
P_INVALID = 0.02
P_HEARTBEAT = 0.10
P_DOWN = 0.02
REJECT_ABOVE = 950  # v is uniform on 0..1000, so ~5% are rejected
N_USERS = 200


def _unique_offsets(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct microsecond offsets in the 30-day span, shuffled:
    every generated message has its own timestamp, so orderings on
    ``timestamp`` have no ties."""
    offs = np.sort(rng.integers(0, SPAN_US - n, n)) + np.arange(n)
    rng.shuffle(offs)
    return offs


def message_table(rng: np.random.Generator, n: int, first_n: int = 0,
                  channel: str = "esb", down: bool = True) -> pa.Table:
    """``n`` messages; ``payload.n`` numbers them from ``first_n``.

    Payloads are JSON objects of 0.25-1.5 KB; ~2% are truncated (invalid
    JSON), ~10% carry ``meta.kind=heartbeat``, ~5% have ``v > 950`` and,
    when ``down``, ~2% are addressed to a destination in outage."""
    offs = _unique_offsets(rng, n)
    vs = rng.integers(0, 1001, n)
    downs = (rng.random(n) < P_DOWN) if down else np.zeros(n, bool)
    invalid = rng.random(n) < P_INVALID
    heartbeat = rng.random(n) < P_HEARTBEAT
    users = rng.integers(0, N_USERS, n)
    pads = rng.integers(200, 1400, n)
    words = np.array(_WORDS)
    uuids = rng.integers(0, 2**63, (n, 2), dtype=np.int64)
    ids, uids, stamps, payloads, metas = [], [], [], [], []
    for i in range(n):
        ts = EPOCH + dt.timedelta(microseconds=int(offs[i]))
        uid = f"{uuids[i, 0]:016x}{uuids[i, 1]:016x}"
        ids.append(f"{ts:%Y%m%d_%H%M%S}{ts.microsecond // 1000:03d}_{uid}")
        uids.append(uid)
        stamps.append(ts)
        note = " ".join(words[rng.integers(0, len(words), pads[i] // 5)])
        body = {"n": int(first_n + i), "v": int(vs[i]),
                "down": int(downs[i]), "note": note[: int(pads[i])]}
        text = json.dumps(body)
        payloads.append(text[:-2] if invalid[i] else text)
        metas.append([("user", f"u{users[i]:03d}"),
                      ("kind", "heartbeat" if heartbeat[i] else "order")])
    return pa.table({
        "id": ids,
        "uuid": uids,
        "timestamp": pa.array(stamps, pa.timestamp("us")),
        "channel": [channel] * n,
        "content_type": ["application/json"] * n,
        "payload": payloads,
        "meta": pa.array(metas, pa.map_(pa.string(), pa.string())),
    })


def expected_outcome(payload: str, meta: dict, outage: bool) -> str:
    """Terminal state of one message through the benchmark pipeline
    (JsonToPython -> Drop(heartbeat) -> Reject(v>950) -> enrich ->
    PythonToJson); ``wait_retry`` when enrich hits the outage."""
    try:
        body = json.loads(payload)
    except ValueError:
        return "error"
    if meta.get("kind") == "heartbeat":
        return "dropped"
    if body["v"] > REJECT_ABOVE:
        return "rejected"
    if outage and body["down"]:
        return "wait_retry"
    return "processed"


def fails_again(n: int, sweep: int, seed: int) -> bool:
    """Whether parked message ``n`` fails again in retry sweep ``sweep``
    (a seeded ~30% share): the outage is lifted, but some destinations
    stay flaky."""
    return (n * 7919 + sweep * 104729 + seed * 31) % 10 < 3


def write_parquet(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


# -- registry corpus -------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]


def _days(rng, start: dt.datetime, n_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    days = rng.integers(0, n_days + 1, n).astype("timedelta64[D]")
    return pa.array(base + days.astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int) -> list[str]:
    return list(np.array(values)[rng.integers(0, len(values), n)])


def _documents(rng, n: int) -> pa.Table:
    """Random-word documents; ~5% are near-duplicates (an earlier
    document plus a ``dup`` token) and ~1% exact duplicates."""
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.06:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    langs = rng.choice(_LANGS, n, p=[0.44, 0.14, 0.14, 0.14, 0.14])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": list(langs),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    x = 0.15 * centers[labels] + rng.normal(0, 1 / np.sqrt(dim), (n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_registry_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write the ten corpus tables at scale factor ``sf`` to
    ``out_dir/<table>.parquet``; row counts follow the repository's
    test corpus (``lineitem`` = 6M x sf, ``events`` = 1M x sf)."""
    rng = np.random.default_rng(seed)
    n_c, n_s, n_p = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_o, n_e = int(1_500_000 * sf), int(1_000_000 * sf)
    n_l = 4 * n_o
    n_users = max(15, int(15_000 * sf))
    n_d, n_v = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_c), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_c), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_c),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_s), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_s), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_p), i64),
            "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, _ADJ, n_p),
                                                 _pick(rng, _NOUN, n_p))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
            "p_type": _pick(rng, _PTYPES, n_p),
            "p_size": pa.array(rng.integers(1, 51, n_p), i32),
            "p_retailprice": np.round(900 + (np.arange(n_p) % 1000) / 10, 1),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_o), i64),
            "o_custkey": pa.array(rng.integers(0, n_c, n_o), i64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_o),
            "o_totalprice": _money(rng, 1000, 500_000, n_o),
            "o_orderdate": _days(rng, dt.datetime(1995, 1, 1), 2404, n_o),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_o),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_o, n_l), i64),
            "l_partkey": pa.array(rng.integers(0, n_p, n_l), i64),
            "l_suppkey": pa.array(rng.integers(0, n_s, n_l), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_l), i32),
            "l_quantity": rng.integers(1, 51, n_l).astype(float),
            "l_extendedprice": _money(rng, 900, 105_000, n_l),
            "l_discount": _money(rng, 0, 0.1, n_l),
            "l_tax": _money(rng, 0, 0.08, n_l),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_l),
            "l_linestatus": _pick(rng, ["F", "O"], n_l),
            "l_shipdate": _days(rng, dt.datetime(1995, 1, 2), 2498, n_l),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_e), i64),
            "ts": pa.array(
                np.datetime64(EPOCH, "us")
                + np.sort(rng.integers(0, SPAN_US, n_e)).astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, n_users, n_e), i64),
            "event_type": _pick(rng, _EVENTS, n_e),
            "value": np.round(rng.exponential(50, n_e) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
        }),
        "documents": _documents(rng, n_d),
        "embeddings": _embeddings(rng, n_v),
    }
    for name, table in tables.items():
        write_parquet(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
