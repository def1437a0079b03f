"""audit_search: the admin read path over a real event log.

Set-up stores ``N_MSGS`` generated messages, then applies ``N_GENS``
seeded generations of ``change_message_states`` and store-meta events.
The timed part is a fixed seeded mix of ``ChannelRegistry`` calls, in
cycles of ten: six ``list_msgs`` (one of each search variant), three
lookups (``view_msg`` hit, ``preview_msg`` hit, ``view_msg`` miss) and
one ``replay_msg``. The first cycle is an untimed warm-up. Every answer
is compared with a plain-Python model of the store that follows the
same generations and replays.
"""

from __future__ import annotations

import datetime as dt
import os
import re
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa

from . import gen, registry
from .common import median, tail, timed_setups
from .esb import make_pipeline
from .trace import Tracer, catalyst_s

N_MSGS = 10_000
N_GENS = 3
GEN_SHARE = 0.3  # share of messages each generation touches
PAGE = 20
CYCLE = 10  # calls per cycle
MIN_CYCLES = 1  # timed cycles in every run; a traced run runs just these
N_CYCLES = 4  # generated timed cycles; the loop stops if it runs out
WARM_THREADS = 3  # the warm-up's reads only warm code paths: run them at once
CHANNEL = "audit"
CORES_PER_TASK = 1  # no Python worker: local[nproc]
_STATES = ["processed", "error", "rejected", "dropped"]
_END = dt.datetime.max  # replayed messages sort after every stored one


class Model:
    """Current store contents in plain Python: the reference answer for
    every admin call."""

    def __init__(self, table: pa.Table):
        cols = table.to_pydict()
        self.rows = [
            {"id": i, "ts": ts, "payload": p, "meta": dict(m),
             "state": "pending", "store_meta": {}}
            for i, ts, p, m in zip(cols["id"], cols["timestamp"],
                                   cols["payload"], cols["meta"])
        ]
        self.rows.sort(key=lambda r: r["ts"])
        self.by_id = {r["id"]: r for r in self.rows}
        self.replays = 0

    def apply(self, gen_table: pa.Table) -> None:
        for i, state, entries in zip(gen_table["id"].to_pylist(),
                                     gen_table["state"].to_pylist(),
                                     gen_table["__store_meta"].to_pylist()):
            row = self.by_id[i]
            row["state"] = state
            for e in entries:
                row["store_meta"].setdefault(e["key"], []).append(e["value"])

    def replay(self, msg_id: str) -> str:
        src = self.by_id[msg_id]
        outcome = gen.expected_outcome(src["payload"], src["meta"], outage=False)
        self.replays += 1
        self.rows.append({
            "id": None, "ts": _END, "seq": self.replays,
            "payload": src["payload"], "meta": src["meta"],
            "state": outcome, "store_meta": {},
        })
        return outcome

    @staticmethod
    def _vals(row, name):
        if name in row["store_meta"]:
            return row["store_meta"][name]
        v = row["meta"].get(name)
        return None if v is None else [v]

    def search(self, start=0, count=100, start_dt=None, end_dt=None,
               text=None, rtext=None, start_id=None, meta=None) -> list[dict]:
        rows = self.rows
        if start_dt is not None:
            lo = dt.datetime.fromisoformat(start_dt)
            rows = [r for r in rows if r["ts"] != _END and r["ts"] >= lo]
        if end_dt is not None:
            hi = dt.datetime.fromisoformat(end_dt)
            rows = [r for r in rows if r["ts"] != _END and r["ts"] <= hi]
        if text:
            rows = [r for r in rows if text in r["payload"]]
        if rtext:
            rx = re.compile(f"(?:{rtext})")
            rows = [r for r in rows if rx.match(r["payload"])]
        if start_id is not None:
            # a replay's id is minted at replay time: after any stored id
            rows = [r for r in rows if r["id"] is None or r["id"] > start_id]
        meta = dict(meta or {})
        order = meta.pop("order_by", None)
        for name, value in meta.items():
            rows = [r for r in rows if value in (self._vals(r, name) or ())]
        if order is not None:
            name = order.lstrip("-")

            def key(r):
                vals = r["store_meta"].get(name)
                return vals[0] if vals else r["meta"].get(name, "")

            rows = sorted(rows, key=key, reverse=order.startswith("-"))
        else:
            rows = sorted(rows, key=lambda r: (r["ts"], r.get("seq", 0)))
        return rows[start:start + count]


def _as_listed(row: dict) -> dict:
    return {"timestamp": str(row["ts"]), "state": row["state"],
            "payload": row["payload"], "meta": row["meta"]}


def _same_rows(got: list[dict], want: list[dict], unordered_key=None) -> bool:
    if len(got) != len(want):
        return False
    if unordered_key is not None:
        # ties in a meta sort may come back in any order: compare the
        # sort keys, then each returned row against its stored twin
        return sorted(map(unordered_key, got)) == sorted(
            map(unordered_key, want))
    for g, w in zip(got, want):
        if w["id"] is None:  # a replayed copy: its id and time are new
            if (g["payload"], g["state"], g["meta"]) != (
                    w["payload"], w["state"], w["meta"]):
                return False
        elif g != dict(_as_listed(w), id=w["id"]):
            return False
    return True


def _variant(k: int, rng, ids: list[str]) -> dict:
    """Search arguments of list variant ``k`` (six variants)."""
    if k == 0:  # offset page
        return {"start": int(rng.integers(0, N_MSGS // 2)), "count": PAGE}
    if k == 1:  # date window + text
        d = int(rng.integers(1, 27))
        return {"start_dt": f"2024-01-{d:02d} 00:00:00",
                "end_dt": f"2024-01-{d + 2:02d} 00:00:00",
                "text": f'"v": {int(rng.integers(10, 100))}'}
    if k == 2:  # anchored regex
        return {"rtext": f'\\{{"n": {int(rng.integers(1, 100))}', "count": PAGE}
    if k == 3:  # store-meta / meta exact
        return {"meta": {"user": f"u{int(rng.integers(0, gen.N_USERS)):03d}"},
                "count": PAGE}
    if k == 4:  # keyset pagination
        return {"start_id": ids[int(rng.integers(0, len(ids)))], "count": PAGE}
    return {"meta": {"order_by": "-user"}, "count": PAGE}  # meta ordering


def _schedule(rng, ids: list[str], cycles: int) -> list[tuple]:
    ops = []
    for _ in range(cycles):
        cycle = [("list", k, _variant(k, rng, ids)) for k in range(6)]
        pick = lambda: ids[int(rng.integers(0, len(ids)))]  # noqa: E731
        cycle += [("view", 0, pick()), ("preview", 0, pick()),
                  ("view", 1, f"20240101_000000000_{int(rng.integers(1 << 62)):032x}"),
                  ("replay", 0, pick())]
        ops += [cycle[j] for j in rng.permutation(len(cycle))]
    return ops


def _generations(rng, ids: list[str]) -> list[pa.Table]:
    smeta = pa.list_(pa.struct([("key", pa.string()), ("value", pa.string())]))
    out = []
    for _ in range(N_GENS):
        chosen = rng.choice(len(ids), int(GEN_SHARE * len(ids)), replace=False)
        states = np.array(_STATES)[rng.integers(0, len(_STATES), len(chosen))]
        users = rng.integers(0, gen.N_USERS, len(chosen))
        out.append(pa.table({
            "id": [ids[j] for j in chosen],
            "state": list(states),
            "__store_meta": pa.array(
                [[{"key": "user", "value": f"u{u:03d}"}] for u in users], smeta),
        }))
    return out


def run(ctx) -> dict:
    from pypeman_spark.plans.admin import ChannelRegistry
    from pypeman_spark.sources.tables import load_table
    from pypeman_spark.store import FileMessageStore

    rng = np.random.default_rng(ctx.seed)
    inputs = os.path.join(ctx.work, "inputs")
    table = gen.message_table(rng, N_MSGS, channel=CHANNEL, down=False)
    gen.write_parquet(table, os.path.join(inputs, "messages.parquet"))
    gens = _generations(rng, table["id"].to_pylist())
    for g, t in enumerate(gens):
        gen.write_parquet(t, os.path.join(inputs, f"gen_{g}.parquet"))
    model = Model(table)
    for t in gens:
        model.apply(t)
    ids = sorted(model.by_id)
    schedule = _schedule(rng, ids, cycles=1 + N_CYCLES)
    store_dir = os.path.join(ctx.work, "store")
    build_s = []

    def build():
        spark = ctx.session.start()
        ms = FileMessageStore(spark, store_dir, CHANNEL)
        if not build_s:  # the store is built once, in the first set-up
            t0 = time.perf_counter()
            ms.store(load_table(spark, inputs, "messages"))
            for g in range(N_GENS):
                ev = load_table(spark, inputs, f"gen_{g}")
                ms.change_message_states(ev)
                ms.add_meta_from_messages(ev)
            build_s.append(time.perf_counter() - t0)
        pipe = make_pipeline()
        reg = ChannelRegistry(spark)
        reg.register(CHANNEL, pipe, ms)
        return spark, reg, ms, pipe

    setups, (spark, reg, ms, pipe) = timed_setups(build)
    # set-up: the median Spark start plus the one store build
    setups[0] -= build_s[0]
    # warm-up: the first cycle, untimed and checked; its reads run
    # concurrently, then its replay
    warm, timed = schedule[:CYCLE], schedule[CYCLE:]
    t0 = time.perf_counter()
    reads = [op for op in warm if op[0] != "replay"]
    with ThreadPoolExecutor(WARM_THREADS) as pool:
        answers = list(pool.map(lambda op: _call(reg, op[0], op[2]), reads))
    failed = sum(not _check(ctx, model, kind, k, arg, got)
                 for (kind, k, arg), got in zip(reads, answers))
    failed += sum(not _check(ctx, model, kind, k, arg, _call(reg, kind, arg))
                  for kind, k, arg in warm if kind == "replay")
    warmup_s = time.perf_counter() - t0
    ctx.session.gc_delta_s()
    state_size = _state_size(os.path.join(store_dir, CHANNEL))

    tracer = Tracer(spark)
    if ctx.trace:
        for m in ("list_msgs", "view_msg", "preview_msg", "replay_msg"):
            tracer.wrap(reg, m, f"plans.admin.{m}")
        tracer.wrap(ms, "search", "store.msgstore.search",
                    on_result=lambda sp, df: sp.attrs.update(df=df))
        for m in ("get", "get_preview_str", "get_for_replay", "store",
                  "change_message_states"):
            tracer.wrap(ms, m, f"store.msgstore.{m}")
        tracer.wrap(pipe, "run", "pipeline.run")

    lat: dict[str, list[float]] = {}
    pairs = []  # traced run: (traced s, untraced s) of each list_msgs
    attempted = len(warm)
    t_start = time.perf_counter()
    deadline = t_start + ctx.seconds
    for c in range(N_CYCLES):
        # an untraced run measures for --seconds in whole cycles, but
        # never fewer than MIN_CYCLES
        if c >= MIN_CYCLES and (ctx.trace or time.perf_counter() >= deadline):
            break
        for kind, k, arg in timed[c * CYCLE:(c + 1) * CYCLE]:
            # a traced run traces every call, and runs each list_msgs a
            # second time untraced, alternating which goes first: the
            # pairs give the tracing overhead
            order = [ctx.trace]
            if ctx.trace and kind == "list":
                order = [True, False] if len(pairs) % 2 == 0 else [False, True]
            took = {}
            for traced in order:
                tracer.on = traced
                t0 = time.perf_counter()
                with tracer.span(f"op.{kind}") as op:
                    got = _call(reg, kind, arg)
                took[traced] = time.perf_counter() - t0
                tracer.on = False
                lat.setdefault(kind, []).append(took[traced])
                attempted += 1
                failed += not _check(ctx, model, kind, k, arg, got)
                if traced and kind == "list":
                    search = tracer.under(op, "store.msgstore.search")
                    op.attrs["catalyst_s"] = sum(
                        catalyst_s(s.attrs["df"]) for s in search)
            if len(took) == 2:
                pairs.append((took[True], took[False]))
    wall = time.perf_counter() - t_start
    gc_s = ctx.session.gc_delta_s()

    lookups = lat["view"] + lat["preview"]
    n_ops = sum(len(v) for v in lat.values())
    detail = {
        "warmup_s": warmup_s,
        "audit.calls_per_s": n_ops / wall,
        "audit.search_p50_s": median(lat["list"]),
        "audit.search_tail": tail(lat["list"]),
        "audit.lookup_p50_s": median(lookups),
        "audit.replay_p50_s": median(lat["replay"]),
        "latencies_s": lat,
        "state": state_size,
    }
    result = {
        "attempted": attempted,
        "failed": failed,
        "setup_s": median(setups) + build_s[0],
        "setup_runs_s": setups,
        "e2e": {
            "throughput": n_ops / wall,
            "main_p50_s": median(lat["list"]),
        },
        "detail": detail,
        "gc_s": gc_s,
    }
    if ctx.trace:
        # the traced run also profiles the registry layer
        prof = registry.profile(ctx, spark, tracer)
        result["attempted"] += prof["attempted"]
        result["failed"] += prof["failed"]
        detail["registry"] = prof["detail"]
        result["trace"] = lambda cost: {
            **_layers(tracer, cost, pairs, state_size), **prof["layers"](cost)}
    return result


def _call(reg, kind: str, arg):
    if kind == "list":
        return reg.list_msgs(CHANNEL, **arg)
    if kind == "view":
        return reg.view_msg(CHANNEL, arg)
    if kind == "preview":
        return reg.preview_msg(CHANNEL, arg)
    return reg.replay_msg(CHANNEL, arg)


def _check(ctx, model: Model, kind: str, k: int, arg, got) -> bool:
    ok = _matches(model, kind, k, arg, got)
    if not ok:
        ctx.log(f"audit: {kind} {arg} answer differs from the model")
    return ok


def _matches(model: Model, kind: str, k: int, arg, got) -> bool:
    if kind == "list":
        want = model.search(**arg)
        key = None
        if k == 5:
            def key(r):
                row = model.by_id.get(r.get("id"))
                sm = row["store_meta"].get("user") if row else None
                return sm[0] if sm else r["meta"].get("user", "")
        return _same_rows(got, want, unordered_key=key)
    if kind == "view":
        row = model.by_id.get(arg)
        return got == (None if row is None else dict(_as_listed(row), id=arg))
    if kind == "preview":
        return got == model.by_id[arg]["payload"][:1000]
    return got == {"replayed": arg, "outcomes": [model.replay(arg)]}


def _state_size(base: str) -> dict:
    import pyarrow.parquet as pq

    files = rows = 0
    for dirpath, _dirs, names in os.walk(base):
        parquet = [n for n in names if n.endswith(".parquet")]
        files += len(parquet)
        if os.path.basename(dirpath) == "events":
            rows += sum(pq.ParquetFile(os.path.join(dirpath, n)).metadata.num_rows
                        for n in parquet)
    return {"files": files, "event_rows": rows}


# the per-layer metrics _layers reports (with registry.LAYER_METRICS);
# every other one in BENCHMARK.json is a layer this workload never calls
LAYER_METRICS = (
    "msgstore.search_build_s", "audit.catalyst_s", "audit.search_exec_s",
    "audit.jobs_per_search", "audit.files_read_per_search",
    "audit.executor_run_s_per_search", "audit.shuffle_bytes_per_search",
    "msgstore.get_s", "msgstore.get_preview_s", "msgstore.get_for_replay_s",
    "msgstore.store_s", "msgstore.change_states_s", "pipeline.run_build_s",
    "audit.store_files", "audit.event_rows", "trace.overhead_ratio",
) + registry.LAYER_METRICS


def _layers(tracer, cost, pairs, state_size) -> dict:
    from .trace import SparkCost

    def ops(kind):
        return [s for s in tracer.ops() if s.name == f"op.{kind}"]

    def mean_span(kind, name):
        spans = [s for op in ops(kind) for s in tracer.under(op, name)]
        return sum(s.dur for s in spans) / max(1, len(ops(kind)))

    lists = ops("list")
    spark_list = SparkCost()
    for op in lists:
        for s in tracer.spans:
            if s.op == op.id:
                spark_list.add(cost.get(s.id, SparkCost()))
    n = max(1, len(lists))
    build = mean_span("list", "store.msgstore.search")
    return {
        "msgstore.search_build_s": build,
        "audit.catalyst_s": sum(op.attrs.get("catalyst_s", 0) for op in lists) / n,
        "audit.search_exec_s": sum(op.dur for op in lists) / n - build,
        "audit.jobs_per_search": spark_list.jobs / n,
        "audit.files_read_per_search": spark_list.files_read / n,
        "audit.executor_run_s_per_search": spark_list.executor_run_s / n,
        "audit.shuffle_bytes_per_search": spark_list.shuffle_bytes / n,
        "msgstore.get_s": mean_span("view", "store.msgstore.get"),
        "msgstore.get_preview_s": mean_span(
            "preview", "store.msgstore.get_preview_str"),
        "msgstore.get_for_replay_s": mean_span(
            "replay", "store.msgstore.get_for_replay"),
        "msgstore.store_s": mean_span("replay", "store.msgstore.store"),
        "msgstore.change_states_s": mean_span(
            "replay", "store.msgstore.change_message_states"),
        "pipeline.run_build_s": mean_span("replay", "pipeline.run"),
        "audit.store_files": state_size["files"],
        "audit.event_rows": state_size["event_rows"],
        "trace.overhead_ratio":
            sum(t for t, _ in pairs) / sum(u for _, u in pairs) - 1,
    }
