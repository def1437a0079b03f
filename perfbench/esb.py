"""esb_channel: the paper's write path.

Each operation is one ``StreamingChannel.process_batch`` call on a
batch of generated messages (read through ``load_table``) over a
``FileMessageStore`` and a ``RetryStore``; after every batch a
``RetryStore.retry_once`` sweep runs with the outage lifted.
A warm-up batch and sweep run untimed first. A plain-Python ledger
predicts every state count and retry outcome.
"""

from __future__ import annotations

import os
import time
from collections import Counter

import numpy as np

from . import gen
from .common import median, tail, timed_setups
from .trace import Tracer

BATCH = 2000  # messages per process_batch call
WARM_BATCH = 500  # the untimed warm-up batch
# timed batches (each with its sweep) in every run: the cold warm-up
# and JVM start already take ~40 s of a run, and 48 runs must fit the
# run-time budget
MIN_BATCHES = 1
TRACE_BATCHES = 4  # a traced run: batches traced, untraced, untraced, traced
N_BATCHES = 4  # generated timed batches; the loop stops if it runs out
CHANNEL = "esb"
# each task thread feeds a Python worker process: local[nproc / 2]
# keeps the busy processes within the cores, and the batch timings
# steadier on a shared host
CORES_PER_TASK = 2


class Outage:
    """What the benchmark's ``enrich`` sees when its UDF is built:
    ``sweep is None`` while channel batches run with the downstream in
    outage; sweep ``k`` once it is lifted."""

    def __init__(self):
        self.sweep = None


def make_enrich(outage: Outage, calls, seed: int):
    state = outage  # pickled with the UDF, so each run() snapshots it

    def enrich(body):
        calls.add(1)
        if not isinstance(body, dict):
            raise ValueError("payload is not an object")
        if state.sweep is None:
            if body["down"]:
                raise ConnectionError("downstream in outage")
        elif body["down"] and gen.fails_again(body["n"], state.sweep, seed):
            raise ConnectionError("downstream still failing")
        return {**body, "enriched": 1}

    return enrich


def make_pipeline(enrich=None):
    """JsonToPython -> Drop(heartbeat) -> Reject(v>950) -> [enrich] ->
    PythonToJson; without ``enrich`` the pipeline runs no Python UDF."""
    from pyspark.sql import functions as F

    from pypeman_spark.operators import (
        Drop, FuncNode, JsonToPython, PythonToJson, Reject,
    )
    from pypeman_spark.pipeline import Pipeline

    nodes = [
        JsonToPython(),
        Drop(condition=F.col("meta").getItem("kind") == "heartbeat",
             name="drop_heartbeat"),
        Reject(condition=F.get_json_object("payload", "$.v").cast("int")
               > gen.REJECT_ABOVE, name="reject_v"),
    ]
    if enrich is not None:
        nodes.append(FuncNode(enrich, name="enrich", auto_retry=True,
                              store_meta=["user"]))
    return Pipeline(CHANNEL).add(*nodes, PythonToJson())


class Ledger:
    """Expected store contents: ``current()`` state counts (parked
    messages keep their stored ``pending`` state) and the parked set."""

    def __init__(self, seed: int):
        self.seed = seed
        self.states: Counter = Counter()
        self.parked: set[int] = set()

    def batch(self, table) -> None:
        import json

        for payload, meta in zip(table["payload"].to_pylist(),
                                 table["meta"].to_pylist()):
            outcome = gen.expected_outcome(payload, dict(meta), outage=True)
            if outcome == "wait_retry":
                self.states["pending"] += 1
                self.parked.add(json.loads(payload)["n"])
            else:
                self.states[outcome] += 1

    def sweep(self, k: int) -> dict:
        again = {n for n in self.parked if gen.fails_again(n, k, self.seed)}
        expected = {"retried": len(self.parked),
                    "succeeded": len(self.parked) - len(again),
                    "rejected": 0, "reparked": len(again)}
        self.parked = again
        return expected


def _dir_usage(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for name in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


def run(ctx) -> dict:
    from pypeman_spark.sources.tables import load_table
    from pypeman_spark.store import FileMessageStore
    from pypeman_spark.store.retry import RetryStore
    from pypeman_spark.streaming.channel import StreamingChannel

    n_batches = TRACE_BATCHES if ctx.trace else N_BATCHES
    rng = np.random.default_rng(ctx.seed)
    inputs = os.path.join(ctx.work, "inputs")
    batches = []  # (name, arrow table); batch 0 is the warm-up
    for i in range(n_batches + 1):
        table = gen.message_table(rng, BATCH if i else WARM_BATCH,
                                  first_n=i * BATCH)
        gen.write_parquet(table, os.path.join(inputs, f"batch_{i:03d}.parquet"))
        batches.append((f"batch_{i:03d}", table))

    outage = Outage()
    reps = []

    def build():
        spark = ctx.session.start()
        base = os.path.join(ctx.work, f"store{len(reps)}")
        reps.append(base)
        calls = spark.sparkContext.accumulator(0)
        pipe = make_pipeline(make_enrich(outage, calls, ctx.seed))
        ms = FileMessageStore(spark, base, CHANNEL)
        rs = RetryStore(spark, os.path.join(base, "retry"), CHANNEL,
                        retry_delay=0.0)
        ch = StreamingChannel(None, pipe, ms, rs,
                              checkpoint_dir=os.path.join(base, "ckpt"))
        return spark, ch, ms, rs, pipe, calls

    setups, (spark, ch, ms, rs, pipe, calls) = timed_setups(build)
    ledger = Ledger(ctx.seed)
    tracer = Tracer(spark)

    def sweep(k: int) -> bool:
        """Retry sweep ``k``, checked against the ledger."""
        outage.sweep = k
        got = ch.run_retries_once()
        expected = ledger.sweep(k)
        if got != expected:
            ctx.log(f"esb: sweep {k} returned {got}, expected {expected}")
        return got == expected

    # warm-up, untimed and checked: one batch and one sweep on the
    # stores the timed loop uses
    t0 = time.perf_counter()
    name, table = batches[0]
    outage.sweep = None
    ch.process_batch(load_table(spark, inputs, name), 0)
    ledger.batch(table)
    attempted, failed = 2, int(not sweep(0))
    warmup_s = time.perf_counter() - t0
    ctx.session.gc_delta_s()

    if ctx.trace:
        tracer.wrap(ch, "process_batch", "streaming.channel.process_batch")
        tracer.wrap(pipe, "run", "pipeline.run")
        for m in ("store", "change_message_states", "add_meta_from_messages"):
            tracer.wrap(ms, m, f"store.msgstore.{m}")
        for m in ("store_until_retry", "retry_due", "ack", "retry_once"):
            tracer.wrap(rs, m, f"store.retry.{m}")

    batch_s, sweep_s, traced_batch = [], [], []
    per_batch = []  # traced batches: (op span, udf calls, files, bytes)
    store_dir = reps[-1]
    t_start = time.perf_counter()
    deadline = t_start + ctx.seconds
    i = 0
    while i < n_batches:
        # an untraced run measures for --seconds, but never fewer than
        # MIN_BATCHES; a traced run runs its TRACE_BATCHES
        if (not ctx.trace and i >= MIN_BATCHES
                and time.perf_counter() >= deadline):
            break
        i += 1
        # traced batches in ABBA order, so warm-up drift does not count
        # as tracing overhead
        traced = ctx.trace and i % 4 in (0, 1)
        name, table = batches[i]
        before = _dir_usage(store_dir) if traced else None
        calls_before = calls.value
        outage.sweep = None
        tracer.on = traced
        t0 = time.perf_counter()
        with tracer.span("op.batch") as op:
            with tracer.span("sources.load_table"):
                df = load_table(spark, inputs, name)
            ch.process_batch(df, i)
        batch_s.append(time.perf_counter() - t0)
        traced_batch.append(traced)
        tracer.on = False
        attempted += 1
        ledger.batch(table)
        if traced:
            after = _dir_usage(store_dir)
            per_batch.append((op, calls.value - calls_before,
                              after[0] - before[0], after[1] - before[1]))
        tracer.on = ctx.trace
        t0 = time.perf_counter()
        with tracer.span("op.sweep"):
            ok = sweep(i)
        sweep_s.append(time.perf_counter() - t0)
        tracer.on = False
        attempted += 1
        failed += not ok
    wall = time.perf_counter() - t_start
    gc_s = ctx.session.gc_delta_s()

    # correctness: the store and the retry queue against the ledger
    got_states = {r["state"]: r["count"]
                  for r in ms.current().groupBy("state").count().collect()}
    want_states = {k: v for k, v in ledger.states.items() if v}
    got_parked = rs.pending().count()
    attempted += 2
    if got_states != want_states:
        failed += 1
        ctx.log(f"esb: store states {got_states}, expected {want_states}")
    if got_parked != len(ledger.parked):
        failed += 1
        ctx.log(f"esb: {got_parked} parked, expected {len(ledger.parked)}")

    n_msgs = len(batch_s) * BATCH
    detail = {
        "warmup_s": warmup_s,
        "esb.msgs_per_s": n_msgs / wall,
        "esb.batch_p50_s": median(batch_s),
        "esb.batch_tail": tail(batch_s),
        "esb.retry_sweep_s": median(sweep_s),
        "batches": len(batch_s),
        "sweeps": len(sweep_s),
        "batch_s": batch_s,
        "sweep_s": sweep_s,
        "store_states": got_states,
        "parked": got_parked,
    }
    result = {
        "attempted": attempted,
        "failed": failed,
        "setup_s": median(setups),
        "setup_runs_s": setups,
        "e2e": {
            "throughput": n_msgs / wall,
            "main_p50_s": median(batch_s),
        },
        "detail": detail,
        "gc_s": gc_s,
    }
    if ctx.trace:
        result["trace"] = lambda cost: _layers(
            tracer, cost, per_batch, batch_s, traced_batch)
    return result


# the per-layer metrics _layers reports; every other one in
# BENCHMARK.json is a layer this workload never calls
LAYER_METRICS = (
    "esb.jobs_per_batch", "esb.tasks_per_batch",
    "esb.executor_run_s_per_batch", "esb.shuffle_bytes_per_batch",
    "esb.udf_evals_per_msg", "esb.python_bytes_per_msg",
    "esb.files_written_per_batch", "esb.bytes_written_per_batch",
    "sources.load_table_s", "msgstore.store_s", "msgstore.change_states_s",
    "msgstore.add_meta_s", "retry.park_s", "channel.self_s",
    "pipeline.run_build_s", "retry.due_s", "retry.ack_s", "retry.sweep_s",
    "trace.overhead_ratio",
)


def _layers(tracer, cost, per_batch, batch_s, traced_batch) -> dict:
    from .trace import SparkCost

    n = len(per_batch)

    def per_op(name: str, ops) -> float:
        return sum(s.dur for op in ops for s in tracer.under(op, name)) / max(
            1, len(ops))

    def mean(xs):
        return sum(xs) / len(xs)

    ops = [op for op, *_ in per_batch]
    sweeps = [s for s in tracer.ops() if s.name == "op.sweep"]
    spark_batch = SparkCost()
    for op in ops:
        for s in tracer.spans:
            if s.op == op.id:
                spark_batch.add(cost.get(s.id, SparkCost()))
    channel = [s for op in ops for s in tracer.under(
        op, "streaming.channel.process_batch")]
    runs = [s for s in tracer.spans if s.name == "pipeline.run"]
    traced = [t for t, on in zip(batch_s, traced_batch) if on]
    untraced = [t for t, on in zip(batch_s, traced_batch) if not on]
    return {
        "esb.jobs_per_batch": spark_batch.jobs / n,
        "esb.tasks_per_batch": spark_batch.tasks / n,
        "esb.executor_run_s_per_batch": spark_batch.executor_run_s / n,
        "esb.shuffle_bytes_per_batch": spark_batch.shuffle_bytes / n,
        "esb.udf_evals_per_msg": sum(c for _, c, _, _ in per_batch) / (n * BATCH),
        "esb.python_bytes_per_msg": spark_batch.python_bytes / (n * BATCH),
        "esb.files_written_per_batch": sum(f for *_, f, _ in per_batch) / n,
        "esb.bytes_written_per_batch": sum(b for *_, b in per_batch) / n,
        "sources.load_table_s": per_op("sources.load_table", ops),
        "msgstore.store_s": per_op("store.msgstore.store", ops),
        "msgstore.change_states_s": per_op(
            "store.msgstore.change_message_states", ops),
        "msgstore.add_meta_s": per_op("store.msgstore.add_meta_from_messages", ops),
        "retry.park_s": per_op("store.retry.store_until_retry", ops),
        "channel.self_s": sum(tracer.self_time(s) for s in channel) / n,
        "pipeline.run_build_s": sum(s.dur for s in runs) / max(1, len(runs)),
        "retry.due_s": per_op("store.retry.retry_due", sweeps),
        "retry.ack_s": per_op("store.retry.ack", sweeps),
        "retry.sweep_s": sum(s.dur for s in sweeps) / max(1, len(sweeps)),
        "trace.overhead_ratio": mean(traced) / mean(untraced) - 1,
    }
