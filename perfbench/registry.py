"""The registry layer (``plans/`` and ``functions/``), profiled in a
traced run.

``profile`` generates the corpus from the seed at ``SF``, runs each of
``ENTRIES`` once untimed and compares it with its DuckDB oracle (the
comparison of ``tools/check_correctness.py``; the pass is also the
warm-up, as ``bench.py``'s untimed first run is), then runs each entry
as ``bench.py`` times it — ``fn()`` plus a ``noop`` write — once
untraced and once traced, alternating which goes first. The traced run
also plans the entry once more on its own, to read Catalyst's phase
times; that planning is left out of the traced wall time, so the two
runs do the same work.
"""

from __future__ import annotations

import importlib.util
import os
import sys
import time

from .common import geomean
from .trace import SparkCost, catalyst_s

SF = 0.01
# A slice of bench.py's HEADLINE list: a TPC-H aggregate, a
# shuffle-heavy join suite, event sessions (windows), a store twin and
# BPE tokenizing (Arrow mapInPandas, the Python-worker path).
ENTRIES = [
    "pricing_summary",
    "supplier_parts_suite",
    "sessionize_events",
    "route_outcomes",
    "bpe_token_budget",
]
# the per-layer metrics _layers reports
LAYER_METRICS = (
    "registry.total_s", "registry.plan_build_s", "registry.catalyst_s",
    "registry.execute_s", "registry.executor_run_s", "registry.gc_s",
    "registry.jobs", "registry.tasks", "registry.shuffle_bytes",
    "registry.python_bytes", "registry.trace_overhead_ratio",
) + tuple(f"registry.q.{name}_s" for name in ENTRIES)
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _oracle_compare():
    """``frame_fingerprint`` from tools/check_correctness.py (imported,
    not copied; that script reads its own argv at import)."""
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join("tools", "check_correctness.py"))
    mod = importlib.util.module_from_spec(spec)
    argv, sys.argv = sys.argv, sys.argv[:1]
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.argv = argv
    return mod.frame_fingerprint


def _duckdb(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(sf_dir, t)}.parquet'")
    return con


def profile(ctx, spark, tracer) -> dict:
    import bench
    from pypeman_spark.plans.queries import REGISTRY

    from . import gen

    unknown = [e for e in ENTRIES if e not in bench.HEADLINE]
    if unknown:
        raise ValueError(f"not bench.py HEADLINE entries: {unknown}")
    sf_dir = gen.write_registry_tables(
        os.path.join(ctx.work, "tables"), ctx.seed, SF)

    fingerprint = _oracle_compare()
    con = _duckdb(sf_dir)
    attempted = failed = 0
    for name in ENTRIES:
        attempted += 1
        try:
            df = REGISTRY[name].fn(spark, sf_dir)
            rows = [tuple(r) for r in df.collect()]
            cur = con.execute(REGISTRY[name].oracle)
            want = fingerprint([d[0] for d in cur.description],
                               [tuple(r) for r in cur.fetchall()])
            ok = fingerprint(list(df.columns), rows) == want
        except Exception as exc:  # noqa: BLE001 — a failed entry is counted
            ctx.log(f"registry: {name} raised {type(exc).__name__}: {exc}")
            ok = False
        if not ok:
            failed += 1
            ctx.log(f"registry: {name} differs from its DuckDB oracle")
    con.close()

    untraced: dict[str, float] = {}
    ops = []
    for j, name in enumerate(ENTRIES):
        fn = REGISTRY[name].fn
        for traced in ([False, True] if j % 2 else [True, False]):
            attempted += 1
            ctx.session.gc_delta_s()
            tracer.on = traced
            t0 = time.perf_counter()
            try:
                with tracer.span("op.entry") as op:
                    with tracer.span("plans.fn"):
                        df = fn(spark, sf_dir)
                    if traced:
                        with tracer.span("catalyst") as plan:
                            df._jdf.queryExecution().executedPlan()
                    with tracer.span("execute"):
                        df.write.mode("overwrite").format("noop").save()
            except Exception as exc:  # noqa: BLE001
                failed += 1
                ctx.log(f"registry: {name} raised {type(exc).__name__}: {exc}")
                continue
            finally:
                tracer.on = False
            elapsed = time.perf_counter() - t0
            if traced:
                elapsed -= plan.dur
                op.attrs.update(wall=elapsed, catalyst_s=catalyst_s(df),
                                gc_s=ctx.session.gc_delta_s())
                ops.append(op)
            else:
                untraced[name] = elapsed
    detail = {
        "sf": SF,
        "registry.total_s": sum(untraced.values()),
        "registry.geomean_s": geomean(list(untraced.values()))
        if untraced else None,
        "entries_s": untraced,
    }
    return {"attempted": attempted, "failed": failed, "detail": detail,
            "layers": lambda cost: _layers(tracer, cost, ops, untraced)}


def _layers(tracer, cost, ops, untraced) -> dict:
    spark = SparkCost()
    for op in ops:
        for s in tracer.spans:
            if s.op == op.id:
                spark.add(cost.get(s.id, SparkCost()))

    def total(name):
        return sum(s.dur for op in ops for s in tracer.under(op, name))

    out = {
        "registry.total_s": sum(untraced.values()),
        "registry.plan_build_s": total("plans.fn"),
        "registry.catalyst_s": sum(op.attrs["catalyst_s"] for op in ops),
        "registry.execute_s": total("execute"),
        "registry.executor_run_s": spark.executor_run_s,
        "registry.gc_s": sum(op.attrs["gc_s"] or 0 for op in ops),
        "registry.jobs": spark.jobs,
        "registry.tasks": spark.tasks,
        "registry.shuffle_bytes": spark.shuffle_bytes,
        "registry.python_bytes": spark.python_bytes,
        "registry.trace_overhead_ratio":
            sum(op.attrs["wall"] for op in ops) / sum(untraced.values()) - 1,
    }
    out.update({f"registry.q.{n}_s": v for n, v in untraced.items()})
    return out
