"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Generates the workload's inputs from
``--seed``, sets up local Spark ``SETUP_REPS`` times, drives
the workload through the public API in a closed loop (one driver
thread) for ``--seconds``, checks every answer against a plain-Python or
DuckDB reference, and prints one JSON line last on stdout:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics of ``BENCHMARK.json``; ``--trace 1`` runs with
Spark's event log and per-call spans and reports its per-layer metrics.
Everything else (timings, host record, counts) goes to stderr and to
``.perfbench/results/<workload>-seed<n>-trace<k>.json``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback

WORKLOADS = {"esb_channel": "esb", "audit_search": "audit"}


class Context:
    def __init__(self, args, work: str, session):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.session = session

    @staticmethod
    def log(msg: str) -> None:
        print(msg, file=sys.stderr, flush=True)


def _prepare(root: str, work: str) -> None:
    """Keep every file the run writes inside the checkout, and pin the
    process to UTC so collected timestamps compare with the inputs."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    # Python workers import the benchmark's own UDF helpers
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, root)


def _per_layer(spec: dict, declared: tuple, layers: dict) -> dict:
    """Every per-layer metric of ``spec``: the ones the workload declares
    from its ``layers``, 0 for the layers it never calls. A declared
    metric the workload did not report, or a reported one the spec does
    not name, is an error."""
    names = [m["name"] for m in spec["per_layer"]]
    if set(layers) != set(declared) or not set(declared) <= set(names):
        raise KeyError(
            f"per-layer metrics: missing {sorted(set(declared) - set(layers))}, "
            f"unexpected {sorted(set(layers) - set(declared))}, "
            f"not in BENCHMARK.json {sorted(set(declared) - set(names))}")
    return {n: layers.get(n, 0.0) for n in names}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    missing = [p for p in ("BENCHMARK.json", "bench.py", "pypeman_spark")
               if not os.path.exists(os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from a checkout root; missing {missing}",
              file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    out_dir = os.path.join(root, ".perfbench")
    work = os.path.join(
        out_dir, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    _prepare(root, work)

    from perfbench.common import Session, host_record, stop_processes
    from perfbench.trace import read_event_log

    workload = importlib.import_module(f"perfbench.{WORKLOADS[args.workload]}")
    session = Session(work, trace=bool(args.trace),
                      cores_per_task=workload.CORES_PER_TASK)
    ctx = Context(args, work, session)
    t0 = time.perf_counter()
    try:
        res = workload.run(ctx)
        layers = {}
        if args.trace:
            app_id = session.spark.sparkContext.applicationId
            session.stop()  # flushes and closes the event log
            layers = res["trace"](read_event_log(session.event_log(app_id)))
            values = _per_layer(spec, workload.LAYER_METRICS, layers)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            session.stop()
        finally:
            stop_processes()
            shutil.rmtree(work, ignore_errors=True)

    ok = res["failed"] == 0
    if args.trace:
        wanted = spec["per_layer"]
    else:
        wanted = spec["end_to_end"]
        values = dict(res["e2e"], setup_s=res["setup_s"])
    # a run with a failed operation reports no totals at all
    metrics = {m["name"]: {"value": values[m["name"]] if ok else None,
                           "unit": m["unit"]} for m in wanted}
    record = {
        "workload": args.workload,
        "trace": args.trace,
        "correct": ok,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
        "setup_s": res["setup_s"],
        "setup_runs_s": res["setup_runs_s"],
        "detail": res["detail"],
        "layers": layers,
        "host": host_record(session, args.seed, res.get("gc_s")),
        "run_wall_s": time.perf_counter() - t0,
    }
    os.makedirs(os.path.join(out_dir, "results"), exist_ok=True)
    side = os.path.join(
        out_dir, "results",
        f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(side, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(f"perfbench: {args.workload} attempted={res['attempted']} "
          f"failed={res['failed']} detail={side}", file=sys.stderr)
    print(json.dumps({"correct": ok, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    # a terminated run still unwinds, so its processes are stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
