#!/usr/bin/env python
"""Local mimic of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then
compares row count, column names, and an order-insensitive value hash
(columns sorted by name, rows sorted by stringified values, floats
rounded to 9 significant decimals before hashing).

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_argv = list(sys.argv[1:])
JSON_OUT = None
if "--json" in _argv:
    i = _argv.index("--json")
    JSON_OUT = _argv[i + 1]
    del _argv[i:i + 2]
SF_DIR = _argv[0] if _argv else os.environ.get(
    "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"
)
ONLY = set(_argv[1:])

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return format(v, ".9g")
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def frame_fingerprint(cols: list[str], rows: list[tuple]):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    sorted_cols = [cols[i] for i in order]
    lines = sorted(
        "\x01".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\x02")
    return sorted_cols, len(rows), h.hexdigest()


def main() -> int:
    # PySpark's collect() materializes TimestampType via
    # datetime.fromtimestamp — PROCESS-local time — while DuckDB returns
    # naive UTC wall-clocks, so a non-UTC TZ env var shifts every
    # timestamp-returning query into a spurious hash mismatch. Pin the
    # process to UTC (same environment the driver runs) before the JVM
    # or any datetime is created.
    os.environ["TZ"] = "UTC"
    time.tzset()

    import duckdb

    import __spark_entry__ as entrymod
    from pyspark.sql import SparkSession

    # Deliberately a BARE session, not get_spark(): the driver calls
    # queries() with its own plain SparkSession, so every query must be
    # self-sufficient (load_table sets runtime confs per-read). Round 1
    # used get_spark() here, which masked a session-dependence bug that
    # failed 21 driver checks.
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    # SPARK_GRAFT_MASTER lets the gate itself run multi-JVM (e.g.
    # local-cluster[2,16,8192]) — real serialization + per-executor
    # Python workers under the ORACLE comparison, not just the bench
    master = os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .appName("check_correctness")
    )
    # Scaled sweeps (10x facts via tools/scale_dataset.py) legitimately
    # need more than the 1 g default driver heap: decontam_report's
    # benchmark-shingle broadcast alone is a few hundred MB at sf1, and
    # a 94-entry session carries other storage blocks beside it. The
    # default stays Spark's default so the sf0.001-0.1 gates keep
    # driver parity; set e.g. SPARK_GRAFT_DRIVER_MEM=4g for sf1 runs.
    drv_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    # None when unset; else whether it could apply and is recorded in
    # the JSON output
    drv_mem_applied = None
    if drv_mem:
        # spark.driver.memory only takes effect when THIS builder
        # launches the JVM. Under spark-submit (PYSPARK_GATEWAY_PORT is
        # set: the JVM is already up) or with an active session the
        # knob is ignored, so say so on stderr and in the JSON output.
        drv_mem_applied = (
            SparkSession.getActiveSession() is None
            and "PYSPARK_GATEWAY_PORT" not in os.environ
        )
        if not drv_mem_applied:
            print(
                "WARNING: SPARK_GRAFT_DRIVER_MEM set but the driver JVM "
                "is already running — driver memory NOT changed",
                file=sys.stderr,
            )
        builder = builder.config("spark.driver.memory", drv_mem)
    spark = builder.getOrCreate()
    if not master.startswith("local["):
        from pypeman_spark.session import _ship_package

        _ship_package(spark)
    con = duckdb.connect()
    for t in TABLES:
        # driver layout is one file per table; Spark-written scaled
        # datasets (tools/scale_dataset.py) are DIRECTORIES of parts
        src = f"{SF_DIR}/{t}.parquet"
        if os.path.isdir(src):
            src = f"{src}/*.parquet"
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{src}'"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    results: dict[str, dict] = {}

    def rec(name, **kw):
        results[name] = {
            "rows_match": None, "schema_match": None, "hash_match": None,
            "spark_rows": None, "oracle_rows": None, "err": None, **kw,
        }

    import gc

    n_run = 0
    for name, fn in queries.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        # Broadcast relations are freed by Spark's ContextCleaner, which
        # is DRIVEN BY JVM GC of the driver-side references; a 94-entry
        # sweep in one 1 g-heap session can otherwise accumulate enough
        # un-collected broadcasts that a late broadcast-heavy entry dies
        # with "Not enough memory to build and broadcast" even though it
        # passes in isolation (observed: decontam_report at sf1 after
        # the r14 serving reorder pushed it behind 90 entries). Drop the
        # previous entry's references and periodically hint both GCs.
        sdf = srows = None
        gc.collect()
        n_run += 1
        if n_run % 10 == 0:
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:
                pass
        try:
            sdf = fn(spark, SF_DIR)
            srows = [tuple(r) for r in sdf.collect()]
            scols = list(sdf.columns)
        except Exception as exc:
            print(f"FAIL  {name}: spark error: {exc}")
            failures.append(name)
            rec(name, err=f"spark: {exc}"[:300])
            continue
        if name not in oracles:
            print(f"weak  {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            rec(name, spark_rows=len(srows), weak="rows-only (no oracle)")
            continue
        try:
            cur = con.execute(oracles[name])
            dcols = [d[0] for d in cur.description]
            drows = [tuple(r) for r in cur.fetchall()]
        except Exception as exc:
            print(f"FAIL  {name}: duckdb error: {exc}")
            failures.append(name)
            rec(name, spark_rows=len(srows), err=f"duckdb: {exc}"[:300])
            continue
        # DuckDB HUGEINT (e.g. sum(INTEGER)) round-trips through Arrow
        # as decimal128(38,0); a driver that hashes Arrow/pandas values
        # then sees Decimal('5') vs Spark's int 5 — hash mismatch with
        # identical values (the rounds-1..3 sessionize_events red).
        # fetchall() masks it (Python ints), so detect it structurally.
        try:
            dec = [
                f"{f.name}:{f.type}"
                for f in con.execute(oracles[name]).fetch_arrow_table().schema
                if "decimal" in str(f.type)
            ]
        except Exception:
            dec = []
        if dec:
            print(
                f"FAIL  {name}: oracle exports DECIMAL columns {dec} "
                "(driver-hash hazard: CAST to BIGINT/DOUBLE in the SQL)"
            )
            failures.append(name)
            rec(name, spark_rows=len(srows), oracle_rows=len(drows),
                err=f"oracle exports DECIMAL: {dec}")
            continue
        sc, sn, sh = frame_fingerprint(scols, srows)
        dc, dn, dh = frame_fingerprint(dcols, drows)
        rec(name, rows_match=(sn == dn), schema_match=(sc == dc),
            hash_match=(sh == dh), spark_rows=sn, oracle_rows=dn)
        if sc != dc:
            print(f"FAIL  {name}: columns {sc} vs {dc}")
            failures.append(name)
        elif sn != dn:
            print(f"FAIL  {name}: rows {sn} vs {dn}")
            failures.append(name)
        elif sh != dh:
            print(f"FAIL  {name}: value hash mismatch ({sn} rows)")
            # show a sample diff
            s_set = {tuple(norm_cell(v) for v in r) for r in srows}
            d_set = {tuple(norm_cell(v) for v in r) for r in drows}
            for r in list(s_set - d_set)[:3]:
                print(f"        spark-only: {r}")
            for r in list(d_set - s_set)[:3]:
                print(f"        duck-only : {r}")
            failures.append(name)
        else:
            print(f"ok    {name}: {sn} rows match ({time.time()-t0:.1f}s)")
    print(f"\n{len(failures)} failures / {len(queries)} queries")
    if JSON_OUT:
        import json

        with open(JSON_OUT, "w") as fh:
            json.dump(
                {
                    "sf_dir": SF_DIR,
                    "driver_mem": {
                        "requested": drv_mem, "applied": drv_mem_applied,
                    },
                    "n_queries": len(results),
                    "n_failures": len(failures),
                    "failures": failures,
                    "queries": results,
                },
                fh, indent=1,
            )
        print(f"wrote {JSON_OUT}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
