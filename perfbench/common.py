"""Shared plumbing: the Spark session, timing statistics, host record."""

from __future__ import annotations

import hashlib
import math
import os
import platform
import signal
import statistics
import subprocess
import sys
import time

SETUP_REPS = 3  # set-ups per run; setup_s is their median


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def tail(xs: list[float]) -> dict | None:
    """The highest whole percentile with at least ten samples beyond
    it, or None when there are fewer than 20 samples."""
    n = len(xs)
    if n < 20:
        return None
    pct = math.floor(100 * (n - 10) / n)
    k = max(0, math.ceil(pct / 100 * n) - 1)
    return {"pct": pct, "value": sorted(xs)[k], "n": n}


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


class Session:
    """Owns the SparkSession: ``local[nproc / cores_per_task]``, all
    scratch space under the run's work directory, and Spark's event log
    in a traced run."""

    def __init__(self, work: str, trace: bool, cores_per_task: int = 1):
        self.work = work
        self.cpus = max(1, (os.cpu_count() or 1) // cores_per_task)
        self.trace = trace
        self.event_dir = os.path.join(work, "eventlog")
        self.spark = None
        self._gc_prev = None

    def start(self):
        """(Re)start Spark; the first call also launches the JVM."""
        from pypeman_spark.session import get_spark

        self.stop()
        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
        }
        # set either way: a session restarted in the same JVM would
        # otherwise keep an earlier traced run's event log settings
        conf["spark.eventLog.enabled"] = str(self.trace).lower()
        if self.trace:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.dir": self.event_dir,
                # the default zstd codec needs the optional zstandard module
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark("perfbench", cpus=self.cpus, extra_conf=conf)
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def event_log(self, app_id: str) -> str:
        return os.path.join(self.event_dir, app_id)

    def gc_delta_s(self) -> float | None:
        """JVM GC time since the previous call."""
        import bench

        now = bench._gc_ms(self.spark)
        prev, self._gc_prev = self._gc_prev, now
        if now is None or prev is None:
            return None
        return (now - prev) / 1000


def _ppids() -> dict[int, int]:
    """pid -> parent pid of every live, non-zombie process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # ended while we looked
        if fields[0] != "Z":
            out[int(name)] = int(fields[1])
    return out


def _descendants(pid: int) -> set[int]:
    ppids = _ppids()
    found, todo = set(), [pid]
    while todo:
        parent = todo.pop()
        for child, pp in ppids.items():
            if pp == parent and child not in found:
                found.add(child)
                todo.append(child)
    return found


def _reap(pids: set[int]) -> None:
    """Collect the exit status of those of ``pids`` that are our own
    children, so none stays behind as a zombie."""
    for pid in pids:
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass  # not our child, or already collected


def stop_processes(grace_s: float = 20.0) -> None:
    """Stop the JVM that pyspark launched, and every other process this
    run started (Python workers included), and wait until each has
    ended. A stopped SparkContext leaves the JVM running until the
    driver exits; it then ends on its own, but only some time later."""
    t0 = time.perf_counter()
    pids = _descendants(os.getpid())
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        SparkContext._gateway = SparkContext._jvm = None
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway server exits at EOF
            try:
                proc.wait(grace_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    # whatever outlives a grace period gets SIGTERM, then SIGKILL
    alive = pids
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        for pid in alive if sig is not None else ():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace_s / 2
        while True:
            _reap(pids)
            alive = pids & set(_ppids())
            if not alive or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        if not alive:
            break
    print(f"perfbench: stopped {len(pids)} processes in "
          f"{time.perf_counter() - t0:.2f} s"
          + (f", {len(alive)} still running" if alive else ""),
          file=sys.stderr, flush=True)


def timed_setups(build) -> tuple[list[float], object]:
    """Run ``build()`` SETUP_REPS times; returns the durations and the
    last build's result, which the timed loop then uses."""
    durations, result = [], None
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        result = build()
        durations.append(time.perf_counter() - t0)
    return durations, result


def _source_digest() -> str:
    """Content hash of the program's sources, for checkouts that are not
    git repositories."""
    h = hashlib.sha256()
    for top in ("pypeman_spark",):
        for dirpath, dirnames, files in os.walk(top):
            dirnames.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(dirpath, name)
                    h.update(path.encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def host_record(session: Session, seed: int, gc_s: float | None) -> dict:
    import bench
    import pyspark

    commit = None
    if os.path.exists(".git"):  # the benchmark may run from an export
        try:
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"], capture_output=True,
                text=True, timeout=10, check=True,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    return {
        "nproc": os.cpu_count(),
        "spark_cores": session.cpus,
        "load1": bench._load1(),
        "jvm_gc_s": gc_s,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "seed": seed,
        "git_commit": commit,
        "source_sha256": _source_digest(),
        "argv": sys.argv[1:],
    }
