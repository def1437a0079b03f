"""Example project — the pypeman example (`examples/some_activity/
project.py`) re-expressed in pypeman_spark.

The reference defines two channels at import time: a CronChannel logging
and storing a tick, and a FileWatcherChannel picking up ``*.txt`` files.
Here the same project is a function returning configured channels —
plans instead of asyncio tasks; a tick runs the channel's ``handle``
like any channel batch, or start the streaming form.

Run a single watch tick against a directory::

    python examples/project.py /path/to/watch
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pypeman_spark import Pipeline, get_spark
from pypeman_spark.message import PROCESSED
from pypeman_spark.operators import FuncNode, Log
from pypeman_spark.plans.admin import ChannelRegistry
from pypeman_spark.sources import cron_ticks
from pypeman_spark.store import FileMessageStore


def build_project(spark, base_dir: str, watch_dir: str):
    """The reference's import-time object graph, as an explicit builder."""
    registry = ChannelRegistry(spark)

    # -- periodic channel (CronChannel parity) --------------------------
    periodic_store = FileMessageStore(
        spark, os.path.join(base_dir, "periodic_store"), channel="periodic"
    )
    periodic = Pipeline("periodic").add(
        Log(name="log1"),
        FuncNode(lambda d: d, name="store1"),
    )
    registry.register("periodic", periodic, periodic_store)

    # -- file watcher channel (FileWatcherChannel parity) ---------------
    watch_store = FileMessageStore(
        spark, os.path.join(base_dir, "watch_store"), channel="watch_txt"
    )
    watch = Pipeline("watch_txt").add(
        Log(name="log2"),
        FuncNode(lambda d: d, name="store2", decode_json=False),
    )
    registry.register("watch_txt", watch, watch_store)
    return registry


def run_periodic_tick(spark, registry: ChannelRegistry) -> int:
    """One cron firing: payload = the tick timestamp (contrib/time.py:8)."""
    from datetime import datetime, timedelta, timezone

    now = datetime.now(timezone.utc).replace(tzinfo=None, second=0, microsecond=0)
    msgs = cron_ticks(spark, now, now + timedelta(minutes=1), cron="* * * * *",
                      channel="periodic")
    with registry.get("periodic").handle(msgs) as out:
        return out.filter(F.col("state") == PROCESSED).count()


def run_watch_tick(spark, registry: ChannelRegistry, watch_dir: str) -> int:
    """One watcher poll over ``watch_dir`` for ``*.txt``."""
    from pypeman_spark.sources import scan_files

    msgs = scan_files(spark, watch_dir, regex=r".*\.txt$", channel="watch_txt")
    if msgs.isEmpty():
        return 0
    with registry.get("watch_txt").handle(msgs) as out:
        return out.filter(F.col("state") == PROCESSED).count()


if __name__ == "__main__":
    watch_dir = sys.argv[1] if len(sys.argv) > 1 else "."
    spark = get_spark("example_project", cpus=4)
    base = tempfile.mkdtemp(prefix="pypeman_spark_example_")
    reg = build_project(spark, base, watch_dir)
    print("periodic processed:", run_periodic_tick(spark, reg))
    print("watched processed:", run_watch_tick(spark, reg, watch_dir))
    print("stores under:", base)
