"""``startproject`` scaffolding (reference ``pjt_templates.py:4-60``,
``commands.py:352-361``).

Generates a minimal runnable project: ``project.py`` (the channel
graph builder), ``settings.py`` (admin endpoints, dirs), and
``tests.py`` — the same three files the reference template lays down,
re-expressed for the Spark runtime (a ``build_project(spark)`` function
returning a :class:`~.plans.admin.ChannelRegistry` instead of
import-time channel registration).
"""

from __future__ import annotations

import os

__all__ = ["new_project"]

_PROJECT_PY = '''\
"""Pypeman-spark project: channel graph builder.

`pypeman-spark start` imports this module and calls `build_project(spark)`;
register every channel (pipeline + message store, plus an optional
streaming source) on the returned registry.
"""

import os

from pyspark.sql import functions as F

from pypeman_spark import Pipeline
from pypeman_spark.operators import FuncNode, JsonToPython, Log
from pypeman_spark.plans.admin import ChannelRegistry
from pypeman_spark.sources.file_watcher import stream_files
from pypeman_spark.store import FileMessageStore
from pypeman_spark.streaming.channel import StreamingChannel

import settings


def build_project(spark):
    registry = ChannelRegistry(spark)

    store = FileMessageStore(
        spark, os.path.join(settings.DATA_DIR, "store"), channel="example"
    )
    pipe = Pipeline("example").add(
        JsonToPython(),
        Log(name="log"),
        FuncNode(lambda d: d, name="noop"),
    )

    streaming = None
    if os.path.isdir(settings.WATCH_DIR):
        src = stream_files(
            spark, settings.WATCH_DIR, glob="*.json", channel="example"
        )
        streaming = StreamingChannel(
            src, pipe, message_store=store,
            checkpoint_dir=os.path.join(settings.DATA_DIR, "ckpt"),
        )

    registry.register("example", pipe, store, streaming_channel=streaming)
    return registry
'''

_SETTINGS_PY = '''\
"""Project settings (reference pjt_templates settings.py)."""

import os

BASE_DIR = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(BASE_DIR, "data")
WATCH_DIR = os.path.join(BASE_DIR, "incoming")

REMOTE_ADMIN_HTTP_CONFIG = {"host": "127.0.0.1", "port": 8090}
REMOTE_ADMIN_WEBSOCKET_CONFIG = {"host": "127.0.0.1", "port": 8091}

SPARK_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
'''

_TESTS_PY = '''\
"""Project tests (reference pjt_templates tests.py)."""

import unittest

from pypeman_spark import get_spark, messages_from_payloads

import project


class ExampleChannelTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.spark = get_spark("project-tests", cpus=2)

    def test_channel_processes_message(self):
        registry = project.build_project(self.spark)
        pipe = registry.get("example").pipeline
        msgs = messages_from_payloads(self.spark, [{"hello": "world"}])
        res = pipe.run(msgs)
        self.assertEqual(res.counts(), {"processed": 1})


if __name__ == "__main__":
    unittest.main()
'''


def new_project(dirname: str) -> list[str]:
    """Write the template; returns the created file paths."""
    os.makedirs(dirname, exist_ok=False)
    os.makedirs(os.path.join(dirname, "incoming"), exist_ok=True)
    written = []
    for name, content in (
        ("project.py", _PROJECT_PY),
        ("settings.py", _SETTINGS_PY),
        ("tests.py", _TESTS_PY),
    ):
        path = os.path.join(dirname, name)
        with open(path, "w") as fh:
            fh.write(content)
        written.append(path)
    return written
