"""FileWatcher source — pypeman's main pull channel (SURVEY §2.A row 1).

Reference: ``channels.py:1306-1422`` — poll ``basedir`` every
``interval`` s, regex-match filenames, emit one message per new/modified
file with payload = content and meta = filepath/filename; ``.ok``
ack-file indirection via ``real_extensions``.

Spark-first translation:

* **Streaming**: ``spark.readStream.format("text"|"binaryFile")`` with
  ``pathGlobFilter`` — the file source's offset log gives exactly-once
  pickup, replacing the reference's in-memory mtime dict
  (``channels.py:1340``) with durable checkpoints.
* **Batch tick**: :func:`scan_files` reads the directory once (one
  ``check_and_process_folder`` tick) — regex filter, ack-file
  indirection and mtime re-pickup (kv-store snapshot; SURVEY §7.4) are
  driver-side listing logic, the content read is a distributed
  ``spark.read``.

Scale: listing is metadata-only; content reads parallelize per file.
For object stores, the same code paths work on s3a:// URIs.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..message import ensure_message_columns

__all__ = ["scan_files", "stream_files", "FileWatcher"]


def _match_files(basedir: str, regex: str, real_extensions: list[str] | None):
    """List matching files, resolving ack-file indirection: when
    ``real_extensions`` is set, a matching file is only an ACK marker —
    the payload file is ``<base><ext>`` (``channels.py:1384-1401``)."""
    rx = re.compile(regex)
    out = []
    for name in sorted(os.listdir(basedir)):
        if not rx.match(name):
            continue
        path = os.path.join(basedir, name)
        if real_extensions:
            base = os.path.splitext(path)[0]
            for ext in real_extensions:
                if os.path.exists(base + ext):
                    out.append(base + ext)
                    break
        else:
            out.append(path)
    return out


def scan_files(
    spark: SparkSession,
    basedir: str,
    regex: str = ".*",
    binary_file: bool = False,
    real_extensions: list[str] | None = None,
    kv_store=None,
    channel: str = "file_watcher",
) -> DataFrame:
    """One watcher tick → message DataFrame (new/modified files only when
    a ``kv_store`` is given — the mtime snapshot lives there, so restarts
    keep their place; without it, every matching file is read)."""
    paths = _match_files(basedir, regex, real_extensions)
    if kv_store is not None:
        seen: dict = kv_store.restore_data("file_watcher", basedir, default={}) or {}
        fresh = []
        new_seen = dict(seen)
        for p in paths:
            mtime = os.path.getmtime(p)
            if seen.get(p) != mtime:
                fresh.append(p)
                new_seen[p] = mtime
        if new_seen != seen:
            kv_store.save_data("file_watcher", basedir, new_seen)
        paths = fresh
    if not paths:
        from ..message import MESSAGE_SCHEMA

        return spark.createDataFrame([], MESSAGE_SCHEMA)

    return _read_messages(spark.read, paths, binary_file, channel)


def stream_files(
    spark: SparkSession,
    basedir: str,
    glob: str = "*",
    binary_file: bool = False,
    channel: str = "file_watcher",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming variant: exactly-once file pickup via the source's
    offset log; ``maxFilesPerTrigger`` ≈ the reference's tick batching."""
    options = {"pathGlobFilter": glob}
    if max_files_per_trigger:
        options["maxFilesPerTrigger"] = max_files_per_trigger
    return _read_messages(spark.readStream, basedir, binary_file, channel,
                          **options)


def _read_messages(reader, source, binary_file: bool, channel: str,
                   **options) -> DataFrame:
    """One message per file of ``source``, loaded by ``reader`` (a batch
    or a streaming reader): payload = the file's text (base64 when
    ``binary_file``), meta = its filepath and filename."""
    if binary_file:
        raw = reader.format("binaryFile").options(**options).load(source)
        payload, path = F.base64(F.col("content")), F.col("path")
        content_type = "application/octet-stream"
    else:
        raw = (reader.format("text").option("wholetext", "true")
               .options(**options).load(source))
        payload, path = F.col("value"), F.col("_metadata.file_path")
        content_type = "application/text"
    meta = F.create_map(
        F.lit("filepath"), F.regexp_replace(path, "^file:", ""),
        F.lit("filename"), F.element_at(F.split(path, "/"), -1),
    )
    return ensure_message_columns(
        raw.select(payload.alias("payload"), meta.alias("meta"),
                   F.lit(content_type).alias("content_type")),
        channel=channel,
    )


class FileWatcher:
    """Object-style wrapper mirroring the reference constructor params
    (``channels.py:1306``: basedir, regex, interval, binary_file,
    real_extensions)."""

    def __init__(self, spark: SparkSession, basedir: str, regex: str = ".*",
                 binary_file: bool = False,
                 real_extensions: list[str] | None = None,
                 kv_store=None, channel: str = "file_watcher"):
        self.spark = spark
        self.basedir = basedir
        self.regex = regex
        self.binary_file = binary_file
        self.real_extensions = real_extensions
        self.kv_store = kv_store
        self.channel = channel

    def tick(self) -> DataFrame:
        return scan_files(
            self.spark, self.basedir, self.regex, self.binary_file,
            self.real_extensions, self.kv_store, self.channel,
        )
