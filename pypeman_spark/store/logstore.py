"""Commit-log storage for :class:`~.txtable.TxTable`.

The ACID protocol (txtable.py module docstring) needs exactly one
primitive from its log storage: **conditional put** — "publish this
payload as version V iff V is unclaimed", atomically, across
processes. Everything else is plain reads. :class:`LogStore` states
that contract; :class:`FileLogStore` is the one implementation: one
JSON-lines file per version, claimed via ``os.link`` of a
fully-fsynced temp file (the same claim semantics as
``O_CREAT|O_EXCL``, but with complete content the instant the name
appears). Correct on local and truly-POSIX network filesystems; NOT
correct on S3/GCS, where neither O_EXCL nor atomic link exists. The
store is a cheap value object holding only a path (no open handles),
so it pickles cleanly into Spark tasks and survives ``fork``/
``spawn`` into writer processes.

The chaos tests (``tests/test_txtable_chaos.py``) wrap the file store
in fault-injecting :class:`LogStore` subclasses: the table layer must
absorb S3-shaped failures around this seam — reads and listings that
lag a put (``txtable._read_committed``, ``txtable._MonotonicLogStore``)
and a crash between a durable put and its ack.
"""

from __future__ import annotations

import json
import os
import uuid

__all__ = ["LogStore", "FileLogStore"]

_VERSION_DIGITS = 20


def _commit_name(version: int) -> str:
    return f"{version:0{_VERSION_DIGITS}d}.json"


class LogStore:
    """Abstract commit-log storage. The commit protocol uses only
    :meth:`put_if_absent` (atomic conditional put — the single
    correctness-bearing operation), :meth:`list_versions`,
    :meth:`read`, and the checkpoint pair. :meth:`delete` serves log
    retention (``TxTable.truncate_log`` drops entries a checkpoint
    supersedes) and :meth:`overwrite` is a repair/testing escape
    hatch — neither is part of the commit protocol."""

    def list_versions(self) -> "list[int]":
        raise NotImplementedError

    def read(self, version: int) -> "str | None":
        """Payload (JSON-lines text) of one committed version."""
        raise NotImplementedError

    def put_if_absent(self, version: int, payload: str) -> bool:
        """Atomically publish ``payload`` as ``version``; False
        (without side effects) if the version was already claimed."""
        raise NotImplementedError

    def latest_checkpoint(self, upto: int) -> "tuple[int, dict] | None":
        raise NotImplementedError

    def write_checkpoint(self, version: int, state: dict) -> None:
        raise NotImplementedError

    def list_checkpoints(self) -> "list[int]":
        raise NotImplementedError

    def delete(self, version: int) -> None:
        raise NotImplementedError

    def overwrite(self, version: int, payload: str) -> None:
        raise NotImplementedError


class FileLogStore(LogStore):
    """One ``<version 20 digits>.json`` file per commit under
    ``log_dir``; atomic claim via hardlink of an fsynced temp file.
    POSIX-only (see module docstring).

    A ``log.db`` under ``log_dir`` is the commit log of a retired
    database store, whose commits this store cannot see: opening it
    raises instead of reading the table as empty (a first commit would
    then split the log in two)."""

    def __init__(self, log_dir: str):
        legacy = os.path.join(log_dir, "log.db")
        if os.path.exists(legacy):
            raise ValueError(
                f"{legacy}: commit log of a retired database log "
                "store; only the file log (_txlog/*.json) has a reader"
            )
        self.log_dir = log_dir

    def _path(self, version: int) -> str:
        return os.path.join(self.log_dir, _commit_name(version))

    def list_versions(self) -> "list[int]":
        try:
            names = os.listdir(self.log_dir)
        except FileNotFoundError:
            return []
        return sorted(
            int(n.split(".")[0]) for n in names
            if n.endswith(".json") and not n.endswith(".checkpoint.json")
            and "." in n and n.split(".")[0].isdigit()
        )

    def read(self, version: int) -> "str | None":
        try:
            with open(self._path(version)) as fh:
                return fh.read()
        except FileNotFoundError:
            return None

    def put_if_absent(self, version: int, payload: str) -> bool:
        os.makedirs(self.log_dir, exist_ok=True)
        tmp = os.path.join(
            self.log_dir, f".tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
        )
        with open(tmp, "w") as fh:
            fh.write(payload)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            # atomic claim with guaranteed-complete content: the name
            # appears only after the fsync above, unlike a direct
            # O_EXCL-open-then-write
            os.link(tmp, self._path(version))
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)
        return True

    def latest_checkpoint(self, upto: int) -> "tuple[int, dict] | None":
        best = None
        best_gz = False
        try:
            names = os.listdir(self.log_dir)
        except FileNotFoundError:
            return None
        for n in names:
            gz = n.endswith(".checkpoint.json.gz")
            if gz or n.endswith(".checkpoint.json"):
                v = int(n.split(".")[0])
                if v <= upto and (best is None or v > best):
                    best, best_gz = v, gz
                elif v == best and gz:
                    best_gz = True  # prefer the newer (gz) form
        if best is None:
            return None
        base = os.path.join(
            self.log_dir, f"{best:0{_VERSION_DIGITS}d}.checkpoint.json"
        )
        if best_gz:
            import gzip

            with gzip.open(base + ".gz", "rt") as fh:
                return best, json.load(fh)
        with open(base) as fh:
            return best, json.load(fh)

    def write_checkpoint(self, version: int, state: dict) -> None:
        # gzipped since round 10: the checkpoint is the largest
        # metadata object (the full live-file list — at 1M files the
        # JSON runs to hundreds of MB) and repetitive JSON compresses
        # ~8-10x. Readers accept both forms, so pre-r10 checkpoints
        # stay readable, and a pre-r10 reader that can't see a .gz
        # simply falls back to full log replay — slower, never wrong
        # WHILE the log is complete. Once truncate_log has dropped
        # entries that fallback would be wrong, which is why the
        # first actual truncation bumps the table protocol to v4
        # (txtable.py:truncate_log) — the old reader's replay hits
        # the protocol action and fails loudly.
        import gzip

        tmp = os.path.join(self.log_dir, f".ckpt.{os.getpid()}.tmp")
        with gzip.open(tmp, "wt", compresslevel=6) as fh:
            json.dump(state, fh)
        os.replace(tmp, os.path.join(
            self.log_dir,
            f"{version:0{_VERSION_DIGITS}d}.checkpoint.json.gz",
        ))

    def list_checkpoints(self) -> "list[int]":
        try:
            names = os.listdir(self.log_dir)
        except FileNotFoundError:
            return []
        return sorted({
            int(n.split(".")[0]) for n in names
            if n.endswith(".checkpoint.json")
            or n.endswith(".checkpoint.json.gz")
        })

    def delete(self, version: int) -> None:
        try:
            os.unlink(self._path(version))
        except FileNotFoundError:
            pass

    def overwrite(self, version: int, payload: str) -> None:
        tmp = self._path(version) + ".rw.tmp"
        with open(tmp, "w") as fh:
            fh.write(payload)
        os.replace(tmp, self._path(version))
