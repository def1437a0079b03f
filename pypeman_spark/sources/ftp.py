"""FTP watcher / reader / writer (SURVEY §2.A rows 2, 8; §2.F row 46).

Reference: ``contrib/ftp.py`` — FTPWatcherChannel polls a directory
listing every ``interval`` s, set-diffs against the previous listing
(``contrib/ftp.py:150-178``), downloads new files concurrently, with
optional delete-after; FTPFileReader/Writer move single files
(``.part`` + rename for atomic upload, ``contrib/ftp.py:269-291``).

Spark-first shape: FTP is a control-plane protocol — the idiomatic
pattern is *land-then-scan*: the watcher downloads into a landing dir
and the (streaming) file source takes over with exactly-once semantics.
All FTP I/O uses stdlib ``ftplib``; the connection factory is injectable
so the listing/set-diff/ack logic is unit-testable without a server.
"""

from __future__ import annotations

import io
import os
import posixpath
import re
from typing import Callable

__all__ = ["FTPConnection", "FTPWatcher", "ftp_read_file", "ftp_write_file"]


class FTPConnection:
    """Thin ftplib wrapper (``contrib/ftp.py:27-110`` FTPHelper)."""

    def __init__(self, host: str, port: int = 21, credentials: tuple = ("", "")):
        from ftplib import FTP

        self._ftp = FTP()
        self._ftp.connect(host, port)
        self._ftp.login(*credentials)

    def list_dir(self, path: str) -> list[str]:
        return self._ftp.nlst(path)

    def download(self, path: str) -> bytes:
        buf = io.BytesIO()
        self._ftp.retrbinary(f"RETR {path}", buf.write)
        return buf.getvalue()

    def upload(self, path: str, data: bytes) -> None:
        # .part + rename = atomic publish (contrib/ftp.py:269-291)
        part = path + ".part"
        self._ftp.storbinary(f"STOR {part}", io.BytesIO(data))
        self._ftp.rename(part, path)

    def delete(self, path: str) -> None:
        self._ftp.delete(path)

    def close(self) -> None:
        try:
            self._ftp.quit()
        except Exception:  # noqa: BLE001
            self._ftp.close()


class FTPWatcher:
    """Set-diff polling watcher: each :meth:`tick` downloads files that
    are new since the previous listing into ``landing_dir``
    (``contrib/ftp.py:113-217``). Inject ``conn_factory`` for tests or
    alternative transports (SFTP, etc.)."""

    def __init__(
        self,
        basedir: str,
        landing_dir: str,
        regex: str = ".*",
        conn_factory: Callable[[], FTPConnection] | None = None,
        delete_after: bool = False,
        sort_function=sorted,
        kv_store=None,
    ):
        self.basedir = basedir
        self.landing_dir = landing_dir
        self.regex = re.compile(regex)
        self.conn_factory = conn_factory
        self.delete_after = delete_after
        self.sort_function = sort_function
        self.kv_store = kv_store
        self._last_listing: set[str] = set()
        os.makedirs(landing_dir, exist_ok=True)

    def _load_listing(self) -> set[str]:
        if self.kv_store is not None:
            saved = self.kv_store.restore_data("ftp_watcher", self.basedir, default=[])
            return set(saved or [])
        return self._last_listing

    def _save_listing(self, listing: set[str]) -> None:
        if self.kv_store is not None:
            self.kv_store.save_data("ftp_watcher", self.basedir, sorted(listing))
        self._last_listing = listing

    def tick(self) -> list[str]:
        """One poll: returns local paths of newly landed files."""
        conn = self.conn_factory()
        try:
            names = [
                posixpath.basename(p) for p in conn.list_dir(self.basedir)
            ]
            current = {n for n in names if self.regex.match(n)}
            previous = self._load_listing()
            fresh = self.sort_function(current - previous)
            landed = []
            for name in fresh:
                remote = posixpath.join(self.basedir, name)
                data = conn.download(remote)
                tmp = os.path.join(self.landing_dir, f".{name}.tmp")
                dest = os.path.join(self.landing_dir, name)
                with open(tmp, "wb") as fh:
                    fh.write(data)
                os.replace(tmp, dest)
                landed.append(dest)
                if self.delete_after:
                    conn.delete(remote)
            # deleted-after files must stay "seen" only while still listed
            listing = current - set(fresh) if self.delete_after else current
            if listing != previous:  # an idle tick saves nothing
                self._save_listing(listing)
            return landed
        finally:
            conn.close()


def ftp_read_file(conn_factory: Callable[[], FTPConnection], filepath: str) -> bytes:
    """FTPFileReader (``contrib/ftp.py:220-243``)."""
    conn = conn_factory()
    try:
        return conn.download(filepath)
    finally:
        conn.close()


def ftp_write_file(
    conn_factory: Callable[[], FTPConnection], filepath: str, data: bytes
) -> None:
    """FTPFileWriter: atomic .part upload (``contrib/ftp.py:269-291``)."""
    conn = conn_factory()
    try:
        conn.upload(filepath, data)
    finally:
        conn.close()
