"""FTP watcher (set-diff, delete-after, atomic upload) and MLLP sidecar
tests, mirroring test_channel.py:1104 (ftp) and :1247 (mllp)."""

import socket

from pypeman_spark.sources.ftp import FTPWatcher, ftp_read_file, ftp_write_file
from pypeman_spark.sources.http_sidecar import MLLP_CR, MLLP_FS, MLLP_VT
from pypeman_spark.sources.mllp_sidecar import MllpLandingServer


class FakeFTP:
    """In-memory FTP double (the reference mocks ftplib the same way,
    test_channel.py:1104)."""

    store: dict[str, bytes] = {}

    def __init__(self):
        self.closed = False

    def list_dir(self, path):
        prefix = path.rstrip("/") + "/"
        return [p for p in self.store if p.startswith(prefix)]

    def download(self, path):
        return self.store[path]

    def upload(self, path, data):
        # mimic .part+rename atomicity
        self.store[path] = data

    def delete(self, path):
        del self.store[path]

    def close(self):
        self.closed = True


def test_ftp_watcher_set_diff(tmp_path):
    FakeFTP.store = {"/in/a.csv": b"A", "/in/b.csv": b"B", "/in/skip.log": b"X"}
    w = FTPWatcher("/in", str(tmp_path / "land"), regex=r".*\.csv$",
                   conn_factory=FakeFTP)
    landed = w.tick()
    assert sorted(p.split("/")[-1] for p in landed) == ["a.csv", "b.csv"]
    assert (tmp_path / "land" / "a.csv").read_bytes() == b"A"
    # second tick: nothing new
    assert w.tick() == []
    # new remote file appears -> only it lands
    FakeFTP.store["/in/c.csv"] = b"C"
    landed = w.tick()
    assert [p.split("/")[-1] for p in landed] == ["c.csv"]


def test_ftp_watcher_delete_after(tmp_path):
    FakeFTP.store = {"/in/x.csv": b"X"}
    w = FTPWatcher("/in", str(tmp_path / "land"), conn_factory=FakeFTP,
                   delete_after=True)
    assert len(w.tick()) == 1
    assert "/in/x.csv" not in FakeFTP.store  # deleted from remote
    # same name re-uploaded -> picked up again (it left the listing)
    FakeFTP.store["/in/x.csv"] = b"X2"
    assert len(w.tick()) == 1
    assert (tmp_path / "land" / "x.csv").read_bytes() == b"X2"


def test_ftp_watcher_idle_ticks_save_nothing(spark, tmp_path):
    # a tick whose listing did not change leaves the kv store alone
    from pypeman_spark.store import KVStore

    FakeFTP.store = {"/in/a.csv": b"A"}
    kv = KVStore(spark, str(tmp_path / "kv"))
    w = FTPWatcher("/in", str(tmp_path / "land"), conn_factory=FakeFTP,
                   kv_store=kv)
    assert len(w.tick()) == 1
    v = kv.table.version()
    assert w.tick() == []
    assert w.tick() == []
    assert kv.table.version() == v
    # a listing change still saves, and the next tick sees it
    FakeFTP.store["/in/b.csv"] = b"B"
    assert [p.split("/")[-1] for p in w.tick()] == ["b.csv"]
    assert kv.table.version() == v + 1
    assert w.tick() == []


def test_ftp_read_write_file():
    FakeFTP.store = {}
    ftp_write_file(FakeFTP, "/out/result.txt", b"payload")
    assert FakeFTP.store["/out/result.txt"] == b"payload"
    assert ftp_read_file(FakeFTP, "/out/result.txt") == b"payload"


def _mllp_roundtrip(port: int, payload: bytes) -> bytes:
    with socket.create_connection(("127.0.0.1", port), timeout=5) as s:
        s.sendall(MLLP_VT + payload + MLLP_FS + MLLP_CR)
        buf = b""
        while MLLP_FS + MLLP_CR not in buf:
            buf += s.recv(4096)
        return buf


def test_mllp_sidecar_lands_and_acks(tmp_path):
    landing = tmp_path / "hl7"
    server = MllpLandingServer(str(landing))
    server.start()
    try:
        hl7 = b"MSH|^~\\&|LIS|Example|Hospital|Mirth|20111207||ACK^A01|A234244|P|2.3.1\rMSA|AA|234242|OK|"
        resp = _mllp_roundtrip(server.port, hl7)
    finally:
        server.stop()
    assert resp.startswith(MLLP_VT)
    assert b"MSA|AA|A234244" in resp  # control id echoed, AA ack
    files = list(landing.glob("*.hl7"))
    assert len(files) == 1
    assert files[0].read_text().startswith("MSH|")


def test_mllp_sidecar_outcome_ack(tmp_path):
    # reference-parity mode: ACK reflects pipeline outcome (AR on reject)
    server = MllpLandingServer(
        str(tmp_path / "hl7"), ack=lambda frame: "rejected"
    )
    server.start()
    try:
        resp = _mllp_roundtrip(server.port, b"MSH|^~\\&|X||||20240101||ADT^A01|C1|P|2.3")
    finally:
        server.stop()
    assert b"MSA|AR|C1" in resp
