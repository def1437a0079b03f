"""Object-store fault injection for the TxTable commit protocol
(store/logstore.py seam): S3-shaped failure modes — reads that lag a
successful put, listings that return stale prefixes, a client crash
between the durable put and the local ack — must cost retries or a
LOUD error, never a silent wrong answer.

The wrapper injects faults around the real FileLogStore through the
``TxTable(logstore=...)`` seam, so what's under test is the protocol's
use of the conditional-put contract, not the store's filesystem
semantics."""

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from pypeman_spark.store import txtable
from pypeman_spark.store.logstore import FileLogStore, LogStore
from pypeman_spark.store.txtable import (
    CommitConflict,
    LogReadError,
    TxTable,
    _read_committed,
)

pytestmark = pytest.mark.usefixtures("file_log")


class ChaosLogStore(LogStore):
    """Fault-injecting wrapper around a real LogStore.

    * ``read_lag``: the first N ``read()`` calls for a version put
      THROUGH THIS WRAPPER return None (another client's read lagging
      a successful put — classic eventual consistency).
    * ``list_lag``: the first N ``list_versions()`` calls after any
      put omit the newest version (stale prefix listing).
    * ``ambiguous_put``: the next ``put_if_absent`` performs the real
      put, then raises (crash between durable put and local ack — the
      writer never learns its commit landed).
    """

    def __init__(self, inner, read_lag: int = 0, list_lag: int = 0):
        self.inner = inner
        self.read_lag = read_lag
        self.list_lag = list_lag
        self._read_left: "dict[int, int]" = {}
        self._list_left = 0
        self._newest: "int | None" = None
        self.ambiguous_put = False
        self.stats = {"lagged_reads": 0, "stale_lists": 0}

    def put_if_absent(self, version, payload):
        ok = self.inner.put_if_absent(version, payload)
        if ok:
            if self.read_lag:
                self._read_left[version] = self.read_lag
            if self.list_lag:
                self._list_left = self.list_lag
                self._newest = version
            if self.ambiguous_put:
                self.ambiguous_put = False
                raise TimeoutError(
                    "injected: put landed but the ack was lost"
                )
        return ok

    def read(self, version):
        left = self._read_left.get(version, 0)
        if left > 0:
            self._read_left[version] = left - 1
            self.stats["lagged_reads"] += 1
            return None
        return self.inner.read(version)

    def list_versions(self):
        out = self.inner.list_versions()
        if self._list_left > 0 and self._newest in out:
            self._list_left -= 1
            self.stats["stale_lists"] += 1
            out = [v for v in out if v != self._newest]
        return out

    def latest_checkpoint(self, upto):
        return self.inner.latest_checkpoint(upto)

    def write_checkpoint(self, version, state):
        return self.inner.write_checkpoint(version, state)

    def list_checkpoints(self):
        return self.inner.list_checkpoints()

    def delete(self, version):
        return self.inner.delete(version)

    def overwrite(self, version, payload):
        return self.inner.overwrite(version, payload)


class CrowdedLogStore(ChaosLogStore):
    """Another writer wins every version this store claims: just
    before each claim it publishes an empty append there (a commuting
    commit whose scope is disjoint from any write). Raises past
    ``limit`` claims, so a walk that never stops fails instead of
    hanging."""

    def __init__(self, inner, limit: int = 1000):
        super().__init__(inner)
        self.claims, self.limit = 0, limit

    def put_if_absent(self, version, payload):
        self.claims += 1
        if self.claims > self.limit:
            raise RuntimeError(f"{self.claims} claims: the walk never stops")
        self.inner.put_if_absent(version, json.dumps({"commit": {
            "version": version, "op": "append", "buckets": [],
            "pid": 0, "ts": time.time(),
        }}) + "\n")
        return super().put_if_absent(version, payload)


def _mk(spark, tmp_path, **chaos):
    path = str(tmp_path / "tbl")
    log_dir = os.path.join(path, "_txlog")
    os.makedirs(log_dir, exist_ok=True)
    inner = FileLogStore(log_dir)
    store = ChaosLogStore(inner, **chaos)
    t = TxTable(
        spark, path, key_cols=["k"], n_buckets=2, logstore=store,
        checkpoint_interval=1 << 30,
    )
    return t, store


def _df(spark, pairs):
    return spark.createDataFrame(list(pairs), "k long, val string")


def test_read_lag_costs_retries_never_a_wrong_replay(spark, tmp_path):
    """Every commit's payload briefly 404s for other readers: replay
    must absorb the lag via _read_committed's backoff and produce the
    exact table — never silently skip the commit."""
    t, store = _mk(spark, tmp_path, read_lag=2)
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    t.merge_upsert(_df(spark, [(2, "B"), (3, "c")]))
    assert store.stats["lagged_reads"] > 0
    rows = {r["k"]: r["val"] for r in t.read().collect()}
    assert rows == {1: "a", 2: "B", 3: "c"}
    assert t.count() == 3


def test_sustained_read_hole_fails_loudly(spark, tmp_path):
    """A listed commit that NEVER becomes readable (lost object) must
    raise LogReadError from replay, not replay an incomplete live
    set."""
    t, store = _mk(spark, tmp_path)
    t.append(_df(spark, [(1, "a")]))
    v = t.version()
    store._read_left[v] = 1 << 30  # permanent hole
    with pytest.raises(LogReadError):
        t._replay_full()
    with pytest.raises(LogReadError):
        _read_committed(store, v, "test", retries=2, backoff_s=0.0)


def test_stale_listing_costs_conflicts_never_lost_commits(
    spark, tmp_path
):
    """Listings briefly omit the newest version: a writer planning
    from the stale head claims an already-claimed version, loses the
    conditional put, and retries — both commits land, nothing is
    overwritten."""
    t, store = _mk(spark, tmp_path, list_lag=1)
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    # this replay lists a stale head; the OCC loop must still land
    t.merge_upsert(_df(spark, [(2, "B")]))
    assert store.stats["stale_lists"] > 0
    rows = {r["k"]: r["val"] for r in t.read().collect()}
    assert rows == {1: "a", 2: "B"}
    assert [h["op"] for h in t.history()] == [
        "create", "append", "merge",
    ]


def test_ambiguous_put_commit_is_durable_and_files_survive_vacuum(
    spark, tmp_path
):
    """Crash between put and ack: the writer sees an error, but the
    commit IS the table — a fresh handle reads it, exactly once, and
    vacuum must not reclaim its data files (they are referenced by
    the log, not orphans)."""
    t, store = _mk(spark, tmp_path)
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    store.ambiguous_put = True
    with pytest.raises(TimeoutError):
        t.merge_upsert(_df(spark, [(2, "LOST-ACK"), (3, "c")]))
    # the writer "died"; a new handle sees the landed commit
    t2 = TxTable(spark, str(tmp_path / "tbl"), logstore=store)
    rows = {r["k"]: r["val"] for r in t2.read().collect()}
    assert rows == {1: "a", 2: "LOST-ACK", 3: "c"}
    assert [h["op"] for h in t2.history()] == [
        "create", "append", "merge",
    ]
    # its staged files are log-referenced, NOT orphans: vacuum may
    # reclaim the files the merge REMOVED (that is its job), but must
    # never touch the ambiguous commit's live files
    _v, live = t2._replay()
    gone = t2.vacuum(grace_s=0.0)
    assert not (set(gone) & set(live))
    assert {r["k"]: r["val"] for r in t2.read().collect()} == rows


def test_chaos_soak_mixed_faults_full_lifecycle(spark, tmp_path):
    """Everything at once, sustained: lagging reads and stale
    listings across appends, merges, a dv delete, CDC, and
    compaction — final state and the change feed must be exact."""
    t, store = _mk(spark, tmp_path, read_lag=1, list_lag=1)
    t.append(_df(spark, [(i, f"v{i}") for i in range(20)]))
    t.merge_upsert(_df(spark, [(5, "NEW"), (25, "INS")]))
    t.delete_where(("k", ">=", 18), ("k", "<", 20), mode="dv")
    assert t.count() == 19
    feed = t.table_changes(0)
    got = {
        r["_change_type"]: r["cnt"]
        for r in feed.groupBy("_change_type").agg(
            F.count("*").alias("cnt")
        ).collect()
    }
    assert got == {
        "insert": 21, "delete": 2,
        "update_preimage": 1, "update_postimage": 1,
    }
    t.compact(min_files=1)
    assert t.count() == 19
    assert store.stats["lagged_reads"] > 0
    assert store.stats["stale_lists"] > 0


def test_reclaim_walk_is_bounded(spark, tmp_path, monkeypatch):
    """A writer behind an endless stream of commuting, scope-disjoint
    commits re-claims at most _COMMIT_ATTEMPTS ** 2 times per attempt
    and raises CommitConflict once its attempts run out, instead of
    walking the log forever. Three attempts keep the walk short."""
    monkeypatch.setattr(txtable, "_COMMIT_ATTEMPTS", 3)
    t, _ = _mk(spark, tmp_path)
    t.append(_df(spark, [(1, "a")]))
    store = CrowdedLogStore(FileLogStore(t.log_dir))
    crowded = TxTable(spark, t.path, logstore=store)
    with pytest.raises(CommitConflict):
        crowded.append(_df(spark, [(2, "b")]))
    assert store.claims == 3 * 3 ** 2
    assert [tuple(r) for r in t.read().collect()] == [(1, "a")]
