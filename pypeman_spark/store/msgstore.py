"""Message store — the reference's queryable table (SURVEY §1.3, §2.G).

Reference: ``pypeman/msgstore.py``. Every message is persisted with its
state transitions and searchable meta; the file backend lays messages out
as ``<store>/<YYYY>/<MM>/<DD>/<ts>_<uuid>`` — i.e. date partitioning with
directory pruning (``msgstore.py:805-811``).

Spark design — an **append-only event-sourced audit table** on parquet
(Delta-ready: every mutation is an append; with Delta the same API maps
to MERGE/DELETE):

* ``messages/`` — one row per stored message, Hive-partitioned by
  ``date`` (Catalyst partition pruning replaces directory skipping).
* ``events/``  — state changes / sub-message states / meta additions /
  deletes as appended events, so no rewrite is ever needed. Every event
  has one shape (``_event``) and every write to the log goes through
  one append (``_append_events``); a channel batch settles its outcome
  states and store-meta in ONE append (:meth:`MessageStore.settle`).
  One per-id fold resolves them (:meth:`MessageStore.current`): one
  aggregate over the narrow event log, then one join to the wide
  message side. This is the plain-parquet fallback of SURVEY §7.4
  ("mutable-store semantics on parquet").

At 100 TB the messages table is the one that grows; events stay tiny
relative to it. ``search`` compiles to a single Catalyst plan with
partition pruning on ``date``, predicate pushdown on ``timestamp`` and
LIMIT pushdown for pagination.

Backends mirror the reference: :class:`NullMessageStore`
(``msgstore.py:315``), :class:`MemoryMessageStore` (``msgstore.py:424``)
and :class:`FileMessageStore` (parquet; ``msgstore.py:576``) share one
implementation parameterized by path — memory uses a temp dir.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
import uuid as _uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..message import (
    MESSAGE_COLUMNS,
    PENDING,
    SUBSTATE_TYPE,
    ensure_message_columns,
    renew,
    worst_state_expr,
)

__all__ = [
    "MessageStore", "NullMessageStore", "MemoryMessageStore",
    "FileMessageStore", "StoreLockTimeout",
]


class StoreLockTimeout(RuntimeError):
    """Another writer holds the store's lease (``.store_lock``) and it
    did not free up within the wait budget."""

_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("kind", T.StringType()),  # state | substate | meta
        T.StructField("state", T.StringType()),
        T.StructField("sub_id", T.StringType()),
        T.StructField("meta_key", T.StringType()),
        T.StructField("meta_value", T.StringType()),
        T.StructField("event_ts", T.DoubleType()),
    ]
)


def _event(kind: str, **cols: F.Column) -> F.Column:
    """The one event shape: a ``kind`` event as a struct of the
    ``_EVENT_SCHEMA`` columns after ``id`` — ``cols`` where given, else
    NULL, and ``event_ts`` the time of this call."""
    cols = {"kind": F.lit(kind), "event_ts": F.lit(time.time()), **cols}
    return F.struct(*[
        (cols[f.name] if f.name in cols else F.lit(None))
        .cast(f.dataType.simpleString()).alias(f.name)
        for f in _EVENT_SCHEMA.fields[1:]
    ])


def _meta_events(ts: F.Column) -> F.Column:
    """``__store_meta`` (``Node._append_store_meta``) as meta events."""
    return F.transform("__store_meta", lambda e: _event(
        "meta", meta_key=e["key"], meta_value=e["value"], event_ts=ts))


class MessageStore:
    """Parquet-backed audit table with the full §2.G query surface."""

    #: seconds after which an unrefreshed lease from a dead pid is stale
    LOCK_TTL = 600.0

    def __init__(self, spark: SparkSession, base_path: str, channel: str = "default"):
        self.spark = spark
        self.base_path = base_path
        self.channel = channel
        self.msg_path = os.path.join(base_path, "messages")
        self.event_path = os.path.join(base_path, "events")
        # id -> date side table: lets point lookups prune to ONE date
        # partition instead of scanning the whole store (see _id_dates)
        self.index_path = os.path.join(base_path, "id_index")
        self.lock_path = os.path.join(base_path, ".store_lock")
        self.journal_path = os.path.join(base_path, ".compact_journal")
        # roll forward a compact() another process died in the middle of
        self._recover()

    # -- single-writer lease ---------------------------------------------
    # The reference's file store gets single-process safety for free
    # (one pypeman daemon owns the directory). A Spark store does not:
    # a compact()'s directory swap racing a concurrent store() append
    # could drop the appended rows with no error. Every mutating entry
    # point therefore takes a lease file first (VERDICT r6 task #6).
    # O_CREAT|O_EXCL creation is the atomic primitive; a lease whose
    # holder pid is dead (same host) or whose mtime exceeds LOCK_TTL is
    # broken and retaken. The unavoidable fine-print: breaking a stale
    # lock has a tiny TOCTOU window (two breakers racing) — acceptable
    # for a crashed-holder recovery path; live writers never race
    # because live leases are refreshed by their mtime at creation.
    # Readers are NOT serialized: current() on another process during a
    # swap can transiently see an empty messages dir (documented in
    # compact()); same-process reads are safe because compact holds the
    # GIL-side state and finishes the swap before returning.

    def _lock_is_stale(self, now: float) -> bool:
        # pid liveness is authoritative (a long compact legitimately
        # outlives LOCK_TTL); the mtime TTL is the fallback when the
        # pid can't be read — e.g. a truncated lease from a crash
        try:
            with open(self.lock_path) as fh:
                pid = int(fh.read().split()[0])
        except FileNotFoundError:
            return False  # holder released; acquire loop retries
        except (OSError, ValueError, IndexError):
            try:
                return now - os.stat(self.lock_path).st_mtime > self.LOCK_TTL
            except OSError:
                return False
        if pid == os.getpid():
            return False
        try:
            os.kill(pid, 0)
            return False  # holder alive
        except ProcessLookupError:
            return True  # same-host pid is gone
        except OSError:
            return False  # e.g. EPERM: alive but not ours

    def _acquire_lock(self, op: str, timeout: float = 30.0) -> None:
        os.makedirs(self.base_path, exist_ok=True)
        deadline = time.monotonic() + timeout
        while True:
            try:
                fd = os.open(
                    self.lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY
                )
                with os.fdopen(fd, "w") as fh:
                    fh.write(f"{os.getpid()} {op} {time.time()}")
                return
            except FileExistsError:
                if self._lock_is_stale(time.time()):
                    try:
                        os.unlink(self.lock_path)
                    except FileNotFoundError:
                        pass
                    continue
                if time.monotonic() >= deadline:
                    raise StoreLockTimeout(
                        f"store {self.base_path} is locked by another "
                        f"writer (op={op}, waited {timeout}s)"
                    ) from None
                time.sleep(0.05)

    def _release_lock(self) -> None:
        try:
            os.unlink(self.lock_path)
        except FileNotFoundError:
            pass

    @contextmanager
    def _writer_lock(self, op: str, timeout: float = 30.0):
        self._acquire_lock(op, timeout=timeout)
        try:
            yield
        finally:
            self._release_lock()

    # -- crash recovery ---------------------------------------------------
    def _needs_recovery(self) -> bool:
        if os.path.isfile(self.journal_path):
            return True
        if os.path.isdir(self.base_path):
            for name in os.listdir(self.base_path):
                if name.startswith(".compact_") and name != os.path.basename(
                    self.journal_path
                ):
                    return True
        return False

    def _recover(self) -> None:
        """Complete a compact() swap a previous process died inside.

        compact() fully writes the three fresh directories, then
        journals the (live, fresh) pairs (tmp+rename, atomic), then
        swaps. A crash before the journal leaves only orphan
        ``.compact_*`` dirs — the store is untouched and the orphans
        are swept. A crash during the swap leaves the journal — every
        fresh dir is complete by construction, so recovery ROLLS
        FORWARD: finish each pair's rename sequence idempotently and
        remove the journal. Either way a reader after recovery sees
        wholly-old or wholly-new state, never a mix.

        Runs ONLY under the writer lease: a journal or fresh dirs seen
        while a LIVE writer holds ``.store_lock`` belong to an
        in-flight compact() that will finish its own swap — sweeping
        them from a second process would race the live rename sequence
        and can delete the messages directory outright. Recovery
        therefore only ever processes a journal whose holder is
        provably dead (stale/absent lease)."""
        if not self._needs_recovery():
            return
        if os.path.isfile(self.lock_path) and not self._lock_is_stale(time.time()):
            return  # live writer mid-compact; it owns the journal
        try:
            with self._writer_lock("recover", timeout=5.0):
                if self._needs_recovery():  # recheck under the lease
                    self._recover_locked()
        except StoreLockTimeout:
            pass  # a live writer appeared; it finishes its own swap

    def _recover_locked(self) -> None:
        import json as _json

        if os.path.isfile(self.journal_path):
            with open(self.journal_path) as fh:
                pairs = _json.load(fh)["pairs"]
            for live, fresh in pairs:
                old = live + ".old"
                if os.path.isdir(fresh):
                    if os.path.isdir(live) and not os.path.isdir(old):
                        os.replace(live, old)
                    if not os.path.isdir(live):
                        os.replace(fresh, live)
                shutil.rmtree(old, ignore_errors=True)
                shutil.rmtree(fresh, ignore_errors=True)
            os.unlink(self.journal_path)
        # orphan temp dirs from a pre-journal crash: store is intact,
        # the half-written output is garbage
        if os.path.isdir(self.base_path):
            for name in os.listdir(self.base_path):
                if name.startswith(".compact_") and name != os.path.basename(
                    self.journal_path
                ):
                    shutil.rmtree(
                        os.path.join(self.base_path, name), ignore_errors=True
                    )

    # -- writes ----------------------------------------------------------
    def store(self, df: DataFrame, state: str = PENDING) -> None:
        """Append messages with state=pending (``msgstore.py:617-634``).
        Partitioned by date(timestamp) — the reference's YYYY/MM/DD tree."""
        out = (
            ensure_message_columns(df, channel=self.channel)
            .select(*MESSAGE_COLUMNS)
            .withColumn("state", F.lit(state))
            .withColumn("date", F.to_date("timestamp"))
        )
        with self._writer_lock("store"):
            out.write.mode("append").partitionBy("date").parquet(self.msg_path)
            out.select("id", "date").write.mode("append").parquet(
                self.index_path
            )

    def _append_events(self, df: DataFrame, events: F.Column) -> None:
        """The one append to ``events/``: each row of ``df`` with its
        ``events`` (an array of :func:`_event`), in one write under the
        lease."""
        ev = df.select("id", F.inline(events))
        with self._writer_lock("events"):
            ev.write.mode("append").parquet(self.event_path)

    def _append_ids(self, ids: list[str], event: F.Column) -> None:
        self._append_events(
            self.spark.createDataFrame([(i,) for i in ids], "id string"),
            F.array(event),
        )

    def change_message_state(self, msg_id: str, state: str) -> None:
        """``msgstore.py:110-130``."""
        self._append_ids([msg_id], _event("state", state=F.lit(state)))

    def change_message_states(self, df: DataFrame) -> None:
        """Bulk variant: one append for a whole batch's outcomes."""
        self._append_events(df, F.array(_event("state", state=F.col("state"))))

    def add_meta_from_messages(self, df: DataFrame) -> None:
        """Bulk flush of node-level ``store_meta`` captures as ``meta``
        events, one append (``nodes.py:216-222``, set-at-a-time)."""
        if "__store_meta" in df.columns:
            self._append_events(df, _meta_events(F.lit(time.time())))

    def settle(self, df: DataFrame) -> None:
        """Settle a batch's outcome rows: their state events and their
        ``__store_meta`` events in ONE append at one timestamp, one
        ``inline`` of ``[state event] ++ meta events`` — one scan, one
        job, one file set. Rows left out of ``df`` (a channel's parked
        ``wait_retry`` rows) keep their stored state and get no meta."""
        ts = F.lit(time.time())
        events = F.array(_event("state", state=F.col("state"), event_ts=ts))
        if "__store_meta" in df.columns:
            events = F.concat(events, F.coalesce(_meta_events(ts), F.array()))
        self._append_events(df, events)

    def add_sub_message_state(self, msg_id: str, sub_id: str, state: str) -> None:
        """``msgstore.py:74-108``."""
        self._append_ids([msg_id], _event(
            "substate", state=F.lit(state), sub_id=F.lit(sub_id)))

    def add_message_meta_infos(self, msg_id: str, name: str, value: str) -> None:
        """Append ``value`` to the store-meta list ``name``
        (``msgstore.py:44-64``)."""
        self._append_ids([msg_id], _event(
            "meta", meta_key=F.lit(name), meta_value=F.lit(str(value))))

    def set_state_to_worst_sub_state(self, msg_id: str) -> None:
        """``msgstore.py:687-705``: state := worst of the id's current
        substates (:meth:`current`'s fold, pruned to the id's date)."""
        rows = (
            self.current(dates=self._id_dates(msg_id))
            .filter(F.col("id") == msg_id)
            .select(worst_state_expr(F.col("submessage_states.state")).alias("w"))
            .collect()
        )
        if rows and rows[0]["w"] is not None:
            self.change_message_state(msg_id, rows[0]["w"])

    def delete(self, msg_id: str) -> None:
        """``msgstore.py:877-888``. Append a tombstone event; the current
        view filters deleted ids (parquet is immutable; Delta: DELETE)."""
        self._append_ids([msg_id], _event("delete"))

    def delete_many(self, msg_ids: list[str]) -> None:
        """Bulk tombstone: ONE event-log append for any number of ids —
        the scale path (per-id :meth:`delete` is a driver loop of tiny
        writes)."""
        if msg_ids:
            self._append_ids(msg_ids, _event("delete"))

    def apply_retention(
        self,
        keep_days: int | None = None,
        before=None,
    ) -> list[str]:
        """Expire messages older than the cutoff by DROPPING whole date
        partitions — the retention shape that stays cheap at 100 TB:
        a ``date=YYYY-MM-DD`` directory removal is a file-listing
        operation, no scan, no rewrite, no tombstones (contrast
        :meth:`delete_many`, which is for targeted ids). Events and
        id-index rows for expired ids become orphans the next
        :meth:`compact` discards (a stale index row is harmless
        meanwhile: it prunes to a partition that no longer exists, so
        lookups correctly return nothing).

        Pass ``keep_days`` (cutoff = today - keep_days, driver clock)
        or an explicit ``before`` date/"YYYY-MM-DD" string; partitions
        STRICTLY OLDER than the cutoff are removed. Returns the dropped
        partition names."""
        import datetime as _dt

        if (keep_days is None) == (before is None):
            raise ValueError("pass exactly one of keep_days / before")
        if before is None:
            cutoff = _dt.date.today() - _dt.timedelta(days=keep_days)
        elif isinstance(before, str):
            cutoff = _dt.date.fromisoformat(before)
        else:
            cutoff = before
        dropped = []
        if not os.path.isdir(self.msg_path):
            return dropped
        # under the lease: a per-partition rmtree is individually
        # atomic and expiry is idempotent (a crash mid-sweep just
        # leaves later partitions for the next run), but it must not
        # interleave with a compact() swapping the same directory
        with self._writer_lock("retention"):
            for name in sorted(os.listdir(self.msg_path)):
                if not name.startswith("date="):
                    continue
                try:
                    part_date = _dt.date.fromisoformat(name[5:])
                except ValueError:
                    continue
                if part_date < cutoff:
                    shutil.rmtree(
                        os.path.join(self.msg_path, name), ignore_errors=True
                    )
                    dropped.append(name)
        return dropped

    def compact(self) -> None:
        """Fold the event log into the base table (the plain-parquet
        analogue of Delta OPTIMIZE + checkpoint).

        The event log grows with every state change; ``current()``
        folds all of it on every read until it is compacted. Compaction
        rewrites the base from ``current()`` (latest state and resolved
        substates become base columns, tombstoned rows disappear) and
        re-emits each store-meta list as a fresh, minimal event log: in
        list order, with timestamps strictly below the compaction time.
        Schemas are unchanged, so readers never see a special case.

        Contract: inserting ``compact()`` anywhere in a sequence of
        store and event calls never changes what ``current()`` returns,
        then or after later events: later events sort after everything
        compaction wrote, and the fold puts events after the base.

        Concurrency + crash safety (VERDICT r6 #6): the whole fold —
        snapshot through swap — runs under the writer lease, so a
        concurrent ``store()``/event append blocks rather than landing
        rows the swap would silently discard. The three-directory swap
        itself is made atomic-or-completable by a journal: the fresh
        dirs are fully written first, then ``.compact_journal`` records
        the (live, fresh) pairs (tmp+rename), then the renames run and
        the journal is removed. A crash anywhere leaves either an
        untouched store (pre-journal; orphans swept on next open) or a
        journal that :meth:`_recover` rolls FORWARD on the next open —
        never a mixed old-messages/new-events state. Cross-process
        readers mid-swap can transiently see a missing directory
        (read as empty); serializing readers would need a catalog
        layer (Delta), which the docstring above scopes out.

        The id→date side index is rewritten in the same pass: every
        ``store()`` appends a small parquet file to it and deletions/
        retention leave stale rows, so without this the index would be
        an ever-growing many-small-files scan. The rewrite derives
        (id, date) from the surviving rows only — deleted and expired
        ids drop out — written with a bounded file count sized from
        the surviving row count (~2M index rows per file), never a
        single-task coalesce(1) that would bottleneck a big store's
        compaction on one executor."""
        import json as _json

        self._acquire_lock("compact", timeout=300.0)
        cur = None
        try:
            # a previous holder may have died mid-swap after this
            # process opened its store handle — roll forward first,
            # now that the lease proves the journal's holder is dead
            if self._needs_recovery():
                self._recover_locked()
            cur = self.current().cache()
            new_msg = os.path.join(self.base_path, f".compact_msg_{_uuid.uuid4().hex}")
            new_ev = os.path.join(self.base_path, f".compact_ev_{_uuid.uuid4().hex}")
            new_idx = os.path.join(self.base_path, f".compact_idx_{_uuid.uuid4().hex}")
            (
                cur.select(*MESSAGE_COLUMNS)
                .withColumn("date", F.to_date("timestamp"))
                .write.mode("overwrite")
                .partitionBy("date")
                .parquet(new_msg)
            )
            # one event per list value, 1 ms apart in list order and all
            # before `now`: later appends sort after every re-emitted value
            now = time.time()
            vals = cur.select("id", F.explode("store_meta").alias("key", "__vs"))
            vals = vals.select("id", "key", F.size("__vs").alias("__n"),
                               F.posexplode("__vs").alias("__pos", "value"))
            vals.select("id", F.inline(F.array(_event(
                "meta", meta_key=F.col("key"), meta_value=F.col("value"),
                event_ts=F.lit(now) - (F.col("__n") - F.col("__pos")) * 1e-3,
            )))).write.mode("overwrite").parquet(new_ev)
            idx_files = max(1, cur.count() // 2_000_000)
            (
                cur.select("id", F.to_date("timestamp").alias("date"))
                .repartition(idx_files)
                .write.mode("overwrite")
                .parquet(new_idx)
            )
            pairs = [
                (self.msg_path, new_msg),
                (self.event_path, new_ev),
                (self.index_path, new_idx),
            ]
            # journal BEFORE the first rename: from here a crash is
            # rolled forward by _recover(); before here the store is
            # untouched and the fresh dirs are swept as orphans
            jtmp = self.journal_path + ".tmp"
            with open(jtmp, "w") as fh:
                _json.dump({"pairs": pairs}, fh)
            os.replace(jtmp, self.journal_path)
            for live, fresh in pairs:
                old = live + ".old"
                if os.path.isdir(live):
                    os.replace(live, old)
                os.replace(fresh, live)
                shutil.rmtree(old, ignore_errors=True)
            os.unlink(self.journal_path)
        finally:
            if cur is not None:
                cur.unpersist()
            self._release_lock()

    # -- reads -----------------------------------------------------------
    def _no_messages(self) -> DataFrame:
        from ..message import MESSAGE_SCHEMA

        return self.spark.createDataFrame([], T.StructType(
            MESSAGE_SCHEMA.fields + [T.StructField("date", T.DateType())]
        ))

    def _messages(self) -> DataFrame:
        # existence checks avoid a logged JVM FileNotFound on fresh
        # stores and UNABLE_TO_INFER_SCHEMA on a store whose every date
        # partition was expired by apply_retention (dir exists, empty)
        if not os.path.isdir(self.msg_path) or not any(
            n.startswith("date=") for n in os.listdir(self.msg_path)
        ):
            return self._no_messages()
        return self.spark.read.parquet(self.msg_path)

    def _events(self) -> DataFrame:
        if not os.path.isdir(self.event_path):
            return self.spark.createDataFrame([], _EVENT_SCHEMA)
        return self.spark.read.schema(_EVENT_SCHEMA).parquet(self.event_path)

    def current(self, dates: list | None = None) -> DataFrame:
        """Current view: the one fold of the event log — one
        ``groupBy("id")`` over ``events/``, one left join to ``messages/``:

        * ``state`` — the latest state event, else the base state;
        * ``submessage_states`` — the base list, then the substate
          events in ``event_ts`` order;
        * ``store_meta`` — ``{key: [values]}`` in ``event_ts`` order
          (ties by value), NULL without meta events;
        * a delete event hides the id.

        Events only ever land after the base, so :meth:`compact`, which
        writes this view back as the base, never changes the answer.
        ``dates`` (internal, from :meth:`_id_dates`) prunes the base
        scan to those date partitions; the fold is unchanged."""
        msgs = self._messages()
        if dates:
            msgs = msgs.filter(F.col("date").isin(list(dates)))
        kind = F.col("kind")
        # event_ts leads each struct: collect_list order is partition-
        # dependent, and max_by/collect_list skip the other kinds' NULLs
        subs = F.sort_array(F.collect_list(F.when(
            kind == "substate", F.struct("event_ts", "sub_id", "state"))))
        fold = self._events().groupBy("id").agg(
            F.max_by("state", F.when(kind == "state", F.col("event_ts")))
            .alias("__state"),
            F.transform(subs, lambda e: F.struct(
                e["sub_id"].alias("sub_id"), e["state"].alias("state"),
                e["event_ts"].alias("ts"))).alias("__subs"),
            F.sort_array(F.collect_list(F.when(
                kind == "meta", F.struct("event_ts", "meta_value", "meta_key")
            ))).alias("__metas"),
            F.max(kind == "delete").alias("__deleted"),
        )
        keys = F.array_distinct(F.transform("__metas", lambda e: e["meta_key"]))
        store_meta = F.when(F.size("__metas") > 0, F.map_from_arrays(
            keys, F.transform(keys, lambda k: F.transform(
                F.filter("__metas", lambda e: e["meta_key"] == k),
                lambda e: e["meta_value"]))))
        subs_cur = F.when(F.size("__subs") > 0, F.concat(
            F.coalesce("submessage_states", F.array().cast(SUBSTATE_TYPE)),
            "__subs")).otherwise(F.col("submessage_states"))
        return (
            msgs.join(fold, "id", "left")
            .filter(~F.coalesce("__deleted", F.lit(False)))
            .withColumn("state", F.coalesce("__state", "state"))
            .withColumn("submessage_states", subs_cur)
            .withColumn("store_meta", store_meta)
            .drop("__state", "__subs", "__metas", "__deleted")
        )

    def total(self) -> int:
        """``msgstore.py:292``."""
        return self.current().count()

    def _id_dates(self, msg_id: str) -> list | None:
        """Partition-pruning lookup: the id's date partition(s) from the
        side index (written on every :meth:`store`). Returns None on an
        index MISS (id unknown to the index — e.g. a store predating
        the index) so callers fall back to the full scan; an index HIT
        makes the point lookup a one-partition read regardless of store
        size. The index row count equals message count but carries two
        small columns — at 100 TB it stays a ~1% side table."""
        if not os.path.isdir(self.index_path):
            return None
        rows = (
            self.spark.read.parquet(self.index_path)
            .filter(F.col("id") == msg_id)
            .select("date")
            .distinct()
            .collect()
        )
        return [r["date"] for r in rows] or None

    def get(self, msg_id: str):
        """Point lookup (``msgstore.py:710-717``) — partition-pruned via
        the id index when possible."""
        rows = (
            self.current(dates=self._id_dates(msg_id))
            .filter(F.col("id") == msg_id)
            .collect()
        )
        return rows[0] if rows else None

    def get_preview_str(self, msg_id: str, length: int = 1000):
        """First ``length`` chars of payload (``msgstore.py:727-735``)."""
        rows = (
            self.current(dates=self._id_dates(msg_id))
            .filter(F.col("id") == msg_id)
            .select(F.substring("payload", 1, length).alias("preview"))
            .collect()
        )
        return rows[0]["preview"] if rows else None

    def search(
        self,
        start: int = 0,
        count: int = 100,
        order_by: str = "timestamp",
        start_dt=None,
        end_dt=None,
        text: str | None = None,
        rtext: str | None = None,
        start_id: str | None = None,
        meta: dict | None = None,
    ) -> DataFrame:
        """The §2.G row-53/54 search surface as one Catalyst plan.

        Semantics mirror ``msgstore.py:777-867``:

        * ``start_dt``/``end_dt`` — timestamp range; the ``date``
          partition column prunes whole partitions (directory skipping,
          ``msgstore.py:805-811``).
        * ``text`` — substring anywhere in payload (``is_txt_in_msg``).
        * ``rtext`` — **anchored** regex (reference uses ``re.match``,
          ``msgstore.py:766-767``) → ``RLIKE '^(…)'``.
        * ``start_id`` — keyset pagination: strictly after that id
          (ids sort by timestamp by construction).
        * ``start``/``count`` — offset pagination (LIMIT pushdown).
        * ``order_by`` — ``timestamp`` / ``-timestamp`` / any message
          column; meta ordering via ``meta['k']``.
        * ``meta`` — dict of ``{name: v}`` exact / ``{'text_n': v}``
          contains / ``{'rtext_n': v}`` regex-search / ``{'start_n': v}``
          / ``{'end_n': v}`` numeric range / ``{'order_by': 'n'|'-n'}`` —
          ANY-match over store-meta lists (``msgstore.py:214-290``).
        """
        df = self.current()
        if start_dt is not None:
            df = df.filter(
                (F.col("timestamp") >= F.lit(start_dt))
                & (F.to_date("timestamp") >= F.to_date(F.lit(start_dt)))
            )
        if end_dt is not None:
            df = df.filter(
                (F.col("timestamp") <= F.lit(end_dt))
                & (F.to_date("timestamp") <= F.to_date(F.lit(end_dt)))
            )
        if text:
            df = df.filter(F.col("payload").contains(text))
        if rtext:
            df = df.filter(F.col("payload").rlike(f"^(?:{rtext})"))
        if start_id is not None:
            df = df.filter(F.col("id") > start_id)

        meta = dict(meta or {})
        meta_order = meta.pop("order_by", None)
        for key, value in meta.items():
            filt_name, _, meta_name = key.partition("_")
            if filt_name not in ("text", "rtext", "start", "end"):
                filt_name, meta_name = "exact", key
            vals = F.coalesce(
                F.col("store_meta").getItem(meta_name),
                F.when(
                    F.col("meta").getItem(meta_name).isNotNull(),
                    F.array(F.col("meta").getItem(meta_name)),
                ),
            )
            if filt_name == "exact":
                pred = F.exists(vals, lambda x: x == F.lit(value))
            elif filt_name == "text":
                pred = F.exists(vals, lambda x: x.contains(value))
            elif filt_name == "rtext":
                pred = F.exists(vals, lambda x: x.rlike(value))
            elif filt_name == "start":
                pred = F.exists(
                    vals, lambda x: x.cast("double") >= float(value)
                )
            else:  # end
                pred = F.exists(
                    vals, lambda x: x.cast("double") <= float(value)
                )
            df = df.filter(vals.isNotNull() & pred)

        if meta_order is not None:
            desc = meta_order.startswith("-")
            name = meta_order.lstrip("-")
            key = F.coalesce(
                F.element_at(F.col("store_meta").getItem(name), 1),
                F.col("meta").getItem(name),
                F.lit(""),
            )
            df = df.orderBy(key.desc() if desc else key.asc())
        else:
            desc = order_by.startswith("-")
            name = order_by.lstrip("-")
            col = F.col(name)
            df = df.orderBy(col.desc() if desc else col.asc())

        if start:
            df = df.offset(start)
        return df.limit(count)

    # -- replay ----------------------------------------------------------
    def get_for_replay(self, msg_id: str) -> DataFrame:
        """Stored message as a fresh 1-row DataFrame with renewed
        uuid/timestamp (``channels.py:857-869``, ``message.py:80-90``)."""
        one = (
            self.current(dates=self._id_dates(msg_id))
            .filter(F.col("id") == msg_id)
            .select(*MESSAGE_COLUMNS)
        )
        return renew(one).withColumn("state", F.lit(PENDING))


class NullMessageStore(MessageStore):
    """No-op store (``msgstore.py:315``), pypeman's default: it keeps
    nothing on disk. Every write is dropped and every read sees an
    empty store."""

    def __init__(self, spark: SparkSession, channel: str = "default"):
        self.spark = spark
        self.channel = channel

    def store(self, df: DataFrame, state: str = PENDING) -> None:
        pass

    def _append_events(self, df: DataFrame, events: F.Column) -> None:
        pass

    def apply_retention(self, keep_days: int | None = None, before=None) -> list[str]:
        return []

    def compact(self) -> None:
        pass

    def _messages(self) -> DataFrame:
        return self._no_messages()

    def _events(self) -> DataFrame:
        return self.spark.createDataFrame([], _EVENT_SCHEMA)

    def _id_dates(self, msg_id: str) -> list | None:
        return None


class MemoryMessageStore(MessageStore):
    """Ephemeral store in a temp dir (``msgstore.py:424``) — same engine,
    auto-cleaned."""

    def __init__(self, spark: SparkSession, channel: str = "default"):
        self._tmp = tempfile.mkdtemp(prefix=f"pypeman_spark_store_{channel}_")
        super().__init__(spark, self._tmp, channel)

    def close(self) -> None:
        shutil.rmtree(self._tmp, ignore_errors=True)


class FileMessageStore(MessageStore):
    """Durable store rooted at ``path/<channel>`` (``msgstore.py:576``)."""

    def __init__(self, spark: SparkSession, path: str, channel: str = "default"):
        super().__init__(spark, os.path.join(path, channel), channel)
