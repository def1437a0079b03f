"""Message store — the reference's queryable table (SURVEY §1.3, §2.G).

Reference: ``pypeman/msgstore.py``. Every message is persisted with its
state transitions and searchable meta; the file backend lays messages out
as ``<store>/<YYYY>/<MM>/<DD>/<ts>_<uuid>`` (``msgstore.py:805-811``).

Spark design — an **event-sourced audit store on two**
:class:`~.txtable.TxTable` **tables**, each keyed by ``id`` with one
bucket and no partition columns. Every write is one atomic commit and
every read is a ``snapshot()``:

* ``messages/`` — one row per stored message. ``date`` (the day of its
  ``timestamp``) is a plain column: :meth:`MessageStore.apply_retention`
  deletes on it.
* ``events/`` — state changes / sub-message states / meta additions /
  deletes as appended events, so no message row is ever rewritten to
  change its state. Every event has one shape (``_event``) and every
  write to the log goes through one append (``_append_events``); a
  channel batch settles its outcome states and store-meta in ONE append
  (:meth:`MessageStore.settle`). One per-id fold resolves them
  (:meth:`MessageStore.current`): one aggregate over the narrow event
  log, then one join to the wide message side.

``store``, ``settle`` (and the retry store's park) take
``txn=(app, version)``: a write whose ``version`` is not above the
table's last committed one for ``app`` is a no-op (Delta's ``txn``
idempotence), which is how a channel lands a re-delivered epoch once. Concurrent writers need no lease: appends
commute, and :meth:`MessageStore.compact` is three commits, none of
which changes :meth:`MessageStore.current`. A commit never deletes a
file: what compaction, deletes and retention remove stays on disk until
``TxTable.vacuum`` reclaims it past its grace period
(``MessageStore.messages.vacuum()`` and ``MessageStore.events.vacuum()``).

``search`` compiles to a single Catalyst plan with predicate pushdown
on ``timestamp`` and LIMIT pushdown for pagination.

Backends mirror the reference: :class:`NullMessageStore`
(``msgstore.py:315``), :class:`MemoryMessageStore` (``msgstore.py:424``)
and :class:`FileMessageStore` (``msgstore.py:576``) share one
implementation parameterized by path — memory uses a temp dir.
"""

from __future__ import annotations

import datetime as _dt
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..message import (
    MESSAGE_COLUMNS,
    MESSAGE_SCHEMA,
    PENDING,
    SUBSTATE_TYPE,
    conform,
    ensure_message_columns,
    renew,
    worst_state_expr,
)
from .txtable import TxTable

__all__ = [
    "MessageStore", "NullMessageStore", "MemoryMessageStore",
    "FileMessageStore",
]

_MESSAGE_ROW = T.StructType(
    MESSAGE_SCHEMA.fields + [T.StructField("date", T.DateType())]
)

_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("kind", T.StringType()),  # state|substate|meta|delete
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
    """TxTable-backed audit store with the full §2.G query surface."""

    def __init__(self, spark: SparkSession, base_path: str, channel: str = "default"):
        self.spark = spark
        self.base_path = base_path
        self.channel = channel
        self.msg_path = os.path.join(base_path, "messages")
        self.event_path = os.path.join(base_path, "events")
        self.messages = TxTable(spark, self.msg_path, key_cols=["id"], n_buckets=1)
        self.events = TxTable(spark, self.event_path, key_cols=["id"], n_buckets=1)

    # -- writes ----------------------------------------------------------
    def store(self, df: DataFrame, state: str = PENDING,
              txn: tuple[str, int] | None = None) -> None:
        """Append messages with state=pending (``msgstore.py:617-634``),
        ``date`` the day of their timestamp (the reference's YYYY/MM/DD
        tree). ``txn``: see the module docstring."""
        out = (
            ensure_message_columns(df, channel=self.channel)
            .withColumn("state", F.lit(state))
            .withColumn("date", F.to_date("timestamp"))
        )
        self.messages.append(conform(out, _MESSAGE_ROW), txn=txn)

    def _append_events(self, df: DataFrame, events: F.Column,
                       txn: tuple[str, int] | None = None) -> None:
        """The one append to ``events/``: each row of ``df`` with its
        ``events`` (an array of :func:`_event`), in one commit."""
        self.events.append(df.select("id", F.inline(events)), txn=txn)

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

    def settle(self, df: DataFrame, txn: tuple[str, int] | None = None) -> None:
        """Settle a batch's outcome rows: their state events and their
        ``__store_meta`` events in ONE append at one timestamp, one
        ``inline`` of ``[state event] ++ meta events`` — one scan, one
        job, one commit. Rows left out of ``df`` (a channel's parked
        ``wait_retry`` rows) keep their stored state and get no meta.
        ``txn``: see the module docstring."""
        ts = F.lit(time.time())
        events = F.array(_event("state", state=F.col("state"), event_ts=ts))
        if "__store_meta" in df.columns:
            events = F.concat(events, F.coalesce(_meta_events(ts), F.array()))
        self._append_events(df, events, txn=txn)

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
        substates (:meth:`current`'s fold)."""
        rows = self._one(msg_id).select(
            worst_state_expr(F.col("submessage_states.state")).alias("w")
        ).collect()
        if rows and rows[0]["w"] is not None:
            self.change_message_state(msg_id, rows[0]["w"])

    def delete(self, msg_id: str) -> None:
        """``msgstore.py:877-888``. Append a tombstone event; the current
        view hides the id, and :meth:`compact` deletes its row."""
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
        """Expire messages older than the cutoff: one ``delete_where``
        on ``date``, no tombstones (contrast :meth:`delete_many`, which
        is for targeted ids). Events of expired ids become orphans the
        next :meth:`compact` drops.

        Pass ``keep_days`` (cutoff = today - keep_days, driver clock)
        or an explicit ``before`` date/"YYYY-MM-DD" string; days
        STRICTLY OLDER than the cutoff are removed. Returns the expired
        days as ``date=YYYY-MM-DD`` names."""
        if (keep_days is None) == (before is None):
            raise ValueError("pass exactly one of keep_days / before")
        if before is None:
            cutoff = _dt.date.today() - _dt.timedelta(days=keep_days)
        elif isinstance(before, str):
            cutoff = _dt.date.fromisoformat(before)
        else:
            cutoff = before
        days = sorted(
            r["date"] for r in self._messages()
            .filter(F.col("date") < cutoff).select("date").distinct().collect()
        )
        if days:
            self.messages.delete_where(("date", "<", cutoff))
        return [f"date={d.isoformat()}" for d in days]

    def compact(self) -> None:
        """Shrink the store in three commits, none of which changes what
        :meth:`current` returns — so neither does a crash between two:

        1. ``messages`` deletes the rows of every id with a delete event;
        2. ``events`` swaps its log, in one commit, for the minimal
           equivalent (:meth:`_minimal_events`): per stored id the
           latest state event plus every substate, meta and delete
           event, each at its original ``event_ts``. Events of ids with
           no stored message (deleted in step 1, or expired) go;
        3. both tables merge their small files (``TxTable.compact``).

        Events appended meanwhile are kept: the swap removes only the
        files it folded, and an append that lands before its claim
        makes it fold again on the fresh snapshot (``TxTable.swap``).
        Later events sort after every kept one, so inserting
        ``compact()`` anywhere in a sequence of calls never changes the
        answer of :meth:`current`, then or after later events."""
        dead = self._events().filter(F.col("kind") == "delete").select("id")
        self.messages.delete_keys(dead)
        self.events.swap(self._minimal_events)
        self.messages.compact()
        self.events.compact()

    def _minimal_events(self, events: DataFrame) -> DataFrame:
        """The fewest events that fold to the same :meth:`current`:
        per id of a stored message, its latest state event plus every
        other event."""
        kind = F.col("kind")
        row = F.struct(*[f.name for f in _EVENT_SCHEMA.fields[1:]])
        per_id = (
            events.join(self._messages().select("id"), "id", "left_semi")
            .groupBy("id").agg(
                F.max_by(row, F.when(kind == "state", F.col("event_ts")))
                .alias("__state"),
                F.collect_list(F.when(kind != "state", row)).alias("__rest"),
            )
        )
        return per_id.select("id", F.inline(F.filter(
            F.concat(F.array("__state"), "__rest"), lambda e: e.isNotNull()
        )))

    # -- reads -----------------------------------------------------------
    def _read(self, table: TxTable, schema: T.StructType) -> DataFrame:
        df = table.snapshot()
        # a table no write has reached yet has no schema to read under
        return df if df.columns else self.spark.createDataFrame([], schema)

    def _messages(self) -> DataFrame:
        return self._read(self.messages, _MESSAGE_ROW)

    def _events(self) -> DataFrame:
        return self._read(self.events, _EVENT_SCHEMA)

    def current(self) -> DataFrame:
        """Current view: the one fold of the event log — one
        ``groupBy("id")`` over ``events/``, one left join to ``messages/``:

        * ``state`` — the latest state event, else the base state;
        * ``submessage_states`` — the base list, then the substate
          events in ``event_ts`` order;
        * ``store_meta`` — ``{key: [values]}`` in ``event_ts`` order
          (ties by value), NULL without meta events;
        * a delete event hides the id."""
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
            self._messages().join(fold, "id", "left")
            .filter(~F.coalesce("__deleted", F.lit(False)))
            .withColumn("state", F.coalesce("__state", "state"))
            .withColumn("submessage_states", subs_cur)
            .withColumn("store_meta", store_meta)
            .drop("__state", "__subs", "__metas", "__deleted")
        )

    def total(self) -> int:
        """``msgstore.py:292``."""
        return self.current().count()

    def _one(self, msg_id: str) -> DataFrame:
        return self.current().filter(F.col("id") == msg_id)

    def get(self, msg_id: str):
        """Point lookup (``msgstore.py:710-717``)."""
        rows = self._one(msg_id).collect()
        return rows[0] if rows else None

    def get_preview_str(self, msg_id: str, length: int = 1000):
        """First ``length`` chars of payload (``msgstore.py:727-735``)."""
        rows = self._one(msg_id).select(
            F.substring("payload", 1, length).alias("preview")
        ).collect()
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

        * ``start_dt``/``end_dt`` — timestamp range (the reference skips
          date directories, ``msgstore.py:805-811``; here the timestamp
          predicate pushes down to the parquet scan).
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
        one = self._one(msg_id).select(*MESSAGE_COLUMNS)
        return renew(one).withColumn("state", F.lit(PENDING))


class NullMessageStore(MessageStore):
    """No-op store (``msgstore.py:315``), pypeman's default: it keeps
    nothing on disk. Every write is dropped and every read sees an
    empty store."""

    def __init__(self, spark: SparkSession, channel: str = "default"):
        self.spark = spark
        self.channel = channel

    def store(self, df: DataFrame, state: str = PENDING,
              txn: tuple[str, int] | None = None) -> None:
        pass

    def _append_events(self, df: DataFrame, events: F.Column,
                       txn: tuple[str, int] | None = None) -> None:
        pass

    def apply_retention(self, keep_days: int | None = None, before=None) -> list[str]:
        return []

    def compact(self) -> None:
        pass

    def _messages(self) -> DataFrame:
        return self.spark.createDataFrame([], _MESSAGE_ROW)

    def _events(self) -> DataFrame:
        return self.spark.createDataFrame([], _EVENT_SCHEMA)


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
