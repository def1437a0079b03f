"""ACID multi-writer table format over plain parquet (mini Delta log).

Closes the one storage gap the append-only :mod:`msgstore` documents:
true multi-writer MERGE with snapshot isolation. The protocol is the
published Delta Lake design (Armbrust et al., VLDB 2020) reduced to
its load-bearing core — no proprietary code, just the public recipe:

* **Immutable data files + an ordered commit log.** Every table
  mutation writes NEW parquet files, then publishes them through the
  :mod:`.logstore`'s atomic CONDITIONAL PUT — "claim version V iff
  unclaimed" — so exactly one writer wins each version: one
  ``_txlog/<version 20 digits>.json`` file per commit, claimed via
  POSIX hardlink. The log entry lists ``add``/``remove`` file
  actions.
* **Snapshot isolation for readers.** A snapshot is the file set
  obtained by replaying the log up to a version. Data files are never
  mutated, so a reader's DataFrame stays consistent regardless of
  concurrent commits; removed files are only physically deleted by an
  explicit :meth:`vacuum`.
* **Optimistic concurrency for writers.** A merge reads snapshot
  version ``V``, rewrites only the key-hash buckets its updates touch,
  then tries to commit ``V+1``. If another writer got there first, it
  re-reads the interleaved commits: if their touched buckets are
  DISJOINT from ours, the writes commute and we simply commit at the
  next free version; if they intersect, our rewrite may have missed
  their rows — we abandon our staged files and retry from the new
  snapshot. Appends are add-only and never conflict with each other.
* **Bucket-scoped rewrites are the 100 TB story.** The table is laid
  out as ``data/bucket=<pmod(xxhash64(key), B)>/…``; a merge of M rows
  touches ~min(M, B) buckets and rewrites only those, never the whole
  table. B is chosen at table creation (4096 at warehouse scale keeps
  a rewrite unit at ~table/4096). Readers get directory-partition
  pruning on the bucket column for key-equality probes.
* **Checkpoints bound log replay.** Every ``checkpoint_interval``
  commits, the full live-file list is written beside the log
  (``<version>.checkpoint.json``); a snapshot replays only the tail.
  :meth:`TxTable.truncate_log` bounds log STORAGE the same way:
  entries a checkpoint supersedes are dropped (active CDC consumers
  and a requested time-travel window pin the floor), and any read
  that would need them raises :class:`LogTruncatedError` — surviving
  checkpoints stay readable as coarse time-travel anchors.
* **Deletion vectors (merge-on-read deletes).** ``delete_where(...,
  mode="dv")`` / ``delete_keys(..., mode="dv")`` mark row POSITIONS
  deleted in the commit log instead
  of rewriting the files that hold them — the Delta/Iceberg
  deletion-vector design: a point delete against a 100 TB table is a
  metadata-sized commit (positions, zlib+base85, in the log entry),
  not a gigabyte file rewrite. Every reader (snapshot / scan / lookup
  / DML rewrites / CDC / compaction) applies the vectors; ``compact``
  materializes them away. Oversized vectors escalate per file to a
  copy-on-write rewrite, so vectors stay metadata-sized by
  construction.

Row-level DML: ``delete_keys``, ``delete_where``, ``update_where``,
``replace_where`` and ``merge`` each pick their candidate files and
their plan shape, then hand the row work to one step,
:meth:`TxTable._dml_step`: the files' target rows, a ``kill`` Column
and an optional post-image of the killed rows. ``mode="dv"``
(merge-on-read) caches the killed rows with their positions and
decides per file: a vectored file stages only the post-images, an
escalated file is read again and rewritten. ``mode="rewrite"``
(copy-on-write) is that same path with every touched file escalated,
so it reads no row position at all.

Commit protocol: every mutation runs through one attempt runner,
:meth:`TxTable._run_commit`. A mutation supplies only its
single-attempt body, which turns a replayed snapshot into log actions
plus the data files it staged (or into a version to return without
committing). The runner owns the rest: the snapshot, the
writer-protocol gate, the ``txn`` idempotence no-op, the v3 protocol
bump a first deletion vector needs, the claim, deleting the staged
files of a lost attempt and the final :class:`CommitConflict`.
Ops in ``_COMMUTING_OPS`` claim through :meth:`TxTable._occ_commit`:
past an interleaved commit that is scope-disjoint and commuting they
re-claim the next version without restaging. Any other op (schema,
constraint, protocol, restore) retries from a fresh snapshot on any
lost race, so it re-validates against the winner. A mutation gives up
after ``_COMMIT_ATTEMPTS`` attempts.

Crash safety: a writer that dies after staging data files but before
its commit leaves orphans that no snapshot references; :meth:`vacuum`
deletes unreferenced files older than a grace period. A writer that
dies mid-commit cannot corrupt the table: the LogStore contract
requires the payload to be complete the instant the version becomes
visible (the file store links a fully-fsynced temp file into place).
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import shutil
import time
import typing
import uuid
import warnings

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..streaming.token import query_token

__all__ = [
    "TxTable", "CommitConflict", "ConstraintViolation",
    "TableProtocolError", "VacuumedVersionError",
    "LogReadError", "LogTruncatedError",
]

_LOG_DIR = "_txlog"
_VERSION_DIGITS = 20

# Ops whose BUCKET-DISJOINT commits commute with an in-flight
# bucket-scoped rewrite (any bucket overlap always forces a retry).
# "create" and unknown ops are conservatively treated as conflicts.
_COMMUTING_OPS = (
    "append", "merge", "delete", "compact", "update", "replace",
)

# Attempts a mutation makes (each from a fresh snapshot) before it
# raises CommitConflict — see TxTable._run_commit.
_COMMIT_ATTEMPTS = 20

# Hive-style directory token for a NULL partition value (what Spark's
# partitioned writer emits and its reader maps back to null).
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

# Partition column types whose directory encoding round-trips exactly
# through ``_pvalstr`` (timestamps/floats don't — their path form is
# writer-version-dependent, so they are rejected as partition columns).
_PARTITIONABLE_TYPES = (
    "string", "integer", "long", "short", "byte", "date", "boolean",
)

# Protocol versions THIS code understands (the Delta minReader/
# minWriter recipe): a table whose log demands more raises
# TableProtocolError instead of silently misreading new constructs.
# v1 = the original bucket-only format; v2 adds partition columns
# (Hive layout + per-add partition values) and the update/replace
# change-feed ops — a v1 reader would rebuild CDC rows with null
# partition columns and skip update/replace commits entirely, and a
# v1 writer would stage files without the partition directories.
# v3 adds deletion vectors ("dv" actions): a v2 reader would return
# rows a dv commit already deleted (silent resurrection), so the
# first dv commit bumps min_reader/min_writer to 3 in the same
# atomic commit.
# v4 adds log truncation (truncate_log's floor): a v3-or-older reader
# replaying a truncated log from scratch would silently miss the
# dropped commits (phantom/resurrected rows, no error), so the first
# actual truncation commits a protocol bump BEFORE deleting any
# entry — the reader fails loudly with TableProtocolError instead.
_SUPPORTED_READER = 4
_SUPPORTED_WRITER = 4
_DEFAULT_PROTOCOL = {"min_reader": 1, "min_writer": 1}


class TableProtocolError(RuntimeError):
    """The table's log requires a newer reader/writer protocol than
    this code supports — refuse loudly rather than misread/corrupt."""


class LogReadError(RuntimeError):
    """A commit the log LISTED could not be read even after bounded
    retries. The LogStore contract makes a version's payload complete
    the instant it becomes visible, so this is either sustained
    object-store read lag or a lost/corrupt log object — either way
    the only safe answer is loud failure: silently skipping a listed
    commit would replay an inconsistent live set (phantom or
    resurrected rows) or drop rows from the change feed."""


class LogState(typing.NamedTuple):
    """Replayed log state. A NamedTuple so positional unpacking and
    the historical ``[:4]`` / ``[4]`` slices keep working."""

    version: int
    live: "dict[str, dict]"
    txns: "dict[str, int]"
    schema: "str | None"
    constraints: "dict[str, str]"
    protocol: "dict[str, int]"


class _Plan(typing.NamedTuple):
    """One commit attempt of a mutation: the log ``actions`` to
    publish, the ``staged`` add actions whose files this attempt wrote
    (deleted if the attempt loses), the write scope (``buckets``,
    ``scopes``) other writers' clash checks read from the commit info,
    and ``extra`` commit-info keys."""

    actions: list
    staged: "list | tuple" = ()
    buckets: "list | tuple" = ()
    scopes: "set | None" = None
    extra: "dict | None" = None

from .logstore import FileLogStore, LogStore  # noqa: E402


class CommitConflict(RuntimeError):
    """Raised when a mutation loses ``_COMMIT_ATTEMPTS`` commit races."""


class VacuumedVersionError(RuntimeError):
    """Raised when a time-travel snapshot/scan or a change-feed read
    references data files :meth:`TxTable.vacuum` already deleted — a
    deterministic protocol error instead of a raw scan failure or a
    silent partial answer (the Delta-documented behavior: the
    retention window bounds both time travel and the CDC feed)."""

    def __init__(self, what: str, missing: "list[str]"):
        self.missing = list(missing)
        super().__init__(
            f"{what} references {len(self.missing)} vacuumed data "
            f"file(s) (first: {self.missing[0]}); increase the vacuum "
            f"grace period / retention, or read a newer version"
        )


class ConstraintViolation(RuntimeError):
    """Raised when a write (or ``add_constraint`` on existing data)
    violates an active CHECK constraint. Carries ``.counts`` —
    {constraint name: violating-row count}."""

    def __init__(self, counts: "dict[str, int]"):
        self.counts = dict(counts)
        super().__init__(f"CHECK constraint(s) violated: {self.counts}")


def _version_of(fname: str) -> int:
    return int(fname.split(".")[0])


# legal type widenings (Delta type-widening lattice, restricted to
# promotions Spark 4's parquet reader performs natively on old files
# — probed: int32->int64, float->double, int->double all read without
# rewrite; date->timestamp does NOT and is excluded):
_WIDENS = {
    "byte": {"short", "integer", "long", "double"},
    "short": {"integer", "long", "double"},
    "integer": {"long", "double"},
    "float": {"double"},
}


def _widens(frm: str, to: str) -> bool:
    return to in _WIDENS.get(frm, ())


def _as_epoch(timestamp) -> float:
    """Epoch seconds from the accepted TIMESTAMP AS OF forms: a
    number (epoch seconds, what commit infos record), a datetime
    (naive = UTC, matching the epoch clock commits use), a date
    (midnight UTC), or an ISO-8601 string."""
    import datetime

    if isinstance(timestamp, (int, float)) and not isinstance(
        timestamp, bool
    ):
        return float(timestamp)
    if isinstance(timestamp, str):
        try:  # numeric strings are epoch seconds (CLI pass-through)
            return float(timestamp)
        except ValueError:
            timestamp = datetime.datetime.fromisoformat(timestamp)
    if isinstance(timestamp, datetime.datetime):
        if timestamp.tzinfo is None:
            timestamp = timestamp.replace(tzinfo=datetime.timezone.utc)
        return timestamp.timestamp()
    if isinstance(timestamp, datetime.date):
        return datetime.datetime(
            timestamp.year, timestamp.month, timestamp.day,
            tzinfo=datetime.timezone.utc,
        ).timestamp()
    raise TypeError(
        f"timestamp must be epoch seconds, datetime, date, or ISO "
        f"string; got {type(timestamp).__name__}"
    )


def _pvalstr(v) -> "str | None":
    """Canonical string form of a PARTITION value — chosen to equal
    the decoded directory token Spark's Hive-style writer emits for
    the :data:`_PARTITIONABLE_TYPES`, so values collected from an
    updates DataFrame compare equal to path-derived ``parts``."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    import datetime

    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return str(v)


def _parts_of_relpath(relpath: str) -> "dict[str, str | None]":
    """Decode the Hive-style ``col=value`` directory segments of a
    data-file path into {col: decoded value or None} — the ``bucket``
    segment is the hash layout, not a partition, and is excluded."""
    from urllib.parse import unquote

    out: "dict[str, str | None]" = {}
    for seg in relpath.split("/")[:-1]:
        k, eq, v = seg.partition("=")
        if not eq or k == "bucket":
            continue
        out[k] = None if v == _HIVE_NULL else unquote(v)
    return out


def _commit_name(version: int) -> str:
    return f"{version:0{_VERSION_DIGITS}d}.json"


# ------------------------------------------------ deletion vectors --
#
# A deletion vector is the set of ROW POSITIONS (parquet row indexes,
# 0-based within one immutable data file) a delete marked dead without
# rewriting the file. It rides in the commit log itself as a "dv"
# action — {"file", "pos" (sorted uint64le, zlib, base85), "card"} —
# and in replayed state as live[file]["dv"], so checkpoints carry it
# for free and a "remove" of the file drops it with the file. Each dv
# action holds the CUMULATIVE vector for its file (successive deletes
# re-publish the union), so replay is last-writer-wins per file and
# the change feed diffs consecutive vectors for the newly dead rows.


# Escalation bounds keeping vectors metadata-sized BY CONSTRUCTION
# (the log is the metadata plane; a vector that outgrows these is no
# longer a metadata-sized commit and the file is copy-on-write
# rewritten instead): a file whose CUMULATIVE dead fraction would
# reach _DV_MAX_FRAC, whose new match count exceeds _DV_MAX_POSITIONS
# (pre-collect bound — positions are gathered driver-side), or whose
# encoded vector exceeds _DV_MAX_ENCODED escalates.
_DV_MAX_FRAC = 0.5
_DV_MAX_POSITIONS = 1 << 21
_DV_MAX_ENCODED = 1 << 20
# TABLE-level cap on total live dv positions: the snapshot read
# unions every live file's positions into ONE driver-built broadcast
# (_read_files), so per-file bounds alone leave it unbounded across
# files. A dv write that would push the live total past this cap
# escalates the offending file(s) to copy-on-write and warns to run
# compact(); stats() exposes the running total as
# ``dv_total_positions``.
_DV_MAX_TABLE_POSITIONS = 1 << 23
# Positions are materialized driver-side per commit; collect them in
# chunks of at most this many matched rows so a wide delete touching
# many files never holds every file's Row objects at once.
_DV_COLLECT_CHUNK = 1 << 22
# DEEP clone copy routing: at or below this many total bytes the
# driver copies the files itself — scheduling a Spark job for a
# metadata-sized table costs more than the copy. Above it, the
# (src, dst) pairs ship as Spark tasks: bytes move through the
# cluster's aggregate storage bandwidth with task retry, never
# bottlenecked on one node. (DEEP_CLONE_STUDY_r12.json records the
# distributed path's wall time at 1 to 32 copy tasks against the
# driver-serial copy of the same 2 GB.)
_DEEP_CLONE_DRIVER_MAX_BYTES = 256 << 20
# Shallow-clone marker staleness: a clone's reads refresh its marker
# at the source, so an active clone pins source vacuum/log-retention
# indefinitely; a clone unread for this long (deleted, abandoned) is
# ignored. Clones are read at human/job cadence, not micro-batch
# cadence, hence days where consumer markers use an hour.
_CLONE_TTL_S = 7 * 24 * 3600.0


def _dv_encode(positions) -> "tuple[str, int]":
    """(base85(zlib(sorted uint64le positions)), cardinality)."""
    import array
    import base64
    import sys
    import zlib

    a = array.array("Q", sorted({int(p) for p in positions}))
    if sys.byteorder != "little":
        a.byteswap()
    return (
        base64.b85encode(zlib.compress(a.tobytes(), 6)).decode("ascii"),
        len(a),
    )


def _dv_decode(pos: str) -> "list[int]":
    """Sorted row positions of an encoded deletion vector."""
    import array
    import base64
    import sys
    import zlib

    a = array.array("Q")
    a.frombytes(zlib.decompress(base64.b85decode(pos)))
    if sys.byteorder != "little":
        a.byteswap()
    return a.tolist()


def _sql_name(name: str) -> str:
    """``name`` as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _keys_match(keys: "list[str]") -> "F.Column":
    """``t`` and ``s`` hold the same key: null-safe, so a null key
    part matches a null (a MERGE ``ON`` written with ``<=>``)."""
    return functools.reduce(lambda a, b: a & b, [
        F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in keys
    ])


def _file_uri(abspath: str) -> str:
    """``abspath`` in exactly the form Spark's ``_metadata.file_path``
    reports it (Hadoop ``Path.toString``: ``file:`` + single slash +
    the path percent-encoded per RFC 3986 *path* rules — space becomes
    ``%20`` but sub-delims like the ``=`` of ``bucket=N`` stay bare;
    ``pathname2url`` would over-encode ``=`` and silently break the
    DV join) — the join key the DV reads match on."""
    from urllib.parse import quote

    return "file:" + quote(
        os.path.abspath(abspath), safe="/:@!$&'()*+,;="
    )


# Module-level log readers: pure LogStore+json, no SparkSession —
# shared by TxTable and the streaming source (txtable_stream.py), whose
# driver-side offset worker has no session to hand around. Each
# accepts a LogStore or a log-dir path.


def _as_logstore(store: "LogStore | str") -> LogStore:
    return FileLogStore(store) if isinstance(store, str) else store


class LogTruncatedError(RuntimeError):
    """The read needs commit-log entries :meth:`TxTable.truncate_log`
    dropped — time travel below the retention floor, or a change-feed
    range starting under it. Deterministic refusal, the same contract
    :class:`VacuumedVersionError` gives vacuumed data files."""


def _log_floor(store: "LogStore | str") -> int:
    """The log-retention floor (0 = never truncated): versions below
    it were dropped by :meth:`TxTable.truncate_log` and reads needing
    them must raise :class:`LogTruncatedError`. Persisted as a sidecar
    under the log dir (atomic replace), readable by any store whose
    impl exposes ``log_dir``."""
    store = _as_logstore(store)
    d = getattr(getattr(store, "inner", store), "log_dir", None)
    if not d:
        return 0
    try:
        with open(os.path.join(d, "floor.json")) as fh:
            return int(json.load(fh)["floor"])
    except (OSError, ValueError, KeyError):
        return 0


class _MonotonicLogStore(LogStore):
    """Session read-your-own-writes over any LogStore: remembers the
    highest version this handle has COMMITTED or ever SEEN listed,
    and refuses to go backwards — a stale listing (object-store
    prefix lag) below the watermark is retried with backoff and
    raises :class:`LogReadError` if it never settles, instead of
    silently replaying a table state that misses commits this very
    process knows exist. Transparent otherwise: every other call
    delegates to the wrapped store, whose conditional put is
    untouched."""

    def __init__(self, inner: "LogStore"):
        self.inner = inner
        self.known = -1

    def list_versions(self) -> "list[int]":
        import time as _time

        out = self.inner.list_versions()
        if self.known >= 0 and (not out or out[-1] < self.known):
            for i in range(5):
                _time.sleep(0.05 * (2 ** i))
                out = self.inner.list_versions()
                if out and out[-1] >= self.known:
                    break
            else:
                newest = out[-1] if out else None
                raise LogReadError(
                    f"log listing is stale: this handle knows version "
                    f"{self.known} exists but the newest listed is "
                    f"{newest}; refusing to read a state that misses "
                    f"known commits"
                )
        if out:
            self.known = max(self.known, out[-1])
        return out

    def put_if_absent(self, version: int, payload: str) -> bool:
        ok = self.inner.put_if_absent(version, payload)
        if ok:
            self.known = max(self.known, version)
        return ok

    def read(self, version: int) -> "str | None":
        return self.inner.read(version)

    def latest_checkpoint(self, upto: int):
        return self.inner.latest_checkpoint(upto)

    def write_checkpoint(self, version: int, state: dict) -> None:
        return self.inner.write_checkpoint(version, state)

    def list_checkpoints(self) -> "list[int]":
        return self.inner.list_checkpoints()

    def delete(self, version: int) -> None:
        return self.inner.delete(version)

    def overwrite(self, version: int, payload: str) -> None:
        return self.inner.overwrite(version, payload)


def _read_committed(
    store: "LogStore", version: int, what: str,
    retries: int = 5, backoff_s: float = 0.05,
) -> str:
    """Read a version ``list_versions`` SHOWED, absorbing transient
    object-store read lag (brief exponential backoff — the payload
    must appear, it was visible) and raising :class:`LogReadError` if
    it never does. This is the eventual-consistency seam: a store
    whose reads briefly trail its listings costs retries here, never
    a silently incomplete replay."""
    import time as _time

    for i in range(retries):
        payload = store.read(version)
        if payload is not None:
            return payload
        if i + 1 < retries:
            _time.sleep(backoff_s * (2 ** i))
    raise LogReadError(
        f"commit {version} is listed but unreadable after {retries} "
        f"attempts ({what}); refusing to proceed with an incomplete "
        f"log — check the log store for lost objects"
    )


def _replay_log(
    store: "LogStore | str", upto: "int | None" = None
) -> LogState:
    """:class:`LogState` — (version, live {relpath: add-info}, txn
    markers, schema JSON, constraints {name: SQL expr}, protocol
    {min_reader, min_writer}) as of ``upto`` (default latest),
    replaying from the newest checkpoint at or below. Raises
    :class:`TableProtocolError` if the replayed protocol demands a
    newer READER than this code implements — a v-old reader must fail
    loudly, never misinterpret constructs it predates."""
    store = _as_logstore(store)
    versions = store.list_versions()
    if upto is not None:
        fl = _log_floor(store)
        if upto < fl and (
            # a surviving checkpoint EXACTLY at upto still answers the
            # read whole (no entries needed) — retention keeps
            # checkpointed versions travelable as coarse anchors
            (ck := store.latest_checkpoint(upto)) is None
            or ck[0] != upto
        ):
            raise LogTruncatedError(
                f"version {upto} predates the log-retention floor "
                f"{fl} (truncate_log dropped its commits) and no "
                f"checkpoint survives at exactly that version"
            )
        versions = [v for v in versions if v <= upto]
    # the effective as-of version: the caller's bound when given (a
    # truncated log may list fewer entries than the bound covers —
    # the checkpoint lookup below must still see the full target),
    # else the listed head
    target = upto if upto is not None else (
        versions[-1] if versions else -1
    )
    if target < 0:
        return LogState(-1, {}, {}, None, {}, dict(_DEFAULT_PROTOCOL))
    live: dict[str, dict] = {}
    txns: dict[str, int] = {}
    schema: "str | None" = None
    cons: dict[str, str] = {}
    proto: dict[str, int] = dict(_DEFAULT_PROTOCOL)
    start = 0
    ckpt = store.latest_checkpoint(target)
    if ckpt is not None:
        cv, state = ckpt
        live = dict(state["live"])
        txns = dict(state.get("txns", {}))
        schema = state.get("schema")
        cons = dict(state.get("constraints", {}))
        proto = dict(state.get("protocol", _DEFAULT_PROTOCOL))
        start = cv + 1
    for v in versions:
        if v < start:
            continue
        payload = _read_committed(store, v, "log replay")
        for line in payload.splitlines():
            if not line.strip():
                continue
            a = json.loads(line)
            if "add" in a:
                live[a["add"]["file"]] = a["add"]
            elif "remove" in a:
                live.pop(a["remove"]["file"], None)
            elif "dv" in a:
                f = a["dv"]["file"]
                if f in live:  # cumulative vector, last writer wins
                    live[f] = {**live[f], "dv": {
                        "pos": a["dv"]["pos"],
                        "card": int(a["dv"]["card"]),
                    }}
            elif "schema" in a:
                schema = a["schema"]
            elif "constraint_add" in a:
                c = a["constraint_add"]
                cons[c["name"]] = c["expr"]
            elif "constraint_drop" in a:
                cons.pop(a["constraint_drop"], None)
            elif "protocol" in a:
                p = a["protocol"]
                proto = {
                    "min_reader": max(
                        proto["min_reader"], int(p.get("min_reader", 1))
                    ),
                    "min_writer": max(
                        proto["min_writer"], int(p.get("min_writer", 1))
                    ),
                }
            elif "commit" in a and "txn" in a["commit"]:
                tx = a["commit"]["txn"]
                txns[tx["app"]] = max(
                    txns.get(tx["app"], -1), tx["version"]
                )
    if proto["min_reader"] > _SUPPORTED_READER:
        raise TableProtocolError(
            f"table requires reader protocol "
            f">= {proto['min_reader']}; this engine supports "
            f"{_SUPPORTED_READER}"
        )
    # version = what the state reflects: the listed head, or the
    # checkpoint when a truncated log lists nothing past it
    return LogState(
        max(versions[-1] if versions else -1,
            ckpt[0] if ckpt is not None else -1),
        live, txns, schema, cons, proto,
    )


def _schema_colmap(schema_json: "str | None") -> "dict[str, str]":
    """{logical name: physical name} for fields whose on-disk name
    differs (column-mapping: physical names are fixed at column birth,
    renames are logical-only — the Delta column-mapping recipe via
    StructField metadata)."""
    if schema_json is None:
        return {}
    out = {}
    for f in json.loads(schema_json).get("fields", []):
        p = (f.get("metadata") or {}).get("physical")
        if p and p != f["name"]:
            out[f["name"]] = p
    return out


def _schema_dropped(schema_json: "str | None") -> list[str]:
    """Physical names ever dropped from the table — kept inside the
    schema JSON (extra key, ignored by StructType.fromJson) so a
    later re-ADD of the same logical name gets a FRESH physical name
    and can never resurrect dropped data from old files."""
    if schema_json is None:
        return []
    return list(json.loads(schema_json).get("x_dropped", []))


def _schema_json_with(struct, dropped: "list[str]") -> str:
    d = json.loads(struct.json())
    if dropped:
        d["x_dropped"] = sorted(set(dropped))
    return json.dumps(d)


def _dml_mode(op: str, mode: str) -> str:
    """A row-level DML verb's ``mode``, checked here for all of them:
    "rewrite" (copy-on-write) or "dv" (merge-on-read)."""
    if mode not in ("rewrite", "dv"):
        raise ValueError(
            f"{op} mode must be 'rewrite' or 'dv', got {mode!r}"
        )
    return mode


def _v2_bump(st: LogState, dv_acts: "list[dict]") -> "list[dict]":
    """The protocol-v2 upgrade an update/replace commit carries on a
    v1 table: both are v2 change-feed ops, and a v1 CDC reader must
    fail loudly instead of silently skipping their row changes. A
    commit with dv actions gets the v3 bump instead (_run_commit)."""
    if dv_acts or st.protocol["min_reader"] >= 2:
        return []
    return [{"protocol": {"min_reader": 2, "min_writer": 2}}]


def _schema_plan(
    fields: list, schema_json: "str | None", dropped=(),
) -> _Plan:
    """A schema-only commit: ``fields`` become the schema; the drop
    tombstones of ``schema_json``, plus ``dropped``, carry over."""
    from pyspark.sql.types import StructType

    return _Plan([{"schema": _schema_json_with(
        StructType(fields), _schema_dropped(schema_json) + list(dropped)
    )}])


def _commit_actions_of(
    store: "LogStore | str", version: int
) -> "tuple[list[dict], list[str], list[dict], dict] | None":
    """(add-infos, removed relpaths, dv actions, commit-info) of one
    commit. None only for a version the log never listed; a LISTED
    version that cannot be read raises :class:`LogReadError` (after
    the retry window) — the change feed silently skipping a commit
    would lose rows."""
    store = _as_logstore(store)
    payload = store.read(version)
    if payload is None:  # slow path only: lag vs genuinely unlisted
        if version not in store.list_versions():
            return None
        payload = _read_committed(store, version, "commit actions")
    adds: list[dict] = []
    removes: list[str] = []
    dvs: list[dict] = []
    info: dict = {}
    for line in payload.splitlines():
        if not line.strip():
            continue
        a = json.loads(line)
        if "add" in a:
            adds.append(a["add"])
        elif "remove" in a:
            removes.append(a["remove"]["file"])
        elif "dv" in a:
            dvs.append(a["dv"])
        elif "commit" in a:
            info = a["commit"]
    return adds, removes, dvs, info


class TxTable:
    """A parquet table with an ACID commit log (see module docstring).

    ``key_cols`` defines merge identity; ``n_buckets`` fixes the
    key-hash layout for the table's lifetime (stored in version 0's
    metadata and re-read on open, so writers can never disagree on
    the bucketing).

    The commit log is a :class:`~.logstore.FileLogStore` under
    ``path/_txlog``; ``logstore`` takes a :class:`LogStore` instance
    in its place (the fault-injection seam the chaos tests use).

    ``partition_by`` (fixed at creation, like the bucket layout)
    adds Hive-style ``col=value`` directory partitioning ABOVE the
    bucket dirs, with each add action recording its exact partition
    values in the log (Delta's ``partitionValues``): :meth:`scan` and
    the predicate DML (:meth:`delete_where` / :meth:`update_where` /
    :meth:`replace_where`) prune files on partition predicates
    EXACTLY — and can prove whole files inside a region, turning
    partition-aligned deletes/overwrites into metadata-only commits;
    when ``partition_by ⊆ key_cols``, merges and conflict detection
    refine from buckets to (partition, bucket) scopes, so writers on
    different dates of the same bucket commute. Partition column
    types are restricted to the exactly-round-tripping set
    (string/int/date/bool — no floats or timestamps, whose path
    encoding is writer-dependent); partition columns cannot be
    renamed, dropped, or updated in place.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: "list[str] | None" = None,
        n_buckets: int = 16,
        checkpoint_interval: int = 20,
        logstore: "LogStore | None" = None,
        partition_by: "list[str] | None" = None,
        dv_table_cap: "int | None" = None,
        deep_clone_driver_max_bytes: "int | None" = None,
    ):
        self.spark = spark
        self.path = path
        self.log_dir = os.path.join(path, _LOG_DIR)
        self.data_dir = os.path.join(path, "data")
        os.makedirs(self.log_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)
        self.logstore = logstore or FileLogStore(self.log_dir)
        if not isinstance(self.logstore, _MonotonicLogStore):
            # session read-your-own-writes: this handle must never
            # replay a listing below a version it committed or saw
            self.logstore = _MonotonicLogStore(self.logstore)
        self._clone_marker_info: "tuple | None" = None
        meta = self._read_meta()
        if meta is not None:
            self.key_cols = meta["key_cols"]
            self.n_buckets = meta["n_buckets"]
            self.checkpoint_interval = meta.get(
                "checkpoint_interval", checkpoint_interval
            )
            # layout identity like key_cols/n_buckets: the creator's
            # choice wins, re-read on every open ([] for pre-partition
            # tables — their behavior is bit-identical to before)
            self.partition_by = list(meta.get("partition_by", []))
            # dv sizing is a TABLE property (create-time, like the
            # layout): every writer must agree on when a vector
            # escalates to rewrite, or the cap stops being a bound
            self.dv_table_cap = int(
                meta.get("dv_table_cap", _DV_MAX_TABLE_POSITIONS)
            )
            # deep-clone copy routing is a table property too: the
            # right driver/executor byte threshold tracks the table's
            # storage (slow object store => lower; local NVMe =>
            # higher), not the code version
            self.deep_clone_driver_max_bytes = int(
                meta.get(
                    "deep_clone_driver_max_bytes",
                    _DEEP_CLONE_DRIVER_MAX_BYTES,
                )
            )
        else:
            if not key_cols:
                raise ValueError(
                    f"new TxTable at {path} needs key_cols"
                )
            self.key_cols = list(key_cols)
            self.n_buckets = int(n_buckets)
            self.checkpoint_interval = int(checkpoint_interval)
            self.partition_by = list(partition_by or [])
            if "bucket" in self.partition_by:
                raise ValueError(
                    "'bucket' is the hash-layout column, not a "
                    "partition column"
                )
            if dv_table_cap is not None and int(dv_table_cap) < 1:
                raise ValueError("dv_table_cap must be positive")
            self.dv_table_cap = int(
                dv_table_cap if dv_table_cap is not None
                else _DV_MAX_TABLE_POSITIONS
            )
            if (
                deep_clone_driver_max_bytes is not None
                and int(deep_clone_driver_max_bytes) < 0
            ):
                raise ValueError(
                    "deep_clone_driver_max_bytes must be >= 0 "
                    "(0 = always copy executor-side)"
                )
            self.deep_clone_driver_max_bytes = int(
                deep_clone_driver_max_bytes
                if deep_clone_driver_max_bytes is not None
                else _DEEP_CLONE_DRIVER_MAX_BYTES
            )
            actions: list[dict] = [{
                "meta": {
                    "key_cols": self.key_cols,
                    "n_buckets": self.n_buckets,
                    "checkpoint_interval": self.checkpoint_interval,
                    **(
                        {"partition_by": self.partition_by}
                        if self.partition_by else {}
                    ),
                    **(
                        {"dv_table_cap": self.dv_table_cap}
                        if dv_table_cap is not None else {}
                    ),
                    **(
                        {
                            "deep_clone_driver_max_bytes":
                            self.deep_clone_driver_max_bytes
                        }
                        if deep_clone_driver_max_bytes is not None
                        else {}
                    ),
                }
            }]
            if self.partition_by:
                # partitioned layout is a protocol-v2 construct: a v1
                # reader would null-fill partition columns in the CDC
                # feed, a v1 writer would stage without the partition
                # directories — both must fail loudly instead
                actions.append({
                    "protocol": {"min_reader": 2, "min_writer": 2}
                })
            self._commit(
                expected_version=0,
                actions=actions,
                op="create",
                buckets=[],
            )

    # ---------------------------------------------------------- log --

    def _log_versions(self) -> list[int]:
        return self.logstore.list_versions()

    def _read_meta(self) -> "dict | None":
        payload = self.logstore.read(0)
        if payload is None:
            return None
        for line in payload.splitlines():
            if line.strip():
                a = json.loads(line)
                if "meta" in a:
                    return a["meta"]
        return None

    def version(self) -> int:
        versions = self._log_versions()
        return versions[-1] if versions else -1

    def _replay(self, upto: "int | None" = None) -> "tuple[int, dict[str, dict]]":
        v, live, _txns, _schema = self._replay_full(upto)
        return v, live

    def _replay_full(
        self, upto: "int | None" = None
    ) -> "tuple[int, dict[str, dict], dict[str, int], str | None]":
        """Live file set {relpath: add-info}, idempotence markers
        {txn app: last committed version}, and the current schema JSON
        (None until a schema action lands) as of ``upto`` (default:
        latest). Replays from the newest checkpoint at or below."""
        return _replay_log(self.logstore, upto)[:4]

    def constraints(self, upto: "int | None" = None) -> "dict[str, str]":
        """Active CHECK constraints {name: SQL expr} as of ``upto``."""
        return _replay_log(self.logstore, upto)[4]

    def protocol(self, upto: "int | None" = None) -> "dict[str, int]":
        """The table's reader/writer protocol requirement
        {min_reader, min_writer} as of ``upto`` — the Delta
        minReaderVersion/minWriterVersion recipe. Reads raise
        :class:`TableProtocolError` during replay when min_reader
        exceeds this engine; writes additionally check min_writer."""
        return _replay_log(self.logstore, upto).protocol

    @staticmethod
    def _check_writer(proto: "dict[str, int]") -> None:
        if proto.get("min_writer", 1) > _SUPPORTED_WRITER:
            raise TableProtocolError(
                f"table requires writer protocol "
                f">= {proto['min_writer']}; this engine supports "
                f"{_SUPPORTED_WRITER}"
            )

    @staticmethod
    def _violations(df: DataFrame, cons: "dict[str, str]") -> dict:
        """{name: count of rows whose CHECK expr is FALSE} in one
        aggregation pass (SQL semantics: NULL passes a CHECK)."""
        row = df.agg(*[
            F.sum(
                F.when(~F.coalesce(F.expr(e), F.lit(True)), 1).otherwise(0)
            ).alias(n)
            for n, e in sorted(cons.items())
        ]).first()
        return {n: int(row[n]) for n in cons if row[n]}

    def _validate_adds(
        self, adds: "list[dict]", schema_json: "str | None",
        cons: "dict[str, str]",
    ) -> None:
        """Enforce CHECK constraints on freshly staged files (read-back
        of ONLY the new files — no join recompute, no table scan); on
        violation the staged files are discarded and the commit never
        happens."""
        if not cons or not adds:
            return
        bad = self._violations(
            self._read_files([a["add"]["file"] for a in adds], schema_json),
            cons,
        )
        if bad:
            self._discard(adds)
            raise ConstraintViolation(bad)

    def add_constraint(self, name: str, expr: str) -> int:
        """Register a CHECK constraint (SQL expression over the table
        columns; NULL passes, like SQL CHECK). Existing rows are
        validated first — OCC-retried so a data commit landing between
        validation and the constraint commit re-validates against the
        new snapshot. Every subsequent append/merge validates its
        staged files before committing (``constraint`` commits are
        non-commuting, so in-flight bucket writers retry and pick the
        new rule up). Reference basis: Delta CHECK constraints
        (Armbrust et al., VLDB 2020); the reference engine validates
        per-message in Python nodes (``pypeman/nodes.py``) — here the
        rule is declarative and enforced at the storage boundary."""
        F.expr(expr)  # fail fast on unparseable expressions

        def attempt(st: LogState) -> _Plan:
            if name in st.constraints:
                raise ValueError(f"constraint {name!r} already exists")
            if st.live:
                bad = self._violations(
                    self._read_files(
                        sorted(st.live), st.schema, dvs=st.live
                    ),
                    {name: expr},
                )
                if bad:
                    raise ConstraintViolation(bad)
            return _Plan([{"constraint_add": {"name": name, "expr": expr}}])

        return self._run_commit("constraint", attempt)

    def drop_constraint(self, name: str) -> int:
        """Drop the CHECK constraint ``name``; ``ValueError`` if the
        table has none by that name."""

        def attempt(st: LogState) -> _Plan:
            if name not in st.constraints:
                raise ValueError(f"no such constraint: {name!r}")
            return _Plan([{"constraint_drop": name}])

        return self._run_commit("constraint", attempt)

    # --------------------------------------------- schema evolution --

    def _guard_schema_edit(self, col: str, cons: "dict[str, str]"):
        import re

        if col in self.key_cols:
            raise ValueError(f"cannot alter key column {col!r}")
        if col in self.partition_by:
            raise ValueError(
                f"cannot alter partition column {col!r} (directory "
                f"layout identity)"
            )
        for cname, cexpr in cons.items():
            if re.search(rf"\b{re.escape(col)}\b", cexpr):
                raise ValueError(
                    f"constraint {cname!r} references {col!r} — "
                    f"drop it first"
                )

    def _schema_to_edit(self, st: LogState, col: str):
        """The snapshot's schema as a StructType, once the guards every
        column edit shares pass (a schema exists, and ``col`` is
        neither a key/partition column nor named by a constraint)."""
        from pyspark.sql.types import StructType

        if st.schema is None:
            raise ValueError("table has no schema yet")
        self._guard_schema_edit(col, st.constraints)
        return StructType.fromJson(json.loads(st.schema))

    def rename_column(self, old: str, new: str) -> int:
        """Rename a column WITHOUT rewriting any data: the column's
        physical (on-disk) name is fixed at birth and recorded in the
        field metadata; only the logical name changes (Delta's
        column-mapping recipe). Time travel to a pre-rename version
        shows the old name — the mapping is part of each version's
        schema. Key columns are unrenameable (bucket layout identity);
        columns referenced by a CHECK constraint must drop it first."""
        from pyspark.sql.types import StructField

        def attempt(st: LogState) -> _Plan:
            struct = self._schema_to_edit(st, old)
            names = [f.name for f in struct.fields]
            if old not in names:
                raise ValueError(f"no such column: {old!r}")
            if new in names:
                raise ValueError(f"column {new!r} already exists")
            fields = []
            for f in struct.fields:
                if f.name == old:
                    md = dict(f.metadata or {})
                    md.setdefault("physical", old)
                    fields.append(
                        StructField(new, f.dataType, f.nullable, md)
                    )
                else:
                    fields.append(f)
            return _schema_plan(fields, st.schema)

        return self._run_commit("schema", attempt)

    def widen_column(self, name: str, new_type) -> int:
        """Widen a column's type WITHOUT rewriting any data (the Delta
        type-widening feature): only lossless promotions Spark's
        parquet reader performs natively on old files are allowed
        (byte/short/int up the integer ladder, int→double,
        float→double — see ``_WIDENS``); the schema action records
        the wide type and every reader — snapshot, scan, both change
        feeds (the streaming reader casts per-file in Arrow) — reads
        old narrow files under it. Key columns are unwidenable (the
        bucket hash of ``5`` differs between int and long — widening
        a key would silently re-route every lookup); columns a CHECK
        constraint references must drop it first (same discipline as
        :meth:`rename_column`). Time travel below the widen shows the
        narrow type. ``new_type`` is a DataType or its simple name
        (``"long"``, ``"double"``, ...)."""
        from pyspark.sql.types import (
            ByteType,
            DoubleType,
            FloatType,
            IntegerType,
            LongType,
            ShortType,
            StructField,
        )

        if isinstance(new_type, str):
            by_name = {
                "byte": ByteType, "tinyint": ByteType,
                "short": ShortType, "smallint": ShortType,
                "integer": IntegerType, "int": IntegerType,
                "long": LongType, "bigint": LongType,
                "float": FloatType, "double": DoubleType,
            }
            try:
                new_type = by_name[new_type]()
            except KeyError:
                raise ValueError(f"unknown type name {new_type!r}")
        if name in self.key_cols:
            raise ValueError(
                f"cannot widen key column {name!r}: the bucket "
                f"hash is type-sensitive, widening would re-route "
                f"every key"
            )

        def attempt(st: LogState) -> "_Plan | int":
            by = {f.name: f for f in self._schema_to_edit(st, name).fields}
            if name not in by:
                raise ValueError(f"no such column: {name!r}")
            cur_t = by[name].dataType
            if cur_t == new_type:
                return st.version  # already wide enough: no-op
            if not _widens(cur_t.typeName(), new_type.typeName()):
                raise ValueError(
                    f"cannot widen {name!r}: "
                    f"{cur_t.simpleString()} -> "
                    f"{new_type.simpleString()} is not a supported "
                    f"lossless promotion ({_WIDENS})"
                )
            return _schema_plan([
                StructField(f.name, new_type, f.nullable, f.metadata)
                if f.name == name else f
                for f in by.values()
            ], st.schema)

        return self._run_commit("schema", attempt)

    def drop_column(self, name: str) -> int:
        """Drop a column WITHOUT rewriting any data — readers simply
        stop selecting its physical column. The physical name goes on
        the tombstone list inside the schema JSON, so a later re-ADD
        of the same logical name is born under a fresh physical name
        and old bytes can never resurrect into it."""

        def attempt(st: LogState) -> _Plan:
            fields = self._schema_to_edit(st, name).fields
            hit = [f for f in fields if f.name == name]
            if not hit:
                raise ValueError(f"no such column: {name!r}")
            physical = (hit[0].metadata or {}).get("physical", name)
            return _schema_plan(
                [f for f in fields if f.name != name], st.schema,
                dropped=[physical],
            )

        return self._run_commit("schema", attempt)

    def last_txn_version(self, app: str) -> int:
        """Highest ``txn`` marker committed for ``app`` (-1 if none) —
        the Delta-style idempotent-writer protocol: a streaming
        foreachBatch passes ``txn=(query_id, batch_id)`` and a
        re-delivered batch after restart is a provable no-op."""
        _v, _live, txns, _schema = self._replay_full()
        return txns.get(app, -1)

    def table_schema(self, upto: "int | None" = None):
        """The table's logical schema as of ``upto`` — from the LOG,
        never from data-file footers (at 100 TB, schema-on-log means a
        snapshot plans without touching any parquet metadata, and old
        files simply null-fill columns added after they were written).
        None before any schema action (pre-evolution tables)."""
        from pyspark.sql.types import StructType

        _v, _live, _txns, schema = self._replay_full(upto)
        return None if schema is None else StructType.fromJson(
            json.loads(schema)
        )

    def _evolved_schema_action(
        self, df: DataFrame, schema_json: "str | None"
    ) -> "list[dict]":
        """Schema action to commit alongside ``df``'s files: the union
        of the current table schema and ``df``'s (new columns append;
        a same-name column with a different type is an error — silent
        coercion at petabyte scale is how tables rot). A new column
        whose name matches a previously DROPPED physical name, or any
        live physical name, is born under a fresh physical name so old
        files' bytes can never leak into it."""
        if schema_json is None:
            return [{"schema": df.schema.json()}]
        from pyspark.sql.types import StructField, StructType

        cur = StructType.fromJson(json.loads(schema_json))
        dropped = _schema_dropped(schema_json)
        taken_physical = set(dropped) | {
            (f.metadata or {}).get("physical", f.name) for f in cur.fields
        }
        by_name = {f.name: f for f in cur.fields}
        out = list(cur.fields)
        changed = False
        for f in df.schema.fields:
            have = by_name.get(f.name)
            if have is None:
                if f.name in taken_physical:
                    f = StructField(
                        f.name, f.dataType, True,
                        {"physical": f"{f.name}_{uuid.uuid4().hex[:8]}"},
                    )
                out.append(f)
                changed = True
            elif have.dataType != f.dataType:
                if _widens(f.dataType.typeName(),
                           have.dataType.typeName()):
                    # incoming NARROWER than the (widened) table type:
                    # the staged file's narrow bytes read fine under
                    # the wide log schema — no action, no coercion
                    continue
                raise ValueError(
                    f"schema evolution cannot change column "
                    f"{f.name!r}: {have.dataType} -> {f.dataType}"
                    + (
                        " (a lossless promotion: run widen_column "
                        "first)"
                        if _widens(have.dataType.typeName(),
                                   f.dataType.typeName()) else ""
                    )
                )
        if not changed:
            return []
        return [{"schema": _schema_json_with(StructType(out), dropped)}]

    def _commit_info(self, version: int) -> "dict | None":
        payload = self.logstore.read(version)
        if payload is None:
            return None
        for line in payload.splitlines():
            if line.strip():
                a = json.loads(line)
                if "commit" in a:
                    return a["commit"]
        return None

    def history(self) -> list[dict]:
        out = []
        for v in self._log_versions():
            info = self._commit_info(v)
            if info is not None:
                out.append(info)
        return out

    def _commit_times(self) -> "list[tuple[int, float]]":
        """(version, MONOTONICIZED commit timestamp) over surviving
        log entries. Commit ``ts`` values come from different
        writers' wall clocks, so raw values may regress; clamping
        each to the running maximum gives every version a
        deterministic, ordered effective time — the Delta in-commit-
        timestamp adjustment recipe — so a timestamp resolves to
        exactly one version regardless of writer clock skew."""
        out: "list[tuple[int, float]]" = []
        last = float("-inf")
        for v in self._log_versions():
            info = self._commit_info(v)
            if info is None:
                continue
            last = max(last, float(info.get("ts", last)))
            out.append((v, last))
        return out

    def version_at(self, timestamp) -> int:
        """``TIMESTAMP AS OF`` resolution: the latest version whose
        (monotonicized — see :meth:`_commit_times`) commit time is at
        or before ``timestamp`` (epoch seconds, datetime, date, or
        ISO string; naive datetimes are UTC, matching the epoch clock
        commits record). Raises ``ValueError`` for a timestamp after
        the latest commit (a later clock would resolve differently
        once more commits land — the Delta contract: time travel must
        be deterministic) and :class:`LogTruncatedError` for one
        before the earliest SURVIVING commit (``truncate_log``
        dropped the entries whose times would answer it)."""
        ts = _as_epoch(timestamp)
        times = self._commit_times()
        if not times:
            raise ValueError("table has no commits to time-travel to")
        if ts < times[0][1]:
            # v0 (the create entry) always survives truncation, so
            # when it heads the list its time IS the table's true
            # first commit — a timestamp below it predates the table
            # entirely, truncated or not. LogTruncatedError is for
            # timestamps inside the DROPPED (v0, floor) range, which
            # the best < floor check below covers.
            if times[0][0] > 0 and _log_floor(self.logstore) > 0:
                raise LogTruncatedError(
                    f"timestamp {ts} predates the earliest surviving "
                    f"commit (version {times[0][0]}); earlier entries "
                    f"were truncated"
                )
            raise ValueError(
                f"timestamp {ts} predates the table's first commit "
                f"(version {times[0][0]})"
            )
        if ts > times[-1][1]:
            raise ValueError(
                f"timestamp {ts} is after the latest commit "
                f"(version {times[-1][0]} at {times[-1][1]}); "
                f"read the latest snapshot instead"
            )
        best = times[0][0]
        for v, t in times:
            if t <= ts:
                best = v
            else:
                break
        fl = _log_floor(self.logstore)
        if best < fl:
            # the create entry (v0) survives truncation, so a
            # timestamp inside the DROPPED range resolves "past" it —
            # but the true answer is one of the dropped versions,
            # whose times are gone. Refuse rather than return a
            # plausible wrong version.
            raise LogTruncatedError(
                f"timestamp {ts} falls in the truncated range "
                f"(below version {fl}); the commits whose times "
                f"would answer it were dropped"
            )
        return best

    def _commit(self, expected_version: int, actions: list[dict],
                op: str, buckets: list[int],
                txn: "tuple[str, int] | None" = None,
                scopes: "set | None" = None,
                extra: "dict | None" = None) -> bool:
        """Atomically publish ``actions`` as ``expected_version`` via
        the LogStore's conditional put. Returns False (without side
        effects) if that version was already claimed by another
        writer. ``extra`` keys join the commit info (op-specific
        provenance, e.g. restore's target version)."""
        info = {
            "version": expected_version, "op": op,
            "buckets": sorted(buckets), "pid": os.getpid(),
            "ts": time.time(),
        }
        # operation metrics (the Delta history operationMetrics
        # recipe): derived from the actions already in hand, zero
        # extra IO — lets `history()` answer "what did this commit
        # cost" without reading any data file
        adds = [a["add"] for a in actions if "add" in a]
        dvs = [a["dv"] for a in actions if "dv" in a]
        m = {
            "num_added_files": len(adds),
            "num_removed_files": sum(
                1 for a in actions if "remove" in a
            ),
            "added_bytes": sum(int(a.get("bytes", 0)) for a in adds),
        }
        rows = [a.get("rows") for a in adds]
        if rows and all(r is not None for r in rows):
            m["added_rows"] = sum(int(r) for r in rows)
        if dvs:
            m["num_deletion_vectors"] = len(dvs)
            m["dv_positions"] = sum(int(d.get("card", 0)) for d in dvs)
        info["metrics"] = m
        if extra:
            info.update(extra)
        if scopes is not None:
            info["scopes"] = [
                [list(p), b] for p, b in sorted(
                    scopes, key=lambda s: (json.dumps(s[0]), s[1])
                )
            ]
        if txn is not None:
            info["txn"] = {"app": txn[0], "version": int(txn[1])}
        record = list(actions) + [{"commit": info}]
        payload = "".join(json.dumps(a) + "\n" for a in record)
        if not self.logstore.put_if_absent(expected_version, payload):
            return False
        self._maybe_checkpoint(expected_version)
        return True

    def _bump_protocol(self, min_reader: int, min_writer: int) -> int:
        """Commit a standalone protocol-bump action (idempotent: a
        no-op when the table already demands at least these
        versions). Op ``protocol`` is outside _COMMUTING_OPS, so any
        concurrent bucket-scoped writer that raced past it retries
        from a fresh snapshot and re-checks the writer gate."""

        def attempt(st: LogState) -> "_Plan | int":
            p = st.protocol
            if (
                p["min_reader"] >= min_reader
                and p["min_writer"] >= min_writer
            ):
                return st.version
            return _Plan([{"protocol": {
                "min_reader": int(min_reader),
                "min_writer": int(min_writer),
            }}])

        return self._run_commit("protocol", attempt)

    def _maybe_checkpoint(self, version: int) -> None:
        if version == 0 or version % self.checkpoint_interval != 0:
            return
        _v, live, txns, schema, cons, proto = _replay_log(
            self.logstore, upto=version
        )
        self.logstore.write_checkpoint(version, {
            "version": version, "live": live,
            "txns": txns, "schema": schema, "constraints": cons,
            "protocol": proto,
        })

    # --------------------------------------------------------- data --

    def _bucket_col(self):
        key = F.concat_ws(
            "\x1f", *[F.col(c).cast("string") for c in self.key_cols]
        )
        return F.pmod(F.xxhash64(key), F.lit(self.n_buckets)).cast("int")

    # ----------------------------------------- write-scope tracking --
    #
    # A write's SCOPE is the set of (partition tuple, bucket) combos it
    # rewrites. Unpartitioned tables scope by bucket alone (exactly the
    # pre-partition behavior). Partitioned tables refine both conflict
    # detection and old-file selection to the touched partitions when
    # the scope is derivable — two writers merging into DIFFERENT dates
    # of the same bucket commute, and a merge rewrites only the touched
    # dates' files, not every date in the bucket.

    def _touched_scopes(
        self, df: DataFrame
    ) -> "tuple[list[int], set | None]":
        """(sorted touched buckets, {(partition tuple, bucket)} or
        None). Scopes are derivable iff partition_by ⊆ key_cols — then
        a key DETERMINES its partition, so the rows matching ``df``'s
        keys can only live in ``df``'s own (partition, bucket) combos.
        Otherwise None: a key may sit in a different partition than
        the update row claims, and only bucket scoping is sound. The
        collect is bounded by touched partitions × buckets — the same
        control-plane budget as the existing bucket collect."""
        pcols = self.partition_by
        if pcols and set(pcols) <= set(self.key_cols) and (
            set(pcols) <= set(df.columns)
        ):
            rows = df.select(
                *[F.col(c) for c in pcols],
                self._bucket_col().alias("__b"),
            ).distinct().collect()
            scopes = {
                (tuple(_pvalstr(r[c]) for c in pcols), r["__b"])
                for r in rows
            }
            return sorted({b for _p, b in scopes}), scopes
        rows = df.select(
            self._bucket_col().alias("__b")
        ).distinct().collect()
        return sorted(r["__b"] for r in rows), None

    def _old_files(
        self, live: "dict[str, dict]", buckets: "set[int]",
        scopes: "set | None",
    ) -> list:
        """Live files a scoped rewrite must fold in: bucket-filtered,
        partition-refined when scopes are known (a file without
        recorded parts is conservatively included)."""
        out = []
        for f, info in live.items():
            if info.get("bucket") not in buckets:
                continue
            if scopes is not None:
                parts = info.get("parts")
                if parts is not None and (
                    tuple(parts.get(c) for c in self.partition_by),
                    info.get("bucket"),
                ) not in scopes:
                    continue
            out.append(f)
        return out

    def _scopes_of_adds(self, adds: "list[dict]") -> "set | None":
        """Scope set of freshly staged add actions (None for
        unpartitioned tables)."""
        if not self.partition_by:
            return None
        out = set()
        for a in adds:
            info = a.get("add", a)
            parts = info.get("parts") or {}
            out.add((
                tuple(parts.get(c) for c in self.partition_by),
                info.get("bucket"),
            ))
        return out

    @staticmethod
    def _clash(
        info: dict, buckets: "set[int]", scopes: "set | None"
    ) -> bool:
        """Does a concurrent commit's recorded write scope overlap
        ours? Partition-refined only when BOTH sides recorded scopes;
        any commit without them (pre-partition writers, schema ops)
        falls back to bucket overlap — conservative, never unsound."""
        other = info.get("scopes")
        if scopes is not None and other is not None:
            return any((tuple(p), b) in scopes for p, b in other)
        return bool(set(info.get("buckets", [])) & buckets)

    def _occ_commit(
        self, base_v: int, actions: list, op: str, tb: list,
        scopes: "set | None", touched: "set[int]",
        txn: "tuple[str, int] | None" = None,
    ) -> "int | None":
        """One pass of the commit-else-probe loop every bucket-scoped
        rewrite shares: claim the next version; on a race, walk the
        interleaved commits — commits :meth:`_commutes` clears let us
        re-claim directly (our rewrite is still exact), anything else
        returns None so the caller retries from a fresh snapshot. After
        ``_COMMIT_ATTEMPTS ** 2`` lost claims it also returns None, so
        an endless stream of commuting commits costs the caller one
        attempt instead of spinning this walk forever. A re-claim costs
        one log read where an attempt rebuilds the rewrite, hence the
        larger budget: four writers racing disjoint partitions lose
        more than ``_COMMIT_ATTEMPTS`` claims in a row, and none of
        them should rebuild."""
        for v in range(base_v, base_v + _COMMIT_ATTEMPTS ** 2):
            if self._commit(
                v + 1, actions, op=op, buckets=tb, txn=txn,
                scopes=scopes,
            ):
                return v + 1
            if not self._commutes(v + 1, touched, scopes, txn):
                return None
        return None

    def _commutes(
        self, version: int, touched: "set[int]", scopes: "set | None",
        txn: "tuple[str, int] | None",
    ) -> bool:
        """May an in-flight scoped write re-claim past the commit at
        ``version`` without looking at a fresh snapshot? Only if that
        commit is a commuting op whose scope is disjoint from ours,
        changed no schema (our staged files and schema action were
        built against the old one) and carries no marker of our
        ``txn`` app (it may be our own batch, delivered twice)."""
        acts = [
            json.loads(line)
            for line in (self.logstore.read(version) or "").splitlines()
            if line.strip()
        ]
        info = next((a["commit"] for a in acts if "commit" in a), {})
        return (
            info.get("op") in _COMMUTING_OPS
            and not self._clash(info, touched, scopes)
            and not any("schema" in a for a in acts)
            and (txn is None or info.get("txn", {}).get("app") != txn[0])
        )

    def _run_commit(
        self, op: str,
        attempt: "typing.Callable[[LogState], _Plan | int]",
        txn: "tuple[str, int] | None" = None,
    ) -> int:
        """The one optimistic-commit loop every mutation runs through
        (module docstring, "Commit protocol"). Each attempt replays a
        fresh snapshot, applies the writer gate and the ``txn`` no-op,
        then calls ``attempt``: it returns a :class:`_Plan`, or an int
        — the version to return without committing. A plan carrying
        the table's first deletion vector also bumps the protocol to
        v3 in the same commit (a pre-v3 reader would resurrect the
        rows it kills). Ops in ``_COMMUTING_OPS`` claim through
        :meth:`_occ_commit`, any other op with one :meth:`_commit`.
        The staged files of a lost attempt are deleted, except those
        the next attempt commits again (append keeps its files unless
        the column mapping moved); after ``_COMMIT_ATTEMPTS`` lost
        attempts, :class:`CommitConflict`."""
        lost = None  # the last attempt, once its claim is known lost
        try:
            for _ in range(_COMMIT_ATTEMPTS):
                st = _replay_log(self.logstore)
                self._check_writer(st.protocol)
                if txn is not None and st.txns.get(txn[0], -1) >= txn[1]:
                    return st.version  # already applied: provable no-op
                plan = attempt(st)
                if lost is not None:
                    keep = {
                        a["add"]["file"] for a in plan.staged
                    } if isinstance(plan, _Plan) else set()
                    self._discard([
                        a for a in lost.staged if a["add"]["file"] not in keep
                    ])
                    lost = None
                if not isinstance(plan, _Plan):
                    return plan
                actions = plan.actions
                if st.protocol["min_reader"] < 3 and any(
                    "dv" in a for a in actions
                ):
                    actions = actions + [
                        {"protocol": {"min_reader": 3, "min_writer": 3}}
                    ]
                # a claim that raises may still have landed (a lost
                # ack), so its files are only ever deleted once the
                # claim has returned False
                if op in _COMMUTING_OPS:
                    got = self._occ_commit(
                        st.version, actions, op, plan.buckets,
                        plan.scopes, set(plan.buckets), txn=txn,
                    )
                elif self._commit(
                    st.version + 1, actions, op=op, buckets=plan.buckets,
                    extra=plan.extra,
                ):
                    got = st.version + 1
                else:
                    got = None
                if got is not None:
                    return got
                lost = plan
            raise CommitConflict(
                f"{op} lost {_COMMIT_ATTEMPTS} commit races"
            )
        finally:
            if lost is not None:
                self._discard(lost.staged)

    @staticmethod
    def _file_stats(abspath: str) -> "tuple[dict, int] | None":
        """Per-column [min, max] over a parquet file plus its row
        count, read from the FOOTER only (metadata pages — no data IO;
        EVERY parquet footer is walked, not just the first, per the
        multi-fragment schema hazard). Only top-level columns whose
        stats are present in every row group and JSON-representable
        (int/float/str/bool) are kept — a column missing here is simply
        never pruned on, which is always safe."""
        import pyarrow.parquet as pq

        try:
            md = pq.ParquetFile(abspath).metadata
        except Exception:
            return None
        agg: "dict[str, list]" = {}
        bad: set[str] = set()
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if "." in name or name in bad:
                    continue
                st = col.statistics
                if st is None or not st.has_min_max:
                    bad.add(name)
                    continue
                lo, hi = st.min, st.max
                if not (
                    isinstance(lo, (int, float, str, bool))
                    and isinstance(hi, (int, float, str, bool))
                ) or isinstance(lo, float) and (
                    lo != lo or hi != hi  # NaN bounds are meaningless
                ):
                    bad.add(name)
                    continue
                cur = agg.get(name)
                if cur is None:
                    agg[name] = [lo, hi]
                else:
                    try:
                        cur[0] = min(cur[0], lo)
                        cur[1] = max(cur[1], hi)
                    except TypeError:
                        bad.add(name)
        return {k: v for k, v in agg.items() if k not in bad}, md.num_rows

    def _stage(
        self, df: DataFrame, arranged: bool = False,
        schema_json: "str | None" = None,
    ) -> "list[dict]":
        """Write ``df`` as immutable bucket-partitioned files under
        ``data/`` with unique names; returns add-actions (NOT yet
        committed — invisible to every snapshot until they are).
        Each add carries footer-derived per-column [min, max] stats —
        the Delta-style data-skipping index :meth:`scan` prunes on.

        Default is an OPTIMIZED WRITE: rows are repartitioned on the
        bucket column first, so each commit lands at most ONE file per
        bucket. Without it, ``partitionBy`` makes every input task
        write into every bucket it sees — tasks x buckets tiny files
        per commit, which is the classic lakehouse small-files
        explosion (measured here: a 32-task append into B=64 wrote
        ~2000 files and tripled merge/CDC cost downstream). Size B to
        the cluster so per-bucket write parallelism is enough.
        ``arranged=True`` skips the repartition for callers that
        pre-arranged the layout (clustered compaction must keep its
        range partitioning + sort). A table with one bucket and no
        partition columns coalesces to one partition instead: the same
        one file, without a shuffle. ``schema_json`` supplies the
        column mapping: renamed columns are written under their FIXED
        physical names (key columns are unrenameable, so the bucket
        expression always sees logical names)."""
        staging = os.path.join(self.path, f"_staging_{uuid.uuid4().hex}")
        pcols = self.partition_by
        if pcols:
            missing = [c for c in pcols if c not in df.columns]
            if missing:
                raise ValueError(
                    f"partitioned table write is missing partition "
                    f"column(s): {missing}"
                )
            for f in df.schema.fields:
                if f.name in pcols and (
                    f.dataType.typeName() not in _PARTITIONABLE_TYPES
                ):
                    raise ValueError(
                        f"partition column {f.name!r} has type "
                        f"{f.dataType.simpleString()}; supported: "
                        f"{_PARTITIONABLE_TYPES}"
                    )
        if not arranged and not pcols and self.n_buckets == 1:
            # one combo: a narrow coalesce writes its one file without
            # the shuffle, one job instead of two for a small commit
            df = df.coalesce(1)
        elif not arranged:
            # optimized write: one shuffle partition (= one file) per
            # (partition tuple, bucket) combo present in the commit
            df = df.repartition(
                self.n_buckets,
                *[F.col(c) for c in pcols], self._bucket_col(),
            )
        out = df.withColumn("bucket", self._bucket_col())
        cm = _schema_colmap(schema_json)
        if cm:
            out = out.select(*[
                F.col(c).alias(cm.get(c, c)) for c in out.columns
            ])
        (
            # partition cols are unrenameable (guarded), so their
            # physical names equal their logical names here
            out.write.partitionBy(*pcols, "bucket").mode("overwrite")
            .parquet(staging)
        )
        adds = []
        moved = []
        for root, _dirs, files in sorted(os.walk(staging)):
            reldir = os.path.relpath(root, staging)
            segs = [] if reldir == "." else reldir.split(os.sep)
            if not (segs and segs[-1].startswith("bucket=")):
                continue
            b = int(segs[-1].split("=")[1])
            parts = _parts_of_relpath(reldir + "/") if pcols else {}
            tdir = os.path.join(self.data_dir, *segs)
            os.makedirs(tdir, exist_ok=True)
            for f in sorted(files):
                if not f.endswith(".parquet"):
                    continue
                name = f"part-{uuid.uuid4().hex}.parquet"
                dst = os.path.join(tdir, name)
                os.replace(os.path.join(root, f), dst)
                add = {
                    "file": "data/" + "/".join(segs + [name]),
                    "bucket": b,
                    "bytes": os.stat(dst).st_size,
                }
                if parts:
                    add["parts"] = parts
                adds.append({"add": add})
                moved.append(dst)
        # footer reads are tiny but latency-bound: at B=4096 a full
        # append stages thousands of files — thread the metadata IO
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=16) as ex:
            for a, parsed in zip(adds, ex.map(self._file_stats, moved)):
                if parsed is not None:
                    a["add"]["stats"], a["add"]["rows"] = parsed
        shutil.rmtree(staging, ignore_errors=True)
        return adds

    def _discard(self, adds: list[dict]) -> None:
        for a in adds:
            try:
                os.unlink(os.path.join(self.path, a["add"]["file"]))
            except OSError:
                pass

    def _read_files(
        self, rel_files: "list[str]", schema_json: "str | None",
        dvs: "dict[str, dict] | None" = None,
        with_meta: bool = False,
    ) -> DataFrame:
        """Read data files with the LOG's schema when one is recorded:
        files written before a column was added null-fill it, and the
        plan needs no footer merging. Falls back to footer schema for
        pre-evolution tables.

        ``dvs`` is a {relpath: add-info} mapping (typically the live
        set); files whose info carries a deletion vector get their
        dead positions filtered out via a broadcast anti-join on
        (``_metadata.file_path``, ``_metadata.row_index``) — the
        vector side is metadata-sized by construction (oversized
        deletes escalate to rewrites at write time), so this is a
        BroadcastHashJoin LeftAnti: no shuffle of the data side.
        ``with_meta=True`` keeps the file-path/row-index columns
        (``__txdv_fp``/``__txdv_ri``) for callers that need row
        positions (the DV writer and the change feed)."""
        files = [os.path.join(self.path, f) for f in sorted(rel_files)]
        # shallow clones hold BORROWED files — absolute paths under
        # the SOURCE table's data root (os.path.join passes absolute
        # paths through untouched). Spark's partition discovery needs
        # basePath to parent every file in a read, so group the list
        # by data root and union the per-root reads; the single-root
        # case (every non-clone table) stays one reader.
        by_base: "dict[str, list[str]]" = {}
        for f in files:
            by_base.setdefault(self._data_base(f), []).append(f)
        dvmap: "dict[str, str]" = {}
        if dvs:
            for f in rel_files:
                d = (dvs.get(f) or {}).get("dv")
                if d and int(d.get("card", 0)) > 0:
                    dvmap[f] = d["pos"]
        need_meta = with_meta or bool(dvmap)
        # projections as SQL text: one py4j call per expression, where
        # a Column per field costs several, and every read pays them
        meta_cols = [
            "_metadata.file_path AS __txdv_fp",
            "_metadata.row_index AS __txdv_ri",
        ] if need_meta else []
        if schema_json is not None:
            from pyspark.sql.types import StructField, StructType

            schema = StructType.fromJson(json.loads(schema_json))
            cm = _schema_colmap(schema_json)
            # read under PHYSICAL names (what the files contain), then
            # alias back to logical; partition discovery still appends
            # the bucket column even under an explicit schema — the
            # select drops it and fixes the order
            phys = StructType([
                StructField(cm.get(f.name, f.name), f.dataType, True)
                for f in schema.fields
            ])
            sel = [
                f"{_sql_name(cm.get(f.name, f.name))} AS {_sql_name(f.name)}"
                for f in schema.fields
            ]
            parts = [
                self.spark.read.option("basePath", base)
                .schema(phys).parquet(*grp).selectExpr(*sel, *meta_cols)
                for base, grp in sorted(by_base.items())
            ]
        else:
            parts = []
            for base, grp in sorted(by_base.items()):
                raw = self.spark.read.option(
                    "basePath", base
                ).parquet(*grp)
                parts.append(raw.selectExpr(
                    *[_sql_name(c) for c in raw.columns if c != "bucket"],
                    *meta_cols,
                ))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if dvmap:
            pairs = []
            for f, pos in dvmap.items():
                uri = _file_uri(os.path.join(self.path, f))
                pairs.extend((uri, int(p)) for p in _dv_decode(pos))
            dvdf = self.spark.createDataFrame(
                pairs, "__txdv_fp string, __txdv_ri long"
            )
            out = out.join(
                F.broadcast(dvdf), ["__txdv_fp", "__txdv_ri"],
                "left_anti",
            )
        if need_meta and not with_meta:
            out = out.drop("__txdv_fp", "__txdv_ri")
        return out

    def _maybe_refresh_clone_marker(
        self, live: "dict[str, dict]"
    ) -> None:
        """On read paths: if this table's live set borrows files, touch
        a marker at EVERY distinct owner root it borrows from so each
        owner's vacuum TTL tracks actual use. A chained shallow clone
        (clone of a clone) borrows from both its direct source and the
        original owner — refreshing only the direct source would let
        an idle intermediate's marker at the owner expire while the
        grandchild is still actively reading the owner's bytes. One
        ``os.utime`` per distinct root per read — no data IO."""
        roots: "dict[str, list[str]]" = {}
        for f, i in live.items():
            if i.get("borrowed"):
                roots.setdefault(self._data_base(f), []).append(f)
        for root, files in roots.items():
            repinned = self._refresh_clone_marker(files[0])
            if repinned is not None:
                # the marker was MISSING (idle past TTL, swept by the
                # owner's vacuum) and has just been re-created — the
                # owner may have reaped borrowed bytes in the unpinned
                # window. Verify the preimage NOW, at plan-build time:
                # a damaged clone must raise the protocol error
                # deterministically, never surface as a task-time
                # FileNotFound (or, under ignoreMissingFiles, a silent
                # partial result). Cost: stat-per-borrowed-file, paid
                # ONLY on the rare re-pin path — a fresh marker means
                # the owner's vacuum provably skipped these files.
                try:
                    self._guard_vacuumed(
                        sorted(files),
                        f"clone read after marker expiry "
                        f"(re-pinned owner {os.path.dirname(root)})",
                    )
                except BaseException:
                    # the preimage is gone: the fresh pin protects
                    # nothing and would mask this guard on the NEXT
                    # read (utime would succeed) — every read of a
                    # damaged clone must keep raising the protocol
                    # error, not degrade to a task-time FileNotFound
                    try:
                        os.unlink(repinned)
                    except OSError:
                        pass
                    raise

    def _data_base(self, abs_file: str) -> str:
        """The data root a file lives under — ``<table>/data`` for own
        files, the SOURCE table's ``.../data`` for a shallow clone's
        borrowed absolute paths. The last path segment named exactly
        ``data`` is the root: below it only ``col=value`` / ``bucket=N``
        directories occur (Hive-encoded, so a literal ``data`` segment
        cannot appear), above it any user path is possible."""
        segs = abs_file.split(os.sep)
        for i in range(len(segs) - 1, -1, -1):
            if segs[i] == "data":
                return os.sep.join(segs[:i + 1])
        return self.data_dir

    def _guard_vacuumed(self, rel_files, what: str) -> None:
        """Deterministic failure for reads pinned at an old version:
        raise :class:`VacuumedVersionError` if any referenced file is
        gone. Called only on TIME-TRAVEL / change-feed paths — latest
        snapshots never reference vacuumed files, so the hot path pays
        no existence checks."""
        missing = [
            f for f in rel_files
            if not os.path.exists(os.path.join(self.path, f))
        ]
        if missing:
            raise VacuumedVersionError(what, sorted(missing))

    def snapshot(
        self, version: "int | None" = None, timestamp=None,
    ) -> DataFrame:
        """The table as a DataFrame at ``version`` (default latest).
        Stable under concurrent commits: the file list is fixed at
        call time and data files are immutable. A pinned ``version``
        whose files were vacuumed raises
        :class:`VacuumedVersionError` (never a silent partial read).
        ``timestamp`` is TIMESTAMP AS OF (see :meth:`version_at` for
        accepted forms and resolution rules); pass one or the other,
        not both."""
        if timestamp is not None:
            if version is not None:
                raise ValueError(
                    "pass version OR timestamp, not both"
                )
            version = self.version_at(timestamp)
        _v, live, _txns, schema = self._replay_full(upto=version)
        if version is not None:
            self._guard_vacuumed(
                sorted(live), f"snapshot(version={version})"
            )
        if not live:
            if schema is not None:
                # emptied table (e.g. delete_keys removed every row):
                # the committed logical schema still holds — match
                # table_schema() and table_changes()'s empty base
                from pyspark.sql.types import StructType

                return self.spark.createDataFrame(
                    [], StructType.fromJson(json.loads(schema))
                )
            # schemaless empty table: no rows, no columns to promise
            return self.spark.createDataFrame([], "dummy int").drop("dummy")
        self._maybe_refresh_clone_marker(live)
        return self._read_files(sorted(live), schema, dvs=live)

    read = snapshot

    def lookup(self, keys: DataFrame) -> DataFrame:
        """Point reads: rows whose key appears in ``keys``, reading
        ONLY the key-hash buckets those keys land in — ~min(K, B) of B
        buckets' files instead of the table scan ``snapshot`` does.
        This is the 100 TB point-probe path: B=4096 makes a single-key
        lookup touch ~1/4096 of the table's files, driver-side, before
        Spark ever plans the scan."""
        keys = keys.select(*self.key_cols)
        kb = sorted(
            r["b"] for r in keys.select(
                self._bucket_col().alias("b")
            ).distinct().collect()
        )  # bounded: <= min(distinct keys, n_buckets) rows
        _v, live, _txns, schema = self._replay_full()
        rel = [
            f for f, info in sorted(live.items())
            if info.get("bucket") in set(kb)
        ]
        if not rel:
            # keys hash only to empty buckets: empty result, table schema
            # (LocalRelation after constant-folding — no files scanned)
            return self.snapshot().where(F.lit(False))
        return self._read_files(rel, schema, dvs=live).join(
            keys, on=self.key_cols, how="left_semi"
        )

    @staticmethod
    def _part_typed(raw: str, like):
        """Parse a decoded partition-path token with the LITERAL's
        type, so comparisons are typed ("10" < "9" as strings, but
        10 > 9 as ints)."""
        import datetime

        if isinstance(like, bool):
            return raw == "true"
        if isinstance(like, int):
            return int(raw)
        if isinstance(like, float):
            return float(raw)
        if isinstance(like, (datetime.date, datetime.datetime)):
            return datetime.date.fromisoformat(raw)
        return raw

    @staticmethod
    def _part_satisfies(pv: "str | None", op: str, val) -> "bool | None":
        """Does a file whose partition value is ``pv`` satisfy
        ``op val``? The value is constant across the file, so True /
        False decide EVERY row at once (exact pruning AND provable
        full-match, unlike range stats). None = undecidable
        (unparseable literal, unknown op) — callers must keep the
        file. A null partition value fails every comparison (SQL
        semantics), so those files always prune."""
        if pv is None:
            return False
        like = val
        if op == "between":
            like = val[0]
        elif op == "in":
            like = next(iter(val), None)
        try:
            typed = TxTable._part_typed(pv, like)
            if op in ("=", "=="):
                return typed == val
            if op == "<":
                return typed < val
            if op == "<=":
                return typed <= val
            if op == ">":
                return typed > val
            if op == ">=":
                return typed >= val
            if op == "between":
                return bool(val[0] <= typed <= val[1])
            if op == "in":
                return typed in list(val)
        except (TypeError, ValueError):
            return None
        return None

    def _classify_candidates(
        self, live: "dict[str, dict]",
        preds: "tuple[tuple[str, str, object], ...]",
        cm: "dict[str, str]",
    ) -> "tuple[list[str], set[str]]":
        """(files that MAY hold a matching row, the subset PROVABLY
        all-matching). The may-side is :meth:`scan`'s pruning —
        partition values decide their predicates exactly, footer
        [min, max] bounds the rest. The provable side needs every
        predicate decided True by partition values alone: range stats
        can never prove universality, a constant partition value
        can."""
        pset = set(self.partition_by)
        cands: list[str] = []
        full: set[str] = set()
        for f, info in sorted(live.items()):
            parts = info.get("parts") or {}
            keep = True
            all_true = bool(preds)
            for (c, op, v) in preds:
                if c in pset and c in parts:
                    s = self._part_satisfies(parts[c], op, v)
                    if s is False:
                        keep = False
                        break
                    if s is not True:
                        all_true = False
                    continue
                all_true = False
                if not self._may_match(
                    info.get("stats"), cm.get(c, c), op, v
                ):
                    keep = False
                    break
            if keep:
                cands.append(f)
                if all_true:
                    full.add(f)
        return cands, full

    @staticmethod
    def _may_match(stats: "dict | None", col: str, op: str, val) -> bool:
        """Could a file with these footer stats hold a row passing
        ``col op val``? Missing stats (old commits, unsupported types)
        always MAY match — skipping is an optimization, never a filter.
        Null rows never pass a comparison predicate, so min/max (which
        exclude nulls) are exactly the right bounds."""
        if not stats or col not in stats:
            return True
        mn, mx = stats[col]

        def _is_nan(v):
            return isinstance(v, float) and v != v

        # Spark orders NaN ABOVE every double, but parquet footer
        # stats exclude NaN — so on float columns an upper-bound test
        # can never prove ">" / ">=" unsatisfiable (a NaN row would
        # pass the filter), and a NaN literal matches nothing stats
        # can bound. Never prune in those cases.
        if isinstance(mx, float):
            if op in (">", ">="):
                return True
            vals = val if isinstance(val, (list, tuple)) else [val]
            if any(_is_nan(v) for v in vals):
                return True
        try:
            if op in ("=", "=="):
                return mn <= val <= mx
            if op == "<":
                return mn < val
            if op == "<=":
                return mn <= val
            if op == ">":
                return mx > val
            if op == ">=":
                return mx >= val
            if op == "between":
                lo, hi = val
                return not (hi < mn or lo > mx)
            if op == "in":
                return any(mn <= v <= mx for v in val)
        except TypeError:
            return True  # incomparable literal/stat types: keep
        return True  # unknown op: keep

    def scan(
        self, *preds: "tuple[str, str, object]",
        version: "int | None" = None,
    ) -> DataFrame:
        """Snapshot read with DATA SKIPPING: conjunctive predicates
        ``(column, op, literal)`` — ops ``= < <= > >= between in`` —
        prune files whose footer [min, max] proves no row can match,
        BEFORE Spark plans the scan; the full predicate is then still
        applied to the surviving rows, so a pruned scan is always
        exactly ``snapshot().where(...)``. This is the log-as-index
        100 TB path: a time-range or id-range query over a huge table
        reads only the files whose stats intersect the range, decided
        driver-side from the commit log with zero file IO (stats were
        footer-read once at write time). Beyond-reference: the
        reference's stores scan whole date directories
        (``pypeman/msgstore.py``). ``last_scan_info`` records
        {files_live, files_read} for plan audits."""
        _v, live, _txns, schema = self._replay_full(upto=version)
        cm = _schema_colmap(schema)  # stats are keyed by PHYSICAL name
        kept, _full = self._classify_candidates(live, preds, cm)
        self.last_scan_info = {
            "files_live": len(live), "files_read": len(kept),
        }
        if version is not None:
            self._guard_vacuumed(kept, f"scan(version={version})")
        cond = self._build_cond(preds)
        if not kept:
            return self.snapshot(version=version).where(F.lit(False))
        self._maybe_refresh_clone_marker(live)
        return self._read_files(kept, schema, dvs=live).where(cond)

    @staticmethod
    def _build_cond(preds) -> "F.Column":
        """Conjunctive Column for ``(col, op, literal)`` predicates —
        the row-level filter matching :meth:`_classify_candidates`'s
        file-level pruning."""
        cond = F.lit(True)
        for c, op, v in preds:
            col = F.col(c)
            if op in ("=", "=="):
                cond = cond & (col == v)
            elif op == "between":
                cond = cond & col.between(v[0], v[1])
            elif op == "in":
                cond = cond & col.isin(list(v))
            elif op == "<":
                cond = cond & (col < v)
            elif op == "<=":
                cond = cond & (col <= v)
            elif op == ">":
                cond = cond & (col > v)
            elif op == ">=":
                cond = cond & (col >= v)
            else:
                raise ValueError(f"unsupported scan op: {op!r}")
        return cond

    def _commit_actions(
        self, version: int
    ) -> "tuple[list[dict], list[str], list[dict], dict] | None":
        """(add-infos, removed relpaths, dv actions, commit-info) of
        one commit."""
        return _commit_actions_of(self.logstore, version)

    def table_changes(
        self, from_version: "int | None" = None,
        to_version: "int | None" = None,
        starting_timestamp=None,
    ) -> DataFrame:
        """Change data feed: the logical row changes committed in
        ``(from_version, to_version]`` (or from
        ``starting_timestamp`` INCLUSIVE — resolved against the
        monotonicized commit times, see :meth:`version_at`), as the
        table columns plus
        ``_change_type`` (``insert`` / ``update_preimage`` /
        ``update_postimage`` / ``delete``) and ``_commit_version``.

        Reconstructed ON READ from the commit log — no change files are
        stored. Each commit contributes a diff of exactly the files it
        removed vs the files it added, i.e. only the touched buckets:
        at 100 TB an incremental consumer pays for the churn, never the
        table. ``compact`` commits are row-preserving by contract and
        skipped outright; ``merge`` rewrites every row in a touched
        bucket but unchanged rows are eliminated by a null-safe
        full-row comparison, so the feed carries only REAL changes
        (delta, not physical rewrite noise). Beyond-reference: the
        reference's stores (``pypeman/msgstore.py``) are append-only
        and have no change feed at all.

        Contracts: update/delete classification joins old vs new on
        ``key_cols`` and assumes the merge discipline (one live row per
        key — appends that duplicate keys are reported as inserts, as
        they physically are). Removed files must not have been
        :meth:`vacuum`-ed yet — the same retention window that bounds
        time travel bounds the feed. The driver-side loop is one
        bounded log read per commit in the range (control-plane; an
        incremental consumer's range is its own churn window).

        Deletion vectors: a dv commit's NEWLY dead positions (each
        action's cumulative vector minus the file's previous one,
        tracked across the walk from the ``from_version`` snapshot)
        surface as ``delete`` rows, and every preimage read filters
        the rows already dead BEFORE the commit — a rewrite of a
        dv-carrying file never re-reports its dead rows.
        """
        if starting_timestamp is not None:
            # STARTING TIMESTAMP AS OF (inclusive): every commit at
            # or after it contributes — the exclusive from_version is
            # the last commit strictly BEFORE the timestamp. A
            # timestamp past the head yields an empty feed (the
            # natural "changes since now" answer); one predating the
            # surviving entries resolves to the full feed, or raises
            # through version_at's truncation guard when entries that
            # would answer it were dropped.
            if from_version is not None:
                raise ValueError(
                    "pass from_version OR starting_timestamp, not both"
                )
            ts = _as_epoch(starting_timestamp)
            times = self._commit_times()
            if times and ts < times[0][1] and _log_floor(
                self.logstore
            ) > 0:
                raise LogTruncatedError(
                    f"starting_timestamp {ts} predates the earliest "
                    f"surviving commit; the entries that would "
                    f"answer it were truncated"
                )
            from_version = max(
                (v for v, t in times if t < ts), default=0,
            )
        if from_version is None:
            from_version = 0
        if to_version is None:
            to_version = self.version()
        fl = _log_floor(self.logstore)
        if from_version < fl:
            raise LogTruncatedError(
                f"change feed from version {from_version} needs "
                f"commits below the log-retention floor {fl}; the "
                f"earliest available feed is table_changes({fl})"
            )
        # one schema for every contributing version: old files written
        # before a later-added column null-fill it, so pre/post images
        # align even across schema evolution
        _v, _live, _txns, schema_json = self._replay_full(upto=to_version)
        key = list(self.key_cols)
        # running dv state (file -> cumulative dv dict) from the
        # from_version snapshot forward; maintained across SKIPPED
        # commits too (a compact drops a dv with its file)
        dvstate: "dict[str, dict]" = {
            f: dict(i["dv"])
            for f, i in _replay_log(
                self.logstore, upto=from_version
            ).live.items()
            if i.get("dv")
        } if from_version >= 0 else {}
        parts: list[DataFrame] = []
        for v in self._log_versions():
            if v <= from_version:
                continue  # dvstate already seeded by the replay above
            if v > to_version:
                break
            parsed = self._commit_actions(v)
            if parsed is None:
                continue
            adds, removes, dvs, info = parsed
            op = info.get("op")
            emit = op in ("append", "merge", "delete", "update",
                          "replace", "restore")
            # (1) dv diffs: newly-dead rows of this commit
            pairs: "list[tuple[str, int]]" = []
            for d in dvs:
                prev = dvstate.get(d["file"])
                prevpos = (
                    set(_dv_decode(prev["pos"])) if prev else set()
                )
                newly = sorted(set(_dv_decode(d["pos"])) - prevpos)
                dvstate[d["file"]] = {
                    "pos": d["pos"], "card": int(d["card"]),
                }
                if emit and newly:
                    uri = _file_uri(os.path.join(self.path, d["file"]))
                    pairs.extend((uri, p) for p in newly)
            # (2) preimages of removed files drop their already-dead
            # rows; state for removed files ends here either way
            old_dvs = {
                f: {"dv": dvstate[f]} for f in removes if f in dvstate
            }
            for f in removes:
                dvstate.pop(f, None)
            # an ADD resets the file's vector state: restore re-adds
            # a file with the target's vector EMBEDDED in the add-info
            # (or none, resurrecting every row); any other re-add of
            # the same path starts vector-free
            for a in adds:
                if a.get("dv"):
                    dvstate[a["file"]] = dict(a["dv"])
                else:
                    dvstate.pop(a["file"], None)
            if not emit:
                continue  # create/compact/schema-only: no logical change
            self._guard_vacuumed(
                [a["file"] for a in adds] + list(removes)
                + [d["file"] for d in dvs],
                f"table_changes commit {v}",
            )
            dv_old = None
            if pairs:
                posdf = self.spark.createDataFrame(
                    pairs, "__txdv_fp string, __txdv_ri long"
                )
                dv_files = sorted({d["file"] for d in dvs})
                dv_old = self._read_files(
                    dv_files, schema_json, with_meta=True
                ).join(
                    F.broadcast(posdf),
                    ["__txdv_fp", "__txdv_ri"], "inner",
                ).drop("__txdv_fp", "__txdv_ri")
            if not adds and not removes:
                # dv-only commit (pure merge-on-read delete): the
                # newly-dead rows ARE the change
                if dv_old is not None:
                    parts.append(
                        dv_old.withColumn(
                            "_change_type", F.lit("delete")
                        ).withColumn(
                            "_commit_version", F.lit(v).cast("long")
                        )
                    )
                continue
            new_df = (
                # adds may EMBED a deletion vector (restore re-adding
                # a file at the target's vector): the postimage must
                # exclude those dead rows like any snapshot read would
                self._read_files(
                    [a["file"] for a in adds], schema_json,
                    dvs={a["file"]: a for a in adds if a.get("dv")},
                )
                if adds else None
            )
            old_df = (
                self._read_files(removes, schema_json, dvs=old_dvs)
                if removes else None
            )
            if dv_old is not None:
                # dv commit with adds (merge-on-read UPDATE/MERGE, or
                # a delete with escalated rewrites): the newly-dead
                # rows are PREIMAGES — the key join below classifies
                # each as update_pre/postimage (key re-added) or
                # delete (key gone), same as a rewrite's old side
                old_df = (
                    dv_old if old_df is None
                    else old_df.unionByName(dv_old)
                )
            cols = [
                f.name for f in (new_df or old_df).schema.fields
            ]
            if old_df is None:
                ch = new_df.withColumn("_change_type", F.lit("insert"))
            elif new_df is None:
                ch = old_df.withColumn("_change_type", F.lit("delete"))
            else:
                o = old_df.select(
                    *key, F.struct(*[F.col(c) for c in cols]).alias("_o")
                )
                nw = new_df.select(
                    *key, F.struct(*[F.col(c) for c in cols]).alias("_n")
                )
                j = o.join(nw, on=key, how="full_outer")
                ins = j.where(F.col("_o").isNull()).select(
                    "_n.*"
                ).withColumn("_change_type", F.lit("insert"))
                dele = j.where(F.col("_n").isNull()).select(
                    "_o.*"
                ).withColumn("_change_type", F.lit("delete"))
                upd = j.where(
                    F.col("_o").isNotNull() & F.col("_n").isNotNull()
                    & ~F.col("_o").eqNullSafe(F.col("_n"))
                )
                ch = (
                    ins.unionByName(dele)
                    .unionByName(upd.select("_o.*").withColumn(
                        "_change_type", F.lit("update_preimage")))
                    .unionByName(upd.select("_n.*").withColumn(
                        "_change_type", F.lit("update_postimage")))
                )
            parts.append(
                ch.withColumn("_commit_version", F.lit(v).cast("long"))
            )
        if not parts:
            schema = self.table_schema(upto=to_version)
            base = (
                self.spark.createDataFrame([], schema)
                if schema is not None
                else self.spark.createDataFrame([], "dummy int").drop("dummy")
            )
            return base.withColumn(
                "_change_type", F.lit("").cast("string")
            ).withColumn(
                "_commit_version", F.lit(0).cast("long")
            ).where(F.lit(False))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    def count(self, version: "int | None" = None) -> "int | None":
        """Exact row count from the COMMIT LOG alone — zero data IO.
        Every add action records its file's footer row count, and
        files are immutable, so the live set's counts sum exactly (the
        ANALYZE-free COUNT(*) a 100 TB table wants: driver-side log
        replay, no scan). Returns None if any live file predates the
        stats recording (fall back to ``snapshot().count()``)."""
        _v, live, _txns, _schema = self._replay_full(upto=version)
        total = 0
        for info in live.values():
            rows = info.get("rows")
            if rows is None:
                return None
            total += int(rows) - int((info.get("dv") or {}).get("card", 0))
        return total

    def stats(self, version: "int | None" = None) -> dict:
        """Table-level stats from the log: live file count, buckets
        and partitions in use, total bytes, exact rows (None when
        unknowable — see :meth:`count`), current version, protocol.
        Zero data IO."""
        st = _replay_log(self.logstore, upto=version)
        v, live = st.version, st.live
        rows: "int | None" = 0
        bytes_ = 0
        buckets = set()
        parts = set()
        for info in live.values():
            buckets.add(info.get("bucket"))
            bytes_ += int(info.get("bytes", 0))
            if "parts" in info:
                parts.add(
                    tuple(sorted((info["parts"] or {}).items()))
                )
            r = info.get("rows")
            rows = None if (rows is None or r is None) else (
                rows + int(r) - int((info.get("dv") or {}).get("card", 0))
            )
        ndv = sum(1 for i in live.values() if i.get("dv"))
        out = {
            "version": v, "files": len(live), "buckets": len(buckets),
            "bytes": bytes_, "rows": rows, "protocol": st.protocol,
        }
        borrowed = sum(1 for i in live.values() if i.get("borrowed"))
        if borrowed:
            # shallow clone: files referenced from another table's
            # root — the source-vacuum hazard gauge
            out["borrowed_files"] = borrowed
        active_clones = len(self.clones())
        if active_clones:
            # this table is the SOURCE of live shallow clones: its
            # vacuum/truncate_log are pinned accordingly (one dir
            # listing, still zero data IO)
            out["active_clones"] = active_clones
        if ndv:
            out["dv_files"] = ndv
            out["dv_rows"] = sum(
                int((i.get("dv") or {}).get("card", 0))
                for i in live.values()
            )
            # the table-cap gauge: total positions the snapshot
            # read's driver-built broadcast carries (writers escalate
            # to rewrite past the cap — a create-time table property,
            # default _DV_MAX_TABLE_POSITIONS; compact() materializes
            # vectors away and resets this to 0)
            out["dv_total_positions"] = out["dv_rows"]
            out["dv_table_cap"] = self.dv_table_cap
        if (
            self.deep_clone_driver_max_bytes
            != _DEEP_CLONE_DRIVER_MAX_BYTES
        ):
            out["deep_clone_driver_max_bytes"] = (
                self.deep_clone_driver_max_bytes
            )
        if self.partition_by:
            out["partition_by"] = list(self.partition_by)
            out["partitions"] = len(parts)
        return out

    def stream_changes(
        self, starting_version: "int | None" = None,
        max_commits_per_trigger: int = 0,
        max_bytes_per_trigger: int = 0,
        starting_timestamp=None,
    ) -> DataFrame:
        """The change feed as a STREAMING DataFrame (Structured
        Streaming source over the commit log — see
        :mod:`.txtable_stream`): offsets are commit versions and are
        checkpointed by Spark, so a restarted query resumes at exactly
        the next unconsumed commit. ``starting_version`` is exclusive,
        like :meth:`table_changes` (default 0 = the whole history);
        ``starting_timestamp`` is the INCLUSIVE timestamp form,
        resolved driver-side at stream definition (same rules as
        :meth:`table_changes` — the checkpoint then pins the resolved
        version, so restarts are deterministic even as commits land).
        ``max_commits_per_trigger`` / ``max_bytes_per_trigger`` bound
        each micro-batch (admission control for post-downtime
        catch-up; 0 = unbounded)."""
        if starting_timestamp is not None:
            if starting_version is not None:
                raise ValueError(
                    "pass starting_version OR starting_timestamp, "
                    "not both"
                )
            ts = _as_epoch(starting_timestamp)
            times = self._commit_times()
            starting_version = max(
                (v for v, t in times if t < ts), default=0,
            )
            fl = _log_floor(self.logstore)
            if starting_version < fl and (
                not times or ts <= times[-1][1]
            ):
                # resolved into the truncated range: the unread
                # commits are gone — fail at stream DEFINITION, not
                # first batch (a past-the-head timestamp is fine: the
                # stream simply starts empty at the current head)
                raise LogTruncatedError(
                    f"starting_timestamp {ts} resolves below the "
                    f"log-retention floor {fl}; those commits were "
                    f"truncated — start from a newer timestamp or "
                    f"startingVersion >= {fl}"
                )
        if starting_version is None:
            starting_version = 0
        from .txtable_stream import TxTableChangesDataSource

        self.spark.dataSource.register(TxTableChangesDataSource)
        reader = (
            self.spark.readStream.format("txtable_changes")
            .option("path", self.path)
            .option("startingVersion", str(int(starting_version)))
        )
        if max_commits_per_trigger:
            reader = reader.option(
                "maxCommitsPerTrigger", str(int(max_commits_per_trigger))
            )
        if max_bytes_per_trigger:
            reader = reader.option(
                "maxBytesPerTrigger", str(int(max_bytes_per_trigger))
            )
        return reader.load()

    # ---------------------------------------------------- mutations --

    def append(self, df: DataFrame,
               txn: "tuple[str, int] | None" = None) -> int:
        """Add-only commit: never conflicts with other appends (two
        interleaved appends both land — union semantics). ``txn``
        makes the append idempotent like the other DML (the Delta
        txn-appId protocol): a batch re-delivered with the same
        (app, version) marker is a provable no-op — the
        exactly-once primitive for append-only streaming sinks and
        retried ingestion jobs.

        Files are staged under the EVOLVED schema (current table schema
        + ``df``'s new columns) so a column re-added after a drop, or
        one whose name collides with a live/tombstoned physical name,
        is written under its fresh physical name — staging with the
        pre-evolution schema would silently null-fill the new column
        (the tombstone remap points at a physical the file lacks) or
        leak its values into a renamed column's physical slot. If a
        concurrent schema commit (rename/drop/another writer's
        evolution) lands between staging and commit, the physical
        mapping our files were written under may be stale: the next
        attempt recomputes the evolution against the fresh schema and
        restages only when the {logical: physical} map for ``df``'s
        columns changed; it re-validates only when the constraints
        changed."""

        def _staged_map(schema_json: "str | None") -> "dict[str, str]":
            cm = _schema_colmap(schema_json)
            return {c: cm.get(c, c) for c in df.columns}

        # what the last attempt staged, and under which schema and
        # constraints — reused while they still hold
        last: dict = {"adds": None, "map": None, "validated": None}

        def attempt(st: LogState) -> _Plan:
            schema_act = self._evolved_schema_action(df, st.schema)
            eff = schema_act[0]["schema"] if schema_act else st.schema
            if last["adds"] is None or _staged_map(eff) != last["map"]:
                # first attempt, or the staged files carry now-wrong
                # physical names
                last.update(
                    adds=self._stage(df, schema_json=eff),
                    map=_staged_map(eff), validated=None,
                )
            adds = last["adds"]
            if st.constraints != last["validated"]:
                self._validate_adds(adds, eff, st.constraints)
                last["validated"] = dict(st.constraints)
            return _Plan(
                adds + schema_act, staged=adds,
                buckets=[a["add"]["bucket"] for a in adds],
                scopes=self._scopes_of_adds(adds),
            )

        return self._run_commit("append", attempt, txn=txn)

    def foreach_batch_append(self, app: str):
        """Structured-Streaming sink for APPEND-ONLY tables:
        ``writeStream.foreachBatch(tx.foreach_batch_append(query_name))``
        appends each micro-batch exactly once — a batch re-delivered
        after checkpoint restart carries the same (query id, batch_id)
        txn marker and no-ops (see :meth:`append`), while a query on a
        fresh checkpoint (a new id, batch ids from 0) lands. ``app`` is
        the txn app of a direct call, outside a running query
        (:func:`~..streaming.token.query_token`). Cheaper than
        :meth:`foreach_batch_merge` when the stream is insert-only
        (event logs, ingestion feeds): no key hashing against the
        existing table, no bucket rewrite — just staged adds."""

        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            self.append(
                batch_df, txn=(query_token(self.spark, app), int(batch_id))
            )

        return _sink

    def foreach_batch_merge(self, app: str, mode: str = "rewrite"):
        """Structured-Streaming sink: ``writeStream.foreachBatch(
        tx.foreach_batch_merge(query_name))`` MERGEs each micro-batch
        exactly once — a batch re-delivered after checkpoint restart
        carries the same (query id, batch_id) txn marker and no-ops;
        ``app`` keys a direct call, as in :meth:`foreach_batch_append`.
        ``mode="dv"`` applies each batch merge-on-read (matched
        positions dead + post-images appended) — the right setting
        for a high-frequency CDC consumer whose batches touch a tiny
        fraction of big files; run :meth:`compact` periodically to
        materialize the accumulated vectors."""

        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            self.merge_upsert(
                batch_df, mode=mode,
                txn=(query_token(self.spark, app), int(batch_id)),
            )

        return _sink

    def merge_upsert(self, updates: DataFrame, mode: str = "rewrite",
                     txn: "tuple[str, int] | None" = None) -> int:
        """MERGE: rows matching an existing key replace it, new keys
        insert — rewriting ONLY the buckets ``updates`` touches.
        Serializable via OCC: retries from a fresh snapshot whenever a
        concurrent commit touched an overlapping bucket; commits
        directly at the next version when concurrents are disjoint
        (bucket-disjoint writes commute).

        ``txn=(app, version)`` makes the merge idempotent: if a commit
        with the same app and version >= this one already landed, the
        call is a no-op (exactly-once for streaming foreachBatch
        re-deliveries after checkpoint restart).

        ``mode="dv"`` delegates to :meth:`merge` with a whole-row
        update clause (matched rows replaced column-by-column, table
        columns absent from ``updates`` null-filled — byte-identical
        semantics to the rewrite path): matched positions go dead in
        the deletion vectors, upserted rows append, untouched rows in
        the same buckets stay in place."""
        if _dml_mode("merge_upsert", mode) == "dv":
            tbl = self.table_schema()
            upd: "dict[str, object]" = {}
            if tbl is not None:
                for f in tbl.fields:
                    if f.name in self.key_cols:
                        continue
                    upd[f.name] = (
                        F.col(f"s.{f.name}")
                        if f.name in updates.columns
                        else F.lit(None).cast(f.dataType)
                    )
                for c in updates.columns:  # evolved columns
                    if c not in tbl.fieldNames() and (
                        c not in self.key_cols
                    ):
                        upd[c] = F.col(f"s.{c}")
            return self.merge(
                updates, when_matched_update=upd or None,
                when_not_matched_insert=True, mode="dv", txn=txn,
            )
        updates = updates.cache()

        def attempt(st: LogState) -> _Plan:
            tb, scopes = self._touched_scopes(updates)
            old = self._old_files(st.live, set(tb), scopes)
            schema_act = self._evolved_schema_action(updates, st.schema)
            eff = schema_act[0]["schema"] if schema_act else st.schema
            if old:
                cur = self._read_files(old, st.schema, dvs=st.live)
                merged = cur.alias("t").join(
                    updates.select(*self.key_cols).alias("s"),
                    on=_keys_match(self.key_cols), how="left_anti",
                ).unionByName(updates, allowMissingColumns=True)
            else:
                merged = updates
            adds = self._stage(merged, schema_json=eff)
            self._validate_adds(adds, eff, st.constraints)
            return _Plan(
                adds + [{"remove": {"file": f}} for f in old] + schema_act,
                staged=adds, buckets=tb, scopes=scopes,
            )

        try:
            return self._run_commit("merge", attempt, txn=txn)
        finally:
            updates.unpersist()

    def merge(
        self,
        source: DataFrame,
        when_matched_update: "dict[str, object] | None" = None,
        when_matched_delete: "object | None" = None,
        when_not_matched_insert: "dict[str, object] | bool" = True,
        when_matched_condition: "object | None" = None,
        mode: str = "rewrite",
        txn: "tuple[str, int] | None" = None,
    ) -> int:
        """Full MERGE INTO over the key columns — the general form of
        :meth:`merge_upsert` (which stays the fast whole-row path).
        Expressions may be Columns or SQL strings and reference the
        target row as ``t.<col>`` and the source row as ``s.<col>``:

        * ``when_matched_update={"bal": "t.bal + s.amount"}`` — update
          listed columns (others keep their target value); applied
          only where ``when_matched_condition`` (if given) holds.
          Key columns cannot be updated (rows would silently change
          bucket — the same reason Delta forbids it).
        * ``when_matched_delete="s.amount < 0"`` — matched rows
          satisfying the condition (or all matched, if ``True``) are
          deleted. Delete wins over update where both apply.
        * ``when_not_matched_insert`` — True inserts the source row
          as-is (new source columns evolve the schema, like
          merge_upsert); a dict builds the row per-column from
          expressions (missing table columns null-fill); False drops
          unmatched source rows.

        Same bucket-scoped OCC as merge_upsert: only the buckets the
        SOURCE keys hash to are rewritten (one full-outer join per
        attempt, shuffle bounded by those buckets' rows + source), and
        conflicts retry from a fresh snapshot unless the interleaved
        commit's buckets are disjoint. ``txn`` gives streaming
        foreachBatch idempotence. Source must carry one row per key —
        the merge discipline. Keys match null-safely: a null key part
        matches a stored null. Matched rows the clauses leave untouched
        are physically rewritten but unchanged, so the change feed
        (:meth:`table_changes` / :meth:`stream_changes`) stays silent
        about them. Reference basis: this generalizes the store
        update semantics of ``pypeman/msgstore.py`` the way Delta's
        MERGE generalizes upsert (Armbrust et al., VLDB 2020).

        ``mode="dv"`` is the MERGE-ON-READ merge (the Delta DV
        protocol's MERGE path): exactly the matched rows a clause
        actually touches (update where the condition holds, or
        delete) go dead in their files' deletion vectors; the updated
        and inserted rows APPEND; untouched rows — unmatched target
        rows AND matched rows no clause fires on — stay alive in
        place, so the commit stages only the churn instead of
        rewriting every touched bucket. Same per-file / per-table
        escalation bounds as dv deletes (an over-dead file falls back
        to copy-on-write in the same commit, semantics identical);
        the change feed reconstructs update_pre/postimages from the
        position diff joined with the new adds. First dv commit bumps
        the protocol to v3; :meth:`compact` materializes vectors.
        Cost note: dv mode caches the join's killed and inserted rows
        once, stages the post-images from that cache and joins again
        only the escalated files."""
        _dml_mode("merge", mode)
        upd = {
            c: (F.expr(e) if isinstance(e, str) else e)
            for c, e in (when_matched_update or {}).items()
        }
        bad_keys = set(upd) & set(self.key_cols)
        if bad_keys:
            raise ValueError(
                f"merge cannot update key column(s): {sorted(bad_keys)}"
            )
        if when_matched_delete is True:
            del_cond = F.lit(True)
        elif isinstance(when_matched_delete, str):
            del_cond = F.expr(when_matched_delete)
        else:
            del_cond = when_matched_delete  # Column or None
        if isinstance(when_matched_condition, str):
            when_matched_condition = F.expr(when_matched_condition)
        ins_map = None
        if isinstance(when_not_matched_insert, dict):
            ins_map = {
                c: (F.expr(e) if isinstance(e, str) else e)
                for c, e in when_not_matched_insert.items()
            }

        source = source.cache()
        s = source.withColumn("__s", F.lit(1)).alias("s")

        def attempt(st: LogState) -> "_Plan | int":
            schema = st.schema
            tb, scopes = self._touched_scopes(source)
            old = self._old_files(st.live, set(tb), scopes)
            # table columns + types: current schema, plus source
            # columns when inserting as-is (schema evolution)
            from pyspark.sql.types import StructField, StructType

            types: dict = {}
            tbl_cols: list[str] = []
            if schema is not None:
                for f in StructType.fromJson(json.loads(schema)).fields:
                    tbl_cols.append(f.name)
                    types[f.name] = f.dataType
            else:  # first write: the table IS the source's shape
                for f in source.schema.fields:
                    tbl_cols.append(f.name)
                    types[f.name] = f.dataType
            t_cols = set(tbl_cols) if old else set()
            schema_act = []
            if when_not_matched_insert is True or schema is None:
                schema_act = self._evolved_schema_action(source, schema)
            eff = schema_act[0]["schema"] if schema_act else schema
            if when_not_matched_insert is True:
                for f in source.schema.fields:
                    if f.name not in types:
                        tbl_cols.append(f.name)
                        types[f.name] = f.dataType
            unknown = (set(upd) | set(ins_map or {})) - set(tbl_cols)
            if unknown:
                raise ValueError(
                    f"merge targets unknown column(s): "
                    f"{sorted(unknown)} (table has {tbl_cols})"
                )

            def null_of(c):
                return F.lit(None).cast(types[c])

            m_t = F.col("__t").isNotNull()
            m_s = F.col("__s").isNotNull()
            matched = m_t & m_s

            def t_val(c):
                if c in self.key_cols:
                    return F.col(c)
                if c in t_cols:
                    return F.col(f"t.{c}")
                return null_of(c)

            def s_val(c):
                if c in self.key_cols:
                    return F.col(c)
                if c in source.columns:
                    return F.col(f"s.{c}")
                return null_of(c)

            upd_gate = matched if when_matched_condition is None else (
                matched & when_matched_condition
            )
            # rows a clause actually KILLS: updated (the post-image
            # stages) or deleted (gone); matched rows no clause fires
            # on keep their place
            kill_del = F.lit(False) if del_cond is None else (
                matched & F.coalesce(del_cond, F.lit(False))
            )
            keep = ~kill_del
            if when_not_matched_insert is False:
                keep = keep & m_t
            out_cols = []
            for c in tbl_cols:
                if c in self.key_cols:
                    out_cols.append(F.col(c).alias(c))
                    continue
                ins_v = (
                    ins_map.get(c, null_of(c)) if ins_map is not None
                    else s_val(c)
                )
                if c in upd:
                    v = (
                        F.when(upd_gate, upd[c])
                        .when(m_t, t_val(c))
                        .otherwise(ins_v)
                    )
                else:
                    v = F.when(m_t, t_val(c)).otherwise(ins_v)
                out_cols.append(v.alias(c))

            def rows(t: "DataFrame | None") -> DataFrame:
                # the full-outer join; without target files the target
                # is empty but typed, so `t.<col>` in a clause resolves
                if t is None:
                    t = self.spark.createDataFrame([], StructType([
                        StructField(c, types[c]) for c in tbl_cols
                    ])).withColumn("__t", F.lit(1))
                # one key column per key, as a USING join would give
                keys = self.key_cols
                return t.alias("t").join(
                    s, on=_keys_match(keys), how="full_outer"
                ).select(*[
                    F.coalesce(F.col(f"t.{k}"), F.col(f"s.{k}")).alias(k)
                    for k in keys
                ], *[F.col(f"t.{c}") for c in t.columns if c not in keys],
                    *[F.col(f"s.{c}") for c in s.columns if c not in keys])

            adds, removed, dv_acts = self._dml_step(
                st, old, (upd_gate if upd else F.lit(False)) | kill_del,
                rows=rows, post=lambda d: d.where(keep).select(*out_cols),
                mode=mode, schema_json=eff,
            )
            if not (adds or removed or dv_acts or schema_act):
                return st.version  # nothing to write: provable no-op
            self._validate_adds(adds, eff, st.constraints)
            return _Plan(
                adds + [{"remove": {"file": f}} for f in removed]
                + dv_acts + schema_act,
                staged=adds, buckets=tb, scopes=scopes,
            )

        try:
            return self._run_commit("merge", attempt, txn=txn)
        finally:
            source.unpersist()

    def delete_keys(self, keys: DataFrame, mode: str = "rewrite",
                    txn: "tuple[str, int] | None" = None) -> int:
        """Delete by key: scope-bound rewrite without the matching
        rows (same OCC loop as merge; partition-refined when
        partition_by ⊆ key_cols). Keys match null-safely, as in
        merge: a null key deletes the row stored with a null key.

        ``mode="dv"`` is the GDPR-shaped point-delete fast path: the
        matching rows' POSITIONS publish as deletion-vector actions
        (see :meth:`delete_where`) instead of rewriting the touched
        buckets — deleting K keys from a 100 TB table is K positions
        of commit-log metadata, zero data rewritten. Same per-file
        escalation bounds; first dv commit bumps the protocol to v3."""
        _dml_mode("delete_keys", mode)
        keys = keys.select(*self.key_cols).distinct().withColumn(
            "__s", F.lit(1)
        ).cache()

        def rows(t: DataFrame) -> DataFrame:  # target rows, keys tagged
            return t.alias("t").join(
                keys.alias("s"), on=_keys_match(self.key_cols), how="left",
            ).select("t.*", "s.__s")

        def attempt(st: LogState) -> "_Plan | int":
            tb, scopes = self._touched_scopes(keys)
            old = self._old_files(st.live, set(tb), scopes)
            if not old:
                return st.version  # nothing to delete
            adds, removed, dv_acts = self._dml_step(
                st, old, F.col("__s").isNotNull(), rows=rows, mode=mode,
            )
            if not (removed or dv_acts):
                return st.version  # no key present: provable no-op
            return _Plan(
                adds + [{"remove": {"file": f}} for f in removed]
                + dv_acts,
                staged=adds, buckets=tb, scopes=scopes,
            )

        try:
            return self._run_commit("delete", attempt, txn=txn)
        finally:
            keys.unpersist()

    # ---------------------------------------------- predicate DML --

    def delete_where(
        self, *preds: "tuple[str, str, object]",
        mode: str = "rewrite",
        txn: "tuple[str, int] | None" = None,
    ) -> int:
        """``DELETE WHERE`` over conjunctive ``(col, op, literal)``
        predicates (the grammar of :meth:`scan`). Three file classes,
        decided driver-side from the log with zero data IO: files the
        partition/footer-stats index proves UNTOUCHED are left alone;
        files PROVABLY all-matching (every predicate a
        partition-column predicate the file's constant partition
        values satisfy) are dropped as pure METADATA — no read, no
        rewrite; only genuinely mixed files are rewritten without the
        matching rows. ``DELETE WHERE day < retention_cutoff`` on a
        day-partitioned 100 TB table is a metadata-only commit. Kept
        rows are a subset of committed rows, so CHECK constraints
        cannot newly fail and are not re-validated. Reference basis:
        Delta DELETE (Armbrust et al., VLDB 2020 §4.1); the change
        feed reports the deleted rows like any delete commit.

        ``mode="dv"`` is the MERGE-ON-READ variant (Delta/Iceberg
        deletion vectors): mixed files are not rewritten — the
        matching ROW POSITIONS are published as a cumulative "dv"
        action in the commit log, so a point delete against a 100 TB
        table is a metadata-sized commit regardless of how big the
        files holding the rows are. Provably all-matching files are
        still dropped as pure metadata (strictly better than a
        full-cover vector), and a file whose vector would outgrow the
        metadata plane (cumulative dead fraction >= 50 %, or an
        encoded vector past ~1 MB) ESCALATES to the copy-on-write
        rewrite — vectors stay metadata-sized by construction. The
        first dv commit bumps the table protocol to v3 atomically
        (a pre-dv reader would silently resurrect deleted rows).
        :meth:`compact` materializes vectors away."""
        if not preds:
            raise ValueError(
                "delete_where with no predicates would truncate the "
                "table — pass predicates, or delete_keys(snapshot())"
            )
        _dml_mode("delete_where", mode)
        cond = self._build_cond(preds)  # fail fast on unknown ops

        def attempt(st: LogState) -> "_Plan | int":
            cands, full = self._classify_candidates(
                st.live, preds, _schema_colmap(st.schema)
            )
            adds, removed, dv_acts = self._dml_step(
                st, [f for f in cands if f not in full], cond, mode=mode,
            )
            if not (full or removed or dv_acts):
                return st.version  # provably nothing to delete
            return self._dml_plan(
                st.live, adds, sorted(full) + removed, dv_acts,
            )

        return self._run_commit("delete", attempt, txn=txn)

    def _dml_step(
        self, st: LogState, files: "list[str]", kill: "F.Column",
        rows: "typing.Callable | None" = None,
        post: "typing.Callable | None" = None, mode: str = "rewrite",
        schema_json: "str | None" = None,
    ) -> "tuple[list[dict], list[str], list[dict]]":
        """The one row-level DML step (module docstring, "Row-level
        DML"): (staged adds, removed files, dv actions) that kill the
        ``kill`` rows of ``files`` in snapshot ``st``, staged by one
        :meth:`_stage` call under ``schema_json`` (default: the
        snapshot's schema).

        ``rows(t)`` turns the target rows ``t`` of ``files``, tagged
        ``__t``, into the rows the verb works on (default: ``t``); a
        joined source tags its rows ``__s``. ``rows(None)`` stands for
        no files. ``post(d)`` is the staged image of rows ``d``: the
        row itself where ``kill`` is false, its post-image (or no row)
        where it is true, the inserted row where ``__t`` is null.
        Without ``post``, killed rows are dropped (a delete).

        ``mode="rewrite"`` escalates every file: it stages the image of
        all their rows and removes them, and reads no row position.
        ``mode="dv"`` caches the killed and inserted rows with their
        positions, lets :meth:`_dv_plan_cached` vector or escalate each
        file, stages post-images and inserts from that cache, and reads
        again only the escalated files, staged as in rewrite."""
        kill = F.coalesce(kill, F.lit(False))
        new = F.col("__t").isNull()  # a row no target file holds

        def frame(fs: "list[str]", meta: bool = False):
            t = self._read_files(
                fs, st.schema, dvs=st.live, with_meta=meta,
            ).withColumn("__t", F.lit(1)) if fs else None
            return (rows or (lambda t: t))(t)

        def image(d: DataFrame) -> DataFrame:
            d = post(d) if post is not None else d.where(~kill)
            return d.drop("__t", "__s", "__txdv_fp", "__txdv_ri")

        parts: "list[DataFrame]" = []
        removed, dv_acts, changed = list(files), [], None
        try:
            if mode == "rewrite" or not files:
                d = frame(files)
                parts = [] if d is None else [image(d)]
            else:
                changed = frame(files, meta=True).where(kill | new)
                if post is None:  # a delete stages no killed row
                    changed = changed.select("__txdv_fp", "__txdv_ri")
                changed = changed.cache()
                dv_acts, removed, n_new = self._dv_plan_cached(
                    changed, files, st.live
                )
                if post is not None and (dv_acts or n_new):
                    uris = [_file_uri(os.path.join(
                        self.path, a["dv"]["file"]
                    )) for a in dv_acts]
                    parts.append(image(changed.where(
                        F.col("__txdv_fp").isin(uris) | new
                    )))
                if removed:
                    parts.append(image(frame(removed).where(~new)))
            adds = self._stage(
                functools.reduce(DataFrame.unionByName, parts),
                schema_json=schema_json or st.schema,
            ) if parts else []
        finally:
            if changed is not None:
                changed.unpersist()
        return adds, removed, dv_acts

    def _dv_plan_cached(
        self, changed: DataFrame, files: "list[str]",
        live: "dict[str, dict]",
    ) -> "tuple[list[dict], list[str], int]":
        """(dv actions, files escalating to copy-on-write, inserted
        rows) for the cached ``changed`` rows of a ``mode="dv"``
        :meth:`_dml_step` over ``files``: killed rows carry their
        (``__txdv_fp``, ``__txdv_ri``) positions, inserted rows a null
        ``__txdv_fp``. Decides PER FILE from counts alone (before any
        position is collected) whether the cumulative vector stays
        inside the metadata bounds, then gathers positions only for
        the files that do. Already-dead rows were filtered at read, so
        they can't be re-matched; each action publishes the CUMULATIVE
        union with the file's existing vector (replay is
        last-writer-wins per file)."""
        uri2rel = {
            _file_uri(os.path.join(self.path, f)): f for f in files
        }
        counts = {
            r["__txdv_fp"]: int(r["cnt"])
            for r in changed.groupBy("__txdv_fp").agg(
                F.count("*").alias("cnt")
            ).collect()
        }
        n_new = counts.pop(None, 0)
        counts = {uri2rel[u]: n for u, n in counts.items()}
        escalate: list[str] = []
        dv_files: list[str] = []
        for f, cnt in sorted(counts.items()):
            info = live[f]
            rows = info.get("rows")
            prev_card = int((info.get("dv") or {}).get("card", 0))
            if (
                rows is None  # pre-stats file: fraction unknowable
                or cnt > _DV_MAX_POSITIONS
                or (prev_card + cnt) >= _DV_MAX_FRAC * int(rows)
            ):
                escalate.append(f)
            else:
                dv_files.append(f)
        dv_acts: list[dict] = []
        # TABLE-level guard: the snapshot read unions EVERY live
        # file's positions into one driver-built broadcast, so the
        # per-file caps alone leave the total unbounded across files.
        # Track the projected table total (files this plan touches
        # contribute their NEW cumulative card; files it escalates
        # contribute nothing — the rewrite clears their vector) and
        # escalate any file that would push it past the cap.
        touched = set(dv_files) | set(escalate)
        running = sum(
            int((i.get("dv") or {}).get("card", 0))
            for f, i in live.items() if f not in touched
        )
        if dv_files:
            # positions are materialized driver-side; chunk the
            # collect by per-file match counts so a wide delete
            # touching many files never holds every file's Row
            # objects at once (bounded per chunk, not per commit)
            chunks: "list[list[str]]" = []
            cur_chunk: list[str] = []
            cur_n = 0
            for f in dv_files:
                if cur_chunk and cur_n + counts[f] > _DV_COLLECT_CHUNK:
                    chunks.append(cur_chunk)
                    cur_chunk, cur_n = [], 0
                cur_chunk.append(f)
                cur_n += counts[f]
            if cur_chunk:
                chunks.append(cur_chunk)
            rel2uri = {rel: u for u, rel in uri2rel.items()}
            for chunk in chunks:
                per: "dict[str, set[int]]" = {}
                for r in changed.where(
                    F.col("__txdv_fp").isin(
                        [rel2uri[f] for f in chunk]
                    )
                ).select("__txdv_fp", "__txdv_ri").collect():
                    per.setdefault(
                        uri2rel[r["__txdv_fp"]], set()
                    ).add(int(r["__txdv_ri"]))
                for f in chunk:
                    newpos = per.get(f)
                    if not newpos:
                        continue  # counted then raced? counts said >0
                    prev = (live[f].get("dv") or {}).get("pos")
                    allpos = newpos | (
                        set(_dv_decode(prev)) if prev else set()
                    )
                    enc, card = _dv_encode(allpos)
                    if len(enc) > _DV_MAX_ENCODED:
                        escalate.append(f)
                    elif running + card > self.dv_table_cap:
                        escalate.append(f)
                        warnings.warn(
                            f"TxTable at {self.path}: total live "
                            f"deletion-vector positions near the "
                            f"table cap ({running} + {card} > "
                            f"{self.dv_table_cap}); escalating "
                            f"this file to a rewrite — run compact() "
                            f"to materialize vectors away",
                            stacklevel=3,
                        )
                    else:
                        running += card
                        dv_acts.append(
                            {"dv": {"file": f, "pos": enc, "card": card}}
                        )
        return dv_acts, sorted(escalate), n_new

    def update_where(
        self, assignments: "dict[str, object]",
        *preds: "tuple[str, str, object]",
        mode: str = "rewrite",
        txn: "tuple[str, int] | None" = None,
    ) -> int:
        """``UPDATE SET col = expr WHERE`` — rewrites ONLY the files
        that may hold a matching row (partition + footer-stats
        pruning, like :meth:`delete_where`); unmatched rows inside a
        rewritten file are carried through byte-identical, and the
        change feed's null-safe compare reports just the really
        updated rows. Expressions (Columns or SQL strings) see the
        PRE-update row, SQL UPDATE semantics. Key and partition
        columns are unassignable (rows would silently change bucket /
        directory). CHECK constraints are re-validated on the
        rewritten files. Reference basis: Delta UPDATE (Armbrust et
        al., VLDB 2020 §4.1).

        ``mode="dv"`` is the MERGE-ON-READ update (the Delta DV
        protocol's UPDATE path): the matched rows' positions go dead
        in their files' deletion vectors and the updated rows APPEND
        — one atomic commit, nothing rewritten. A GDPR-style
        update-in-place on a 100 TB table stages only the updated
        rows instead of rewriting every touched file. Same per-file /
        per-table escalation bounds as dv deletes (an over-dead file
        falls back to copy-on-write in the same commit); the change
        feed reconstructs update_preimage/update_postimage from the
        position diff joined with the new adds, exactly as for a
        rewrite. First dv commit bumps the protocol to v3;
        :meth:`compact` materializes vectors away."""
        if not preds:
            raise ValueError("update_where needs predicates")
        if not assignments:
            raise ValueError("update_where needs assignments")
        _dml_mode("update_where", mode)
        bad = set(assignments) & (
            set(self.key_cols) | set(self.partition_by)
        )
        if bad:
            raise ValueError(
                f"cannot update key/partition column(s): {sorted(bad)}"
            )
        gate = F.coalesce(self._build_cond(preds), F.lit(False))
        updated = {
            c: F.when(gate, F.expr(e) if isinstance(e, str) else e)
            .otherwise(F.col(c))
            for c, e in assignments.items()
        }

        def attempt(st: LogState) -> "_Plan | int":
            cands, _full = self._classify_candidates(
                st.live, preds, _schema_colmap(st.schema)
            )
            if not cands:
                return st.version
            unknown = set(assignments) - {
                f["name"] for f in json.loads(st.schema)["fields"]
            } if st.schema is not None else set()
            if unknown:
                raise ValueError(
                    f"update targets unknown column(s): {sorted(unknown)}"
                )
            adds, removed, dv_acts = self._dml_step(
                st, cands, gate, post=lambda d: d.withColumns(updated),
                mode=mode,
            )
            if not (removed or dv_acts):
                return st.version  # nothing matched: provable no-op
            self._validate_adds(adds, st.schema, st.constraints)
            return self._dml_plan(
                st.live, adds, removed, dv_acts, _v2_bump(st, dv_acts),
            )

        return self._run_commit("update", attempt, txn=txn)

    def replace_where(
        self, df: DataFrame,
        *preds: "tuple[str, str, object]",
        mode: str = "rewrite",
        txn: "tuple[str, int] | None" = None,
    ) -> int:
        """Atomic region overwrite — Delta's ``replaceWhere`` /
        ``INSERT OVERWRITE PARTITION``: every committed row matching
        the predicates is replaced by ``df`` in ONE commit. ``df``
        must itself satisfy the predicates (validated first — rows
        leaking outside the region raise before anything stages).
        Files wholly inside the region (provable from partition
        values) are dropped without being read; files straddling the
        boundary are rewritten keeping only their outside rows. The
        day-partitioned reprocessing idiom — recompute one day,
        ``replace_where(day_df, ("day", "=", d))`` — is a metadata
        drop + one staged write, never a table scan. CHECK
        constraints are validated on the incoming rows.

        ``mode="dv"`` is the merge-on-read variant for the STRADDLER
        files only (completing the dv story across every DML verb):
        their inside-region rows go dead in the deletion vectors
        instead of forcing a rewrite of the outside rows — provably
        full-inside files still drop as pure metadata (strictly
        better than any vector), and the same per-file / per-table
        escalation bounds apply. A region replace whose boundary
        crosses big files stages only ``df``, never the straddlers'
        outside rows."""
        if not preds:
            raise ValueError("replace_where needs predicates")
        _dml_mode("replace_where", mode)
        cond = self._build_cond(preds)
        n_out = df.where(~F.coalesce(cond, F.lit(False))).count()
        if n_out:
            raise ValueError(
                f"replace_where: {n_out} incoming row(s) do not "
                f"satisfy the replace predicates"
            )

        def attempt(st: LogState) -> _Plan:
            cands, full = self._classify_candidates(
                st.live, preds, _schema_colmap(st.schema)
            )
            schema_act = self._evolved_schema_action(df, st.schema)
            eff = schema_act[0]["schema"] if schema_act else st.schema
            adds = self._stage(df, schema_json=eff)
            # straddlers: their inside-region rows die
            more, removed, dv_acts = self._dml_step(
                st, [f for f in cands if f not in full], cond, mode=mode,
            )
            adds += more
            self._validate_adds(adds, eff, st.constraints)
            return self._dml_plan(
                st.live, adds, sorted(full) + removed, dv_acts,
                schema_act + _v2_bump(st, dv_acts),
            )

        return self._run_commit("replace", attempt, txn=txn)

    def swap(self, fn: "typing.Callable[[DataFrame], DataFrame]") -> int:
        """Replace the whole table by ``fn(rows)`` in ONE commit:
        ``rows`` is the snapshot the attempt read, and the commit removes
        exactly that snapshot's files. ``fn`` runs again on every retry,
        so a commit that lands between the read and the claim and
        touches a rewritten bucket has its rows go through ``fn`` on the
        fresh snapshot; one on an untouched bucket stays as it landed.
        Either way no row is dropped unseen. The use is folding a log
        into its minimal equivalent. Returns the new version, or the
        current one for an empty table."""

        def attempt(st: LogState) -> "_Plan | int":
            if not st.live:
                return st.version
            df = fn(self._read_files(sorted(st.live), st.schema, dvs=st.live))
            schema_act = self._evolved_schema_action(df, st.schema)
            eff = schema_act[0]["schema"] if schema_act else st.schema
            adds = self._stage(df, schema_json=eff)
            self._validate_adds(adds, eff, st.constraints)
            return self._dml_plan(
                st.live, adds, sorted(st.live), [],
                schema_act + _v2_bump(st, []),
            )

        return self._run_commit("replace", attempt)

    def _dml_plan(
        self, live: "dict[str, dict]", adds: "list[dict]",
        removed: "list[str]", dv_acts: "list[dict]", tail: list = (),
    ) -> _Plan:
        """Plan of a predicate-DML commit: publish ``adds``, drop
        ``removed``, publish ``dv_acts``, then the ``tail`` actions.
        Its write scope covers every removed, vectored and staged
        file."""
        touched_files = removed + [a["dv"]["file"] for a in dv_acts]
        touched = {live[f].get("bucket") for f in touched_files} | {
            a["add"]["bucket"] for a in adds
        }
        return _Plan(
            adds + [{"remove": {"file": f}} for f in removed]
            + dv_acts + list(tail),
            staged=adds, buckets=sorted(touched),
            scopes=self._dml_scopes(live, touched_files, adds),
        )

    def _dml_scopes(
        self, live: "dict[str, dict]", cands: "list[str]",
        adds: "list[dict]",
    ) -> "set | None":
        """Write scope of a predicate-DML commit: the (partition,
        bucket) combos of every removed AND staged file. None for
        unpartitioned tables, or if any touched file predates
        partition tracking (conservative bucket scoping)."""
        if not self.partition_by:
            return None
        out = set()
        for f in cands:
            parts = live[f].get("parts")
            if parts is None:
                return None
            out.add((
                tuple(parts.get(c) for c in self.partition_by),
                live[f].get("bucket"),
            ))
        staged = self._scopes_of_adds(adds)
        return out | (staged or set())

    # ------------------------------------------------- maintenance --

    def compact(self, min_files: int = 2,
                cluster_by: "list[str] | None" = None,
                files_per_bucket: int = 1, zorder: bool = False,
                where: "tuple[tuple[str, str, object], ...] | None"
                = None) -> int:
        """Rewrite every bucket holding >= ``min_files`` files into one
        file each — the small-files maintenance pass a long-lived table
        needs after many incremental merges/appends. Row-preserving,
        and runs through the SAME OCC loop as merge: a concurrent
        commit touching a compacting bucket invalidates the rewrite
        (its rows would be lost) and forces a retry from the fresh
        snapshot; disjoint-bucket commits commute. Returns the new
        version, or the current one if nothing needed compacting.

        ``cluster_by`` is the OPTIMIZE-ZORDER analog: rewritten rows
        are range-partitioned and sorted on (bucket, cluster cols) and
        split into ``files_per_bucket`` files per bucket, so each
        file's footer [min, max] covers a narrow slice of the cluster
        columns — :meth:`scan` then prunes WITHIN buckets, not just
        across commits. ``zorder=True`` Morton-interleaves exactly two
        integer cluster columns (``functions/layout.py``) so range
        predicates on EITHER column prune. Incremental appends undo
        clustering gradually; re-compacting restores it — the standard
        lakehouse maintenance loop.

        ``where`` (the ``(col, op, literal)`` grammar of :meth:`scan`)
        is the OPTIMIZE-WHERE analog: only files that MAY match —
        partition values exact, footer stats ranged — are compaction
        candidates, so nightly maintenance on a day-partitioned table
        targets the churned recent days instead of walking every cold
        partition. A compaction commit never changes rows, so an
        over-broad predicate costs rewrite IO, never correctness.

        Files carrying a DELETION VECTOR are always candidates
        regardless of ``min_files``: the rewrite reads them with the
        vector applied and drops it with the file — compaction is how
        merge-on-read deletes are materialized away."""

        def attempt(st: LogState) -> "_Plan | int":
            live, schema = st.live, st.schema
            if where:
                cm = _schema_colmap(schema)
                cand, _full = self._classify_candidates(live, where, cm)
                live = {f: live[f] for f in cand}
            # group by (partition tuple, bucket): compaction of a
            # partitioned table targets only the scopes with churn —
            # the cold dates of a hot bucket are never rewritten
            by_scope: "dict[tuple, list[str]]" = {}
            for f, info in live.items():
                parts = info.get("parts")
                skey = (
                    tuple(parts.get(c) for c in self.partition_by)
                    if parts is not None else None,
                    info.get("bucket"),
                )
                by_scope.setdefault(skey, []).append(f)
            todo = {k: fs for k, fs in by_scope.items()
                    if len(fs) >= min_files or (
                        cluster_by and len(fs) >= 1
                    ) or any(live[f].get("dv") for f in fs)}
            if not todo:
                return st.version
            scopes = (
                set(todo)
                if self.partition_by
                and all(k[0] is not None for k in todo) else None
            )
            old = sorted(f for fs in todo.values() for f in fs)
            cur = self._read_files(old, schema, dvs=live)
            if cluster_by:
                if zorder:
                    if len(cluster_by) != 2:
                        raise ValueError(
                            "zorder interleaving takes exactly 2 columns"
                        )
                    from ..functions.layout import zvalue

                    sort_exprs = [zvalue(
                        F.col(cluster_by[0]), F.col(cluster_by[1])
                    )]
                else:
                    sort_exprs = [F.col(c) for c in cluster_by]
                nparts = max(1, len(todo) * max(1, int(files_per_bucket)))
                staged_df = cur.repartitionByRange(
                    nparts, self._bucket_col(), *sort_exprs
                ).sortWithinPartitions(self._bucket_col(), *sort_exprs)
            else:
                # one output file per bucket
                staged_df = cur.repartition(len(todo), self._bucket_col())
            adds = self._stage(
                staged_df, arranged=True, schema_json=schema
            )
            return _Plan(
                adds + [{"remove": {"file": f}} for f in old],
                staged=adds, buckets=sorted({b for _p, b in todo}),
                scopes=scopes,
            )

        return self._run_commit("compact", attempt)

    def _min_consumer_offset(self, ttl_s: float) -> "int | None":
        """Lowest committed offset among ACTIVE streaming CDC
        consumers (progress markers under ``_consumers/``, refreshed
        at every micro-batch commit); markers older than ``ttl_s`` are
        stale (crashed/abandoned consumers) and ignored so they can
        never pin vacuum forever. None = no active consumer."""
        d = os.path.join(self.path, "_consumers")
        try:
            names = os.listdir(d)
        except FileNotFoundError:
            return None
        now = time.time()
        lo: "int | None" = None
        for n in names:
            if not n.endswith(".json"):
                continue
            p = os.path.join(d, n)
            try:
                if now - os.stat(p).st_mtime > ttl_s:
                    continue
                with open(p) as fh:
                    v = int(json.load(fh)["version"])
            except (OSError, ValueError, KeyError):
                continue
            lo = v if lo is None else min(lo, v)
        return lo

    def _removal_versions(self) -> "dict[str, int]":
        """{relpath: version whose commit removed it} over the whole
        log — the retention index vacuum prunes against. Full log
        walk (checkpoints drop removed files, so they can't shortcut
        this); vacuum is a maintenance pass, and the walk is one
        bounded log read per commit, zero data IO."""
        out: dict[str, int] = {}
        for v in self._log_versions():
            parsed = self._commit_actions(v)
            if parsed is None:
                continue
            _adds, removes, _dvs, _info = parsed
            for f in removes:
                out[f] = v
        return out

    def restore(
        self, version: "int | None" = None, timestamp=None,
    ) -> int:
        """``RESTORE TABLE ... TO VERSION AS OF`` — one atomic commit
        that returns the table's state (live files, deletion vectors,
        schema, constraints) to exactly what ``snapshot(version)``
        read, WITHOUT rewriting data: unchanged files are untouched,
        files removed since the target are RE-ADDED (their bytes are
        still on disk until :meth:`vacuum` reclaims them — restore is
        metadata-only), files added since are removed, and a file
        whose deletion vector grew since the target is re-added with
        the target's vector embedded in its add-info (rows the newer
        vector killed come back). The protocol is never downgraded
        and ``x_dropped`` physical-name tombstones are unioned, so a
        column dropped at any point can never silently alias a later
        re-add (the Delta RESTORE contract: data + metadata revert,
        protocol and invariants only ratchet forward).

        The commit lands in the change feed as the LOGICAL row diff —
        op ``restore`` with the touched files as removes + re-adds,
        which both feeds fold into insert / delete / update_pre+post
        rows — so incremental consumers see exactly what the restore
        resurrected or retracted, never a table-sized replay.

        Raises :class:`VacuumedVersionError` if a file the target
        needs was already vacuumed, :class:`LogTruncatedError` if the
        target predates the log-retention floor, ``ValueError`` for a
        future version. Concurrency: restore defines the FULL table
        state, so it never re-claims past an interleaved commit — any
        race recomputes the diff from a fresh snapshot (a concurrent
        append is then restored away too, which is what "the table IS
        version N again" means). Reference basis: Delta Lake RESTORE
        (delta.io; Armbrust et al., VLDB 2020) — beyond the
        reference engine, whose stores (``pypeman/msgstore.py``) keep
        no versioned state to restore. ``timestamp`` is RESTORE
        TIMESTAMP AS OF — resolved through :meth:`version_at`; pass
        one of ``version``/``timestamp``, not both.
        """
        if timestamp is not None:
            if version is not None:
                raise ValueError("pass version OR timestamp, not both")
            version = self.version_at(timestamp)
        if version is None:
            raise ValueError("restore needs a version or a timestamp")
        version = int(version)
        tgt = _replay_log(self.logstore, upto=version)
        tgt_dropped = set(_schema_dropped(tgt.schema))

        def _same(a: dict, b: dict) -> bool:
            return json.dumps(a, sort_keys=True) == json.dumps(
                b, sort_keys=True
            )

        # what the last attempt re-adds: the post-commit guard checks
        # that a concurrent vacuum did not reap any of it
        readds: list[dict] = []

        def attempt(st: LogState) -> "_Plan | int":
            base_v, live, schema, cons = (
                st.version, st.live, st.schema, st.constraints
            )
            if version > base_v:
                raise ValueError(
                    f"cannot restore to version {version}: table is "
                    f"at {base_v}"
                )
            actions: list[dict] = []
            readds.clear()
            removes: list[str] = []
            for f, info in sorted(tgt.live.items()):
                cur = live.get(f)
                if cur is not None and _same(cur, info):
                    continue  # byte-identical state: leave it alone
                if cur is not None:
                    removes.append(f)  # same path, dv drifted
                readds.append(dict(info))
            removes += [f for f in sorted(live) if f not in tgt.live]
            self._guard_vacuumed(
                [i["file"] for i in readds],
                f"restore(version={version})",
            )
            # a re-add candidate is not live until this commit lands,
            # so a concurrent vacuum could still reap it — refreshing
            # its mtime re-arms vacuum's grace window for the whole
            # commit attempt (vacuum only deletes files grace_s past
            # their mtime); the post-commit guard below turns the
            # residual race into a loud error, never a silent
            # partial table. BORROWED files (shallow-clone re-adds)
            # are skipped: their bytes belong to the SOURCE table,
            # whose vacuum the clone cannot and must not influence —
            # touching them would re-arm the source's grace window,
            # violating the "source is never touched" contract.
            for i in readds:
                if i.get("borrowed"):
                    continue
                try:
                    os.utime(os.path.join(self.path, i["file"]))
                except OSError:
                    pass
            # removes BEFORE adds: replay applies actions in order,
            # and a dv-drifted file is removed and re-added at the
            # same path in this one commit
            actions += [{"remove": {"file": f}} for f in removes]
            actions += [{"add": i} for i in readds]
            if tgt.schema is not None:
                # restore the target schema verbatim, but keep every
                # physical-name tombstone ever recorded: dropped-data
                # resurrection guards only ratchet, like the protocol
                from pyspark.sql.types import StructType

                merged = _schema_json_with(
                    StructType.fromJson(json.loads(tgt.schema)),
                    sorted(tgt_dropped | set(_schema_dropped(schema))),
                )
                # value compare, not string compare: the log holds a
                # mix of StructType.json() (create) and json.dumps
                # (evolution) serializations of the same value
                if schema is None or (
                    json.loads(merged) != json.loads(schema)
                ):
                    actions.append({"schema": merged})
            for name in sorted(set(cons) - set(tgt.constraints)):
                actions.append({"constraint_drop": name})
            for name, expr in sorted(tgt.constraints.items()):
                if cons.get(name) != expr:
                    # valid by construction: the target's data (what
                    # this commit re-publishes) already satisfied it
                    actions.append(
                        {"constraint_add": {"name": name, "expr": expr}}
                    )
            if not actions:
                return base_v  # already at the target state
            return _Plan(actions, buckets=sorted({
                info.get("bucket")
                for info in (
                    [live[f] for f in removes if f in live]
                    + readds
                )
            } - {None}), extra={"restored_to": version})

        got = self._run_commit("restore", attempt)
        self._guard_vacuumed(
            [i["file"] for i in readds],
            f"restore(version={version}) post-commit",
        )
        return got

    def clone(
        self, dest_path: str, version: "int | None" = None,
        timestamp=None, shallow: bool = True,
    ) -> "TxTable":
        """``CREATE TABLE ... CLONE`` — a new independent table at
        ``dest_path`` whose initial state is this table's snapshot at
        ``version``/``timestamp`` (default latest). SHALLOW (default):
        zero data copy — the clone's commit log references the
        source's data files by absolute path ("borrowed"); its own
        writes stage under its own root, its DML may drop borrowed
        files from its LOG but never deletes their bytes (the source
        owns them — the clone's :meth:`vacuum` walks only the clone's
        data dir by construction), and the source is never touched.
        The hazard Delta documents — VACUUM on the SOURCE reclaims
        files a shallow clone still references — is actively guarded
        here: the clone leaves a MARKER at the source (sidecar under
        ``_clones/``, same mechanism as the CDC consumer progress
        markers), and the source's :meth:`vacuum` / :meth:`truncate_log`
        refuse to reclaim files/log entries a live clone still needs.
        Markers are TTL-scoped (refreshed by the clone's reads, via
        :meth:`_refresh_clone_marker`) so a deleted or abandoned clone
        can never pin the source forever; once a marker expires, reads
        of the clone fail LOUDLY (the file list is explicit, so Spark
        raises on the missing file; time-travel paths raise
        :class:`VacuumedVersionError`), never silently partial.
        ``shallow=False`` is DEEP: files are copied under the clone's
        root, severing the dependency. The copy runs EXECUTOR-SIDE
        (the (src, dst) pairs ship as Spark tasks), so bytes move
        through the cluster with task retry, never funneled through
        the driver; a deep clone of a shallow clone copies borrowed
        files from wherever they live and re-roots them under the
        clone's own data dir, dropping the ``borrowed`` flag — the
        deep clone depends on nobody.

        The clone inherits key_cols / n_buckets / partition_by (layout
        identity — borrowed files' bucket and partition directories
        must stay meaningful), schema (column mapping + drop
        tombstones verbatim), constraints, and the source's PROTOCOL
        requirement (a dv-carrying snapshot keeps its v3 reader gate).
        Its history starts fresh: create + one ``clone`` commit that —
        like ``create`` — contributes nothing to the change feed (the
        initial state is a baseline, not churn; Delta CLONE semantics).
        Deletion vectors ride along EMBEDDED in the borrowed add-infos
        (same mechanism as :meth:`restore` re-adds), so every reader
        of the clone applies them. Reference basis: Delta Lake shallow
        clone (delta.io CLONE semantics) — beyond the reference
        engine, whose stores have no table abstraction to clone.
        """
        if timestamp is not None:
            if version is not None:
                raise ValueError("pass version OR timestamp, not both")
            version = self.version_at(timestamp)
        tgt = _replay_log(self.logstore, upto=version)
        src_version = tgt.version if version is None else int(version)
        # occupied-destination check BEFORE any marker/pin write: a
        # retried clone(dest) after an earlier success must fail
        # WITHOUT having touched the live clone's pins — the owner-pin
        # names are deterministic per (dest, owner), so a cleanup
        # after this ValueError would unlink the LIVE clone's pins and
        # let owner vacuums reap bytes it still borrows until its next
        # read re-created them. (_clone_build re-checks inside the
        # pinned span to catch a concurrent clone racing this window.)
        if os.path.exists(dest_path) and (
            FileLogStore(os.path.join(dest_path, _LOG_DIR))
            .list_versions()
        ):
            raise ValueError(
                f"clone destination {dest_path} already holds a table"
            )
        marker = None
        if shallow:
            # pin FIRST, assert existence second: once the marker is
            # on disk a concurrent source vacuum skips everything this
            # snapshot borrows, so the guard's answer stays true
            # through the commit. The marker survives ONLY a
            # successful commit — the broad handler below unlinks it
            # on EVERY failure between here and the commit (vacuumed
            # preimage, occupied destination, staging error, deep-copy
            # collision, commit conflict), else a failed clone would
            # leak a phantom pin that blocks the source's
            # vacuum/truncate_log for the whole TTL
            marker = self._write_clone_marker(
                os.path.abspath(dest_path), src_version
            )
        owner_pins: "list[str]" = []
        if shallow:
            # chained clone: the snapshot may borrow files whose OWNER
            # is not this table (we are ourselves a shallow clone).
            # The marker above pins only US; the owner must be pinned
            # for the new clone TOO, from creation — waiting for the
            # clone's first read (which refreshes owner pins) leaves a
            # window where an idle intermediate's expired marker lets
            # the owner vacuum bytes the just-created clone borrows.
            # Deterministic per-(clone, owner) names: the read-refresh
            # path touches these same files later.
            dest_abs = os.path.abspath(dest_path)
            roots = sorted({
                os.path.dirname(self._data_base(f))
                for f, i in tgt.live.items()
                if i.get("borrowed") or os.path.isabs(f)
            } - {os.path.abspath(self.path)})
            for root in roots:
                pin_path = os.path.join(
                    root, "_clones",
                    self._owner_pin_name(dest_abs, root),
                )
                try:
                    if os.path.exists(pin_path):
                        # a pre-existing pin with this (clone, owner)
                        # name belongs to an earlier attempt (or a
                        # crashed cleanup): refresh its TTL but do NOT
                        # claim it — the failure handler below must
                        # only ever unlink pins THIS call created
                        os.utime(pin_path)
                        continue
                    nm = self._write_marker_file(
                        root, dest_abs, 0,
                        name=self._owner_pin_name(dest_abs, root),
                    )
                    owner_pins.append(
                        os.path.join(root, "_clones", nm)
                    )
                except OSError:
                    warnings.warn(
                        f"TxTable at {self.path}: could not pin "
                        f"borrowed owner {root} for clone {dest_abs} "
                        f"— its vacuum may reclaim borrowed files"
                    )
        transient_pins: "list[str]" = []
        if not shallow:
            # a deep clone of a SHALLOW source reads bytes another
            # table owns; pin each borrowed owner BEFORE _clone_build
            # runs the vacuumed-preimage guard (pin-first discipline,
            # same as the shallow path above) so the guard's answer
            # stays true through the whole copy — no guard-to-pin
            # window for an owner vacuum to reap borrowed files
            # mid-flight. Version 0 is maximally conservative (the
            # owner-relative snapshot version is unknown); the pins
            # are transient: once copied the clone owns its bytes, so
            # they are removed below on success AND failure.
            dest_abs = os.path.abspath(dest_path)
            for root in sorted({
                os.path.dirname(self._data_base(f))
                for f, i in tgt.live.items()
                if i.get("borrowed") or os.path.isabs(f)
            } - {os.path.abspath(self.path)}):
                try:
                    transient_pins.append(os.path.join(
                        root, "_clones",
                        self._write_marker_file(root, dest_abs, 0),
                    ))
                except OSError:
                    # the copy still runs (reads may be possible where
                    # marker writes are not), but the operator must
                    # know the mid-copy vacuum guard is OFF here
                    warnings.warn(
                        f"TxTable at {self.path}: could not write a "
                        f"transient pin at borrowed owner {root}; a "
                        f"concurrent owner vacuum during this deep "
                        f"copy may reap borrowed files"
                    )
        try:
            committed = self._clone_build(
                tgt, dest_path, src_version, shallow, marker,
            )
        except BaseException:
            if marker:
                self._unlink_clone_marker(marker)
            for mp in owner_pins:
                try:
                    os.unlink(mp)
                except OSError:
                    pass
            raise
        finally:
            for mp in transient_pins:
                try:
                    os.unlink(mp)
                except OSError:
                    pass
        dest = committed
        if shallow:
            # post-commit guard, the restore discipline: if a vacuum
            # raced the marker write and reaped a borrowed file, fail
            # HERE deterministically, not at some later read. The
            # marker stays — the clone commit landed, so the pin is
            # real even though this snapshot is already damaged.
            self._guard_vacuumed(
                sorted(tgt.live),
                f"clone(version={src_version}) post-commit",
            )
        return dest

    def _unlink_clone_marker(self, name: str) -> None:
        """Best-effort removal of a clone-pin marker this table wrote
        at its own ``_clones`` dir (failed-clone cleanup path)."""
        try:
            os.unlink(os.path.join(self.path, "_clones", name))
        except OSError:
            pass

    @staticmethod
    def _owner_pin_name(clone_abs: str, owner_root: str) -> str:
        """Deterministic marker name a clone uses at a borrowed owner
        root OTHER than its direct source (chained shallow clones).
        Clone-time pinning and read-time refresh must derive the SAME
        name, or every read would spawn a fresh marker."""
        return "clone-{}.json".format(
            hashlib.md5(
                (clone_abs + "\0" + owner_root).encode()
            ).hexdigest()[:12]
        )

    def _clone_build(
        self, tgt, dest_path: str, src_version: int,
        shallow: bool, marker,
    ) -> "TxTable":
        """Everything in :meth:`clone` between the marker write and a
        committed destination table. Split out so ``clone`` can wrap
        the WHOLE span in one marker-cleanup handler: any exception
        out of here (including :class:`CommitConflict`) must unlink
        the just-written source pin."""
        self._guard_vacuumed(
            sorted(tgt.live), f"clone(version={src_version})"
        )
        if os.path.exists(dest_path) and (
            FileLogStore(os.path.join(dest_path, _LOG_DIR))
            .list_versions()
        ):
            raise ValueError(
                f"clone destination {dest_path} already holds a table"
            )
        dest = TxTable(
            self.spark, dest_path,
            key_cols=list(self.key_cols),
            n_buckets=self.n_buckets,
            checkpoint_interval=self.checkpoint_interval,
            partition_by=list(self.partition_by) or None,
            # table properties travel with the layout identity
            dv_table_cap=(
                self.dv_table_cap
                if self.dv_table_cap != _DV_MAX_TABLE_POSITIONS
                else None
            ),
            deep_clone_driver_max_bytes=(
                self.deep_clone_driver_max_bytes
                if self.deep_clone_driver_max_bytes
                != _DEEP_CLONE_DRIVER_MAX_BYTES
                else None
            ),
        )
        actions: list[dict] = []
        proto = tgt.protocol
        if proto != _DEFAULT_PROTOCOL:
            actions.append({"protocol": dict(proto)})
        if tgt.schema is not None:
            actions.append({"schema": tgt.schema})
        for name, expr in sorted(tgt.constraints.items()):
            actions.append(
                {"constraint_add": {"name": name, "expr": expr}}
            )
        src_root = os.path.abspath(self.path)
        if shallow:
            # borrowed paths MUST be absolute: _read_files/_data_base
            # route them to the source's data root, and the clone may
            # be opened from any CWD (the source handle itself may
            # hold a relative path — the CLI passes store paths
            # verbatim). The marker pinning these files was written
            # BEFORE the existence guard above.
            for f, info in sorted(tgt.live.items()):
                actions.append({"add": {
                    **info,
                    "file": f if os.path.isabs(f)
                    else os.path.join(src_root, f),
                    "borrowed": True,
                }})
        else:
            # DEEP: copy every live file under the clone's root,
            # severing all dependence on the source — and, when the
            # source is itself a shallow clone, on ITS source:
            # borrowed entries carry absolute paths into the owner's
            # data root, so they are copied from there and re-rooted
            # (relpath from the owner's data root) under dest/data,
            # with the borrowed flag dropped. Staged file names embed
            # uuid4, so re-rooted paths cannot collide — asserted
            # anyway, because a silent collision would lose a file.
            pairs: "list[tuple[str, str]]" = []
            seen: set = set()
            dest_root = os.path.abspath(dest.path)
            for f, info in sorted(tgt.live.items()):
                if info.get("borrowed") or os.path.isabs(f):
                    src = f
                    rel = os.path.join(
                        "data",
                        os.path.relpath(src, self._data_base(src)),
                    )
                else:
                    src = os.path.join(src_root, f)
                    rel = f
                if rel in seen:
                    raise ValueError(
                        f"deep clone path collision at {rel}"
                    )
                seen.add(rel)
                new_info = {
                    k: v for k, v in info.items() if k != "borrowed"
                }
                new_info["file"] = rel
                actions.append({"add": new_info})
                pairs.append((src, os.path.join(dest_root, rel)))
            total_b = sum(
                int(i.get("bytes", 0)) for i in tgt.live.values()
            )
            # borrowed owners were pinned by clone() BEFORE the
            # vacuumed-preimage guard at this method's entry (pin-
            # first discipline, matching the shallow path), so the
            # whole copy below runs under owner pins; clone() removes
            # those transient pins on success and failure alike
            if (
                pairs
                and total_b <= self.deep_clone_driver_max_bytes
            ):
                # metadata-sized table: the driver loop beats a
                # Spark job's scheduling + worker round-trip
                for s, d in pairs:
                    os.makedirs(os.path.dirname(d), exist_ok=True)
                    shutil.copy2(s, d)
            elif pairs:
                # executor-side copy: ship the (src, dst) pairs as
                # Spark tasks so the bytes move through the
                # cluster (shared table storage), not the driver —
                # a deep clone of a large table must scale with
                # executors, and task retry re-copies idempotently
                # (copy2 overwrites; nothing references dst until
                # the single clone commit below lands)
                sc = self.spark.sparkContext
                n = max(
                    1, min(len(pairs), sc.defaultParallelism * 2)
                )

                def _copy_part(it):
                    for s, d in it:
                        os.makedirs(
                            os.path.dirname(d), exist_ok=True
                        )
                        shutil.copy2(s, d)

                sc.parallelize(pairs, n).foreachPartition(
                    _copy_part
                )
        if not dest._commit(
            1, actions, op="clone",
            buckets=sorted({
                i.get("bucket") for i in tgt.live.values()
            } - {None}),
            extra={
                "source": os.path.abspath(self.path),
                "source_version": src_version,
                "shallow": bool(shallow),
                **({"clone_marker": marker} if marker else {}),
            },
        ):
            # raising here reaches clone()'s broad handler, which
            # unlinks the source pin — a conflicted clone pins nothing
            raise CommitConflict(
                f"clone destination {dest_path} was written "
                f"concurrently"
            )
        return dest

    # ------------------------------------------------- clone markers --

    def _write_clone_marker(self, dest_abs: str, version: int) -> str:
        """Pin sidecar a shallow clone leaves at its SOURCE (same
        mechanism as the CDC consumer progress markers): the source's
        :meth:`vacuum` refuses to reclaim files removed after
        ``version`` (exactly the set a clone at ``version`` could
        still borrow — conservative: anything live at the clone's
        snapshot has removal version > it or none at all) and
        :meth:`truncate_log` keeps the log entries that removal
        bookkeeping needs. Returns the marker file name."""
        return self._write_marker_file(self.path, dest_abs, version)

    @staticmethod
    def _write_marker_file(
        table_root: str, dest_abs: str, version: int,
        name: "str | None" = None,
    ) -> str:
        """Atomically drop a clone-pin marker under
        ``table_root/_clones`` and return its file name. ``name``
        pins the file name (the chained-clone owner pins use the
        deterministic per-(clone, owner) name the read-refresh path
        will later ``utime``); default is a fresh uuid name. The tmp
        sibling must NOT end in .json: ``clones()`` keys on that
        suffix, and a half-written tmp that matched would read as torn
        JSON and be silently skipped — letting a concurrent vacuum
        through unpinned; it embeds a uuid so concurrent writers never
        share a tmp inode."""
        d = os.path.join(table_root, "_clones")
        os.makedirs(d, exist_ok=True)
        name = name or f"clone-{uuid.uuid4().hex[:12]}.json"
        tmp = os.path.join(d, f"{name}.{uuid.uuid4().hex[:8]}.tmp")
        with open(tmp, "w") as fh:
            json.dump({
                "dest": dest_abs, "version": int(version),
                "ts": time.time(),
            }, fh)
        os.replace(tmp, os.path.join(d, name))
        return name

    def clones(self, ttl_s: float = _CLONE_TTL_S) -> list[dict]:
        """Active shallow-clone markers at this SOURCE table:
        ``[{dest, version, age_s, expires_in_s, expiring_soon}]``,
        stale-past-``ttl_s`` markers excluded — the operator's view of
        what is pinning :meth:`vacuum` / :meth:`truncate_log`.
        ``expiring_soon`` (age past 75 % of the TTL) is the alarm to
        act on: a marker that expires while its clone is idle lets the
        source's vacuum reap borrowed bytes, and the clone's next read
        then fails with the deterministic
        :class:`VacuumedVersionError` (re-pin guard in
        :meth:`_maybe_refresh_clone_marker`) — touch the clone (any
        read) or deep-copy it before that happens."""
        d = os.path.join(self.path, "_clones")
        try:
            names = os.listdir(d)
        except FileNotFoundError:
            return []
        now = time.time()
        out = []
        for n in sorted(names):
            if not n.endswith(".json"):
                continue
            p = os.path.join(d, n)
            try:
                age = now - os.stat(p).st_mtime
                if age > ttl_s:
                    continue
                with open(p) as fh:
                    m = json.load(fh)
                out.append({
                    "dest": m.get("dest"),
                    "version": int(m["version"]),
                    "age_s": age,
                    "expires_in_s": round(ttl_s - age, 1),
                    "expiring_soon": age > 0.75 * ttl_s,
                })
            except (OSError, ValueError, KeyError):
                continue
        return out

    def _min_clone_version(self, ttl_s: float) -> "int | None":
        """Lowest snapshot version among ACTIVE clone markers (None =
        no live shallow clone). Mirrors :meth:`_min_consumer_offset`:
        stale markers are ignored so a deleted clone can never pin the
        source forever — the clone's reads refresh its marker."""
        versions = [c["version"] for c in self.clones(ttl_s)]
        return min(versions) if versions else None

    def _refresh_clone_marker(self, borrowed_file: str) -> "str | None":
        """Called on this table's reads per distinct owner root the
        live set borrows from: touch the marker pinning that owner so
        its TTL tracks actual use. The owner root is derived from the
        borrowed path itself; the recorded commit-1 marker name (and
        snapshot version) applies only when that root IS the direct
        clone source — any other root (chained clone, truncated own
        log) gets a deterministic per-(clone, owner) name pinned at
        version 0, maximally conservative and still TTL-governed.
        Best-effort — a missing marker (TTL'd and swept, or the owner
        moved) is re-created atomically (tmp + ``os.replace``, so a
        concurrent ``clones()`` scan never reads torn JSON and lets a
        vacuum pass through unpinned) if the owner root still exists.
        Returns the marker PATH when it had to be RE-CREATED (it did
        not exist) — the caller then verifies the borrowed preimage,
        since the owner's vacuum may have reaped files in the unpinned
        window, and unlinks the pin again if the preimage is gone;
        None when a live marker was simply touched."""
        if self._clone_marker_info is None:
            info = self._commit_info(1) or {}
            self._clone_marker_info = (
                info.get("source"), info.get("clone_marker"),
                info.get("source_version"),
            )
        rec_src, rec_name, rec_v = self._clone_marker_info
        src = os.path.dirname(self._data_base(borrowed_file))
        if rec_src and rec_name and os.path.abspath(rec_src) == src:
            name, src_v = rec_name, rec_v
        else:
            name = self._owner_pin_name(
                os.path.abspath(self.path), src
            )
            src_v = 0
        p = os.path.join(src, "_clones", name)
        try:
            os.utime(p)
            return None
        except OSError:
            try:
                if os.path.isdir(src) and src_v is not None:
                    os.makedirs(os.path.dirname(p), exist_ok=True)
                    # tmp name must be UNIQUE per writer: two readers
                    # re-creating the same swept marker concurrently
                    # would otherwise truncate each other's shared tmp
                    # inode mid-write and os.replace a torn file into
                    # place — the very hazard the atomic write exists
                    # to prevent
                    tmp = f"{p}.{uuid.uuid4().hex[:8]}.tmp"
                    with open(tmp, "w") as fh:
                        json.dump({
                            "dest": os.path.abspath(self.path),
                            "version": int(src_v),
                            "ts": time.time(),
                        }, fh)
                    os.replace(tmp, p)
            except OSError:
                pass
            return p

    def truncate_log(
        self, retain_versions: int = 0,
        consumer_ttl_s: float = 3600.0,
        clone_ttl_s: float = _CLONE_TTL_S,
    ) -> list[int]:
        """LOG retention — the commit-log counterpart of
        :meth:`vacuum`'s data retention: drop log entries a checkpoint
        supersedes, so a long-lived table's log stays bounded instead
        of growing one entry per commit forever (at warehouse commit
        rates the log itself becomes the scale problem — a million
        tiny objects every maintenance pass has to list and the
        vacuum walk has to read).

        The floor is the NEWEST CHECKPOINT at or below every bound:
        ``head - retain_versions`` (keep a time-travel window), the
        lowest active CDC consumer's offset + 1 (a mid-drain
        stream's unread commits are never dropped; markers stale past
        ``consumer_ttl_s`` are ignored, like vacuum), and the lowest
        active shallow-clone marker's version + 1 (:meth:`vacuum`'s
        clone guard prunes against removal versions recorded in the
        log — dropping the entries that record a removal AFTER a
        clone's snapshot would blind it; ``clone_ttl_s`` staleness as
        in vacuum). Entries strictly
        between version 0 (the table-meta commit, always kept) and the
        floor are deleted; the floor persists as a sidecar written
        BEFORE any delete, so a crash mid-truncation leaves only
        harmless already-guarded leftovers that the next call sweeps.

        Contracts after truncation (all deterministic, never silent):
        time travel below the floor raises :class:`LogTruncatedError`
        — except at versions where an older checkpoint survives, which
        remain readable as coarse anchors; the change feed (batch and
        streaming) is available from the floor forward and raises
        below it. Returns the dropped versions."""
        versions = self._log_versions()
        head = versions[-1] if versions else -1
        cap = head - int(retain_versions)
        lo = self._min_consumer_offset(consumer_ttl_s)
        if lo is not None:
            # floor must stay <= the consumer's committed offset, not
            # offset+1: the stream planner seeds its dv state with
            # _replay_log(upto=lo) and raises LogTruncatedError when
            # its checkpointed offset sits below the floor — a
            # checkpoint landing exactly at lo+1 would otherwise set
            # floor=lo+1 and break the very consumer whose marker was
            # supposed to pin truncation (and the error's remediation,
            # restarting from startingVersion >= floor, would skip
            # commit lo+1's changes entirely — change-feed data loss)
            cap = min(cap, lo)
        cl = self._min_clone_version(clone_ttl_s)
        if cl is not None:
            # entries >= cl+1 record every removal AFTER the lowest
            # clone's snapshot — exactly what vacuum's clone guard
            # (_removal_versions) must still see; cl+1 may be dropped
            # from TIME TRAVEL only once no clone needs it
            cap = min(cap, cl + 1)
        anchors = [
            c for c in self.logstore.list_checkpoints() if c <= cap
        ]
        cur = _log_floor(self.logstore)
        target = max([cur] + anchors)
        if target > cur:
            # protocol gate FIRST: a reader predating log truncation
            # (no floor.json awareness — e.g. one that also can't see
            # gzipped checkpoints and "safely" falls back to full log
            # replay) would silently replay a log missing commits
            # 1..floor-1: resurrected/phantom rows, no error. v4 =
            # truncatable log; bump BEFORE any entry is deleted so
            # such readers fail loudly — the dv v3 precedent.
            self._bump_protocol(4, 4)
            # intent next: a floor above surviving entries is safe
            # (reads below it refuse); entries >= floor never deleted
            d = getattr(
                getattr(self.logstore, "inner", self.logstore),
                "log_dir", self.log_dir,
            )
            tmp = os.path.join(d, ".tmp.floor")
            with open(tmp, "w") as fh:
                json.dump({"floor": int(target)}, fh)
            os.replace(tmp, os.path.join(d, "floor.json"))
        dropped = []
        for v in versions:
            if 0 < v < target:
                self.logstore.delete(v)
                dropped.append(v)
        return dropped

    def vacuum(
        self, grace_s: float = 3600.0,
        consumer_ttl_s: float = 3600.0,
        dry_run: bool = False,
        clone_ttl_s: float = _CLONE_TTL_S,
    ) -> list[str]:
        """Physically delete files no LATEST snapshot references:
        files REMOVED by some commit, and orphans staged by crashed
        writers (on disk, never in the log) — both only once older
        than ``grace_s`` so in-flight readers/writers finish first.

        Retention guards: a file removed at commit ``v`` is still the
        preimage input of the change feed at ``v`` — vacuum REFUSES to
        delete files whose removal version is beyond the lowest
        active streaming consumer's committed offset (progress markers
        written by the CDC source each micro-batch; markers stale for
        ``consumer_ttl_s`` are ignored, so a crashed consumer cannot
        pin the table forever). Likewise a SHALLOW CLONE at snapshot
        version ``V`` still reads any file removed after ``V`` —
        files whose removal version exceeds the lowest active clone
        marker's version (see :meth:`clones`; markers stale for
        ``clone_ttl_s`` are ignored, refreshed by clone reads) are
        skipped with a warning, so the Delta shallow-clone foot-gun is
        refused HERE instead of failing at clone read time.
        Time-travel readers pinned at an old version take the other
        side of the contract: their read raises
        :class:`VacuumedVersionError` deterministically rather than
        silently missing rows. ``dry_run=True`` reports what WOULD be
        deleted — same walk, same guards (clone-pinned files are
        excluded and warned about identically), no unlink (operators
        size the blast radius before an irreversible pass)."""
        _v, live = self._replay()
        referenced = set(live)
        pinned_above = self._min_consumer_offset(consumer_ttl_s)
        clone_lo = self._min_clone_version(clone_ttl_s)
        removed_at = (
            self._removal_versions()
            if (pinned_above is not None or clone_lo is not None)
            else {}
        )
        removed = []
        clone_pinned: list[str] = []
        now = time.time()
        # recursive: partitioned layouts nest col=value dirs above the
        # bucket dirs
        for root, _dirs, files in os.walk(self.data_dir):
            for f in files:
                full = os.path.join(root, f)
                rel = os.path.relpath(full, self.path)
                if rel in referenced:
                    continue
                if (
                    pinned_above is not None
                    and removed_at.get(rel, -1) > pinned_above
                ):
                    continue  # a lagging stream still needs this diff
                if (
                    clone_lo is not None
                    and removed_at.get(rel, -1) > clone_lo
                ):
                    # live at some active clone's snapshot (removed
                    # only after it): the clone still reads these bytes
                    clone_pinned.append(rel)
                    continue
                try:
                    if now - os.stat(full).st_mtime >= grace_s:
                        if not dry_run:
                            os.unlink(full)
                        removed.append(rel)
                except OSError:
                    pass
        if clone_pinned:
            warnings.warn(
                f"TxTable at {self.path}: vacuum skipped "
                f"{len(clone_pinned)} file(s) still borrowed by "
                f"active shallow clone(s) at/after version "
                f"{clone_lo} (see clones()): "
                f"{sorted(clone_pinned)[:5]}...",
                stacklevel=2,
            )
        if not dry_run:
            # sweep STALE clone markers (already ignored by the guard
            # above) so _clones stays bounded across clone churn; a
            # still-live clone that was merely quiet re-creates its
            # marker on its next read (_refresh_clone_marker rebuilds
            # a missing file, not just utimes it)
            cdir = os.path.join(self.path, "_clones")
            try:
                names = os.listdir(cdir)
            except FileNotFoundError:
                names = []
            for nm in names:
                p = os.path.join(cdir, nm)
                try:
                    if now - os.stat(p).st_mtime > clone_ttl_s:
                        os.unlink(p)
                except OSError:
                    pass
        return removed
