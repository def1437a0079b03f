"""TxTable CDC as a real Structured Streaming SOURCE.

Spark 4's Python Data Source API (`pyspark.sql.datasource`) lets the
change feed plug into `spark.readStream` natively: offsets are commit
versions (checkpointed by Spark, so restarts resume exactly where the
previous query stopped — exactly-once delivery of every logical change
when paired with an idempotent sink such as
:meth:`TxTable.foreach_batch_merge`), and each micro-batch fans out as
one task per (commit, bucket). That granularity is the 100 TB story:
the table's bucket layout means a key never crosses bucket files, so a
commit's old-vs-new diff decomposes into independent bucket-local
joins — a merge that touched 12 of 4096 buckets costs 12 parallel
tasks over only those buckets' files, never a table scan and never a
global shuffle. The diff itself runs executor-side in Arrow (pyarrow
hash join + vectorized compare), emitting `RecordBatch`es straight
into Spark — no row-at-a-time Python, no pandas type mangling.

Semantics match :meth:`TxTable.table_changes` (the batch feed):
``_change_type`` in insert / update_preimage / update_postimage /
delete, ``_commit_version`` long; compact commits are row-preserving
and skipped; rows a merge physically rewrote but did not change are
eliminated by a null-safe full-row compare. Deletion-vector commits
(``delete_where(..., mode="dv")``) emit exactly the newly-dead rows
as ``delete`` — the planner diffs each cumulative vector against the
file's previous one — and every preimage read filters rows already
dead before the commit, so a later rewrite never re-reports them. Contracts shared with the
batch feed: one live row per key (the merge discipline), removed files
not yet :meth:`TxTable.vacuum`-ed, and the feed's schema is fixed when
the query starts (columns added by later schema evolution appear after
a restart; until then evolved commits null-fill like any old reader).

Beyond-reference: the reference's stores (``pypeman/msgstore.py``) are
append-only directories with no change log and no streaming reader.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .logstore import FileLogStore
from .txtable import (
    _LOG_DIR,
    LogTruncatedError,
    _commit_actions_of,
    _dv_decode,
    _log_floor,
    _parts_of_relpath,
    _replay_log,
)

__all__ = ["TxTableChangesDataSource"]

# ops that contribute logical row changes (same set as table_changes)
_FEED_OPS = ("append", "merge", "delete", "update", "replace",
             "restore")
_META_COLS = ("_change_type", "_commit_version")


def _bucket_of(relpath: str) -> int:
    return int(relpath.split("bucket=")[1].split("/")[0])


class _CommitBucketPartition(InputPartition):
    """One commit's diff restricted to one bucket — self-contained
    (absolute file lists + key cols + pickled Arrow schema), so read()
    needs only pyarrow on the executor.

    ``old_dvs`` maps an old (removed) file's absolute path to its
    ENCODED pre-commit deletion vector: those rows were already
    reported dead by an earlier dv commit and are filtered out of the
    preimage. ``dv_deletes`` is a list of (absolute path, newly-dead
    positions) for a pure deletion-vector commit (no adds) — the
    partition emits exactly those rows as ``delete``, no diff join.
    ``old_takes`` maps an absolute path to the newly-dead positions
    to TAKE as preimage rows when the commit also has adds
    (merge-on-read UPDATE/MERGE): those rows join the new side on the
    key like any removed file's rows, so re-added keys classify as
    update_pre/postimage and gone keys as delete. ``new_dvs`` maps a
    NEW (added) file's absolute path to its encoded deletion vector —
    restore re-adds files with the target's vector embedded in the
    add-info, and the postimage must exclude those dead rows like any
    snapshot read would."""

    def __init__(self, version, old_files, new_files, key_cols,
                 old_dvs=None, dv_deletes=None, old_takes=None,
                 new_dvs=None):
        self.version = version
        self.old_files = old_files
        self.new_files = new_files
        self.key_cols = key_cols
        self.old_dvs = old_dvs or {}
        self.dv_deletes = dv_deletes or []
        self.old_takes = old_takes or {}
        self.new_dvs = new_dvs or {}


class TxTableChangesStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options):
        self.path = options["path"]
        self.log_dir = os.path.join(self.path, _LOG_DIR)
        self.start_version = int(options.get("startingVersion") or 0)
        # admission control: bound each micro-batch to at most N
        # commits / ~B add-bytes (0 = unbounded). Without a bound, a
        # consumer restarted after long downtime drains the ENTIRE
        # backlog as one micro-batch — tasks stay per-(commit,bucket)
        # so it parallelizes, but one giant batch defeats progress
        # tracking and sink commit granularity.
        self.max_commits = int(options.get("maxCommitsPerTrigger") or 0)
        self.max_bytes = int(options.get("maxBytesPerTrigger") or 0)
        # highest end offset Spark has planned with this reader. On
        # restart the engine re-plans the checkpointed batch via
        # partitions(start, end) BEFORE the first latestOffset call,
        # so the bound is always relative to the true resume point,
        # never startingVersion.
        self._last_planned: "int | None" = None
        # progress marker: pins TxTable.vacuum() so a mid-drain/
        # lagging stream's not-yet-consumed preimage files are never
        # reclaimed under it (see TxTable.vacuum retention guard).
        # The id is STABLE across restarts (derived from the reader
        # configuration — the Python source API exposes no query id),
        # so a restarted query replaces its dead predecessor's marker
        # and catching up releases the pin without waiting out the
        # TTL. Two distinct queries with identical options share a
        # marker; the slower one is then only TTL/grace-protected and
        # on loss gets the deterministic vacuumed-file error, never a
        # silent wrong answer.
        import hashlib

        ident = (
            f"{os.path.abspath(self.path)}|{self.start_version}"
            f"|{self.max_commits}|{self.max_bytes}"
        )
        self._consumer_id = (
            "q-" + hashlib.sha1(ident.encode()).hexdigest()[:16]
        )
        from pyspark.sql.pandas.types import to_arrow_schema

        self.arrow_out = to_arrow_schema(schema)
        # column mapping: physical (on-disk) name per logical field —
        # arrow schemas drop Spark field metadata, so capture it here
        self.colmap = {
            f.name: f.metadata["physical"]
            for f in schema.fields
            if f.metadata and f.metadata.get("physical")
            and f.metadata["physical"] != f.name
        }
        # key cols live in version 0's meta action; the store holds
        # only a path, so it pickles cleanly into the driver-side
        # offset worker
        self.logstore = FileLogStore(self.log_dir)
        meta = {}
        for line in (self.logstore.read(0) or "").splitlines():
            if line.strip():
                a = json.loads(line)
                if "meta" in a:
                    meta = a["meta"]
        self.key_cols = list(meta["key_cols"])

    # ------------------------------------------------------ offsets --

    def _write_consumer_marker(self, version: int) -> None:
        import time

        d = os.path.join(self.path, "_consumers")
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".tmp.{self._consumer_id}")
        with open(tmp, "w") as fh:
            json.dump({"version": int(version), "ts": time.time()}, fh)
        os.replace(tmp, os.path.join(d, f"{self._consumer_id}.json"))

    def initialOffset(self) -> dict:
        return {"version": self.start_version}

    def latestOffset(self) -> dict:
        """Log head, bounded by ``maxCommitsPerTrigger`` /
        ``maxBytesPerTrigger`` relative to the last planned offset —
        a long backlog drains as several paced micro-batches instead
        of one giant one. The bytes bound reads only the LOG (each
        add action records its file size): zero data IO. Caveat: the
        Python data source API calls latestOffset once per micro-batch
        under processing-time triggers but only ONCE per run under
        ``availableNow`` (no SupportsTriggerAvailableNow seam), so a
        bounded reader under availableNow drains one trigger's worth
        per run — use a processing-time trigger for paced catch-up."""
        versions = self.logstore.list_versions()
        head = versions[-1] if versions else -1
        base = (
            self.start_version if self._last_planned is None
            else max(self._last_planned, self.start_version)
        )
        if head <= base or not (self.max_commits or self.max_bytes):
            return {"version": max(head, self.start_version)}
        end = base
        admitted = 0
        byte_budget = self.max_bytes
        for v in versions:
            if v <= base:
                continue
            if self.max_commits and admitted >= self.max_commits:
                break
            if self.max_bytes and admitted >= 1 and byte_budget <= 0:
                break
            end = v  # always admit at least one commit
            admitted += 1
            if self.max_bytes:
                parsed = _commit_actions_of(self.logstore, v)
                if parsed is not None:
                    # adds bill their file size; dv actions bill their
                    # encoded-vector size — a dv-only commit stages no
                    # files but its newly-dead rows still cost the
                    # sink, so a dv-heavy backlog must not drain as
                    # one giant batch just because add-bytes are zero
                    byte_budget -= sum(
                        int(a.get("bytes", 0)) for a in parsed[0]
                    ) + sum(len(d.get("pos", "")) for d in parsed[2])
        return {"version": end}

    # --------------------------------------------------- partitions --

    def partitions(self, start: dict, end: dict):
        self._last_planned = max(
            self._last_planned if self._last_planned is not None else -1,
            int(end["version"]),
        )
        # pin vacuum at our true position: on restart this runs (with
        # the checkpointed start) before any batch completes
        self._write_consumer_marker(int(start["version"]))
        parts = []
        sv = int(start["version"])
        fl = _log_floor(self.logstore)
        if sv < fl:
            raise LogTruncatedError(
                f"txtable_changes: checkpointed offset {sv} is below "
                f"the log-retention floor {fl} — the unread commits "
                f"were truncated; restart from startingVersion >= "
                f"{fl} (or raise the consumer TTL so an active "
                f"stream pins truncation)"
            )
        # running dv state (relpath -> encoded cumulative vector) from
        # the batch-start snapshot forward: newly-dead diffing and
        # preimage filtering need the PRE-commit vector of each file.
        # Cached across contiguous micro-batches (this batch's end
        # state seeds the next batch's start), so steady-state
        # planning pays ZERO replays — only a restart or a retried
        # batch (start != cached end) replays, checkpoint-bounded and
        # driver-side.
        cached = getattr(self, "_dv_cache", None)
        if cached is not None and cached[0] == sv:
            dvstate: "dict[str, str]" = dict(cached[1])
        else:
            dvstate = {
                f: i["dv"]["pos"]
                for f, i in _replay_log(
                    self.logstore, upto=sv
                ).live.items()
                if i.get("dv")
            }
        for v in range(sv + 1, int(end["version"]) + 1):
            parsed = _commit_actions_of(self.logstore, v)
            if parsed is None:
                continue
            adds, removes, dvs, info = parsed
            feed = info.get("op") in _FEED_OPS
            dv_by_bucket: "dict[int, list]" = {}
            for d in dvs:
                prev = dvstate.get(d["file"])
                prevpos = set(_dv_decode(prev)) if prev else set()
                newly = sorted(set(_dv_decode(d["pos"])) - prevpos)
                dvstate[d["file"]] = d["pos"]
                if feed and newly:
                    dv_by_bucket.setdefault(
                        _bucket_of(d["file"]), []
                    ).append(
                        (os.path.join(self.path, d["file"]), newly)
                    )
            old_dvs_all: "dict[str, str]" = {}
            for f in removes:
                prev = dvstate.pop(f, None)
                if prev is not None and feed:
                    old_dvs_all[os.path.join(self.path, f)] = prev
            # an ADD resets the file's vector state (restore re-adds
            # carry the target's vector embedded; other re-adds of the
            # same path start vector-free)
            new_dvs_all: "dict[str, str]" = {}
            for a in adds:
                if a.get("dv"):
                    dvstate[a["file"]] = a["dv"]["pos"]
                    new_dvs_all[
                        os.path.join(self.path, a["file"])
                    ] = a["dv"]["pos"]
                else:
                    dvstate.pop(a["file"], None)
            if not feed:
                continue  # create/compact/schema-only: row-preserving
            by_bucket: dict[int, tuple[list, list]] = {}
            for a in adds:
                by_bucket.setdefault(a["bucket"], ([], []))[1].append(
                    os.path.join(self.path, a["file"])
                )
            for f in removes:
                by_bucket.setdefault(_bucket_of(f), ([], []))[0].append(
                    os.path.join(self.path, f)
                )
            # dv rows: with adds in the commit (merge-on-read UPDATE/
            # MERGE, or a delete with escalated rewrites) the newly-
            # dead rows are PREIMAGES and join the bucket's new side
            # — a key never crosses buckets, so the fold stays bucket-
            # local; without adds they emit directly as deletes
            takes_by_bucket: "dict[int, dict]" = (
                {
                    b: {f: pos for f, pos in items}
                    for b, items in dv_by_bucket.items()
                } if adds else {}
            )
            for _b in sorted(set(by_bucket) | set(takes_by_bucket)):
                old, new = by_bucket.get(_b, ([], []))
                parts.append(_CommitBucketPartition(
                    v, sorted(old), sorted(new), self.key_cols,
                    old_dvs={
                        p: old_dvs_all[p] for p in old
                        if p in old_dvs_all
                    },
                    old_takes=takes_by_bucket.get(_b),
                    new_dvs={
                        p: new_dvs_all[p] for p in new
                        if p in new_dvs_all
                    },
                ))
            if not adds:
                for _b, items in sorted(dv_by_bucket.items()):
                    parts.append(_CommitBucketPartition(
                        v, [], [], self.key_cols, dv_deletes=items,
                    ))
        self._dv_cache = (int(end["version"]), dvstate)
        if not parts:
            # a planned batch of only row-preserving commits still
            # needs a partition; this sentinel yields zero batches
            parts.append(_CommitBucketPartition(-1, [], [], self.key_cols))
        return parts

    def commit(self, end: dict) -> None:
        # nothing to release (the log is the source of truth); track
        # the position defensively for the admission bound and refresh
        # the vacuum-pinning progress marker
        self._last_planned = max(
            self._last_planned if self._last_planned is not None else -1,
            int(end["version"]),
        )
        self._write_consumer_marker(int(end["version"]))

    def stop(self) -> None:
        pass

    # --------------------------------------------------------- read --

    def read(self, p: _CommitBucketPartition):
        """Executor-side bucket-local diff, all Arrow: read the
        commit's old/new files for this bucket, hash-join on the key,
        vectorized null-safe compare, emit RecordBatches."""
        if p.version < 0:
            return
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        out_schema = self.arrow_out
        tbl_fields = [f for f in out_schema if f.name not in _META_COLS]
        tbl_schema = pa.schema(tbl_fields)
        keys = list(p.key_cols)
        nonkey = [f.name for f in tbl_fields if f.name not in keys]

        def load(files, dead=None, take=None):
            """Union of parquet files aligned to the FEED schema:
            columns the file predates are typed nulls (schema
            evolution), PARTITION columns — absent from the bytes by
            Hive-layout design — are rebuilt as constants from the
            file's ``col=value`` path segments, extras (the physical
            bucket partition col, or post-restart evolved columns)
            are dropped. ``dead`` maps a path to its encoded deletion
            vector — those ROW POSITIONS are dropped (already-dead
            preimage rows); ``take`` maps a path to the positions to
            KEEP (dv-delete emission). Positions are row indexes in
            the file, which ``read_table`` preserves."""
            if not files:
                return None
            import numpy as np

            tabs = []
            for f in files:
                try:
                    t = pq.read_table(f)
                except FileNotFoundError as e:
                    raise RuntimeError(
                        f"txtable_changes: data file {f} referenced by "
                        f"commit {p.version} was vacuumed out from "
                        f"under this stream; restart from a newer "
                        f"startingVersion or raise the vacuum grace/"
                        f"consumer TTL"
                    ) from e
                if take is not None and f in take:
                    t = t.take(pa.array(take[f], pa.int64()))
                elif dead is not None and f in dead:
                    mask = np.ones(t.num_rows, dtype=bool)
                    mask[np.asarray(_dv_decode(dead[f]), dtype=np.int64)] = False
                    t = t.filter(pa.array(mask))
                parts = _parts_of_relpath(f)
                cols = {}
                for fld in tbl_fields:
                    src = self.colmap.get(fld.name, fld.name)
                    if src in t.column_names:
                        cols[fld.name] = pc.cast(t[src], fld.type)
                    elif fld.name in parts:
                        pv = parts[fld.name]
                        if pv is None:
                            cols[fld.name] = pa.nulls(
                                t.num_rows, fld.type
                            )
                        else:
                            cols[fld.name] = pc.cast(
                                pa.array([pv] * t.num_rows,
                                         pa.string()),
                                fld.type,
                            )
                    else:
                        cols[fld.name] = pa.nulls(t.num_rows, fld.type)
                tabs.append(pa.table(cols).cast(tbl_schema))
            return pa.concat_tables(tabs)

        def emit(tbl, ctype):
            n = tbl.num_rows
            if n == 0:
                return
            t = tbl.append_column(
                "_change_type", pa.array([ctype] * n, pa.string())
            ).append_column(
                "_commit_version", pa.array([p.version] * n, pa.int64())
            )
            yield from t.cast(out_schema).to_batches()

        dvd = getattr(p, "dv_deletes", None) or []
        if dvd:
            # pure deletion-vector commit: emit exactly the newly-dead
            # rows, no diff join
            files = [f for f, _pos in dvd]
            t = load(files, take={f: pos for f, pos in dvd})
            yield from emit(t, "delete")
            return
        old = load(p.old_files, dead=getattr(p, "old_dvs", None))
        takes = getattr(p, "old_takes", None) or {}
        if takes:
            # merge-on-read preimages: the commit's newly-dead rows
            # join the new side below like any removed file's rows
            t = load(sorted(takes), take=takes)
            old = t if old is None else pa.concat_tables([old, t])
        new = load(p.new_files, dead=getattr(p, "new_dvs", None))
        if old is None and new is None:
            return
        if old is None:
            yield from emit(new, "insert")
            return
        if new is None:
            yield from emit(old, "delete")
            return

        # join only (keys, row-index) — Arrow's hash join rejects
        # list/map PAYLOAD columns, so full rows are gathered by
        # take() on the original tables instead of carried through
        okeys = old.select(keys).append_column(
            "__oi", pa.array(range(old.num_rows), pa.int64())
        )
        nkeys = new.select(keys).append_column(
            "__ni", pa.array(range(new.num_rows), pa.int64())
        )
        j = okeys.join(nkeys, keys=keys, join_type="full outer")
        in_old = pc.is_valid(j["__oi"])
        in_new = pc.is_valid(j["__ni"])
        yield from emit(
            new.take(j.filter(pc.invert(in_old))["__ni"]), "insert"
        )
        yield from emit(
            old.take(j.filter(pc.invert(in_new))["__oi"]), "delete"
        )
        both = j.filter(pc.and_(in_old, in_new))
        oi, ni = both["__oi"], both["__ni"]
        changed = None
        for c in nonkey:
            lo, hi = old[c].take(oi), new[c].take(ni)
            try:
                same = pc.or_(
                    pc.fill_null(pc.equal(lo, hi), False),
                    pc.and_(pc.is_null(lo), pc.is_null(hi)),
                )
            except (pa.lib.ArrowNotImplementedError, pa.lib.ArrowInvalid):
                # list/map columns: no vectorized equal — Python
                # compare (None == None is True, matching the
                # null-safe semantics of the batch feed)
                same = pa.chunked_array([pa.array(
                    [a == b for a, b in
                     zip(lo.to_pylist(), hi.to_pylist())],
                    pa.bool_(),
                )])
            diff = pc.invert(same)
            changed = diff if changed is None else pc.or_(changed, diff)
        if changed is None:  # key-only table: nothing can change
            return
        upd_o = both.filter(changed)["__oi"]
        upd_n = both.filter(changed)["__ni"]
        yield from emit(old.take(upd_o), "update_preimage")
        yield from emit(new.take(upd_n), "update_postimage")


class TxTableChangesDataSource(DataSource):
    """``spark.readStream.format("txtable_changes").option("path", p)``
    — see module docstring. Options: ``path`` (table root, required),
    ``startingVersion`` (exclusive lower bound, default 0 = the whole
    history), ``maxCommitsPerTrigger`` / ``maxBytesPerTrigger``
    (admission control: bound each micro-batch to N commits / ~B
    add-bytes of backlog; 0 or unset = unbounded; see
    :meth:`TxTableChangesStreamReader.latestOffset` for the
    availableNow caveat)."""

    @classmethod
    def name(cls) -> str:
        return "txtable_changes"

    def schema(self):
        log_dir = os.path.join(self.options["path"], _LOG_DIR)
        _v, _live, _txns, schema_json, _cons, _proto = _replay_log(
            log_dir
        )
        if schema_json is None:
            raise ValueError(
                "txtable_changes: table has no committed schema yet "
                "(write to it first, or pass .schema(...) explicitly)"
            )
        st = StructType.fromJson(json.loads(schema_json))
        return StructType(
            st.fields
            + [
                StructField("_change_type", StringType()),
                StructField("_commit_version", LongType()),
            ]
        )

    def streamReader(self, schema):
        return TxTableChangesStreamReader(schema, self.options)
