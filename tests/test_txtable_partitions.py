"""Partitioned TxTable (store/txtable.py ``partition_by``): Hive-style
directory layout with exact per-file partition values in the log,
partition-exact scan pruning, (partition, bucket)-scoped merges and
conflict detection, and the predicate DML surface
(delete_where / update_where / replace_where) including its
metadata-only fast paths."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from pypeman_spark.store.txtable import (
    ConstraintViolation,
    TxTable,
)

pytestmark = pytest.mark.usefixtures("file_log")


D1, D2, D3 = dt.date(2024, 1, 1), dt.date(2024, 1, 2), dt.date(2024, 1, 3)


def _mk(spark, tmp_path, **kw):
    kw.setdefault("key_cols", ["day", "k"])
    kw.setdefault("n_buckets", 4)
    kw.setdefault("partition_by", ["day"])
    return TxTable(spark, str(tmp_path / "ptbl"), **kw)


def _df(spark, rows):
    return spark.createDataFrame(list(rows), "day date, k long, val string")


def _seed(spark, t):
    t.append(_df(spark, [
        (D1, 1, "a"), (D1, 2, "b"), (D2, 3, "c"), (D2, 4, "d"),
        (None, 5, "e"),
    ]))
    return t


def test_partitioned_roundtrip_schema_and_reopen(spark, tmp_path):
    """Directory-encoded partition values must round-trip exactly —
    typed (date), null (__HIVE_DEFAULT_PARTITION__), and in the
    logical column order — and the layout choice must be re-read from
    v0 meta on open, like key_cols/n_buckets."""
    t = _seed(spark, _mk(spark, tmp_path))
    snap = t.snapshot()
    assert [f.name for f in snap.schema.fields] == ["day", "k", "val"]
    assert snap.schema["day"].dataType.simpleString() == "date"
    rows = {r["k"]: (r["day"], r["val"]) for r in snap.collect()}
    assert rows[1] == (D1, "a") and rows[5] == (None, "e")
    # every add action carries its exact partition values
    _v, live = t._replay()
    assert all(
        "parts" in info and set(info["parts"]) == {"day"}
        for info in live.values()
    )
    t2 = TxTable(spark, str(tmp_path / "ptbl"))
    assert t2.partition_by == ["day"]
    assert {r["k"] for r in t2.snapshot().collect()} == {1, 2, 3, 4, 5}


def test_scan_partition_pruning_is_exact(spark, tmp_path):
    """Partition predicates prune on the file's CONSTANT value —
    exact, not a range bound — and a null partition value fails every
    comparison, so its files prune too."""
    t = _seed(spark, _mk(spark, tmp_path))
    s = t.scan(("day", "=", D1))
    assert {r["k"] for r in s.collect()} == {1, 2}
    info = t.last_scan_info
    assert info["files_read"] < info["files_live"]
    d1_files = sum(
        1 for f, i in t._replay()[1].items()
        if i["parts"]["day"] == "2024-01-01"
    )
    assert info["files_read"] == d1_files
    # range predicate: D2 files kept, D1 and null-day files pruned
    s2 = t.scan(("day", ">", D1))
    assert {r["k"] for r in s2.collect()} == {3, 4}
    assert t.last_scan_info["files_read"] == sum(
        1 for f, i in t._replay()[1].items()
        if i["parts"]["day"] == "2024-01-02"
    )
    # nothing matches: zero files planned, schema preserved
    s3 = t.scan(("day", "=", D3))
    assert t.last_scan_info["files_read"] == 0
    assert s3.count() == 0
    assert [f.name for f in s3.schema.fields] == ["day", "k", "val"]


def test_int_partition_values_compare_typed(spark, tmp_path):
    """Path tokens are strings; pruning must parse them with the
    literal's type — "10" < "9" as strings, but 10 > 9 as ints."""
    t = TxTable(
        spark, str(tmp_path / "ints"), key_cols=["p", "k"],
        n_buckets=2, partition_by=["p"],
    )
    t.append(spark.createDataFrame(
        [(10, 1, "x"), (9, 2, "y")], "p int, k long, val string"
    ))
    s = t.scan(("p", ">", 9))
    assert {r["k"] for r in s.collect()} == {1}
    assert t.last_scan_info["files_read"] == 1  # p=10 only, typed


def test_partition_column_guards(spark, tmp_path):
    t = _seed(spark, _mk(spark, tmp_path))
    with pytest.raises(ValueError, match="key column|partition column"):
        t.rename_column("day", "d2")
    with pytest.raises(ValueError, match="key column|partition column"):
        t.drop_column("day")
    # a partition col that is NOT a key col hits the partition guard
    t3 = TxTable(
        spark, str(tmp_path / "nonkey"), key_cols=["k"],
        n_buckets=2, partition_by=["day"],
    )
    t3.append(_df(spark, [(D1, 1, "x")]))
    with pytest.raises(ValueError, match="partition column"):
        t3.rename_column("day", "d2")
    with pytest.raises(ValueError, match="partition column"):
        t3.drop_column("day")
    with pytest.raises(ValueError, match="key/partition"):
        t.update_where({"day": "day"}, ("k", "=", 1))
    with pytest.raises(ValueError, match="missing partition"):
        t.append(spark.createDataFrame([(7, "x")], "k long, val string"))
    with pytest.raises(ValueError, match="bucket"):
        TxTable(spark, str(tmp_path / "bad"), key_cols=["k"],
                partition_by=["bucket"])
    with pytest.raises(ValueError, match="type"):
        tt = TxTable(
            spark, str(tmp_path / "badtype"), key_cols=["ts", "k"],
            partition_by=["ts"],
        )
        tt.append(spark.createDataFrame(
            [(dt.datetime(2024, 1, 1), 1)], "ts timestamp, k long"
        ))


def test_merge_rewrites_only_touched_partition(spark, tmp_path):
    """partition_by ⊆ key_cols: a merge into day 1 must leave day 2's
    files of the SAME bucket live — scope refinement below the bucket
    level — and record its (partition, bucket) scopes in the commit."""
    t = _mk(spark, tmp_path, n_buckets=1)  # one bucket: all keys share it
    _seed(spark, t)
    _v, before = t._replay()
    t.merge_upsert(_df(spark, [(D1, 1, "A2")]))
    _v, after = t._replay()
    d2 = {f for f, i in before.items() if i["parts"]["day"] == "2024-01-02"}
    assert d2 and d2 <= set(after), "day-2 files rewritten by day-1 merge"
    d1 = {f for f, i in before.items() if i["parts"]["day"] == "2024-01-01"}
    assert d1 and not (d1 & set(after))
    last = t.history()[-1]
    assert last["op"] == "merge"
    assert last["scopes"] == [[["2024-01-01"], 0]]
    got = {r["k"]: r["val"] for r in t.snapshot().collect()}
    assert got[1] == "A2" and got[2] == "b" and got[3] == "c"


def test_partition_disjoint_commits_commute(spark, tmp_path):
    """White-box OCC: a writer racing a commit in the SAME bucket but
    a DIFFERENT partition claims the next version directly (no
    restage); the same (partition, bucket) scope forces the retry."""
    t = _mk(spark, tmp_path, n_buckets=1)
    _seed(spark, t)
    base_v = t.version()
    upd = _df(spark, [(D1, 1, "mine")])
    tb, scopes = t._touched_scopes(upd)
    old = t._old_files(t._replay()[1], set(tb), scopes)
    schema = t._replay_full()[3]
    merged = t._read_files(old, schema).join(
        upd.select("day", "k"), on=["day", "k"], how="left_anti"
    ).unionByName(upd)
    adds = t._stage(merged, schema_json=schema)
    actions = adds + [{"remove": {"file": f}} for f in old]
    # interleave a DISJOINT-partition commit in the same bucket
    t2 = TxTable(spark, str(tmp_path / "ptbl"))
    t2.merge_upsert(_df(spark, [(D2, 3, "theirs")]))
    got = t._occ_commit(base_v, actions, "merge", tb, scopes, set(tb))
    assert got == base_v + 2  # claimed directly past the disjoint commit
    rows = {r["k"]: r["val"] for r in t.snapshot().collect()}
    assert rows[1] == "mine" and rows[3] == "theirs"
    # converse: SAME scope conflicts
    base_v = t.version()
    adds2 = t._stage(merged, schema_json=schema)
    t2.merge_upsert(_df(spark, [(D1, 2, "race")]))
    assert t._occ_commit(
        base_v, adds2, "merge", tb, scopes, set(tb)
    ) is None
    t._discard(adds2)


def test_delete_where_partition_region_is_metadata_only(spark, tmp_path):
    """Every predicate decided by partition values → the files are
    dropped without being read or restaged (the 100 TB retention
    delete); a predicate on a data column rewrites only the
    candidate files."""
    t = _seed(spark, _mk(spark, tmp_path))
    before = set(t._replay()[1])
    t.delete_where(("day", "=", D2))
    after = set(t._replay()[1])
    assert not (after - before), "metadata-only delete staged files"
    assert {r["k"] for r in t.snapshot().collect()} == {1, 2, 5}
    assert t.history()[-1]["op"] == "delete"
    # mixed predicate: data column — rewrite, correctness via rows
    t.delete_where(("val", "=", "a"))
    assert {r["k"] for r in t.snapshot().collect()} == {2, 5}
    # provably-empty region: version unchanged, no commit
    v = t.version()
    assert t.delete_where(("day", "=", D3)) == v


def test_delete_where_refuses_empty_predicates(spark, tmp_path):
    t = _seed(spark, _mk(spark, tmp_path))
    with pytest.raises(ValueError, match="truncate"):
        t.delete_where()


def test_update_where_values_and_constraints(spark, tmp_path):
    """SQL UPDATE semantics (expressions see the pre-update row),
    untouched rows carried through, CHECK constraints re-validated on
    the rewritten files — a violating update must not commit."""
    t = _seed(spark, _mk(spark, tmp_path))
    t.update_where({"val": F.concat(F.col("val"), F.lit("!"))},
                   ("day", "=", D1))
    got = {r["k"]: r["val"] for r in t.snapshot().collect()}
    assert got == {1: "a!", 2: "b!", 3: "c", 4: "d", 5: "e"}
    # feed reports only really-updated rows
    ch = t.table_changes(t.version() - 1)
    assert sorted(
        (r["_change_type"], r["k"]) for r in ch.collect()
    ) == [("update_postimage", 1), ("update_postimage", 2),
          ("update_preimage", 1), ("update_preimage", 2)]
    t.add_constraint("short", "length(val) <= 2")
    v = t.version()
    with pytest.raises(ConstraintViolation):
        t.update_where({"val": "concat(val, 'xxx')"}, ("k", "=", 3))
    assert t.version() == v  # nothing committed
    with pytest.raises(ValueError, match="unknown column"):
        t.update_where({"nope": "1"}, ("k", "=", 3))


def test_replace_where_region_overwrite(spark, tmp_path):
    """Delta replaceWhere: one atomic commit swaps the region for the
    incoming frame; whole-region files drop unread, out-of-region
    incoming rows are rejected before anything stages."""
    t = _seed(spark, _mk(spark, tmp_path))
    before = set(t._replay()[1])
    t.replace_where(
        _df(spark, [(D1, 9, "R")]), ("day", "=", D1),
    )
    after = t._replay()[1]
    # old D1 files dropped without a rewrite of D2/null files
    assert {f for f in before if "day=2024-01-01" in f}.isdisjoint(after)
    assert {f for f in before if "day=2024-01-02" in f} <= set(after)
    got = {r["k"]: r["val"] for r in t.snapshot().collect()}
    assert got == {9: "R", 3: "c", 4: "d", 5: "e"}
    with pytest.raises(ValueError, match="do not satisfy"):
        t.replace_where(_df(spark, [(D2, 8, "X")]), ("day", "=", D1))
    # feed: replacement is delete(old rows) + insert(new row)
    ch = t.table_changes(t.version() - 1)
    assert sorted(
        (r["_change_type"], r["k"]) for r in ch.collect()
    ) == [("delete", 1), ("delete", 2), ("insert", 9)]


def test_replace_where_straddling_file_keeps_outside_rows(
    spark, tmp_path
):
    """A file only PARTLY inside the region (data-column predicate)
    must be rewritten keeping its outside rows."""
    t = _seed(spark, _mk(spark, tmp_path))
    t.replace_where(
        _df(spark, [(D1, 7, "aa")]), ("val", "<", "b"),
    )  # replaces only k=1 ("a"); k=2 ("b") shares its file and stays
    got = {r["k"]: r["val"] for r in t.snapshot().collect()}
    assert got == {7: "aa", 2: "b", 3: "c", 4: "d", 5: "e"}


def test_partitioned_stream_changes_carries_partition_values(
    spark, tmp_path
):
    """The Arrow-side streaming CDC reads raw files, which do NOT
    contain partition columns — values must be rebuilt from the
    path, typed, including nulls, and agree exactly with the batch
    feed."""
    t = _seed(spark, _mk(spark, tmp_path))
    t.merge_upsert(_df(spark, [(D1, 1, "A2")]))
    t.delete_where(("day", "=", D2))
    q = (t.stream_changes().writeStream.format("memory")
         .queryName("pcdc")
         .option("checkpointLocation", str(tmp_path / "ckpt_pcdc"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(
        (tuple(r) for r in spark.sql(
            "select _commit_version, _change_type, day, k, val "
            "from pcdc"
        ).collect()), key=str,
    )
    want = sorted(
        (tuple(r) for r in t.table_changes(0).select(
            "_commit_version", "_change_type", "day", "k", "val"
        ).collect()), key=str,
    )
    assert got == want
    assert any(r[2] == D1 for r in got), "typed partition value lost"
    assert any(r[2] is None and r[3] == 5 for r in got)


def test_partitioned_compact_scopes_to_churned_combo(spark, tmp_path):
    """Compaction groups by (partition, bucket): only combos with
    churn rewrite — the cold partition's file stays live."""
    t = _mk(spark, tmp_path, n_buckets=1)
    t.append(_df(spark, [(D1, 1, "a")]))
    t.append(_df(spark, [(D1, 2, "b")]))  # D1 now 2 files
    t.append(_df(spark, [(D2, 3, "c")]))  # D2: 1 file, cold
    _v, before = t._replay()
    d2_before = {f for f, i in before.items()
                 if i["parts"]["day"] == "2024-01-02"}
    t.compact(min_files=2)
    _v, after = t._replay()
    assert d2_before <= set(after), "cold partition rewritten"
    d1_after = [f for f, i in after.items()
                if i["parts"]["day"] == "2024-01-01"]
    assert len(d1_after) == 1
    assert {r["k"] for r in t.snapshot().collect()} == {1, 2, 3}


def test_time_travel_and_vacuum_on_partitioned_table(spark, tmp_path):
    t = _seed(spark, _mk(spark, tmp_path))
    v1 = t.version()
    t.delete_where(("day", "=", D1))
    old = t.snapshot(version=v1)
    assert old.count() == 5  # pinned snapshot unaffected
    removed = t.vacuum(grace_s=0.0)
    assert removed, "vacuum found nothing under the partition dirs"
    from pypeman_spark.store.txtable import VacuumedVersionError

    with pytest.raises(VacuumedVersionError):
        t.snapshot(version=v1).count()


def test_unpartitioned_tables_record_no_scopes(spark, tmp_path):
    """Zero-behavior-change lock: a plain table's commits must not
    grow a scopes field, and its DML falls back to bucket scoping."""
    t = TxTable(spark, str(tmp_path / "plain"), key_cols=["k"],
                n_buckets=2)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, val string")
    t.append(df)
    t.merge_upsert(spark.createDataFrame([(1, "A")], "k long, val string"))
    t.update_where({"val": "upper(val)"}, ("k", "=", 2))
    t.delete_where(("val", "=", "A"))
    assert all("scopes" not in h for h in t.history())
    assert {r["val"] for r in t.snapshot().collect()} == {"B"}


def test_special_character_partition_values_roundtrip(spark, tmp_path):
    """String partition values with spaces and URL-reserved chars:
    writer encodes, reader and the log's decoded parts must agree."""
    t = TxTable(
        spark, str(tmp_path / "strs"), key_cols=["cat", "k"],
        n_buckets=2, partition_by=["cat"],
    )
    t.append(spark.createDataFrame(
        [("a b/c", 1, "x"), ("plain", 2, "y")],
        "cat string, k long, val string",
    ))
    got = {r["k"]: r["cat"] for r in t.snapshot().collect()}
    assert got == {1: "a b/c", 2: "plain"}
    s = t.scan(("cat", "=", "a b/c"))
    assert {r["k"] for r in s.collect()} == {1}
    assert t.last_scan_info["files_read"] == 1


def test_protocol_versions_partitioned_and_upgrade(spark, tmp_path):
    """Delta minReader/minWriter recipe: partitioned tables are born
    protocol v2; a plain table is v1 until its first predicate
    update/replace, whose commit upgrades it ATOMICALLY (a v1 CDC
    reader would silently skip update/replace commits)."""
    t = _seed(spark, _mk(spark, tmp_path))
    assert t.protocol() == {"min_reader": 2, "min_writer": 2}
    assert t.stats()["protocol"]["min_reader"] == 2
    assert t.stats()["partition_by"] == ["day"]
    assert t.stats()["partitions"] == 3  # D1, D2, null
    plain = TxTable(spark, str(tmp_path / "plain"), key_cols=["k"],
                    n_buckets=2)
    plain.append(spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, val string"))
    assert plain.protocol() == {"min_reader": 1, "min_writer": 1}
    v = plain.update_where({"val": "upper(val)"}, ("k", "=", 1))
    assert plain.protocol() == {"min_reader": 2, "min_writer": 2}
    # the upgrade landed in the SAME commit as the update
    assert plain.protocol(upto=v - 1) == {
        "min_reader": 1, "min_writer": 1,
    }


def test_protocol_future_versions_fail_loudly(spark, tmp_path):
    """A log demanding a newer protocol than this engine must refuse
    both reads and writes with TableProtocolError — never misread."""
    import json as _json

    from pypeman_spark.store.txtable import TableProtocolError

    t = _seed(spark, _mk(spark, tmp_path))
    v = t.version()
    payload = (
        _json.dumps({"protocol": {"min_reader": 99, "min_writer": 99}})
        + "\n"
        + _json.dumps({"commit": {"version": v + 1, "op": "protocol",
                                  "buckets": []}})
        + "\n"
    )
    assert t.logstore.put_if_absent(v + 1, payload)
    with pytest.raises(TableProtocolError, match="reader protocol"):
        t.snapshot()
    with pytest.raises(TableProtocolError):
        t.append(_df(spark, [(D3, 9, "x")]))
    # pinned reads BEFORE the upgrade still work (time travel)
    assert t.snapshot(version=v).count() == 5


def test_protocol_survives_checkpoint(spark, tmp_path):
    """A v2 writer's checkpoint must carry the protocol — replays
    that shortcut through the checkpoint cannot downgrade it."""
    t = _mk(spark, tmp_path, checkpoint_interval=2)
    t.append(_df(spark, [(D1, 1, "a")]))
    t.append(_df(spark, [(D1, 2, "b")]))  # v2 → checkpoint written
    t.append(_df(spark, [(D2, 3, "c")]))
    ck = t.logstore.latest_checkpoint(t.version())
    assert ck is not None and ck[1]["protocol"]["min_reader"] == 2
    assert t.protocol() == {"min_reader": 2, "min_writer": 2}


def test_compact_where_targets_region_only(spark, tmp_path):
    """OPTIMIZE WHERE: a predicate-scoped compaction rewrites only
    the matching region's files — the cold partition's small files
    survive untouched, rows are preserved exactly."""
    t = _mk(spark, tmp_path, n_buckets=1)
    for i in range(3):
        t.append(_df(spark, [(D1, i, f"a{i}")]))
        t.append(_df(spark, [(D2, 100 + i, f"b{i}")]))
    _v, before = t._replay()
    d2_before = {f for f, i in before.items()
                 if i["parts"]["day"] == "2024-01-02"}
    assert len(d2_before) == 3
    t.compact(min_files=2, where=(("day", "=", D1),))
    _v, after = t._replay()
    assert d2_before <= set(after), "cold region rewritten"
    d1_after = [f for f, i in after.items()
                if i["parts"]["day"] == "2024-01-01"]
    assert len(d1_after) == 1
    assert {r["k"] for r in t.snapshot().collect()} == {
        0, 1, 2, 100, 101, 102,
    }


# ----------------------------- concurrent partitioned-DML races --
#
# The partition-scoped OCC commute logic gets the same treatment
# plain merge got in tests/test_txtable.py: genuine cross-process
# races through the conditional-put claim (no Spark in the children —
# the race is pure log protocol), plus full-Spark DML-vs-DML
# interleavings injected at the commit seam.


def _race_scoped_commits(path, writer_id, n_commits, part, barrier):
    """Child process: race partition-scoped commits through
    _occ_commit's claim-else-probe loop. Records every landed version
    and how many times the loop signalled a FULL retry (scope clash
    -> caller must rebuild from a fresh snapshot)."""
    import json
    import os

    from pypeman_spark.store.logstore import FileLogStore

    t = TxTable.__new__(TxTable)
    t.path = path
    t.log_dir = os.path.join(path, "_txlog")
    t.data_dir = os.path.join(path, "data")
    t.checkpoint_interval = 1 << 30
    t.logstore = FileLogStore(t.log_dir)
    barrier.wait()
    landed, retries = [], 0
    for i in range(n_commits):
        while True:
            base_v = t.version()
            fake = (
                f"data/day={part}/bucket=0/w{writer_id}_c{i}.parquet"
            )
            got = t._occ_commit(
                base_v,
                [{"add": {"file": fake, "bucket": 0,
                          "parts": {"day": part}}}],
                "merge", [0], {((part,), 0)}, {0},
            )
            if got is not None:
                landed.append(got)
                break
            retries += 1  # clash: rebuild-from-snapshot signalled
    with open(os.path.join(path, f"scoped_{writer_id}"), "w") as fh:
        json.dump({"landed": landed, "retries": retries}, fh)


def _run_scoped_race(tmp_path, parts):
    import json
    import multiprocessing as mp
    import os

    path = str(tmp_path / "ptbl")
    ctx = mp.get_context("spawn")
    barrier = ctx.Barrier(len(parts))
    procs = [
        ctx.Process(
            target=_race_scoped_commits,
            args=(path, w, 15, part, barrier),
        )
        for w, part in enumerate(parts)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(180)
        assert p.exitcode == 0
    out = []
    for w in range(len(parts)):
        with open(os.path.join(path, f"scoped_{w}")) as fh:
            out.append(json.load(fh))
    return out


def test_cross_process_disjoint_partition_dml_commutes(
    spark, tmp_path
):
    """4 processes racing 15 commits each, every writer in its OWN
    partition of the same bucket: all 60 land, each version claimed
    once, and NO writer is ever told to rebuild from a fresh snapshot
    — partition-disjoint DML commutes at full concurrency."""
    t = _mk(spark, tmp_path, n_buckets=1)
    _seed(spark, t)
    base = t.version()
    res = _run_scoped_race(
        tmp_path, ["2024-03-01", "2024-03-02", "2024-03-03",
                   "2024-03-04"],
    )
    landed = [v for r in res for v in r["landed"]]
    assert len(landed) == 60 and len(set(landed)) == 60
    assert t.version() == base + 60
    assert sum(r["retries"] for r in res) == 0


def test_cross_process_same_partition_dml_serializes(
    spark, tmp_path
):
    """The converse: 3 processes hammering the SAME (partition,
    bucket) scope — every commit still lands exactly once (lossless),
    and the clash path actually fired (writers were sent back to a
    fresh snapshot at least once under real contention)."""
    t = _mk(spark, tmp_path, n_buckets=1)
    _seed(spark, t)
    base = t.version()
    res = _run_scoped_race(
        tmp_path, ["2024-03-01", "2024-03-01", "2024-03-01"],
    )
    landed = [v for r in res for v in r["landed"]]
    assert len(landed) == 45 and len(set(landed)) == 45
    assert t.version() == base + 45
    assert sum(r["retries"] for r in res) > 0


def test_update_where_retries_over_same_partition_replace(
    spark, tmp_path
):
    """Full-Spark DML race at the commit seam: replace_where lands on
    D1 between update_where's snapshot and its commit. Same scope ->
    the update must rebuild from the fresh snapshot and apply over
    the REPLACED rows (retrying with the stale rewrite would resurrect
    the pre-replace region)."""
    t_a = _mk(spark, tmp_path, n_buckets=1)
    _seed(spark, t_a)
    t_b = TxTable(spark, str(tmp_path / "ptbl"))
    real_commit = t_a._commit
    fired = {"n": 0}

    def hooked(expected_version, actions, op, buckets, **kw):
        if op == "update" and fired["n"] == 0:
            fired["n"] += 1
            t_b.replace_where(
                _df(spark, [(D1, 7, "repl7"), (D1, 8, "repl8")]),
                ("day", "=", D1),
            )
        return real_commit(
            expected_version, actions, op, buckets, **kw
        )

    t_a._commit = hooked
    t_a.update_where({"val": "upper(val)"}, ("day", "=", D1))
    rows = {r["k"]: r["val"] for r in t_a.snapshot().collect()}
    # D1 region = B's replacement with A's update over it; D2 + the
    # null-partition row untouched
    assert rows[7] == "REPL7" and rows[8] == "REPL8"
    assert 1 not in rows and 2 not in rows
    assert rows[3] == "c" and rows[4] == "d" and rows[5] == "e"
    assert [h["op"] for h in t_a.history()[-2:]] == [
        "replace", "update",
    ]


def test_update_where_commutes_past_disjoint_partition_merge(
    spark, tmp_path
):
    """Disjoint partitions, full Spark: a D2 merge landing mid-flight
    must NOT force the D1 update to restage — the claim walks past
    the commuting commit (staged exactly once), and both writes are
    visible."""
    t_a = _mk(spark, tmp_path, n_buckets=1)
    _seed(spark, t_a)
    t_b = TxTable(spark, str(tmp_path / "ptbl"))
    real_commit = t_a._commit
    real_stage = t_a._stage
    fired = {"n": 0}
    stages = {"n": 0}

    def hooked_stage(df, **kw):
        stages["n"] += 1
        return real_stage(df, **kw)

    def hooked(expected_version, actions, op, buckets, **kw):
        if op == "update" and fired["n"] == 0:
            fired["n"] += 1
            t_b.merge_upsert(_df(spark, [(D2, 99, "d2new")]))
        return real_commit(
            expected_version, actions, op, buckets, **kw
        )

    t_a._commit = hooked
    t_a._stage = hooked_stage
    t_a.update_where({"val": "upper(val)"}, ("day", "=", D1))
    assert stages["n"] == 1  # no restage: disjoint scopes commute
    rows = {r["k"]: r["val"] for r in t_a.snapshot().collect()}
    assert rows[1] == "A" and rows[2] == "B"
    assert rows[99] == "d2new" and rows[3] == "c"


def test_predicate_dml_txn_idempotence(spark, tmp_path):
    """txn=(app, version) makes every DML op exactly-once under
    foreachBatch re-delivery: the re-applied call is a provable no-op
    (no new commit, no double effect) — delete_where (both modes),
    update_where, replace_where, delete_keys."""
    t = _mk(spark, tmp_path, n_buckets=2)
    _seed(spark, t)
    t.update_where({"val": "upper(val)"}, ("day", "=", D1),
                   txn=("q1", 1))
    v = t.version()
    assert t.update_where({"val": "upper(val) || 'X'"},
                          ("day", "=", D1), txn=("q1", 1)) == v
    assert t.version() == v  # no commit
    rows = {r["k"]: r["val"] for r in t.snapshot().collect()}
    assert rows[1] == "A"  # applied once, second expr never ran

    t.delete_where(("day", "=", D2), txn=("q1", 2))
    v = t.version()
    assert t.delete_where(("day", "=", D2), txn=("q1", 2)) == v
    assert 3 not in {r["k"] for r in t.snapshot().collect()}

    t.replace_where(_df(spark, [(D1, 9, "r")]), ("day", "=", D1),
                    txn=("q1", 3))
    v = t.version()
    assert t.replace_where(_df(spark, [(D1, 10, "r2")]),
                           ("day", "=", D1), txn=("q1", 3)) == v
    assert {r["k"] for r in t.snapshot().collect()} == {9, 5}

    t.delete_keys(spark.createDataFrame([(D1, 9)], "day date, k long"),
                  mode="dv", txn=("q1", 4))
    v = t.version()
    assert t.delete_keys(
        spark.createDataFrame([(5,)], "k long").selectExpr(
            "cast(null as date) day", "k"
        ), txn=("q1", 4),
    ) == v
    assert {r["k"] for r in t.snapshot().collect()} == {5}
    # an older txn version is also a no-op; a NEWER one applies
    assert t.delete_where(("k", "=", 5), txn=("q1", 2)) == v
    t.delete_where(("k", "=", 5), txn=("q1", 5))
    assert t.snapshot().count() == 0
