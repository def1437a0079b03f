"""Cross-feature interactions of the round-11 lakehouse wave:
restore × clone × widen × timestamp travel × metrics composing on one
table must behave exactly like each feature in isolation promises —
these are the seams a single-feature suite never exercises.
"""

import pytest
from pyspark.sql import functions as F

from pypeman_spark.store.txtable import TxTable

pytestmark = pytest.mark.usefixtures("file_log")


def _mk(spark, tmp_path, name="tbl", **kw):
    kw.setdefault("key_cols", ["k"])
    kw.setdefault("n_buckets", 2)
    return TxTable(spark, str(tmp_path / name), **kw)


def test_clone_of_widened_table_reads_narrow_files(spark, tmp_path):
    """Widen, then clone: the clone inherits the WIDE schema and reads
    the borrowed narrow files under it — type promotion and the
    multi-base read compose."""
    src = _mk(spark, tmp_path)
    src.append(spark.createDataFrame(
        [(i, i * 10) for i in range(6)], "k long, v int"
    ))
    src.widen_column("v", "long")
    src.append(spark.createDataFrame([(9, 1 << 40)], "k long, v long"))
    c = src.clone(str(tmp_path / "c"))
    assert dict(c.snapshot().dtypes)["v"] == "bigint"
    got = {r["k"]: r["v"] for r in c.snapshot().collect()}
    assert got == {**{i: i * 10 for i in range(6)}, 9: 1 << 40}
    # schema evolution on the CLONE is independent of the source
    src2 = _mk(spark, tmp_path, name="tbl2")
    src2.append(spark.createDataFrame([(1, 5)], "k long, v int"))
    c2 = src2.clone(str(tmp_path / "c2"))
    c2.widen_column("v", "long")
    assert dict(c2.snapshot().dtypes)["v"] == "bigint"
    assert dict(src2.snapshot().dtypes)["v"] == "int"


def test_restore_on_clone_reverts_to_borrowed_state(spark, tmp_path):
    """Restore on a CLONE rolls back the clone's own commits — the
    re-added files are the borrowed ones, and the source never
    flinches."""
    src = _mk(spark, tmp_path)
    src.append(spark.createDataFrame(
        [(i, f"v{i}") for i in range(8)], "k long, val string"
    ))
    c = src.clone(str(tmp_path / "c"))
    v_clone = c.version()
    c.delete_where(("k", ">=", 4))
    c.merge_upsert(spark.createDataFrame(
        [(0, "CHG")], "k long, val string"
    ))
    assert c.count() == 4
    rv = c.restore(v_clone)
    assert c.count() == 8
    assert sorted(
        (r["k"], r["val"]) for r in c.snapshot().collect()
    ) == [(i, f"v{i}") for i in range(8)]
    assert src.count() == 8
    # the restore commit's feed nets the rollback: deleted rows come
    # back as inserts, the upsert reverts as update pre/post
    feed = {
        r["_change_type"]: r["cnt"]
        for r in c.table_changes(rv - 1, rv)
        .groupBy("_change_type").agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert feed == {
        "insert": 4, "update_preimage": 1, "update_postimage": 1,
    }


def test_timestamp_travel_across_restore(spark, tmp_path):
    """Commit times stay monotonic THROUGH a restore (the restore is
    just a newer commit), so timestamps before and after it resolve
    unambiguously — including to the restore commit itself."""
    t = _mk(spark, tmp_path)
    v1 = t.append(spark.createDataFrame(
        [(1, "a")], "k long, val string"
    ))
    t.append(spark.createDataFrame([(2, "b")], "k long, val string"))
    rv = t.restore(v1)
    times = {i["version"]: i["ts"] for i in t.history()}
    assert t.version_at(times[rv]) == rv
    assert t.snapshot(timestamp=times[rv]).count() == 1
    # a timestamp between the append and the restore still sees the
    # 2-row state — restore does not rewrite history, it appends
    assert t.version_at(times[2]) == 2
    assert t.snapshot(timestamp=times[2]).count() == 2


def test_metrics_on_dv_and_clone_commits(spark, tmp_path):
    src = _mk(spark, tmp_path, n_buckets=1)
    src.append(spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "k long, val string"
    ))
    src.update_where({"val": "upper(val)"}, ("k", "<", 3), mode="dv")
    m = src.history()[-1]["metrics"]
    # merge-on-read update: dead positions + post-image adds
    assert m["num_deletion_vectors"] == 1 and m["dv_positions"] == 3
    assert m["num_added_files"] == 1 and m["added_rows"] == 3
    c = src.clone(str(tmp_path / "c"))
    cm = c.history()[-1]["metrics"]
    # two borrowed files: the original (dv-vectored) + the dv
    # update's post-image add
    assert cm["num_added_files"] == 2
    assert cm["added_rows"] == 13  # footer rows verbatim (10 + 3)
    assert c.count() == 10  # the embedded vector nets them out


def test_widen_then_dv_delete_and_cdc(spark, tmp_path):
    """dv machinery on a widened column: positions computed reading
    narrow files under the wide schema, CDC postimages typed wide."""
    t = _mk(spark, tmp_path, n_buckets=1)
    t.append(spark.createDataFrame(
        [(i, i * 10) for i in range(8)], "k long, v int"
    ))
    t.widen_column("v", "long")
    t.delete_where(("v", ">=", 50), mode="dv")
    assert t.count() == 5
    feed = t.table_changes(0)
    assert dict(feed.dtypes)["v"] == "bigint"
    dels = sorted(
        r["k"] for r in feed.filter("_change_type = 'delete'").collect()
    )
    assert dels == [5, 6, 7]
