"""Per-commit operation metrics (store/txtable.py ``_commit``): every
commit info carries Delta-history-style ``metrics`` derived from the
commit's own actions — zero extra IO — so ``history()`` answers "what
did this commit cost" (files added/removed, bytes, rows, dv
positions) without touching a data file.

Reference basis: Delta Lake history operationMetrics (delta.io).
"""

import pytest

from pypeman_spark.store.txtable import TxTable

pytestmark = pytest.mark.usefixtures("file_log")


def _mk(spark, tmp_path, **kw):
    kw.setdefault("key_cols", ["k"])
    kw.setdefault("n_buckets", 2)
    return TxTable(spark, str(tmp_path / "tbl"), **kw)


def _df(spark, pairs):
    return spark.createDataFrame(list(pairs), "k long, val string")


def test_history_carries_operation_metrics(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(_df(spark, [(i, f"v{i}") for i in range(10)]))
    t.delete_where(("k", ">=", 8), mode="dv")
    t.delete_where(("k", "=", 0))
    by_op = {h["op"]: h["metrics"] for h in t.history()}
    ap = by_op["append"]
    assert ap["num_added_files"] == 2  # one per bucket
    assert ap["num_removed_files"] == 0
    assert ap["added_rows"] == 10
    assert ap["added_bytes"] > 0
    # both delete shapes are visible: the dv one published vectors
    # and staged nothing, the rewrite one staged kept-rows files
    deletes = [
        h["metrics"] for h in t.history() if h["op"] == "delete"
    ]
    dv = next(m for m in deletes if "num_deletion_vectors" in m)
    assert dv["num_added_files"] == 0
    assert dv["dv_positions"] == 2
    rw = next(m for m in deletes if "num_deletion_vectors" not in m)
    assert rw["num_removed_files"] >= 1
    assert rw["num_added_files"] >= 1


def test_metrics_on_restore_and_compact(spark, tmp_path):
    t = _mk(spark, tmp_path, n_buckets=1)
    v1 = t.append(_df(spark, [(i, f"v{i}") for i in range(6)]))
    t.append(_df(spark, [(i, f"v{i}") for i in range(6, 12)]))
    t.compact(min_files=2)
    cm = t.history()[-1]["metrics"]
    assert cm["num_added_files"] == 1 and cm["num_removed_files"] == 2
    assert cm["added_rows"] == 12
    t.restore(v1)
    rm = t.history()[-1]["metrics"]
    # restore re-adds v1's file and removes the compacted output +
    # the second append's file — all metadata, but the metrics say
    # exactly how much state churned
    assert rm["num_added_files"] == 1 and rm["num_removed_files"] == 1
    assert rm["added_rows"] == 6
