"""Type widening (store/txtable.py ``widen_column``): lossless type
promotions without rewriting data — the schema action records the
wide type and every reader reads old narrow files under it (Spark 4's
parquet reader performs the int-ladder / float→double / int→double
promotions natively; the streaming CDC reader casts per-file in
Arrow). Key columns are unwidenable: the bucket hash is
type-sensitive.

Reference basis: Delta Lake type widening (delta.io typeWidening
table feature).
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType

from pypeman_spark.store.txtable import TxTable, _WIDENS

pytestmark = pytest.mark.usefixtures("file_log")


def _mk(spark, tmp_path, **kw):
    kw.setdefault("key_cols", ["k"])
    kw.setdefault("n_buckets", 2)
    return TxTable(spark, str(tmp_path / "tbl"), **kw)


def test_every_listed_promotion_reads_old_files(spark, tmp_path):
    """One narrow file per promotion, widen, read back: every pair in
    the lattice must actually be supported by the parquet reader —
    this test IS the probe that keeps _WIDENS honest."""
    for i, (frm, tos) in enumerate(sorted(_WIDENS.items())):
        for j, to in enumerate(sorted(tos)):
            t = TxTable(
                spark, str(tmp_path / f"t{i}_{j}"), key_cols=["k"],
                n_buckets=1,
            )
            vals = (
                [(1, 42.0), (2, 7.0)] if frm == "float"
                else [(1, 42), (2, 7)]
            )
            t.append(spark.createDataFrame(
                vals, f"k long, v {frm}"
            ))
            t.widen_column("v", to)
            got = {r["k"]: r["v"] for r in t.snapshot().collect()}
            assert got == {1: 42, 2: 7}
            simple = {"byte": "tinyint", "short": "smallint",
                      "integer": "int", "long": "bigint"}
            assert dict(t.snapshot().dtypes)["v"] == simple.get(to, to)


def test_widen_then_mixed_files_and_scan(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(spark.createDataFrame(
        [(i, i * 10) for i in range(5)], "k long, v int"
    ))
    t.widen_column("v", "long")
    # post-widen appends may carry the wide type...
    t.append(spark.createDataFrame(
        [(10, 1 << 40)], "k long, v long"
    ))
    # ...or still the narrow one (old writers keep working: the
    # narrow bytes read fine under the wide log schema)
    t.append(spark.createDataFrame([(11, 99)], "k long, v int"))
    got = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert got == {**{i: i * 10 for i in range(5)}, 10: 1 << 40, 11: 99}
    assert dict(t.snapshot().dtypes)["v"] == "bigint"
    # stats pruning stays correct across narrow and wide files
    assert {r["k"] for r in t.scan(("v", ">=", 1 << 39)).collect()} == {10}
    assert t.count() == 7
    # CDC reads every contributing version under the ONE wide schema
    feed = t.table_changes(0)
    assert feed.count() == 7
    assert dict(feed.dtypes)["v"] == "bigint"


def test_widen_float_to_double_and_cdc_stream(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(spark.createDataFrame(
        [(1, 1.5), (2, 2.25)], "k long, v float"
    ))
    t.widen_column("v", DoubleType())
    t.append(spark.createDataFrame([(3, 3.125)], "k long, v double"))
    q = (t.stream_changes().writeStream.format("memory")
         .queryName("widen_cdc")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["k"]: r["v"] for r in spark.table("widen_cdc").collect()}
    assert got == {1: 1.5, 2: 2.25, 3: 3.125}  # float32-exact values


def test_widen_guards(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(spark.createDataFrame([(1, 5)], "k long, v int"))
    with pytest.raises(ValueError, match="key column"):
        t.widen_column("k", "long")
    with pytest.raises(ValueError, match="no such column"):
        t.widen_column("nope", "long")
    with pytest.raises(ValueError, match="not a supported"):
        t.widen_column("v", "float")  # int -> float is lossy
    with pytest.raises(ValueError, match="unknown type"):
        t.widen_column("v", "decimal(10,2)")
    t.add_constraint("v_pos", "v > 0")
    with pytest.raises(ValueError):
        t.widen_column("v", "long")  # constraint references it
    t.drop_constraint("v_pos")
    v = t.widen_column("v", LongType())
    assert t.widen_column("v", "long") == v  # idempotent no-op
    # appending a WIDER column without widening stays an error, now
    # with the remediation in the message
    t2 = TxTable(spark, str(tmp_path / "tbl2"), key_cols=["k"],
                 n_buckets=2)
    t2.append(spark.createDataFrame([(1, 5)], "k long, v int"))
    with pytest.raises(ValueError, match="widen_column"):
        t2.append(spark.createDataFrame(
            [(2, 1 << 40)], "k long, v long"
        ))


def test_widen_time_travel_and_restore(spark, tmp_path):
    t = _mk(spark, tmp_path)
    v1 = t.append(spark.createDataFrame([(1, 5)], "k long, v int"))
    t.widen_column("v", "long")
    assert dict(t.snapshot().dtypes)["v"] == "bigint"
    # below the widen, the narrow type still shows
    assert dict(t.snapshot(version=v1).dtypes)["v"] == "int"
    # and restore reverts the widen with everything else
    t.restore(v1)
    assert dict(t.snapshot().dtypes)["v"] == "int"
