"""TIMESTAMP AS OF (store/txtable.py ``version_at`` /
``snapshot(timestamp=)`` / ``restore(timestamp=)`` /
``table_changes(starting_timestamp=)`` / ``stream_changes(
starting_timestamp=)``): timestamps resolve against MONOTONICIZED
commit times (each commit's wall-clock ts clamped to the running
maximum — the Delta in-commit-timestamp adjustment), so resolution is
deterministic under writer clock skew; out-of-range timestamps fail
loudly in both directions; truncated entries refuse to answer.

Reference basis: Delta Lake time travel (Armbrust et al., VLDB 2020
§4.3; delta.io TIMESTAMP AS OF semantics).
"""

import datetime
import types

import pytest

import pypeman_spark.store.txtable as txmod
from pypeman_spark.store.txtable import (
    LogTruncatedError,
    TxTable,
    _as_epoch,
)

pytestmark = pytest.mark.usefixtures("file_log")


def _mk(spark, tmp_path, **kw):
    kw.setdefault("key_cols", ["k"])
    kw.setdefault("n_buckets", 2)
    return TxTable(spark, str(tmp_path / "tbl"), **kw)


def _df(spark, pairs):
    return spark.createDataFrame(list(pairs), "k long, val string")


def _ts_of(t, version):
    return dict((i["version"], i["ts"]) for i in t.history())[version]


def test_as_epoch_forms():
    assert _as_epoch(12.5) == 12.5
    assert _as_epoch(7) == 7.0
    assert _as_epoch("1786800000.25") == 1786800000.25
    utc = datetime.timezone.utc
    dt = datetime.datetime(2026, 8, 16, 1, 2, 3, tzinfo=utc)
    assert _as_epoch(dt) == dt.timestamp()
    # naive datetimes and ISO strings are UTC (the epoch clock
    # commits record), never the host zone
    assert _as_epoch(datetime.datetime(2026, 8, 16, 1, 2, 3)) == (
        dt.timestamp()
    )
    assert _as_epoch("2026-08-16T01:02:03") == dt.timestamp()
    assert _as_epoch(datetime.date(2026, 8, 16)) == (
        datetime.datetime(2026, 8, 16, tzinfo=utc).timestamp()
    )
    with pytest.raises(TypeError):
        _as_epoch([1, 2])


def test_version_at_resolution_and_bounds(spark, tmp_path):
    t = _mk(spark, tmp_path)
    v1 = t.append(_df(spark, [(1, "a")]))
    v2 = t.append(_df(spark, [(2, "b")]))
    v3 = t.delete_where(("k", "=", 1))
    ts1, ts2, ts3 = (_ts_of(t, v) for v in (v1, v2, v3))
    assert t.version_at(ts1) == v1  # exact hit: that version
    assert t.version_at((ts1 + ts2) / 2) == v1  # between: the earlier
    assert t.version_at(ts2) == v2
    assert t.version_at(ts3) == v3
    with pytest.raises(ValueError, match="after the latest"):
        t.version_at(ts3 + 3600)
    with pytest.raises(ValueError, match="first commit"):
        t.version_at(ts1 - 3600)


def test_snapshot_and_restore_by_timestamp(spark, tmp_path):
    t = _mk(spark, tmp_path)
    v1 = t.append(_df(spark, [(1, "a"), (2, "b")]))
    t.delete_where(("k", "=", 2))
    ts1 = _ts_of(t, v1)
    assert sorted(
        r["k"] for r in t.snapshot(timestamp=ts1).collect()
    ) == [1, 2]
    with pytest.raises(ValueError, match="not both"):
        t.snapshot(version=v1, timestamp=ts1)
    t.restore(timestamp=ts1)
    assert t.count() == 2
    with pytest.raises(ValueError, match="version or a timestamp"):
        t.restore()
    with pytest.raises(ValueError, match="not both"):
        t.restore(version=v1, timestamp=ts1)


def test_table_changes_starting_timestamp_inclusive(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(_df(spark, [(1, "a")]))
    v2 = t.append(_df(spark, [(2, "b")]))
    v3 = t.append(_df(spark, [(3, "c")]))
    ts2, ts3 = _ts_of(t, v2), _ts_of(t, v3)
    # exactly at v2's time: v2 INCLUDED (inclusive bound)
    assert sorted(
        r["k"] for r in
        t.table_changes(starting_timestamp=ts2).collect()
    ) == [2, 3]
    # just past it: v2 out, v3 in
    assert sorted(
        r["k"] for r in t.table_changes(
            starting_timestamp=(ts2 + ts3) / 2
        ).collect()
    ) == [3]
    # past the head: empty feed, not an error
    assert t.table_changes(
        starting_timestamp=ts3 + 3600
    ).count() == 0
    # predating everything: the whole feed
    assert t.table_changes(
        starting_timestamp=ts2 - 3600
    ).count() == 3
    with pytest.raises(ValueError, match="not both"):
        t.table_changes(0, starting_timestamp=ts2)


def test_stream_changes_starting_timestamp(spark, tmp_path):
    import uuid

    t = _mk(spark, tmp_path)
    t.append(_df(spark, [(1, "a")]))
    v2 = t.append(_df(spark, [(2, "b")]))
    t.append(_df(spark, [(3, "c")]))
    ts2 = _ts_of(t, v2)
    sink = f"tt_{uuid.uuid4().hex[:10]}"
    q = (
        t.stream_changes(starting_timestamp=ts2)
        .writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    assert sorted(
        r["k"] for r in spark.table(sink).collect()
    ) == [2, 3]
    with pytest.raises(ValueError, match="not both"):
        t.stream_changes(starting_version=0, starting_timestamp=ts2)


def test_clock_skew_monotonicized(spark, tmp_path):
    """A writer whose wall clock regressed mid-history must not make
    time travel ambiguous: effective commit times are clamped to the
    running maximum, so ordering always matches version order."""
    t = _mk(spark, tmp_path)
    v1 = t.append(_df(spark, [(1, "a")]))
    ts1 = _ts_of(t, v1)
    real_time = txmod.time
    skewed = types.SimpleNamespace(
        time=lambda: ts1 - 50.0, sleep=real_time.sleep,
    )
    txmod.time = skewed
    try:
        v2 = t.append(_df(spark, [(2, "b")]))
    finally:
        txmod.time = real_time
    v3 = t.append(_df(spark, [(3, "c")]))
    raw = {i["version"]: i["ts"] for i in t.history()}
    assert raw[v2] < raw[v1]  # the skew really happened
    times = dict(t._commit_times())
    assert times[v2] == times[v1]  # clamped, never regressing
    # resolution: v1's timestamp covers BOTH v1 and the skewed v2 —
    # the later version wins (latest state at that effective time)
    assert t.version_at(ts1) == v2
    assert t.version_at(times[v3]) == v3
    assert sorted(
        r["k"] for r in t.snapshot(timestamp=ts1).collect()
    ) == [1, 2]


def test_timestamp_below_truncation_floor_refuses(spark, tmp_path):
    t = _mk(spark, tmp_path, checkpoint_interval=3)
    for i in range(10):
        t.append(_df(spark, [(i, f"v{i}")]))
    ts_mid = _ts_of(t, 5)
    t.truncate_log()  # floor = 9; entries 1..8 dropped
    # the create entry (v0) survives, so a mid-history timestamp is
    # above the earliest SURVIVING time — the floor check must still
    # refuse rather than resolve against a log with a hole
    with pytest.raises(LogTruncatedError):
        t.table_changes(starting_timestamp=ts_mid)
    with pytest.raises(LogTruncatedError):
        t.version_at(ts_mid)


def test_timestamp_before_table_birth_is_valueerror_after_truncation(
    spark, tmp_path
):
    """A timestamp before the table EXISTED predates the table, full
    stop — truncation cannot change that answer, because the create
    entry (v0) always survives and its time is the true first commit.
    LogTruncatedError is reserved for timestamps inside the dropped
    (v0, floor) range, where the answer genuinely went missing."""
    t = _mk(spark, tmp_path, checkpoint_interval=3)
    for i in range(10):
        t.append(_df(spark, [(i, f"v{i}")]))
    t.truncate_log()  # floor > 0
    from pypeman_spark.store.txtable import _log_floor

    assert _log_floor(t.logstore) > 0
    birth = t._commit_times()[0]
    assert birth[0] == 0  # v0 survived
    with pytest.raises(ValueError, match="first commit"):
        t.version_at(birth[1] - 10.0)


def test_version_at_skips_truncation_resolvable_range(spark, tmp_path):
    """Timestamps in the SURVIVING range keep resolving after a
    truncation."""
    t = _mk(spark, tmp_path, checkpoint_interval=3)
    for i in range(10):
        t.append(_df(spark, [(i, f"v{i}")]))
    ts_head = _ts_of(t, 10)
    t.truncate_log()
    assert t.version_at(ts_head) == 10
    assert t.snapshot(timestamp=ts_head).count() == 10
