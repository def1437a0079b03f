"""Regression tests pinning the exact round-6 ADVICE failure modes.

Each test reproduces the precise input the advisor showed would have
gone wrong under the pre-fix code, so a future refactor that
reintroduces the hazard fails here rather than in a downstream gate:

- leakage_safe_splits: float cumulative boundaries put hash bucket
  899999 in the wrong split for weights 0.7/0.2/0.1
  (0.7 + 0.2 == 0.8999999999999999 -> int() truncates to 899999).
- quality uniqueness keys: the old string encoding aliased tuples
  whose values contain the delimiter sequence.
- cohort_retention: seconds/604800 arithmetic under a DST timezone
  merged the week after spring-forward into the cohort week.
- _nanos_ts_columns: inspecting only parts[0]'s footer missed
  timestamp[ns] columns present only in later parts of a directory
  layout, and the lru_cache served stale schemas after a rewrite.
"""

import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F


def _py_bucket(value: str, salt: str = "split") -> int:
    """Pure-Python twin of sampling.hash_bucket for test oracles."""
    h = hashlib.md5(f"{salt}:{value}".encode()).hexdigest()
    return int(h[:8], 16) % 1_000_000


def _id_with_bucket(target: int, salt: str = "split") -> str:
    for i in range(5_000_000):
        cand = f"c{i}"
        if _py_bucket(cand, salt) == target:
            return cand
    raise AssertionError(f"no id found for bucket {target}")


def test_splits_integer_boundaries_bucket_899999(spark):
    """Weights 0.7/0.2/0.1: bucket 899999 belongs to 'val' (boundary
    900000 exactly). The pre-fix float cumsum computed the val/test
    boundary as 899999, sending this bucket to 'test'."""
    from pypeman_spark.functions.sampling import leakage_safe_splits

    edge_id = _id_with_bucket(899_999)
    below_id = _id_with_bucket(699_999)   # last 'train' bucket
    first_val = _id_with_bucket(700_000)  # first 'val' bucket
    first_test = _id_with_bucket(900_000)
    df = spark.createDataFrame(
        [(edge_id,), (below_id,), (first_val,), (first_test,)],
        "cluster_id string",
    )
    got = {
        r["cluster_id"]: r["split"]
        for r in leakage_safe_splits(
            df, "cluster_id", {"train": 0.7, "val": 0.2, "test": 0.1}
        ).collect()
    }
    assert got[edge_id] == "val"
    assert got[below_id] == "train"
    assert got[first_val] == "val"
    assert got[first_test] == "test"


def test_unique_key_delimiter_values_do_not_alias(spark):
    """('a\\x00\\x01Vb','c') and ('a','b\\x00\\x01Vc') are distinct
    tuples; the old string-encoded key collapsed them into one."""
    from pypeman_spark.functions import quality as Q

    df = spark.createDataFrame(
        [("a\x00\x01Vb", "c"), ("a", "b\x00\x01Vc")], "x string, y string"
    )
    report = {
        r["rule"]: r["n_violations"]
        for r in Q.check(df, {}, unique=[("x", "y")]).collect()
    }
    assert report["unique(x,y)"] == 0

    flagged = Q.flag_violations(df, {}, unique=[("x", "y")]).collect()
    assert all(not r["violations"] for r in flagged)

    # true duplicates (including NULL-bearing tuples) still count
    df2 = spark.createDataFrame(
        [("a", None), ("a", None), ("b", "c")], "x string, y string"
    )
    report2 = {
        r["rule"]: r["n_violations"]
        for r in Q.check(df2, {}, unique=[("x", "y")]).collect()
    }
    assert report2["unique(x,y)"] == 1


def test_cohort_retention_dst_spring_forward(spark):
    """Under America/New_York, the week starting 2021-03-15 is 601200 s
    after the 2021-03-08 cohort week (spring-forward 2021-03-14).
    Seconds/604800 truncation yielded offset 0, merging the two weeks;
    the datediff form must report offset 1."""
    from pypeman_spark.functions.stats import cohort_retention

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = spark.createDataFrame(
            [("u1", "2021-03-08 12:00:00"), ("u1", "2021-03-15 12:00:00")],
            "user_id string, ts_s string",
        ).select("user_id", F.to_timestamp("ts_s").alias("ts"))
        rows = {
            (str(r["cohort_week"]), r["week_offset"]): r["n_users"]
            for r in cohort_retention(df, "user_id", "ts").collect()
        }
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
    assert rows == {
        ("2021-03-08", 0): 1,
        ("2021-03-08", 1): 1,
    }


def test_nanos_columns_unified_over_all_parts(tmp_path):
    """A directory layout whose timestamp[ns] column appears only in a
    later part must still be detected, and clear_metadata_caches()
    must drop the footer cache after an in-process rewrite."""
    from pypeman_spark.sources.tables import (
        _nanos_ts_columns,
        clear_metadata_caches,
    )

    d = str(tmp_path / "t.parquet")
    os.makedirs(d)
    pq.write_table(
        pa.table({"id": pa.array([1, 2], pa.int64())}),
        os.path.join(d, "part-000.parquet"),
    )
    clear_metadata_caches()
    assert _nanos_ts_columns(d) == ()

    # rewrite in-process: add a part carrying an int64-nanos column
    pq.write_table(
        pa.table(
            {
                "id": pa.array([3], pa.int64()),
                "ts": pa.array([1_700_000_000_000_000_000], pa.timestamp("ns")),
            }
        ),
        os.path.join(d, "part-001.parquet"),
    )
    # stale without the cache clear...
    assert _nanos_ts_columns(d) == ()
    clear_metadata_caches()
    # ...and unified over EVERY part after it
    assert _nanos_ts_columns(d) == ("ts",)


# ---- round-7 ADVICE pins ---------------------------------------------------


def test_bpe_merge_with_dollar_and_backslash(spark):
    """A merge whose winning pair concatenates to '$1' (or contains a
    backslash) must not crash regexp_replace with Java group-reference
    semantics (pre-fix: INVALID_REGEXP_REPLACE kills the whole job)."""
    from pypeman_spark.functions.bpe import apply_merges, train_bpe

    df = spark.createDataFrame(
        [(r"$1 $1 $1 $1",), (r"a\b a\b a\b",)], "text string"
    )
    merges = train_bpe(df, num_merges=6)
    assert ("$", "1") in merges
    ranks = {p: i for i, p in enumerate(merges)}
    toks = apply_merges("$1", ranks)
    assert toks[0].startswith("$1")


def test_rollup_marker_scoped_to_query_identity(tmp_path, spark):
    """A FRESH query (batch ids restarting at 0) pointed at an existing
    rollup store must merge, not be skipped by the previous query's
    marker; the SAME query re-delivering an old batch_id stays a no-op."""
    from pypeman_spark.streaming.rollup import ContinuousRollup

    path = str(tmp_path / "agg")
    df1 = spark.createDataFrame(
        [("2024-01-01 10:05:00", "a", 1.0)],
        "ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    r1 = ContinuousRollup(spark, path)
    r1._query_token = "query-one"
    r1.merge_batch(df1, batch_id=5)
    n0 = r1.read().agg(F.sum("n")).collect()[0][0]
    assert n0 == 1

    # same query re-delivers batch 5 -> no-op (exactly-once replay)
    r1.merge_batch(df1, batch_id=5)
    assert r1.read().agg(F.sum("n")).collect()[0][0] == 1

    # fresh query, batch ids restart at 0 -> MUST merge (pre-fix: lost)
    r2 = ContinuousRollup(spark, path)
    r2._query_token = "query-two"
    r2.merge_batch(df1, batch_id=0)
    assert r2.read().agg(F.sum("n")).collect()[0][0] == 2


def test_ship_package_refreshes_foreign_zip(spark):
    """A pre-planted zip at the predictable cache path must never be
    shipped as-is: _ship_package re-verifies content against the source
    tree and rewrites on mismatch (and the cache dir is private 0700)."""
    import tempfile
    import zipfile

    from pypeman_spark.session import _ship_package

    import hashlib

    import pypeman_spark

    _ship_package(spark)  # creates/validates the genuine zip
    cache_dir = os.path.join(
        tempfile.gettempdir(), f"pypeman_spark_pyfiles_{os.getuid()}"
    )
    assert os.stat(cache_dir).st_mode & 0o077 == 0
    # the cache dir persists across sessions, so stale zips from an
    # older source tree may coexist — compute the hash-named path the
    # CURRENT tree ships (same derivation as _ship_package) instead of
    # grabbing an arbitrary directory entry
    pkg_dir = os.path.dirname(os.path.abspath(pypeman_spark.__file__))
    sources = sorted(
        os.path.join(dp, f)
        for dp, _dn, fns in os.walk(pkg_dir)
        for f in fns
        if f.endswith(".py")
    )
    h = hashlib.md5()
    for src in sources:
        h.update(src.encode())
        with open(src, "rb") as fh:
            h.update(fh.read())
    zpath = os.path.join(cache_dir, f"pypeman_spark_{h.hexdigest()[:12]}.zip")
    assert os.path.exists(zpath)
    with zipfile.ZipFile(zpath, "w") as zf:  # attacker's planted zip
        zf.writestr("pypeman_spark/evil.py", "print('pwned')")
    _ship_package(spark)
    with zipfile.ZipFile(zpath) as zf:
        names = zf.namelist()
    assert "pypeman_spark/evil.py" not in names
    assert any(n.endswith("session.py") for n in names)


def test_mp4_picks_video_trak_behind_audio_trak():
    """An MP4 whose audio trak precedes the video trak must yield the
    VIDEO sample table (pre-fix: the first trak won regardless of
    handler, emitting audio chunks as 'frames')."""
    import struct

    from pypeman_spark.functions.multimodal import (
        _encode_mp4,
        _find_box,
        _mp4_box,
        _parse_mp4,
    )

    frames = [b"frame-one", b"frame-two!", b"frame-three"]
    video = _encode_mp4(frames, fps=10, timescale=90000)
    ts_v, samples_v = _parse_mp4(video)

    moov_s, moov_e = _find_box(video, [b"moov"], 0, len(video))
    trak_s, trak_e = _find_box(video, [b"trak"], moov_s, moov_e)
    trak_full = video[trak_s - 8 : trak_e]  # include box header
    # forge an audio trak: handler 'soun', different mdhd timescale
    audio = trak_full.replace(b"vide", b"soun")
    audio = audio.replace(struct.pack(">I", 90000), struct.pack(">I", 44100))
    mvhd_s, mvhd_e = _find_box(video, [b"mvhd"], moov_s, moov_e)
    mvhd_full = video[mvhd_s - 8 : mvhd_e]
    new_moov = _mp4_box(b"moov", mvhd_full + audio + trak_full)
    # moov is the trailing box, so mdat offsets are unchanged
    patched = video[: moov_s - 8] + new_moov

    ts_p, samples_p = _parse_mp4(patched)
    assert ts_p == ts_v == 90000
    assert samples_p == samples_v
