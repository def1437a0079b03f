"""Round-2 operators: range join, sequence packing, passage dedup,
text scrubbing, session windows, streaming dedup."""

import datetime as dt

from pyspark.sql import functions as F

from pypeman_spark.functions import dedup as D
from pypeman_spark.functions import text as TX
from pypeman_spark.functions.joins import range_join
from pypeman_spark.functions.packing import greedy_pack
from pypeman_spark.streaming.stateful import session_window_counts, stream_dedup

BASE = dt.datetime(2026, 1, 1, 10, 0, 0)


def _m(minutes=0, seconds=0):
    return BASE + dt.timedelta(minutes=minutes, seconds=seconds)


def test_range_join_boundaries(spark):
    # hi is exclusive, lo inclusive; out-of-range points never appear
    iv = spark.createDataFrame(
        [(1, _m(0), _m(10))], "win_id long, lo timestamp, hi timestamp"
    )
    pts = spark.createDataFrame(
        [(0, _m(0)), (1, _m(3)), (2, _m(10)), (3, _m(-1))],
        "pid long, ts timestamp",
    )
    got = {
        r["pid"]
        for r in range_join(pts, iv, "ts", "lo", "hi", bucket_seconds=60).collect()
    }
    assert got == {0, 1}


def test_range_join_matches_theta_join(spark, sf_dir):
    from pypeman_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    iv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("win_id"),
        F.col("ts").alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 15 MINUTES")).alias("hi"),
    )
    pts = ev.filter(F.col("event_type") == "view").select("event_id", "ts")
    fast = range_join(pts, iv, "ts", "lo", "hi", bucket_seconds=900)
    slow = pts.join(
        iv, (pts["ts"] >= iv["lo"]) & (pts["ts"] < iv["hi"]), "inner"
    )
    assert fast.count() == slow.count()


def test_range_join_plan_is_equi_join(spark, sf_dir):
    from pypeman_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    iv = ev.limit(50).select(
        F.col("event_id").alias("win_id"),
        F.col("ts").alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 15 MINUTES")).alias("hi"),
    )
    plan = (
        range_join(ev.select("ts"), iv, "ts", "lo", "hi")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_greedy_pack_respects_budget_and_order(spark):
    rows = [(i, 0, tok) for i, tok in enumerate([50, 50, 50, 120, 10, 200, 30])]
    df = spark.createDataFrame(rows, "doc_id long, shard long, toks long")
    out = {
        r["doc_id"]: r["pack_id"]
        for r in greedy_pack(
            df, "toks", 128, order_col="doc_id", shard_col="shard"
        ).collect()
    }
    # 50+50=100 fits; +50 overflows -> pack 1 gets 50+120? no: 50 fits,
    # 120 overflows -> greedy walk: [50,50] [50] ... wait budget 128:
    # d0=50,d1=50 (100), d2 would make 150 -> pack1: d2=50, d3 would make
    # 170 -> pack2: d3=120, d4 10 makes 130 -> pack3: d4=10? 120+10=130 >
    # 128 -> pack3: d4=10, d5=200 overflows -> pack4: d5=200 (oversized,
    # own pack), d6=30 -> pack5
    assert out == {0: 0, 1: 0, 2: 1, 3: 2, 4: 3, 5: 4, 6: 5}


def test_greedy_pack_shards_are_independent(spark):
    rows = [(i, i % 2, 100) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, shard long, toks long")
    out = greedy_pack(df, "toks", 250, order_col="doc_id", shard_col="shard")
    per_shard = (
        out.groupBy("shard").agg(F.max("pack_id").alias("mx")).collect()
    )
    assert {r["mx"] for r in per_shard} == {1}  # 3 docs of 100 -> packs [2,1]


def test_scrub_pii_order_urls_first(spark):
    df = spark.createDataFrame(
        [(0, "x https://a.b/c?d=e@f.com y ok@ex.org z")], "i long, t string"
    )
    got = df.select(TX.scrub_pii(F.col("t")).alias("s")).first()["s"]
    # the email-shaped substring inside the URL is consumed by <URL>
    assert got == "x <URL> y <EMAIL> z"


def test_word_repetition_ratio(spark):
    df = spark.createDataFrame([(0, "a a a b")], "i long, t string")
    assert df.select(
        TX.word_repetition_ratio(F.col("t")).alias("r")
    ).first()["r"] == 0.5


def test_duplicate_passages_cross_and_within_doc(spark):
    eight = "w1 w2 w3 w4 w5 w6 w7 w8"
    df = spark.createDataFrame(
        [(0, eight + " " + "x1 x2 x3 " + eight), (1, eight)],
        "doc_id long, text string",
    )
    # stride 4 lands a window exactly on both copies in doc0 + doc1's copy
    rows = D.duplicate_passages(df, words=8, stride=1).collect()
    top = max(rows, key=lambda r: r["n_occ"])
    assert top["n_occ"] == 3 and top["n_docs"] == 2


def test_session_window_merges_boundary_gap(spark):
    rows = [(1, _m(0)), (1, _m(5)), (1, _m(20)), (2, _m(0))]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = session_window_counts(df, "user_id", "ts", "5 minutes").collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r["n"])
    # events exactly gap apart merge; the 20-min event starts a new session
    assert sorted(by_user[1]) == [1, 2] and by_user[2] == [1]


def test_asof_join_strict_and_tolerance(spark):
    from pypeman_spark.functions.joins import asof_join

    left = spark.createDataFrame(
        [(1, _m(10), "L1"), (1, _m(5), "L2"), (2, _m(1), "L3")],
        "k long, lts timestamp, lid string",
    )
    right = spark.createDataFrame(
        [(1, _m(5), 100), (1, _m(9), 200), (2, _m(1), 300)],
        "k long, rts timestamp, price long",
    )
    strict = {
        r["lid"]: r["asof_price"]
        for r in asof_join(left, right, "k", "lts", "rts", ["price"]).collect()
    }
    # L2 at 10:05 must NOT see the 10:05 right row (strict <)
    assert strict == {"L1": 200, "L2": None, "L3": None}
    loose = {
        r["lid"]: r["asof_price"]
        for r in asof_join(
            left, right, "k", "lts", "rts", ["price"],
            strict=False, tolerance="2 minutes",
        ).collect()
    }
    assert loose == {"L1": 200, "L2": 100, "L3": 300}


def test_continuous_rollup_matches_batch(spark, tmp_path):
    from pypeman_spark.streaming.rollup import ContinuousRollup

    rows = [
        (_m(minutes=i * 7), "a" if i % 2 else "b", float(i)) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    src = str(tmp_path / "in")
    df.repartition(6).write.parquet(src)
    schema = spark.read.parquet(src).schema
    rollup = ContinuousRollup(
        spark, str(tmp_path / "agg"), bucket="1 hour",
        keys=("event_type",), ts_col="ts", value_col="value",
    )
    q = rollup.start(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "2").parquet(src)
    )
    q.awaitTermination(120)
    inc = rollup.read().select(
        F.col("bucket_start").alias("b"), "event_type", "n", "total"
    )
    exact = df.groupBy(
        F.date_trunc("hour", "ts").alias("b"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
    assert inc.exceptAll(exact).count() == 0
    assert exact.exceptAll(inc).count() == 0


def test_continuous_rollup_merge_rewrites_only_touched_day(spark, tmp_path):
    # a batch that touches one day rewrites that day's files only; the
    # live files of every other day stay as they were
    from pypeman_spark.streaming.rollup import ContinuousRollup

    def batch(*rows):
        return spark.createDataFrame(
            list(rows), "ts timestamp, event_type string, value double"
        )

    rollup = ContinuousRollup(spark, str(tmp_path / "agg"))
    day2 = BASE + dt.timedelta(days=1)
    rollup.merge_batch(batch((_m(0), "a", 1.0), (day2, "a", 2.0)), 0)

    def files_by_day():
        _v, live = rollup.table._replay()
        out = {}
        for f, info in live.items():
            out.setdefault(info["parts"]["day"], set()).add(f)
        return out

    before = files_by_day()
    rollup.merge_batch(batch((_m(5), "a", 3.0), (_m(7), "b", 4.0)), 1)
    after = files_by_day()
    touched = str(BASE.date())
    assert set(before) == set(after) == {touched, str(day2.date())}
    assert after[str(day2.date())] == before[str(day2.date())]
    assert after[touched] != before[touched]
    got = {
        (r["event_type"], r["n"], r["total"]) for r in rollup.read().collect()
    }
    assert got == {("a", 2, 4.0), ("a", 1, 2.0), ("b", 1, 4.0)}


def test_continuous_rollup_null_key_matches_batch(spark, tmp_path):
    # a null key merges into its stored row, as the batch groupBy groups
    # it: two batches, each with one null event_type in the same hour,
    # leave one n=2 row
    from pypeman_spark.streaming.rollup import ContinuousRollup

    rows = [(_m(0), None, 1.0), (_m(5), None, 2.0), (_m(7), "a", 4.0)]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    rollup = ContinuousRollup(spark, str(tmp_path / "agg"))
    rollup.merge_batch(df.filter(F.col("value") < 2), 0)
    rollup.merge_batch(df.filter(F.col("value") >= 2), 1)
    inc = rollup.read().select(
        F.col("bucket_start").alias("b"), "event_type", "n", "total"
    )
    exact = df.groupBy(
        F.date_trunc("hour", "ts").alias("b"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
    assert inc.exceptAll(exact).count() == 0
    assert exact.exceptAll(inc).count() == 0
    assert inc.count() == 2


def test_hash_sample_nested_and_stable(spark):
    from pypeman_spark.functions.sampling import hash_sample

    df = spark.range(2000).select(F.col("id").alias("doc_id"))
    small = {r["doc_id"] for r in hash_sample(df, "doc_id", 0.05, "s").collect()}
    big = {r["doc_id"] for r in hash_sample(df, "doc_id", 0.5, "s").collect()}
    assert small <= big  # nested fractions
    assert 0.02 < len(small) / 2000 < 0.09 and 0.45 < len(big) / 2000 < 0.55
    again = {r["doc_id"] for r in hash_sample(df, "doc_id", 0.05, "s").collect()}
    assert small == again  # reproducible
    other = {r["doc_id"] for r in hash_sample(df, "doc_id", 0.05, "t").collect()}
    assert small != other  # salt independence


def test_stratified_hash_sample_rates(spark):
    from pypeman_spark.functions.sampling import stratified_hash_sample

    df = spark.range(3000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "en")
        .when(F.col("id") % 3 == 1, "fr")
        .otherwise("de")
        .alias("lang"),
    )
    out = stratified_hash_sample(
        df, "doc_id", "lang", {"en": 0.1, "fr": 1.0}, default=0.0
    )
    by_lang = {r["lang"]: r["n"] for r in
               out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_lang.get("fr") == 1000 and "de" not in by_lang
    assert 50 < by_lang.get("en", 0) < 160


def test_salted_join_matches_plain_join(spark):
    from pypeman_spark.functions.joins import salted_join

    fact = spark.createDataFrame(
        [(1, i) for i in range(50)] + [(2, 99)], "k long, v long"
    )
    dim = spark.createDataFrame([(1, "hot"), (2, "cold"), (3, "never")],
                                "k long, name string")
    plain = fact.join(dim, "k").select("k", "v", "name")
    salted = salted_join(fact, dim, "k", n_salt=4).select("k", "v", "name")
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_zvalue_interleaves_bits(spark):
    from pypeman_spark.functions.layout import zvalue

    df = spark.createDataFrame([(0b101, 0b011)], "a long, b long")
    z = df.select(zvalue(F.col("a"), F.col("b"), 4).alias("z")).first()["z"]
    # a bits -> even positions (1,0,1 -> 1+16), b bits -> odd (1,1 -> 2+8)
    assert z == 0b011011


def test_zorder_sort_tightens_minmax_stats(spark, tmp_path):
    import glob

    import pyarrow.parquet as pq

    from pypeman_spark.functions.layout import zorder_sort

    n = 4096
    df = spark.range(n).select(
        (F.col("id") * 2654435761 % 1024).alias("x"),
        (F.col("id") * 40503 % 1024).alias("y"),
    )

    def spread(path):
        tot_x = tot_y = files = 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            if md.num_rows == 0:
                continue
            t = pq.read_table(f)
            xs, ys = t["x"].to_pylist(), t["y"].to_pylist()
            tot_x += max(xs) - min(xs)
            tot_y += max(ys) - min(ys)
            files += 1
        return tot_x / files, tot_y / files

    base = str(tmp_path / "plain")
    df.repartition(16).write.parquet(base)
    zed = str(tmp_path / "zed")
    zorder_sort(df, "x", "y", bits=10, partitions=16).write.parquet(zed)
    px, py = spread(base)
    zx, zy = spread(zed)
    # hash layout: every file spans ~the full 0-1023 range on both dims;
    # the Morton layout must tighten BOTH simultaneously
    assert zx < px * 0.5 and zy < py * 0.5


def test_asof_join_matches_python_reference_on_random_data(spark):
    import random

    from pypeman_spark.functions.joins import asof_join

    rng = random.Random(42)
    lrows = [
        (rng.randrange(12), _m(seconds=rng.randrange(600)), i)
        for i in range(250)
    ]
    rrows = [
        (rng.randrange(12), _m(seconds=rng.randrange(600)), 1000 + i)
        for i in range(250)
    ]
    left = spark.createDataFrame(lrows, "k long, lts timestamp, lid long")
    right = spark.createDataFrame(rrows, "k long, rts timestamp, rid long")

    def ref(strict):
        out = {}
        for k, lts, lid in lrows:
            cands = [
                (rts, rid)
                for rk, rts, rid in rrows
                if rk == k and (rts < lts if strict else rts <= lts)
            ]
            # engine tie-break: latest ts, then highest first value col
            out[lid] = max(cands)[1] if cands else None
        return out

    for strict in (True, False):
        got = {
            r["lid"]: r["asof_rid"]
            for r in asof_join(
                left, right, "k", "lts", "rts", ["rid"], strict=strict
            ).collect()
        }
        assert got == ref(strict), f"strict={strict}"


def test_range_join_no_duplicate_pairs_on_random_data(spark):
    import random

    from pypeman_spark.functions.joins import range_join

    rng = random.Random(7)
    iv = spark.createDataFrame(
        [
            (i, _m(seconds=(s := rng.randrange(3000))), _m(seconds=s + rng.randrange(1, 900)))
            for i in range(120)
        ],
        "win_id long, lo timestamp, hi timestamp",
    )
    pts = spark.createDataFrame(
        [(i, _m(seconds=rng.randrange(3600))) for i in range(400)],
        "pid long, ts timestamp",
    )
    fast = range_join(pts, iv, "ts", "lo", "hi", bucket_seconds=300)
    slow = pts.join(iv, (pts["ts"] >= iv["lo"]) & (pts["ts"] < iv["hi"]))
    fast_pairs = {(r["pid"], r["win_id"]) for r in fast.collect()}
    slow_pairs = {(r["pid"], r["win_id"]) for r in slow.collect()}
    assert fast_pairs == slow_pairs
    assert fast.count() == len(fast_pairs)  # bucketing never duplicates


def test_greedy_pack_matches_python_reference_on_random_data(spark):
    import random

    from pypeman_spark.functions.packing import greedy_pack

    rng = random.Random(99)
    rows = [(i, i % 5, rng.randrange(5, 300)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, shard long, toks long")
    got = {
        r["doc_id"]: r["pack_id"]
        for r in greedy_pack(
            df, "toks", 512, order_col="doc_id", shard_col="shard"
        ).collect()
    }
    ref = {}
    for shard in range(5):
        pid, fill = 0, 0
        for doc_id, _s, tok in [r for r in rows if r[1] == shard]:
            if fill > 0 and fill + tok > 512:
                pid, fill = pid + 1, 0
            fill += tok
            ref[doc_id] = pid
    assert got == ref


def test_stream_dedup_batch_semantics(spark):
    df = spark.createDataFrame(
        [(1, "a", _m(0)), (1, "a", _m(1)), (2, "a", _m(0))],
        "k long, e string, ts timestamp",
    )
    assert stream_dedup(df, ["k", "e"]).count() == 2
    assert stream_dedup(df, ["k", "e"], ts_col="ts", within="1 hour").count() == 2


def _emb(spark, sf_dir):
    from pypeman_spark.sources.tables import load_table

    return load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )


def test_ivf_probe_equals_in_memory_ivf(spark, sf_dir, tmp_path):
    # the persisted index round-trips through partitioned parquet and
    # must return EXACTLY what the in-memory variant computes (same
    # deterministic centroids, probes, tie-breaks)
    from pypeman_spark.functions import similarity as S

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    mem = {tuple(r) for r in
           S.ivf_ann_topk(emb, q, k=5, n_centroids=8, nprobe=2).collect()}
    path = str(tmp_path / "idx")
    S.ivf_index_write(emb, path, n_centroids=8)
    disk = {tuple(r) for r in
            S.ivf_probe(spark, path, q, k=5, nprobe=2).collect()}
    assert mem == disk and len(mem) == 25


def test_ivf_assign_norm_hoist_bit_identical(spark, sf_dir):
    # r15: ivf_assign hoists the row norm (bound once per row) and
    # reads driver-precomputed centroid-norm literals instead of
    # re-folding both norms per (row x centroid). This pins the raw
    # score DOUBLES (not just the argmax) against the independent
    # inline-cosine reference — the same `dot / (sqrt(na) * sqrt(nb))`
    # operation order must yield bit-identical IEEE-754 results.
    from pypeman_spark.functions import similarity as S

    emb = _emb(spark, sf_dir)
    head = emb.orderBy("vec_id").limit(8).select(
        F.col("vec_id").alias("__id"), F.col("embedding").alias("__v")
    ).collect()
    cent_rows = [
        {"cid": r["__id"], "cv": [float(x) for x in r["__v"]]}
        for r in sorted(head, key=lambda r: r["__id"])
    ]

    # independent reference: the pre-r15 formulation, inline cosine
    # per centroid (re-built here from the low-level SQL helpers)
    cs = S._centroid_array_sql(cent_rows)
    ref_scores = emb.select(
        "vec_id",
        F.expr(
            f"transform({cs}, c -> {S._cos_sql('`embedding`', 'c.cv')})"
        ).alias("ss"),
    )
    new_cs = S._centroid_array_sql(cent_rows, with_norm=True)
    na = "sqrt(aggregate(`embedding`, 0.0D, (acc, v) -> acc + v * v))"
    new_scores = emb.select(
        "vec_id",
        F.expr(
            f"transform(array({na}), sna -> transform({new_cs}, "
            f"c -> {S._dot_sql('`embedding`', 'c.cv')} / (sna * c.snb)))[0]"
        ).alias("ss"),
    )
    assert ref_scores.exceptAll(new_scores).count() == 0
    assert new_scores.exceptAll(ref_scores).count() == 0

    # and the production assign matches the reference argmax
    ref_best = (
        f"array_max(transform({cs}, c -> named_struct("
        f"'s', {S._cos_sql('`embedding`', 'c.cv')}, 'ncid', -c.cid)))"
    )
    ref_assign = emb.select(
        "vec_id", "embedding",
        F.expr(f"-(({ref_best}).ncid)").alias("cid"),
    )
    got = S.ivf_assign(emb, cent_rows, id_col="vec_id",
                       vec_col="embedding")
    assert got.exceptAll(ref_assign).count() == 0
    assert ref_assign.exceptAll(got).count() == 0


def test_multi_table_lsh_recall_at_least_single_table(spark, sf_dir):
    # OR-amplification: for each query, the multi-table candidate set
    # contains table 0's candidates, so rank-1 score (vs exact top-1)
    # can only improve or stay equal; self-match must be found (its
    # bucket always matches in every table)
    from pypeman_spark.functions import similarity as S

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    multi = S.lsh_ann_topk_multi(
        emb, q, k=1, num_planes=4, dim=64, num_tables=2
    ).collect()
    assert {r["query_id"] for r in multi} == {0, 1, 2, 3, 4}
    for r in multi:
        # self is always a candidate (identical signature in all tables)
        # and cosine(self, self)=1.0 wins every tie-break
        assert r["vec_id"] == r["query_id"] and abs(r["score"] - 1.0) < 1e-6


def test_kmeans_centroids_ivf_path(spark, sf_dir, tmp_path):
    # fitted-centroid override: same probe/re-rank plumbing, centroid
    # table swapped. Self-query must rank itself first (its own cell is
    # always the closest probe), and the persisted index round-trips.
    from pypeman_spark.functions import similarity as S

    emb = _emb(spark, sf_dir)
    cent = S.kmeans_centroids(emb, n_centroids=4, max_iter=5)
    rows = cent.collect()
    assert len(rows) == 4
    assert sorted(r["cid"] for r in rows) == [0, 1, 2, 3]
    assert all(len(r["cv"]) == len(rows[0]["cv"]) for r in rows)

    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    mem = S.ivf_ann_topk(emb, q, k=5, nprobe=2, centroids=cent).collect()
    top = {r["query_id"]: r["vec_id"] for r in mem if r["rank"] == 1}
    assert top == {0: 0, 1: 1, 2: 2}

    path = str(tmp_path / "kidx")
    S.ivf_index_write(emb, path, centroids=cent)
    disk = S.ivf_probe(spark, path, q, k=5, nprobe=2).collect()
    assert {tuple(r) for r in disk} == {tuple(r) for r in mem}


def test_ivf_index_append_equals_bulk_build(spark, sf_dir, tmp_path):
    # incremental ingestion: build the index from the first half, append
    # the second half against the PERSISTED centroids, and the probe
    # must equal an index built in one shot with the same centroid set
    from pypeman_spark.functions import similarity as S

    emb = _emb(spark, sf_dir)
    first = emb.filter(F.col("vec_id") % 2 == 0)
    second = emb.filter(F.col("vec_id") % 2 == 1)
    cent = S._default_centroids(first, 8, "vec_id", "embedding")

    inc = str(tmp_path / "inc")
    S.ivf_index_write(first, inc, centroids=cent)
    S.ivf_index_append(spark, inc, second)

    bulk = str(tmp_path / "bulk")
    S.ivf_index_write(emb, bulk, centroids=cent)

    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {tuple(r) for r in S.ivf_probe(spark, inc, q, k=5, nprobe=2).collect()}
    want = {tuple(r) for r in S.ivf_probe(spark, bulk, q, k=5, nprobe=2).collect()}
    assert got == want and len(got) == 25


def test_ivfpq_index_append_equals_bulk_build(spark, sf_dir, tmp_path):
    # VERDICT r6 #5: the composed IVFADC index must ingest new batches
    # against its PERSISTED centroids AND codebooks — appended rows get
    # identical cell assignment + residual codes to a one-shot build,
    # so both the ADC shortlist and the re-ranked probe agree exactly
    from pypeman_spark.functions import similarity as S

    emb = _emb(spark, sf_dir)
    first = emb.filter(F.col("vec_id") % 2 == 0)
    second = emb.filter(F.col("vec_id") % 2 == 1)
    cent = S._default_centroids(first, 8, "vec_id", "embedding")
    cent_rows = S._centroid_rows(cent)
    books = S.ivfpq_residual_codebooks(first, cent_rows, m=4, n_codes=8,
                                       dim=64)

    inc = str(tmp_path / "inc")
    S.ivfpq_index_write(first, inc, centroids=cent, codebooks=books)
    S.ivfpq_index_append(spark, inc, second)

    bulk = str(tmp_path / "bulk")
    S.ivfpq_index_write(emb, bulk, centroids=cent, codebooks=books)

    # stored codes for the appended half match the bulk build row-
    # for-row (assignment and encoding both against persisted state)
    inc_rows = {
        r["vec_id"]: (r["cid"], tuple(r["pq_code"]))
        for r in spark.read.parquet(inc).select(
            "vec_id", "cid", "pq_code").collect()
    }
    bulk_rows = {
        r["vec_id"]: (r["cid"], tuple(r["pq_code"]))
        for r in spark.read.parquet(bulk).select(
            "vec_id", "cid", "pq_code").collect()
    }
    assert inc_rows == bulk_rows

    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    for rerank in (False, True):
        got = {tuple(r) for r in S.ivfpq_probe(
            spark, inc, q, k=5, nprobe=2, rerank=rerank).collect()}
        want = {tuple(r) for r in S.ivfpq_probe(
            spark, bulk, q, k=5, nprobe=2, rerank=rerank).collect()}
        assert got == want and len(got) == 25


def test_pq_encode_and_adc_topk(spark, sf_dir):
    # PQ/ADC: codes are m small ints; self-query has distance 0 to its
    # own codes' reconstruction... not exactly 0 in general, but the
    # query IS a corpus vector here, so its encoded cell distance equals
    # the query-side LUT entry for its own codes -> ADC(self) is the
    # minimum possible for that code combination and self ranks first.
    from pypeman_spark.functions import similarity as S

    emb = _emb(spark, sf_dir)
    books = S.pq_codebooks(emb, m=4, n_codes=8, dim=64)
    assert len(books) == 4 and len(books[0]) == 8 and len(books[0][0]) == 16

    coded = S.pq_encode(emb, books).select("vec_id", "pq_code").collect()
    assert all(len(r["pq_code"]) == 4 for r in coded)
    assert all(0 <= c <= 7 for r in coded for c in r["pq_code"])
    # codebook vector 0 encodes to its own codes (distance 0 per sub)
    own = {r["vec_id"]: r["pq_code"] for r in coded}
    assert own[0] is not None

    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    topk = S.pq_ann_topk(emb, q, books, k=5).collect()
    assert len(topk) == 15
    by_q = {}
    for r in topk:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        # ADC distance ascending
        assert all(
            rows[i]["score"] <= rows[i + 1]["score"] for i in range(len(rows) - 1)
        )


def test_pq_rerank_scores_are_exact_cosine(spark, sf_dir):
    # rerank=True rescores the ADC candidates with exact cosine: every
    # (query, vec) pair in the reranked output must carry the same score
    # the brute-force path assigns that pair
    from pypeman_spark.functions import similarity as S

    emb = _emb(spark, sf_dir)
    books = S.pq_codebooks(emb, m=4, n_codes=8, dim=64)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rer = S.pq_ann_topk(emb, q, books, k=5, rerank=True).collect()
    assert len(rer) == 15
    # recompute cosine for just the reranked pairs
    from pypeman_spark.functions.similarity import cosine
    pairs = spark.createDataFrame(
        [(r["query_id"], r["vec_id"], r["score"]) for r in rer],
        "query_id long, vec_id long, score double",
    )
    joined = (
        pairs.join(emb.select(F.col("vec_id"), F.col("embedding")), "vec_id")
        .join(
            emb.select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("qv"),
            ),
            "query_id",
        )
        .select(
            "query_id", "vec_id", "score",
            F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("want"),
        )
        .collect()
    )
    for r in joined:
        assert abs(r["score"] - r["want"]) < 1e-9
    # self-match survives the rerank at rank 1 with cosine 1.0
    top1 = {r["query_id"]: (r["vec_id"], r["score"]) for r in rer if r["rank"] == 1}
    assert top1 == {0: (0, 1.0), 1: (1, 1.0), 2: (2, 1.0)}


def test_pq_kmeans_codebooks_reduce_quantization_error(spark, sf_dir):
    # fitted codebooks must not be worse than lowest-id codebooks at
    # reconstructing the corpus: compare mean ADC distance of each
    # vector to its own encoded reconstruction (lower = tighter codes)
    from pypeman_spark.functions import similarity as S

    emb = _emb(spark, sf_dir).limit(200)
    det = S.pq_codebooks(emb, m=4, n_codes=8, dim=64)
    fit = S.pq_codebooks_kmeans(emb, m=4, n_codes=8, dim=64, max_iter=10)
    assert len(fit) == 4 and all(len(b) == 8 for b in fit)

    def recon_err(books):
        q = emb.select(F.col("vec_id").alias("query_id"), "embedding")
        # ADC(self) = sum_j d(self_sub_j, codebook[code_j]) = the
        # quantization error of the vector itself
        scored = S.pq_ann_topk(emb, q, books, k=1)
        self_rows = scored.filter(
            F.col("query_id") == F.col("vec_id")
        ).agg(F.avg("score")).collect()
        # self may not be rank 1 under heavy quantization; measure via
        # encode+lut directly instead when absent
        return self_rows[0][0]

    # direct measurement: mean over corpus of ADC distance vec->own codes
    def qerr(books):
        coded = S.pq_encode(emb, books)
        m, ds = 4, 16
        expr = None
        for j in range(m):
            sub = F.slice(F.col("embedding"), j * ds + 1, ds)
            lut = F.transform(
                S._code_array(books[j]), lambda cv: S._l2sq(sub, cv)
            )
            term = F.element_at(lut, F.col("pq_code")[j] + 1)
            expr = term if expr is None else expr + term
        return coded.agg(F.avg(expr)).collect()[0][0]

    assert qerr(fit) <= qerr(det) * 1.05  # fitted no worse (5% slack)


def test_ivfpq_probe_end_to_end(spark, sf_dir, tmp_path):
    # composed IVF+PQ: residual codes round-trip through the partitioned
    # index; the reranked probe returns exact-cosine scores and finds
    # the self-match at rank 1
    from pypeman_spark.functions import similarity as S

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path = str(tmp_path / "ivfpq")
    S.ivfpq_index_write(emb, path, n_centroids=8, m=4, n_codes=8, dim=64)
    res = S.ivfpq_probe(spark, path, q, k=5, nprobe=2, rerank=True).collect()
    assert len(res) == 25
    top1 = {r["query_id"]: (r["vec_id"], r["score"]) for r in res if r["rank"] == 1}
    assert top1 == {i: (i, 1.0) for i in range(5)}
    # rerank scores are exact cosine: all in [-1, 1], descending per query
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append(r)
    for rows in by_q.values():
        rows.sort(key=lambda r: r["rank"])
        assert all(-1.0 <= r["score"] <= 1.0 for r in rows)
        assert all(
            rows[i]["score"] >= rows[i + 1]["score"]
            for i in range(len(rows) - 1)
        )


def test_ivfpq_with_nprobe_all_and_wide_shortlist_matches_ivf(spark, sf_dir, tmp_path):
    # with every cell probed and the shortlist as wide as the corpus,
    # the PQ stage cannot lose the true neighbors: the reranked top-k
    # must equal the plain IVF result at full probe (= exact search)
    from pypeman_spark.functions import similarity as S

    emb = _emb(spark, sf_dir).filter(F.col("vec_id") < 200)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path = str(tmp_path / "ivfpq_all")
    S.ivfpq_index_write(emb, path, n_centroids=4, m=4, n_codes=8, dim=64)
    got = {
        tuple(r)
        for r in S.ivfpq_probe(
            spark, path, q, k=5, nprobe=4, rerank=True, n_candidates=200
        ).collect()
    }
    want = {
        tuple(r)
        for r in S.ivf_ann_topk(
            emb, q, k=5, n_centroids=4, nprobe=4
        ).collect()
    }
    assert got == want and len(got) == 15


def test_cardinality_sketch_error_and_mergeability(spark):
    from pypeman_spark.functions.stats import (
        cardinality_sketch,
        grouped_distinct_estimate,
        merge_cardinality_sketches,
    )

    df = spark.range(50000).selectExpr(
        "id % 3000 AS user_id", "id % 7 AS day"
    )
    # per-day estimates within HLL's error bound of the exact counts
    est = {
        r["day"]: r["n_distinct_est"]
        for r in grouped_distinct_estimate(df, ["day"], "user_id").collect()
    }
    exact = {
        r["day"]: r["n"]
        for r in df.groupBy("day")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for day, n in exact.items():
        assert abs(est[day] - n) / n < 0.05  # ~3 sigma at lg_k=12
    # mergeability: union of the 7 per-day sketches must estimate the
    # SAME value as one sketch built over all data — HLL union of
    # equal-lg_k sketches is exact over sketch state, not approximate
    daily = cardinality_sketch(df, ["day"], "user_id")
    merged_est = (
        merge_cardinality_sketches(daily, [])
        .select(F.expr("hll_sketch_estimate(distinct_sketch)").alias("e"))
        .collect()[0]["e"]
    )
    direct_est = (
        df.agg(F.expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))").alias("e"))
        .collect()[0]["e"]
    )
    assert merged_est == direct_est
    assert abs(merged_est - 3000) / 3000 < 0.05


def test_heavy_hitters_exact_on_small_domains(spark):
    # under the tracked-item capacity the sketch is exact: recover the
    # true per-group top-3 of a skewed distribution
    from pypeman_spark.functions.stats import heavy_hitters

    rows = []
    for g in ("a", "b"):
        for word, n in (("x", 50), ("y", 30), ("z", 10), ("w", 5)):
            rows += [(g, word + g)] * n
    df = spark.createDataFrame(rows, "grp string, word string")
    out = {
        r["grp"]: [(e["item"], e["count"]) for e in r["topk"]]
        for r in heavy_hitters(df, ["grp"], "word", k=3).collect()
    }
    assert out["a"] == [("xa", 50), ("ya", 30), ("za", 10)]
    assert out["b"] == [("xb", 50), ("yb", 30), ("zb", 10)]


def test_compact_parquet_reduces_files_and_preserves_rows(spark, tmp_path):
    from pypeman_spark.functions.layout import compact_parquet

    src = str(tmp_path / "small")
    spark.range(10000).selectExpr("id", "id % 50 AS g").repartition(
        40
    ).write.parquet(src)
    n_in = len(spark.read.parquet(src).inputFiles())
    assert n_in >= 40

    out = str(tmp_path / "compact")
    n_out = compact_parquet(spark, src, out, target_mb=256,
                            sort_within_by=["g", "id"])
    assert n_out == 1  # tiny data -> one target-size file
    got = spark.read.parquet(out)
    assert len(got.inputFiles()) == 1
    assert got.count() == 10000
    assert got.agg(F.sum("id")).collect()[0][0] == 10000 * 9999 // 2


def test_quality_check_flag_and_assert(spark):
    from pypeman_spark.functions.quality import (
        assert_valid,
        check,
        flag_violations,
    )
    import pytest as _pytest

    df = spark.createDataFrame(
        [(1, 10, "a"), (2, -5, "b"), (3, 10, None), (3, 10, "d")],
        "id long, v long, s string",
    )
    rules = {
        "v_positive": F.col("v") > 0,
        "s_not_null": F.col("s").isNotNull(),
    }
    rep = {
        r["rule"]: (r["n_violations"], r["n_rows"])
        for r in check(df, rules, unique=[["id"]]).collect()
    }
    assert rep == {
        "v_positive": (1, 4),
        "s_not_null": (1, 4),
        "unique(id)": (1, 4),
    }

    flagged = {
        r["id"]: sorted(r["violations"])
        for r in flag_violations(df, rules).collect()
    }
    assert flagged[1] == [] and flagged[2] == ["v_positive"]
    # row 3 appears twice: null-s copy flags s_not_null, other is clean
    dim = spark.createDataFrame([(1,), (2,)], "k long")
    rep_fk = {
        r["rule"]: r["n_violations"]
        for r in check(
            df, {}, foreign_keys={"fk": (["id"], dim, ["k"])}
        ).collect()
    }
    assert rep_fk == {"fk": 2}  # the two id=3 rows have no dim match

    with _pytest.raises(ValueError, match="v_positive"):
        assert_valid(df, rules)
    assert_valid(df, {"id_positive": F.col("id") > 0})


def test_resample_fills_gaps_and_marks_generated_cells(spark):
    from pypeman_spark.functions.timeseries import forward_fill, resample

    rows = [
        ("a", dt.datetime(2026, 1, 1, 0, 5), 10.0),
        ("a", dt.datetime(2026, 1, 1, 0, 40), 2.0),
        # gap: hours 1 and 2 empty
        ("a", dt.datetime(2026, 1, 1, 3, 10), 7.0),
        ("b", dt.datetime(2026, 1, 1, 5, 0), 1.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    out = {
        (r["k"], r["bucket_start"].hour): (r["value"], r["n_events"])
        for r in resample(
            df, "k", "ts", "v", step_seconds=3600, agg="sum", fill="ffill"
        ).collect()
    }
    # observed cells aggregate; generated cells carry the fill + n=0
    assert out[("a", 0)] == (12.0, 2)
    assert out[("a", 1)] == (12.0, 0)
    assert out[("a", 2)] == (12.0, 0)
    assert out[("a", 3)] == (7.0, 1)
    assert out[("b", 5)] == (1.0, 1)
    assert len(out) == 5  # b's grid is its own single cell

    # fill=None leaves nulls; zero fills zeros; bad args raise
    nulls = resample(df, "k", "ts", "v", 3600, "sum", fill=None).collect()
    assert sum(1 for r in nulls if r["value"] is None) == 2
    zeros = resample(df, "k", "ts", "v", 3600, "sum", fill="zero").collect()
    assert sum(1 for r in zeros if r["value"] == 0.0) == 2
    import pytest as _pytest
    with _pytest.raises(ValueError):
        resample(df, "k", "ts", "v", 3600, agg="median")
    with _pytest.raises(ValueError):
        resample(df, "k", "ts", "v", 3600, fill="bfill")

    # leading nulls stay null in forward_fill
    f = spark.createDataFrame(
        [("a", 1, None), ("a", 2, 5.0), ("a", 3, None)],
        "k string, o long, v double",
    )
    filled = {r["o"]: r["v"] for r in forward_fill(f, "k", "o", "v").collect()}
    assert filled == {1: None, 2: 5.0, 3: 5.0}


def test_scd2_apply_chains_and_suppresses_noops(spark):
    from pypeman_spark.functions.scd import scd2_apply

    dim = spark.createDataFrame(
        [
            # k=1 has one closed + one open version already
            (1, "A", dt.date(2020, 1, 1), dt.date(2021, 1, 1), False),
            (1, "B", dt.date(2021, 1, 1), None, True),
            (2, "X", dt.date(2020, 1, 1), None, True),
        ],
        "k long, attr string, valid_from date, valid_to date, is_current boolean",
    )
    updates = spark.createDataFrame(
        [
            (1, "C", dt.date(2022, 6, 1)),   # real change
            (2, "X", dt.date(2022, 1, 1)),   # no-op: suppressed
            (3, "N", dt.date(2022, 3, 1)),   # brand-new key
        ],
        "k long, attr string, valid_from date",
    )
    rows = {
        (r["k"], r["attr"]): (r["valid_from"], r["valid_to"], r["is_current"])
        for r in scd2_apply(dim, updates, ["k"], ["attr"]).collect()
    }
    # closed history untouched
    assert rows[(1, "A")] == (dt.date(2020, 1, 1), dt.date(2021, 1, 1), False)
    # open version closed at the update's date; update becomes current
    assert rows[(1, "B")] == (dt.date(2021, 1, 1), dt.date(2022, 6, 1), False)
    assert rows[(1, "C")] == (dt.date(2022, 6, 1), None, True)
    # no-op update vanished: k=2 keeps its single open version
    assert rows[(2, "X")] == (dt.date(2020, 1, 1), None, True)
    # new key starts history at its first update
    assert rows[(3, "N")] == (dt.date(2022, 3, 1), None, True)
    assert len(rows) == 5


def test_funnel_strict_order_and_depth(spark):
    from pypeman_spark.functions.stats import funnel

    rows = [
        # u1 completes all three in order
        (1, _m(0), "signup"), (1, _m(1), "view"), (1, _m(2), "purchase"),
        # u2 views BEFORE signing up -> that view must not count
        (2, _m(0), "view"), (2, _m(1), "signup"),
        # u3 purchase before view -> depth 2 only (signup, later view)
        (3, _m(0), "signup"), (3, _m(1), "purchase"), (3, _m(2), "view"),
        # u4 never signs up -> excluded
        (4, _m(0), "view"), (4, _m(1), "purchase"),
        # u5: same-timestamp next stage does NOT count (strict >)
        (5, _m(0), "signup"), (5, _m(0), "view"),
    ]
    df = spark.createDataFrame(rows, "u long, ts timestamp, e string")
    got = {
        r["u"]: (r["n_completed"], r["stage2_ts"], r["stage3_ts"])
        for r in funnel(df, "u", "ts", "e",
                        ["signup", "view", "purchase"]).collect()
    }
    assert got[1][0] == 3 and got[1][2] == _m(2)
    assert got[2] == (1, None, None)
    assert got[3][0] == 2 and got[3][1] == _m(2)
    assert 4 not in got
    assert got[5] == (1, None, None)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        funnel(df, "u", "ts", "e", [])


def test_hashed_linear_score_properties(spark):
    from pypeman_spark.functions.text import hashed_linear_score

    df = spark.createDataFrame(
        [(1, "good solid text"), (2, "good solid text"), (3, "different words here"), (4, "")],
        "id long, t string",
    )
    w = [1.0] * 16  # all-positive weights -> every non-trivial doc > 0.5
    rows = {
        r["id"]: r["s"]
        for r in df.select(
            "id", hashed_linear_score(F.col("t"), w, hash_fn="md5").alias("s")
        ).collect()
    }
    assert rows[1] == rows[2]            # deterministic
    assert rows[1] > 0.5 and rows[3] > 0.5
    assert abs(rows[1] - 1 / (1 + 2.718281828459045 ** -1.0)) < 1e-6
    # bias shifts the sigmoid; both hash modes run; bad args raise
    biased = df.select(
        hashed_linear_score(F.col("t"), w, bias=-5.0).alias("s")
    ).collect()
    assert all(r["s"] < 0.5 for r in biased[:3])
    import pytest as _pytest
    with _pytest.raises(ValueError):
        hashed_linear_score(F.col("t"), [])
    with _pytest.raises(ValueError):
        hashed_linear_score(F.col("t"), w, hash_fn="sha9")


def test_quality_flag_unique_and_fk_rows(spark):
    # VERDICT r5 #2: per-row quarantine routing must cover ALL rule
    # classes, not just row-local ones
    from collections import Counter

    from pypeman_spark.functions.quality import check, flag_violations

    df = spark.createDataFrame(
        [(1, 10, "a"), (2, -5, "b"), (2, 7, "c"), (9, 3, None)],
        "id long, v long, s string",
    )
    dim = spark.createDataFrame([(1,), (2,)], "k long")
    rules = {"v_positive": F.col("v") > 0}
    fks = {"id_fk": (["id"], dim, ["k"])}
    out = flag_violations(df, rules, unique=[["id"]], foreign_keys=fks)
    flagged = {
        (r["id"], r["v"]): sorted(r["violations"]) for r in out.collect()
    }
    assert flagged[(1, 10)] == []
    assert flagged[(2, -5)] == ["unique(id)", "v_positive"]
    assert flagged[(2, 7)] == ["unique(id)"]
    assert flagged[(9, 3)] == ["id_fk"]
    # helper columns never leak into the output schema
    assert set(out.columns) == {"id", "v", "s", "violations"}

    # per-row flags reconcile with check()'s aggregate counts
    rep = {
        r["rule"]: r["n_violations"]
        for r in check(df, rules, unique=[["id"]], foreign_keys=fks).collect()
    }
    cnt = Counter(v for vs in flagged.values() for v in vs)
    assert rep["v_positive"] == cnt["v_positive"] == 1
    assert rep["id_fk"] == cnt["id_fk"] == 1
    # convention split: check counts EXTRAS (count - distinct), the
    # per-row form marks EVERY row of a duplicated key
    assert rep["unique(id)"] == 1 and cnt["unique(id)"] == 2

    # a null FK part is "not applicable" (check()'s na.drop semantics)
    withnull = spark.createDataFrame([(None, 1)], "id long, v long")
    (row,) = flag_violations(withnull, {}, foreign_keys=fks).collect()
    assert list(row["violations"]) == []

    # AQE-sized path (broadcast_dims=False) flags identically
    out2 = flag_violations(
        df, rules, unique=[["id"]], foreign_keys=fks, broadcast_dims=False
    )
    assert {
        (r["id"], r["v"]): sorted(r["violations"]) for r in out2.collect()
    } == flagged


def test_scd2_null_attr_changes_and_validate(spark):
    # ADVICE r5: NULL<->value attribute flips are genuine changes (the
    # old null-propagating != silently dropped them); NULL->NULL stays
    # a no-op; validate=True enforces the closed-history precondition
    from pypeman_spark.functions.scd import scd2_apply
    import pytest as _pytest

    dim = spark.createDataFrame(
        [
            (1, None, dt.date(2020, 1, 1), None, True),  # NULL -> "A"
            (2, None, dt.date(2020, 1, 1), None, True),  # NULL -> NULL
            (3, "X", dt.date(2020, 1, 1), None, True),   # "X" -> NULL
        ],
        "k long, attr string, valid_from date, valid_to date, is_current boolean",
    )
    updates = spark.createDataFrame(
        [
            (1, "A", dt.date(2021, 1, 1)),
            (2, None, dt.date(2021, 1, 1)),
            (3, None, dt.date(2021, 1, 1)),
        ],
        "k long, attr string, valid_from date",
    )
    rows = {
        (r["k"], r["attr"], r["valid_from"]): (r["valid_to"], r["is_current"])
        for r in scd2_apply(dim, updates, ["k"], ["attr"]).collect()
    }
    # k=1: NULL closed at the update, "A" current
    assert rows[(1, None, dt.date(2020, 1, 1))] == (dt.date(2021, 1, 1), False)
    assert rows[(1, "A", dt.date(2021, 1, 1))] == (None, True)
    # k=2: NULL -> NULL suppressed (single open version survives)
    assert rows[(2, None, dt.date(2020, 1, 1))] == (None, True)
    # k=3: value -> NULL is a real change
    assert rows[(3, "X", dt.date(2020, 1, 1))] == (dt.date(2021, 1, 1), False)
    assert rows[(3, None, dt.date(2021, 1, 1))] == (None, True)
    assert len(rows) == 5

    hist = spark.createDataFrame(
        [
            (1, "A", dt.date(2020, 1, 1), dt.date(2021, 1, 1), False),
            (1, "B", dt.date(2021, 1, 1), None, True),
        ],
        "k long, attr string, valid_from date, valid_to date, is_current boolean",
    )
    stale = spark.createDataFrame(
        [(1, "Z", dt.date(2020, 6, 1))], "k long, attr string, valid_from date"
    )
    with _pytest.raises(ValueError, match="closed history"):
        scd2_apply(hist, stale, ["k"], ["attr"], validate=True)
    ok = spark.createDataFrame(
        [(1, "Z", dt.date(2022, 1, 1))], "k long, attr string, valid_from date"
    )
    assert scd2_apply(hist, ok, ["k"], ["attr"], validate=True).count() == 3


def test_funnel_hot_key_cap(spark):
    # VERDICT r5 #8: cap bounds per-key state; under-cap keys identical
    from pypeman_spark.functions.stats import funnel
    import pytest as _pytest

    rows = [(1, _m(0), "signup"), (1, _m(1), "view"), (1, _m(2), "purchase")]
    # key 2: a "bot" spamming 50 signup events, then the real chain —
    # cap 10 keeps only the earliest 10 events (all signups), so the
    # capped funnel can at worst UNDERCOUNT this key's depth
    rows += [(2, _m(i), "signup") for i in range(50)]
    rows += [(2, _m(60), "view"), (2, _m(61), "purchase")]
    df = spark.createDataFrame(rows, "u long, ts timestamp, e string")
    stages = ["signup", "view", "purchase"]

    uncapped = {r["u"]: r["n_completed"]
                for r in funnel(df, "u", "ts", "e", stages).collect()}
    capped = {r["u"]: r["n_completed"]
              for r in funnel(df, "u", "ts", "e", stages,
                              max_events_per_key=10).collect()}
    assert uncapped == {1: 3, 2: 3}
    assert capped[1] == 3          # under-cap key: identical
    assert capped[2] == 1          # over-cap key: bounded, never invented
    # a cap at least as large as the key's event count changes nothing
    wide = {r["u"]: r["n_completed"]
            for r in funnel(df, "u", "ts", "e", stages,
                            max_events_per_key=52).collect()}
    assert wide == uncapped
    with _pytest.raises(ValueError):
        funnel(df, "u", "ts", "e", stages, max_events_per_key=0)


def test_resample_buckets_floor_pre_epoch_timestamps(spark):
    # ADVICE r5: truncation toward zero would land a 1969-12-31 23:30
    # event in bucket 0 instead of bucket -3600 — floor division must
    # bucket negative epochs like date_trunc does
    from pypeman_spark.functions.timeseries import resample

    rows = [
        ("a", dt.datetime(1969, 12, 31, 23, 30), 1.0),
        ("a", dt.datetime(1970, 1, 1, 0, 30), 2.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    out = {
        r["bucket_start"]: (r["value"], r["n_events"])
        for r in resample(df, "k", "ts", "v", 3600, "sum", fill=None).collect()
    }
    assert out[dt.datetime(1969, 12, 31, 23, 0)] == (1.0, 1)
    assert out[dt.datetime(1970, 1, 1, 0, 0)] == (2.0, 1)
    assert len(out) == 2


def test_quality_unique_null_positions_do_not_alias(spark):
    # review r6: concat_ws drops null parts, so (NULL,'x') and
    # ('x',NULL) used to collide into one key and both got falsely
    # flagged as duplicates; the null-safe tuple encoding keeps them
    # distinct while equal NULL-bearing tuples still count as dups
    from pypeman_spark.functions.quality import check, flag_violations

    df = spark.createDataFrame(
        [(None, "x"), ("x", None), (None, "y"), (None, "y")],
        "a string, b string",
    )
    rep = {
        r["rule"]: r["n_violations"]
        for r in check(df, {}, unique=[["a", "b"]]).collect()
    }
    assert rep["unique(a,b)"] == 1  # only the (NULL,'y') pair
    flagged = [
        sorted(r["violations"])
        for r in flag_violations(df, {}, unique=[["a", "b"]]).collect()
    ]
    assert sorted(map(tuple, flagged)) == [
        (), (), ("unique(a,b)",), ("unique(a,b)",)
    ]


def test_leakage_safe_splits_cluster_invariant(spark):
    # every member of a cluster must land in the SAME split, fractions
    # must track the weights over many clusters, and assignment is
    # deterministic (pure content-addressed hashing)
    from pypeman_spark.functions.sampling import leakage_safe_splits
    import pytest as _pytest

    rows = [(i, i % 400) for i in range(2000)]  # 400 clusters of 5
    df = spark.createDataFrame(rows, "node long, cluster_id long")
    out = leakage_safe_splits(df, "cluster_id").collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values())
    fracs = {
        name: sum(1 for r in out if r["split"] == name) / len(out)
        for name in ("train", "val", "test")
    }
    assert 0.7 < fracs["train"] < 0.9
    assert 0.05 < fracs["val"] < 0.16 and 0.05 < fracs["test"] < 0.16
    # deterministic across invocations
    again = leakage_safe_splits(df, "cluster_id").collect()
    assert {(r["node"], r["split"]) for r in again} == {
        (r["node"], r["split"]) for r in out
    }
    with _pytest.raises(ValueError):
        leakage_safe_splits(df, "cluster_id", {"train": 0.5, "val": 0.2})


def test_rolling_zscore_trailing_window_and_null_discipline(spark):
    from pypeman_spark.functions.timeseries import rolling_zscore
    import pytest as _pytest

    rows = [("a", i, float(v)) for i, v in enumerate([10, 10, 10, 10, 100])]
    rows += [("b", 0, 5.0), ("b", 1, 5.0), ("b", 2, 5.0)]  # zero variance
    df = spark.createDataFrame(rows, "k string, o int, v double")
    out = {
        (r["k"], r["o"]): (r["roll_mean"], r["roll_std"], r["zscore"],
                           r["is_anomaly"])
        for r in rolling_zscore(df, "k", "o", "v", window_rows=3,
                                min_periods=2, threshold=3.0).collect()
    }
    # first row: no history; second: 1 point < min_periods
    assert out[("a", 0)] == (None, None, None, None)
    assert out[("a", 1)] == (None, None, None, None)
    # flat history -> std 0 -> stats present, z suppressed
    assert out[("a", 2)][0] == 10.0 and out[("a", 2)][2] is None
    # the spike is scored against the PRECEDING window only
    assert out[("a", 4)][0] == 10.0
    assert out[("a", 4)][2] is None or out[("a", 4)][2] > 3  # std=0 history
    # b: zero variance never divides by zero
    assert all(out[("b", i)][2] is None for i in range(3))
    with _pytest.raises(ValueError):
        rolling_zscore(df, "k", "o", "v", window_rows=0)
    with _pytest.raises(ValueError):
        rolling_zscore(df, "k", "o", "v", min_periods=1)

    # a genuinely varying history produces a finite z for the spike
    rows2 = [("c", i, float(v)) for i, v in enumerate([10, 12, 8, 11, 100])]
    df2 = spark.createDataFrame(rows2, "k string, o int, v double")
    z = {
        r["o"]: r for r in rolling_zscore(
            df2, "k", "o", "v", window_rows=4, min_periods=2
        ).collect()
    }
    assert z[4]["zscore"] > 3 and z[4]["is_anomaly"] is True
    assert z[3]["is_anomaly"] is False


def test_cohort_retention_triangle(spark):
    from pypeman_spark.functions.stats import cohort_retention

    # week of 2026-01-05 (Mon): users 1,2 start; user 1 returns the
    # next week; user 3 starts the next week
    rows = [
        (1, dt.datetime(2026, 1, 6, 10)),
        (2, dt.datetime(2026, 1, 7, 11)),
        (1, dt.datetime(2026, 1, 13, 9)),   # week offset 1
        (1, dt.datetime(2026, 1, 14, 9)),   # same week, counted once
        (3, dt.datetime(2026, 1, 15, 8)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {
        (r["cohort_week"], r["week_offset"]): r["n_users"]
        for r in cohort_retention(df, "user_id", "ts").collect()
    }
    w1, w2 = dt.date(2026, 1, 5), dt.date(2026, 1, 12)
    assert out == {(w1, 0): 2, (w1, 1): 1, (w2, 0): 1}


def test_minhash_index_probe_incremental(spark):
    """Incremental dedup primitives: the index rows carry the full
    signature, the probe finds exact copies at 16/16 agreement and
    unrelated docs below threshold, and band hashes match the batch
    minhash_bands recipe exactly (one index serves both paths)."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again"),
            (2, "pack my box with five dozen liquor jugs tonight ok"),
            (3, "completely different text about spark partitions"),
        ],
        "doc_id long, text string",
    )
    idx = D.minhash_index(docs)
    # 4 bands per doc, signature carried on every row
    rows = idx.collect()
    assert len(rows) == 12
    assert all(len(r["sig"]) == 16 for r in rows)
    # band hashes agree with the batch-path recipe
    bb = {(r["doc_id"], r["band"]): r["band_hash"]
          for r in D.minhash_bands(docs).collect()}
    assert all(bb[(r["doc_id"], r["band"])] == r["band_hash"] for r in rows)
    # probe: doc 101 is an exact copy of 1, doc 102 is novel
    new = spark.createDataFrame(
        [
            (101, "the quick brown fox jumps over the lazy dog again"),
            (102, "nothing like anything indexed before at all here"),
        ],
        "doc_id long, text string",
    )
    hits = D.minhash_probe(new, idx).collect()
    assert [(r["new_id"], r["hist_id"], r["n_agree"]) for r in hits] == [
        (101, 1, 16)
    ]
    # threshold sweep: min_agree above 16 excludes even exact copies
    assert D.minhash_probe(new, idx, min_agree=17).count() == 0
    # empty new batch: no candidates, no errors
    assert D.minhash_probe(new.limit(0), idx).count() == 0


def test_minhash_probe_near_duplicate_partial_agreement(spark):
    """A lightly edited copy agrees on SOME signature components:
    0 < n_agree < 16, and min_agree gates it in or out."""
    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike november oscar papa quebec romeo")
    edited = base.replace("echo", "zulu").replace("papa", "yankee")
    hist = spark.createDataFrame([(1, base)], "doc_id long, text string")
    new = spark.createDataFrame([(9, edited)], "doc_id long, text string")
    idx = D.minhash_index(hist)
    got = D.minhash_probe(new, idx, min_agree=1).collect()
    if got:  # band collision is probabilistic; agreement count is not
        (r,) = got
        assert 0 < r["n_agree"] < 16
        assert D.minhash_probe(new, idx, min_agree=r["n_agree"] + 1).count() == 0


def _clustered_vecs(spark, centers, per_cluster, id_base, dim=8):
    """Deterministic clustered vectors: center axis +1/-1 plus a small
    id-dependent jitter on every component."""
    import hashlib

    rows = []
    i = id_base
    for sign, axis in centers:
        for _ in range(per_cluster):
            # md5-derived jitter: deterministic but UNSTRUCTURED per
            # (id, dim) — any linear/periodic pattern makes a query's
            # nearest neighbors share its cell assignment and masks
            # the drift this fixture exists to create
            v = [
                (int(hashlib.md5(
                    f"{i}:{j}".encode()
                ).hexdigest()[:8], 16) % 1000 - 500) * 0.0004
                for j in range(dim)
            ]
            v[axis] += 2.0 * sign
            rows.append((i, v))
            i += 1
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def _recall(spark, path, emb, queries, k=5, nprobe=1):
    from pypeman_spark.functions import similarity as S

    exact = {}
    for r in S.cosine_topk(emb, queries, k=k).collect():
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])
    got = {}
    for r in S.ivf_probe(spark, path, queries, k=k, nprobe=nprobe).collect():
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    return sum(
        len(got.get(q, set()) & hits) / len(hits)
        for q, hits in exact.items()
    ) / len(exact)


def test_ivf_staleness_gauges_and_rebuild_trigger(spark, tmp_path):
    """ivf_index_append freezes the coarse quantizer, so recall decays
    silently as the appended distribution drifts. The gauges must
    expose that (appended_fraction, cell_skew), ivf_index_maintain
    must fire past the threshold and NOT before, and the rebuilt index
    must restore recall on drifted queries (measured against exact
    cosine over the same corpus)."""
    from pypeman_spark.functions import similarity as S

    # build: 3 clusters on +e0,+e1,+e2; drifted appends: -e0,-e1,-e2
    build = _clustered_vecs(
        spark, [(1, 0), (1, 1), (1, 2)], per_cluster=20, id_base=0
    )
    drifted = _clustered_vecs(
        spark, [(-1, 0), (-1, 1), (-1, 2)], per_cluster=40, id_base=100
    )
    path = str(tmp_path / "ivf")
    S.ivf_index_write(
        build, path,
        centroids=S.kmeans_centroids(build, 3, seed=7, max_iter=10),
    )
    g0 = S.ivf_index_gauges(spark, path)
    assert g0["n_build"] == 60 and g0["appended_fraction"] == 0.0
    # below-threshold append: maintain must NOT rebuild
    S.ivf_index_append(spark, path, drifted.filter(F.col("vec_id") < 110))
    out = S.ivf_index_maintain(spark, path, max_appended_fraction=0.5,
                               max_cell_skew=100.0)
    assert out["rebuilt"] is False
    assert out["before"]["appended_fraction"] == round(10 / 60, 4)
    # the rest of the drift arrives: 2x the build set, frozen centroids
    S.ivf_index_append(spark, path, drifted.filter(F.col("vec_id") >= 110))
    g1 = S.ivf_index_gauges(spark, path)
    assert g1["n_total"] == 180 and g1["appended_fraction"] == 2.0
    emb = build.unionByName(drifted)
    queries = _clustered_vecs(
        spark, [(-1, 0), (-1, 1), (-1, 2)], per_cluster=2, id_base=900
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    stale = _recall(spark, path, emb, queries, k=5, nprobe=1)
    out = S.ivf_index_maintain(
        spark, path, max_appended_fraction=0.5, max_cell_skew=100.0,
        n_centroids=6, seed=7,
    )
    assert out["rebuilt"] is True
    assert "appended_fraction" in out["reason"]
    assert out["after"]["appended_fraction"] == 0.0
    assert out["after"]["n_build"] == 180
    # 6 refit cells separate the drifted clusters the 3 frozen build
    # cells crammed together. KMeans|| init varies with the session's
    # partitioning, so the single-cell probe may land 0.85-1.0; the
    # robust assertions are recovery over stale at equal nprobe and a
    # hard bar at nprobe=2 (one extra probed cell absorbs an unlucky
    # split)
    rebuilt = _recall(spark, path, emb, queries, k=5, nprobe=1)
    assert rebuilt > stale + 0.1
    assert _recall(spark, path, emb, queries, k=5, nprobe=2) >= 0.9
    # probe layout still partition-pruned and healthy after the swap
    assert S.ivf_probe(spark, path, queries, k=5, nprobe=1).count() == 30
    # converged: a second maintain pass is a no-op
    assert S.ivf_index_maintain(
        spark, path, max_appended_fraction=0.5, max_cell_skew=100.0
    )["rebuilt"] is False


def test_ivfpq_staleness_rebuild_refits_both_stages(spark, tmp_path):
    """ivfpq_index_append freezes the coarse quantizer AND the
    residual codebooks; ivfpq_index_maintain must re-fit both past the
    threshold, keep the PQ geometry from the build metadata, restore
    drifted-query recall, and stay probe-compatible after the swap."""
    from pypeman_spark.functions import similarity as S

    build = _clustered_vecs(
        spark, [(1, 0), (1, 1), (1, 2)], per_cluster=20, id_base=0
    )
    drifted = _clustered_vecs(
        spark, [(-1, 0), (-1, 1), (-1, 2)], per_cluster=40, id_base=100
    )
    path = str(tmp_path / "ivfpq")
    S.ivfpq_index_write(
        build, path, m=4, n_codes=8, dim=8,
        centroids=S.kmeans_centroids(build, 3, seed=7, max_iter=10),
    )
    # below threshold: no rebuild
    S.ivfpq_index_append(spark, path, drifted.filter(F.col("vec_id") < 110))
    assert S.ivfpq_index_maintain(
        spark, path, max_appended_fraction=0.5, max_cell_skew=100.0
    )["rebuilt"] is False
    S.ivfpq_index_append(spark, path, drifted.filter(F.col("vec_id") >= 110))
    g = S.ivf_index_gauges(spark, path)
    assert g["appended_fraction"] == 2.0 and g["n_total"] == 180
    emb = build.unionByName(drifted)
    queries = _clustered_vecs(
        spark, [(-1, 0), (-1, 1), (-1, 2)], per_cluster=2, id_base=900
    ).select(F.col("vec_id").alias("query_id"), "embedding")

    def pq_recall(k=5, nprobe=1):
        exact, got = {}, {}
        for r in S.cosine_topk(emb, queries, k=k).collect():
            exact.setdefault(r["query_id"], set()).add(r["vec_id"])
        for r in S.ivfpq_probe(
            spark, path, queries, k=k, nprobe=nprobe, rerank=True
        ).collect():
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        return sum(
            len(got.get(q, set()) & h) / len(h) for q, h in exact.items()
        ) / len(exact)

    out = S.ivfpq_index_maintain(
        spark, path, max_appended_fraction=0.5, max_cell_skew=100.0,
        n_centroids=6, seed=7,
    )
    assert out["rebuilt"] is True
    assert out["after"]["appended_fraction"] == 0.0
    # geometry preserved through the rebuild: codes still m=4 x 8
    meta_m = S._read_ivf_meta(path)
    assert (meta_m["m"], meta_m["n_codes"], meta_m["dim"]) == (4, 8, 8)
    books = S._load_codebooks(spark, path)
    assert len(books) == 4 and len(books[0]) == 8
    # the rebuilt composed index answers probes with high recall on
    # the drifted queries (re-rank makes this robust to PQ error)
    assert pq_recall(k=5, nprobe=2) >= 0.8
    # a second maintain pass is a no-op
    assert S.ivfpq_index_maintain(
        spark, path, max_appended_fraction=0.5, max_cell_skew=100.0
    )["rebuilt"] is False


def test_bm25_narrow_form_matches_explode_reference(spark, sf_dir):
    """The single-pass narrow BM25 (one aggregate over the token array,
    no explode, no (doc, term) shuffle) must score and rank exactly
    like the straightforward explode + groupBy formulation it
    replaced — including a duplicated query term (counted once) and a
    term matching no document (contributes nothing)."""
    from pyspark.sql.window import Window
    from pypeman_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    query = ["hash", "join", "hash", "zzz_nowhere"]
    k1, b, k = 1.2, 0.75, 15

    got = TX.bm25_topk(docs, query, k=k, k1=k1, b=b).collect()

    # independent reference: explode-based tf/df, double arithmetic
    words = F.split(F.trim(F.col("text")), "\\s+")
    dl = docs.select("doc_id", F.size(words).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    n_docs, avgdl = stats["n"], stats["avgdl"]
    tf = (
        docs.select(
            "doc_id", F.explode(words).alias("term")
        )
        .filter(F.col("term").isin(list(dict.fromkeys(query))))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = {
        r["term"]: r["df"]
        for r in tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    }
    contrib = (
        tf.join(dl, "doc_id")
        .withColumn(
            "c",
            F.round(
                F.log(
                    1.0
                    + (
                        F.lit(n_docs)
                        - F.udf(lambda t: dfreq[t], "long")("term")
                        + 0.5
                    )
                    / (F.udf(lambda t: dfreq[t], "long")("term") + 0.5)
                )
                * F.col("tf")
                * (k1 + 1.0)
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (1.0 - b + F.lit(b) * F.col("dl") / F.lit(avgdl))
                )
                * 1e6,
                0,
            ).cast("long"),
        )
    )
    scored = contrib.groupBy("doc_id").agg(F.sum("c").alias("score_micro"))
    win = Window.orderBy(F.desc("score_micro"), F.asc("doc_id"))
    want = (
        scored.orderBy(F.desc("score_micro"), F.asc("doc_id"))
        .limit(k)
        .withColumn("rank", F.row_number().over(win))
        .select("doc_id", "score_micro", "rank")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) == k


def test_minhash_fold_matches_aggregation_reference(spark, sf_dir):
    """r14 narrow-fold signatures: the zero-shuffle per-row fold
    (dedup._minhash_sig_sql) must equal the explode + groupBy + K
    min() formulation element by element on real testdata, including
    a null-text doc (all-null signature, not a dropped row) and a
    doc shorter than the shingle window."""
    from pypeman_spark.sources.tables import load_table

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .limit(150)
        .unionByName(
            spark.createDataFrame(
                [(900001, None), (900002, "two words")],
                "doc_id long, text string",
            )
        )
    )
    got = {
        r["doc_id"]: list(r["sig"])
        for r in D.minhash_signature(docs).collect()
    }
    sh = D.shingles(docs)
    ref = {
        r["doc_id"]: [r[f"h{i}"] for i in range(16)]
        for r in sh.groupBy("doc_id")
        .agg(
            *[
                F.expr(f"min(md5(concat('{i}:', shingle)))").alias(f"h{i}")
                for i in range(16)
            ]
        )
        .collect()
    }
    assert got == ref
    assert got[900001] == [None] * 16  # null text -> all-null signature
    # bands derive from the same signature (no separate hash path)
    bands = {
        (r["doc_id"], r["band"]): r["band_hash"]
        for r in D.minhash_bands(docs).collect()
    }
    idx = {
        (r["doc_id"], r["band"]): r["band_hash"]
        for r in D.minhash_index(docs).collect()
    }
    assert bands == idx


def test_simhash_fold_matches_aggregation_reference(spark, sf_dir):
    """r14 narrow-fold simhash: the per-row ±1 fold must equal the
    explode + per-bit sum() formulation, and a null-text doc is
    dropped exactly as explode dropped it."""
    from pypeman_spark.sources.tables import load_table

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .limit(150)
        .unionByName(
            spark.createDataFrame([(900001, None)], "doc_id long, text string")
        )
    )
    got = {r["doc_id"]: r["simhash"] for r in D.simhash(docs).collect()}
    toks = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.trim(F.lower(F.col("text"))), "\\s+"))
        ).alias("tok"),
    )
    h = F.md5(F.col("tok"))
    sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.lit("02468ace").contains(F.substring(h, b + 1, 1)),
                    F.lit(1),
                ).otherwise(F.lit(-1))
            ).alias(f"s{b}")
            for b in range(16)
        ]
    )
    ref = {}
    for r in sums.collect():
        ref[r["doc_id"]] = sum(
            (1 << b) for b in range(16) if r[f"s{b}"] > 0
        )
    assert got == ref
    assert 900001 not in got  # null text dropped, as with explode


def test_codec_roundtrip_fusion_matches_chained(spark, sf_dir):
    """r14 fused encode→decode: one mapInPandas pass must yield rows
    identical to the chained raw_rgb_to_{png,jpeg} →
    decode_{png,jpeg}_features pipeline, including the null routing
    for a wrong-length payload."""
    from pypeman_spark.functions import multimodal as MM
    from pypeman_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    m = F.upper(F.md5(F.col("text")))
    qa, qb = F.unhex(F.substring(m, 1, 6)), F.unhex(F.substring(m, 7, 6))
    row = F.concat(*([qa] * 4 + [qb] * 4))
    pixels = F.concat(*([row] * 8))
    raw = d.select("doc_id", pixels.alias("content")).unionByName(
        spark.createDataFrame(
            [(900001, b"short")], "doc_id long, content binary"
        )
    )
    for codec in ("png", "jpeg"):
        fused = sorted(
            map(
                tuple,
                MM.rgb_codec_roundtrip_features(
                    raw, codec, 8, 8, grid=2
                ).collect(),
            )
        )
        if codec == "png":
            enc = MM.raw_rgb_to_png(raw, 8, 8)
            chained_df = MM.decode_png_features(enc, grid=2)
        else:
            enc = MM.raw_rgb_to_jpeg(raw, 8, 8)
            chained_df = MM.decode_jpeg_features(enc, grid=2)
        chained = sorted(map(tuple, chained_df.collect()))
        assert fused == chained
        # the wrong-length payload routes to null features either way
        bad = [t for t in fused if t[0] == 900001]
        assert bad == [(900001, None, None, None)]


def test_ivf_assign_residual_col_matches_reference(spark, sf_dir):
    """r15 fused assign+residual: carrying the winning centroid's
    vector in the argmax struct must give bit-identical (cid, residual)
    to the reference two-step shape (assign, then re-look the centroid
    up in a second embedded literal array)."""
    from pypeman_spark.functions import similarity as S
    from pypeman_spark.sources.tables import load_table

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 64)
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    )
    head = (
        emb.orderBy("vec_id").limit(8)
        .select(F.col("vec_id").alias("__id"), F.col("embedding").alias("__v"))
        .collect()
    )
    cent_rows = [
        {"cid": r["__id"], "cv": [float(x) for x in r["__v"]]} for r in head
    ]
    fused = S.ivf_assign(emb, cent_rows, residual_col="__r")
    ref = S.ivf_assign(emb, cent_rows).withColumn(
        "__r",
        F.expr(S._residual_sql(
            "`embedding`", S._centroid_array_sql(cent_rows), "`cid`"
        )),
    )
    # exact compare on raw doubles, both directions
    assert fused.exceptAll(ref).count() == 0
    assert ref.exceptAll(fused).count() == 0
