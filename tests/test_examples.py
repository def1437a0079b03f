"""The shipped example project runs end-to-end (reference
`examples/some_activity/project.py` parity)."""

import sys


def test_example_project_ticks(spark, tmp_path):
    sys.path.insert(0, "examples")
    try:
        import project as ex
    finally:
        sys.path.pop(0)
    watch = tmp_path / "in"
    watch.mkdir()
    (watch / "hello.txt").write_text("hi")
    (watch / "skip.bin").write_text("no")
    reg = ex.build_project(spark, str(tmp_path / "stores"), str(watch))
    assert sorted(reg.names()) == ["periodic", "watch_txt"]
    assert ex.run_periodic_tick(spark, reg) == 1
    assert ex.run_watch_tick(spark, reg, str(watch)) == 1
    store = reg.get("watch_txt").message_store
    row = store.search(text="hi").collect()[0]
    assert row["state"] == "processed"
    assert row["meta"]["filename"] == "hello.txt"


def test_corpus_pipeline_example_funnel(spark, tmp_path, sf_dir):
    from pyspark.sql import functions as F
    from pypeman_spark.sources.tables import load_table

    sys.path.insert(0, "examples")
    try:
        import corpus_pipeline as cp
    finally:
        sys.path.pop(0)

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 7)
    bench = docs.filter(F.col("doc_id") % 10 == 7)
    out = str(tmp_path / "shards")
    counts = cp.build_corpus(
        corpus, bench, {"src0": 0.5, "src1": 0.5}, out, n_shards=2
    )
    # monotone funnel through the dedup/decontam stages
    assert counts["input"] >= counts["quality"] >= counts["exact_dedup"]
    assert counts["exact_dedup"] >= counts["fuzzy_dedup"] >= counts["decontaminated"]
    assert counts["mixture"] <= counts["decontaminated"]
    assert counts["chunks"] >= counts["mixture"] > 0
    # shards read back complete and carry chunk metadata
    back = spark.read.parquet(out)
    assert back.count() == counts["chunks"]
    assert {"chunk_text", "n_tokens", "shard", "source", "split"} <= set(
        back.columns
    )
    assert back.select("shard").distinct().count() == 2
    # leakage guard: a doc's chunks all carry one split, and splits come
    # from the known set
    per_doc = back.groupBy("doc_id").agg(
        F.count_distinct("split").alias("n")
    )
    assert per_doc.filter("n > 1").count() == 0
    splits = {r["split"] for r in back.select("split").distinct().collect()}
    assert splits <= {"train", "val", "test"}


def test_incremental_corpus_example(spark, tmp_path, sf_dir):
    """Incremental ingestion: batch 2's re-keyed copies of batch 1
    docs are caught by the PERSISTED index (never re-reading the
    corpus), genuinely new docs land, and a retried batch is
    exactly-once (txn markers on both appends)."""
    from pyspark.sql import functions as F
    from pypeman_spark.sources.tables import load_table
    from pypeman_spark.store.txtable import TxTable

    sys.path.insert(0, "examples")
    try:
        import incremental_corpus as ic
    finally:
        sys.path.pop(0)

    corpus = TxTable(spark, str(tmp_path / "corpus"),
                     key_cols=["doc_id"], n_buckets=4)
    index = TxTable(spark, str(tmp_path / "idx"),
                    key_cols=["doc_id", "band"], n_buckets=4)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    b1 = docs.filter(F.col("doc_id") < 100)
    s1 = ic.ingest_batch(b1, corpus, index, batch_id=1)
    assert s1["ingested"] == s1["after_self_dedup"] > 0
    n1 = corpus.count()
    b2 = (
        docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 150))
        .unionByName(
            b1.filter(F.col("doc_id") % 5 == 0)
            .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
        )
    )
    s2 = ic.ingest_batch(b2, corpus, index, batch_id=2)
    # every re-keyed copy was caught by the index probe
    assert s2["ingested"] <= 50
    assert corpus.count() == n1 + s2["ingested"]
    # retried batch: exactly-once, nothing doubles
    s2r = ic.ingest_batch(b2, corpus, index, batch_id=2)
    assert s2r["ingested"] == 0
    assert corpus.count() == n1 + s2["ingested"]
    # the index stays consistent with the corpus (4 bands per doc)
    assert index.count() == corpus.count() * 4


def test_ann_search_example(spark, tmp_path, sf_dir):
    from pyspark.sql import functions as F
    from pypeman_spark.sources.tables import load_table

    sys.path.insert(0, "examples")
    try:
        import ann_search as ex
    finally:
        sys.path.pop(0)

    corpus = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = corpus.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path = str(tmp_path / "index")
    # deterministic centroids in the test (KMeans path covered in
    # test_scale_ops); the example's fitted path is the same plumbing
    ex.build_index(corpus, path, fitted=False)
    hits = ex.search(spark, path, queries, k=5, nprobe=2).collect()
    assert len(hits) == 25
    assert all(r["vec_id"] == r["query_id"] for r in hits if r["rank"] == 1)
    r = ex.recall_vs_exact(spark, path, corpus, queries, k=5, nprobe=2)
    assert 0.0 < r <= 1.0


def test_warehouse_pipeline_example(spark, sf_dir):
    sys.path.insert(0, "examples")
    try:
        import warehouse_pipeline as wp
    finally:
        sys.path.pop(0)

    out = wp.build(spark, sf_dir)
    report = {
        r["rule"]: r["n_violations"] for r in out["quality_report"].collect()
    }
    assert set(report) == {"value_in_range", "user_present", "type_known"}
    assert all(v == 0 for v in report.values())  # synthetic data is clean
    assert out["quarantine"].count() == 0
    # hourly grid: generated cells marked, values forward-filled
    hourly = out["hourly"]
    assert hourly.filter("value IS NULL AND n_events > 0").count() == 0
    # SCD2: purchasing users gained a 'buyer' version, and (except the
    # same-timestamp tie where the user's FIRST event is the purchase,
    # where attr order puts 'buyer' before 'new') it is the open one
    hist = out["dim_history"]
    buyers = hist.filter("segment = 'buyer'")
    assert buyers.count() > 0
    assert buyers.filter("is_current").count() > 0
    closed_new = hist.filter("segment = 'new' AND valid_to IS NOT NULL")
    assert closed_new.count() > 0
    # funnel depths within bounds; reach estimates positive
    from pyspark.sql import functions as F
    depths = out["funnel"].agg(F.max("n_completed")).collect()[0][0]
    assert 1 <= depths <= 3
    assert out["reach"].filter("n_distinct_est <= 0").count() == 0
