"""Round-2 registry additions: scale-path joins, sequence packing,
sub-document dedup, corpus scrubbing, native session windows, and
streaming dedup — each with an exact DuckDB oracle.

These widen two axes the reference never had but a 100 TB training-data
pipeline needs (SURVEY §7.3 "custom operators"): non-equi joins made
shuffle-friendly, and sequential-semantics operators (packing) isolated
into per-shard Arrow tasks.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import Window, functions as F

from ..functions import dedup as D
from ..functions import text as TX
from ..functions.joins import asof_join, range_join
from ..functions.packing import greedy_pack
from ..functions.timeutils import epoch_us
from ..streaming.drain import await_stream
from ..streaming.rollup import ContinuousRollup
from ..streaming.stateful import session_window_counts, stream_dedup
from .queries import q, t, tp

_WS = "\\s+"


def _line8_idx(w):
    """Indices of a word array's 8-word lines, empty array for empty
    text. A bare ``sequence(0, n_lines - 1)`` DESCENDS to ``[0, -1]``
    when the doc has zero words (Spark infers step -1), while the
    oracle's ``generate_series(0, -1)`` is empty — guard the branch so
    an empty/whitespace-only doc can never diverge the two engines."""
    n = F.ceil(F.size(w) / F.lit(8.0)).cast("int")
    return F.when(n > 0, F.sequence(F.lit(0), n - 1)).otherwise(
        F.array().cast("array<int>")
    )


# =====================================================================
# Corpus scrubbing / quality (LLM-pipeline text ops, round 2)
# =====================================================================

@q(
    "duplicate_passages",
    f"""
    WITH words AS (
      SELECT doc_id, string_split_regex(trim(text), '{_WS}') AS w FROM documents
    ),
    pos AS (
      SELECT doc_id, w,
             unnest(list_filter(generate_series(0, greatest(len(w) - 1, 0), 4),
                                i -> i + 8 <= len(w))) AS i
      FROM words
    ),
    p AS (
      SELECT doc_id, md5(array_to_string(w[i+1:i+8], ' ')) AS passage_hash FROM pos
    )
    SELECT passage_hash, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
    FROM p GROUP BY passage_hash HAVING count(*) > 1
    """,
)
def duplicate_passages_q(spark, sf_dir):
    """Sub-document exact dedup: strided 8-word windows repeated anywhere
    in the corpus (functions/dedup.py:duplicate_passages)."""
    return D.duplicate_passages(
        tp(spark, sf_dir, "documents"), words=8, stride=4
    )


@q(
    "pack_and_chunk_documents",
    f"""
    WITH RECURSIVE docs AS (
      SELECT doc_id, doc_id % 8 AS shard,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS ws_tokens,
             row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
      FROM documents
    ),
    walk(shard, rn, doc_id, ws_tokens, pack_id, fill) AS (
      SELECT shard, rn, doc_id, ws_tokens, CAST(0 AS BIGINT), ws_tokens
      FROM docs WHERE rn = 1
      UNION ALL
      SELECT d.shard, d.rn, d.doc_id, d.ws_tokens,
             CASE WHEN w.fill + d.ws_tokens > 256 THEN w.pack_id + 1 ELSE w.pack_id END,
             CASE WHEN w.fill + d.ws_tokens > 256 THEN d.ws_tokens ELSE w.fill + d.ws_tokens END
      FROM docs d JOIN walk w ON d.shard = w.shard AND d.rn = w.rn + 1
    ),
    words AS (
      SELECT doc_id, string_split_regex(trim(text), '{_WS}') AS w
      FROM documents
    ),
    chunks AS (
      SELECT doc_id,
             unnest(generate_series(0,
               greatest(CAST(ceil((len(w) - 32) / 24) AS INT), 0))) AS chunk_idx,
             w
      FROM words
    )
    SELECT 'pack' AS mode, doc_id, CAST(shard AS BIGINT) AS k,
           ws_tokens AS n_tokens, pack_id,
           CAST(NULL AS VARCHAR) AS chunk_hash
    FROM walk
    UNION ALL
    SELECT 'chunk', doc_id, CAST(chunk_idx AS BIGINT),
           CAST(least(len(w) - chunk_idx*24, 32) AS BIGINT),
           CAST(NULL AS BIGINT),
           md5(array_to_string(w[chunk_idx*24 + 1 : chunk_idx*24 + 32], ' '))
    FROM chunks
    """,
)
def pack_and_chunk_documents(spark, sf_dir):
    """Both sequence-shaping operators in one entry (r6 consolidation
    of greedy_pack_sequences + chunk_documents_windows — both
    machineries kept).

    Arm ``pack``: training-sequence packing (functions/packing.py:
    greedy_pack) — hash-shard the corpus, pack each shard greedily in
    doc order to a 256-token budget. The oracle is a per-shard
    recursive CTE: the same inherently-sequential recurrence the
    per-shard Arrow task runs, re-derived relationally.

    Arm ``chunk``: fixed-token chunking with overlap
    (functions/packing.py:chunk_documents) — 32-token windows, 8-token
    overlap (stride 24), the pre-tokenization split of long docs into
    training-length pieces. One explode, no Python, no shuffle: at
    100 TB the chunk arm is a narrow map while only the pack arm pays
    its per-shard applyInPandas."""
    from ..functions.packing import chunk_documents

    d = tp(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 8).alias("shard"),
        TX.whitespace_token_count(F.col("text")).cast("long").alias("ws_tokens"),
    )
    pack = greedy_pack(
        d, token_col="ws_tokens", budget=256, order_col="doc_id", shard_col="shard"
    ).select(
        F.lit("pack").alias("mode"),
        "doc_id",
        F.col("shard").cast("long").alias("k"),
        F.col("ws_tokens").cast("long").alias("n_tokens"),
        F.col("pack_id").cast("long").alias("pack_id"),
        F.lit(None).cast("string").alias("chunk_hash"),
    )
    chunk = chunk_documents(
        tp(spark, sf_dir, "documents"), max_tokens=32, overlap=8
    ).select(
        F.lit("chunk").alias("mode"),
        "doc_id",
        F.col("chunk_idx").cast("long").alias("k"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.lit(None).cast("long").alias("pack_id"),
        F.md5(F.col("chunk_text")).alias("chunk_hash"),
    )
    return pack.unionByName(chunk)


# (multimodal_resize / multimodal_audio_resample were consolidated into
# queries.py:multimodal_pipeline in round 4 — one registry entry now
# drives all four multimodal surfaces, so a fixed-size driver sample
# attests more distinct machinery.)


# =====================================================================
# Additional TPC-H shapes (Q9 profit, Q21 multi-correlated exists)
# =====================================================================

@q(
    "product_profit_by_nation_year",
    """
    SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
           round(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                       * (100 - CAST(round(l.l_discount * 100) AS BIGINT))
                     - CAST(round(p.p_retailprice * 100) AS BIGINT)
                       * CAST(l.l_quantity AS BIGINT) * 10
                    ) / 10000.0, 4) AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY n.n_name, year(o.o_orderdate)
    """,
)
def product_profit_by_nation_year(spark, sf_dir):
    """TPC-H Q9 shape: 5-way join with an expression-heavy profit
    aggregate, grouped by supplier nation × order year (the corpus has
    no partsupp table, so supply cost is modeled off p_retailprice).
    Dims (part-filtered, supplier, nation) broadcast; the one shuffle is
    the final groupBy.

    The money math runs in exact integer 10^-4-dollar units (prices are
    2 dp, quantities integral) so the big grouped sum is
    order-independent and engine-exact — a float sum of 100k+ products
    can land within 1e-8 of a half-cent and round differently per
    engine; decimal-cents aggregation is also the right call at 100 TB
    where partial-agg merge order is nondeterministic."""
    l = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = t(spark, sf_dir, "supplier")
    o = t(spark, sf_dir, "orders")
    n = t(spark, sf_dir, "nation")

    def cents(c):
        return F.round(c * 100).cast("long")

    profit_1e4 = cents(F.col("l_extendedprice")) * (
        F.lit(100) - cents(F.col("l_discount"))
    ) - cents(F.col("p_retailprice")) * F.col("l_quantity").cast("long") * 10
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year(F.col("o_orderdate")).alias("o_year"),
        )
        .agg(F.round(F.sum(profit_1e4) / 10000.0, 4).alias("profit"))
    )


@q(
    "sole_returning_supplier",
    """
    WITH multi AS (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING count(DISTINCT l_suppkey) > 1
    ),
    returned AS (
      SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
      WHERE l_returnflag = 'R'
    )
    SELECT s.s_name AS s_name, count(*) AS numwait
    FROM returned r
    JOIN multi m ON m.l_orderkey = r.l_orderkey
    JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE NOT EXISTS (
      SELECT 1 FROM returned r2
      WHERE r2.l_orderkey = r.l_orderkey AND r2.l_suppkey <> r.l_suppkey
    )
    GROUP BY s.s_name
    """,
)
def sole_returning_supplier(spark, sf_dir):
    """TPC-H Q21 shape: suppliers who were the ONLY returning supplier
    on a multi-supplier order (the corpus lacks receipt/commit dates,
    so 'returned' stands in for 'late').

    The oracle keeps the reference EXISTS/NOT-EXISTS formulation; the
    Spark plan exploits that the doubly-correlated test is a per-order
    predicate: "sole returner on a multi-supplier order" ⇔ the order
    has >1 distinct suppliers and exactly 1 distinct RETURNING
    supplier. Two-level aggregation beats both the join formulation
    (3 lineitem shuffles: semi + anti + two distincts) and a
    multi-distinct groupBy (whose Expand doubles every lineitem row):
    level 1 reduces to distinct (order, supplier) pairs with a
    map-side-combined groupBy — the only full-size shuffle — and
    level 2 aggregates the ~4-rows-per-order pair set. No Expand, no
    join ever carries the pair set, and at 100 TB the dominant shuffle
    moves three small columns exactly once."""
    l = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    per_pair = l.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.col("l_returnflag") == "R").alias("__has_r")
    )
    per_order = (
        per_pair.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("__ns"),
            F.sum(F.col("__has_r").cast("int")).alias("__nr"),
            F.min(F.when(F.col("__has_r"), F.col("l_suppkey"))).alias("l_suppkey"),
        )
        .filter((F.col("__ns") > 1) & (F.col("__nr") == 1))
    )
    return (
        per_order.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy(F.col("s_name").alias("s_name"))
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# =====================================================================
# Scale-path non-equi join + window analytics
# =====================================================================

_ASOF_RANGE_ORACLE = """
    WITH p AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase' AND event_id < 2000
    ),
    nv AS (
      SELECT p.event_id AS pid, count(*) AS n_views
      FROM p JOIN events v
        ON v.event_type = 'view'
       AND v.ts >= p.ts AND v.ts < p.ts + INTERVAL 30 MINUTE
      GROUP BY p.event_id
    )
    SELECT p.event_id, p.user_id,
           (SELECT v.event_id FROM events v
             WHERE v.event_type = 'view' AND v.user_id = p.user_id
               AND v.ts < p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
             ORDER BY v.ts DESC, v.event_id DESC LIMIT 1) AS asof_view_id,
           CAST(coalesce(nv.n_views, 0) AS BIGINT) AS n_views
    FROM p LEFT JOIN nv ON nv.pid = p.event_id
"""


def asof_range_join_purchases(spark, sf_dir):
    """Composed non-equi-join pair (consolidates the former
    asof_join_tolerance / range_join_purchase_windows entries — both
    shuffle-friendly rewrites over the same purchase set, so one driver
    check covers both):

    asof_join (functions/joins.py: union-timeline plan, one shuffle on
    user_id, no range explosion) picks each purchase's latest
    strictly-earlier view by the same user within a 1 h tolerance;
    range_join (bucket quantization — the raw point-in-interval
    predicate would compile to a nested-loop join, the bucketed form is
    a plain equi-join) counts the views in the 30 min AFTER the
    purchase. The oracle runs the naive correlated subquery + raw
    interval predicate, proving both rewrites exact (incl. the
    deterministic (ts, id) tie-break)."""
    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("event_id") < 2000)
    ).select("event_id", "user_id", "ts")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    )
    a = asof_join(
        purchases, views, by="user_id", left_ts="ts", right_ts="ts",
        value_cols=["view_id"], strict=True, tolerance="1 HOUR",
    ).select("event_id", "user_id", "asof_view_id")

    windows = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("hi"),
    )
    counts = (
        range_join(
            ev.filter(F.col("event_type") == "view").select("ts"),
            windows, "ts", "lo", "hi", bucket_seconds=1800,
        )
        .groupBy("purchase_id")
        .agg(F.count(F.lit(1)).alias("n_views"))
    )
    return (
        a.join(counts, a["event_id"] == counts["purchase_id"], "left")
        .select(
            "event_id",
            "user_id",
            "asof_view_id",
            F.coalesce("n_views", F.lit(0)).cast("bigint").alias("n_views"),
        )
    )


from .queries import _SALTED_ORACLE, salted_user_event_join_arm  # noqa: E402


@q(
    "salted_user_event_join",
    f"""
    SELECT 'salted' AS mode, user_id, user_total, n_purchases,
           CAST(NULL AS BIGINT) AS event_id,
           CAST(NULL AS BIGINT) AS asof_view_id,
           CAST(NULL AS BIGINT) AS n_views
    FROM ({_SALTED_ORACLE}) os
    UNION ALL
    SELECT 'asof', user_id, NULL, NULL, event_id, asof_view_id, n_views
    FROM ({_ASOF_RANGE_ORACLE}) oa
    """,
)
def salted_user_event_join(spark, sf_dir):
    """Composed event-join suite (r8 consolidation of the former
    salted_user_event_join / asof_range_join_purchases entries — the
    three non-trivial event-join rewrites over the same table, so one
    driver check covers all; each arm's machinery and oracle run
    verbatim, see REGISTRY_CHANGES.md):

    Arm ``salted``: skew-mitigation salted join (fact salted via
    pmod(event_id, 8), dim exploded 8x) proven identical to the
    unsalted join. Arm ``asof``: asof_join's union-timeline plan (one
    shuffle, no range explosion, strict 1 h tolerance) + range_join's
    bucket-quantized interval count — the oracle keeps the naive
    correlated-subquery / raw-interval formulations, proving the
    rewrites exact."""
    sj = salted_user_event_join_arm(spark, sf_dir).select(
        F.lit("salted").alias("mode"),
        "user_id",
        "user_total",
        "n_purchases",
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("long").alias("asof_view_id"),
        F.lit(None).cast("long").alias("n_views"),
    )
    ar = asof_range_join_purchases(spark, sf_dir).select(
        F.lit("asof").alias("mode"),
        "user_id",
        F.lit(None).cast("long").alias("user_total"),
        F.lit(None).cast("long").alias("n_purchases"),
        "event_id",
        "asof_view_id",
        "n_views",
    )
    return sj.unionByName(ar)


@q(
    "cumulative_customer_revenue",
    """
    SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_spend_cents,
           CAST(round(o_totalprice * 100) AS BIGINT)
             - coalesce(lag(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderkey), 0) AS delta_prev_cents
    FROM orders WHERE o_custkey < 300
    """,
)
def cumulative_customer_revenue(spark, sf_dir):
    """Running-total + lag-delta window pair over one partitioning — a
    single shuffle on o_custkey serves both frames. Money in exact
    integer cents (see queries._cents): the running sum is
    order-pinned by the frame, but integer accumulation also kills the
    double rounding drift on long customer histories."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 300)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(cents).over(run).alias("cum_spend_cents"),
        (
            cents - F.coalesce(F.lag(cents).over(w), F.lit(0).cast("long"))
        ).alias("delta_prev_cents"),
    )


from ..functions.layout import zvalue, zvalue_sql  # noqa: E402
from ..functions.sampling import hash_sample, stratified_hash_sample  # noqa: E402

_HB = (
    "CAST('0x' || substring(md5('{salt}:' || CAST({id} AS VARCHAR)), 1, 8) "
    "AS BIGINT) % 1000000"
)


@q(
    "hash_stratified_sample",
    f"""
    SELECT doc_id, lang FROM documents
    WHERE {_HB.format(salt='split1', id='doc_id')} < 300000
      AND {_HB.format(salt='bal', id='doc_id')} <
          CASE WHEN lang = 'en' THEN 200000
               WHEN lang = 'fr' THEN 1000000
               ELSE 500000 END
    """,
)
def hash_stratified_sample(spark, sf_dir):
    """Composed deterministic sampling (consolidates the former
    hash_sampled_docs / stratified_sample_by_lang entries — nested the
    way corpus builds actually use them, which also proves the
    "nestable across fractions" property for real):

    hash_sample (functions/sampling.py:hash_sample) takes a
    content-addressed 30% split — reproducible across engines/re-runs,
    stable under data growth — then stratified_hash_sample
    (:stratified_hash_sample) rebalances languages WITHIN the split
    (keep 20% of English, all French, half of everything else) under an
    independent salt. Both filters compile to pure CASE+hash
    expressions beside the scan: zero shuffle, zero joins."""
    sampled = hash_sample(
        t(spark, sf_dir, "documents"), "doc_id", 0.30, salt="split1"
    )
    return stratified_hash_sample(
        sampled, "doc_id", "lang", {"en": 0.2, "fr": 1.0},
        default=0.5, salt="bal",
    ).select("doc_id", "lang")


@q(
    "bm25_doc_search",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '{_WS}')) AS term
      FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    st AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks
      WHERE term IN ('hash', 'join', 'scan', 'spark')
      GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    contrib AS (
      SELECT tf.doc_id,
             CAST(round(
               ln(1.0 + (st.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl))
               * 1000000.0, 0) AS BIGINT) AS c_micro
      FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id), st
    ),
    scored AS (
      SELECT doc_id, CAST(sum(c_micro) AS BIGINT) AS score_micro
      FROM contrib GROUP BY doc_id
    )
    SELECT doc_id, score_micro,
           CAST(row_number() OVER (
             ORDER BY score_micro DESC, doc_id ASC) AS INT) AS rank
    FROM scored
    ORDER BY score_micro DESC, doc_id ASC
    LIMIT 20
    """,
)
def bm25_doc_search(spark, sf_dir):
    """Okapi BM25 document search (functions/text.py:bm25_topk) —
    the relevance-ranking counterpart of the tfidf arm: score every
    document against a fixed term query ('hash join scan spark'),
    return the top 20. Integer micro-unit scores make the exact
    oracle compare hold by construction (float summation order
    differs between engines). Scale: tokens filtered to the query
    terms BEFORE the per-(doc, term) aggregation, document
    frequencies and corpus scalars broadcast, top-k via TakeOrdered —
    no global sort. Beyond-reference: the reference has no search
    surface at all; basis is the published Okapi BM25 formula with
    Lucene's idf."""
    d = tp(spark, sf_dir, "documents")
    return TX.bm25_topk(
        d, ["hash", "join", "scan", "spark"], "text", "doc_id", k=20
    )


@q(
    "hybrid_rrf_search",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '{_WS}')) AS term
      FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    st AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks
      WHERE term IN ('hash', 'join', 'scan', 'spark')
      GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    contrib AS (
      SELECT tf.doc_id,
             CAST(round(
               ln(1.0 + (st.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl))
               * 1000000.0, 0) AS BIGINT) AS c_micro
      FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id), st
    ),
    bm_scored AS (
      SELECT doc_id, sum(c_micro) AS s FROM contrib GROUP BY doc_id
    ),
    bm AS (
      SELECT doc_id, row_number() OVER (
               ORDER BY s DESC, doc_id ASC) AS rank
      FROM bm_scored ORDER BY s DESC, doc_id ASC LIMIT 50
    ),
    qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings
           WHERE vec_id = 0),
    cos_scored AS (
      SELECT e.vec_id AS doc_id,
             round(list_dot_product(e.embedding::DOUBLE[], qv.v) /
                   (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                          e.embedding::DOUBLE[])) *
                    sqrt(list_dot_product(qv.v, qv.v))), 6) AS s
      FROM embeddings e, qv
    ),
    cos AS (
      SELECT doc_id, row_number() OVER (
               ORDER BY s DESC, doc_id ASC) AS rank
      FROM cos_scored ORDER BY s DESC, doc_id ASC LIMIT 50
    ),
    fused AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS rrf_nano,
             count(*) AS n_systems
      FROM (
        SELECT doc_id,
               CAST(round(1e9 / (60 + rank), 0) AS BIGINT) AS c
        FROM bm
        UNION ALL
        SELECT doc_id,
               CAST(round(1e9 / (60 + rank), 0) AS BIGINT) AS c
        FROM cos
      ) GROUP BY doc_id
    )
    SELECT doc_id, rrf_nano, n_systems,
           CAST(row_number() OVER (
             ORDER BY rrf_nano DESC, doc_id ASC) AS INT) AS rank
    FROM fused ORDER BY rrf_nano DESC, doc_id ASC LIMIT 15
    """,
)
def hybrid_rrf_search(spark, sf_dir):
    """Hybrid retrieval: BM25 lexical top-50 + embedding-cosine
    top-50 fused by Reciprocal Rank Fusion
    (functions/similarity.py:rrf_fuse — Cormack et al., SIGIR'09;
    the standard hybrid-search recipe in Lucene/Elastic/Vespa).
    Integer nano-unit contributions keep the compare exact. Scale:
    both rankings are already top-k-bounded when fused — the fusion
    groupBy touches ≤100 rows regardless of corpus size; the BM25 arm
    filters tokens to the query terms before aggregating and the
    cosine arm broadcasts the single query vector."""
    from ..functions import similarity as S

    d = tp(spark, sf_dir, "documents")
    e = tp(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    bm = TX.bm25_topk(
        d, ["hash", "join", "scan", "spark"], "text", "doc_id", k=50
    ).select("doc_id", "rank")
    q0 = e.filter(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), "embedding"
    )
    cos = S.cosine_topk(e, q0, k=50).select(
        F.col("vec_id").alias("doc_id"), "rank"
    )
    return S.rrf_fuse([bm, cos], "doc_id", k=15)


@q(
    "text_analysis_suite",
    f"""
    WITH words AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '{_WS}')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS nd FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * (ln((n.nd + 1.0) / (dfreq.df + 1.0)) + 1.0), 6) AS score
      FROM tf JOIN dfreq USING (term), n
    ),
    ranked AS (
      SELECT doc_id, term, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term ASC) AS rank
      FROM scored
    ),
    cw AS (
      SELECT doc_id, string_split_regex(trim(text), '{_WS}') AS w
      FROM documents
    ),
    lined AS (
      SELECT doc_id,
             array_to_string(list_transform(
               generate_series(0, CAST(ceil(len(w) / 8.0) AS INT) - 1),
               i -> array_to_string(w[i*8 + 1 : i*8 + 8], ' ')), chr(10)) AS t
      FROM cw
    ),
    kept AS (
      SELECT doc_id,
             coalesce(array_to_string(list_filter(
               string_split(t, chr(10)),
               l -> len(string_split_regex(trim(l), '{_WS}')) >= 4
                    AND list_has_any(
                          list_transform(string_split_regex(trim(l), '{_WS}'),
                                         x -> lower(x)),
                          ['the', 'a'])), chr(10)), '') AS cleaned
      FROM lined
    ),
    aug AS (
      SELECT doc_id, cleaned,
             cleaned || ' contact user' || CAST(doc_id AS VARCHAR)
                     || '@example.com or https://ex' || CAST(doc_id AS VARCHAR)
                     || '.org/p?q=1 done' AS t
      FROM kept
    ),
    scr AS (
      SELECT doc_id,
             CASE WHEN cleaned = '' THEN 0
                  ELSE len(string_split(cleaned, chr(10))) END AS n_kept,
             len(regexp_extract_all(t, '{TX.URL_REGEX}')) AS n_urls,
             len(regexp_extract_all(t, '{TX.EMAIL_REGEX}')) AS n_emails,
             regexp_replace(
               regexp_replace(t, '{TX.URL_REGEX}', '<URL>', 'g'),
               '{TX.EMAIL_REGEX}', '<EMAIL>', 'g') AS s
      FROM aug
    ),
    rep AS (
      SELECT doc_id, n_kept, n_urls, n_emails, md5(s) AS scrubbed_hash,
             round(1.0 - len(list_distinct(string_split_regex(trim(s), '{_WS}')))::DOUBLE
                       / len(string_split_regex(trim(s), '{_WS}')), 6) AS rep_ratio
      FROM scr
    )
    SELECT 'tfidf' AS mode, doc_id, term, score, CAST(rank AS INT) AS rank,
           CAST(NULL AS BIGINT) AS n_kept, CAST(NULL AS BIGINT) AS n_urls,
           CAST(NULL AS BIGINT) AS n_emails,
           CAST(NULL AS VARCHAR) AS scrubbed_hash,
           CAST(NULL AS DOUBLE) AS rep_ratio, CAST(NULL AS BOOLEAN) AS keep
    FROM ranked WHERE rank <= 3
    UNION ALL
    SELECT 'clean', doc_id, CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE),
           CAST(NULL AS INT), n_kept, n_urls, n_emails, scrubbed_hash,
           rep_ratio, rep_ratio <= 0.7
    FROM rep
    """,
)
def text_analysis_suite(spark, sf_dir):
    """Composed text-analysis surface (r6 consolidation of
    tfidf_top_terms + clean_scrub_repetition — all four machineries
    kept, one driver check attests them together).

    Arm ``tfidf``: per-document characteristic terms by smoothed
    TF-IDF (functions/text.py:tfidf_top_terms) — per-doc term counts,
    corpus document frequencies, top-3 per doc via WindowGroupLimit.

    Arm ``clean``: the text-hygiene chain — clean_lines
    (functions/text.py:187) cuts docs into deterministic 8-word lines
    and drops lines with <4 words or no required stopword; a
    deterministic contact string is appended and scrub_pii (:106)
    replaces the URL/email with placeholders (count columns prove the
    regexes matched); word_repetition_ratio (:118) scores the scrubbed
    text and materializes the keep/cut decision. Pure Column
    expressions end to end — zero shuffle, zero UDFs; at 100 TB this
    arm is a single narrow map over the corpus scan, unioned beside
    the tfidf aggregation without adding an exchange."""
    from ..functions.text import clean_lines

    d = tp(spark, sf_dir, "documents")
    tfidf = TX.tfidf_top_terms(d, "text", "doc_id", k=3).select(
        F.lit("tfidf").alias("mode"),
        "doc_id", "term", "score", "rank",
        F.lit(None).cast("long").alias("n_kept"),
        F.lit(None).cast("long").alias("n_urls"),
        F.lit(None).cast("long").alias("n_emails"),
        F.lit(None).cast("string").alias("scrubbed_hash"),
        F.lit(None).cast("double").alias("rep_ratio"),
        F.lit(None).cast("boolean").alias("keep"),
    )
    w = F.split(F.trim(F.col("text")), _WS)
    lined = F.array_join(
        F.transform(
            _line8_idx(w),
            lambda i: F.array_join(F.slice(w, i * 8 + 1, 8), " "),
        ),
        "\n",
    )
    cleaned = clean_lines(lined, min_words=4, required_words=["the", "a"])
    aug = d.select("doc_id", cleaned.alias("__cleaned")).select(
        "doc_id",
        "__cleaned",
        F.concat(
            F.col("__cleaned"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or https://ex"),
            F.col("doc_id").cast("string"),
            F.lit(".org/p?q=1 done"),
        ).alias("t"),
    )
    scr = aug.select(
        "doc_id",
        F.when(F.col("__cleaned") == "", F.lit(0))
        .otherwise(F.size(F.split(F.col("__cleaned"), "\n")))
        .cast("long")
        .alias("n_kept"),
        F.regexp_count(F.col("t"), F.lit(TX.URL_REGEX)).cast("long").alias("n_urls"),
        F.regexp_count(F.col("t"), F.lit(TX.EMAIL_REGEX)).cast("long").alias("n_emails"),
        TX.scrub_pii(F.col("t")).alias("__scrubbed"),
    )
    r = TX.word_repetition_ratio(F.col("__scrubbed"))
    clean = scr.select(
        F.lit("clean").alias("mode"),
        "doc_id",
        F.lit(None).cast("string").alias("term"),
        F.lit(None).cast("double").alias("score"),
        F.lit(None).cast("int").alias("rank"),
        "n_kept",
        "n_urls",
        "n_emails",
        F.md5(F.col("__scrubbed")).alias("scrubbed_hash"),
        r.alias("rep_ratio"),
        (r <= 0.7).alias("keep"),
    )
    return tfidf.unionByName(clean)


# (zorder_values was consolidated into txtable_acid_suite in round 9 —
# the identical per-row Morton interleave runs as that suite's
# `zorder` arm, next to the `zcompact` arm that exercises it as the
# table's clustered-compaction sort key; the former oracle expression
# runs verbatim inside the suite's union.)


_SDSR_ORACLE = """
    WITH x AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 2 HOUR
                  THEN 1 ELSE 0 END AS brk
      FROM events
    ),
    y AS (
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM x
    ),
    sess AS (
      SELECT user_id, min(ts) AS session_start,
             epoch_us(min(ts)) AS session_start_us,
             epoch_us(max(ts)) + 7200000000 AS session_end_us,
             count(*) AS n
      FROM y GROUP BY user_id, sid
    ),
    hours AS (
      SELECT date_trunc('hour', ts) AS h, count(*) AS hour_n,
             sum(floor(value * 100 + 0.5)) AS hour_total
      FROM events GROUP BY 1
    )
    SELECT s.user_id, s.session_start_us, s.session_end_us, s.n,
           h.hour_n, h.hour_total
    FROM sess s JOIN hours h ON date_trunc('hour', s.session_start) = h.h
"""


def _streaming_sessions_rollup_arm(spark, sf_dir):
    """Composed streaming pipeline (consolidates the former
    streaming_dedup_keys / session_window_user_counts /
    continuous_rollup_hourly entries into the stream-dedup → session →
    rollup chain a real deployment runs, so one driver check covers all
    three stateful operators):

    The events table is written TWICE to the source directory, then
    replayed through ``readStream`` and exact streaming dedup on
    event_id (streaming/stateful.py:stream_dedup — dropDuplicates
    state across the availableNow drain); if dedup leaked a duplicate,
    every downstream count would double and the oracle would catch it.
    The deduped stream lands in parquet, from which (a) native
    ``session_window`` per-user sessions with a 2 h gap are computed
    (streaming/stateful.py:session_window_counts — identical operator
    batch or streaming), and (b) a ContinuousRollup
    (streaming/rollup.py) replays the deduped events in micro-batches
    (maxFilesPerTrigger) merging hourly partials into a day-partitioned
    store. Each session row joins the rollup's totals for its start
    hour — session counts prove dedup+session, hour_n/hour_total prove
    dedup+incremental rollup, and the oracle is the one-shot batch
    formulation of all three over the ORIGINAL (un-doubled) events."""
    import uuid as _uuid

    tmp = tempfile.mkdtemp(prefix="pypeman_sdsr_")
    src = os.path.join(tmp, "in")
    dst = os.path.join(tmp, "dedup")
    ckpt = os.path.join(tmp, "ckpt")
    store = os.path.join(tmp, f"agg_{_uuid.uuid4().hex[:8]}")
    # value enters the pipeline as WHOLE CENTS (floor(x*100+0.5), the
    # same IEEE ops the oracle runs): integer-valued doubles sum
    # EXACTLY and associatively, so the incremental rollup's partial-
    # merge order can never produce a different total than the
    # oracle's one-shot sum. round(sum(raw_double), 2) was
    # order-sensitive in the last ulp — caught by the seed-shifted
    # gate (CORRECTNESS_seedshift_r07) once values grew a 3rd decimal.
    ev = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("double").alias("value"),
    )
    # doubled input: the streaming dedup must restore exactness
    ev.unionAll(ev).repartition(8).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    q1 = (
        stream_dedup(
            spark.readStream.schema(schema).parquet(src), keys=["event_id"]
        )
        .writeStream.format("parquet")
        .option("path", dst)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q1, 180, "stream_dedup drain")
    deduped = spark.read.parquet(dst)

    sessions = session_window_counts(
        deduped, key_col="user_id", ts_col="ts", gap="2 hours"
    )

    rollup = ContinuousRollup(
        spark, store, bucket="1 hour", keys=("event_type",),
        ts_col="ts", value_col="value",
    )
    q2 = rollup.start(
        spark.readStream.schema(deduped.schema)
        .option("maxFilesPerTrigger", "3")
        .parquet(dst)
    )
    await_stream(q2, 180, "rollup drain")
    hourly = rollup.read().groupBy("bucket_start").agg(
        F.sum("n").alias("hour_n"),
        F.sum("total").alias("hour_total"),  # exact: cents-valued doubles
    )

    return (
        sessions.withColumn(
            "h", F.date_trunc("hour", F.col("session_start"))
        )
        .join(F.broadcast(hourly), F.col("h") == F.col("bucket_start"))
        .select(
            "user_id",
            epoch_us(F.col("session_start")).alias("session_start_us"),
            epoch_us(F.col("session_end")).alias("session_end_us"),
            "n",
            "hour_n",
            "hour_total",
        )
    )


_TTL_WC_ORACLE = """
    SELECT 'wc' AS mode,
           CAST(date_trunc('hour', ts) AS VARCHAR) AS window_start,
           event_type, count(*) AS n,
           CAST(NULL AS BIGINT) AS purchase_id,
           CAST(NULL AS BIGINT) AS view_id
    FROM events WHERE event_id < 2000
    GROUP BY 2, 3
    UNION ALL
    SELECT 'ijoin', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(NULL AS BIGINT), p.event_id, v.event_id
    FROM events p JOIN events v
      ON v.user_id = p.user_id AND v.event_type = 'view'
     AND v.ts >= p.ts - INTERVAL 30 MINUTE AND v.ts <= p.ts
    WHERE p.event_type = 'purchase'
"""


def ttl_dedup_window_counts(spark, sf_dir):
    """Composed streaming suite (r6 consolidation of the former
    streaming_window_counts and stream_stream_interval_join entries,
    now led by ttl_first_seen — VERDICT r5 #6 asked for exactly this
    oracle attestation of the one streaming operator that was
    pytest-only).

    Arm ``wc``: TTL first-seen dedup → event-time tumbling window.

    The events slice is written TWICE to the source directory and
    replayed through ``readStream`` into
    streaming/stateful.py:ttl_first_seen (key = event_id, no TTL →
    exact first-occurrence state, kept by applyInPandasWithState).
    Each event packs ``(second-truncated ts)|event_type`` into its
    payload, so whichever copy wins emits the same value and the drain
    is deterministic. The deduped stream lands in parquet; a second
    ``readStream`` unpacks the payload and runs the watermarked 1-hour
    tumbling window into a memory sink (the original
    streaming_window_counts machinery, unchanged). If first-seen
    leaked ANY duplicate, every window count would inflate and the
    oracle — the batch rollup over the ORIGINAL un-doubled events —
    would catch it.

    Arm ``ijoin``: stream-stream inner join with event-time bounds
    (§2.H — pypeman has nothing like it): purchases and views arrive
    as two independent streams; each purchase joins the same user's
    views from the preceding 30 minutes. Watermarks + the time-range
    condition bound BOTH join states, so the operator runs
    indefinitely on unbounded streams; the availableNow drain makes
    the result equal the batch join, which is the oracle's second
    branch."""
    import uuid as _uuid

    from ..streaming.stateful import ttl_first_seen

    tmp = tempfile.mkdtemp(prefix="pypeman_ttlwc_")
    src = os.path.join(tmp, "in")
    dst = os.path.join(tmp, "dedup")
    ckpt = os.path.join(tmp, "ckpt")
    ev = t(spark, sf_dir, "events").filter(F.col("event_id") < 2000).select(
        "event_id",
        F.concat_ws(
            "|",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss"),
            F.col("event_type"),
        ).alias("packed"),
    )
    # doubled input: the first-seen filter must restore exactness
    ev.unionAll(ev).repartition(8).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    q1 = (
        ttl_first_seen(
            spark.readStream.schema(schema).parquet(src),
            key_col="event_id", payload_col="packed",
        )
        .writeStream.format("parquet")
        .option("path", dst)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q1, 180, "ttl_first_seen drain")
    dd_schema = spark.read.parquet(dst).schema

    stream = (
        spark.readStream.schema(dd_schema)
        .parquet(dst)
        .select(
            F.to_timestamp(
                F.substring_index("first_payload", "|", 1)
            ).alias("ts"),
            F.substring_index("first_payload", "|", -1).alias("event_type"),
        )
        .withWatermark("ts", "10 minutes")
        .groupBy(
            F.window(F.col("ts"), "1 hour").alias("win"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss")
            .alias("window_start"),
            "event_type",
            "n",
        )
    )
    sink = f"ttl_wc_{_uuid.uuid4().hex[:8]}"
    q2 = (
        stream.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q2, 120, "window-count drain")
    wc = spark.table(sink).select(
        F.lit("wc").alias("mode"),
        "window_start",
        "event_type",
        "n",
        F.lit(None).cast("long").alias("purchase_id"),
        F.lit(None).cast("long").alias("view_id"),
    )

    # ijoin arm: stream-stream inner join with event-time bounds over
    # the FULL events table (two independent readStream sources)
    vsrc, psrc = os.path.join(tmp, "views"), os.path.join(tmp, "purch")
    full = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    full.filter(F.col("event_type") == "view").write.mode(
        "overwrite"
    ).parquet(vsrc)
    full.filter(F.col("event_type") == "purchase").write.mode(
        "overwrite"
    ).parquet(psrc)
    ev_schema = spark.read.parquet(vsrc).schema
    views = (
        spark.readStream.schema(ev_schema).parquet(vsrc)
        .withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
    )
    purchases = (
        spark.readStream.schema(ev_schema).parquet(psrc)
        .withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    joined = purchases.join(
        views,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("v_ts") <= F.col("p_ts")),
        "inner",
    ).select("purchase_id", "view_id")
    jsink = f"ttl_ij_{_uuid.uuid4().hex[:8]}"
    q3 = (
        joined.writeStream.format("memory")
        .queryName(jsink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q3, 180, "interval-join drain")
    ij = spark.table(jsink).select(
        F.lit("ijoin").alias("mode"),
        F.lit(None).cast("string").alias("window_start"),
        F.lit(None).cast("string").alias("event_type"),
        F.lit(None).cast("long").alias("n"),
        "purchase_id",
        "view_id",
    )
    return wc.unionByName(ij)


@q(
    "streaming_dedup_session_rollup",
    f"""
    SELECT 'sess' AS mode, user_id, session_start_us, session_end_us, n,
           hour_n, hour_total,
           CAST(NULL AS VARCHAR) AS window_start,
           CAST(NULL AS VARCHAR) AS event_type,
           CAST(NULL AS BIGINT) AS purchase_id,
           CAST(NULL AS BIGINT) AS view_id
    FROM ({_SDSR_ORACLE}) o1
    UNION ALL
    SELECT mode, NULL, NULL, NULL, n, NULL, NULL,
           window_start, event_type, purchase_id, view_id
    FROM ({_TTL_WC_ORACLE}) o2
    """,
)
def streaming_dedup_session_rollup(spark, sf_dir):
    """Composed streaming suite (r8 consolidation — VERDICT r7 task #7
    — of the former streaming_dedup_session_rollup /
    ttl_dedup_window_counts entries: ALL FIVE stateful streaming
    operators under one driver check; each arm's machinery and oracle
    run verbatim, see REGISTRY_CHANGES.md):

    Arm ``sess`` (``_streaming_sessions_rollup_arm``): doubled input →
    stream_dedup → native session_window sessions joined to the
    ContinuousRollup incremental hourly store. Arms ``wc``/``ijoin``
    (``ttl_dedup_window_counts``): doubled input → ttl_first_seen
    first-occurrence state → watermarked tumbling window counts, plus
    the watermark-bounded stream-stream interval join."""
    sess = _streaming_sessions_rollup_arm(spark, sf_dir).select(
        F.lit("sess").alias("mode"),
        "user_id",
        "session_start_us",
        "session_end_us",
        "n",
        "hour_n",
        "hour_total",
        F.lit(None).cast("string").alias("window_start"),
        F.lit(None).cast("string").alias("event_type"),
        F.lit(None).cast("long").alias("purchase_id"),
        F.lit(None).cast("long").alias("view_id"),
    )
    ttl = ttl_dedup_window_counts(spark, sf_dir).select(
        "mode",
        F.lit(None).cast("long").alias("user_id"),
        F.lit(None).cast("long").alias("session_start_us"),
        F.lit(None).cast("long").alias("session_end_us"),
        "n",
        F.lit(None).cast("long").alias("hour_n"),
        F.lit(None).cast("double").alias("hour_total"),
        "window_start",
        "event_type",
        "purchase_id",
        "view_id",
    )
    return sess.unionByName(ttl)


# =====================================================================
# Native session windows + streaming dedup (rows 64 / §2.H widening)
# =====================================================================

# (stream_stream_interval_join was consolidated into
# ttl_dedup_window_counts in round 6 — the identical watermarked
# stream-stream interval join runs as that entry's `ijoin` arm.)


# =====================================================================
# Corpus hygiene round 2b: benchmark decontamination, mixture sampling,
# end-to-end fuzzy dedup (functions/decontam.py, functions/sampling.py)
# =====================================================================

from ..functions.decontam import benchmark_overlap, decontaminate  # noqa: E402
from ..functions.sampling import mixture_sample  # noqa: E402
from .queries import _MINHASH_SQL  # noqa: E402

_DECONTAM_SQL = """
    WITH corpus_sh AS (
      SELECT DISTINCT doc_id, md5(shingle) AS sh FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(0, greatest(len(w) - 3, 0)),
                 i -> array_to_string(w[i+1:i+3], ' '))) AS shingle
        FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
              FROM documents WHERE doc_id < 400)
      )
    ),
    bench_sh AS (
      SELECT DISTINCT bench_id, md5(shingle) AS sh FROM (
        SELECT doc_id AS bench_id,
               unnest(list_transform(
                 generate_series(0, greatest(len(w) - 3, 0)),
                 i -> array_to_string(w[i+1:i+3], ' '))) AS shingle
        FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
              FROM documents WHERE doc_id >= 400)
      )
    ),
    sizes AS (
      SELECT bench_id, count(*) AS bench_sz FROM bench_sh GROUP BY bench_id
    ),
    hits AS (
      SELECT c.doc_id, b.bench_id, count(*) AS overlap
      FROM corpus_sh c JOIN bench_sh b ON c.sh = b.sh
      GROUP BY c.doc_id, b.bench_id
    ),
    contam AS (
      SELECT h.doc_id, h.bench_id, h.overlap, s.bench_sz,
             round(h.overlap / s.bench_sz, 6) AS ratio
      FROM hits h JOIN sizes s USING (bench_id)
      WHERE h.overlap / s.bench_sz >= 0.5
    )
"""


def _corpus_bench(spark, sf_dir):
    d = tp(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") < 400)
    bench = d.filter(F.col("doc_id") >= 400)
    return corpus, bench


@q(
    "decontam_report",
    _DECONTAM_SQL
    + """
    , stats AS (
      SELECT doc_id, count(*) AS n_hits, max(ratio) AS max_ratio
      FROM contam GROUP BY doc_id
    )
    SELECT d.doc_id, d.lang,
           coalesce(s.n_hits, 0) AS n_hits,
           s.max_ratio,
           s.n_hits IS NULL AS kept
    FROM (SELECT doc_id, lang FROM documents WHERE doc_id < 400) d
    LEFT JOIN stats s USING (doc_id)
    """,
)
def decontam_report(spark, sf_dir):
    """Composed benchmark-decontamination report (consolidates the
    former decontam_overlap_pairs / decontaminated_corpus entries —
    both functions in one output, so one driver check covers both):

    benchmark_overlap (functions/decontam.py:51) finds training docs
    containing >=50% of an eval item's 3-gram shingles — the benchmark
    shingle set is broadcast, so the corpus side is a map-side probe
    with no shuffle of the big side — aggregated per doc into
    (n_hits, max_ratio). decontaminate (:110) computes the surviving
    corpus via a broadcast left-anti join over the SAME staged overlap
    frame (round 15: both arms read one shingle-probe subtree, so
    Spark's exchange reuse plans the corpus shingling once instead of
    twice — the cross-check stays: ``kept`` is an independent READER of
    the overlap computation, and the oracle still verifies kept <=> no
    contaminating pair). At 100 TB both passes are map-side filters
    over the corpus scan, and the corpus is shingled once, not twice."""
    corpus, bench = _corpus_bench(spark, sf_dir)
    overlap = benchmark_overlap(
        corpus, bench, n=3, min_ratio=0.5, bench_id="bench_id"
    )
    stats = overlap.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.max("ratio").alias("max_ratio"),
    )
    kept = (
        decontaminate(corpus, bench, overlap=overlap, bench_id="bench_id")
        .select("doc_id")
        .withColumn("__kept", F.lit(True))
    )
    return (
        corpus.select("doc_id", "lang")
        .join(F.broadcast(stats), "doc_id", "left")
        .join(F.broadcast(kept), "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            "max_ratio",
            F.coalesce("__kept", F.lit(False)).alias("kept"),
        )
    )


def _dedup_pipelines_oracle() -> str:
    from ..functions import similarity as S
    from .queries import _bucket_expr

    bucket = _bucket_expr(S.hyperplanes(4, 64), "v")
    return (
        _MINHASH_SQL.replace("WITH words", "WITH RECURSIVE words", 1)
        + f"""
    , edges AS (
      SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_hash = b.band_hash
       AND a.doc_id <> b.doc_id
    ),
    reach(node, lab) AS (
      SELECT doc_id, doc_id FROM documents WHERE doc_id < 200
      UNION
      SELECT e.src, r.lab FROM edges e JOIN reach r ON r.node = e.dst
    ),
    keep AS (
      SELECT node AS doc_id FROM reach GROUP BY node HAVING node = min(lab)
    ),
    c AS (
      SELECT vec_id, embedding::DOUBLE[] AS v
      FROM embeddings WHERE vec_id < 200
    ),
    cb AS (SELECT vec_id, v, {{bucket}} AS bucket FROM c),
    sedges AS (
      SELECT a.vec_id AS src, b.vec_id AS dst
      FROM cb a JOIN cb b ON a.bucket = b.bucket
      WHERE a.vec_id <> b.vec_id
        AND {{cos}} >= 0.4
    ),
    sreach(node, lab) AS (
      SELECT vec_id, vec_id FROM c
      UNION
      SELECT e.src, r.lab FROM sedges e JOIN sreach r ON r.node = e.dst
    ),
    skeep AS (
      SELECT node AS vec_id FROM sreach GROUP BY node HAVING node = min(lab)
    ),
    clusters AS (
      SELECT node AS doc_id, min(lab) AS cluster_id
      FROM reach GROUP BY node
    ),
    splits AS (
      SELECT doc_id, cluster_id,
             CASE WHEN {{hb}} < 800000 THEN 'train'
                  WHEN {{hb}} < 900000 THEN 'val'
                  ELSE 'test' END AS split
      FROM clusters
    )
    SELECT 'fuzzy' AS mode, d.doc_id AS id, d.lang AS tag, d.n_chars
    FROM documents d JOIN keep USING (doc_id)
    UNION ALL
    SELECT 'semantic', e.vec_id, CAST(e.label AS VARCHAR),
           CAST(NULL AS BIGINT)
    FROM embeddings e JOIN skeep USING (vec_id)
    UNION ALL
    SELECT 'splits', doc_id, split, cluster_id
    FROM splits
    """.format(
            bucket=bucket,
            cos=_COS.format(a="a.v", b="b.v"),
            hb=_HB.format(salt="split", id="cluster_id"),
        )
    )


@q("dedup_corpus_pipelines", None)  # oracle attached below (plane literals)
def dedup_corpus_pipelines(spark, sf_dir):
    """Both end-to-end dedup compositions in one entry (r6
    consolidation of fuzzy_dedup_corpus + semantic_dedup_corpus — all
    stages kept, one driver check attests both pipelines).

    Arm ``fuzzy``: MinHash LSH candidate pairs → distributed connected
    components → keep the min-id representative per cluster →
    surviving corpus rows. Every stage is an equi-join/groupBy on
    hashes — never all-pairs, never text through the shuffle.

    Arm ``semantic``: SemDeDup-style embedding dedup on the SCALE
    path — LSH-bucketed cosine near-dup pairs (bucket equi-join, no
    cartesian) → connected components → min-id representative per
    semantic cluster. The oracle's recursive-CTE CC runs over the same
    bucket-restricted edge set (plane literals), so the whole scale
    shape is value-verified, not just the exact verifier on a bounded
    slice.

    Arm ``splits`` (r6): leakage-safe train/val/test assignment
    (functions/sampling.py:leakage_safe_splits) — the split is hashed
    from the CLUSTER id the fuzzy arm computed, so every member of a
    near-dup cluster lands in the same split (per-document hashing
    would scatter near-identical texts across train and eval). The
    oracle re-derives cluster ids from its recursive CC and applies
    the identical md5 boundary arithmetic, so the invariant is
    value-checked end to end; the cluster id rides in ``n_chars``."""
    from ..functions.sampling import leakage_safe_splits

    from concurrent.futures import ThreadPoolExecutor

    d = tp(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = D.minhash_candidate_pairs(d, num_hashes=16, bands=4, shingle_n=3)

    emb = (
        tp(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 200)
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    )
    spairs = D.embedding_near_dup_pairs(emb, threshold=0.4, num_planes=4, dim=64)

    # the two CC computations are independent chains of small eager
    # jobs (checkpoint + convergence count per round); submitting them
    # from two driver threads lets each chain's jobs back-fill the
    # executor idle time of the other (guide §2.6) — results are
    # identical, only the job interleaving changes
    with ThreadPoolExecutor(max_workers=2) as pool:
        fut_fuzzy = pool.submit(
            D.connected_components, pairs,
            nodes=d.select(F.col("doc_id").alias("node")),
            assume_canonical=True,
        )
        fut_sem = pool.submit(
            D.connected_components, spairs,
            nodes=emb.select(F.col("vec_id").alias("node")),
            assume_canonical=True,
        )
        clusters = fut_fuzzy.result()
        sclusters = fut_sem.result()

    keep = clusters.filter(F.col("node") == F.col("cluster_id")).select(
        F.col("node").alias("doc_id")
    )
    fuzzy = d.join(F.broadcast(keep), "doc_id", "left_semi").select(
        F.lit("fuzzy").alias("mode"),
        F.col("doc_id").alias("id"),
        F.col("lang").alias("tag"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    skeep = sclusters.filter(F.col("node") == F.col("cluster_id")).select(
        F.col("node").alias("vec_id")
    )
    semantic = emb.join(F.broadcast(skeep), "vec_id", "left_semi").select(
        F.lit("semantic").alias("mode"),
        F.col("vec_id").alias("id"),
        F.col("label").cast("string").alias("tag"),
        F.lit(None).cast("long").alias("n_chars"),
    )

    splits = leakage_safe_splits(clusters, "cluster_id").select(
        F.lit("splits").alias("mode"),
        F.col("node").alias("id"),
        F.col("split").alias("tag"),
        F.col("cluster_id").cast("long").alias("n_chars"),
    )
    return fuzzy.unionByName(semantic).unionByName(splits)


from ..functions.sampling import cap_per_domain, token_budget_sample  # noqa: E402
from ..functions.text import whitespace_token_count  # noqa: E402


@q(
    "corpus_sampling_pipeline",
    f"""
    WITH w AS (
      SELECT * FROM (VALUES
        ('src0', CAST(0.5 AS DOUBLE)),
        ('src1', CAST(0.3 AS DOUBLE)),
        ('src2', CAST(0.2 AS DOUBLE))) AS t(source, wt)
    ),
    counts AS (
      SELECT source, count(*) AS n FROM documents
      WHERE source IN ('src0', 'src1', 'src2') GROUP BY source
    ),
    j AS (SELECT c.source, c.n, w.wt FROM counts c JOIN w USING (source)),
    cap AS (SELECT min(n / wt) AS cap FROM j),
    rates AS (
      SELECT source, floor(cap * wt / n * 1000000) AS rate
      FROM j CROSS JOIN cap
    ),
    mixed AS (
      SELECT d.doc_id, d.source, d.text
      FROM documents d JOIN rates r USING (source)
      WHERE {_HB.format(salt='mix', id='doc_id')} < r.rate
    ),
    capped AS (
      SELECT doc_id, source, text FROM (
        SELECT doc_id, source, text,
               row_number() OVER (
                 PARTITION BY source
                 ORDER BY {_HB.format(salt='cap', id='doc_id')}, doc_id
               ) AS rn
        FROM mixed
      ) WHERE rn <= 12
    ),
    budgeted AS (
      SELECT doc_id, source FROM (
        SELECT doc_id, source,
               sum(len(string_split_regex(trim(text), '{_WS}'))) OVER (
                 PARTITION BY source
                 ORDER BY {_HB.format(salt='budget', id='doc_id')}, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum
        FROM capped
      ) WHERE cum <= 800
    )
    SELECT 'sample' AS arm, doc_id, source,
           CAST(copy_idx AS BIGINT) AS copy_idx,
           CAST(NULL AS BIGINT) AS pos_epoch0,
           CAST(NULL AS INTEGER) AS shard,
           CAST(NULL AS BIGINT) AS pos_epoch1
    FROM (
      SELECT doc_id, source,
             unnest(generate_series(1,
               CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0 ELSE 1 END
               + CASE WHEN {_HB.format(salt='up', id='doc_id')} <
                           CASE source WHEN 'src0' THEN 500000
                                       WHEN 'src1' THEN 300000
                                       ELSE 0 END
                      THEN 1 ELSE 0 END)) AS copy_idx
      FROM budgeted
    )
    UNION ALL
    -- shuffle arm: the former corpus_shuffle entry VERBATIM (global
    -- ranks the no-global-sort construction must equal), tagged
    SELECT 'shuffle' AS arm, doc_id,
           CAST(NULL AS VARCHAR) AS source,
           CAST(NULL AS BIGINT) AS copy_idx,
           CAST(row_number() OVER (
             ORDER BY md5('epoch0:' || doc_id), doc_id) - 1
           AS BIGINT) AS pos_epoch0,
           CAST((row_number() OVER (
             ORDER BY md5('epoch0:' || doc_id), doc_id) - 1) % 8
           AS INTEGER) AS shard,
           CAST(row_number() OVER (
             ORDER BY md5('epoch1:' || doc_id), doc_id) - 1
           AS BIGINT) AS pos_epoch1
    FROM documents
    """,
)
def corpus_sampling_pipeline(spark, sf_dir):
    """Composed corpus-sampling pipeline (consolidates the former
    mixture_sample_by_source / cap_per_source / token_budget_per_source
    / upsample_mixture_by_source entries — the same four functions,
    chained the way a corpus build runs them, so one driver check
    covers all four):

    mixture_sample (functions/sampling.py:75) derives per-domain keep
    rates hitting a 50/30/20 mixture across the three sources →
    cap_per_domain (:123) keeps the 12 content-addressed-lowest docs
    per surviving source through the prefiltered window →
    token_budget_sample (:173) greedily trims each source to an
    800-whitespace-token budget in hash order → upsample_mixture (:210)
    applies epoch weights (src0 2.5x, src1 0.3x, rest 1x; fractional
    parts via an independent hash subset, repeats as JVM
    explode(sequence), copy_idx emitted). At 100 TB: one tiny counts
    agg + broadcast per stage; the corpus is never shuffled for a join,
    the only sort windows run over ~margin*cap rows, and the upsample
    is a pure projection + explode.

    Shuffle arm (r9 fold of the former ``corpus_shuffle`` entry — both
    are deterministic sampling-order constructions): every document
    gets its exact global rank under md5('epoch0:'||id) plus a
    round-robin 8-way shard, and a SECOND epoch's independent
    permutation (functions/sampling.py:deterministic_shuffle). The
    oracle side is a plain global ``row_number()``; the engine
    realizes the same ranks WITHOUT a global sort (hash-prefix
    buckets + exact offsets + per-bucket windows) — the 100 TB
    point. The former oracle runs verbatim as this oracle's tagged
    union branch."""
    from ..functions.sampling import deterministic_shuffle_epochs

    mixed = mixture_sample(
        t(spark, sf_dir, "documents"),
        "source",
        "doc_id",
        {"src0": 0.5, "src1": 0.3, "src2": 0.2},
        salt="mix",
    )
    capped = cap_per_domain(mixed, "source", "doc_id", 12, salt="cap")
    budgeted = token_budget_sample(
        capped,
        "source",
        "doc_id",
        whitespace_token_count(F.col("text")),
        800,
        salt="budget",
    )
    sample = upsample_mixture(
        budgeted, "source", "doc_id", {"src0": 2.5, "src1": 0.3}, salt="up"
    ).select(
        F.lit("sample").alias("arm"),
        "doc_id",
        "source",
        F.col("copy_idx").cast("long").alias("copy_idx"),
        F.lit(None).cast("long").alias("pos_epoch0"),
        F.lit(None).cast("int").alias("shard"),
        F.lit(None).cast("long").alias("pos_epoch1"),
    )
    d = t(spark, sf_dir, "documents").select("doc_id")
    # both epochs on one frame: one bucket-counts job for the pair and
    # no doc_id self-join of two windowed copies (see
    # deterministic_shuffle_epochs)
    shuffle = deterministic_shuffle_epochs(
        d,
        [("epoch0", "pos_epoch0", 8), ("epoch1", "pos_epoch1", None)],
    ).select(
        F.lit("shuffle").alias("arm"),
        "doc_id",
        F.lit(None).cast("string").alias("source"),
        F.lit(None).cast("long").alias("copy_idx"),
        "pos_epoch0",
        F.col("shard").cast("int").alias("shard"),
        "pos_epoch1",
    )
    return sample.unionByName(shuffle)


# (corpus_shuffle was consolidated into corpus_sampling_pipeline in
# round 9 — the identical deterministic_shuffle construction runs as
# that entry's `shuffle` arm, with the former row_number() oracle
# verbatim as the tagged union branch.)


from ..functions.sampling import upsample_mixture  # noqa: E402
from .queries import _COS  # noqa: E402


# (semantic_dedup_corpus was consolidated into dedup_corpus_pipelines in
# round 6 — the identical LSH-bucketed pair -> CC -> representative
# chain runs as that entry's `semantic` arm.)

from .queries import REGISTRY  # noqa: E402

REGISTRY["dedup_corpus_pipelines"].oracle = _dedup_pipelines_oracle()


from ..functions.packing import chunk_documents  # noqa: E402


# (chunk_documents_windows was consolidated into
# pack_and_chunk_documents in round 6 — the identical chunk_documents
# windowing runs as that entry's `chunk` arm.)


_GOPHER_STOP_LINE = "the words have to be of use with all that and more"


@q(
    "gopher_signals_suite",
    f"""
    WITH words AS (
      SELECT doc_id, string_split_regex(trim(text), '{_WS}') AS w
      FROM documents
    ),
    lined AS (
      SELECT doc_id,
             list_transform(
               generate_series(0, CAST(ceil(len(w) / 8.0) AS INT) - 1),
               i -> array_to_string(w[i*8 + 1 : i*8 + 8], ' ')) AS ls
      FROM words
    ),
    aug AS (
      SELECT doc_id, list_concat(ls, ls[1:least(2, len(ls))]) AS ls
      FROM lined
    ),
    txt AS (
      SELECT doc_id, array_to_string(ls, chr(10)) AS t, ls FROM aug
    ),
    linestats AS (
      SELECT doc_id,
             round(1.0 - len(list_distinct(ls))::DOUBLE / len(ls), 6)
               AS dup_line_frac,
             CASE WHEN list_aggregate(list_transform(ls, x -> len(x)), 'sum') > 0
                  THEN round(1.0
                    - list_aggregate(list_transform(list_distinct(ls),
                                                    x -> len(x)), 'sum')::DOUBLE
                    / list_aggregate(list_transform(ls, x -> len(x)), 'sum'), 6)
                  ELSE 0.0 END AS dup_line_char_frac
      FROM txt
    ),
    tw AS (
      SELECT doc_id, t, string_split_regex(trim(t), '{_WS}') AS tw FROM txt
    ),
    g2 AS (
      SELECT doc_id, unnest(list_transform(
               generate_series(1, greatest(len(tw) - 1, 0)),
               i -> tw[i] || ' ' || tw[i+1])) AS g
      FROM tw
    ),
    top2 AS (
      SELECT doc_id, g, count(*) AS c,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY count(*) DESC, g) AS rn
      FROM g2 GROUP BY doc_id, g
    ),
    g3 AS (
      SELECT doc_id, unnest(list_transform(
               generate_series(1, greatest(len(tw) - 2, 0)),
               i -> tw[i] || ' ' || tw[i+1] || ' ' || tw[i+2])) AS g
      FROM tw
    ),
    top3 AS (
      SELECT doc_id, g, count(*) AS c,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY count(*) DESC, g) AS rn
      FROM g3 GROUP BY doc_id, g
    ),
    qlined AS (
      SELECT doc_id,
             list_transform(
               generate_series(0, CAST(ceil(len(w) / 8.0) AS INT) - 1),
               i -> CASE WHEN i % 7 = 3 THEN
                      (CASE WHEN i % 5 = 0 THEN '- ' ELSE '' END)
                        || array_to_string(w[i*8 + 1 : i*8 + 8], ' ')
                        || ' ...'
                    ELSE
                      (CASE WHEN i % 5 = 0 THEN '- ' ELSE '' END)
                        || array_to_string(w[i*8 + 1 : i*8 + 8], ' ')
                    END) AS ls
      FROM words
    ),
    qtxt AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                  THEN array_to_string(ls, chr(10)) || chr(10)
                       || '{_GOPHER_STOP_LINE}'
                  ELSE array_to_string(ls, chr(10)) END AS t
      FROM qlined
    ),
    qsig AS (
      SELECT doc_id, t,
             string_split_regex(trim(t), '{_WS}') AS tw,
             string_split(t, chr(10)) AS ln
      FROM qtxt
    ),
    qm AS (
      SELECT doc_id,
             len(tw) AS n_words,
             round(list_aggregate(list_transform(tw, x -> len(x)),
                                  'sum')::DOUBLE / len(tw), 6)
               AS mean_word_len,
             round((
               (len(t) - len(replace(t, '#', '')))
               + (len(t) - len(replace(t, '...', ''))) / 3
             )::DOUBLE / len(tw), 6) AS symbol_word_ratio,
             round(len(list_filter(ln,
                     x -> regexp_matches(x, '^\\s*[-*•]')))::DOUBLE
                   / len(ln), 6) AS bullet_line_frac,
             round(len(list_filter(ln,
                     x -> regexp_matches(x, '\\.\\.\\.\\s*$')))::DOUBLE
                   / len(ln), 6) AS ellipsis_line_frac,
             round(len(list_filter(tw,
                     x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
                   / len(tw), 6) AS alpha_word_frac,
             (CASE WHEN regexp_matches(t, '(?i)\\bthe\\b') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(t, '(?i)\\bbe\\b') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(t, '(?i)\\bto\\b') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(t, '(?i)\\bof\\b') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(t, '(?i)\\band\\b') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(t, '(?i)\\bthat\\b') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(t, '(?i)\\bhave\\b') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(t, '(?i)\\bwith\\b') THEN 1 ELSE 0 END
             ) AS n_required_words
      FROM qsig
    )
    SELECT l.doc_id, l.dup_line_frac, l.dup_line_char_frac,
           round(coalesce(t2.c * len(t2.g), 0)::DOUBLE / len(x.t), 6)
             AS top2_char_frac,
           round(coalesce(t3.c * len(t3.g), 0)::DOUBLE / len(x.t), 6)
             AS top3_char_frac,
           qm.n_words, qm.mean_word_len, qm.symbol_word_ratio,
           qm.bullet_line_frac, qm.ellipsis_line_frac, qm.alpha_word_frac,
           qm.n_required_words,
           (qm.n_words >= 50 AND qm.n_words <= 100000
            AND qm.mean_word_len >= 3.0 AND qm.mean_word_len <= 10.0
            AND qm.symbol_word_ratio < 0.1
            AND qm.bullet_line_frac <= 0.9
            AND qm.ellipsis_line_frac <= 0.3
            AND qm.alpha_word_frac >= 0.8
            AND qm.n_required_words >= 2) AS passes
    FROM linestats l
    JOIN txt x USING (doc_id)
    LEFT JOIN (SELECT doc_id, g, c FROM top2 WHERE rn = 1) t2 USING (doc_id)
    LEFT JOIN (SELECT doc_id, g, c FROM top3 WHERE rn = 1) t3 USING (doc_id)
    JOIN qm USING (doc_id)
    """,
)
def gopher_signals_suite(spark, sf_dir):
    """The complete Gopher signal suite in ONE narrow map (r6
    consolidation of gopher_repetition_signals + gopher_quality_filter
    — all machineries kept: functions/text.py duplicate_line_stats,
    top_ngram_char_fraction, gopher_quality_signals; public Rae et al.
    2021 Appendix A thresholds).

    Repetition columns: per-doc duplicate-line fraction,
    duplicate-line CHARACTER fraction, and the character fraction of
    the most frequent 2-/3-gram, over a synthesis that repeats the
    first two 8-word lines (the word-soup corpus carries no natural
    line duplication, so the signal is injected reproducibly and the
    oracle rebuilds the identical text). The per-doc top n-gram is NOT
    explode + groupBy (that would shuffle every n-gram of a 100 TB
    corpus) but a per-row ``array_sort`` + single ``aggregate`` pass
    extracting the longest run — ties to the lexicographically
    smallest n-gram; the DuckDB oracle uses the explode/groupBy/
    row_number formulation, so the two independent algorithms must
    agree exactly.

    Quality columns: word-count bounds, mean word length,
    symbol-to-word ratio, bullet/ellipsis line fractions,
    alphabetic-word fraction, the required-common-words check and the
    composed ``passes`` verdict, over a second synthesis (every 5th
    line bulleted, every 7th ellipsis-terminated, every 3rd doc
    suffixed with a stopword line) so both pass/fail branches get real
    coverage.

    Both signal sets derive from the SAME words array in one select —
    pure Column expressions, zero shuffle, zero UDFs: at 100 TB the
    whole suite runs inside the corpus scan stage."""
    from ..functions.text import (
        duplicate_line_stats,
        gopher_quality_signals,
        top_ngram_stats_sql,
    )

    d = tp(spark, sf_dir, "documents")
    w = F.split(F.trim(F.col("text")), _WS)
    rep_lines = F.transform(
        _line8_idx(w),
        lambda i: F.array_join(F.slice(w, i * 8 + 1, 8), " "),
    )
    rep_aug = F.concat(
        rep_lines, F.slice(rep_lines, 1, F.least(F.lit(2), F.size(rep_lines)))
    )
    q_lines = F.transform(
        _line8_idx(w),
        lambda i: F.concat(
            F.when(i % 5 == 0, F.lit("- ")).otherwise(F.lit("")),
            F.array_join(F.slice(w, i * 8 + 1, 8), " "),
            F.when(i % 7 == 3, F.lit(" ...")).otherwise(F.lit("")),
        ),
    )
    q_txt = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.array_join(q_lines, "\n"),
            F.lit("\n" + _GOPHER_STOP_LINE),
        ),
    ).otherwise(F.array_join(q_lines, "\n"))
    df = d.select(
        "doc_id",
        F.array_join(rep_aug, "\n").alias("__t_rep"),
        q_txt.alias("__t_q"),
    ).select(
        # the run-length folds get their OWN projection: each fraction
        # reads two fields of its fold struct, and inlined that means
        # the whole array_sort + aggregate runs twice per row
        # (lambda-bearing expressions are excluded from subexpression
        # elimination). Staged, CollapseProject keeps the non-cheap
        # multi-referenced fold here and the fractions below are cheap
        # field lookups — same values, half the dominant per-row cost.
        "*",
        F.expr(top_ngram_stats_sql("__t_rep", 2)).alias("__st2"),
        F.expr(top_ngram_stats_sql("__t_rep", 3)).alias("__st3"),
    )
    ls = duplicate_line_stats(F.col("__t_rep"))
    sig = gopher_quality_signals(F.col("__t_q"))
    total_rep = F.length(F.trim(F.col("__t_rep")))

    def _frac(st: str) -> Column:
        # operation order EXACTLY as top_ngram_char_fraction_sql:
        # (best * length(best_ng)) / CAST(total AS DOUBLE), round 6
        return F.when(
            total_rep > 0,
            F.round(
                (F.col(f"{st}.best") * F.length(F.col(f"{st}.best_ng")))
                / total_rep.cast("double"),
                6,
            ),
        ).otherwise(F.lit(0.0))

    return df.select(
        "doc_id",
        ls["dup_line_frac"].alias("dup_line_frac"),
        ls["dup_line_char_frac"].alias("dup_line_char_frac"),
        _frac("__st2").alias("top2_char_frac"),
        _frac("__st3").alias("top3_char_frac"),
        *[c.alias(name) for name, c in sig.items()],
    )


@q(
    "corpus_stats_and_bigrams",
    f"""
    WITH stats AS (
      SELECT lang,
             count(*) AS n_docs,
             CAST(sum(len(string_split_regex(trim(text), '{_WS}'))) AS BIGINT)
               AS total_tokens,
             count(DISTINCT md5(text)) AS distinct_texts,
             round(avg(n_chars), 4) AS avg_chars
      FROM documents
      GROUP BY lang
    ),
    words AS (
      SELECT lang, string_split_regex(trim(text), '{_WS}') AS w
      FROM documents
    ),
    bg AS (
      SELECT lang, unnest(list_transform(
               generate_series(1, len(w) - 1),
               i -> w[i] || ' ' || w[i+1])) AS bigram
      FROM words
    ),
    cnt AS (
      SELECT lang, bigram, count(*) AS bigram_n FROM bg GROUP BY lang, bigram
    ),
    top AS (
      SELECT lang, bigram, bigram_n,
             CAST(row_number() OVER (
               PARTITION BY lang ORDER BY bigram_n DESC, bigram
             ) AS INT) AS rank
      FROM cnt
    )
    SELECT t.lang, t.rank, t.bigram, t.bigram_n,
           s.n_docs, s.total_tokens, s.distinct_texts, s.avg_chars
    FROM top t JOIN stats s USING (lang) WHERE t.rank <= 3
    """,
)
def corpus_stats_and_bigrams(spark, sf_dir):
    """Composed corpus census (consolidates the former
    corpus_stats_by_lang / frequent_bigrams entries into the per-lang
    dashboard a corpus build runs first):

    One single-pass agg per language — doc counts, token totals, exact
    distinct texts (16 B md5 through the distinct, never text), char
    stats — joined with each language's top-3 bigrams. The per-group
    top-k is a rank window that Spark executes as WindowGroupLimit
    (per-partition partial top-k before the shuffle — the grouped
    analogue of TakeOrdered, no global sort); the tiny stats frame is
    broadcast. At 100 TB swap ``count_distinct`` for
    ``approx_count_distinct`` (HLL, no second shuffle) — exact kept
    here for the oracle."""
    from ..functions.text import whitespace_token_count

    d = tp(spark, sf_dir, "documents")
    stats = (
        t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(whitespace_token_count(F.col("text"))).alias("total_tokens"),
            F.count_distinct(F.md5(F.col("text"))).alias("distinct_texts"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )
    # zip_with-based n-grams (functions/text.py:word_ngrams): the array
    # arguments are evaluated once per row, unlike an element_at lambda
    # which re-splits the text per gram (quadratic in doc length)
    bigrams = TX.word_ngrams(F.col("text"), 2)
    cnt = (
        d.select("lang", F.explode(bigrams).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count(F.lit(1)).alias("bigram_n"))
    )
    win = Window.partitionBy("lang").orderBy(
        F.desc("bigram_n"), F.asc("bigram")
    )
    top = cnt.withColumn("rank", F.row_number().over(win)).filter(
        F.col("rank") <= 3
    )
    return top.join(F.broadcast(stats), "lang").select(
        "lang", "rank", "bigram", "bigram_n",
        "n_docs", "total_tokens", "distinct_texts", "avg_chars",
    )


# (clean_scrub_repetition was consolidated into text_analysis_suite in
# round 6 — the identical clean_lines -> scrub_pii ->
# word_repetition_ratio chain runs as that entry's `clean` arm.)


_DEDUP_NEW_BATCH_SQL = """
    WITH new_batch AS (
      SELECT doc_id + 2000000 AS doc_id, lang, text
      FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id, lang, text FROM documents WHERE doc_id >= 250
    ),
    seen AS (
      SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id < 250
    )
    SELECT n.doc_id, n.lang FROM new_batch n
    WHERE md5(n.text) NOT IN (SELECT h FROM seen)
    """


def dedup_new_batch_vs_corpus(spark, sf_dir):
    """Incremental exact dedup (functions/dedup.py:
    dedupe_against_reference): a 'new crawl' — fresh docs plus re-keyed
    recrawls of every 3rd shipped doc — anti-joined on content hash
    against the already-shipped corpus (doc_id < 250). Recrawled copies
    of shipped content are dropped; 16 B hashes only, the old corpus
    text is never re-read per batch."""
    d = tp(spark, sf_dir, "documents")
    recrawl = d.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "lang", "text"
    )
    new_batch = recrawl.unionByName(
        d.filter(F.col("doc_id") >= 250).select("doc_id", "lang", "text")
    )
    seen = d.filter(F.col("doc_id") < 250)
    return D.dedupe_against_reference(new_batch, seen).select("doc_id", "lang")


def _corpus_refresh_oracle() -> str:
    from .coverage_queries import _TRAINING_FILTER_SQL

    return f"""
    SELECT 'fresh' AS mode, doc_id, lang,
           CAST(NULL AS DOUBLE) AS quality,
           CAST(NULL AS BIGINT) AS ws_tokens
    FROM ({_DEDUP_NEW_BATCH_SQL}) d
    UNION ALL
    SELECT 'kept', doc_id, CAST(NULL AS VARCHAR), quality, ws_tokens
    FROM ({_TRAINING_FILTER_SQL}) t
    """


@q("corpus_refresh_suite", None)  # oracle attached below (import order)
def corpus_refresh_suite(spark, sf_dir):
    """Composed corpus-refresh machinery (r7 consolidation of the
    former dedup_new_batch_vs_corpus + training_data_filter entries —
    VERDICT r6 #7; both arms keep their exact machinery and oracle) —
    the two stages a production crawl refresh runs:

    * ``fresh`` — incremental exact dedup: the new batch anti-joined
      on content hash against the shipped corpus (16 B hashes only,
      old text never re-read);
    * ``kept`` — the C4-style cleaning gate (language ID, quality
      threshold, token bounds, LSH + connected-components canonical-
      doc dedup) over the curated slice."""
    from .coverage_queries import training_data_filter

    null_s = F.lit(None).cast("string")
    fresh = dedup_new_batch_vs_corpus(spark, sf_dir).select(
        F.lit("fresh").alias("mode"), "doc_id", "lang",
        F.lit(None).cast("double").alias("quality"),
        F.lit(None).cast("bigint").alias("ws_tokens"),
    )
    kept = training_data_filter(spark, sf_dir).select(
        F.lit("kept").alias("mode"), "doc_id", null_s.alias("lang"),
        "quality", F.col("ws_tokens").cast("bigint").alias("ws_tokens"),
    )
    return fresh.unionByName(kept)


REGISTRY["corpus_refresh_suite"].oracle = _corpus_refresh_oracle()


# (gopher_quality_filter was consolidated into gopher_signals_suite in
# round 6 — the identical gopher_quality_signals computation runs as
# that entry's quality columns, beside the repetition signals.)


@q(
    "data_quality_report",
    """
    WITH corpus AS (
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
             l_discount, l_shipdate
      FROM lineitem
      UNION ALL
      SELECT l_orderkey + 50000000, l_linenumber, l_quantity + 100,
             -l_extendedprice, l_discount, NULL
      FROM lineitem WHERE l_orderkey % 997 = 0
      UNION ALL
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
             l_discount, l_shipdate
      FROM lineitem WHERE l_orderkey % 499 = 0
    ),
    n AS (SELECT count(*) AS n_rows FROM corpus),
    report AS (
      SELECT 'qty_range' AS rule,
             (SELECT count(*) FROM corpus
              WHERE NOT (l_quantity >= 1 AND l_quantity <= 50)
                 OR l_quantity IS NULL) AS n_violations,
             n_rows FROM n
      UNION ALL
      SELECT 'price_positive',
             (SELECT count(*) FROM corpus
              WHERE NOT (l_extendedprice > 0)
                 OR l_extendedprice IS NULL), n_rows FROM n
      UNION ALL
      SELECT 'shipdate_not_null',
             (SELECT count(*) FROM corpus WHERE l_shipdate IS NULL),
             n_rows FROM n
      UNION ALL
      SELECT 'unique(l_orderkey,l_linenumber)',
             (SELECT count(*) - count(DISTINCT l_orderkey || chr(0) ||
                                      l_linenumber)
              FROM corpus), n_rows FROM n
      UNION ALL
      SELECT 'orders_fk',
             (SELECT count(*) FROM corpus
              WHERE l_orderkey IS NOT NULL
                AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
             n_rows FROM n
    ),
    keyed AS (
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
             l_shipdate,
             count(*) OVER (PARTITION BY l_orderkey, l_linenumber) AS kc,
             l_orderkey IN (SELECT o_orderkey FROM orders) AS fk_ok
      FROM corpus
    ),
    quarantine AS (
      SELECT l_orderkey, l_linenumber,
             array_to_string(list_filter([
               CASE WHEN NOT (l_quantity >= 1 AND l_quantity <= 50)
                      OR l_quantity IS NULL THEN 'qty_range' END,
               CASE WHEN NOT (l_extendedprice > 0)
                      OR l_extendedprice IS NULL THEN 'price_positive' END,
               CASE WHEN l_shipdate IS NULL THEN 'shipdate_not_null' END,
               CASE WHEN kc > 1
                    THEN 'unique(l_orderkey,l_linenumber)' END,
               CASE WHEN NOT fk_ok THEN 'orders_fk' END
             ], x -> x IS NOT NULL), ',') AS v
      FROM keyed
    )
    SELECT 'report' AS mode, rule, CAST(NULL AS BIGINT) AS l_orderkey,
           CAST(NULL AS BIGINT) AS l_linenumber, n_violations, n_rows
    FROM report
    UNION ALL
    SELECT 'quarantine', v, CAST(l_orderkey AS BIGINT),
           CAST(l_linenumber AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT)
    FROM quarantine WHERE v <> ''
    """,
)
def data_quality_report(spark, sf_dir):
    """Data-quality constraint checking, both consumption shapes in one
    entry (functions/quality.py:check + flag_violations; r6 extends the
    r5 entry with the per-row quarantine arm VERDICT r5 #2 asked for).

    Arm ``report`` (check): row-level range/null rules in ONE
    aggregation pass, uniqueness via count-minus-distinct in the same
    pass, referential integrity via a left-anti count with
    ``broadcast_dims=False`` — the FK target here is ``orders``, a
    fact-sized table at scale, so AQE sizes the join instead of an
    unconditional broadcast hint.

    Arm ``quarantine`` (flag_violations): every violating ROW with the
    names of all rules it breaks (CSV, stable rule order) — the DLQ
    routing stream. Row-local rules are pure expressions; uniqueness
    marks every row of a duplicated key via a window count; FK orphans
    come from a presence-flag join, again AQE-sized. Clean rows are
    filtered out here only to keep the gate result compact — in a
    pipeline both branches flow on from the same scan.

    Violations are injected deterministically (mutated copies of every
    997th order: quantity +100, negated price, null shipdate, orphaned
    key; plus verbatim re-unioned copies of every 499th order for
    duplicate keys), so every rule exercises a non-zero branch in BOTH
    arms and the oracle recomputes counts and per-row flag sets
    relationally."""
    from ..functions.quality import check, flag_violations

    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_shipdate",
    )
    bad = li.filter(F.col("l_orderkey") % 997 == 0).select(
        (F.col("l_orderkey") + 50000000).alias("l_orderkey"),
        "l_linenumber",
        (F.col("l_quantity") + 100).alias("l_quantity"),
        (-F.col("l_extendedprice")).alias("l_extendedprice"),
        "l_discount",
        F.lit(None).cast("date").alias("l_shipdate"),
    )
    dups = li.filter(F.col("l_orderkey") % 499 == 0)
    corpus = li.unionByName(bad).unionByName(dups)
    orders = t(spark, sf_dir, "orders")
    rules = {
        "qty_range": (F.col("l_quantity") >= 1)
        & (F.col("l_quantity") <= 50),
        "price_positive": F.col("l_extendedprice") > 0,
        "shipdate_not_null": F.col("l_shipdate").isNotNull(),
    }
    unique = [["l_orderkey", "l_linenumber"]]
    fks = {"orders_fk": (["l_orderkey"], orders, ["o_orderkey"])}
    report = check(
        corpus, rules=rules, unique=unique, foreign_keys=fks,
        broadcast_dims=False,
    ).select(
        F.lit("report").alias("mode"),
        "rule",
        F.lit(None).cast("long").alias("l_orderkey"),
        F.lit(None).cast("long").alias("l_linenumber"),
        "n_violations",
        "n_rows",
    )
    quarantine = (
        flag_violations(
            corpus, rules, unique=unique, foreign_keys=fks,
            broadcast_dims=False,
        )
        .filter(F.size("violations") > 0)
        .select(
            F.lit("quarantine").alias("mode"),
            F.array_join("violations", ",").alias("rule"),
            F.col("l_orderkey").cast("long").alias("l_orderkey"),
            F.col("l_linenumber").cast("long").alias("l_linenumber"),
            F.lit(None).cast("long").alias("n_violations"),
            F.lit(None).cast("long").alias("n_rows"),
        )
    )
    return report.unionByName(quarantine)


@q(
    "sketch_rollup",
    """
    WITH exact AS (
      SELECT event_type, count(DISTINCT user_id) AS n_users_exact
      FROM events GROUP BY event_type
    ),
    c AS (
      SELECT event_type,
             ((CAST(floor(value) AS BIGINT) % 20) + 20) % 20 AS item,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    hh AS (
      SELECT event_type,
             string_agg(item || ':' || n, ',' ORDER BY n DESC, item ASC)
               AS topk_csv
      FROM c GROUP BY event_type
    )
    SELECT e.event_type, e.n_users_exact, TRUE AS hll_within_tol,
           hh.topk_csv
    FROM exact e JOIN hh USING (event_type)
    """,
)
def sketch_rollup(spark, sf_dir):
    """Mergeable-sketch rollup under oracle attestation (VERDICT r5 #3
    — functions/stats.py:cardinality_sketch /
    merge_cardinality_sketches / heavy_hitters, previously pytest-only).

    HLL arm: per-(event_type, day) HyperLogLog sketches of distinct
    users are built first, then MERGED up to event_type via
    ``hll_union_agg`` — the incremental day→total rollup that never
    re-reads data. The oracle can't run HLL, so the estimate is gated
    as a boolean: ``hll_within_tol`` is computed Spark-side as
    |estimate − exact| ≤ 5% · exact (≈3σ at lg_k=12) while the oracle
    asserts TRUE — a broken sketch build, merge or estimate flips the
    boolean and fails the hash. The exact count rides along from a
    plain count_distinct so the tolerance is anchored on both sides.

    Heavy-hitter arm: ``approx_top_k`` over a 20-value domain with
    k=20 ≥ domain and max_items_tracked ≫ domain — the sketch's
    documented EXACT regime — re-sorted deterministically by
    (count desc, item asc) and serialized as item:count CSV, which the
    oracle recomputes relationally. One aggregation pass each; all
    shuffles carry fixed-size sketch partials, never raw values."""
    from ..functions.stats import (
        cardinality_sketch,
        heavy_hitters,
        merge_cardinality_sketches,
    )

    ev = t(spark, sf_dir, "events")
    daily = cardinality_sketch(
        ev.withColumn("day", F.to_date("ts")), ["event_type", "day"],
        "user_id", lg_k=12,
    )
    est = merge_cardinality_sketches(daily, ["event_type"]).select(
        "event_type",
        F.expr("hll_sketch_estimate(distinct_sketch)").alias("__est"),
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users_exact")
    )
    # pmod, not %: a negative `value` (legal data) would otherwise mint
    # a 21st item (-1) and silently exit approx_top_k's k >= domain
    # exact regime — the seed-shifted gate caught exactly that
    # (CORRECTNESS_seedshift_r07). pmod pins the domain to {0..19} for
    # ANY input.
    hh = heavy_hitters(
        ev.withColumn(
            "item", F.pmod(F.floor("value").cast("long"), F.lit(20))
        ),
        ["event_type"], "item", k=20, max_items_tracked=10000,
    )
    hh_csv = hh.select(
        "event_type",
        F.array_join(
            F.transform(
                F.array_sort(
                    F.transform(
                        "topk",
                        lambda x: F.struct(
                            (-x["count"]).alias("negn"),
                            x["item"].alias("item"),
                            x["count"].alias("cnt"),
                        ),
                    )
                ),
                lambda y: F.concat_ws(
                    ":", y["item"].cast("string"), y["cnt"].cast("string")
                ),
            ),
            ",",
        ).alias("topk_csv"),
    )
    return (
        exact.join(est, "event_type")
        .join(hh_csv, "event_type")
        .select(
            "event_type",
            "n_users_exact",
            (
                F.abs(F.col("__est") - F.col("n_users_exact"))
                <= 0.05 * F.col("n_users_exact")
            ).alias("hll_within_tol"),
            "topk_csv",
        )
    )


@q(
    "resample_forward_fill",
    """
    WITH observed AS (
      SELECT event_type,
             -- floor(epoch), not epoch()::BIGINT: DuckDB's
             -- double->BIGINT cast ROUNDS, while Spark's
             -- unix_timestamp truncates — a 19:59:59.7 event must
             -- land in bucket 19 in both engines
             (floor(epoch(ts))::BIGINT // 3600) * 3600 AS b,
             sum(CAST(round(value * 100) AS BIGINT)) AS value,
             count(*) AS n_events
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-13'
      GROUP BY event_type, (floor(epoch(ts))::BIGINT // 3600) * 3600
    ),
    bounds AS (
      SELECT event_type, min(b) AS lo, max(b) AS hi
      FROM observed GROUP BY event_type
    ),
    grid AS (
      SELECT event_type, unnest(generate_series(lo, hi, 3600)) AS b
      FROM bounds
    ),
    joined AS (
      SELECT g.event_type, g.b, o.value,
             coalesce(o.n_events, 0) AS n_events
      FROM grid g LEFT JOIN observed o
        ON g.event_type = o.event_type AND g.b = o.b
    ),
    filled AS (
      SELECT event_type, b,
             last_value(value IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
             n_events
      FROM joined
    ),
    final AS (
      SELECT event_type, b, make_timestamp(b * 1000000) AS bucket_start,
             round(value / 100.0, 6) AS value, n_events
      FROM filled
    ),
    zs AS (
      SELECT event_type, bucket_start, value, n_events,
             count(value) OVER w AS cnt,
             avg(value) OVER w AS m,
             stddev_samp(value) OVER w AS s
      FROM final
      WINDOW w AS (PARTITION BY event_type ORDER BY b
                   ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, bucket_start, value, n_events,
           CASE WHEN cnt >= 2 THEN round(m, 6) END AS roll_mean,
           CASE WHEN cnt >= 2 THEN round(s, 6) END AS roll_std,
           CASE WHEN cnt >= 2 AND s IS NOT NULL AND s > 0
                THEN round((value - m) / s, 6) END AS zscore,
           CASE WHEN cnt >= 2 AND s IS NOT NULL AND s > 0
                THEN abs(round((value - m) / s, 6)) > 3.0 END AS is_anomaly
    FROM zs
    """,
)
def resample_forward_fill(spark, sf_dir):
    """Regular-grid resampling with gap generation and forward fill
    (functions/timeseries.py:resample): hourly sums per event type over
    a 3-day window, EVERY grid cell emitted between each key's first
    and last event, empty cells forward-filled from the last observed
    bucket (n_events=0 marks them as generated). The grid comes from
    per-key sequence+explode — a narrow map, no calendar table, no
    cross join; the only shuffle is the per-key fill window.

    r6: the filled series then flows through rolling_zscore
    (functions/timeseries.py) — trailing-12-bucket mean/stddev with the
    current bucket excluded, z-score, and the |z|>3 anomaly flag, the
    standard quality-monitoring pass over a resampled metric. The
    window reuses the same per-key partitioning, so the exchange
    budget stays at two."""
    from ..functions.timeseries import resample, rolling_zscore

    ev = t(spark, sf_dir, "events").filter(
        (F.col("ts") >= F.lit("2024-01-10").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-13").cast("timestamp"))
    )
    # exact-hundredths discipline (queries.py conventions): sum integer
    # hundredths so partial-agg order can't flip a rounding boundary,
    # divide back after the fill
    ev = ev.withColumn(
        "value", F.round(F.col("value") * 100).cast("long")
    )
    out = resample(
        ev, "event_type", "ts", "value", step_seconds=3600,
        agg="sum", fill="ffill",
    ).select(
        "event_type", "bucket_start",
        F.round(F.col("value") / 100.0, 6).alias("value"), "n_events",
    )
    return rolling_zscore(
        out, "event_type", "bucket_start", "value",
        window_rows=12, min_periods=2, threshold=3.0,
    )


@q(
    "scd2_customer_segments",
    """
    WITH dim AS (
      SELECT c_custkey, c_mktsegment AS segment,
             DATE '2023-01-01' AS valid_from
      FROM customer
    ),
    upd AS (
      SELECT o_custkey AS c_custkey,
             'SEG_' || o_orderpriority AS segment,
             o_orderdate AS valid_from
      FROM orders WHERE o_orderkey % 7 = 0
    ),
    cand AS (SELECT * FROM dim UNION ALL SELECT * FROM upd),
    flt AS (
      SELECT c_custkey, segment, valid_from FROM (
        SELECT c_custkey, segment, valid_from,
               lag(segment) OVER (PARTITION BY c_custkey
                                  ORDER BY valid_from, segment) AS prev
        FROM cand)
      WHERE prev IS NULL OR prev <> segment
    ),
    ver AS (
      SELECT c_custkey, segment, valid_from,
             lead(valid_from) OVER (PARTITION BY c_custkey
                                    ORDER BY valid_from, segment) AS valid_to
      FROM flt
    )
    SELECT c_custkey, segment, valid_from, valid_to,
           valid_to IS NULL AS is_current
    FROM ver
    """,
)
def scd2_customer_segments(spark, sf_dir):
    """SCD type-2 dimension versioning (functions/scd.py:scd2_apply):
    the customer dimension starts as one open version per key
    (segment as of 2023-01-01), then a deterministic update batch
    derived from orders (every 7th order re-segments its customer at
    its order date) is applied set-based — no-op updates suppressed
    via one lag comparison, history re-chained via one lead — two
    windows over ONE shuffle on the key, closed history untouched.
    The oracle re-derives the full chain relationally."""
    from ..functions.scd import scd2_apply

    cust = t(spark, sf_dir, "customer")
    dim = cust.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit("2023-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    orders = t(spark, sf_dir, "orders")
    updates = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        F.col("o_custkey").alias("c_custkey"),
        F.concat(F.lit("SEG_"), F.col("o_orderpriority")).alias("segment"),
        F.col("o_orderdate").alias("valid_from"),
    )
    # validate=True: the closed-history precondition check runs under
    # the gate (trivially satisfied here — the seed dim has no closed
    # rows — but the validation aggregation itself is attested)
    return scd2_apply(
        dim, updates, key_cols=["c_custkey"], attr_cols=["segment"],
        ts_col="valid_from", validate=True,
    )


@q(
    "funnel_signup_view_purchase",
    """
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'view' AND e.ts > s1.t1
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id
    ),
    first AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cw
      FROM events GROUP BY user_id
    ),
    active AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events
    ),
    cohort AS (
      SELECT CAST(f.cw AS DATE) AS cohort_week,
             CAST((floor(epoch(a.w))::BIGINT
                   - floor(epoch(f.cw))::BIGINT) // 604800 AS INT)
               AS week_offset,
             count(DISTINCT a.user_id) AS n_users
      FROM active a JOIN first f USING (user_id)
      GROUP BY 1, 2
    )
    SELECT 'funnel' AS mode, s1.user_id,
           CAST(1 + (s2.user_id IS NOT NULL)::INT
                  + (s3.user_id IS NOT NULL)::INT AS INT) AS n_completed,
           s1.t1 AS stage1_ts, s2.t2 AS stage2_ts, s3.t3 AS stage3_ts,
           CAST(NULL AS DATE) AS cohort_week,
           CAST(NULL AS INT) AS week_offset,
           CAST(NULL AS BIGINT) AS n_users
    FROM s1
    LEFT JOIN s2 ON s1.user_id = s2.user_id
    LEFT JOIN s3 ON s1.user_id = s3.user_id
    UNION ALL
    SELECT 'cohort', CAST(NULL AS BIGINT), CAST(NULL AS INT),
           CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP),
           CAST(NULL AS TIMESTAMP),
           cohort_week, week_offset, n_users
    FROM cohort
    """,
)
def funnel_signup_view_purchase(spark, sf_dir):
    """Ordered funnel (functions/stats.py:funnel): earliest
    signup → later view → later purchase per user. The Spark side is
    one groupBy + a single fold over each user's time-sorted events
    (greedy earliest-first = the minimal chain); the oracle is the
    classic k-stage min/join-chain — two independent algorithms that
    must agree exactly. At 100 TB the fold shape wins: one shuffle of
    the event log instead of k self-joins over it.

    Arm ``cohort`` (r6): weekly cohort-retention triangle
    (functions/stats.py:cohort_retention) — users bucketed by the week
    of their first event, counted once per week they were active
    since. First-seen aggregate and per-(user, week) distinct share
    the same key partitioning, the final rollup is over the tiny
    (cohort, offset) domain; the relational oracle recomputes the
    triangle from scratch."""
    from ..functions.stats import cohort_retention, funnel

    ev = t(spark, sf_dir, "events")
    # the hot-key cap rides through the gate: it is far above any real
    # per-user event count here, so results are provably identical
    # (greedy matching only consumes earliest events — property-tested)
    # while the bounding machinery itself runs under oracle attestation
    fun = funnel(
        ev, "user_id", "ts", "event_type",
        ["signup", "view", "purchase"],
        max_events_per_key=100_000,
    ).select(
        F.lit("funnel").alias("mode"),
        "user_id", "n_completed", "stage1_ts", "stage2_ts", "stage3_ts",
        F.lit(None).cast("date").alias("cohort_week"),
        F.lit(None).cast("int").alias("week_offset"),
        F.lit(None).cast("long").alias("n_users"),
    )
    coh = cohort_retention(ev, "user_id", "ts").select(
        F.lit("cohort").alias("mode"),
        F.lit(None).cast("long").alias("user_id"),
        F.lit(None).cast("int").alias("n_completed"),
        F.lit(None).cast("timestamp").alias("stage1_ts"),
        F.lit(None).cast("timestamp").alias("stage2_ts"),
        F.lit(None).cast("timestamp").alias("stage3_ts"),
        "cohort_week", "week_offset", "n_users",
    )
    return fun.unionByName(coh)


_MD5_RGB_CSV = " || ',' || ".join(
    f"('0x' || substr(m, {2 * i + 1}, 2))::INT" for i in range(12)
)


@q(
    "image_grid_features",
    f"""
    WITH h AS (
      SELECT doc_id, md5(text) AS m,
             CASE WHEN doc_id < 200 THEN 'ppm'
                  WHEN doc_id < 400 THEN 'png'
                  ELSE 'jpeg' END AS mode
      FROM documents WHERE doc_id < 500
    )
    SELECT mode, doc_id, 8 AS width, 8 AS height,
           {_MD5_RGB_CSV} AS cell_rgb
    FROM h
    """,
)
def image_grid_features(spark, sf_dir):
    """REAL image decode under oracle attestation, two codecs (r6
    consolidation of ppm_grid_features + the new PNG codec — one entry
    attests both): each doc synthesizes an 8x8 image whose four
    quadrants are solid colors taken from md5(text) bytes 0-11 — built
    entirely with binary Column expressions (unhex of md5 substrings,
    concat-repeated rows), no Python.

    Arm ``ppm`` (doc_id < 200): the raw pixels are wrapped in a P6
    header Column-side and the REAL P6 parser
    (functions/multimodal.py:decode_ppm_features) extracts 2x2
    grid-mean features. Arm ``png`` (doc_id 200-399): the raw pixels
    go through the REAL PNG encoder (raw_rgb_to_png — zlib deflate +
    per-row Sub/Up filter computation) and back through the REAL PNG
    decoder (decode_png_features — chunk walk, CRC-32 verify, inflate,
    full filter reconstruction). Because each grid cell is a solid
    quadrant, the cell means are exactly the quadrant colors, which
    the oracle re-derives from the same md5 hex pairs — any bug in
    either codec's header/filter/pixel math breaks the match. Features
    serialize as integer 0-255 CSV (exact — no float formatting in
    the compare).

    Arm ``jpeg`` (doc_id 400-499, r7 — the codec the r6 verdict listed
    as the top honest stub, now REAL): the raw pixels go through the
    baseline 4:4:4 JFIF encoder (raw_rgb_to_jpeg — DCT, quantization,
    canonical-Huffman entropy coding with byte stuffing) and back
    through the real marker-loop decoder (decode_jpeg_features — reads
    DQT/DHT from the stream, Huffman + RLE entropy decode, dequantize,
    IDCT, YCbCr→RGB). JPEG is lossy, so the gate is the tolerance-
    boolean pattern (like hll_within_tol): the decoded quadrant means
    must sit within 3/255 of the md5-derived colors (measured worst
    case 1.19 over 300 colorings at q97) — in-tolerance rows emit the
    EXPECTED csv (matching the oracle), any codec bug emits
    'CODEC_ERR' and fails the hash."""
    from ..functions.multimodal import (
        decode_ppm_features,
        rgb_codec_roundtrip_features,
    )

    d = tp(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    m = F.upper(F.md5(F.col("text")))
    qa = F.unhex(F.substring(m, 1, 6))     # quadrant colors: 3 bytes each
    qb = F.unhex(F.substring(m, 7, 6))
    qc = F.unhex(F.substring(m, 13, 6))
    qd = F.unhex(F.substring(m, 19, 6))

    def row_of(left, right):
        # 8 pixels: 4x left color then 4x right color
        return F.concat(*([left] * 4 + [right] * 4))

    top, bottom = row_of(qa, qb), row_of(qc, qd)
    pixels = F.concat(*([top] * 4 + [bottom] * 4))

    def csv_out(feats, mode):
        return feats.select(
            F.lit(mode).alias("mode"),
            "doc_id", "width", "height",
            F.concat_ws(
                ",",
                F.transform(
                    F.col("features"),
                    lambda x: F.round(x * 255).cast("int").cast("string"),
                ),
            ).alias("cell_rgb"),
        )

    header = F.lit(bytearray(b"P6\n8 8\n255\n"))
    ppm_imgs = d.filter(F.col("doc_id") < 200).select(
        "doc_id", F.concat(header, pixels).alias("content")
    )
    ppm = csv_out(decode_ppm_features(ppm_imgs, grid=2), "ppm")

    raw = d.filter(
        (F.col("doc_id") >= 200) & (F.col("doc_id") < 400)
    ).select("doc_id", pixels.alias("content"))
    # encode→decode fused into ONE Python stage (same _encode/_parse
    # helpers, identical rows — the PNG bitstream just never crosses
    # the JVM boundary; guide §4.1)
    png = csv_out(rgb_codec_roundtrip_features(raw, "png", 8, 8, grid=2),
                  "png")

    # jpeg arm: lossy codec -> tolerance gate. Expected quadrant colors
    # re-derived Spark-side from the same md5; the decoded means must
    # all land within 3/255 or the row emits a sentinel that fails the
    # oracle hash.
    raw_j = d.filter(F.col("doc_id") >= 400).select(
        "doc_id", pixels.alias("content")
    )
    jfeats = rgb_codec_roundtrip_features(
        raw_j, "jpeg", 8, 8, grid=2, quality=97
    )
    exp_src = d.filter(F.col("doc_id") >= 400).select(
        "doc_id",
        F.array(
            *[
                F.conv(
                    F.substring(F.upper(F.md5(F.col("text"))), 2 * i + 1, 2),
                    16, 10,
                ).cast("int")
                for i in range(12)
            ]
        ).alias("__exp"),
    )
    jj = jfeats.join(exp_src, "doc_id")
    max_err = F.array_max(
        F.zip_with(
            F.col("features"),
            F.transform(F.col("__exp"), lambda x: x.cast("double")),
            lambda a, b: F.abs(a * 255 - b),
        )
    )
    within = (
        (F.col("width") == 8) & (F.col("height") == 8) & (max_err <= 3.0)
    )
    jpeg = jj.select(
        F.lit("jpeg").alias("mode"),
        "doc_id", "width", "height",
        F.when(
            within,
            F.concat_ws(
                ",", F.transform(F.col("__exp"), lambda x: x.cast("string"))
            ),
        )
        .otherwise(F.lit("CODEC_ERR"))
        .alias("cell_rgb"),
    )
    return ppm.unionByName(png).unionByName(jpeg)


def _classifier_weights(d: int = 64) -> list[float]:
    """Deterministic stand-in weights: weight j derives from
    md5("w|j") — reproducible in any engine, so the oracle inlines the
    identical literals. Real deployments paste trained weights here."""
    import hashlib

    return [
        round(
            (int(hashlib.md5(f"w|{j}".encode()).hexdigest()[:4], 16)
             / 65536.0 - 0.5) * 4,
            6,
        )
        for j in range(d)
    ]


def _classifier_oracle(d: int = 64) -> str:
    ws = ", ".join(f"{w!r}" for w in _classifier_weights(d))
    return f"""
    WITH w AS (SELECT [{ws}]::DOUBLE[] AS warr),
    docs AS (
      SELECT doc_id, string_split_regex(trim(text), '{_WS}') AS tw
      FROM documents
    ),
    scored AS (
      SELECT d.doc_id,
             list_sum(list_transform(d.tw,
               x -> w.warr[(('0x' || substr(md5(x), 1, 8))::BIGINT % {d})::INT + 1]
             )) / len(d.tw) AS z
      FROM docs d, w
    )
    SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS score,
           round(1.0 / (1.0 + exp(-z)), 6) >= 0.5 AS keep
    FROM scored
    """


@q("quality_classifier_scores", _classifier_oracle())
def quality_classifier_scores(spark, sf_dir):
    """Linear classifier inference at scan speed
    (functions/text.py:hashed_linear_score): the fastText hashing
    trick as pure Column expressions — 64 inlined weights, per-word
    md5 bucket (engine-portable mode; xxhash64 is the fast path),
    sigmoid of the mean weight, and the keep-gate is an ordinary
    pushable predicate. No UDF, no Python workers, no model files on
    executors — the shape every quality/toxicity/language gate takes
    when the model is small enough to inline."""
    from ..functions.text import hashed_linear_score

    d = tp(spark, sf_dir, "documents")
    score = hashed_linear_score(
        F.col("text"), _classifier_weights(), hash_fn="md5"
    )
    return d.select(
        "doc_id", score.alias("score"), (score >= 0.5).alias("keep")
    )


@q(
    "bpe_tokenize_corpus",
    f"""
    SELECT doc_id,
           trim(regexp_replace(lower(text), '{_WS}', ' ', 'g'))
             AS decoded,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len(string_split_regex(trim(text), '{_WS}'))
           END AS n_words
    FROM documents WHERE doc_id < 150 ORDER BY doc_id
    """,
)
def bpe_tokenize_corpus(spark, sf_dir):
    """Real BPE tokenizer over the corpus (functions/bpe.py): train 20
    merges with the DISTRIBUTED formulation — one corpus-sized word-
    frequency aggregation, then per merge one pair-count agg + one
    regexp_replace over the vocabulary-sized symbol table (checkpointed
    per step so lineage stays one-deep) — then ENCODE each document
    under the learned vocabulary via the Arrow-cached encoder and
    return the round-trip DECODE of the token stream plus the word
    count read off the end-of-word markers.

    Oracle (full hash since round 11; this was the one rows-only
    entry): BPE is reversible by construction, so
    ``decode(encode(text))`` must equal the normalized input —
    DuckDB recomputes the normalization (lower + whitespace collapse)
    directly from ``documents``, and the per-token ``</w>`` marker
    discipline must reproduce the exact word count. This gates
    segmentation coverage (every character of every word, in order,
    exactly once), cross-word isolation, and marker placement under
    CORPUS-TRAINED merges; merge-rank application order and the
    byte-level alphabet are pinned by ``bpe_token_budget``'s
    closed-form count oracle and ``tests/test_bpe.py``'s independent
    reimplementation + hypothesis round-trip."""
    from ..functions import bpe as B

    d = tp(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    merges = B.train_bpe(d, num_merges=20)
    enc = B.bpe_encode(d, merges)
    joined = F.concat_ws("", F.col("tokens"))
    return enc.select(
        "doc_id",
        F.trim(
            F.replace(joined, F.lit("</w>"), F.lit(" "))
        ).alias("decoded"),
        F.size(
            F.filter("tokens", lambda t: t.endswith("</w>"))
        ).cast("long").alias("n_words"),
    ).orderBy("doc_id")


# single-level merges over pairwise-DISJOINT characters: no merge can
# create or destroy another's occurrences, so each document's token
# count has the closed form  sum_words(len+1) - sum_pairs occ(pair) —
# i.e. the production Arrow encoder becomes SQL-verifiable end-to-end
_BPE_FIXED_MERGES = [("t", "h"), ("e", "r"), ("o", "n"), ("a", "l")]

_BPE_OCC = (
    "(length(lower(text)) - length(replace(lower(text), '{p}', ''))) // 2"
)

# same occurrence count on the á-salted text, in BYTE lengths (the
# pair strings are 2 ASCII bytes, hence // 2 still)
_BPE_OCC_B = (
    "(strlen(replace(lower(text), 'a', 'á')) - "
    "strlen(replace(replace(lower(text), 'a', 'á'), '{p}', ''))) // 2"
)


@q(
    "bpe_token_budget",
    f"""
    WITH c AS (
      SELECT doc_id, source,
        length(regexp_replace(lower(text), '\\s', '', 'g'))
        + CASE WHEN trim(text) = '' THEN 0
               ELSE len(string_split_regex(trim(text), '{_WS}')) END
        - {_BPE_OCC.format(p='th')}
        - {_BPE_OCC.format(p='er')}
        - {_BPE_OCC.format(p='on')}
        - {_BPE_OCC.format(p='al')}
        AS n_bpe_tokens,
        -- byte-level closed form over the á-salted text (strlen =
        -- UTF-8 byte length; the disjoint ASCII pairs can never span
        -- a multi-byte sequence, so occurrence counts carry over)
        strlen(regexp_replace(replace(lower(text), 'a', 'á'),
                              '\\s', '', 'g'))
        + CASE WHEN trim(text) = '' THEN 0
               ELSE len(string_split_regex(trim(text), '{_WS}')) END
        - {_BPE_OCC_B.format(p='th')}
        - {_BPE_OCC_B.format(p='er')}
        - {_BPE_OCC_B.format(p='on')}
        AS n_bpe_tokens_bytes
      FROM documents
    )
    SELECT doc_id, source, n_bpe_tokens, n_bpe_tokens_bytes FROM (
      SELECT doc_id, source, n_bpe_tokens, n_bpe_tokens_bytes,
             sum(n_bpe_tokens) OVER (
               PARTITION BY source
               ORDER BY {_HB.format(salt='bpe_budget', id='doc_id')}, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM c
    ) WHERE cum <= 3000
    """,
)
def bpe_token_budget(spark, sf_dir):
    """Tokenizer-TRUE token budgeting (VERDICT r7 task #4b): per-source
    greedy budget trim where the per-document count comes from the
    production BPE encoder (``functions/bpe.py`` Arrow ``mapInPandas``
    with the word cache), not whitespace counts. The merge table here
    is fixed and single-level over disjoint characters, which makes the
    encoder's arithmetic SQL-expressible — the oracle recomputes every
    count with an independent closed form and the budget window
    verbatim, so this entry oracle-gates the ENCODER + budget
    composition; corpus-trained merges are attested by
    ``bpe_tokenize_corpus`` + ``tests/test_bpe.py``. At 100 TB: counts
    are a zero-shuffle map over the corpus (``keep_cols`` threads
    ``source`` through the Arrow batch — no self-join), and the budget
    is one window per domain partition.

    Byte-level arm (VERDICT r8 task #4): the same documents are
    á-salted (every 'a' becomes the 2-byte 'á' — deterministic on both
    engines) and counted again under ``alphabet="bytes"`` with
    single-level disjoint ASCII merges, so the GPT-2-style byte
    alphabet runs through the SAME closed-form oracle (char length ->
    UTF-8 byte length; the ASCII pairs cannot span a multi-byte
    sequence). Multi-byte round-trip correctness is pinned by
    ``tests/test_bpe.py``'s independent reimplementation + hypothesis
    property over arbitrary UTF-8."""
    from ..functions import bpe as B

    d = tp(spark, sf_dir, "documents")
    # both tokenizers' counts in ONE Arrow pass (the á-salted variant
    # rides beside the raw text as a second column — same bytes
    # through the boundary, one crossing instead of two, and no doc_id
    # join of two corpus-sized Python outputs; guide §4.1)
    d2 = d.select(
        "doc_id",
        "source",
        "text",
        F.replace(F.lower(F.col("text")), F.lit("a"), F.lit("á")).alias(
            "__text_b"
        ),
    )
    counts = B.bpe_token_counts_multi(
        d2,
        [
            ("text", _BPE_FIXED_MERGES, "chars", "n_bpe_tokens"),
            (
                "__text_b",
                _BPE_FIXED_MERGES[:3],
                "bytes",
                "n_bpe_tokens_bytes",
            ),
        ],
        keep_cols=("source",),
    )
    kept = token_budget_sample(
        counts,
        "source",
        "doc_id",
        F.col("n_bpe_tokens"),
        3000,
        salt="bpe_budget",
    )
    return kept.select(
        "doc_id", "source", "n_bpe_tokens", "n_bpe_tokens_bytes"
    )
