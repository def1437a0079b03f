"""Deduplication operators for training-data pipelines.

Four tiers, all engine-portable (md5-based hashing so the DuckDB oracle
computes byte-identical values):

* **exact** — hash-groupBy. One shuffle on the content hash; at 100 TB
  the hash (16 B) shuffles, never the document text.
* **MinHash + LSH** — shingle → K md5-min hashes → B bands → bucket
  join. Candidate generation never compares all pairs: docs meet only
  inside a band bucket. The band table is ``(doc_id, band, band_hash)``
  — tiny vs the corpus; the self-join is an equi-join Catalyst can
  shuffle-hash on (band, band_hash).
* **SimHash** — 16-bit sign-sum sketch over token hashes; near-dups
  share the sketch (or differ in ≤1 bit via the banded variant).
* **n-gram Jaccard** — exact verification: shared-shingle equi-join →
  intersection counts → |A∩B| / (|A|+|B|-|A∩B|). Run it on LSH
  candidates, not the full corpus, at scale.

Everything is built-in expressions — explode / groupBy / join — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = [
    "exact_dup_groups",
    "dedupe_exact",
    "shingles",
    "minhash_bands",
    "minhash_candidate_pairs",
    "minhash_signature",
    "minhash_index",
    "minhash_probe",
    "simhash",
    "ngram_jaccard_pairs",
    "duplicate_passages",
    "dedupe_against_reference",
]


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical documents: ``(content_hash, n_docs,
    doc_ids)`` for groups with >1 member."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sort_array(F.collect_list(F.col(id_col))).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def dedupe_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id representative of each identical-content group.

    groupBy-min instead of a window: partial (map-side) aggregation makes
    this one light shuffle of (hash, id) pairs at any scale.
    """
    keep = (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.min(F.col(id_col)).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, id_col, "left_semi")


def shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
             n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: ``(id, shingle)``.

    Tokenize by whitespace, slide a window of ``n`` words, ``concat_ws``
    back. Uses ``sequence``+``transform`` then one explode — the explode
    is the unavoidable row fan-out, everything else is array ops.
    """
    from .text import joined_windows_sql

    words = f"split(trim(`{text_col}`), '\\\\s+')"
    # linear window build (zip_with chain — array args evaluated once
    # per row; a slice-in-transform lambda would re-tokenize per
    # shingle, quadratic in doc length). Docs shorter than the window
    # keep the reference behavior: one partial whole-doc shingle.
    # Emitted as ONE SQL text: the Column-API formulation cost a py4j
    # round-trip per lambda/slice node (~40 per call) and this
    # constructor runs up to three times per probe plan.
    sh = (
        f"CASE WHEN size({words}) >= {n} "
        f"THEN {joined_windows_sql(words, n)} "
        f"ELSE array(array_join({words}, ' ')) END"
    )
    return df.select(
        F.col(id_col),
        F.expr(f"explode(array_distinct({sh}))").alias("shingle"),
    )


def duplicate_passages(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    words: int = 8,
    stride: int = 4,
) -> DataFrame:
    """Sub-document exact dedup: find word-window passages repeated
    anywhere in the corpus (the suffix-array substring-dedup signal of
    Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    Better", in its strided-window approximation — the form every
    MapReduce-era corpus pipeline actually ships).

    Slide a ``words``-word window with ``stride`` over each document,
    md5 the passage, and aggregate: ``(passage_hash, n_occ, n_docs)``
    for passages occurring more than once. One explode + one hash
    groupBy; 16 B hashes shuffle, never the text. Downstream, a pipeline
    joins back on the hash to cut or mask the repeated spans.
    """
    from .text import joined_windows_sql

    w = f"split(trim(`{text_col}`), '\\\\s+')"
    # full windows built linearly (see shingles), then every stride-th
    # kept by index — identical to the slice-at-starts formulation.
    # ONE SQL text (the lambda-API chain cost ~40 py4j round-trips per
    # construction; same Catalyst tree either way).
    passages = (
        f"transform(filter({joined_windows_sql(w, words)}, "
        f"(x, i) -> i % {stride} = 0), p -> md5(p))"
    )
    return (
        df.select(
            F.col(id_col), F.expr(f"explode({passages})").alias("passage_hash")
        )
        .groupBy("passage_hash")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.count_distinct(F.col(id_col)).alias("n_docs"),
        )
        .filter(F.col("n_occ") > 1)
    )


def _minhash_sig_sql(text_col: str, num_hashes: int, shingle_n: int) -> str:
    """SQL text of the per-row MinHash signature (``array<string>`` of
    ``num_hashes`` md5-min components) — ZERO-shuffle formulation.

    One ``aggregate`` fold over the distinct shingle array computes all
    K minima together (K md5 evaluations per shingle — identical work
    to the former explode + K ``min()`` aggregations, minus the
    Generate and the groupBy exchange; at 100 TB the signature is a
    narrow map inside the corpus scan stage). Equivalences with the
    aggregation form, element by element:

    * ``least(acc, h)`` over non-null md5s == ``min(h)`` (md5 is null
      only for a null shingle, and the fold skips null shingles exactly
      as ``min`` ignores nulls);
    * the ``'g'`` sentinel is greater than every md5 (hex digits only),
      so it is the fold identity; a doc whose only shingle is null
      (null text) keeps the sentinel everywhere → rewritten to the
      all-null signature ``min`` would produce.
    """
    words = f"split(trim(`{text_col}`), '\\\\s+')"
    from .text import joined_windows_sql

    sh = (
        f"CASE WHEN size({words}) >= {shingle_n} "
        f"THEN {joined_windows_sql(words, shingle_n)} "
        f"ELSE array(array_join({words}, ' ')) END"
    )
    upd = ", ".join(
        f"least(acc[{i}], md5(concat('{i}:', s)))" for i in range(num_hashes)
    )
    fold = (
        f"aggregate(array_distinct({sh}), "
        f"array_repeat('g', {num_hashes}), "
        f"(acc, s) -> CASE WHEN s IS NULL THEN acc ELSE array({upd}) END)"
    )
    return (
        f"transform({fold}, "
        f"x -> CASE WHEN x = 'g' THEN CAST(NULL AS STRING) ELSE x END)"
    )


def _band_items_sql(bands: int, rows_per_band: int) -> str:
    """Band structs over an already-computed ``sig`` attribute."""
    return ", ".join(
        "struct({b} AS band, md5(concat_ws(',', {m})) AS band_hash)".format(
            b=b,
            m=", ".join(
                f"sig[{i}]"
                for i in range(b * rows_per_band, (b + 1) * rows_per_band)
            ),
        )
        for b in range(bands)
    )


def minhash_bands(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  num_hashes: int = 16, bands: int = 4, shingle_n: int = 3) -> DataFrame:
    """MinHash signature banded for LSH: ``(id, band, band_hash)``.

    Hash family i (0..K-1): ``md5(i || ':' || shingle)`` — engine-portable
    and uniform. Signature element i = min over the doc's shingles.
    Band b hashes together its K/B consecutive signature elements.

    Zero shuffle (see :func:`_minhash_sig_sql`): the signature is a
    narrow fold per row, the bands a 4-way explode of 2-field structs —
    the first exchange in any consumer is its own (band, band_hash)
    join or groupBy. One signature row per INPUT row (ids are assumed
    unique per the index contract)."""
    sig = minhash_signature(df, text_col, id_col, num_hashes, shingle_n)
    band_items = _band_items_sql(bands, num_hashes // bands)
    return sig.select(
        id_col, F.expr(f"explode(array({band_items}))").alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.band_hash").alias("band_hash"))


def minhash_signature(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_hashes: int = 16,
                      shingle_n: int = 3) -> DataFrame:
    """Full MinHash signature per document: ``(id, sig array<string>)``
    — the persistable unit of an incremental dedup index. Same hash
    family as :func:`minhash_bands` (``md5(i || ':' || shingle)``,
    min over shingles), computed as ONE narrow fold per row
    (:func:`_minhash_sig_sql`) — no explode, no shuffle. One output
    row per input row: ids are assumed unique (the index contract);
    the former groupBy formulation would instead have merged duplicate
    ids' shingle sets — dedupe upstream if that can occur."""
    return df.select(
        F.col(id_col),
        F.expr(_minhash_sig_sql(text_col, num_hashes, shingle_n)).alias(
            "sig"
        ),
    )


def minhash_index(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", num_hashes: int = 16,
                  bands: int = 4, shingle_n: int = 3) -> DataFrame:
    """Persistable LSH index rows: ``(id, band, band_hash, sig)`` —
    one row per (doc, band), carrying the full signature so a later
    probe can estimate similarity WITHOUT ever re-reading the
    indexed corpus's text. Write this to a table (e.g. a
    :class:`~pypeman_spark.store.TxTable` keyed/bucketed on
    ``band_hash``) and append as the corpus grows; the probe side
    joins on (band, band_hash), so the scan prunes to the collided
    buckets. Band hashes match :func:`minhash_bands` exactly (md5
    over the band's comma-joined signature slice). One index row
    group per INPUT row (ids must be unique — dedupe upstream, e.g.
    ``dedupe_exact``, before indexing)."""
    sig = minhash_signature(df, text_col, id_col, num_hashes, shingle_n)
    band_items = _band_items_sql(bands, num_hashes // bands)
    return sig.select(
        id_col, F.expr(f"explode(array({band_items}))").alias("bb"), "sig"
    ).select(
        id_col, F.col("bb.band").alias("band"),
        F.col("bb.band_hash").alias("band_hash"), "sig",
    )


def minhash_probe(new_df: DataFrame, index_df: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  num_hashes: int = 16, bands: int = 4,
                  shingle_n: int = 3,
                  min_agree: int = 8,
                  new_index_df: "DataFrame | None" = None) -> DataFrame:
    """INCREMENTAL near-dup detection: new documents probed against a
    PERSISTED index (:func:`minhash_index` rows — typically appended
    batch after batch to a table), returning
    ``(new_id, hist_id, n_agree)`` for pairs whose signatures agree on
    at least ``min_agree`` of ``num_hashes`` components (the unbiased
    MinHash Jaccard estimate is ``n_agree / num_hashes``).

    Scale contract: the historical corpus's TEXT never participates —
    only its index rows (id, band, band_hash, sig) move. Candidates
    come from the (band, band_hash) equi-join (high-cardinality key,
    well-distributed shuffle, never all-pairs); the agreement count is
    a zip_with over the two signature arrays, integer-exact in every
    engine.

    ``new_index_df`` short-circuits the probe side's signature
    computation when the caller already holds :func:`minhash_index`
    rows for ``new_df`` (same hash parameters) — a sink that probes a
    batch against itself AND against history, then appends the rows,
    pays for one signature pass instead of three."""
    probe = (
        new_index_df if new_index_df is not None
        else minhash_index(
            new_df, text_col, id_col, num_hashes, bands, shingle_n
        )
    ).select(
        F.col(id_col).alias("new_id"), "band", "band_hash",
        F.col("sig").alias("sig_new"),
    )
    hist = index_df.select(
        F.col(id_col).alias("hist_id"), "band", "band_hash",
        F.col("sig").alias("sig_hist"),
    )
    cand = (
        probe.join(hist, ["band", "band_hash"])
        # a pair colliding in several bands appears once: signatures
        # are functionally determined by the id, so min() dedups the
        # pair without shuffling the arrays through a distinct
        .groupBy("new_id", "hist_id")
        .agg(
            F.min("sig_new").alias("sig_new"),
            F.min("sig_hist").alias("sig_hist"),
        )
    )
    return cand.select(
        "new_id", "hist_id",
        F.expr(
            "aggregate(zip_with(sig_new, sig_hist, "
            "(a, b) -> CAST((a = b) AS BIGINT)), "
            "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).alias("n_agree"),
    ).filter(F.col("n_agree") >= min_agree)


def minhash_candidate_pairs(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", num_hashes: int = 16,
                            bands: int = 4, shingle_n: int = 3) -> DataFrame:
    """Near-duplicate candidate pairs ``(id_a < id_b)``: docs sharing any
    LSH band bucket. The join key (band, band_hash) is high-cardinality →
    well-distributed shuffle; no all-pairs comparison ever happens."""
    b = minhash_bands(df, text_col, id_col, num_hashes, bands, shingle_n)
    left = b.select(F.col(id_col).alias("id_a"), "band", "band_hash")
    right = b.select(F.col(id_col).alias("id_b"), "band", "band_hash")
    return (
        left.join(right, ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 16) -> DataFrame:
    """SimHash sketch: ``(id, simhash)`` where bit b is the sign of the
    sum over distinct tokens of ±1, and the ±1 for (token, b) is the
    parity of hex digit b of md5(token) — a formulation with no
    hex→int conversion, byte-identical in any engine with md5.

    One sketch per input row (ids assumed unique; null-text rows are
    dropped, matching the former explode semantics).
    """
    assert bits <= 32  # md5 has 32 hex digits
    # ZERO-shuffle formulation: md5 once per distinct token
    # (``transform``), then ONE fold accumulates every bit's ±1 sum —
    # integer addition is order-free, so the fold equals the former
    # explode + per-bit ``sum()`` aggregation exactly, minus the
    # Generate and the groupBy exchange. The explicit null-text filter
    # reproduces the explode semantics (``explode(NULL array)`` emitted
    # no row, dropping the doc).
    toks = f"array_distinct(split(trim(lower(`{text_col}`)), '\\\\s+'))"
    upd = ", ".join(
        f"acc[{b}] + (CASE WHEN contains('02468ace', "
        f"substring(h, {b + 1}, 1)) THEN 1 ELSE -1 END)"
        for b in range(bits)
    )
    sums = (
        f"aggregate(transform({toks}, t -> md5(t)), "
        f"array_repeat(CAST(0 AS BIGINT), {bits}), "
        f"(acc, h) -> array({upd}))"
    )
    sketch = " + ".join(
        f"(CASE WHEN __s[{b}] > 0 THEN CAST({1 << b} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for b in range(bits)
    )
    return (
        df.filter(F.col(text_col).isNotNull())
        # two projections: __s is referenced ``bits`` times by the
        # sketch sum, and CollapseProject keeps non-cheap expressions
        # referenced more than once in their own stage (one fold per
        # row, not sixteen)
        .select(F.col(id_col), F.expr(sums).alias("__s"))
        .select(id_col, F.expr(sketch).alias("simhash"))
    )


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.8) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing ≥1 shingle:
    ``(id_a, id_b, jaccard)`` with jaccard ≥ threshold.

    At scale: feed this only LSH candidates (semi-join the shingle table
    with minhash_candidate_pairs) — here it is the exact verifier.
    """
    sh = shingles(df, text_col, id_col, n)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    dim: int = 64,
    exact: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: ``(id_a < id_b, cosine)``
    with cosine ≥ ``threshold``.

    The default is the scale path: the pair space is restricted to
    vectors sharing a random-hyperplane bucket (similarity.hyperplanes
    — deterministic), so the join is an equi-join on bucket, never a
    cross join. Pass ``exact=True`` for the exact O(N²) verifier —
    an explicit opt-in because a cartesian at corpus scale is a
    scale-killer; use it only on bounded subsets or LSH candidates
    (``num_planes`` is ignored when ``exact``).
    """
    from .similarity import _norm_sql, _q, hyperplanes, lsh_bucket

    # each side's norm staged BELOW the bucket join: a vector meets
    # many partners inside its bucket, and the inline cosine would
    # re-fold both norms per pair (see similarity._stage_norm)
    a = df.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va")
    ).withColumn("__na", F.expr(_norm_sql(_q("__va"))))
    b = df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb")
    ).withColumn("__nb", F.expr(_norm_sql(_q("__vb"))))
    if exact:
        pairs = a.crossJoin(b)
    else:
        if num_planes <= 0:
            raise ValueError(
                "num_planes must be > 0 for the bucketed path; "
                "pass exact=True for the O(N^2) verifier"
            )
        planes = hyperplanes(num_planes, dim)
        a = a.withColumn("__bucket", lsh_bucket("__va", planes))
        b = b.withColumn("__bucket", lsh_bucket("__vb", planes))
        pairs = a.join(b, "__bucket")
    # threshold on the UNROUNDED cosine (matching the SQL oracles);
    # rounding only in the projection — otherwise a pair at e.g.
    # 0.3999996 would pass here but fail the oracle's WHERE
    from .similarity import _dot_sql

    return (
        pairs.filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "__cos",
            F.expr(f"({_dot_sql('`__va`', '`__vb`')} / (`__na` * `__nb`))"),
        )
        .filter(F.col("__cos") >= threshold)
        .select(
            "id_a", "id_b", F.round(F.col("__cos"), 6).alias("cosine")
        )
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
    assume_canonical: bool = False,
) -> DataFrame:
    """Duplicate-cluster assignment: ``(node, cluster_id)`` where
    ``cluster_id`` is the minimum id reachable through the candidate-pair
    graph (LSH/minhash output). Singletons from ``nodes`` map to
    themselves.

    Distributed min-label propagation: per round, every node adopts the
    smallest label among itself and its neighbours — one equi-join + one
    groupBy shuffle per round, converging in O(cluster diameter) rounds
    (near-dup clusters are shallow: dups of one document link through
    it, so 2-3 rounds is typical). ``localCheckpoint`` truncates lineage
    each round so plans don't grow with iterations. At 100 TB this is
    the standard alternating-star CC shape: no step ever materialises
    more than |edges| rows, and the label table is 16 bytes/node.

    ``assume_canonical=True`` is the caller's promise that ``pairs`` are
    DISTINCT with ``id_a < id_b``, as both in-repo pair producers emit
    them (``minhash_candidate_pairs`` ends in ``.distinct()``,
    ``embedding_near_dup_pairs`` emits one row per same-bucket pair).
    The two-direction edge union then holds no duplicate, so the
    edge-set ``distinct`` is skipped: one shuffle of 2|pairs| rows less
    per call (§2.4). A broken promise costs rows, not correctness:
    duplicate or reversed pairs only repeat edges, and a minimum over
    repeated labels is the same minimum. The default keeps the dedup.
    """
    edges = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).unionByName(
        pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    )
    if not assume_canonical:
        edges = edges.distinct()
    edges = edges.localCheckpoint()
    labels = edges.select(F.col("src").alias("node")).distinct()
    if nodes is not None:
        labels = labels.unionByName(nodes.select(F.col("node"))).distinct()
    # NOT checkpointed (r15): the initial label table is consumed only
    # inside round 1's single action (both the neighbour join and the
    # label join sit under one localCheckpoint job, where the shared
    # distinct-union subtree unifies); from round 2 on, `labels` is the
    # checkpointed round output. The eager materialisation job the old
    # checkpoint ran per CC call bought nothing — measured 2.9 s ->
    # 2.2 s per chain at sf0.1 (interleaved A/B), results identical.
    labels = labels.withColumn("label", F.col("node"))

    for rnd in range(max_iters):
        # label(node) <- min(label(node), min over neighbours' labels).
        # The OLD label rides along in the checkpointed frame so the
        # convergence check is a narrow filter+count over already-
        # materialised blocks — NOT a second shuffle join of old vs new
        # labels per round (that join used to double the per-iteration
        # job count and shuffle the whole label table again).
        if rnd == 0:
            # Round 1 runs with identity labels (label(dst) == dst by
            # construction), so the neighbour lookup needs no join at
            # all: min(label) over neighbours IS min(dst) per src. One
            # shuffle of edges by src replaces the edges-by-dst join
            # shuffle PLUS the groupBy-src shuffle — at any scale, the
            # first (and for shallow near-dup graphs, usually only)
            # round moves the edge set once instead of twice (§2.4).
            nbr_min = edges.groupBy("src").agg(F.min("dst").alias("nbr_label"))
        else:
            nbr_min = (
                edges.join(labels, edges["dst"] == labels["node"])
                .groupBy("src")
                .agg(F.min("label").alias("nbr_label"))
            )
        new_labels = (
            labels.join(nbr_min, labels["node"] == nbr_min["src"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
                F.col("label").alias("__old"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter(F.col("label") != F.col("__old")).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            break

    return labels.select(F.col("node"), F.col("label").alias("cluster_id"))


def dedupe_against_reference(
    new_batch: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental exact dedup: drop new documents whose content already
    exists in a reference corpus (the daily-refresh path — dedup the
    new crawl against everything shipped before, without re-reading the
    old corpus text).

    ``seen`` is either previous raw documents (hashed here) or a
    pre-computed one-column ``__h`` hash table — at 100 TB you persist
    the 16 B/doc hash table once and reuse it per batch, so the
    incremental cost is hash(new) + one anti join keyed on the hash.
    """
    if "__h" in seen.columns:
        seen_h = seen.select("__h")
    else:
        seen_h = seen.select(F.md5(F.col(text_col)).alias("__h"))
    return (
        new_batch.withColumn("__h", F.md5(F.col(text_col)))
        .join(seen_h, "__h", "left_anti")
        .drop("__h")
    )
