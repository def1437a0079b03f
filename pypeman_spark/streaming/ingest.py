"""Streaming corpus ingestion: the day-2 recipe as a foreachBatch sink.

``examples/incremental_corpus.py`` shows the batch loop; this module
packages the same semantics for Structured Streaming — every arriving
micro-batch is deduped within itself, probed against the PERSISTED
MinHash index (history text never re-read), and the survivors appended
to BOTH tables exactly-once (TxTable txn markers keyed by the running
query's id and batch_id, so a checkpoint-restart re-delivery is a
provable no-op while a query on a fresh checkpoint still lands).

Reference basis: the reference engine's channels replay safely via
message-store state (``/root/reference/pypeman/channels.py`` process /
replay); re-expressed Spark-first as Delta-style idempotent table
appends driven by ``writeStream.foreachBatch``. The dedup tier is
Broder MinHash / banded LSH (``functions/dedup.py``).

Scale contract (same as the probe's): per micro-batch the history
contributes only a narrow-column index scan that streams map-side
through the (band, band_hash) equi-join — the batch side broadcasts,
the corpus text of everything already ingested never moves. Measured
flat-ish in history size in ``INCR_DEDUP_PERF.md``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import dedup as D
from .token import query_token


def incremental_ingest_sink(
    corpus,
    index,
    app: str = "ingest",
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    min_agree: int = 8,
    within_batch: bool = True,
):
    """foreachBatch sink factory:
    ``writeStream.foreachBatch(incremental_ingest_sink(corpus, index))``.

    ``corpus`` and ``index`` are :class:`~pypeman_spark.store.TxTable`
    handles; the index table holds :func:`~pypeman_spark.functions.
    dedup.minhash_index` rows and grows with every ingested batch.
    Each micro-batch is exact-deduped within itself, near-dup-deduped
    WITHIN the batch (``within_batch`` — self-probe of the batch's own
    index rows, keeping the lowest id of each agreeing pair; a batch
    that arrives carrying two paraphrases of one document must not
    ingest both), near-dup-probed against the index, and the survivors
    appended to both tables under txn ids ``(token, batch_id)`` /
    ``(token + "_idx", batch_id)``, where ``token`` is the running
    query's id (``app`` for a direct call) — a re-delivered batch
    (crash between the appends and the stream's checkpoint commit)
    no-ops on whichever appends already landed, so the pair
    converges exactly-once without a cross-table transaction.

    Cost shape: the batch's MinHash signatures are computed ONCE
    (``minhash_index`` rows), reused for the self-probe, the history
    probe, and the index append — per batch the history contributes
    only its narrow index scan, never text, never a shuffle of
    history-sized data.
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch = D.dedupe_exact(
            batch_df, text_col=text_col, id_col=id_col
        )
        mh = dict(
            text_col=text_col, id_col=id_col, num_hashes=num_hashes,
            bands=bands, shingle_n=shingle_n,
        )
        rows = D.minhash_index(batch, **mh).localCheckpoint()
        if within_batch:
            self_dups = (
                D.minhash_probe(
                    batch, rows, min_agree=min_agree,
                    new_index_df=rows, **mh,
                )
                .filter(F.col("hist_id") < F.col("new_id"))
                .select(F.col("new_id").alias(id_col)).distinct()
            )
            batch = batch.join(self_dups, id_col, "left_anti")
            rows = rows.join(self_dups, id_col, "left_anti")
        idx_df = index.snapshot()
        if "band_hash" in idx_df.columns:
            dup_ids = D.minhash_probe(
                batch, idx_df, min_agree=min_agree,
                new_index_df=rows, **mh,
            ).select(F.col("new_id").alias(id_col)).distinct()
            survivors = batch.join(dup_ids, id_col, "left_anti")
        else:  # virgin index: nothing ingested yet, no schema to probe
            survivors = batch
        # one materialization: everything below appends THIS relation
        survivors = survivors.localCheckpoint()
        if survivors.count():
            token = query_token(batch_df.sparkSession, app)
            corpus.append(survivors, txn=(token, int(batch_id)))
            index.append(
                rows.join(survivors, id_col, "left_semi"),
                txn=(f"{token}_idx", int(batch_id)),
            )

    return _sink


def index_sync(
    corpus,
    index,
    id_col: str = "doc_id",
    deleted_ids: "DataFrame | None" = None,
    bands: "int | None" = None,
    mode: str = "dv",
    txn: "tuple[str, int] | None" = None,
) -> int:
    """Cascade corpus deletes into the persisted MinHash index: prune
    the index rows of every document no longer LIVE in the corpus, and
    return how many DEAD candidate ids were submitted for pruning
    (candidate ids that never entered the index — e.g. deduped away at
    ingest — count as dead too; their delete is a no-op). Without this, a
    ``delete_where`` / ``delete_keys`` / retention pass on the corpus
    leaves the deleted docs' band rows in the index forever — a
    re-arriving near-copy of a retired document would be suppressed by
    a ghost. Reference basis: the engine's store retention
    (``store/msgstore.py:apply_retention``) — same lifecycle, applied
    to the dedup tier's index table.

    ``deleted_ids`` (a narrow one-column DataFrame) makes the prune
    **O(deleted), never O(index)**: the retention recipe passes the
    ids it just deleted, and only the index buckets holding those keys
    are touched (``mode="dv"`` default: the dead rows' positions
    publish as deletion-vector metadata — nothing is rewritten). Ids
    still live in the corpus are filtered out first (left-anti against
    the corpus's column-pruned id scan), so an over-broad or stale
    candidate list can never orphan a live document from the index.
    ``deleted_ids=None`` is full reconciliation: dead ids are computed
    as the index's distinct ids anti-joined against the corpus's live
    ids — two narrow id-only scans; the delete itself stays
    bucket-scoped in the dead keys.

    ``bands``: band count of the index rows (sink default 4). ``None``
    reads ``max(band) + 1`` from the index — a bounded one-row agg
    over a column-pruned scan; pass it explicitly to skip that read.
    """
    idx_df = index.snapshot()
    if "band" not in idx_df.columns:
        return 0  # virgin index: nothing ingested yet, nothing dead
    if deleted_ids is not None and list(corpus.key_cols) == [id_col]:
        # O(deleted) INCLUDING the liveness guard: lookup() reads only
        # the key-hash buckets the candidate ids land in (~K of B
        # buckets, pruned driver-side), so the anti-join's right side
        # is at most candidate-sized — never the corpus's full id
        # column
        cand = deleted_ids.select(id_col).distinct()
        live_ids = corpus.lookup(cand).select(id_col)
    else:
        # full reconciliation (or a corpus not keyed on the id): the
        # index's distinct ids against the corpus's column-pruned id
        # scan — two narrow scans; the delete below is still
        # bucket-scoped in the dead keys
        cand = (
            deleted_ids.select(id_col) if deleted_ids is not None
            else idx_df.select(id_col)
        ).distinct()
        live_ids = corpus.snapshot().select(id_col)
    dead = cand.join(live_ids, id_col, "left_anti").localCheckpoint()
    n_dead = dead.count()
    if not n_dead:
        return 0
    key_cols = list(index.key_cols)
    if key_cols == [id_col]:
        keys = dead
    elif key_cols == [id_col, "band"]:
        if bands is None:
            bands = int(
                idx_df.agg(F.max("band")).collect()[0][0]
            ) + 1
        keys = dead.select(
            id_col,
            F.explode(F.array(
                *[F.lit(b) for b in range(bands)]
            )).alias("band"),
        )
    else:
        raise ValueError(
            f"index_sync expects the index table keyed on "
            f"[{id_col!r}] or [{id_col!r}, 'band'], got {key_cols!r}"
        )
    index.delete_keys(keys, mode=mode, txn=txn)
    return n_dead


def corpus_retention(
    corpus,
    index,
    *preds: "tuple[str, str, object]",
    id_col: str = "doc_id",
    bands: "int | None" = None,
    mode: str = "rewrite",
    index_mode: str = "dv",
    txn: "tuple[str, int] | None" = None,
) -> int:
    """Day-2 retention recipe: ``DELETE WHERE`` on the corpus AND the
    cascading index prune, so re-arriving near-copies of retired
    documents are ingested again instead of being suppressed by ghost
    index rows. The doomed ids are captured with a footer-stats-pruned
    :meth:`~pypeman_spark.store.TxTable.scan` BEFORE the delete (reads
    only the matching files' id column), then handed to
    :func:`index_sync` as the narrow candidate list — the index prune
    is O(deleted). Returns the number of document ids pruned from the
    index. Rows another writer appends between the capture and the
    delete may be deleted without their index rows pruned until the
    next sync — run a ``deleted_ids=None`` reconciliation on whatever
    cadence that drift matters.

    ``txn=(app, n)`` makes the pair idempotent under re-delivery: the
    corpus delete runs under ``(app, n)`` and the index prune under
    ``(app + "_idx", n)`` — same convention as the ingest sink.
    """
    doomed = corpus.scan(*preds).select(id_col).localCheckpoint()
    corpus.delete_where(*preds, mode=mode, txn=txn)
    return index_sync(
        corpus, index, id_col=id_col, deleted_ids=doomed,
        bands=bands, mode=index_mode,
        txn=(f"{txn[0]}_idx", txn[1]) if txn is not None else None,
    )
