"""Streaming near-duplicate detection over an unbounded corpus
(SURVEY.md §2.2 K-79 streaming twin).

Each micro-batch of documents is checked against everything ingested
so far via the incremental LSH probe (operators/minhash.py
incremental_near_duplicates): the batch is signed ONCE, its bucket
rows probe the accumulated index, candidate cost is O(batch ×
collisions) per trigger, and history-vs-history pairs are never
recomputed.

Completeness theorem (pytest-pinned): every near-dup pair (a, b) is
emitted exactly once — in the micro-batch where the LATER of the two
documents arrives. So the union of per-batch emissions over any
partitioning of the corpus into batches equals the full batch-mode
q_k2 pair set: the stream is a partition of the pairs, not an
approximation.

State rides the batch-addressed layer in streaming/state.py: every
write is an OVERWRITE of a ``batch=N`` subdirectory (replay-
idempotent), ``maintain`` (streaming/maintenance.py) compacts out of
band behind a crash-safe manifest marker, and each
row-state ``batch=N`` is ONE parquet file with no inner partition
column (the state.py layout contract):

- ``index_dir/batch=N/`` — the persisted ``lsh_buckets`` frame
  (doc_id, band, bh). The probe is a plain join of the batch's bucket
  rows against the history's on (band, bh).
- ``corpus_dir/batch=N/`` — accumulated (doc_id, text) rows. The
  exact verify shingles history text ONLY for candidate docs: the
  history rows are semi-joined to the candidate ids before
  ``shingle_rows``.
- ``pairs_dir/batch=N/`` — (d1, d2, jaccard) rows, one dir per batch.

The corpus and index dirs declare the ``rows`` layout; the writer
refuses a dir declaring any other layout — such as the hash-bucketed
``rows-bhm`` / ``rows-dh`` of earlier versions — before it reads or
writes anything.

Input contract and the cross-batch guard (always on): ``doc_id``
values must be unique ACROSS batches — the source is expected to
deliver each document once (modulo replays of the same batch, which
the batch-addressed overwrite absorbs). Duplicates WITHIN a batch are
dropped here (cheap dropDuplicates); cross-batch redelivery of the
same doc_id under a different batch id would accumulate duplicate doc
rows and corrupt downstream shingling. The guard enforces the
contract with one exact anti-join against the history id column: the
corpus dir already is the set of seen ids, so there is no second
state to keep in sync with it. The join reads the history through
``read_state(..., exclude_batch=batch_id)`` like every other probe, so
a replayed trigger sees exactly the pre-batch history, and it runs
only when the corpus holds another batch. A NULL id never matches an
equi-join key, so a NULL-id row passes the guard.

foreachBatch (not a stateful operator): the per-key state primitives
(``applyInPandasWithState``) hold state per GROUP, but dedup state is
corpus-global and join-shaped — exactly the case SURVEY §4.3 assigns
to foreachBatch + external state, the same pattern as the CDC
multi-table applier (operators/cdc_apply.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_publisher_spark.operators.minhash import (
    lsh_buckets,
    minhash_signatures,
    minhash_signatures_from_shingles,
    probe_candidate_pairs,
    verify_candidates_from_shingles,
)
from cdc_publisher_spark.functions.text import shingle_rows
from cdc_publisher_spark.streaming.state import (
    batch_dirs,
    compacted_upto,
    read_state,
    require_layout_marker,
    write_layout_marker,
)


def _has_history(spark: SparkSession, corpus_dir: str, batch_id: int) -> bool:
    """Listing-only: does the corpus hold any batch other than this one
    (a compact segment or another ``batch=`` dir)? No Spark job."""
    return compacted_upto(spark, corpus_dir) is not None or any(
        k != batch_id for k, _ in batch_dirs(spark, corpus_dir)
    )


def read_dedup_state(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Public unified view of a dedup state dir (corpus / index /
    pairs): compacted segment + live batch dirs. Downstream
    consumers must use this instead of ``spark.read.parquet(state_dir)``
    once compaction runs — underscore-prefixed compact dirs are
    invisible to plain partition discovery BY DESIGN (that is what
    keeps the compact segment hidden from the per-batch readers until
    the manifest names it)."""
    return read_state(spark, state_dir)


def dedup_micro_batch(
    batch_df: DataFrame,
    batch_id: int,
    corpus_dir: str,
    index_dir: str,
    pairs_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> None:
    """foreachBatch body: sign the batch once, join its bucket rows
    against the persisted index, materialize candidates, shingle the
    history text of candidate docs only, verify, and overwrite this
    batch's own state partitions.

    Idempotence under replay: every write targets ``.../batch=N`` with
    mode("overwrite"), so a re-delivered batch (crash after any subset
    of the writes, before the checkpoint commit) rewrites the same
    partitions and the state never accumulates duplicates. The probe
    excludes this batch's partitions from history by construction
    (live dirs are path-filtered, the compact segment row-filtered),
    so a replayed probe sees exactly the pre-batch state — also after
    ``maintain`` folded the committed batches below it, so the guard's
    anti-join still drops every redelivered history id. The three
    dirs are compacted out of band by ``maintain``
    (streaming/maintenance.py), never from inside the trigger.
    """
    spark = batch_df.sparkSession
    # refuse a dir declared under any other layout BEFORE any read
    # or write: mixing layouts inside one dir breaks the union read
    for d in (corpus_dir, index_dir):
        require_layout_marker(spark, d, "rows")
    batch = batch_df.select(id_col, text_col).dropDuplicates([id_col])
    # metadata-only signal: manifest or any other batch dir present
    # (corpus is written before index each batch, so its presence
    # is the authoritative "history exists" marker)
    has_history = _has_history(spark, corpus_dir, batch_id)
    if has_history:
        # the cross-batch guard: drop ids the history already holds
        seen = read_state(
            spark, corpus_dir, exclude_batch=batch_id, schema=batch.schema
        )
        batch = batch.join(seen.select(id_col), id_col, "left_anti")
    # the guarded batch feeds three jobs this trigger (existence
    # probe, shingling, corpus write): cache it once so the
    # dropDuplicates shuffle and the guard join run once
    batch = batch.persist()
    try:
        _dedup_micro_batch_body(
            spark, batch, batch_id, has_history, corpus_dir, index_dir,
            pairs_dir, id_col, text_col, threshold,
        )
    finally:
        batch.unpersist()


def _dedup_micro_batch_body(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    has_history: bool,
    corpus_dir: str,
    index_dir: str,
    pairs_dir: str,
    id_col: str,
    text_col: str,
    threshold: float,
) -> None:
    if not batch.take(1):
        return
    # shingle the batch ONCE: the same hashed shingle rows feed the
    # signature aggregation here AND the exact verify below (r14
    # VERDICT ask #4a — the verify leg previously re-shingled the
    # candidate-touching batch docs from text; the shingle pass is a
    # posexplode + per-doc window, the chain's most expensive linear
    # stage)
    tok_batch = shingle_rows(batch, id_col, text_col, 3, hashed=True).persist()
    new_buckets = lsh_buckets(minhash_signatures_from_shingles(tok_batch, id_col)).persist()
    try:
        probe = new_buckets.select(id_col, "band", "bh")
        if has_history:
            history_docs = read_state(
                spark, corpus_dir, exclude_batch=batch_id, schema=batch.schema
            ).select(id_col, text_col)
            history_index = read_state(
                spark, index_dir, exclude_batch=batch_id, schema=new_buckets.schema
            )
            if history_index is None:
                # index lost out-of-band: rebuild from the history docs
                history_index = lsh_buckets(
                    minhash_signatures(history_docs, id_col, text_col)
                )
            buckets = history_index.select(id_col, "band", "bh").unionByName(probe)
            cands = probe_candidate_pairs(probe, buckets, id_col).persist()
            cand_ids = cands.select(F.explode(F.array("d1", "d2")).alias(id_col))
            # history docs are shingled from stored text, candidate docs
            # only; the batch side reuses tok_batch verbatim
            tok = shingle_rows(
                history_docs.join(cand_ids.distinct(), id_col, "left_semi"),
                id_col,
                text_col,
                3,
                hashed=True,
            ).unionByName(tok_batch)
        else:
            # first trigger: no history to probe — within-batch pairs
            # only. Reuse the ALREADY-SIGNED bucket rows as both probe
            # and bucket side instead of re-shingling + re-signing the
            # batch through incremental_near_duplicates (r14: the
            # duplicate sign pass cost ~2-3 s of the first trigger at
            # 8k rows); probe_candidate_pairs(probe, probe) is exactly
            # the distinct within-batch pair set.
            cands = probe_candidate_pairs(probe, probe, id_col).persist()
            tok = tok_batch
        try:
            verify_candidates_from_shingles(tok, cands, id_col, threshold).write.mode(
                "overwrite"
            ).parquet(os.path.join(pairs_dir, f"batch={batch_id}"))
        finally:
            cands.unpersist()
        # one file each: batch and new_buckets are cached and the pairs
        # write computed them
        batch.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(corpus_dir, f"batch={batch_id}")
        )
        new_buckets.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(index_dir, f"batch={batch_id}")
        )
        # declare each dir's merge algebra for the generic `maintain`
        # pass (explicit markers, not schema guessing — ADVICE r9)
        for d in (pairs_dir, corpus_dir, index_dir):
            write_layout_marker(spark, d, "rows")
    finally:
        new_buckets.unpersist()
        tok_batch.unpersist()
