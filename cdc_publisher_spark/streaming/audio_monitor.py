"""Streaming audio-duplicate monitor: the media-ingest guard.

Eighth consumer of the shared batch-addressed state layer
(streaming/state.py). q_k106 (queries/operators_reg.py) fingerprints
an audio corpus in batch — Haitsma–Kalker band-energy bits over the
real PCM decode (operators/multimodal.py) — and q_k107 audits its
economics; this monitor keeps the EXACT-duplicate slice of that
protection live over an unbounded media stream: per trigger, which
incoming clips carry a fingerprint the corpus has ALREADY ingested
under another id (re-uploads, mirror crawls, renamed assets — the
dominant media-dup mode a crawl actually sees). Near-dup mining at
Hamming > 0 stays a batch job (q_k106's banded join); the stream
guard is the audio twin of the dedup cross-batch id guard: cheap,
exact, per trigger.

State is ONE dir of ``(media_id, fpk)`` rows — fpk the 64-bit digest
of the clip's full 256-bit fingerprint (frame words in frame order) —
plus a ``pairs`` dir of emitted ``(orig_id, dup_id)`` detections,
NORMALIZED to ``orig_id = least(a, b)`` / ``dup_id = greatest(a, b)``
so the pair identity is slicing-independent (ADVICE r11: the history
leg used to put the historical id first, which under out-of-id-order
arrival emitted (5,3) where batch mode said (3,5)). The per-trigger
probe is a plain equi-join on ``fpk`` against the history's
``(media_id, fpk)`` columns, and each trigger writes its fpk delta as
one file (the state.py layout contract). The dir declares ``rows``;
the writer refuses a dir declaring any other layout — such as the
hash-bucketed ``rows-fm-1024`` of earlier versions — before it writes
anything.

Completeness (pytest-pinned, the incremental_dedup theorem shape):
every exact-dup pair {a, b} is emitted exactly once, in the trigger
where the LATER clip arrives — history×batch matches plus
within-batch matches — so the union of per-batch emissions over ANY
slicing equals the batch-mode same-fpk pair set in (min, max) id
order. The history leg filters ``orig_id != dup_id`` so a cross-batch
re-delivery of the same media_id (an id-contract violation upstream)
degrades to a no-op, never a spurious (X, X) self-pair (ADVICE r11).

Collision contract (the k90/k95 convention): two different clips
collide iff their full 256-bit fingerprints differ but the 64-bit
digest matches — expected mass C(n,2)/2⁶⁴, ~3·10⁻⁷ colliding pairs
at n = 10⁵ clips — and a collision emits one spurious dup pair, it
never drops a real one (identical audio ⇒ identical fingerprint ⇒
identical digest, no false negatives).

Replay: both writes are overwrites of this batch's own ``batch=N``
dirs and the probe excludes them by construction, so a re-delivered
trigger rewrites byte-for-byte. An EMPTY trigger returns before any
write (ADVICE r11: a file-less batch dir would later fail schema
inference for the whole read). Compaction rewrites verbatim;
``maintain`` recognizes the marker.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_publisher_spark.operators.multimodal import audio_fingerprint
from cdc_publisher_spark.streaming.state import (
    read_state,
    require_layout_marker,
    write_layout_marker,
)

def audio_fpk(
    media_df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """(media_id, fpk) — one 64-bit digest of each clip's full HK
    fingerprint: frame sub-fingerprints in frame order (pinned by
    sort_array over (frame, subfp)), hashed once. The waveform stays
    inside the fingerprint pass's Arrow batch; 16 bytes per clip
    shuffle."""
    fp = audio_fingerprint(
        media_df.select(
            F.col(id_col).alias("media_id"), F.col(payload_col).alias("payload")
        )
    )
    return fp.groupBy("media_id").agg(
        F.xxhash64(
            F.to_json(F.sort_array(F.collect_list(F.struct("frame", "subfp"))))
        ).alias("fpk")
    )


def audio_dup_micro_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    pairs_dir: str,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> None:
    """foreachBatch body: fingerprint the batch once, join it against
    the accumulated fpk state, emit normalized (orig_id=min,
    dup_id=max) detections — history×batch plus within-batch — and
    overwrite this batch's own state delta. Empty triggers return
    before any write."""
    if not batch_df.take(1):
        return  # a file-less batch dir would poison later schema reads
    spark = batch_df.sparkSession
    require_layout_marker(spark, state_dir, "rows")
    keyed = audio_fpk(batch_df, id_col, payload_col).persist()
    try:
        hist = read_state(spark, state_dir, exclude_batch=batch_id, schema=keyed.schema)
        new = keyed.select(F.col("media_id").alias("b_id"), "fpk")
        legs = []
        if hist is not None:
            legs.append(
                hist.select(F.col("media_id").alias("a_id"), "fpk")
                .join(new, "fpk")
                # a re-delivered media_id (id-contract violation) must
                # not emit a self-pair (ADVICE r11)
                .filter(F.col("a_id") != F.col("b_id"))
            )
        legs.append(  # within-batch matches, counted once
            keyed.select(F.col("media_id").alias("a_id"), "fpk")
            .join(new, "fpk")
            .filter(F.col("a_id") < F.col("b_id"))
        )
        pairs = legs[0] if len(legs) == 1 else legs[0].unionByName(legs[1])
        # slicing-independent pair identity: (min, max) id order
        pairs.select(
            F.least("a_id", "b_id").alias("orig_id"),
            F.greatest("a_id", "b_id").alias("dup_id"),
        ).distinct().write.mode("overwrite").parquet(
            os.path.join(pairs_dir, f"batch={batch_id}")
        )
        # one file: keyed is cached and the pairs write computed it
        keyed.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(state_dir, f"batch={batch_id}")
        )
        write_layout_marker(spark, state_dir, "rows")
        write_layout_marker(spark, pairs_dir, "rows")
    finally:
        keyed.unpersist()


def read_audio_fpk_state(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Unified (media_id, fpk) view; None when no state."""
    return read_state(spark, state_dir)


def read_audio_dups(spark: SparkSession, pairs_dir: str) -> DataFrame | None:
    """All emitted (orig_id, dup_id) detections; None when no state."""
    df = read_state(spark, pairs_dir)
    return None if df is None else df.select("orig_id", "dup_id")


__all__ = [
    "audio_dup_micro_batch",
    "audio_fpk",
    "read_audio_dups",
    "read_audio_fpk_state",
]
