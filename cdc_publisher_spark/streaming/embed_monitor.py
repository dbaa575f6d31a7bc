"""Streaming incremental embedding near-dup: the ninth state consumer
(VERDICT r11 ask #4).

The shingle space has an incremental production path (the q_k79 probe
over the persisted LSH index, streaming/incremental_dedup.py) and the
audio space has the exact-dup guard (streaming/audio_monitor.py); this
monitor closes the embedding space: per trigger, which incoming
vectors are near-duplicates (cosine ≥ threshold) of anything already
ingested. Batch twins q_k21/q_k35 mine the full corpus; a real ingest
pipeline dedups NEW vectors against history incrementally — candidate
cost O(batch × collisions) per trigger, history-vs-history pairs never
recomputed.

Signatures are the banded random-sign scheme from
operators/embed_lsh.py — the same rows the oracle-audited batch twin
(q_k109) rides, so the streamed index is probe-compatible with the
audited semantics. State rides streaming/state.py:

- ``idx_dir/batch=N/`` — (id, band, bh) signature bucket rows, one
  file per trigger (the state.py layout contract). The probe is a
  plain join of the batch's signatures against the history's
  (id, band, bh) columns on (band, bh).
- ``vecs_dir/batch=N/`` — accumulated vectors, one file per trigger.
  The exact cosine verify re-reads vectors ONLY for candidate ids: the
  history vectors are semi-joined to the candidate ids before their
  norms are computed.
- ``pairs_dir/batch=N/`` — (i, j, cosine) detections, NORMALIZED to
  ``i = least, j = greatest`` (the audio-guard ADVICE r11 lesson:
  pair identity must be slicing-independent).

Completeness (pytest-pinned, the incremental_dedup theorem shape):
every near-dup pair {a, b} of the BANDED-NOMINATE + EXACT-VERIFY
semantics is emitted exactly once, in the trigger where the LATER
vector arrives — history×batch matches plus within-batch matches — so
the union of per-batch emissions over ANY slicing equals the batch
twin ``embedding_neardup_banded(corpus, threshold)`` pair set. The
history leg filters ``a != b`` so a cross-batch re-delivery of the
same id (an upstream id-contract violation) degrades to a no-op.

Scheme constants (bands, bits, RH_SCALE — hence the signature values)
are LAYOUT constants of the persisted index: changing them makes
history unprobeable, so a change is a state rebuild
(``migrate_embed_layout``). The index dir declares the scheme in its
marker, ``rows-rh-<bands>x<bits>``; the vector dir declares ``rows``.
Each writer refuses a dir declaring any other layout — such as the
hash-bucketed ``rows-ebm-<bands>x<bits>`` / ``rows-vh`` of earlier
versions — before it writes anything.

Replay: every write overwrites this batch's own ``batch=N`` dirs and
the probe excludes them by construction; an EMPTY trigger returns
before any write (the audio-guard ADVICE r11 fix, applied from birth).
The three dirs are compacted out of band by ``maintain``
(streaming/maintenance.py), which reads their markers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_publisher_spark.functions.vectors import cosine_with_norms, l2_norm
from cdc_publisher_spark.operators.embed_lsh import RH_BANDS, RH_BITS, rh_band_rows
from cdc_publisher_spark.streaming.state import (
    batch_dirs,
    compacted_upto,
    hadoop_fs,
    read_layout_marker,
    read_state,
    replace_layout_marker,
    require_layout_marker,
    vacuum_state,
    write_layout_marker,
    write_manifest,
)

#: Production default: re-upload / mirror-crawl territory. The suite
#: and the fixture-facing tests run at the q_k21 audit threshold 0.42
#: (random synthetic embeddings have no true near-dups).
EMBED_COS_THRESHOLD = 0.9


#: Transitional marker held by ``migrate_embed_layout`` while the
#: segment swap + manifest flip are in flight: an interrupted
#: migration leaves it behind, so EVERY consumer scheme mismatches
#: loudly on restart (recovery: re-run the migration — it is
#: idempotent) instead of an old-scheme consumer passing the marker
#: check against half-migrated data (r14 ADVICE).
MIGRATING_MARKER = "rows-rh-migrating"


def scheme_layout(bands: int, bits: int) -> str:
    """The signature index's ``_layout.`` marker name for a banding
    scheme: ALWAYS versioned, ``rows-rh-<bands>x<bits>`` — the layout
    constant rides the marker NAME, so probing a 12-bit index with
    8-bit signatures fails loudly at the next trigger instead of
    silently matching nothing."""
    return f"rows-rh-{bands}x{bits}"


def embed_dup_micro_batch(
    batch_df: DataFrame,
    batch_id: int,
    idx_dir: str,
    vecs_dir: str,
    pairs_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = EMBED_COS_THRESHOLD,
    bands: int = RH_BANDS,
    bits: int = RH_BITS,
) -> None:
    """foreachBatch body: sign the batch once, join it against the
    persisted signature index on (band, bh), exact-verify cosine over
    the candidate ids' vectors only, emit normalized (i, j, cosine)
    detections, and overwrite this batch's own state deltas.

    ``bands``/``bits`` must match the persisted index's scheme (the
    ``scheme_layout`` marker enforces it): change the banding via
    ``migrate_embed_layout``, never by just passing different values —
    signatures under two schemes never collide, so a mismatch would
    silently detect nothing."""
    if not batch_df.take(1):
        return  # file-less batch dirs poison later schema inference
    spark = batch_df.sparkSession
    layout = scheme_layout(bands, bits)
    marker = read_layout_marker(spark, idx_dir)  # raises on conflict
    if marker == MIGRATING_MARKER:
        raise ValueError(
            f"{idx_dir} holds an INTERRUPTED scheme migration (marker "
            f"{marker!r}): the segment swap / manifest flip did not "
            "complete — re-run migrate_embed_layout(spark, idx_dir, "
            "vecs_dir, bands=..., bits=...) with the stream stopped "
            "(it is idempotent), then restart"
        )
    if marker is not None and marker != layout:
        raise ValueError(
            f"{idx_dir} holds a {marker!r} signature index but this "
            f"consumer signs at {layout!r} — run migrate_embed_layout"
            "(spark, idx_dir, vecs_dir, bands=..., bits=...) with the "
            "stream stopped, then restart with the new scheme"
        )
    require_layout_marker(spark, vecs_dir, "rows")
    base = (
        batch_df.select(id_col, vec_col).dropDuplicates([id_col]).persist()
    )
    try:
        sig = rh_band_rows(base, id_col, vec_col, bands=bands, bits=bits).persist()
        try:
            hist_idx = read_state(spark, idx_dir, exclude_batch=batch_id, schema=sig.schema)
            probe = sig.select(F.col(id_col).alias("_b"), "band", "bh")
            legs = []
            if hist_idx is not None:
                legs.append(
                    hist_idx.select(F.col(id_col).alias("_a"), "band", "bh")
                    .join(probe, ["band", "bh"])
                    # redelivered id (contract violation) -> no-op,
                    # never a self-pair
                    .filter(F.col("_a") != F.col("_b"))
                )
            legs.append(  # within-batch matches, counted once
                sig.select(F.col(id_col).alias("_a"), "band", "bh")
                .join(probe, ["band", "bh"])
                .filter(F.col("_a") < F.col("_b"))
            )
            raw = legs[0] if len(legs) == 1 else legs[0].unionByName(legs[1])
            cand = (
                raw.select(
                    F.least("_a", "_b").alias("i"),
                    F.greatest("_a", "_b").alias("j"),
                )
                .distinct()
                .persist()
            )
            try:
                vecs = base
                hist_vecs = read_state(
                    spark, vecs_dir, exclude_batch=batch_id, schema=base.schema
                )
                if hist_vecs is not None:
                    # only candidate ids' vectors reach the norm
                    cand_ids = cand.select(F.explode(F.array("i", "j")).alias(id_col))
                    vecs = (
                        hist_vecs.select(id_col, vec_col)
                        .join(cand_ids.distinct(), id_col, "left_semi")
                        .unionByName(base)
                    )
                v = vecs.select(
                    F.col(id_col).alias("_vid"),
                    F.col(vec_col).alias("_v"),
                    l2_norm(F.col(vec_col)).alias("_n"),
                )
                pairs = (
                    cand.join(
                        v.select(
                            F.col("_vid").alias("i"),
                            F.col("_v").alias("_va"),
                            F.col("_n").alias("_na"),
                        ),
                        "i",
                    )
                    .join(
                        v.select(
                            F.col("_vid").alias("j"),
                            F.col("_v").alias("_vb"),
                            F.col("_n").alias("_nb"),
                        ),
                        "j",
                    )
                    .select(
                        "i",
                        "j",
                        cosine_with_norms(
                            F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")
                        ).alias("_cos"),
                    )
                    .filter(F.col("_cos") >= threshold)
                    .select("i", "j", F.round("_cos", 4).alias("cosine"))
                )
                pairs.write.mode("overwrite").parquet(
                    os.path.join(pairs_dir, f"batch={batch_id}")
                )
            finally:
                cand.unpersist()
            # one file each: base and sig are cached and the pairs
            # write computed them
            base.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(vecs_dir, f"batch={batch_id}")
            )
            sig.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(idx_dir, f"batch={batch_id}")
            )
            write_layout_marker(spark, pairs_dir, "rows")
            write_layout_marker(spark, vecs_dir, "rows")
            write_layout_marker(spark, idx_dir, layout)
        finally:
            sig.unpersist()
    finally:
        base.unpersist()


def read_embed_pairs(spark: SparkSession, pairs_dir: str) -> DataFrame | None:
    """All emitted (i, j, cosine) detections; None when no state."""
    df = read_state(spark, pairs_dir)
    return None if df is None else df.select("i", "j", "cosine")


def read_embed_index(spark: SparkSession, idx_dir: str) -> DataFrame | None:
    return read_state(spark, idx_dir)


def read_embed_vec_state(spark: SparkSession, vecs_dir: str) -> DataFrame | None:
    return read_state(spark, vecs_dir)


def migrate_embed_layout(
    spark: SparkSession,
    idx_dir: str,
    vecs_dir: str,
    bands: int = RH_BANDS,
    bits: int = RH_BITS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vacuum: bool = True,
) -> int:
    """Offline rebuild of the signature index at a new
    ``(bands, bits)`` banding, from the STORED vectors (r13 VERDICT
    ask #2).

    The vector store is the source of truth and signatures are derived
    state, so the rebuild is: read every accumulated vector
    (``vecs_dir``, compact segment + live batches), re-sign at the new
    scheme, restore each row's original ``batch`` id by joining on the
    vector id (faithful replay-exclusion semantics), fold into
    ``_compact/upto=max_batch``, flip the manifest, and REPLACE
    the layout marker with ``scheme_layout(bands, bits)`` — the marker
    is what makes a stale-scheme consumer fail loudly at its next
    trigger. Returns the new watermark batch id, or -1 when there is
    no vector state to migrate (marker still replaced if the index dir
    exists, so a half-initialized dir can't stay mixed).

    Run with the stream STOPPED CLEANLY: the fold covers every on-disk
    batch, and the delete→rename segment swap is the one non-crash-safe
    step.
    Idempotent — re-running re-derives the same segment. Pair history
    (``pairs_dir``) is untouched: detections already emitted are
    scheme-independent facts. Superseded old-width batch dirs sit at
    or below the new watermark so readers ignore them even before the
    ``vacuum`` reclaims the disk. A deployment raising n past ~10⁶
    uses this to reach the measured 16-bit layout
    (operators/embed_lsh.py:61-70) without hand surgery."""
    vecs = read_state(spark, vecs_dir)
    if vecs is None:
        fs, jpath = hadoop_fs(spark, idx_dir)
        if fs.exists(jpath):
            replace_layout_marker(spark, idx_dir, scheme_layout(bands, bits))
        return -1
    vecs = vecs.select(id_col, vec_col, "batch").persist()
    try:
        m_vec = vecs.agg(F.max("batch")).first()[0]
        marks = [k for k, _ in batch_dirs(spark, idx_dir)]
        prev = compacted_upto(spark, idx_dir)
        if prev is not None:
            marks.append(prev)
        m = max([m_vec] + marks)
        sig = (
            rh_band_rows(
                vecs.select(id_col, vec_col).dropDuplicates([id_col]),
                id_col,
                vec_col,
                bands=bands,
                bits=bits,
            )
            # one signature row per (id, band) PER STORED BATCH — the
            # same multiplicity the per-trigger writes produced (a
            # redelivered id sits in two batch dirs; keep both rows)
            .join(vecs.select(id_col, "batch"), id_col)
        )
        tmp = os.path.join(idx_dir, "_compact", "_migrating")
        target = os.path.join(idx_dir, "_compact", f"upto={m}")
        sig.write.mode("overwrite").parquet(tmp)
        # Transitional marker BEFORE the visible swap (r14 ADVICE):
        # a crash anywhere between here and the final marker leaves
        # ``rows-rh-migrating``, which mismatches EVERY consumer
        # scheme loudly on restart — instead of new-scheme data under
        # the old marker, which a restarted old-scheme consumer would
        # pass and then silently detect nothing. Recovery: re-run
        # this migration (idempotent — the segment is re-derived).
        replace_layout_marker(spark, idx_dir, MIGRATING_MARKER)
        fs, _ = hadoop_fs(spark, idx_dir)
        jvm = spark._jvm
        jtarget = jvm.org.apache.hadoop.fs.Path(target)
        if fs.exists(jtarget):
            fs.delete(jtarget, True)
        fs.rename(jvm.org.apache.hadoop.fs.Path(tmp), jtarget)
        write_manifest(spark, idx_dir, m)
        replace_layout_marker(spark, idx_dir, scheme_layout(bands, bits))
        if vacuum:
            vacuum_state(spark, idx_dir)
        return m
    finally:
        vecs.unpersist()


__all__ = [
    "EMBED_COS_THRESHOLD",
    "MIGRATING_MARKER",
    "scheme_layout",
    "embed_dup_micro_batch",
    "migrate_embed_layout",
    "read_embed_index",
    "read_embed_pairs",
    "read_embed_vec_state",
]
