"""Streaming first-seen vocabulary monitor: the live Heaps curve.

q_k90 (queries/llm_risk.py) diagnoses templated/machine-generated
feeds from the SLOPE of vocabulary growth; this monitor keeps that
curve current over an unbounded document stream — per trigger, how
many word types each source introduced that it had NEVER used before,
and the cumulative vocabulary so far. A source whose new-word count
collapses while its token volume holds is the feed that started
repeating itself, visible while the ingest is still running.

Sixth consumer of the shared batch-addressed state layer
(streaming/state.py), and the one that completes the layer's merge-
algebra family: sum (count-min, exposure), max (HLL), DECIMAL-sum
(centroid drift), and now MIN — state rows are
``(source, wh, fb)`` where ``wh`` is the xxhash64 of the word (8-byte
shuffle keys; word text never rides a shuffle — the exposure monitor's
hashing precedent) and ``fb`` the batch id, min-merged to the FIRST
batch that delivered the word. Accuracy trade of the hashing, stated:
a 64-bit collision silently merges two word types — under-counting
vocabulary by one — with expected collision mass V²/2⁶⁵ ≈ 0.03
colliding pairs at V=10⁹ types (and ~3 at 10¹⁰, beyond any natural
vocabulary); the batch twin q_k90 over raw words is the exact check. min() is idempotent and commutative,
so the merged state is replay-proof twice over: the overwrite
discipline rewrites a redelivered batch's delta byte-for-byte, and
even a hypothetical duplicate delta could not move a min.

State is O(word types) per source — and vocabulary is exactly the
quantity Heaps' law says grows SUB-linearly in corpus size (V ~ N^β,
β < 1), so this is the rare monitor whose state growth slows as the
corpus grows. Compaction pre-merges to one (source, wh, fb) row per
type; the ``maintain`` pass (streaming/maintenance.py) recognizes the
layout by its ``min-fb`` marker.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdc_publisher_spark.functions.text import words
from cdc_publisher_spark.streaming.state import (
    read_merged,
    write_layout_marker,
)


def vocab_deltas(
    batch_df: DataFrame,
    batch_id: int,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """This batch's (source, wh, fb) delta: the batch's distinct
    (source, word-hash) pairs stamped with this batch id. One token
    explode + one distinct — ≤ batch type cardinality rows."""
    return (
        batch_df.select(
            F.col(source_col).alias("source"),
            F.explode(words(F.col(text_col))).alias("w"),
        )
        .select("source", F.xxhash64("w").alias("wh"))
        .distinct()
        .withColumn("fb", F.lit(batch_id).cast("long"))
    )


def vocab_micro_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    text_col: str = "text",
    source_col: str = "source",
) -> None:
    """foreachBatch body: overwrite this batch's delta."""
    deltas = vocab_deltas(batch_df, batch_id, text_col, source_col)
    deltas.write.mode("overwrite").parquet(
        os.path.join(state_dir, f"batch={batch_id}")
    )
    write_layout_marker(batch_df.sparkSession, state_dir, "min-fb")


def read_first_seen(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Min-merged (source, wh, fb) view — each word type with the
    first batch that delivered it; None when no state exists."""
    return read_merged(spark, state_dir, "min-fb", ("source", "wh", "fb"))


def vocab_report(first_seen: DataFrame) -> DataFrame:
    """The growth curve off merged state: per (source, batch), the
    count of word types FIRST seen in that batch and the cumulative
    vocabulary through it. The curve table is (sources × batches)
    rows — its running total is a dimension-sized window, not a
    corpus one."""
    curve = first_seen.groupBy("source", F.col("fb").alias("batch")).agg(
        F.count("*").cast("long").alias("new_words")
    )
    w = Window.partitionBy("source").orderBy("batch")
    return curve.select(
        "source",
        "batch",
        "new_words",
        F.sum("new_words").over(w).cast("long").alias("vocab_cum"),
    ).orderBy("source", "batch")


def read_vocab_report(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Merged state → the growth-curve report; None when no state."""
    fs = read_first_seen(spark, state_dir)
    return None if fs is None else vocab_report(fs)


__all__ = [
    "read_first_seen",
    "read_vocab_report",
    "vocab_deltas",
    "vocab_micro_batch",
    "vocab_report",
]
