"""Streaming rare-gram exposure monitor: incremental document
frequency for the k88 privacy/memorization audit.

The streaming twin of q_k88 (queries/llm_risk.py): documents arrive
in micro-batches, and "how much of each source's 5-gram content is
uniquely attributable?" stays answerable at any moment WITHOUT
rescanning the corpus — each trigger contributes only its own gram
counts, and the accumulated state already holds everything older.
This is the continuous form of the verbatim-extraction risk screen
(Carlini et al. 2021): rising unique-gram mass in a source flags the
feed that started delivering unattributably-specific (PII-shaped)
content, while the ingest is still running.

Fourth consumer of the shared batch-addressed state layer
(streaming/state.py), and the second with a NON-idempotent sum-merge
(after the count-min monitor): state rows are (sh, source, cnt) gram
count DELTAS — ``sh`` is the xxhash64 of the 5-gram (8-byte shuffle
keys, functions/text.py precedent), ``cnt`` the number of this
batch's documents containing the gram. Accuracy trade of the hashing,
stated: a 64-bit collision merges two distinct grams into one key, so
expected collision mass is V²/2⁶⁵ colliding pairs ≈ 0.03 at V=10⁹
distinct grams and ≈ 3 at V=10¹⁰ — each collision shifts one gram's
document frequency, a vanishing perturbation of source-level exposure
rates; the batch twin q_k88 over raw gram strings is the exact check. Replay safety rests on the
overwrite discipline: a redelivered batch OVERWRITES its own
``batch=N`` delta, so the read-side sum counts each document once.
Unlike the count-min monitor the key space is UNBOUNDED (distinct
grams, corpus-scale) — which is exactly what the layer's
parquet-per-batch layout is for: state lives on storage partitioned
by gram hash at read time, never in executor memory, and the
``maintain`` pass (streaming/maintenance.py) pre-sums batch deltas
into one segment so a long stream's read cost is O(distinct grams),
not O(batches x grams).

Cross-batch doc redelivery (the same doc_id in two DIFFERENT batch
ids) would double its grams' counts — that is the incremental dedup
guard's territory (streaming/incremental_dedup.py id anti-join); run
this monitor downstream of it, the same contract q_k79's pipeline
documents.

Batch/stream equivalence: the report computed from merged state
equals q_k88 on the union of all delivered documents column-for-
column (pytest-pinned, tests/test_streaming_exposure.py) — distinct
hashed grams count identically to distinct gram strings.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_publisher_spark.functions import text as TX
from cdc_publisher_spark.queries.llm_risk import EXPOSURE_K, RARE_DF
from cdc_publisher_spark.streaming.state import (
    read_merged,
    write_layout_marker,
)


def gram_deltas(
    batch_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """This batch's (sh, source, cnt) document-frequency deltas:
    one shingle pass (codegen, functions/text.py), distinct grams per
    doc, counted per (gram, source). ≤ batch-gram cardinality rows —
    never touches history."""
    sh = TX.shingle_rows(
        batch_df.select(id_col, text_col), id_col, text_col, EXPOSURE_K, hashed=True
    )
    src = batch_df.select(id_col, source_col)
    return (
        sh.join(src, id_col)
        .groupBy(F.col("s").alias("sh"), F.col(source_col).alias("source"))
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def exposure_micro_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> None:
    """foreachBatch body: write this batch's gram-count delta to
    ``state_dir/batch=N``. OVERWRITE is load-bearing — sum-merge state
    is not idempotent (module docstring / cm_monitor precedent)."""
    deltas = gram_deltas(batch_df, id_col, text_col, source_col)
    deltas.write.mode("overwrite").parquet(
        os.path.join(state_dir, f"batch={batch_id}")
    )
    write_layout_marker(batch_df.sparkSession, state_dir, "sum-cnt")


def read_gram_counts(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Sum-merged (sh, source, cnt) view of all deltas so far; None
    when no state exists."""
    return read_merged(spark, state_dir, "sum-cnt", ("sh", "source", "cnt"))


def exposure_report(counts: DataFrame) -> DataFrame:
    """q_k88's report off accumulated gram counts: per source, the
    distinct-gram total and the corpus-wide-df unique (=1) / rare
    (≤ RARE_DF) tiers. Same column names, types, and 4dp rounding as
    the batch query, so stream==batch comparisons are column-exact."""
    g = counts.groupBy("sh").agg(
        F.sum("cnt").cast("long").alias("df"),
        F.collect_set("source").alias("srcs"),
    )
    return (
        g.select(F.explode("srcs").alias("source"), "df")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_unique"),
            F.sum(F.when(F.col("df") <= RARE_DF, 1).otherwise(0))
            .cast("long")
            .alias("n_rare"),
        )
        .withColumn(
            "unique_frac",
            F.round(F.col("n_unique") * F.lit(1.0) / F.col("n_grams"), 4),
        )
        .orderBy("source")
    )


def read_exposure_report(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Merged state → the k88-shaped report; None when no state."""
    counts = read_gram_counts(spark, state_dir)
    return None if counts is None else exposure_report(counts)


__all__ = [
    "exposure_micro_batch",
    "exposure_report",
    "gram_deltas",
    "read_exposure_report",
    "read_gram_counts",
]
