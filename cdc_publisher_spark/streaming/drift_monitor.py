"""Streaming label-centroid drift monitor: the q_k89 cohort audit
kept continuously current over an unbounded embedding stream.

Fifth consumer of the shared batch-addressed state layer
(streaming/state.py), and the first whose sum-merge is DECIMAL-exact:
state rows are (label, p, s, n) per-batch partials — ``s`` the
DECIMAL(30,8) sum of the batch's 8dp-rounded vector components at
position ``p`` for ``label`` (the exact order-independent partial
q_k89 builds batch-side, queries/llm_risk.py), ``n`` the batch's
vector count for the label (replicated across the label's 64 ``p``
rows so ONE aggregate produces the whole delta; every ``p`` row of a
label carries the same ``n``, so the merged table stays consistent
position-by-position). Because + over exact DECIMALs is associative
and order-independent, the merged state equals the batch-mode partial
bit-for-bit however batches are sliced — which is what makes the
stream==batch pin (tests/test_streaming_drift.py) an equality, not a
tolerance.

State is O(labels × 64) rows PER BATCH and the same after sum-merge
compaction — the smallest state of the five consumers; the monitor
exists not for state size but for read cadence: the drift report
(per-label centroid cosine to the global centroid) stays answerable
at any moment without rescanning corpus embeddings. Replay safety is
the layer's overwrite discipline plus the committed-only watermark
``maintain`` folds to (streaming/maintenance.py): a redelivered batch
rewrites its own delta, and no uncommitted delta is ever folded into
the compacted segment.

The ``maintain`` CLI pass (streaming/maintenance.py) recognizes this
layout by its ``sum-sn`` marker — sum-merge of both ``s`` and ``n`` —
so deployments need no drift-specific maintenance wiring.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_publisher_spark.streaming.state import (
    read_merged,
    write_layout_marker,
)


def centroid_deltas(
    batch_df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """This batch's (label, p, s, n) partials from ONE posexplode +
    aggregate: ``s`` = SUM of 8dp-rounded components as DECIMAL(30,8)
    (q_k89's exact partial), ``n`` = count(*) per (label, p) — every
    vector contributes one row per position, so that count IS the
    label's vector count, replicated across its positions."""
    el = batch_df.select(
        F.col(label_col).alias("label"), F.posexplode(vec_col).alias("p", "x")
    )
    return el.groupBy("label", "p").agg(
        F.sum(F.round(F.col("x").cast("double"), 8).cast("decimal(20,8)"))
        .cast("decimal(30,8)")
        .alias("s"),
        F.count("*").cast("long").alias("n"),
    )


def drift_micro_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> None:
    """foreachBatch body: overwrite this batch's partial-sum delta
    (replay-idempotent — sum-merge state is not, the overwrite is)."""
    deltas = centroid_deltas(batch_df, label_col, vec_col)
    deltas.write.mode("overwrite").parquet(
        os.path.join(state_dir, f"batch={batch_id}")
    )
    write_layout_marker(batch_df.sparkSession, state_dir, "sum-sn")


def read_centroid_sums(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Sum-merged (label, p, s, n) view of all deltas; None when no
    state exists. Exact: DECIMAL + is order-independent."""
    return read_merged(spark, state_dir, "sum-sn", ("label", "p", "s", "n"))


def drift_report(sums: DataFrame) -> DataFrame:
    """q_k89's report off accumulated partials: per label, cosine of
    the label centroid to the global centroid (between the exact SUM
    vectors — cosine is scale-invariant) and centroid L2. Same column
    names, types, and rounding as the batch query, so stream==batch
    comparisons are column-exact (llm_risk.py q_k89)."""
    gs = sums.groupBy("p").agg(F.sum("s").alias("gt"))
    n = sums.groupBy("label").agg(F.max("n").alias("n_vecs"))

    def _term(a, b):
        return F.sum(
            F.round(a.cast("double") * b.cast("double"), 6).cast("decimal(28,6)")
        )

    d = (
        sums.join(gs, "p")
        .groupBy("label")
        .agg(
            _term(F.col("s"), F.col("gt")).alias("dot"),
            _term(F.col("s"), F.col("s")).alias("ssl"),
            _term(F.col("gt"), F.col("gt")).alias("ssg"),
        )
    )
    return (
        d.join(n, "label")
        .select(
            F.col("label").cast("long").alias("label"),
            "n_vecs",
            F.round(
                F.col("dot").cast("double")
                / F.sqrt(F.col("ssl").cast("double") * F.col("ssg").cast("double")),
                6,
            ).alias("drift_cos"),
            F.round(
                F.sqrt(F.col("ssl").cast("double")) / F.col("n_vecs"), 6
            ).alias("centroid_l2"),
        )
        .orderBy("label")
    )


def read_drift_report(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Merged state → the k89-shaped report; None when no state."""
    sums = read_centroid_sums(spark, state_dir)
    return None if sums is None else drift_report(sums)


__all__ = [
    "centroid_deltas",
    "drift_micro_batch",
    "drift_report",
    "read_centroid_sums",
    "read_drift_report",
]
