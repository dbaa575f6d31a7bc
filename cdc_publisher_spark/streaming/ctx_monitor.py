"""Streaming context-length economics monitor: the live q_k99 curve.

q_k99 (queries/llm_prep.py) audits, per candidate training context
length, the exact token economics of truncate-to-one-sequence vs
chunk-and-pad batching — the numbers that pick a packing budget. This
monitor keeps that curve current over an unbounded document stream:
after every trigger the merged state answers "at context length B,
how many tokens would we lose / pad TODAY", visible while the ingest
is still running and long before anyone re-scans the corpus.

Seventh consumer of the shared batch-addressed state layer
(streaming/state.py). State rows are ``(budget, n_docs, total_tokens,
n_trunc_docs, trunc_lost_tokens, n_chunks, pad_tokens, batch)`` — one
row per candidate budget per trigger, each column a partial SUM of the
batch's per-document closed forms (every metric in the curve is a sum
of per-doc integer algebra, so partial sums per trigger merge
losslessly: the same map-side-combine argument that makes the batch
query one hash agg). Merge algebra: column-wise sum keyed by budget —
declared to ``maintain`` as layout ``sum-ctx``. State is O(budgets)
per batch and O(budgets) after compaction: the smallest state of any
consumer in the layer, and the read cost of the live curve is a
4-row-per-segment fold.

Sum is not idempotent, so this monitor leans on the layer's two
replay guards exactly like count-min/exposure: per-batch OVERWRITE
deltas (a redelivered trigger rewrites ``batch=N`` byte-for-byte) and
the committed-only watermark ``maintain`` folds to (streaming/
maintenance.py — read from the stream's commits log, so no
uncommitted delta is ever folded).
The contract battery in tests/test_state_consumer_contract.py runs
this consumer through compaction generations, vacuum, and both replay
shapes; tests/test_streaming_ctx.py pins stream==batch as an exact
integer equality against the registered q_k99.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_publisher_spark.functions.text import n_words
from cdc_publisher_spark.streaming.state import (
    CTX_METRICS,
    read_merged,
    write_layout_marker,
)

#: Candidate context lengths — must match queries/llm_prep._CTX_BUDGETS
#: (the batch twin); tests/test_streaming_ctx.py compares the two
#: outputs row-for-row, so a drift between the lists fails loudly.
CTX_BUDGETS = (512, 2048, 8192, 32768)


def ctx_economics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-budget truncate/pad token economics of ``df`` — q_k99's
    integer algebra over any slice of documents: one narrow projection
    computing n per doc, a constant |budgets|-way explode, one
    map-side-combined hash agg. Because every output column is a sum
    of per-document closed forms, this same function computes a
    micro-batch DELTA (partial sums) and the whole-corpus answer."""
    sized = df.select(n_words(F.col(text_col)).cast("long").alias("n"))
    budgets = F.array(*[F.lit(b).cast("long") for b in CTX_BUDGETS])
    x = sized.select("n", F.explode(budgets).alias("budget"))
    n, b = F.col("n"), F.col("budget")
    chunks = F.expr("(n + budget - 1) div budget")
    return x.groupBy("budget").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(n).cast("long").alias("total_tokens"),
        F.sum(F.when(n > b, 1).otherwise(0)).cast("long").alias("n_trunc_docs"),
        F.sum(F.when(n > b, n - b).otherwise(0))
        .cast("long")
        .alias("trunc_lost_tokens"),
        F.sum(chunks).cast("long").alias("n_chunks"),
        F.sum(chunks * b - n).cast("long").alias("pad_tokens"),
    )


def ctx_deltas(
    batch_df: DataFrame, batch_id: int, text_col: str = "text"
) -> DataFrame:
    """This batch's per-budget partial sums, stamped with the batch id
    — ≤ |budgets| rows however large the trigger."""
    return ctx_economics(batch_df, text_col).withColumn(
        "batch", F.lit(batch_id).cast("long")
    )


def ctx_micro_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    text_col: str = "text",
) -> None:
    """foreachBatch body: overwrite this batch's delta rows."""
    ctx_deltas(batch_df, batch_id, text_col).write.mode("overwrite").parquet(
        os.path.join(state_dir, f"batch={batch_id}")
    )
    write_layout_marker(batch_df.sparkSession, state_dir, "sum-ctx")


def read_ctx_curve(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """The merged curve — identical schema and values to the batch
    q_k99 over everything streamed so far; None when no state."""
    df = read_merged(spark, state_dir, "sum-ctx", ("budget", *CTX_METRICS))
    return None if df is None else df.orderBy("budget")


__all__ = [
    "CTX_BUDGETS",
    "CTX_METRICS",
    "ctx_deltas",
    "ctx_economics",
    "ctx_micro_batch",
    "read_ctx_curve",
]
