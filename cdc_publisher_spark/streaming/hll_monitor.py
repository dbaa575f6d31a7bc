"""Streaming distinct-cardinality monitor: incremental HyperLogLog.

The streaming twin of q_k84 (queries/llm_sketch.py): an unbounded
stream of (group, value) rows — e.g. documents' shingles or dedup
keys per source — maintains per-group HLL registers so "how many
distinct values has this source ever produced?" is answerable at any
moment from O(groups x 256) rows of state, never by re-scanning the
corpus. This is the monitor a 100 TB ingest pipeline runs beside the
dedup stream: distinct-key growth per source per trigger, at sketch
cost.

Why HLL makes the streaming-state problem trivial where dedup's was
hard (streaming/incremental_dedup.py): the register merge is
``max()``, which is associative, commutative, and IDEMPOTENT. So:

- replay safety needs nothing beyond the batch-addressed overwrite:
  a re-delivered batch rewrites ``batch=N`` byte-for-byte, and even
  if it didn't, max-merging the same registers twice is a no-op;
- cross-batch duplicate VALUES are harmless by construction — the
  same value always lands on the same (bucket, rho), so there is no
  analogue of dedup's cross-batch doc_id contract at all;
- reads never need exclude_batch gymnastics: the estimate is the max
  over whatever register rows exist.

State layout: ``state_dir/batch=N/`` parquet of (group, bucket, M)
register DELTAS — the registers of that batch alone, <= groups x 256
rows regardless of batch size. The read side max-merges across
batches. The ``maintain`` pass (streaming/maintenance.py) compacts
it through the generic batch-addressed layer (streaming/state.py —
manifest-marker flip, crash-safe); a compacted
segment is just the register rows under the watermark pre-merged by
the ``max-M`` layout's fold, so the long-run state stays
O(groups x 256) no matter how many batches ever ran.

foreachBatch (not applyInPandasWithState): register state is
group-global and aggregate-shaped, the SURVEY §4.3 external-state
case, same as the dedup and CDC appliers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from cdc_publisher_spark.operators.hll import hll_estimate, hll_registers
from cdc_publisher_spark.streaming.state import (
    read_merged,
    write_layout_marker,
)


def hll_micro_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    group_col: str = "source",
    value_col: str = "s",
) -> None:
    """foreachBatch body: write this batch's register delta to
    ``state_dir/batch=N`` (overwrite — replay-idempotent, and max()
    would absorb a duplicate merge anyway)."""
    regs = hll_registers(batch_df, [group_col], value_col)
    regs.write.mode("overwrite").parquet(os.path.join(state_dir, f"batch={batch_id}"))
    write_layout_marker(batch_df.sparkSession, state_dir, "max-M")


def read_hll_registers(
    spark: SparkSession, state_dir: str, group_col: str = "source"
) -> DataFrame | None:
    """Merged (group, bucket, M) view of all state written so far;
    None when no state exists."""
    return read_merged(spark, state_dir, "max-M", (group_col, "bucket", "M"))


def hll_state_estimate(
    spark: SparkSession, state_dir: str, group_col: str = "source"
) -> DataFrame | None:
    """Per-group distinct-count estimates from the accumulated state:
    (group, n_zero_registers, harmonic_z, hll_estimate)."""
    regs = read_hll_registers(spark, state_dir, group_col)
    if regs is None:
        return None
    return hll_estimate(regs, [group_col])


__all__ = [
    "hll_micro_batch",
    "hll_state_estimate",
    "read_hll_registers",
]
