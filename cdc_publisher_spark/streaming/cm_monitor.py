"""Streaming heavy-hitters monitor: incremental count-min sketch.

The streaming twin of q_k57 (queries/llm_select.py): an unbounded
stream of (group, value) rows — e.g. tokens per day, dedup keys per
source — maintains per-group count-min counter cells so "roughly how
often has this value occurred (in this window)?" is answerable at any
moment from O(groups × d × w) rows of state, never by re-scanning the
corpus. Pass an event-time bucket (day, hour) as the group column and
the monitor is a WINDOWED heavy-hitters tracker: per-window sketches
that never grow with the data inside the window.

This is the deliberately-hard test of the shared batch-addressed
state layer (streaming/state.py, VERDICT r6 ask #7): count-min's
merge is ``+`` — associative and commutative but NOT idempotent, the
opposite of the HLL monitor's max(). Replay safety therefore rests
entirely on the batch-overwrite discipline: a re-delivered batch
OVERWRITES its own ``batch=N`` delta instead of appending, so the
read-side sum counts every delta exactly once. (Max-merge state would
survive an append-by-mistake; sum-merge state would silently double —
which is why the layer's contract is overwrite, not append.)

State layout: ``state_dir/batch=N/`` parquet of (group…, r, b, cnt)
counter DELTAS — the cells of that batch alone, ≤ groups × d × w rows
regardless of batch size (the groupBy's map-side combine builds each
partition's sketch before the shuffle). The read side sum-merges
across batches. The ``maintain`` pass (streaming/maintenance.py)
pre-sums batches under the committed watermark into one segment with
the ``sum-cnt`` layout's fold — lossless because + is the sketch's
own merge operator — so long-run state stays O(groups × d × w)
however many batches ever ran.

foreachBatch (not applyInPandasWithState): cell state is
group-global and aggregate-shaped, the SURVEY §4.3 external-state
case, same as the dedup and HLL monitors.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from cdc_publisher_spark.operators.cm import cm_cells, cm_point_estimates
from cdc_publisher_spark.streaming.state import (
    read_merged,
    write_layout_marker,
)


def cm_micro_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    value_col: str = "g",
    group_cols: list[str] | None = None,
) -> None:
    """foreachBatch body: write this batch's counter delta to
    ``state_dir/batch=N``. OVERWRITE is load-bearing here — sum-merge
    state is NOT idempotent, so an appended duplicate delta would
    double-count (see module docstring)."""
    cells = cm_cells(batch_df, value_col, group_cols)
    cells.write.mode("overwrite").parquet(os.path.join(state_dir, f"batch={batch_id}"))
    write_layout_marker(batch_df.sparkSession, state_dir, "sum-cnt")


def read_cm_cells(
    spark: SparkSession, state_dir: str, group_cols: list[str] | None = None
) -> DataFrame | None:
    """Sum-merged (group…, r, b, cnt) view of all deltas written so
    far; None when no state exists."""
    return read_merged(
        spark, state_dir, "sum-cnt", (*(group_cols or []), "r", "b", "cnt")
    )


def cm_state_estimates(
    spark: SparkSession,
    state_dir: str,
    probes: DataFrame,
    value_col: str = "g",
    group_cols: list[str] | None = None,
) -> DataFrame | None:
    """Point estimates for ``probes`` against the accumulated state:
    probe columns + ``cm_est`` (one-sided: est ≥ true count)."""
    cells = read_cm_cells(spark, state_dir, group_cols)
    if cells is None:
        return None
    return cm_point_estimates(cells, probes, value_col, group_cols)


__all__ = [
    "cm_micro_batch",
    "cm_state_estimates",
    "read_cm_cells",
]
