"""Distributed prefix sums (two-level scan).

``F.sum(x).over(Window.partitionBy(dim).orderBy(seq))`` is the natural
way to write a running total, but when the partition key is a LOW-
cardinality dimension (20 sources) the physical plan moves each
group's ENTIRE sequence through one task — a multi-TB single-task sort
at 100 TB. This module is the classic fix, the same two-level scan GPU
and MPI prefix-sum kernels use:

1. bucket the sequence into fixed-size chunks
   (``chunk_id = seq div chunk``);
2. run the running sum INSIDE each (dims, chunk) window — partitions
   are bounded by the chunk size whatever the data size;
3. aggregate per-chunk totals into a table that is ``rows / chunk``
   long, take the EXCLUSIVE prefix of those totals in a window over
   that reduced table (the only dims-partitioned window — over chunk
   rows, not data rows);
4. join the offsets back on (dims, chunk) and add.

The result is row-identical to the naive single window (hypothesis-
pinned, tests/test_operators.py) with every corpus-sized window
eliminated. Consumer: q_k90 Heaps'-law growth (queries/llm_risk.py);
any future running-total-per-dimension operator should reuse this
instead of re-deriving the pattern.

The sequence column must be unique within its dims group (the naive
window's RANGE frame and this scan agree only then — q_k90's doc_id
contract); ties would make "running total at row r" ill-defined anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Default chunk fan: within-chunk windows hold ≤ this many rows; the
#: chunk-total table is rows/CHUNK. A layout constant.
DEFAULT_CHUNK = 4096


def two_level_prefix_sums(
    df: DataFrame,
    part_cols: list[str],
    order_col: str,
    value_cols: list[str],
    chunk: int = DEFAULT_CHUNK,
    prefix: str = "cum_",
) -> DataFrame:
    """``df`` plus ``prefix<value_col>`` inclusive running totals of
    each value column, ordered by ``order_col`` within ``part_cols``
    groups — computed without any corpus-sized window partition.

    Output columns: ``part_cols + [order_col] + value_cols`` plus the
    running-total columns."""
    chunked = df.withColumn("_cb", F.expr(f"{order_col} div {chunk}"))
    win = Window.partitionBy(*part_cols, "_cb").orderBy(order_col)
    within = chunked.select(
        *part_cols,
        order_col,
        "_cb",
        *value_cols,
        *[F.sum(c).over(win).alias(f"_w_{c}") for c in value_cols],
    )
    totals = chunked.groupBy(*part_cols, "_cb").agg(
        *[F.sum(c).alias(f"_t_{c}") for c in value_cols]
    )
    woff = Window.partitionBy(*part_cols).orderBy("_cb")
    offsets = totals.select(
        *part_cols,
        "_cb",
        *[
            (F.sum(f"_t_{c}").over(woff) - F.col(f"_t_{c}")).alias(f"_o_{c}")
            for c in value_cols
        ],
    )
    return within.join(offsets, [*part_cols, "_cb"]).select(
        *part_cols,
        order_col,
        *value_cols,
        *[
            (F.col(f"_o_{c}") + F.col(f"_w_{c}")).alias(f"{prefix}{c}")
            for c in value_cols
        ],
    )


__all__ = ["DEFAULT_CHUNK", "two_level_prefix_sums"]
