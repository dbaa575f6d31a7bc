"""Output data layout — sized files and cluster-ordered parquet.

At 100 TB the write path is as much a part of the engine as the
queries: a curation job that emits millions of tiny files (one per
shuffle partition) or a handful of 10 GB ones cripples every
downstream scan, and unclustered data defeats parquet row-group
min/max skipping. This module gives the two standard levers:

- :func:`write_sized` — pick the output file count from a target
  file size (estimated from an Arrow sample or caller-provided
  stats), so files land near the cluster's sweet spot
  (~128-512 MB) regardless of input partitioning.
- cluster ordering: ``repartitionByRange + sortWithinPartitions`` on
  the cluster keys gives disjoint per-file key ranges, so a reader's
  predicate on those keys prunes whole files/row-groups;
  :func:`zvalue` interleaves two dimensions' bits (Z-order / Morton
  curve, public technique from the database literature) so min/max
  skipping works on BOTH columns at once.

Everything here is plan-level: range partitioning samples the keys
(Spark's RangePartitioner), the sort is per-partition (no global
sort barrier), and the z-value is a pure bitwise column expression
inside whole-stage codegen — no UDFs, no driver loops beyond the
bounded size-estimation sample.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Parquet's encoded size vs Arrow in-memory size for typical mixed
#: columns (dictionary + RLE + snappy). Callers with real table stats
#: should pass ``row_bytes`` instead of trusting this.
DEFAULT_COMPRESSION_RATIO = 3.0


def aligned_repartition(df: DataFrame, *cols) -> DataFrame:
    """Hash-repartition on ``cols`` with the partition COUNT pinned to
    ``spark.sql.shuffle.partitions`` — the shuffle every
    partition-aligned state write must ride.

    An unpinned ``df.repartition(col)`` is an AQE-replannable shuffle:
    measured in r14 (the per-consumer monitor breakdown), AQE expanded
    the audio monitor's 1024-dir fan write into ~one task per distinct
    value, 14-18 s per 8k-row trigger vs 2.5-3.3 s with the count
    pinned at 32 (interleaved ×3). Pinning keeps the
    one-file-per-partition-dir invariant — each value still hashes to
    exactly one task — at a bounded task count, and the same rule
    holds on a real cluster: the aligned write wants ~cores tasks,
    never ~distinct-values tasks."""
    try:
        n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except Exception:  # 'auto' or unset — fall back to cluster width
        n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *[F.col(c) if isinstance(c, str) else c for c in cols])


def estimate_row_bytes(
    df: DataFrame,
    sample_rows: int = 1000,
    compression_ratio: float = DEFAULT_COMPRESSION_RATIO,
) -> float:
    """Mean encoded bytes/row, from a bounded driver-side Arrow sample.

    One ``limit(sample_rows)`` collect — constant work regardless of
    table size. The Arrow buffer size over the compression ratio is a
    coarse but serviceable stand-in for parquet's encoded size; at
    scale you'd read the real figure from prior snapshots' file
    stats and skip this entirely.
    """
    import pyarrow as pa

    sample = df.limit(sample_rows).toPandas()
    if len(sample) == 0:
        return 1.0
    tbl = pa.Table.from_pandas(sample, preserve_index=False)
    return max(1.0, tbl.nbytes / len(sample) / compression_ratio)


def sized_file_count(
    total_rows: int, row_bytes: float, target_file_bytes: int = 128 << 20
) -> int:
    return max(1, math.ceil(total_rows * row_bytes / target_file_bytes))


def write_sized(
    df: DataFrame,
    path: str,
    target_file_bytes: int = 128 << 20,
    cluster_by: tuple[str, ...] | list[str] = (),
    partition_by: tuple[str, ...] | list[str] = (),
    total_rows: int | None = None,
    row_bytes: float | None = None,
    mode: str = "overwrite",
) -> int:
    """Write ``df`` as parquet in ~``target_file_bytes`` files,
    optionally range-clustered on ``cluster_by``. Returns the file
    count used.

    ``total_rows``/``row_bytes`` should come from upstream stats when
    available (a curation manifest already knows its row count); the
    count/estimate fallbacks cost one extra pass + one bounded
    collect, acceptable for ad-hoc use, not for the 100 TB hot path.

    With ``cluster_by``, files carry disjoint key ranges (range
    partition + per-partition sort), so parquet footer min/max prunes
    files for range predicates on those keys — the poor man's
    clustered index, no UDFs involved.
    """
    if total_rows is None:
        total_rows = df.count()
    if row_bytes is None:
        row_bytes = estimate_row_bytes(df)
    n_files = sized_file_count(total_rows, row_bytes, target_file_bytes)
    if cluster_by:
        out = df.repartitionByRange(n_files, *cluster_by).sortWithinPartitions(
            *cluster_by
        )
    else:
        out = df.repartition(n_files)
    writer = out.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*list(partition_by))
    writer.parquet(path)
    return n_files


def zvalue(x: Column, y: Column, bits: int = 16) -> Column:
    """Morton/Z-order interleaving of the low ``bits`` bits of two
    non-negative integral columns: x's bit i lands at position 2i+1,
    y's at 2i. Clustering by this single value keeps points close in
    BOTH dimensions close in file order, so min/max skipping works
    for predicates on either column.

    Pure bitwise column algebra (2·bits shift/mask/or terms), fully
    inside whole-stage codegen. For more dimensions or floating keys,
    bucket to ranks first (e.g. ``ntile`` or fixed-width binning).
    """
    xb = x.cast("bigint")
    yb = y.cast("bigint")
    acc = F.lit(0).cast("bigint")
    for i in range(bits):
        xbit = F.shiftright(xb, i).bitwiseAND(F.lit(1))
        ybit = F.shiftright(yb, i).bitwiseAND(F.lit(1))
        acc = (
            acc.bitwiseOR(F.shiftleft(xbit, 2 * i + 1)).bitwiseOR(
                F.shiftleft(ybit, 2 * i)
            )
        )
    return acc
