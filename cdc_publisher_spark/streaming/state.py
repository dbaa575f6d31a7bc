"""Batch-addressed external state for foreachBatch streams.

This is the shared state layer under the streaming operators whose
state is corpus-global and join/aggregate-shaped — the SURVEY §4.3
external-state case that ``applyInPandasWithState`` (per-group state)
cannot express: the incremental LSH dedup
(streaming/incremental_dedup.py), the HLL distinct-cardinality monitor
(streaming/hll_monitor.py), the count-min heavy-hitters monitor
(streaming/cm_monitor.py), the rare-gram exposure monitor
(streaming/exposure_monitor.py), the centroid-drift monitor
(streaming/drift_monitor.py), the first-seen vocabulary monitor
(streaming/vocab_monitor.py), and the unified ``maintain`` CLI
subcommand (streaming/maintenance.py). It
was promoted out of ``incremental_dedup`` (VERDICT r6 ask #2) so the
contract is explicit and the consumers can evolve independently.

The layout contract
-------------------
A *state dir* contains one subdirectory per micro-batch::

    state_dir/batch=N/[inner partition dirs...]

Every write is an OVERWRITE of the writer's own ``batch=N`` dir, so
foreachBatch's at-least-once replay is idempotent: a re-delivered
batch rewrites its own partition byte-for-byte instead of appending
duplicates. Inner partition columns (``bhm``/``dh`` for the
dedup dirs) are the keys the next trigger will prune by — readers pass
a ``part_filter`` and the scan reads O(touched cells), not O(corpus).

Compaction rewrites batches ≤ a watermark into
``state_dir/_compact/upto=N`` (same inner partitioning, optionally
pre-merged) and flips a ``_compacted_upto=N`` manifest MARKER file —
the value lives in the file NAME, not its content, so a marker is
valid the instant its create() is visible. The flip creates the new
marker first (two markers for an instant — max wins, which is the
new, fully-written segment) and removes older markers afterwards; a
crash anywhere leaves at least one valid marker covering a
fully-written segment. Underscore-prefixed names are invisible to
Spark's partition discovery, so readers see compact data only through
the manifest — the same atomic-pointer pattern as the CDC snapshot
applier (operators/cdc_apply.py SnapshotApplier).

``vacuum_state`` deletes superseded per-batch dirs and old compact
segments. It is safe against the WRITER at any time, but an
unsynchronized CONCURRENT reader that listed dirs against the
pre-flip manifest can hit deleted paths mid-job — so compaction
defaults to ``vacuum=False`` everywhere (ADVICE r6) and vacuuming is
an explicit maintenance action, optionally with a ``grace_batches``
margin so an in-flight reader's view survives the sweep. Superseded
dirs are only garbage: deferral costs disk, not correctness.

All filesystem access goes through the JVM Hadoop FileSystem API, so
the layer works identically on local disk, HDFS, and S3A — no
exception-message sniffing, no ``os.path`` divergence.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_PREFIX = "_compacted_upto="
LAYOUT_PREFIX = "_layout."


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


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the JVM Hadoop API."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def compacted_upto(spark: SparkSession, path: str) -> int | None:
    """The manifest's batch watermark: batches ≤ this live in
    ``_compact/upto=N``; None when never compacted.

    The manifest is the MAX over ``_compacted_upto=N`` marker files —
    see the module docstring for why the create-then-prune flip is
    crash-safe without an atomic rename."""
    fs, jpath = hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return None
    marks = [
        int(st.getPath().getName()[len(MANIFEST_PREFIX):])
        for st in fs.listStatus(jpath)
        if st.getPath().getName().startswith(MANIFEST_PREFIX)
    ]
    return max(marks) if marks else None


def write_manifest(spark: SparkSession, path: str, upto: int) -> None:
    """Monotonic pointer flip: create ``_compacted_upto=<upto>``, then
    drop older markers."""
    fs, _ = hadoop_fs(spark, path)
    jvm = spark._jvm
    mark = jvm.org.apache.hadoop.fs.Path(
        os.path.join(path, f"{MANIFEST_PREFIX}{upto}")
    )
    fs.create(mark, True).close()
    for st in fs.listStatus(jvm.org.apache.hadoop.fs.Path(path)):
        name = st.getPath().getName()
        if name.startswith(MANIFEST_PREFIX) and int(name[len(MANIFEST_PREFIX):]) < upto:
            fs.delete(st.getPath(), False)


def write_layout_marker(spark: SparkSession, path: str, layout: str) -> None:
    """Idempotently declare a state dir's layout: an empty
    ``_layout.<name>`` marker file whose NAME carries the value (the
    manifest-marker pattern). Writers call this each trigger — the
    exists() check makes re-declaration free — so ``maintain``
    (streaming/maintenance.py) can pick the dir's merge algebra from
    an explicit declaration instead of guessing from column names
    (ADVICE r9: a future row-state layout that happens to carry a
    ``cnt`` column must not be silently sum-merged)."""
    fs, _ = hadoop_fs(spark, path)
    mark = spark._jvm.org.apache.hadoop.fs.Path(
        os.path.join(path, f"{LAYOUT_PREFIX}{layout}")
    )
    if not fs.exists(mark):
        fs.create(mark, True).close()


def read_layout_marker(spark: SparkSession, path: str) -> str | None:
    """The declared layout name for a state dir, or None when no writer
    has declared one yet (a fresh dir, or a crash in trigger 0 before
    its marker write — ``maintain`` skips such a dir).

    MULTIPLE markers raise: a dir can only have accumulated two
    ``_layout.`` files by having writers of different layouts write
    into it (the ADVICE r11 in-place-upgrade hazard), and silently
    picking one — the old sorted()[0] behavior — let the stale marker
    shadow the live one forever. A layout migration (e.g.
    ``embed_monitor.migrate_embed_layout``) rewrites the data and
    REPLACES the marker (``replace_layout_marker``) instead of adding
    a second one."""
    fs, jpath = hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return None
    names = sorted(
        st.getPath().getName()[len(LAYOUT_PREFIX):]
        for st in fs.listStatus(jpath)
        if st.getPath().getName().startswith(LAYOUT_PREFIX)
    )
    if len(names) > 1:
        raise ValueError(
            f"conflicting layout markers {names} at {path}: the dir holds "
            "state written under two different layouts — rebuild or migrate "
            "it (which rewrites the data and replaces the marker) before "
            "reading or writing it"
        )
    return names[0] if names else None


def require_layout_marker(spark: SparkSession, path: str, layout: str) -> None:
    """Writer-side guard: raise unless ``path`` is undeclared (fresh) or
    declares exactly ``layout``. Called before a writer's first write of
    a trigger, so a dir written under another layout is refused with
    nothing written."""
    marker = read_layout_marker(spark, path)  # raises on conflict
    if marker is not None and marker != layout:
        raise ValueError(
            f"{path} declares layout {marker!r}, not {layout!r} — "
            "refusing to write into it"
        )


def replace_layout_marker(spark: SparkSession, path: str, layout: str) -> None:
    """Swap a state dir's layout declaration: remove every existing
    ``_layout.`` marker, then create ``_layout.<layout>``. For
    MIGRATIONS only — a crash between the delete and the create leaves
    the dir marker-less, which ``maintain`` skips (safe: never merged
    wrongly), whereas the accumulate-both alternative left a stale
    marker permanently shadowing the live one (ADVICE r11)."""
    fs, jpath = hadoop_fs(spark, path)
    if fs.exists(jpath):
        for st in fs.listStatus(jpath):
            name = st.getPath().getName()
            if name.startswith(LAYOUT_PREFIX) and name != f"{LAYOUT_PREFIX}{layout}":
                fs.delete(st.getPath(), False)
    write_layout_marker(spark, path, layout)


def checkpoint_committed_upto(spark: SparkSession, checkpoint_dir: str) -> int | None:
    """The last COMMITTED micro-batch id per a Structured Streaming
    checkpoint's ``commits/`` log (one integer-named file per
    committed batch; Spark's own resume source of truth). None when
    the log is absent or empty.

    This is the correct offline-maintenance watermark after a CRASH:
    the newest ``batch=N`` state dir on disk may belong to a batch
    whose offsets never committed, and folding it would let the
    restarted stream's replayed trigger (``exclude_batch=N``) drop the
    merged history (ADVICE r9, medium)."""
    fs, jroot = hadoop_fs(spark, os.path.join(checkpoint_dir, "commits"))
    if not fs.exists(jroot):
        return None
    ids = [
        int(st.getPath().getName())
        for st in fs.listStatus(jroot)
        if st.getPath().getName().isdigit()
    ]
    return max(ids) if ids else None


def batch_dirs(spark: SparkSession, path: str) -> list[tuple[int, str]]:
    """(batch_id, dir) for every ``batch=N`` child of ``path``; [] when
    the dir doesn't exist (checked via FileSystem.exists — no reliance
    on AnalysisException message text)."""
    fs, jpath = hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return []
    out = []
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("batch="):
            out.append((int(name.split("=", 1)[1]), st.getPath().toString()))
    return sorted(out)


def read_state(
    spark: SparkSession,
    path: str,
    exclude_batch: int | None = None,
    part_filter: Column | None = None,
) -> DataFrame | None:
    """Read a batch-addressed state dir: the compacted segment (if the
    manifest names one) unioned with the live ``batch=N`` dirs above
    the compaction watermark. ``exclude_batch`` drops the current
    batch everywhere (path-level for live dirs — no read at all — and
    row-level for the compact segment, covering replay-after-compact).
    ``part_filter`` is a predicate on inner partition columns: on the
    live read it prunes DIRECTORIES via partition pruning, which is
    the whole point of the layout. None == state absent."""
    upto = compacted_upto(spark, path)
    live = [
        d
        for (k, d) in batch_dirs(spark, path)
        if (upto is None or k > upto) and k != exclude_batch
    ]
    parts: list[DataFrame] = []
    if upto is not None:
        parts.append(
            spark.read.parquet(os.path.join(path, "_compact", f"upto={upto}"))
        )
    if live:
        parts.append(spark.read.option("basePath", path).parquet(*live))
    if not parts:
        return None
    df = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    if exclude_batch is not None:
        df = df.filter(F.col("batch") != exclude_batch)
    if part_filter is not None:
        df = df.filter(part_filter)
    return df


def in_stream_watermark(
    spark: SparkSession,
    state_dir: str,
    batch_id: int,
    compact_every: int | None,
) -> int | None:
    """The watermark an IN-STREAM compaction (from inside the very
    foreachBatch trigger that just wrote ``batch=batch_id``) may fold
    to, or None when this trigger shouldn't compact.

    Committed batches only — ``batch_id - 1`` — never the current,
    not-yet-checkpointed batch (ADVICE r8, medium): a merge-style
    compaction pins folded rows to the watermark batch id, so folding
    the in-flight batch would (a) let a replayed trigger's
    ``exclude_batch`` row-filter erase the whole merged history
    (the dedup guard's bloom), and (b) bake a batch into the segment
    before its offsets commit, making the segment's contents depend on
    a replay recomputing bit-identical deltas. With the committed-only
    watermark the current batch's dirs stay live until ITS checkpoint
    commits, and the next compaction trigger folds it.

    Returns None when this isn't a compaction trigger
    (``(batch_id + 1) % compact_every != 0``), when nothing committed
    exists below the current batch, or when the manifest already
    covers the target (a replayed compaction trigger — idempotent
    skip, not an error)."""
    if not compact_every or (batch_id + 1) % compact_every != 0:
        return None
    upto = batch_id - 1
    prev = compacted_upto(spark, state_dir)
    if prev is not None and prev >= upto:
        return None
    if prev is None and not any(
        k < batch_id for k, _ in batch_dirs(spark, state_dir)
    ):
        return None
    return upto


def compact_state(
    spark: SparkSession,
    state_dir: str,
    upto_batch: int,
    partition_cols: tuple[str, ...] = (),
    merge: Callable[[DataFrame], DataFrame] | None = None,
) -> None:
    """Rewrite batches ≤ ``upto_batch`` (plus any previous compact
    segment) into ``_compact/upto=N`` with the same inner
    partitioning, then flip the manifest marker.

    ``merge`` optionally pre-aggregates the folded rows (HLL register
    max, count-min counter sum) — lossless when it is the state's own
    merge operator. The merged frame must carry a ``batch`` column
    (pin it to ``upto_batch``) so the generic reader's replay
    row-filter semantics stay intact.

    Idempotent: a re-run at the current watermark is a no-op (the
    segment is already live — re-writing it would read from the path
    being overwritten), and a re-run after a crash mid-way through a
    multi-dir compaction skips the dirs that already flipped and
    compacts the rest. Readers never see a partial view — the marker
    flip is the only visible transition, and until it happens the old
    per-batch dirs answer reads."""
    prev = compacted_upto(spark, state_dir)
    if prev is not None and prev > upto_batch:
        raise ValueError(
            f"cannot compact {state_dir} to {upto_batch}: already compacted to {prev}"
        )
    if prev == upto_batch:
        return  # already flipped to this watermark: nothing to do
    df = read_state(spark, state_dir)
    if df is None:
        raise ValueError(f"no state at {state_dir}")
    df = df.filter(F.col("batch") <= upto_batch)
    if merge is not None:
        df = merge(df)
    target = os.path.join(state_dir, "_compact", f"upto={upto_batch}")
    if partition_cols:
        # partition-aligned write (r11, same rationale as the dedup
        # per-batch writes): one file per partition value in the
        # compacted segment, not one per (task, value) pair —
        # count-pinned (r14, aligned_repartition docstring)
        df = aligned_repartition(df, *partition_cols)
    writer = df.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(target)
    write_manifest(spark, state_dir, upto_batch)


def vacuum_state(
    spark: SparkSession, state_dir: str, grace_batches: int = 0
) -> int:
    """Delete batch dirs at or below the compaction watermark and
    superseded ``_compact/upto=M`` segments. Returns the number of
    directories removed.

    ``grace_batches`` keeps the newest N superseded batch dirs (and
    all but the last N superseded compact segments' worth of safety —
    segments follow the same margin counted from the watermark down),
    so a reader that listed dirs just before the manifest flip can
    still finish its scan; run a later vacuum to reclaim them.

    Concurrency contract: crash-safe against the WRITER at any time,
    but an unsynchronized CONCURRENT reader — a micro-batch that
    listed state dirs against the pre-flip manifest and hasn't
    executed its scan yet — can hit deleted paths mid-job. Run
    vacuuming from the stream's own maintenance cadence (between
    triggers), with the stream stopped, or leave a ``grace_batches``
    margin; superseded dirs are only garbage, so deferral costs disk,
    not correctness."""
    upto = compacted_upto(spark, state_dir)
    if upto is None:
        return 0
    fs, _ = hadoop_fs(spark, state_dir)
    jvm = spark._jvm
    removed = 0
    superseded = [(k, d) for k, d in batch_dirs(spark, state_dir) if k <= upto]
    keep = {k for k, _ in superseded[len(superseded) - grace_batches:]} if grace_batches else set()
    for k, d in superseded:
        if k not in keep:
            fs.delete(jvm.org.apache.hadoop.fs.Path(d), True)
            removed += 1
    croot = jvm.org.apache.hadoop.fs.Path(os.path.join(state_dir, "_compact"))
    if fs.exists(croot):
        segs = sorted(
            int(st.getPath().getName().split("=", 1)[1])
            for st in fs.listStatus(croot)
            if st.getPath().getName().startswith("upto=")
        )
        old = [s for s in segs if s < upto]
        keep_segs = set(old[len(old) - grace_batches:]) if grace_batches else set()
        for s in old:
            if s not in keep_segs:
                fs.delete(
                    jvm.org.apache.hadoop.fs.Path(
                        os.path.join(state_dir, "_compact", f"upto={s}")
                    ),
                    True,
                )
                removed += 1
    return removed


__all__ = [
    "LAYOUT_PREFIX",
    "MANIFEST_PREFIX",
    "aligned_repartition",
    "batch_dirs",
    "checkpoint_committed_upto",
    "compact_state",
    "compacted_upto",
    "hadoop_fs",
    "in_stream_watermark",
    "read_layout_marker",
    "read_state",
    "replace_layout_marker",
    "require_layout_marker",
    "vacuum_state",
    "write_layout_marker",
    "write_manifest",
]
