"""Batch-addressed external state for foreachBatch streams.

This is the shared state layer under the streaming operators whose
state is corpus-global and join/aggregate-shaped — the SURVEY §4.3
external-state case that ``applyInPandasWithState`` (per-group state)
cannot express. Its nine consumers: the incremental LSH dedup
(streaming/incremental_dedup.py), the HLL distinct-cardinality monitor
(streaming/hll_monitor.py), the count-min heavy-hitters monitor
(streaming/cm_monitor.py), the rare-gram exposure monitor
(streaming/exposure_monitor.py), the centroid-drift monitor
(streaming/drift_monitor.py), the first-seen vocabulary monitor
(streaming/vocab_monitor.py), the context-length economics monitor
(streaming/ctx_monitor.py), the audio exact-dup guard
(streaming/audio_monitor.py) and the embedding near-dup monitor
(streaming/embed_monitor.py). It was promoted out of
``incremental_dedup`` (VERDICT r6 ask #2) so the contract is explicit
and the consumers can evolve independently.

Every layout a writer may declare lives in ONE table, ``LAYOUTS``:
its marker name, required columns, display kind and merge fold.
Readers and compaction (``compact_dir``) take the layout from it.

One scheduler decides when a dir is folded: the ``maintain`` pass
(streaming/maintenance.run_maintenance, CLI ``maintain``). Against a
live stream it reads the committed watermark from the stream's
``commits/`` log (``checkpoint_committed_upto``) and runs between
triggers; a stream's foreachBatch body only writes its own
``batch=N`` deltas (``start_state_stream``).

The layout contract
-------------------
A *state dir* contains one subdirectory per micro-batch::

    state_dir/batch=N/part-*.parquet

Every write is an OVERWRITE of the writer's own ``batch=N`` dir, so
foreachBatch's at-least-once replay is idempotent: a re-delivered
batch rewrites its own partition byte-for-byte instead of appending
duplicates. Row state is written as ONE file per ``batch=N`` with no
inner partition column — one delta file per state dir per version,
the Structured Streaming paper's shape — and a probe is a plain join
against the history, reading only the columns it needs. Hash-bucket
subdirectories pruned nothing once a trigger held more than ~10 rows
(their bucket values already cover most of the fan) while multiplying
the file count by the fan.

Compaction rewrites batches ≤ a watermark into
``state_dir/_compact/upto=N`` (optionally pre-merged) and flips a
``_compacted_upto=N`` manifest MARKER file — the value lives in the
file NAME, not its content, so a marker is valid the instant its
create() is visible. The flip creates the new
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
pre-flip manifest can hit deleted paths mid-job — so ``maintain``
defaults to ``vacuum=False`` (ADVICE r6) and vacuuming is an explicit
maintenance action, optionally with a ``grace_batches`` margin so an
in-flight reader's view survives the sweep. Superseded
dirs are only garbage: deferral costs disk, not correctness.

All filesystem access goes through the JVM Hadoop FileSystem API, so
the layer works identically on local disk, HDFS, and S3A — no
exception-message sniffing, no ``os.path`` divergence.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable, Sequence
from dataclasses import dataclass
from typing import TypeVar

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

MANIFEST_PREFIX = "_compacted_upto="
LAYOUT_PREFIX = "_layout."

T = TypeVar("T")


@dataclass(frozen=True)
class LayoutSpec:
    """One declared state layout: how its dir is validated, displayed
    and merged."""

    name: str  # the ``_layout.<name>`` marker writers declare
    kind: str  # display family: sum | hll | min | rows
    required: frozenset  # columns the layout cannot exist without
    # the state's own merge fold, or None for row state (rewritten
    # verbatim); compact_state pins the folded rows' ``batch``
    merge: Callable[[DataFrame], DataFrame] | None


def _fold(**aggs: Callable[[Column], Column]) -> Callable[[DataFrame], DataFrame]:
    """A merge fold: group by every column except the value columns
    (``aggs``' keys) and ``batch``, aggregating each value column with
    its own aggregate."""

    def merge(df: DataFrame) -> DataFrame:
        keys = [c for c in df.columns if c not in aggs and c != "batch"]
        return df.groupBy(*keys).agg(*[a(F.col(c)).alias(c) for c, a in aggs.items()])

    return merge


def _long_sum(c: Column) -> Column:
    return F.sum(c).cast("long")


#: The summed metric columns of the context-length economics layout
#: (streaming/ctx_monitor.py), in output order.
CTX_METRICS = (
    "n_docs",
    "total_tokens",
    "n_trunc_docs",
    "trunc_lost_tokens",
    "n_chunks",
    "pad_tokens",
)

#: The one spec every scheme-versioned embed-index marker maps to.
_RH_FAMILY = "rows-rh-<bands>x<bits>"

#: Name → spec for every layout a writer may declare. Writers pass
#: these exact names to ``write_layout_marker``:
#:
#: - ``sum-cnt``     → long-sum ``cnt`` (count-min cells; rare-gram
#:                     exposure counts).
#: - ``sum-sn``      → DECIMAL-sum ``s`` + long-sum ``n`` per (label, p)
#:                     (centroid-drift partials).
#: - ``max-M``       → max ``M`` (HLL registers).
#: - ``min-fb``      → min ``fb`` (first-seen vocabulary).
#: - ``sum-ctx``     → long-sum of every ``CTX_METRICS`` column per
#:                     ``budget`` (context-length economics).
#: - ``rows``        → row state, rewritten verbatim (dedup corpus,
#:                     index and pairs; audio fpk and pairs; embed
#:                     vectors and pairs).
#: - ``rows-rh-<bands>x<bits>`` → the embedding near-dup monitor's
#:                     signature index (the marker names the banding
#:                     scheme), rewritten verbatim.
#:
#: Every fold is the state's own merge operator, so folding is
#: lossless; it groups by every column except its value columns and
#: ``batch``.
LAYOUTS: dict[str, LayoutSpec] = {
    s.name: s
    for s in (
        LayoutSpec("sum-cnt", "sum", frozenset({"cnt"}), _fold(cnt=_long_sum)),
        LayoutSpec(
            "sum-sn",
            "sum",
            frozenset({"label", "p", "s", "n"}),
            _fold(s=lambda c: F.sum(c).cast("decimal(30,8)"), n=_long_sum),
        ),
        LayoutSpec("max-M", "hll", frozenset({"M"}), _fold(M=F.max)),
        LayoutSpec("min-fb", "min", frozenset({"fb"}), _fold(fb=F.min)),
        LayoutSpec(
            "sum-ctx",
            "sum",
            frozenset({"budget", *CTX_METRICS}),
            _fold(**{m: _long_sum for m in CTX_METRICS}),
        ),
        LayoutSpec("rows", "rows", frozenset(), None),
        LayoutSpec(_RH_FAMILY, "rows", frozenset({"band", "bh"}), None),
    )
}


def declared_layout(marker: str | None) -> LayoutSpec | None:
    """The ``LAYOUTS`` entry ``marker`` names; None for no marker or
    one this version does not know.

    Scheme-versioned embed-index markers (``rows-rh-<bands>x<bits>``)
    all compact identically: a verbatim rewrite."""
    if marker is not None and re.fullmatch(r"rows-rh-\d+x\d+", marker):
        marker = _RH_FAMILY
    return LAYOUTS.get(marker) if marker is not None else None


def fitting_layout(columns: Sequence[str], marker: str | None) -> LayoutSpec | None:
    """The spec a dir declaring ``marker`` with ``columns`` compacts
    under, or None when the dir cannot be classified safely: no marker,
    an unknown one, or one whose required columns the schema lacks (a
    marker pasted onto the wrong dir must not trigger the wrong merge)."""
    spec = declared_layout(marker)
    if spec is None or not spec.required <= set(columns):
        return None
    return spec


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
    schema: StructType | None = None,
) -> DataFrame | None:
    """Read a batch-addressed state dir: the compacted segment (if the
    manifest names one) unioned with the live ``batch=N`` dirs above
    the compaction watermark. ``exclude_batch`` drops the current
    batch everywhere (path-level for live dirs — no read at all — and
    row-level for the compact segment, covering replay-after-compact).
    ``schema`` is the state's columns without ``batch`` (a writer
    passes the schema of the frame it writes; ``batch int`` is added
    here): with it, building the frame runs no Spark job; without it,
    Spark reads parquet footers in one job to infer the schema.
    None == state absent."""
    upto = compacted_upto(spark, path)
    live = [
        d
        for (k, d) in batch_dirs(spark, path)
        if (upto is None or k > upto) and k != exclude_batch
    ]
    if schema is not None:
        schema = StructType([*schema.fields, StructField("batch", IntegerType())])

    def reader():
        return spark.read if schema is None else spark.read.schema(schema)

    parts: list[DataFrame] = []
    if upto is not None:
        parts.append(reader().parquet(os.path.join(path, "_compact", f"upto={upto}")))
    if live:
        parts.append(reader().option("basePath", path).parquet(*live))
    if not parts:
        return None
    df = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    if exclude_batch is not None:
        df = df.filter(F.col("batch") != exclude_batch)
    return df


def read_merged(
    spark: SparkSession, state_dir: str, layout: str, columns: Sequence[str]
) -> DataFrame | None:
    """``columns`` of a state dir folded by ``layout``'s merge — the
    aggregate readers' view; None when no state exists."""
    df = read_state(spark, state_dir)
    return None if df is None else LAYOUTS[layout].merge(df.select(*columns))


def compact_state(
    spark: SparkSession,
    state_dir: str,
    upto_batch: int,
    merge: Callable[[DataFrame], DataFrame] | None = None,
) -> None:
    """Rewrite batches ≤ ``upto_batch`` (plus any previous compact
    segment) into ``_compact/upto=N``, then flip the manifest marker.

    ``merge`` optionally pre-aggregates the folded rows (a layout's
    ``LayoutSpec.merge``) — lossless when it is the state's own merge
    operator. The merged rows' ``batch`` is pinned to ``upto_batch``
    here, so the generic reader's replay row-filter semantics stay
    intact.

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
        df = merge(df).withColumn("batch", F.lit(upto_batch))
    df.write.mode("overwrite").parquet(
        os.path.join(state_dir, "_compact", f"upto={upto_batch}")
    )
    write_manifest(spark, state_dir, upto_batch)


def compact_dir(spark: SparkSession, state_dir: str, upto_batch: int) -> None:
    """Compact one state dir to ``upto_batch`` under its DECLARED
    layout: read the state once, read the dir's ``_layout.`` marker,
    check the layout's required columns, then ``compact_state`` with
    the spec's merge. Raises on two markers
    (``read_layout_marker``), on no state, and on a marker that is
    missing, unknown or does not fit the schema — a dir is never
    compacted under a guessed merge. ``maintain`` plans first and
    skips such dirs with a note instead."""
    marker = read_layout_marker(spark, state_dir)
    df = read_state(spark, state_dir)
    if df is None:
        raise ValueError(f"no state at {state_dir}")
    spec = fitting_layout(df.columns, marker)
    if spec is None:
        raise ValueError(
            f"{state_dir}: layout marker {marker!r} is missing, unknown or "
            "does not fit the dir's schema — refusing to compact it"
        )
    compact_state(spark, state_dir, upto_batch, spec.merge)


def vacuum_state(
    spark: SparkSession, state_dir: str, grace_batches: int = 0
) -> int:
    """Delete batch dirs at or below the compaction watermark and
    superseded ``_compact/upto=M`` segments. Returns the number of
    directories removed.

    ``grace_batches`` keeps the newest N superseded batch dirs and the
    newest N superseded compact segments (all of them when fewer than
    N exist), so a reader that listed dirs just before the manifest
    flip can still finish its scan; run a later vacuum to reclaim
    them. A negative margin raises.

    Concurrency contract: crash-safe against the WRITER at any time,
    but an unsynchronized CONCURRENT reader — a micro-batch that
    listed state dirs against the pre-flip manifest and hasn't
    executed its scan yet — can hit deleted paths mid-job. Run
    vacuuming between triggers (``maintain --checkpoint``), with the
    stream stopped, or leave a ``grace_batches`` margin; superseded
    dirs are only garbage, so deferral costs disk, not correctness."""
    if grace_batches < 0:
        raise ValueError(f"grace_batches must be >= 0, got {grace_batches}")
    upto = compacted_upto(spark, state_dir)
    if upto is None:
        return 0
    fs, _ = hadoop_fs(spark, state_dir)
    jvm = spark._jvm
    removed = 0
    superseded = [(k, d) for k, d in batch_dirs(spark, state_dir) if k <= upto]
    keep = {k for k, _ in superseded[-grace_batches:]} if grace_batches else set()
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
        keep_segs = set(old[-grace_batches:]) if grace_batches else set()
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


def start_state_stream(
    stream_df: DataFrame,
    checkpoint_dir: str,
    write: Callable[[DataFrame, int], None],
):
    """Start ``stream_df`` with ``write`` as its foreachBatch body;
    offsets commit to ``checkpoint_dir`` after each trigger's body
    returns (commit-on-success, streaming/pipeline.py contract).
    Compaction runs out of band: ``maintain --checkpoint
    <checkpoint_dir>`` (streaming/maintenance.py) folds the batches
    the commits log names. Returns the StreamingQuery."""
    return (
        stream_df.writeStream.foreachBatch(write)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def inheriting_local_properties(spark: SparkSession) -> Callable[[Callable[[], T]], T]:
    """A runner for pool threads: ``run(job)`` installs a FRESH clone of
    the calling thread's JVM local properties, then calls ``job()``.

    With PYSPARK_PIN_THREAD (default since Spark 3.2) each Python thread
    pins to its own JVM thread, so plain pool threads would NOT inherit
    a trigger's job group / local properties — query.stop() could not
    cancel their jobs and Spark-UI attribution to the streaming query
    would be lost. Each invocation gets its OWN clone: Spark mutates
    thread-local properties during actions (e.g.
    SQLExecution.withNewExecutionId sets/restores
    spark.sql.execution.id around every write), so one Properties
    object shared across pool threads races. This is pyspark's
    InheritableThread recipe applied to a pool."""
    sc = spark.sparkContext
    try:
        parent = sc._jsc.sc().getLocalProperties().clone()
    except Exception:  # non-JVM test doubles
        parent = None

    def run(job: Callable[[], T]) -> T:
        if parent is not None:
            try:
                sc._jsc.sc().setLocalProperties(parent.clone())
            except Exception:
                pass
        return job()

    return run


__all__ = [
    "CTX_METRICS",
    "LAYOUTS",
    "LAYOUT_PREFIX",
    "LayoutSpec",
    "MANIFEST_PREFIX",
    "batch_dirs",
    "checkpoint_committed_upto",
    "compact_dir",
    "compact_state",
    "compacted_upto",
    "declared_layout",
    "fitting_layout",
    "hadoop_fs",
    "inheriting_local_properties",
    "read_layout_marker",
    "read_merged",
    "read_state",
    "replace_layout_marker",
    "require_layout_marker",
    "start_state_stream",
    "vacuum_state",
    "write_layout_marker",
    "write_manifest",
]
