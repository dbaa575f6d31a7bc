"""Committed-only maintenance watermarks and declared layouts.

ADVICE r9 (medium): a crash between a foreachBatch write and its
checkpoint commit leaves the newest ``batch=N`` state dir on disk
UNcommitted. Merge-style compaction pins merged rows to the watermark
batch id, so folding that dir would let the restarted stream's
replayed trigger (``exclude_batch=N``) drop the whole merged history —
the dedup id-Bloom failure mode. These tests pin the three defenses:
the own_max−1 default, the checkpoint-commits-log watermark, and the
explicitly-opted ``assume_all_committed`` fold; plus the two r9 low
items — vacuum reaching already-current dirs, and marker-declared (not
column-guessed) layout classification.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cdc_publisher_spark.streaming.maintenance import (
    plan_maintenance,
    run_maintenance,
)
from cdc_publisher_spark.streaming.state import (
    batch_dirs,
    checkpoint_committed_upto,
    compacted_upto,
    read_state,
    vacuum_state,
    write_layout_marker,
)
from cdc_publisher_spark.streaming.vocab_monitor import (
    read_vocab_report,
    vocab_micro_batch,
)


def _docs(spark, batch_id: int):
    rows = [(i, f"alpha beta tok{batch_id}_{i}", "src") for i in range(4)]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def _write_batches(spark, state: str, n: int) -> None:
    for b in range(n):
        vocab_micro_batch(_docs(spark, b), b, state)


def test_default_watermark_holds_back_newest_batch(spark, tmp_path):
    """batches 0..2 on disk, no proof batch 2 committed: the default
    plan folds to 1 and leaves batch=2 live, and says why."""
    root = tmp_path / "root"
    state = str(root / "vocab")
    _write_batches(spark, state, 3)
    plans = run_maintenance(spark, str(root))
    assert [(p.target_upto, p.note) for p in plans] == [
        (1, "newest on-disk batch held back as uncommitted")
    ]
    assert compacted_upto(spark, state) == 1
    assert [k for k, _ in batch_dirs(spark, state)] == [0, 1, 2]
    # a later batch landing above makes batch 2 foldable next pass
    vocab_micro_batch(_docs(spark, 3), 3, state)
    run_maintenance(spark, str(root))
    assert compacted_upto(spark, state) == 2


def test_replayed_newest_batch_survives_default_maintenance(spark, tmp_path):
    """The failure mode itself: crash after batch 2's write, before
    its commit; offline maintenance runs; the stream restarts and
    REPLAYS batch 2. With the committed-only default the replayed
    trigger's exclude_batch=2 row-filter cannot touch the compacted
    segment (pinned to batch 1), so the merged history — and the
    report — are exactly the clean-run ones."""
    root = tmp_path / "root"
    state = str(root / "vocab")
    _write_batches(spark, state, 3)
    run_maintenance(spark, str(root), vacuum=True)  # crash-window maintenance
    vocab_micro_batch(_docs(spark, 2), 2, state)  # the replay
    got = [tuple(r) for r in read_vocab_report(spark, state).collect()]

    clean = str(tmp_path / "clean")
    _write_batches(spark, clean, 3)
    want = [tuple(r) for r in read_vocab_report(spark, clean).collect()]
    assert got == want
    # replay sees the pre-batch state: batch-2 first-seen rows exist
    seg = read_state(spark, state, exclude_batch=2)
    assert seg.agg(F.max("batch")).first()[0] == 1


def test_checkpoint_commits_log_is_the_exact_watermark(spark, tmp_path):
    """commits/0 and commits/1 exist but batch 2's never landed: the
    checkpoint-derived watermark folds exactly the committed prefix."""
    root = tmp_path / "root"
    state = str(root / "vocab")
    _write_batches(spark, state, 3)
    ckpt = tmp_path / "ckpt"
    (ckpt / "commits").mkdir(parents=True)
    for b in (0, 1):
        (ckpt / "commits" / str(b)).write_text("v1")
    (ckpt / "commits" / ".2.tmp").write_text("")  # in-flight, not committed
    assert checkpoint_committed_upto(spark, str(ckpt)) == 1
    assert checkpoint_committed_upto(spark, str(tmp_path / "nockpt")) is None

    plans = run_maintenance(spark, str(root), checkpoint_dir=str(ckpt))
    assert [(p.target_upto, p.note) for p in plans] == [
        (1, "watermark from checkpoint commits log")
    ]
    assert compacted_upto(spark, state) == 1
    # a checkpoint ahead of this dir's own batches caps at own max
    for b in (2, 3, 4):
        (ckpt / "commits" / str(b)).write_text("v1")
    plans = plan_maintenance(spark, str(root), checkpoint_dir=str(ckpt))
    assert plans[0].target_upto == 2  # own max, not the log's 4


def test_vacuum_reaches_dirs_whose_watermark_is_current(spark, tmp_path):
    """ADVICE r9 (low): a crash between a previous compact and its
    vacuum leaves superseded dirs; --vacuum must reclaim them even
    though the dir needs no new compaction this pass."""
    root = tmp_path / "root"
    state = str(root / "vocab")
    _write_batches(spark, state, 3)
    run_maintenance(spark, str(root))  # compact to 1, NO vacuum (the crash)
    assert [k for k, _ in batch_dirs(spark, state)] == [0, 1, 2]
    plans = run_maintenance(spark, str(root), vacuum=True)
    assert plans[0].action == "skip"  # watermark already current...
    assert [k for k, _ in batch_dirs(spark, state)] == [2]  # ...yet reclaimed


def test_marker_beats_column_guess_for_row_state_with_cnt(spark, tmp_path):
    """ADVICE r9 (low): a row-state layout that happens to carry a
    ``cnt`` column must NOT be sum-merged. The writer's ``rows``
    marker keeps every row through compaction."""
    root = tmp_path / "root"
    state = str(root / "per_doc_counts")
    rows = spark.createDataFrame(
        [(1, 3, 0), (2, 5, 0), (1, 7, 1)], "doc_id long, cnt long, batch int"
    )
    for b in (0, 1):
        rows.filter(F.col("batch") == b).write.mode("overwrite").parquet(
            f"{state}/batch={b}"
        )
    write_layout_marker(spark, state, "rows")
    before = sorted(map(tuple, read_state(spark, state).collect()))
    plans = run_maintenance(spark, str(root), assume_all_committed=True)
    assert [(p.kind, p.action) for p in plans] == [("rows", "compact")]
    assert sorted(map(tuple, read_state(spark, state).collect())) == before
    assert len(before) == 3  # a sum-merge would have collapsed doc 1


def test_unrecognized_schema_without_marker_is_skipped(spark, tmp_path):
    """No marker and no full-signature match: maintain must not guess
    a merge — the dir is reported skipped and its data untouched."""
    root = tmp_path / "root"
    state = str(root / "mystery")
    spark.createDataFrame(
        [(1, "x", 0)], "k long, payload string, batch int"
    ).write.mode("overwrite").parquet(f"{state}/batch=0")
    plans = run_maintenance(spark, str(root), assume_all_committed=True)
    assert [(p.kind, p.action) for p in plans] == [("unrecognized", "skip")]
    assert "no layout marker" in plans[0].note
    assert compacted_upto(spark, state) is None
    assert read_state(spark, state).count() == 1


def test_marker_on_mismatched_schema_is_not_trusted(spark, tmp_path):
    """A declared layout whose required columns are absent (marker
    pasted onto the wrong dir) is unrecognized, not wrong-merged."""
    root = tmp_path / "root"
    state = str(root / "mislabelled")
    spark.createDataFrame([(1, 0)], "k long, batch int").write.mode(
        "overwrite"
    ).parquet(f"{state}/batch=0")
    write_layout_marker(spark, state, "max-M")  # needs M
    plans = run_maintenance(spark, str(root), assume_all_committed=True)
    assert [(p.kind, p.action) for p in plans] == [("unrecognized", "skip")]


def test_skip_note_tells_unknown_marker_from_schema_mismatch(spark, tmp_path):
    """A known marker on a schema that lacks its required columns is
    reported as a schema mismatch; a marker no ``LAYOUTS`` entry names
    (an earlier version's, say) is reported as unknown."""
    root = tmp_path / "root"
    for name, marker in (("mislabelled", "sum-sn"), ("retired", "bitor-mask")):
        spark.createDataFrame([(1, 0)], "k long, batch int").write.mode(
            "overwrite"
        ).parquet(str(root / name / "batch=0"))
        write_layout_marker(spark, str(root / name), marker)
    plans = plan_maintenance(spark, str(root), assume_all_committed=True)
    notes = {p.path.rsplit("/", 1)[-1]: (p.kind, p.action, p.note) for p in plans}
    assert notes == {
        "mislabelled": (
            "unrecognized",
            "skip",
            "layout marker 'sum-sn' does not fit the dir's schema; skipped",
        ),
        "retired": (
            "unrecognized",
            "skip",
            "layout marker 'bitor-mask' is unknown to this version; skipped",
        ),
    }


def test_explicit_upto_batch_is_capped_at_own_max(spark, tmp_path):
    root = tmp_path / "root"
    state = str(root / "vocab")
    _write_batches(spark, state, 2)
    plans = plan_maintenance(spark, str(root), upto_batch=9)
    assert plans[0].target_upto == 1


def test_layout_marker_is_invisible_to_direct_parquet_reads(spark, tmp_path):
    """Regression: Spark's hidden-file filter drops underscore-prefixed
    names ONLY when they contain no '=' (names with '=' are kept as
    partition dirs) — a marker spelled `_layout=rows` was read as a
    parquet data file by `spark.read.parquet(state_dir)` and broke
    every legacy direct-read consumer. The marker must carry no '='
    and a direct read of a marked dir must see data rows only."""
    from cdc_publisher_spark.streaming.state import (
        LAYOUT_PREFIX,
        read_layout_marker,
    )

    assert "=" not in LAYOUT_PREFIX
    state = str(tmp_path / "s")
    spark.createDataFrame([(1, 0)], "k long, batch int").write.parquet(
        f"{state}/batch=0"
    )
    write_layout_marker(spark, state, "rows")
    assert spark.read.parquet(state).count() == 1
    assert read_layout_marker(spark, state) == "rows"
