"""LSH-index layout guard: one layout per state dir.

An index dir holds one parquet file per ``batch=N`` and declares it
with the ``_layout.rows`` marker. A dir whose marker is anything else —
a foreign layout, or two markers after an accumulate bug — must make
the writer fail fast before any partial write, maintenance must skip
it with a note, and ``replace_layout_marker`` must REPLACE the marker
instead of accumulating a second one, so the stream resumes once the
dir declares its own layout again.
"""

from __future__ import annotations

import os

import pytest

from cdc_publisher_spark.streaming.incremental_dedup import (
    dedup_micro_batch,
    read_dedup_state,
)
from cdc_publisher_spark.streaming.maintenance import plan_maintenance
from cdc_publisher_spark.streaming.state import (
    batch_dirs,
    read_layout_marker,
    replace_layout_marker,
    write_layout_marker,
)

INDEX_LAYOUT = "rows"
BASE = " ".join(f"tok{i}" for i in range(30))
BATCH0 = [(1, BASE), (2, "q " * 25)]
BATCH1 = [(3, BASE + " aa")]


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _state(spark, tmp_path) -> list[str]:
    """Dedup state after trigger 0: the (corpus, index, pairs) dirs."""
    dirs = [str(tmp_path / d) for d in ("corpus", "idx", "pairs")]
    dedup_micro_batch(_df(spark, BATCH0), 0, *dirs)
    return dirs


def _only_batch0(spark, dirs) -> bool:
    return all([k for k, _ in batch_dirs(spark, d)] == [0] for d in dirs)


def test_conflicted_dir_fails_fast_and_migrates(spark, tmp_path):
    """Two markers on the index dir: reads raise, the writer refuses
    before any partial batch=1 write, maintenance skips the dir with a
    note, and replacing the marker with the index layout lets the
    stream resume with the expected pair."""
    dirs = _state(spark, tmp_path)
    idx = dirs[1]
    write_layout_marker(spark, idx, "rows-dh")  # accumulates a second one
    with pytest.raises(ValueError, match="conflicting layout markers"):
        read_layout_marker(spark, idx)
    with pytest.raises(ValueError, match="conflicting layout markers"):
        dedup_micro_batch(_df(spark, BATCH1), 1, *dirs)
    assert _only_batch0(spark, dirs)
    (bad,) = [p for p in plan_maintenance(spark, str(tmp_path)) if p.path.endswith("idx")]
    assert bad.kind == "unrecognized" and "conflicting" in bad.note.lower()

    replace_layout_marker(spark, idx, INDEX_LAYOUT)
    assert read_layout_marker(spark, idx) == INDEX_LAYOUT
    dedup_micro_batch(_df(spark, BATCH1), 1, *dirs)
    assert {(r.d1, r.d2) for r in read_dedup_state(spark, dirs[2]).collect()} == {(1, 3)}


def test_replace_layout_marker_swaps_not_accumulates(spark, tmp_path):
    """replace_layout_marker leaves exactly one marker; a single foreign
    marker on the index dir is refused like a conflicting pair."""
    d = str(tmp_path / "s")
    os.makedirs(d)
    write_layout_marker(spark, d, "rows-dh")
    write_layout_marker(spark, d, INDEX_LAYOUT)  # the accumulate bug
    with pytest.raises(ValueError, match="conflicting layout markers"):
        read_layout_marker(spark, d)
    replace_layout_marker(spark, d, INDEX_LAYOUT)
    assert read_layout_marker(spark, d) == INDEX_LAYOUT
    markers = [n for n in os.listdir(d) if n.startswith("_layout.")]
    assert markers == [f"_layout.{INDEX_LAYOUT}"]

    dirs = _state(spark, tmp_path)
    replace_layout_marker(spark, dirs[1], "rows-dh")
    assert [n for n in os.listdir(dirs[1]) if n.startswith("_layout.")] == [
        "_layout.rows-dh"
    ]
    with pytest.raises(ValueError, match="refusing to write"):
        dedup_micro_batch(_df(spark, BATCH1), 1, *dirs)
    assert _only_batch0(spark, dirs)
