"""The streaming near-dup consumer's per-trigger contract
(streaming/incremental_dedup.py): each trigger caches each frame it
builds exactly once and leaves the cache empty, and the cross-batch
id guard reads only the corpus dir — an ``id_bloom`` dir left in a
state root by earlier versions is neither read nor written, and
``maintain`` skips it while compacting every other dir."""

from __future__ import annotations

import os

from cdc_publisher_spark.__main__ import main
from cdc_publisher_spark.streaming import incremental_dedup as inc
from cdc_publisher_spark.streaming.state import (
    batch_dirs,
    compacted_upto,
    write_layout_marker,
)

BASE = " ".join(f"tok{i}" for i in range(30))
BATCH0 = [(1, BASE), (2, "q " * 25)]
# doc 1 redelivered under a new batch id, doc 3 a near-dup of it
BATCH1 = [(1, BASE), (3, BASE + " aa")]


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _files(root: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, files in os.walk(root)
        for f in files
    )


def test_trigger_persists_each_frame_once(spark, tmp_path, monkeypatch):
    """A fresh trigger and a trigger with history each persist no frame
    that is already cached (Spark logs "Asked to cache already cached
    data" for those), and unpersist everything they cached."""
    cls = type(spark.range(1))
    persist = cls.persist
    recached: list[str] = []

    def recording_persist(self, *args, **kwargs):
        level = self.storageLevel
        if level.useMemory or level.useDisk:
            recached.append(str(level))
        return persist(self, *args, **kwargs)

    monkeypatch.setattr(cls, "persist", recording_persist)
    spark.catalog.clearCache()
    dirs = [str(tmp_path / d) for d in ("corpus", "idx", "pairs")]
    inc.dedup_micro_batch(_df(spark, BATCH0), 0, *dirs)
    inc.dedup_micro_batch(_df(spark, BATCH1), 1, *dirs)
    assert recached == []
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    pairs = {(r.d1, r.d2) for r in inc.read_dedup_state(spark, dirs[2]).collect()}
    assert pairs == {(1, 3)}


def test_earlier_bloom_dir_is_ignored_and_skipped_by_maintain(
    spark, tmp_path, capsys, monkeypatch
):
    """Earlier versions kept the guard's id Bloom filter in
    ``dedup/id_bloom`` under a ``bitor-mask`` marker. The writer never
    reads or writes that dir; ``maintain`` skips it with its
    unknown-marker note and compacts the three dedup dirs."""
    root = tmp_path / "state"
    bloom = str(root / "dedup" / "id_bloom")
    spark.createDataFrame([(0, 1)], "word int, mask bigint").write.parquet(
        os.path.join(bloom, "batch=0")
    )
    write_layout_marker(spark, bloom, "bitor-mask")
    before = _files(bloom)

    read_paths: list[str] = []
    read_state = inc.read_state

    def recording_read_state(spark, path, *args, **kwargs):
        read_paths.append(path)
        return read_state(spark, path, *args, **kwargs)

    monkeypatch.setattr(inc, "read_state", recording_read_state)
    dirs = [str(root / "dedup" / d) for d in ("corpus", "idx", "pairs")]
    for b, rows in enumerate((BATCH0, BATCH1)):
        inc.dedup_micro_batch(_df(spark, rows), b, *dirs)
    assert read_paths and not [p for p in read_paths if "id_bloom" in p]
    corpus = inc.read_dedup_state(spark, dirs[0])
    assert sorted(r.doc_id for r in corpus.select("doc_id").collect()) == [1, 2, 3]
    assert _files(bloom) == before

    assert main(["maintain", "--state-root", str(root), "--assume-all-committed"]) == 0
    out = capsys.readouterr().out
    assert out.count("compact\trows\t") == 3, out
    (skip,) = [line for line in out.splitlines() if "id_bloom" in line]
    assert skip.startswith("skip\tunrecognized\t"), skip
    assert "layout marker 'bitor-mask' is unknown to this version; skipped" in skip, skip
    assert all(compacted_upto(spark, d) == 1 for d in dirs)
    assert compacted_upto(spark, bloom) is None
    assert [k for k, _ in batch_dirs(spark, bloom)] == [0]
