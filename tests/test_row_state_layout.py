"""Row-state layout of the three heavy consumers (dedup, embed, audio):
each trigger writes every row-state ``batch=N`` as ONE parquet file
with no inner partition dirs, a writer refuses a dir declared under
the hash-bucketed layouts of earlier versions before it writes
anything (and ``maintain`` skips such a dir), and a state read given
its schema builds its frame without a Spark job."""

from __future__ import annotations

import glob
import os
import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

from cdc_publisher_spark.operators.multimodal import synth_media_from_text
from cdc_publisher_spark.streaming.audio_monitor import audio_dup_micro_batch
from cdc_publisher_spark.streaming.embed_monitor import embed_dup_micro_batch
from cdc_publisher_spark.streaming.incremental_dedup import dedup_micro_batch
from cdc_publisher_spark.streaming.maintenance import run_maintenance
from cdc_publisher_spark.streaming.state import (
    batch_dirs,
    compact_dir,
    compacted_upto,
    read_state,
    write_layout_marker,
)

BASE = " ".join(f"tok{i}" for i in range(30))


def _docs(spark, first_id: int = 1):
    texts = [BASE, "q " * 25, BASE + " aa", "z " * 28]
    rows = [(first_id + i, t) for i, t in enumerate(texts)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _vectors(spark):
    rng = np.random.default_rng(3)
    base = rng.standard_normal((4, 16))
    rows = [(i + 1, v.tolist()) for i, v in enumerate(base)]
    rows.append((5, (base[0] + 0.01).tolist()))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _trigger(spark, consumer: str, root: str, batch_id: int) -> None:
    d = lambda name: os.path.join(root, name)  # noqa: E731
    if consumer == "dedup":
        # fresh ids per trigger: the cross-batch guard drops redelivered ones
        docs = _docs(spark, 10 * batch_id)
        dedup_micro_batch(docs, batch_id, d("corpus"), d("idx"), d("pairs"))
    elif consumer == "embed":
        embed_dup_micro_batch(
            _vectors(spark), batch_id, d("idx"), d("vecs"), d("pairs"), threshold=0.9
        )
    else:
        audio_dup_micro_batch(
            synth_media_from_text(_docs(spark)), batch_id, d("fpk"), d("pairs")
        )


#: consumer → its row-state dirs and the marker each declared before
#: the one-file layout
OLD_MARKERS = {
    "dedup": {"corpus": "rows-dh", "idx": "rows-bhm"},
    "embed": {"idx": "rows-ebm-8x8", "vecs": "rows-vh"},
    "audio": {"fpk": "rows-fm-1024"},
}


@pytest.mark.parametrize("consumer", sorted(OLD_MARKERS))
def test_trigger_writes_one_file_per_row_state_batch(spark, tmp_path, consumer):
    root = str(tmp_path)
    for b in range(2):
        _trigger(spark, consumer, root, b)
    for name in OLD_MARKERS[consumer]:
        d = os.path.join(root, name)
        assert [k for k, _ in batch_dirs(spark, d)] == [0, 1], d
        for k in (0, 1):
            files = glob.glob(f"{d}/batch={k}/*.parquet")
            dirs_in = [f for f in glob.glob(f"{d}/batch={k}/*") if os.path.isdir(f)]
            assert len(files) == 1 and not dirs_in, (files, dirs_in)


@pytest.mark.parametrize(
    "consumer,name",
    [(c, n) for c, dirs in sorted(OLD_MARKERS.items()) for n in sorted(dirs)],
)
def test_writer_refuses_old_layout_dir_and_maintain_skips_it(
    spark, tmp_path, consumer, name
):
    root = str(tmp_path / "state")
    old = OLD_MARKERS[consumer][name]
    d = os.path.join(root, name)
    write_layout_marker(spark, d, old)
    with pytest.raises(ValueError, match=old):
        _trigger(spark, consumer, root, 0)
    written = [os.path.join(p, f) for p, _, fs in os.walk(root) for f in fs if not f.endswith(".crc")]
    assert written == [os.path.join(d, f"_layout.{old}")], written

    # old-layout data under the old marker: maintain skips the dir
    # with a note and compacts nothing
    spark.range(4).withColumn("dh", F.col("id") % 2).write.partitionBy("dh").parquet(
        os.path.join(d, "batch=0")
    )
    (plan,) = run_maintenance(spark, root, assume_all_committed=True)
    assert (plan.action, plan.kind) == ("skip", "unrecognized"), plan
    assert old in plan.note and compacted_upto(spark, d) is None


def _jobs_in_group(spark, group: str) -> int:
    """Jobs launched under ``group``; one marker job run in the group
    makes every earlier job of the group visible first (the status
    store is fed by the listener bus, in order)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "marker")
    try:
        sc.parallelize([0], 1).count()
        return len(sc.statusTracker().getJobIdsForGroup(group)) - 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_read_state_given_its_schema_builds_without_a_job(spark, tmp_path):
    """A compact segment plus live batch dirs: given the state's schema,
    building the read launches no job (no footer read for schema
    inference), and it returns the same rows as the inferred read."""
    d = str(tmp_path / "s")
    rows = spark.range(4).selectExpr("id", "CAST(id * 2 AS INT) AS v")
    for b in range(4):
        rows.coalesce(1).write.parquet(f"{d}/batch={b}")
    write_layout_marker(spark, d, "rows")
    compact_dir(spark, d, 1)
    assert compacted_upto(spark, d) == 1

    sc = spark.sparkContext
    group = f"state-{uuid.uuid4()}"
    sc.setJobGroup(group, "read_state")
    given = read_state(spark, d, exclude_batch=3, schema=rows.schema)
    assert _jobs_in_group(spark, group) == 0
    assert given.columns == ["id", "v", "batch"]
    assert sorted(map(tuple, given.collect())) == sorted(
        map(tuple, read_state(spark, d, exclude_batch=3).select("id", "v", "batch").collect())
    )
    assert sorted(r.batch for r in given.select("batch").distinct().collect()) == [0, 1, 2]
