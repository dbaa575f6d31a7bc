"""Incremental embedding near-dup monitor (streaming/embed_monitor.py):
the ninth state consumer (VERDICT r11 ask #4). Pins the completeness
theorem — the union of per-batch emissions over ANY slicing equals the
batch twin ``embedding_neardup_banded`` pair set (the audio-guard
completeness contract) — plus normalized pair identity, replay
idempotence, empty-batch no-op, one index and one vector file per
trigger, compaction, and maintain recognition of the
rows-rh-<bands>x<bits> / rows markers."""

from __future__ import annotations

import glob
import os

import numpy as np
from pyspark.sql import functions as F

from cdc_publisher_spark.operators.embed_lsh import embedding_neardup_banded
from cdc_publisher_spark.streaming.embed_monitor import (
    embed_dup_micro_batch,
    read_embed_index,
    read_embed_pairs,
    read_embed_vec_state,
)
from cdc_publisher_spark.streaming.maintenance import run_maintenance
from cdc_publisher_spark.streaming.state import batch_dirs, compacted_upto

THRESHOLD = 0.9
DIM = 64


def _vectors(spark):
    """24 vectors: 18 random bases (pairwise cosine ≪ 0.9) plus 6
    planted near-dups — copies of bases 1/2/3 with small deterministic
    noise (cosine ≈ 0.99), ids interleaved so modulo slicings split
    every dup family across batches."""
    rng = np.random.default_rng(7)
    base = rng.standard_normal((18, DIM))
    rows = [(i + 1, base[i].tolist()) for i in range(18)]
    for k, (src, nid) in enumerate(
        [(0, 19), (0, 20), (1, 21), (1, 22), (2, 23), (2, 24)]
    ):
        noise = rng.standard_normal(DIM) * 0.03
        rows.append((nid, (base[src] + noise).tolist()))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _expected_pairs(vectors):
    """The batch twin: banded nominate + exact verify over the full
    corpus, in (min, max) id order."""
    return sorted(
        (r.i, r.j, r.cosine)
        for r in embedding_neardup_banded(vectors, THRESHOLD).collect()
    )


def _got_pairs(spark, pairs_dir):
    return sorted(
        (r.i, r.j, r.cosine) for r in read_embed_pairs(spark, pairs_dir).collect()
    )


def _dirs(tmp_path, tag=""):
    return [str(tmp_path / f"{tag}{d}") for d in ("idx", "vecs", "pairs")]


def test_embed_dup_completeness_under_any_slicing(spark, tmp_path):
    vecs = _vectors(spark)
    want = _expected_pairs(vecs)
    # the planted families must actually be found (sanity: non-vacuous)
    found = {(i, j) for i, j, _ in want}
    assert {(1, 19), (1, 20), (19, 20), (2, 21), (2, 22), (3, 23)} <= found
    for n, tag in ((1, "one"), (3, "three"), (4, "four")):
        dirs = _dirs(tmp_path, tag)
        for b in range(n):
            batch = vecs.filter(F.col("vec_id") % n == b)
            embed_dup_micro_batch(batch, b, *dirs, threshold=THRESHOLD)
        got = _got_pairs(spark, dirs[2])
        assert got == want, (n, got)
        st = read_embed_vec_state(spark, dirs[1])
        assert st.count() == 24 and st.select("vec_id").distinct().count() == 24
        assert all(a < b for a, b, _ in got)


def test_embed_dup_replay_and_layouts(spark, tmp_path):
    vecs = _vectors(spark)
    dirs = _dirs(tmp_path)
    slices = [vecs.filter(F.col("vec_id") % 3 == b) for b in range(3)]
    for b, s in enumerate(slices):
        embed_dup_micro_batch(s, b, *dirs, threshold=THRESHOLD)
    before_pairs = _got_pairs(spark, dirs[2])
    before_vecs = sorted(
        (r.vec_id, r.batch) for r in read_embed_vec_state(spark, dirs[1]).collect()
    )
    # replay the LAST trigger — the reachable crash shape: a batch
    # only re-delivers when its offsets never committed, so no later
    # batch can exist yet (replaying a MIDDLE batch with later state
    # on disk would legitimately re-emit its pairs against that
    # not-yet-existing-at-the-time history)
    embed_dup_micro_batch(slices[2], 2, *dirs, threshold=THRESHOLD)
    assert _got_pairs(spark, dirs[2]) == before_pairs
    assert (
        sorted(
            (r.vec_id, r.batch)
            for r in read_embed_vec_state(spark, dirs[1]).collect()
        )
        == before_vecs
    )
    # one parquet file per batch dir, no inner partition dirs
    for root in dirs[:2]:
        for k, _ in batch_dirs(spark, root):
            files = glob.glob(f"{root}/batch={k}/*.parquet")
            dirs_in = [f for f in glob.glob(f"{root}/batch={k}/*") if os.path.isdir(f)]
            assert len(files) == 1 and not dirs_in, (files, dirs_in)


def test_embed_bits_migration_mid_stream(spark, tmp_path):
    """r13 VERDICT ask #2: ``migrate_embed_layout`` makes the bits
    change EXECUTABLE — plant near-dups, ingest half the corpus at the
    default 8-bit scheme, migrate the index 8→12 bits offline, ingest
    the rest at 12 bits: the detection set is unchanged (== the batch
    twin at either scheme), the marker is replaced (scheme-versioned),
    and a stale-scheme consumer fails loudly."""
    import pytest

    from cdc_publisher_spark.streaming.embed_monitor import (
        migrate_embed_layout,
        scheme_layout,
    )
    from cdc_publisher_spark.streaming.state import read_layout_marker

    vecs = _vectors(spark)
    # the two schemes must agree on the fixture's nominate set, or the
    # "unchanged" claim would be vacuous — assert it first
    expected8 = _expected_pairs(vecs)
    expected12 = sorted(
        (r.i, r.j, r.cosine)
        for r in embedding_neardup_banded(vecs, THRESHOLD, bits=12).collect()
    )
    assert expected8 == expected12 and expected8  # non-vacuous

    dirs = _dirs(tmp_path)
    first = vecs.filter(F.col("vec_id") % 2 == 0)
    second = vecs.filter(F.col("vec_id") % 2 == 1)
    embed_dup_micro_batch(first, 0, *dirs, threshold=THRESHOLD)

    m = migrate_embed_layout(spark, dirs[0], dirs[1], bands=8, bits=12)
    assert m == 0  # the watermark is the last ingested batch
    assert read_layout_marker(spark, dirs[0]) == scheme_layout(8, 12) == "rows-rh-8x12"
    idx = read_embed_index(spark, dirs[0])
    # rebuilt signatures: every stored vector re-signed, original batch
    # ids preserved, and genuinely 12-bit (some bucket value needs >8 bits)
    assert idx.count() == first.count() * 8
    assert idx.agg(F.max("bh")).first()[0] >= 256
    assert set(r[0] for r in idx.select("batch").distinct().collect()) == {0}

    # a stale-scheme consumer (code default 8 bits) fails loudly
    with pytest.raises(ValueError, match="migrate_embed_layout"):
        embed_dup_micro_batch(second, 1, *dirs, threshold=THRESHOLD)

    embed_dup_micro_batch(second, 1, *dirs, threshold=THRESHOLD, bands=8, bits=12)
    assert _got_pairs(spark, dirs[2]) == expected8  # detections unchanged

    # idempotent: re-running the migration at the new watermark
    # re-derives the same segment and the next trigger still probes
    m2 = migrate_embed_layout(spark, dirs[0], dirs[1], bands=8, bits=12)
    assert m2 == 1
    assert _got_pairs(spark, dirs[2]) == expected8


def test_embed_empty_batch_is_a_no_op(spark, tmp_path):
    vecs = _vectors(spark)
    dirs = _dirs(tmp_path)
    empty = vecs.filter(F.lit(False))
    embed_dup_micro_batch(empty, 0, *dirs, threshold=THRESHOLD)
    assert all(not batch_dirs(spark, d) for d in dirs)
    embed_dup_micro_batch(vecs, 1, *dirs, threshold=THRESHOLD)
    embed_dup_micro_batch(empty, 2, *dirs, threshold=THRESHOLD)
    assert [k for k, _ in batch_dirs(spark, dirs[1])] == [1]
    assert _got_pairs(spark, dirs[2]) == _expected_pairs(vecs)


def test_embed_redelivered_id_is_a_no_op(spark, tmp_path):
    """Cross-batch re-delivery of the same vec_id (an upstream
    id-contract violation) must not emit a self-pair."""
    vecs = _vectors(spark)
    dirs = _dirs(tmp_path)
    embed_dup_micro_batch(vecs, 0, *dirs, threshold=THRESHOLD)
    before = _got_pairs(spark, dirs[2])
    embed_dup_micro_batch(
        vecs.filter(F.col("vec_id") == 5), 1, *dirs, threshold=THRESHOLD
    )
    assert _got_pairs(spark, dirs[2]) == before


def test_embed_compaction_and_maintain(spark, tmp_path):
    vecs = _vectors(spark)
    dirs = _dirs(tmp_path)
    for b in range(3):
        embed_dup_micro_batch(
            vecs.filter(F.col("vec_id") % 3 == b), b, *dirs, threshold=THRESHOLD
        )
    before = sorted(
        (r.vec_id, r.band, r.bh)
        for r in read_embed_index(spark, dirs[0]).collect()
    )
    run_maintenance(spark, str(tmp_path), upto_batch=1, vacuum=True)
    assert compacted_upto(spark, dirs[0]) == 1
    assert all(k > 1 for k, _ in batch_dirs(spark, dirs[0]))
    after = sorted(
        (r.vec_id, r.band, r.bh)
        for r in read_embed_index(spark, dirs[0]).collect()
    )
    assert after == before
    # the compacted segments hold plain files, no inner partition dirs
    for d in dirs[:2]:
        assert glob.glob(f"{d}/_compact/upto=1/*.parquet")
        assert not glob.glob(f"{d}/_compact/upto=1/*=*")
    # maintain recognizes the markers and folds the rest
    plans = run_maintenance(
        spark, str(tmp_path), assume_all_committed=True, vacuum=True
    )
    kinds = {p.path.rsplit("/", 1)[-1]: p.kind for p in plans}
    assert kinds == {"idx": "rows", "vecs": "rows", "pairs": "rows"}, kinds
    assert compacted_upto(spark, dirs[0]) == 2
    assert _got_pairs(spark, dirs[2]) == _expected_pairs(vecs)


def test_embed_stream_wiring_end_to_end(spark, tmp_path, drain_maintain_drain):
    """readStream → embed_dup_micro_batch with ``maintain`` between two
    drains (watermark from the stream's commits log): the merged
    detections equal the batch twin and the manifest advances."""
    vecs = _vectors(spark)
    root = tmp_path / "embed"
    dirs = _dirs(root)
    drain_maintain_drain(
        vecs,
        lambda df, bid: embed_dup_micro_batch(df, bid, *dirs, threshold=THRESHOLD),
        str(root),
    )
    assert _got_pairs(spark, dirs[2]) == _expected_pairs(vecs)
    assert compacted_upto(spark, dirs[1]) is not None


def test_embed_markers_are_versioned_even_at_code_defaults(spark, tmp_path):
    """r14 ADVICE: the code-default scheme must write the VERSIONED
    marker — mapping (RH_BANDS, RH_BITS) to a bare marker meant a
    deployment that changed the constants left both sides at the same
    marker name, reproducing the silent match-nothing mismatch."""
    from cdc_publisher_spark.streaming.embed_monitor import scheme_layout
    from cdc_publisher_spark.streaming.state import read_layout_marker

    vecs = _vectors(spark)
    dirs = _dirs(tmp_path)
    embed_dup_micro_batch(vecs, 0, *dirs, threshold=THRESHOLD)
    assert read_layout_marker(spark, dirs[0]) == scheme_layout(8, 8) == "rows-rh-8x8"


def test_embed_interrupted_migration_fails_loudly(spark, tmp_path):
    """r14 ADVICE: the transitional marker is written BEFORE the
    segment swap / manifest flip, so a crash in that window leaves
    ``rows-rh-migrating`` — which mismatches EVERY consumer scheme on
    restart — instead of new-scheme data under the old marker (which a
    restarted old-scheme consumer would pass and silently detect
    nothing). Re-running the migration recovers."""
    import pytest

    from cdc_publisher_spark.streaming import embed_monitor as em
    from cdc_publisher_spark.streaming.state import read_layout_marker

    vecs = _vectors(spark)
    dirs = _dirs(tmp_path)
    first = vecs.filter(F.col("vec_id") % 2 == 0)
    second = vecs.filter(F.col("vec_id") % 2 == 1)
    embed_dup_micro_batch(first, 0, *dirs, threshold=THRESHOLD)

    real = em.write_manifest
    try:
        def boom(*a, **k):
            raise RuntimeError("injected crash before manifest flip")

        em.write_manifest = boom
        with pytest.raises(RuntimeError, match="injected crash"):
            em.migrate_embed_layout(spark, dirs[0], dirs[1], bands=8, bits=12)
    finally:
        em.write_manifest = real

    assert read_layout_marker(spark, dirs[0]) == em.MIGRATING_MARKER
    # BOTH the old-scheme and new-scheme consumer refuse the dir
    for bands, bits in ((8, 8), (8, 12)):
        with pytest.raises(ValueError, match="INTERRUPTED"):
            embed_dup_micro_batch(
                second, 1, *dirs, threshold=THRESHOLD, bands=bands, bits=bits
            )
    # recovery: re-run the (idempotent) migration, then ingest at the
    # new scheme — detections equal the batch twin
    m = em.migrate_embed_layout(spark, dirs[0], dirs[1], bands=8, bits=12)
    assert m == 0
    assert read_layout_marker(spark, dirs[0]) == "rows-rh-8x12"
    embed_dup_micro_batch(second, 1, *dirs, threshold=THRESHOLD, bands=8, bits=12)
    assert _got_pairs(spark, dirs[2]) == _expected_pairs(vecs)
