"""Audio-dup monitor (streaming/audio_monitor.py): the eighth state
consumer. Pins the completeness theorem (every exact-dup pair emitted
exactly once, in the trigger where the LATER clip arrives — union over
any slicing equals the batch-mode same-fingerprint pair set), one
state file per trigger, replay idempotence under the overwrite
discipline, and row-state compaction (maintain recognizes the ``rows``
marker)."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from cdc_publisher_spark.operators.multimodal import synth_media_from_text
from cdc_publisher_spark.streaming.audio_monitor import (
    audio_dup_micro_batch,
    audio_fpk,
    read_audio_dups,
    read_audio_fpk_state,
)
from cdc_publisher_spark.streaming.state import (
    batch_dirs,
    compact_dir,
    compacted_upto,
    vacuum_state,
)


def _docs(spark):
    """12 clips: three exact-dup families across batches plus singles.
    Texts are the dup content; ids are unique (the dedup id contract)."""
    rows = [
        (1, "alpha beta gamma delta"),
        (2, "epsilon zeta eta theta"),
        (3, "alpha beta gamma delta"),      # dup of 1
        (4, "iota kappa lambda mu"),
        (5, "epsilon zeta eta theta"),      # dup of 2
        (6, "alpha beta gamma delta"),      # dup of 1 and 3
        (7, "nu xi omicron pi"),
        (8, "rho sigma tau upsilon"),
        (9, "nu xi omicron pi"),            # dup of 7
        (10, "phi chi psi omega"),
        (11, "rho sigma tau upsilon"),      # dup of 8
        (12, "solo one of a kind"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _media(docs):
    return synth_media_from_text(docs, id_col="doc_id", text_col="text")


def _expected_pairs(docs):
    """Batch-mode same-text pair set in (earlier, later) id order."""
    return sorted(
        tuple(p)
        for p in docs.select(F.md5("text").alias("tk"), "doc_id")
        .groupBy("tk")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (a, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), b -> "
                    "struct(a as orig_id, b as dup_id))))"
                )
            ).alias("p")
        )
        .select("p.orig_id", "p.dup_id")
        .collect()
    )


def test_audio_dup_completeness_under_any_slicing(spark, tmp_path):
    docs = _docs(spark)
    want = _expected_pairs(docs)
    # 3 from the triple family (1,3),(1,6),(3,6) + one per pair family
    assert len(want) == 6
    for n, tag in ((1, "one"), (3, "three"), (4, "four")):
        state = str(tmp_path / tag / "fpk")
        pairs = str(tmp_path / tag / "pairs")
        for b in range(n):
            batch = docs.filter(F.col("doc_id") % n == b)
            audio_dup_micro_batch(_media(batch), b, state, pairs)
        got = sorted(
            (r.orig_id, r.dup_id)
            for r in read_audio_dups(spark, pairs).collect()
        )
        # normalize to (min, max): the monitor reports (previously
        # ingested, newcomer), which under modulo slicing may arrive
        # in either id order
        got = sorted(tuple(sorted(p)) for p in got)
        assert got == sorted(tuple(sorted(p)) for p in want), (n, got)
        st = read_audio_fpk_state(spark, state)
        assert st.count() == 12 and st.select("media_id").distinct().count() == 12


def test_audio_dup_replay_and_probe_pruning(spark, tmp_path):
    docs = _docs(spark)
    state, pairs = str(tmp_path / "fpk"), str(tmp_path / "pairs")
    slices = [docs.filter(F.col("doc_id") % 3 == b) for b in range(3)]
    for b, s in enumerate(slices):
        audio_dup_micro_batch(_media(s), b, state, pairs)
    before_pairs = sorted(map(tuple, read_audio_dups(spark, pairs).collect()))
    before_state = sorted(map(tuple, read_audio_fpk_state(spark, state).collect()))
    # replay the middle trigger (crash before checkpoint commit):
    # overwrite discipline + probe's exclude_batch absorb it exactly
    audio_dup_micro_batch(_media(slices[1]), 1, state, pairs)
    assert sorted(map(tuple, read_audio_dups(spark, pairs).collect())) == before_pairs
    assert (
        sorted(map(tuple, read_audio_fpk_state(spark, state).collect()))
        == before_state
    )
    # one parquet file per batch dir, no inner partition dirs
    for k, _ in batch_dirs(spark, state):
        files = glob.glob(f"{state}/batch={k}/*.parquet")
        dirs_in = [f for f in glob.glob(f"{state}/batch={k}/*") if os.path.isdir(f)]
        assert len(files) == 1 and not dirs_in, (files, dirs_in)


def test_audio_state_compaction_and_maintain(spark, tmp_path):
    docs = _docs(spark)
    state, pairs = str(tmp_path / "fpk"), str(tmp_path / "pairs")
    for b in range(3):
        audio_dup_micro_batch(
            _media(docs.filter(F.col("doc_id") % 3 == b)), b, state, pairs
        )
    before = sorted(
        (r.media_id, r.fpk) for r in read_audio_fpk_state(spark, state).collect()
    )
    compact_dir(spark, state, 1)
    vacuum_state(spark, state)
    assert compacted_upto(spark, state) == 1
    assert all(k > 1 for k, _ in batch_dirs(spark, state))
    after = sorted(
        (r.media_id, r.fpk) for r in read_audio_fpk_state(spark, state).collect()
    )
    assert after == before
    # the compacted segment holds plain files, no inner partition dirs
    assert glob.glob(f"{state}/_compact/upto=1/*.parquet")
    assert not glob.glob(f"{state}/_compact/upto=1/*=*")
    # maintain recognizes both dirs by marker and folds the rest
    from cdc_publisher_spark.streaming.maintenance import run_maintenance

    plans = run_maintenance(
        spark, str(tmp_path), assume_all_committed=True, vacuum=True
    )
    kinds = {p.path.rsplit("/", 1)[-1]: p.kind for p in plans}
    assert kinds == {"fpk": "rows", "pairs": "rows"}, kinds
    assert compacted_upto(spark, state) == 2
    final = sorted(
        (r.media_id, r.fpk) for r in read_audio_fpk_state(spark, state).collect()
    )
    assert final == before


def test_audio_pairs_normalized_and_no_self_pairs(spark, tmp_path):
    """ADVICE r11: pair identity must be slicing-independent — the
    history leg used to emit (historical, newcomer), so ids arriving
    out of id order produced (5,3) where batch mode said (3,5) — and a
    cross-batch re-delivery of the same media_id must not emit (X,X)."""
    docs = _docs(spark)
    state, pairs = str(tmp_path / "fpk"), str(tmp_path / "pairs")
    # batch 0 carries the LATER ids, batch 1 the earlier ones: every
    # history-leg match in batch 1 sees history ids LARGER than its own
    audio_dup_micro_batch(_media(docs.filter(F.col("doc_id") > 6)), 0, state, pairs)
    audio_dup_micro_batch(_media(docs.filter(F.col("doc_id") <= 6)), 1, state, pairs)
    got = sorted(
        (r.orig_id, r.dup_id) for r in read_audio_dups(spark, pairs).collect()
    )
    assert got == _expected_pairs(docs)  # already (min, max), no re-sort
    assert all(a < b for a, b in got)
    # re-deliver id 12 (the singleton) under a NEW batch id — an
    # id-contract violation upstream; the guard must stay silent
    audio_dup_micro_batch(
        _media(docs.filter(F.col("doc_id") == 12)), 2, state, pairs
    )
    got2 = sorted(
        (r.orig_id, r.dup_id) for r in read_audio_dups(spark, pairs).collect()
    )
    assert got2 == got  # no (12, 12) self-pair


def test_audio_empty_batch_is_a_no_op(spark, tmp_path):
    """ADVICE r11: an empty trigger must not write a file-less
    batch dir — if the only live dirs are file-less, a later trigger's
    read_state fails schema inference and kills the stream."""
    docs = _docs(spark)
    state, pairs = str(tmp_path / "fpk"), str(tmp_path / "pairs")
    empty = docs.filter(F.lit(False))
    audio_dup_micro_batch(_media(empty), 0, state, pairs)
    assert not batch_dirs(spark, state) and not batch_dirs(spark, pairs)
    # the interleaving the ADVICE describes: empty trigger(s) then data
    audio_dup_micro_batch(_media(docs), 1, state, pairs)
    audio_dup_micro_batch(_media(empty), 2, state, pairs)
    assert [k for k, _ in batch_dirs(spark, state)] == [1]
    got = sorted(
        tuple(p) for p in read_audio_dups(spark, pairs).collect()
    )
    assert got == _expected_pairs(docs)


def test_audio_fpk_digest_matches_batch_query_grouping(spark):
    """audio_fpk's digest must equal for identical clips and differ
    for different ones — the property the guard's equi-join rides."""
    docs = _docs(spark)
    keyed = audio_fpk(_media(docs)).join(
        docs.select(F.col("doc_id").alias("media_id"), F.md5("text").alias("tk")),
        "media_id",
    )
    per_text = keyed.groupBy("tk").agg(F.countDistinct("fpk").alias("n"))
    assert per_text.filter(F.col("n") != 1).count() == 0
    agg = keyed.agg(
        F.countDistinct("tk").alias("t"), F.countDistinct("fpk").alias("f")
    ).first()
    assert agg.f == agg.t  # distinct texts -> distinct digests here


def test_stream_audio_dups_compacts_both_dirs(
    spark, tmp_path, drain_maintain_drain
):
    """readStream → audio_dup_micro_batch with ``maintain`` between two
    drains: the pairs equal the batch-mode set, and BOTH the fpk dir
    and the pairs dir are compacted — an uncompacted pairs dir keeps
    one ``pairs/batch=N`` dir per trigger forever."""
    docs = _docs(spark)
    root = tmp_path / "audio"
    state, pairs = str(root / "fpk"), str(root / "pairs")
    drain_maintain_drain(
        _media(docs),
        lambda df, bid: audio_dup_micro_batch(df, bid, state, pairs),
        str(root),
    )
    got = sorted(
        (r.orig_id, r.dup_id) for r in read_audio_dups(spark, pairs).collect()
    )
    assert got == _expected_pairs(docs)
    for d in (state, pairs):
        assert glob.glob(f"{d}/_compacted_upto=*"), d
