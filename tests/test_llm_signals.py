"""Semantic tests for the round-5 corpus-signal and audit operators
(queries/llm_signals.py, queries/llm_audit.py). Cross-engine exactness
is covered by test_oracle_queries.py; these pin the *meaning* on
crafted edge cases: containment must catch the subset pair Jaccard
misses, novelty must hit 0 on a verbatim copy, entropy must hit its
closed-form extremes, kNN purity must be 1.0 on clean clusters, and
the cleaning funnel must obey its own algebra."""

from __future__ import annotations

import math
import os

import pytest

from cdc_publisher_spark.queries.llm import q_k2_jaccard_neardup
from cdc_publisher_spark.queries.llm_audit import (
    q_k73_knn_label_purity,
    q_k76_cleaning_yield,
    q_k111_knn_hubness,
    q_k112_dup_metadata_conflicts,
)
from cdc_publisher_spark.queries.llm_signals import (
    q_k67_containment_neardup,
    q_k69_ngram_novelty,
    q_k72_token_entropy,
)

_DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _write_docs(spark, d, rows):
    df = spark.createDataFrame(rows, _DOC_SCHEMA)
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(d), "documents.parquet")
    )
    return str(d)


@pytest.fixture(scope="module")
def subset_corpus_dir(spark, tmp_path_factory):
    """doc 1 is a verbatim prefix of doc 2 (one third of it): the
    classic quote/subset duplication shape."""
    short = " ".join(f"w{i}" for i in range(12))
    long = " ".join(f"w{i}" for i in range(12)) + " " + " ".join(
        f"x{i}" for i in range(24)
    )
    rows = [
        (1, short, "en", "srcA", len(short)),
        (2, long, "en", "srcB", len(long)),
    ]
    return _write_docs(spark, tmp_path_factory.mktemp("subset"), rows)


def test_containment_catches_subset_pair_jaccard_misses(spark, subset_corpus_dir):
    jac = q_k2_jaccard_neardup(spark, subset_corpus_dir).collect()
    assert jac == []  # 10 shared trigrams / 44 total < 0.5 — invisible to K-2
    cont = {
        (r.src_doc, r.dst_doc): r.containment
        for r in q_k67_containment_neardup(spark, subset_corpus_dir).collect()
    }
    # every trigram of the short doc occurs in the long one -> 1.0, one
    # direction only (the long doc is NOT contained in the short one)
    assert cont == {(1, 2): 1.0}


def test_novelty_zero_for_verbatim_copy(spark, tmp_path_factory):
    a = " ".join(f"t{i}" for i in range(10))
    half_new = " ".join(f"t{i}" for i in range(5, 15))  # 8 grams: 3 old, 5 new
    rows = [
        (1, a, "en", "s", len(a)),
        (2, a, "en", "s", len(a)),  # verbatim copy, later doc_id
        (3, half_new, "en", "s", len(half_new)),
    ]
    d = _write_docs(spark, tmp_path_factory.mktemp("novel"), rows)
    out = {r.doc_id: r for r in q_k69_ngram_novelty(spark, d).collect()}
    assert out[1].novelty == 1.0  # first doc: everything first-seen
    assert out[2].novelty == 0.0  # copy: nothing first-seen here
    assert out[2].n_grams == out[1].n_grams
    # doc 3: grams t5..t12-start = 8 distinct trigrams, 3 overlap doc 1
    assert out[3].n_novel == 5 and out[3].n_grams == 8


def test_token_entropy_closed_form_extremes(spark, tmp_path_factory):
    uniform = " ".join(f"u{i}" for i in range(16))  # 16 distinct, once each
    constant = " ".join(["same"] * 16)
    rows = [
        (1, uniform, "en", "s", len(uniform)),
        (2, constant, "en", "s", len(constant)),
    ]
    d = _write_docs(spark, tmp_path_factory.mktemp("entropy"), rows)
    out = {r.doc_id: r.entropy for r in q_k72_token_entropy(spark, d).collect()}
    assert out[1] == pytest.approx(math.log(16), abs=1e-3)  # nats, uniform max
    assert out[2] == pytest.approx(0.0, abs=1e-9)


def test_knn_purity_is_one_on_clean_clusters(spark, tmp_path_factory):
    """3 tight clusters of 6 on orthogonal axes: every probe's 5 nearest
    neighbors share its label."""
    import numpy as np

    rng = np.random.RandomState(7)
    rows = []
    vid = 0
    for lbl, axis in ((0, 0), (1, 21), (2, 42)):
        for _ in range(6):
            v = np.zeros(64, dtype=np.float64)
            v[axis : axis + 3] = 1.0
            v += rng.uniform(-0.01, 0.01, 64)
            rows.append((vid, [float(x) for x in v], lbl))
            vid += 1
    d = tmp_path_factory.mktemp("knn")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(d), "embeddings.parquet")
    )
    out = q_k73_knn_label_purity(spark, str(d)).collect()
    assert {r.label for r in out} == {0, 1, 2}
    for r in out:
        assert r.n_probes == 6  # KNN_PROBES=100 > corpus: all probed
        assert r.purity == 1.0


def test_cleaning_yield_funnel_algebra(spark, tmp_path_factory):
    """Exact duplicate across sources: only the lower doc_id survives
    dedup, and the funnel's counters obey n_surviving <= min(unique,
    quality) and tok_surviving <= tok_total."""
    good = " ".join(
        ["the a of and to"]
        + [f"word{i:02d}" for i in range(55)]
    )  # 60 words, mwl ~5.6, 60 distinct, passes every Gopher screen
    rows = [
        (1, good, "en", "srcA", len(good)),
        (2, good, "en", "srcB", len(good)),  # exact dup, different source
        (3, "tiny doc", "en", "srcB", 8),  # fails the word-count screen
    ]
    d = _write_docs(spark, tmp_path_factory.mktemp("yield"), rows)
    out = {r.source: r for r in q_k76_cleaning_yield(spark, d).collect()}
    a, b = out["srcA"], out["srcB"]
    assert (a.n_docs, a.n_exact_unique, a.n_quality_keep, a.n_surviving) == (1, 1, 1, 1)
    # srcB: doc 2 is a non-first copy (dropped by dedup), doc 3 fails quality
    assert (b.n_docs, b.n_exact_unique, b.n_quality_keep, b.n_surviving) == (2, 1, 1, 0)
    for r in out.values():
        assert r.n_surviving <= min(r.n_exact_unique, r.n_quality_keep)
        assert r.tok_surviving <= r.tok_total


def test_rule_attribution_sole_blocker_accounting(spark, tmp_path_factory):
    from cdc_publisher_spark.queries.llm_audit import q_k77_rule_attribution

    good = " ".join(["the a of and to"] + [f"word{i:02d}" for i in range(55)])
    only_wc = "the a " + " ".join(f"word{i:02d}" for i in range(18))  # 20 words
    all_bad = " ".join(["z"] * 10)  # fails every screen at once
    rows = [
        (1, good, "en", "s", len(good)),
        (2, only_wc, "en", "s", len(only_wc)),
        (3, all_bad, "en", "s", len(all_bad)),
    ]
    d = _write_docs(spark, tmp_path_factory.mktemp("attr"), rows)
    out = {r.rule: r for r in q_k77_rule_attribution(spark, d).collect()}
    assert set(out) == {"wc_ok", "mwl_ok", "stop_ok", "ttr_ok", "rep_ok"}
    assert (out["wc_ok"].n_fail, out["wc_ok"].n_sole_blocker) == (2, 1)
    for r in ("mwl_ok", "stop_ok", "ttr_ok", "rep_ok"):
        assert (out[r].n_fail, out[r].n_sole_blocker) == (1, 0), r


def test_token_budget_waterfill_exact_allocation(spark, tmp_path_factory):
    from cdc_publisher_spark.queries.llm_audit import q_k78_token_budget_allocation

    rows = [
        (1, " ".join(f"a{i}" for i in range(10)), "en", "tiny", 40),
        (2, " ".join(f"b{i}" for i in range(50)), "en", "small", 200),
    ]
    # one huge source: 10 docs x 1000 tokens
    for j in range(10):
        rows.append((10 + j, " ".join(f"c{j}_{i}" for i in range(1000)), "en", "huge", 5000))
    d = _write_docs(spark, tmp_path_factory.mktemp("budget"), rows)
    out = {r.source: r for r in q_k78_token_budget_allocation(spark, d).collect()}
    tot = 10 + 50 + 10_000
    budget = tot * 2 // 5  # 4024
    # small sources fully served; the huge one absorbs the remainder
    assert (out["tiny"].alloc_tok, out["tiny"].capped) == (10, True)
    assert (out["small"].alloc_tok, out["small"].capped) == (50, True)
    assert (out["huge"].alloc_tok, out["huge"].capped) == (budget - 60, False)
    assert sum(r.alloc_tok for r in out.values()) == budget
    assert all(r.alloc_tok <= r.avail_tok for r in out.values())


def test_incremental_lsh_neardup_scopes_to_new_batch(spark, tmp_path_factory):
    """Pairs touching the new batch appear (history-vs-new AND
    within-batch); history-vs-history pairs are never emitted."""
    from cdc_publisher_spark.operators.minhash import incremental_near_duplicates

    base = " ".join(f"tok{i}" for i in range(30))
    variant = " ".join(f"tok{i}" for i in range(28)) + " zz yy"
    rows = [
        (1, base, "en", "s", len(base)),        # history
        (2, variant, "en", "s", len(variant)),  # history, near-dup of 1
        (500, base, "en", "s", len(base)),      # new, dup of history 1
        (501, base + " aa", "en", "s", 5),      # new, near-dup of 500
        (502, " ".join(f"other{i}" for i in range(30)), "en", "s", 5),  # new, unique
    ]
    d = _write_docs(spark, tmp_path_factory.mktemp("incr"), rows)
    from pyspark.sql import functions as F

    docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
    new_ids = docs.filter(F.col("doc_id") >= 500).select("doc_id")
    got = {(r.d1, r.d2) for r in incremental_near_duplicates(docs, new_ids).collect()}
    assert (1, 2) not in got          # history-vs-history never recomputed
    assert (1, 500) in got            # history-vs-new
    assert (2, 500) in got            # history-vs-new (transitive variant)
    assert (500, 501) in got          # within-batch
    assert all(a >= 500 or b >= 500 for a, b in got)


def test_stream_neardup_union_equals_batch(spark, tmp_path):
    """Streaming incremental dedup: the union of per-batch pair
    emissions over a 3-batch split equals the full-corpus batch result,
    and every pair is emitted exactly once (in the later doc's batch)."""
    import json as _json

    from cdc_publisher_spark.operators.minhash import minhash_near_duplicates
    from cdc_publisher_spark.streaming.incremental_dedup import dedup_micro_batch
    from cdc_publisher_spark.streaming.state import start_state_stream

    base = " ".join(f"tok{i}" for i in range(30))
    other = " ".join(f"oth{i}" for i in range(30))
    docs = [
        (1, base), (2, other),                    # batch 1
        (3, base + " aa"), (4, " ".join(f"x{i}" for i in range(30))),  # batch 2
        (5, base), (6, other + " bb zz"),         # batch 3
    ]
    src = tmp_path / "src"
    src.mkdir()
    for fi, chunk in enumerate([docs[0:2], docs[2:4], docs[4:6]]):
        (src / f"{fi}.jsonl").write_text(
            "\n".join(_json.dumps({"doc_id": i, "text": t}) for i, t in chunk)
        )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    corpus_dir = str(tmp_path / "corpus")
    index_dir = str(tmp_path / "lsh_index")
    pairs_dir = str(tmp_path / "pairs")
    q = start_state_stream(
        stream,
        str(tmp_path / "ckpt"),
        lambda df, bid: dedup_micro_batch(df, bid, corpus_dir, index_dir, pairs_dir),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = spark.read.parquet(pairs_dir)
    got = {(r.d1, r.d2): r.jaccard for r in streamed.collect()}
    # exactly-once: no (d1, d2) appears under two batch_ids
    assert streamed.count() == len(got)
    full = spark.createDataFrame(docs, "doc_id long, text string")
    want = {
        (r.d1, r.d2): r.jaccard for r in minhash_near_duplicates(full).collect()
    }
    assert got == want
    assert (1, 5) in got and (1, 3) in got  # cross-batch dups found
    # the persisted LSH index accumulated one bucket-row set per doc
    idx = spark.read.parquet(str(tmp_path / "lsh_index"))
    assert idx.select("doc_id").distinct().count() == len(docs)


def test_stream_neardup_resumes_from_checkpoint(spark, tmp_path):
    """Stop the dedup stream, add data, restart with the same
    checkpoint + state dirs: no re-emission of earlier batches' pairs,
    and the final union still equals the batch result."""
    import json as _json

    from cdc_publisher_spark.operators.minhash import minhash_near_duplicates
    from cdc_publisher_spark.streaming.incremental_dedup import dedup_micro_batch
    from cdc_publisher_spark.streaming.state import start_state_stream

    base = " ".join(f"tok{i}" for i in range(30))
    first = [(1, base), (2, " ".join(f"o{i}" for i in range(30)))]
    later = [(3, base + " aa"), (4, base)]
    src = tmp_path / "src"
    src.mkdir()
    (src / "0.jsonl").write_text(
        "\n".join(_json.dumps({"doc_id": i, "text": t}) for i, t in first)
    )

    def run_once():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        dirs = [str(tmp_path / d) for d in ("corpus", "idx", "pairs")]
        q = start_state_stream(
            stream,
            str(tmp_path / "ckpt"),
            lambda df, bid: dedup_micro_batch(df, bid, *dirs),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()  # first session: only batch 0 exists, no pairs yet
    (src / "1.jsonl").write_text(
        "\n".join(_json.dumps({"doc_id": i, "text": t}) for i, t in later)
    )
    run_once()  # second session resumes from the checkpoint
    streamed = spark.read.parquet(str(tmp_path / "pairs"))
    got = {(r.d1, r.d2): r.jaccard for r in streamed.collect()}
    assert streamed.count() == len(got)  # batch 0 was not re-processed
    full = spark.createDataFrame(first + later, "doc_id long, text string")
    want = {
        (r.d1, r.d2): r.jaccard for r in minhash_near_duplicates(full).collect()
    }
    assert got == want
    # the restarted session saw the first session's index state
    idx = spark.read.parquet(str(tmp_path / "idx"))
    assert idx.select("doc_id").distinct().count() == 4


def test_budget_sample_respects_allocation(spark, tmp_path_factory):
    """Per-source sampled tokens never exceed the q_k78 allocation and
    undershoot by at most one document's tokens."""
    from cdc_publisher_spark.queries.llm_audit import (
        q_k78_token_budget_allocation,
        q_k80_budget_enforced_sample,
    )

    rows = []
    did = 0
    for src, n_docs, tok_per in (("tiny", 2, 5), ("mid", 6, 50), ("huge", 12, 500)):
        for _ in range(n_docs):
            rows.append((did, " ".join(f"{src}{did}_{i}" for i in range(tok_per)), "en", src, 0))
            did += 1
    d = _write_docs(spark, tmp_path_factory.mktemp("bsample"), rows)
    alloc = {r.source: r.alloc_tok for r in q_k78_token_budget_allocation(spark, d).collect()}
    sample = q_k80_budget_enforced_sample(spark, d).collect()
    by_src = {}
    max_doc = {}
    for r in sample:
        by_src[r.source] = by_src.get(r.source, 0) + r.n_tok
        max_doc[r.source] = max(max_doc.get(r.source, 0), r.n_tok)
    for src, a in alloc.items():
        got = by_src.get(src, 0)
        assert got <= a, (src, got, a)
        # greedy prefix: adding one more doc would overshoot (or the
        # source is exhausted)
        total_avail = sum(tok for s2, n2, tok in (("tiny",2,5),("mid",6,50),("huge",12,500)) if s2 == src for _ in range(n2))
        if got < a:
            assert a - got < 500 or got == total_avail


def test_dedup_micro_batch_replay_is_idempotent(spark, tmp_path):
    """Re-delivering a batch (foreachBatch at-least-once) rewrites its
    own state partitions instead of appending duplicates, and emits the
    same pairs."""
    from cdc_publisher_spark.streaming.incremental_dedup import dedup_micro_batch

    base = " ".join(f"tok{i}" for i in range(30))
    b0 = spark.createDataFrame([(1, base), (2, "q " * 25)], "doc_id long, text string")
    b1 = spark.createDataFrame([(3, base + " aa")], "doc_id long, text string")
    dirs = [str(tmp_path / d) for d in ("corpus", "idx", "pairs")]
    dedup_micro_batch(b0, 0, *dirs)
    dedup_micro_batch(b1, 1, *dirs)
    first = sorted(
        (r.d1, r.d2, r.jaccard) for r in spark.read.parquet(dirs[2]).collect()
    )
    # replay batch 1 (crash-after-writes scenario): state must not grow
    dedup_micro_batch(b1, 1, *dirs)
    corpus = spark.read.parquet(dirs[0])
    assert corpus.count() == 3  # no duplicated doc rows
    assert corpus.select("doc_id").distinct().count() == 3
    replayed = sorted(
        (r.d1, r.d2, r.jaccard) for r in spark.read.parquet(dirs[2]).collect()
    )
    assert replayed == first == [(1, 3, 1.0)] or (replayed == first and first)
    idx = spark.read.parquet(dirs[1])
    assert idx.count() == 3 * 16  # one bucket row set per doc, no dups


def test_dedup_probe_reads_one_file_per_history_batch(spark, tmp_path):
    """Each index ``batch=N`` is one parquet file with no inner
    partition dirs, so after 5 triggers the probe's history read scans
    exactly one file per history batch — and the streamed pair set
    equals the one-shot run over the same documents (a near-dup family
    spread over all 5 batches keeps it non-vacuous)."""
    import glob

    from pyspark.sql import functions as F

    from cdc_publisher_spark.operators.minhash import lsh_buckets, minhash_signatures
    from cdc_publisher_spark.plans import scan_file_counts
    from cdc_publisher_spark.streaming import incremental_dedup as inc
    from cdc_publisher_spark.streaming.state import read_state

    family = " ".join(f"fam{j}" for j in range(30))
    rows = [
        (b * 100 + i, f"{family} x{b}" if i == 0 else " ".join(f"w{b}_{i}_{j}" for j in range(30)))
        for b in range(5)
        for i in range(8)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    dirs = [str(tmp_path / d) for d in ("corpus", "idx", "pairs")]
    for b in range(5):
        inc.dedup_micro_batch(docs.filter(F.floor(F.col("doc_id") / 100) == b), b, *dirs)

    for b in range(5):
        files = glob.glob(f"{dirs[1]}/batch={b}/*.parquet")
        dirs_in = [f for f in glob.glob(f"{dirs[1]}/batch={b}/*") if os.path.isdir(f)]
        assert len(files) == 1 and not dirs_in, (files, dirs_in)
    schema = lsh_buckets(minhash_signatures(docs)).schema
    assert scan_file_counts(read_state(spark, dirs[1], schema=schema)) == [5]

    def pairs(d):
        return sorted(map(tuple, inc.read_dedup_state(spark, d).select("d1", "d2", "jaccard").collect()))

    twin = [str(tmp_path / "twin" / d) for d in ("corpus", "idx", "pairs")]
    inc.dedup_micro_batch(docs, 0, *twin)
    got = pairs(dirs[2])
    assert got == pairs(twin[2]) and len(got) == 10, got


def test_dedup_state_compaction_preserves_pairs_and_vacuums(spark, tmp_path):
    """Compaction interleaved with processing and replay: the unified
    pair set never changes, batch dirs at or below the watermark are
    vacuumed, a post-compaction batch probes compact + live state, and
    a replayed pre-watermark batch is invisible to readers."""
    from cdc_publisher_spark.operators.minhash import minhash_near_duplicates
    from cdc_publisher_spark.streaming.incremental_dedup import (
        dedup_micro_batch,
        read_dedup_state,
    )
    from cdc_publisher_spark.streaming.maintenance import run_maintenance
    from cdc_publisher_spark.streaming.state import batch_dirs, vacuum_state

    base = " ".join(f"tok{i}" for i in range(30))
    batches = {
        0: [(1, base), (2, "q " * 25)],
        1: [(3, base + " aa")],
        2: [(4, " ".join(f"z{i}" for i in range(30)))],
        3: [(5, base)],
    }
    dirs = [str(tmp_path / d) for d in ("corpus", "idx", "pairs")]
    for b, rows in batches.items():
        dedup_micro_batch(
            spark.createDataFrame(rows, "doc_id long, text string"), b, *dirs
        )
    before = {
        (r.d1, r.d2, r.jaccard) for r in read_dedup_state(spark, dirs[2]).collect()
    }

    # vacuum is opt-in (ADVICE r6): without it the superseded batch
    # dirs survive; an explicit vacuum deletes them
    run_maintenance(spark, str(tmp_path), upto_batch=2)
    assert any(k <= 2 for k, _ in batch_dirs(spark, dirs[0]))  # kept by default
    for d in dirs:
        assert vacuum_state(spark, d) > 0, d
        assert all(k > 2 for k, _ in batch_dirs(spark, d)), d  # vacuumed
    after = {
        (r.d1, r.d2, r.jaccard) for r in read_dedup_state(spark, dirs[2]).collect()
    }
    assert after == before

    # replay batch 1 post-compaction: its rewritten batch dir is below
    # the watermark, so readers ignore it — state unchanged
    dedup_micro_batch(
        spark.createDataFrame(batches[1], "doc_id long, text string"), 1, *dirs
    )
    corpus = read_dedup_state(spark, dirs[0])
    assert corpus.select("doc_id").distinct().count() == 5
    assert corpus.count() == 5

    # new batch after compaction: probes compact index + live dirs
    dedup_micro_batch(
        spark.createDataFrame([(6, base + " cc")], "doc_id long, text string"),
        4,
        *dirs,
    )
    got = {
        (r.d1, r.d2): r.jaccard for r in read_dedup_state(spark, dirs[2]).collect()
    }
    all_docs = [r for rows in batches.values() for r in rows] + [(6, base + " cc")]
    full = spark.createDataFrame(all_docs, "doc_id long, text string")
    want = {(r.d1, r.d2): r.jaccard for r in minhash_near_duplicates(full).collect()}
    assert got == want

    # compaction is idempotent and can advance
    run_maintenance(spark, str(tmp_path), upto_batch=4)
    final = {
        (r.d1, r.d2): r.jaccard for r in read_dedup_state(spark, dirs[2]).collect()
    }
    assert final == want


def test_dedup_cross_batch_guard_drops_redelivered_ids(spark, tmp_path):
    """The cross-batch guard: a doc_id re-delivered under a DIFFERENT
    batch id (at-least-once across batch boundaries) is anti-joined
    away instead of accumulating a duplicate corpus row."""
    from cdc_publisher_spark.streaming.incremental_dedup import (
        dedup_micro_batch,
        read_dedup_state,
    )

    base = " ".join(f"tok{i}" for i in range(30))
    dirs = [str(tmp_path / d) for d in ("corpus", "idx", "pairs")]
    b0 = spark.createDataFrame([(1, base), (2, "q " * 25)], "doc_id long, text string")
    dedup_micro_batch(b0, 0, *dirs)
    # batch 5 re-delivers doc 1 (same payload, new batch id) + a new doc
    b5 = spark.createDataFrame(
        [(1, base), (7, base + " aa")], "doc_id long, text string"
    )
    dedup_micro_batch(b5, 5, *dirs)
    corpus = read_dedup_state(spark, dirs[0])
    assert corpus.count() == 3
    assert corpus.select("doc_id").distinct().count() == 3
    pairs = {(r.d1, r.d2) for r in read_dedup_state(spark, dirs[2]).collect()}
    assert pairs == {(1, 7)}  # no self-pair from the redelivered copy


def test_dedup_compact_rerun_after_partial_crash_converges(spark, tmp_path):
    """Crash-recovery: a ``maintain`` pass dies after compacting only
    the corpus dir (index/pairs still uncompacted). A re-run at the
    SAME watermark must skip the already-flipped dir (re-writing it
    would read from the path being overwritten) and finish the rest;
    the unified views never change."""
    from cdc_publisher_spark.streaming.incremental_dedup import (
        dedup_micro_batch,
        read_dedup_state,
    )
    from cdc_publisher_spark.streaming.maintenance import run_maintenance
    from cdc_publisher_spark.streaming.state import (
        compact_state,
        compacted_upto as _compacted_upto,
    )

    base = " ".join(f"tok{i}" for i in range(30))
    dirs = [str(tmp_path / d) for d in ("corpus", "idx", "pairs")]
    for b, rows in enumerate(
        [[(1, base), (2, "q " * 25)], [(3, base + " aa")], [(4, "z " * 28)]]
    ):
        dedup_micro_batch(
            spark.createDataFrame(rows, "doc_id long, text string"), b, *dirs
        )
    before = {
        d: sorted(map(tuple, read_dedup_state(spark, d).collect())) for d in dirs
    }

    # simulated crash: only the corpus dir compacted + flipped
    compact_state(spark, dirs[0], upto_batch=1)
    assert _compacted_upto(spark, dirs[0]) == 1
    assert _compacted_upto(spark, dirs[1]) is None

    # recovery re-run at the same watermark: must not raise
    run_maintenance(spark, str(tmp_path), upto_batch=1)
    for d in dirs:
        assert _compacted_upto(spark, d) == 1
        assert sorted(map(tuple, read_dedup_state(spark, d).collect())) == before[d]

    # manifest markers are monotonic: advancing leaves exactly one
    run_maintenance(spark, str(tmp_path), upto_batch=2)
    import glob

    for d in dirs:
        assert _compacted_upto(spark, d) == 2
        assert len(glob.glob(f"{d}/_compacted_upto=*")) == 1
        assert sorted(map(tuple, read_dedup_state(spark, d).collect())) == before[d]


def test_cross_batch_guard_is_default_on(spark, tmp_path):
    """VERDICT r6 ask #1: the guard no longer needs opting into — a
    doc_id re-delivered under a new batch id is dropped by default."""
    from cdc_publisher_spark.streaming.incremental_dedup import (
        dedup_micro_batch,
        read_dedup_state,
    )

    base = " ".join(f"tok{i}" for i in range(30))
    dirs = [str(tmp_path / d) for d in ("corpus", "idx", "pairs")]
    b0 = spark.createDataFrame([(1, base), (2, "q " * 25)], "doc_id long, text string")
    dedup_micro_batch(b0, 0, *dirs)  # no guard flag anywhere
    b5 = spark.createDataFrame(
        [(1, base), (7, base + " aa")], "doc_id long, text string"
    )
    dedup_micro_batch(b5, 5, *dirs)
    corpus = read_dedup_state(spark, dirs[0])
    assert corpus.count() == 3
    assert corpus.select("doc_id").distinct().count() == 3
    pairs = {(r.d1, r.d2) for r in read_dedup_state(spark, dirs[2]).collect()}
    assert pairs == {(1, 7)}
    # the corpus dir is the guard's only state: no sibling dir appears
    assert sorted(os.listdir(tmp_path)) == ["corpus", "idx", "pairs"]


def test_guard_exact_antijoin_sees_only_bloom_positive_remainder(spark, tmp_path):
    """The guard is one exact anti-join against the history id column:
    end to end through ``dedup_micro_batch``, redelivered history ids
    are dropped (their first-delivered text stays) and fresh ids are
    kept, both before and after ``maintain`` folds the history into
    its compact segment."""
    from cdc_publisher_spark.streaming import incremental_dedup as inc
    from cdc_publisher_spark.streaming.maintenance import run_maintenance
    from cdc_publisher_spark.streaming.state import compacted_upto

    dirs = [str(tmp_path / d) for d in ("corpus", "idx", "pairs")]
    text = lambda b, i: " ".join(f"w{b}_{i}_{j}" for j in range(30))
    for b in range(2):
        rows = [(b * 10 + i, text(b, i)) for i in range(1, 6)]
        inc.dedup_micro_batch(
            spark.createDataFrame(rows, "doc_id long, text string"), b, *dirs
        )
    history = {b * 10 + i: text(b, i) for b in range(2) for i in range(1, 6)}

    def trigger(batch_id: int, redelivered: set[int], fresh: set[int]) -> None:
        batch = spark.createDataFrame(
            [(i, text(batch_id, i)) for i in sorted(redelivered | fresh)],
            "doc_id long, text string",
        )
        inc.dedup_micro_batch(batch, batch_id, *dirs)
        for i in fresh:
            history[i] = text(batch_id, i)
        rows = inc.read_dedup_state(spark, dirs[0]).collect()
        assert len(rows) == len(history)
        assert {r.doc_id: r.text for r in rows} == history

    trigger(9, {3, 12}, {100, 101, 102, 103})
    run_maintenance(spark, str(tmp_path), upto_batch=9)
    assert compacted_upto(spark, dirs[0]) == 9
    # against the compact segment: batch 9's fresh ids are history now
    trigger(10, {3, 12, 101}, {200, 201})


def test_vacuum_grace_margin_keeps_recent_superseded_dirs(spark, tmp_path):
    """state.vacuum_state(grace_batches=N) retains the newest N
    superseded batch dirs so an unsynchronized in-flight reader can
    finish (ADVICE r6); a later full vacuum reclaims them."""
    from cdc_publisher_spark.streaming.state import (
        batch_dirs,
        compact_state,
        read_state,
        vacuum_state,
    )

    state = str(tmp_path / "s")
    for b in range(4):
        spark.createDataFrame([(b, b * 10)], "batch_ignored int, v int").drop(
            "batch_ignored"
        ).write.mode("overwrite").parquet(os.path.join(state, f"batch={b}"))
    before = sorted(r.v for r in read_state(spark, state).collect())
    compact_state(spark, state, upto_batch=2)
    # a margin wider than the 3 superseded dirs keeps all of them
    assert vacuum_state(spark, state, grace_batches=4) == 0
    assert [k for k, _ in batch_dirs(spark, state)] == [0, 1, 2, 3]
    with pytest.raises(ValueError):
        vacuum_state(spark, state, grace_batches=-1)
    removed = vacuum_state(spark, state, grace_batches=1)
    assert removed == 2  # batches 0,1 gone; batch 2 kept as grace
    assert [k for k, _ in batch_dirs(spark, state)] == [2, 3]
    assert sorted(r.v for r in read_state(spark, state).collect()) == before
    assert vacuum_state(spark, state) == 1  # full vacuum reclaims batch 2
    assert [k for k, _ in batch_dirs(spark, state)] == [3]
    assert sorted(r.v for r in read_state(spark, state).collect()) == before


def test_in_stream_compaction_bounds_dedup_state(spark, tmp_path):
    """``maintain`` between every second trigger folds the three dedup
    state dirs: results stay identical to an uncompacted twin run, the
    manifest advances, and a grace margin prunes superseded batch dirs
    while keeping the margin."""
    from cdc_publisher_spark.streaming import incremental_dedup as inc
    from cdc_publisher_spark.streaming.maintenance import run_maintenance
    from cdc_publisher_spark.streaming.state import batch_dirs, compacted_upto

    base = " ".join(f"tok{i}" for i in range(30))
    batches = [
        [(1, base), (2, "q " * 25)],
        [(3, base + " aa")],
        [(4, "z " * 28)],
        [(5, base + " bb"), (6, "y " * 26)],
    ]
    plain = [str(tmp_path / "p" / d) for d in ("corpus", "idx", "pairs")]
    auto = [str(tmp_path / "a" / d) for d in ("corpus", "idx", "pairs")]
    for b, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        inc.dedup_micro_batch(df, b, *plain)
        inc.dedup_micro_batch(df, b, *auto)
        if b % 2 == 1:
            run_maintenance(
                spark, str(tmp_path / "a"), upto_batch=b - 1, vacuum=True,
                grace_batches=1,
            )

    for dp, da in zip(plain, auto):
        want = sorted(map(tuple, inc.read_dedup_state(spark, dp).collect()))
        got = sorted(map(tuple, inc.read_dedup_state(spark, da).collect()))
        assert got == want, da
    # compactions fired at batches 1 and 3, folding COMMITTED batches
    # only (watermark = batch_id - 1, ADVICE r8): 0 then ≤ 2
    for d in auto:
        assert compacted_upto(spark, d) == 2, d
    for d in plain:
        assert compacted_upto(spark, d) is None, d
    # graced vacuum: at most the margin's worth of superseded dirs left
    for d in auto:
        superseded = [k for k, _ in batch_dirs(spark, d) if k <= 2]
        assert len(superseded) <= 1, (d, superseded)


def test_replay_after_in_stream_compact_keeps_guard_live(spark, tmp_path):
    """ADVICE r8 (medium): a crash BETWEEN a ``maintain`` pass and the
    checkpoint commit replays the trigger against the compacted
    state. A watermark equal to the replayed batch id would fold the
    in-flight batch into the compact segment, where the reader's
    ``exclude_batch`` row-filter is the only thing between the replay
    and its own rows. The committed-only watermark (batch_id - 1) must
    keep the guard live: after the compaction that batch B's trigger
    ran, the corpus history a REPLAY of batch B anti-joins against
    still holds every pre-B history id, and the replayed micro-batch
    leaves state identical to the crash-free run."""
    from cdc_publisher_spark.streaming import incremental_dedup as inc
    from cdc_publisher_spark.streaming.maintenance import run_maintenance
    from cdc_publisher_spark.streaming.state import compacted_upto, read_state

    dirs = [str(tmp_path / d) for d in ("corpus", "idx", "pairs")]
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")

    def trigger(df, b):
        # every third trigger, maintain folds the committed batches
        inc.dedup_micro_batch(df, b, *dirs)
        if (b + 1) % 3 == 0:
            run_maintenance(spark, str(tmp_path), upto_batch=b - 1)

    history = [
        (b, [(b * 10 + i, " ".join(f"w{b}_{i}_{j}" for j in range(30)))
             for i in range(1, 4)])
        for b in range(2)
    ]
    for b, rows in history:
        trigger(mk(rows), b)
    history_ids = {i for _, rows in history for i, _ in rows}

    # batch 2's trigger: writes + maintain fire ((2+1) % 3 == 0),
    # then "crash" before the checkpoint commit
    b2 = [(100, "fresh " * 30), (101, "fresh2 " * 30)]
    trigger(mk(b2), 2)
    assert compacted_upto(spark, dirs[0]) == 1  # committed-only watermark

    # the replay's guard view: the history it anti-joins against
    redelivered = mk([(1, "legacy again"), (11, "legacy again")] + b2)
    seen = read_state(
        spark, dirs[0], exclude_batch=2, schema=redelivered.schema
    ).select("doc_id")
    m = {r.doc_id for r in seen.collect()}
    assert m == history_ids, (m, "compacted history erased by exclude_batch")
    s = {r.doc_id for r in redelivered.join(seen, "doc_id", "left_anti").collect()}
    assert s == {100, 101}

    # full replayed trigger (same df, same batch id): state converges to
    # exactly the crash-free outcome, duplicates guarded out
    trigger(redelivered, 2)
    corpus = inc.read_dedup_state(spark, dirs[0])
    got = sorted(r.doc_id for r in corpus.select("doc_id").collect())
    assert got == sorted(history_ids | {100, 101})
    # idempotent: the second compaction attempt at the same watermark
    # was a no-op, not an error
    assert compacted_upto(spark, dirs[0]) == 1


def test_bloom_flag_null_id_passes_through_clean(spark, tmp_path):
    """ADVICE r8 (low): a NULL id never matches an equi-join key, so
    the guard's anti-join keeps a NULL-id row — it passes through as
    new instead of silently vanishing from the batch (and hence from
    corpus/pairs output)."""
    from cdc_publisher_spark.streaming import incremental_dedup as inc

    batch = spark.createDataFrame(
        [(7, "seen before"), (None, "null id doc"), (9, "fresh")],
        "doc_id long, text string",
    )
    # end-to-end: a guarded micro-batch keeps the NULL-id document
    dirs = [str(tmp_path / d) for d in ("corpus", "idx", "pairs")]
    inc.dedup_micro_batch(
        spark.createDataFrame([(1, "w " * 30)], "doc_id long, text string"),
        0, *dirs,
    )
    inc.dedup_micro_batch(batch, 1, *dirs)
    corpus = inc.read_dedup_state(spark, dirs[0])
    got = {r.doc_id for r in corpus.select("doc_id").collect()}
    assert got == {1, 7, 9, None}


def test_knn_hubness_histogram_exact_on_hub_construction(spark, tmp_path_factory):
    """One deliberate hub (the all-ones vector) among 11 orthogonal
    one-hot vectors, corpus smaller than KNN_PROBES so every vector
    probes. All cosines are exact doubles (1/sqrt(11) for hub-axis, 0
    for axis-axis), so the cand_id tiebreak makes every top-5 list
    hand-computable: the hub sits in all 11 axis probes' lists
    (k_occ=11), the cand_id tiebreak hands e1..e4 a seat in every
    other probe's list (k_occ=11), e5 only where no smaller id was
    evicted (k_occ=5), and e6..e11 never appear (k_occ=0)."""
    dim = 11
    rows = [(0, [1.0] * dim, 0)]  # hub
    for i in range(1, 12):
        v = [0.0] * dim
        v[i - 1] = 1.0
        rows.append((i, v, 0))
    d = tmp_path_factory.mktemp("hub")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(d), "embeddings.parquet")
    )
    got = {r.k_occ: r.n_vectors for r in q_k111_knn_hubness(spark, str(d)).collect()}
    assert got == {0: 6, 5: 1, 11: 5}
    # occupancy conservation: 12 probes x 5 seats
    assert sum(k * n for k, n in got.items()) == 60


def test_dup_metadata_conflicts_flags_only_conflicted_clusters(
    spark, tmp_path_factory
):
    """Same bag-of-words under two langs -> conflicted; an exact dup
    pair agreeing on lang AND source -> a dup cluster but NOT a
    conflict; a unique doc -> no cluster at all. Word-order shuffling
    must not split the cluster (set fingerprint, not text hash)."""
    rows = [
        (1, "alpha beta gamma", "en", "web", 16),
        (2, "gamma alpha beta", "fr", "web", 16),  # same set, lang conflict
        (3, "delta epsilon", "en", "web", 13),
        (4, "delta epsilon", "en", "web", 13),  # dup, zero conflicts
        (5, "zeta eta theta", "en", "web", 14),  # unique
    ]
    d = _write_docs(spark, tmp_path_factory.mktemp("conflicts"), rows)
    out = q_k112_dup_metadata_conflicts(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.first_doc, r.n_docs, r.n_langs, r.n_sources, r.langs) == (
        1, 2, 2, 1, "en,fr",
    )


def test_packing_boundary_audit_closed_form(spark, tmp_path_factory):
    """Hand-packed source: doc1 fills tokens 0..1999 (inside pack 0),
    doc2 spans 2000..2099 (crosses the 2048 boundary), doc3 spans
    2100..4095 (ends exactly at pack 1's last slot, no cross)."""
    from cdc_publisher_spark.queries.llm import q_k113_packing_boundary_audit

    def toks(n, p):
        return " ".join(f"{p}{i}" for i in range(n))

    rows = [
        (1, toks(2000, "a"), "en", "s", 1),
        (2, toks(100, "b"), "en", "s", 1),
        (3, toks(1996, "c"), "en", "s", 1),
    ]
    d = _write_docs(spark, tmp_path_factory.mktemp("packb"), rows)
    out = q_k113_packing_boundary_audit(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (
        r.n_docs, r.n_boundary_crossing, r.n_packs, r.total_tokens,
        r.crossing_frac,
    ) == (3, 1, 2, 4096, 0.3333)


def test_threshold_sensitivity_exact_boundary_algebra(spark, tmp_path_factory):
    """Two hand-built docs: 'x x x y z' (nw=5, nd=3, topc=3) sits
    EXACTLY on the 60% TTR boundary (3·100 == 60·5 — the >= must
    include it) and fails the rep cap at every grid point; 'a b c d'
    (nd=nw, topc=1) passes every TTR floor and reaches the rep cap
    only at exactly 25% (1·100 == 25·4)."""
    from cdc_publisher_spark.queries.llm_signals import (
        q_k115_threshold_sensitivity,
    )

    rows = [
        (1, "x x x y z", "en", "s", 9),
        (2, "a b c d", "en", "s", 7),
    ]
    d = _write_docs(spark, tmp_path_factory.mktemp("thresh"), rows)
    out = {
        (r.rule, r.threshold_pct): r.n_pass
        for r in q_k115_threshold_sensitivity(spark, d).collect()
    }
    assert out == {
        ("ttr_floor", 30): 2, ("ttr_floor", 40): 2, ("ttr_floor", 50): 2,
        ("ttr_floor", 60): 2, ("ttr_floor", 70): 1,
        ("rep_cap", 5): 0, ("rep_cap", 10): 0, ("rep_cap", 15): 0,
        ("rep_cap", 20): 0, ("rep_cap", 25): 1,
    }
