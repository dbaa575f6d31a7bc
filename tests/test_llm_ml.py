"""Operator-level tests for the round-3 ML family (queries/llm_ml.py):
PCA internals vs numpy, the BPE trainer vs hand-computed merges, and
stream==batch for the q_i7 dedup twin. The registered queries
themselves are hash-checked by the parametrized oracle gate in
test_oracle_queries.py."""

from __future__ import annotations

import json

import numpy as np
import pytest

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _emb_matrix(spark):
    rows = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    return np.asarray([r["embedding"] for r in rows], dtype=np.float64), [
        r["vec_id"] for r in rows
    ]


def test_pca_moments_match_numpy(spark):
    from cdc_publisher_spark.operators.reduce_dim import fit_pca, moments

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    x, _ = _emb_matrix(spark)
    n, s, g = moments(e)
    assert n == x.shape[0]
    np.testing.assert_allclose(s, x.sum(axis=0), rtol=1e-12)
    np.testing.assert_allclose(g, x.T @ x, rtol=1e-12)

    model = fit_pca(e, k=8)
    cov = np.cov(x, rowvar=False, ddof=1)
    np.testing.assert_allclose(model.total_variance, np.trace(cov), rtol=1e-10)
    evals = np.sort(np.linalg.eigvalsh(cov))[::-1][:8]
    np.testing.assert_allclose(model.explained_variance, evals, rtol=1e-8)
    # Basis orthonormality and descending explained variance.
    np.testing.assert_allclose(
        model.components @ model.components.T, np.eye(8), atol=1e-10
    )
    assert np.all(np.diff(model.explained_variance) <= 1e-9)


def test_pca_projection_matches_numpy(spark):
    from cdc_publisher_spark.operators.reduce_dim import fit_pca, project

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    model = fit_pca(e, k=4)
    got = {
        r["vec_id"]: np.asarray(r["proj"])
        for r in project(e, model).select("vec_id", "proj").collect()
    }
    x, ids = _emb_matrix(spark)
    want = (x - model.mean) @ model.components.T
    for i, vid in enumerate(ids):
        np.testing.assert_allclose(got[vid], want[i], atol=1e-8)


def test_pca_moments_partition_invariant(spark):
    """Partial-Gram accumulation must not depend on partitioning."""
    from cdc_publisher_spark.operators.reduce_dim import moments

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    n1, s1, g1 = moments(e.coalesce(1))
    n8, s8, g8 = moments(e.repartition(8))
    assert n1 == n8
    np.testing.assert_allclose(s1, s8, rtol=1e-12)
    np.testing.assert_allclose(g1, g8, rtol=1e-12)


def test_bpe_trainer_hand_computed(spark):
    """Sennrich-style toy corpus: merges are hand-derivable.

    Corpus: 'low' x5, 'lower' x2, 'newest' x6, 'widest' x3.
    Round 0 pair counts: (e,s)=9, (s,t)=9, (l,o)=7, (o,w)=7, ...
    tie at 9 → lexicographic → ('e','s') first, then ('es','t')=9.
    """
    from cdc_publisher_spark.operators.bpe import train_bpe

    rows = [("low " * 5 + "lower " * 2 + "newest " * 6 + "widest " * 3).strip()]
    docs = spark.createDataFrame([(0, rows[0])], "doc_id long, text string")
    from cdc_publisher_spark.operators.bpe import word_histogram

    hist = word_histogram(docs)
    got = {r["word"]: r["n"] for r in hist.collect()}
    assert got == {"low": 5, "lower": 2, "newest": 6, "widest": 3}

    merges = train_bpe(hist, n_merges=4)
    assert merges[0] == ("e", "s", 0)
    assert merges[1] == ("es", "t", 1)
    # next: (l,o)=7 vs (o,w)=7 tie -> ('l','o'); then ('lo','w')=7.
    assert merges[2] == ("l", "o", 2)
    assert merges[3] == ("lo", "w", 3)


def test_bpe_first_merge_matches_registered_ranking(spark):
    """The trainer's first merge must equal rank-1 of q_k50."""
    from cdc_publisher_spark.operators.bpe import train_bpe, word_histogram
    from cdc_publisher_spark.registry import all_specs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    merges = train_bpe(word_histogram(docs), n_merges=1)
    top = (
        all_specs()["q_k50_bpe_merge_ranking"]
        .spark(spark, SF)
        .filter(F.col("rk") == 1)
        .collect()[0]
    )
    assert (top["left_sym"], top["right_sym"]) == (merges[0][0], merges[0][1])


def test_bpe_vocab_guard(spark):
    from cdc_publisher_spark.operators.bpe import train_bpe, word_histogram

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    with pytest.raises(ValueError, match="distinct words"):
        train_bpe(word_histogram(docs), n_merges=1, max_vocab=2)


def test_stream_dedupe_matches_batch_twin(spark, tmp_path):
    """dropDuplicatesWithinWatermark over the events feed lands on the
    same key set and count as q_i7's batch twin."""
    from cdc_publisher_spark.tables import load

    ev = load(spark, SF, "events").orderBy("ts", "event_id").limit(300).collect()
    src = tmp_path / "ev"
    src.mkdir()
    (src / "a.jsonl").write_text(
        "\n".join(
            json.dumps(
                {
                    "ts": r["ts"].strftime("%Y-%m-%d %H:%M:%S.%f"),
                    "user_id": r["user_id"],
                    "event_type": r["event_type"],
                    "event_id": r["event_id"],
                }
            )
            for r in ev
        )
    )
    stream = spark.readStream.schema(
        "ts timestamp, user_id long, event_type string, event_id long"
    ).json(str(src))
    q = (
        stream.withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .writeStream.format("memory")
        .queryName("i7_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["user_id"], r["event_type"])
        for r in spark.sql("SELECT user_id, event_type FROM i7_stream").collect()
    }
    want = {(r["user_id"], r["event_type"]) for r in ev}
    assert got == want
    assert spark.sql("SELECT count(*) n FROM i7_stream").collect()[0]["n"] == len(want)


def test_hard_negatives_partition_invariant(spark):
    """Label-masked block_topk must be exact regardless of how the
    corpus is partitioned (per-partition differing-label top-k is
    complete for the global answer)."""
    from cdc_publisher_spark.operators.ann import block_topk
    from cdc_publisher_spark.tables import load

    e = load(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    a = block_topk(e.coalesce(1), q, k=3, exclude_same_label="label")
    b = block_topk(e.repartition(7), q, k=3, exclude_same_label="label")
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb and len(ra) == 30
    # every returned pair truly crosses labels
    lbl = {r["vec_id"]: r["label"] for r in e.select("vec_id", "label").collect()}
    for qid, cid, _, _ in ra:
        assert lbl[qid] != lbl[cid]


# --------------------------------------------------------------------------
# BPE encoding (q_k59, operators/bpe.py apply_bpe)
# --------------------------------------------------------------------------


def test_bpe_encode_word_follows_merge_order():
    from cdc_publisher_spark.operators.bpe import encode_word

    # merges: (l,o)->lo rank0, (lo,w)->low rank1, (e,r)->er rank2
    merges = [("l", "o", 0), ("lo", "w", 1), ("e", "r", 2)]
    assert encode_word("lower", merges) == ["low", "er"]
    assert encode_word("low", merges) == ["low"]
    assert encode_word("x", merges) == ["x"]
    assert encode_word("", merges) == []


def test_bpe_encode_roundtrip_and_train_consistency(spark, sf_smoke):
    from cdc_publisher_spark.operators.bpe import apply_bpe, train_bpe, word_histogram
    from cdc_publisher_spark.tables import load

    docs = load(spark, sf_smoke, "documents")
    merges = train_bpe(word_histogram(docs), n_merges=15)
    assert len(merges) <= 15
    out = apply_bpe(docs, merges).select("doc_id", "text", "tokens").collect()
    assert len(out) > 0
    from cdc_publisher_spark.operators.bpe import encode_word

    for r in out:
        # lossless: concatenating tokens reconstructs the text minus spaces
        assert "".join(r.tokens) == "".join(r.text.split())
        assert len(r.tokens) >= len(r.text.split())
    # distributed closure == pure-Python reference encoder
    for r in out[:20]:
        ref = [t for w in r.text.split() for t in encode_word(w, merges)]
        assert r.tokens == ref


def test_bpe_encode_invariants_survive_whitespace_edges(spark, tmp_path):
    """q_k59's bound invariant must hold for whitespace-edged and empty
    docs: the encoder drops empty split tokens, so the word count used
    for the bound has to count the same way (regression for the
    split-vs-str.split mismatch)."""
    import os

    from cdc_publisher_spark.queries.llm_ml import q_k59_bpe_encode

    d = tmp_path / "ws"
    d.mkdir()
    df = spark.createDataFrame(
        [(1, " ab cd", "en", "s0", 6), (2, "x", "en", "s0", 1), (3, "ab  cd ", "en", "s0", 7)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(str(d), "documents.parquet"))
    r = q_k59_bpe_encode(spark, str(d)).collect()[0]
    assert r.roundtrip_ok and r.tokens_within_bounds
    assert r.n_docs == 3


def test_paragraph_dedup_null_text_emits_no_windows(spark, tmp_path):
    """q_k51 on a NULL-text document: no tokens, so no windows and no
    output row — the oracle's answer (its generate_series join yields
    no rows for a NULL token list). Before the fix size(NULL) = -1 fell
    through greatest(..., 1) into one spurious NULL-content window."""
    import os

    import duckdb

    from cdc_publisher_spark.oracle import compare_frames
    from cdc_publisher_spark.queries.llm_ml import q_k51_paragraph_dedup
    from cdc_publisher_spark.registry import all_specs

    d = tmp_path / "nulls"
    d.mkdir()
    path = os.path.join(str(d), "documents.parquet")
    spark.createDataFrame(
        [(1, "a b c d e f g h i"), (2, None), (3, "a b c d e f g h")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(path)
    got = q_k51_paragraph_dedup(spark, str(d)).toPandas()
    assert list(got["doc_id"]) == [1, 3]
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}/*.parquet')")
        want = con.execute(all_specs()["q_k51_paragraph_dedup"].oracle).fetchdf()
    finally:
        con.close()
    res = compare_frames("q_k51_paragraph_dedup", got, want)
    assert res.match, res.detail
