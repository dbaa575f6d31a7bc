"""Operator tests (SURVEY.md §5.2): approximate operators against their
exact twins, pandas-UDF fingerprint against the pure-Python twin,
lang-id on a corpus with real signal, multimodal plumbing around the
stubbed decoder."""

from __future__ import annotations

import ctypes

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cdc_publisher_spark.operators import multimodal
from cdc_publisher_spark.operators.ann import ann_topk, brute_force_topk
from cdc_publisher_spark.operators.dedup import deduplicate, exact_duplicate_drops
from cdc_publisher_spark.operators.fingerprint import rolling_fingerprint, rolling_fingerprint_py
from cdc_publisher_spark.operators.langid import classify, fit_profiles
from cdc_publisher_spark.operators.minhash import minhash_near_duplicates
from cdc_publisher_spark.operators.simhash import (
    simhash64_py,
    simhash_fingerprints,
    simhash_near_duplicates,
)
from cdc_publisher_spark.tables import load


def test_minhash_equals_exact_jaccard(spark, sf_oracle):
    from cdc_publisher_spark.queries.llm import q_k2_jaccard_neardup

    docs = load(spark, sf_oracle, "documents")
    got = {
        (r["d1"], r["d2"]): r["jaccard"]
        for r in minhash_near_duplicates(docs, threshold=0.5).collect()
    }
    expected = {
        (r["d1"], r["d2"]): r["jaccard"] for r in q_k2_jaccard_neardup(spark, sf_oracle).collect()
    }
    assert got == expected and len(expected) > 0


def test_simhash_matches_python_twin(spark, sf_oracle):
    docs = load(spark, sf_oracle, "documents").filter(F.col("doc_id") < 40)
    fps = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(docs).collect()}
    # feed the twin the SAME token hashes Spark used (xxhash64)
    toks = (
        docs.select("doc_id", F.explode(F.split("text", r"\s+")).alias("w"))
        .select("doc_id", F.xxhash64("w").alias("h"))
        .collect()
    )
    by_doc: dict[int, list[int]] = {}
    for r in toks:
        by_doc.setdefault(r["doc_id"], []).append(r["h"])
    for doc_id, hashes in by_doc.items():
        assert fps[doc_id] == simhash64_py(hashes), f"doc {doc_id}"


def test_simhash_near_dup_pairs_exact(spark, sf_oracle):
    """The banded candidate join + verify must equal brute-force
    Hamming over collected fingerprints."""
    docs = load(spark, sf_oracle, "documents")
    fps = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(docs).collect()}
    ids = sorted(fps)
    expected = set()
    for i, d1 in enumerate(ids):
        u1 = ctypes.c_uint64(fps[d1]).value
        for d2 in ids[i + 1 :]:
            h = bin(u1 ^ ctypes.c_uint64(fps[d2]).value).count("1")
            if h <= 3:
                expected.add((d1, d2, h))
    got = {
        (r["d1"], r["d2"], r["hamming"])
        for r in simhash_near_duplicates(docs, max_hamming=3).collect()
    }
    assert got == expected and len(got) > 0


def test_ann_recall_vs_brute_force(spark, sf_oracle):
    e = load(spark, sf_oracle, "embeddings")
    queries = e.filter(F.col("vec_id") < 20)
    corpus = e.filter(F.col("vec_id") >= 20)
    # NB the synthetic embeddings are isotropic random vectors — the
    # worst case for hyperplane LSH (no cluster structure to exploit),
    # so recall here is a floor, not representative of real corpora.
    exact = brute_force_topk(corpus, queries, k=10)
    approx = ann_topk(corpus, queries, k=10, n_planes=3)
    exact_sets: dict[int, set[int]] = {}
    for r in exact.collect():
        exact_sets.setdefault(r["query_id"], set()).add(r["cand_id"])
    approx_sets: dict[int, set[int]] = {}
    for r in approx.collect():
        approx_sets.setdefault(r["query_id"], set()).add(r["cand_id"])
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q]) for q in exact_sets
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.5, f"mean recall {mean_recall:.2f} (per-query {recalls})"
    # approximate results are always true cosines (no fabricated scores)
    exact_all = {(r["query_id"], r["cand_id"]): r["cosine"] for r in exact.collect()}
    full = {
        (r["query_id"], r["cand_id"]): r["cosine"]
        for r in brute_force_topk(corpus, queries, k=10**6).collect()
    }
    for r in approx.collect():
        assert full[(r["query_id"], r["cand_id"])] == r["cosine"]


def test_brute_force_topk_matches_q_k6(spark, sf_oracle):
    from cdc_publisher_spark.queries.llm import q_k6_cosine_topk

    e = load(spark, sf_oracle, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    c = e.filter(F.col("vec_id") >= 5)
    got = [
        (r["query_id"], r["cand_id"], r["cosine"], r["rk"])
        for r in brute_force_topk(c, q, k=10).orderBy("query_id", "rk").collect()
    ]
    expected = [
        (r["query_id"], r["cand_id"], r["cosine"], r["rk"])
        for r in q_k6_cosine_topk(spark, sf_oracle).collect()
    ]
    assert got == expected


def test_rolling_fingerprint_matches_twin_and_is_order_sensitive(spark):
    texts = ["a b c", "c b a", "a b c", "hello world foo", ""]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {
        r["doc_id"]: r["fp"]
        for r in df.select("doc_id", rolling_fingerprint(F.col("text")).alias("fp")).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == rolling_fingerprint_py(t) & 0x7FFFFFFFFFFFFFFF
    assert got[0] == got[2]  # identical text, identical fp
    assert got[0] != got[1]  # reordered tokens, different fp


def test_langid_learns_real_signal(spark):
    corpus = [
        ("der hund und die katze sind im haus und der garten ist schön", "de"),
        ("die kinder spielen und das wetter ist gut und schön heute", "de"),
        ("el perro y el gato están en la casa y el jardín es bonito", "es"),
        ("los niños juegan y el tiempo es bueno y bonito hoy en la casa", "es"),
        ("the dog and the cat are in the house and the garden is nice", "en"),
        ("the children play and the weather is good and nice today", "en"),
    ]
    train = spark.createDataFrame(corpus, "text string, lang string")
    profiles = fit_profiles(train)
    tests = [
        ("die katze ist schön und der garten", "de"),
        ("el gato es bonito y el jardín", "es"),
        ("the cat is nice and the garden", "en"),
    ]
    test_df = spark.createDataFrame([(t,) for t, _ in tests], "text string")
    preds = [r["lang_pred"] for r in classify(test_df, profiles).collect()]
    assert preds == [lang for _, lang in tests]


def test_langid_plumbing_on_synthetic(spark, sf_smoke):
    docs = load(spark, sf_smoke, "documents").limit(30)
    profiles = fit_profiles(docs)
    out = classify(docs, profiles)
    rows = out.select("doc_id", "lang_pred").collect()
    assert len(rows) == 30 and all(r["lang_pred"] in profiles for r in rows)
    rows2 = classify(docs, profiles).select("doc_id", "lang_pred").collect()
    assert rows == rows2  # deterministic


def _media_df(spark, n=20):
    rows = [
        (i, "image/fake" if i % 2 == 0 else "audio/fake", f"payload-{i}".encode() * (i + 1),
         (f"src{i % 3}", "2024-01-01", 64, 48))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)


def test_multimodal_decode_with_fake_codec(spark):
    multimodal.register_decoder(multimodal.fake_decoder)
    try:
        df = _media_df(spark)
        out = {r["media_id"]: r for r in multimodal.decode_media(df).collect()}
        assert len(out) == 20
        import hashlib

        for i in range(20):
            payload = f"payload-{i}".encode() * (i + 1)
            assert out[i]["n_bytes"] == len(payload)
            assert out[i]["sha256"] == hashlib.sha256(payload).hexdigest()
            fake = multimodal.fake_decoder(payload, "")
            assert out[i]["width"] == fake["width"] and out[i]["mean_luma"] == fake["mean_luma"]
    finally:
        multimodal.register_decoder(None)  # type: ignore[arg-type]
        multimodal._DECODER = None


def test_multimodal_compressed_types_still_raise():
    """The codec seam is honest: without a registered decoder the
    builtin handles ONLY the uncompressed formats; JPEG/PNG/MP3 raise
    until register_decoder installs a real codec."""
    multimodal._DECODER = None
    for mt in ("image/jpeg", "image/png", "audio/mpeg", "video/mp4"):
        with pytest.raises(NotImplementedError):
            multimodal.builtin_decoder(b"\x00\x01", mt)
    with pytest.raises(NotImplementedError):
        multimodal.builtin_resizer(b"\x00\x01", "image/png", 8, 8)


def _ppm_bytes(px_rows):
    """Binary P6 bytes from [[(r,g,b), ...], ...]."""
    h = len(px_rows)
    w = len(px_rows[0])
    raster = bytes(c for row in px_rows for px in row for c in px)
    return b"P6\n# test fixture\n%d %d\n255\n" % (w, h) + raster


def _wav_bytes(samples, rate=8000, channels=1):
    """RIFF/WAVE 16-bit PCM bytes from int sample values."""
    import struct

    data = b"".join(struct.pack("<h", s) for s in samples)
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * channels * 2, channels * 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_multimodal_real_ppm_wav_decode(spark):
    """The decode path executes REAL bytes end-to-end with no codec
    registered: a 2x2 P6 image and a 4-sample PCM WAV, mapInPandas
    decode, exact expected features."""
    multimodal._DECODER = None
    # white, black / red, blue -> Rec.601 lumas 1.0, 0.0, 0.299, 0.114
    ppm = _ppm_bytes([[(255, 255, 255), (0, 0, 0)], [(255, 0, 0), (0, 0, 255)]])
    wav = _wav_bytes([0, 16384, -16384, 32767], rate=8000)
    rows = [
        (1, "image/x-portable-pixmap", ppm, ("src", "2024-01-01", 2, 2)),
        (2, "audio/wav", wav, ("src", "2024-01-01", None, None)),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in multimodal.decode_media(df).collect()}
    img = out[1]
    assert (img["width"], img["height"], img["n_channels"]) == (2, 2, 3)
    assert img["mean_luma"] == pytest.approx((1.0 + 0.0 + 0.299 + 0.114) / 4)
    snd = out[2]
    assert (snd["width"], snd["height"], snd["n_channels"]) == (4, 8000, 1)
    assert snd["mean_luma"] == pytest.approx((0 + 16384 + 16384 + 32767) / 4 / 32768.0)


def test_multimodal_real_ppm_resize(spark):
    """Nearest-neighbor PPM resize with a true P6 re-encode: 4x4 ->
    2x2 picks pixels (0,0),(0,2),(2,0),(2,2); the output payload is
    itself decodable."""
    multimodal._RESIZER = None
    px = [[(16 * (4 * r + c), 0, 0) for c in range(4)] for r in range(4)]
    df = spark.createDataFrame(
        [(1, "image/x-portable-pixmap", _ppm_bytes(px), ("s", "2024-01-01", 4, 4))],
        multimodal.MEDIA_SCHEMA,
    )
    out = multimodal.resize_media(df, 2, 2).collect()[0]
    assert (out["target_w"], out["target_h"]) == (2, 2)
    w, h, maxval, raster = multimodal._parse_ppm(bytes(out["payload"]))
    assert (w, h, maxval) == (2, 2, 255)
    reds = [raster[i * 3] for i in range(4)]
    assert reds == [16 * (4 * r + c) for r in (0, 2) for c in (0, 2)]


def test_multimodal_metadata_paths(spark):
    df = _media_df(spark)
    stats = {r["media_type"]: (r["n"], r["total_bytes"]) for r in multimodal.media_size_stats(df).collect()}
    assert stats["image/fake"][0] == 10 and stats["audio/fake"][0] == 10
    frames = multimodal.frame_sample_plan(df, every_n=10).groupBy("media_id").count().collect()
    assert all(r["count"] == 7 for r in frames)  # declared_width 64 -> frames 0,10,...,60


def test_dedup_facade(spark, sf_oracle):
    docs = load(spark, sf_oracle, "documents")
    # exact: no byte-identical dups in this table -> nothing dropped
    assert exact_duplicate_drops(docs).count() == 0
    deduped = deduplicate(docs, method="minhash", jaccard_threshold=0.5)
    # drop semantics = connected components, keep min per cluster:
    # expected survivors = docs - (clustered members - clusters)
    from cdc_publisher_spark.queries.llm_cluster import q_k22_neardup_clusters

    cc = q_k22_neardup_clusters(spark, sf_oracle)
    n_drops = cc.filter(F.col("doc_id") != F.col("cluster_id")).count()
    assert n_drops > 0
    assert deduped.count() == docs.count() - n_drops


def test_ivf_topk_recall(spark, sf_oracle):
    from cdc_publisher_spark.operators.ivf import build_ivf, ivf_topk

    e = load(spark, sf_oracle, "embeddings")
    queries = e.filter(F.col("vec_id") < 20)
    corpus = e.filter(F.col("vec_id") >= 20)
    index = build_ivf(corpus, n_lists=16)
    # every corpus vector landed in exactly one of 16 lists
    n_lists = index.corpus.select("list_id").distinct().count()
    assert 1 < n_lists <= 16
    assert index.corpus.count() == corpus.count()

    exact_sets: dict[int, set[int]] = {}
    for r in brute_force_topk(corpus, queries, k=10).collect():
        exact_sets.setdefault(r["query_id"], set()).add(r["cand_id"])
    approx = ivf_topk(index, queries, k=10, nprobe=6)
    approx_sets: dict[int, set[int]] = {}
    cosines_ok = True
    full = {
        (r["query_id"], r["cand_id"]): r["cosine"]
        for r in brute_force_topk(corpus, queries, k=10**6).collect()
    }
    for r in approx.collect():
        approx_sets.setdefault(r["query_id"], set()).add(r["cand_id"])
        cosines_ok &= full[(r["query_id"], r["cand_id"])] == r["cosine"]
    assert cosines_ok  # scores are true cosines, never fabricated
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q]) for q in exact_sets
    ]
    mean_recall = sum(recalls) / len(recalls)
    # isotropic random vectors = worst case; nprobe 6/16 scans ~3/8 of
    # the corpus, so recall should comfortably beat that fraction
    assert mean_recall >= 0.45, f"mean recall {mean_recall:.2f}"


def test_asof_join_matches_pandas_merge_asof(spark):
    """Property-style check: the union+carry-forward as-of join equals
    pandas merge_asof on random keyed time series (strict and
    inclusive variants)."""
    import random

    import pandas as pd

    from cdc_publisher_spark.operators.asof import asof_join

    rng = random.Random(7)
    left_rows = [(rng.randrange(5), rng.randrange(1000), i) for i in range(200)]
    right_rows = [(rng.randrange(5), rng.randrange(1000), 1000 + i) for i in range(150)]
    left = spark.createDataFrame(left_rows, "k int, ts long, lid int")
    right = spark.createDataFrame(right_rows, "k int, ts long, rid int")

    for strict in (True, False):
        got = {
            r["lid"]: r["rid_r"]
            for r in asof_join(
                left, right, on="k", left_ts="ts", right_ts="ts",
                right_cols=["rid"], strict=strict, right_tiebreak="rid",
            ).collect()
        }
        lp = pd.DataFrame(left_rows, columns=["k", "ts", "lid"]).sort_values("ts", kind="stable")
        # match the operator's tiebreak: among equal (k, ts) right rows
        # the LARGEST rid wins (ascending carry, last wins)
        rp = (
            pd.DataFrame(right_rows, columns=["k", "ts", "rid"])
            .sort_values(["ts", "rid"], kind="stable")
        )
        merged = pd.merge_asof(
            lp, rp, on="ts", by="k", allow_exact_matches=not strict, direction="backward"
        )
        expected = {
            int(r.lid): (None if pd.isna(r.rid) else int(r.rid))
            for r in merged.itertuples()
        }
        assert got == expected, f"strict={strict}"


def test_multimodal_resize_stub(spark):
    df = _media_df(spark, n=6)
    multimodal.register_resizer(multimodal.fake_resizer)
    try:
        out = multimodal.resize_media(df, 32, 32).collect()
        assert len(out) == 6
        for r in out:
            assert r["target_w"] == 32 and r["n_bytes"] == len(r["payload"]) == 128
        # deterministic: same payload -> same resized bytes
        out2 = multimodal.resize_media(df, 32, 32).collect()
        assert sorted(r["payload"] for r in out) == sorted(r["payload"] for r in out2)
    finally:
        multimodal._RESIZER = None


def test_deterministic_splits(spark, sf_oracle):
    from cdc_publisher_spark.operators.splits import assign_split, deterministic_shuffle

    docs = load(spark, sf_oracle, "documents")
    weights = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r["doc_id"]: r["split"] for r in assign_split(docs, "doc_id", weights).collect()}
    # deterministic across invocations and partitioning
    b = {
        r["doc_id"]: r["split"]
        for r in assign_split(docs.repartition(13), "doc_id", weights).collect()
    }
    assert a == b
    # exhaustive + roughly proportioned
    from collections import Counter

    counts = Counter(a.values())
    n = sum(counts.values())
    assert n == docs.count()
    assert 0.7 < counts["train"] / n < 0.9
    assert counts["val"] > 0 and counts["test"] > 0
    # different salt -> different assignment (globally re-rolled)
    c = {
        r["doc_id"]: r["split"]
        for r in assign_split(docs, "doc_id", weights, salt="split-v2").collect()
    }
    assert c != a

    order1 = [r["doc_id"] for r in deterministic_shuffle(docs, "doc_id").select("doc_id").collect()]
    order2 = [
        r["doc_id"]
        for r in deterministic_shuffle(docs.repartition(7), "doc_id").select("doc_id").collect()
    ]
    assert order1 == order2 and order1 != sorted(order1)


def _union_find_drops(pairs: list[tuple[int, int]]) -> set[int]:
    """Pure-Python twin of the component-based drop list: every node
    that is not the min of its connected component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x for x in parent if find(x) != x}


def test_connected_components_converges_on_chains(spark):
    from cdc_publisher_spark.operators.components import connected_components, neardup_clusters

    # a 6-node chain (needs several propagation rounds), a separate
    # pair, and a triangle sharing no nodes with either
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11), (20, 21), (21, 22), (20, 22)]
    df = spark.createDataFrame(edges, "src BIGINT, dst BIGINT")
    got = {r["id"]: r["cluster_id"] for r in connected_components(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}

    cl = neardup_clusters(df, left="src", right="dst").collect()
    assert {(r["doc_id"], r["cluster_id"], r["csize"]) for r in cl if r["cluster_id"] == 20} == {
        (20, 20, 3), (21, 20, 3), (22, 20, 3)
    }
    # direction of the edge list must not matter
    rev = spark.createDataFrame([(b, a) for a, b in edges], "src BIGINT, dst BIGINT")
    got_rev = {r["id"]: r["cluster_id"] for r in connected_components(rev).collect()}
    assert got_rev == got


#: A negative bound sends every edge frame, the empty one too, past the
#: local probe to the distributed hash-to-min loop.
_DISTRIBUTED = -1


def _closure(spark, edges, bound=None):
    """{(id, cluster_id)} and {(doc_id, cluster_id, csize)} over
    ``edges`` with ``LOCAL_EDGES`` set to ``bound`` (None: the default)."""
    from cdc_publisher_spark.operators import components

    df = spark.createDataFrame(edges, "src BIGINT, dst BIGINT")
    with pytest.MonkeyPatch.context() as mp:
        if bound is not None:
            mp.setattr(components, "LOCAL_EDGES", bound)
        cc = components.connected_components(df)
        nd = components.neardup_clusters(df, left="src", right="dst")
        return set(map(tuple, cc.collect())), set(map(tuple, nd.collect()))


@pytest.mark.parametrize("bound", [None, _DISTRIBUTED], ids=["local", "distributed"])
def test_components_drop_edges_with_a_null_endpoint(spark, bound):
    """An edge with a NULL side joins nothing: it adds no NULL node and
    no phantom singleton for its other side."""
    cc, nd = _closure(spark, [(1, 2), (2, None), (None, 3), (5, 5)], bound)
    assert cc == {(1, 1), (2, 1), (5, 5)}
    assert nd == {(1, 1, 2), (2, 1, 2), (5, 5, 1)}


@pytest.mark.parametrize("bound", [None, _DISTRIBUTED], ids=["local", "distributed"])
def test_components_of_no_edges_is_empty_with_schema(spark, bound):
    from cdc_publisher_spark.operators import components

    df = spark.createDataFrame([], "src INT, dst INT")
    with pytest.MonkeyPatch.context() as mp:
        if bound is not None:
            mp.setattr(components, "LOCAL_EDGES", bound)
        cc = components.connected_components(df)
        nd = components.neardup_clusters(df, left="src", right="dst")
        assert cc.collect() == [] and nd.collect() == []
    assert [(f.name, f.dataType.simpleString()) for f in cc.schema] == [
        ("id", "int"), ("cluster_id", "int")
    ]
    assert [(f.name, f.dataType.simpleString()) for f in nd.schema] == [
        ("doc_id", "int"), ("cluster_id", "int"), ("csize", "bigint")
    ]


_node = st.one_of(
    st.integers(-40, 40),
    st.integers(2**62 - 8, 2**62 + 8),
    st.integers(-(2**62) - 8, -(2**62) + 8),
)


@st.composite
def _pair_graphs(draw):
    """Chains, cliques, stars and disjoint pairs over a shared id pool
    (so shapes may merge), plus duplicate and reversed edges and
    self-loops, in a drawn order."""
    edges: list[tuple[int, int]] = []
    for _ in range(draw(st.integers(1, 4))):
        shape = draw(st.sampled_from(["chain", "clique", "star", "pair"]))
        nodes = draw(st.lists(_node, min_size=2, max_size=6, unique=True))
        if shape == "chain":
            edges += list(zip(nodes, nodes[1:]))
        elif shape == "clique":
            edges += [(a, b) for i, a in enumerate(nodes) for b in nodes[i + 1 :]]
        elif shape == "star":
            edges += [(nodes[0], x) for x in nodes[1:]]
        else:
            edges.append((nodes[0], nodes[1]))
    edges += draw(st.lists(st.sampled_from(edges), max_size=3))
    edges += [(b, a) for a, b in draw(st.lists(st.sampled_from(edges), max_size=3))]
    edges += [(x, x) for x in draw(st.lists(_node, max_size=2))]
    return draw(st.permutations(edges))


@settings(max_examples=8, deadline=None)
@given(edges=_pair_graphs())
def test_components_local_path_twins_distributed_loop(spark, edges):
    """The driver-side closure and the distributed hash-to-min loop give
    identical labels and cluster sizes, and both match union-find."""
    local = _closure(spark, edges)
    assert local == _closure(spark, edges, _DISTRIBUTED)
    cc, nd = local
    assert {i for i, c in cc if i != c} == _union_find_drops(edges)
    assert {(d, c) for d, c, _ in nd} == cc
    sizes = {c: sum(1 for _, k in cc if k == c) for _, c in cc}
    assert all(n == sizes[c] for _, c, n in nd)


def _jobs_in_group(spark, group: str) -> int:
    """Jobs launched under ``group``; one marker job on this thread
    makes every earlier job of the group visible first."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "marker")
    sc.parallelize([0], 1).count()
    return len(sc.statusTracker().getJobIdsForGroup(group)) - 1


def test_neardup_clusters_runs_only_the_probe_job(spark):
    """Below ``LOCAL_EDGES`` the closure is one Arrow collect: building
    the frame runs exactly one job, and the built frame runs none until
    it is consumed."""
    import uuid

    from cdc_publisher_spark.operators.components import neardup_clusters

    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8), (8, 9)], "d1 BIGINT, d2 BIGINT")
    sc = spark.sparkContext
    build, idle = f"cc-build-{uuid.uuid4()}", f"cc-idle-{uuid.uuid4()}"
    sc.setJobGroup(build, "closure")
    out = neardup_clusters(pairs)
    assert _jobs_in_group(spark, build) == 1
    sc.setJobGroup(idle, "built")
    assert out.columns == ["doc_id", "cluster_id", "csize"]
    assert _jobs_in_group(spark, idle) == 0
    assert sorted(map(tuple, out.collect())) == [
        (1, 1, 3), (2, 1, 3), (3, 1, 3), (7, 7, 3), (8, 7, 3), (9, 7, 3)
    ]


def test_cosine_pairs_lsh_recall(spark, sf_oracle):
    from cdc_publisher_spark.operators.ann import cosine_pairs_exact, cosine_pairs_lsh
    from cdc_publisher_spark.queries.llm_cluster import NEARDUP_COS_THRESHOLD

    # precision-1 (subset) on the real corpus, at the registered threshold
    vecs = load(spark, sf_oracle, "embeddings")
    exact = {(r["i"], r["j"]) for r in cosine_pairs_exact(vecs, NEARDUP_COS_THRESHOLD).collect()}
    approx = {(r["i"], r["j"]) for r in cosine_pairs_lsh(vecs, NEARDUP_COS_THRESHOLD).collect()}
    assert len(exact) > 0 and approx <= exact

    # recall in the operator's design regime: planted near-dups at
    # cosine >= ~0.95, threshold 0.9 (the synthetic corpus has no true
    # near-dups — max pairwise cosine ~0.51)
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.standard_normal((100, 64))
    twins = base[:30] + 0.15 * rng.standard_normal((30, 64))  # cos ~0.98
    rows = [(i, v.tolist()) for i, v in enumerate(base)] + [
        (100 + i, v.tolist()) for i, v in enumerate(twins)
    ]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    exact_p = {(r["i"], r["j"]) for r in cosine_pairs_exact(df, 0.9).collect()}
    approx_p = {(r["i"], r["j"]) for r in cosine_pairs_lsh(df, 0.9).collect()}
    assert len(exact_p) >= 30 and approx_p <= exact_p
    assert len(approx_p) / len(exact_p) >= 0.9


def test_dedup_facade_simhash_and_embedding_paths(spark, sf_oracle):
    from cdc_publisher_spark.operators.dedup import (
        embedding_duplicate_drops,
        near_duplicate_drops,
    )
    from cdc_publisher_spark.operators.simhash import simhash_near_duplicates

    docs = load(spark, sf_oracle, "documents")
    drops = {r["doc_id"] for r in near_duplicate_drops(docs, method="simhash").collect()}
    pairs = simhash_near_duplicates(docs, max_hamming=3).collect()
    assert drops == _union_find_drops([(r["d1"], r["d2"]) for r in pairs]) and len(drops) > 0

    # embeddings corpus has no >=0.95 cosine pairs (max ~0.51): the
    # threshold path must return an EMPTY drop list, not noise
    vecs = load(spark, sf_oracle, "embeddings")
    assert embedding_duplicate_drops(vecs, cosine_threshold=0.95).count() == 0
    # at a low threshold every vector's top-1 neighbor qualifies
    assert embedding_duplicate_drops(vecs.limit(50), cosine_threshold=0.0).count() > 0


def test_split_invariants_duckdb_checked(spark, sf_oracle, tmp_path):
    """VERDICT r01 item 7: the xxhash64-keyed split has no DuckDB twin,
    but its INVARIANTS are SQL-checkable over the Spark output written
    to parquet — disjoint (one split per doc), exhaustive (every source
    doc present exactly once), and weights within tolerance. This makes
    the q_k15 rows-only entry externally verified, not just self-tested."""
    import duckdb

    from cdc_publisher_spark.operators.splits import assign_split

    docs = load(spark, sf_oracle, "documents")
    weights = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = str(tmp_path / "split_out")
    assign_split(docs, "doc_id", weights).select("doc_id", "split").write.parquet(out)

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW s AS SELECT * FROM read_parquet('{out}/*.parquet');"
            f"CREATE VIEW d AS SELECT * FROM read_parquet('{sf_oracle}/documents.parquet')"
        )
        # disjoint + exhaustive: bijection between source docs and split rows
        dup, = con.execute(
            "SELECT COUNT(*) FROM (SELECT doc_id FROM s GROUP BY doc_id HAVING COUNT(*) > 1)"
        ).fetchone()
        assert dup == 0
        missing, extra = con.execute(
            "SELECT (SELECT COUNT(*) FROM d WHERE doc_id NOT IN (SELECT doc_id FROM s)),"
            "       (SELECT COUNT(*) FROM s WHERE doc_id NOT IN (SELECT doc_id FROM d))"
        ).fetchone()
        assert (missing, extra) == (0, 0)
        # weight tolerance: observed shares within 5pp of requested
        shares = dict(
            con.execute(
                "SELECT split, COUNT(*) * 1.0 / (SELECT COUNT(*) FROM s) FROM s GROUP BY split"
            ).fetchall()
        )
        assert set(shares) == set(weights)
        for name, w in weights.items():
            assert abs(shares[name] - w) < 0.05, (name, shares[name], w)
    finally:
        con.close()


def test_decontaminate_operator(spark, sf_oracle):
    """decontaminate() drops exactly the docs ngram_contamination
    flags, and contamination is reflexive on an eval set drawn from
    the corpus itself (every eval doc shares its own grams)."""
    from cdc_publisher_spark.operators.decontaminate import (
        decontaminate,
        ngram_contamination,
    )

    docs = load(spark, sf_oracle, "documents")
    ev = docs.filter(F.col("doc_id") < 20)
    hits = ngram_contamination(docs, ev, k=5)
    hit_ids = {r["doc_id"] for r in hits.collect()}
    assert {r["doc_id"] for r in ev.collect()} <= hit_ids  # self-overlap
    clean = decontaminate(docs, ev, k=5)
    assert {r["doc_id"] for r in clean.select("doc_id").collect()} == (
        {r["doc_id"] for r in docs.select("doc_id").collect()} - hit_ids
    )


def test_source_mixing_deterministic_and_budgeted(spark, sf_oracle):
    from cdc_publisher_spark.operators.mixing import sample_to_token_budget
    from cdc_publisher_spark.functions.text import n_words

    docs = load(spark, sf_oracle, "documents").select(
        "source", "doc_id", n_words(F.col("text")).cast("bigint").alias("n_tok")
    )
    a = sample_to_token_budget(docs, "source", "n_tok", "doc_id")
    picked_a = {r["doc_id"] for r in a.filter("sampled").collect()}
    # partitioning-independent: same sampled set at any parallelism
    b = sample_to_token_budget(docs.repartition(13), "source", "n_tok", "doc_id")
    assert {r["doc_id"] for r in b.filter("sampled").collect()} == picked_a
    # every source lands within a tolerant band of the smallest source's
    # token total (binomial noise at sf0.01 sizes)
    totals = {
        r["source"]: r["t"]
        for r in docs.groupBy("source").agg(F.sum("n_tok").alias("t")).collect()
    }
    target = min(totals.values())
    sampled_tok = {
        r["source"]: r["t"]
        for r in a.filter("sampled").groupBy("source").agg(F.sum("n_tok").alias("t")).collect()
    }
    for src, tok in sampled_tok.items():
        assert tok <= totals[src]
        assert abs(tok - min(target, totals[src])) / target < 0.5, (src, tok, target)
    # explicit budget: rate-1 sources keep everything
    c = sample_to_token_budget(docs, "source", "n_tok", "doc_id", target_tokens=10**12)
    assert c.filter("NOT sampled").count() == 0


def test_redact_patterns_and_hits(spark):
    from cdc_publisher_spark.operators.redact import pii_hits, redact

    rows = [
        (1, "mail me at jo.doe+x@sub.example.co or call 555-123-4567"),
        (2, "ssn 123-45-6789 next to phone 123-456-7890"),
        (3, "card 4111-1111-1111-1111 from 192.168.0.1"),
        (4, "no pii here, just text with a date 2024 and v1.2"),
        (5, "ip 10.0.0.1 twice 10.0.0.2"),
    ]
    df = spark.createDataFrame(rows, "id BIGINT, s STRING")
    got = {
        r["id"]: (r["red"], r["hits"])
        for r in df.select("id", redact(F.col("s")).alias("red"), pii_hits(F.col("s")).alias("hits")).collect()
    }
    assert got[1] == ("mail me at <EMAIL> or call <PHONE>", 2)
    assert got[2] == ("ssn <SSN> next to phone <PHONE>", 2)
    assert got[3] == ("card <CARD> from <IP>", 2)
    assert got[4] == ("no pii here, just text with a date 2024 and v1.2", 0)
    assert got[5] == ("ip <IP> twice <IP>", 2)


def test_chunk_documents_windows(spark):
    import pytest as _pytest

    from cdc_publisher_spark.operators.chunk import chunk_documents

    toks = [f"w{i}" for i in range(150)]
    df = spark.createDataFrame([(1, " ".join(toks)), (2, "a b c")], "doc_id BIGINT, text STRING")
    out = chunk_documents(df, chunk_tokens=64, overlap=16, with_text=True).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: starts 0,48,96,144 -> lengths 64,64,54,6
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [r["n_tok"] for r in c1] == [64, 64, 54, 6]
    assert c1[0]["chunk_text"].split(" ") == toks[0:64]
    assert c1[1]["chunk_text"].split(" ") == toks[48:112]  # 16-token overlap
    assert c1[3]["chunk_text"].split(" ") == toks[144:150]
    # doc 2 shorter than one window: a single whole-doc chunk
    assert [(r["chunk_idx"], r["n_tok"], r["chunk_text"]) for r in by_doc[2]] == [(0, 3, "a b c")]

    with _pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=16, overlap=16)


def test_redact_idempotent_and_matches_re_twin(spark):
    """Property-style (seeded batch): redaction is idempotent, and the
    Spark regex chain agrees with a pure-Python ``re`` twin on strings
    mixing PII snippets with adversarial near-miss noise (the pattern
    subset was chosen to mean the same thing in Java regex, RE2, and
    Python re)."""
    import random
    import re as _re

    from cdc_publisher_spark.operators.redact import PII_PATTERNS, redact

    rng = random.Random(11)
    pii = [
        "a.b-c_d@ex-ample.org.uk", "555-123-4567", "123-45-6789",
        "4111 1111 1111 1111", "4111-1111-1111-1111", "10.255.0.1",
    ]
    noise = [
        "plain words", "12345", "1.2", "v1.2.3.4beta", "a@b", "x--y",
        "12-34-5678", "555-12-345", "9999-99", "1.2.3.4.5", "@@",
        "elephant", "555 123 4567",
    ]
    rows = []
    for i in range(300):
        parts = [rng.choice(pii if rng.random() < 0.4 else noise) for _ in range(rng.randint(1, 6))]
        rows.append((i, " ".join(parts)))

    def redact_py(s: str) -> str:
        for _, pat, repl in PII_PATTERNS:
            s = _re.sub(pat, repl, s)
        return s

    df = spark.createDataFrame(rows, "id BIGINT, s STRING")
    out = df.select(
        "id",
        redact(F.col("s")).alias("once"),
        redact(redact(F.col("s"))).alias("twice"),
    ).collect()
    by_id = {r["id"]: r for r in out}
    for i, s in rows:
        assert by_id[i]["once"] == by_id[i]["twice"], s  # idempotent
        assert by_id[i]["once"] == redact_py(s), s  # dialect agreement


def test_chunk_partition_property(spark):
    """Zero-overlap chunking partitions the token stream exactly:
    chunk texts concatenate back to the original, every chunk is at
    most chunk_tokens long, and chunk count is ceil(n/chunk_tokens)."""
    import math
    import random

    from cdc_publisher_spark.operators.chunk import chunk_documents

    rng = random.Random(5)
    rows = [
        (i, " ".join(f"t{rng.randint(0, 99)}" for _ in range(rng.randint(1, 300))))
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    out = chunk_documents(df, chunk_tokens=32, overlap=0, with_text=True).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, text in rows:
        chunks = sorted(by_doc[doc_id], key=lambda r: r["chunk_idx"])
        n = len(text.split(" "))
        assert len(chunks) == math.ceil(n / 32)
        assert all(r["n_tok"] <= 32 for r in chunks)
        assert " ".join(r["chunk_text"] for r in chunks) == text


def test_cosine_pairs_blas_equals_hof(spark, sf_oracle):
    """The Arrow/numpy block-matmul candidate path must be bit-identical
    to the pure-Catalyst fold form (guard band + exact recompute): same
    pairs, same rounded cosines."""
    from cdc_publisher_spark.operators.ann import cosine_pairs_exact

    vecs = load(spark, sf_oracle, "embeddings")
    blas = sorted(map(tuple, cosine_pairs_exact(vecs, 0.42).collect()))
    hof = sorted(map(tuple, cosine_pairs_exact(vecs, 0.42, accel="hof").collect()))
    assert blas == hof and len(blas) > 0
    # threshold above the corpus max cosine -> empty, no crash
    assert cosine_pairs_exact(vecs, 0.95).count() == 0


def test_cosine_pairs_tiled_equals_single_tile(spark, sf_oracle):
    """The bounded-driver-memory tiling (q_k21's scale fix): forcing
    many tiles (tile_rows << corpus) must produce exactly the same pair
    set as one tile — every unordered pair covered once, none twice —
    and tile sizes must be bounded so the driver never holds the whole
    corpus."""
    from cdc_publisher_spark.operators.ann import cosine_pairs_exact

    vecs = load(spark, sf_oracle, "embeddings")  # 500 vectors at sf0.01
    single = sorted(map(tuple, cosine_pairs_exact(vecs, 0.42).collect()))
    tiled = sorted(map(tuple, cosine_pairs_exact(vecs, 0.42, tile_rows=64).collect()))
    assert tiled == single and len(tiled) > 0
    # pathological tile_rows=1 still correct on a small slice
    small = vecs.filter("vec_id < 40")
    one_by_one = sorted(map(tuple, cosine_pairs_exact(small, 0.30, tile_rows=1).collect()))
    ref = sorted(map(tuple, cosine_pairs_exact(small, 0.30).collect()))
    assert one_by_one == ref


def test_jsonl_corpus_source_roundtrip_and_dead_letters(spark, tmp_path):
    """sources/corpus.py: explicit-schema JSONL ingest — good lines
    parse to the documents schema, malformed lines dead-letter instead
    of failing the scan, streaming read == batch read, and the export
    twin round-trips."""
    import json
    import os

    from cdc_publisher_spark.sources.corpus import (
        read_documents_jsonl,
        split_documents,
        stream_documents_jsonl,
        write_documents_jsonl,
    )

    src = tmp_path / "corpus"
    src.mkdir()
    good_rows = [
        {"doc_id": i, "text": f"doc {i} text", "lang": "en", "source": "web", "n_chars": 10 + i}
        for i in range(20)
    ]
    lines = [json.dumps(r) for r in good_rows] + ["{not valid json", '["array","not","object"]']
    (src / "part-0.jsonl").write_text("\n".join(lines[:11]))
    (src / "part-1.jsonl").write_text("\n".join(lines[11:]))

    parsed = read_documents_jsonl(spark, str(src))
    good, dead = split_documents(parsed)
    got = {r["doc_id"]: (r["text"], r["lang"], r["source"], r["n_chars"]) for r in good.collect()}
    assert got == {r["doc_id"]: (r["text"], r["lang"], r["source"], r["n_chars"]) for r in good_rows}
    assert {r["raw_line"] for r in dead.collect()} == {"{not valid json", '["array","not","object"]'}

    # stream == batch
    q = (
        stream_documents_jsonl(spark, str(src))
        .writeStream.format("memory")
        .queryName("corpus_t")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    streamed = spark.sql("SELECT * FROM corpus_t")
    sg, sd = split_documents(streamed)
    assert {r["doc_id"] for r in sg.collect()} == set(got)
    assert sd.count() == 2

    # export twin round-trips the good slice
    out = os.path.join(str(tmp_path), "export")
    write_documents_jsonl(good, out)
    back, back_dead = split_documents(read_documents_jsonl(spark, out))
    assert back_dead.count() == 0
    assert {r["doc_id"]: r["text"] for r in back.collect()} == {
        i: f"doc {i} text" for i in range(20)
    }


def test_block_topk_equals_brute_force(spark, sf_oracle):
    """block_topk's matmul nominate + fold re-rank is EXACT: every row
    (ids, cosine, rank) matches the per-pair brute-force path."""
    from cdc_publisher_spark.operators.ann import block_topk

    e = load(spark, sf_oracle, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    c = e.filter(F.col("vec_id") >= 20)
    got = [
        tuple(r)
        for r in block_topk(c, q, k=10).orderBy("query_id", "rk").collect()
    ]
    expected = [
        tuple(r)
        for r in brute_force_topk(c, q, k=10).orderBy("query_id", "rk").collect()
    ]
    assert got == expected
    assert len(got) == 20 * 10


def test_semantic_dedup_pairs_are_exact_subset(spark, sf_oracle):
    """Cluster-scoped pairs are TRUE near-dups: a subset of the exact
    all-pairs set, with identical (rounded) cosines — precision 1."""
    from cdc_publisher_spark.operators.ann import cosine_pairs_exact
    from cdc_publisher_spark.operators.semdedup import semantic_dedup_pairs

    e = load(spark, sf_oracle, "embeddings")
    thr = 0.42
    exact = {
        (r["i"], r["j"]): round(r["cosine"], 4)
        for r in cosine_pairs_exact(e, thr).collect()
    }
    got = {
        (r["i"], r["j"]): round(r["cosine"], 4)
        for r in semantic_dedup_pairs(e, thr).collect()
    }
    assert got, "no within-cluster pairs found at all"
    for k, v in got.items():
        assert k in exact and exact[k] == v
    recall = len(got) / len(exact)
    assert recall >= 0.15, f"recall {recall:.2f} over {len(exact)} exact pairs"


def test_semantic_dedup_keeper_invariants(spark, sf_oracle):
    from cdc_publisher_spark.operators.semdedup import semantic_dedup

    e = load(spark, sf_oracle, "embeddings")
    rows = semantic_dedup(e, 0.42).collect()
    n = e.count()
    assert len(rows) == n  # every vector labeled exactly once
    by_cluster = {}
    for r in rows:
        assert r["keep"] == (r["cluster_id"] == r["vec_id"])
        by_cluster.setdefault(r["cluster_id"], []).append(r["vec_id"])
    for cid, members in by_cluster.items():
        assert cid == min(members)  # keeper is the min member, present


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory):
    """Schema-identical, zero-row twins of all ten tables."""
    from cdc_publisher_spark.tables import TABLE_NAMES

    d = tmp_path_factory.mktemp("empty_sf")
    for t in TABLE_NAMES:
        load(spark, "/root/testdata/sf0.001", t).limit(0).write.mode(
            "overwrite"
        ).parquet(str(d / f"{t}.parquet"))
    return str(d)


def test_queries_survive_empty_tables(spark, empty_sf_dir):
    """Zero-row inputs are the first thing a scheduled 100 TB pipeline
    hits (an empty ingest hour); every operator family must return an
    empty result, not throw. Collected-block numpy operators (BLAS
    miners, block top-k, k-means) are the regression-prone ones."""
    from cdc_publisher_spark.registry import all_specs

    reps = [
        "q_d1_pricing_summary",
        "q_c1_revenue_by_customer",
        "q_c10_waiting_supplier",
        "q_e9_session_analytics",
        "q_k2_jaccard_neardup",
        "q_k3_minhash_neardup",
        "q_k6_cosine_topk",
        "q_k21_embedding_neardup",
        "q_k34_block_topk",
        "q_k36_shuffle_shard",
        "q_k37_embedding_decontamination",
        "q_k30_corpus_curation",
    ]
    specs = all_specs()
    for name in reps:
        assert specs[name].spark(spark, empty_sf_dir).count() == 0, name
    # q_k35 is an invariant-aggregate query: one row, vacuously green
    row = specs["q_k35_semantic_dedup"].spark(spark, empty_sf_dir).collect()
    assert len(row) == 1 and row[0]["n_vectors"] == 0 and row[0]["keeper_ok"]


def test_sessionize_property_matches_python_twin(spark):
    """Random event streams (duplicate timestamps, key collisions,
    boundary-exact gaps): Spark session_stats == pure-Python twin."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from cdc_publisher_spark.operators.sessionize import (
        session_stats,
        session_stats_py,
    )

    GAP = 1_000  # small gap so random ts actually split sessions

    @settings(max_examples=15, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=3),       # key
                st.integers(min_value=0, max_value=10_000),  # ts_us
            ),
            min_size=1,
            max_size=60,
        )
    )
    def run(raw):
        rows = [(k, ts, i) for i, (k, ts) in enumerate(raw)]
        df = spark.createDataFrame(rows, "user_id long, us long, event_id long")
        got = {
            (r["user_id"], r["session_num"]): (
                r["start_us"],
                r["end_us"],
                r["n_events"],
                r["idle_us"],
            )
            for r in session_stats(
                df, key_col="user_id", ts_us_col="us", order_col="event_id", gap_us=GAP
            ).collect()
        }
        assert got == session_stats_py(rows, gap_us=GAP)

    run()


def test_asof_join_forward_matches_pandas_merge_asof(spark):
    """direction='forward' (nearest future right row) equals pandas
    merge_asof(direction='forward'), strict and inclusive."""
    import random

    import pandas as pd

    from cdc_publisher_spark.operators.asof import asof_join

    rng = random.Random(11)
    left_rows = [(rng.randrange(5), rng.randrange(1000), i) for i in range(200)]
    right_rows = [(rng.randrange(5), rng.randrange(1000), 1000 + i) for i in range(150)]
    left = spark.createDataFrame(left_rows, "k int, ts long, lid int")
    right = spark.createDataFrame(right_rows, "k int, ts long, rid int")

    for strict in (True, False):
        got = {
            r["lid"]: r["rid_r"]
            for r in asof_join(
                left, right, on="k", left_ts="ts", right_ts="ts",
                right_cols=["rid"], strict=strict, right_tiebreak="rid",
                direction="forward",
            ).collect()
        }
        lp = pd.DataFrame(left_rows, columns=["k", "ts", "lid"]).sort_values("ts", kind="stable")
        # forward keeps the FIRST among equal (k, ts) right rows -> the
        # operator's desc-carry makes the SMALLEST rid win; same here
        rp = (
            pd.DataFrame(right_rows, columns=["k", "ts", "rid"])
            .sort_values(["ts", "rid"], kind="stable")
        )
        merged = pd.merge_asof(
            lp, rp, on="ts", by="k", allow_exact_matches=not strict, direction="forward"
        )
        expected = {
            int(r.lid): (None if pd.isna(r.rid) else int(r.rid))
            for r in merged.itertuples()
        }
        assert got == expected, f"strict={strict}"


def test_diversity_sample_invariants(spark, sf_oracle):
    from cdc_publisher_spark.operators.semdedup import diversity_sample

    e = load(spark, sf_oracle, "embeddings")
    rows = diversity_sample(e, per_cluster=32).collect()
    assert len(rows) == e.count()  # every vector labeled
    kept = {}
    for r in rows:
        if r["keep"]:
            kept.setdefault(r["list_id"], 0)
            kept[r["list_id"]] += 1
    assert kept and all(n <= 32 for n in kept.values())  # quota respected
    # every non-empty cluster contributes (no mode silently dropped)
    clusters = {r["list_id"] for r in rows}
    assert set(kept) == clusters
    # deterministic under re-evaluation
    again = diversity_sample(e, per_cluster=32).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_pq_codebook_deterministic_and_compact(spark, sf_oracle):
    from cdc_publisher_spark.operators.pq import encode_pq, train_pq

    e = load(spark, sf_oracle, "embeddings")
    cb1 = train_pq(e, m=8, n_codes=16)
    cb2 = train_pq(e, m=8, n_codes=16)
    assert cb1.codebooks == cb2.codebooks  # seeded train is reproducible
    assert cb1.m == 8 and cb1.n_codes == 16 and cb1.dim == 64

    enc = encode_pq(e, cb1)
    rows = enc.collect()
    assert len(rows) == e.count()
    for r in rows[:50]:
        assert len(r["codes"]) == 8
        assert all(0 <= c < 16 for c in r["codes"])


def test_pq_topk_recall(spark, sf_oracle):
    from cdc_publisher_spark.operators.ann import brute_force_topk
    from cdc_publisher_spark.operators.pq import encode_pq, pq_topk, train_pq

    e = load(spark, sf_oracle, "embeddings")
    queries = e.filter(F.col("vec_id") < 20)
    corpus = e.filter(F.col("vec_id") >= 20)
    cb = train_pq(corpus, m=8, n_codes=16)
    encoded = encode_pq(corpus, cb)

    exact_sets: dict[int, set[int]] = {}
    for r in brute_force_topk(corpus, queries, k=10).collect():
        exact_sets.setdefault(r["query_id"], set()).add(r["cand_id"])
    full = {
        (r["query_id"], r["cand_id"]): r["cosine"]
        for r in brute_force_topk(corpus, queries, k=10**6).collect()
    }
    approx = pq_topk(corpus, encoded, cb, queries, k=10)
    approx_sets: dict[int, set[int]] = {}
    cosines_ok = True
    for r in approx.collect():
        approx_sets.setdefault(r["query_id"], set()).add(r["cand_id"])
        cosines_ok &= full[(r["query_id"], r["cand_id"])] == r["cosine"]
    assert cosines_ok  # ADC only nominates; emitted cosines are exact
    assert all(len(s) == 10 for s in approx_sets.values())
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q]) for q in exact_sets
    ]
    mean_recall = sum(recalls) / len(recalls)
    # isotropic random 64-d vectors are PQ's worst case (no cluster
    # structure); the top-(k+pad) nominate still has to beat random
    # candidate picking by a wide margin
    assert mean_recall >= 0.3, f"mean recall {mean_recall:.2f} (per-query {recalls})"


def test_build_ivf_fit_is_bounded_and_deterministic(spark):
    """The coarse-quantizer train set must stay O(MAX_FIT_ROWS) at any
    corpus size (hash-thinned, not collected whole) and the seeded fit
    must be run-to-run deterministic so index rebuilds are stable."""
    from cdc_publisher_spark.operators import ivf as IVF

    n = IVF.MAX_FIT_ROWS + 4096  # force the thinning branch
    corpus = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 7).cast("float"),
            (F.col("id") % 11).cast("float"),
            (F.col("id") % 13 + 1).cast("float"),
            F.lit(1.0).cast("float"),
        ).alias("embedding"),
    )
    i1 = IVF.build_ivf(corpus, n_lists=4, seed=7)
    i2 = IVF.build_ivf(corpus, n_lists=4, seed=7)
    assert i1.centroids == i2.centroids
    assert len(i1.centroids) == 4
    lists = i1.corpus.select("list_id").distinct().collect()
    assert all(0 <= r.list_id < 4 for r in lists)
    assert i1.corpus.count() == n  # assignment covers the full corpus


def test_ivf_arrow_and_expression_paths_agree(spark, sf_oracle, monkeypatch):
    """Above EXPR_ASSIGN_MAX_LISTS centroids, assignment and probing
    switch from fold-expressions to Arrow matmul kernels. The two paths
    sum dot products in different orders (BLAS vs left-to-right fold),
    so bit-equality is fixture luck (ADVICE r7): the contract is that
    any disagreement is a PROVABLE floating near-tie — an assignment
    may differ only when the vector's scores against the two chosen
    centroids are within 1e-9, and a top-k row may differ only at a
    4dp-rounded cosine tie — never a logic divergence."""
    import numpy as np

    from cdc_publisher_spark.operators import ivf

    e = load(spark, sf_oracle, "embeddings")
    corpus = e.filter(F.col("vec_id") >= 5)
    queries = e.filter(F.col("vec_id") < 5)

    def run():
        index = ivf.build_ivf(corpus, n_lists=20)
        assigns = {r["vec_id"]: r["list_id"] for r in index.corpus.collect()}
        top = {
            (r["query_id"], r["rk"]): (r["cand_id"], r["cosine"])
            for r in ivf.ivf_topk(index, queries, k=5, nprobe=4).collect()
        }
        return index, assigns, top

    idx_a, assigns_a, top_a = run()  # 20 > default threshold: Arrow kernels
    monkeypatch.setattr(ivf, "EXPR_ASSIGN_MAX_LISTS", 64)
    idx_e, assigns_e, top_e = run()  # same k, forced expression path
    # the fit itself is deterministic (seeded, sorted bounded sample)
    assert idx_a.centroids == idx_e.centroids

    assert assigns_a.keys() == assigns_e.keys()
    cmat = np.asarray(idx_a.centroids, dtype=np.float64)
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in corpus.select("vec_id", "embedding").collect()
    }
    for v, la in assigns_a.items():
        le = assigns_e[v]
        if la != le:
            sa, se = float(vecs[v] @ cmat[la]), float(vecs[v] @ cmat[le])
            gap = abs(sa - se) / max(1.0, abs(sa))
            assert gap <= 1e-9, (v, la, le, sa, se)

    assert top_a.keys() == top_e.keys()
    for key, (cand_a, cos_a) in top_a.items():
        cand_e, cos_e = top_e[key]
        if cand_a != cand_e:
            # a rank swap is legitimate only at a rounded-cosine tie
            assert abs(cos_a - cos_e) <= 2e-4, (key, top_a[key], top_e[key])
        else:
            assert cos_a == cos_e, (key, cos_a, cos_e)


def test_semdedup_pair_scorers_agree(spark, sf_oracle):
    """The JVM join+fold scorer (small corpora) and the Arrow
    per-cluster gram-matrix scorer (scale path) must mine IDENTICAL
    pair sets with 4 dp-identical cosines from the same index."""
    from cdc_publisher_spark.operators import semdedup
    from cdc_publisher_spark.operators.ivf import build_ivf

    e = load(spark, sf_oracle, "embeddings")
    index = build_ivf(e, n_lists=8)
    expr = {
        (r["i"], r["j"]): round(r["cosine"], 4)
        for r in semdedup._within_cluster_pairs_expr(
            index.corpus, 0.42, "vec_id", "embedding"
        ).collect()
    }
    arrow = {
        (r["i"], r["j"]): round(r["cosine"], 4)
        for r in semdedup._within_cluster_pairs(
            index.corpus, 0.42, "vec_id", "embedding"
        ).collect()
    }
    assert expr and expr == arrow


def test_quantile_filter_keeps_null_group_rows(spark):
    """NULL group_col rows form their own group (percent_rank
    partitionBy semantics) in BOTH the exact and approx paths — an
    equi-join back would silently drop them regardless of score."""
    from cdc_publisher_spark.operators.quality_filter import quantile_filter

    # en and NULL groups carry IDENTICAL score distributions, so a
    # correct filter keeps the same score set in both — whatever the
    # path's cutoff semantics at the quantile boundary
    scores = [0.1, 0.3, 0.5, 0.7, 0.9]
    rows = [(i, "en", s) for i, s in enumerate(scores)] + [
        (10 + i, None, s) for i, s in enumerate(scores)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, score double")
    for exact in (False, True):
        out = quantile_filter(df, "score", "lang", q=0.4, exact=exact).collect()
        en = sorted(r["score"] for r in out if r["lang"] == "en")
        nulls = sorted(r["score"] for r in out if r["lang"] is None)
        assert nulls == en, f"exact={exact}: NULL group diverged ({nulls} vs {en})"
        assert nulls, f"exact={exact}: NULL-group rows all dropped"
        assert 0.1 not in nulls, f"exact={exact}: bottom row survived the filter"


def test_bucketed_running_sum_null_keys_match_window_form(spark):
    """ADVICE r6/r7: window partitionBy treats NULL part/bucket keys as
    real partition values, so the bucket-offset join back must be
    null-safe — a plain equi-join dropped every NULL-keyed row. Pin
    bit-equality against the single-window reference on a frame with
    NULL part keys, NULL bucket keys, and both."""
    from pyspark.sql import Window as W

    from cdc_publisher_spark.functions.windows import bucketed_running_sum

    rows = [
        ("a", 0, 1, 10),
        ("a", 0, 2, 20),
        ("a", 1, 3, 30),
        (None, 0, 4, 40),
        (None, 1, 5, 50),
        ("b", None, 6, 60),
        ("b", 0, 7, 70),
        (None, None, 8, 80),
        (None, None, 9, 90),
    ]
    df = spark.createDataFrame(rows, "p string, b int, o int, v long")
    got = {
        r["o"]: r["rs"]
        for r in bucketed_running_sum(df, "p", "b", ["o"], "v", "rs").collect()
    }
    w = (
        W.partitionBy("p")
        .orderBy("b", "o")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    ref = {
        r["o"]: r["rs"]
        for r in df.withColumn("rs", F.sum("v").over(w)).collect()
    }
    assert got == ref, (got, ref)


def test_quantile_filter_null_scores_dropped_even_at_q0(spark):
    """ADVICE r7 decided contract: NULL-score rows are rejected for
    every q INCLUDING q=0, identically on both paths — a quality gate
    drops unscorable rows by definition (deliberate deviation from
    literal percent_rank window semantics at q=0, where NULLs would
    rank lowest and survive pr >= 0)."""
    from cdc_publisher_spark.operators.quality_filter import quantile_filter

    rows = [
        (0, "en", None),
        (1, "en", 0.2),
        (2, "en", 0.8),
        (3, None, None),
        (4, None, 0.5),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, score double")
    for exact in (False, True):
        kept = {
            r["doc_id"]
            for r in quantile_filter(df, "score", "lang", q=0.0, exact=exact).collect()
        }
        assert kept == {1, 2, 4}, f"exact={exact}: {kept}"


def test_dedup_savings_hand_counts(spark, tmp_path):
    """q_k92 on a corpus with a known cluster structure: one identical
    pair and one identical triple — the histogram's doc/cluster/token
    arithmetic is fully hand-checkable (keeper = min doc_id)."""
    import os

    from cdc_publisher_spark.queries.llm_cluster import q_k92_dedup_savings

    pair = " ".join(f"p{i}" for i in range(10))      # 10 tokens
    triple = " ".join(f"t{i}" for i in range(8))     # 8 tokens
    solo = " ".join(f"s{i}" for i in range(12))      # unclustered
    rows = [
        (1, pair, "en", "srcA", 1), (2, pair, "en", "srcA", 1),
        (3, triple, "en", "srcB", 1), (4, triple, "en", "srcB", 1),
        (5, triple, "en", "srcB", 1),
        (6, solo, "en", "srcC", 1),
    ]
    d = tmp_path / "docs"
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(os.path.join(str(d), "documents.parquet"))
    out = {r.csize: r for r in q_k92_dedup_savings(spark, str(d)).collect()}
    assert sorted(out) == [2, 3]  # solo doc never enters the histogram
    two, three = out[2], out[3]
    assert (two.n_clusters, two.n_docs, two.removable_docs) == (1, 2, 1)
    assert (two.tokens_total, two.tokens_reclaimed) == (20, 10)
    assert (three.n_clusters, three.n_docs, three.removable_docs) == (1, 3, 2)
    assert (three.tokens_total, three.tokens_reclaimed) == (24, 16)


def test_dedup_savings_invariants_on_fixture(spark, sf_smoke):
    """Every histogram row: csize >= 2, removable = docs - clusters,
    reclaimed tokens strictly below the cluster total (the keeper's
    tokens always survive)."""
    from cdc_publisher_spark.queries.llm_cluster import q_k92_dedup_savings

    rows = q_k92_dedup_savings(spark, sf_smoke).collect()
    assert rows  # the fixture contains near-dups by construction
    for r in rows:
        assert r.csize >= 2, r
        assert r.removable_docs == r.n_docs - r.n_clusters, r
        assert 0 <= r.tokens_reclaimed < r.tokens_total, r


def test_token_gini_hand_values(spark, tmp_path):
    """q_k93: equal per-doc token counts give G=0; [1,1,1,9] gives the
    textbook 2*42/(4*12) - 5/4 = 0.5."""
    import os

    from cdc_publisher_spark.queries.llm_quality import q_k93_token_gini

    def txt(n):  # n whitespace tokens
        return " ".join(f"w{i}" for i in range(n))

    rows = (
        [(i, txt(5), "en", "srcEq", 1) for i in range(4)]
        + [(10 + i, txt(t), "en", "srcSkew", 1) for i, t in enumerate((1, 1, 1, 9))]
    )
    d = tmp_path / "docs"
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(os.path.join(str(d), "documents.parquet"))
    out = {r.source: r for r in q_k93_token_gini(spark, str(d)).collect()}
    assert out["srcEq"].gini_tokens == 0.0
    assert out["srcSkew"].gini_tokens == 0.5
    assert (out["srcSkew"].n_docs, out["srcSkew"].total_tokens) == (4, 12)


def test_token_gini_invariants_on_fixture(spark, sf_smoke):
    """0 <= G < 1 on any corpus, and n_docs/total_tokens agree with a
    direct aggregate."""
    from pyspark.sql import functions as F

    from cdc_publisher_spark.queries.llm_quality import q_k93_token_gini
    from cdc_publisher_spark.tables import load

    rows = q_k93_token_gini(spark, sf_smoke).collect()
    docs = load(spark, sf_smoke, "documents")
    want_docs = docs.count()
    assert rows and sum(r.n_docs for r in rows) == want_docs
    for r in rows:
        assert 0.0 <= r.gini_tokens < 1.0, r


def test_two_level_prefix_sums_matches_naive_window(spark):
    """operators/scan.py two-level scan is row-identical to the naive
    single dims-partitioned window over random sequences (hypothesis),
    including chunk sizes that force multi-chunk and single-chunk
    groups, sparse/negative values, and group-skewed sequences."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cdc_publisher_spark.operators.scan import two_level_prefix_sums

    rows_strategy = st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2", "g3"]),
            st.integers(min_value=0, max_value=40),  # seq (unique per group below)
            st.integers(min_value=-5, max_value=9),
            st.integers(min_value=0, max_value=7),
        ),
        min_size=1,
        max_size=40,
    )

    @given(rows=rows_strategy, chunk=st.sampled_from([1, 3, 8, 64]))
    @settings(max_examples=20, deadline=None)
    def check(rows, chunk):
        # enforce the contract: seq unique within its group
        seen, uniq = set(), []
        for g, s, a, b in rows:
            if (g, s) not in seen:
                seen.add((g, s))
                uniq.append((g, s, a, b))
        df = spark.createDataFrame(uniq, "g string, seq long, a long, b long")
        got = sorted(
            map(
                tuple,
                two_level_prefix_sums(df, ["g"], "seq", ["a", "b"], chunk=chunk)
                .select("g", "seq", "cum_a", "cum_b")
                .collect(),
            )
        )
        w = Window.partitionBy("g").orderBy("seq")
        want = sorted(
            map(
                tuple,
                df.select(
                    "g", "seq",
                    F.sum("a").over(w).alias("cum_a"),
                    F.sum("b").over(w).alias("cum_b"),
                ).collect(),
            )
        )
        assert got == want

    check()


def test_decode_media_tolerant_quarantines_bad_payloads(spark):
    """The media dead-letter contract (q_k108's operator): a rejected
    payload yields ok=false + the exception text + NULL features and
    never fails the batch; good payloads decode identically to the
    strict path."""
    from cdc_publisher_spark.operators.multimodal import (
        decode_media,
        decode_media_tolerant,
        synth_wav_from_text,
    )

    good = synth_wav_from_text("alpha beta gamma delta")
    bad = b"XXXX" + good[4:]          # RIFF magic destroyed
    short = b"RIFF"                   # truncated past usefulness
    media = spark.createDataFrame(
        [(1, "audio/wav", good), (2, "audio/wav", bad), (3, "audio/wav", short)],
        "media_id long, media_type string, payload binary",
    )
    rows = {r.media_id: r for r in decode_media_tolerant(media).collect()}
    assert rows[1].ok and rows[1].err is None
    assert not rows[2].ok and "ValueError" in rows[2].err
    assert rows[2].width is None and rows[2].mean_luma is None
    assert not rows[3].ok
    # good rows match the strict decoder bit-for-bit
    strict = decode_media(media.filter("media_id = 1")).first()
    assert (rows[1].width, rows[1].height, rows[1].n_channels, rows[1].mean_luma) == (
        strict.width, strict.height, strict.n_channels, strict.mean_luma,
    )
    # n_bytes/sha256 are payload facts, present on quarantined rows too
    assert rows[2].n_bytes == len(bad) and len(rows[2].sha256) == 64
