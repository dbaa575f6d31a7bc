"""MinHash + LSH near-duplicate detection (SURVEY.md §2.2 K-2 scale path).

Pipeline (all JVM-side expressions — no UDF, no Arrow hop):

1. shingle each doc (functions/text.py, distinct k-word shingles);
2. signatures: explode shingles, one hash aggregate computes all
   ``n_hashes`` min-hashes at once (``min(xxhash64(i, shingle))`` per
   i) — a single O(shingles) shuffle;
3. banding: group signature into ``bands`` hashes of ``rows_per_band``
   values; explode (doc, band_idx, band_hash);
4. candidates: self-equi-join on (band_idx, band_hash) — only docs
   sharing a band collide, so the join is O(collisions), never
   O(docs²);
5. optional exact verify: shingle-join Jaccard on the candidate set
   only.

At 100 TB this is the only shape that works: signatures are a linear
scan; the band join's shuffle key is (band_idx, band_hash) — uniform
by construction (hashes), so no skew; the exact verify touches only
candidate pairs. With b bands of r rows, P(candidate) = 1-(1-J^r)^b;
the defaults (32 hashes = 16 bands x 2) give P(miss) ≈ 7e-8 at J=0.8.

Determinism: xxhash64 with fixed per-index salt columns — same result
every run, so the verified output is hash-checkable against the exact
Jaccard oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdc_publisher_spark.functions.text import shingle_rows

DEFAULT_N_HASHES = 32
DEFAULT_BANDS = 16


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = DEFAULT_N_HASHES,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, n_shingles, h0..h{n-1}) — one row per doc."""
    exploded = shingle_rows(docs, id_col, text_col, shingle_k, hashed=True)
    return minhash_signatures_from_shingles(exploded, id_col, n_hashes)


def minhash_signatures_from_shingles(
    tok: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = DEFAULT_N_HASHES,
) -> DataFrame:
    """Signatures from ALREADY-HASHED shingle rows (id, s) — i.e.
    ``shingle_rows(docs, hashed=True)`` output. Split out so a caller
    that needs BOTH the signatures and the shingle rows (the
    incremental dedup trigger signs the batch AND exact-verifies
    candidates) shingles the batch once, not twice — the shingle pass
    is a posexplode + per-doc window, the most expensive linear stage
    of the chain (r14 VERDICT ask #4a)."""
    aggs = [F.min(F.xxhash64(F.lit(i), F.col("s"))).alias(f"h{i}") for i in range(n_hashes)]
    return tok.groupBy(id_col).agg(F.count("*").alias("n_shingles"), *aggs)


def lsh_buckets(
    sig: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """(id, band, bh) bucket rows — the LSH *index*. In an incremental
    deployment this frame is the persisted state: new batches append
    their bucket rows and probe the accumulated table."""
    rows_per_band = n_hashes // bands
    band_cols = [
        F.xxhash64(*[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]).alias(
            f"b{b}"
        )
        for b in range(bands)
    ]
    banded = sig.select(F.col(id_col), *band_cols)
    return banded.select(
        id_col,
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("band"), F.col(f"b{b}").alias("bh")) for b in range(bands)])
        ).alias("bucket"),
    ).select(id_col, "bucket.band", "bucket.bh")


def lsh_candidate_pairs(
    sig: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """Distinct (d1, d2) candidate pairs, d1 < d2."""
    buckets = lsh_buckets(sig, id_col, n_hashes, bands)
    a, b_ = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(b_, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh")))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("d1"), F.col(f"b.{id_col}").alias("d2"))
        .distinct()
    )


def minhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_k: int = 3,
) -> DataFrame:
    """LSH candidates -> exact shingle-Jaccard verify -> pairs >= threshold.

    Output (d1, d2, jaccard) — identical semantics to the exhaustive
    q_k2 join, at candidate-pair cost.

    One shingle pass (r16, guide §2.4): the signature aggregation and
    the exact verify both consume the SAME ``shingle_rows`` frame, so
    the posexplode+shuffle under the shingle window is planned once and
    its exchange REUSED by every consumer — previously the verify leg
    re-shingled a semi-join-pruned doc frame, a *different* subtree
    that exchange reuse cannot collapse, so every execution re-ran the
    full corpus tokenize+shuffle (the streaming twin has shared the
    frame this way since r14 — ask #4a). Measured 0.879 at sf1
    (5-repeat interleaved A/B). No extra scan at 100 TB: the signing
    pass must touch every document anyway, and the verify-side
    semi-join prune still applies on top of the reused exchange output.

    Two deeper rewrites were tried r16 and MEASURED WORSE, recorded
    here so they are not re-tried blind: (1) an explicit barrier
    ``repartition("s")`` above the distinct to stop the window+gram
    pipeline replaying per consumer — the barrier shuffles the
    UNCOMPRESSIBLE 8-byte hash rows (33.9 -> 282 MB total shuffle
    write at sf1) and wall went 20.3 -> 25.4 s (a doc-keyed repartition
    is removed as redundant by the planner, so it cannot serve as the
    barrier at all); (2) feeding the verify's doc sizes from the
    signature frame instead of ``tok.groupBy().count()`` — sig has no
    exchange of its own (doc-clustered input), so the sizes consumer
    replayed the 32×xxhash64 min-aggregate instead of a cheap count
    (executor time 249 -> 330 s). The window pipeline replays above the
    reused exchange remain the structural floor of this shape: every
    materialization alternative (persist / localCheckpoint) pins a
    corpus-cardinality frame, which the 100 TB persist tripwire
    forbids.
    """
    tok = shingle_rows(docs, id_col, text_col, shingle_k, hashed=True)
    sig = minhash_signatures_from_shingles(tok, id_col, n_hashes)
    cands = lsh_candidate_pairs(sig, id_col, n_hashes, bands)
    return verify_candidates_from_shingles(tok, cands, id_col, threshold)


def verify_candidates(
    docs: DataFrame,
    cands: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    shingle_k: int = 3,
) -> DataFrame:
    """Exact shingle-Jaccard verify restricted to a (d1, d2) candidate
    frame: join candidate pairs to shingle sets via two semi-joins on
    doc id, count shared shingles, threshold on the exact ratio.

    Only documents that appear in ``cands`` are shingled: the semi-join
    below prunes the corpus scan to candidate-touching docs BEFORE the
    explode, so verify cost follows the candidate set, not the corpus —
    the property the incremental path depends on (a micro-batch's
    verify must not re-shingle 100 TB of history)."""
    touched = (
        cands.select(F.col("d1").alias(id_col))
        .unionByName(cands.select(F.col("d2").alias(id_col)))
        .distinct()
    )
    docs_needed = docs.join(touched, id_col, "semi")
    tok = shingle_rows(docs_needed, id_col, text_col, shingle_k, hashed=True)
    # tok is already candidate-pruned — skip the second semi-join the
    # precomputed-shingles entry point needs
    return _verify_from_shingles(tok, cands, id_col, threshold)


def verify_candidates_from_shingles(
    tok: DataFrame,
    cands: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact shingle-Jaccard verify from PRECOMPUTED hashed shingle
    rows — identical result to ``verify_candidates`` when ``tok`` is
    ``shingle_rows(docs, hashed=True)`` covering every doc id in
    ``cands`` (extra docs are pruned by the semi-join below). Lets the
    incremental dedup trigger reuse the shingle rows it already
    materialized for signing instead of re-shingling the candidate
    docs from text (r14 VERDICT ask #4a)."""
    touched = (
        cands.select(F.col("d1").alias(id_col))
        .unionByName(cands.select(F.col("d2").alias(id_col)))
        .distinct()
    )
    return _verify_from_shingles(
        tok.join(touched, id_col, "semi"), cands, id_col, threshold
    )


def _verify_from_shingles(
    tok: DataFrame,
    cands: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Shared verify core over candidate-pruned hashed shingle rows."""
    sizes = tok.groupBy(id_col).agg(F.count("*").alias("n"))
    inter = (
        tok.alias("ta")
        .join(cands, F.col(f"ta.{id_col}") == F.col("d1"))
        .join(
            tok.alias("tb"),
            (F.col(f"tb.{id_col}") == F.col("d2")) & (F.col("ta.s") == F.col("tb.s")),
        )
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("i"))
    )
    # per-doc sizes join deliberately unhinted: AQE broadcasts while it
    # fits, shuffle-joins at billion-doc scale (forced broadcast = OOM).
    return (
        inter.join(sizes.alias("s1"), F.col("d1") == F.col(f"s1.{id_col}"))
        .join(sizes.alias("s2"), F.col("d2") == F.col(f"s2.{id_col}"))
        .select(
            "d1",
            "d2",
            (F.col("i") / (F.col("s1.n") + F.col("s2.n") - F.col("i"))).alias("j"),
        )
        .filter(F.col("j") >= threshold)
        .select("d1", "d2", F.round("j", 4).alias("jaccard"))
    )


def incremental_near_duplicates(
    docs: DataFrame,
    new_ids: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_k: int = 3,
    history_index: DataFrame | None = None,
    probe_buckets: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs TOUCHING a new batch: only the new docs' bucket
    rows probe the LSH index, so candidate cost is O(new batch ×
    bucket collisions) — never O(corpus²) and never a recompute of
    history-vs-history pairs.

    ``history_index``: the persisted ``lsh_buckets`` frame for the
    docs OUTSIDE the new batch. When provided, ONLY the new batch is
    shingled and signed — the per-ingest cost is O(batch) + the probe
    join, regardless of corpus size; this is the production shape at
    100 TB (the streaming twin maintains this frame per batch,
    streaming/incremental_dedup.py). When None, the index is derived
    from ``docs`` — the convenient form for bounded corpora and the
    oracle-checked q_k79.

    ``probe_buckets``: the new batch's OWN bucket rows, if the caller
    already computed them (the streaming twin signs the batch once for
    its index append and passes the same frame here) — skips deriving
    the batch and re-signing it from ``docs``. Only meaningful with
    ``history_index``.

    Either way, the exact verify re-reads text ONLY for candidate-
    touching docs (verify_candidates prunes with a semi-join before
    shingling).

    ``new_ids``: one-column frame of ids in the new batch. Output
    (d1, d2, jaccard), d1 < d2, at least one side new, exact-verified
    at ``threshold``.
    """
    if history_index is None:
        # derived-index form: the signing pass shingles the whole
        # corpus anyway, so the exact verify reuses the SAME shingle
        # frame (exchange reuse collapses the two subtrees — the
        # minhash_near_duplicates r16 treatment; the prune to
        # candidate-touching ids happens inside the verify)
        tok = shingle_rows(docs, id_col, text_col, shingle_k, hashed=True)
        sig = minhash_signatures_from_shingles(tok, id_col, n_hashes)
        buckets = lsh_buckets(sig, id_col, n_hashes, bands)
        probe = buckets.join(new_ids, id_col, "semi")
        cands = probe_candidate_pairs(probe, buckets, id_col)
        return verify_candidates_from_shingles(tok, cands, id_col, threshold)
    else:
        if probe_buckets is not None:
            probe = probe_buckets.select(id_col, "band", "bh")
        else:
            new_docs = docs.join(new_ids, id_col, "semi")
            new_sig = minhash_signatures(
                new_docs, id_col, text_col, n_hashes, shingle_k
            )
            probe = lsh_buckets(new_sig, id_col, n_hashes, bands)
        buckets = history_index.select(id_col, "band", "bh").unionByName(probe)
    cands = probe_candidate_pairs(probe, buckets, id_col)
    return verify_candidates(docs, cands, id_col, text_col, threshold, shingle_k)


def probe_candidate_pairs(
    probe: DataFrame, buckets: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Distinct (d1, d2) pairs (d1 < d2) whose LSH bucket collision
    touches a probe row: the candidate join of the incremental path,
    exposed so callers that manage their own state (the streaming twin)
    can materialize candidates FIRST and semi-join the corpus read to
    the candidate ids before the exact verify."""
    return (
        probe.alias("a")
        .join(
            buckets.alias("b"),
            (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh")),
        )
        .filter(F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("d1"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("d2"),
        )
        .distinct()
    )


#: `estimated_jaccard` refuses corpora above this many signatures —
#: the all-pairs crossJoin is O(n²) by definition and exists only as a
#: small-data diagnostic; at 100k signatures it would already emit
#: ~5e9 pairs. Production near-dup uses the banded nominate path.
MAX_ESTIMATED_JACCARD_SIGNATURES = 20_000


def estimated_jaccard(
    sig: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = DEFAULT_N_HASHES,
    max_signatures: int = MAX_ESTIMATED_JACCARD_SIGNATURES,
) -> DataFrame:
    """All-pairs signature agreement (estimate of J) — diagnostic for
    small data; production uses the banded path above.

    Guarded like ``train_bpe``'s max_vocab: more than
    ``max_signatures`` input rows raises instead of silently planning
    an O(n²) crossJoin over a corpus-sized frame.
    """
    n = sig.limit(max_signatures + 1).count()
    if n > max_signatures:
        raise ValueError(
            f"estimated_jaccard: >{max_signatures} signatures — the "
            "all-pairs crossJoin is a small-data diagnostic; use the "
            "banded candidate_pairs path for corpora, or raise "
            "max_signatures explicitly if you really mean it"
        )
    cols = [f"h{i}" for i in range(n_hashes)]
    a, b = sig.alias("a"), sig.alias("b")
    agree = sum((F.col(f"a.{c}") == F.col(f"b.{c}")).cast("int") for c in cols)
    return (
        a.crossJoin(b)
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("d1"),
            F.col(f"b.{id_col}").alias("d2"),
            (agree / F.lit(n_hashes)).alias("est_jaccard"),
        )
    )
