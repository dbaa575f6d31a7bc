"""Banded random-sign (Rademacher) LSH over embeddings — the
cross-engine-EXACT signature scheme behind the incremental embedding
near-dup path (SURVEY.md §2.2 K-2/K-3; the q_k79 pattern applied to
the embedding space).

Why not the float hyperplanes in operators/ann.py: those are
numpy-seeded Gaussian planes whose sign test rides a float dot
product — fine inside one engine, but irreproducible in a SQL oracle
and, near zero, sensitive to summation order. Here every step is
EXACT INTEGER arithmetic both engines can replay bit-for-bit:

1. quantize: ``w[j] = CAST(ROUND(v[j] * 10^6) AS BIGINT)`` — rounding
   half away from zero, which DuckDB ``ROUND``, Spark ``F.round`` and
   numpy ``floor(|x|+0.5)·sign(x)`` all agree on exactly (the sum
   ``|x|+0.5`` is exact in float64 for |x| < 2^51);
2. sign matrix: ``s[bit][j] = +1`` iff the first md5 hex byte of
   ``"rh:<bit>:<j>"`` is even — Python (hashlib) bakes the ±1s into
   Spark literal arrays, the oracle recomputes them with SQL ``md5``
   (validated identical);
3. projection: ``p[bit] = Σ_j s[bit][j] · w[j]`` — a 64-term integer
   sum, order-free, |p| ≤ 64·10^7 so no overflow;
4. signature bit: ``p > 0``; band ``bit div bits``; in-band bucket
   value ``bh = Σ bit_value << (bit mod bits)``.

Sign-random-projection is the classic SimHash-for-vectors family
(Charikar 2002): P(bit match) = 1 − θ/π for angle θ, so banding
(``bands`` × ``bits``) concentrates high-cosine pairs into shared
(band, bh) buckets and the candidate join is a plain equi-join with
expected bucket mass n/2^bits per band for near-isotropic data — the
nominate-then-rerank shape (nominate by bucket, verify by exact
cosine) that k3 uses for shingles and k106 for audio.

Scheme constants (bands, bits, scale, the "rh" salt) are LAYOUT
constants: a persisted signature index is only probe-compatible with
signatures from the identical scheme, so changing them is a state
rebuild (``streaming.embed_monitor.migrate_embed_layout``).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cdc_publisher_spark.operators.multimodal import _ship_module_by_value

#: Quantization scale: six decimal digits of the embedding survive
#: into the integer projection — far below any meaningful cosine
#: structure, far above float noise.
RH_SCALE = 1_000_000

#: Default banding: 8 bands × 8 bits = 64 signature bits (the SimHash
#: width). 2^8 = 256 buckets/band bounds nominate mass at n²/256 per
#: band for near-isotropic data — a 4-bit variant was tried first and
#: rejected measured: at sf1 (20k vectors) its 16-bucket bands
#: produced ~100M candidate pairs and a 29.6× sf0.1→sf1 wall-clock
#: ratio (SCALING red-flag territory), where 8-bit bands keep the
#: fixture audit non-trivial at every sf AND the candidate mass 16×
#: lower. At truly selective thresholds (cosine ≥ 0.9 production
#: near-dups) the collision probability p^8 concentrates sharply, so
#: the same width serves both regimes; ``bits`` stays a layout
#: constant a deployment tunes with corpus size. Measured tradeoff
#: (r13, sf1 fixtures, n=20k near-isotropic vectors, bands=8):
#: candidate-pair mass counted from the bucket histogram is
#: 7,367,019 at 8 bits -> 579,461 at 12 -> 49,294 at 16 (~12x per
#: +4 bits; theory 16x, sign bits are mildly correlated). The mass
#: is ~n^2*bands/2^(bits+1), i.e. QUADRATIC in n at fixed bits on
#: unstructured data — a deployment picks bits from its corpus size
#: (e.g. 16+ bits at n >= 10^6); the fixture default stays 8 so the
#: sf0.01 audit keeps non-trivial collision structure. Changing bits
#: is a state rebuild (module docstring) and is EXECUTABLE:
#: ``streaming.embed_monitor.migrate_embed_layout`` re-signs the
#: stored vectors at the new scheme offline, replaces the
#: scheme-versioned layout marker (``rows-rh-<bands>x<bits>``), and a
#: stale-scheme consumer then fails loudly instead of silently
#: matching nothing (stream==batch across a mid-stream 8→12 migration
#: is pinned by tests/test_streaming_embed.py).
RH_BANDS = 8
RH_BITS = 8

RH_SALT = "rh"


def rh_sign(bit: int, j: int) -> int:
    """+1/−1 from the md5 parity convention — the Python twin of the
    oracle's ``('0x' || substr(md5('rh:'||bit||':'||j), 1, 2))::UBIGINT
    % 2`` (equality validated in tests)."""
    d = hashlib.md5(f"{RH_SALT}:{bit}:{j}".encode("utf-8")).hexdigest()
    return 1 if int(d[:2], 16) % 2 == 0 else -1


def sign_matrix(n_bits: int, dim: int):
    """The ±1 matrix as numpy int64 (n_bits × dim) — rh_sign baked
    once, shared by every Arrow batch."""
    import numpy as np

    return np.array(
        [[rh_sign(bit, j) for j in range(dim)] for bit in range(n_bits)],
        dtype=np.int64,
    )


def rh_band_rows(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = RH_BANDS,
    bits: int = RH_BITS,
    dim: int = 64,
) -> DataFrame:
    """(id, band, bh): one row per (vector, band) — the bucket rows a
    candidate equi-join (and the persisted streaming index) ride.

    Execution is an Arrow-batched ``mapInPandas`` doing ONE exact
    int64 matmul per batch (W[n×dim] @ S.T[dim×n_bits]) — the
    cosine_pairs_exact/audio-fingerprint convention. A pure-expression
    form was tried first and rejected measured: the higher-order
    ``aggregate(zip_with(...))`` fold ran interpreter-style at
    ~7 ms/vector, and the flattened ``element_at`` tree (2048 leaf
    terms) blew janino's method limits and fell OUT of codegen
    entirely. EXACTNESS is unchanged — quantization rounds half away
    from zero via ``floor(|x|+0.5)·sign(x)`` on doubles (exact for
    |x·10^6| < 2^51, far above any embedding), matching Spark
    ``F.round`` and DuckDB ``ROUND``, and the matmul is integer — so
    the oracle replays it bit-for-bit. Hash-repartitions on the id
    first (the synth_media_from_text rule: Python passes want an even
    spread, not the source's file-driven partitioning)."""
    _ship_module_by_value(__name__)
    n_bits = bands * bits

    def batches(it):
        import numpy as np
        import pandas as pd

        # the sign family is defined for every (bit, j), so a vector of
        # any dimensionality uses its first D columns — built lazily
        # from the observed width (``dim`` is only the default; callers
        # with non-64-dim vectors keep cross-batch consistency for free)
        s_by_dim: dict = {}
        weights = np.array([1 << p for p in range(bits)], dtype=np.int64)
        for pdf in it:
            if not len(pdf):
                continue
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64) * RH_SCALE
            d = v.shape[1]
            if d not in s_by_dim:
                s_by_dim[d] = sign_matrix(n_bits, d).T  # d × n_bits
            w = (np.floor(np.abs(v) + 0.5) * np.sign(v)).astype(np.int64)
            proj = w @ s_by_dim[d]  # n × n_bits, exact int64
            bit_vals = (proj > 0).astype(np.int64).reshape(-1, bands, bits)
            bh = bit_vals @ weights  # n × bands
            ids = pdf[id_col].to_numpy()
            yield pd.DataFrame(
                {
                    id_col: np.repeat(ids, bands),
                    "band": np.tile(np.arange(bands, dtype=np.int32), len(ids)),
                    "bh": bh.reshape(-1),
                }
            )

    from cdc_publisher_spark.operators.layout import aligned_repartition

    return aligned_repartition(
        df.select(id_col, vec_col), id_col
    ).mapInPandas(batches, schema=f"{id_col} long, band int, bh long")


def embedding_neardup_banded(
    vectors: DataFrame,
    threshold: float,
    new_from: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = RH_BANDS,
    bits: int = RH_BITS,
    dim: int = 64,
) -> DataFrame:
    """(i, j, shared_bands, cosine) with i < j: banded random-sign
    candidates (≥ 1 shared (band, bh) bucket) exact-verified at
    ``cosine >= threshold``. With ``new_from``, restricted to pairs
    touching ids ≥ the boundary — the incremental-ingest audit shape
    (q_k79's contract for embeddings): this is the BATCH TWIN of the
    streaming consumer (streaming/embed_monitor.py), which must emit
    exactly this pair set however the corpus is sliced into triggers.

    The candidate join is the nominate stage (bucket-bounded: expected
    mass n/2^bits per band); the verify join-backs ride the row id.
    """
    from cdc_publisher_spark.functions.vectors import cosine_with_norms, l2_norm

    sig = rh_band_rows(vectors, id_col, vec_col, bands, bits, dim)
    a = sig.select(F.col(id_col).alias("i"), "band", "bh")
    b = sig.select(F.col(id_col).alias("j"), "band", "bh")
    cand = (
        a.join(b, ["band", "bh"])
        .filter(F.col("i") < F.col("j"))
        .groupBy("i", "j")
        .agg(F.count("*").cast("long").alias("shared_bands"))
    )
    if new_from is not None:
        cand = cand.filter((F.col("i") >= new_from) | (F.col("j") >= new_from))
    v = vectors.select(
        F.col(id_col).alias("_vid"),
        F.col(vec_col).alias("_v"),
        l2_norm(F.col(vec_col)).alias("_n"),
    )
    scored = (
        cand.join(v.withColumnRenamed("_vid", "i").withColumnRenamed("_v", "_va")
                  .withColumnRenamed("_n", "_na"), "i")
        .join(v.withColumnRenamed("_vid", "j").withColumnRenamed("_v", "_vb")
              .withColumnRenamed("_n", "_nb"), "j")
        .select(
            "i",
            "j",
            "shared_bands",
            cosine_with_norms(
                F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")
            ).alias("_cos"),
        )
    )
    return scored.filter(F.col("_cos") >= threshold).select(
        "i", "j", "shared_bands", F.round("_cos", 4).alias("cosine")
    )


def rh_oracle_sql(
    threshold: float,
    new_from: int | None = None,
    bands: int = RH_BANDS,
    bits: int = RH_BITS,
    dim: int = 64,
    table: str = "embeddings",
) -> str:
    """The DuckDB twin of ``embedding_neardup_banded``: recomputes the
    md5-derived sign matrix, the integer projections, the banded
    buckets, the candidate join, and the cosine verify — candidate set
    equality is EXACT (integer algebra end to end), the reported
    cosine rounds to 4 places (the q_k21 convention)."""
    n_bits = bands * bits
    incr = (
        f"AND (nb.i >= {new_from} OR nb.j >= {new_from})"
        if new_from is not None
        else ""
    )
    return f"""
        WITH v AS (
            SELECT vec_id, embedding::DOUBLE[] e FROM {table}
        ),
        q AS (
            SELECT vec_id,
                   list_transform(e, x -> CAST(ROUND(x * {RH_SCALE}) AS BIGINT)) w
            FROM v
        ),
        proj AS (
            SELECT vec_id, b.bit,
                   SUM(CASE WHEN ('0x' || substr(
                                md5('{RH_SALT}:' || b.bit || ':' || d.j),
                                1, 2))::UBIGINT % 2 = 0
                            THEN w[d.j + 1] ELSE -w[d.j + 1] END) AS s
            FROM q,
                 generate_series(0, {n_bits - 1}) b(bit),
                 generate_series(0, {dim - 1}) d(j)
            GROUP BY 1, 2
        ),
        sig AS (
            SELECT vec_id, CAST(b.bit // {bits} AS INT) AS band,
                   CAST(SUM(CASE WHEN s > 0
                                 THEN (1 << (b.bit % {bits})) ELSE 0 END)
                        AS BIGINT) AS bh
            FROM proj b GROUP BY 1, 2
        ),
        nb AS (
            SELECT a.vec_id i, b.vec_id j,
                   CAST(COUNT(*) AS BIGINT) AS shared_bands
            FROM sig a JOIN sig b ON a.band = b.band AND a.bh = b.bh
                                 AND a.vec_id < b.vec_id
            GROUP BY 1, 2
        ),
        p AS (
            SELECT nb.i, nb.j, nb.shared_bands,
                   list_dot_product(va.e, vb.e)
                     / (sqrt(list_dot_product(va.e, va.e))
                        * sqrt(list_dot_product(vb.e, vb.e))) AS cos
            FROM nb JOIN v va ON va.vec_id = nb.i
                    JOIN v vb ON vb.vec_id = nb.j
            WHERE TRUE {incr}
        )
        SELECT i, j, shared_bands, ROUND(cos, 4) AS cosine
        FROM p WHERE cos >= {threshold}
        ORDER BY i, j
    """


__all__ = [
    "RH_BANDS",
    "RH_BITS",
    "RH_SALT",
    "RH_SCALE",
    "embedding_neardup_banded",
    "rh_band_rows",
    "rh_oracle_sql",
    "rh_sign",
]
