"""SemDeDup — cluster-scoped semantic deduplication (SURVEY.md §2.2
K-2 embedding-cosine dedup, the 100 TB path).

Method (Abbas et al., "SemDeDup: Data-efficient learning at web-scale
through semantic deduplication", 2023): instead of mining cosine
near-dup pairs over all O(n²) embedding pairs, first quantize the
corpus with k-means (the IVF index from ``operators/ivf.py`` — seeded
k-means++ trained on a hash-bounded sample, assignment fully
distributed and expression-only), then score pairs ONLY
within each cluster. Cost drops from |C|² to Σ|cluster|², i.e. ~|C|²/k
for balanced clusters — the difference between impossible and routine
at web scale.

Pipeline, all DataFrame ops:

1. ``build_ivf`` assigns every vector a ``list_id`` (one k-means fit +
   one projection; the centroid table is tiny and broadcast).
2. Within-cluster pair scoring: ``groupBy(list_id).applyInPandas`` —
   one Arrow-batched (n_c x n_c) BLAS gram matrix per cluster, each
   vector shuffled exactly once. ``n_lists`` scales with the corpus
   (TARGET_LIST_ROWS) so per-cluster work stays constant as data
   grows.
3. Transitive closure via ``neardup_clusters`` (a numpy label pass
   after one Arrow collect up to ``components.LOCAL_EDGES`` pairs, the
   distributed hash-to-min loop above), so a chain a~b~c collapses to
   ONE keeper even when cos(a,c) < threshold.
4. Keeper = min vec_id per component (deterministic; SemDeDup's
   "keep one representative per duplicate group").

Relationship to the exact path: q_k21 (``cosine_pairs_exact``) is the
all-pairs ground truth this approximates; recall against it is pinned
by ``tests/test_operators.py::test_semantic_dedup_*`` the same way the
LSH miner is. Pairs found here are always TRUE near-dups (cosine is
recomputed exactly on candidates), so precision is 1 by construction —
clustering only affects recall.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdc_publisher_spark.operators.components import neardup_clusters
from cdc_publisher_spark.operators.ivf import build_ivf

#: Adaptive cluster-count target: n_lists defaults to ~corpus/this, so
#: average cluster size — and with it the within-cluster pair count
#: (n x target/2) and the self-join's shuffle-key cardinality — stays
#: FIXED as the corpus grows. A constant n_lists is the quadratic trap:
#: at 10x the data each cluster is 10x bigger, pair work 100x, all of
#: it funneled through n_lists shuffle keys.
TARGET_LIST_ROWS = 256

#: Centroid-table ceiling: the k-means fit and the broadcast centroid
#: matrix stay driver-bounded. Past this, pair work grows linearly
#: again (corpus/4096 rows per cluster) — the signal to shard the
#: corpus and run one SemDeDup per shard, as the paper does.
MAX_LISTS = 4096


def _adaptive_lists(n: int) -> int:
    return max(8, min(MAX_LISTS, -(-n // TARGET_LIST_ROWS)))


def semantic_dedup_pairs(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """(i, j, cosine) near-dup pairs with cosine >= threshold, scored
    within k-means clusters only. i < j; cosines are exact.

    ``n_lists=None`` (default) scales the cluster count with the
    corpus (see TARGET_LIST_ROWS) so pair work stays ~n x constant."""
    n = corpus.count()
    if n == 0:  # k-means cannot fit on zero rows
        return corpus.sparkSession.createDataFrame(
            [], "i bigint, j bigint, cosine double"
        )
    if n_lists is None:
        n_lists = _adaptive_lists(n)
    index = build_ivf(
        corpus, id_col=id_col, vec_col=vec_col, n_lists=n_lists, seed=seed, n_rows=n
    )
    if n_lists <= SMALL_CORPUS_LISTS:
        # small corpora (n <= ~SMALL_CORPUS_LISTS x TARGET_LIST_ROWS):
        # the pure-JVM join+fold scorer beats the Arrow kernel's Python
        # round-trip; pair volume is bounded so the interpreted cosine
        # cost never dominates. Both scorers are pinned identical in
        # tests/test_operators.py.
        return _within_cluster_pairs_expr(index.corpus, threshold, id_col, vec_col)
    return _within_cluster_pairs(index.corpus, threshold, id_col, vec_col)


#: At or below this many lists the within-cluster scorer stays
#: expression-side (JVM join + fold cosine): with the adaptive default
#: that means corpora up to ~16 x TARGET_LIST_ROWS vectors, where the
#: Arrow kernel's worker round-trip costs more than it saves.
SMALL_CORPUS_LISTS = 16


def _within_cluster_pairs_expr(
    indexed: DataFrame, threshold: float, id_col: str, vec_col: str
) -> DataFrame:
    """Small-corpus twin of :func:`_within_cluster_pairs`: self
    equi-join on list_id with i < j, fold-expression cosine. Identical
    output; chosen only when pair volume is bounded (see
    SMALL_CORPUS_LISTS)."""
    from cdc_publisher_spark.functions.vectors import cosine_with_norms

    a = indexed.select(
        F.col("list_id"),
        F.col(id_col).alias("i"),
        F.col(vec_col).alias("av"),
        F.col("norm").alias("an"),
    )
    b = indexed.select(
        F.col("list_id"),
        F.col(id_col).alias("j"),
        F.col(vec_col).alias("bv"),
        F.col("norm").alias("bn"),
    )
    return (
        a.join(b, "list_id")
        .filter(F.col("i") < F.col("j"))
        .select(
            "i",
            "j",
            cosine_with_norms(F.col("av"), F.col("bv"), F.col("an"), F.col("bn")).alias(
                "cosine"
            ),
        )
        .filter(F.col("cosine") >= threshold)
    )


def _within_cluster_pairs(
    indexed: DataFrame, threshold: float, id_col: str, vec_col: str
) -> DataFrame:
    """(i, j, cosine) with cosine >= threshold and i < j, scored inside
    each list only: groupBy(list_id).applyInPandas, ONE (n_c x n_c)
    BLAS gram matrix per cluster. The shuffle moves each vector once
    (key = list_id, ~TARGET_LIST_ROWS rows per task by construction);
    the previous formulation — a self equi-join scoring every pair via
    a fold-expression cosine — moved the same bytes but paid an
    interpreted k x dim higher-order-function walk PER PAIR, ~100x the
    arithmetic cost of the matmul and concentrated on n_lists shuffle
    keys. numpy float64 matches the expression cosine's double
    arithmetic to FP-noise (q_k35's independent 4 dp re-score audits
    exactly this)."""
    import numpy as np
    import pandas as pd

    def score(pdf: "pd.DataFrame") -> "pd.DataFrame":
        n_c = len(pdf)
        if n_c < 2:
            return pd.DataFrame({"i": [], "j": [], "cosine": []}).astype(
                {"i": "int64", "j": "int64", "cosine": "float64"}
            )
        ids = pdf[id_col].to_numpy()
        mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        norms = pdf["norm"].to_numpy(dtype=np.float64)
        sims = (mat @ mat.T) / np.outer(norms, norms)
        iu, ju = np.triu_indices(n_c, 1)
        keep = sims[iu, ju] >= threshold
        iu, ju = iu[keep], ju[keep]
        a, b = ids[iu], ids[ju]
        return pd.DataFrame(
            {
                "i": np.minimum(a, b),
                "j": np.maximum(a, b),
                "cosine": sims[iu, ju],
            }
        )

    return (
        indexed.select("list_id", F.col(id_col), F.col(vec_col), "norm")
        .groupBy("list_id")
        .applyInPandas(score, "i bigint, j bigint, cosine double")
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int | None = None,
    seed: int = 42,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """(vec_id, cluster_id, keep) for EVERY corpus vector: near-dup
    components labeled by their min member, ``keep`` true for the one
    kept representative per component (singletons always keep).

    ``pairs``: pass a precomputed ``semantic_dedup_pairs`` result to
    reuse one k-means index across pair mining and closure (a caller
    auditing both, like q_k35, would otherwise fit and assign twice)."""
    if pairs is None:
        pairs = semantic_dedup_pairs(
            corpus, threshold, id_col=id_col, vec_col=vec_col, n_lists=n_lists, seed=seed
        )
    clustered = neardup_clusters(pairs, left="i", right="j").select(
        F.col("doc_id").alias(id_col), "cluster_id"
    )
    return (
        corpus.select(id_col)
        .join(clustered, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("cluster_id"),
            (
                F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col(id_col))
            ).alias("keep"),
        )
    )


def diversity_sample(
    corpus: DataFrame,
    per_cluster: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Cluster-balanced subsampling: k-means-quantize the corpus, keep
    at most ``per_cluster`` vectors per cluster, chosen by a
    deterministic content hash (not input order). Where uniform random
    sampling over-represents dense regions, this caps every mode's
    contribution — the diversity-preserving counterpart to q_k31's
    by-source stratification. One k-means fit + one partitioned
    row_number; no global ordering anywhere."""
    from pyspark.sql import Window as W

    n = corpus.count()
    if n == 0:
        return corpus.sparkSession.createDataFrame(
            [], f"{id_col} bigint, list_id int, keep boolean"
        )
    if n_lists is None:
        n_lists = _adaptive_lists(n)
    index = build_ivf(
        corpus, id_col=id_col, vec_col=vec_col, n_lists=n_lists, seed=seed, n_rows=n
    )
    w = W.partitionBy("list_id").orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
    return (
        index.corpus.withColumn("_rk", F.row_number().over(w))
        .select(
            F.col(id_col),
            F.col("list_id").cast("int").alias("list_id"),
            (F.col("_rk") <= per_cluster).alias("keep"),
        )
    )
