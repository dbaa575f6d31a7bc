"""Connected components over a pair graph — near-dup clusters.

Pair-mining operators (q_k2 Jaccard, q_k3 MinHash, q_k21 embedding
cosine) emit EDGES; an actual dedup pipeline needs CLUSTERS: the
transitive closure of "is a near-dup of", with one canonical document
kept per cluster. This operator labels every node with the minimum id
reachable from it. An edge with a NULL endpoint joins nothing and is
dropped before anything else, so it adds no node.

Two paths, one answer (``tests/test_operators.py`` runs them as twins):

- **Local, up to ``LOCAL_EDGES`` edges.** The edge frame is probed with
  ``limit(LOCAL_EDGES + 1).toPandas()`` — one Arrow collect, and the
  probe is itself the memory guard (at the 5M bound: about 80 MB of
  int64 pairs, a few times that in working arrays). Ids map to dense
  indices with ``np.unique``; min-label propagation over both endpoints
  (``np.minimum.at``) plus pointer jumping (``lab = lab[lab]``) repeats
  to a fixed point, and the labels go back through ``createDataFrame``.
  Near-dup graphs at registered scales hold tens to thousands of edges,
  so the whole closure costs the probe's one Spark job.
- **Distributed, above the bound.** The MapReduce formulation of
  Kiveris et al., "Connected Components in MapReduce and Beyond",
  SoCC'14 (our loop is their hash-to-min variant). It stays because a
  100 TB pair graph does not fit on the driver. Each iteration is one
  equi-join edges⋈labels on node id plus a min-aggregate — uniform
  8-byte shuffle keys, no string payloads, partial aggregation
  map-side. Round count is bounded by the label-propagation diameter of
  the largest component; near-dup graphs are overwhelmingly tiny
  cliques plus short chains, so 2–4 rounds in practice (``max_iter``
  guards pathological chains). Lineage is cut per round with
  ``localCheckpoint`` so the plan does not grow O(iterations) deep, and
  convergence is detected with a single scalar aggregate (labels only
  ever decrease, so sum(label) is a strictly decreasing monotone —
  unchanged sum ⟺ fixed point) rather than a diff join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

#: Edge count up to which the closure runs on the driver.
LOCAL_EDGES = 5_000_000


def _edge_frame(edges: DataFrame, src: str, dst: str) -> DataFrame:
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    return e.filter(F.col("a").isNotNull() & F.col("b").isNotNull())


def _symmetric(e: DataFrame) -> DataFrame:
    return e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))


def _local_labels(e: DataFrame):
    """(nodes, lab) from one bounded collect, or None above
    ``LOCAL_EDGES``: ``nodes`` the sorted distinct ids, ``lab[k]`` the
    dense index of the smallest node in node k's component."""
    probe = e.limit(LOCAL_EDGES + 1).toPandas()
    if len(probe) > LOCAL_EDGES:
        return None
    a, b = probe["a"].to_numpy(), probe["b"].to_numpy()
    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    u, v = inv[: len(a)], inv[len(a) :]
    lab = np.arange(len(nodes))
    while True:
        prev = lab.copy()
        np.minimum.at(lab, u, lab[v])
        np.minimum.at(lab, v, lab[u])
        while not np.array_equal(jumped := lab[lab], lab):
            lab = jumped
        if np.array_equal(lab, prev):
            return nodes, lab


def _local_frame(e: DataFrame, columns: dict) -> DataFrame:
    """``columns`` (name -> array) as a frame: ``csize`` is bigint, every
    other column keeps the edge frame's id type."""
    id_type = _symmetric(e).schema["a"].dataType
    schema = StructType(
        [StructField(c, LongType() if c == "csize" else id_type) for c in columns]
    )
    return e.sparkSession.createDataFrame(pd.DataFrame(columns), schema)


def _hash_to_min(e: DataFrame, max_iter: int) -> DataFrame:
    """(id, cluster_id) by the distributed loop (module docstring)."""
    sym = _symmetric(e).distinct()
    sym = sym.localCheckpoint(eager=True)  # reused every round — scan once
    labels = (
        sym.select(F.col("a").alias("id")).distinct().withColumn("lab", F.col("id"))
    ).localCheckpoint(eager=True)
    # exact, so ids near ±2^62 cannot overflow the ANSI long sum
    label_sum = F.sum(F.col("lab").cast("decimal(38,0)"))
    prev_sum = labels.agg(label_sum).first()[0]
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym["a"] == labels["id"])
            .groupBy(F.col("b").alias("id"))
            .agg(F.min("lab").alias("nlab"))
        )
        labels = (
            labels.join(nbr_min, "id", "left")
            .select("id", F.least("lab", F.coalesce("nlab", "lab")).alias("lab"))
            .localCheckpoint(eager=True)
        )
        cur_sum = labels.agg(label_sum).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select("id", F.col("lab").alias("cluster_id"))


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 50
) -> DataFrame:
    """(id, cluster_id) for every node in ``edges``; cluster_id is the
    min node id in the component. Edges with a NULL endpoint are
    dropped first, so NULL is never a node."""
    e = _edge_frame(edges, src, dst)
    local = _local_labels(e)
    if local is None:
        return _hash_to_min(e, max_iter)
    nodes, lab = local
    return _local_frame(e, {"id": nodes, "cluster_id": nodes[lab]})


def neardup_clusters(
    pairs: DataFrame, left: str = "d1", right: str = "d2", max_iter: int = 50
) -> DataFrame:
    """(doc_id, cluster_id, csize) from a near-dup pair list; the
    canonical keeper per cluster is ``cluster_id`` itself (min doc_id).
    Pairs with a NULL side are dropped, as in ``connected_components``."""
    e = _edge_frame(pairs, left, right)
    local = _local_labels(e)
    if local is None:
        cc = _hash_to_min(e, max_iter)
        sizes = cc.groupBy("cluster_id").agg(F.count("*").alias("csize"))
        return cc.join(sizes, "cluster_id").select(
            F.col("id").alias("doc_id"), "cluster_id", "csize"
        )
    nodes, lab = local
    return _local_frame(
        e, {"doc_id": nodes, "cluster_id": nodes[lab], "csize": np.bincount(lab)[lab]}
    )
