"""Family K extensions: embedding-cosine near-dup pairs and near-dup
cluster assignment (pairs -> connected components -> canonical doc).

q_k21 completes the dedup-method family from SURVEY.md §2.2 K-2
(exact hash, shingle-Jaccard, MinHash+LSH, SimHash, and now
embedding-cosine): exact pairs are the registered oracle twin, the
LSH-bucketed scale path lives in operators/ann.py with a recall test.

q_k22 is the step every real dedup pipeline runs after pair mining:
transitive closure of the pair graph, labeling each document with its
cluster's minimum doc_id (= the canonical keeper). The DuckDB oracle
computes the same closure with a recursive CTE, so the cluster
assignment itself is hash-checked, not just its size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from cdc_publisher_spark.functions import text as TX
from cdc_publisher_spark.operators.ann import cosine_pairs_exact
from cdc_publisher_spark.operators.components import neardup_clusters
from cdc_publisher_spark.registry import register, track_persist
from cdc_publisher_spark.tables import load

#: All-pairs max cosine in the synthetic embeddings is ~0.513 (random
#: vectors — no true near-dups), so 0.42 captures a stable ~34-pair
#: tail; the nearest value below threshold is 0.4183, three orders of
#: magnitude beyond cross-engine float noise.
NEARDUP_COS_THRESHOLD = 0.42


@register(
    "q_k21_embedding_neardup",
    family="K",
    bench=True,  # regression-visibility for the Arrow/BLAS mapInPandas path
    doc="K-2 embedding-cosine near-dup: exact (i, j, cosine) pairs with "
    "cosine >= 0.42 via bounded-tile block matmul (operators/ann.py "
    "cosine_pairs_exact — driver memory O(tile_rows·d), never a full-"
    "corpus collect). Oracle twin of the LSH-bucketed scale path "
    "(cosine_pairs_lsh, recall-tested).",
    oracle="""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] e FROM embeddings),
        p AS (
            SELECT a.vec_id i, b.vec_id j,
                   list_dot_product(a.e, b.e)
                     / (sqrt(list_dot_product(a.e, a.e))
                        * sqrt(list_dot_product(b.e, b.e))) AS cos
            FROM v a JOIN v b ON a.vec_id < b.vec_id
        )
        SELECT i, j, ROUND(cos, 4) AS cosine
        FROM p WHERE cos >= 0.42
        ORDER BY i, j
    """,
)
def q_k21_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread=True (r16 sf1 audit): the exact cosine pair mine is pure
    # per-row compute off a single-task scan — 0.27 at sf1 / 0.92 at
    # sf0.1 with the keyed spread (the largest win of the audit).
    e = load(spark, sf_dir, "embeddings", spread=True)
    return cosine_pairs_exact(e, NEARDUP_COS_THRESHOLD).orderBy("i", "j")


@register(
    "q_k22_neardup_clusters",
    family="K",
    doc="K-2 near-dup clusters: connected components over the q_k2 "
    "Jaccard pair graph (operators/components.py: min-label "
    "propagation with pointer jumping in numpy after one Arrow collect "
    "up to LOCAL_EDGES pairs, the distributed hash-to-min loop above "
    "it). Each clustered doc "
    "gets (cluster_id = min doc_id in component, csize); the oracle "
    "recomputes the closure with a recursive CTE.",
    oracle="""
        WITH RECURSIVE
        w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
        sh AS (
            SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
            FROM w CROSS JOIN generate_series(1, 100000) g(i)
            WHERE i + 2 <= len(ws)
        ),
        sz AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id d1, b.doc_id d2, COUNT(*) i
            FROM sh a JOIN sh b USING (s)
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        pairs AS (
            SELECT d1, d2 FROM inter
            JOIN sz s1 ON s1.doc_id = d1
            JOIN sz s2 ON s2.doc_id = d2
            WHERE i * 1.0 / (s1.n + s2.n - i) >= 0.5
        ),
        edges AS (SELECT d1 a, d2 b FROM pairs UNION SELECT d2, d1 FROM pairs),
        nodes AS (SELECT DISTINCT a AS id FROM edges),
        reach(id, lab) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.id
        ),
        cc AS (SELECT id, MIN(lab) AS cluster_id FROM reach GROUP BY id)
        SELECT id AS doc_id, cluster_id,
               CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS csize
        FROM cc ORDER BY doc_id
    """,
)
def q_k22_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tok = TX.shingle_rows(docs, "doc_id", "text", 3, hashed=True)
    sizes = tok.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        tok.alias("a")
        .join(tok.alias("b"), "s")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count("*").alias("i"))
    )
    pairs = (
        inter.join(sizes.alias("s1"), F.col("d1") == F.col("s1.doc_id"))
        .join(sizes.alias("s2"), F.col("d2") == F.col("s2.doc_id"))
        .filter(F.col("i") * 1.0 / (F.col("s1.n") + F.col("s2.n") - F.col("i")) >= 0.5)
        .select("d1", "d2")
    )
    return neardup_clusters(pairs).orderBy("doc_id")


@register(
    "q_k34_block_topk",
    family="K",
    bench=True,  # the BLAS nominate path is the one most likely to rot
    doc="K-3 exact top-k via block matmul (operators/ann.py block_topk): "
    "per-partition numpy matmul nominates top-(k+pad) candidates, a "
    "global fold-expression re-rank orders them — same answers as "
    "brute force at a fraction of the pair-scoring cost once the "
    "query block grows past a handful of vectors.",
    oracle="""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] e FROM embeddings),
        q AS (SELECT * FROM v WHERE vec_id < 20),
        c AS (SELECT * FROM v WHERE vec_id >= 20),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                   list_dot_product(q.e, c.e)
                     / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))) AS cos,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_dot_product(q.e, c.e)
                                / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))) DESC,
                                c.vec_id) AS rk
            FROM q CROSS JOIN c
        )
        SELECT query_id, cand_id, ROUND(cos, 4) AS cosine, rk
        FROM scored WHERE rk <= 10
        ORDER BY query_id, rk
    """,
)
def q_k34_block_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_publisher_spark.operators.ann import block_topk

    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    c = e.filter(F.col("vec_id") >= 20)
    return block_topk(c, q, k=10).orderBy("query_id", "rk")


@register(
    "q_k35_semantic_dedup",
    family="K",
    bench=True,  # k-means + closure path: regression visibility
    doc="K-2 SemDeDup (Abbas et al. 2023): k-means-cluster-scoped "
    "semantic dedup — pair scoring only within IVF clusters "
    "(operators/semdedup.py), transitive closure, one keeper per "
    "component. K-means centroids are not SQL-reproducible, so the "
    "registered form emits the method's oracle-checkable INVARIANTS: "
    "corpus count (SQL), a clean keep/drop partition, keeper = min "
    "member per component, every dropped vector's keeper kept and "
    "smaller, and precision audited by independently re-scoring a "
    "deterministic hash-sample of the mined pairs straight from the "
    "raw embeddings table — O(|sample|·d), NEVER the O(n²) exact "
    "miner (that audit, plus the >=0.15 recall floor vs "
    "cosine_pairs_exact, is pytest-only: "
    "tests/test_operators.py::test_semantic_dedup_*). The full "
    "per-vector assignment is semantic_dedup.",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
               TRUE AS partition_ok,
               TRUE AS precision_ok,
               TRUE AS closure_ok,
               TRUE AS keeper_ok
        FROM embeddings
    """,
)
def q_k35_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_publisher_spark.functions.vectors import cosine
    from cdc_publisher_spark.operators.semdedup import (
        semantic_dedup,
        semantic_dedup_pairs,
    )

    e = load(spark, sf_dir, "embeddings")
    thr = NEARDUP_COS_THRESHOLD
    # mine once, cache the (small) pair set: the closure and the audit
    # both read it, and without the cache every reference re-runs the
    # k-means fit + within-cluster join
    mined = track_persist(
        semantic_dedup_pairs(e, thr), level=StorageLevel.MEMORY_AND_DISK
    )
    sd = semantic_dedup(e, thr, pairs=mined)

    n_vec = e.agg(F.count("*").alias("_n_vec"))
    part = sd.agg(
        F.count("*").alias("_n_rows"),
        F.countDistinct("vec_id").alias("_n_ids"),
        F.coalesce(
            F.bool_and(F.col("keep") == (F.col("vec_id") == F.col("cluster_id"))),
            F.lit(True),
        ).alias("keeper_ok"),
    )
    # Precision: a deterministic ~1/4 hash-sample of mined pairs,
    # re-scored from the RAW embeddings table (independent lineage from
    # the IVF-normed frame the miner used). Cluster scoping can only
    # lose pairs, never invent them — every sampled pair must clear the
    # threshold under the independent cosine, and match the miner's
    # value to 4 dp.
    ev = e.select("vec_id", "embedding")
    sampled = mined.filter(F.pmod(F.xxhash64("i", "j"), F.lit(4)) == 0)
    rescored = (
        sampled.join(
            ev.select(F.col("vec_id").alias("i"), F.col("embedding").alias("_vi")), "i"
        )
        .join(
            ev.select(F.col("vec_id").alias("j"), F.col("embedding").alias("_vj")), "j"
        )
        .select(cosine(F.col("_vi"), F.col("_vj")).alias("_cos"), "cosine")
    )
    prec = rescored.agg(
        F.coalesce(
            F.bool_and(
                (F.col("_cos") >= thr)
                & (F.round("_cos", 4) == F.round("cosine", 4))
            ),
            F.lit(True),
        ).alias("precision_ok")
    )
    # Closure: every dropped vector points at a keeper that is itself
    # kept and strictly smaller (min-member canonicalization).
    keepers = sd.filter(F.col("keep")).select(
        F.col("vec_id").alias("cluster_id"), F.lit(True).alias("_kept")
    )
    closure = (
        sd.filter(~F.col("keep"))
        .join(keepers, "cluster_id", "left")
        .agg(
            F.coalesce(
                F.bool_and(
                    F.col("_kept").isNotNull()
                    & (F.col("cluster_id") < F.col("vec_id"))
                ),
                F.lit(True),
            ).alias("closure_ok")
        )
    )
    return (
        n_vec.crossJoin(part)
        .crossJoin(prec)
        .crossJoin(closure)
        .select(
            F.col("_n_vec").alias("n_vectors"),
            (
                (F.col("_n_rows") == F.col("_n_vec"))
                & (F.col("_n_ids") == F.col("_n_vec"))
            ).alias("partition_ok"),
            "precision_ok",
            "closure_ok",
            "keeper_ok",
        )
    )


@register(
    "q_k37_embedding_decontamination",
    family="K",
    doc="Benchmark-vs-train embedding contamination: exact cosine pairs "
    ">= 0.40 between the benchmark block (vec_id < 50, broadcast "
    "inside a mapInPandas closure) and the train corpus — one corpus "
    "pass, one matmul per partition, no shuffle (operators/ann.py "
    "bipartite_cosine_pairs). The embedding twin of q_k19's n-gram "
    "decontamination.",
    oracle="""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] e FROM embeddings),
        q AS (SELECT * FROM v WHERE vec_id < 50),
        c AS (SELECT * FROM v WHERE vec_id >= 50),
        p AS (
            SELECT q.vec_id AS bench_id, c.vec_id AS train_id,
                   list_dot_product(q.e, c.e)
                     / (sqrt(list_dot_product(q.e, q.e))
                        * sqrt(list_dot_product(c.e, c.e))) AS cos
            FROM q CROSS JOIN c
        )
        SELECT bench_id, train_id, ROUND(cos, 4) AS cosine
        FROM p WHERE cos >= 0.40
        ORDER BY bench_id, train_id
    """,
)
def q_k37_embedding_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_publisher_spark.operators.ann import bipartite_cosine_pairs

    e = load(spark, sf_dir, "embeddings")
    bench = e.filter(F.col("vec_id") < 50)
    train = e.filter(F.col("vec_id") >= 50)
    return bipartite_cosine_pairs(train, bench, 0.40).orderBy("bench_id", "train_id")


@register(
    "q_k40_ivf_ann",
    family="K",
    bench=True,  # k-means quantize + nprobe scan: regression visibility
    doc="K-3 IVF-Flat ANN (operators/ivf.py): sample-trained k-means centroids "
    "quantize the corpus into lists; queries probe the nprobe nearest "
    "lists only — the data-adaptive alternative to the LSH path "
    "(q_k12). K-means centroids are not SQL-reproducible, so the "
    "registered form emits per-query INVARIANTS the oracle asserts: "
    "k neighbors returned and the worst returned cosine within 0.05 "
    "of the exact 10th-best (brute-force twin in the same plan, "
    "nprobe=6/16). The gap invariant holds on the fixtures "
    "tools/gen_sf.py writes (seed 42); on sf0.01 data generated with "
    "seed 1, 4 or 11 in its place (of seeds 1-12) it fails. Raw "
    "neighbor lists: "
    "ivf_topk; recall floor pytest'd (test_ivf_topk_recall).",
    oracle="""
        SELECT vec_id AS query_id,
               CAST(10 AS BIGINT) AS n_returned,
               TRUE AS value_gap_le_005
        FROM embeddings WHERE vec_id < 5
        ORDER BY query_id
    """,
)
def q_k40_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_publisher_spark.operators.ann import brute_force_topk
    from cdc_publisher_spark.operators.ivf import build_ivf, ivf_topk

    # spread=True (r16 sf1 audit): 0.40 at sf1, ~parity (1.04) at
    # sf0.1 — the probe-bounded scoring is per-row compute off a
    # single-task scan.
    e = load(spark, sf_dir, "embeddings", spread=True)
    corpus = e.filter(F.col("vec_id") >= 5)
    queries = e.filter(F.col("vec_id") < 5)
    index = build_ivf(corpus, n_lists=16)
    approx = ivf_topk(index, queries, k=10, nprobe=6)
    exact_kth = (
        brute_force_topk(corpus, queries, k=10)
        .filter(F.col("rk") == 10)
        .select("query_id", F.col("cosine").alias("_kth"))
    )
    return (
        approx.groupBy("query_id")
        .agg(F.count("*").alias("n_returned"), F.min("cosine").alias("_worst"))
        .join(F.broadcast(exact_kth), "query_id")
        .select(
            "query_id",
            "n_returned",
            (F.col("_worst") >= F.col("_kth") - 0.05).alias("value_gap_le_005"),
        )
        .orderBy("query_id")
    )


@register(
    "q_k41_language_id",
    family="K",
    tags=("stat_floor",),
    doc="n-gram language identification (operators/langid.py): "
    "trigram-frequency profiles fitted per lang label (bounded "
    "driver-side collect, <= PROFILE_SIZE x langs rows), then a pure-"
    "expression cosine-vs-profile classifier over the corpus — no UDF "
    "in the scoring path. The profile fit is not SQL-reproducible, so "
    "the registered form emits the confusion matrix's oracle-"
    "checkable INVARIANTS per true lang: the row sum (= docs per "
    "lang, SQL-reproducible — every doc classified exactly once) and "
    "accuracy above the 0.28 floor (measured 0.32-0.47 vs 0.25 "
    "chance on the sf0.01 synthetic corpus; the floor does not hold "
    "at sf0.001 or sf0.1, hence the stat_floor tag). Full confusion matrix + "
    "determinism pinned in tests/test_operators.py::test_langid_*.",
    oracle="""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               TRUE AS accuracy_gt_chance
        FROM documents
        GROUP BY lang
        ORDER BY lang
    """,
)
def q_k41_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_publisher_spark.operators.langid import classify, fit_profiles

    docs = load(spark, sf_dir, "documents")
    profiles = fit_profiles(docs)
    return (
        classify(docs, profiles)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            (
                F.count_if(F.col("lang_pred") == F.col("lang")) * 1.0 / F.count("*")
                >= 0.28
            ).alias("accuracy_gt_chance"),
        )
        .orderBy("lang")
    )


@register(
    "q_k42_diversity_sample",
    family="K",
    doc="Cluster-balanced diversity sampling (operators/semdedup.py "
    "diversity_sample): cap each k-means cluster's contribution at 32 "
    "vectors, chosen by content hash — dense modes stop dominating "
    "the subsample. K-means assignments are not SQL-reproducible, so "
    "the registered form emits the sampler's oracle-checkable "
    "INVARIANTS: corpus count (SQL), every vector assigned exactly "
    "once (partition_ok), per-cluster keeps == min(32, cluster size) "
    "(quota_ok), and every non-empty cluster represented "
    "(coverage_ok). Per-row determinism pinned in "
    "tests/test_operators.py.",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
               TRUE AS partition_ok,
               TRUE AS quota_ok,
               TRUE AS coverage_ok
        FROM embeddings
    """,
)
def q_k42_diversity_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_publisher_spark.operators.semdedup import diversity_sample

    e = load(spark, sf_dir, "embeddings")
    # ONE k-means fit (build_ivf collects its bounded sample eagerly
    # and embeds the centroids as plan literals), so re-evaluating the
    # assignment per audit consumer is deterministic — each consumer
    # re-scans rather than pinning a per-vector frame in the block
    # manager (r7 tripwire triage: scan twice beats O(corpus) persist)
    ds = diversity_sample(e, per_cluster=32)
    per_cluster = ds.groupBy("list_id").agg(
        F.count("*").alias("_size"),
        F.count_if(F.col("keep")).alias("_kept"),
    )
    quotas = per_cluster.agg(
        F.coalesce(
            F.bool_and(F.col("_kept") == F.least(F.lit(32), F.col("_size"))),
            F.lit(True),
        ).alias("quota_ok"),
        F.coalesce(F.bool_and(F.col("_kept") >= 1), F.lit(True)).alias("coverage_ok"),
    )
    counts = ds.agg(
        F.count("*").alias("_n_rows"), F.countDistinct("vec_id").alias("_n_ids")
    )
    n_vec = e.agg(F.count("*").alias("_n_vec"))
    return (
        n_vec.crossJoin(counts)
        .crossJoin(quotas)
        .select(
            F.col("_n_vec").alias("n_vectors"),
            (
                (F.col("_n_rows") == F.col("_n_vec"))
                & (F.col("_n_ids") == F.col("_n_vec"))
            ).alias("partition_ok"),
            "quota_ok",
            "coverage_ok",
        )
    )


@register(
    "q_k45_pq_ann",
    family="K",
    bench=True,  # codebook fit + ADC scan path: regression visibility
    doc="K-3 product-quantization ANN (operators/pq.py): seeded "
    "per-subspace codebooks compress each 64-dim vector to 8 codes "
    "(32x fewer scan bytes); queries score the compressed corpus via "
    "ADC lookup-table gathers in one mapInPandas pass, then the "
    "nominated candidates are exactly re-ranked on the raw vectors. "
    "K-means codebooks are not SQL-reproducible, so the registered "
    "form emits per-query INVARIANTS the oracle asserts: k neighbors "
    "returned and the worst returned cosine within 0.08 of the exact "
    "10th-best (brute-force twin in the same plan; measured worst "
    "gap 0.049). Raw neighbor lists: pq_topk; recall floor pytest'd "
    "(test_pq_topk_recall).",
    oracle="""
        SELECT vec_id AS query_id,
               CAST(10 AS BIGINT) AS n_returned,
               TRUE AS value_gap_le_008
        FROM embeddings WHERE vec_id < 5
        ORDER BY query_id
    """,
)
def q_k45_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_publisher_spark.operators.ann import brute_force_topk
    from cdc_publisher_spark.operators.pq import encode_pq, pq_topk, train_pq

    e = load(spark, sf_dir, "embeddings")
    corpus = e.filter(F.col("vec_id") >= 5)
    queries = e.filter(F.col("vec_id") < 5)
    cb = train_pq(corpus, m=8, n_codes=16)
    encoded = encode_pq(corpus, cb)
    approx = pq_topk(corpus, encoded, cb, queries, k=10)
    exact_kth = (
        brute_force_topk(corpus, queries, k=10)
        .filter(F.col("rk") == 10)
        .select("query_id", F.col("cosine").alias("_kth"))
    )
    return (
        approx.groupBy("query_id")
        .agg(F.count("*").alias("n_returned"), F.min("cosine").alias("_worst"))
        .join(F.broadcast(exact_kth), "query_id")
        .select(
            "query_id",
            "n_returned",
            (F.col("_worst") >= F.col("_kth") - 0.08).alias("value_gap_le_008"),
        )
        .orderBy("query_id")
    )


# --------------------------------------------------------------------------
# q_k92 — dedup savings forecast (cluster-size histogram + token mass)
# --------------------------------------------------------------------------
@register(
    "q_k92_dedup_savings",
    family="K",
    doc="K-92 dedup savings forecast: the capacity-planning question a "
    "curation run answers BEFORE deleting anything — roll q_k22's "
    "near-dup transitive closure up to a cluster-size histogram with "
    "exact token mass: per csize, how many clusters/docs exist, how "
    "many docs are removable (keep the canonical min-doc_id per "
    "cluster, q_k22's keeper convention), and how many tokens the "
    "removal reclaims. All-integer output (no float canonicalization "
    "needed). SCALE: the closure is q_k22's (operators/components.py: "
    "one Arrow collect and a numpy label pass up to LOCAL_EDGES pairs, "
    "the distributed hash-to-min loop above); everything after is one "
    "cluster-keyed "
    "and one csize-keyed aggregate over the clustered docs only "
    "(O(docs-in-clusters), not corpus).",
    oracle="""
        WITH RECURSIVE
        w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
        sh AS (
            SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
            FROM w CROSS JOIN generate_series(1, 100000) g(i)
            WHERE i + 2 <= len(ws)
        ),
        sz AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id d1, b.doc_id d2, COUNT(*) i
            FROM sh a JOIN sh b USING (s)
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        pairs AS (
            SELECT d1, d2 FROM inter
            JOIN sz s1 ON s1.doc_id = d1
            JOIN sz s2 ON s2.doc_id = d2
            WHERE i * 1.0 / (s1.n + s2.n - i) >= 0.5
        ),
        edges AS (SELECT d1 a, d2 b FROM pairs UNION SELECT d2, d1 FROM pairs),
        nodes AS (SELECT DISTINCT a AS id FROM edges),
        reach(id, lab) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.id
        ),
        cc AS (SELECT id, MIN(lab) AS cluster_id FROM reach GROUP BY id),
        t AS (
            SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS t
            FROM documents
        ),
        pc AS (
            SELECT cc.cluster_id,
                   CAST(COUNT(*) AS BIGINT) AS csize,
                   CAST(SUM(t.t) AS BIGINT) AS tokens_total,
                   CAST(SUM(CASE WHEN cc.id <> cc.cluster_id THEN t.t
                            ELSE 0 END) AS BIGINT) AS tokens_dup
            FROM cc JOIN t ON t.doc_id = cc.id
            GROUP BY cc.cluster_id
        )
        SELECT csize,
               CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(SUM(csize) AS BIGINT) AS n_docs,
               CAST(SUM(csize) - COUNT(*) AS BIGINT) AS removable_docs,
               CAST(SUM(tokens_total) AS BIGINT) AS tokens_total,
               CAST(SUM(tokens_dup) AS BIGINT) AS tokens_reclaimed
        FROM pc
        GROUP BY csize
        ORDER BY csize
    """,
)
def q_k92_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_publisher_spark.functions.text import words

    docs = load(spark, sf_dir, "documents")
    tok = TX.shingle_rows(docs, "doc_id", "text", 3, hashed=True)
    sizes = tok.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        tok.alias("a")
        .join(tok.alias("b"), "s")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count("*").alias("i"))
    )
    pairs = (
        inter.join(sizes.alias("s1"), F.col("d1") == F.col("s1.doc_id"))
        .join(sizes.alias("s2"), F.col("d2") == F.col("s2.doc_id"))
        .filter(F.col("i") * 1.0 / (F.col("s1.n") + F.col("s2.n") - F.col("i")) >= 0.5)
        .select("d1", "d2")
    )
    cc = neardup_clusters(pairs).select("doc_id", "cluster_id")
    t = docs.select("doc_id", F.size(words(F.col("text"))).cast("long").alias("t"))
    pc = (
        cc.join(t, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count("*").cast("long").alias("csize"),
            F.sum("t").cast("long").alias("tokens_total"),
            F.sum(F.when(F.col("doc_id") != F.col("cluster_id"), F.col("t")).otherwise(0))
            .cast("long")
            .alias("tokens_dup"),
        )
    )
    return (
        pc.groupBy("csize")
        .agg(
            F.count("*").cast("long").alias("n_clusters"),
            F.sum("csize").cast("long").alias("n_docs"),
            (F.sum("csize") - F.count("*")).cast("long").alias("removable_docs"),
            F.sum("tokens_total").cast("long").alias("tokens_total"),
            F.sum("tokens_dup").cast("long").alias("tokens_reclaimed"),
        )
        .orderBy("csize")
    )


@register(
    "q_k101_dup_pressure_by_ingestion",
    family="K",
    doc="K-101 duplicate-pressure curve over ingestion order: bucket "
    "the corpus into ten equal doc_id ranges (doc_id is the synthetic "
    "ingestion sequence) and report, per decile, how many documents "
    "and tokens are exact duplicates of ANYTHING ingested earlier "
    "(md5(text) seen at a smaller doc_id — md5 because both engines "
    "compute it identically, the repo's determinism convention). This "
    "is the operational complement to q_k92 (how much would dedup "
    "save, static) and q_k90 (vocabulary growth): a rising curve "
    "tells the operator dup pressure is compounding and incremental "
    "dedup (k25/k79) cadence must tighten. Exact BIGINTs only. Plan: "
    "one groupBy(md5) -> min(doc_id) hash agg (content-keyed, "
    "bounded by duplicate multiplicity, never a corpus window), the "
    "first-seen table joined back on the 16-byte hash key, the max "
    "doc_id scalar broadcast via a 1-row cross join; no self-join, "
    "no window, shuffle keys are fixed-width hashes.",
    oracle="""
        WITH h AS (
            SELECT doc_id, md5(text) AS dh,
                   len(string_split(text, ' ')) AS n
            FROM documents
        ),
        first_seen AS (
            SELECT dh, MIN(doc_id) AS first_id FROM h GROUP BY dh
        ),
        mx AS (SELECT MAX(doc_id) AS mx FROM documents),
        flagged AS (
            SELECT CAST(LEAST(9, (h.doc_id * 10) // (mx.mx + 1)) AS BIGINT)
                       AS decile,
                   CAST(h.doc_id > f.first_id AS INT) AS is_dup,
                   h.n
            FROM h
            JOIN first_seen f USING (dh)
            CROSS JOIN mx
        )
        SELECT decile,
               CAST(COUNT(*) AS BIGINT)            AS n_docs,
               CAST(SUM(is_dup) AS BIGINT)         AS n_dup,
               CAST(SUM(n) AS BIGINT)              AS total_tokens,
               CAST(SUM(is_dup * n) AS BIGINT)     AS dup_tokens
        FROM flagged
        GROUP BY decile
        ORDER BY decile
    """,
)
def q_k101_dup_pressure_by_ingestion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id",
        F.md5("text").alias("dh"),
        TX.n_words(F.col("text")).cast("long").alias("n"),
    )
    first_seen = h.groupBy("dh").agg(F.min("doc_id").alias("first_id"))
    mx = docs.agg(F.max("doc_id").alias("mx"))
    flagged = (
        h.join(first_seen, "dh")
        .crossJoin(F.broadcast(mx))
        .select(
            F.least(F.lit(9), F.expr("(doc_id * 10) div (mx + 1)"))
            .cast("long")
            .alias("decile"),
            (F.col("doc_id") > F.col("first_id")).cast("int").alias("is_dup"),
            "n",
        )
    )
    return (
        flagged.groupBy("decile")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("is_dup").cast("long").alias("n_dup"),
            F.sum("n").cast("long").alias("total_tokens"),
            F.sum(F.col("is_dup") * F.col("n")).cast("long").alias("dup_tokens"),
        )
        .orderBy("decile")
    )


#: q_k109 new-ingest boundary — the q_k25/q_k79 convention applied to
#: the embeddings table (vec_id >= 450 is "this ingest").
EMBED_INCR_NEW_FROM = 450

# The banded random-sign scheme's constants are baked into the oracle
# text at registration time (registry contract: oracle strings never
# change), so the import is at module scope on purpose.
from cdc_publisher_spark.operators.embed_lsh import (  # noqa: E402
    RH_BANDS,
    RH_BITS,
    embedding_neardup_banded,
    rh_oracle_sql,
)


@register(
    "q_k109_incremental_embedding_neardup",
    family="K",
    doc="K-2/K-79 incremental embedding near-dup, the batch twin of "
    "the ninth state consumer (streaming/embed_monitor.py): banded "
    "random-sign signatures (operators/embed_lsh.py — integer-exact, "
    "md5-derived Rademacher signs over ROUND(v*1e6) quantization, "
    "Charikar 2002) nominate candidate pairs by shared (band, bh) "
    "bucket, exact cosine verifies at the q_k21 threshold, restricted "
    "to pairs touching the new ingest (vec_id >= 450). Unlike the "
    "float-plane LSH (q_k12), the ENTIRE nominate stage is replayed "
    "by the DuckDB oracle — candidate-set equality is exact, not "
    "fixture-recall luck.",
    oracle=rh_oracle_sql(NEARDUP_COS_THRESHOLD, new_from=EMBED_INCR_NEW_FROM),
)
def q_k109_incremental_embedding_neardup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    return embedding_neardup_banded(
        e, NEARDUP_COS_THRESHOLD, new_from=EMBED_INCR_NEW_FROM
    ).orderBy("i", "j")


@register(
    "q_k110_embedding_bucket_skew",
    family="K",
    doc="K-3 banded-signature bucket histogram: (band, bh, n_vecs) for "
    "every populated random-sign bucket — the skew audit a deployment "
    "runs before trusting the banded index's probe-cost model "
    "(expected mass n/2^bits per band), and the full-coverage "
    "cross-engine pin of the signature pipeline itself: every one of "
    "the corpus's bands*n signature rows participates in the exact "
    "integer hash compare (q_k109's pair output only samples the "
    "threshold tail).",
    oracle=f"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] e FROM embeddings),
        q AS (
            SELECT vec_id,
                   list_transform(e, x -> CAST(ROUND(x * 1000000) AS BIGINT)) w
            FROM v
        ),
        proj AS (
            SELECT vec_id, b.bit,
                   SUM(CASE WHEN ('0x' || substr(
                                md5('rh:' || b.bit || ':' || d.j),
                                1, 2))::UBIGINT % 2 = 0
                            THEN w[d.j + 1] ELSE -w[d.j + 1] END) AS s
            FROM q,
                 generate_series(0, {RH_BANDS * RH_BITS - 1}) b(bit),
                 generate_series(0, 63) d(j)
            GROUP BY 1, 2
        ),
        sig AS (
            SELECT vec_id, CAST(b.bit // {RH_BITS} AS INT) AS band,
                   CAST(SUM(CASE WHEN s > 0
                                 THEN (1 << (b.bit % {RH_BITS})) ELSE 0 END)
                        AS BIGINT) AS bh
            FROM proj b GROUP BY 1, 2
        )
        SELECT band, bh, CAST(COUNT(*) AS BIGINT) AS n_vecs
        FROM sig GROUP BY band, bh
        ORDER BY band, bh
    """,
)
def q_k110_embedding_bucket_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_publisher_spark.operators.embed_lsh import rh_band_rows

    e = load(spark, sf_dir, "embeddings")
    return (
        rh_band_rows(e)
        .groupBy("band", "bh")
        .agg(F.count("*").cast("long").alias("n_vecs"))
        .orderBy("band", "bh")
    )


#: q_k116 candidate-threshold grid: integer percent points 50..95 —
#: the Jaccard knob a dedup deployment sweeps before committing (the
#: q_k115 quality-threshold pattern applied to the dedup decision).
DEDUP_T_GRID = tuple(range(50, 96, 5))


@register(
    "q_k116_dedup_threshold_sensitivity",
    family="K",
    doc="K-2 dedup-threshold sensitivity sweep — the knob table a "
    "deployment reads before committing a near-dup Jaccard threshold "
    "(the q_k115 pattern applied to dedup): the q_k3 banded-LSH + "
    "exact-verify pair set (threshold floor 0.5) is computed ONCE, "
    "then binned against a broadcast grid of candidate thresholds "
    "(50..95%); per threshold, surviving pair count, documents "
    "dropped under the keep-min-id convention (distinct d2), and the "
    "whitespace-token mass those drops recover. The pair mining costs "
    "what q_k3 costs (banded nominate, exact verify on candidates "
    "only); everything after is grid x pair-set sized. Comparisons "
    "use the 4dp-rounded Jaccard both engines already agree on "
    "bit-for-bit (the q_k3 hash-match), so the bin counts are exact "
    "cross-engine.",
    oracle=f"""
        WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
        sh AS (
            SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
            FROM w CROSS JOIN generate_series(1, 100000) g(i)
            WHERE i + 2 <= len(ws)
        ),
        sz AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id d1, b.doc_id d2, COUNT(*) i
            FROM sh a JOIN sh b USING (s)
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        pairs AS (
            SELECT d1, d2, ROUND(i * 1.0 / (s1.n + s2.n - i), 4) AS jaccard
            FROM inter
            JOIN sz s1 ON s1.doc_id = d1
            JOIN sz s2 ON s2.doc_id = d2
            WHERE i * 1.0 / (s1.n + s2.n - i) >= 0.5
        ),
        grid AS (SELECT g.t FROM generate_series(50, 95, 5) g(t)),
        pg AS (
            SELECT grid.t, p.d1, p.d2
            FROM grid JOIN pairs p ON p.jaccard >= grid.t / 100.0
        ),
        pc AS (SELECT t, COUNT(*) AS n_pairs FROM pg GROUP BY t),
        drops AS (
            SELECT dd.t, COUNT(*) AS n_docs_dropped, SUM(dw.nw) AS tokens_dropped
            FROM (SELECT DISTINCT t, d2 FROM pg) dd
            JOIN (SELECT doc_id, len(string_split(text, ' ')) AS nw
                  FROM documents) dw ON dw.doc_id = dd.d2
            GROUP BY dd.t
        )
        SELECT CAST(grid.t AS BIGINT) AS threshold_pct,
               CAST(COALESCE(pc.n_pairs, 0) AS BIGINT) AS n_pairs,
               CAST(COALESCE(drops.n_docs_dropped, 0) AS BIGINT) AS n_docs_dropped,
               CAST(COALESCE(drops.tokens_dropped, 0) AS BIGINT) AS tokens_dropped
        FROM grid
        LEFT JOIN pc ON pc.t = grid.t
        LEFT JOIN drops ON drops.t = grid.t
        ORDER BY threshold_pct
    """,
)
def q_k116_dedup_threshold_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cdc_publisher_spark.operators.minhash import minhash_near_duplicates

    docs = load(spark, sf_dir, "documents")
    # mined once at the 0.5 floor — the grid only ever tightens it
    pairs = track_persist(
        minhash_near_duplicates(docs, threshold=0.5),
        level=StorageLevel.MEMORY_AND_DISK,
    )
    grid = spark.createDataFrame([(t,) for t in DEDUP_T_GRID], "t int")
    # pair-set x 10-row grid: the adjudicated scalar-broadcast BNLJ
    pg = track_persist(
        pairs.crossJoin(F.broadcast(grid))
        .filter(F.col("jaccard") >= F.col("t") / 100.0)
        .select("t", "d1", "d2"),
        level=StorageLevel.MEMORY_AND_DISK,
    )
    pc = pg.groupBy("t").agg(F.count("*").cast("bigint").alias("n_pairs"))
    nw = load(spark, sf_dir, "documents").select(
        "doc_id", TX.n_words(F.col("text")).alias("nw")
    )
    drops = (
        pg.select("t", "d2")
        .distinct()
        .join(nw, F.col("d2") == F.col("doc_id"))
        .groupBy("t")
        .agg(
            F.count("*").cast("bigint").alias("n_docs_dropped"),
            F.sum("nw").cast("bigint").alias("tokens_dropped"),
        )
    )
    return (
        grid.join(pc, "t", "left")
        .join(drops, "t", "left")
        .select(
            F.col("t").cast("bigint").alias("threshold_pct"),
            F.coalesce("n_pairs", F.lit(0)).cast("bigint").alias("n_pairs"),
            F.coalesce("n_docs_dropped", F.lit(0))
            .cast("bigint")
            .alias("n_docs_dropped"),
            F.coalesce("tokens_dropped", F.lit(0))
            .cast("bigint")
            .alias("tokens_dropped"),
        )
        .orderBy("threshold_pct")
    )


# --------------------------------------------------------------------------
# q_k127 — near-dup cluster purity (chaining-artifact audit)
# --------------------------------------------------------------------------

K127_ORACLE = """
    WITH RECURSIVE
    w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
    sh AS (
        SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        FROM w CROSS JOIN generate_series(1, 100000) g(i)
        WHERE i + 2 <= len(ws)
    ),
    sz AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id d1, b.doc_id d2, COUNT(*) i
        FROM sh a JOIN sh b USING (s)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT d1, d2,
               ROUND(i * 1.0 / (s1.n + s2.n - i), 4) AS j4
        FROM inter
        JOIN sz s1 ON s1.doc_id = d1
        JOIN sz s2 ON s2.doc_id = d2
        WHERE i * 1.0 / (s1.n + s2.n - i) >= 0.5
    ),
    edges AS (SELECT d1 a, d2 b FROM pairs UNION SELECT d2, d1 FROM pairs),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach(id, lab) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.id
    ),
    cc AS (SELECT id, MIN(lab) AS cluster_id FROM reach GROUP BY id),
    csz AS (SELECT cluster_id, COUNT(*) AS csize FROM cc GROUP BY cluster_id),
    pe AS (
        SELECT cc.cluster_id, p.j4
        FROM pairs p JOIN cc ON cc.id = p.d1
    )
    SELECT csz.cluster_id,
           CAST(csz.csize AS BIGINT) AS csize,
           CAST(COUNT(pe.j4) AS BIGINT) AS n_direct_pairs,
           CAST(csz.csize * (csz.csize - 1) // 2 AS BIGINT) AS possible_pairs,
           ROUND(COUNT(pe.j4) * 1.0
                 / (csz.csize * (csz.csize - 1) // 2), 4) AS edge_density,
           MIN(pe.j4) AS min_jaccard,
           ROUND(CAST(SUM(CAST(pe.j4 AS DECIMAL(12, 4))) AS DOUBLE)
                 / COUNT(pe.j4), 4) AS mean_jaccard,
           COUNT(pe.j4) < csz.csize * (csz.csize - 1) // 2 AS chained
    FROM csz JOIN pe ON pe.cluster_id = csz.cluster_id
    GROUP BY csz.cluster_id, csz.csize
    ORDER BY csz.cluster_id
"""


@register(
    "q_k127_cluster_purity",
    family="K",
    doc="K-127 near-dup cluster purity — the chaining-artifact audit "
    "for transitive dedup: q_k22's connected components merge docs "
    "that never directly verified against each other (A~B, B~C puts "
    "A,C in one cluster even when J(A,C) is far below threshold), so "
    "a keep-one-per-cluster policy (q_k92) can silently drop "
    "non-duplicates. Per component of the q_k2/q_k22 verified pair "
    "graph (3-shingle Jaccard >= 0.5): size, direct verified pairs vs "
    "the complete-graph possible pairs, edge density, min and mean "
    "direct Jaccard (4dp pair values, DECIMAL-summed mean), and the "
    "chained flag (density < 1 — the cluster exists partly by "
    "transitivity, the cue to re-verify before dropping). Exact "
    "cross-engine: pair Jaccards are exact-integer ratios rounded "
    "4dp, components are the deterministic min-doc_id labels, "
    "cluster aggregates are integer algebra + one DECIMAL mean. "
    "Plan: the q_k22 shared-shingle pair join (collision-bounded, "
    "never all-pairs) + min-label propagation on the pair graph "
    "(a numpy pass after one Arrow collect up to LOCAL_EDGES pairs, "
    "component-diameter distributed rounds above) + one cluster-keyed "
    "aggregate; "
    "cluster frames are component-sized. Scales like q_k22.",
    oracle=K127_ORACLE,
)
def q_k127_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tok = TX.shingle_rows(docs, "doc_id", "text", 3, hashed=True)
    sizes = tok.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        tok.alias("a")
        .join(tok.alias("b"), "s")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count("*").alias("i"))
    )
    jac = F.col("i") * F.lit(1.0) / (F.col("s1.n") + F.col("s2.n") - F.col("i"))
    pairs = (
        inter.join(sizes.alias("s1"), F.col("d1") == F.col("s1.doc_id"))
        .join(sizes.alias("s2"), F.col("d2") == F.col("s2.doc_id"))
        .filter(jac >= 0.5)
        .select("d1", "d2", F.round(jac, 4).alias("j4"))
    )
    pairs = track_persist(pairs, level=StorageLevel.MEMORY_AND_DISK)
    cc = neardup_clusters(pairs.select("d1", "d2"))  # (doc_id, cluster_id, csize)
    pe = pairs.join(
        cc.select(F.col("doc_id").alias("d1"), "cluster_id"), "d1"
    ).select("cluster_id", "j4")
    csz = cc.select("cluster_id", "csize").distinct()
    possible = (F.col("csize") * (F.col("csize") - 1) / 2).cast("bigint")
    return (
        pe.groupBy("cluster_id")
        .agg(
            F.count("j4").cast("bigint").alias("n_direct_pairs"),
            F.min("j4").alias("min_jaccard"),
            F.round(
                F.sum(F.col("j4").cast("decimal(12,4)")).cast("double")
                / F.count("j4"),
                4,
            ).alias("mean_jaccard"),
        )
        .join(csz, "cluster_id")
        .select(
            "cluster_id",
            F.col("csize").cast("bigint").alias("csize"),
            "n_direct_pairs",
            possible.alias("possible_pairs"),
            F.round(F.col("n_direct_pairs") * F.lit(1.0) / possible, 4).alias(
                "edge_density"
            ),
            "min_jaccard",
            "mean_jaccard",
            (F.col("n_direct_pairs") < possible).alias("chained"),
        )
        .orderBy("cluster_id")
    )
