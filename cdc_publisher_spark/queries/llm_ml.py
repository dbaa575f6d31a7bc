"""Family K round-3 extension: classic-ML corpus operators.

Operators a large-scale training-data pipeline runs between raw
text and the dataloader, each expressed Spark-first:

- q_k46 PCA projection — distributed moment pass + driver eigh
  (operators/reduce_dim.py); invariant oracle + SQL-reproducible
  variance trace.
- q_k47 Naive Bayes language classifier — closed-form add-1-smoothed
  multinomial NB; train AND score fully expression-side, so the whole
  thing is exactly SQL-reproducible (unlike the profile-cosine
  classifier q_k41, which needs a bounded driver fit).
- q_k48 TF-IDF top terms — explode + two aggs + per-doc window.
- q_k49 int8 embedding quantization — symmetric absmax scaling with
  explicit floor(x+0.5) rounding so both engines round identically.
- q_k50 BPE merge ranking — round-0 pair statistics of the BPE
  trainer (operators/bpe.py; iterative loop pinned in pytest).
- q_k51 paragraph dedup — CCNet-style keep-first exact dedup of
  8-token windows across the corpus (removal, unlike q_k18 which
  only profiles repetition).
- q_k52 hard-negative mining — label-masked block_topk
  (operators/ann.py): top-k most-similar differing-label vectors.
- q_k53 source keyness — Haldane-smoothed log-odds-ratio (Monroe
  2008) of src0 vs the rest of the corpus.

Float canonicalization follows registry.py rules: every ln()/product
partial is ROUNDed to 8 decimals and DECIMAL-summed before any
cross-engine comparison; argmax ordering uses the exact DECIMAL sum
(not the rounded double) so ties are total-ordered identically in
both engines.

Reference parity: none of this exists in the reference (a CDC
microservice, `/root/reference/src/cdc_publisher/core.clj:1-22`);
all six are declared LLM-data extension surface (SURVEY.md §2.2 K).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdc_publisher_spark.functions.text import words
from cdc_publisher_spark.registry import register
from cdc_publisher_spark.tables import load

PCA_K = 8
EMB_DIM = 64
TFIDF_TOP = 3
BPE_TOP = 20
PARA_WIN = 8


# --------------------------------------------------------------------------
# q_k46 — PCA projection
# --------------------------------------------------------------------------
@register(
    "q_k46_pca_projection",
    family="K",
    doc="PCA to 8 components over embeddings (operators/reduce_dim.py): "
    "one mapInPandas moment pass (per-partition partial Gram, driver "
    "traffic O(partitions*d^2)), driver-side 64x64 eigh, then pure-"
    "expression projection (zip_with folds over literal component "
    "arrays — no UDF in the per-row path). Eigenvectors are not SQL-"
    "reproducible, so the registered form emits per-vector INVARIANTS "
    "(projected norm <= centered norm — Bessel; basis orthonormal; "
    "explained variance non-increasing) plus the SQL-reproducible "
    "variance trace, computed per-dimension via var_samp on BOTH "
    "engines (6dp-rounded, DECIMAL-summed) so a broken moment pass "
    "flips the hash. Exact reconstruction properties pytest'd "
    "(test_pca_*).",
    oracle=f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        el AS (
            SELECT vec_id, i, v[i] AS x
            FROM e CROSS JOIN generate_series(1, 100000) g(i)
            WHERE i <= len(v)
        ),
        dv AS (
            SELECT i, CAST(ROUND(var_samp(x), 6) AS DECIMAL(18, 6)) AS vs
            FROM el GROUP BY i
        ),
        t AS (
            SELECT CAST(ROUND(SUM(vs), 4) AS DOUBLE) AS total_variance FROM dv
        )
        SELECT vec_id,
               CAST({PCA_K} AS BIGINT) AS n_components,
               TRUE AS proj_norm_le_centered,
               TRUE AS components_orthonormal,
               TRUE AS evr_nonincreasing,
               t.total_variance
        FROM e CROSS JOIN t
        ORDER BY vec_id
    """,
)
def q_k46_pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from cdc_publisher_spark.operators.reduce_dim import fit_pca, project

    e = load(spark, sf_dir, "embeddings")
    model = fit_pca(e, k=PCA_K)
    ortho = bool(
        np.max(np.abs(model.components @ model.components.T - np.eye(PCA_K))) < 1e-8
    )
    evr_mono = bool(np.all(np.diff(model.explained_variance) <= 1e-9))

    proj = project(e, model)
    from cdc_publisher_spark.functions.vectors import dot
    from cdc_publisher_spark.operators.reduce_dim import _lit_array

    centered = F.zip_with(
        F.col("embedding"), _lit_array(model.mean), lambda x, m: x.cast("double") - m
    )
    # Trace via per-dimension var_samp, mirroring the oracle's algebra
    # (the moment-pass trace is pytest-pinned equal to this to 1e-6).
    el = e.select(F.posexplode(F.col("embedding")).alias("i", "xf"))
    dv = el.groupBy("i").agg(
        F.round(F.var_samp(F.col("xf").cast("double")), 6)
        .cast("decimal(18,6)")
        .alias("vs")
    )
    t = dv.agg(F.round(F.sum("vs"), 4).cast("double").alias("total_variance"))
    return (
        proj.withColumn("_pn", dot(F.col("proj"), F.col("proj")))
        .withColumn("_cn", dot(centered, centered))
        .crossJoin(F.broadcast(t))
        .select(
            "vec_id",
            F.lit(PCA_K).cast("long").alias("n_components"),
            (F.col("_pn") <= F.col("_cn") + F.lit(1e-9)).alias(
                "proj_norm_le_centered"
            ),
            F.lit(ortho).alias("components_orthonormal"),
            F.lit(evr_mono).alias("evr_nonincreasing"),
            "total_variance",
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# q_k47 — Naive Bayes language classifier (exact, closed-form)
# --------------------------------------------------------------------------
#: q_k47's full oracle SQL, module-level so q_k74's confusion-matrix
#: oracle (queries/llm_audit.py) can wrap the IDENTICAL per-doc
#: prediction SQL as a subquery — one classifier definition, two audits.
K47_ORACLE = """
        WITH tok AS (
            SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
            FROM documents
        ),
        langs AS (SELECT DISTINCT lang FROM documents),
        prior AS (
            SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
        ),
        n AS (SELECT COUNT(*) AS n_total FROM documents),
        wc AS (SELECT w, lang, COUNT(*) AS c FROM tok GROUP BY w, lang),
        ltok AS (SELECT lang, COUNT(*) AS n_tok FROM tok GROUP BY lang),
        v AS (SELECT COUNT(DISTINCT w) AS vsz FROM tok),
        terms AS (
            SELECT t.doc_id, l.lang,
                   CAST(ROUND(ln((COALESCE(wc.c, 0) + 1.0)
                                 / (ltok.n_tok + v.vsz)), 8)
                        AS DECIMAL(20, 8)) AS term
            FROM tok t
            CROSS JOIN langs l
            LEFT JOIN wc ON wc.w = t.w AND wc.lang = l.lang
            JOIN ltok ON ltok.lang = l.lang
            CROSS JOIN v
        ),
        scores AS (
            SELECT terms.doc_id, terms.lang,
                   SUM(term) + CAST(ROUND(ln(prior.n_docs * 1.0 / n.n_total), 8)
                                    AS DECIMAL(20, 8)) AS score
            FROM terms
            JOIN prior ON prior.lang = terms.lang
            CROSS JOIN n
            GROUP BY terms.doc_id, terms.lang, prior.n_docs, n.n_total
        ),
        ranked AS (
            SELECT doc_id, lang, score,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, lang ASC) AS rn
            FROM scores
        )
        SELECT r.doc_id, d.lang AS true_lang, r.lang AS pred_lang,
               CAST(ROUND(r.score, 4) AS DOUBLE) AS score,
               (r.lang = d.lang) AS correct
        FROM ranked r JOIN documents d ON d.doc_id = r.doc_id
        WHERE r.rn = 1
        ORDER BY r.doc_id
    """


@register(
    "q_k47_naive_bayes_langid",
    family="K",
    bench=True,  # heaviest new shape: corpus-explode x langs join
    doc="Add-1-smoothed multinomial Naive Bayes language classifier, "
    "trained and scored in one plan: per-(token,lang) counts and "
    "class priors are closed-form aggregates, so unlike q_k41 the "
    "whole classifier is exactly SQL-reproducible. Score = ln prior "
    "+ sum ln P(w|lang); each ln term is 8dp-rounded and DECIMAL-"
    "summed, and the per-doc argmax orders by the EXACT decimal "
    "score (desc, lang asc) so ties break identically cross-engine. "
    "Scale shape: (token,lang) stats and priors are vocab-bounded "
    "broadcasts; the corpus side is aggregated to per-(doc, term) "
    "counts BEFORE fanning out by language (sum of c equal decimals "
    "== c * decimal, exactly), so the lang fan-out and stats join "
    "run on distinct (doc, term) pairs, not raw token instances — "
    "several-fold fewer join rows at corpus scale, and the word-"
    "count / lang-total / vocab stats all derive from that one "
    "aggregate instead of re-exploding the corpus. No O(rows) "
    "driver traffic.",
    oracle=K47_ORACLE,
)
def q_k47_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r15 audit, deliberately UNCHANGED after measurement: two rewrites
    # were tried and A/B-measured SLOWER on wall-clock, so the original
    # shape stands. (1) spread=True on the scan: 1.28x slower — the
    # explode feeds a partial aggregate keyed by (doc, lang, w), and
    # spreading a document's tokens across partitions multiplies the
    # partial-agg output rows. (2) track_persist'ing wc/prior and
    # deriving ltok/v/langs/n from them (3 corpus explodes -> 2):
    # 1.24x slower — the redundant stats subtrees are independent
    # BROADCAST stages that AQE computes CONCURRENTLY, so the "saved"
    # passes cost no wall-clock locally, while the persist serializes
    # them behind a cache materialization barrier. Oracle-equivalent
    # both times; reverted on the measurements (OPTIMIZATION_r15.md,
    # 5-repeat targeted A/B with an untouched control query).
    # r16 re-test UNDER CONTENTION (VERDICT r15 ask #8): the same
    # persist re-applied and A/B-measured at sf1 with
    # SPARK_GRAFT_CPUS=8 (0.995 — exact parity, control 1.065) and
    # again at sf0.1/local[32] (1.034 slower-leaning, control 0.964).
    # No scale or contention level shows a win, so the rejection
    # stands re-confirmed; the saved sibling-broadcast passes remain
    # wall-clock-free even at 8 cores.
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", "lang", F.explode(words(F.col("text"))).alias("w"))
    langs = docs.select("lang").distinct()
    prior = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    n = docs.agg(F.count("*").alias("n_total"))
    # One explode -> per-(doc, lang, term) counts; every corpus statistic
    # (word-lang counts, lang token totals, vocab size) and the scoring
    # fan-out derive from this aggregate, so the raw token stream is
    # shuffled once and the lang cross-join runs on distinct (doc, term)
    # pairs instead of token instances.
    tf = tok.groupBy("doc_id", "lang", "w").agg(F.count("*").alias("tc"))
    wc = tf.groupBy("w", "lang").agg(F.sum("tc").cast("long").alias("c"))
    ltok = tf.groupBy("lang").agg(F.sum("tc").cast("long").alias("n_tok"))
    v = tf.agg(F.countDistinct("w").alias("vsz"))

    terms = (
        tf.select("doc_id", "w", "tc")
        .crossJoin(F.broadcast(langs))
        .join(F.broadcast(wc), ["w", "lang"], "left")
        .join(F.broadcast(ltok), "lang")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            "lang",
            # c instances of the same 8dp-rounded decimal sum to exactly
            # c * term, so multiplying by the count keeps the oracle's
            # per-token-instance decimal sum bit-identical.
            (
                F.col("tc").cast("decimal(12,0)")
                * F.round(
                    F.log(
                        (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1.0))
                        / (F.col("n_tok") + F.col("vsz"))
                    ),
                    8,
                ).cast("decimal(20,8)")
            )
            .cast("decimal(20,8)")
            .alias("term"),
        )
    )
    scores = (
        terms.groupBy("doc_id", "lang")
        .agg(F.sum("term").cast("decimal(20,8)").alias("_s"))
        .join(F.broadcast(prior), "lang")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "lang",
            (
                F.col("_s")
                + F.round(
                    F.log(F.col("n_docs") * F.lit(1.0) / F.col("n_total")), 8
                ).cast("decimal(20,8)")
            ).alias("score"),
        )
    )
    w_rk = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("lang").asc()
    )
    best = scores.withColumn("rn", F.row_number().over(w_rk)).filter(F.col("rn") == 1)
    return (
        best.join(docs.select("doc_id", F.col("lang").alias("true_lang")), "doc_id")
        .select(
            "doc_id",
            "true_lang",
            F.col("lang").alias("pred_lang"),
            F.round(F.col("score"), 4).cast("double").alias("score"),
            (F.col("lang") == F.col("true_lang")).alias("correct"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q_k48 — TF-IDF top terms per document
# --------------------------------------------------------------------------
@register(
    "q_k48_tfidf_topk",
    family="K",
    doc="Top-3 TF-IDF terms per document: tf = in-doc count, idf = "
    "ln(N/df). One explode scan, doc-frequency agg (vocab-bounded, "
    "broadcast back), per-doc row_number window ordered (tf*idf "
    "desc, term asc) — equal (tf, df) pairs give bit-equal doubles "
    "in both engines, so the ordering tie-break is total and "
    "deterministic.",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        ),
        n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tok),
        tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY doc_id, w),
        df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY w),
        scored AS (
            SELECT tf.doc_id, tf.w AS term,
                   tf.tf * ln(n.n_docs * 1.0 / df.df) AS s
            FROM tf JOIN df ON df.w = tf.w CROSS JOIN n
        ),
        ranked AS (
            SELECT doc_id, term, s,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY s DESC, term ASC) AS rk
            FROM scored
        )
        SELECT doc_id, CAST(rk AS INT) AS rk, term,
               CAST(ROUND(s, 4) AS DOUBLE) AS tfidf
        FROM ranked WHERE rk <= {TFIDF_TOP}
        ORDER BY doc_id, rk
    """,
)
def q_k48_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(words(F.col("text"))).alias("w"))
    n = tok.agg(F.countDistinct("doc_id").alias("n_docs"))
    tf = tok.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    df_ = tok.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "w")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            F.col("w").alias("term"),
            (F.col("tf") * F.log(F.col("n_docs") * F.lit(1.0) / F.col("df"))).alias(
                "s"
            ),
        )
    )
    w_rk = Window.partitionBy("doc_id").orderBy(F.col("s").desc(), F.col("term").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w_rk))
        .filter(F.col("rk") <= TFIDF_TOP)
        .select(
            "doc_id",
            F.col("rk").cast("int").alias("rk"),
            "term",
            F.round(F.col("s"), 4).cast("double").alias("tfidf"),
        )
        .orderBy("doc_id", "rk")
    )


# --------------------------------------------------------------------------
# q_k49 — int8 symmetric quantization of embeddings
# --------------------------------------------------------------------------
@register(
    "q_k49_int8_quantization",
    family="K",
    doc="Symmetric absmax int8 quantization per embedding: scale = "
    "absmax/127, q = clamp(floor(x/scale + 0.5), ±127) — floor(x+0.5) "
    "spelled out so both engines round identically (no round-half-"
    "even vs half-up drift). Per-element squared reconstruction "
    "errors are 8dp-rounded and DECIMAL-summed into an order-"
    "independent MSE. Pure expressions end to end; one explode scan.",
    oracle=f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        el AS (
            SELECT vec_id, v[i] AS x
            FROM e CROSS JOIN generate_series(1, 100000) g(i)
            WHERE i <= len(v)
        ),
        s AS (
            SELECT vec_id, MAX(ABS(x)) AS amax, COUNT(*) AS d
            FROM el GROUP BY vec_id
        ),
        q AS (
            SELECT el.vec_id,
                   CASE WHEN s.amax = 0 THEN 0
                        ELSE GREATEST(-127, LEAST(127,
                             FLOOR(x / (s.amax / 127.0) + 0.5))) END AS qi,
                   x, s.amax, s.d
            FROM el JOIN s ON s.vec_id = el.vec_id
        ),
        err AS (
            SELECT vec_id, amax, d,
                   CAST(ROUND(POW(x - qi * (CASE WHEN amax = 0 THEN 0.0
                                            ELSE amax / 127.0 END), 2), 8)
                        AS DECIMAL(20, 8)) AS e2
            FROM q
        )
        SELECT vec_id,
               CAST(ROUND(amax, 6) AS DOUBLE) AS amax,
               CAST(ROUND(CAST(SUM(e2) AS DOUBLE) / {EMB_DIM}, 6) AS DOUBLE)
                 AS mse,
               CAST(COUNT(*) AS BIGINT) AS n_elems
        FROM err GROUP BY vec_id, amax, d
        ORDER BY vec_id
    """,
)
def q_k49_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    el = e.select(
        "vec_id", F.explode(F.col("embedding")).alias("xf")
    ).withColumn("x", F.col("xf").cast("double"))
    s = el.groupBy("vec_id").agg(F.max(F.abs(F.col("x"))).alias("amax"))
    q = el.join(s, "vec_id").withColumn(
        "qi",
        F.when(F.col("amax") == 0, F.lit(0.0)).otherwise(
            F.greatest(
                F.lit(-127.0),
                F.least(
                    F.lit(127.0),
                    F.floor(F.col("x") / (F.col("amax") / F.lit(127.0)) + F.lit(0.5))
                    .cast("double"),
                ),
            )
        ),
    )
    err = q.withColumn(
        "e2",
        F.round(
            F.pow(
                F.col("x")
                - F.col("qi")
                * F.when(F.col("amax") == 0, F.lit(0.0)).otherwise(
                    F.col("amax") / F.lit(127.0)
                ),
                2,
            ),
            8,
        ).cast("decimal(20,8)"),
    )
    return (
        err.groupBy("vec_id", "amax")
        .agg(
            F.round(F.sum("e2").cast("double") / F.lit(EMB_DIM), 6).alias("mse"),
            F.count("*").alias("n_elems"),
        )
        .select(
            "vec_id",
            F.round(F.col("amax"), 6).cast("double").alias("amax"),
            F.col("mse").cast("double").alias("mse"),
            "n_elems",
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# q_k50 — BPE merge ranking (round-0 pair statistics)
# --------------------------------------------------------------------------
@register(
    "q_k50_bpe_merge_ranking",
    family="K",
    doc="Round-0 BPE pair statistics: adjacent character-pair counts "
    "over the corpus's words, top-20 by (count desc, pair asc) — the "
    "exact candidate ranking the first merge of operators/bpe.py's "
    "trainer consumes (the iterative loop runs driver-side on the "
    "vocab-bounded word histogram, Sennrich 2016 style, and is "
    "pytest-pinned against hand-computed merges). Corpus side is one "
    "explode + fixed-width aggregation.",
    oracle=f"""
        WITH w AS (
            SELECT unnest(string_split(text, ' ')) AS word FROM documents
        ),
        pairs AS (
            SELECT substr(word, i, 1) AS left_sym,
                   substr(word, i + 1, 1) AS right_sym
            FROM w CROSS JOIN generate_series(1, 100000) g(i)
            WHERE len(word) >= 2 AND i <= len(word) - 1
        ),
        pc AS (
            SELECT left_sym, right_sym, COUNT(*) AS n
            FROM pairs GROUP BY left_sym, right_sym
        ),
        ranked AS (
            SELECT left_sym, right_sym, n,
                   ROW_NUMBER() OVER (ORDER BY n DESC, left_sym ASC,
                                      right_sym ASC) AS rk
            FROM pc
        )
        SELECT CAST(rk AS INT) AS rk, left_sym, right_sym,
               CAST(n AS BIGINT) AS n
        FROM ranked WHERE rk <= {BPE_TOP}
        ORDER BY rk
    """,
)
def q_k50_bpe_merge_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    w = docs.select(F.explode(words(F.col("text"))).alias("word")).filter(
        F.length("word") >= 2
    )
    pairs = w.select(
        F.explode(F.sequence(F.lit(1), F.length("word") - 1)).alias("i"), "word"
    ).select(
        F.substring(F.col("word"), F.col("i"), 1).alias("left_sym"),
        F.substring(F.col("word"), F.col("i") + 1, 1).alias("right_sym"),
    )
    pc = pairs.groupBy("left_sym", "right_sym").agg(F.count("*").alias("n"))
    w_rk = Window.orderBy(
        F.col("n").desc(), F.col("left_sym").asc(), F.col("right_sym").asc()
    )
    return (
        pc.withColumn("rk", F.row_number().over(w_rk))
        .filter(F.col("rk") <= BPE_TOP)
        .select(F.col("rk").cast("int").alias("rk"), "left_sym", "right_sym", "n")
        .orderBy("rk")
    )


# --------------------------------------------------------------------------
# q_k51 — cross-corpus paragraph dedup (keep-first, exact)
# --------------------------------------------------------------------------
@register(
    "q_k51_paragraph_dedup",
    family="K",
    bench=True,  # window-content shuffle + global keep-first window
    doc="CCNet-style paragraph dedup with keep-first semantics: docs "
    "split into consecutive 8-token windows; a window is dropped when "
    "its exact content already appeared at a smaller (doc_id, window) "
    "anywhere in the corpus. Unlike q_k18 (profiles repetition) or "
    "q_k32 (masks frequent n-grams), this REMOVES duplicated "
    "passages and reports surviving token mass per doc. Shuffle key "
    "is the window content (short, bounded); at 100 TB the same plan "
    "keys on xxhash64(content) exactly as q_k22's component labels "
    "do.",
    oracle=f"""
        WITH ws AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        tok AS (
            SELECT doc_id, i - 1 AS pos, toks[i] AS w
            FROM ws CROSS JOIN generate_series(1, 100000) g(i)
            WHERE i <= len(toks)
        ),
        win AS (
            SELECT doc_id, CAST(pos // {PARA_WIN} AS BIGINT) AS win_id,
                   string_agg(w, ' ' ORDER BY pos) AS content,
                   COUNT(*) AS n_tok
            FROM tok GROUP BY doc_id, CAST(pos // {PARA_WIN} AS BIGINT)
        ),
        keep AS (
            SELECT doc_id, win_id, n_tok,
                   ROW_NUMBER() OVER (PARTITION BY content
                                      ORDER BY doc_id, win_id) AS occ
            FROM win
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_windows,
               CAST(SUM(CASE WHEN occ = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_kept_windows,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN occ = 1 THEN n_tok ELSE 0 END) AS BIGINT)
                 AS n_tokens_kept
        FROM keep GROUP BY doc_id
        ORDER BY doc_id
    """,
)
def q_k51_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # r16 (guide §2.4 — remove shuffles outright): windows are built by
    # SLICING the per-doc token array instead of posexploding tokens
    # and re-assembling them with a (doc_id, win_id) hash aggregate
    # (collect_list + array_sort). That drops the aggregate's exchange
    # entirely — the first shuffle is now the content-keyed window —
    # and the Generate emits one row per WINDOW (n/8) instead of one
    # per token. The exploded value is the window INDEX, not a
    # transform()-built chunk: a lambda body referencing ws would
    # inline the split() and re-evaluate it interpreted per element
    # (the documented shingles() trap in functions/text.py), whereas
    # generator semantics evaluate the split once per document and the
    # slice/join run in codegen above the Generate. Content strings are
    # byte-identical to the aggregate form (slice preserves token
    # order; the tail window is the short remainder either way),
    # re-proven against the DuckDB oracle. greatest(...,1) keeps
    # single-window semantics for degenerate docs (words('') == ['']
    # -> one window of one token; split never yields an empty array
    # for non-null text). NULL text has no tokens and emits no window,
    # as in the oracle (its generate_series join yields no rows) —
    # without the filter size(NULL) = -1 fell through greatest() into
    # one spurious NULL-content window.
    ws = docs.select("doc_id", words(F.col("text")).alias("ws")).filter(
        F.col("ws").isNotNull()
    )
    n_win = F.greatest(
        F.ceil(F.size("ws") / F.lit(PARA_WIN)).cast("int"), F.lit(1)
    )
    chunk = F.slice(F.col("ws"), F.col("win_id") * PARA_WIN + 1, PARA_WIN)
    win = (
        ws.select(
            "doc_id",
            "ws",
            F.explode(F.sequence(F.lit(0), n_win - 1)).alias("win_id"),
        )
        .select(
            "doc_id",
            F.col("win_id").cast("long").alias("win_id"),
            F.array_join(chunk, " ").alias("content"),
            F.size(chunk).cast("long").alias("n_tok"),
        )
    )
    w_occ = Window.partitionBy("content").orderBy("doc_id", "win_id")
    keep = win.withColumn("occ", F.row_number().over(w_occ))
    return (
        keep.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(F.when(F.col("occ") == 1, 1).otherwise(0)).alias(
                "n_kept_windows"
            ),
            F.sum("n_tok").alias("n_tokens"),
            F.sum(F.when(F.col("occ") == 1, F.col("n_tok")).otherwise(0)).alias(
                "n_tokens_kept"
            ),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q_k52 — hard-negative mining for retrieval training
# --------------------------------------------------------------------------
@register(
    "q_k52_hard_negatives",
    family="K",
    doc="Hard-negative mining for contrastive/retrieval training: for "
    "each query vector, the 3 most-similar corpus vectors with a "
    "DIFFERENT label (operators/ann.py block_topk with "
    "exclude_same_label — same-label candidates are masked to -inf "
    "inside the nominate matmul, so the per-partition heap bound and "
    "the one-corpus-pass shape are unchanged). Final values re-rank "
    "through the same sequential-fold cosine the oracle computes, so "
    "output is bit-identical to the brute-force cross join the "
    "DuckDB side runs (only viable at oracle scale; the Spark plan "
    "never materializes the product).",
    oracle="""
        WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
        q AS (SELECT * FROM v WHERE vec_id < 50),
        p AS (
            SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                   list_dot_product(q.e, c.e)
                     / (sqrt(list_dot_product(q.e, q.e))
                        * sqrt(list_dot_product(c.e, c.e))) AS cos
            FROM q JOIN v c ON c.label != q.label
        ),
        ranked AS (
            SELECT query_id, cand_id, cos,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, cand_id) AS rk
            FROM p
        )
        SELECT query_id, cand_id, ROUND(cos, 4) AS cosine,
               CAST(rk AS BIGINT) AS rk
        FROM ranked WHERE rk <= 3
        ORDER BY query_id, rk
    """,
)
def q_k52_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_publisher_spark.operators.ann import block_topk

    e = load(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 50)
    return block_topk(
        e, queries, k=3, exclude_same_label="label"
    ).orderBy("query_id", "rk")


# --------------------------------------------------------------------------
# q_k53 — corpus keyness (log-odds-ratio between sources)
# --------------------------------------------------------------------------
@register(
    "q_k53_source_keyness",
    family="K",
    doc="Keyness of source src0 vs the rest of the corpus: Haldane-"
    "smoothed (+0.5) log-odds-ratio per term (Monroe 2008's "
    "fixed-prior form), the standard 'what words typify this source' "
    "diagnostic before mixing corpora. Emits the 10 most src0-"
    "leaning and 10 most rest-leaning terms. Vocab-bounded "
    "aggregates only; corpus side is one explode scan.",
    oracle="""
        WITH tok AS (
            SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
        ),
        cnt AS (
            SELECT w,
                   SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS a,
                   SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS b
            FROM tok GROUP BY w
        ),
        tot AS (
            SELECT SUM(a) AS ta, SUM(b) AS tb FROM cnt
        ),
        lo AS (
            SELECT w,
                   ln((a + 0.5) / (tot.ta - a + 0.5))
                   - ln((b + 0.5) / (tot.tb - b + 0.5)) AS log_odds
            FROM cnt CROSS JOIN tot
        ),
        up AS (
            SELECT 'src0' AS leaning, w, log_odds,
                   ROW_NUMBER() OVER (ORDER BY log_odds DESC, w ASC) AS rk
            FROM lo
        ),
        dn AS (
            SELECT 'rest' AS leaning, w, log_odds,
                   ROW_NUMBER() OVER (ORDER BY log_odds ASC, w ASC) AS rk
            FROM lo
        )
        SELECT leaning, CAST(rk AS INT) AS rk, w AS term,
               CAST(ROUND(log_odds, 4) AS DOUBLE) AS log_odds
        FROM (SELECT * FROM up WHERE rk <= 10
              UNION ALL SELECT * FROM dn WHERE rk <= 10)
        ORDER BY leaning DESC, rk
    """,
)
def q_k53_source_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(words(F.col("text"))).alias("w"))
    cnt = tok.groupBy("w").agg(
        F.sum(F.when(F.col("source") == "src0", 1).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("source") != "src0", 1).otherwise(0)).alias("b"),
    )
    tot = cnt.agg(F.sum("a").alias("ta"), F.sum("b").alias("tb"))
    lo = cnt.crossJoin(F.broadcast(tot)).select(
        "w",
        (
            F.log((F.col("a") + 0.5) / (F.col("ta") - F.col("a") + 0.5))
            - F.log((F.col("b") + 0.5) / (F.col("tb") - F.col("b") + 0.5))
        ).alias("log_odds"),
    )
    w_up = Window.orderBy(F.col("log_odds").desc(), F.col("w").asc())
    w_dn = Window.orderBy(F.col("log_odds").asc(), F.col("w").asc())
    up = (
        lo.withColumn("rk", F.row_number().over(w_up))
        .filter(F.col("rk") <= 10)
        .select(F.lit("src0").alias("leaning"), "rk", "w", "log_odds")
    )
    dn = (
        lo.withColumn("rk", F.row_number().over(w_dn))
        .filter(F.col("rk") <= 10)
        .select(F.lit("rest").alias("leaning"), "rk", "w", "log_odds")
    )
    return (
        up.unionAll(dn)
        .select(
            "leaning",
            F.col("rk").cast("int").alias("rk"),
            F.col("w").alias("term"),
            F.round(F.col("log_odds"), 4).cast("double").alias("log_odds"),
        )
        .orderBy(F.col("leaning").desc(), "rk")
    )


# --------------------------------------------------------------------------
# q_k59 — BPE encoding (apply trained merges)
# --------------------------------------------------------------------------
BPE_ENC_MERGES = 30


@register(
    "q_k59_bpe_encode",
    family="K",
    doc="Tokenize the corpus with the BPE merges trained by the k50 "
    "path (operators/bpe.py): distributed word histogram -> driver "
    "merge loop on the vocab-bounded histogram -> Arrow-batched "
    "pandas_udf encoder with per-batch word memoization (Zipf makes "
    "the cache hit rate high). Token arrays are not SQL-reproducible "
    "(the merge loop is iterative Python), so the registered form "
    "emits oracle-ANCHORED invariants: doc and word totals are "
    "recomputed by DuckDB from the same table; the booleans pin the "
    "encoder's contract - per-word concatenation reconstructs the "
    "text exactly (lossless), and the token count lies in "
    "[n_words, n_chars_without_spaces] (merges only ever shrink the "
    "per-word symbol count; never below one symbol per word).",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_words,
               TRUE AS roundtrip_ok,
               TRUE AS tokens_within_bounds
        FROM documents
    """,
)
def q_k59_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_publisher_spark.operators.bpe import apply_bpe, train_bpe, word_histogram

    docs = load(spark, sf_dir, "documents")
    merges = train_bpe(word_histogram(docs), n_merges=BPE_ENC_MERGES)
    toks = apply_bpe(docs, merges)
    per_doc = toks.select(
        "doc_id",
        F.size("tokens").alias("n_tokens"),
        # total_words mirrors the oracle's len(string_split(text, ' '));
        # the BOUND check must instead count words the way the encoder
        # does (str.split: empty tokens from edge/repeat whitespace
        # dropped), or a whitespace-edged doc breaks the invariant
        F.size(words(F.col("text"))).alias("n_words"),
        F.size(F.array_remove(words(F.col("text")), "")).alias("n_words_enc"),
        (F.length(F.regexp_replace(F.col("text"), r"\s+", ""))).alias("n_chars"),
        (F.concat_ws("", F.col("tokens")) == F.regexp_replace(F.col("text"), r"\s+", ""))
        .alias("rt"),
    )
    return per_doc.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.coalesce(F.bool_and("rt"), F.lit(True)).alias("roundtrip_ok"),
        F.coalesce(
            F.bool_and(
                (F.col("n_tokens") >= F.col("n_words_enc"))
                & (F.col("n_tokens") <= F.col("n_chars"))
            ),
            F.lit(True),
        ).alias("tokens_within_bounds"),
    )


# --------------------------------------------------------------------------
# q_k122 — int8 quantization retrieval-fidelity audit
# --------------------------------------------------------------------------

#: cos(v, dequant(quant(v))) below this 8dp threshold counts a vector
#: as retrieval-degraded (cosine ANN at 0.9-0.99 thresholds starts to
#: reorder neighbors once round-trip fidelity drops under ~0.999).
QUANT_FIDELITY_FLOOR = 0.999

K122_ORACLE = f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    el AS (
        SELECT vec_id, label, v[i] AS x
        FROM e CROSS JOIN generate_series(1, 100000) g(i)
        WHERE i <= len(v)
    ),
    s AS (SELECT vec_id, MAX(ABS(x)) AS amax FROM el GROUP BY vec_id),
    q AS (
        SELECT el.vec_id, el.label, el.x,
               CASE WHEN s.amax = 0 THEN 0.0
                    ELSE GREATEST(-127.0, LEAST(127.0,
                         FLOOR(el.x / (s.amax / 127.0) + 0.5))) END AS qi
        FROM el JOIN s USING (vec_id)
    ),
    dots AS (
        SELECT vec_id, label,
               SUM(CAST(ROUND(x * qi, 8) AS DECIMAL(20, 8))) AS svq,
               SUM(CAST(ROUND(x * x, 8) AS DECIMAL(20, 8))) AS sv2,
               SUM(CAST(qi * qi AS DECIMAL(20, 8))) AS sq2
        FROM q GROUP BY vec_id, label
    ),
    fid AS (
        SELECT vec_id, label,
               CASE WHEN sv2 > 0 AND sq2 > 0 THEN
                   CAST(ROUND(CAST(svq AS DOUBLE)
                        / sqrt(CAST(sv2 AS DOUBLE) * CAST(sq2 AS DOUBLE)), 8)
                        AS DECIMAL(12, 8))
               END AS cos8
        FROM dots
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN cos8 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_degenerate,
           ROUND(CAST(SUM(cos8) AS DOUBLE) / COUNT(cos8), 4) AS mean_cos,
           CAST(ROUND(MIN(cos8), 4) AS DOUBLE) AS min_cos,
           CASE WHEN COUNT(cos8) > 0 THEN
               ROUND(SUM(CASE WHEN cos8 < {QUANT_FIDELITY_FLOOR}
                          THEN 1 ELSE 0 END)
                     * 1.0 / COUNT(cos8), 4) END AS frac_degraded
    FROM fid
    GROUP BY label
    ORDER BY label
"""


@register(
    "q_k122_quantization_fidelity",
    family="K",
    doc="K-122 int8 round-trip retrieval-fidelity audit: q_k49 "
    "quantizes (symmetric absmax, explicit floor(x+0.5) both engines) "
    "and reports MSE; the decision a serving/index team actually "
    "makes needs ANGLE preservation — cos(v, dequant(quant(v))), "
    "whose scale factor cancels so it is computable from the int "
    "codes directly. Per label: vector count, degenerate (zero) "
    "vectors excluded-and-counted, mean/min round-trip cosine and the "
    f"fraction under the {QUANT_FIDELITY_FLOOR} retrieval floor. Every "
    "dot-product term is 8dp-rounded and DECIMAL-summed (order-free), "
    "the cosine is one double expression of those exact sums rounded "
    "to 8dp, and the label aggregate sums DECIMALs — bit-identical "
    "cross-engine. Plan: one explode + two hash aggregates, linear; "
    "at 100 TB this is a single corpus pass (the q_k49 shape).",
    oracle=K122_ORACLE,
)
def q_k122_quantization_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    el = e.select(
        "vec_id", "label", F.explode(F.col("embedding")).alias("xf")
    ).withColumn("x", F.col("xf").cast("double"))
    s = el.groupBy("vec_id").agg(F.max(F.abs(F.col("x"))).alias("amax"))
    q = el.join(s, "vec_id").withColumn(
        "qi",
        F.when(F.col("amax") == 0, F.lit(0.0)).otherwise(
            F.greatest(
                F.lit(-127.0),
                F.least(
                    F.lit(127.0),
                    F.floor(
                        F.col("x") / (F.col("amax") / F.lit(127.0)) + F.lit(0.5)
                    ).cast("double"),
                ),
            )
        ),
    )
    dots = q.groupBy("vec_id", "label").agg(
        F.sum(
            F.round(F.col("x") * F.col("qi"), 8).cast("decimal(20,8)")
        ).alias("svq"),
        F.sum(
            F.round(F.col("x") * F.col("x"), 8).cast("decimal(20,8)")
        ).alias("sv2"),
        F.sum(
            (F.col("qi") * F.col("qi")).cast("decimal(20,8)")
        ).alias("sq2"),
    )
    fid = dots.select(
        "label",
        F.when(
            (F.col("sv2") > 0) & (F.col("sq2") > 0),
            F.round(
                F.col("svq").cast("double")
                / F.sqrt(F.col("sv2").cast("double") * F.col("sq2").cast("double")),
                8,
            ).cast("decimal(12,8)"),
        ).alias("cos8"),
    )
    return (
        fid.groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.sum(F.col("cos8").isNull().cast("int"))
            .cast("bigint")
            .alias("n_degenerate"),
            F.round(F.sum("cos8").cast("double") / F.count("cos8"), 4).alias(
                "mean_cos"
            ),
            F.round(F.min("cos8"), 4).cast("double").alias("min_cos"),
            # r14 ADVICE: a fully-degenerate label (every vector
            # all-zero) has COUNT(cos8)=0 — DuckDB's IEEE 0/0 is NaN
            # while Spark's NULL-sum / 0 is NULL; pin both to NULL
            # (the q_k120 guard class). Spark's numerator skips NULL
            # rows while the oracle's CASE counts them as 0 — same
            # value; only the 0/0 denominator case diverged.
            F.when(
                F.count("cos8") > 0,
                F.round(
                    F.sum((F.col("cos8") < QUANT_FIDELITY_FLOOR).cast("int"))
                    * F.lit(1.0)
                    / F.count("cos8"),
                    4,
                ),
            ).alias("frac_degraded"),
        )
        .select(
            F.col("label").cast("bigint").alias("label"),
            "n_vecs",
            "n_degenerate",
            "mean_cos",
            "min_cos",
            "frac_degraded",
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# q_k125 — diagonal participation ratio (effective embedding dimension)
# --------------------------------------------------------------------------

K125_ORACLE = """
    WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
    el AS (
        SELECT label, i, v[i] AS x
        FROM e CROSS JOIN generate_series(1, 100000) g(i)
        WHERE i <= len(v)
    ),
    mom AS (
        SELECT label, i, COUNT(*) AS n,
               SUM(CAST(ROUND(x, 8) AS DECIMAL(20, 8))) AS s1,
               SUM(CAST(ROUND(x * x, 8) AS DECIMAL(20, 8))) AS s2
        FROM el GROUP BY label, i
    ),
    dims AS (
        SELECT label, n,
               ROUND(GREATEST((CAST(s2 AS DOUBLE)
                    - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / n,
                    0.0), 8) AS v8
        FROM mom
    ),
    agg AS (
        SELECT label, MAX(n) AS n_vecs, COUNT(*) AS d,
               SUM(CAST(v8 AS DECIMAL(20, 8))) AS tr,
               SUM(CAST(ROUND(v8 * v8, 8) AS DECIMAL(20, 8))) AS fr,
               MAX(v8) AS vmax
        FROM dims GROUP BY label
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(n_vecs AS BIGINT) AS n_vecs,
           ROUND(CAST(tr AS DOUBLE), 6) AS total_var,
           CASE WHEN fr > 0 THEN
               ROUND(CAST(tr AS DOUBLE) * CAST(tr AS DOUBLE)
                     / CAST(fr AS DOUBLE), 4)
           END AS eff_dim,
           CASE WHEN fr > 0 THEN
               ROUND(CAST(tr AS DOUBLE) * CAST(tr AS DOUBLE)
                     / CAST(fr AS DOUBLE) / d, 4)
           END AS eff_dim_frac,
           CASE WHEN tr > 0 THEN ROUND(vmax / CAST(tr AS DOUBLE), 4) END
               AS top_var_frac
    FROM agg
    ORDER BY label
"""


@register(
    "q_k125_participation_ratio",
    family="K",
    doc="K-125 diagonal participation ratio — the effective number of "
    "embedding dimensions carrying variance, PR = tr(C)^2 / ||diag(C)||^2 "
    "= (SUM var_i)^2 / SUM var_i^2 over the per-label per-dimension "
    "variances (Gao et al. 2017's participation ratio of the covariance "
    "spectrum, under the same diagonal-covariance simplification q_k114's "
    "FID uses — no eigendecomposition, so the whole estimate is exactly "
    "SQL-reproducible). Complements the geometry battery: q_k98 measures "
    "mean pairwise cosine (collapse toward a cone), q_k120 the TwoNN "
    "manifold dimension (local), q_k46 the global PCA axes — this is the "
    "axis-aligned variance concentration, the cheapest screen for an "
    "embedding model that wastes most of its width (PR << d means a few "
    "coordinates dominate; random isotropic vectors read PR close to d). "
    "Per label: vector count, total variance (6dp), effective dimension "
    "and its fraction of d (4dp), and the top single-dimension variance "
    "share. Per-dim variance is the standard one-pass identity "
    "(S2 - S1^2/n)/n over 8dp-rounded DECIMAL sums, clamped at 0 before "
    "its own 8dp rounding (a constant dimension must not go negative by "
    "double noise); trace and Frobenius sums are DECIMAL over the 8dp "
    "per-dim terms (order-free, 64 terms); fully-degenerate labels pin "
    "eff_dim to NULL via the q_k120/q_k122 guard class from birth. Plan: "
    "one posexplode + a (label, pos) hash aggregate (the q_k89/q_k114 "
    "moment discipline) -> labels x 64 rows; everything after is "
    "label-sized. Scales to 100 TB: one corpus pass, map-side combined.",
    oracle=K125_ORACLE,
)
def q_k125_participation_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    el = e.select(
        "label", F.posexplode(F.col("embedding")).alias("pos", "xf")
    ).withColumn("x", F.col("xf").cast("double"))
    mom = el.groupBy("label", "pos").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("x"), 8).cast("decimal(20,8)")).alias("s1"),
        F.sum(
            F.round(F.col("x") * F.col("x"), 8).cast("decimal(20,8)")
        ).alias("s2"),
    )
    v8 = F.round(
        F.greatest(
            (
                F.col("s2").cast("double")
                - F.col("s1").cast("double")
                * F.col("s1").cast("double")
                / F.col("n")
            )
            / F.col("n"),
            F.lit(0.0),
        ),
        8,
    )
    dims = mom.select("label", "n", v8.alias("v8"))
    agg = dims.groupBy("label").agg(
        F.max("n").cast("bigint").alias("n_vecs"),
        F.count("*").alias("d"),
        F.sum(F.col("v8").cast("decimal(20,8)")).alias("tr"),
        F.sum(
            F.round(F.col("v8") * F.col("v8"), 8).cast("decimal(20,8)")
        ).alias("fr"),
        F.max("v8").alias("vmax"),
    )
    tr_d = F.col("tr").cast("double")
    fr_d = F.col("fr").cast("double")
    return agg.select(
        F.col("label").cast("bigint").alias("label"),
        "n_vecs",
        F.round(tr_d, 6).alias("total_var"),
        F.when(F.col("fr") > 0, F.round(tr_d * tr_d / fr_d, 4)).alias(
            "eff_dim"
        ),
        F.when(
            F.col("fr") > 0, F.round(tr_d * tr_d / fr_d / F.col("d"), 4)
        ).alias("eff_dim_frac"),
        F.when(F.col("tr") > 0, F.round(F.col("vmax") / tr_d, 4)).alias(
            "top_var_frac"
        ),
    ).orderBy("label")


# --------------------------------------------------------------------------
# q_k128 — embedding norm outlier screen
# --------------------------------------------------------------------------

K128_ORACLE = """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    el AS (
        SELECT vec_id, label, v[i] AS x
        FROM e CROSS JOIN generate_series(1, 100000) g(i)
        WHERE i <= len(v)
    ),
    nv AS (
        SELECT vec_id, label,
               ROUND(sqrt(CAST(SUM(CAST(ROUND(x * x, 8) AS DECIMAL(20, 8)))
                               AS DOUBLE)), 8) AS norm8
        FROM el GROUP BY vec_id, label
    ),
    lm AS (
        SELECT label, COUNT(*) AS n,
               ROUND(CAST(SUM(CAST(norm8 AS DECIMAL(20, 8))) AS DOUBLE)
                     / COUNT(*), 8) AS mean8
        FROM nv GROUP BY label
    )
    SELECT CAST(nv.label AS BIGINT) AS label,
           CAST(lm.n AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN nv.norm8 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero,
           ROUND(lm.mean8, 6) AS mean_norm,
           ROUND(CAST(MIN(nv.norm8) AS DOUBLE), 4) AS min_norm,
           ROUND(CAST(MAX(nv.norm8) AS DOUBLE), 4) AS max_norm,
           ROUND(SUM(CASE WHEN nv.norm8 > 2 * lm.mean8 THEN 1 ELSE 0 END)
                 * 1.0 / lm.n, 4) AS frac_high,
           ROUND(SUM(CASE WHEN nv.norm8 < 0.5 * lm.mean8 THEN 1 ELSE 0 END)
                 * 1.0 / lm.n, 4) AS frac_low
    FROM nv JOIN lm ON lm.label = nv.label
    GROUP BY nv.label, lm.n, lm.mean8
    ORDER BY label
"""


@register(
    "q_k128_norm_outlier_screen",
    family="K",
    doc="K-128 embedding norm outlier screen — the sanity gate before "
    "any cosine-based op: a handful of runaway-norm vectors (bad "
    "decode, truncated inputs, fp overflow upstream) dominate dot "
    "products and silently distort q_k21/q_k35/q_k109 near-dup "
    "verdicts even though cosine itself normalizes (their buckets, "
    "quantization scales and centroids do not). Per label: vector "
    "count, exact-zero vectors, mean L2 norm, min/max, and the "
    "fraction beyond fixed mean-relative fences (> 2x mean, "
    "< 0.5x mean) — fences over the MEAN rather than a quantile so "
    "the whole screen is two hash aggregates with no per-label sort "
    "or value buffering (percentile aggs hold a group's values in "
    "memory; this never does). Exact cross-engine: per-vector norm "
    "is the 8dp sqrt of an 8dp-DECIMAL square sum (the q_k122 "
    "discipline), the label mean is an 8dp division of a DECIMAL "
    "sum, fence comparisons are identical double expressions of "
    "those 8dp values, and an all-zero label degrades to frac 0/0-"
    "free zeros by construction (fences at 0 exclude equality). "
    "Plan: one posexplode + (vec, label) hash aggregate -> one "
    "label aggregate -> one broadcast-sized join back. Scales to "
    "100 TB: two linear passes, label-sized intermediates.",
    oracle=K128_ORACLE,
)
def q_k128_norm_outlier_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    el = e.select(
        "vec_id", "label", F.explode(F.col("embedding")).alias("xf")
    ).withColumn("x", F.col("xf").cast("double"))
    nv = el.groupBy("vec_id", "label").agg(
        F.round(
            F.sqrt(
                F.sum(
                    F.round(F.col("x") * F.col("x"), 8).cast("decimal(20,8)")
                ).cast("double")
            ),
            8,
        ).alias("norm8")
    )
    lm = nv.groupBy("label").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("norm8").cast("decimal(20,8)")).cast("double")
            / F.count("*"),
            8,
        ).alias("mean8"),
    )
    return (
        nv.join(lm, "label")
        .groupBy("label", "n", "mean8")
        .agg(
            F.sum((F.col("norm8") == 0).cast("int"))
            .cast("bigint")
            .alias("n_zero"),
            F.round(F.min("norm8"), 4).alias("min_norm"),
            F.round(F.max("norm8"), 4).alias("max_norm"),
            F.round(
                F.sum((F.col("norm8") > 2 * F.col("mean8")).cast("int"))
                * F.lit(1.0)
                / F.col("n"),
                4,
            ).alias("frac_high"),
            F.round(
                F.sum((F.col("norm8") < 0.5 * F.col("mean8")).cast("int"))
                * F.lit(1.0)
                / F.col("n"),
                4,
            ).alias("frac_low"),
        )
        .select(
            F.col("label").cast("bigint").alias("label"),
            F.col("n").cast("bigint").alias("n_vecs"),
            "n_zero",
            F.round(F.col("mean8"), 6).alias("mean_norm"),
            "min_norm",
            "max_norm",
            "frac_high",
            "frac_low",
        )
        .orderBy("label")
    )
