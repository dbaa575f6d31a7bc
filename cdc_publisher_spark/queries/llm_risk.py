"""Family K rounds 8-9 extension: training-data risk audits.

- q_k88 rare-gram exposure: per source, how much of its distinct
  5-gram content is uniquely attributable — grams whose corpus-wide
  document frequency is 1 (one single document anywhere contains
  them) or ≤ RARE_DF. Verbatim extraction attacks recover exactly
  this long-tail content (Carlini et al. 2021, "Extracting Training
  Data from Large Language Models"), and duplication-vs-memorization
  studies (Kandpal et al. 2022; Lee et al. 2021) make gram-level
  document frequency the standard exposure axis. A source with a
  high unique fraction is where PII/secret leakage risk concentrates
  and where dedup cannot help (nothing to deduplicate against).
- q_k89 label centroid drift: per embedding label (the fixture's
  cohort column), cosine of the label's centroid against the global
  corpus centroid, plus the centroid's own L2 norm. The
  cluster-vs-corpus drift screen run before cohort-balanced sampling
  (a label whose centroid sits far off the corpus axis — low cosine
  — or near zero norm — internal cancellation — is a heterogeneous
  or corrupted slice; complements q_k73's kNN purity audit which
  probes the same risk pointwise).
- q_k90 Heaps'-law vocabulary growth: per source, the log-log OLS
  slope beta of cumulative distinct vocabulary V(N) against
  cumulative token count N over the source's document sequence.
  Natural text follows V ~ k*N^beta with beta ≈ 0.4-0.7 (Heaps
  1978); templated, machine-generated, or heavily boilerplated feeds
  show depressed beta (vocabulary saturates) — the corpus-level
  synthetic-content screen complementing q_k18's within-document
  repetition check.
- q_k91 quasi-identifier k-anonymity: the Sweeney (2002) linkage
  audit over the documents table's metadata columns — equivalence
  classes on (source, lang, length-bucket) at a GENERALIZATION LADDER
  of bucket widths; per source, singleton counts per width and the
  finest width at which every class reaches k >= 2. A source whose
  classes stay singleton even at coarse generalization is one whose
  metadata alone re-identifies records (complements q_k23's in-text
  PII redaction: this is the structured-metadata side of the same
  risk).

Scale shape:

- q_k88 is one shingle explode (linear, codegen — functions/text.py
  shingle_rows), one equi-join to the (doc_id, source) projection,
  ONE corpus-cardinality hash aggregate keyed by the gram (per-gram
  df + the ≤|sources| distinct-source set via collect_set), then a
  dimension-sized explode/re-aggregate. No window, no persisted
  frame, no pair join — the gram-keyed shuffle is the same shape as
  q_k2's shingle join and distributes by gram hash at any corpus
  size.
- q_k89's only corpus-scale step is the posexplode to (label, pos)
  partials — 64 rows per vector, aggregated with map-side combine
  into ≤ labels×64 sums. Everything after (global re-aggregate, dot
  products, cosines) runs on that dimension-sized frame. Cosine is
  scale-invariant, so it is computed between the SUM vectors —
  no centroid division enters the comparison path.
- q_k90's corpus work is one token explode feeding a (source, word)
  min-aggregate (first-appearance doc — map-side combine on the
  vocab key) and a per-doc token count; the prefix sums use the
  classic TWO-LEVEL distributed scan, because a window partitioned
  only by source funnels each source's whole doc sequence through
  one task (the low-cardinality-window tripwire rightly rejects
  that): per-doc rows chunk on ``doc_id div HEAPS_CHUNK``, within-
  chunk running sums run in a (source, chunk) window whose
  partitions are bounded by the chunk size, chunk totals collapse to
  a corpus/HEAPS_CHUNK-row table whose exclusive-prefix offsets are
  the only source-partitioned window (over CHUNK rows, not doc
  rows), and a (source, chunk) join stitches offsets to within-chunk
  sums. The OLS fit is then a plain per-source aggregate over the
  per-doc points.
- q_k91 never touches text at all: the scan reads three metadata
  columns (column pruning), the generalization ladder is a 4-row
  literal explode on that projection, and both aggregates are plain
  hash aggs keyed by (width, source, lang, bucket) then
  (source, width) — dimension-sized output, no window, no join.

Float canonicalization per registry.py rules: q_k88 emits exact
integers plus one 4dp-rounded division (k73 precedent). q_k89 rounds
each per-element partial to 8dp and DECIMAL-sums (order-independent,
the llm_ml.py pattern), then forms dot-product terms as 6dp-rounded
DECIMALs of products of identical cross-engine doubles; the final
cosine/norm are single double expressions over exact DECIMAL inputs,
ROUNDed at 6dp.

Reference parity: none of this exists in the reference (a CDC
microservice, /root/reference/src/cdc_publisher/core.clj:1-22); both
are declared LLM-data extension surface beyond SURVEY.md §2.2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_publisher_spark.functions import text as TX
from cdc_publisher_spark.registry import register
from cdc_publisher_spark.tables import load

#: q_k88 gram order — 5-grams, the span length the extraction
#: literature treats as attributable content (long enough to be
#: specific, short enough to survive paraphrase).
EXPOSURE_K = 5
#: corpus-wide document frequency at or under which a gram counts as
#: "rare" (df == 1 is the stricter "unique" tier, reported separately).
RARE_DF = 2


# --------------------------------------------------------------------------
# q_k88 — rare-gram exposure (memorization / attribution risk)
# --------------------------------------------------------------------------
@register(
    "q_k88_rare_gram_exposure",
    family="K",
    doc="K-88 rare-gram exposure audit: per source, distinct 5-grams "
    "split by corpus-wide document frequency — n_unique (df=1: "
    "uniquely attributable, the verbatim-extraction risk tier) and "
    f"n_rare (df<={RARE_DF}) — with unique_frac = n_unique/n_grams. "
    "One gram-keyed hash aggregate (df + distinct-source set), "
    "dimension-sized output; exact integers + one 4dp division.",
    oracle=f"""
        WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
        sh AS (
            SELECT DISTINCT doc_id,
                   ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
                   ws[i+3] || ' ' || ws[i+4] AS s
            FROM w CROSS JOIN generate_series(1, 100000) g(i)
            WHERE i + {EXPOSURE_K - 1} <= len(ws)
        ),
        j AS (
            SELECT sh.s, sh.doc_id, d.source
            FROM sh JOIN documents d USING (doc_id)
        ),
        g AS (
            SELECT s, COUNT(*) AS df, LIST(DISTINCT source) AS srcs
            FROM j GROUP BY s
        ),
        e AS (SELECT UNNEST(srcs) AS source, df FROM g)
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_unique,
               CAST(SUM(CASE WHEN df <= {RARE_DF} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_rare,
               ROUND(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1.0
                     / COUNT(*), 4) AS unique_frac
        FROM e
        GROUP BY source
        ORDER BY source
    """,
)
def q_k88_rare_gram_exposure(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # per-doc distinct grams as rows (codegen path); string keys, not
    # hashed — the oracle joins on the same literal gram
    sh = TX.shingle_rows(docs, "doc_id", "text", EXPOSURE_K)
    j = sh.join(docs.select("doc_id", "source"), "doc_id")
    # ONE corpus-cardinality aggregate keyed by the gram: (doc_id, s)
    # is distinct by construction, so count(*) IS the document
    # frequency; the source set is bounded by |sources|
    g = j.groupBy("s").agg(
        F.count("*").alias("df"),
        F.collect_set("source").alias("srcs"),
    )
    return (
        g.select(F.explode("srcs").alias("source"), "df")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_unique"),
            F.sum(F.when(F.col("df") <= RARE_DF, 1).otherwise(0))
            .cast("long")
            .alias("n_rare"),
        )
        .withColumn(
            "unique_frac",
            F.round(F.col("n_unique") * F.lit(1.0) / F.col("n_grams"), 4),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q_k89 — label centroid drift (embedding cohort audit)
# --------------------------------------------------------------------------
@register(
    "q_k89_label_centroid_drift",
    family="K",
    doc="K-89 label centroid drift: per label, cosine of the label's "
    "centroid to the global corpus centroid (computed between the "
    "DECIMAL-exact SUM vectors — cosine is scale-invariant) and the "
    "centroid L2 norm. Corpus work is one posexplode + map-side-"
    "combined (label, pos) sum; all trig runs on the ≤ labels×64 "
    "frame. 8dp-rounded DECIMAL partials, 6dp-rounded outputs.",
    oracle="""
        WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        el AS (
            SELECT label, i, v[i] AS x
            FROM e CROSS JOIN generate_series(1, 100000) g(i)
            WHERE i <= len(v)
        ),
        ls AS (
            SELECT label, i,
                   SUM(CAST(ROUND(x, 8) AS DECIMAL(20, 8))) AS s
            FROM el GROUP BY label, i
        ),
        gs AS (SELECT i, SUM(s) AS gt FROM ls GROUP BY i),
        n AS (SELECT label, COUNT(*) AS n_vecs FROM e GROUP BY label),
        d AS (
            SELECT ls.label,
                   SUM(CAST(ROUND(CAST(ls.s AS DOUBLE) * CAST(gs.gt AS DOUBLE), 6)
                            AS DECIMAL(28, 6))) AS dot,
                   SUM(CAST(ROUND(CAST(ls.s AS DOUBLE) * CAST(ls.s AS DOUBLE), 6)
                            AS DECIMAL(28, 6))) AS ssl,
                   SUM(CAST(ROUND(CAST(gs.gt AS DOUBLE) * CAST(gs.gt AS DOUBLE), 6)
                            AS DECIMAL(28, 6))) AS ssg
            FROM ls JOIN gs USING (i)
            GROUP BY ls.label
        )
        SELECT CAST(d.label AS BIGINT) AS label,
               CAST(n.n_vecs AS BIGINT) AS n_vecs,
               ROUND(CAST(d.dot AS DOUBLE)
                     / SQRT(CAST(d.ssl AS DOUBLE) * CAST(d.ssg AS DOUBLE)),
                     6) AS drift_cos,
               ROUND(SQRT(CAST(d.ssl AS DOUBLE)) / n.n_vecs, 6) AS centroid_l2
        FROM d JOIN n USING (label)
        ORDER BY label
    """,
)
def q_k89_label_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    el = e.select("label", F.posexplode("embedding").alias("p", "x"))
    # 8dp-rounded DECIMAL partials: exact, order-independent sums
    # (llm_ml.py pattern) — the ONLY corpus-scale aggregate
    ls = el.groupBy("label", "p").agg(
        F.sum(
            F.round(F.col("x").cast("double"), 8).cast("decimal(20,8)")
        ).alias("s")
    )
    gs = ls.groupBy("p").agg(F.sum("s").alias("gt"))
    n = e.groupBy("label").agg(F.count("*").cast("long").alias("n_vecs"))

    def _term(a, b):
        return F.sum(
            F.round(a.cast("double") * b.cast("double"), 6).cast("decimal(28,6)")
        )

    d = (
        ls.join(gs, "p")
        .groupBy("label")
        .agg(
            _term(F.col("s"), F.col("gt")).alias("dot"),
            _term(F.col("s"), F.col("s")).alias("ssl"),
            _term(F.col("gt"), F.col("gt")).alias("ssg"),
        )
    )
    return (
        d.join(n, "label")
        .select(
            F.col("label").cast("long").alias("label"),
            "n_vecs",
            F.round(
                F.col("dot").cast("double")
                / F.sqrt(F.col("ssl").cast("double") * F.col("ssg").cast("double")),
                6,
            ).alias("drift_cos"),
            F.round(
                F.sqrt(F.col("ssl").cast("double")) / F.col("n_vecs"), 6
            ).alias("centroid_l2"),
        )
        .orderBy("label")
    )


#: q_k90 point-precision constants: ln() values round to 6dp DECIMALs
#: before any cross-engine arithmetic (libm last-ulp divergence is
#: ~1e-16, far inside the 1e-6 grid), products of those to 6dp
#: DECIMALs (k89 pattern), final slope to 4dp.
HEAPS_LN_DP = 6

#: q_k90 two-level-scan chunk size: within-chunk window partitions hold
#: ≤ this many per-DOC rows; the chunk-offset table is corpus/CHUNK
#: rows. A layout constant.
HEAPS_CHUNK = 4096

#: q_k91 generalization ladder: n_chars bucket widths from finest to
#: coarsest. min_safe_width is the smallest with every class k >= 2.
QI_WIDTHS = (16, 64, 256, 1024)


# --------------------------------------------------------------------------
# q_k90 — Heaps'-law vocabulary growth (synthetic/templated-text screen)
# --------------------------------------------------------------------------
@register(
    "q_k90_heaps_vocab_growth",
    family="K",
    bench=True,  # the two-level prefix scan is the newest nontrivial
    # plan shape — benched so a regression shows cross-round (r9 ask #4)
    doc="K-90 Heaps'-law growth screen: per source, OLS slope beta of "
    "ln(cumulative distinct vocab) on ln(cumulative tokens) over the "
    "doc_id-ordered document sequence. Natural text: beta ~ 0.4-0.7; "
    "templated/machine-generated feeds saturate vocabulary and "
    "depress beta. First-appearance via one (source, word) min-agg; "
    "prefix sums via the two-level distributed scan (bounded "
    "(source, doc_id div 4096) within-chunk windows + an exclusive-"
    "prefix window over the chunk-total table only); fit as a plain "
    "aggregate; 6dp DECIMAL ln-points, 4dp slope.",
    oracle=f"""
        WITH tok AS (
            SELECT source, doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents
        ),
        fa AS (SELECT source, w, MIN(doc_id) AS fd FROM tok GROUP BY 1, 2),
        nw AS (
            SELECT source, fd AS doc_id, CAST(COUNT(*) AS BIGINT) AS nww
            FROM fa GROUP BY 1, 2
        ),
        dt AS (
            SELECT source, doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS t
            FROM documents
        ),
        cum AS (
            SELECT dt.source, dt.doc_id,
                   CAST(SUM(dt.t) OVER (
                        PARTITION BY dt.source ORDER BY dt.doc_id) AS BIGINT)
                       AS cn,
                   CAST(SUM(COALESCE(nw.nww, 0)) OVER (
                        PARTITION BY dt.source ORDER BY dt.doc_id) AS BIGINT)
                       AS cv
            FROM dt LEFT JOIN nw USING (source, doc_id)
        ),
        pts AS (
            SELECT source,
                   CAST(ROUND(ln(CAST(cn AS DOUBLE)), {HEAPS_LN_DP})
                        AS DECIMAL(18, 6)) AS x,
                   CAST(ROUND(ln(CAST(cv AS DOUBLE)), {HEAPS_LN_DP})
                        AS DECIMAL(18, 6)) AS y
            FROM cum WHERE cn > 0 AND cv > 0
        ),
        a AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS np,
                   SUM(x) AS sx, SUM(y) AS sy,
                   SUM(CAST(ROUND(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 6)
                            AS DECIMAL(28, 6))) AS sxx,
                   SUM(CAST(ROUND(CAST(x AS DOUBLE) * CAST(y AS DOUBLE), 6)
                            AS DECIMAL(28, 6))) AS sxy
            FROM pts GROUP BY source
        ),
        tot AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(t) AS BIGINT) AS total_tokens
            FROM dt GROUP BY source
        ),
        voc AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab_size
            FROM fa GROUP BY source
        )
        SELECT a.source, tot.n_docs, tot.total_tokens, voc.vocab_size,
               ROUND((a.np * CAST(a.sxy AS DOUBLE)
                      - CAST(a.sx AS DOUBLE) * CAST(a.sy AS DOUBLE))
                     / (a.np * CAST(a.sxx AS DOUBLE)
                        - CAST(a.sx AS DOUBLE) * CAST(a.sx AS DOUBLE)),
                     4) AS heaps_beta
        FROM a JOIN tot USING (source) JOIN voc USING (source)
        ORDER BY source
    """,
)
def q_k90_heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_publisher_spark.functions.text import words
    from cdc_publisher_spark.operators.scan import two_level_prefix_sums

    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "source", "doc_id", F.explode(words(F.col("text"))).alias("w")
    )
    # first appearance of each (source, word): map-side-combined min —
    # the ONLY vocab-keyed shuffle
    fa = tok.groupBy("source", "w").agg(F.min("doc_id").alias("fd"))
    nw = fa.groupBy("source", F.col("fd").alias("doc_id")).agg(
        F.count("*").cast("long").alias("nww")
    )
    dt = docs.select(
        "source", "doc_id", F.size(words(F.col("text"))).cast("long").alias("t")
    )
    # two-level distributed scan (operators/scan.py): a window
    # partitioned only by source would funnel a source's entire doc
    # sequence through one task, so running totals chunk on doc_id
    perdoc = dt.join(nw, ["source", "doc_id"], "left").select(
        "source",
        "doc_id",
        "t",
        F.coalesce(F.col("nww"), F.lit(0)).alias("nv"),
    )
    cum = two_level_prefix_sums(
        perdoc, ["source"], "doc_id", ["t", "nv"], chunk=HEAPS_CHUNK
    ).select(
        "source",
        "doc_id",
        F.col("cum_t").alias("cn"),
        F.col("cum_nv").alias("cv"),
    )
    pts = cum.filter((F.col("cn") > 0) & (F.col("cv") > 0)).select(
        "source",
        F.round(F.log(F.col("cn").cast("double")), HEAPS_LN_DP)
        .cast("decimal(18,6)")
        .alias("x"),
        F.round(F.log(F.col("cv").cast("double")), HEAPS_LN_DP)
        .cast("decimal(18,6)")
        .alias("y"),
    )

    def _term(p, q):
        return F.sum(
            F.round(p.cast("double") * q.cast("double"), 6).cast("decimal(28,6)")
        )

    a = pts.groupBy("source").agg(
        F.count("*").cast("long").alias("np"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        _term(F.col("x"), F.col("x")).alias("sxx"),
        _term(F.col("x"), F.col("y")).alias("sxy"),
    )
    tot = dt.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("t").cast("long").alias("total_tokens"),
    )
    voc = fa.groupBy("source").agg(F.count("*").cast("long").alias("vocab_size"))
    beta = (
        F.col("np") * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        F.col("np") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    return (
        a.join(tot, "source")
        .join(voc, "source")
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "vocab_size",
            F.round(beta, 4).alias("heaps_beta"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q_k91 — quasi-identifier k-anonymity (metadata linkage audit)
# --------------------------------------------------------------------------
@register(
    "q_k91_quasi_identifier_kanonymity",
    family="K",
    doc="K-91 quasi-identifier audit (Sweeney 2002): equivalence "
    "classes on (source, lang, n_chars-bucket) at a generalization "
    f"ladder of widths {QI_WIDTHS}; per source, singleton-class doc "
    "counts at each width and min_safe_width — the finest width at "
    "which every class reaches k >= 2 (-1 when even the coarsest "
    "leaves singletons). Metadata-only scan (text never read), two "
    "hash aggregates, dimension-sized output.",
    oracle=f"""
        WITH q AS (
            SELECT source, lang, wd, n_chars // wd AS lb
            FROM documents
            CROSS JOIN (SELECT UNNEST({list(QI_WIDTHS)}) AS wd) w
        ),
        cl AS (
            SELECT source, lang, wd, lb, CAST(COUNT(*) AS BIGINT) AS k
            FROM q GROUP BY 1, 2, 3, 4
        ),
        per AS (
            SELECT source, wd,
                   CAST(SUM(k) AS BIGINT) AS n_docs,
                   CAST(SUM(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS singles,
                   CAST(MIN(k) AS BIGINT) AS kmin
            FROM cl GROUP BY 1, 2
        )
        SELECT source,
               CAST(MAX(n_docs) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN wd = {QI_WIDTHS[0]} THEN singles END)
                    AS BIGINT) AS singletons_w{QI_WIDTHS[0]},
               CAST(SUM(CASE WHEN wd = {QI_WIDTHS[1]} THEN singles END)
                    AS BIGINT) AS singletons_w{QI_WIDTHS[1]},
               CAST(SUM(CASE WHEN wd = {QI_WIDTHS[2]} THEN singles END)
                    AS BIGINT) AS singletons_w{QI_WIDTHS[2]},
               CAST(SUM(CASE WHEN wd = {QI_WIDTHS[3]} THEN singles END)
                    AS BIGINT) AS singletons_w{QI_WIDTHS[3]},
               CAST(COALESCE(MIN(CASE WHEN kmin >= 2 THEN wd END), -1)
                    AS BIGINT) AS min_safe_width
        FROM per
        GROUP BY source
        ORDER BY source
    """,
)
def q_k91_quasi_identifier_kanonymity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    q = docs.select("source", "lang", "n_chars").withColumn(
        "wd", F.explode(F.array(*[F.lit(w) for w in QI_WIDTHS]))
    ).withColumn("lb", F.expr("n_chars div wd"))
    cl = q.groupBy("source", "lang", "wd", "lb").agg(
        F.count("*").cast("long").alias("k")
    )
    per = cl.groupBy("source", "wd").agg(
        F.sum("k").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("k") == 1, 1).otherwise(0)).cast("long").alias("singles"),
        F.min("k").cast("long").alias("kmin"),
    )
    sing_cols = [
        F.sum(F.when(F.col("wd") == w, F.col("singles")))
        .cast("long")
        .alias(f"singletons_w{w}")
        for w in QI_WIDTHS
    ]
    return (
        per.groupBy("source")
        .agg(
            F.max("n_docs").cast("long").alias("n_docs"),
            *sing_cols,
            F.coalesce(
                F.min(F.when(F.col("kmin") >= 2, F.col("wd"))), F.lit(-1)
            )
            .cast("long")
            .alias("min_safe_width"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q_k98 — embedding-collapse audit (mean pairwise cosine in ONE pass)
# --------------------------------------------------------------------------
@register(
    "q_k98_embedding_collapse",
    family="K",
    doc="K-98 embedding-collapse audit: per label, the MEAN PAIRWISE "
    "COSINE across all C(n,2) vector pairs — computed WITHOUT any "
    "pair join via the sum-vector identity sum_{i!=j} u_i.u_j = "
    "||sum u||^2 - sum ||u||^2 (unit vectors => second term = n): one "
    "normalize pass (array expressions, no shuffle), one (label, p) "
    "DECIMAL aggregate, label-sized algebra after. Mean cosine near 1 "
    "flags a collapsed/anisotropic embedding space (the Ethayarajh "
    "2019 diagnostic) — the audit a team runs before trusting cosine "
    "dedup (k21/k35) on a new encoder. Components 8dp-rounded before "
    "DECIMAL summing and products 6dp-rounded (q_k89's bit-stability "
    "algebra), so stream-order and engine cannot move the result.",
    oracle="""
        WITH e AS (
            SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        ),
        nrm AS (
            SELECT vec_id, label,
                   list_transform(v, x -> x / sqrt(
                       list_sum(list_transform(v, y -> y * y)))) AS u
            FROM e
        ),
        el AS (
            SELECT label, i, u[i] AS x
            FROM nrm CROSS JOIN generate_series(1, 100000) g(i)
            WHERE i <= len(u)
        ),
        ls AS (
            SELECT label, i,
                   SUM(CAST(ROUND(x, 8) AS DECIMAL(20,8))) AS s
            FROM el GROUP BY label, i
        ),
        n AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM e GROUP BY label),
        ssq AS (
            SELECT label,
                   CAST(SUM(CAST(ROUND(CAST(s AS DOUBLE) * CAST(s AS DOUBLE), 6)
                                 AS DECIMAL(28,6))) AS DOUBLE) AS sumsq
            FROM ls GROUP BY label
        )
        SELECT n.label, n_vecs,
               ROUND((sumsq - n_vecs) / (n_vecs * (n_vecs - 1.0)), 6)
                   AS mean_pair_cos,
               ROUND(sqrt(sumsq) / n_vecs, 6) AS centroid_l2
        FROM n JOIN ssq ON n.label = ssq.label
        WHERE n_vecs >= 2
        ORDER BY n.label
    """,
)
def q_k98_embedding_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    norm = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    u = emb.select(
        "label",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double") / norm)
        ).alias("p", "x"),
    )
    ls = u.groupBy("label", F.col("p") + 1).agg(
        F.sum(F.round("x", 8).cast("decimal(20,8)")).alias("s")
    )
    ssq = ls.groupBy("label").agg(
        F.sum(
            F.round(F.col("s").cast("double") * F.col("s").cast("double"), 6)
            .cast("decimal(28,6)")
        )
        .cast("double")
        .alias("sumsq")
    )
    n = emb.groupBy("label").agg(F.count("*").cast("long").alias("n_vecs"))
    nv = F.col("n_vecs").cast("double")
    return (
        n.join(ssq, "label")
        .filter(F.col("n_vecs") >= 2)
        .select(
            F.col("label").cast("long").alias("label"),
            "n_vecs",
            F.round((F.col("sumsq") - nv) / (nv * (nv - 1.0)), 6).alias(
                "mean_pair_cos"
            ),
            F.round(F.sqrt("sumsq") / nv, 6).alias("centroid_l2"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# q_k114 — label-pair Fréchet distance (FID-style cohort separation)
# --------------------------------------------------------------------------
@register(
    "q_k114_label_frechet_distance",
    family="K",
    doc="K-114 label-pair Fréchet distance, diagonal covariance — the "
    "FID construction (Heusel et al. 2017) specialized to per-label "
    "embedding cohorts: d²(a,b) = Σ_d (μ_ad − μ_bd)² + Σ_d (σ²_ad + "
    "σ²_bd − 2·sqrt(σ²_ad·σ²_bd)). Distribution-LEVEL separation "
    "between cohorts (mean shift + spread mismatch), complementing "
    "q_k89's centroid-direction drift and q_k98's within-cohort "
    "collapse: two labels can share a centroid direction yet differ "
    "badly in spread — this catches that. mean_term/cov_term are "
    "emitted separately so the diagnosis is readable. Scale: ONE "
    "posexplode + map-side-combined (label, p) aggregate over 8dp-"
    "rounded DECIMAL partials (the k89 discipline — order-independent "
    "exact sums, so the per-dim moment table is bit-identical cross-"
    "engine); everything after runs on the ≤ labels×64 moment frame "
    "and the labels² pair grid. Variances are clamped at 0 (greatest/"
    "GREATEST) against float cancellation; per-dim terms round to 8dp "
    "DECIMALs before the dim-sum so the total is order-free.",
    oracle="""
        WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
        el AS (
            SELECT label, i, v[i] AS x
            FROM e CROSS JOIN generate_series(1, 100000) g(i)
            WHERE i <= len(v)
        ),
        m AS (
            SELECT label, i,
                   COUNT(*) AS n,
                   SUM(CAST(ROUND(x, 8) AS DECIMAL(20, 8))) AS s1,
                   SUM(CAST(ROUND(x * x, 8) AS DECIMAL(24, 8))) AS s2
            FROM el GROUP BY label, i
        ),
        mv AS (
            SELECT label, i, n,
                   CAST(s1 AS DOUBLE) / n AS mu,
                   GREATEST(0.0, CAST(s2 AS DOUBLE) / n
                            - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) AS var
            FROM m
        ),
        pairs AS (
            SELECT a.label AS label_a, b.label AS label_b,
                   a.n AS n_a, b.n AS n_b,
                   SUM(CAST(ROUND((a.mu - b.mu) * (a.mu - b.mu), 8)
                            AS DECIMAL(28, 8))) AS mean_sum,
                   SUM(CAST(ROUND(a.var + b.var - 2 * SQRT(a.var * b.var), 8)
                            AS DECIMAL(28, 8))) AS cov_sum
            FROM mv a JOIN mv b ON a.i = b.i AND a.label < b.label
            GROUP BY 1, 2, 3, 4
        )
        SELECT CAST(label_a AS BIGINT) AS label_a,
               CAST(label_b AS BIGINT) AS label_b,
               CAST(n_a AS BIGINT) AS n_a,
               CAST(n_b AS BIGINT) AS n_b,
               ROUND(CAST(mean_sum AS DOUBLE), 4) AS mean_term,
               ROUND(CAST(cov_sum AS DOUBLE), 4) AS cov_term,
               ROUND(CAST(mean_sum AS DOUBLE) + CAST(cov_sum AS DOUBLE), 4) AS frechet_sq
        FROM pairs
        ORDER BY label_a, label_b
    """,
)
def q_k114_label_frechet_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    el = e.select("label", F.posexplode("embedding").alias("p", "x"))
    x = F.col("x").cast("double")
    # the ONLY corpus-scale aggregate: exact order-free DECIMAL partials
    m = el.groupBy("label", "p").agg(
        F.count("*").alias("n"),
        F.sum(F.round(x, 8).cast("decimal(20,8)")).alias("s1"),
        F.sum(F.round(x * x, 8).cast("decimal(24,8)")).alias("s2"),
    )
    mu = F.col("s1").cast("double") / F.col("n")
    mv = m.select(
        "label",
        "p",
        "n",
        mu.alias("mu"),
        F.greatest(
            F.lit(0.0), F.col("s2").cast("double") / F.col("n") - mu * mu
        ).alias("var"),
    )
    a = mv.select(
        F.col("label").alias("label_a"), "p",
        F.col("n").alias("n_a"), F.col("mu").alias("mu_a"),
        F.col("var").alias("var_a"),
    )
    b = mv.select(
        F.col("label").alias("label_b"), "p",
        F.col("n").alias("n_b"), F.col("mu").alias("mu_b"),
        F.col("var").alias("var_b"),
    )
    dmu = F.col("mu_a") - F.col("mu_b")
    cov = (
        F.col("var_a") + F.col("var_b")
        - 2 * F.sqrt(F.col("var_a") * F.col("var_b"))
    )
    pairs = (
        a.join(b, (a["p"] == b["p"]) & (F.col("label_a") < F.col("label_b")))
        .groupBy("label_a", "label_b", "n_a", "n_b")
        .agg(
            F.sum(F.round(dmu * dmu, 8).cast("decimal(28,8)")).alias("mean_sum"),
            F.sum(F.round(cov, 8).cast("decimal(28,8)")).alias("cov_sum"),
        )
    )
    return pairs.select(
        F.col("label_a").cast("bigint").alias("label_a"),
        F.col("label_b").cast("bigint").alias("label_b"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.round(F.col("mean_sum").cast("double"), 4).alias("mean_term"),
        F.round(F.col("cov_sum").cast("double"), 4).alias("cov_term"),
        F.round(
            F.col("mean_sum").cast("double") + F.col("cov_sum").cast("double"), 4
        ).alias("frechet_sq"),
    ).orderBy("label_a", "label_b")
