"""Registry entries for the approximate/scale operators (operators/).

q_k3 (MinHash+verify) shares q_k2's oracle — LSH prunes candidates but
the verified output is exact, so it must hash-match the exhaustive
join. SimHash/ANN/fingerprint/split outputs are probabilistic or
non-SQL, so their registered forms emit oracle-checkable INVARIANTS
(SQL-reproducible reference counts + booleans the oracle asserts TRUE;
a regression flips the hash red). The raw operator outputs stay
pytest-cross-checked against exact twins (tests/test_operators.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from cdc_publisher_spark.operators.ann import ann_topk
from cdc_publisher_spark.operators.fingerprint import rolling_fingerprint
from cdc_publisher_spark.operators.minhash import minhash_near_duplicates
from cdc_publisher_spark.operators.simhash import simhash_near_duplicates
from cdc_publisher_spark.registry import register, track_persist
from cdc_publisher_spark.tables import load


@register(
    "q_k3_minhash_neardup",
    family="K",
    bench=True,
    doc="K-2 MinHash+LSH near-dup with exact verify on candidates — "
    "identical output to q_k2 at O(collisions) cost (operators/minhash.py).",
    oracle="""
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
        )
        SELECT d1, d2, ROUND(i * 1.0 / (s1.n + s2.n - i), 4) AS jaccard
        FROM inter
        JOIN sz s1 ON s1.doc_id = d1
        JOIN sz s2 ON s2.doc_id = d2
        WHERE i * 1.0 / (s1.n + s2.n - i) >= 0.5
        ORDER BY d1, d2
    """,
)
def q_k3_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return minhash_near_duplicates(docs, threshold=0.5).orderBy("d1", "d2")


@register(
    "q_k11_simhash_neardup",
    family="K",
    doc="SimHash near-dup: 64-bit fingerprints, pigeonhole-banded "
    "candidate join, exact Hamming verify (operators/simhash.py). "
    "Hamming-ball membership isn't SQL-portable, so the registered "
    "form emits the oracle-checkable INVARIANTS of the pair set: the "
    "exact trigram-Jaccard>=0.5 reference pair count (SQL-"
    "reproducible, the q_k2 set) plus booleans the oracle asserts "
    "TRUE — recall vs that reference >= 0.5 (measured 0.60 on the "
    "deterministic corpus) and d1<d2 ordering. The raw pair list is "
    "simhash_near_duplicates; the exact-Hamming twin check lives in "
    "tests/test_operators.py.",
    oracle="""
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
        ref AS (
            SELECT d1, d2 FROM inter
            JOIN sz s1 ON s1.doc_id = d1
            JOIN sz s2 ON s2.doc_id = d2
            WHERE i * 1.0 / (s1.n + s2.n - i) >= 0.5
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_reference_pairs,
               TRUE AS recall_ge_05,
               TRUE AS pairs_ordered
        FROM ref
    """,
)
def q_k11_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_publisher_spark.functions import text as TX

    docs = load(spark, sf_dir, "documents")
    # both miners feed two audit branches each; cache the small pair sets
    found = track_persist(
        simhash_near_duplicates(docs, max_hamming=3).select("d1", "d2"),
        level=StorageLevel.MEMORY_AND_DISK,
    )

    # exact trigram-Jaccard >= 0.5 reference set (the q_k2 machinery)
    tok = TX.shingle_rows(docs, "doc_id", "text", 3, hashed=True)
    sizes = tok.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        tok.alias("a")
        .join(tok.alias("b"), "s")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count("*").alias("i"))
    )
    ref = (
        inter.join(sizes.alias("s1"), F.col("d1") == F.col("s1.doc_id"))
        .join(sizes.alias("s2"), F.col("d2") == F.col("s2.doc_id"))
        .filter(F.col("i") * 1.0 / (F.col("s1.n") + F.col("s2.n") - F.col("i")) >= 0.5)
        .select("d1", "d2")
    )
    ref = track_persist(ref, level=StorageLevel.MEMORY_AND_DISK)
    hits = ref.join(found, ["d1", "d2"], "left_semi")
    stats = ref.agg(F.count("*").alias("n_reference_pairs")).crossJoin(
        hits.agg(F.count("*").alias("_n_hit"))
    ).crossJoin(
        found.agg(
            F.coalesce(F.bool_and(F.col("d1") < F.col("d2")), F.lit(True)).alias(
                "pairs_ordered"
            )
        )
    )
    return stats.select(
        "n_reference_pairs",
        # multiplicative form: vacuously true on an empty reference set
        (F.col("_n_hit") * 1.0 >= 0.5 * F.col("n_reference_pairs")).alias(
            "recall_ge_05"
        ),
        "pairs_ordered",
    )


@register(
    "q_k12_ann_topk",
    family="K",
    bench=True,
    doc="LSH-bucketed approximate top-k cosine (operators/ann.py): "
    "random-hyperplane buckets + multiprobe, exact scoring inside "
    "buckets only. The bucket contents aren't SQL-portable, so the "
    "registered form emits per-query INVARIANTS the oracle asserts: "
    "k neighbors returned, and the worst returned cosine within 0.15 "
    "of the exact 10th-best cosine (brute-force twin computed in the "
    "same plan; measured worst gap 0.118 on the deterministic corpus). "
    "The raw neighbor list is ann_topk; the recall bound is pytest'd.",
    oracle="""
        SELECT vec_id AS query_id,
               CAST(10 AS BIGINT) AS n_returned,
               TRUE AS value_gap_le_015
        FROM embeddings WHERE vec_id < 5
        ORDER BY query_id
    """,
)
def q_k12_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_publisher_spark.operators.ann import brute_force_topk

    e = load(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    corpus = e.filter(F.col("vec_id") >= 5)
    approx = ann_topk(corpus, queries, k=10, n_planes=6)
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
            (F.col("_worst") >= F.col("_kth") - 0.15).alias("value_gap_le_015"),
        )
        .orderBy("query_id")
    )


@register(
    "q_k13_rolling_fingerprint",
    family="K",
    doc="Order-sensitive rolling-hash document fingerprint via a "
    "vectorized pandas UDF (operators/fingerprint.py). The "
    "blake2b-based modular hash isn't expressible in DuckDB SQL, so "
    "the registered form emits the oracle-checkable INVARIANTS: doc "
    "count (SQL-reproducible), no null fingerprints, and order "
    "sensitivity — reversing the token order changes every "
    "fingerprint (the defining property vs the set fingerprint of "
    "q_k9). Pure-Python twin equality is pytest'd.",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               TRUE AS all_fp_present,
               TRUE AS order_sensitive
        FROM documents WHERE doc_id < 100
    """,
)
def q_k13_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    reversed_text = F.array_join(F.reverse(F.split(F.col("text"), " ")), " ")
    fps = docs.select(
        "doc_id",
        "text",
        rolling_fingerprint(F.col("text")).alias("fp"),
        rolling_fingerprint(reversed_text).alias("_fp_rev"),
        reversed_text.alias("_rev"),
    )
    return fps.agg(
        F.count("*").alias("n_docs"),
        F.coalesce(F.bool_and(F.col("fp").isNotNull()), F.lit(True)).alias(
            "all_fp_present"
        ),
        F.coalesce(
            F.bool_and(
                (F.col("fp") != F.col("_fp_rev")) | (F.col("text") == F.col("_rev"))
            ),
            F.lit(True),
        ).alias("order_sensitive"),
    )


@register(
    "q_k14_media_stats",
    family="K",
    doc="Multimodal metadata profile over binary payloads (documents "
    "text re-encoded as blobs; media_type from lang) — the "
    "metadata-only path that never decodes bytes "
    "(operators/multimodal.py).",
    oracle="""
        SELECT 'text/' || lang AS media_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(octet_length(encode(text)) AS BIGINT)) AS BIGINT) AS total_bytes,
               ROUND(AVG(octet_length(encode(text))), 2) AS avg_bytes
        FROM documents
        GROUP BY 1
        ORDER BY media_type
    """,
)
def q_k14_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_publisher_spark.operators.multimodal import media_size_stats

    docs = load(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(F.lit("text/"), F.col("lang")).alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    return media_size_stats(media).orderBy("media_type")


@register(
    "q_k15_dataset_split",
    family="K",
    doc="Deterministic train/val/test split (operators/splits.py): "
    "content-hash bucketing, stable across cluster sizes and reruns. "
    "Counts are keyed on Spark's xxhash64 (no DuckDB twin), so the "
    "registered form emits the split INVARIANTS the oracle asserts "
    "per label: realized fraction within 0.03 of the declared weight "
    "(measured max deviation 0.018 at 500 docs) and "
    "disjoint+exhaustive coverage (every doc exactly one label, "
    "split totals summing to the table count). Determinism and the "
    "DuckDB re-check over written output are pytest'd.",
    oracle="""
        SELECT t.split, TRUE AS within_3pct, TRUE AS disjoint_exhaustive
        FROM (VALUES ('test'), ('train'), ('val')) t(split)
        ORDER BY t.split
    """,
)
def q_k15_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_publisher_spark.operators.splits import assign_split

    docs = load(spark, sf_dir, "documents")
    weights = {"train": 0.8, "val": 0.1, "test": 0.1}
    w_lit = F.create_map(
        *[F.lit(x) for kv in weights.items() for x in kv]
    )
    counts = (
        assign_split(docs, "doc_id", weights)
        .groupBy("split")
        .agg(F.count("*").alias("_n"))
    )
    total = docs.agg(F.count("*").alias("_n_docs"))
    return (
        counts.withColumn("_total", F.sum("_n").over(W.partitionBy()))
        .crossJoin(F.broadcast(total))
        .select(
            "split",
            (
                F.abs(F.col("_n") / F.col("_total") - w_lit[F.col("split")]) <= 0.03
            ).alias("within_3pct"),
            (F.col("_total") == F.col("_n_docs")).alias("disjoint_exhaustive"),
        )
        .orderBy("split")
    )


@register(
    "q_k55_image_dhash_dedup",
    family="K",
    doc="Image near-dup signature pass: deterministic PPM images "
    "synthesized from each document's words (the container ships no "
    "image corpus), decoded by the REAL dependency-free P6 decoder, "
    "perceptual-hashed with 64-bit dHash (operators/multimodal.py "
    "image_dhash — Arrow-batched mapInPandas, 8-byte hash is the only "
    "thing that shuffles). The dhash itself is not SQL-reproducible "
    "(pixel math in Python), so the registered form emits oracle-"
    "anchored INVARIANTS: media count and distinct-text count are "
    "recomputed by DuckDB from the same table, and the booleans pin "
    "determinism (identical text => identical dhash, never split "
    "across hashes) and discriminativeness (distinct texts land in "
    ">= 90% as many hash groups — a constant or near-constant hash "
    "fails it; exact equality is not required because 64-bit "
    "perceptual collisions are legal). Hamming-near behavior is "
    "pytest'd.",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_media,
               CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
               TRUE AS exact_dupes_same_hash,
               TRUE AS hash_discriminative
        FROM documents
    """,
)
def q_k55_image_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    from cdc_publisher_spark.operators import multimodal as MM

    docs = load(spark, sf_dir, "documents")

    MM._ship_module_by_value(MM.__name__)

    def synth(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "payload": [
                        MM.synth_ppm_from_text(t) for t in pdf["text"]
                    ],
                }
            )

    media = docs.select("doc_id", "text").mapInPandas(
        synth, schema="media_id long, payload binary"
    )
    hashes = MM.image_dhash(media)
    # cache: the per-text and whole-corpus audits below would otherwise
    # re-run the synth+decode+hash mapInPandas pass per reference
    keyed = docs.select(
        F.col("doc_id").alias("media_id"), F.md5("text").alias("tkey")
    ).join(hashes, "media_id")
    # per-media fingerprint frame — media-cardinality, serialized (r15 #6)
    keyed = track_persist(keyed, level=StorageLevel.MEMORY_AND_DISK)
    per_text = keyed.groupBy("tkey").agg(
        F.countDistinct("dhash").alias("n_hashes")
    )
    return (
        keyed.agg(
            F.count("*").alias("n_media"),
            F.countDistinct("tkey").alias("n_texts"),
            F.countDistinct("dhash").alias("n_hash_groups"),
        )
        .crossJoin(
            F.broadcast(
                per_text.agg(
                    F.coalesce(
                        F.bool_and(F.col("n_hashes") == 1), F.lit(True)
                    ).alias("exact_dupes_same_hash")
                )
            )
        )
        .select(
            F.col("n_media").cast("long").alias("n_media"),
            F.col("n_texts").cast("long").alias("n_distinct_texts"),
            "exact_dupes_same_hash",
            (
                F.col("n_hash_groups") >= F.ceil(F.col("n_texts") * F.lit(0.9))
            ).alias("hash_discriminative"),
        )
    )


@register(
    "q_k106_audio_fingerprint",
    family="K",
    bench=True,  # the k105/k90 precedent: the round's newest
    # nontrivial plan shape — synth+FFT mapInPandas feeding a banded
    # candidate join + bit_count verify — joins the headline set
    doc="Audio near-dup signature pass (VERDICT r10 ask #2 — the "
    "second REAL multimodal signature beside k55's image dHash): "
    "deterministic PCM WAVs synthesized from each document's words "
    "(synth_wav_from_text — the container ships no audio corpus), "
    "decoded by the real dependency-free RIFF/PCM parser and "
    "fingerprinted Haitsma-Kalker-style (operators/multimodal.py "
    "audio_fp_frames: 33 log-spaced spectral bands per frame, 8 "
    "frames x 32 band-difference bits = a 256-bit fingerprint; "
    "Arrow-batched mapInPandas, only (media_id, frame, subfp) longs "
    "shuffle). Near-dup pairs ride the banded-join machinery: "
    "candidates by exact (frame, subfp) bucket match — the HK lookup "
    "strategy, bucket mass n*P(32-bit collision) per frame, never "
    "all-pairs — verified by full-fingerprint Hamming via "
    "bit_count(xor), all JVM-side. The spectral math is not SQL-"
    "reproducible, so the registered form emits oracle-anchored "
    "INVARIANTS (the k55 convention): media/text counts and the "
    "exact same-text pair count are recomputed by DuckDB, and the "
    "booleans pin determinism (identical text => identical "
    "fingerprint), discriminativeness (distinct texts land in >= 90% "
    "as many fingerprint groups), and coverage (every exact-dup text "
    "pair surfaces as a zero-Hamming candidate pair). Hamming-near "
    "behavior under perturbation is pytest'd "
    "(tests/test_llm_select.py).",
    oracle="""
        WITH t AS (
            SELECT md5(text) AS tk, CAST(COUNT(*) AS BIGINT) AS n
            FROM documents GROUP BY 1
        )
        SELECT CAST(SUM(n) AS BIGINT) AS n_media,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_texts,
               CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS n_exact_text_pairs,
               TRUE AS fp_deterministic,
               TRUE AS fp_discriminative,
               TRUE AS zero_hamming_covers_exact_dups
        FROM t
    """,
)
def q_k106_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_publisher_spark.operators import multimodal as MM

    docs = load(spark, sf_dir, "documents")
    media = MM.synth_media_from_text(docs, id_col="doc_id", text_col="text")
    # fingerprint once; the candidate join, verify join-back, and the
    # per-text audits below all reuse the frame rows
    # per-media fingerprint rows — media-cardinality, serialized (r15 #6)
    fp = track_persist(MM.audio_fingerprint(media), level=StorageLevel.MEMORY_AND_DISK)
    keyed = docs.select(
        F.col("doc_id").alias("media_id"), F.md5("text").alias("tkey")
    )
    # whole-fingerprint identity: one 64-bit digest of the frame words
    # in frame order (order pinned by sort_array over (frame, subfp))
    fp_key = fp.groupBy("media_id").agg(
        F.xxhash64(
            F.to_json(
                F.sort_array(F.collect_list(F.struct("frame", "subfp")))
            )
        ).alias("fpk")
    )
    per_doc = keyed.join(fp_key, "media_id")
    per_text = per_doc.groupBy("tkey").agg(
        F.countDistinct("fpk").alias("n_fpk"),
        F.count("*").cast("long").alias("n_docs"),
    )
    # banded candidates -> exact Hamming verify (operators/multimodal)
    ham = MM.audio_hamming_pairs(fp, MM.audio_candidate_pairs(fp))
    zero_pairs = ham.filter(F.col("hamming") == 0).select("d1", "d2")
    # exact same-text pairs the fingerprint must cover: same tkey,
    # enumerated via the deterministic per-text doc list (no corpus
    # self-join — dup multiplicity is the only fan-out)
    text_pairs = (
        per_doc.groupBy("tkey")
        .agg(F.sort_array(F.collect_list("media_id")).alias("ids"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (a, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), b -> "
                    "struct(a as d1, b as d2))))"
                )
            ).alias("p")
        )
        .select("p.d1", "p.d2")
    )
    uncovered = text_pairs.join(zero_pairs, ["d1", "d2"], "anti")
    audits = (
        per_text.agg(
            F.sum("n_docs").cast("long").alias("n_media"),
            F.count("*").cast("long").alias("n_distinct_texts"),
            F.sum(
                (F.col("n_docs") * (F.col("n_docs") - 1)).cast("long") / 2
            )
            .cast("long")
            .alias("n_exact_text_pairs"),
            F.coalesce(F.bool_and(F.col("n_fpk") == 1), F.lit(True)).alias(
                "fp_deterministic"
            ),
        )
        .crossJoin(
            F.broadcast(
                per_doc.agg(
                    F.countDistinct("fpk").alias("_n_groups"),
                    F.countDistinct("tkey").alias("_n_texts"),
                )
            )
        )
        .crossJoin(
            F.broadcast(
                uncovered.agg(
                    (F.count("*") == 0).alias("zero_hamming_covers_exact_dups")
                )
            )
        )
    )
    return audits.select(
        "n_media",
        "n_distinct_texts",
        "n_exact_text_pairs",
        "fp_deterministic",
        (F.col("_n_groups") * 10 >= F.col("_n_texts") * 9).alias(
            "fp_discriminative"
        ),
        "zero_hamming_covers_exact_dups",
    )


@register(
    "q_k107_audio_clip_economics",
    family="K",
    doc="Audio corpus economics per source — the K-99 context-length "
    "table for the audio modality: clips synthesized from each "
    "document (synth_wav_from_text), decoded by the REAL RIFF/PCM "
    "parser via the shared decode_media mapInPandas pass "
    "(operators/multimodal.py), then one per-source agg over the "
    "decoded metadata: clip count, total/max samples, total bytes, "
    "total milliseconds. Unlike k55/k106 (perceptual invariants), "
    "every column here is EXACT cross-engine: the deterministic synth "
    "makes clip length a closed form of the word count — samples = "
    "64 * GREATEST(LEAST(n_words, 256), 32), bytes = 44 + 2*samples "
    "(44-byte RIFF header + 16-bit mono PCM), ms = samples/4 at 4 kHz "
    "— so DuckDB recomputes the whole table from the text and the "
    "hash must match, pinning header walk, sample math, and byte "
    "accounting end to end. The all_rate_4khz boolean proves the "
    "decoder read the rate from the actual fmt chunk. Plan: payload "
    "bytes live only inside the Arrow batch (synth -> decode in two "
    "chained mapInPandas passes); what shuffles is the decoded "
    "metadata row, and the source join-back is an id equi-join.",
    oracle="""
        WITH w AS (
            SELECT doc_id, source,
                   64 * GREATEST(LEAST(len(string_split(text, ' ')), 256), 32)
                       AS n_samples
            FROM documents
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_clips,
               CAST(SUM(n_samples) AS BIGINT) AS total_samples,
               CAST(MAX(n_samples) AS BIGINT) AS max_clip_samples,
               CAST(SUM(44 + 2 * n_samples) AS BIGINT) AS total_bytes,
               CAST(SUM(n_samples) // 4 AS BIGINT) AS total_ms,
               TRUE AS all_rate_4khz
        FROM w
        GROUP BY source
        ORDER BY source
    """,
)
def q_k107_audio_clip_economics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_publisher_spark.operators import multimodal as MM

    docs = load(spark, sf_dir, "documents")
    media = MM.synth_media_from_text(
        docs, id_col="doc_id", text_col="text"
    ).withColumn("media_type", F.lit("audio/wav"))
    decoded = MM.decode_media(media)  # real RIFF/PCM decode
    return (
        decoded.join(
            docs.select(F.col("doc_id").alias("media_id"), "source"),
            "media_id",
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_clips"),
            F.sum("width").cast("long").alias("total_samples"),
            F.max("width").cast("long").alias("max_clip_samples"),
            F.sum("n_bytes").cast("long").alias("total_bytes"),
            (F.sum("width").cast("long") / 4).cast("long").alias("total_ms"),
            F.bool_and(F.col("height") == 4000).alias("all_rate_4khz"),
        )
        .orderBy("source")
    )


#: Every doc_id divisible by this is corrupted before decode in
#: q_k108 — the deterministic quarantine cohort both engines compute.
DEADLETTER_MOD = 97


@register(
    "q_k108_media_decode_deadletter",
    family="K",
    doc="Media decode dead-letter audit — the error path as a first-"
    "class query (the CDC split_wire discipline applied to media): "
    "clips synthesized per document, then every doc_id divisible by "
    f"{DEADLETTER_MOD} deliberately corrupted (RIFF magic overwritten "
    "— a truncated/mislabeled blob, the dominant failure a 100 TB "
    "media crawl actually sees), decoded by decode_media_tolerant "
    "(operators/multimodal.py): a rejected payload yields ok=false + "
    "the exception text and NULL features, never a stage failure. "
    "Per source: total/ok/quarantined counts as exact BIGINTs — the "
    "corruption cohort is pure doc_id arithmetic, so DuckDB "
    "recomputes the whole table and the hash must match — plus "
    "failures_expected (quarantined set == the corrupted cohort, "
    "both directions) and ok_decodes_complete (no NULL feature among "
    "ok rows) booleans pinning that the tolerant decoder quarantines "
    "EXACTLY the bad payloads and decodes everything else.",
    oracle=f"""
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_media,
               CAST(COUNT(*) FILTER (WHERE doc_id % {DEADLETTER_MOD} != 0)
                   AS BIGINT) AS n_ok,
               CAST(COUNT(*) FILTER (WHERE doc_id % {DEADLETTER_MOD} = 0)
                   AS BIGINT) AS n_quarantined,
               TRUE AS failures_expected,
               TRUE AS ok_decodes_complete
        FROM documents
        GROUP BY source
        ORDER BY source
    """,
)
def q_k108_media_decode_deadletter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cdc_publisher_spark.operators import multimodal as MM

    docs = load(spark, sf_dir, "documents")
    media = MM.synth_media_from_text(docs, id_col="doc_id", text_col="text")
    corrupted = media.select(
        "media_id",
        F.lit("audio/wav").alias("media_type"),
        F.when(
            F.col("media_id") % DEADLETTER_MOD == 0,
            # overwrite the RIFF magic: byte-level corruption the
            # chunk walk rejects with a typed error
            F.concat(
                F.lit(b"XXXX"), F.expr("substring(payload, 5)")
            ),
        )
        .otherwise(F.col("payload"))
        .alias("payload"),
    )
    dec = MM.decode_media_tolerant(corrupted)
    per_doc = dec.join(
        docs.select(F.col("doc_id").alias("media_id"), "source"), "media_id"
    )
    expected_bad = F.col("media_id") % DEADLETTER_MOD == 0
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_media"),
            F.sum(F.col("ok").cast("long")).cast("long").alias("n_ok"),
            F.sum((~F.col("ok")).cast("long")).cast("long").alias("n_quarantined"),
            # quarantined set == corrupted cohort, both directions
            F.bool_and(F.col("ok") != expected_bad).alias("failures_expected"),
            F.coalesce(
                F.bool_and(
                    F.when(
                        F.col("ok"),
                        F.col("width").isNotNull()
                        & F.col("height").isNotNull()
                        & F.col("mean_luma").isNotNull(),
                    ).otherwise(True)
                ),
                F.lit(True),
            ).alias("ok_decodes_complete"),
        )
        .orderBy("source")
    )
