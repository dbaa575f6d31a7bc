"""Physical-plan quality gates (SURVEY.md §4.2, the 100 TB checklist):
filters reach the parquet scan, projections prune the read schema,
small dimensions broadcast, expressions stay in whole-stage codegen.
A query that silently loses these properties passes correctness but
regresses at scale — these tests pin them.
"""

from __future__ import annotations

from cdc_publisher_spark.plans import (
    codegen_stage_count,
    has_broadcast_join,
    plan_string,
    pushed_filters,
    scan_read_schema,
)
from cdc_publisher_spark.registry import all_specs


def _df(spark, sf_oracle, name):
    return all_specs()[name].spark(spark, sf_oracle)


def test_b1_filter_pushdown_and_pruning(spark, sf_oracle):
    df = _df(spark, sf_oracle, "q_b1_range_filter")
    pf = pushed_filters(df)
    assert "l_quantity" in pf and "l_discount" in pf and "l_shipdate" in pf
    rs = scan_read_schema(df)
    # 5 of 11 lineitem columns read; the wide ones are pruned
    assert "l_extendedprice" not in rs and "l_returnflag" not in rs
    assert "l_quantity" in rs


def test_join_queries_broadcast_dimensions(spark, sf_oracle):
    for name in ("q_c1_revenue_by_customer", "q_c2_snowflake_revenue"):
        assert has_broadcast_join(_df(spark, sf_oracle, name)), name


def test_fact_join_not_broadcast_on_fact_side(spark, sf_oracle):
    """orders⋈lineitem must shuffle (sort-merge or shuffled-hash), not
    broadcast a fact table, for the plan to survive scale-up."""
    plan = plan_string(_df(spark, sf_oracle, "q_c1_revenue_by_customer"), "simple")
    # customer (dim) broadcasts; the lineitem⋈orders join must not
    # broadcast lineitem. At sf0.01 orders may be under the threshold;
    # assert lineitem itself is never the build side of a broadcast.
    assert "BroadcastExchange" in plan
    # crude but effective: no broadcast exchange directly over the
    # lineitem scan
    import re

    for m in re.finditer(r"BroadcastExchange[^\n]*\n(?:\s+[^\n]*\n){0,2}\s*[^\n]*FileScan parquet[^\n]*", plan):
        assert "lineitem" not in m.group(0)


def test_aggregates_partial_final(spark, sf_oracle):
    plan = plan_string(_df(spark, sf_oracle, "q_d1_pricing_summary"), "simple")
    assert plan.count("HashAggregate") >= 2  # partial + final (map-side combine)


def test_topk_uses_take_ordered(spark, sf_oracle):
    plan = plan_string(_df(spark, sf_oracle, "q_f1_top_orders"), "simple")
    assert "TakeOrderedAndProject" in plan  # no global sort for LIMIT k


def test_codegen_covers_scalar_queries(spark, sf_oracle):
    for name in ("q_h4_math_funcs", "q_b1_range_filter", "q_d1_pricing_summary"):
        assert codegen_stage_count(_df(spark, sf_oracle, name)) >= 1, name


def test_events_scan_prunes_for_projection(spark, sf_oracle):
    df = _df(spark, sf_oracle, "q_cdc_resume_token")
    rs = scan_read_schema(df)
    assert "props" not in rs and "event_type" not in rs  # only event_id needed


def test_partitioned_write_prunes_on_read(spark, sf_oracle, tmp_path):
    """write_partitioned -> a filter on the partition column becomes a
    PartitionFilter (directory skip), not a data filter."""
    from pyspark.sql import functions as F

    from cdc_publisher_spark.tables import load, write_partitioned

    out = str(tmp_path / "orders_by_status")
    o = load(spark, sf_oracle, "orders")
    write_partitioned(o, out, ["o_orderstatus"])
    back = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F")
    plan = plan_string(back)
    assert "PartitionFilters: [" in plan and "o_orderstatus" in plan.split("PartitionFilters")[1].split("]")[0]
    expected = o.filter(F.col("o_orderstatus") == "F").count()
    assert back.count() == expected


def test_asof_join_compiles_to_zero_join_nodes(spark, sf_oracle):
    """The as-of operator's whole point: union + window, not a range
    join — the physical plan must contain NO join operator at all
    (a naive range join materializes every in-range pair and dies on
    hot keys at scale)."""
    plan = plan_string(_df(spark, sf_oracle, "q_c7_asof_prior_click"), "simple")
    assert "Join" not in plan, plan
    assert "Window" in plan


def test_no_cartesian_products(spark, sf_oracle):
    """Near-dup and range self-joins must ride equi keys (shingle hash /
    user_id), never a cartesian / unconditioned nested-loop product."""
    for name in (
        "q_k2_jaccard_neardup",
        "q_k3_minhash_neardup",
        "q_c5_event_pairs_within_hour",
        "q_c1_revenue_by_customer",
        "q_c9_large_volume_customers",
        # keyless +-60s interval join: the bucket-binning rewrite must
        # plan as a shuffled equi-join, never a nested loop
        "q_c14_binned_interval_join",
        # Q2-shape correlated min: decorrelated agg + equi-joins only
        "q_c15_min_cost_supplier",
    ):
        plan = plan_string(_df(spark, sf_oracle, name), "simple")
        assert "CartesianProduct" not in plan, name
        # BroadcastNestedLoop is only acceptable when one side is a
        # bounded literal/query block (q_c6/q_k6), not for these
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_semi_join_for_aggregated_in(spark, sf_oracle):
    plan = plan_string(_df(spark, sf_oracle, "q_c9_large_volume_customers"), "simple")
    assert "LeftSemi" in plan


def test_decontamination_broadcasts_eval_grams(spark, sf_oracle):
    """q_k19: the eval-gram set must broadcast — the corpus side of a
    decontamination join is the 100 TB side and must never shuffle
    into a join exchange."""
    df = _df(spark, sf_oracle, "q_k19_decontamination")
    assert has_broadcast_join(df)


def test_source_mixing_broadcasts_rates(spark, sf_oracle):
    """q_k20: per-source rates are O(sources) rows and must broadcast
    back onto the doc stream."""
    df = _df(spark, sf_oracle, "q_k20_source_mixing")
    assert has_broadcast_join(df)


def test_chunking_has_no_exchange(spark, sf_oracle):
    """q_k24: chunking is per-document work (explode + slice) — any
    Exchange in the plan means an accidental shuffle that would move
    the whole corpus at 100 TB. (The final orderBy is presentation-
    only; check the operator itself.)"""
    from cdc_publisher_spark.operators.chunk import chunk_documents
    from cdc_publisher_spark.tables import load

    df = chunk_documents(load(spark, sf_oracle, "documents"))
    plan = plan_string(df, "simple")
    assert "Exchange" not in plan, plan


def test_incremental_dedup_broadcasts_history(spark, sf_oracle):
    """q_k25: the history hash/size tables are the small side and must
    broadcast; the batch (the 100 TB side at scale) must not feed a
    build side."""
    df = _df(spark, sf_oracle, "q_k25_incremental_dedup")
    plan = plan_string(df, "simple")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_redaction_stays_in_codegen(spark, sf_oracle):
    """q_k23: the redaction chain is one projection — it must live
    inside a WholeStageCodegen span, no UDF eval nodes."""
    df = _df(spark, sf_oracle, "q_k23_pii_redaction")
    assert codegen_stage_count(df) >= 1
    plan = plan_string(df, "simple")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_vocabulary_topk_take_ordered(spark, sf_oracle):
    """q_k26: top-100 vocab must be TakeOrdered (per-partition top-k +
    merge), never a global sort of the whole vocabulary."""
    plan = plan_string(_df(spark, sf_oracle, "q_k26_vocabulary"), "simple")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 2  # partial+final tf/df


def test_unigram_lm_broadcasts_prob_table(spark, sf_oracle):
    """q_k27: the O(vocab) log-probability table must broadcast onto
    the token stream — the token side is the 100 TB side."""
    assert has_broadcast_join(_df(spark, sf_oracle, "q_k27_unigram_lm_score"))


def test_funnel_single_shuffle(spark, sf_oracle):
    """q_e8: the three chained funnel windows share one user_id
    partitioning — exactly one data shuffle, no self-joins."""
    df = _df(spark, sf_oracle, "q_e8_funnel_stages")
    plan = plan_string(df, "simple")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2  # window + distinct
    assert plan.count("Window") == 3


def test_q_c10_exists_joins_stay_hashed(spark, sf_oracle):
    """Q21-shaped correlated EXISTS/NOT EXISTS: the semi and anti joins
    carry non-equi residuals (suppkey<>, shipdate>) but MUST still ride
    the l_orderkey equi key — a BNLJ here is quadratic per order."""
    plan = plan_string(_df(spark, sf_oracle, "q_c10_waiting_supplier"), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_q_b3_all_predicates_reach_the_scan(spark, sf_oracle):
    """IN, range pair, LIKE-prefix, IS NOT NULL all pushed; scan reads
    only the projected+filtered columns."""
    plan = plan_string(_df(spark, sf_oracle, "q_b3_pushdown_mix"), "formatted")
    assert "In(o_orderpriority" in plan
    assert "GreaterThanOrEqual(o_totalprice,1000" in plan
    assert "LessThanOrEqual(o_totalprice,200000" in plan
    assert "StringStartsWith(o_orderstatus,F)" in plan
    assert "IsNotNull(o_custkey)" in plan
    import re

    schema = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
    read_cols = {c.split(":")[0] for c in schema.split(",")}
    assert read_cols == {"o_orderkey", "o_totalprice", "o_orderpriority",
                         "o_orderstatus", "o_custkey"}


def test_no_unpartitioned_corpus_windows_anywhere(spark, sf_smoke):
    """THE single-partition tripwire (VERDICT r4 ask #4) plus its
    low-cardinality-key twin (VERDICT r5 ask #2): sweep every
    registered query's optimized plan and flag (a) any Window with an
    empty partitionSpec whose input can still be corpus-sized — at
    100 TB such a window funnels the whole table through one task —
    and (b) any Window whose partition keys are ALL dimension-typed
    (source, lang, flags: ~20 groups over 100 TB = multi-TB
    single-task sorts, the q_k17/q_k62/q_k80 round-5 shape). Windows
    over dimension-sized aggregates (distinct value tables, vocab
    top-k, per-band source dims) pass: an Aggregate that drops
    per-row ids blocks the corpus-size taint; rank-filter windows
    Spark compiles to WindowGroupLimit (q_k31) are allowlisted by the
    detector itself."""
    from cdc_publisher_spark.plans import (
        low_cardinality_corpus_windows,
        unpartitioned_corpus_windows,
    )
    from cdc_publisher_spark.registry import all_specs

    # Declared-global-semantics exceptions would go here; currently none
    # (q_e1/q_e5/q_e10 run over dimension-sized or aggregate-reduced
    # inputs and pass the taint check on their own).
    allow: set[str] = set()
    offenders = {}
    for name, spec in sorted(all_specs().items()):
        if name in allow:
            continue
        df = spec.spark(spark, sf_smoke)
        offs = unpartitioned_corpus_windows(df) + low_cardinality_corpus_windows(df)
        if offs:
            offenders[name] = offs[0][:160]
    assert not offenders, offenders


def test_low_cardinality_window_detector_controls(spark, sf_oracle):
    """The low-cardinality detector must fire on round 5's exact weak
    shape (a per-source running sum over the raw corpus), stay quiet
    on the bucket-decomposed replacement (partition keys include a
    value-typed bucket), stay quiet on a window over a per-source
    AGGREGATE, and honor the WindowGroupLimit allowlist (per-source
    rank<=k compiles to a pre-shuffle group limit — q_k31's shape)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from cdc_publisher_spark.plans import low_cardinality_corpus_windows
    from cdc_publisher_spark.tables import load

    docs = load(spark, sf_oracle, "documents")
    w_src = W.partitionBy("source").orderBy("doc_id")

    # (1) round-5 q_k17 shape: flagged
    bad = docs.withColumn(
        "cum", F.sum("n_chars").over(w_src.rowsBetween(W.unboundedPreceding, 0))
    )
    assert low_cardinality_corpus_windows(bad)

    # (2) bucket-decomposed twin: (source, doc_id div 4096) keys pass
    w_bkt = W.partitionBy("source", "_bkt").orderBy("doc_id")
    ok = docs.withColumn("_bkt", F.expr("doc_id div 4096")).withColumn(
        "cum", F.sum("n_chars").over(w_bkt.rowsBetween(W.unboundedPreceding, 0))
    )
    assert not low_cardinality_corpus_windows(ok)

    # (3) same keys over a value-table aggregate: the bucketing
    # groupBy((source, doc_id div 4096)) blocks the corpus taint even
    # for a source-only window above it
    agg_ok = (
        docs.groupBy("source", F.expr("doc_id div 4096").alias("_bkt"))
        .agg(F.sum("n_chars").alias("s"))
        .withColumn(
            "cum",
            F.sum("s").over(
                W.partitionBy("source").orderBy("_bkt").rowsBetween(
                    W.unboundedPreceding, 0
                )
            ),
        )
    )
    assert not low_cardinality_corpus_windows(agg_ok)

    # (4) rank-filtered per-source top-k compiles to WindowGroupLimit
    # and is allowlisted; the same window WITHOUT the rank filter is not
    topk = docs.withColumn("rk", F.row_number().over(w_src)).filter(F.col("rk") <= 5)
    from cdc_publisher_spark.plans import plan_string

    assert "WindowGroupLimit" in plan_string(topk, "simple")
    assert not low_cardinality_corpus_windows(topk)
    no_filter = docs.withColumn("rk", F.row_number().over(w_src))
    assert low_cardinality_corpus_windows(no_filter)


def test_unpartitioned_window_detector_positive_control(spark, sf_oracle):
    """The detector must actually fire on the pattern it polices: a
    global row_number over the raw documents table (exactly round 4's
    q_k63 shape) and a global window that survives a groupBy(doc_id)
    (per-row-id grouping does not reduce cardinality)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from cdc_publisher_spark.plans import unpartitioned_corpus_windows
    from cdc_publisher_spark.tables import load

    docs = load(spark, sf_oracle, "documents")
    bad = docs.withColumn(
        "rk", F.row_number().over(W.orderBy(F.col("doc_id")))
    )
    assert unpartitioned_corpus_windows(bad)

    still_bad = (
        docs.groupBy("doc_id")
        .agg(F.count("*").alias("c"))
        .withColumn("rk", F.row_number().over(W.orderBy("doc_id")))
    )
    assert unpartitioned_corpus_windows(still_bad)

    # negative control: the same window over a value-level aggregate
    # (dimension-sized) must NOT fire
    ok = (
        docs.groupBy(F.length("text").alias("n_c"))
        .agg(F.count("*").alias("c"))
        .withColumn("rk", F.row_number().over(W.orderBy("n_c")))
    )
    assert not unpartitioned_corpus_windows(ok)


def test_oracle_shingle_bounds_are_uniform_and_cover_gopher_max():
    """Every DuckDB oracle caps shingle start positions with
    generate_series(1, N). The N values must all agree (a mismatched
    copy reproduces the q_k56/q_k61 class of silent oracle truncation
    fixed in round 5) and must cover the longest document the Gopher
    screens admit, so no in-bounds doc ever shingles differently in
    the two engines."""
    import pathlib
    import re

    from cdc_publisher_spark.queries.llm_signals import GOPHER_MAX_WORDS

    qdir = pathlib.Path("cdc_publisher_spark/queries")
    bounds = {}
    for p in sorted(qdir.glob("*.py")):
        for m in re.findall(r"generate_series\(1,\s*(\d+)\)", p.read_text()):
            if int(m) >= 4096:  # shingle-position bounds; small literals
                bounds.setdefault(int(m), []).append(p.name)  # are dim/salt fans

    assert bounds, "expected shingle-bounded oracles in queries/"
    assert len(bounds) == 1, f"diverging oracle shingle bounds: {bounds}"
    (bound,) = bounds
    assert bound >= GOPHER_MAX_WORDS


def test_q_k82_reservoir_is_take_ordered(spark, sf_oracle):
    """A-ES weighted sampling must be TakeOrderedAndProject: per-
    partition top-K + one K-row driver merge — a global Sort here
    would shuffle the whole corpus to rank 20 rows."""
    plan = plan_string(_df(spark, sf_oracle, "q_k82_weighted_reservoir"), "simple")
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_q_k83_kmv_bottom_k_is_window_group_limit(spark, sf_oracle):
    """The per-source bottom-K sketch build must compile to
    WindowGroupLimit (q_k31 shape): each partition pre-limits to K
    rows BEFORE the source-keyed shuffle, so no task ever sorts a
    source's full shingle share."""
    plan = plan_string(_df(spark, sf_oracle, "q_k83_kmv_source_overlap"), "simple")
    assert "WindowGroupLimit" in plan


def test_corpus_sized_persist_detector_controls(spark, sf_oracle):
    """Controls for the persisted-frame tripwire (VERDICT r6 ask #4)
    and the tightened grouping exemption (ADVICE r6): raw corpus and
    per-row-id frames flag; bucketed/limited/dimension-grouped frames
    pass; and a cardinality-PRESERVING derived grouping (xxhash64 of a
    row id, affine doc_id+0) no longer slips through as 'reduced'."""
    from pyspark.sql import functions as F

    from cdc_publisher_spark.plans import corpus_sized_plan, unpartitioned_corpus_windows
    from cdc_publisher_spark.tables import load

    docs = load(spark, sf_oracle, "documents")

    # positives: corpus-sized with no reducing operator
    assert corpus_sized_plan(docs)
    assert corpus_sized_plan(docs.filter(F.col("n_chars") > 10))  # filter ≠ reduce
    assert corpus_sized_plan(docs.groupBy("doc_id").agg(F.count("*").alias("c")))
    # ADVICE r6: cardinality-preserving derived groupings keep the taint
    assert corpus_sized_plan(
        docs.groupBy(F.xxhash64("doc_id").alias("h")).agg(F.count("*").alias("c"))
    )
    assert corpus_sized_plan(
        docs.groupBy((F.col("doc_id") + 0).alias("d")).agg(F.count("*").alias("c"))
    )

    # negatives: a reducing operator between scan and root
    assert corpus_sized_plan(docs.limit(100)) is None
    assert corpus_sized_plan(
        docs.groupBy("source").agg(F.count("*").alias("c"))
    ) is None
    assert corpus_sized_plan(
        docs.groupBy(F.expr("doc_id div 4096").alias("b")).agg(F.count("*").alias("c"))
    ) is None
    assert corpus_sized_plan(
        docs.groupBy(F.pmod(F.xxhash64("doc_id"), F.lit(64)).alias("b"))
        .agg(F.count("*").alias("c"))
    ) is None

    # ADVICE r7 escapes, closed: fractional `/` is NOT reducing, and a
    # reducing fragment only absolves refs inside its OWN argument span
    assert corpus_sized_plan(
        docs.groupBy((F.col("doc_id") / 2).alias("d")).agg(F.count("*").alias("c"))
    )
    assert corpus_sized_plan(
        docs.groupBy(
            F.concat(
                F.col("doc_id").cast("string"), F.substring("source", 1, 2)
            ).alias("k")
        ).agg(F.count("*").alias("c"))
    )
    # ...while a substring genuinely OVER the row id still reduces
    assert corpus_sized_plan(
        docs.groupBy(
            F.substring(F.col("doc_id").cast("string"), 1, 2).alias("k")
        ).agg(F.count("*").alias("c"))
    ) is None

    # r7 false positives, cleared: a window PARTITION key must not
    # taint a value-derived grouping (the k83/k87 shingle shape)...
    from cdc_publisher_spark.functions import text as TX

    shingles = (
        TX.shingle_rows(docs, "doc_id", "text", 3)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("source", "s")
        .distinct()
    )
    assert corpus_sized_plan(shingles) is None

    from pyspark.sql import Window as W

    # ...but a window whose VALUE is the row id stays tainted
    wid = docs.select(
        F.min("doc_id").over(W.partitionBy("doc_id")).alias("m"), "source"
    )
    assert corpus_sized_plan(
        wid.groupBy("m").agg(F.count("*").alias("c"))
    )
    # rank-filter top-K (logical WindowGroupLimit) bounds output to
    # K x groups: reducing over a dimension key, NOT over a row id
    rk_src = F.row_number().over(W.partitionBy("source").orderBy("doc_id"))
    assert corpus_sized_plan(
        docs.withColumn("rk", rk_src).filter(F.col("rk") <= 5).drop("rk")
    ) is None
    rk_doc = F.row_number().over(W.partitionBy("doc_id").orderBy("source"))
    assert corpus_sized_plan(
        docs.withColumn("rk", rk_doc).filter(F.col("rk") <= 5).drop("rk")
    )

    # and the ADVICE escape route is closed for the WINDOW tripwire too:
    # a global window above a hash-of-row-id grouping is corpus-sized

    escaped = (
        docs.groupBy(F.xxhash64("doc_id").alias("h"))
        .agg(F.sum("n_chars").alias("s"))
        .withColumn("rn", F.row_number().over(W.orderBy("h")))
    )
    assert unpartitioned_corpus_windows(escaped)


#: Queries allowed to persist a frame the detector judges corpus-sized,
#: each with a DECLARED one-line contract saying why the persist is the
#: right engineering call (VERDICT r6 ask #4, r7 triage). Two contract
#: kinds: (1) exact-AUDIT frames — ground truth computed at audit
#: scale, not 100 TB; (2) frames whose true cardinality the plan can't
#: show (data-dependent selectivity) or whose recompute is far costlier
#: than the pinned bytes. Keeping the names here — not inside the
#: detector — keeps every exemption visible in code review.
PERSIST_AUDIT_ALLOWLIST: dict[str, str] = {
    "q_k86_minhash_calibration": "exact-Jaccard audit: persisted shingle "
    "frame feeds three calibration consumers; contract is all-pairs ground "
    "truth at audit scale (llm_sketch.py q_k86 doc)",
    "q_k11_simhash_neardup": "recall audit vs the exact trigram-Jaccard "
    "reference: both persisted frames are near-dup PAIR sets — "
    "O(dup-density), not O(corpus), a selectivity the plan can't express; "
    "the exact reference side is audit-scale ground truth (k86 precedent)",
    "q_k35_semantic_dedup": "mined cosine>=thr pair set within k-means "
    "clusters: O(dup-density) by threshold selectivity (not plan-visible); "
    "the persist shares one k-means fit + within-cluster join across the "
    "transitive closure and the precision audit — re-mining per consumer "
    "costs far more than the pinned pair rows",
    "q_k55_image_dhash_dedup": "per-media (tkey, dhash) fingerprint frame "
    "(~50 B/row): the persist trades those bytes against re-running the "
    "decode+hash mapInPandas over raw media payloads (orders of magnitude "
    "larger) for the second audit consumer; at cluster scale this frame is "
    "the standard disk-backed fingerprint table",
    "q_k106_audio_fingerprint": "per-media (frame, subfp) fingerprint "
    "rows (8 x 24 B per clip): persisted once and reused by the banded "
    "candidate join, the Hamming verify join-back, and the per-text "
    "audits — recompute means re-running the synth+FFT mapInPandas over "
    "the waveforms (orders of magnitude larger); the k55 contract for "
    "audio",
    "q_k116_dedup_threshold_sensitivity": "both persisted frames are "
    "near-dup PAIR sets (the q_k3 verified output at the 0.5 floor, and "
    "that set x a 10-row grid) — O(dup-density), not O(corpus), the "
    "k11 contract; each feeds two downstream consumers (pair counts + "
    "drop attribution)",
    "q_k127_cluster_purity": "the persisted frame is the VERIFIED "
    "near-dup pair set (Jaccard >= 0.5) feeding both the component "
    "closure and the per-cluster purity aggregate — O(dup-density), "
    "not O(corpus), the k11/k116 contract",
    "q_k119_lsh_recall_curve": "exact-Jaccard recall audit: persisted "
    "shingle frame feeds the all-pairs ground truth AND the banded "
    "signature side; all-pairs at audit scale by the same contract as "
    "q_k86 (whose shape this extends with the missed-pair left join)",
}


def test_no_corpus_sized_persisted_frames(spark, sf_smoke, monkeypatch):
    """Third tripwire shape (VERDICT r6 ask #4): intercept every
    ``persist()`` each registered query issues while building its
    frame and flag any whose optimized plan is corpus-sized with no
    reducing operator — a 100 TB block-manager trap. Audit queries
    with a declared all-corpus contract are allowlisted BY NAME above.

    PySpark 4 note: ``pyspark.sql.DataFrame`` is the abstract parent;
    instances are ``pyspark.sql.classic.dataframe.DataFrame`` which
    OVERRIDES ``persist``/``cache`` — patching only the parent is a
    silent no-op, so patch every class in the hierarchy that defines
    them (guarded against sanity via the q_k86 canary below)."""
    from cdc_publisher_spark.plans import corpus_sized_plan

    captured: list = []

    def fake_persist(self, *a, **k):
        level = a[0] if a else k.get("storageLevel") or k.get("level")
        captured.append((self, level))
        return self

    import pyspark.sql.dataframe as _base

    patch_classes = [_base.DataFrame]
    try:
        import pyspark.sql.classic.dataframe as _classic

        patch_classes.append(_classic.DataFrame)
    except ImportError:  # pre-4.x layout: only the one class
        pass
    for cls in patch_classes:
        if "persist" in cls.__dict__:
            monkeypatch.setattr(cls, "persist", fake_persist)
        if "cache" in cls.__dict__:
            monkeypatch.setattr(cls, "cache", fake_persist)
    offenders = {}
    allowlisted_hits: set[str] = set()
    deser_offenders = {}
    total_persists = 0
    for name, spec in sorted(all_specs().items()):
        captured.clear()
        spec.spark(spark, sf_smoke)
        total_persists += len(captured)
        snap = list(captured)
        offs = [p for df, _ in snap if (p := corpus_sized_plan(df))]
        if offs:
            if name in PERSIST_AUDIT_ALLOWLIST:
                allowlisted_hits.add(name)
            else:
                offenders[name] = offs[0][:160]
        # VERDICT r15 ask #6 tripwire: a persist of a frame the detector
        # flags corpus-sized must carry an EXPLICIT non-deserialized
        # StorageLevel — the allowlist sanctions the persist's existence
        # (audit contract / selectivity the plan can't show), never the
        # deserialized-memory default, which thrashes the block manager
        # at 100 TB long before it spills.
        for df, level in snap:
            if corpus_sized_plan(df) and (level is None or level.deserialized):
                deser_offenders.setdefault(name, []).append(str(level))
    assert not offenders, offenders
    assert not deser_offenders, (
        "corpus-sized persisted frames defaulting to deserialized memory",
        deser_offenders,
    )
    # canary: the sweep must be NON-vacuous — the interception hook
    # captured real persists, and every allowlist entry is load-bearing
    # (a stale entry would hide a future regression behind an exemption)
    assert total_persists > 0, "persist hook captured nothing — patch target wrong"
    assert allowlisted_hits == set(PERSIST_AUDIT_ALLOWLIST), (
        "stale or non-firing allowlist entries",
        allowlisted_hits ^ set(PERSIST_AUDIT_ALLOWLIST),
    )


#: Queries allowed a row-multiplying equi-join of a corpus table to
#: itself on CONTENT keys (shingle/gram/fingerprint hashes — the shape
#: where one hot key with document frequency f yields f² rows; VERDICT
#: r9 ask #1). Each entry declares in one line why the join is the
#: right call: either the key carries a DECLARED BOUND (LSH band
#: buckets sized n·s^r, pigeonhole bands, a fitted k), or the query is
#: a declared-EXACT audit whose ground-truth semantics require the
#: all-pairs join and whose production twin is the banded route
#: (k3/k79). Names live here, not in the detector, so every exemption
#: is visible in code review — the persist-allowlist pattern.
JOIN_AUDIT_ALLOWLIST: dict[str, str] = {
    "q_k2_jaccard_neardup": "declared-exact all-pairs-by-shared-shingle "
    "Jaccard ground truth at audit scale; the production dedup route is "
    "the banded LSH join (k3/k79)",
    "q_k3_minhash_neardup": "the banded LSH candidate join itself: keys "
    "are (band, band-hash) buckets with the scheme's declared bound — "
    "expected bucket mass n·P(sig-collision)=n·s^r — this IS the scale "
    "path the exact twins audit",
    "q_k11_simhash_neardup": "pigeonhole-banded simhash candidate join "
    "(four 16-bit band keys, 2^16-way declared spread) plus the exact "
    "trigram-Jaccard reference pair set it is recall-audited against",
    "q_k22_neardup_clusters": "connected components over q_k2's "
    "declared-exact pair graph; audit scale by the same contract",
    "q_k127_cluster_purity": "the chaining audit of q_k22's components "
    "— rides the identical shared-shingle pair join and inherits the "
    "same declared-exact audit contract (production nominates via the "
    "banded k3/k79 route)",
    "q_k25_incremental_dedup": "batch x history shared-shingle check: "
    "the batch side is O(batch) by construction; exact-audit twin of "
    "the streaming banded probe (k79)",
    "q_k30_corpus_curation": "capstone manifest composing the k22 exact "
    "pair graph; audit-scale by composition",
    "q_k35_semantic_dedup": "within-cluster cosine pair mining: the "
    "equi-key is the fitted k-means cluster id — cardinality k is the "
    "declared bound (SemDeDup's own cost model; persist-allowlist twin)",
    "q_k56_fuzzy_editdist_dedup": "shared-shingle NOMINATE stage feeding "
    "the edit-distance verify; declared-exact nomination semantics",
    "q_k65_winnowing_pairs": "pairs by shared winnowed fingerprint: "
    "MOSS guarantees fingerprint density 2/(w+1) — the paper's declared "
    "bound on key mass",
    "q_k66_duplicate_runs": "Lee 2021 exact substring-duplication seeds: "
    "shared 5-gram matches ARE the algorithm's defined seed set; "
    "exactness is the semantics",
    "q_k67_containment_neardup": "shared-shingle containment nominate; "
    "declared-exact audit semantics",
    "q_k75_source_dup_matrix": "q_k2's exact pair set re-aggregated to "
    "(source, source) cells; same audit contract",
    "q_k86_minhash_calibration": "calibration measures banded-LSH recall "
    "AGAINST declared-exact all-pairs ground truth — both join shapes "
    "are required by definition",
    "q_k92_dedup_savings": "savings forecast over the k22 exact pair "
    "graph; same audit contract",
    "q_k106_audio_fingerprint": "the banded audio-fingerprint candidate "
    "join: keys are (frame, 32-bit HK sub-fingerprint) buckets — "
    "expected bucket mass n·P(subfp collision) per frame, the HK lookup "
    "strategy's declared bound (k3's contract for audio) — plus the "
    "Hamming verify join-back on the candidate pair set",
    "q_k109_incremental_embedding_neardup": "the banded random-sign "
    "candidate join itself: keys are (band, bh) buckets with the "
    "scheme's declared bound — expected bucket mass n/2^bits per band "
    "for near-isotropic embeddings (Charikar sign-LSH), bits a layout "
    "constant a deployment raises for selectivity — this IS the "
    "embedding-space scale path (k3's contract), and the stream twin "
    "probes it incrementally (streaming/embed_monitor.py)",
    "q_k116_dedup_threshold_sensitivity": "the q_k3 banded LSH "
    "candidate join + exact verify, mined once at the 0.5 floor; "
    "same contract as q_k3 — everything added is grid x pair-set "
    "sized",
    "q_k119_lsh_recall_curve": "recall audit BY DEFINITION needs the "
    "declared-exact all-pairs-by-shared-shingle ground truth (q_k2's "
    "contract) plus the banded candidate join it grades (q_k86's "
    "contract); diagnostic at audit scale, never the production path",
}


def test_no_unbounded_content_keyed_self_joins(spark, sf_smoke, monkeypatch):
    """Fourth tripwire shape (VERDICT r9 ask #1): sweep every
    registered query — final frame PLUS every persisted / checkpointed
    / Arrow-collected intermediate (the k22/k92 pair graphs reach the
    driver through the components closure's toPandas probe) — for
    row-multiplying equi-joins of a corpus
    table to itself on content keys. A hot shingle with document
    frequency f contributes f² rows, so any NEW query with this shape
    must either bound the key (df-cap, banding, fitted k) or declare
    an audit-scale contract in JOIN_AUDIT_ALLOWLIST above."""
    from cdc_publisher_spark.plans import content_keyed_corpus_joins

    captured: list = []

    import pyspark.sql.dataframe as _base

    patch_classes = [_base.DataFrame]
    try:
        import pyspark.sql.classic.dataframe as _classic

        patch_classes.append(_classic.DataFrame)
    except ImportError:
        pass
    for cls in patch_classes:
        # persist/cache: capture, skip the actual pin (plan-only sweep)
        for m in ("persist", "cache"):
            if m in cls.__dict__:
                monkeypatch.setattr(
                    cls, m, lambda self, *a, **k: (captured.append(self), self)[1]
                )
        # checkpoints TRUNCATE lineage, so capture the pre-checkpoint
        # frame and still run the real thing (iterative algorithms
        # depend on the materialization)
        for m in ("localCheckpoint", "checkpoint"):
            if m in cls.__dict__:
                real = cls.__dict__[m]

                def capturing(self, *a, _real=real, **k):
                    captured.append(self)
                    return _real(self, *a, **k)

                monkeypatch.setattr(cls, m, capturing)
        # Arrow collects to the driver (the components closure's
        # bounded probe) end the intermediate's plan the same way:
        # capture the collected frame, still run the real collect
        real_to_pandas = cls.toPandas

        def capturing_to_pandas(self, *a, _real=real_to_pandas, **k):
            captured.append(self)
            return _real(self, *a, **k)

        monkeypatch.setattr(cls, "toPandas", capturing_to_pandas)

    offenders: dict[str, str] = {}
    allowlisted_hits: set[str] = set()
    for name, spec in sorted(all_specs().items()):
        captured.clear()
        frames = [spec.spark(spark, sf_smoke)] + list(captured)
        offs = [o for fr in frames for o in content_keyed_corpus_joins(fr)]
        if offs:
            if name in JOIN_AUDIT_ALLOWLIST:
                allowlisted_hits.add(name)
            else:
                offenders[name] = offs[0][:160]
    assert not offenders, offenders
    # canary: every allowlist entry is load-bearing — a stale entry
    # would hide a future regression behind an exemption
    assert allowlisted_hits == set(JOIN_AUDIT_ALLOWLIST), (
        "stale or non-firing allowlist entries",
        allowlisted_hits ^ set(JOIN_AUDIT_ALLOWLIST),
    )


def test_content_join_detector_canaries(spark, sf_smoke):
    """The detector itself: fires on the bad shape, stays silent on
    every bounded variant of it."""
    from pyspark.sql import functions as F

    from cdc_publisher_spark.functions import text as TX
    from cdc_publisher_spark.plans import content_keyed_corpus_joins
    from cdc_publisher_spark.tables import load

    docs = load(spark, sf_smoke, "documents")
    tok = TX.shingle_rows(docs, "doc_id", "text", 3, hashed=True)

    # the offending shape: corpus x corpus inner self-join on the
    # shingle hash — one hot shingle goes quadratic
    bad = tok.alias("a").join(tok.alias("b"), "s")
    assert content_keyed_corpus_joins(bad)
    # ...and the doc_id< pair convention does not absolve it
    bad2 = bad.filter(F.col("a.doc_id") < F.col("b.doc_id"))
    assert content_keyed_corpus_joins(bad2)

    # a row-id key bounds the fan-out: clean
    assert not content_keyed_corpus_joins(
        tok.alias("a").join(tok.alias("b"), ["doc_id", "s"])
    )
    # semi-joins bound output by the probe side: clean
    assert not content_keyed_corpus_joins(
        tok.join(tok.select("s").distinct(), "s", "left_semi")
    )
    # one side reduced to the distinct-value table first: clean
    sizes = tok.groupBy("s").agg(F.count("*").alias("df"))
    assert not content_keyed_corpus_joins(tok.join(sizes, "s"))
    # different tables joined on a shared value column: the normal
    # foreign-key lattice, clean
    ev = load(spark, sf_smoke, "events").select(
        F.col("user_id"), F.xxhash64("event_type").alias("s")
    )
    assert not content_keyed_corpus_joins(tok.join(ev, "s"))


def test_detector_string_helpers_pure():
    """Pure-function controls for the r8 detector machinery (no Spark):
    balanced-paren matching, windowspec stripping that preserves the
    window FUNCTION's own arguments, and reducing-span extraction for
    both function and infix bucketing shapes."""
    from cdc_publisher_spark.plans import (
        _match_paren,
        _reducing_spans,
        _strip_window_specs,
    )

    # balanced matching, including nesting; unbalanced returns len(s)
    assert _match_paren("f(a(b)c)", 1) == 7
    assert _match_paren("f(a(b)c", 1) == len("f(a(b)c")

    # spec stripped, function args kept — nested and repeated specs too
    s = (
        "lead(w#6, 1, null) windowspecdefinition(doc_id#0L, pos#5 ASC, "
        "specifiedwindowframe(RowFrame, 1, 1))"
    )
    out = _strip_window_specs(s)
    assert "windowspecdefinition" not in out
    assert "doc_id" not in out and "lead(w#6, 1, null)" in out
    two = _strip_window_specs(s + " + " + s)
    assert "windowspecdefinition" not in two and two.count("lead(") == 2
    # idempotent
    assert _strip_window_specs(out) == out
    # the window function's own row-id argument survives the strip
    kept = _strip_window_specs(
        "min(doc_id#3L) windowspecdefinition(doc_id#3L, x ASC)"
    )
    assert "min(doc_id#3L)" in kept

    # function spans cover their argument lists
    expr = "concat(doc_id#1L, substring(source#2, 1, 2))"
    spans = _reducing_spans(expr)
    sub_open = expr.index("substring(") + len("substring(") - 1
    assert any(a == sub_open and expr[b] == ")" for a, b in spans)
    # ...and the doc_id ref sits OUTSIDE every span
    d = expr.index("doc_id")
    assert all(not (a <= d <= b) for a, b in spans)

    # infix spans are the INNERMOST enclosing paren group
    expr2 = "((doc_id#1L div 4096) + 1)"
    spans2 = _reducing_spans(expr2)
    assert (1, expr2.index(")")) in spans2

    # no reducing fragment -> no spans
    assert _reducing_spans("xxhash64(doc_id#1L, 42)") == []
