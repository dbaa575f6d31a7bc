"""Workload ``batch_queries``: registered queries on seeded sf-shaped
tables, in two fixed groups.

- sql: exec-bound queries that run no ``operators/`` code;
- dedup: near-dup / clustering / ANN queries whose build phase (the
  registered callable, before the result is collected) runs jobs.

Each query's end-to-end time runs from the call to the registered
callable to its result collected through Arrow (``toPandas``), so the
build phase counts. Set-up ends with a warm-up: the WARMUP queries once
on WARMUP_SCALE tables of the same seed. Whole passes then run until
``--seconds`` have passed (at least one); a query's time is its median
over the passes. Every collected result is compared with its DuckDB
oracle (computed once per run, outside the timer) through
``oracle.compare_frames``.
"""

from __future__ import annotations

import time

from perfbench import common
from perfbench.inputs import write_tables

SCALE = 0.01
#: A cold pass spends about a third of its CPU compiling (JIT and code
#: generation), and how long that takes swings with how much CPU the
#: host leaves the compiler threads. Warming up on these three (the
#: session's first query, minhash near-dup and the semantic-dedup build)
#: cut the pass's CPU from ~150 s to ~110 s, within 3% over three paired
#: runs; a warm-up on all 19 would cost about a minute.
WARMUP = ("q_b1", "q_k3", "q_k35")
WARMUP_SCALE = 0.001
SQL = ("q_b1", "q_c1", "q_c2", "q_c7", "q_c14", "q_c15", "q_d1", "q_e3", "q_e9", "q_i1")
DEDUP = ("q_k35", "q_k127", "q_k22", "q_k92", "q_k40", "q_k3", "q_k2", "q_k21", "q_k83")


def query_names(specs) -> dict[str, str]:
    """Short name (q_k35) -> registered name (q_k35_semantic_dedup)."""
    out = {}
    for short in SQL + DEDUP:
        hits = [n for n in specs if n.startswith(short + "_")]
        if len(hits) != 1:
            raise LookupError(f"{short}: registered as {hits}")
        out[short] = hits[0]
    return out


def _oracle(sf_dir: str, sqls: dict) -> dict:
    from cdc_publisher_spark.oracle import duckdb_connect

    con = duckdb_connect(sf_dir)
    try:
        return {short: con.execute(sql).fetchdf() for short, sql in sqls.items()}
    finally:
        con.close()


#: Output columns compared without their oracle. q_k40's flag says the
#: IVF top-10's worst cosine is within 0.05 of the exact 10th best: a
#: statistical invariant that holds on the seed-42 tables but not on
#: every seed (it fails on seeds 1, 4 and 11 of 1-12), so the benchmark compares
#: q_k40's exact columns and counts the false flags as a layer metric.
STATISTICAL = {"q_k40": "value_gap_le_005"}


def check(short: str, pdf, want):
    """compare_frames on every column except a statistical one."""
    from cdc_publisher_spark.oracle import compare_frames

    col = STATISTICAL.get(short)
    if col is not None:
        pdf, want = pdf.drop(columns=[col]), want.drop(columns=[col])
    return compare_frames(short, pdf, want)


def _one(spark, spec, sf_dir: str, group: str | None):
    """(build s, exec s, collected frame, jobs in build, jobs in exec)."""
    sc = spark.sparkContext
    if group:
        sc.setJobGroup(group + ":build", group)
    t0 = time.perf_counter()
    df = spec.spark(spark, sf_dir)
    t1 = time.perf_counter()
    if group:
        sc.setJobGroup(group + ":exec", group)
    pdf = df.toPandas()
    t2 = time.perf_counter()
    jobs = (common.jobs_in_group(spark, group + ":build"), common.jobs_in_group(spark, group + ":exec")) if group else (0, 0)
    return t1 - t0, t2 - t1, pdf, jobs


def _operator_calls(run, spark, sf_dir: str) -> None:
    """Direct calls on this run's tables: connected components over the
    near-dup pair set, an IVF fit on the embeddings, minhash signatures
    of the documents."""
    from cdc_publisher_spark.operators.components import connected_components
    from cdc_publisher_spark.operators.ivf import build_ivf
    from cdc_publisher_spark.operators.minhash import minhash_near_duplicates, minhash_signatures
    from cdc_publisher_spark.tables import load

    docs, emb = load(spark, sf_dir, "documents"), load(spark, sf_dir, "embeddings")
    pairs = spark.createDataFrame(minhash_near_duplicates(docs).select("d1", "d2").toPandas(), "d1 long, d2 long")

    def timed(name, action):
        t = time.perf_counter()
        action()
        run.put(name, time.perf_counter() - t, "s")

    timed("operators.components.connected_components_s",
          lambda: connected_components(pairs, "d1", "d2").toPandas())
    timed("operators.ivf.build_ivf_s", lambda: build_ivf(emb).corpus.write.format("noop").mode("overwrite").save())
    timed("operators.minhash.minhash_signatures_s",
          lambda: minhash_signatures(docs).write.format("noop").mode("overwrite").save())


def event_log_metrics(run, jobs, stages) -> None:
    """Task metrics of each group's jobs, from the traced session's
    event log."""
    for name, group in (("sql", SQL), ("dedup", DEDUP)):
        groups = {f"pb:{s}:{p}" for s in group for p in ("build", "exec")}
        tot = common.stage_totals(jobs, stages, lambda g, t: g in groups)
        for k, unit in (("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("executor_run_s", "s"),
                        ("executor_cpu_s", "s"), ("gc_s", "s")):
            run.put(f"batch.{name}.{k}", tot[k], unit)


def run(run) -> common.Result:
    from cdc_publisher_spark.registry import all_specs

    sf_dir, warm_dir = run.path("sf"), run.path("sf_warm")
    specs = all_specs()
    names = query_names(specs)
    run.generate(write_tables, common.ROOT, run.seed, SCALE, sf_dir)
    run.generate(write_tables, common.ROOT, run.seed, WARMUP_SCALE, warm_dir)
    oracle = run.generate(_oracle, sf_dir, {s: specs[n].oracle for s, n in names.items()})

    spark = run.session()
    for short in WARMUP:
        specs[names[short]].spark(spark, warm_dir).toPandas()
    setup_s = run.setup_done()

    run.measure_begin()
    times: dict[str, list] = {s: [] for s in SQL + DEDUP}
    failures, start, passes, gap_false = [], time.perf_counter(), 0, 0
    while passes == 0 or time.perf_counter() - start < run.seconds:
        for short in SQL + DEDUP:
            group = f"pb:{short}" if run.trace else None
            b, e, pdf, jobs = _one(spark, specs[names[short]], sf_dir, group)
            times[short].append((b, e, jobs))
            res = check(short, pdf, oracle[short])
            if short in STATISTICAL and passes == 0:
                gap_false = int((~pdf[STATISTICAL[short]].astype(bool)).sum())
            if not res.match and passes == 0:
                failures.append(f"{short}: {res.detail} (spark {res.spark_rows} rows, oracle {res.oracle_rows})")
        passes += 1
    run.measure_end()

    e2e_s = {s: common.median([b + e for b, e, _ in v]) for s, v in times.items()}
    sql_s = sum(e2e_s[s] for s in SQL)
    dedup_s = sum(e2e_s[s] for s in DEDUP)
    per_query_ms = [v * 1000 for v in e2e_s.values()]
    named = {
        "batch_sql_s": (sql_s, "s"),
        "batch_dedup_s": (dedup_s, "s"),
        "batch_passes": (passes, "count"),
    }
    if run.trace:
        for s, v in times.items():
            run.put(f"{s}.build_s", common.median([b for b, _, _ in v]), "s")
            run.put(f"{s}.exec_s", common.median([e for _, e, _ in v]), "s")
            if s in DEDUP:
                run.put(f"{s}.jobs_build", v[0][2][0], "count")
                run.put(f"{s}.jobs_exec", v[0][2][1], "count")
        run.put("q_k40.value_gap_false", gap_false, "count")
        run.put("batch.sql.jobs", sum(sum(v[0][2]) for s, v in times.items() if s in SQL), "count")
        spark.sparkContext.setJobGroup("pb:operators", "operator calls")
        _operator_calls(run, spark, sf_dir)
    e2e = {
        "throughput_per_s": len(e2e_s) / (sql_s + dedup_s),
        "latency_p50_ms": common.percentile(per_query_ms, 50),
        "latency_p95_ms": common.percentile(per_query_ms, 95),
    }
    return common.Result(setup_s, e2e, named, len(e2e_s), failures)
