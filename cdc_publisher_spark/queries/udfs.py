"""Family J — the UDF/UDAF/UDTF surface (SURVEY.md §2.2 J).

Coverage map (the rest of the family lives where it's load-bearing):
- scalar Python UDF ............ none: T3 key derivation (cdc/keying.py)
                                  is built from JVM expressions
- pandas_udf scalar ............ rolling fingerprint (operators/fingerprint.py)
- pandas_udf grouped-agg ....... q_j1 (here)
- applyInPandas grouped-map .... q_j2 (here)
- mapInPandas (UDTF shape) ..... multimodal decode (operators/multimodal.py)
- applyInPandasWithState ....... streaming latest-state (streaming/)

Oracle strategy (SURVEY.md §2.2 J): these two are deliberately chosen
to have exact SQL equivalents, so the Arrow round-trip itself is what
gets hash-checked. Closures are self-contained (pickle by value).
"""

# NB no `from __future__ import annotations` here: PEP-563 string
# annotations defeat pandas_udf's Series->scalar eval-type inference.
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_publisher_spark.registry import register
from cdc_publisher_spark.tables import load


@register(
    "q_j1_grouped_agg_pandas_udf",
    family="J",
    doc="Grouped-aggregate pandas UDF: discount-weighted mean price per "
    "returnflag — one Arrow batch per group partial, JVM hash-agg "
    "around it.",
    oracle="""
        SELECT l_returnflag,
               ROUND(SUM(l_extendedprice * l_discount) / SUM(l_discount), 4) AS weighted_price,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
)
def q_j1_grouped_agg_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    @F.pandas_udf("double")
    def weighted_mean(price: pd.Series, weight: pd.Series) -> float:
        # Series->scalar type hints mark this as a GROUPED_AGG pandas UDF
        num = float((price * weight).sum())
        den = float(weight.sum())
        return num / den

    @F.pandas_udf("long")
    def n_rows(price: pd.Series) -> int:
        # Spark disallows mixing grouped-agg pandas UDFs with JVM
        # aggregates in one agg(), so the count is pandas-side too
        return len(price)

    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(
                weighted_mean(F.col("l_extendedprice"), F.col("l_discount")), 4
            ).alias("weighted_price"),
            n_rows(F.col("l_extendedprice")).alias("n"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q_j2_apply_in_pandas",
    family="J",
    doc="applyInPandas grouped-map: per-nation acctbal z-scores "
    "(population stddev) — whole group as one pandas frame, oracle via "
    "window functions.",
    oracle="""
        SELECT c_custkey, c_nationkey,
               ROUND((c_acctbal - AVG(c_acctbal) OVER w)
                     / NULLIF(STDDEV_POP(c_acctbal) OVER w, 0), 4) AS zscore
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey)
        ORDER BY c_custkey
    """,
)
def q_j2_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    def zscore_group(pdf):  # type: ignore[no-untyped-def]
        mean = pdf["c_acctbal"].mean()
        std = pdf["c_acctbal"].std(ddof=0)
        out = pdf[["c_custkey", "c_nationkey"]].copy()
        out["zscore"] = ((pdf["c_acctbal"] - mean) / std if std else float("nan")).round(4)
        return out

    c = load(spark, sf_dir, "customer")
    return (
        c.groupBy("c_nationkey")
        .applyInPandas(zscore_group, schema="c_custkey long, c_nationkey int, zscore double")
        .orderBy("c_custkey")
    )
