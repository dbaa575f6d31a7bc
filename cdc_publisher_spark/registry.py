"""Declared-query registry — the engine's correctness contract.

Every operator the engine claims (SURVEY.md §2.2) registers here as a
``QuerySpec``: a Spark callable ``(spark, sf_dir) -> DataFrame`` plus,
where the semantics are batch-deterministic, the equivalent DuckDB SQL
(the oracle). The driver's t2 gate and our own pytest oracle harness both
iterate this registry, so "implemented" == "registered and hash-checked".

Hash-stability rules (SURVEY.md §2.2 preamble) every spec must follow:
- alias every computed column identically in Spark and oracle SQL;
- ROUND double aggregates (sum via decimal cast when row counts are
  large enough for fp summation-order drift to bite);
- timestamps leave the query as DATE / ISO string / epoch integers;
- no implicit decimal; integer sums in DuckDB cast back to BIGINT
  (DuckDB SUM(BIGINT) is HUGEINT, Spark's is LONG).
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]

#: Frames persisted by the *currently executing* registered query.
#: A query can't unpersist its own caches (the caller collects the
#: returned DataFrame after the callable returns, and that action is
#: what reads the cached blocks), so persists are ENROLLED here and
#: released when the NEXT registered query begins — in a long-lived
#: session (bench driver, CLI serve) at most one query's blocks are
#: ever cached, instead of accumulating forever.
_PERSISTED: list[DataFrame] = []


def track_persist(df: DataFrame, level=None) -> DataFrame:
    """``df.persist()`` with scoped lifetime: the cache is dropped when
    the next registered query starts (see ``_PERSISTED``). Use this —
    not bare ``.persist()`` — anywhere inside a registered callable or
    an operator it delegates to.

    ``level``: optional ``pyspark.StorageLevel``. Frames whose
    cardinality scales with the corpus (shingle/gram/signature frames —
    anything the plan tripwire in tests/test_plans.py flags) must pass
    an explicit SERIALIZED level (``StorageLevel.MEMORY_AND_DISK``):
    the PySpark default is MEMORY_AND_DISK_DESER, and a deserialized
    corpus-scale cache thrashes the block manager long before it spills
    (VERDICT r15 ask #6). Bounded frames (pair sets, per-source
    sketches, sample blocks) keep the default."""
    _PERSISTED.append(df.persist(level) if level is not None else df.persist())
    return df


def release_persisted() -> None:
    """Drop every cache enrolled by the previous registered query."""
    while _PERSISTED:
        df = _PERSISTED.pop()
        try:
            df.unpersist()
        except Exception:  # session already stopped — nothing to free
            pass


@dataclass(frozen=True)
class QuerySpec:
    name: str
    family: str  # SURVEY §2.2 family letter, e.g. "D" or "K"
    spark: SparkQuery
    oracle: str | None  # DuckDB SQL; None => driver does rows-only check
    doc: str = ""
    bench: bool = False  # include in bench.py headline set
    # "stat_floor": the result asserts a statistical floor that holds
    # only at the scale the doc names; smaller fixtures check its shape
    tags: tuple[str, ...] = field(default=())


_REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    family: str,
    oracle: str | None,
    doc: str = "",
    bench: bool = False,
    tags: tuple[str, ...] = (),
) -> Callable[[SparkQuery], SparkQuery]:
    """Decorator: register a Spark query fn under ``name``."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")

        @functools.wraps(fn)
        def scoped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Release the previous query's track_persist caches before
            # building this one (see _PERSISTED docstring).
            release_persisted()
            return fn(spark, sf_dir)

        _REGISTRY[name] = QuerySpec(
            name=name, family=family, spark=scoped, oracle=oracle, doc=doc or (fn.__doc__ or ""),
            bench=bench, tags=tags,
        )
        return fn

    return deco


def all_specs() -> dict[str, QuerySpec]:
    """Name -> spec, importing all query modules first (side-effect
    registration)."""
    # Imported lazily to avoid import cycles (query modules import this
    # module for the decorator).
    from cdc_publisher_spark import queries  # noqa: F401

    return dict(_REGISTRY)


def spark_queries() -> dict[str, SparkQuery]:
    return {name: spec.spark for name, spec in all_specs().items()}


def oracle_sqls() -> dict[str, str]:
    return {name: spec.oracle for name, spec in all_specs().items() if spec.oracle is not None}
