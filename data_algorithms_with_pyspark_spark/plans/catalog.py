"""Query-catalog registry.

Every capability the engine claims (SURVEY.md §2 inventory + north-star
extensions) is a named ``CatalogQuery``: a Spark function
``(spark, sf_dir) -> DataFrame`` paired, where SQL-expressible, with a
DuckDB oracle SQL string computing the same result on the same parquet
tables. The driver (and tests/test_catalog_oracle.py) run both sides and
compare row counts, schemas, and order-insensitive value hashes.

``all_queries()`` lists the catalog in registration order (``_QUERY_MODULES``
import order, then decorator order within each module); that is its only
order, and queries are always looked up by name.

Cross-engine determinism rules used throughout the catalog:

* every computed/aggregate column is aliased identically on both sides;
* every floating-point output is ``round``-ed to a fixed scale on BOTH
  sides (double arithmetic is order-dependent across engines);
* every LIMIT query orders by a TOTAL order (explicit unique tie-breaker),
  computed over already-rounded values;
* integer aggregates are cast to BIGINT on the DuckDB side (DuckDB widens
  sum(BIGINT) to HUGEINT) and Spark's INT-returning functions (year, length,
  ...) are cast to match;
* timestamps compare under UTC (session.py pins spark.sql.session.timeZone).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["CatalogQuery", "register", "all_queries", "get_query", "ts"]

QueryFn = Callable[[SparkSession, str], DataFrame]

# Import order here is the catalog's registration order.
_QUERY_MODULES = (
    "data_algorithms_with_pyspark_spark.plans.events",
    "data_algorithms_with_pyspark_spark.plans.extensions",
    "data_algorithms_with_pyspark_spark.plans.stats",
    "data_algorithms_with_pyspark_spark.plans.pipelines",
    "data_algorithms_with_pyspark_spark.plans.functions_surface",
    "data_algorithms_with_pyspark_spark.plans.tpch",
    "data_algorithms_with_pyspark_spark.plans.tpch_extended",
    "data_algorithms_with_pyspark_spark.plans.reference_algorithms",
    "data_algorithms_with_pyspark_spark.plans.curation",
    "data_algorithms_with_pyspark_spark.plans.streaming_parity",
    "data_algorithms_with_pyspark_spark.plans.maintenance",
    "data_algorithms_with_pyspark_spark.plans.suite",
)

_REGISTRY: dict[str, "CatalogQuery"] = {}
_LOADED = False


@dataclass(frozen=True)
class CatalogQuery:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None -> driver does a rows-only check
    description: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


def register(
    name: str,
    oracle: str | None = None,
    description: str = "",
    tags: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate catalog query {name!r}")
        _REGISTRY[name] = CatalogQuery(name, fn, oracle, description, tags)
        return fn

    return deco


def _load() -> None:
    global _LOADED
    if not _LOADED:
        for mod in _QUERY_MODULES:
            importlib.import_module(mod)
        _LOADED = True


def all_queries() -> dict[str, CatalogQuery]:
    """Every registered query by name, in registration order."""
    _load()
    return dict(_REGISTRY)


def get_query(name: str) -> CatalogQuery:
    _load()
    return _REGISTRY[name]


def ts(literal: str):
    """Timestamp literal column (e.g. ts('1997-01-01'))."""
    return F.to_timestamp(F.lit(literal))


def cents_sum(expr):
    """Money sum that is bit-identical across engines and run orders.

    ``round(sum(double), 2)`` is unsafe for differential testing: the sum's
    last ulps depend on accumulation order (parallel aggregation), and
    Spark's HALF_UP-on-binary ``round`` can disagree with other engines at
    exact decimal halves. Quantizing each term to integer cents first
    (floor(x*100+0.5) — IEEE-exact in every engine) makes the aggregation
    an exact integer sum: associative, commutative, order-independent.
    SQL twin: CENTS_SUM_SQL.
    """
    return (F.sum(F.floor(expr * 100 + F.lit(0.5)).cast("long")) / 100.0)


def cents_sum_sql(expr_sql: str) -> str:
    """DuckDB twin of ``cents_sum`` (CAST keeps BIGINT out of HUGEINT)."""
    return (
        f"CAST(sum(CAST(floor(({expr_sql}) * 100 + 0.5) AS BIGINT)) AS BIGINT)"
        " / 100.0"
    )
