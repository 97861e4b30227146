"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship CoCoA conversion-adjustment query
(consent-split customer table → one-hot feature space → kNN similarity join
→ softmax redistribution) on sf0.001. ``queries()`` / ``oracle_sql()``
aggregate every implemented operator's checkable query from the plans
registry; each Spark callable has a DuckDB oracle twin unless the operator
is genuinely non-SQL-expressible (those run rows-only).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from consent_based_conversion_adjustments_spark.plans import (
    cocoa_queries,
    corpus_queries,
    data_queries,
    relational,
)

SF0001 = "/root/testdata/sf0.001"

_REGISTRIES = (
    cocoa_queries.QUERIES,
    relational.QUERIES,
    data_queries.QUERIES,
    corpus_queries.QUERIES,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return cocoa_queries.knn_adjust(spark, SF0001)


def _flat() -> dict[str, tuple]:
    """Every registry's entries in registration order; a name registered
    twice raises instead of the later registry silently replacing it."""
    out: dict[str, tuple] = {}
    for registry in _REGISTRIES:
        for name, spec in registry.items():
            if name in out:
                raise ValueError(f"query {name!r} is registered twice")
            out[name] = spec
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec[0] for name, spec in _flat().items()}


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for name, (_, sql) in _flat().items():
        if callable(sql):
            # lazily generated oracles (data-dependent constants, e.g. the
            # IVF centroid literals); may return None → rows-only fallback
            sql = sql()
        if sql is not None:
            out[name] = sql
    return out
