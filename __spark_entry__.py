"""Driver contract for the spark-graft builder (PySpark target).

Backed by ``motive_rdf_spark.contract`` — the KG-construction and
motif-induction operators are registered there as (spark_query,
oracle_sql) pairs; this module exposes that registry as ``queries()``
and ``oracle_sql()``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: build the KG triples
    view, run the vee BGP (co-located customer/supplier motif) through
    the join-expansion matcher, and aggregate support per nation."""
    from motive_rdf_spark.contract import bgp_support_by_nation

    return bgp_support_by_nation(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per contract operator, in registration order."""
    from motive_rdf_spark.contract import registry

    return {name: fn for name, (fn, _) in registry().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query."""
    from motive_rdf_spark.contract import registry

    return {name: sql for name, (_, sql) in registry().items()}
