"""The engine's query/oracle suite — the driver correctness contract.

Each entry pairs a Spark DataFrame query (callable ``(spark, sf_dir) ->
DataFrame``) with an equivalent ANSI-SQL oracle string for DuckDB. Spark
expression trees and SQL strings are generated from the SAME Python
constants, so float literals and operation order match bit-for-bit; the few
places where cross-engine float identity is not achievable (transcendentals,
float-sum order) round to 6 decimals on BOTH sides.
"""

from __future__ import annotations

from sed_spark.suite import core as _core

#: name -> {"spark": callable(spark, sf_dir) -> DataFrame, "sql": str | None}
REGISTRY: dict[str, dict] = dict(_core.QUERIES)


def queries():
    return {name: spec["spark"] for name, spec in REGISTRY.items()}


def oracle_sql():
    return {
        name: spec["sql"] for name, spec in REGISTRY.items() if spec.get("sql")
    }
