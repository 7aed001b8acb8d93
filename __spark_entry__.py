"""Registry contract: ``entry``, ``queries`` and ``oracle_sql``.

``entry(spark)`` is the flagship smoke query. Every ``queries()[name]``
has a DuckDB twin in ``oracle_sql()[name]``; ``tests/test_oracle_parity.py``
runs each pair over the same parquet and compares row count, columns
and values (order-insensitive, via ``tools/selfcheck.compare``).

Queries and their oracle SQL live side by side in
``f1_realtime_data_pipeline_spark.plans.*`` (each module exposes
``QUERIES`` and ``ORACLE``); this file only aggregates them.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from f1_realtime_data_pipeline_spark.plans import (
    cdf_ext,
    contract_star,
    dq_ext,
    graph_ext,
    inventory_star,
    ivm_ext,
    layout_ext,
    llm_ext,
    llm_star,
    scoring_ext,
    selection_ext,
    tpch,
    tpch_ext,
    windows_star,
)

_QUERY_MODULES = [
    inventory_star,
    tpch,
    tpch_ext,
    contract_star,
    windows_star,
    llm_ext,
    layout_ext,
    llm_star,
    selection_ext,
    graph_ext,
    scoring_ext,
    cdf_ext,
    ivm_ext,
    dq_ext,
]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (Q1 championship standings) on sf0.001."""
    return contract_star.q1_standings(spark, "/root/testdata/sf0.001")


def _merged(field: str, modules=_QUERY_MODULES) -> dict:
    """Union of every module's ``field`` dict; a name registered twice
    is an error rather than a silent override."""
    merged: dict = {}
    dup: list[str] = []
    for mod in modules:
        part = getattr(mod, field)
        dup += [name for name in part if name in merged]
        merged.update(part)
    if dup:
        raise ValueError(f"{field} names registered by more than one module: {sorted(dup)}")
    return merged


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _merged("QUERIES")


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each registered query."""
    return _merged("ORACLE")
