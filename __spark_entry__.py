"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over ``commercial_rfp_data_pipeline_spark.registry``: every
implemented operator from SURVEY.md §2 registers a named query and,
where SQL-expressible, a DuckDB oracle. The driver runs ``entry`` as a
smoke check, then each ``queries()[name]`` at sf=0.01 against
``oracle_sql()[name]`` (row-count + schema + order-insensitive
value-hash).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the full RFP cleaning
    chain (SURVEY.md §3.2) — keys, P2 normalization, F1-F7 filters, A6
    dedup, J1 literal keep-latest, A5 argmax, P9 canonicalization."""
    from commercial_rfp_data_pipeline_spark.plans.flagship import flagship

    return flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from commercial_rfp_data_pipeline_spark.registry import all_queries

    return dict(all_queries())


def oracle_sql() -> dict[str, str]:
    from commercial_rfp_data_pipeline_spark.registry import all_oracles

    return dict(all_oracles())
