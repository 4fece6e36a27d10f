"""Query + oracle registry backing ``__spark_entry__.py``.

Every implemented operator from SURVEY.md §2 (plus the LLM-pipeline
extensions) registers here as a named query ``(spark, sf_dir) ->
DataFrame`` with, where SQL-expressible, a matching DuckDB oracle SQL
string. The driver compares row-count + schema + order-insensitive
value-hash at sf0.01.

Conventions for oracle parity:
- alias every computed column identically on both sides;
- no raw float aggregation: monetary arithmetic goes through
  DECIMAL(12,2)/(18,2|4) so sums are exact and order-independent, then
  casts to DOUBLE for a stable final type;
- timestamps are projected as DATE or ISO strings (Spark session TZ is
  UTC; DuckDB is UTC-naive);
- every dedup/argmax carries an explicit deterministic tie-break;
- DuckDB ``regexp_replace`` needs the ``'g'`` flag to match Spark's
  replace-all semantics.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a named query; ``oracle=None`` marks a non-SQL-
    expressible op (driver records a rows-only check)."""

    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _register_all() -> None:
    # import for side effects: each module registers its queries
    from commercial_rfp_data_pipeline_spark.queries import (  # noqa: F401
        rfp,
        relational,
        dedup_q,
        text_q,
        vector_q,
        events_q,
        reconcile_q,
        multimodal_q,
        pipeline_q,
        advanced_q,
        quality_q,
        tpch_q,
        graph_q,
        linkage_q,
        stats_q,
        layout_q,
        eval_q,
    )


_REGISTERED = False


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    global _REGISTERED
    if not _REGISTERED:
        _register_all()
        _REGISTERED = True
    return QUERIES


def all_oracles() -> dict[str, str]:
    all_queries()
    return ORACLES
