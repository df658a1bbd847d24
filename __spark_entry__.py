"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship parse→route→aggregate pipeline on
sf0.001; ``queries()``/``oracle_sql()`` expose every implemented
operator (SURVEY.md §2) with a DuckDB oracle over the shared parquet
tables. Implementation lives in ``loganalyzer_spark/``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: per-sink event-count matrix over warc_ts buckets."""
    from loganalyzer_spark import pipeline

    return pipeline.run(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from loganalyzer_spark import queries as q

    return q.queries()


def oracle_sql() -> dict[str, str]:
    from loganalyzer_spark import queries as q

    return q.oracle_sql()
