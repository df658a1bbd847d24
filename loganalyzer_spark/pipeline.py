"""End-to-end DAG: parse → match → enrich → route → aggregate.

The Spark rebuild of the reference's EP2 prediction pipeline
(scripts/loglab.py:146-205, SURVEY.md §3) over the Common-Crawl-style
``web_pages`` input. One declarative plan: Catalyst fuses the wash ops,
the template library and the KB are map literals looked up in the same
stage (no join, no broadcast), and the only shuffle is the final
aggregate's — parse/match/enrich/route are narrow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from loganalyzer_spark import datagen
from loganalyzer_spark.operators import aggregate as agg_ops
from loganalyzer_spark.operators import enrich as enrich_ops
from loganalyzer_spark.operators import match as match_ops
from loganalyzer_spark.operators import parse as parse_ops


def routed_lines(spark: SparkSession, lines: DataFrame) -> DataFrame:
    """raw lines → washed, masked, matched, enriched, routed."""
    df = parse_ops.wash(lines)
    df = parse_ops.mask(df)
    df = match_ops.match_templates(df, datagen.templates_df(spark))
    df = enrich_ops.enrich_kb(df, datagen.kb_df(spark))
    return enrich_ops.route(df)


def routed_from_pages(spark: SparkSession, pages: DataFrame) -> DataFrame:
    return routed_lines(spark, parse_ops.pages_to_lines(pages))


def sink_aggregates(routed: DataFrame, bucket: str = "1 minute") -> DataFrame:
    """The flagship per-sink event-count-matrix aggregate (A12)."""
    return agg_ops.sink_ecm(routed, bucket)


def run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship over the generated raw lines of ``sf_dir``."""
    return sink_aggregates(routed_lines(spark, datagen.raw_lines(spark, sf_dir)))
