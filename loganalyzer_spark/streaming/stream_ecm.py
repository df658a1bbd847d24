"""Structured Streaming form of the flagship aggregate (SURVEY §2.11).

The reference is pure batch; its sliding time windows (loglizer.py:
161-295) are the batch analogue of streaming windowed aggregation. The
batch aggregate, ``aggregate.sink_ecm``, runs here on the watermarked
routed lines — only the source/sink and the watermark differ, which is
the point: the same DAG runs incrementally with late-data handling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from loganalyzer_spark import pipeline
from loganalyzer_spark.operators import aggregate


def streaming_sink_ecm(
    spark: SparkSession,
    source_dir: str,
    schema,
    bucket: str = "1 minute",
    watermark: str = "10 minutes",
    templates: DataFrame | None = None,
    kb: DataFrame | None = None,
) -> DataFrame:
    """readStream(parquet of raw lines) → parse/match/enrich/route →
    watermarked windowed per-sink counts. Broadcast dimension joins are
    stream-static joins (supported without state)."""
    lines = (
        spark.readStream.schema(schema).parquet(source_dir)
    )
    routed = pipeline.routed_lines(spark, lines, templates=templates, kb=kb)
    return aggregate.sink_ecm(routed.withWatermark("warc_ts", watermark), bucket)


def run_to_memory(agg: DataFrame, name: str = "stream_out"):
    """Drive the streaming query to completion over the files present
    (complete mode — exact parity with the batch aggregate)."""
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return name
