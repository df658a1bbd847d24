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
) -> DataFrame:
    """readStream(parquet of raw lines) → parse/match/enrich/route →
    per-sink counts windowed under a 10-minute watermark. The template
    and KB lookups are map literals built once with the plan, so no
    stream-static join runs per micro-batch."""
    lines = (
        spark.readStream.schema(schema).parquet(source_dir)
    )
    routed = pipeline.routed_lines(spark, lines)
    return aggregate.sink_ecm(routed.withWatermark("warc_ts", "10 minutes"), bucket)


def run_to_memory(agg: DataFrame):
    """Drive the streaming query to completion over the files present
    (complete mode — exact parity with the batch aggregate) into the
    in-memory table ``stream_out``; returns that table's name."""
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("stream_out")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return "stream_out"
