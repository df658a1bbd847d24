"""Streaming exact dedup (SURVEY §2.11 + the training-data dedup tier).

A 100 TB ingest is at-least-once: crawl fetches, WARC re-exports and
replayed file batches re-deliver the same records. The batch tier's
``dedup.exact_dedup`` has a streaming twin here:
``dropDuplicatesWithinWatermark`` keys the dedup state on the record
key and lets the watermark EVICT state for keys older than the lateness
bound — without it, streaming dropDuplicates state grows without bound
(every key ever seen), which is exactly what kills a long-running
100 TB ingest. State size is bounded by (key cardinality within the
watermark horizon), not by stream length.

Reference parity: the reference is batch-only; this extends its dedup
semantics (same key contract as ``dedup.exact_dedup``) to the
Structured Streaming source tier, the same way stream_ecm.py extends
the A12 aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def streaming_dedup(spark: SparkSession, source_dir: str, schema) -> DataFrame:
    """readStream(parquet) → 1-hour ``warc_ts`` watermark →
    dropDuplicatesWithinWatermark on ``(doc_id, line_no)``.

    Emits each key's FIRST arrival (append mode); re-deliveries of the
    same key arriving within the hour before the stream's max event
    time are dropped. Keys older than the watermark are evicted from
    state, so a re-delivery after the horizon would re-emit — the
    standard bounded-state trade-off (size the watermark to the
    redelivery window of the upstream queue).
    """
    src = spark.readStream.schema(schema).parquet(source_dir)
    return src.withWatermark("warc_ts", "1 hour").dropDuplicatesWithinWatermark(
        ["doc_id", "line_no"]
    )


def run_append_to_memory(df: DataFrame):
    """Drive the dedup stream over the files currently present (append
    mode — the only mode dedup supports); results land in the in-memory
    table ``dedup_out``. Returns the STILL-ACTIVE query so the caller can
    feed more batches and re-call processAllAvailable(); the caller owns
    shutdown and must ``q.stop()`` when done (as the tests do) — the
    state store and memory sink stay open until then."""
    q = (
        df.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .start()
    )
    q.processAllAvailable()
    return q
