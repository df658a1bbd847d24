"""Aggregation stage (SURVEY.md §2.6): event-count matrices, windows,
tf-idf, sequence slicing.

Map-side partial aggregation gives count-style aggs two-level combining
for free; explicit salting is applied where a single hot key would
otherwise serialize a stage (collect-heavy aggs, per-sink writes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from loganalyzer_spark.operators import sql_str


def event_counts(lines: DataFrame) -> DataFrame:
    """A1: template occurrence counts (drain.py:731,755)."""
    return lines.groupBy("event_id").agg(F.count("*").alias("occurrences"))


def sink_ecm(routed: DataFrame, bucket: str = "1 minute") -> DataFrame:
    """A12 flagship: per-sink event-count matrix over warc_ts buckets.

    Flat form (sink_class, bucket_start, event_id, cnt); use
    ``ecm_vectors`` for dense per-bucket vectors. Hash agg does partial combines
    map-side, so Zipf-heavy event_ids do not hot-spot the shuffle. A
    watermarked streaming input gets the same plan plus the state store
    (``streaming.stream_ecm``).
    """
    return (
        routed.groupBy(
            "sink_class", F.expr(f"window(warc_ts, {sql_str(bucket)}) AS w"), "event_id"
        )
        .agg(F.expr("count(*) AS cnt"))
        .selectExpr("sink_class", "w.start AS bucket_start", "event_id", "cnt")
    )


def salted_event_counts(lines: DataFrame) -> DataFrame:
    """A1 with explicit two-level salted aggregation (SURVEY.md §4.1).

    For count-like aggs partial aggregation already defuses skew; this
    operator exists for aggregations without map-side combine and as the
    explicit salted-repartition pattern the north rule requires:
    partial agg on (key, salt) → final agg on key, with 16 salts.
    """
    salted = lines.withColumn("_salt", (F.rand(42) * 16).cast("int"))
    partial = salted.groupBy("event_id", "_salt").agg(F.count("*").alias("c"))
    return partial.groupBy("event_id").agg(F.sum("c").alias("occurrences"))


def ecm_vectors(
    ecm_flat: DataFrame,
    vocab: DataFrame,
    size: int,
    keys: tuple[str, ...] = ("sink_class", "bucket_start"),
) -> DataFrame:
    """Dense count vectors via broadcast vocab join (J1: the reference's
    linear ``list.index`` scan, loglab.py:107-116, as a hash join).

    Unknown event_ids map to the reserved last slot (deeplog.py:170).
    """
    idx = F.coalesce(F.col("vocab_idx"), F.lit(size - 1))
    per_idx = (
        ecm_flat.join(F.broadcast(vocab), "event_id", "left")
        .groupBy(*keys, idx.alias("idx"))
        .agg(F.sum("cnt").alias("c"))
    )
    # Densify via map lookup: O(size) per group. (A fold that rewrites
    # the whole array per entry is O(items*size) — at vocab 2000 that is
    # a 4M-op-per-group difference.) The map is materialized once per
    # group in the agg; the lambda then only does per-index lookups.
    return (
        per_idx.groupBy(*keys)
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("idx", "c")))
            ).alias("_m")
        )
        .select(
            *keys,
            F.expr(
                f"transform(sequence(0, {size - 1}),"
                " i -> coalesce(_m[i], 0L))"
            ).alias("vec"),
        )
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """A5: Loglizer's sliding time windows (loglizer.py:161-295) — an
    exact Spark built-in. Works unchanged under Structured Streaming
    with a watermark. Counts ``event_type`` per 10-second window of
    ``ts``, sliding by 5 seconds."""
    return (
        events.groupBy(
            F.window("ts", "10 seconds", "5 seconds").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "event_type",
            "cnt",
        )
    )


def tfidf(ecm_flat: DataFrame, doc_keys: list[str]) -> DataFrame:
    """A6: the reference's manual tf-idf (loglizer.py:297-341):
    idf = log(N / (df + 1e-8)), x = cnt * idf.

    df per event = number of "documents" (windows/samples) containing
    it; N = total documents. N is folded into the idf dim as a 1-row
    cross-joined aggregate — an eager ``.count()`` here would execute
    the whole upstream lineage at BUILD time (and once more per
    aggregate side), outside any timed/planned window. The input
    lineage still backs three subtrees (N, df, and the fact side of
    the broadcast join); when ecm_flat is an expensive pipeline
    product, cache it at the call site — the operator does not own
    that lifecycle.
    """
    n_row = (
        ecm_flat.select(*doc_keys)
        .distinct()
        .agg(F.count(F.lit(1)).cast("double").alias("_n_docs"))
    )
    df_vec = ecm_flat.groupBy("event_id").agg(
        F.countDistinct(*doc_keys).alias("df")
    )
    idf = (
        df_vec.crossJoin(F.broadcast(n_row))
        .withColumn("idf", F.log(F.col("_n_docs") / (F.col("df") + F.lit(1e-8))))
        .drop("_n_docs")
    )
    return ecm_flat.join(F.broadcast(idf), "event_id").withColumn(
        "tfidf", F.col("cnt") * F.col("idf")
    )


def context_window_counts(lines: DataFrame) -> DataFrame:
    """A2 core: Loglab's ±window_size log-context flag
    (loglab.py:341-417): a line is "in context" if any KB-typical line
    (severity != 'info') lies within ±10 positions in the same sample.
    """
    w = Window.partitionBy("doc_id").orderBy("line_no").rowsBetween(-10, 10)
    is_typical = (F.col("severity") != "info").cast("int")
    return lines.withColumn("in_context", F.max(is_typical).over(w))


def sequence_windows(lines: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """A8: DeepLog sequence slicing (deeplog.py:200-277) — sliding
    5-event windows + next-event target per ``session_id``, via
    collect_list over a row frame + lead. Tail windows (< 5 items or
    no target) are dropped, matching the reference's bounds check.

    ``carry`` leads extra per-line columns to the target row as
    ``target_<col>`` (same lead offset, same window — zero extra
    shuffle), so target-line attributes (e.g. the OSS param-anomaly
    flag for EP3 predict) ride along without a self-join."""
    win = 5
    w = Window.partitionBy("doc_id", "session_id").orderBy("line_no")
    frame = w.rowsBetween(0, win - 1)
    out = (
        lines.withColumn("seq", F.collect_list("event_id").over(frame))
        .withColumn("target", F.lead("event_id", win).over(w))
        .withColumn("label", F.max("is_abn").over(frame))
    )
    for c in carry:
        out = out.withColumn(f"target_{c}", F.lead(c, win).over(w))
    return out.filter((F.size("seq") == win) & F.col("target").isNotNull())


def dedup_lines(lines: DataFrame) -> DataFrame:
    """A10: duplicate-line checker (misc_tools.py:35-43), keyed on
    ``content``."""
    return (
        lines.groupBy("content")
        .agg(
            F.count("*").alias("n"),
            F.array_join(
                F.sort_array(
                    F.collect_list(
                        F.concat_ws(":", F.col("doc_id"), F.col("line_no"))
                    )
                ),
                "|",
            ).alias("locations"),
        )
        .filter(F.col("n") > 1)
    )
