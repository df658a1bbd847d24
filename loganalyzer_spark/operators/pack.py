"""Sequence packing — concatenate-then-chunk training contexts.

The last step of every LLM training-data pipeline (the GPT-2/3 and T5
recipe): lay the tokenized documents end-to-end and slice the stream
into fixed-length contexts, so no compute is wasted on padding. A doc
whose tokens straddle a context boundary contributes its head to one
pack and its tail to the next — the consumer splits at the recorded
offset; nothing is padded, nothing dropped.

Spark shape: a single global concatenation order would need a global
sort, so packing is SHARDED — docs are hash-assigned to ``shards``
independent streams (deterministic in the doc key, like every sampler
in operators/sample.py) and each shard packs independently. That is
also how the physical training data is laid out (one output shard per
data-loader worker), so the shard knob is the real-world contract, not
an approximation. The per-shard window sort touches |docs|/shards rows
per partition — size ``shards`` so a shard's doc METADATA (key +
token count, not text) fits an executor; at 100 TB with 4096 shards a
trillion-doc corpus sorts ~250M 16-byte rows per shard, a plain
external sort per partition, no exchange beyond the one hash
repartition.

Reference parity: the reference has no training-data tier; this is a
pipeline-brief extension (same family as dedup/sample). Token counts
use the same whitespace tokenizer as ``textstats.token_stats`` so the
oracle re-derives them exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from loganalyzer_spark.operators import hash60_sql


def pack_sequences(
    docs: DataFrame, ctx_len: int = 2048, shards: int = 64
) -> DataFrame:
    """Assign every doc its position in the packed token stream.

    Input needs ``doc_id`` (unique, orderable) and ``n_tok`` (>0 token
    count; zero-token docs are filtered out — they occupy no stream
    positions). Output one row per doc:

      (doc_id, shard, n_tok, t_start, pack_first, pack_last, start_off)

    where ``t_start`` is the doc's first token's offset in its shard's
    concatenated stream, ``pack_first``/``pack_last`` the contexts its
    tokens land in (equal unless the doc straddles a boundary) and
    ``start_off`` = t_start mod ctx_len, the position inside
    pack_first where the doc begins. Deterministic: shard is a pure
    hash of the key, order within a shard is the key's natural order.
    """
    shard = F.pmod(F.expr(hash60_sql("CAST(doc_id AS STRING)")), F.lit(shards))
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tok").over(w)
    t_start = (cum - F.col("n_tok")).alias("t_start")
    return (
        docs.filter(F.col("n_tok") >= 1)
        .withColumn("shard", shard)
        .select(
            "doc_id",
            "shard",
            F.col("n_tok").cast("long").alias("n_tok"),
            t_start,
            F.floor((cum - F.col("n_tok")) / ctx_len).cast("long").alias(
                "pack_first"
            ),
            F.floor((cum - 1) / ctx_len).cast("long").alias("pack_last"),
            ((cum - F.col("n_tok")) % ctx_len).cast("long").alias("start_off"),
        )
    )
