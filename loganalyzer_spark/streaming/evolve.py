"""Streaming template-library evolution — Drain's online clustering
under Structured Streaming keyed state.

The reference evolves its template library ONLINE while parsing
(drain.py:546-634: each line either merges into a cluster, positionwise
mismatches wildcarded, or seeds a new one). The batch rebuild runs that
as an offline job (operators/evolve.py); this module is the true
streaming twin: the SAME pure-Python kernel
(``evolve.cluster_templates`` — seq_dist similarity, per-cluster
adaptive threshold, get_template merge) runs inside
``applyInPandasWithState`` keyed on the masked line's TOKEN COUNT,
which is Drain's first tree level — so each state key holds exactly one
Drain bucket's template list and evolves it across micro-batches.

Emission (update mode): after each batch, every touched bucket emits
its full current template list — downstream MERGE INTO the template
dim picks up new/changed rows (sources/tables.py::upsert_template_lib),
exactly the reference's periodic library persist.

State size: |templates in bucket| strings — the same cardinality the
reference holds in memory for its tree; bounded by template diversity,
not stream length. Kernel parity with the batch path is by
construction (shared function), asserted cross-batch in
tests/test_pipeline.py::test_streaming_template_evolution.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from loganalyzer_spark.operators.evolve import cluster_templates

STATE_SCHEMA = "templates ARRAY<STRING>"
OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("token_count", T.IntegerType()),
        T.StructField("event_template", T.StringType()),
        T.StructField("event_id", T.StringType()),
    ]
)


def _evolve_bucket(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    from loganalyzer_spark.datagen import event_id_of

    base = list(state.get[0]) if state.exists else []
    counts: dict[str, int] = {}
    for pdf in pdfs:
        for m in pdf["masked"]:
            counts[m] = counts.get(m, 0) + 1
    evolved = cluster_templates(sorted(counts.items()), base)
    state.update((evolved,))
    yield pd.DataFrame(
        {
            "token_count": [int(key[0])] * len(evolved),
            "event_template": evolved,
            "event_id": [event_id_of(t) for t in evolved],
        }
    )


def streaming_template_evolution(masked_stream: DataFrame) -> DataFrame:
    """streaming masked lines → per-token-count bucket state →
    the bucket's evolved template list each micro-batch (update mode).
    """
    return (
        masked_stream.select("masked")
        .withColumn("token_count", F.size(F.split("masked", " ")))
        .groupBy("token_count")
        .applyInPandasWithState(
            _evolve_bucket,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
