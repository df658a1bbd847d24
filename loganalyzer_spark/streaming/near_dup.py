"""Streaming near-dup detection — MinHash LSH with keyed band state.

The batch tier detects near-duplicate documents with banded MinHash
(``operators/dedup.py::minhash_signatures`` / ``lsh_candidate_pairs``);
this module is its streaming twin for an at-least-once 100 TB ingest:
suppress near-duplicates AT INGEST, against everything already seen,
without re-scanning the corpus per micro-batch.

Shape: the signature/banding steps are the SAME stateless column
expressions as batch (``minhash_signatures``, ``minhash_bands``;
projection + explode work unchanged under Structured Streaming), then ``applyInPandasWithState`` keyed on
``(band_id, band_hash)`` holds one value per live band bucket — the
first document that claimed it. Later documents landing in a claimed
bucket emit ``(doc_id, dup_of, band_id)`` collision candidates, the
same candidate-pair contract as ``lsh_candidate_pairs`` (a downstream
verifier applies the Jaccard check; a doc colliding on several bands
emits once per band, distinct() is the consumer's).

State is ONE long per non-empty band bucket — the minimum any
LSH index must remember — kept for the life of the query (no timeout),
so a re-arrival is flagged however late it comes.

Reference parity: the reference is batch-only (SURVEY §2.11); this
extends its template-library "have I seen this before" semantics to the
document tier under streaming, the way stream_ecm extends A12.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from loganalyzer_spark.operators.dedup import minhash_bands, minhash_signatures

STATE_SCHEMA = "first_doc BIGINT"
OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("dup_of", T.LongType()),
        T.StructField("band_id", T.IntegerType()),
    ]
)


def _bucket_update(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        first = int(state.get[0])
    else:
        first = None
    # Accumulate ALL chunks before picking the claimant: a key group
    # can span multiple pandas chunks in the iterator, and sorting
    # per-chunk would let an earlier chunk's larger doc_id claim the
    # bucket over a later chunk's smaller one — the dup_of orientation
    # would then vary with chunking (run-to-run at scale), breaking
    # the batch tier's a < b contract (ADVICE r4).
    all_ids: set[int] = set()
    for pdf in pdfs:
        all_ids.update(int(x) for x in pdf["doc_id"])
    docs: list[int] = []
    dups: list[int] = []
    for d in sorted(all_ids):
        if first is None:
            first = d
        elif d != first:
            docs.append(d)
            dups.append(first)
    state.update((first,))
    if docs:
        yield pd.DataFrame(
            {
                "doc_id": docs,
                "dup_of": dups,
                "band_id": [int(key[0])] * len(docs),
            }
        )


def streaming_near_dup(docs_stream: DataFrame) -> DataFrame:
    """streaming (doc_id, text) docs → banded MinHash (3-shingles, 16
    hashes, 4 bands) → keyed band-bucket state → (doc_id, dup_of,
    band_id) collision candidates."""
    sigs = minhash_signatures(docs_stream.select("doc_id", "text"))
    banded = minhash_bands(sigs)
    return banded.groupBy("band_id", "band_hash").applyInPandasWithState(
        _bucket_update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
