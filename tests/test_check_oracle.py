"""The local oracle gate must be able to fail on a type leak, and the
registry it checks must keep its first 50 queries fixed."""

from __future__ import annotations

import pandas as pd
import pytest

from loganalyzer_spark import queries as Q
from tools.check_oracle import compare

# The first 50 names of queries(): the CORRECTNESS window of the
# __spark_entry__ contract (see queries._DEMOTED).
DRIVER_WINDOW = [
    "parse_wash", "parse_mask_cm", "pipeline_routed", "pipeline_sink_ecm",
    "template_occurrences", "new_templates", "params_extract",
    "sessionize_lines", "sliding_window_counts", "tpch_q1",
    "topk_orders_per_priority", "nested_fold", "ecm_vectors",
    "tfidf_buckets", "context_window_flags", "sequence_windows",
    "events_json_props", "corpus_sample_rows", "dedup_exact",
    "minhash_lsh_near_dups", "simhash_fingerprints", "repeated_passages",
    "lang_id", "quality_filter", "logreg_score_arrow", "similarity_match",
    "block_presets_cm", "kb_param_routing", "normalized_counts",
    "renumber_timestamps", "messed_recovery", "embedding_cosine_topk_ivf",
    "tpch_q5", "chan_table_reformat", "session_window_stats",
    "near_dup_survivors", "embedding_near_dups_lsh", "sink_class_report",
    "pii_redaction", "latest_crawl_per_url", "benchmark_decontam",
    "lm_perplexity", "events_asof_last_purchase", "purchase_followon_stats",
    "doc_length_quantiles", "events_rollup_stats", "dsir_importance_weights",
    "c4_clean_docs", "sequence_packing", "domain_mix_sample",
]


def test_driver_window_is_pinned():
    assert list(Q.queries())[:50] == DRIVER_WINDOW


def test_stale_demoted_name_raises(monkeypatch):
    monkeypatch.setattr(Q, "_DEMOTED", [*Q._DEMOTED, "no_such_query"])
    with pytest.raises(KeyError):
        Q.queries()


def test_compare_fails_integer_against_float_column():
    """A BIGINT oracle column against a DOUBLE Spark column fails even
    though the values are equal after rounding both to float: their
    exact value hashes never match."""
    spark_df = pd.DataFrame({"k": ["a", "b"], "cnt": [1.0, 2.0]})
    duck_df = pd.DataFrame({"k": ["a", "b"], "cnt": [1, 2]})
    assert not compare(
        "planted", spark_df, duck_df,
        {"k": "string", "cnt": "double"}, {"k": "VARCHAR", "cnt": "BIGINT"},
    )
    assert compare(
        "same", duck_df, duck_df,
        {"k": "string", "cnt": "bigint"}, {"k": "VARCHAR", "cnt": "BIGINT"},
    )
