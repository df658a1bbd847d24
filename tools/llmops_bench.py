"""Scale-behavior timings for the LLM training-data operator tier.

Times the registered dedup / quality / web-prep / packing queries at a
given SF dir (default sf0.1 — 10x the correctness-gate corpus) with
bench.py's query-timing loop and rewrites BENCH/LLMOPS.md. These
queries are NOT in bench.py's headline set (its round-over-round
number must stay comparable), so this file is their published scale
evidence.

Usage: python tools/llmops_bench.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

QUERIES = [
    "dedup_exact",
    "minhash_lsh_near_dups",
    "near_dup_survivors",
    "simhash_fingerprints",
    "repeated_passages",
    "embedding_near_dups_lsh",
    "embedding_cosine_topk_ivf",
    "quality_filter",
    "lang_id",
    "doc_fingerprints",
    "pii_redaction",
    "latest_crawl_per_url",
    "benchmark_decontam",
    "lm_perplexity",
    "dsir_importance_weights",
    "c4_clean_docs",
    "sequence_packing",
    "corpus_sample_rows",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from bench import time_queries
    from loganalyzer_spark.session import get_spark

    spark = get_spark(app="llmops_bench")
    runs = time_queries(spark, QUERIES, sf_dir)
    spark.stop()

    md = [
        "# BENCH/LLMOPS — training-data operator tier at "
        + sf_dir.rstrip("/").rsplit("/", 1)[-1],
        "",
        "bench.py's query-timing loop: three fresh-plan runs of",
        "`timed(fingerprint(...))` per query (perfbench/harness.py), median",
        "reported. The action hashes every output column, so Catalyst cannot",
        "prune the operator under test. Correctness for each query is the",
        "exact-hash oracle gate (COVERAGE.md).",
        "",
        "| query | wall (s) | rows | runs (s) | probes (MB/s) |",
        "|---|---|---|---|---|",
    ]
    md += [
        f"| {name} | {r['wall_s']} | {r['rows']} | {r['walls_s']} | {r['probes_mb_s']} |"
        for name, r in runs.items()
    ]
    path = os.path.join(REPO, "BENCH", "LLMOPS.md")
    with open(path, "w") as f:
        f.write("\n".join(md + [""]))
    print(json.dumps({"sf_dir": sf_dir, "runs": runs}))


if __name__ == "__main__":
    main()
