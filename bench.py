"""Benchmark harness — prints ONE JSON line for the driver.

Times (a) each headline query from the registry at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and (b) the end-to-end
parse→match→enrich→route→aggregate pipeline over a deterministically
generated corpus (SPARK_GRAFT_BENCH_DOCS docs, default 500k ≈ 4.5M
lines), reporting docs/sec.

Every number goes through perfbench/harness.py's protocol: three runs of
``timed(fingerprint(...))``, each building a fresh plan inside the
window and hashing every output column, and the median wall is
reported. Each run's host probe is recorded next to its wall time.

Runs on local[$SPARK_GRAFT_CPUS] (default all cores).
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.harness import fingerprint, first_touch_mb_s, timed  # noqa: E402

HEADLINE = [
    "pipeline_routed",
    "pipeline_sink_ecm",
    "template_occurrences",
    "parse_mask",
    "sliding_window_counts",
    "tumbling_window_stats",
    "sessionize_events",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "region_revenue",
    "topk_orders_per_priority",
]
REPS = 3


def median_timed(spark, build) -> dict:
    """``REPS`` runs of ``timed(fingerprint(build()))``: the plan is built
    inside the window, so no run reuses another's cached or
    AQE-materialized state. Returns the median wall, the row count and
    every run's wall next to its host probe."""
    runs = [timed(spark, lambda: fingerprint(build())) for _ in range(REPS)]
    return {
        "wall_s": round(statistics.median(w for w, _, _ in runs), 3),
        "rows": runs[-1][1][0],
        "walls_s": [round(w, 3) for w, _, _ in runs],
        "probes_mb_s": [round(p, 1) for _, _, p in runs],
    }


def time_queries(spark, names: list[str], sf_dir: str) -> dict[str, dict]:
    """The query-timing loop: ``median_timed`` over each query in
    ``names``. A name that is not registered raises, so a deleted query
    cannot silently drop out of a summed metric."""
    from loganalyzer_spark.queries import queries

    registry = queries()
    missing = [name for name in names if name not in registry]
    if missing:
        raise KeyError(f"not registered: {missing}")
    return {
        name: median_timed(spark, lambda: registry[name](spark, sf_dir))
        for name in names
    }


def main() -> None:
    # Taken before any Spark work, so a degraded start is on record.
    probe_start = first_touch_mb_s()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # 500k docs ≈ 4.5M lines: big enough that the measured pass
    # dominates fixed per-job overheads, small enough to stay quick.
    n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "500000"))

    from loganalyzer_spark import datagen, pipeline
    from loganalyzer_spark.queries import queries
    from loganalyzer_spark.session import get_spark

    spark = get_spark(app="loganalyzer_spark_bench")

    # ONE shared warm for the whole bench: the flagship DAG touches
    # every dim table, the fact scans, and the session's first-job
    # costs (hadoop conf broadcast, scan codegen, JIT ramp). Each other
    # query's cold compile lands in its first run, which the median
    # of three discards.
    fingerprint(queries()[HEADLINE[0]](spark, sf_dir))
    runs = time_queries(spark, HEADLINE, sf_dir)

    # End-to-end throughput over the input_hint-shaped pages corpus
    # (url, warc_ts, html, text, lang — mirrors the north rule's
    # Iceberg table; synthesis cost is excluded from the measured DAG).
    # Corpus is generated once and reused, keyed on the generator.
    corpus = f"/tmp/loganalyzer_bench/bench_pages_{n_docs}_{datagen.generator_key()}"
    if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
        datagen.gen_web_pages(spark, n_docs).repartition(64).write.mode(
            "overwrite"
        ).parquet(corpus)
    pages = spark.read.parquet(corpus)
    runs["pipeline_e2e"] = e2e = median_timed(
        spark,
        lambda: pipeline.sink_aggregates(pipeline.routed_from_pages(spark, pages)),
    )

    timings = {name: r["wall_s"] for name, r in runs.items()}
    out = {
        "metric": "headline_queries_plus_e2e_pipeline_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
        "e2e_docs": n_docs,
        "e2e_docs_per_sec": round(n_docs / e2e["wall_s"], 1),
        "e2e_agg_groups": e2e["rows"],
        "cores": os.environ.get("SPARK_GRAFT_CPUS", "all"),
        "host_first_touch_mb_s_start": round(probe_start, 1),
        "runs": runs,
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
