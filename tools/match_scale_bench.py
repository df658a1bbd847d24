"""Template-match cost vs library size (the 16 real templates → 2000).

The reference caps its library at 2000 templates (config_default.yaml:23);
ftp ships 199, cm 983. The D1/D2 match looks each line up among
the candidates sharing its (token_count, first_token) — cost grows with
the candidate-bucket size, not the library size, so a 150x bigger
library should NOT cost 150x. This bench measures it.

Synthetic library: the real datagen templates plus enough generated
ones to reach each size (2-10 tokens, Zipfian first-token reuse so
candidate buckets actually grow).

One untimed match pass warms the session up first. Each library
size is then timed with bench.py's median_timed: three fresh-plan runs of perfbench's ``timed(fingerprint(...))`` over the
columns the match adds, median reported next to every run's wall and
host probe.

Usage: python tools/match_scale_bench.py [n_docs] [lib_sizes...]
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def synth_templates(n: int) -> list[str]:
    """Deterministic template strings with drain-like shape."""
    first = ["Trace:", "Command:", "Response:", "Status:", "Error:",
             "Warn:", "Info:", "Debug:"]
    verbs = ["opening", "closing", "sending", "receiving", "retrying",
             "binding", "parsing", "flushing"]
    nouns = ["socket", "channel", "buffer", "session", "handle",
             "queue", "stream", "frame"]
    out = []
    i = 0
    while len(out) < n:
        f = first[i % len(first)]
        v = verbs[(i // 7) % len(verbs)]
        nn = nouns[(i // 3) % len(nouns)]
        k = i % 5
        tail = ["<*>"] * k + [f"v{i}"]
        out.append(" ".join([f, v, nn] + tail))
        i += 1
    return out


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000

    from bench import median_timed
    from loganalyzer_spark import datagen
    from loganalyzer_spark.operators import match, parse
    from loganalyzer_spark.session import get_spark
    from perfbench.harness import fingerprint

    base = datagen.template_rows()
    sizes = [int(x) for x in sys.argv[2:]] or [len(base), 200, 1000, 2000]

    spark = get_spark(app="match_scale")
    corpus = f"/tmp/loganalyzer_bench/corpus_{n_docs}_{datagen.generator_key()}"
    if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
        datagen.gen_raw_lines(spark, n_docs).write.mode("overwrite").parquet(
            corpus
        )
    masked = parse.mask(parse.wash(spark.read.parquet(corpus)))
    masked = masked.select("doc_id", "line_no", "masked").localCheckpoint(
        eager=True
    )
    n_rows = masked.count()

    def matched(size: int):
        extra = synth_templates(max(0, size - len(base)))
        rows = base + [datagen.template_row(t) for t in extra]
        tmpl = datagen.local_df(spark, rows, datagen.TEMPLATE_SCHEMA)
        # hash only what the match layer adds, keyed by line
        return match.match_templates(masked, tmpl).select(
            "doc_id", "line_no", "event_id", "is_new"
        )

    # one untimed pass, so the first timed size does not absorb the
    # session's JIT warm-up
    fingerprint(matched(sizes[0]))
    results = {}
    for size in sizes:
        r = median_timed(spark, lambda: matched(size))
        results[size] = r
        print(f"lib={size}: {r}")

    print(
        json.dumps(
            {
                "n_docs": n_docs,
                "rows": n_rows,
                "runs_by_lib_size": results,
                "cost_ratio_max_vs_min": round(
                    results[max(sizes)]["wall_s"] / results[min(sizes)]["wall_s"], 2
                ),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
