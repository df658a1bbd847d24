"""Text-analysis operators over the documents corpus's ``text`` column:
token counting, quality scoring, language-ID heuristic, document
fingerprinting.

All pure column expressions (JVM-side, whole-stage codegen); the
hashes are md5-derived so every operator has an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from loganalyzer_spark.operators import WORDS_LOWER, free_col, hash60_sql, ngrams_sql

# Tiny per-language stopword sets for the n-gram/stopword-ratio
# language heuristic. Deliberately small and deterministic.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht", "mit", "zu", "den"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "pas", "pour", "que"],
    "es": ["el", "la", "los", "las", "y", "es", "un", "una", "no", "por"],
}


def _tokens() -> F.Column:
    return F.expr(WORDS_LOWER)


def token_stats(docs: DataFrame) -> DataFrame:
    """Token counting: whitespace tokens plus a BPE-ish subword estimate
    (ceil(chars/4) is the common ~4-chars/token heuristic)."""
    toks = _tokens()
    return docs.withColumn("n_tokens", F.size(toks)).withColumn(
        "n_subwords",
        F.ceil(F.length(F.col("text")).cast("double") / 4).cast("long"),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Quality heuristics: length, punctuation ratio, stopword ratio,
    mean word length; score = weighted combination in [0, 1]-ish."""
    toks = _tokens()
    n_chars = F.length(F.col("text"))
    n_punct = n_chars - F.length(F.regexp_replace("text", "[\\.,;:!\\?]", ""))
    sw = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    n_toks = F.size(toks)
    mean_len = F.when(
        n_toks > 0, (n_chars - (n_toks - 1)).cast("double") / n_toks
    ).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_toks > 0, n_stop.cast("double") / n_toks).otherwise(
        F.lit(0.0)
    )
    punct_ratio = F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(
        F.lit(0.0)
    )
    # The blend consumes the ROUNDED ratio columns (the same values the
    # output exposes) as exact integers — ratios in millionths, the
    # blend N in 1e-10 units — and rounds N half up to 6 dp once, so
    # the exact-hash oracle reproduces the score bit for bit. A float
    # blend lands either side of a half-way score by the engines'
    # last-bit differences: at sf0.1 a score of exactly 0.5774995 gave
    # 0.577499 in Spark and 0.5775 in DuckDB. The oracle
    # (queries._QUALITY_ORACLE) computes the same N.
    out = (
        docs.withColumn("n_toks", n_toks)
        .withColumn("punct_ratio", F.round(punct_ratio, 6))
        .withColumn("stop_ratio", F.round(stop_ratio, 6))
        .withColumn("mean_word_len", F.round(mean_len, 6))
    )

    def micro(c: str):
        return F.round(F.col(c) * 1e6).cast("long")

    n = (
        F.least(F.col("n_toks").cast("long") * 80_000_000, F.lit(4_000_000_000))
        + F.least(micro("stop_ratio") * 15_000, F.lit(3_000_000_000))
        + 2_000_000_000
        - F.least(micro("punct_ratio") * 20_000, F.lit(2_000_000_000))
        + F.least(micro("mean_word_len") * 125, F.lit(1_000_000_000))
    )
    q6 = F.call_function("div", n + 5000, F.lit(10000))
    return out.withColumn("quality", q6 / 1e6)


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-hit language heuristic: argmax over per-language hit
    counts, 'und' (undetermined) when all are zero. Ties break by
    language code order for determinism."""
    toks = _tokens()
    def contains(arr):
        return lambda t: F.array_contains(arr, t)

    hit_cols = []
    for lang, words in sorted(STOPWORDS.items()):
        arr = F.array(*[F.lit(w) for w in words])
        hit_cols.append(
            F.struct(
                F.size(F.filter(toks, contains(arr))).alias("hits"),
                F.lit(lang).alias("lang"),
            )
        )
    best = F.array_max(F.array(*hit_cols))
    return docs.withColumn(
        "lang_pred",
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")),
    ).withColumn("lang_hits", best["hits"])


def fingerprint(docs: DataFrame, k: int = 4) -> DataFrame:
    """Document fingerprint: min-hash of character k-gram window hashes
    over the normalized text (winnowing-lite / rolling-hash family).

    fingerprint = min over i of H(substr(norm_text, i, k)); H = 60-bit
    md5 prefix. Deterministic, engine-independent.

    The normalized text is materialized as its own column FIRST: an
    expression inlined into a ``transform`` lambda re-evaluates PER
    ELEMENT — with the regexp_replace inside the gram lambda the scan
    re-ran the regex over the whole document once per gram position
    (O(chars²) per row; measured 10.4 s → ~0.5 s at sf0.1). Multiple
    non-cheap uses of ``_norm`` also stop CollapseProject from
    re-inlining it.
    """
    nc = free_col(docs, "_norm")
    normed = docs.withColumn(
        nc, F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", "")
    )
    grams = (
        f"CASE WHEN length(`{nc}`) < {k} THEN array(`{nc}`) "
        f"ELSE transform(sequence(1, length(`{nc}`) - {k} + 1), "
        f"i -> substring(`{nc}`, i, {k})) END"
    )
    fp = F.expr(f"array_min(transform({grams}, g -> {hash60_sql('g')}))")
    return (
        normed.withColumn("norm_len", F.length(nc))
        .withColumn("fingerprint", fp)
        .drop(nc)
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals, all per-doc column
    expressions (zero shuffle — no explode/groupBy per token):

    * ``distinct_ratio`` — type/token ratio, size(distinct)/size.
    * ``top_tok_frac`` — fraction of tokens equal to the single most
      frequent token. The per-doc mode count is the longest equal run
      over ``sort_array(tokens)`` computed with the ``aggregate``
      higher-order function — the distributed-SQL re-expression of the
      reference-era "Counter(tokens).most_common(1)" driver loop, and
      it stays inside whole-stage codegen instead of exploding 100 TB
      of tokens into a groupBy.
    * ``dup_bigram_frac`` — fraction of adjacent-token bigrams that are
      repeats (1 - distinct/total), the Gopher duplicate-n-gram filter.

    Scale: embarrassingly parallel scan; cost is O(tokens log tokens)
    per row for the sort, no exchange anywhere.
    """
    tc = free_col(docs, "_toks")
    toked = docs.withColumn(tc, _tokens())
    # The bigram array is read three times below and Spark does not
    # subexpression-eliminate higher-order functions: build it once.
    bc = free_col(toked, "_bigrams")
    toked = toked.withColumn(bc, F.expr(ngrams_sql(tc, 2)))
    toks = F.col(tc)
    n = F.size(toks)
    distinct_ratio = F.when(
        n > 0, F.size(F.array_distinct(toks)).cast("double") / n
    ).otherwise(F.lit(0.0))

    sorted_toks = F.sort_array(toks)
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(acc, x):
        new_run = F.when(
            acc["prev"].isNotNull() & (x == acc["prev"]), acc["run"] + 1
        ).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            new_run.alias("run"),
            F.greatest(acc["best"], new_run).alias("best"),
        )

    top_cnt = F.aggregate(sorted_toks, zero, step, lambda acc: acc["best"])
    top_tok_frac = F.when(n > 0, top_cnt.cast("double") / n).otherwise(
        F.lit(0.0)
    )

    bigrams = F.col(bc)
    n_bi = F.size(bigrams)
    dup_bigram_frac = F.when(
        n_bi > 0,
        1 - F.size(F.array_distinct(bigrams)).cast("double") / n_bi,
    ).otherwise(F.lit(0.0))

    return (
        toked.withColumn("n_toks", n)
        .withColumn("distinct_ratio", F.round(distinct_ratio, 6))
        .withColumn("top_tok_frac", F.round(top_tok_frac, 6))
        .withColumn("dup_bigram_frac", F.round(dup_bigram_frac, 6))
        .drop(tc, bc)
    )


def quality_filter(docs: DataFrame) -> DataFrame:
    """Gopher-style corpus filter: the composite keep/drop decision a
    training-data pipeline applies per document, with the FIRST failing
    rule as the drop reason (fixed rule order ⇒ deterministic).

    Rules (in order): too_short (fewer than 10 tokens) → repetitive
    (top-token fraction above 0.2) → dup_ngrams (duplicate-bigram
    fraction above 0.1) → low_quality (blended quality score below
    0.35). All predicates compare the ROUNDED signal
    columns — the same values the output exposes — so the exact-hash
    oracle reproduces every boundary decision bit-for-bit.

    Scale: pure column expressions over one scan, zero shuffle; the
    decision columns prune to nothing when only `keep` is consumed
    downstream (Catalyst column pruning).
    """
    scored = repetition_stats(quality_score(docs))
    reason = (
        F.when(F.col("n_toks") < 10, F.lit("too_short"))
        .when(F.col("top_tok_frac") > 0.2, F.lit("repetitive"))
        .when(F.col("dup_bigram_frac") > 0.1, F.lit("dup_ngrams"))
        .when(F.col("quality") < 0.35, F.lit("low_quality"))
        .otherwise(F.lit("keep"))
    )
    return scored.withColumn("reason", reason).withColumn(
        "keep", F.col("reason") == "keep"
    )
