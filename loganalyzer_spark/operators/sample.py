"""Deterministic hash-based sampling & splits (training-data extension).

A 100 TB training pipeline cannot use ``df.sample()`` for corpus
splits: `rand()` is nondeterministic across retries/re-runs, so a
failed stage resampled on retry silently changes the split, and the
same document can land in train on one run and val on the next —
train/test contamination. The standard fix (used by every large
corpus pipeline) is content-keyed hash thresholding: a document is in
the sample iff a fixed-width prefix of ``md5(key)`` falls below a
threshold. Properties:

* deterministic and re-run/retry stable (pure function of the key),
* no shuffle — a scan-level Filter, pushdown-friendly,
* uniform: md5 prefix bits are i.i.d. uniform over keys,
* cross-engine exact: Spark and DuckDB produce the identical lowercase
  md5 hex, and hex-string comparison is plain lexicographic order —
  so the DuckDB oracle reproduces the sample byte-for-byte.

Granularity is 16 bits (4 hex chars): rates are quantized to
k/65536. Rebuild-side analogue of the reference's ad-hoc slicing
(``loglizer.py:214-249`` splits monolith files by row ranges — fine
single-node, order-dependent and irreproducible under Spark).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SPACE = 1 << 16  # 4 hex chars


def threshold_hex(rate: float) -> str:
    """rate in [0,1] → 4-char lowercase hex threshold (floor). The
    oracles embed the same literal, so the two engines cannot drift.

    rate >= 1 returns "g": lexicographically above every hex char, so
    ``hash16 < "g"`` keeps everything (format(65536) would be the
    5-char "10000", which sorts BELOW "ffff" as a string — wrong)."""
    k = max(0, int(rate * _SPACE))
    if k >= _SPACE:
        return "g"
    return format(k, "04x")


def hash16(key: Column | str) -> Column:
    """First 4 hex chars of md5(key) — the 16-bit sampling coordinate."""
    return F.substring(F.md5(F.col(key) if isinstance(key, str) else key), 1, 4)


def sample_hash(df: DataFrame, key: str, rate: float) -> DataFrame:
    """Keep rows whose md5(key) 16-bit prefix < rate (quantized k/65536)."""
    return df.filter(hash16(key) < F.lit(threshold_hex(rate)))


def split_column(key: Column | str, train_rate: float = 0.9) -> Column:
    """'train' / 'val' assignment, deterministic in the key."""
    return F.when(
        hash16(key) < F.lit(threshold_hex(train_rate)), F.lit("train")
    ).otherwise(F.lit("val"))


def stratified_sample(
    df: DataFrame, key: str, stratum: str, rates: dict[str, float]
) -> DataFrame:
    """Per-stratum hash sampling (e.g. per-language corpus balancing:
    downsample head languages, keep the tail whole). ``rates`` maps
    stratum value → keep-rate; missing strata default to keep-all.

    The rate lookup is a literal CASE (bounded dim — language count),
    so the whole operator stays one scan-level Filter: no join, no
    shuffle, safe at any scale.
    """
    if not rates:
        return df  # no stratum constrained → keep everything
    expr = None
    for val, rate in sorted(rates.items()):
        cond = F.col(stratum) == F.lit(val)
        thr = F.lit(threshold_hex(rate))
        expr = F.when(cond, thr) if expr is None else expr.when(cond, thr)
    thr_col = expr.otherwise(F.lit("g"))  # missing stratum → keep all
    return df.filter(hash16(key) < thr_col)


def hash16_int(key: Column | str) -> Column:
    """hash16 as an integer in [0, 65536) — for thresholds DERIVED
    in-plan (integer compare; no hex formatting to keep cross-engine)."""
    return F.conv(hash16(key), 16, 10).cast("long")


def domain_mix(
    df: DataFrame,
    domain: str,
    weights: dict[str, int],
    key: str = "doc_id",
) -> DataFrame:
    """Down-sample to TARGET domain proportions (the Pile / DoReMi-style
    static mixture weights, without upsampling).

    ``weights`` maps domain value → integer mixture parts (e.g.
    ``{"en": 5, "zh": 2, ...}``); domains absent from ``weights`` are
    dropped. The achievable corpus size is
    ``T = min_d floor(n_d * W / w_d)`` (the scarcest domain relative to
    its target share binds — no domain is ever upsampled), and each
    domain keeps ``rate_d = (w_d * T) / (W * n_d)`` of its docs by the
    same deterministic 16-bit hash threshold every sampler here uses,
    quantized to k/65536.

    Everything is in-plan: one tiny groupBy(domain) count (partial agg,
    |domains| rows), a 1-row min reduce for T, and a broadcast of the
    |domains|-row rate dim back onto the scan — the corpus itself never
    shuffles. Rounding contract: ``k_d = floor((w_d * T * 65536.0) /
    (W * n_d))`` evaluated in exactly this operand order (documented so
    the DuckDB oracle is bit-identical; products stay exact in doubles
    below 2^53 — at corpora past ~1e11 docs per domain switch the dim
    computation to decimal).

    Returns the kept rows of ``df`` (all original columns).
    """
    if not weights:
        raise ValueError("domain_mix needs at least one weighted domain")
    W = sum(weights.values())
    w_expr = None
    for val, w in sorted(weights.items()):
        if w <= 0:
            raise ValueError(f"weight for {val!r} must be positive")
        cond = F.col(domain) == F.lit(val)
        w_expr = (
            F.when(cond, F.lit(w)) if w_expr is None else w_expr.when(cond, F.lit(w))
        )
    w_col = w_expr.otherwise(F.lit(None))

    counts = (
        df.groupBy(domain)
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("_w", w_col)
        .filter(F.col("_w").isNotNull())
    )
    t_row = counts.agg(
        F.min(F.expr(f"(_n * {W}) DIV _w")).alias("_T")
    )
    from loganalyzer_spark.operators import free_col

    kc = free_col(df, "_k")  # joined onto the caller's df — must not collide
    rates = counts.crossJoin(F.broadcast(t_row)).select(
        domain,
        F.floor(
            (F.col("_w").cast("double") * F.col("_T").cast("double") * 65536.0)
            / (F.lit(float(W)) * F.col("_n").cast("double"))
        )
        .cast("long")
        .alias(kc),
    )
    return (
        df.join(F.broadcast(rates), domain)
        .filter(hash16_int(key) < F.col(kc))
        .drop(kc)
    )
