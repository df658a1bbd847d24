"""Deduplication operators for large-scale text corpora.

Beyond the reference's duplicate-line checker (misc_tools.py:35-43),
these are the web-scale training-data-pipeline ops: exact hash dedup,
MinHash+LSH near-dup, SimHash, and n-gram Jaccard verification.

All hashing is md5-derived (``conv(substr(md5(x),1,15),16,10)`` — a
60-bit unsigned int) so results are engine-independent and
DuckDB-oracle-checkable; no reliance on Spark's internal ``hash()``.

Scale notes:
  * Exact dedup: one hash-groupBy shuffle on the digest — the digest is
    uniform, so no skew.
  * MinHash/LSH: signatures are narrow per-row projections; the only
    shuffle is the band-bucket self-join. Bucket keys (band_id ×
    band_hash) are high-cardinality for DISTINCT content, but a crawl
    is full of mass-duplicate clusters (boilerplate, mirrored pages):
    m identical docs share every band, so an uncapped self-join emits
    m²·bands/2 candidate pairs — a scale-killer at 100 TB skew. All
    three banded joins (MinHash, SimHash blocks, hyperplane bands) go
    through one capped bucket-pair join, :func:`_capped_pairs`, whose
    docstring states what the cap costs in recall. Run
    ``exact_dedup`` first so byte-identical copies never reach the
    LSH join at all.
  * Pair generation dedupes (a < b) to avoid mirrored pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from loganalyzer_spark.datagen import local_df

# (a_k, b_k) parameters for the k-th universal hash h_k(x) = (a*x + b) % P.
MINHASH_PRIME = 2_147_483_647  # 2^31 - 1 (Mersenne)


def minhash_params(k: int) -> list[tuple[int, int]]:
    # Deterministic LCG-derived coefficients; a must be non-zero.
    out = []
    s = 88172645463325252
    for _ in range(k):
        s = (s * 6364136223846793005 + 1442695040888963407) % (2**63)
        a = (s % (MINHASH_PRIME - 1)) + 1
        s = (s * 6364136223846793005 + 1442695040888963407) % (2**63)
        b = s % MINHASH_PRIME
        out.append((a, b))
    return out


def _hash60(col) -> F.Column:
    """60-bit integer hash of a string, identical across engines."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def with_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """Word n-gram shingles of ``text`` as an array column (distinct per
    doc).

    Tokenization is materialized as its own column first: a ``split``
    inlined into the ``transform`` lambda re-tokenizes the WHOLE
    document once per shingle position (O(tokens²) per row — the
    inlined-producer-in-lambda trap; see textstats.fingerprint).
    """
    # shingle i (1-based) = tokens[i..i+n-1] joined; guard the empty case —
    # Spark's sequence(1, 0) would generate a *descending* range.
    from loganalyzer_spark.operators import free_col

    tc = free_col(docs, "_toks")
    toked = docs.withColumn(tc, F.split(F.lower(F.col("text")), "\\s+"))
    expr = (
        f"CASE WHEN size(`{tc}`) < {n} THEN array() "
        f"ELSE transform(sequence(1, size(`{tc}`) - {n} + 1),"
        f" i -> array_join(slice(`{tc}`, i, {n}), ' ')) END"
    )
    return toked.withColumn("shingles", F.array_distinct(F.expr(expr))).drop(tc)


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup groups of ``text``: digest → (n, canonical=min
    ``doc_id``, members)."""
    return (
        docs.withColumn("digest", F.md5(F.col("text")))
        .groupBy("digest")
        .agg(
            F.count("*").alias("n"),
            F.min("doc_id").alias("canonical"),
            F.sort_array(F.collect_list("doc_id")).alias("members"),
        )
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """MinHash signature per ``doc_id``: 16 hashes, sig[k] = min over the
    3-shingles of ``text`` of h_k(H(s)).

    Pure column expressions: shingle→hash60, then per-k transform+min.
    Empty shingle sets hash to the reserved max value.
    """
    params = minhash_params(16)
    df = with_shingles(docs).withColumn(
        "sh_hashes", F.transform("shingles", lambda s: _hash60(s))
    )

    def perm(a: int, b: int):
        return lambda h: (h % MINHASH_PRIME * a + b) % MINHASH_PRIME

    sig = F.array(
        *[
            F.coalesce(
                F.array_min(F.transform("sh_hashes", perm(a, b))),
                F.lit(MINHASH_PRIME),
            )
            for a, b in params
        ]
    )
    return df.select("doc_id", "shingles", sig.alias("sig"))


def _capped_pairs(
    rows: DataFrame, bucket: list[str], bucket_cap: int,
    payload: str | None = None,
) -> DataFrame:
    """All pairs (a, b), a < b, of keys ``k`` sharing a bucket, with the
    per-bucket blowup capped. Output (a, b[, pa, pb]), one row per
    (a, b); ``pa``/``pb`` are the ``payload`` column of a and b.

    ``rows`` holds ``k``, the ``bucket`` columns and, when given,
    ``payload``. A bucket with ≤ ``bucket_cap`` members runs the exact
    all-pairs self-join. An oversized bucket (m members) emits only the
    O(m) star from its smallest member ``_rep`` to every other member,
    instead of m²/2 pairs; the rep's payload is re-attached through a
    broadcast join against the (tiny) distinct-rep dim, so a verify step
    still runs on every emitted pair. The cap costs one window pass
    over ``rows``, partitioned like the self-join's key, so no extra
    shuffle.

    Recall inside an oversized bucket degrades from all-pairs to the
    star: a pair (u, v) of two non-rep members is never emitted from
    it, and survives only as the path u–rep–v when both star edges pass
    the caller's verify. When the bucket's members are identical (the
    mass-duplicate case the cap exists for) both edges always pass, so
    a downstream survivors/connected-components pass still resolves the
    cluster whole. In a mixed bucket, a true pair whose only shared
    bucket is oversized is lost as a pair, and lost as a connection too
    when either star edge fails the verify.
    """
    bw = Window.partitionBy(*bucket)
    rows = rows.withColumn("_bn", F.count(F.lit(1)).over(bw)).withColumn(
        "_rep", F.min("k").over(bw)
    )
    pay = [payload] if payload else []
    out = ["a", "b"] + (["pa", "pb"] if payload else [])

    def side(name: str, pay_name: str) -> list:
        pays = [F.col(c).alias(pay_name) for c in pay]
        return [F.col("k").alias(name), *pays, *bucket]

    small = rows.filter(F.col("_bn") <= bucket_cap)
    exact = (
        small.select(*side("a", "pa"))
        .join(small.select(*side("b", "pb")), bucket)
        .filter(F.col("a") < F.col("b"))
    )
    big = rows.filter(F.col("_bn") > bucket_cap)
    star = big.filter(F.col("k") > F.col("_rep")).select(
        F.col("_rep").alias("a"), *side("b", "pb")
    )
    if payload:
        reps = (
            big.filter(F.col("k") == F.col("_rep"))
            .select(*bucket, F.col(payload).alias("pa"))
            .dropDuplicates(bucket)
        )
        star = star.join(F.broadcast(reps), bucket)
    return exact.select(*out).unionByName(star.select(*out)).dropDuplicates(["a", "b"])


def minhash_bands(sigs: DataFrame) -> DataFrame:
    """Band a MinHash signature into 4 bands: (doc_id, band_id,
    band_hash), one row per band, band_hash = md5 of the band's
    ``size(sig) / 4`` values."""
    width = "int(size(sig) / 4)"
    return sigs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, 3),"
                f" b -> md5(array_join(slice(sig, b * {width} + 1, {width}), '_')))"
            )
        ).alias("band_id", "band_hash"),
    )


def lsh_candidate_pairs(sigs: DataFrame) -> DataFrame:
    """Band the signature, bucket-join docs sharing any band hash.

    Output: (a, b) candidate pairs with a < b, distinct, for the
    downstream Jaccard-verify / connected-components pass
    (near_dup_survivors). A bucket cap of 256 bounds mass-duplicate
    clusters as :func:`_capped_pairs` describes; run :func:`exact_dedup`
    first so byte-identical copies collapse before banding.
    """
    banded = minhash_bands(sigs).withColumnRenamed("doc_id", "k")
    return _capped_pairs(banded, ["band_id", "band_hash"], 256)


def jaccard_pairs(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """3-shingle Jaccard similarity for candidate pairs (verification
    step), keeping pairs with jaccard >= 0.5.

    jaccard = |A ∩ B| / |A ∪ B| over distinct shingle sets.
    """
    sh = with_shingles(docs).select(
        F.col("doc_id").alias("k"), F.col("shingles").alias("sh")
    )
    a = sh.select(F.col("k").alias("a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("k").alias("b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.join(a, "a")
        .join(b, "b")
        .withColumn(
            "jaccard",
            F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0)),
        )
        .filter(F.col("jaccard") >= 0.5)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash(docs: DataFrame) -> DataFrame:
    """32-bit SimHash fingerprint over the word tokens of ``text``, per
    ``doc_id``.

    Bit b of the fingerprint is 1 iff Σ_tokens sign(bit b of H(token))
    > 0 (unweighted). Pure column expressions: per-bit aggregate over
    the token-hash array.
    """
    toks = F.array_distinct(F.split(F.lower(F.col("text")), "\\s+"))
    df = docs.withColumn("tok_hashes", F.transform(toks, lambda t: _hash60(t)))

    def bit_merge(b: int):
        return lambda acc, h: acc + F.when(
            F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    bit_sum = [
        F.aggregate("tok_hashes", F.lit(0).cast("long"), bit_merge(b))
        for b in range(32)
    ]
    fp = None
    for b, s in enumerate(bit_sum):
        term = F.when(s > 0, F.lit(2**b).cast("long")).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp + term
    return df.select("doc_id", fp.alias("simhash"))


def simhash_near_pairs(fps: DataFrame, bucket_cap: int = 256) -> DataFrame:
    """Near-dup pairs within Hamming distance 3 on SimHash fingerprints.

    Scale path: block on fingerprint quarters (a pair within distance 3
    must agree on ≥1 of 4 blocks) then verify with bit_count(xor).

    ``bucket_cap`` bounds mass-duplicate blowup (m identical documents
    share EVERY block, m²·4/2 pairs uncapped) as
    :func:`_capped_pairs` describes. Star pairs still pass the exact
    bit_count verify, so precision stays 1.0.
    """
    max_hamming = 3
    nblocks = max_hamming + 1
    blocked = fps.select(
        F.col("doc_id").alias("k"),
        F.col("simhash").alias("fp"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), 32 // nblocks * i).bitwiseAND(
                        F.lit((1 << (32 // nblocks)) - 1)
                    )
                    for i in range(nblocks)
                ]
            )
        ).alias("block_id", "block_val"),
    )
    return (
        _capped_pairs(blocked, ["block_id", "block_val"], bucket_cap, "fp")
        .withColumn("hamming", F.bit_count(F.col("pa").bitwiseXOR(F.col("pb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicates (training-data pipeline extension)
# ---------------------------------------------------------------------------

from loganalyzer_spark.operators.similarity import (  # noqa: E402
    _dot,
    _norm,
    hyperplane_sign_bits,
    lsh_planes,
)


def embedding_near_dups(emb: DataFrame, threshold: float = 0.9) -> DataFrame:
    """Exact embedding-cosine near-dup pairs of ``vec_id``s (a < b,
    cosine of ``embedding`` >= t).

    O(n^2) all-pairs — the correctness baseline used by the DuckDB
    oracle at small SF. At 100 TB use ``embedding_near_dups_lsh``:
    same verify predicate, but candidate generation is a bucket
    equi-join, not a cross join.
    """
    a = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("avec"))
    b = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("bvec"))
    return (
        a.join(b, F.col("a") < F.col("b"))
        # filter on the ROUNDED cosine (like the oracle SQL), so the
        # threshold boundary is not data-dependent on the 7th decimal
        .withColumn(
            "cosine",
            F.round(
                _dot("avec", "bvec") / (_norm("avec") * _norm("bvec")), 6
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


def lsh_band_plan(threshold: float) -> tuple[int, int]:
    """Derive (nbands, band_width) so banded hyperplane LSH retrieves a
    pair at cosine == ``threshold`` with probability R ≥ 0.95.

    Per-bit collision probability for angle θ is p = 1 - θ/π; a pair
    survives banding with 1 - (1 - p^w)^b.  We take the WIDEST band w
    (widest = best pruning of sub-threshold pairs) whose required band
    count b = ceil(ln(1-R)/ln(1-p^w)) still fits the 60-bit
    single-long signature (w·b ≤ 60).  Examples (R = 0.95):
    t=0.9 → 8 bands × 7 bits; t=0.99 → 4 × 12; t=0.35 → 12 × 3.

    A fixed plan has no safe operating point: 4×8 bands give ~93 %
    recall at t=0.9 but only ~7 % at t=0.35 (θ≈69° ⇒ an 8-bit band
    survives at (1-θ/π)^8 ≈ 2 %).  Deriving the plan from the
    registered threshold is what makes recall a contract instead of a
    coincidence.  Low thresholds still prune weakly — that is inherent
    to sign-LSH (θ→90° is indistinguishable from random), so the
    100 TB design point remains high-threshold near-dup (t ≥ 0.9).
    """
    import math

    max_bits = 60
    t = min(max(threshold, -1.0), 1.0)
    p = 1.0 - math.acos(t) / math.pi
    if p >= 1.0:  # threshold == 1: any single band retrieves exact dups
        return 1, min(16, max_bits)
    log_miss = math.log(1.0 - 0.95)
    for w in range(max_bits, 0, -1):
        pw = p**w
        if pw <= 0.0:
            continue
        b = math.ceil(log_miss / math.log(1.0 - pw))
        if w * b <= max_bits:
            return b, w
    return max_bits, 1  # p extremely small: 1-bit bands, every bit a band


def embedding_near_dups_lsh(
    emb: DataFrame, threshold: float = 0.9, bucket_cap: int = 256
) -> DataFrame:
    """Scale path: hyperplane-LSH blocked near-dup pairs.

    The nbits signature is split into ``nbands`` bands (banding boosts
    recall like MinHash-LSH: near vectors agree on at least one whole
    band with high probability). Pairs sharing any band bucket are
    exact-verified with the same cosine predicate as the baseline —
    so precision is 1.0 and only recall is approximate. The join key
    (band_id, band_bits) distributes; no cross join anywhere.

    The banding is derived from ``threshold`` by :func:`lsh_band_plan`
    so recall at the operating point is ≥ 0.95 by construction (t=0.9 →
    8×7 bits, t=0.35 → 12×3); a plan chosen for one threshold would
    silently collapse recall at another.

    ``dim`` is derived from the first row (one bounded driver action);
    a wrong hard-coded dim would silently null-pad ``zip_with`` and
    collapse every sign bit to 0 (one giant bucket).

    ``bucket_cap`` bounds mass-duplicate blowup as :func:`_capped_pairs`
    describes; star pairs still pass the exact cosine verify, so
    precision stays 1.0.
    """
    nbands, band_width = lsh_band_plan(threshold)
    head = emb.select(F.size("embedding").alias("d")).head()
    if head is None:
        return local_df(emb.sparkSession, [], "a long, b long, cosine double")
    planes = lsh_planes(head["d"], nbands * band_width)
    sig = emb.select(
        F.col("vec_id").alias("k"),
        F.col("embedding").alias("v"),
        hyperplane_sign_bits("embedding", planes).alias("bits"),
    )
    mask = (1 << band_width) - 1
    banded = sig.select(
        "k",
        "v",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_id"),
                        F.shiftright("bits", i * band_width)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_bits"),
                    )
                    for i in range(nbands)
                ]
            )
        ).alias("band"),
    ).select("k", "v", "band.band_id", "band.band_bits")
    return (
        _capped_pairs(banded, ["band_id", "band_bits"], bucket_cap, "v")
        .withColumn(
            "cosine",
            F.round(_dot("pa", "pb") / (_norm("pa") * _norm("pb")), 6),
        )
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


# ---------------------------------------------------------------------------
# Dedup resolution: survivor selection + connected components
# ---------------------------------------------------------------------------


def near_dup_survivors(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Keep-smallest-id survivor policy: any doc with a near-dup
    neighbor of smaller id is dropped (left_anti on the pair's right
    side). One anti join — no iteration; the standard web-dedup
    resolution when pairs come from MinHash/SimHash/embedding blocks.
    """
    losers = pairs.select(F.col("b").alias("doc_id")).distinct()
    return docs.join(losers, "doc_id", "left_anti")


def connected_components(pairs: DataFrame) -> DataFrame:
    """Exact duplicate-cluster ids: min-label propagation accelerated
    with pointer doubling (each round also applies comp(v) ←
    comp(comp(v)), halving chain length), so convergence is
    O(log(diameter)) rounds — a chain of length d resolves in ~log₂ d
    rounds, not d. Returns (node, comp) with comp = min reachable id.

    Scale/cost notes:
      * ``pairs`` is usually the output of an expensive candidate
        pipeline (MinHash-LSH etc.); it is localCheckpoint'ed ONCE up
        front so each round re-reads materialized edges instead of
        re-running the whole upstream plan (the round-1 implementation
        recomputed the MinHash pipeline every round — 54 s at sf0.01).
      * Each round: one equi-join shuffle (neighbor min), one self-join
        shuffle (doubling), one groupBy. Convergence is checked with a
        single limit(1) count per round on the already-materialized
        frontier.
      * Raises RuntimeError if the fixpoint is not reached within
        20 rounds — silently returning non-converged labels
        would mis-cluster long transitive near-dup chains (real in web
        dedup graphs). With doubling, 20 rounds covers diameters ~10⁶.
    """
    edges = (
        pairs.select(F.col("a").alias("x"), F.col("b").alias("y"))
        .union(pairs.select(F.col("b").alias("x"), F.col("a").alias("y")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.groupBy("x")
        .agg(F.least(F.min("y"), F.first("x")).alias("comp"))
        .select(F.col("x").alias("node"), "comp")
        .localCheckpoint(eager=True)
    )
    max_iter = 20
    converged = False
    for _ in range(max_iter):
        # neighbor-min: comp(v) = min(comp(v), min over neighbors u comp(u))
        nbr = (
            edges.join(labels, edges.y == labels.node)
            .select(F.col("x").alias("node"), F.col("comp"))
        )
        new = (
            labels.select("node", "comp")
            .union(nbr)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
        )
        # pointer doubling: comp(v) = min(comp(v), comp(comp(v)))
        hop = new.select(
            F.col("node").alias("pnode"), F.col("comp").alias("pcomp")
        )
        new = (
            new.join(hop, new.comp == hop.pnode, "left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce("pcomp", "comp")
                ).alias("comp"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = new
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components: no fixpoint after {max_iter} rounds — "
            "labels would be wrong for long chains"
        )
    return labels


# ---------------------------------------------------------------------------
# Passage-level (substring) dedup — repeated spans ACROSS documents
# ---------------------------------------------------------------------------

PASSAGE_K = 8  # words per passage window


def passage_grams(docs: DataFrame) -> DataFrame:
    """Positional word k-gram fingerprints (k = ``PASSAGE_K``): one row
    per window.

    Output: (doc_id, pos, gh) where pos is the 1-based token index of the
    window start and gh the 60-bit md5 hash of the k tokens joined by a
    single space (tokens = ``split(lower(text), '\\s+')`` — the same
    tokenizer as :func:`with_shingles`). Docs shorter than ``k`` tokens
    emit nothing. Every start position is a window (stride 1), so the
    exploded row count is |tokens|.

    Unlike :func:`minhash_signatures` (whole-doc similarity), positions
    are KEPT — this is the primitive for substring-level dedup (the
    suffix-array recipe of Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better", re-expressed as fixed-width
    window fingerprints so it runs as plain exchanges instead of a
    global suffix sort). Plays the role the reference's duplicate-line
    checker (misc_tools.py:35-43) plays at line granularity, lifted to
    arbitrary cross-document passages.
    """
    # Materialize the token array first: slice(split(...), i, k) with
    # the split inlined inside the transform lambda re-tokenizes the
    # whole document once per window position (O(tokens²) per row —
    # the inlined-producer-in-lambda trap; see textstats.fingerprint).
    k = PASSAGE_K
    toked = docs.select(
        F.col("doc_id"), F.split(F.lower(F.col("text")), "\\s+").alias("_w")
    )
    expr = (
        f"CASE WHEN size(_w) < {k} THEN array() "
        f"ELSE transform(sequence(1, size(_w) - {k} + 1, 1), "
        f"i -> struct(i AS pos, conv(substring(md5("
        f"array_join(slice(_w, i, {k}), ' ')), 1, 15), 16, 10) AS ghs)) END"
    )
    return (
        toked.select(F.col("doc_id"), F.explode(F.expr(expr)).alias("g"))
        .select(
            "doc_id",
            F.col("g.pos").cast("long").alias("pos"),
            F.col("g.ghs").cast("long").alias("gh"),
        )
    )


def repeated_passages(docs: DataFrame) -> DataFrame:
    """Cross-document repeated spans (boilerplate / license blocks):
    maximal runs of word k-gram windows (k = ``PASSAGE_K``) whose grams
    each occur in at least 2 DISTINCT documents.

    Per doc, hit windows sorted by pos are merged while consecutive
    starts are <= k apart (overlapping or exactly adjacent windows =
    one contiguous repeated region). Output one row per span:
    (doc_id, span_start, span_end, span_len, n_windows, max_docs) with
    token-index bounds inclusive, span_len = span_end - span_start + 1,
    and max_docs = the widest cross-doc frequency among the span's
    grams.

    Scale shape (100 TB): the gram explode is |tokens| rows —
    inherent to substring dedup (the suffix-array equivalent sorts the
    same volume); doc-frequency is a two-phase count_distinct keyed on
    the (uniform) gram hash, so no skew; the gram->frequency join is an
    equi-join on gh — Catalyst broadcasts the frequency dim while its
    size estimate is under the threshold and falls back to a shuffle
    join as the repeated-gram set grows with the corpus (the right call
    at each scale; nothing is force-broadcast); the span merge shuffles
    once more on the doc key and sorts only each doc's HIT windows, not
    all windows. No exchange carries more than the exploded gram
    volume; nothing is driver-side.
    """
    k = PASSAGE_K
    grams = passage_grams(docs)
    freq = (
        grams.groupBy("gh")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )
    hits = grams.join(freq, "gh")
    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(
        F.lag("pos").over(w).isNull()
        | ((F.col("pos") - F.lag("pos").over(w)) > k),
        1,
    ).otherwise(0)
    island = F.sum("brk").over(
        Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        hits.withColumn("brk", brk)
        .withColumn("island", island)
        .groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + k - 1).alias("span_end"),
            (F.max("pos") + k - F.min("pos")).alias("span_len"),
            F.count(F.lit(1)).alias("n_windows"),
            F.max("n_docs").alias("max_docs"),
        )
        .drop("island")
    )
