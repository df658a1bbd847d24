"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k as the correctness baseline; IVF (k-means
cells, nprobe search) as the scale path. Dot products run as JVM-side
higher-order functions (``zip_with`` + ``aggregate``) — no Python in
the hot path.

At cluster scale the query side is broadcast (top-k against a bounded
query set); the corpus side streams. The random-hyperplane signature
helpers (``lsh_planes``, ``hyperplane_sign_bits``) feed the banded
embedding near-dup join in ``dedup``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b) -> F.Column:
    """Dot product, in double, of two array columns (names or Columns)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: str) -> F.Column:
    return F.sqrt(
        F.aggregate(
            F.col(a), F.lit(0.0), lambda acc, v: acc + v.cast("double") * v
        )
    )


def _cosine(u: str, v: str, nu: str, nv: str) -> F.Column:
    """Cosine of vector columns ``u`` and ``v`` over their norm columns
    ``nu`` and ``nv``. Take each norm with :func:`_norm` once per input
    row, before any join: inlined in a per-pair cosine, the O(dim)
    ``aggregate`` re-runs for every pair a row is in."""
    return _dot(u, v) / (F.col(nu) * F.col(nv))


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """The ``k`` best-scored neighbors per ``query_id``, ranked by
    cosine descending then ``neighbor_id``; the cosine is rounded to
    6 dp only after ranking."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"),
            "rank",
        )
    )


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Brute-force cosine top-k of ``embedding`` per ``vec_id``:
    broadcast queries × corpus scan.

    Output: (query_id, neighbor_id, cosine, rank). Ties broken by
    neighbor id for determinism.
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    ).withColumn("qn", _norm("qvec"))
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec")
    ).withColumn("cn", _norm("cvec"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", _cosine("qvec", "cvec", "qn", "cn"))
    )
    return _top_k(scored, k)


def hyperplane_sign_bits(vec: str, planes: list[list[float]]) -> F.Column:
    """LSH signature: bit j = sign of <v, plane_j> (deterministic planes)."""
    bits = None
    for j, p in enumerate(planes):
        d = _dot(vec, F.array(*[F.lit(float(x)) for x in p]))
        term = F.when(d >= 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bits = term if bits is None else bits + term
    return bits.cast("long")


def lsh_planes(dim: int, nbits: int = 8) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG in [-1, 1])."""
    planes = []
    s = 42
    for _ in range(nbits):
        row = []
        for _ in range(dim):
            s = (s * 6364136223846793005 + 1442695040888963407) % (2**63)
            row.append((s % 2001 - 1000) / 1000.0)
        planes.append(row)
    return planes


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: k-means cells + nprobe search
# ---------------------------------------------------------------------------

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
from collections.abc import Iterator  # noqa: E402
from pyspark.sql import types as T  # noqa: E402


def kmeans_centroids(emb: DataFrame, k: int = 16) -> np.ndarray:
    """Driver-side deterministic k-means (10 iterations, seed 42) of the
    ``embedding`` column on a bounded sample.

    The codebook is tiny (k × dim floats) and is broadcast for
    assignment; training cost is bounded by the 20,000-row sample
    regardless of corpus size — the standard IVF recipe (train on a
    sample, assign everything). The sample is
    ``orderBy("vec_id").limit(n)`` — a bare ``limit`` is
    nondeterministic across partitionings, which would make the
    codebook (and recall/cell skew) irreproducible. At cluster scale
    prefer a key-range/hash-bucket predicate over the global sort; at
    20k rows the TakeOrderedAndProject is cheap (no full sort
    materializes).
    """
    pdf = (
        emb.select("vec_id", "embedding").orderBy("vec_id").limit(20_000).toPandas()
    )
    X = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
    # Guard zero vectors like _cell_assign_udf does: one all-zero
    # embedding in the sample would otherwise turn its row NaN, poison
    # whichever centroid argmax sends it to, and freeze that cell.
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    X = X / norms
    rng = np.random.default_rng(42)
    cent = X[rng.choice(len(X), size=min(k, len(X)), replace=False)]
    for _ in range(10):
        sims = X @ cent.T
        assign = sims.argmax(axis=1)
        for j in range(len(cent)):
            members = X[assign == j]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    cent[j] = m / n
    return cent


def _cell_assign_udf(spark, centroids: np.ndarray, nprobe: int):
    """Vectorized cell assignment: one matmul per Arrow batch."""
    bc = spark.sparkContext.broadcast(np.asarray(centroids, dtype=np.float64))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def cells(vecs: pd.Series) -> pd.Series:
        cent = bc.value
        X = np.vstack(vecs.to_numpy()).astype(np.float64)
        norms = np.linalg.norm(X, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        sims = (X / norms) @ cent.T
        top = np.argsort(-sims, axis=1)[:, :nprobe]
        return pd.Series([row.astype("int32").tolist() for row in top])

    return cells


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 2,
) -> DataFrame:
    """IVF ANN over ``embedding`` per ``vec_id``: ``n_cells`` k-means
    cells are trained on the corpus, corpus vectors live in their
    nearest cell, and each query
    probes its ``nprobe`` nearest cells and exact-scores only those
    members. The cross join becomes an equi-join on cell id, cutting
    scored pairs by ~n_cells/nprobe; recall is tested (not assumed)
    in pytest against the brute-force baseline.

    At 100 TB the cell assignment is one narrow matmul pass (Arrow
    batches), the codebook is broadcast, and the candidate join
    shuffles only by cell id — skew across cells is bounded by k-means
    balance, with AQE skew-split as the backstop.
    """
    spark = corpus.sparkSession
    centroids = kmeans_centroids(corpus, k=n_cells)
    assign1 = _cell_assign_udf(spark, centroids, 1)
    assignp = _cell_assign_udf(spark, centroids, nprobe)

    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cvec"),
        F.element_at(assign1(F.col("embedding")), 1).alias("cell"),
    ).withColumn("cn", _norm("cvec"))
    q = (
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
            assignp(F.col("embedding")).alias("cells"),
        )
        .withColumn("qn", _norm("qvec"))  # before the explode: once per query
        .withColumn("cell", F.explode("cells"))
        .drop("cells")
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", _cosine("qvec", "cvec", "qn", "cn"))
    )
    # No dedup needed before ranking: a corpus row lives in exactly ONE
    # cell (element_at(assign1, 1)) and a query's nprobe probed cells
    # are distinct argsort indices, so the equi-join emits each
    # (query_id, neighbor_id) pair at most once — a dropDuplicates here
    # was a pure extra hash exchange over every scored pair.
    return _top_k(scored, k)
