"""Model scoring as a vectorized numeric kernel (north star: the
reference's decision-tree / logistic-regression inference over
event-count vectors, loglab.py:693-753, loglizer.py:493-557 — no
per-row Python anywhere).

Training runs driver-side on the collected ECM (bounded: samples ×
vocab_size floats — the reference also trains in one process,
loglab.py:677-679). The trained weights are broadcast; scoring runs
inside Arrow batches via a scalar-iterator pandas UDF (the load-once-
per-executor pattern the reference approximates with ONNX sessions,
loglab.py:722-727).

The tree models (``cart_to_expr`` / ``forest_to_expr``) and the
linear and Gaussian-NB members compile to JVM-side column expressions
instead — zero Python in those paths. Each model has one scorer: the
fixed-parameter fixtures at the bottom of this module score through
the same kernels as the trained models, so the DuckDB oracle checks
the production code.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from loganalyzer_spark.datagen import local_df


def train_logreg(
    X: np.ndarray, y: np.ndarray, iters: int = 200, lr: float = 0.1
) -> tuple[np.ndarray, float]:
    """Deterministic batch-gradient logistic regression (float64).

    Standalone numpy (sklearn is not in the image); fixed iteration
    count and zero init make the weights reproducible.
    """
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n, d = X.shape
    w = np.zeros(d)
    b = 0.0
    for _ in range(iters):
        z = X @ w + b
        p = 1.0 / (1.0 + np.exp(-z))
        g = p - y
        w -= lr * (X.T @ g) / n
        b -= lr * float(g.mean())
    return w, b


def make_logreg_scorer(spark: SparkSession, w: np.ndarray, b: float):
    """Arrow-batch LR scorer: mapInPandas with broadcast weights.

    The (weights, bias) tuple is broadcast once; each task unpacks it a
    single time, then scores whole Arrow batches with one matrix
    multiply. mapInPandas (rather than a column pandas UDF) gives the
    kernel its own plan node, so it composes with any upstream
    aggregate without codegen nesting limits.

    Returns ``apply(df, vec_col, out_col) -> DataFrame``.
    """
    bc = spark.sparkContext.broadcast((np.asarray(w, dtype=np.float64), float(b)))

    def apply(df: DataFrame, vec_col: str = "vec", out_col: str = "score_raw") -> DataFrame:
        schema = T.StructType(
            list(df.schema.fields) + [T.StructField(out_col, T.DoubleType())]
        )

        def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            wts, bias = bc.value
            for pdf in batches:
                if len(pdf):
                    X = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
                    pdf[out_col] = 1.0 / (1.0 + np.exp(-(X @ wts + bias)))
                else:
                    pdf[out_col] = np.zeros(0)
                yield pdf

        return df.mapInPandas(fn, schema)

    return apply


# Row cap of the collected training slice.
MAX_TRAIN_ROWS = 100_000


def _training_slice(
    vectors: DataFrame, max_rows: int | None = None
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Collect the ``vec``/``label`` training slice to the driver:
    (X, y, doc_id).

    Ordered on ``doc_id`` before ``limit`` — an unordered limit over a
    join output picks partition-order rows, which vary with AQE/shuffle
    layout, and the hash-gated outputs cannot tolerate a run-dependent
    training set."""
    df = vectors.select("doc_id", "vec", "label").orderBy("doc_id")
    if max_rows is not None:
        df = df.limit(max_rows)
    pdf = df.toPandas()
    if pdf.empty:
        raise ValueError("the training slice is empty: no documents to train on")
    X = np.vstack(pdf["vec"].to_numpy())
    return X, pdf["label"].to_numpy(), pdf["doc_id"].to_numpy()


def train_and_score(spark: SparkSession, vectors: DataFrame) -> DataFrame:
    """Collect the (small) ECM, train LR on the driver, score the full
    DataFrame distributed. Adds ``score`` and ``pred`` columns."""
    X, y, _ = _training_slice(vectors, MAX_TRAIN_ROWS)
    w, b = train_logreg(X, y)
    scorer = make_logreg_scorer(spark, w, b)
    out = scorer(vectors, "vec", "score")
    return out.withColumn("pred", (F.col("score") > 0.5).cast("int"))


class IncrementalLogReg:
    """Incremental (``partial_fit``) logistic-regression trainer
    mirroring the reference's ``inc_updt`` path (loglizer.py:429-471:
    the first session creates ``SGDClassifier(loss='log')``, every
    later session ``joblib.load``s the persisted object and calls
    ``.partial_fit(x_train, y_train, classes=[0, 1])`` on the new
    window's ECM batch).

    sklearn is absent from this image, so the estimator core is
    implemented directly: one epoch of per-sample log-loss SGD per
    ``partial_fit`` call, in batch row order, constant learning rate
    0.05, zero init — the deterministic subset of
    ``SGDClassifier(loss='log', learning_rate='constant',
    shuffle=False)``. State round-trips through plain tuples (the
    ``joblib.dump`` analogue), so a lineage checkpoint can persist the
    model between sessions exactly as the reference persists its
    ``loglizer_inc_*.object`` file.

    Scale: training data is the per-window ECM — samples × vocab_size
    floats, bounded and tiny next to the corpus — collected to the
    driver exactly as the reference does; SCORING stays distributed
    through ``make_logreg_scorer`` (broadcast weights, Arrow batches).
    """

    def __init__(self, n_features: int):
        self.w = np.zeros(int(n_features), dtype=np.float64)
        self.b = 0.0
        self.n_seen = 0

    def partial_fit(self, X, y) -> "IncrementalLogReg":
        X = np.asarray(X, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64)
        for xi, yi in zip(X, y):
            p = 1.0 / (1.0 + np.exp(-(float(xi @ self.w) + self.b)))
            g = 0.05 * (p - yi)
            self.w -= g * xi
            self.b -= g
        self.n_seen += len(y)
        return self

    def to_state(self) -> tuple:
        return (self.w.tolist(), self.b, self.n_seen)

    @classmethod
    def from_state(cls, state: tuple) -> "IncrementalLogReg":
        w, b, n_seen = state
        m = cls(len(w))
        m.w = np.asarray(w, dtype=np.float64)
        m.b = float(b)
        m.n_seen = int(n_seen)
        return m


def incremental_train_and_score(spark: SparkSession, vectors: DataFrame) -> DataFrame:
    """Loglizer incremental training over windowed ECM batches
    (loglizer.py:429-471), scored back distributed.

    Batches are collected per distinct ``batch`` value in ascending
    order (each one the "new monitoring window" of an inc_updt
    session), ``partial_fit`` runs once per batch per epoch (20 epochs,
    learning rate 0.05) — deterministic, so the oracle-free rows-only
    gate still sees stable values.
    """
    batches = sorted(
        r[0] for r in vectors.select("batch").distinct().collect()
    )
    first = vectors.select(F.size("vec")).first()
    n_features = int(first[0]) if first else 0
    m = IncrementalLogReg(n_features)
    collected = []
    for bval in batches:
        X, y, _ = _training_slice(vectors.filter(F.col("batch") == bval))
        collected.append((X, y))
    for _ in range(20):
        for X, y in collected:
            m.partial_fit(X, y)
    scorer = make_logreg_scorer(spark, m.w, m.b)
    out = scorer(vectors, "vec", "score")
    return out.withColumn("pred", (F.col("score") > 0.5).cast("int"))


def kfold_validate(spark: SparkSession, vectors: DataFrame) -> DataFrame:
    """5-fold cross-validation parity (loglab.py:662-671: KFold +
    ``cross_val_score(model, ..., scoring='accuracy')`` over the
    monolith ECM, then a full fit for deployment).

    The CV population is the bounded collected ECM — exactly what the
    reference cross-validates in one process — so training runs
    driver-side on numpy (train_logreg per fold); nothing distributed
    is needed for the validation itself. Folds are DETERMINISTIC
    (doc_id % 5) instead of the reference's utils.shuffle: the rows-
    only driver gate hashes values, so a shuffled split would flap.
    The reference's follow-up ONNX export (loglab.py:682-686) stays
    gated out — sklearn-onnx/onnxruntime are absent from this image;
    the deployment artifact here is the broadcast (w, b) pair itself.

    Returns one row per fold: (fold, n_train, n_test, accuracy) plus
    a summary row fold = -1 with the mean accuracy (the reference's
    ``scores.mean()`` print).
    """
    k = 5
    X, y, doc_id = _training_slice(vectors)
    folds = doc_id % k
    rows = []
    accs = []
    for f in range(k):
        test = folds == f
        if not test.any() or test.all():
            continue
        w, b = train_logreg(X[~test], y[~test])
        pred = (X[test] @ w + b) > 0
        acc = float((pred == (y[test] > 0.5)).mean())
        accs.append(acc)
        rows.append((f, int((~test).sum()), int(test.sum()), round(acc, 6)))
    rows.append((-1, len(y), len(y), round(float(np.mean(accs)), 6)))
    return local_df(spark, rows, "fold int, n_train int, n_test int, accuracy double")


# ---------------------------------------------------------------------------
# CART training — the DT / RFC rows of the reference's model zoo
# (loglizer.py:450-461 trains tree.DecisionTreeClassifier(
# criterion='gini', max_depth=None) and RandomForestClassifier(
# n_estimators=100); oldschool inference consumes the DT). sklearn is
# absent from this image, so the estimator core is implemented
# directly, like IncrementalLogReg above. The learned tree compiles to
# a nested CASE WHEN column expression, so SCORING stays JVM-side with
# zero Python.
# ---------------------------------------------------------------------------

def train_cart(
    X: np.ndarray,
    y: np.ndarray,
    max_depth: int = 8,
) -> tuple:
    """CART decision tree, gini criterion (the deterministic subset of
    ``DecisionTreeClassifier(criterion='gini', splitter='best')``,
    loglizer.py:451-452): at each node every feature's candidate
    thresholds are the midpoints between consecutive distinct sorted
    values; the (feature, threshold) split minimizing the
    sample-weighted child gini wins, ties broken toward the lowest
    feature index then lowest threshold (a fixed scan order — sklearn
    breaks ties by RNG, which a hash-checked gate cannot tolerate).

    A node with fewer than 2 samples is a leaf (sklearn's
    ``min_samples_split=2``).

    ``max_depth`` defaults to 8 (vs the reference's None): the tree is
    compiled to nested CASE WHEN, and janino's 64 KB codegen method
    limit caps how deep that can grow (CLAUDE.md gotcha) — depth 8 is
    ≤255 internal nodes, comfortably inside, and the collected ECM is
    near-separable long before that.

    Returns nested tuples: ``('leaf', p1)`` with p1 = class-1 fraction,
    or ``('split', feat, thr, left, right)`` routing ``x[feat] <= thr``
    left.
    """
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)

    def gini_split(xs: np.ndarray, ys: np.ndarray):
        """Best (thr, weighted_gini) for one sorted feature column."""
        n = len(ys)
        pos = np.cumsum(ys)  # positives in the first i+1 rows
        cut = np.nonzero(xs[:-1] < xs[1:])[0]  # split AFTER index i
        if len(cut) == 0:
            return None
        nl = (cut + 1).astype(np.float64)
        nr = n - nl
        pl = pos[cut] / nl
        pr = (pos[-1] - pos[cut]) / nr
        g = nl * 2 * pl * (1 - pl) + nr * 2 * pr * (1 - pr)
        i = int(np.argmin(g))  # first minimum = lowest threshold
        return (xs[cut[i]] + xs[cut[i] + 1]) / 2.0, float(g[i]) / n

    def build(idx: np.ndarray, depth: int) -> tuple:
        ys = y[idx]
        p1 = float(ys.mean()) if len(ys) else 0.0
        if (
            depth >= max_depth
            or len(idx) < 2
            or p1 in (0.0, 1.0)
        ):
            return ("leaf", p1)
        parent_gini = 2 * p1 * (1 - p1)
        best = None  # (gini, feat, thr)
        for f in range(X.shape[1]):
            order = np.argsort(X[idx, f], kind="stable")
            found = gini_split(X[idx, f][order], ys[order])
            if found is None:
                continue
            thr, g = found
            if best is None or g < best[0] - 1e-12:
                best = (g, f, thr)
        if best is None or best[0] >= parent_gini - 1e-12:
            return ("leaf", p1)
        _, f, thr = best
        left = idx[X[idx, f] <= thr]
        right = idx[X[idx, f] > thr]
        return (
            "split",
            f,
            float(thr),
            build(left, depth + 1),
            build(right, depth + 1),
        )

    return build(np.arange(len(y)), 0)


def cart_predict(tree: tuple, X: np.ndarray) -> np.ndarray:
    """Numpy-side class-1 probability per row (the parity oracle for
    the compiled column expression)."""
    X = np.asarray(X, dtype=np.float64)
    out = np.empty(len(X), dtype=np.float64)

    def walk(node: tuple, idx: np.ndarray) -> None:
        if node[0] == "leaf":
            out[idx] = round(node[1], 6)
            return
        _, f, thr, lo, hi = node
        mask = X[idx, f] <= thr
        walk(lo, idx[mask])
        walk(hi, idx[~mask])

    walk(tree, np.arange(len(X)))
    return out


def cart_to_expr(tree: tuple, vec_col: str) -> F.Column:
    """Compile a CART (trained, or the fixed ``DT_TREE``) to a nested
    CASE WHEN over the ECM array; zero Python in the scoring path."""
    if tree[0] == "leaf":
        return F.lit(round(tree[1], 6))
    _, f, thr, lo, hi = tree
    x = F.element_at(F.col(vec_col), f + 1).cast("double")
    return F.when(x <= F.lit(thr), cart_to_expr(lo, vec_col)).otherwise(
        cart_to_expr(hi, vec_col)
    )


def _lcg_indices(n: int, k: int, seed: int) -> np.ndarray:
    """k deterministic draws from range(n) — the bootstrap/subspace RNG
    (same LCG family as dedup.minhash_params; sklearn's RandomState
    bootstrap is not reproducible across versions)."""
    s = seed & (2**63 - 1)
    out = np.empty(k, dtype=np.int64)
    for i in range(k):
        s = (s * 6364136223846793005 + 1442695040888963407) % (2**63)
        out[i] = s % n
    return out


def train_random_forest(
    X: np.ndarray,
    y: np.ndarray,
    n_trees: int = 10,
    max_depth: int = 6,
) -> list[tuple[list[int], tuple]]:
    """Deterministic random forest (RandomForestClassifier's recipe,
    loglizer.py:461: bootstrap rows + sqrt-feature subspace per tree,
    probability = mean of per-tree leaf fractions) with LCG-seeded
    bagging instead of sklearn's RandomState. n_trees defaults to 10
    (not the reference's 100) to keep the compiled CASE ensemble far
    inside the janino 64 KB method limit; the collected ECM is tiny, so
    variance reduction saturates long before 100 trees here.

    Returns [(feature_subset, tree)] where each tree's feature indices
    are LOCAL to its subset (cart_to_expr-compatible after remap by
    forest_to_expr).
    """
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n, d = X.shape
    m = max(1, int(np.sqrt(d)))
    seed = 88172645463325252
    forest = []
    for t in range(n_trees):
        rows = np.sort(_lcg_indices(n, n, seed + 2 * t + 1))
        # sample feature subset without replacement: first m distinct
        feats: list[int] = []
        draw = seed + 2 * t + 2
        while len(feats) < m:
            draw += 1
            f = int(_lcg_indices(d, 1, draw)[0])
            if f not in feats:
                feats.append(f)
        feats.sort()
        forest.append((feats, train_cart(X[rows][:, feats], y[rows], max_depth)))
    return forest


def forest_predict(forest: list, X: np.ndarray) -> np.ndarray:
    """Mean of per-tree probabilities (predict_proba averaging)."""
    X = np.asarray(X, dtype=np.float64)
    acc = np.zeros(len(X), dtype=np.float64)
    for feats, tree in forest:
        acc += cart_predict(tree, X[:, feats])
    return np.round(acc / len(forest), 6)


def forest_to_expr(forest: list, vec_col: str) -> F.Column:
    """Compile a forest (trained, or the fixed ``RFC_TREES``) to
    round((Σ per-tree CASE trees) / n, 6)."""

    def remap(node: tuple, feats: list[int]) -> tuple:
        if node[0] == "leaf":
            return node
        _, f, thr, lo, hi = node
        return ("split", feats[f], thr, remap(lo, feats), remap(hi, feats))

    total = None
    for feats, tree in forest:
        e = cart_to_expr(remap(tree, feats), vec_col)
        total = e if total is None else total + e
    return F.round(total / F.lit(float(len(forest))), 6)


def train_dt_and_score(spark: SparkSession, vectors: DataFrame) -> DataFrame:
    """Collect the (small) ECM, train the CART and the forest on the
    driver (loglizer.py:450-461 DT/RFC rows), score the full DataFrame
    through compiled CASE WHEN expressions — zero Python scoring.
    Adds ``dt_score``/``dt_pred`` and ``rfc_score``/``rfc_pred``.
    Tie rule: predict_proba argmax takes class 0 at exactly 0.5, so
    pred = score > 0.5.

    The ordered training slice matters doubly here: the forest's LCG
    bootstrap indexes rows by collected POSITION, so an unordered
    collect would train a different forest per run."""
    X, y, _ = _training_slice(vectors, MAX_TRAIN_ROWS)
    tree = train_cart(X, y)
    forest = train_random_forest(X, y)
    dt = cart_to_expr(tree, "vec")
    rfc = forest_to_expr(forest, "vec")
    return (
        vectors.withColumn("dt_score", dt)
        .withColumn("dt_pred", (F.col("dt_score") > 0.5).cast("int"))
        .withColumn("rfc_score", rfc)
        .withColumn("rfc_pred", (F.col("rfc_score") > 0.5).cast("int"))
    )


# ---------------------------------------------------------------------------
# GNB / Perceptron / linear-SVM training — the remaining rows of the
# reference's model zoo (loglizer.py:431-441 trains GaussianNB,
# SGDClassifier(loss='perceptron') and SGDClassifier(loss='hinge');
# :456-459 svm.LinearSVC). sklearn is absent, so each estimator core is
# implemented directly like IncrementalLogReg/train_cart above; scoring
# flows through the existing zero-Python kernels (gnb_score_expr,
# svm_margin_expr).
# ---------------------------------------------------------------------------

def train_gnb(
    X: np.ndarray, y: np.ndarray
) -> tuple[list[float], list[float], list[float], list[float], float]:
    """GaussianNB.fit parity (loglizer.py:431-432): per-class feature
    mean/variance + class-1 prior, variances smoothed by
    ``var_smoothing * max feature variance`` with sklearn's default
    ``var_smoothing=1e-9`` (sklearn's exact rule).
    Closed-form — deterministic by construction. Returns
    (mu0, var0, mu1, var1, p1) in gnb_coefficients' layout."""
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    eps = 1e-9 * float(np.var(X, axis=0).max())
    stats = []
    for cls in (0.0, 1.0):
        Xi = X[y == cls]
        stats.append((Xi.mean(axis=0), Xi.var(axis=0) + eps))
    (mu0, var0), (mu1, var1) = stats
    p1 = float((y == 1.0).mean())
    return mu0.tolist(), var0.tolist(), mu1.tolist(), var1.tolist(), p1


def _sgd_margin_train(
    X: np.ndarray,
    y: np.ndarray,
    margin: float,
    iters: int = 1000,
) -> tuple[np.ndarray, float]:
    """Shared SGD core for the margin family: per-sample update
    ``w += lr·t·x`` (lr = 0.01) whenever ``t·(w·x+b) <= margin`` with t = ±1.
    margin=0 is the perceptron rule (SGDClassifier(loss='perceptron'),
    loglizer.py:434-435); margin=1 is the hinge subgradient
    (loss='hinge' / LinearSVC's loss, loglizer.py:436-437,456-459 —
    the deterministic subset: batch row order, no shuffle, constant
    learning rate, no regularization term). Zero init, fixed epoch
    count — bit-reproducible on an ordered slice."""
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    t = 2.0 * y - 1.0
    w = np.zeros(X.shape[1], dtype=np.float64)
    b = 0.0
    lr = 0.01
    for _ in range(iters):
        updated = False
        for xi, ti in zip(X, t):
            if ti * (float(xi @ w) + b) <= margin:
                w += lr * ti * xi
                b += lr * ti
                updated = True
        if not updated and margin == 0.0:
            break  # perceptron converged: separable, no further change
    return w, b


def train_perceptron(
    X: np.ndarray, y: np.ndarray, iters: int = 1000
) -> tuple[np.ndarray, float]:
    return _sgd_margin_train(X, y, margin=0.0, iters=iters)


def train_linear_svm(
    X: np.ndarray, y: np.ndarray, iters: int = 100
) -> tuple[np.ndarray, float]:
    return _sgd_margin_train(X, y, margin=1.0, iters=iters)


def train_zoo_and_score(spark: SparkSession, vectors: DataFrame) -> DataFrame:
    """Train the GNB / PTN / SVM rows of the zoo on the collected ECM
    and score the corpus through the existing JVM kernels — zero Python
    in the scoring path (gnb log-odds via gnb_score_expr, both margins
    via svm_margin_expr). Adds gnb_logodds/gnb_pred, ptn_margin/
    ptn_pred, svm_margin/svm_pred."""
    X, y, _ = _training_slice(vectors, MAX_TRAIN_ROWS)
    mu0, var0, mu1, var1, p1 = train_gnb(X, y)
    # degenerate priors (single-class slice) have no log-odds; the
    # reference would raise inside GaussianNB the same way
    if p1 in (0.0, 1.0):
        raise ValueError("train_zoo_and_score needs both classes present")
    # all-constant features leave no variance to smooth with, so every
    # class variance is 0 and gnb_coefficients would divide by it
    if float(np.var(X, axis=0).max()) == 0.0:
        raise ValueError(
            "train_zoo_and_score needs a training slice with at least one "
            "non-constant feature"
        )
    a, bq, c0 = gnb_coefficients(mu0, var0, mu1, var1, p1)
    w_p, b_p = train_perceptron(X, y)
    w_s, b_s = train_linear_svm(X, y)
    out = (
        vectors.withColumn(
            "gnb_logodds", F.round(gnb_score_expr("vec", a, bq, c0), 6)
        )
        .withColumn("gnb_pred", (F.col("gnb_logodds") > 0).cast("int"))
        .withColumn(
            "ptn_margin",
            F.round(svm_margin_expr("vec", w_p.tolist(), b_p), 6),
        )
        .withColumn("ptn_pred", (F.col("ptn_margin") > 0).cast("int"))
        .withColumn(
            "svm_margin",
            F.round(svm_margin_expr("vec", w_s.tolist(), b_s), 6),
        )
        .withColumn("svm_pred", (F.col("svm_margin") > 0).cast("int"))
    )
    return out


# ---------------------------------------------------------------------------
# Fixed-parameter fixtures (deterministic, DuckDB-oracle-checkable): the
# *_score queries feed these to the same kernels the trained models use.
# ---------------------------------------------------------------------------

def fixed_weights(size: int) -> tuple[list[float], float]:
    """Deterministic LR weights for the oracle-checked scoring query."""
    w = [round(0.3 - 0.05 * i, 6) for i in range(size)]
    return w, -0.5


# A fixed decision tree in train_cart's tuple form, scored by
# cart_to_expr. Split order x[6] (tls errors) → x[8] (file-missing) →
# x[0]; thresholds sit inside the sf0.01 ECM count range (slot 8 is 0-1,
# slot 0 is 0-6) so every leaf fires on real data.
DT_TREE: tuple = (
    "split", 6, 0.0,
    ("split", 8, 0.0,
     ("split", 0, 1.0, ("leaf", 0.05), ("leaf", 0.2)),
     ("leaf", 0.8)),
    ("leaf", 0.95),
)


# ---------------------------------------------------------------------------
# Loglizer model-zoo inference kernels (loglizer.py:450-461 trains DT,
# LR, SVM, RFC and :431-441 GNB/PTN/SGDC_*; inference for every one of
# them is either a linear decision function, a Gaussian-NB log-odds, or
# a tree ensemble — each expressible as JVM column math over the ECM
# vector, no Python in the scoring path).
# ---------------------------------------------------------------------------

def fixed_gnb_params(
    size: int,
) -> tuple[list[float], list[float], list[float], list[float], float]:
    """Deterministic per-feature Gaussian params (mu, var per class) and
    class-1 prior for the oracle-checked GNB query."""
    mu0 = [round(0.2 + 0.03 * i, 6) for i in range(size)]
    mu1 = [round(1.5 - 0.04 * i, 6) for i in range(size)]
    var0 = [round(1.0 + 0.05 * i, 6) for i in range(size)]
    var1 = [round(0.8 + 0.07 * i, 6) for i in range(size)]
    return mu0, var0, mu1, var1, 0.3


def gnb_coefficients(
    mu0: list[float],
    var0: list[float],
    mu1: list[float],
    var1: list[float],
    p1: float,
) -> tuple[list[float], list[float], float]:
    """Collapse Gaussian-NB params to the quadratic decision form

        log-odds(x) = c0 + sum_i (a_i * x_i + b_i * x_i^2)

    with a_i = mu1/var1 - mu0/var0, b_i = -(1/var1 - 1/var0)/2 and c0
    absorbing the priors, normalizers and mu^2 terms. Zero-count slots
    contribute exactly 0.0, so a sparse (idx, count) oracle and the
    dense array expression agree bit-for-bit up to summation order.
    """
    import math

    a = [m1 / v1 - m0 / v0 for m0, v0, m1, v1 in zip(mu0, var0, mu1, var1)]
    b = [-0.5 * (1.0 / v1 - 1.0 / v0) for v0, v1 in zip(var0, var1)]
    c0 = math.log(p1 / (1.0 - p1)) + sum(
        -0.5 * math.log(v1 / v0) - m1 * m1 / (2 * v1) + m0 * m0 / (2 * v0)
        for m0, v0, m1, v1 in zip(mu0, var0, mu1, var1)
    )
    return a, b, c0


def gnb_score_expr(
    vec_col: str, a: list[float], b: list[float], c0: float
) -> F.Column:
    """Gaussian-NB log-odds over a dense count-vector column — pure JVM
    zip_with/aggregate, zero Python (the GNB member of loglizer's zoo,
    loglizer.py:431-432)."""
    x = F.col(vec_col).cast("array<double>")
    lin = F.zip_with(x, F.array(*[F.lit(v) for v in a]), lambda xi, ai: xi * ai)
    quad = F.zip_with(
        x, F.array(*[F.lit(v) for v in b]), lambda xi, bi: xi * xi * bi
    )
    return F.aggregate(
        F.zip_with(lin, quad, lambda l, q: l + q),
        F.lit(float(c0)),
        lambda acc, v: acc + v,
    )


def fixed_svm_weights(size: int) -> tuple[list[float], float]:
    """Deterministic linear-SVM weights (decision function w.x + b —
    the inference form shared by loglizer's SVM, PTN and SGDC_* members,
    loglizer.py:433-441,456-459)."""
    w = [round(((-1) ** i) * (0.2 + 0.04 * i), 6) for i in range(size)]
    return w, 0.75


def svm_margin_expr(vec_col: str, w: list[float], b: float) -> F.Column:
    """Linear decision margin w.x + b (no sigmoid): sign is the class."""
    return F.aggregate(
        F.zip_with(
            F.col(vec_col).cast("array<double>"),
            F.array(*[F.lit(x) for x in w]),
            lambda v, wi: v * wi,
        ),
        F.lit(float(b)),
        lambda acc, v: acc + v,
    )


# Five fixed depth-2 trees in train_random_forest's [(feats, tree)]
# form, scored by forest_to_expr: tree k splits on local feature 0 =
# x[feats[0]] and then local feature 1 = x[feats[1]]. Thresholds sit
# inside the sf0.01 ECM count range (slot medians 0-3, max 6) so every
# branch of every tree fires on real data — a tree whose split never
# triggers certifies nothing.
RFC_TREES: list[tuple[list[int], tuple]] = [
    ([6, 0], ("split", 0, 0.0, ("leaf", 0.1),
              ("split", 1, 2.0, ("leaf", 0.7), ("leaf", 0.95)))),
    ([0, 7], ("split", 0, 2.0, ("leaf", 0.15),
              ("split", 1, 0.0, ("leaf", 0.6), ("leaf", 0.9)))),
    ([13, 6], ("split", 0, 0.0, ("leaf", 0.2),
               ("split", 1, 1.0, ("leaf", 0.35), ("leaf", 0.85)))),
    ([3, 5], ("split", 0, 0.0, ("leaf", 0.25),
              ("split", 1, 0.0, ("leaf", 0.55), ("leaf", 0.8)))),
    ([1, 2], ("split", 0, 0.0, ("leaf", 0.3),
              ("split", 1, 0.0, ("leaf", 0.5), ("leaf", 0.75)))),
]
