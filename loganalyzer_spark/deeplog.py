"""EP3: DeepLog exec-path anomaly scoring as a vectorized numeric
kernel inside Arrow batches.

Reference: ``analyzer/modern/deeplog/models.py:17-63`` (DeepLogExec —
2-layer LSTM, input_size=1 scalar vocab index, Linear head over the
last hidden state) and ``analyzer/modern/deeplog/deeplog.py:500-537``
(predict: argsort logits descending, anomaly iff the observed next
event's rank >= topk).

torch is not in this image, so the LSTM forward pass is a standalone
numpy implementation of the identical math (torch gate order
i,f,g,o; sigmoid/tanh activations; zero initial h/c — models.py:58-60).
Weights are deterministic synthesized tensors (``make_weights``);
loading a reference ``.pt`` checkpoint is gated behind a torch import
(``load_torch_weights``) and raises cleanly when torch is absent.
Parity with a scalar per-sequence Python loop is pytest-asserted
(tests/test_operators.py::test_deeplog_kernel_parity), mirroring the
M5 recover-loop oracle pattern.

Scale shape: the vocab dim is bounded (= template library, ≤ a few
thousand), so event-id → index mapping is a JVM-side broadcast map
literal — no shuffle, no Python. The weight dict (layers × 4H·(H+1)
floats) is a Spark broadcast unpacked once per executor by a
scalar-iterator pandas UDF; each Arrow batch is scored with a handful
of (B,H) matmuls. No per-row Python anywhere.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def make_weights(
    num_classes: int,
    hidden: int = 16,
    layers: int = 2,
    seed: int = 7,
) -> dict[str, np.ndarray]:
    """Deterministic synthesized LSTM+Linear weights, torch layout.

    Per layer l: W_ih_l (4H × in), W_hh_l (4H × H), b_ih_l, b_hh_l —
    gates packed [input, forget, cell, output] as torch packs them.
    Head: W_out (C × H), b_out (C). Scaled down (×0.4) so tanh/sigmoid
    stay out of saturation and ranks are informative on synthetic data.
    """
    rng = np.random.default_rng(seed)
    w: dict[str, np.ndarray] = {"layers": np.array([layers]), "hidden": np.array([hidden])}
    in_size = 1
    for layer in range(layers):
        w[f"W_ih_{layer}"] = rng.standard_normal((4 * hidden, in_size)) * 0.4
        w[f"W_hh_{layer}"] = rng.standard_normal((4 * hidden, hidden)) * 0.4
        w[f"b_ih_{layer}"] = rng.standard_normal(4 * hidden) * 0.1
        w[f"b_hh_{layer}"] = rng.standard_normal(4 * hidden) * 0.1
        in_size = hidden
    w["W_out"] = rng.standard_normal((num_classes, hidden)) * 0.4
    w["b_out"] = rng.standard_normal(num_classes) * 0.1
    return w


def load_torch_weights(path: str) -> dict[str, np.ndarray]:
    """Load a reference DeepLog ``.pt`` checkpoint (e.g.
    data/persist/ftp/deeplog_exec_model_0.pt) into the numpy layout.

    Gated: torch is not installed in this image.
    """
    try:
        import torch  # noqa: F401
    except ImportError as exc:  # pragma: no cover
        raise NotImplementedError(
            "torch not available in this image; use make_weights() — "
            "the numpy kernel implements the identical forward math"
        ) from exc
    state = torch.load(path, map_location="cpu")  # pragma: no cover
    out: dict[str, np.ndarray] = {}  # pragma: no cover
    for k, v in state.items():  # pragma: no cover
        out[k] = v.numpy().astype(np.float64)
    return out  # pragma: no cover


def _sigmoid(x: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-x))


def _cell_step(
    x: np.ndarray,
    h: np.ndarray,
    c: np.ndarray,
    W_ih: np.ndarray,
    W_hh: np.ndarray,
    b: np.ndarray,
    hidden: int,
) -> tuple[np.ndarray, ...]:
    """One LSTM cell step over the batch (PyTorch gate order i, f, g, o).
    Returns the gates and the new state: (i, f, g, o, c, h)."""
    gates = x @ W_ih.T + h @ W_hh.T + b
    i = _sigmoid(gates[:, :hidden])
    f = _sigmoid(gates[:, hidden : 2 * hidden])
    g = np.tanh(gates[:, 2 * hidden : 3 * hidden])
    o = _sigmoid(gates[:, 3 * hidden :])
    c = f * c + i * g
    return i, f, g, o, c, o * np.tanh(c)


def lstm_logits(X: np.ndarray, w: dict[str, np.ndarray]) -> np.ndarray:
    """Batched LSTM forward: X (B, T) of vocab indices → logits (B, C).

    Identical math to DeepLogExec.forward (models.py:40-63): scalar
    input per step, stacked layers, Linear over the last time step's
    top-layer hidden state. Vectorized over the batch — T is the DeepLog
    window (5/10), so the loop runs T·layers steps of (B,·) matmuls.
    """
    layers = int(w["layers"][0])
    hidden = int(w["hidden"][0])
    B, T = X.shape
    inputs = X.astype(np.float64)[:, :, None]  # (B, T, 1)
    for layer in range(layers):
        W_ih, W_hh = w[f"W_ih_{layer}"], w[f"W_hh_{layer}"]
        b = w[f"b_ih_{layer}"] + w[f"b_hh_{layer}"]
        h = np.zeros((B, hidden))
        c = np.zeros((B, hidden))
        outs = np.empty((B, T, hidden))
        for t in range(T):
            *_, c, h = _cell_step(inputs[:, t, :], h, c, W_ih, W_hh, b, hidden)
            outs[:, t, :] = h
        inputs = outs
    return h @ w["W_out"].T + w["b_out"]


def target_rank(X: np.ndarray, targets: np.ndarray, w: dict[str, np.ndarray]) -> np.ndarray:
    """Rank (0-based) of each observed next-event among logits sorted
    descending — deeplog.py:510,526 ``argsort(output,1,True)`` then
    ``.index(target)``."""
    logits = lstm_logits(X, w)
    order = np.argsort(-logits, axis=1, kind="stable")
    return (order == targets[:, None]).argmax(axis=1)


def _with_vocab_idx(
    seq_df: DataFrame, vocab_rows: list[tuple[str, int]]
) -> tuple[DataFrame, int]:
    """Map each window's event ids (``seq``) and its ``target`` to vocab indices
    JVM-side, through a map literal event_id → vocab_idx (bounded dim,
    F5) with the reserved unknown slot (deeplog.py:170). Adds
    ``seq_idx`` and ``target_idx``; returns (frame, num_classes)."""
    num_classes = max(i for _, i in vocab_rows) + 1
    unknown = F.lit(num_classes - 1)
    pairs: list = []
    for eid, idx in vocab_rows:
        pairs.append(F.lit(eid))
        pairs.append(F.lit(idx))
    vmap = F.create_map(*pairs)
    df = seq_df.withColumn(
        "seq_idx", F.transform(F.col("seq"), lambda e: F.coalesce(vmap[e], unknown))
    ).withColumn("target_idx", F.coalesce(vmap[F.col("target")], unknown))
    return df, num_classes


def score_sequences(
    spark: SparkSession,
    seq_df: DataFrame,
    vocab_rows: list[tuple[str, int]],
    weights: dict[str, np.ndarray] | None = None,
    topk: int = 10,
) -> DataFrame:
    """DeepLog exec-path scoring over ``sequence_windows`` output.

    Adds ``rank`` (position of the observed next event in the model's
    descending-logit order) and ``anomaly`` (rank >= topk,
    deeplog.py:527-529). Event-id → index mapping happens JVM-side via
    a broadcast map literal; only the LSTM matmul is Python, Arrow-
    batched, weights broadcast once per executor.
    """
    df, num_classes = _with_vocab_idx(seq_df, vocab_rows)
    if weights is None:
        weights = make_weights(num_classes)

    bc = spark.sparkContext.broadcast(weights)

    @pandas_udf("int")
    def rank_udf(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        w = bc.value  # unpacked once per task
        for seqs, tgts in it:
            if len(seqs) == 0:
                yield pd.Series([], dtype="int32")
                continue
            X = np.asarray([np.asarray(s) for s in seqs], dtype=np.float64)
            r = target_rank(X, tgts.to_numpy(dtype=np.int64), w)
            yield pd.Series(r, dtype="int32")

    return df.withColumn("rank", rank_udf("seq_idx", "target_idx")).withColumn(
        "anomaly", (F.col("rank") >= F.lit(topk)).cast("int")
    )


# ---------------------------------------------------------------------------
# Training (reference: deeplog.py:600-693 train/train_core — Adam +
# CrossEntropyLoss over (EventSeq, Target) batches; torch absent from this
# image, so forward/backward/Adam are implemented in numpy on the identical
# math. Training data is the bounded windowed-sequence sample the reference
# also materializes in full (deeplog.py:170-277) — collected to the driver
# like the reference's DataLoader; scoring stays distributed.)
# ---------------------------------------------------------------------------


def _forward_cache(X: np.ndarray, w: dict[str, np.ndarray]):
    """LSTM forward identical to :func:`lstm_logits`, keeping per-step
    gate/state tensors for BPTT. Returns (logits, cache)."""
    layers = int(w["layers"][0])
    hidden = int(w["hidden"][0])
    B, T = X.shape
    inputs = X.astype(np.float64)[:, :, None]
    cache = []
    for layer in range(layers):
        W_ih, W_hh = w[f"W_ih_{layer}"], w[f"W_hh_{layer}"]
        b = w[f"b_ih_{layer}"] + w[f"b_hh_{layer}"]
        h = np.zeros((B, hidden))
        c = np.zeros((B, hidden))
        st = {k: np.empty((B, T, hidden)) for k in "ifgoch"}
        st["x"] = inputs
        for t in range(T):
            step = _cell_step(inputs[:, t, :], h, c, W_ih, W_hh, b, hidden)
            for k, v in zip("ifgoch", step):
                st[k][:, t, :] = v
            *_, c, h = step
        cache.append(st)
        inputs = st["h"]
    logits = inputs[:, -1, :] @ w["W_out"].T + w["b_out"]
    return logits, cache


def ce_loss_grad(logits: np.ndarray, y: np.ndarray):
    """Mean cross-entropy over the batch (nn.CrossEntropyLoss default,
    deeplog.py:603) and its gradient wrt logits: (softmax − onehot)/B."""
    B = logits.shape[0]
    z = logits - logits.max(axis=1, keepdims=True)
    ez = np.exp(z)
    p = ez / ez.sum(axis=1, keepdims=True)
    loss = -np.mean(np.log(p[np.arange(B), y] + 1e-300))
    d = p.copy()
    d[np.arange(B), y] -= 1.0
    return loss, d / B


def lstm_grads(
    X: np.ndarray, y: np.ndarray, w: dict[str, np.ndarray]
) -> tuple[float, dict[str, np.ndarray]]:
    """Loss + full analytic gradient (BPTT through every layer/step).
    Finite-difference-checked by tests/test_deeplog.py."""
    layers = int(w["layers"][0])
    hidden = int(w["hidden"][0])
    B, T = X.shape
    logits, cache = _forward_cache(X, w)
    loss, dlogits = ce_loss_grad(logits, y)

    grads = {
        k: np.zeros_like(v)
        for k, v in w.items()
        if k not in ("layers", "hidden")
    }
    top = cache[-1]["h"][:, -1, :]
    grads["W_out"] = dlogits.T @ top
    grads["b_out"] = dlogits.sum(axis=0)

    # dh arriving at each layer-l step from the layer above (for the top
    # layer: only the last step, through the Linear head).
    d_above = np.zeros((B, T, hidden))
    d_above[:, -1, :] = dlogits @ w["W_out"]

    for layer in reversed(range(layers)):
        st = cache[layer]
        W_ih, W_hh = w[f"W_ih_{layer}"], w[f"W_hh_{layer}"]
        dx = np.zeros_like(st["x"])
        dh_next = np.zeros((B, hidden))
        dc_next = np.zeros((B, hidden))
        zeros = np.zeros((B, hidden))
        for t in reversed(range(T)):
            i = st["i"][:, t, :]; f = st["f"][:, t, :]
            g = st["g"][:, t, :]; o = st["o"][:, t, :]
            c = st["c"][:, t, :]
            tc = np.tanh(c)
            dh = d_above[:, t, :] + dh_next
            do = dh * tc
            dc = dc_next + dh * o * (1.0 - tc * tc)
            c_prev = st["c"][:, t - 1, :] if t > 0 else zeros
            h_prev = st["h"][:, t - 1, :] if t > 0 else zeros
            di = dc * g
            df = dc * c_prev
            dg = dc * i
            dgates = np.concatenate(
                [di * i * (1 - i), df * f * (1 - f),
                 dg * (1 - g * g), do * o * (1 - o)],
                axis=1,
            )
            x_t = st["x"][:, t, :]
            grads[f"W_ih_{layer}"] += dgates.T @ x_t
            grads[f"W_hh_{layer}"] += dgates.T @ h_prev
            db = dgates.sum(axis=0)
            grads[f"b_ih_{layer}"] += db
            grads[f"b_hh_{layer}"] += db
            dx[:, t, :] = dgates @ W_ih
            dh_next = dgates @ W_hh
            dc_next = dc * f
        d_above = dx
    return loss, grads


def train_exec_model(
    X: np.ndarray,
    y: np.ndarray,
    num_classes: int,
    hidden: int = 16,
    layers: int = 2,
    epochs: int = 5,
    batch_size: int = 512,
    lr: float = 1e-3,
    seed: int = 7,
    init: dict[str, np.ndarray] | None = None,
) -> tuple[dict[str, np.ndarray], list[float]]:
    """Train the DeepLog exec-path LSTM: Adam(defaults) + mean-CE, shuffled
    minibatches per epoch — the exact recipe of train_core
    (deeplog.py:600-631; optim.Adam defaults lr=1e-3, betas=(0.9, 0.999),
    eps=1e-8). Deterministic for a given seed. Returns the trained weights
    (same dict layout :func:`score_sequences` consumes) and per-epoch mean
    losses."""
    w = init if init is not None else make_weights(num_classes, hidden, layers, seed)
    w = {k: v.copy() for k, v in w.items()}
    keys = [k for k in w if k not in ("layers", "hidden")]
    m = {k: np.zeros_like(w[k]) for k in keys}
    v = {k: np.zeros_like(w[k]) for k in keys}
    b1, b2, eps = 0.9, 0.999, 1e-8
    rng = np.random.default_rng(seed)
    step = 0
    epoch_losses: list[float] = []
    n = X.shape[0]
    for _epoch in range(epochs):
        order = rng.permutation(n)
        total, batches = 0.0, 0
        for s in range(0, n, batch_size):
            idx = order[s : s + batch_size]
            loss, g = lstm_grads(X[idx], y[idx], w)
            step += 1
            for k in keys:
                m[k] = b1 * m[k] + (1 - b1) * g[k]
                v[k] = b2 * v[k] + (1 - b2) * g[k] * g[k]
                mhat = m[k] / (1 - b1**step)
                vhat = v[k] / (1 - b2**step)
                w[k] = w[k] - lr * mhat / (np.sqrt(vhat) + eps)
            total += loss
            batches += 1
        epoch_losses.append(total / max(batches, 1))
    return w, epoch_losses


def train_on_sequences(
    spark: SparkSession,
    seq_df: DataFrame,
    vocab_rows: list[tuple[str, int]],
    max_train: int = 4096,
    **train_kw,
) -> tuple[dict[str, np.ndarray], list[float]]:
    """Distributed-input training front-end: map event ids → vocab
    indices JVM-side (same broadcast map literal as scoring), collect a
    deterministic bounded sample of (seq_idx, target_idx) windows to the
    driver, and run :func:`train_exec_model` on it.

    The reference materializes its whole windowed training set on one
    host too (deeplog.py:170-277 builds the full (EventSeq, Target)
    arrays before the DataLoader); here the collect is capped at
    ``max_train`` windows chosen deterministically by (doc_id,
    session_id, line_no) order, so at 100 TB this is a bounded training
    sample while SCORING stays fully distributed (score_sequences)."""
    df, num_classes = _with_vocab_idx(seq_df, vocab_rows)
    rows = (
        df.select("doc_id", "session_id", "line_no", "seq_idx", "target_idx")
        .orderBy("doc_id", "session_id", "line_no")
        .limit(max_train)
        .collect()
    )
    X = np.asarray([r["seq_idx"] for r in rows], dtype=np.float64)
    y = np.asarray([r["target_idx"] for r in rows], dtype=np.int64)
    return train_exec_model(X, y, num_classes, **train_kw)
