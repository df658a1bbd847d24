"""Operator-level unit tests: match tie-breaks, wildcard templates,
fold edge cases, dedup primitives, scoring kernels.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def _templates(spark, rows):
    from loganalyzer_spark.datagen import TEMPLATE_SCHEMA, event_id_of, template_regex

    full = []
    for tmpl in rows:
        toks = tmpl.split(" ")
        full.append(
            (
                event_id_of(tmpl),
                tmpl,
                len(toks),
                toks[0],
                toks[1] if len(toks) > 1 else "",
                sum(1 for t in toks if t == "<*>"),
                template_regex(tmpl),
            )
        )
    return spark.createDataFrame(full, TEMPLATE_SCHEMA)


def test_match_prefers_more_params_on_tie(spark):
    """fast_match tie-break: max sim then max para (drain.py:494-505).
    Both candidates fully match ⇒ the one with more <*> wins."""
    from loganalyzer_spark.datagen import event_id_of
    from loganalyzer_spark.operators.match import match_templates

    tmpl = _templates(spark, ["Cmd: GET <*>", "Cmd: <*> <*>"])
    lines = spark.createDataFrame([("Cmd: GET thing",)], "masked string")
    out = match_templates(lines, tmpl).collect()[0]
    assert out["event_id"] == event_id_of("Cmd: <*> <*>")
    assert out["is_new"] == 0


def test_match_wildcard_first_token(spark):
    """token_tree_search's '<*>' fallback layer (drain.py:268-284)."""
    from loganalyzer_spark.datagen import event_id_of
    from loganalyzer_spark.operators.match import match_templates

    tmpl = _templates(spark, ["<*> failed hard"])
    lines = spark.createDataFrame(
        [("anything failed hard",), ("nothing matches this",)], "masked string"
    )
    out = {r["masked"]: r for r in match_templates(lines, tmpl).collect()}
    assert out["anything failed hard"]["event_id"] == event_id_of("<*> failed hard")
    assert out["nothing matches this"]["is_new"] == 1


def test_match_unmatched_gets_md5_id(spark):
    from loganalyzer_spark.operators.match import match_templates
    import hashlib

    tmpl = _templates(spark, ["Known: template here"])
    lines = spark.createDataFrame([("Unknown: stuff",)], "masked string")
    out = match_templates(lines, tmpl).collect()[0]
    assert out["event_id"] == hashlib.md5(b"Unknown: stuff").hexdigest()[:8]
    assert out["event_template"] == "Unknown: stuff"


def _fold(spark, text):
    from loganalyzer_spark.operators.fold import fold_lines

    lines = spark.createDataFrame(
        [(1, i, r) for i, r in enumerate(text.split("\n"))],
        "doc_id long, line_no int, raw string",
    )
    return [r["folded"] for r in fold_lines(lines).orderBy("line_no").collect()]


def test_fold_array_semantics(spark):
    """Fold mirrors preprocess_norm (preprocess_base.py:410-499):
    rstrip accumulated + ', ' + lstrip continuation."""
    assert _fold(spark, "a\n  b\n\tc\nd\n  e") == ["a, b, c", "d, e"]


def test_fold_first_line_nested(spark):
    """A leading continuation with no primary keeps its own group."""
    assert _fold(spark, "  orphan\nx") == ["  orphan", "x"]


def test_minhash_similarity_monotone(spark):
    """Identical docs share full signatures; disjoint docs share ~none."""
    from loganalyzer_spark.operators.dedup import minhash_signatures

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),
            (3, "one two three four five six seven"),
        ],
        "doc_id long, text string",
    )
    sigs = {r["doc_id"]: r["sig"] for r in minhash_signatures(docs).collect()}
    assert sigs[1] == sigs[2]
    same = sum(a == b for a, b in zip(sigs[1], sigs[3]))
    assert same <= 4


def test_lsh_bucket_cap_mass_duplicates(spark):
    """Planted mass-duplicate cluster (10k byte-identical docs — the
    boilerplate skew a 100 TB crawl is full of): the band-bucket join
    must emit the O(m) star, never the m²·bands/2 all-pairs blowup
    (VERDICT r4 item 3). The star still connects the whole cluster, so
    survivor resolution keeps exactly the min-id member; distinct
    small-bucket content keeps the exact all-pairs path."""
    from loganalyzer_spark.operators import dedup as DD

    n = 10_000
    boiler = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit(
            "this mirrored boilerplate footer sentence appears on every "
            "single page of the crawl"
        ).alias("text"),
    )
    # a distinct 3-doc near-identical group, ids past the boiler range
    trio = spark.createDataFrame(
        [
            (20_000, "alpha beta gamma delta epsilon zeta eta theta"),
            (20_001, "alpha beta gamma delta epsilon zeta eta theta"),
            (20_002, "alpha beta gamma delta epsilon zeta eta theta"),
        ],
        "doc_id long, text string",
    )
    docs = boiler.unionByName(trio)
    sigs = DD.minhash_signatures(docs)
    pairs = DD.lsh_candidate_pairs(sigs)
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    # bounded: 9,999 star pairs for the big cluster + exact all-pairs
    # (3 choose 2) for the small one — not ~2·10^8
    star = {(0, i) for i in range(1, n)}
    trio_pairs = {(20_000, 20_001), (20_000, 20_002), (20_001, 20_002)}
    assert got == star | trio_pairs
    surv = DD.near_dup_survivors(docs.select("doc_id"), pairs)
    assert sorted(r["doc_id"] for r in surv.collect()) == [0, 20_000]


def test_embedding_lsh_bucket_cap_mass_duplicates(spark):
    """Same guard on the hyperplane-LSH banded join: m identical
    embeddings share every band bucket; with the cap the emitted pairs
    are the star (still cosine-verified, so precision stays 1.0)."""
    from loganalyzer_spark.operators import dedup as DD

    n = 2_000
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr("array(0.5D, -0.25D, 0.125D, 1.0D)").alias("embedding"),
    )
    pairs = DD.embedding_near_dups_lsh(emb, threshold=0.9, bucket_cap=64)
    rows = pairs.collect()
    assert {(r["a"], r["b"]) for r in rows} == {(0, i) for i in range(1, n)}
    assert all(r["cosine"] == 1.0 for r in rows)


def test_simhash_blocked_pairs_and_bucket_cap(spark):
    """simhash_near_pairs: (1) the blocked join finds the pairs the
    exact all-pairs Hamming check would (precision 1.0 — every emitted
    pair is bit_count-verified); (2) a planted mass-duplicate cluster
    (identical fingerprints share EVERY block) emits the O(m) star, not
    the m²·(d+1)/2 all-pairs blowup — the same guard the other two LSH
    joins carry (VERDICT r4 item 3)."""
    from loganalyzer_spark.operators import dedup as DD

    # (1) correctness on distinct content: two near-identical docs and
    # one far one. Near pair must surface with the right Hamming value.
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog tonight"),
            (3, "completely different words appear in this sentence here"),
        ],
        "doc_id long, text string",
    )
    fps = DD.simhash(docs)
    fpv = {r["doc_id"]: r["simhash"] for r in fps.collect()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    expect = {
        (a, b): ham(fpv[a], fpv[b])
        for a in fpv
        for b in fpv
        if a < b and ham(fpv[a], fpv[b]) <= 3
    }
    got = {(r["a"], r["b"]): r["hamming"] for r in
           DD.simhash_near_pairs(fps).collect()}
    # blocked recall: any pair within d agrees on >= 1 of d+1 blocks,
    # so the blocked join finds EXACTLY the exact-check pairs here
    assert got == expect

    # (2) planted mass-duplicate cluster: 2k identical docs -> identical
    # fingerprints -> every block shared. Capped join must emit the star.
    n = 2_000
    boiler = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("mirrored boilerplate footer on every page").alias("text"),
    )
    pairs = DD.simhash_near_pairs(DD.simhash(boiler), bucket_cap=64)
    rows = pairs.collect()
    assert {(r["a"], r["b"]) for r in rows} == {(0, i) for i in range(1, n)}
    assert all(r["hamming"] == 0 for r in rows)


def test_simhash_close_for_near_dups(spark):
    from loganalyzer_spark.operators.dedup import simhash

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog tonight"),
            (3, "completely different words appear in this sentence here"),
        ],
        "doc_id long, text string",
    )
    fp = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(fp[1], fp[2]) < ham(fp[1], fp[3])


def test_cosine_topk_exact(spark):
    from loganalyzer_spark.operators.similarity import cosine_topk

    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = cosine_topk(vecs, vecs.filter("vec_id = 0"), k=2).collect()
    assert [r["neighbor_id"] for r in out] == [1, 2]
    assert out[0]["cosine"] > 0.99


def test_logreg_training_learns(spark):
    import numpy as np

    from loganalyzer_spark.scoring import train_logreg

    rng = np.random.default_rng(42)
    X = rng.normal(size=(400, 3))
    y = (X[:, 0] + 0.5 * X[:, 1] > 0).astype(float)
    w, b = train_logreg(X, y, iters=500, lr=0.5)
    p = 1 / (1 + np.exp(-(X @ w + b)))
    acc = ((p > 0.5) == y).mean()
    assert acc > 0.9
    # determinism
    w2, b2 = train_logreg(X, y, iters=500, lr=0.5)
    assert np.allclose(w, w2) and math.isclose(b, b2)


def test_seq_dist_reference_semantics():
    """Hand-checked cases against drain.py:367-472 behavior."""
    from loganalyzer_spark.operators.match import seq_dist

    # plain param match
    assert seq_dist(["a", "<*>"], ["a", "x"]) == (1.0, 1)
    # first-token mismatch → reject
    assert seq_dist(["a", "b"], ["z", "b"]) == (0.0, 0)
    # two successive mismatches → reject
    assert seq_dist(["a", "b", "c", "d"], ["a", "x", "y", "d"]) == (0.0, 0)
    # single mismatch tolerated (not counted as sim)
    s, p = seq_dist(["a", "b", "c"], ["a", "x", "c"])
    assert (s, p) == (2 / 3, 0)
    # param after mismatch → reject (no '...<*> <*>...' generation)
    assert seq_dist(["a", "b", "<*>"], ["a", "x", "y"]) == (0.0, 0)
    # '<*>' vs '<*>' keeps last_same=True
    assert seq_dist(["a", "<*>", "<*>"], ["a", "<*>", "y"]) == (1.0, 2)
    # special tokens must agree exactly: 'Foo::' vs 'Bar::'
    assert seq_dist(["x", "Foo::"], ["x", "Bar::"]) == (0.0, 0)
    # special-vs-plain token → reject
    assert seq_dist(["x", "call()"], ["x", "call"]) == (0.0, 0)
    # all-param template, single token with digits → sim 1
    assert seq_dist(["<*>"], ["123"]) == (1.0, 1)
    assert seq_dist(["<*>"], ["abc"]) == (0.0, 1)


def test_seq_dist_wildcard_first_token_divergence():
    """Documented, DELIBERATE divergence from the reference loop
    (VERDICT r4 item 7): drain.py:395-399 rejects on ANY first-token
    inequality — including template '<*>' vs a literal log token —
    because in the reference a wildcard-first template is only ever
    compared inside the tree's '<*>' child, where the log's first
    token was itself masked to '<*>'. This repo's match layer compares
    a wildcard-first template against raw-literal first tokens (the
    tree's wildcard branch admits digit-bearing literals), so seq_dist
    treats a leading '<*>' as a parameter slot instead of rejecting.
    Both behaviors asserted side by side against a faithful port of
    the reference's first-token branch."""
    from loganalyzer_spark.operators.match import seq_dist

    def reference_first_token_rejects(tmplt, log):
        # drain.py:391-400, first-iteration branch only: reject iff
        # token1 != token2, with NO wildcard exemption.
        for token1, token2 in zip(tmplt, log):
            return token1 != token2
        return False

    tmpl, log = ["<*>", "bytes", "sent"], ["1024", "bytes", "sent"]
    # the reference loop would reject this pairing outright...
    assert reference_first_token_rejects(tmpl, log)
    # ...this repo scores it: leading '<*>' is a param slot, the two
    # literal tokens match exactly → sim = 2/2, para = 1
    assert seq_dist(tmpl, log) == (1.0, 1)
    # where the log's first token IS the masked wildcard, both agree
    assert not reference_first_token_rejects(tmpl, ["<*>", "bytes", "sent"])
    assert seq_dist(tmpl, ["<*>", "bytes", "sent"]) == (1.0, 1)
    # literal-vs-literal first-token mismatch still rejects in both
    assert reference_first_token_rejects(["a", "b"], ["z", "b"])
    assert seq_dist(["a", "b"], ["z", "b"]) == (0.0, 0)


def test_similarity_matcher_agrees_with_fast_path(spark):
    from tests.conftest import SF_SMALL

    from loganalyzer_spark import datagen
    from loganalyzer_spark.operators import match as M
    from loganalyzer_spark.operators import parse as P

    lines = P.mask(P.wash(datagen.raw_lines(spark, SF_SMALL))).cache()
    tmpl = datagen.templates_df(spark)
    fast = M.match_templates(lines, tmpl).select("doc_id", "line_no", "event_id")
    slow = M.match_similarity(lines, tmpl).select("doc_id", "line_no", "event_id")
    assert fast.exceptAll(slow).count() == 0
    assert slow.exceptAll(fast).count() == 0


def test_match_all_wildcard_template_loses_to_literal(spark):
    """fast_match tie-break edge (drain.py:458-462, 494-505): an
    all-wildcard template scores seq_dist 0.0 (const_num == 0), so a
    fully-matching wildcard-first template WITH a literal (sim 1.0)
    must win despite having fewer parameters. The JVM array-filter path
    ordered by para_count alone would wrongly prefer '<*> <*>'; both
    paths must pick '<*> b' and agree with each other."""
    from loganalyzer_spark.operators import match as M

    tmpl = spark.createDataFrame(
        [
            ("allwild0", "<*> <*>", 2, "<*>", 2),
            ("literal1", "<*> b", 2, "<*>", 1),
        ],
        "event_id string, event_template string, token_count int, "
        "first_token string, para_count int",
    )
    lines = spark.createDataFrame(
        [(1, 1, "x b"), (1, 2, "x y")],
        "doc_id long, line_no long, masked string",
    )
    fast = {
        r["line_no"]: r["event_id"]
        for r in M.match_templates(lines, tmpl).collect()
    }
    slow = {
        r["line_no"]: r["event_id"]
        for r in M.match_similarity(lines, tmpl).collect()
    }
    # 'x b' full-matches both candidates: the literal-bearing template
    # wins on sim. 'x y' full-matches only the all-wildcard template
    # (accepted: threshold 0.6*(2-2)/2 = 0, sim 0 >= 0).
    assert fast == {1: "literal1", 2: "allwild0"}
    assert slow == fast


def test_embedding_near_dups_lsh_recall(spark):
    """LSH-blocked near-dup: precision 1.0 by construction (exact verify
    predicate); recall on planted near-identical pairs must be 1.0 —
    tiny perturbations keep all sign bits, so twins share every band."""
    import numpy as np

    from loganalyzer_spark.operators import dedup as DD

    rng = np.random.default_rng(11)
    base = rng.normal(size=(20, 64))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        # planted twin: same direction, microscopic perturbation
        rows.append((100 + i, [float(x) for x in v + 1e-6]))
    emb = spark.createDataFrame(rows, "vec_id: int, embedding: array<double>")

    exact = DD.embedding_near_dups(emb, threshold=0.99)
    lsh = DD.embedding_near_dups_lsh(emb, threshold=0.99)
    exact_pairs = {(r["a"], r["b"]) for r in exact.collect()}
    lsh_pairs = {(r["a"], r["b"]) for r in lsh.collect()}

    planted = {(i, 100 + i) for i in range(20)}
    assert planted <= exact_pairs
    assert planted <= lsh_pairs  # recall 1.0 on twins
    assert lsh_pairs <= exact_pairs  # precision 1.0 (verified pairs only)


def test_lsh_band_plan_guarantees():
    """The derived (nbands, width) must hit target recall at the
    operating threshold and fit one 63-bit long signature."""
    import math

    from loganalyzer_spark.operators.dedup import lsh_band_plan

    for t in (0.35, 0.5, 0.7, 0.9, 0.95, 0.99, 1.0):
        b, w = lsh_band_plan(t)
        assert 1 <= b * w <= 60
        p = 1.0 - math.acos(min(t, 1.0)) / math.pi
        recall_at_t = 1.0 - (1.0 - p**w) ** b
        assert recall_at_t >= 0.95 - 1e-9, (t, b, w, recall_at_t)


def test_embedding_near_dups_lsh_recall_at_registered_threshold(spark):
    """Recall vs brute force at the REGISTERED operating point (0.35)
    on realistic noise-perturbed pairs — not near-identical twins,
    which any banding passes.  Guards the round-2 defect: a fixed
    4×8-bit plan retrieved ~7 % of true pairs at this threshold; the
    threshold-derived plan must retrieve ≥ 90 %."""
    import numpy as np

    from loganalyzer_spark.operators import dedup as DD

    rng = np.random.default_rng(7)
    dim, t = 64, 0.35
    rows = []
    vid = 0
    true_pairs = 0
    for _ in range(60):
        v = rng.normal(size=dim)
        v /= np.linalg.norm(v)
        # perturbed partner with cosine spread across [~t, ~0.9]:
        # mix with an orthogonalized noise vector at a random angle
        n = rng.normal(size=dim)
        n -= n.dot(v) * v
        n /= np.linalg.norm(n)
        c = rng.uniform(t + 0.02, 0.9)
        w = c * v + np.sqrt(1 - c * c) * n
        rows.append((vid, [float(x) for x in v]))
        rows.append((vid + 1, [float(x) for x in w]))
        vid += 2
        true_pairs += 1
    emb = spark.createDataFrame(rows, "vec_id: int, embedding: array<double>")

    exact = {
        (r["a"], r["b"])
        for r in DD.embedding_near_dups(emb, threshold=t).collect()
    }
    lsh = {
        (r["a"], r["b"])
        for r in DD.embedding_near_dups_lsh(emb, threshold=t).collect()
    }
    assert lsh <= exact  # precision 1.0
    planted = {(i, i + 1) for i in range(0, 2 * true_pairs, 2)} & exact
    assert len(planted) >= 50  # the construction really plants pairs >= t
    recall = len(lsh & planted) / len(planted)
    assert recall >= 0.90, f"recall {recall:.3f} over {len(planted)} pairs"


def test_sources_table_abstraction(spark, tmp_path):
    """Iceberg-or-parquet source layer: ref detection, parquet fallback
    read, MERGE SQL shape, and the parquet upsert emulation."""
    from loganalyzer_spark import sources as S

    assert S.is_table_ref("prod.cc.web_pages")
    assert S.is_table_ref("cc.web_pages")
    assert not S.is_table_ref("/data/sf0.1")
    assert not S.is_table_ref("sf0.1/documents.parquet")

    sql = S.merge_template_lib_sql("prod.cc.template_lib")
    assert "MERGE INTO prod.cc.template_lib" in sql
    assert "WHEN NOT MATCHED" in sql

    pages = S.read_web_pages(spark, "/root/testdata/sf0.001")
    assert "text" in pages.columns

    # upsert emulation: second batch increments counts, keeps template
    lib = str(tmp_path / "lib")
    b1 = spark.createDataFrame(
        [("e1", "T one"), ("e1", "T one"), ("e2", "T two")],
        "event_id: string, event_template: string",
    )
    S.upsert_template_lib(spark, b1, lib)
    b2 = spark.createDataFrame(
        [("e1", "T one"), ("e3", "T three")],
        "event_id: string, event_template: string",
    )
    S.upsert_template_lib(spark, b2, lib)
    got = {
        r["event_id"]: r["occurrences"]
        for r in spark.read.parquet(lib).collect()
    }
    assert got == {"e1": 3, "e2": 1, "e3": 1}


def test_upsert_template_lib_keeps_a_corrupt_library(spark, tmp_path):
    """A committed library that fails to read makes the upsert raise and
    stay untouched; it is not replaced by the new batch alone."""
    from loganalyzer_spark import sources as S

    lib = tmp_path / "lib"
    S.upsert_template_lib(spark, spark.createDataFrame(
        [("e1", "T one"), ("e1", "T one"), ("e2", "T two")],
        "event_id: string, event_template: string",
    ), str(lib))
    for part in lib.glob("part-*"):
        part.write_bytes(b"not a parquet file")
    before = {p.name: p.read_bytes() for p in lib.iterdir()}
    with pytest.raises(Exception):
        S.upsert_template_lib(spark, spark.createDataFrame(
            [("e3", "T three")], "event_id: string, event_template: string",
        ), str(lib))
    assert {p.name: p.read_bytes() for p in lib.iterdir()} == before


def test_ivf_ann_recall(spark):
    """IVF ANN: top-1 neighbor recall vs brute force on clustered data.
    Clustered vectors (what IVF assumes) -> the true nearest neighbor
    lives in the same or a probed cell; recall@1 must be high."""
    import numpy as np

    from loganalyzer_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_ivf,
    )

    rng = np.random.default_rng(5)
    centers = rng.normal(size=(4, 64)) * 5
    rows = []
    vid = 0
    for c in centers:
        for _ in range(50):
            rows.append((vid, [float(x) for x in c + rng.normal(size=64)]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id: int, embedding: array<double>")
    queries = emb.filter(F.col("vec_id") % 50 == 0)

    exact = cosine_topk(emb, queries, k=1)
    ivf = cosine_topk_ivf(emb, queries, k=1, n_cells=4, nprobe=2)
    exact_top = {r["query_id"]: r["neighbor_id"] for r in exact.collect()}
    ivf_top = {r["query_id"]: r["neighbor_id"] for r in ivf.collect()}
    hits = sum(1 for q, n in exact_top.items() if ivf_top.get(q) == n)
    assert hits / len(exact_top) >= 0.75  # probed-cell recall on clustered data


def test_wash_class_label_and_labels(spark):
    """P9/P10/S5 label extraction on crafted lines — covers the cNNN
    class label path the synthetic corpus never hits (wash derives all
    flags from a single anchored-prefix extract; this pins the
    group semantics)."""
    from loganalyzer_spark.operators import parse

    rows = [
        (1, 0, "2022-06-22 10:00:00 abn: segsign: c007 Command: RETR x.dat"),
        (1, 1, "2022-06-22 10:00:01 c123 Response: 230 Login successful"),
        (1, 2, "2022-06-22 10:00:02 plain line"),
        (1, 3, "no timestamp line"),
        (1, 4, "2022-06-22 10:00:03    "),  # empty content -> purged
    ]
    df = spark.createDataFrame(rows, "doc_id: long, line_no: long, raw: string")
    got = {
        r["line_no"]: (
            r["has_ts"], r["is_abn"], r["is_seg"], r["class_label"], r["content"]
        )
        for r in parse.wash(df).collect()
    }
    assert got[0] == (1, 1, 1, "c007 ", "Command: RETR x.dat")
    assert got[1] == (1, 0, 0, "c123 ", "Response: 230 Login successful")
    assert got[2] == (1, 0, 0, "", "plain line")
    assert got[3] == (0, 0, 0, "", "no timestamp line")
    assert 4 not in got  # P3 purge


def test_connected_components(spark):
    """Min-label propagation on a known graph: two chains and an
    isolated pair — every node must get its component's min id,
    including multi-hop chains (the part one-shot SQL can't do)."""
    from loganalyzer_spark.operators import dedup as DD

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (5, 4)],
        "a: long, b: long",
    )
    got = {
        r["node"]: r["comp"] for r in DD.connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_long_chain(spark):
    """A 120-node chain (diameter 119) must converge inside
    20 rounds — only possible with pointer doubling (plain
    neighbor-min propagation needs ~119 rounds; ADVICE r01 flagged the
    silent non-convergence)."""
    from loganalyzer_spark.operators import dedup as DD

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], "a: long, b: long"
    )
    got = {
        r["node"]: r["comp"]
        for r in DD.connected_components(pairs).collect()
    }
    assert got == {i: 0 for i in range(121)}


def test_near_dup_survivors(spark):
    from loganalyzer_spark.operators import dedup as DD

    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id: long")
    pairs = spark.createDataFrame([(0, 3), (1, 4)], "a: long, b: long")
    kept = sorted(
        r["doc_id"] for r in DD.near_dup_survivors(docs, pairs).collect()
    )
    assert kept == [0, 1, 2, 5]


def _lstm_rank_scalar_loop(seq, target, w):
    """Independent scalar-Python DeepLog forward (math.* only, no numpy
    batching) — the parity oracle for the Arrow kernel, mirroring the
    M5 reference-loop pattern. Implements DeepLogExec.forward
    (models.py:40-63) one gate element at a time."""
    import math

    layers = int(w["layers"][0])
    H = int(w["hidden"][0])
    sig = lambda v: 1.0 / (1.0 + math.exp(-v))
    inputs = [[float(x)] for x in seq]  # T × in_size
    for layer in range(layers):
        W_ih = w[f"W_ih_{layer}"].tolist()
        W_hh = w[f"W_hh_{layer}"].tolist()
        b = (w[f"b_ih_{layer}"] + w[f"b_hh_{layer}"]).tolist()
        h = [0.0] * H
        c = [0.0] * H
        outs = []
        for x_t in inputs:
            gates = []
            for row in range(4 * H):
                acc = b[row]
                for j, xv in enumerate(x_t):
                    acc += W_ih[row][j] * xv
                for j in range(H):
                    acc += W_hh[row][j] * h[j]
                gates.append(acc)
            new_c, new_h = [], []
            for j in range(H):
                i_g = sig(gates[j])
                f_g = sig(gates[H + j])
                g_g = math.tanh(gates[2 * H + j])
                o_g = sig(gates[3 * H + j])
                cv = f_g * c[j] + i_g * g_g
                new_c.append(cv)
                new_h.append(o_g * math.tanh(cv))
            c, h = new_c, new_h
            outs.append(list(h))
        inputs = outs
    W_out = w["W_out"].tolist()
    b_out = w["b_out"].tolist()
    logits = [
        b_out[k] + sum(W_out[k][j] * h[j] for j in range(H))
        for k in range(len(b_out))
    ]
    order = sorted(range(len(logits)), key=lambda k: (-logits[k], k))
    return order.index(target)


def test_deeplog_kernel_parity():
    """Batched numpy LSTM kernel == scalar Python loop, rank for rank."""
    import numpy as np

    from loganalyzer_spark import deeplog as DL

    C = 12
    w = DL.make_weights(C, hidden=6, layers=2, seed=3)
    rng = np.random.default_rng(11)
    X = rng.integers(0, C, size=(40, 5))
    tgts = rng.integers(0, C, size=40)
    got = DL.target_rank(X, tgts, w)
    for n in range(40):
        assert got[n] == _lstm_rank_scalar_loop(X[n], int(tgts[n]), w), n


def test_deeplog_score_sequences(spark):
    """E2E: rank/anomaly columns over real sequence windows; JVM-side
    vocab mapping (unknown → reserved slot) matches the kernel run on
    the same indices."""
    import numpy as np

    from loganalyzer_spark import datagen
    from loganalyzer_spark import deeplog as DL
    from loganalyzer_spark.operators import aggregate as A
    from loganalyzer_spark.operators import parse as P
    from loganalyzer_spark.queries import _routed

    routed = P.sessionize(_routed(spark, "/root/testdata/sf0.001"))
    seq = A.sequence_windows(routed)
    vr = datagen.vocab_rows()
    out = DL.score_sequences(spark, seq, vr, topk=3)
    rows = out.select("seq_idx", "target_idx", "rank", "anomaly").collect()
    assert rows, "no sequence windows produced"
    C = max(i for _, i in vr) + 1
    w = DL.make_weights(C)
    X = np.asarray([r["seq_idx"] for r in rows], dtype=np.float64)
    t = np.asarray([r["target_idx"] for r in rows], dtype=np.int64)
    expect = DL.target_rank(X, t, w)
    for n, r in enumerate(rows):
        assert r["rank"] == expect[n]
        assert r["anomaly"] == int(expect[n] >= 3)
    assert all(0 <= r["target_idx"] < C for r in rows)


def test_sample_threshold_hex():
    """Threshold quantization and the rate>=1 'g' sentinel (a 5-char
    '10000' would sort BELOW 'ffff' lexicographically)."""
    from loganalyzer_spark.operators.sample import _threshold_hex

    assert _threshold_hex(0.0) == "0000"
    assert _threshold_hex(0.1) == "1999"   # floor(0.1 * 65536) = 6553
    assert _threshold_hex(0.9) == "e666"
    assert _threshold_hex(1.0) == "g"
    assert "g" > "ffff"  # sentinel sorts above every 4-char hex
    assert not ("ffff" < "10000")  # why format(65536) can't express keep-all


def test_sample_hash_deterministic_and_uniform(spark):
    """Same rows selected on every run/partitioning; rate within
    binomial noise; split is a partition of the corpus; keep-all
    stratum keeps everything."""
    import hashlib

    from pyspark.sql import functions as F

    from loganalyzer_spark.operators import sample as SMP

    docs = spark.range(0, 5000).select(
        F.col("id").alias("doc_id"),
        F.col("id").cast("string").alias("k"),
        (F.col("id") % 3).cast("string").alias("stratum"),
    )
    got1 = sorted(r["doc_id"] for r in SMP.sample_hash(docs, "k", 0.2).collect())
    got2 = sorted(
        r["doc_id"]
        for r in SMP.sample_hash(docs.repartition(7), "k", 0.2).collect()
    )
    assert got1 == got2, "sample must not depend on partitioning"
    # independent python-side oracle
    expect = [
        i for i in range(5000)
        if hashlib.md5(str(i).encode()).hexdigest()[:4] < "3333"
    ]
    assert got1 == expect
    assert abs(len(got1) / 5000 - 0.2) < 0.03

    split = docs.withColumn("s", SMP.split_column("k", 0.75))
    cnt = {r["s"]: r["n"] for r in split.groupBy("s").agg(F.count("*").alias("n")).collect()}
    assert cnt["train"] + cnt["val"] == 5000
    assert abs(cnt["train"] / 5000 - 0.75) < 0.03

    strat = SMP.stratified_sample(docs, "k", "stratum", {"0": 0.5})
    per = {r["stratum"]: r["n"] for r in strat.groupBy("stratum").agg(F.count("*").alias("n")).collect()}
    assert per["1"] == 1667 and per["2"] == 1666  # keep-all strata intact
    assert abs(per["0"] / (5000 / 3) - 0.5) < 0.06

    # empty rates dict = no stratum constrained -> identity, not a crash
    assert SMP.stratified_sample(docs, "k", "stratum", {}).count() == 5000


def test_repetition_stats_matches_counter_oracle(spark):
    """top_tok_frac's sort_array+aggregate max-run must equal the mode
    count a Counter would give; bigram/distinct ratios vs python oracle."""
    from collections import Counter

    from loganalyzer_spark.operators import textstats as TS

    texts = [
        "the the the cat sat",                  # mode=3/5, dup bigram "the the" x2
        "a b c d e",                            # all distinct
        "x",                                    # single token, no bigrams
        "go go go go",                          # mode=4/4, bigrams all same
        "one two one two one",                  # alternating
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    got = {
        r["doc_id"]: r
        for r in TS.repetition_stats(docs).collect()
    }
    for i, t in enumerate(texts):
        toks = t.lower().split()
        n = len(toks)
        mode = Counter(toks).most_common(1)[0][1]
        bigrams = [f"{toks[j]} {toks[j+1]}" for j in range(n - 1)]
        r = got[i]
        assert r["n_toks"] == n
        assert abs(r["distinct_ratio"] - len(set(toks)) / n) < 1e-6
        assert abs(r["top_tok_frac"] - mode / n) < 1e-6
        if bigrams:
            exp_bi = 1 - len(set(bigrams)) / len(bigrams)
        else:
            exp_bi = 0.0
        assert abs(r["dup_bigram_frac"] - exp_bi) < 1e-6


def test_canonicalize_url_edge_cases(spark):
    from loganalyzer_spark.operators import web as W

    cases = [
        # (input, expected canon, expected host)
        ("HTTPS://WWW.Site01.Example:443/a/b/?utm_source=x&b=2&a=1#frag",
         "https://site01.example/a/b?a=1&b=2", "site01.example"),
        ("http://host.example:80/path/", "http://host.example/path",
         "host.example"),
        ("https://host.example:8443/p", "https://host.example:8443/p",
         "host.example:8443"),  # non-default port retained
        ("https://host.example", "https://host.example", "host.example"),
        ("https://host.example/?", "https://host.example", "host.example"),
        ("https://www.host.example/x?z=1&y=2&utm_medium=m",
         "https://host.example/x?y=2&z=1", "host.example"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _, _) in enumerate(cases)], ["i", "url"]
    )
    rows = {r["i"]: r for r in W.canonicalize_url(df).collect()}
    for i, (u, canon, host) in enumerate(cases):
        assert rows[i]["canon_url"] == canon, (u, rows[i]["canon_url"])
        assert rows[i]["host"] == host, (u, rows[i]["host"])


def test_redact_pii_patterns(spark):
    from loganalyzer_spark.operators import web as W

    df = spark.createDataFrame(
        [
            (0, "mail bob.smith+x@corp.example.com now"),
            (1, "from 192.168.0.1 to 10.0.0.255."),
            (2, "ssn 123-45-6789 tel 415-555-1234"),
            (3, "nothing to see 12345 here v1.2"),
        ],
        ["i", "text"],
    )
    rows = {r["i"]: r for r in W.redact_pii(df).collect()}
    assert rows[0]["redacted"] == "mail <EMAIL> now" and rows[0]["n_pii"] == 1
    assert rows[1]["redacted"] == "from <IP> to <IP>." and rows[1]["n_pii"] == 2
    assert rows[2]["redacted"] == "ssn <SSN> tel <PHONE>"
    assert rows[2]["n_pii"] == 2
    assert rows[3]["redacted"] == rows[3]["text"] and rows[3]["n_pii"] == 0


def test_latest_snapshot_tiebreak(spark):
    import datetime as dt

    from loganalyzer_spark.operators import web as W

    t0 = dt.datetime(2022, 6, 22, 12, 0, 0)
    t1 = dt.datetime(2022, 6, 23, 12, 0, 0)
    rows = [
        # url A: distinct timestamps — newest (t1) wins regardless of snap_id
        ("https://a.example/x", t0, 2, "old"),
        ("https://a.example/x", t1, 0, "new"),
        # url B: tied timestamps — highest snap_id wins
        ("https://b.example/y", t0, 0, "b0"),
        ("https://b.example/y", t0, 1, "b1"),
    ]
    df = spark.createDataFrame(rows, ["url", "warc_ts", "snap_id", "text"])
    out = {r["canon_url"]: r for r in W.latest_snapshot(df).collect()}
    assert out["https://a.example/x"]["text"] == "new"
    assert out["https://a.example/x"]["snap_id"] == 0
    assert out["https://b.example/y"]["text"] == "b1"


def test_word_ngrams_and_decontaminate(spark):
    from loganalyzer_spark.operators import web as W

    docs = spark.createDataFrame(
        [
            # 0: shares the trigram "a b c" with benchmark doc 100 (twice
            #    in text — array_distinct must count it once)
            (0, "a b c x y z a b c"),
            # 1: no 3-gram overlap with the benchmark
            (1, "p q r s t"),
            # 2: shorter than n — zero grams, never a hit
            (2, "a b"),
            # 3: shares two distinct benchmark trigrams
            (3, "a b c d e"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "a b c d q")], ["doc_id", "text"]
    )

    grams = {
        r["doc_id"]: r["grams"]
        for r in W.word_ngrams(docs, 3).collect()
    }
    assert grams[2] == []
    assert sorted(grams[3]) == ["a b c", "b c d", "c d e"]
    # dedup inside the doc: "a b c" appears twice in doc 0 but once here
    assert grams[0].count("a b c") == 1

    out = {
        r["doc_id"]: r
        for r in W.decontaminate(docs, bench).collect()
    }
    assert set(out) == {0, 3}
    # 9 words → 7 trigrams, "a b c" twice → 6 distinct
    assert out[0]["n_hits"] == 1 and out[0]["n_grams"] == 6
    assert out[3]["n_hits"] == 2 and out[3]["n_grams"] == 3


def test_lm_perplexity_smoothed_bigram(spark):
    from math import exp, log

    from loganalyzer_spark.operators import web as W

    # Reference slice: vocab {a,b,c} (V=3); bigram counts
    # c(a,b)=2, c(b,a)=1, c(b,c)=1; context counts c1(a)=2, c1(b)=2.
    ref = spark.createDataFrame(
        [(100, "a b a b c")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [
            (0, "a b"),      # seen bigram: ln((2+1)/(2+3))
            (1, "c a"),      # unseen bigram, unseen context: ln(1/3)
            (2, "a"),        # < 2 tokens -> no output row
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in W.lm_perplexity(corpus, ref).collect()}
    assert set(out) == {0, 1}

    lp0 = round(log(3 / 5), 6)
    assert out[0]["n_bigrams"] == 1
    assert out[0]["avg_logp"] == round(lp0, 4)
    assert out[0]["ppl"] == round(exp(-round(lp0, 4)), 2)

    # c(c,a)=0 and c1(c)=0: add-one smoothing floors at ln(1/V)
    lp1 = round(log(1 / 3), 6)
    assert out[1]["avg_logp"] == round(lp1, 4)

    # Derived cutoffs (the CCNet recipe): the single ref doc's own
    # ppl is both terciles. ref "a b a b c" -> 4 bigrams with lps
    # ln(3/5), ln(2/5), ln(3/5), ln(2/5); avg rounds to -0.7136,
    # ppl = round(exp(0.7136), 2) = 2.04. doc0 ppl 1.67 < 2.04 -> head;
    # doc1 ppl 3.0 >= 2.04 -> tail.
    assert {d: r["lm_bucket"] for d, r in out.items()} == {0: "head", 1: "tail"}


def test_dsir_importance_weights(spark):
    """dsir_weights must equal the hand-computed hashed-n-gram
    importance weights (Xie et al. 2023 eq. 2 with add-one smoothing),
    and rank target-like documents above off-distribution ones."""
    import hashlib
    from collections import Counter
    from math import log

    from loganalyzer_spark.operators import web as W

    rows = [
        (0, "the cat sat", True),     # target
        (1, "the cat ran", True),     # target
        (2, "the cat sat", False),    # identical to target doc -> high w
        (3, "zq xv kj", False),       # off-distribution -> low w
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "is_target"])
    out = {r["doc_id"]: r for r in W.dsir_weights(docs, buckets=64).collect()}

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % 64

    def grams(t):
        w = t.split(" ")
        return w + [" ".join(w[i : i + 2]) for i in range(len(w) - 1)]

    raw, tgt = Counter(), Counter()
    for _, t, is_t in rows:
        for g in grams(t):
            raw[bucket(g)] += 1
            if is_t:
                tgt[bucket(g)] += 1
    raw_tot, tgt_tot = sum(raw.values()), sum(tgt.values())
    ratio = {
        b: round(
            log((tgt[b] + 1) / (tgt_tot + 64)) - log((raw[b] + 1) / (raw_tot + 64)),
            4,
        )
        for b in raw
    }
    micro = {b: round(v * 1e4) * 100 for b, v in ratio.items()}
    for doc_id, t, _ in rows:
        gs = grams(t)
        assert out[doc_id]["n_grams"] == len(gs)
        assert out[doc_id]["logw_micro"] == sum(micro[bucket(g)] for g in gs)

    # ranking: the target-identical doc outweighs the off-distribution one
    assert out[2]["logw_micro"] > out[3]["logw_micro"]
    # keep = integer rank over (logw_micro, doc_id) > floor(0.75 * n)
    # (no float percentile anywhere — the r4 driver-env hash-flip fix)
    order = sorted(out.values(), key=lambda r: (r["logw_micro"], r["doc_id"]))
    n = len(order)
    for rk, r in enumerate(order, start=1):
        assert r["keep"] == (rk > (3 * n) // 4)


def _assert_dsir_keep_is_exact_rank(out_rows, keep_quantile):
    order = sorted(out_rows, key=lambda r: (r["logw_micro"], r["doc_id"]))
    k = int(len(order) * keep_quantile)  # floor for the defaults used
    for rk, r in enumerate(order, start=1):
        assert r["keep"] == (rk > k), (r["doc_id"], rk, k)


def test_dsir_keep_cutoff_selection_adversarial(spark):
    """The distributed cutoff selection must equal the brute integer
    rank rule on the distributions that stress it: a giant tie
    straddling the cutoff (the GK bracket collapses to one value and
    the tie-break by doc_id decides every keep bit), all-unique keys,
    and n small enough that floor(q*n) = 0 (keep-all)."""
    from loganalyzer_spark.operators import web as W

    # 40 identical docs (one logw value, ranks 1..40 decided purely by
    # doc_id) + 10 distinct docs; the 0.75 cutoff of n=50 is rank 37,
    # inside the tie.
    rows = [(i, "the cat sat on the mat", i < 3) for i in range(40)]
    rows += [(100 + j, f"uniq{j} tok{j} w{j} cat", False) for j in range(10)]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "is_target"])
    out = W.dsir_weights(docs, buckets=32).collect()
    assert len(out) == 50
    tie = {r["logw_micro"] for r in out if r["doc_id"] < 40}
    assert len(tie) == 1  # the planted tie is real
    _assert_dsir_keep_is_exact_rank(out, 0.75)

    # all-unique keys (distinct texts of varying length)
    uniq = spark.createDataFrame(
        [(i, "tok " * (i + 1) + f"id{i}", i % 4 == 0) for i in range(23)],
        ["doc_id", "text", "is_target"],
    )
    out_u = W.dsir_weights(uniq, buckets=32).collect()
    assert len({(r["logw_micro"], r["doc_id"]) for r in out_u}) == 23
    _assert_dsir_keep_is_exact_rank(out_u, 0.75)

    # n=1: floor(0.75*1) = 0 -> keep everything
    one = spark.createDataFrame(
        [(0, "solo doc", True)], ["doc_id", "text", "is_target"]
    )
    assert [r["keep"] for r in W.dsir_weights(one, buckets=8).collect()] == [True]

    # keep_quantile=1.0: rank > n never holds -> keep nothing (the
    # selection must fetch rank n, the max key, and compare strictly)
    few = spark.createDataFrame(
        [(i, f"doc {i} text", i == 0) for i in range(5)],
        ["doc_id", "text", "is_target"],
    )
    out_none = W.dsir_weights(few, buckets=8, keep_quantile=1.0).collect()
    assert [r["keep"] for r in out_none] == [False] * 5


def test_dsir_selection_partition_and_aqe_invariant(spark):
    """``web._nth_key`` reads partition ids and row positions from
    ``monotonically_increasing_id``; the selected rows must not depend
    on the shuffle partition count or on AQE. Three corners of the
    1/8/37 partitions x AQE off/on matrix, all measured equal at sf0.001."""
    from perfbench.harness import fingerprint
    from tests.conftest import SF_SMALL

    from loganalyzer_spark.queries import dsir_importance_weights

    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        for parts, aqe in ((1, "false"), (8, "true"), (37, "true")):
            spark.conf.set(keys[0], str(parts))
            spark.conf.set(keys[1], aqe)
            got = fingerprint(dsir_importance_weights(spark, SF_SMALL))
            assert got == (500, 3466322519750571501), (parts, aqe)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_incremental_partial_fit_convergence():
    """IncrementalLogReg (the loglizer inc_updt path, loglizer.py:
    429-471) must converge to the same decision function as the
    single-shot batch fit: partial_fit over windowed batches — in
    EITHER batch order — reaches prediction parity with train_logreg
    on the full data, and state round-trips exactly (the joblib
    persist analogue)."""
    import numpy as np

    from loganalyzer_spark.scoring import IncrementalLogReg, train_logreg

    rng = np.random.RandomState(7)
    n, d = 240, 6
    X = rng.normal(size=(n, d))
    w_true = np.array([1.5, -2.0, 0.7, 0.0, 1.1, -0.4])
    y = ((X @ w_true + 0.3) > 0).astype(np.float64)

    w_ref, b_ref = train_logreg(X, y, iters=400, lr=0.5)
    pred_ref = (X @ w_ref + b_ref) > 0

    batches = [(X[i::4], y[i::4]) for i in range(4)]
    for order in (batches, batches[::-1]):
        m = IncrementalLogReg(d)
        for _ in range(30):
            for Xb, yb in order:
                m.partial_fit(Xb, yb)
        pred_inc = (X @ m.w + m.b) > 0
        assert (pred_inc == pred_ref).mean() >= 0.98
        # the incremental model itself separates the training data
        assert (pred_inc == y.astype(bool)).mean() >= 0.95

    # persistence: resume from state continues bit-identically
    m1 = IncrementalLogReg(d)
    m1.partial_fit(*batches[0])
    m2 = IncrementalLogReg.from_state(m1.to_state())
    m1.partial_fit(*batches[1])
    m2.partial_fit(*batches[1])
    assert np.array_equal(m1.w, m2.w) and m1.b == m2.b
    assert m1.n_seen == m2.n_seen


def test_kfold_validate(spark):
    """kfold_validate (loglab.py:662-671 parity): deterministic folds,
    per-fold accuracy near 1.0 on separable data, fold=-1 mean row."""
    import numpy as np

    from loganalyzer_spark.scoring import kfold_validate

    rng = np.random.RandomState(3)
    rows = []
    for i in range(100):
        label = i % 2
        base = 2.0 if label else -2.0
        rows.append(
            (i, [float(base + rng.normal(scale=0.3)) for _ in range(4)], label)
        )
    vec = spark.createDataFrame(
        rows, "doc_id long, vec array<double>, label int"
    )
    out = {r["fold"]: r for r in kfold_validate(spark, vec).collect()}
    assert set(out) == {-1, 0, 1, 2, 3, 4}
    for f in range(5):
        assert out[f]["n_test"] == 20 and out[f]["n_train"] == 80
        assert out[f]["accuracy"] >= 0.9
    assert out[-1]["accuracy"] == round(
        sum(out[f]["accuracy"] for f in range(5)) / 5, 6
    )
    # determinism: second run bit-identical
    again = {r["fold"]: r for r in kfold_validate(spark, vec).collect()}
    assert again == out


def test_c4_clean(spark):
    """c4_clean must apply the C4 heuristics in the documented order:
    line filters, page bans on ORIGINAL lines, >=min_kept page rule,
    then corpus-wide keep-first dedup among surviving pages only."""
    from loganalyzer_spark.operators import web as W

    BOILER = "Shared boilerplate sentence appears everywhere."
    rows = [
        # doc 0: 8 lines, 5 kept (first boilerplate occurrence) -> kept page
        (0, 0, "The quick brown fox jumps over the lazy dog."),
        (0, 1, "Subscribe now."),                                # 2 words
        (0, 2, "Home About Contact"),                            # no punct
        (0, 3, "Please enable JavaScript to continue browsing."),  # js ban
        (0, 4, BOILER),
        (0, 5, "Another valid sentence with enough words here."),
        (0, 6, "Yet another valid sentence for the page!"),
        (0, 7, 'He said the word was "stop."'),
        # doc 1: lorem-ipsum page ban; its boilerplate must NOT steal
        # first occurrence from doc 2
        (1, 0, "Lorem Ipsum dolor sit amet consectetur."),
        (1, 1, BOILER),
        # doc 2: 6 kept lines, boilerplate deduped away -> n_unique 5
        (2, 0, BOILER),
        (2, 1, "Sentence one about the first topic today."),
        (2, 2, "Sentence two about the second topic today."),
        (2, 3, "Sentence three about the third topic today."),
        (2, 4, "Sentence four about the fourth topic today."),
        (2, 5, "Sentence five about the fifth topic today."),
        # doc 3: only 3 kept -> fails the >=5 kept-lines page rule
        (3, 0, "First valid sentence on this short page."),
        (3, 1, "Second valid sentence on this short page."),
        (3, 2, "Third valid sentence on this short page."),
        (3, 3, "Nav Bar Junk"),
        # doc 4: '{' page ban
        (4, 0, 'var config = {"theme": 1};'),
        (4, 1, "A perfectly fine sentence lives on a banned page."),
    ]
    lines = spark.createDataFrame(rows, ["doc_id", "line_no", "line"])
    out = {r["doc_id"]: r for r in W.c4_clean(lines).collect()}

    assert len(out) == 5
    d0 = out[0]
    assert (d0["n_lines"], d0["n_kept"], d0["keep_page"]) == (8, 5, True)
    assert d0["n_unique"] == 5
    assert d0["clean_text"].split("\n") == [
        rows[0][2], BOILER, rows[5][2], rows[6][2], rows[7][2]
    ]
    assert out[1]["keep_page"] is False and out[1]["n_unique"] == 0
    assert out[1]["clean_text"] == ""
    d2 = out[2]
    # boilerplate's first occurrence is (0, 4) — doc 2's copy deduped,
    # doc 1's copy (banned page) never participated
    assert (d2["n_kept"], d2["keep_page"], d2["n_unique"]) == (6, True, 5)
    assert BOILER not in d2["clean_text"]
    assert out[3]["keep_page"] is False  # 3 kept < 5
    assert out[4]["keep_page"] is False  # '{' ban


def test_model_zoo_kernels(spark):
    """GNB log-odds, SVM margin, and the fixed DT and RFC fixtures
    through cart_to_expr / forest_to_expr must equal the numpy
    reference math on hand vectors (the loglizer zoo inference forms)."""
    import math

    from loganalyzer_spark import scoring as SC

    from loganalyzer_spark import datagen

    d = datagen.VOCAB_SIZE  # RFC_TREES indexes slots up to 13
    only = lambda i, v: [v if j == i else 0.0 for j in range(d)]  # noqa: E731
    vecs = [
        (0, [0.0] * d),
        (1, [float((3 * i + 1) % 5) for i in range(d)]),
        (2, [float((7 * i) % 4) for i in range(d)]),
        (3, only(8, 1.0)),
        (4, only(0, 2.0)),
    ]
    df = spark.createDataFrame(vecs, ["doc_id", "vec"])

    mu0, var0, mu1, var1, p1 = SC.fixed_gnb_params(d)
    a, b, c0 = SC.gnb_coefficients(mu0, var0, mu1, var1, p1)
    w, bias = SC.fixed_svm_weights(d)

    from pyspark.sql import functions as F

    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            F.round(SC.gnb_score_expr("vec", a, b, c0), 6).alias("gnb"),
            F.round(SC.svm_margin_expr("vec", w, bias), 6).alias("svm"),
            SC.cart_to_expr(SC.DT_TREE, "vec").alias("dt"),
            SC.forest_to_expr(SC.RFC_TREES, "vec").alias("rfc"),
        ).collect()
    }

    def leaf(node, feats, x):
        while node[0] == "split":
            _, f, thr, lo, hi = node
            node = lo if x[feats[f]] <= thr else hi
        return node[1]

    for doc_id, x in vecs:
        gnb = c0 + sum(ai * xi + bi * xi * xi for ai, bi, xi in zip(a, b, x))
        svm = bias + sum(wi * xi for wi, xi in zip(w, x))
        dt = leaf(SC.DT_TREE, range(d), x)
        leaves = [leaf(tree, feats, x) for feats, tree in SC.RFC_TREES]
        rfc = sum(leaves) / len(leaves)
        assert math.isclose(out[doc_id]["gnb"], round(gnb, 6), abs_tol=1e-6)
        assert math.isclose(out[doc_id]["svm"], round(svm, 6), abs_tol=1e-6)
        assert out[doc_id]["dt"] == dt
        assert math.isclose(out[doc_id]["rfc"], round(rfc, 6), abs_tol=1e-6)

    # every DT leaf fires on these vectors
    assert sorted({r["dt"] for r in out.values()}) == [0.05, 0.2, 0.8, 0.95]
    # the zero vector scores exactly c0 / bias: sparse-oracle parity
    assert out[0]["gnb"] == round(c0, 6)
    assert out[0]["svm"] == round(bias, 6)


def test_asof_join_semantics(spark):
    """asof_join: backward match, inclusive at equality, highest-ts
    right row wins, tie-break by payload key, NULL when nothing
    precedes, tolerance horizon nulls stale matches."""
    import datetime as dt

    from loganalyzer_spark.operators.temporal import asof_join

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    left = spark.createDataFrame(
        [(1, 100, ts(0)), (2, 100, ts(10)), (3, 100, ts(20)),
         (4, 200, ts(5)), (5, 300, ts(5))],
        "event_id BIGINT, user_id BIGINT, ts TIMESTAMP",
    )
    # user 100: rights at 5, 10 (x2 tie), 25; user 200: none; user 300: at 5
    right = spark.createDataFrame(
        [(100, ts(5), 51), (100, ts(10), 52), (100, ts(10), 53),
         (100, ts(25), 54), (300, ts(5), 55)],
        "user_id BIGINT, ts TIMESTAMP, rid BIGINT",
    )
    out = asof_join(
        left, right, on="user_id",
        payload=["rid"], prefix="r_", tiebreak="rid",
    )
    got = {r["event_id"]: (r["r_rid"], r["r_ts"]) for r in out.collect()}
    assert got[1] == (None, None)          # nothing precedes ts(0)
    assert got[2] == (53, ts(10))          # inclusive equality + max-rid tie
    assert got[3] == (53, ts(10))          # ts(25) is in the future
    assert got[4] == (None, None)          # user with no right rows
    assert got[5] == (55, ts(5))           # exact-equality match
    assert out.count() == 5                # every left row exactly once

    # tolerance: user 100 event at ts(20) matched ts(10) → 600 s old;
    # a 300 s horizon must null it while keeping the ts(10)↔ts(10) hit
    tol = asof_join(
        left, right, on="user_id",
        payload=["rid"], prefix="r_", tiebreak="rid", tolerance_seconds=300,
    )
    got_t = {r["event_id"]: r["r_rid"] for r in tol.collect()}
    assert got_t[3] is None and got_t[2] == 53


def test_asof_join_plan_single_exchange_no_nested_loop(spark):
    """The as-of plan must be union → ONE hash Exchange → sort → Window,
    never a BroadcastNestedLoopJoin (what a raw range join would be)."""
    import datetime as dt

    from loganalyzer_spark.operators.temporal import asof_join

    t0 = dt.datetime(2026, 1, 1)
    left = spark.createDataFrame(
        [(1, 1, t0)], "event_id BIGINT, user_id BIGINT, ts TIMESTAMP"
    )
    right = spark.createDataFrame(
        [(1, t0, 9)], "user_id BIGINT, ts TIMESTAMP, rid BIGINT"
    )
    df = asof_join(left, right, on="user_id", payload=["rid"])
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "NestedLoop" not in plan
    # formatted mode lists each node once in the tree as "(n) Exchange"
    # with its hashpartitioning arguments in the details section
    import re

    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "hashpartitioning(_k" in plan


def test_interval_join_equals_bruteforce(spark):
    """interval_join (bucketed band join) must equal the brute-force
    cross-join filter on randomized small data, including intervals
    spanning multiple buckets and empty intervals."""
    import datetime as dt
    import random

    from loganalyzer_spark.operators.temporal import interval_join

    rng = random.Random(7)
    t0 = dt.datetime(2026, 1, 1)
    pts_rows = [
        (i, rng.randrange(3), t0 + dt.timedelta(seconds=rng.randrange(7200)))
        for i in range(200)
    ]
    iv_rows = []
    for j in range(40):
        s = rng.randrange(7200)
        iv_rows.append(
            (j, rng.randrange(3), t0 + dt.timedelta(seconds=s),
             t0 + dt.timedelta(seconds=s + rng.choice([0, 60, 900, 2400])))
        )
    pts = spark.createDataFrame(pts_rows, "pid BIGINT, k BIGINT, ts TIMESTAMP")
    iv = spark.createDataFrame(
        iv_rows, "iid BIGINT, ik BIGINT, start_ts TIMESTAMP, end_ts TIMESTAMP"
    )
    got = {
        (r["pid"], r["iid"])
        for r in interval_join(
            pts, iv, "k", "ik", start="start_ts", bucket_seconds=600,
        ).collect()
    }
    want = {
        (p, i)
        for (p, pk, pt) in pts_rows
        for (i, ik, s, e) in iv_rows
        if pk == ik and s <= pt < e
    }
    assert got == want and len(want) > 50


def test_temporal_join_validation_and_null_keys(spark):
    """asof_join: NULL keys never match (SQL equality / DuckDB ASOF
    semantics, not window-partition NULL grouping) and output-alias
    collisions raise; interval_join: overlapping input column names
    raise instead of surfacing as ambiguous-reference plan errors."""
    import datetime as dt

    import pytest

    from loganalyzer_spark.operators.temporal import asof_join, interval_join

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    left = spark.createDataFrame(
        [(1, None, t0 + dt.timedelta(minutes=10)), (2, 7, t0)],
        "event_id BIGINT, user_id BIGINT, ts TIMESTAMP",
    )
    right = spark.createDataFrame(
        [(None, t0, 91), (7, t0, 92)],
        "user_id BIGINT, ts TIMESTAMP, rid BIGINT",
    )
    out = {r["event_id"]: r["r_rid"] for r in asof_join(
        left, right, on="user_id", payload=["rid"]
    ).collect()}
    # NULL-key left row must NOT pick up the NULL-key right row
    assert out[1] is None
    assert out[2] == 92

    # left already has an 'r_ts' column → collides with prefix + "ts"
    with pytest.raises(ValueError, match="output aliases"):
        asof_join(
            left.withColumn("r_ts", left["ts"]), right,
            on="user_id", payload=["rid"],
        )

    pts = spark.createDataFrame([(1, 3, t0)], "pid BIGINT, k BIGINT, ts TIMESTAMP")
    iv = spark.createDataFrame(
        [(1, 3, t0, t0)], "iid BIGINT, ik BIGINT, ts TIMESTAMP, end_ts TIMESTAMP"
    )
    with pytest.raises(ValueError, match="disjoint"):
        interval_join(pts, iv, "k", "ik", start="ts")


def test_bucketed_fact_fact_join_no_exchange(spark):
    """write_bucketed: two fact tables bucketed on the same key must
    join with ZERO shuffle exchange (the 100 TB co-location claim), and
    the join result must equal the plain-join result."""
    from loganalyzer_spark.sources.tables import write_bucketed

    a = spark.range(0, 1000).select(
        (F.col("id") % 97).alias("k"), F.col("id").alias("va")
    )
    b = spark.range(0, 500).select(
        (F.col("id") % 97).alias("k"), (F.col("id") * 2).alias("vb")
    )
    want = a.join(b, "k").count()
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        write_bucketed(a, "bkt_a", ["k"], n_buckets=8, sort_cols=["k"])
        write_bucketed(b, "bkt_b", ["k"], n_buckets=8, sort_cols=["k"])
        # disable broadcast so the co-location (not a broadcast) carries it
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        ta, tb = spark.table("bkt_a"), spark.table("bkt_b")
        joined = ta.join(tb, "k")
        plan = joined._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "Exchange hashpartitioning" not in plan
        assert joined.count() == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_repeated_passages_planted_boilerplate(spark):
    """Passage-level dedup must recover planted cross-document blocks
    exactly: span bounds = the block's token range (boundary windows
    mixing unique filler never repeat), blocks separated by > k tokens
    split into distinct spans, and block-free docs emit nothing."""
    from loganalyzer_spark.operators.dedup import repeated_passages

    block = " ".join(f"b{i}" for i in range(20))      # 20 shared words
    bx = " ".join(f"x{i}" for i in range(10))          # 10 shared words
    by = " ".join(f"y{i}" for i in range(10))

    def filler(doc, n, tag="f"):
        return " ".join(f"u{doc}{tag}{i}" for i in range(n))

    docs = spark.createDataFrame(
        [
            (1, f"{filler(1, 5)} {block} {filler(1, 5, 'g')}"),
            (2, f"{block} {filler(2, 10)}"),
            (3, f"{filler(3, 12)} {block}"),
            (4, filler(4, 15)),                        # no planted block
            (5, f"{bx} {filler(5, 9)} {by}"),
            (6, f"{bx} {filler(6, 9)} {by}"),
        ],
        ["doc_id", "text"],
    )
    out = repeated_passages(docs).collect()
    spans = sorted(
        (r["doc_id"], r["span_start"], r["span_end"], r["n_windows"],
         r["max_docs"])
        for r in out
    )
    assert spans == [
        (1, 6, 25, 13, 3),    # block at tokens 6..25; 20-8+1 windows
        (2, 1, 20, 13, 3),
        (3, 13, 32, 13, 3),
        (5, 1, 10, 3, 2),     # X block: pure windows at 1..3
        (5, 20, 29, 3, 2),    # Y block: gap 17 > k -> separate island
        (6, 1, 10, 3, 2),
        (6, 20, 29, 3, 2),
    ]
    # span_len consistency
    assert all(
        r["span_len"] == r["span_end"] - r["span_start"] + 1 for r in out
    )


def test_pack_sequences(spark):
    """pack_sequences must equal hand-computed concatenate-then-chunk
    offsets per shard, with straddling docs spanning two packs and
    zero-token docs excluded."""
    import hashlib

    from loganalyzer_spark.operators import pack as PK

    rows = [(i, t) for i, t in [(0, 7), (1, 4), (2, 10), (3, 0), (4, 6),
                                (5, 9), (6, 3), (7, 12), (8, 5), (9, 8)]]
    docs = spark.createDataFrame(rows, ["doc_id", "n_tok"])
    out = {r["doc_id"]: r for r in
           PK.pack_sequences(docs, ctx_len=10, shards=2).collect()}

    def shard(d):
        return int(hashlib.md5(str(d).encode()).hexdigest()[:15], 16) % 2

    streams = {0: [], 1: []}
    for d, t in rows:
        if t >= 1:
            streams[shard(d)].append((d, t))
    assert 3 not in out  # zero-token doc excluded
    for s, docs_in in streams.items():
        cum = 0
        for d, t in sorted(docs_in):
            r = out[d]
            assert r["shard"] == s
            assert r["t_start"] == cum
            assert r["pack_first"] == cum // 10
            assert r["pack_last"] == (cum + t - 1) // 10
            assert r["start_off"] == cum % 10
            # straddle iff the doc crosses a 10-token boundary
            assert (r["pack_last"] > r["pack_first"]) == (
                cum // 10 != (cum + t - 1) // 10
            )
            cum += t


def test_domain_mix(spark):
    """domain_mix must derive per-domain keep-rates from the corpus's
    own counts (scarcest weighted domain binds, never upsampled), drop
    unweighted domains, and select by the deterministic 16-bit hash."""
    import hashlib

    from loganalyzer_spark.operators import sample as SMP

    rows = (
        [(i, "en") for i in range(8)]
        + [(100, "zh")]
        + [(200, "de"), (201, "de")]
    )
    docs = spark.createDataFrame(rows, ["doc_id", "lang"]).withColumn(
        "k", F.col("doc_id").cast("string")
    )
    out = SMP.domain_mix(docs, "lang", {"en": 2, "zh": 1}, key="k")
    got = {(r["doc_id"], r["lang"]) for r in out.collect()}

    # W=3; T = min(floor(8*3/2), floor(1*3/1)) = 3 (zh binds)
    # k_en = floor(2*3*65536 / (3*8)) = 16384 (25%); k_zh = 65536 (all)
    def h16(d):
        return int(hashlib.md5(str(d).encode()).hexdigest()[:4], 16)

    want = {(d, l) for d, l in rows if l == "en" and h16(d) < 16384}
    want |= {(100, "zh")}
    assert got == want
    assert all(l != "de" for _, l in got)  # unweighted domain dropped


def test_c4_clean_property_invariants(spark):
    """Property check over randomized line corpora: c4_clean's global
    contracts — every surviving line appears EXACTLY once across the
    whole output corpus, clean_text is consistent with n_unique,
    dropped pages contribute nothing — hold regardless of input shape
    (hypothesis drives the corpus; one Spark job per example)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from loganalyzer_spark.operators import web as W

    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    line_st = st.one_of(
        # valid sentence (3-5 words + '.'), tiny pool → collisions likely
        st.lists(st.sampled_from(words), min_size=3, max_size=5).map(
            lambda ws: " ".join(ws) + "."
        ),
        st.just("Home About Contact"),           # no terminal punct
        st.just("Read more."),                   # < 3 words
        st.just("enable javascript to see it."),  # line ban
        st.just("lorem ipsum dolor sit amet."),   # page ban
    )
    corpus_st = st.lists(
        st.lists(line_st, min_size=1, max_size=8), min_size=1, max_size=6
    )

    @settings(max_examples=6, deadline=None)
    @given(corpus_st)
    def run(pages):
        rows = [
            (d, i, line)
            for d, lines in enumerate(pages)
            for i, line in enumerate(lines)
        ]
        df = spark.createDataFrame(rows, ["doc_id", "line_no", "line"])
        out = {r["doc_id"]: r for r in W.c4_clean(df, min_kept_lines=2).collect()}

        assert set(out) == set(range(len(pages)))  # every page reported
        seen: set[str] = set()
        for d, lines in enumerate(pages):
            r = out[d]
            assert r["n_lines"] == len(lines)
            if not r["keep_page"]:
                assert r["n_unique"] == 0 and r["clean_text"] == ""
                continue
            got = r["clean_text"].split("\n") if r["clean_text"] else []
            assert len(got) == r["n_unique"] <= r["n_kept"]
            # survivors are kept lines of THIS page, in line order
            kept_here = [
                ln for ln in lines
                if ln.endswith(".") and len(ln.split()) >= 3
                and "javascript" not in ln and "lorem ipsum" not in ln
            ]
            assert all(g in kept_here for g in got)
            for g in got:  # global keep-first: no line survives twice
                assert g not in seen
                seen.add(g)

    run()


def test_pack_sequences_property_invariants(spark):
    """Property check: per shard the packed stream is contiguous
    (t_start resumes exactly where the previous doc ended), offsets
    agree with ctx arithmetic, and total stream length equals the
    token sum — for random doc-size mixes including straddlers."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from loganalyzer_spark.operators import pack as PK

    @settings(max_examples=6, deadline=None)
    @given(
        st.lists(st.integers(min_value=0, max_value=37), min_size=1, max_size=30),
        st.integers(min_value=4, max_value=16),
    )
    def run(sizes, ctx):
        rows = list(enumerate(sizes))
        df = spark.createDataFrame(rows, ["doc_id", "n_tok"])
        out = PK.pack_sequences(df, ctx_len=ctx, shards=3).collect()
        assert {r["doc_id"] for r in out} == {d for d, t in rows if t >= 1}
        by_shard: dict[int, list] = {}
        for r in out:
            by_shard.setdefault(r["shard"], []).append(r)
        for rs in by_shard.values():
            rs.sort(key=lambda r: r["doc_id"])
            cum = 0
            for r in rs:
                assert r["t_start"] == cum          # contiguous stream
                assert r["start_off"] == cum % ctx
                assert r["pack_first"] == cum // ctx
                assert r["pack_last"] == (cum + r["n_tok"] - 1) // ctx
                cum += r["n_tok"]

    run()


def test_compact_parquet(spark, tmp_path):
    """compact_parquet must collapse a small-file directory to the
    byte-target file count, preserve every row, and keep the sort
    clustering inside each output file."""
    from loganalyzer_spark.sources.tables import compact_parquet

    path = str(tmp_path / "sink")
    df = spark.range(0, 20000).selectExpr(
        "id AS doc_id", "cast(id % 97 AS long) AS k", "repeat('x', 40) AS pad"
    )
    df.repartition(64).write.parquet(path)  # 64 tiny files

    stats = compact_parquet(
        spark, path, target_file_bytes=1 << 30, sort_cols=["k"]
    )
    assert stats["files_before"] == 64
    assert stats["files_after"] == 1
    assert stats["rows"] == 20000

    back = spark.read.parquet(path)
    assert back.count() == 20000
    assert back.agg(F.sum("doc_id")).collect()[0][0] == sum(range(20000))
    # clustering: within the single output file, k is non-decreasing
    import pandas as pd  # noqa: F401

    ks = [r["k"] for r in back.select("k").collect()]
    assert ks == sorted(ks)


def test_compact_parquet_recovers_from_crash_leftovers(spark, tmp_path):
    """A crashed prior run leaves ``.__old__`` / ``.__compact__``
    directories; os.rename(path, old) would fail on the stale
    ``.__old__`` — compact_parquet must clear both up front and
    still swap correctly (ADVICE r4)."""
    import os

    from loganalyzer_spark.sources.tables import compact_parquet

    path = str(tmp_path / "sink")
    spark.range(0, 1000).selectExpr("id AS doc_id").repartition(8).write.parquet(
        path
    )
    os.makedirs(path + ".__old__/junk")
    os.makedirs(path + ".__compact__")
    stats = compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert stats["rows"] == 1000
    assert not os.path.exists(path + ".__old__")
    assert not os.path.exists(path + ".__compact__")
    assert spark.read.parquet(path).count() == 1000


def test_compact_parquet_rolls_back_mid_swap_crash(spark, tmp_path):
    """A run that died INSIDE the rename window leaves ``path``
    missing and ``.__old__`` holding the only copy of the data. A
    re-run must rename the original back (never delete it) and then
    compact normally; with neither ``path`` nor ``.__old__`` present
    it must raise, not fabricate an empty sink."""
    import os

    import pytest as _pytest

    from loganalyzer_spark.sources.tables import compact_parquet

    path = str(tmp_path / "sink")
    spark.range(0, 1000).selectExpr("id AS doc_id").repartition(8).write.parquet(
        path
    )
    # Simulate the crash: swap started (path -> .__old__), new data
    # never landed; a stale .__compact__ is also lying around.
    os.rename(path, path + ".__old__")
    os.makedirs(path + ".__compact__")
    stats = compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert stats["rows"] == 1000
    assert spark.read.parquet(path).count() == 1000
    assert not os.path.exists(path + ".__old__")
    assert not os.path.exists(path + ".__compact__")

    # Nothing to recover from at all -> explicit failure.
    with _pytest.raises(FileNotFoundError):
        compact_parquet(spark, str(tmp_path / "absent"))


def test_dsir_cache_bounded_to_one_entry(spark):
    """dsir_weights persists its per-doc projection (load-bearing: the
    selection jobs and the returned plan share it); repeated calls in
    one session must RELEASE the previous call's cache, not accumulate
    session-lifetime InMemoryRelations."""
    from loganalyzer_spark.operators.web import dsir_weights

    docs = spark.createDataFrame(
        [(i, i % 4 == 0, f"tok{i % 7} tok{i % 3} tok{i % 5}") for i in range(60)],
        "doc_id long, is_target boolean, text string",
    )
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()  # shared test session may
    # already hold unrelated cached RDDs; assert the DELTA is bounded.
    for _ in range(3):
        assert dsir_weights(docs, buckets=32).count() == 60
    assert jsc.getPersistentRDDs().size() <= before + 1


def test_passthrough_operators_preserve_caller_temp_columns(spark):
    """Operators that add-then-drop internal scratch columns must not
    clobber caller columns that happen to share the scratch name
    (free_col): the caller's ``_toks``/``_norm``/``_w``/``_k`` data
    must survive the passthrough unchanged."""
    from loganalyzer_spark.operators.dedup import with_shingles
    from loganalyzer_spark.operators.sample import domain_mix
    from loganalyzer_spark.operators.textstats import (
        fingerprint,
        repetition_stats,
    )
    from loganalyzer_spark.operators.web import word_ngrams

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i}", i * 10) for i in range(6)],
        "doc_id long, text string, payload long",
    )

    for name, op in [
        ("_toks", lambda d: with_shingles(d, n=2)),
        ("_toks", repetition_stats),
        ("_norm", fingerprint),
        ("_w", lambda d: word_ngrams(d, 2)),
    ]:
        tagged = docs.withColumn(name, F.col("payload") + 1)
        out = op(tagged)
        rows = {r["doc_id"]: r[name] for r in out.select("doc_id", name).collect()}
        assert rows == {i: i * 10 + 1 for i in range(6)}, name

    tagged = (
        docs.withColumn("_k", F.col("payload") + 7)
        .withColumn("lang", F.lit("en"))
        .withColumn("sid", F.col("doc_id").cast("string"))
    )
    out = domain_mix(tagged, "lang", {"en": 1}, key="sid")
    for r in out.select("doc_id", "_k").collect():
        assert r["_k"] == r["doc_id"] * 10 + 7


def test_cart_hand_computed_splits():
    """train_cart reproduces the hand-derived gini tree on a tiny
    dataset, including the midpoint threshold rule, the
    lowest-feature tie-break, and pure-leaf stopping."""
    import numpy as np

    from loganalyzer_spark.scoring import cart_predict, train_cart

    # one feature, clean cut at 2.5
    X = np.array([[1.0], [2.0], [3.0], [4.0]])
    y = np.array([0.0, 0.0, 1.0, 1.0])
    tree = train_cart(X, y)
    assert tree[0] == "split" and tree[1] == 0 and tree[2] == 2.5
    assert tree[3] == ("leaf", 0.0) and tree[4] == ("leaf", 1.0)
    assert cart_predict(tree, X).tolist() == [0.0, 0.0, 1.0, 1.0]

    # two identical features: the split must take feature 0 (scan-order
    # tie-break), never feature 1
    X2 = np.column_stack([X[:, 0], X[:, 0]])
    tree2 = train_cart(X2, y)
    assert tree2[1] == 0

    # depth-2 case: feature 1 separates what feature 0 cannot
    X3 = np.array([[0.0, 0.0], [0.0, 1.0], [1.0, 0.0], [1.0, 1.0]])
    y3 = np.array([0.0, 0.0, 0.0, 1.0])
    t3 = train_cart(X3, y3)
    # root: either feature splits off a pure-0 half (gini 1/6 each way,
    # tie -> feature 0); the mixed child then splits on feature 1
    assert t3[0] == "split" and t3[1] == 0 and t3[2] == 0.5
    assert t3[3] == ("leaf", 0.0)
    right = t3[4]
    assert right[0] == "split" and right[1] == 1
    assert right[3] == ("leaf", 0.0) and right[4] == ("leaf", 1.0)

    # constant features + mixed labels -> no split possible -> leaf
    t4 = train_cart(np.ones((4, 2)), y)
    assert t4 == ("leaf", 0.5)


def test_cart_and_forest_expr_parity(spark):
    """The compiled CASE WHEN expressions score identically to the
    numpy-side cart_predict/forest_predict on the same vectors (the
    zero-Python scoring contract for the LEARNED trees)."""
    import numpy as np

    from loganalyzer_spark.scoring import (
        cart_predict,
        cart_to_expr,
        forest_predict,
        forest_to_expr,
        train_cart,
        train_random_forest,
    )

    rng = np.random.RandomState(11)
    n, d = 300, 5
    X = np.round(rng.normal(size=(n, d)), 3)
    y = ((X[:, 0] - 2 * X[:, 2] + 0.5 * X[:, 4]) > 0.2).astype(np.float64)
    # flip a few labels so leaves carry fractional probabilities
    y[::17] = 1 - y[::17]

    tree = train_cart(X, y, max_depth=4)
    forest = train_random_forest(X, y, n_trees=5, max_depth=3)

    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(n)],
        "i int, vec array<double>",
    )
    got = (
        df.select(
            "i",
            cart_to_expr(tree, "vec").alias("dt"),
            forest_to_expr(forest, "vec").alias("rfc"),
        )
        .orderBy("i")
        .collect()
    )
    dt_np = cart_predict(tree, X)
    rfc_np = forest_predict(forest, X)
    for r in got:
        assert r["dt"] == dt_np[r["i"]]  # exact: same rounded leaf lits
        assert abs(r["rfc"] - rfc_np[r["i"]]) <= 2e-6  # round-rule ulp

    # the learned CART must actually fit: training accuracy well above
    # the base rate on near-separable data
    acc = float(((dt_np > 0.5) == (y > 0.5)).mean())
    assert acc >= 0.9

    # determinism: retraining yields the identical structures
    assert train_cart(X, y, max_depth=4) == tree
    assert train_random_forest(X, y, n_trees=5, max_depth=3) == forest


def test_train_gnb_hand_stats_and_expr_parity(spark):
    """train_gnb reproduces hand-computed per-class Gaussian stats
    (sklearn's GaussianNB.fit rule incl. var_smoothing), and the
    compiled quadratic log-odds expression classifies the training
    points the way the numpy form does."""
    import numpy as np

    from loganalyzer_spark.scoring import (
        gnb_coefficients,
        gnb_score_expr,
        train_gnb,
    )

    X = np.array([[0.0, 1.0], [1.0, 1.0], [4.0, 5.0], [5.0, 7.0]])
    y = np.array([0.0, 0.0, 1.0, 1.0])
    mu0, var0, mu1, var1, p1 = train_gnb(X, y)
    eps = 1e-9 * float(np.var(X, axis=0).max())
    assert mu0 == [0.5, 1.0] and mu1 == [4.5, 6.0]
    assert abs(var0[0] - (0.25 + eps)) < 1e-15
    assert abs(var0[1] - eps) < 1e-15  # constant feature in class 0
    assert abs(var1[1] - (1.0 + eps)) < 1e-15
    assert p1 == 0.5

    a, b, c0 = gnb_coefficients(mu0, var0, mu1, var1, p1)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "i int, vec array<double>",
    )
    got = (
        df.select("i", gnb_score_expr("vec", a, b, c0).alias("lo"))
        .orderBy("i")
        .collect()
    )
    # log-odds sign must reproduce the labels on this separable set
    for r in got:
        assert (r["lo"] > 0) == bool(y[r["i"]])


def test_train_zoo_rejects_all_constant_slice(spark):
    """An all-constant training slice has zero variance everywhere, so
    GNB has no signal: train_zoo_and_score raises a clear ValueError
    instead of dividing by zero in gnb_coefficients."""
    import pytest

    from loganalyzer_spark.scoring import train_zoo_and_score

    vectors = spark.createDataFrame(
        [(i, [2.0, 0.0, 1.0], i % 2) for i in range(6)],
        "doc_id int, vec array<double>, label int",
    )
    with pytest.raises(ValueError, match="non-constant feature"):
        train_zoo_and_score(spark, vectors)


@pytest.mark.parametrize(
    "trainer",
    ["train_and_score", "train_dt_and_score", "train_zoo_and_score", "kfold_validate"],
)
def test_training_slice_rejects_empty_input(spark, trainer):
    """An empty corpus leaves nothing to train on: every trainer that
    collects the ordered training slice raises a clear ValueError
    instead of numpy's 'need at least one array to concatenate'."""
    from loganalyzer_spark import scoring

    empty = spark.createDataFrame([], "doc_id int, vec array<double>, label int")
    with pytest.raises(ValueError, match="training slice is empty"):
        getattr(scoring, trainer)(spark, empty)


def test_labeled_vectors_read_raw_lines_once(spark):
    """logreg_train_score takes the doc label and the event counts from
    one aggregate, so its executed plan scans the raw-lines parquet
    once (it used to join a second routed scan for the label)."""
    from loganalyzer_spark.queries import queries
    from tests.conftest import SF_SMALL

    df = queries()["logreg_train_score"](spark, SF_SMALL)
    df.collect()
    # the adaptive plan's final physical plan, without its initial plan
    plan = df._jdf.queryExecution().executedPlan().executedPlan().toString()
    scans = [
        ln for ln in plan.splitlines() if "FileScan parquet" in ln and "raw_lines_" in ln
    ]
    assert len(scans) == 1, plan


def test_margin_sgd_perceptron_and_svm(spark):
    """The deterministic margin-SGD core: the perceptron (margin 0)
    separates a linearly-separable set and stops once converged; the
    hinge fit (margin 1) pushes points outside the unit margin; both
    are bit-reproducible, and the broadcast svm_margin_expr scores
    exactly like the numpy margins."""
    import numpy as np

    from loganalyzer_spark.scoring import (
        svm_margin_expr,
        train_linear_svm,
        train_perceptron,
    )
    from pyspark.sql import functions as F

    rng = np.random.RandomState(5)
    X = np.round(rng.normal(size=(60, 3)), 3)
    y = (X @ np.array([1.0, -2.0, 0.5]) > 0).astype(np.float64)
    w, b = train_perceptron(X, y)
    t = 2 * y - 1
    assert ((t * (X @ w + b)) > 0).all()  # converged: all correct
    # determinism
    w2, b2 = train_perceptron(X, y)
    assert (w2 == w).all() and b2 == b

    ws, bs = train_linear_svm(X, y, iters=200)
    acc = float((((X @ ws + bs) > 0) == (y > 0.5)).mean())
    assert acc >= 0.95

    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "i int, vec array<double>",
    )
    got = (
        df.select(
            "i",
            F.round(svm_margin_expr("vec", ws.tolist(), bs), 6).alias("m"),
        )
        .orderBy("i")
        .collect()
    )
    margins = np.round(X @ ws + bs, 6)
    for r in got:
        assert abs(r["m"] - margins[r["i"]]) <= 2e-6


def test_margin_sgd_properties_hypothesis():
    """Property test (no Spark): on ANY linearly-separable labeled set,
    the perceptron trainer converges to zero training errors and is
    bit-reproducible; train_gnb's variances are always >= the smoothing
    floor so gnb_coefficients never divides by zero."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from loganalyzer_spark.scoring import (
        gnb_coefficients,
        train_gnb,
        train_perceptron,
    )

    feat = st.floats(-5.0, 5.0, allow_nan=False, width=32)
    rows = st.lists(
        st.tuples(feat, feat, feat), min_size=6, max_size=40
    )

    @settings(max_examples=40, deadline=None)
    @given(rows)
    def check(pts):
        X = np.round(np.array(pts, dtype=np.float64), 3)
        # label by a fixed separator with a margin: drop points too
        # close to the plane so the set is STRICTLY separable
        score = X @ np.array([1.0, -1.5, 0.5]) + 0.25
        keep = np.abs(score) > 0.05
        X, score = X[keep], score[keep]
        y = (score > 0).astype(np.float64)
        if len(y) < 2:
            return
        # iters sized to the perceptron mistake bound (R/gamma)^2 for
        # this domain (R <= ~8.7, gamma >= 0.05/|w*|): 1e5 updates
        # covers it; convergence early-stops long before on typical
        # draws, so the test stays fast
        w, b = train_perceptron(X, y, iters=100_000)
        t = 2 * y - 1
        assert ((t * (X @ w + b)) > 0).all()
        w2, b2 = train_perceptron(X, y, iters=100_000)
        assert (w2 == w).all() and b2 == b
        if 0.0 < y.mean() < 1.0:
            mu0, var0, mu1, var1, p1 = train_gnb(X, y)
            assert all(v > 0 for v in var0 + var1) or (
                # all-identical rows: zero variance everywhere means a
                # zero smoothing floor too; gnb then has no signal and
                # the caller's degenerate-input guard applies
                float(np.var(X, axis=0).max()) == 0.0
            )
            if all(v > 0 for v in var0 + var1):
                a, bq, c0 = gnb_coefficients(mu0, var0, mu1, var1, p1)
                assert np.isfinite(a).all() and np.isfinite(bq).all()
                assert np.isfinite(c0)

    check()
