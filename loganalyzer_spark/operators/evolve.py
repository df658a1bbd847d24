"""Offline template-library evolution (D3/D4) + timestamp-width
learning (M6).

The hot matching path (operators/match.py) runs against a *frozen*
library — exactly how the reference's prediction path behaves
(parser.py:126-135 reloads a non-updated lib). Library *evolution* —
Drain's online clustering with per-cluster adaptive thresholds
(drain.py:546-634) — is re-expressed as an offline batch job:

  1. aggregate distinct masked lines with counts (one shuffle, bounded
     by template cardinality, frequency-capped for safety at scale);
  2. driver-side clustering of the (small) distinct set with the same
     seq_dist / threshold / get_template-merge semantics;
  3. the evolved library is broadcast back as a dimension for matching
     (MERGE INTO the template dim in an Iceberg deployment).

Timestamp-width learning (parser.py:137-185) then slides over each
sample line's *evolved* template, md5-hashing tails until one hits the
library — returning the byte offset where log content starts.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from loganalyzer_spark.operators.match import _sim_threshold, seq_dist

MAX_TIMESTAMP_LENGTH = 50  # data_helper.py:66


def merge_template(a: list[str], b: list[str]) -> list[str]:
    """get_template (drain.py:507-544): positionwise intersection,
    mismatches become '<*>'."""
    return [x if x == y else "<*>" for x, y in zip(a, b)]


def cluster_templates(
    masked_counts: list[tuple[str, int]], base: list[str] | None = None
) -> list[str]:
    """Driver-side Drain-equivalent clustering of distinct masked lines.

    ``masked_counts`` is (masked_line, occurrences), processed in
    descending frequency (head templates seed clusters first — the
    batch analogue of Drain seeing frequent lines early). Returns the
    evolved template list (base templates preserved).
    """
    clusters: dict[int, list[list[str]]] = {}
    for tmpl in base or []:
        toks = tmpl.split(" ")
        clusters.setdefault(len(toks), []).append(toks)
    for line, _cnt in sorted(masked_counts, key=lambda x: (-x[1], x[0])):
        toks = line.split(" ")
        bucket = clusters.setdefault(len(toks), [])
        best_i, best_sim, best_para = -1, -1.0, -1
        for i, ctoks in enumerate(bucket):
            s, p = seq_dist(ctoks, toks)
            if s > best_sim or (s == best_sim and p > best_para):
                best_i, best_sim, best_para = i, s, p
        if best_i >= 0 and best_sim >= _sim_threshold(bucket[best_i]):
            bucket[best_i] = merge_template(bucket[best_i], toks)
        else:
            bucket.append(toks)
    return [" ".join(t) for b in clusters.values() for t in b]


def evolve_library(
    spark: SparkSession,
    lines: DataFrame,
    base_templates: DataFrame | None = None,
) -> DataFrame:
    """Batch library evolution: distinct-``masked`` aggregation (map-side
    combine handles the Zipf head), collect capped at the 100,000 most
    frequent, driver clustering. Output: the template dim schema of
    datagen.templates_df.
    """
    from loganalyzer_spark.datagen import TEMPLATE_SCHEMA, local_df, template_row

    counts = (
        lines.groupBy("masked")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "masked")
        .limit(100_000)
        .collect()
    )
    base = (
        [r["event_template"] for r in base_templates.select("event_template").collect()]
        if base_templates is not None
        else []
    )
    evolved = cluster_templates([(r["masked"], r["n"]) for r in counts], base)
    return local_df(spark, [template_row(t) for t in evolved], TEMPLATE_SCHEMA)


def lcs(seq1: list[str], seq2: list[str]) -> list[str]:
    """Longest common subsequence, DP + backtrack — the exact recipe of
    drain.py:662-688 (row/col-0 zeros, prefer seq1-step on ties, read
    the subsequence back from the matrix)."""
    m, n = len(seq1), len(seq2)
    lengths = [[0] * (n + 1) for _ in range(m + 1)]
    for i in range(m):
        for j in range(n):
            if seq1[i] == seq2[j]:
                lengths[i + 1][j + 1] = lengths[i][j] + 1
            else:
                lengths[i + 1][j + 1] = max(lengths[i + 1][j], lengths[i][j + 1])
    out: list[str] = []
    i, j = m, n
    while i != 0 and j != 0:
        if lengths[i][j] == lengths[i - 1][j]:
            i -= 1
        elif lengths[i][j] == lengths[i][j - 1]:
            j -= 1
        else:
            out.insert(0, seq1[i - 1])
            i -= 1
            j -= 1
    return out


def lcs_merge_cells(
    templates: list[str], sim_t_m: float = 0.7
) -> dict[str, str]:
    """D5: LCS output-cell merge (drain.py:689-719 adjust_output_cell),
    offline over the bounded template library.

    The reference runs this after each cluster update when
    ``sim_t_m < 1`` (drain.py:633-634; it SHIPS disabled at the default
    sim_t_m=1, drain.py:80): the updated cluster's output cell is
    absorbed by the most LCS-similar cluster of a DIFFERENT token count
    (same-length clusters live in the same tree bucket and are handled
    by seq_dist matching instead), similarity = |LCS| / min(len) — paper
    formula (6) — strict-greater tie-broken by longer LCS, merge iff
    sim > sim_t_m.

    Offline analogue: one deterministic pass over the final library in
    list order, each cluster playing the "just updated" role once;
    absorbed cells follow their survivor transitively (the reference
    repoints every parent cluster at the surviving cell object,
    drain.py:713-716). Returns event_id → cell_id where cell_id is the
    smallest member event_id — the reference keeps bare object identity
    for cells, so any stable representative induces the same partition
    (pytest asserts partition equality against a faithful scalar mirror
    of the reference loop).

    Scale shape: O(n² · LCS) over the template dim only — bounded
    (≤ a few thousand rows, same bound as cluster_templates), never
    touches the corpus; the corpus-side remap is a broadcast join.
    """
    toks = [t.split(" ") for t in templates]
    n = len(toks)
    cell = list(range(n))  # cluster index -> current cell id (index-based)
    members: dict[int, list[int]] = {i: [i] for i in range(n)}
    for ci in range(n):
        best_j, best_lcs, best_sim = -1, [], -1.0
        for cj in range(n):
            # skip same token count or already-shared cell (drain.py:697-698)
            if len(toks[cj]) == len(toks[ci]) or cell[cj] == cell[ci]:
                continue
            cur = lcs(toks[ci], toks[cj])
            sim = float(len(cur)) / min(len(toks[ci]), len(toks[cj]))
            if sim > best_sim or (sim == best_sim and len(cur) > len(best_lcs)):
                best_j, best_lcs, best_sim = cj, cur, sim
        if best_j >= 0 and best_sim > sim_t_m:
            src, dst = cell[ci], cell[best_j]
            for k in members[src]:
                cell[k] = dst
            members[dst].extend(members.pop(src))
    from loganalyzer_spark.datagen import event_id_of

    eids = [event_id_of(t) for t in templates]
    rep = {c: min(eids[k] for k in ms) for c, ms in members.items()}
    return {eids[i]: rep[cell[i]] for i in range(n)}


def learn_timestamp(
    sample: list[tuple[str, str]], eid_lib: set[str]
) -> tuple[int, int]:
    """parser.py:137-176 faithfully: for each (content, template) pair,
    slide the template head; when md5(tail)[:8] hits the library, locate
    the tail's first word in the raw content → offset. Returns
    (offset, line_index); (-1, idx) when nothing matches."""
    for idx, (content, temp) in enumerate(sample):
        for i in range(len(temp)):
            if i > MAX_TIMESTAMP_LENGTH:
                break
            tail = temp[i:]
            eid = hashlib.md5(tail.encode("utf-8")).hexdigest()[:8]
            if eid in eid_lib:
                if i == 0:
                    return 0, idx
                header = re.escape(tail.split()[0]) + " "
                m = re.search(header, content)
                if m:
                    return m.start(), idx
                break
    return -1, idx if sample else 0


def det_timestamp(
    spark: SparkSession,
    raw_lines: DataFrame,
    templates: DataFrame,
    max_line: int = 500,
) -> int:
    """M6/P11 end to end: throwaway parse of the first ``max_line`` ``raw``
    lines (limit — T5), mask them *without* stripping the unknown-width
    timestamp, evolve full-line templates against the library, learn the
    content offset (the reference's EP2 step 2, scripts/loglab.py:151-162).

    "First" is by the ``(doc_id, line_no)`` keys, both for the sample
    and for the order ``learn_timestamp`` walks it, so the offset does
    not depend on how ``raw_lines`` is partitioned.
    """
    from loganalyzer_spark.operators.parse import mask

    # checkpointed: the ordered limit reads all of raw_lines, and the
    # sample feeds two actions below
    head = mask(
        raw_lines.orderBy("doc_id", "line_no").limit(max_line), content="raw"
    ).localCheckpoint()
    evolved = evolve_library(spark, head, base_templates=templates)
    eids = {r["event_id"] for r in templates.select("event_id").collect()}

    # per-line evolved template assignment (driver-side: bounded sample)
    from loganalyzer_spark.operators.match import match_similarity

    assigned = (
        match_similarity(head, evolved)
        .orderBy("doc_id", "line_no")
        .select("raw", "event_template")
        .collect()
    )
    sample = [(r["raw"], r["event_template"]) for r in assigned]
    offset, _ = learn_timestamp(sample, eids)
    return offset
