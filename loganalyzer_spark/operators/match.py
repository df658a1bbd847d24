"""Template matching — Drain's tree search + similarity re-expressed as
map lookups inside the fused stage (SURVEY.md §2.4).

The reference routes each masked line through a 3-layer parse tree
(length → first/last token → similarity, ``drain.py:182-291``) and picks
the most similar cluster (``fast_match`` ``drain.py:474-505``). Here:

  D1 tree search    → a lookup in a SQL map literal keyed on
                      (token_count, first_token), plus a wildcard map
                      keyed on token_count for templates whose first
                      token is '<*>' (token_tree_search's fallback,
                      drain.py:268-284). The library is a bounded dim:
                      it is collected on the driver and grouped there,
                      so the plan has no join and no broadcast.
  D2 similarity     → each key maps to its candidate templates in
                      preference order, so match resolution is a
                      per-row array filter — **zero shuffle**, no
                      per-line groupBy/window.
  D8 new template   → unmatched lines become their own template:
                      event_id = md5(masked)[:8] (drain.py:732, 962-966).

Candidate preference on multi-match mirrors fast_match's tie-break
(max similarity, then max parameter count, drain.py:494-505): a full
token-match of a template with ANY literal token has similarity exactly
1.0 (every non-wildcard position equal), so those order by
(para_count desc, event_id). The one exception is the all-wildcard
template: seq_dist scores it 0.0 (const_num == 0, drain.py:458-462),
NOT 1.0 — it must lose to every literal-containing full match despite
having the most parameters, so it sorts last (the ``all_wild`` leading
sort key in ``_cands_map``). A line tries its literal bucket before
the wildcard bucket, as token_tree_search tries the first-token branch
before its '<*>' fallback.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from loganalyzer_spark.operators import one_row_generate, sql_str, with_sql

_LITS = "array<struct<pos:int,tok:string>>"

# The hit of a line no template matches: the line is its own template.
_NEW = (
    "named_struct('is_new', 1, 'event_id', substring(md5(masked), 1, 8),"
    f" 'event_template', masked, 'lits', CAST(NULL AS {_LITS}))"
)


def _cand_sql(event_id: str, template: str) -> str:
    """One candidate: its id and text, plus the (pos, tok) pairs of its
    literal tokens after position 0 — the map key already fixes the
    token count and, in the literal bucket, the first token."""
    lits = [
        f"named_struct('pos', {i}, 'tok', {sql_str(t)})"
        for i, t in enumerate(template.split(" "))
        if i and t != "<*>"
    ]
    return (
        f"named_struct('is_new', 0, 'event_id', {sql_str(event_id)},"
        f" 'event_template', {sql_str(template)},"
        f" 'lits', CAST(array({', '.join(lits)}) AS {_LITS}))"
    )


def _cands_map(rows: list, key) -> str | None:
    """SQL map literal from ``key(row)`` to the row's candidates, sorted
    (all_wild, para_count desc, event_id); None for no rows."""
    buckets: dict[str, list] = {}
    for r in sorted(
        rows, key=lambda r: (r["para_count"] == r["token_count"], -r["para_count"], r["event_id"])
    ):
        buckets.setdefault(key(r), []).append(_cand_sql(r["event_id"], r["event_template"]))
    if not buckets:
        return None
    return "map(" + ", ".join(f"{k}, array({', '.join(c)})" for k, c in buckets.items()) + ")"


def _first_hit(cands_map: str, key: str) -> str:
    """The first candidate under ``key`` whose literal tokens all equal
    the line's; NULL when none does."""
    return (
        f"get(filter({cands_map}[{key}],"
        " c -> forall(c.lits, l -> get(_toks, l.pos) = l.tok)), 0)"
    )


def match_templates(lines: DataFrame, templates: DataFrame) -> DataFrame:
    """Assign event_id/event_template to every ``masked`` line.

    Adds: token_count, first_token, event_id, event_template, is_new.
    The library is collected (a ``local_df`` collect runs no job) into
    two map literals, so the match is a lookup plus an array filter per
    row inside the fused stage. ``_hit`` (the first matching candidate,
    else the line itself) is the output of a one-row Generate: without
    that barrier, a filter on ``is_new`` or ``sink_class`` downstream
    would copy the match lambda and the md5 into its pushed-down
    condition.
    """
    rows = templates.select(
        "event_id", "event_template", "token_count", "first_token", "para_count"
    ).collect()
    lit_map = _cands_map(
        [r for r in rows if r["first_token"] != "<*>"],
        lambda r: sql_str(f"{r['token_count']} {r['first_token']}"),
    )
    wild_map = _cands_map(
        [r for r in rows if r["first_token"] == "<*>"], lambda r: str(r["token_count"])
    )
    # tokens hold no space, so the literal key is exact
    hits = [
        _first_hit(m, k)
        for m, k in ((lit_map, "concat(token_count, ' ', first_token)"), (wild_map, "token_count"))
        if m is not None
    ]
    keyed = with_sql(
        with_sql(lines, {"_toks": "split(masked, ' ')"}),
        {"token_count": "size(_toks)", "first_token": "_toks[0]"},
    )
    return with_sql(
        one_row_generate(keyed, "_hit", f"coalesce({', '.join(hits + [_NEW])})"),
        {f: f"_hit.{f}" for f in ("is_new", "event_id", "event_template")},
        drop=("_hit", "_toks"),
    )


def extract_params(df: DataFrame) -> DataFrame:
    """D7: parameter extraction via zip_with — pure SQL, no UDF.

    Reference: take ``masked`` tokens at the template's '<*>' positions,
    guarded by equal token counts (oldschool.py:100-108).
    """
    return df.withColumn(
        "params",
        F.when(
            F.size(F.split("event_template", " ")) == F.size(F.split("masked", " ")),
            F.expr(
                "filter(zip_with(split(event_template, ' '), split(masked, ' '),"
                " (t, c) -> struct(t as t, c as c)), x -> x.t = '<*>').c"
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


# ---------------------------------------------------------------------------
# General similarity matcher (D2/D3): the reference's seq_dist semantics
# ---------------------------------------------------------------------------

import pandas as pd  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from loganalyzer_spark.patterns import PTN_SPEC_TOKEN  # noqa: E402


def seq_dist(tmplt: list[str], log: list[str]) -> tuple[float, int]:
    """Token-wise similarity, faithful to drain.py:367-472:

    - first-token mismatch ⇒ reject;
    - '<*>' in the template counts as a parameter slot (skipped in the
      denominator) unless it follows a mismatch;
    - two successive mismatches ⇒ reject;
    - special tokens (ftp/patterns.py:128-136) must agree exactly;
    - sim = matches / (len - para); all-param case per drain.py:458-462.
    """
    sim_tokens = 0
    para_num = 0
    stop = False
    last_same = True
    last_para = False
    first = True
    for t1, t2 in zip(tmplt, log):
        if first:
            first = False
            # note: reference rejects on first-token inequality even
            # vs '<*>' only when tokens differ (drain.py:395-399);
            # '<*>' == '<*>' passes, literal-vs-'<*>' template first
            # token is handled by the wildcard tree layer.
            if t1 != t2 and t1 != "<*>":
                stop = True
                break
        if t1 == "<*>":
            if last_same or last_para:
                para_num += 1
                last_same = t2 == "<*>"
                last_para = True
                continue
            stop = True
            break
        if t1 == t2:
            sim_tokens += 1
            last_same = True
            last_para = False
        elif last_same:
            last_same = False
            last_para = False
        else:
            stop = True
            break
        for ptn in PTN_SPEC_TOKEN:
            m1, m2 = ptn.fullmatch(t1), ptn.fullmatch(t2)
            if (m1 and m2 and t1 != t2) or (m1 and not m2) or (m2 and not m1):
                stop = True
                break
        if stop:
            break
    const_num = len(tmplt) - para_num
    if const_num == 0:
        sim = 1.0 if len(tmplt) == 1 and any(c.isdigit() for c in log[0]) else 0.0
    else:
        sim = float(sim_tokens) / const_num
    if stop:
        return 0.0, 0
    return sim, para_num


def _sim_threshold(tokens: list[str]) -> float:
    """Per-template initial threshold: 0.6 * (len - para) / len
    (drain.py:577-592, frozen-library form — no online evolution)."""
    para = sum(1 for t in tokens if t == "<*>")
    n = len(tokens)
    return 0.6 * (n - para) / n if n else 1.0


def match_similarity(lines: DataFrame, templates: DataFrame) -> DataFrame:
    """Drain matching of the ``masked`` column with full seq_dist
    semantics as a vectorized pandas UDF over Arrow batches (SURVEY
    §2.12.2 ``best_template``).

    The template library is broadcast once as {token_count:
    [(tokens, sim_t, para, event_id, template)]}; each batch loops only
    over the few length-matched candidates per line (the D1 tree's
    length layer). fast_match tie-break: max sim, then max para
    (drain.py:494-505); accept iff sim >= sim_t (D3 threshold).
    """
    spark = lines.sparkSession
    lib: dict[int, list] = {}
    for r in templates.select("event_id", "event_template").collect():
        toks = r["event_template"].split(" ")
        lib.setdefault(len(toks), []).append(
            (
                toks,
                _sim_threshold(toks),
                sum(1 for t in toks if t == "<*>"),
                r["event_id"],
                r["event_template"],
            )
        )
    bc = spark.sparkContext.broadcast(lib)

    out_type = T.StructType(
        [
            T.StructField("event_id", T.StringType()),
            T.StructField("event_template", T.StringType()),
            T.StructField("sim", T.DoubleType()),
        ]
    )

    @F.pandas_udf(out_type)
    def best(masked_s: pd.Series) -> pd.DataFrame:
        library = bc.value
        ids, tms, sims = [], [], []
        for line in masked_s:
            toks = line.split(" ")
            best_sim, best_para, best_hit = -1.0, -1, None
            for cand_toks, sim_t, para, eid, tmpl in library.get(len(toks), []):
                s, p = seq_dist(cand_toks, toks)
                if s > best_sim or (s == best_sim and p > best_para):
                    best_sim, best_para = s, p
                    best_hit = (eid, tmpl, sim_t)
            if best_hit is not None and best_sim >= best_hit[2]:
                ids.append(best_hit[0])
                tms.append(best_hit[1])
                sims.append(best_sim)
            else:
                ids.append(None)
                tms.append(None)
                sims.append(0.0)
        return pd.DataFrame({"event_id": ids, "event_template": tms, "sim": sims})

    hit = best(F.col("masked"))
    return (
        lines.withColumn("_hit", hit)
        .withColumn("is_new", F.col("_hit.event_id").isNull().cast("int"))
        .withColumn(
            "event_id",
            F.coalesce(
                F.col("_hit.event_id"), F.substring(F.md5(F.col("masked")), 1, 8)
            ),
        )
        .withColumn(
            "event_template",
            F.coalesce(F.col("_hit.event_template"), F.col("masked")),
        )
        .withColumn("match_sim", F.col("_hit.sim"))
        .drop("_hit")
    )
