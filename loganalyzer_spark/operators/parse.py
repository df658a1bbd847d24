"""Parse stage: page → lines → washed content → masked content.

Re-expresses the reference's fused preprocess scan
(``preprocess_base.py:217-407``) as narrow column transformations that
Catalyst whole-stage-codegen fuses back into one pass:

  P1  timestamp match/strip        (preprocess_base.py:272-309)
  P2  console/pid/sid cleanup      (extensions/ftp/preprocess.py:47-49)
  P6  response-status normalize    (extensions/ftp/preprocess.py:30-37)
  P4  line removal (PTN_LINE_RM)   (extensions/cm/preprocess.py:76-82)
  P3  empty-line removal           (preprocess_base.py:344-370)
  P5  token splitting              (preprocess_base.py:376, :807-826)
  P9  'abn: ' label extraction     (preprocess_base.py:508-552)
  P10 'segsign: ' segmentation     (preprocess_base.py:684-731)
  P7  hard-parameter masking       (drain.py:880-887) — a JVM regexp
      chain byte-identical to the Python tier ``patterns.mask_params``
      (the per-url invariant surface), whose first four passes run only
      on lines an exact colon/dot count says they can match; the cm
      tier stays a pandas UDF because Java regex cannot run its
      patterns.

Stage order matches the reference main loop (preprocess_base.py:217-407):
strip ts → domain line process (clean chars, response normalize, line
removal marking) → empty-line purge → token splitting.

Labels are extracted *before* filtering, so the reference's
label-handover machinery (preprocess_base.py:101-113) is unnecessary.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from loganalyzer_spark import patterns as P
from loganalyzer_spark.operators import one_row_generate, sql_str, with_sql

# Every layer below is SQL text composed from the ``patterns`` constants
# and handed to the JVM in a few selectExpr/where calls. The same layer
# built from Column trees costs one py4j round trip per function,
# literal and column reference.

# P1 anchored standard-timestamp pattern (Java-regex safe: no lookaround).
_TS_ANCHOR = "^" + P.SQL_STD_TS
# P2 pid/sid cleanup — Java regex supports lookahead; IGNORECASE flag as
# (?i) to match the reference's re.IGNORECASE (ftp/patterns.py:33-40).
_CLEAN_CHAR = r"(?i)\d+ \d (?=[A-Z][a-z]+: )"
_BLANKS = sql_str(" \t")
_NEWLINE = sql_str("\n")


def _split_sql(c: str) -> str:
    """P5 Java fast path: the reference's split_token_apart degenerates
    to a global sub because every pattern matches constant literal text
    (see patterns.split_tokens), so ``$0`` re-emits the one possible
    match. Java regexp_replace chain over the same pattern texts, with
    the same lookarounds; byte-identity with the Python tier is tested
    in tests/test_wash_fidelity. Order: left patterns in list order,
    then right (preprocess_base.py:807-826)."""
    for ptn in P.PTN_SPLIT_LEFT:
        c = f"regexp_replace({c}, {sql_str(ptn.pattern)}, '$0 ')"
    for ptn in P.PTN_SPLIT_RIGHT:
        c = f"regexp_replace({c}, {sql_str(ptn.pattern)}, ' $0')"
    return c


# Each split pattern can only fire on a line containing its literal
# anchor char ('=', '::', '(' and ')' — the lookarounds are zero-width),
# so a line containing none of them is a fixed point of the whole P5
# chain. contains() compiles to UTF8String.contains (substring scan, no
# regex), so gating the 4 regexp_replace passes behind it skips the
# regex machinery for the majority of corpus lines.
_SPLIT_GATE_LITS = ("=", "::", "(", ")")


def _content_sql(c: str) -> str:
    """Fused P6→P5 content expression over a (cheap) column reference.

    Reference order is normalize-response THEN split (preprocess_base
    .py:376 after ftp/preprocess.py:30-37). P6 is first-match-wins over
    PTN_RSP_STAT, anchored like the reference's ``.match``
    (ftp/preprocess.py:30-37); each rlike sits behind a cheap
    ``startswith('Response: ')``, which is exact because every pattern
    starts with that literal. The canonical response strings are proven
    fixed points of split_tokens here, so a canonical hit skips the P5
    chain; every other line runs P5 only when the split gate says a
    pattern can fire.
    """
    whens = []
    for ptn, canonical in P.PTN_RSP_STAT:
        assert ptn.pattern.startswith("Response: ")
        assert P.split_tokens(canonical) == canonical, (
            f"canonical not a P5 fixed point: {canonical!r}"
        )
        whens.append(
            f"WHEN startswith({c}, 'Response: ') AND {c} RLIKE "
            f"{sql_str('^' + ptn.pattern)} THEN {sql_str(canonical)}"
        )
    gate = " OR ".join(f"contains({c}, {sql_str(lit)})" for lit in _SPLIT_GATE_LITS)
    return f"CASE {' '.join(whens)} WHEN {gate} THEN {_split_sql(c)} ELSE {c} END"


# Cheap first-character gate for the PTN_LINE_RM filter: every branch of
# the alternation can only match a line starting with one of these
# characters (by inspection of cm/patterns.py:79-103 — asterisk/plus
# banners, BCM/RAM/RCC/TCC/Readback/DHCPc/Type/Suboption/Len/msg/
# eptAsyncCmd/fUsSetsState literals, '='/'<'/'(' separators, space-
# indented dsid/munged/hex-dump forms, '\\d+\\*'). The gate skips the
# 25-branch regex for the ~60 % of lines that start with any other
# character; tests/test_wash_fidelity.py checks the gated condition
# against Python ``.match`` on adversarial lines.
_LINE_RM_FIRST = list("*BR+TDf mSeL<=(") + [str(d) for d in range(10)]


def _line_rm_sql(c: str) -> str:
    """P4: the reference's anchored ``PTN_LINE_RM.match``; the
    Python-re alternation is Java-compatible verbatim."""
    firsts = ", ".join(sql_str(ch) for ch in _LINE_RM_FIRST)
    anchored = sql_str("^(?:" + P.PTN_LINE_RM.pattern + ")")
    return f"substring({c}, 1, 1) IN ({firsts}) AND {c} RLIKE {anchored}"


_CONTENT = _content_sql("_cleaned")
_LINE_RM = _line_rm_sql("_cleaned")


def pages_to_lines(pages: DataFrame) -> DataFrame:
    """input_hint-shaped web_pages → one row per physical line.

    posexplode keeps the in-page line order as an explicit column —
    Spark guarantees no implicit row order, so every downstream
    order-sensitive op keys on (doc/url, line_no).
    """
    cols = [c for c in ("doc_id", "url", "warc_ts", "lang") if c in pages.columns]
    return pages.selectExpr(
        *cols, f"posexplode(split(text, {_NEWLINE})) AS (line_no, raw)"
    )


def wash(lines: DataFrame) -> DataFrame:
    """P1/P2/P3/P4/P5/P6/P9/P10 in one codegen stage over ``raw``; each
    regex runs once per line.

    The anchored timestamp regex runs once (regexp_extract of the whole
    matched prefix, ``_pfx``); flags, class label and the stripped
    content all derive from that prefix with cheap string ops. The
    pid/sid clean regex runs once (``_cleaned``). Both are outputs of a
    one-row Generate (``one_row_generate``), so the two filters read
    them instead of re-running their regexes: with plain columns,
    Catalyst copied the definitions into the pushed-down filters and
    the anchor ran 4 times per line, the clean 3 times.
    """
    # prefix = "<ts> [abn: ][segsign: ][cNNN ]" or "" when no ts matches;
    # label markers can only occur inside the matched prefix, so
    # contains() on the prefix is exact.
    stripped = "substring(raw, length(_pfx) + 1)"
    df = one_row_generate(lines, "_pfx", f"regexp_extract(raw, {sql_str(_TS_ANCHOR)}, 0)")
    # P3 empty purge FIRST, on the stripped line: clean/rsp preserve
    # emptiness both ways (clean needs a 'Word: ' lookahead, rsp needs
    # 'Response: ...'), so testing before them is equivalent to the
    # reference's post-domain-process check.
    df = df.where(f"length(btrim({stripped}, {_BLANKS})) > 0")
    df = one_row_generate(df, "_cleaned", f"regexp_replace({stripped}, {sql_str(_CLEAN_CHAR)}, '')")
    # P4 line removal on _cleaned (reference order: after clean, where
    # pid/sid stripping can expose a removable line). Testing before rsp
    # is equivalent: no rsp source or canonical line matches any
    # PTN_LINE_RM branch (they all start 'Response: ', which no branch
    # accepts).
    df = df.where(f"NOT ({_LINE_RM})")
    return with_sql(
        df,
        {
            "has_ts": "CAST(_pfx != '' AS INT)",
            "is_abn": "CAST(contains(_pfx, 'abn: ') AS INT)",
            "is_seg": "CAST(contains(_pfx, 'segsign: ') AS INT)",
            "class_label": f"regexp_extract(_pfx, {sql_str('(c[0-9]{3} )$')}, 1)",
            # P6 then P5 in one single-consumer expression.
            "content": _CONTENT,
        },
        drop=("_pfx", "_cleaned"),
    )


@F.pandas_udf(T.StringType())
def mask_params_cm_udf(content: pd.Series) -> pd.Series:
    """P7/P12 cm tier: the cable-modem extension's ordered chain
    (extensions/cm/patterns.py:341-352 applied like drain.py:880-887),
    vectorized over Arrow batches. Pandas-UDF only — the reference's
    IPv6 pattern uses `{,n}` quantifiers Java regex treats as literal
    text, so there is deliberately no JVM rewrite of this tier."""
    s = content
    for ptn, repl in P.PTN_HARD_PARA_CM:
        s = s.str.replace(ptn, repl, regex=True)
    return s


def mask_cm(lines: DataFrame) -> DataFrame:
    return lines.withColumn("masked", mask_params_cm_udf(F.col("content")))


# P7's ordered chain. The first four passes are guarded in _mask_sql;
# BARE_INT runs on every line.
_MASK_GUARDED = (
    (P.SQL_CTIME, "<*>"),
    (P.SQL_IPV4, "<*>"),
    (P.SQL_MAC, "<*>"),
    (P.SQL_TIME_24H, " <*>$5"),
)
_MASK_BARE_INT = (P.SQL_BARE_INT, " <*> ")


def _replace_sql(c: str, ptn: str, repl: str) -> str:
    return f"regexp_replace({c}, {sql_str(ptn)}, {sql_str(repl)})"


def _count_sql(c: str, ch: str) -> str:
    """Occurrences of the single-byte ASCII ``ch`` in ``c``, without a
    regex: an ASCII byte never occurs inside a multi-byte UTF-8
    sequence, so the byte-length difference counts it exactly."""
    return f"octet_length({c}) - octet_length(replace({c}, {sql_str(ch)}, ''))"


def _mask_sql(c: str) -> str:
    """JVM-side P7 masking (Java-safe rewrites of the reference chain).

    Most lines run only the BARE_INT pass, behind an exact guard on the
    original column ``c``. Each earlier pass needs a minimum count in
    the text it scans: CTIME and TIME_24H need 2 colons, IPv4 needs 3
    dots, MAC needs 5 colons. No replacement in the chain (``<*>``,
    `` <*>$5`` with ``$5`` a space or empty, `` <*> ``) adds a colon or
    a dot, so a line with fewer than 2 colons and fewer than 3 dots has
    no match for the first four passes, and its masked text is BARE_INT
    applied to ``c``. Every other line runs the full chain unchanged.
    One two-branch CASE keeps one copy of the chain; a guard per pass
    would copy the previous pass's expression into both branches at
    every level. A NULL ``c`` still gives NULL.

    tests/test_mask_fidelity.py proves byte-equality with the Python
    ``patterns.mask_params`` chain on the corpus and on lines on each
    side of every guard threshold.
    """
    # Sequential passes, deliberately NOT merged into one alternation:
    # A/B measurement (3 reps, local[8], 18M lines) shows the merged
    # (?:ctime)|(?:ipv4)|(?:mac) pattern ~10% SLOWER — single-pattern
    # passes keep Java regex's literal-prefix scan optimizations that a
    # top-level alternation defeats.
    full = c
    for ptn, repl in _MASK_GUARDED:
        full = _replace_sql(full, ptn, repl)
    guard = f"{_count_sql(c, ':')} >= 2 OR {_count_sql(c, '.')} >= 3"
    return (
        f"CASE WHEN {guard} THEN {_replace_sql(full, *_MASK_BARE_INT)} "
        f"ELSE {_replace_sql(c, *_MASK_BARE_INT)} END"
    )


def mask(lines: DataFrame, content: str = "content") -> DataFrame:
    return with_sql(lines, {"masked": _mask_sql(content)})


def sessionize(lines: DataFrame) -> DataFrame:
    """P10: running sum of boundary flags → session_id within a document.

    The reference derives session sizes with a sequential scan
    (preprocess_base.py:684-731); a window running-sum is the
    shuffle-minimal Spark equivalent (partitioned by document, so it
    scales — no global ordering).
    """
    w = Window.partitionBy("doc_id").orderBy("line_no").rowsBetween(Window.unboundedPreceding, 0)
    return lines.withColumn("session_id", F.sum("is_seg").over(w))
