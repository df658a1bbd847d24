"""Wash-stage fidelity (P4/P5/P6).

Covers the round-1 VERDICT gaps:
  P5 token splitting  — split_token_apart (preprocess_base.py:807-826)
  P6 response status  — PTN_RSP_STAT loop (ftp/preprocess.py:30-37)
  P4 line removal     — PTN_LINE_RM (cm/patterns.py:79-103, applied at
                        cm/preprocess.py:76-82)

Two tiers:
(1) Against the reference's OWN pattern files and loop semantics, loaded
read-only from the reference checkout (``REF``): our compiled pattern
TEXTS equal the reference's, and our Python tier
(``patterns.split_tokens``, ``normalize_response``) equals the
reference loops. These skip when the reference checkout is absent.
(2) The JVM fast path (the SQL text ``operators.parse`` builds) is
byte-identical to that Python tier on the checked-in adversarial line
sets below and on the generated corpus. These always run.
"""

from __future__ import annotations

import importlib.util
import os
import sys
import types

import pytest

from tests.conftest import SF_SMALL

REF = "/root/reference/analyzer"


def _load(name: str, path: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def ref_ftp():
    if not os.path.isdir(REF):
        pytest.skip("reference checkout not present")
    sys.modules.setdefault("analyzer", types.ModuleType("analyzer"))
    utils_pkg = types.ModuleType("analyzer.utils")
    sys.modules.setdefault("analyzer.utils", utils_pkg)
    misc = _load("analyzer.utils.misc_regex", f"{REF}/utils/misc_regex.py")
    sys.modules["analyzer.utils"].misc_regex = misc
    return _load("_ref_ftp_patterns2", f"{REF}/extensions/ftp/patterns.py")


@pytest.fixture(scope="module")
def ref_cm(ref_ftp):
    return _load("_ref_cm_patterns", f"{REF}/extensions/cm/patterns.py")


# ---------------------------------------------------------------------------
# Reference-loop oracles (transcribed semantics, patterns from the ref);
# only the tier-(1) tests use them.
# ---------------------------------------------------------------------------


def ref_split(line: str, ref) -> str:
    # preprocess_base.py:807-826 split_token_apart, exactly: search, and
    # if found sub EVERY occurrence with group(0)+' ' (left) / ' '+group(0)
    # (right) of the FIRST match.
    for ptn in ref.PTN_SPLIT_LEFT:
        m = ptn.search(line)
        if m:
            line = ptn.sub("".join([m.group(0), " "]), line)
    for ptn in ref.PTN_SPLIT_RIGHT:
        m = ptn.search(line)
        if m:
            line = ptn.sub("".join([" ", m.group(0)]), line)
    return line


def ref_rsp(line: str, ref) -> str:
    # ftp/preprocess.py:30-37: first anchored match replaces the line.
    for rex, log in ref.PTN_RSP_STAT.items():
        if rex.match(line):
            return log.rstrip("\n")  # our line model carries no newline
    return line


SPLIT_CASES = [
    "Status: offset=3600 seconds",
    "a=b c=d chained = assignments x==y z= w",
    "Trace: CControlSocket::SendNextCommand()",
    "ns::Ab short, ns::Abc long, A::B::Cdef nested",
    "call(x) (y) (-1) (+2) () (word) end) fn()",
    "mix: a=(b) c::Ddd(e) ff(g=h)",
    "equals at end= ",
    "=start and (0) and x)",
    "Trace: Verifying certificate (depth 0)",
]

RSP_CASES = [
    "Response: 211-Status of connection",
    "Response: 211 End of status",
    "Response: 213 20220622000000",
    "Response: 220-FileZilla Server",
    "Response: 220 ready",
    "Response: 421 Timeout - try again later",
    "Response: 230 Login successful",
    "Response: 550 File not found",
    "Response: 4211 not a 421",  # '421 ' needs the space
    "prefix Response: 211 not anchored",
]

RM_CASES = [
    "**********",
    "*",
    "BCM33901 Bootloader version 2.5.0",
    "BCM3390abc",  # 'BCM3390\\d+' needs a digit
    "RAM Windows size 128 mb",
    "==================",
    "=================",  # 17 '=' — below {18}
    "Type 'help' or 'license' for more information.",
    "RCC-> foo",
    "42* strange",
    "(word) leading paren token",
    "(word extra) not a single token",
    "msg 0x1234",
    "Len: 12 bytes",
    "  00 10 18 de   f1 b8 c5 2e   14 56  | .........V",
    "Suboption 3: data",
    "normal line stays",
    "Command: RETR file_1.dat",
]


def test_split_patterns_equal_reference(ref_ftp):
    from loganalyzer_spark import patterns as P

    assert [p.pattern for p in P.PTN_SPLIT_LEFT] == [
        p.pattern for p in ref_ftp.PTN_SPLIT_LEFT
    ]
    assert [p.pattern for p in P.PTN_SPLIT_RIGHT] == [
        p.pattern for p in ref_ftp.PTN_SPLIT_RIGHT
    ]


def test_rsp_patterns_equal_reference(ref_ftp):
    from loganalyzer_spark import patterns as P

    ref_items = list(ref_ftp.PTN_RSP_STAT.items())
    assert len(ref_items) == len(P.PTN_RSP_STAT)
    for (rp, rlog), (lp, llog) in zip(ref_items, P.PTN_RSP_STAT):
        assert rp.pattern == lp.pattern
        assert rlog.rstrip("\n") == llog


def test_line_rm_pattern_equals_reference(ref_cm):
    from loganalyzer_spark import patterns as P

    assert P.PTN_LINE_RM.pattern == ref_cm.PTN_LINE_RM.pattern


def test_python_split_equals_reference_loop(ref_ftp):
    from loganalyzer_spark import patterns as P

    for c in SPLIT_CASES:
        assert P.split_tokens(c) == ref_split(c, ref_ftp), c


def test_python_rsp_equals_reference_loop(ref_ftp):
    from loganalyzer_spark import patterns as P

    for c in RSP_CASES:
        assert P.normalize_response(c) == ref_rsp(c, ref_ftp), c


def _jvm(spark, cases, **sql):
    """Evaluate each SQL text over a one-column frame of ``cases``."""
    df = spark.createDataFrame([(c,) for c in cases], "line string")
    rows = df.selectExpr("line", *[f"{e} AS {k}" for k, e in sql.items()]).collect()
    return {r["line"]: r for r in rows}


def test_jvm_split_and_rsp_byte_identical(spark):
    """JVM P5 regexp_replace chain == patterns.split_tokens, and the
    content expression's P6 branch == patterns.normalize_response, on
    adversarial literals (beyond what the corpus guarantees)."""
    from loganalyzer_spark import patterns as P
    from loganalyzer_spark.operators.parse import _content_sql, _split_sql

    cases = SPLIT_CASES + RSP_CASES
    got = _jvm(spark, cases, split=_split_sql("line"), content=_content_sql("line"))
    for c in cases:
        assert got[c]["split"] == P.split_tokens(c), f"split: {c!r}"
    for c in RSP_CASES:
        assert got[c]["content"] == P.normalize_response(c), f"rsp: {c!r}"


def test_jvm_fused_content_equals_reference_chain(spark):
    """The production fused/gated content expression (P6 canonical fold
    + P5 split gate) == the composition split_tokens(normalize_response(
    line)) byte-for-byte — the gates and the constant fold must be
    transparent."""
    from loganalyzer_spark import patterns as P
    from loganalyzer_spark.operators.parse import _content_sql

    cases = SPLIT_CASES + RSP_CASES + [
        "",                       # empty survives the gate untouched
        "no gate chars at all",   # split gate false
        "Response: 211-has (gate) chars=y",  # canonical fold wins over split
        "Response: 999 unknown (x) a=b",     # rsp miss -> gated split runs
    ]
    got = _jvm(spark, cases, content=_content_sql("line"))
    for c in cases:
        want = P.split_tokens(P.normalize_response(c))
        assert got[c]["content"] == want, f"content: {c!r}"


def test_jvm_line_rm_matches_python_match(spark):
    """The gated wash condition (first-char gate + anchored Java rlike)
    == Python .match for PTN_LINE_RM — the gate must be transparent."""
    from loganalyzer_spark import patterns as P
    from loganalyzer_spark.operators.parse import _line_rm_sql

    got = _jvm(spark, RM_CASES, rm=_line_rm_sql("line"))
    for c in RM_CASES:
        expect = P.PTN_LINE_RM.match(c) is not None
        assert got[c]["rm"] == expect, f"line_rm: {c!r}"


def test_wash_equals_reference_order_on_adversarial_raw(spark):
    """Full wash() vs a transcription of the reference main-loop order
    (strip ts -> clean -> rsp -> line-rm -> empty -> split;
    preprocess_base.py:217-407 + ftp/cm process_for_domain) over the
    Python tier. Covers the edges the production reordering must keep
    equivalent, e.g. pid/sid stripping EXPOSING a removable line
    ('Len: ...'), and empty-after-strip lines."""
    import re

    from loganalyzer_spark import patterns as P
    from loganalyzer_spark.operators import parse

    TS = "2022-06-22 14:42:53 "
    raws = [
        TS + "10236 1 Command: RETR data.bin",
        TS + "10236 1 Len: 12 bytes",      # clean exposes a LINE_RM match
        TS + "**********",                  # removable banner
        TS + "10236 1 Response: 220-FileZilla Server 1.2",
        TS + "10236 1 Response: 211-Status follows",
        TS + "abn: 10236 1 Status: Timezone offset=7 seconds",
        TS + "segsign: 10000 2 Trace: CControlSocket::SendNextCommand()",
        TS + "10236 1 Trace: Verifying certificate (depth 2)",
        TS,                                 # empty after strip
        TS + "   \t ",                      # whitespace-only content
        TS + "=====================",       # removable separator
        TS + "10236 1 Error: code=17 (x) done",
    ]
    clean = re.compile(r"\d+ \d (?=[A-Z][a-z]+: )", re.IGNORECASE)
    std_ts = re.compile(
        r"\d{4}-\d{2}-\d{2} (([01]\d|2[0-3]):([0-5]\d):([0-5]\d)|24:00:00) "
        r"(abn: )?(segsign: )?(c[0-9]{3} )?"
    )

    def ref_order(line):
        m = std_ts.match(line)
        if not m:
            return None
        s = line[m.end():]
        s = clean.sub("", s)                       # P2
        s = P.normalize_response(s)                # P6
        if re.match(r"^[ \t]*$", s):               # P3
            return None
        if P.PTN_LINE_RM.match(s):                 # P4
            return None
        return P.split_tokens(s)                   # P5

    expected = {i: ref_order(r) for i, r in enumerate(raws)}
    df = spark.createDataFrame(
        [(i, r) for i, r in enumerate(raws)], "line_no int, raw string"
    )
    got = {
        r["line_no"]: r["content"]
        for r in parse.wash(df).select("line_no", "content").collect()
    }
    for i in expected:
        if expected[i] is None:
            assert i not in got, f"line {i} should be removed: {raws[i]!r}"
        else:
            assert got.get(i) == expected[i], (
                f"line {i}: {got.get(i)!r} != {expected[i]!r}"
            )


def test_wash_on_corpus_recovers_generator_truth(spark):
    """End-to-end: wash(raw) over the corpus == generator ground truth
    (split/normalized content; PTN_LINE_RM rows dropped)."""
    from loganalyzer_spark import datagen
    from loganalyzer_spark.operators import parse

    lines = datagen.raw_lines(spark, SF_SMALL)
    truth = (
        lines.filter("is_rm = 0")
        .select("doc_id", "line_no", "content")
        .toPandas()
        .sort_values(["doc_id", "line_no"])
        .reset_index(drop=True)
    )
    washed = (
        parse.wash(lines.drop("content", "is_abn", "is_seg", "is_rm"))
        .select("doc_id", "line_no", "content")
        .toPandas()
        .sort_values(["doc_id", "line_no"])
        .reset_index(drop=True)
    )
    assert len(truth) == len(washed) > 3000
    # the corpus must actually exercise the new wash stages
    assert truth["content"].str.contains(":: ").any()
    assert truth["content"].str.contains("offset= ").any()
    assert truth["content"].str.contains("\\( depth").any()
    assert (truth["content"] == "Response: 213 File status").any()
    assert truth.equals(washed)
