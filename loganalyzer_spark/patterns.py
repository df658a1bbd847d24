"""Regex surface of the engine.

Two tiers:

1. ``PTN_*`` — Python ``re`` objects that reproduce the reference's
   parameter-masking and label semantics exactly (the per-row invariant is
   byte-identical masked text). The ftp chain (``mask_params``) is the
   reference the JVM masking is tested against; the cm chain runs inside
   a vectorized pandas UDF (``parse.mask_cm``), never per-row Python,
   because Python ``re`` and Java regex disagree on its corner cases
   (SURVEY.md §4.4).

   Sources in /root/reference:
     - analyzer/utils/misc_regex.py:15-34   (ctime, MAC, IPv4)
     - analyzer/extensions/ftp/patterns.py:99-122  (PTN_HARD_PARA order)
     - analyzer/extensions/ftp/patterns.py:19-30   (standard ts + labels)
     - analyzer/preprocess/patterns.py:15-48       (labels, nested, empty)

2. ``SQL_*`` — RE2-compatible rewrites of the same patterns for DuckDB
   oracles and, where byte-equivalent, Spark ``regexp_replace``. The
   equivalence is *tested* (tests/test_mask_fidelity.py), not assumed.
"""

from __future__ import annotations

import re

# ---------------------------------------------------------------------------
# Tier 1 — reference-faithful Python re (the masking reference)
# ---------------------------------------------------------------------------

# misc_regex.py:15-21 — libc ctime timestamps, e.g. "Mon Jun 20 14:42:53 2022"
PTN_LIBC_CTIME = re.compile(
    r"(Mon|Tue|Wed|Thu|Fri|Sat|Sun) "
    r"(Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec) "
    r"(([0-2]\d)|(3[0-1])) "
    r"(([01]\d|2[0-3]):([0-5]\d):([0-5]\d)|24:00:00) \d{4}"
)

# misc_regex.py:28-30 — MAC address
PTN_MAC_ADDR = re.compile(r"([A-Fa-f0-9]{1,2}\:){5}[A-Fa-f0-9]{1,2}")

# misc_regex.py:32-34 — IPv4 (with optional leading slash / trailing port/colon)
PTN_IP_V4 = re.compile(r"(/|)([0-9]+\.){3}[0-9]+(:[0-9]+|)(:|)")

# ftp/patterns.py:104-107 — bare 24h time token bounded by spaces/line end
PTN_TIME_24H = re.compile(
    r"(?<= )(([01]\d|2[0-3]):([0-5]\d):([0-5]\d)|24:00:00)(?= |$)"
)

# ftp/patterns.py:109-116 — isolated integer token
PTN_BARE_INT = re.compile(r" \d+ ")

# ftp/patterns.py:118-124 — masking order matters (dict order preserved)
PTN_HARD_PARA: list[tuple[re.Pattern, str]] = [
    (PTN_LIBC_CTIME, "<*>"),
    (PTN_IP_V4, "<*>"),
    (PTN_MAC_ADDR, "<*>"),
    (PTN_TIME_24H, "<*>"),
    (PTN_BARE_INT, " <*> "),
]

# ftp/patterns.py:63-79 — token splitting (insert space after '='/'::'/'(' etc.)
PTN_SPLIT_LEFT = [
    re.compile(r"=(?=[^= \r\n])"),
    re.compile(r"\:\:(?=[a-zA-Z_]{3,})"),
    re.compile(r"\((?=(\w|[-+]))"),
]
PTN_SPLIT_RIGHT = [re.compile(r"(?<=\w)\)")]


def split_tokens(line: str) -> str:
    """P5 — reference ``split_token_apart`` semantics
    (preprocess_base.py:807-826, called from :376): for each pattern,
    if it occurs, every occurrence is replaced by the FIRST match's
    text plus a space (left list) / a space plus the match (right
    list). All four patterns match constant literal text ('=', '::',
    '(', ')') under zero-width lookarounds, so this degenerates to a
    global sub — which is what the JVM fast path in
    ``operators/parse.py`` exploits.
    """
    for ptn in PTN_SPLIT_LEFT:
        m = ptn.search(line)
        if m:
            line = ptn.sub(m.group(0) + " ", line)
    for ptn in PTN_SPLIT_RIGHT:
        m = ptn.search(line)
        if m:
            line = ptn.sub(" " + m.group(0), line)
    return line


# ftp/patterns.py:46-59 — response-status normalization (P6). Anchored
# ``.match`` in the reference (ftp/preprocess.py:30-37): first matching
# pattern replaces the WHOLE line with its canonical text. The
# reference's replacement strings carry a trailing '\n' because its
# lines do; our line model strips newlines at posexplode, so the
# canonical strings here are newline-free (byte-identical otherwise).
PTN_RSP_STAT: list[tuple[re.Pattern, str]] = [
    (re.compile(r"Response: 211[ \-]"),
     "Response: 211 System status, or system help"),
    (re.compile(r"Response: 213 "), "Response: 213 File status"),
    (re.compile(r"Response: 220[ \-]"), "Response: 220 FTP server is ready"),
    (re.compile(r"Response: 421 "),
     "Response: 421 Service not available, closing connection"),
]


def normalize_response(line: str) -> str:
    """P6 reference loop (extensions/ftp/preprocess.py:30-37)."""
    for ptn, canonical in PTN_RSP_STAT:
        if ptn.match(line):
            return canonical
    return line


# cm/patterns.py:79-103 — P4 line removal: drop any line whose (washed)
# content starts with one of these shapes (``.match`` ⇒ anchored). The
# alternation is reproduced verbatim — it is data, like the masking
# patterns (SURVEY §4.4); applied at cm/preprocess.py:76-82.
PTN_LINE_RM = re.compile(
    r"\*+$|BCM3390\d+|RAM Windows size \d+ mb|"
    r"\+{10}|\+-{5}|"
    r"BCM339[0-9]+[a-zA-Z]*[0-9] Bootloader version|"
    r"RCC->|"
    r"TCC->|"
    r"\d+\*|"
    r"Readback Test pkt\:|"
    r"DHCPc\:  Timed out waiting for offers for lease|"
    r"fUsSetsState = |"
    r"( {7}munged error type: T=)|"
    r"( {5}munged error type =)|"
    r"( {5}partial svc dcid\(s\): T=)|"
    r"Type \'help\' or|"
    r" {24}dsid: | {24}DSID: | {24}CMIM: |"
    r"={18}|"
    r"Suboption \d:|"
    r"eptAsyncCmd: Ept not initialized|"
    r"\([a-zA-Z0-9]+\)|"
    r"<<<<<<<<<<<<< rpc_dump_msg |"
    r"msg 0x|"
    r"Len: \d+ |"
    r"( {2}([0-9a-f]{2} ){1,4}){1,4} {1,52}\| "
)

# ftp/patterns.py:128-136 — special tokens that must match exactly between
# a log and a candidate template (anti-over-parsing guard in seq_dist,
# drain.py:430-446)
PTN_SPEC_TOKEN = [
    re.compile(r"[a-zA-Z_]+::"),
    re.compile(r"[a-zA-Z_]+\(\)"),
    re.compile(r"[a-zA-Z_]+\("),
]


def mask_params(line: str) -> str:
    """Reference masking semantics: ordered re.sub chain (drain.py:880-887)."""
    for ptn, repl in PTN_HARD_PARA:
        line = ptn.sub(repl, line)
    return line


# ---------------------------------------------------------------------------
# cm masking tier (P12/P7): the cable-modem extension's hard-parameter
# chain — SNMP OID, IPv6, filename/channel/dcid/status classes
# (analyzer/extensions/cm/patterns.py:299-350, applied like the ftp tier
# at drain.py:880-887). Pattern texts reproduced verbatim — they are
# data (SURVEY §4.4); this tier runs ONLY on the pandas-UDF fidelity
# path: the reference IPv6 regex uses `{,2}`-style quantifiers that Java
# regex silently treats as literals, so a JVM rewrite would diverge.
# ---------------------------------------------------------------------------

# misc_regex.py:23-26 — SNMP MIB OID
PTN_SNMP_MIB = re.compile(r"([0-9]+\.){4,20}[0-9]+")

# misc_regex.py:36-66 — IPv6 (verbatim, incl. the reference's literal
# '\\.' quirk inherited from the gist it cites)
PTN_IP_V6 = re.compile(
    r" (?:(?:[0-9A-Fa-f]{1,4}:){6}(?:[0-9A-Fa-f]{1,4}:[0-9A-Fa-f]{1,4}"
    r"|(?:(?:[0-9]|[1-9][0-9]|1[0-9]{2}|2[0-4][0-9]|25[0-5])\\.){3}(?:[0-9]"
    r"|[1-9][0-9]|1[0-9]{2}|2[0-4][0-9]|25[0-5]))"
    r"|::(?:[0-9A-Fa-f]{1,4}:){5}(?:[0-9A-Fa-f]{1,4}:[0-9A-Fa-f]{1,4}"
    r"|(?:(?:[0-9]|[1-9][0-9]|1[0-9]{2}|2[0-4][0-9]|25[0-5])\\.){3}(?:[0-9]"
    r"|[1-9][0-9]|1[0-9]{2}|2[0-4][0-9]|25[0-5]))"
    r"|(?:[0-9A-Fa-f]{1,4})?::(?:[0-9A-Fa-f]{1,4}:){4}"
    r"(?:[0-9A-Fa-f]{1,4}:[0-9A-Fa-f]{1,4}|(?:(?:[0-9]|[1-9][0-9]|1[0-9]{2}"
    r"|2[0-4][0-9]|25[0-5])\\.){3}(?:[0-9]|[1-9][0-9]|1[0-9]{2}|2[0-4][0-9]"
    r"|25[0-5]))|(?:[0-9A-Fa-f]{1,4}:[0-9A-Fa-f]{1,4})?::(?:[0-9A-Fa-f]"
    r"{1,4}:){3}(?:[0-9A-Fa-f]{1,4}:[0-9A-Fa-f]{1,4}|(?:(?:[0-9]|[1-9][0-9]"
    r"|1[0-9]{2}|2[0-4][0-9]|25[0-5])\\.){3}(?:[0-9]|[1-9][0-9]|1[0-9]{2}"
    r"|2[0-4][0-9]|25[0-5]))|(?:(?:[0-9A-Fa-f]{1,4}:){,2}[0-9A-Fa-f]"
    r"{1,4})?::(?:[0-9A-Fa-f]{1,4}:){2}(?:[0-9A-Fa-f]{1,4}:[0-9A-Fa-f]{1,4}"
    r"|(?:(?:[0-9]|[1-9][0-9]|1[0-9]{2}|2[0-4][0-9]|25[0-5])\\.){3}(?:[0-9]"
    r"|[1-9][0-9]|1[0-9]{2}|2[0-4][0-9]|25[0-5]))|(?:(?:[0-9A-Fa-f]{1,4}:)"
    r"{,3}[0-9A-Fa-f]{1,4})?::[0-9A-Fa-f]{1,4}:(?:[0-9A-Fa-f]{1,4}:"
    r"[0-9A-Fa-f]{1,4}|(?:(?:[0-9]|[1-9][0-9]|1[0-9]{2}|2[0-4][0-9]"
    r"|25[0-5])\\.){3}(?:[0-9]|[1-9][0-9]|1[0-9]{2}|2[0-4][0-9]|25[0-5]))"
    r"|(?:(?:[0-9A-Fa-f]{1,4}:){,4}[0-9A-Fa-f]{1,4})?::(?:[0-9A-Fa-f]"
    r"{1,4}:[0-9A-Fa-f]{1,4}|(?:(?:[0-9]|[1-9][0-9]|1[0-9]{2}|2[0-4][0-9]"
    r"|25[0-5])\\.){3}(?:[0-9]|[1-9][0-9]|1[0-9]{2}|2[0-4][0-9]|25[0-5]))"
    r"|(?:(?:[0-9A-Fa-f]{1,4}:){,5}[0-9A-Fa-f]{1,4})?::[0-9A-Fa-f]{1,4}"
    r"|(?:(?:[0-9A-Fa-f]{1,4}:){,6}[0-9A-Fa-f]{1,4})?::)(/\d{1,3})?"
)

# cm/patterns.py:305-339 — the cm-specific parameter classes
PTN_CM_P5 = re.compile(
    r"(?<= Filename: )\S+|"
    r"C[hH]\d{2}|"
    r"(?<= )((QAM|FEC) lock failure)|"
    r"(?<=([Dd]cid= )|(prof= ))\[[^\]]*\]|"
    r"(?<= )(([01]\d|2[0-3]):([0-5]\d):([0-5]\d)|24:00:00)(?= |$)"
)
PTN_CM_P6 = re.compile(
    r"(?<=value=)(( [a-f0-9]{2}){6,14})"
    r"|(?<=HEX:)([A-F0-9]{2} )+"
    r"|( \( \d+\.?(\d+)?-\d+\.?(\d+)? \))+|( \d+){2,}|0x[A-Fa-f0-9]+"
    r"|(?<=[^A-Za-z0-9\.])(\-?\+?\d+\.?(\d+)?\*?)|(?<=\.\.)(\d+)"
)
PTN_CM_P7 = re.compile(
    r"\( k[A-Z]\w+ \)|\( [du]cid \)|\( ErrorRecovery \)"
    r"|\( ConsoleCmdOverride \)|\( T4NoStationMaintTimeout \)"
    r"|\( T2NoInitMaintTimeout \)|\( not specified \)"
    r"|\( no action \)|\( bcast or ucast \)"
)
PTN_CM_P8 = re.compile(r"Stat= (Continue|Success|Abort)")
PTN_CM_P9 = re.compile(r"qam [yn] fec [yn] snr")
PTN_CM_P10 = re.compile(r"txdata [yn]")

# cm/patterns.py:341-352 — dict order preserved (masking order matters)
PTN_HARD_PARA_CM: list[tuple[re.Pattern, str]] = [
    (PTN_LIBC_CTIME, "<*>"),
    (PTN_SNMP_MIB, "<*>"),
    (PTN_IP_V4, "<*>"),
    (PTN_IP_V6, " <*>"),
    (PTN_MAC_ADDR, "<*>"),
    (PTN_CM_P5, "<*>"),
    (PTN_CM_P6, " <*>"),
    (PTN_CM_P7, "( <*> )"),
    (PTN_CM_P8, "Stat= <*>"),
    (PTN_CM_P9, "qam <*> fec <*> snr"),
    (PTN_CM_P10, "txdata <*>"),
]


def mask_params_cm(line: str) -> str:
    """cm-tier masking: ordered re.sub chain, like mask_params()."""
    for ptn, repl in PTN_HARD_PARA_CM:
        line = ptn.sub(repl, line)
    return line


# ---------------------------------------------------------------------------
# Tier 2 — RE2/DuckDB-compatible rewrites (for oracle SQL)
# ---------------------------------------------------------------------------
# RE2 has no lookaround; PTN_TIME_24H is rewritten with capture groups. The
# rewrite consumes the trailing boundary, so *adjacent* maskable time tokens
# would diverge from Python re; test inputs guarantee isolation and
# tests/test_mask_fidelity.py asserts byte equality on the generated corpus.

SQL_CTIME = (
    "(Mon|Tue|Wed|Thu|Fri|Sat|Sun) "
    "(Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec) "
    "(([0-2]\\d)|(3[0-1])) "
    "(([01]\\d|2[0-3]):([0-5]\\d):([0-5]\\d)|24:00:00) \\d{4}"
)
SQL_MAC = "([A-Fa-f0-9]{1,2}:){5}[A-Fa-f0-9]{1,2}"
SQL_IPV4 = "(/|)([0-9]+\\.){3}[0-9]+(:[0-9]+|)(:|)"
SQL_TIME_24H = " (([01]\\d|2[0-3]):([0-5]\\d):([0-5]\\d)|24:00:00)( |$)"
SQL_BARE_INT = " \\d+ "


def duckdb_mask_expr(col: str) -> str:
    """DuckDB expression computing the same masked text as mask_params().

    Nested regexp_replace chain in PTN_HARD_PARA order ('g' = global, like
    re.sub). The time-24h rewrite re-emits the consumed boundary via \\5.
    """
    e = col
    e = f"regexp_replace({e}, '{SQL_CTIME}', '<*>', 'g')"
    e = f"regexp_replace({e}, '{SQL_IPV4}', '<*>', 'g')"
    e = f"regexp_replace({e}, '{SQL_MAC}', '<*>', 'g')"
    e = f"regexp_replace({e}, '{SQL_TIME_24H}', ' <*>\\5', 'g')"
    e = f"regexp_replace({e}, '{SQL_BARE_INT}', ' <*> ', 'g')"
    return e


# Standard timestamp + labels, RE2 form (no lookaround needed — identical).
SQL_STD_TS = (
    "\\d{4}-\\d{2}-\\d{2} (([01]\\d|2[0-3]):([0-5]\\d):([0-5]\\d)|24:00:00) "
    "(abn: )?(segsign: )?(c[0-9]{3} )?"
)


# ---------------------------------------------------------------------------
# cm block/table presets (M3 preset data): the cable-modem extension's
# block-remove / block-indent / table-title machines
# (extensions/cm/preprocess.py:48-178 drives them; pattern data at
# extensions/cm/patterns.py — line refs below). Pattern texts reproduced
# verbatim: they are data (SURVEY §4.4); the reference applies them with
# re.match (anchored at start), so the Spark/DuckDB forms prepend '^'.
# ---------------------------------------------------------------------------

# extensions/cm/patterns.py:212-216 — block removed entirely,
# [start inclusive, end exclusive): the end line survives.
PTN_BLOCK_RM_START = re.compile(
    r'\| This image is built using remote flash as nonvol.|'
    r'Downloading LEAP image|'
    r'Initializing DS Docsis 3.0 MAC'
)

# extensions/cm/patterns.py:218-222
PTN_BLOCK_RM_END = re.compile(
    r'>>>>ChipID=0x339\d+|'
    r'>>>AP dload time|'
    r'(Running the system...)|(Automatically stopping at console)'
)

# extensions/cm/patterns.py:202-206 — block removed until the first
# primary (non-nested, non-empty) line, end exclusive.
PTN_BLOCK_RM_PRI = re.compile(
    r' {4}tap values:|'
    r' *Trimmed Downstream Ambiguity Resolution Frequency List|'
    r'=== Default Router List ==='
)

# extensions/cm/patterns.py:132-134 — a nested (embedded) line starts
# with whitespace.
PTN_NESTED_LINE = re.compile(r' +|\t+')

# extensions/cm/patterns.py:165-167 — indent the block after this line
# (first line NOT indented); an empty line ends the block.
PTN_BLOCK_INDENT = re.compile(r'===== Read Leap AIF Status =====')

# extensions/cm/patterns.py:170-172 — indent until PTN_BLOCK_INDENT2_END
# matches (that end line IS indented too).
PTN_BLOCK_INDENT2 = re.compile(r'== Beginning initial ranging for Docsis UCID')

# extensions/cm/patterns.py:174-179
PTN_BLOCK_INDENT2_END = re.compile(
    r'Using clamped minimum transmit power|'
    r'Using bottom of DRW initial upstream power|'
    r'Using per transmitter stored initial upstream power|'
    r'TCC ranging parameters specified power offset of'
)

# extensions/cm/patterns.py:108-126 — title lines of specific tables,
# removed statelessly (preprocess.py:171-172).
PTN_TABLE_TITLE = re.compile(
    r' *Trimmed Candidate Downstream Service Group|'
    r' *sgid +size +member|'
    r' *Downstream Active Channel Settings|'
    r' *dcid +type +frequency|'
    r' *Upstream Active Channel Settings|'
    r' *ucid +rpt enable|'
    r' *BcmCmUsTargetMset \(a.k.a. usable UCDs|'
    r' *us +config|'
    r' *phy +change|'
    r' *type +ucid +dcid +count|'
    r' *REG-RSP-MP Summary:|'
    r' *TCC commands->|'
    r' *ucid +action +ranging strategy|'
    r' *Service Flow settings->|'
    r' *sfid +sid +ucids|'
    r' *DSID settings->|'
    r' *dsid +action +reseq|'
    r' {5}US chan ID {5}Tx Power \(dBmV\)'
)

# extensions/cm/patterns.py:227-230 — common "----" table titles start a
# remove-until-empty-line block (preprocess.py:156-168).
PTN_TABLE_TITLE_COMMON = re.compile(r' *----')
