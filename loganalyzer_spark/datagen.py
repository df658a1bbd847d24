"""Deterministic synthetic ``web_pages`` corpus + dimension tables.

``BASELINE.json input_hint`` mandates the input shape
``(url string, warc_ts timestamp, html binary, text string, lang string)``
— a Common-Crawl-style table whose ``text`` carries log-like lines in the
reference's FTP log format (``analyzer/extensions/ftp/patterns.py:19-30``:
``2022-06-22 14:42:53 10236 1 Command: AUTH TLS`` with optional
``abn: `` / ``segsign: `` labels).

Everything here is **pure integer arithmetic + string concat seeded by
doc_id/line_no** (two LCG streams), so the exact same corpus is
constructible in Spark SQL *and* DuckDB SQL. That is what makes the
driver's DuckDB oracle able to check the full parse→route→aggregate
pipeline end to end: both engines derive identical input from the shared
``documents`` parquet (doc_id, lang), then run the query under test.

Line shapes are modeled on the reference's FTP template library
(``data/persist/ftp/template_lib.csv``): RETR/STOR commands, response
statuses, connect traces, GnuTLS errors — with parameters drawn from the
classes the reference masks (IPv4, 24h times, isolated integers;
``PTN_HARD_PARA``, ``analyzer/extensions/ftp/patterns.py:99-122``).
Template frequency is skewed (head template ≈ 35 %) to exercise salted
aggregation, and ~1 % of lines use a shape *absent* from the template
library to exercise the new-template fallback (``drain.py:546-600``).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

# ---------------------------------------------------------------------------
# Driver-side tables
# ---------------------------------------------------------------------------


def _sql_value(v, sql_type: str) -> str:
    """A Python value as a typed, foldable Spark SQL literal. Ints and
    bools print as SQL literals; strings go in as hex UTF-8 bytes, so
    quotes and regex backslashes need no escaping under any parser
    setting; floats go through repr, which round-trips (nan and inf
    included)."""
    if v is None:
        lit = "NULL"
    elif isinstance(v, int):
        lit = str(v)
    elif isinstance(v, float):
        lit = f"'{v!r}'"
    elif isinstance(v, str):
        lit = f"X'{v.encode().hex()}'"
    else:
        raise TypeError(f"local_df: unsupported value {v!r} for {sql_type}")
    return f"CAST({lit} AS {sql_type})"


def local_df(spark: SparkSession, rows: list[tuple], ddl_schema: str) -> DataFrame:
    """A small driver-built table as a JVM ``LocalRelation``.

    ``createDataFrame`` over a Python list plans a ``LogicalRDD`` over a
    Python RDD, so every query that reads it starts Python-worker jobs
    just to scan a few rows. This builds one inline ``VALUES`` table
    instead, with one SQL call. A trailing all-NULL row, dropped by the
    ``WHERE``, keeps every column nullable as the DDL declares and makes
    ``rows == []`` an empty frame of the same schema; the optimizer
    folds the filter back into the ``LocalRelation``.
    """
    fields = DataType.fromDDL(ddl_schema).fields
    types = [f.dataType.simpleString() for f in fields]
    cols = ", ".join("`" + f.name.replace("`", "``") + "`" for f in fields)
    values = [
        ", ".join(["TRUE"] + [_sql_value(v, t) for v, t in zip(row, types)])
        for row in rows
    ]
    values.append(", ".join(["FALSE"] + [_sql_value(None, t) for t in types]))
    return spark.sql(
        f"SELECT {cols} FROM VALUES ({'), ('.join(values)}) "
        f"AS t(`_local_df_keep`, {cols}) WHERE `_local_df_keep`"
    )


# ---------------------------------------------------------------------------
# Template dimension (the reference's template_lib.csv shape: drain.py:763-764)
# ---------------------------------------------------------------------------

_TEMPLATES = [
    # (template text with <*> params, severity or None, description)
    # Template texts are the post-wash (split_token_apart-applied,
    # preprocess_base.py:807-826) masked forms — e.g. the socket trace
    # carries ':: ' because P5 splits 'CControlSocket::SendNextCommand'.
    ("Command: RETR <*>", None, "file retrieve"),
    ("Command: STOR <*>", None, "file store"),
    ("Response: <*> Login successful", "notice", "login ok"),
    ("Trace: Connecting to <*> port <*>", None, "connect"),
    ("Trace: Session time <*> elapsed", None, "session time"),
    ("Status: Disconnected from server", "warning", "disconnect"),
    ("Error: GnuTLS error <*> in gnutls_record_recv", "fatal", "tls error"),
    ("Trace: CControlSocket:: SendNextCommand()", None, "socket trace"),
    ("Response: <*> File not found", "error", "missing file"),
    ("Trace: Doing ECDH key exchange with curve <*>", None, "key exchange"),
    # P5/P6 wash-fidelity shapes (round 2): split-token and normalized
    # response-status lines (ftp/patterns.py:46-79).
    ("Status: Timezone offset= <*> seconds", None, "tz offset"),
    ("Trace: Verifying certificate ( depth <*> )", None, "cert verify"),
    ("Response: <*> System status, or system help", None, "rsp 211"),
    ("Response: <*> File status", None, "rsp 213"),
    ("Response: <*> FTP server is ready", None, "rsp 220"),
    ("Response: <*> Service not available, closing connection",
     "warning", "rsp 421"),
]

_RE_ESCAPE = set("[](){}.*+?^$|\\")


def _tok_regex(tok: str) -> str:
    if tok == "<*>":
        return "[^ ]+"
    return "".join(("\\" + c) if c in _RE_ESCAPE else c for c in tok)


def template_regex(template: str) -> str:
    """Anchored token-wise regex: <*> matches exactly one token.

    Valid in both Java regex (Spark RLIKE) and RE2 (DuckDB).
    """
    return "^" + " ".join(_tok_regex(t) for t in template.split(" ")) + "$"


def event_id_of(template: str) -> str:
    """EventId = md5(template)[:8] — the reference's id scheme (drain.py:732)."""
    return hashlib.md5(template.encode()).hexdigest()[:8]


def template_row(tmpl: str) -> tuple:
    """One TEMPLATE_SCHEMA row; a one-token template's second_token is ''."""
    toks = tmpl.split(" ")
    return (
        event_id_of(tmpl),
        tmpl,
        len(toks),
        toks[0],
        toks[1] if len(toks) > 1 else "",
        sum(1 for t in toks if t == "<*>"),
        template_regex(tmpl),
    )


def template_rows() -> list[tuple]:
    return [template_row(tmpl) for tmpl, _sev, _desc in _TEMPLATES]


TEMPLATE_SCHEMA = (
    "event_id string, event_template string, token_count int, "
    "first_token string, second_token string, para_count int, match_regex string"
)


def kb_rows() -> list[tuple]:
    """Knowledge-base dim: (event_id, severity, descpt) for known templates.

    Mirrors kb_no_para.yaml entries (extensions/ftp/knowledgebase.py:44-52);
    templates without an explicit rule default to 'info' at join time.
    """
    return [
        (event_id_of(t), sev if sev else "info", desc)
        for t, sev, desc in _TEMPLATES
    ]


KB_SCHEMA = "event_id string, severity string, descpt string"

CLASS_ROWS = [
    ("c001", "critical anomalies"),
    ("c002", "degradation warnings"),
    ("c003", "notable events"),
    ("normal", "normal traffic"),
]


def vocab_rows() -> list[tuple[str, int]]:
    """F5 vocab dim: event_id → dense index; deterministic (seeded —
    the reference's shuffle is unseeded, modern_base.py:89, which SURVEY
    §4.5 flags as a bug to fix). Last slot reserved for unknown ids
    (modern_base.py:91, deeplog.py:170)."""
    ids = sorted(r[0] for r in template_rows())
    rows = [(e, i) for i, e in enumerate(ids)]
    rows.append(("ffffffff", len(ids)))
    return rows


VOCAB_SIZE = len(_TEMPLATES) + 1


def vocab_df(spark: SparkSession) -> DataFrame:
    return local_df(spark, vocab_rows(), "event_id string, vocab_idx int")


def duckdb_vocab_values() -> str:
    return duckdb_values(vocab_rows(), "v(event_id, vocab_idx)")


def templates_df(spark: SparkSession) -> DataFrame:
    return local_df(spark, template_rows(), TEMPLATE_SCHEMA)


def kb_df(spark: SparkSession) -> DataFrame:
    return local_df(spark, kb_rows(), KB_SCHEMA)


def classes_df(spark: SparkSession) -> DataFrame:
    return local_df(spark, CLASS_ROWS, "class_id string, descpt string")


# ---------------------------------------------------------------------------
# Dialect-parameterized raw-line derivation
# ---------------------------------------------------------------------------


def _idiv(dialect: str, a: str, b: str) -> str:
    return f"(({a}) DIV ({b}))" if dialect == "spark" else f"(({a}) // ({b}))"


def _hms(dialect: str, s: str) -> str:
    """secs-of-day -> 'HH:MM:SS'."""
    h = _idiv(dialect, s, "3600")
    m = f"({_idiv(dialect, s, '60')} % 60)"
    return (
        f"lpad(cast({h} as varchar), 2, '0') || ':' || "
        f"lpad(cast({m} as varchar), 2, '0') || ':' || "
        f"lpad(cast(({s}) % 60 as varchar), 2, '0')"
    )


def _shapes(dialect: str) -> list[tuple[str, str, str | None, bool]]:
    """(condition, washed-content expr, pre-wash rawc expr or None, is_rm)
    per line shape. ``rawc`` is what the physical line carries BEFORE the
    wash stage; None means rawc == content (nothing for wash to fix).
    One shared table drives all three generated CASEs, so the Spark and
    DuckDB derivations cannot drift.

    Skewed frequencies (r1 % 100); the out-of-library shape overrides at
    r1 % 97 == 0 (~1 %). Shapes at p ≥ 75 exercise wash fidelity:
      sock/tz/cert — P5 split tokens ('::', '=', parens)
      rsp*         — P6 response-status normalization (raw 211/213/220/421
                     variants all collapse to the canonical text)
      rm_*         — P4 PTN_LINE_RM removal (asterisk banner, BCM boot
                     line, ===== separator, Type 'help' banner)
    """
    hms2 = _hms(dialect, "(r2 % 86400)")
    n211 = "Response: 211 System status, or system help"
    n213 = "Response: 213 File status"
    n220 = "Response: 220 FTP server is ready"
    n421 = "Response: 421 Service not available, closing connection"
    return [
        ("r1 % 97 = 0",
         "'Trace: Widget state change to ' || cast(r2 % 50 as varchar)",
         None, False),
        ("r1 % 100 < 30",
         "'Command: RETR file_' || cast(r2 % 300 as varchar) || '.dat'",
         None, False),
        ("r1 % 100 < 45",
         "'Command: STOR file_' || cast(r2 % 300 as varchar) || '.dat'",
         None, False),
        ("r1 % 100 < 53", "'Response: 230 Login successful'", None, False),
        ("r1 % 100 < 61",
         "'Trace: Connecting to 10.' || cast(r2 % 200 as varchar)"
         " || '.0.' || cast(r2 % 250 as varchar)"
         " || ' port ' || cast(2100 + r2 % 40 as varchar)",
         None, False),
        ("r1 % 100 < 66", f"'Trace: Session time ' || {hms2} || ' elapsed'",
         None, False),
        ("r1 % 100 < 70", "'Status: Disconnected from server'", None, False),
        ("r1 % 100 < 74",
         "'Error: GnuTLS error -' || cast(10 + r2 % 20 as varchar)"
         " || ' in gnutls_record_recv'",
         None, False),
        # P5 ':::' split — raw carries the unsplit token
        ("r1 % 100 < 78", "'Trace: CControlSocket:: SendNextCommand()'",
         "'Trace: CControlSocket::SendNextCommand()'", False),
        ("r1 % 100 < 82", "'Response: 550 File not found'", None, False),
        ("r1 % 100 < 85",
         "'Trace: Doing ECDH key exchange with curve curve'"
         " || cast(25519 + r2 % 7 as varchar)",
         None, False),
        # P5 '=' split
        ("r1 % 100 < 88",
         "'Status: Timezone offset= ' || cast(r2 % 7200 as varchar) || ' seconds'",
         "'Status: Timezone offset=' || cast(r2 % 7200 as varchar) || ' seconds'",
         False),
        # P5 paren split (both sides)
        ("r1 % 100 < 91",
         "'Trace: Verifying certificate ( depth ' || cast(r2 % 4 as varchar) || ' )'",
         "'Trace: Verifying certificate (depth ' || cast(r2 % 4 as varchar) || ')'",
         False),
        # P6 response-status normalization (raw variants → canonical)
        ("r1 % 100 < 92", f"'{n211}'",
         "'Response: 211-Status of connection ' || cast(r2 % 50 as varchar)",
         False),
        ("r1 % 100 < 93", f"'{n213}'",
         "'Response: 213 ' || cast(20220622000000 + r2 as varchar)", False),
        ("r1 % 100 < 94", f"'{n220}'",
         "'Response: 220-FileZilla Server 1.' || cast(r2 % 10 as varchar)",
         False),
        ("r1 % 100 < 95", f"'{n421}'",
         "'Response: 421 Timeout - try again later'", False),
        # P4 removable lines (PTN_LINE_RM: extensions/cm/patterns.py:79-103)
        ("r1 % 100 < 96", "repeat('*', 8 + r2 % 20)", None, True),
        ("r1 % 100 < 97",
         "'BCM3390' || cast(r2 % 100 as varchar) || ' Bootloader version 2.5.0'",
         None, True),
        ("r1 % 100 < 98", "repeat('=', 18 + r2 % 8)", None, True),
        ("r1 % 100 < 99",
         "'Type ''help'' or ''license'' for more information.'", None, True),
        ("1 = 1",
         "'Trace: Doing ECDH key exchange with curve curve'"
         " || cast(25519 + r2 % 7 as varchar)",
         None, False),
    ]


def _shape_case(dialect: str, which: str) -> str:
    """CASE expression for 'content', 'rawc', or 'is_rm'."""
    arms = []
    for cond, content, rawc, is_rm in _shapes(dialect):
        if which == "content":
            val = content
        elif which == "rawc":
            val = rawc if rawc is not None else content
        else:
            val = "1" if is_rm else "0"
        arms.append(f"WHEN {cond} THEN {val}")
    return "CASE\n        " + "\n        ".join(arms) + "\n      END"


def _line_source(dialect: str, docs_from: str, last: str) -> str:
    """FROM clause: each ``docs_from`` row exploded into line_no 0..last."""
    if dialect == "spark":
        return (
            f"FROM {docs_from} LATERAL VIEW "
            f"explode(sequence(0, {last})) _t AS line_no"
        )
    return f"FROM {docs_from}, unnest(generate_series(0, {last})) AS _t(line_no)"


def _for_dialect(dialect: str, sql: str) -> str:
    # 'varchar' is written throughout; Spark's parser wants 'string'.
    return sql.replace(" as varchar", " as string") if dialect == "spark" else sql


def _docs_sql(
    spark: SparkSession, sf_dir: str, view: str, sql_fn, *cols: str
) -> DataFrame:
    """Run a generator's Spark SQL over the documents table's ``cols``,
    registered as the temp view ``view``."""
    spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        *cols
    ).createOrReplaceTempView(view)
    return spark.sql(sql_fn("spark", view))


def raw_lines_sql(dialect: str, docs_from: str) -> str:
    """SELECT producing the synthetic corpus, one row per raw log line.

    Columns: doc_id, url, warc_ts, lang, line_no, raw, content, is_abn,
    is_seg, is_rm. ``raw`` is the full physical line (timestamp + labels +
    pid + sid + pre-wash content) exactly as the reference's preprocess
    stage would see it (format per extensions/ftp/patterns.py:19-30);
    ``content`` is the ground-truth washed content the wash operators must
    recover (post split/normalize); ``is_rm`` marks lines the wash stage
    must REMOVE (PTN_LINE_RM) — truth-side consumers of washed output
    filter ``is_rm = 0``. Removed-line shapes carry no pid/sid or labels
    (mirroring the cm log format the removal patterns come from).

    ``dialect`` in {'spark', 'duckdb'}; ``docs_from`` is the relation
    providing (doc_id, lang).
    """
    secs = "(50400 + (doc_id % 3600) * 7 + line_no * 3) % 86400"
    ts_str = f"'2022-06-22 ' || {_hms(dialect, f'({secs})')}"
    from_clause = _line_source(dialect, docs_from, "(3 + doc_id % 13) - 1")
    if dialect == "spark":
        warc_ts = "timestamp_micros(1655906400000000 + doc_id * 100000)"
    else:
        warc_ts = "make_timestamp(1655906400000000 + doc_id * 100000)"
    # Spark only: break the stage between the tiny _base rows and the
    # giant shape projections. Fused into one Generate stage, the
    # 22-arm CASE trees blow janino's 64 KB method limit — Spark then
    # pays a doomed multi-second compile per query AND falls back to
    # interpreted eval. After an exchange the projections codegen with
    # normal expression splitting. (Generator-only concern: production
    # input is a parquet/Iceberg scan, which stays under the limit.)
    hint = "/*+ REPARTITION(32) */ " if dialect == "spark" else ""
    sql = f"""
    WITH _base AS (
      SELECT {hint}doc_id, lang, line_no,
             (doc_id * 48271 + line_no * 12923) % 100000 AS r1,
             (doc_id * 16807 + line_no * 69621) % 100000 AS r2
      {from_clause}
    ),
    _shaped AS (
      SELECT doc_id, lang, line_no, r1, r2,
             {_shape_case(dialect, 'content')} AS content,
             {_shape_case(dialect, 'rawc')} AS rawc,
             {_shape_case(dialect, 'is_rm')} AS is_rm
      FROM _base
    ),
    _lines AS (
      SELECT doc_id, lang, line_no, r1, r2, content, rawc, is_rm,
             CASE WHEN is_rm = 0 AND r1 % 17 = 0 THEN 1 ELSE 0 END AS is_abn,
             CASE WHEN is_rm = 0 AND r1 % 41 = 0 THEN 1 ELSE 0 END AS is_seg
      FROM _shaped
    )
    SELECT doc_id,
           'https://site' || lpad(cast(doc_id % 100 as varchar), 4, '0')
             || '.example/' || lpad(cast(doc_id as varchar), 8, '0') AS url,
           {warc_ts} AS warc_ts,
           lang, line_no,
           {ts_str} || ' '
             || CASE WHEN is_abn = 1 THEN 'abn: ' ELSE '' END
             || CASE WHEN is_seg = 1 THEN 'segsign: ' ELSE '' END
             || CASE WHEN is_rm = 1 THEN ''
                     ELSE cast(10000 + r2 % 90 as varchar) || ' '
                          || cast(1 + r2 % 9 as varchar) || ' ' END
             || rawc AS raw,
           content, is_abn, is_seg, is_rm
    FROM _lines
    """
    return _for_dialect(dialect, sql)


def generator_key() -> str:
    """Short hash of the generator SQL. Cached benchmark corpora are
    keyed on it, so a generator change invalidates them."""
    return hashlib.md5(raw_lines_sql("spark", "x").encode()).hexdigest()[:8]


def _raw_lines_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw generator plan (Generate → exchange → shape projections)."""
    return _docs_sql(spark, sf_dir, "__docs", raw_lines_sql, "doc_id", "lang")


def _docs_stamp(sf_dir: str) -> str:
    """Content stamp of documents.parquet (size+mtime of every part
    file): folded into the raw_lines cache key so regenerated testdata
    at the same path invalidates the /tmp corpus cache instead of
    silently serving a stale corpus."""
    p = os.path.join(sf_dir, "documents.parquet")
    parts = []
    try:
        if os.path.isdir(p):
            for name in sorted(os.listdir(p)):
                st = os.stat(os.path.join(p, name))
                parts.append(f"{name}:{st.st_size}:{st.st_mtime_ns}")
        else:
            st = os.stat(p)
            parts.append(f"{st.st_size}:{st.st_mtime_ns}")
    except OSError:
        pass  # missing table → key degrades to sql+path (old behavior)
    return "|".join(parts)


def raw_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-side synthetic corpus derived from the shared documents
    table, materialized once per (generator version, sf_dir) to a /tmp
    parquet cache and read back.

    Reading back matters, not just caching: a consumer filter (e.g.
    wash's empty-line test) is otherwise pushed below the generator's
    REPARTITION stage-break with the full shape-CASE expression tree
    inlined — re-blowing janino's 64 KB method limit the hint exists to
    avoid (doomed compile + interpreted stage per query; see
    raw_lines_sql). Against the parquet scan the same pushdown is the
    desired PushedFilters. This also mirrors production, where input is
    an Iceberg/parquet scan, never an expression generator.
    """
    src = hashlib.md5((os.path.abspath(sf_dir) + _docs_stamp(sf_dir)).encode()).hexdigest()[:8]
    path = f"/tmp/loganalyzer_bench/raw_lines_{generator_key()}_{src}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        tmp = f"{path}.tmp-{os.getpid()}"
        _raw_lines_generate(spark, sf_dir).write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, path)  # atomic: concurrent writers race safely
        except OSError:
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    return spark.read.parquet(path)


def _pages(lines: DataFrame) -> DataFrame:
    """Assemble lines into input_hint-shaped pages: url, warc_ts, html,
    text, lang, doc_id. text = newline-joined raw lines (deterministic
    order by line_no); html = utf-8 bytes of text."""
    return (
        lines.groupBy("doc_id", "url", "warc_ts", "lang")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("line_no", "raw"))),
                    lambda s: s["raw"],
                ),
                "\n",
            ).alias("text")
        )
        .withColumn("html", F.encode("text", "utf-8"))
        .select("url", "warc_ts", "html", "text", "lang", "doc_id")
    )


def web_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """input_hint-shaped table (url, warc_ts, html, text, lang) over the
    shared documents' raw lines."""
    return _pages(raw_lines(spark, sf_dir))


def gen_web_pages(spark: SparkSession, n_docs: int) -> DataFrame:
    """Standalone large-scale input_hint-shaped corpus
    (url, warc_ts, html, text, lang) for benchmarks."""
    return _pages(gen_raw_lines(spark, n_docs))


def gen_raw_lines(spark: SparkSession, n_docs: int) -> DataFrame:
    """Standalone large-scale corpus for benchmarks: spark.range-driven
    (one partition per default-parallelism slot), no parquet dependency.
    Identical line derivation; lang from doc_id.
    """
    rng = spark.range(0, n_docs, 1, spark.sparkContext.defaultParallelism)
    rng.selectExpr(
        "id as doc_id",
        "CASE id % 10 WHEN 0 THEN 'de' WHEN 1 THEN 'fr' WHEN 2 THEN 'zh' "
        "WHEN 3 THEN 'es' ELSE 'en' END as lang",
    ).createOrReplaceTempView("__gen_docs")
    return spark.sql(raw_lines_sql("spark", "__gen_docs"))


# ---------------------------------------------------------------------------
# cm-tier corpus (P12/P7 cm masking classes: SNMP OID, IPv6, MAC,
# filename/channel/dcid/status — extensions/cm/patterns.py:299-350)
# ---------------------------------------------------------------------------

# (content expr template, constant masked truth). Every variable part is
# swallowed by a mask class, so the truth is a literal — drift between
# the generator and the cm chain is impossible to hide:
# tests/test_mask_cm.py re-derives each truth by running
# ``patterns.mask_params_cm`` over the generated content.
_CM_SHAPES: list[tuple[str, str]] = [
    ("'Mib: 1.3.6.1.2.1.69.1.5.8.' || cast(r2 % 20 as varchar) || "
     "'.2 status ' || cast(r2 % 5 as varchar)",
     "Mib: <*> status  <*>"),
    ("'CM HW addr: 00:1a:2b:3c:4d:' || lpad(cast(r2 % 100 as varchar), 2, '0')"
     " || ' rx 0x' || cast(r2 % 1000 as varchar)",
     "CM HW addr: <*> rx  <*>"),
    ("'Boot  Filename: CM_APP_3390_' || cast(r2 % 50 as varchar) || '.bin done'",
     "Boot  Filename: <*> done"),
    ("'Downstream CH' || cast(30 + r2 % 10 as varchar)"
     " || ' scanning, downstream QAM lock failure'",
     "Downstream <*> scanning, downstream <*>"),
    ("'US profile priDcid= [ ' || cast(r2 % 200 as varchar) || ' ' || "
     "cast(r2 % 30 as varchar) || ' ] Stat= Continue'",
     "US profile priDcid= <*> Stat= <*>"),
    ("'T3 timeout ( ErrorRecovery ) retry ' || cast(r2 % 8 as varchar)",
     "T3 timeout ( <*> ) retry  <*>"),
    ("'qam ' || CASE WHEN r2 % 2 = 0 THEN 'y' ELSE 'n' END || ' fec ' || "
     "CASE WHEN r2 % 3 = 0 THEN 'n' ELSE 'y' END || ' snr ' || "
     "cast(20 + r2 % 15 as varchar) || ' txdata ' || "
     "CASE WHEN r2 % 5 = 0 THEN 'y' ELSE 'n' END",
     "qam <*> fec <*> snr  <*> txdata <*>"),
    ("'tftp fallback 2001:db8:0:1:2:3:4:' || cast(r2 % 10 as varchar)"
     " || ' attempt ' || cast(r2 % 5 as varchar)",
     "tftp fallback <*> attempt  <*>"),
]


def cm_lines_sql(dialect: str, docs_from: str) -> str:
    """cm-flavored corpus: (doc_id, line_no, content, masked_truth).

    Same dual-dialect LCG scheme as raw_lines_sql; content carries the
    cm masking classes, masked_truth is the reference-chain result.
    """
    from_clause = _line_source(dialect, docs_from, "(2 + doc_id % 3) - 1")
    content_arms = "\n        ".join(
        f"WHEN r1 % 8 = {i} THEN {expr}"
        for i, (expr, _t) in enumerate(_CM_SHAPES[:-1])
    )
    truth_arms = "\n        ".join(
        f"WHEN r1 % 8 = {i} THEN '{t}'"
        for i, (_e, t) in enumerate(_CM_SHAPES[:-1])
    )
    last_expr, last_truth = _CM_SHAPES[-1]
    sql = f"""
    WITH _cmbase AS (
      SELECT doc_id, line_no,
             (doc_id * 69621 + line_no * 48271) % 100000 AS r1,
             (doc_id * 12923 + line_no * 16807) % 100000 AS r2
      {from_clause}
    )
    SELECT doc_id, line_no,
      CASE
        {content_arms}
        ELSE {last_expr}
      END AS content,
      CASE
        {truth_arms}
        ELSE '{last_truth}'
      END AS masked_truth
    FROM _cmbase
    """
    return _for_dialect(dialect, sql)


def cm_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs_sql(spark, sf_dir, "__cm_docs", cm_lines_sql, "doc_id")


# ---------------------------------------------------------------------------
# cm block/table corpus (M3 presets): a fixed per-doc boot-log script
# exercising every machine of extensions/cm/preprocess.py:48-178 —
# BLOCK_RM start/end, BLOCK_RM_PRI, BLOCK_INDENT (empty-ended),
# BLOCK_INDENT2 (pattern-ended), TABLE_TITLE(+_COMMON). Blocks are
# contiguous and non-interleaved, like the reference's own boot logs
# (the shared-state machine and the window composition agree exactly on
# such corpora — see operators/blocks.py:cm_block_presets).
# ---------------------------------------------------------------------------

# (line_no, content SQL expr over r2). Variable payloads keep the
# machines honest (state must come from patterns, not literals).
_CM_BLOCK_SCRIPT: list[str] = [
    "'CM boot normal line val=' || cast(r2 % 17 as varchar)",
    "'Downloading LEAP image'",                                 # RM start
    "'dload progress ' || cast(r2 % 100 as varchar) || '%'",    # removed
    "'  flash sector ' || cast(r2 % 50 as varchar)",            # removed
    "'>>>>ChipID=0x339' || cast(r2 % 10 as varchar)",           # RM end: KEPT
    "'normal line two val=' || cast(r2 % 7 as varchar)",
    "'===== Read Leap AIF Status ====='",                       # INDENT start
    "'AIF cnt ' || cast(r2 % 5 as varchar)",                    # -> indented
    "'AIF state ok'",                                           # -> indented
    "''",                                                       # ends indent
    "'== Beginning initial ranging for Docsis UCID ' || cast(1 + r2 % 4 as varchar)",
    "'ranging attempt ' || cast(r2 % 3 as varchar)",            # -> indented
    "'Using clamped minimum transmit power'",                   # INDENT2 end (indented)
    "'Downstream Active Channel Settings'",                     # TABLE_TITLE: removed
    "' dcid      type      frequency'",                         # TABLE_TITLE: removed
    "' ----------------------------'",                          # TITLE_COMMON start
    "' 1  qam256  555000000 ' || cast(r2 % 9 as varchar)",      # removed (title blk)
    "''",                                                       # ends title blk
    "'    tap values:'",                                        # RM_PRI start
    "'  0x' || cast(r2 % 16 as varchar) || ' 0x22'",            # removed (nested)
    "'primary resume line ' || cast(r2 % 11 as varchar)",       # primary: KEPT
    "'tail line ' || cast(r2 % 13 as varchar)",
]


def cm_block_lines_sql(dialect: str, docs_from: str) -> str:
    """cm block corpus: (doc_id, line_no, content), dual-dialect."""
    from_clause = _line_source(dialect, docs_from, str(len(_CM_BLOCK_SCRIPT) - 1))
    arms = "\n        ".join(
        f"WHEN line_no = {i} THEN {expr}"
        for i, expr in enumerate(_CM_BLOCK_SCRIPT[:-1])
    )
    sql = f"""
    WITH _blkbase AS (
      SELECT doc_id, line_no,
             (doc_id * 40503 + line_no * 69621) % 100000 AS r2
      {from_clause}
    )
    SELECT doc_id, line_no,
      CASE
        {arms}
        ELSE {_CM_BLOCK_SCRIPT[-1]}
      END AS content
    FROM _blkbase
    """
    return _for_dialect(dialect, sql)


def cm_block_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs_sql(spark, sf_dir, "__cm_blk_docs", cm_block_lines_sql, "doc_id")


# ---------------------------------------------------------------------------
# M5 messed-line corpus: thread-interleaved broken lines
# (reference parser.py:189-308 rcv_mess). The pipeline corpus never
# produces unmatched lines starting with the cared header chars, so M5
# needs its own staged table (doc_id, line_no, event_id_old,
# event_template) with every machine case planted: split-found stitch,
# case-3 whole-head stitch (trigger dropped), a plain unmatched
# pass-through, and an out-of-SCAN_RANGE abort.
# ---------------------------------------------------------------------------


_M5_T_RETR = "Command: RETR <*>"
_M5_T_DISC = "Status: Disconnected from server"
_M5_T_SOCK = "Trace: CControlSocket:: SendNextCommand()"


def _m5_script() -> list[tuple[str, str]]:
    """(event_id_old expr, event_template expr) per line_no."""
    rows: list[tuple[str, str]] = [
        (f"'{event_id_of(_M5_T_RETR)}'", f"'{_M5_T_RETR}'"),
        # trigger: head 'Load module N ' glued onto a known template —
        # split search finds md5(tail) in the lib
        ("'0'",
         f"'Load module ' || cast(r2 % 9 as varchar) || ' ' || '{_M5_T_DISC}'"),
        # consumer: stitched with the trigger's head
        ("'0'", "'tail fragment ' || cast(r2 % 7 as varchar)"),
        (f"'{event_id_of(_M5_T_RETR)}'", f"'{_M5_T_RETR}'"),
        # case 3: care head with NO valid split — dropped, whole line
        # becomes the head for the next unmatched line
        ("'0'", "'CM fragment head ' || cast(r2 % 5 as varchar)"),
        ("'0'", "'tail piece ' || cast(r2 % 11 as varchar)"),
        # plain unmatched non-care line: passes through untouched
        ("'0'", "'plain unmatched ' || cast(r2 % 17 as varchar)"),
        # trigger whose consumer is out of SCAN_RANGE (22 matched lines
        # in between) — the consumer aborts and keeps its own text
        ("'0'",
         f"'Line head ' || cast(r2 % 3 as varchar) || ' ' || '{_M5_T_SOCK}'"),
    ]
    rows += [(f"'{event_id_of(_M5_T_DISC)}'", f"'{_M5_T_DISC}'")] * 22
    rows += [
        ("'0'", "'late tail ' || cast(r2 % 13 as varchar)"),
        (f"'{event_id_of(_M5_T_RETR)}'", f"'{_M5_T_RETR}'"),
    ]
    return rows


def messed_lines_sql(dialect: str, docs_from: str) -> str:
    """M5 staged corpus, dual-dialect."""
    script = _m5_script()
    from_clause = _line_source(dialect, docs_from, str(len(script) - 1))
    eido_arms = "\n        ".join(
        f"WHEN line_no = {i} THEN {e}" for i, (e, _t) in enumerate(script[:-1])
    )
    temp_arms = "\n        ".join(
        f"WHEN line_no = {i} THEN {t}" for i, (_e, t) in enumerate(script[:-1])
    )
    last_e, last_t = script[-1]
    sql = f"""
    WITH _m5base AS (
      SELECT doc_id, line_no,
             (doc_id * 24693 + line_no * 40503) % 100000 AS r2
      {from_clause}
    )
    SELECT doc_id, line_no,
      CASE
        {eido_arms}
        ELSE {last_e}
      END AS event_id_old,
      CASE
        {temp_arms}
        ELSE {last_t}
      END AS event_template
    FROM _m5base
    """
    return _for_dialect(dialect, sql)


def messed_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs_sql(spark, sf_dir, "__m5_docs", messed_lines_sql, "doc_id")


# ---------------------------------------------------------------------------
# C4 web-text line corpus: every cleaning heuristic planted
# (Raffel et al. 2020 §2.2 — terminal punctuation, min words,
# javascript lines, lorem-ipsum / '{' page bans, cross-page
# boilerplate for keep-first dedup)
# ---------------------------------------------------------------------------


def c4_lines_sql(dialect: str, docs_from: str) -> str:
    """Web-page line corpus, dual-dialect: (doc_id, line_no, line).

    6–12 lines per page. Line kinds keyed on (doc_id*7 + line_no*3) % 10
    so every C4 predicate fires non-vacuously:
      0–3  template sentence with numeric variety, terminal '.'
           (occasional exact collisions across pages — sentence-level
           dedup targets)
      4    '!'-terminated sentence
      5,6  exact boilerplate repeated across pages (keep-first dedup)
      7    nav line without terminal punctuation (line-dropped)
      8    2-word line (min-words drop)
      9    'javascript' line (line-ban drop)
    Page-ban plants: doc_id%37==0 gets a 'Lorem ipsum…' line 0;
    doc_id%41==0 gets a '{'-bearing line 1.
    """
    from_clause = _line_source(dialect, docs_from, "(6 + doc_id % 7) - 1")
    sql = f"""
    WITH _c4base AS (
      SELECT doc_id, line_no,
             (doc_id * 24693 + line_no * 40503) % 100000 AS r
      {from_clause}
    )
    SELECT doc_id, line_no,
      CASE
        WHEN doc_id % 37 = 0 AND line_no = 0 THEN
          'Lorem ipsum dolor sit amet, consectetur adipiscing elit.'
        WHEN doc_id % 41 = 0 AND line_no = 1 THEN
          'var config = {{"theme": ' || cast(r % 3 as varchar) || '}};'
        WHEN (doc_id * 7 + line_no * 3) % 10 <= 3 THEN
          'The data pipeline stage ' || cast(r % 97 as varchar) ||
          ' writes partition ' || cast(r % 13 as varchar) ||
          ' to the output table.'
        WHEN (doc_id * 7 + line_no * 3) % 10 = 4 THEN
          'Query latency was ' || cast(r % 400 as varchar) ||
          ' milliseconds in the last run!'
        WHEN (doc_id * 7 + line_no * 3) % 10 = 5 THEN
          'Subscribe to our newsletter for daily updates.'
        WHEN (doc_id * 7 + line_no * 3) % 10 = 6 THEN
          'Copyright 2022 Example Corp. All rights reserved worldwide.'
        WHEN (doc_id * 7 + line_no * 3) % 10 = 7 THEN
          'Home About Products Contact'
        WHEN (doc_id * 7 + line_no * 3) % 10 = 8 THEN
          'Read more.'
        ELSE
          'Please enable javascript to view the interactive charts.'
      END AS line
    FROM _c4base
    """
    return _for_dialect(dialect, sql)


def c4_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs_sql(spark, sf_dir, "__c4_docs", c4_lines_sql, "doc_id")


# ---------------------------------------------------------------------------
# DuckDB-side dimension literals (for oracle SQL)
# ---------------------------------------------------------------------------


def duckdb_values(rows: list[tuple], alias: str) -> str:
    """An inline DuckDB ``(VALUES ...) AS alias`` table, one row per
    line: ints as written, strings as quoted SQL literals."""
    def lit(v) -> str:
        return str(v) if isinstance(v, int) else "'" + v.replace("'", "''") + "'"

    body = ",\n      ".join("(" + ", ".join(map(lit, r)) + ")" for r in rows)
    return f"(VALUES\n      {body}\n    ) AS {alias}"


def duckdb_templates_values() -> str:
    return duckdb_values(
        template_rows(),
        "t(event_id, event_template, "
        "token_count, first_token, second_token, para_count, match_regex)",
    )


def duckdb_kb_values() -> str:
    return duckdb_values(kb_rows(), "k(event_id, severity, descpt)")


def duckdb_classes_values() -> str:
    return duckdb_values(CLASS_ROWS, "c(class_id, class_descpt)")
