"""Enrichment + routing (SURVEY.md §2.5, §3 / north rule "route").

All reference lookups are dict/list lookups; here a bounded fixed dim
is a SQL map literal looked up inside the fused stage (no join, no
broadcast):

  J2 knowledge base  → (event_id → severity/descpt), default 'info'
                       (extensions/ftp/knowledgebase.py:44-52 — events
                       absent from the KB carry no recommendation).
  routing            → sink_class from severity + the 'abn: ' label,
                       mirroring the per-class report fan-out
                       (loglab.py:747-800, oldschool.py:137-157).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from loganalyzer_spark.operators import sql_str, with_sql

SINK_CASE = (
    "CASE WHEN is_abn = 1 THEN 'c001' "
    "WHEN severity IN ('fatal', 'error') THEN 'c001' "
    "WHEN severity = 'warning' THEN 'c002' "
    "WHEN severity = 'notice' THEN 'c003' "
    "ELSE 'normal' END"
)


def _str_sql(v: str | None) -> str:
    return "CAST(NULL AS STRING)" if v is None else sql_str(v)


def enrich_kb(lines: DataFrame, kb: DataFrame) -> DataFrame:
    """Add ``severity`` (default 'info') and ``descpt`` from the KB, with
    the columns of a left join on ``event_id``: ``event_id`` first, then
    the other line columns, then the two KB columns. The KB is collected
    (a ``local_df`` collect runs no job) into a map literal
    event_id → struct(severity, descpt). A NULL event_id is skipped (it
    joins no line); a repeated one is an error, since a lookup cannot
    fan a line out to several KB rows as the join did."""
    rows = [
        r for r in kb.select("event_id", "severity", "descpt").collect()
        if r["event_id"] is not None
    ]
    dups = sorted(e for e, n in Counter(r["event_id"] for r in rows).items() if n > 1)
    if dups:
        raise ValueError(f"enrich_kb: the KB repeats event_id {dups}")
    entries = [
        f"{sql_str(r['event_id'])}, named_struct('severity', {_str_sql(r['severity'])},"
        f" 'descpt', {_str_sql(r['descpt'])})"
        for r in rows
    ]
    if entries:
        kb_hit = f"map({', '.join(entries)})[event_id]"
        severity, descpt = f"coalesce({kb_hit}.severity, 'info')", f"{kb_hit}.descpt"
    else:
        severity, descpt = "'info'", "CAST(NULL AS STRING)"
    return lines.selectExpr(
        "event_id", "* EXCEPT (event_id)", f"{severity} AS severity", f"{descpt} AS descpt"
    )


def route(lines: DataFrame) -> DataFrame:
    """Assign exactly one sink_class per row (routed-row equality gate)."""
    return with_sql(lines, {"sink_class": SINK_CASE})


# ---------------------------------------------------------------------------
# J2: param-dependent KB rules + stateful context rule
# ---------------------------------------------------------------------------

from pyspark.sql import Window  # noqa: E402

# event ids the rules key on (computed like drain.py:732)
import hashlib as _hashlib  # noqa: E402

_RETR_ID = _hashlib.md5(b"Command: RETR <*>").hexdigest()[:8]
_CONN_ID = _hashlib.md5(b"Trace: Connecting to <*> port <*>").hexdigest()[:8]
_TLS_ID = _hashlib.md5(b"Error: GnuTLS error <*> in gnutls_record_recv").hexdigest()[:8]
_DISC_ID = _hashlib.md5(b"Status: Disconnected from server").hexdigest()[:8]


def apply_param_rules(lines: DataFrame) -> DataFrame:
    """The KB's ~12 param-dependent rules re-expressed as generated
    ``when()`` predicates over the extracted ``params`` array
    (extensions/ftp/knowledgebase.py:62-83 switches on int(params[0])
    etc.), plus the one rule that is stateful across rows
    (context_store, extensions/cm/knowledgebase.py:25,299-305): a
    disconnect after an earlier TLS fatal in the same document
    escalates to 'error' — expressed as max-flag-so-far over a window,
    exactly SURVEY §2.5 J2's disposition.

    Input needs: event_id, params, severity, doc_id, line_no.
    Output: severity_kb column (refined severity).
    """
    p1 = F.element_at("params", 1)
    p2 = F.element_at("params", 2)

    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("line_no")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    had_fatal = F.coalesce(
        F.max((F.col("event_id") == _TLS_ID).cast("int")).over(w_prev), F.lit(0)
    )

    refined = (
        # rule: RETR of a *0.dat file is a notable checkpoint fetch
        F.when(
            (F.col("event_id") == _RETR_ID) & p1.rlike("0\\.dat$"),
            F.lit("notice"),
        )
        # rule: connects to an odd port are suspicious
        .when(
            (F.col("event_id") == _CONN_ID)
            & (p2.cast("long") % 2 == 1),
            F.lit("warning"),
        )
        # stateful rule: disconnect following a TLS fatal in-document
        .when(
            (F.col("event_id") == _DISC_ID) & (had_fatal == 1),
            F.lit("error"),
        )
        .otherwise(F.col("severity"))
    )
    return lines.withColumn("severity_kb", refined)
