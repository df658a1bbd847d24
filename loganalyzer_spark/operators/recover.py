"""M5 — messed-line recovery (reference ``parser.py:189-308`` rcv_mess).

Multi-threaded printers interleave log lines: a line O1 can be broken in
two, with the head of O1 glued onto the front of a later line O2. The
reference walks the parsed lines sequentially: when an *unmatched* line
(EventIdOld == '0') starts with a "cared" header char, it tries every
split point — if the tail's md5[:8] is a known event id, the head is
remembered (``o1_head``) and stitched onto the next unmatched line found
within ``SCAN_RANGE`` (=20, extensions/cm/misc.py:39) lines.

Spark shape: the scan is order-dependent but strictly *per file* (the
reference runs it on one test.txt). Here each document is a file, so the
state machine runs inside ``applyInPandas`` per ``doc_id`` partition,
ordered by ``line_no`` — embarrassingly parallel across docs, no state
crosses partitions, and the bounded SCAN_RANGE keeps per-group memory
O(1). The known-eid set is tiny (≤2000) and is broadcast once.

Skipped lines (case 3: O1 broken by a leading newline — the whole line
is the head) are dropped from the output; because ``(doc_id, line_no)``
rides along as columns, the reference's map_norm_rcv / map_norm_raw
pop-bookkeeping (parser.py:292-308) is unnecessary.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

SCAN_RANGE = 20  # extensions/cm/misc.py:39
HEADER_CARE = ("L", "C")  # extensions/cm/misc.py:35
SPECIAL_ID = frozenset({"b9c1fdb1"})  # extensions/cm/misc.py:32


def rcv_mess_pdf(pdf: pd.DataFrame, eid_lib: frozenset[str]) -> pd.DataFrame:
    """The literal state machine over one ordered document partition.

    Faithful to parser.py:248-308; returns the surviving rows with the
    recovered template in ``recovered``.
    """
    pdf = pdf.sort_values("line_no", kind="mergesort").reset_index(drop=True)
    eido_logs = pdf["event_id_old"].tolist()
    temp_logs = pdf["event_template"].tolist()

    m1_found = False
    o1_head = ""
    m1_idx = 0
    keep_idx: list[int] = []
    recovered: list[str] = []

    for idx, (eido, temp) in enumerate(zip(eido_logs, temp_logs)):
        care = bool(temp) and temp[0] in HEADER_CARE
        if (eido != "0") or (not m1_found and not care):
            keep_idx.append(idx)
            recovered.append(temp)
            continue

        if m1_found:
            if idx - m1_idx > SCAN_RANGE:
                # m2 not found within range: abort stitching
                keep_idx.append(idx)
                recovered.append(temp)
                m1_found = False
                continue
            keep_idx.append(idx)
            recovered.append(o1_head + temp)
            m1_found = False
            continue

        # eido == '0' and not m1_found and header_care: try split points
        for i in range(len(temp)):
            o1_head = temp[: i + 1]
            temp_o2 = temp[i + 1 :]
            eid_o2 = hashlib.md5(temp_o2.encode("utf-8")).hexdigest()[0:8]
            if eid_o2 in eid_lib:
                m1_found = True
                m1_idx = idx
                keep_idx.append(idx)
                recovered.append(temp_o2)
                if eid_o2 in SPECIAL_ID:
                    # case 2: drop one trailing space from the head
                    o1_head = o1_head[:-1]
                break

        if not m1_found:
            # case 3: the whole line is O1's head (O2 injected a leading
            # newline) — drop the line, stitch the head onto the next
            # unmatched line. o1_head already holds the full temp.
            m1_found = True
            m1_idx = idx

    out = pdf.iloc[keep_idx].copy()
    out["recovered"] = recovered
    return out


def recover_messed_lines(lines: DataFrame, templates: DataFrame) -> DataFrame:
    """Distributed M5: applyInPandas per document, bounded lookahead.

    ``lines`` needs (doc_id, line_no, event_id_old, event_template);
    ``templates`` provides the known event-id library (broadcast, tiny).
    Output = input columns + ``recovered``, minus dropped head-only rows.
    """
    eids = frozenset(
        r["event_id"] for r in templates.select("event_id").distinct().collect()
    )
    bc = lines.sparkSession.sparkContext.broadcast(eids)

    schema = T.StructType(
        lines.schema.fields + [T.StructField("recovered", T.StringType())]
    )

    def _run(pdf: pd.DataFrame) -> pd.DataFrame:
        return rcv_mess_pdf(pdf, bc.value)

    # groupBy().applyInPandas shuffles on the key itself — no extra
    # repartition (that would be a second exchange of the same data).
    return lines.groupBy("doc_id").applyInPandas(_run, schema)
