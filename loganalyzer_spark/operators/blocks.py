"""M3: block remove/indent state machines (extensions/cm/preprocess.py:
48-189 — start/end regex pairs delete whole blocks of lines).

Two equivalent Spark expressions:

* ``remove_blocks`` — window form: in-block state is
  ``last(marker, ignorenulls)`` over the document order (SURVEY §2.3
  M3), where start lines emit marker=1 and end lines marker=0. This is
  exactly the reference's *non-stacking* machine: a second start inside
  a block re-asserts state 1 (no nesting), a stray end outside a block
  re-asserts 0. Start/end/in-block lines are all removed (the
  reference deletes blocks inclusive). Start/end patterns are assumed
  disjoint (they are in the reference's pattern pairs,
  extensions/cm/patterns.py:212-222).
* ``remove_blocks_pandas`` — ``applyInPandas`` per document running the
  literal sequential state machine (the fallback form SURVEY §2.3
  reserves for end-conditions Spark windows can't express, e.g. the
  channel-table reformat M4 whose end is "next primary line").

Both are tested equal (tests/test_blocks.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _state_prev(marker: F.Column) -> F.Column:
    """The machine's state before this row: the last non-NULL ``marker``
    over the earlier rows of the document (``doc_id`` in ``line_no``
    order), 0 before any marker."""
    w = (
        Window.partitionBy("doc_id")
        .orderBy("line_no")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return F.coalesce(F.last(marker, ignorenulls=True).over(w), F.lit(0))


def remove_blocks(
    lines: DataFrame,
    start_pat: str,
    end_pat: str,
) -> DataFrame:
    is_start = F.col("content").rlike(start_pat)
    is_end = F.col("content").rlike(end_pat)
    df = lines.withColumn(
        "_state_prev", _state_prev(F.when(is_start, 1).when(is_end, 0))
    ).withColumn(
        "_removed",
        (F.col("_state_prev") == 1) | ((F.col("_state_prev") == 0) & is_start),
    )
    return df.filter(~F.col("_removed")).drop("_state_prev", "_removed")


def remove_blocks_pandas(
    lines: DataFrame,
    start_pat: str,
    end_pat: str,
) -> DataFrame:
    """Literal per-document state machine via applyInPandas."""
    import re

    schema = lines.schema

    def machine(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("line_no")
        sp, ep = re.compile(start_pat), re.compile(end_pat)
        keep = []
        in_block = False
        for c in pdf["content"]:
            if not in_block and sp.search(c):
                in_block = True
                keep.append(False)
            elif in_block and ep.search(c):
                in_block = False
                keep.append(False)
            else:
                keep.append(not in_block)
        return pdf[pd.Series(keep, index=pdf.index)]

    return lines.groupBy("doc_id").applyInPandas(machine, schema)


# ---------------------------------------------------------------------------
# cm presets: the reference's concrete block/table machines
# (extensions/cm/preprocess.py:48-178, pattern data patterns.py:108-230)
# wired through the window machinery with the real cm pattern constants.
# ---------------------------------------------------------------------------


def _anchored(pat: str) -> str:
    """The reference applies every block pattern with re.match (anchored
    at line start); rlike/regexp_matches are search, so wrap."""
    return f"^(?:{pat})"


def cm_block_presets(
    lines: DataFrame,
) -> DataFrame:
    """The cm extension's five block/table machines, composed in the
    reference's branch order (extensions/cm/preprocess.py:48-178):

    1. PTN_BLOCK_RM_START/END — remove [start, end): end line SURVIVES
       (preprocess.py:48-57; unlike the generic ``remove_blocks`` whose
       end marker is consumed).
    2. PTN_BLOCK_RM_PRI — remove until the first primary (non-nested,
       non-empty) line, end exclusive (preprocess.py:62-71).
    3. PTN_BLOCK_INDENT — indent (one leading space) every line after
       the start line until an empty line; start and empty line remain
       untouched (preprocess.py:88-95).
    4. PTN_BLOCK_INDENT2/..._END — indent until the end pattern, end
       line INCLUDED (preprocess.py:102-110).
    5. PTN_TABLE_TITLE_COMMON — remove the '----' title and every line
       until an empty line (preprocess.py:156-168), then
       PTN_TABLE_TITLE title lines statelessly (preprocess.py:171-172).

    Each machine is one ``last(marker, ignorenulls)`` window over the
    document order; Catalyst evaluates all five in a single sort+window
    stage per document partition — no extra shuffle per machine. The
    reference runs the five machines on ONE shared state variable
    (``in_log_blk``), so they differ from this independent composition
    only when blocks of different kinds interleave mid-block — which the
    reference's own corpora never do (each boot-log block is contiguous;
    interleaving arises only from multi-thread messed lines, recovered
    upstream by M5). tests/test_blocks.py proves this composition equal
    to the literal shared-state machine (``cm_block_presets_pandas``) on
    the generated cm block corpus.
    """
    from loganalyzer_spark import patterns as P

    c = F.col("content")
    empty = c == ""
    nested = c.rlike(_anchored(P.PTN_NESTED_LINE.pattern))

    # 1. block remove, end exclusive
    s1 = c.rlike(_anchored(P.PTN_BLOCK_RM_START.pattern))
    e1 = c.rlike(_anchored(P.PTN_BLOCK_RM_END.pattern))
    prev1 = _state_prev(F.when(s1, 1).when(e1, 0))
    df = lines.withColumn("_rm1", s1 | ((prev1 == 1) & ~e1))
    df = df.filter(~F.col("_rm1")).drop("_rm1")

    # 2. block remove until primary line, end exclusive
    s2 = c.rlike(_anchored(P.PTN_BLOCK_RM_PRI.pattern))
    prim = ~nested & ~empty
    prev2 = _state_prev(F.when(s2, 1).when(prim, 0))
    df = df.withColumn("_rm2", s2 | ((prev2 == 1) & (nested | empty)))
    df = df.filter(~F.col("_rm2")).drop("_rm2")

    # 3. indent block, empty line ends (start + empty untouched)
    s3 = c.rlike(_anchored(P.PTN_BLOCK_INDENT.pattern))
    prev3 = _state_prev(F.when(s3, 1).when(empty, 0))
    df = df.withColumn(
        "content",
        F.when((prev3 == 1) & ~s3 & ~empty, F.concat(F.lit(" "), c)).otherwise(c),
    )

    # 4. indent block, end pattern ends (end line indented too)
    c = F.col("content")
    s4 = c.rlike(_anchored(P.PTN_BLOCK_INDENT2.pattern))
    e4 = c.rlike(_anchored(P.PTN_BLOCK_INDENT2_END.pattern))
    prev4 = _state_prev(F.when(s4, 1).when(e4, 0))
    df = df.withColumn(
        "content",
        F.when((prev4 == 1) & ~s4, F.concat(F.lit(" "), c)).otherwise(c),
    )

    # 5a. common '----' table title: remove until empty line (kept)
    c = F.col("content")
    s5 = c.rlike(_anchored(P.PTN_TABLE_TITLE_COMMON.pattern))
    prev5 = _state_prev(F.when(s5, 1).when(c == "", 0))
    df = df.withColumn("_rm5", s5 | ((prev5 == 1) & (c != "")))
    df = df.filter(~F.col("_rm5")).drop("_rm5")

    # 5b. specific table titles: stateless removal
    return df.filter(
        ~F.col("content").rlike(_anchored(P.PTN_TABLE_TITLE.pattern))
    )


def cm_block_presets_pandas(
    lines: DataFrame,
) -> DataFrame:
    """Literal SHARED-STATE machine (one ``in_log_blk`` variable like
    extensions/cm/preprocess.py:48-178) — the fidelity oracle the window
    composition is tested against."""
    from loganalyzer_spark import patterns as P

    schema = lines.schema

    def machine(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("line_no").copy()
        RST, BLK, BLK2, IND, IND2, TITLE = range(6)
        state = RST
        keep, out = [], []
        for line in pdf["content"]:
            k = True
            if P.PTN_BLOCK_RM_START.match(line):
                state, k = BLK, False
            elif state == BLK:
                if P.PTN_BLOCK_RM_END.match(line):
                    state = RST
                else:
                    k = False
            elif P.PTN_BLOCK_RM_PRI.match(line):
                state, k = BLK2, False
            elif state == BLK2:
                if not P.PTN_NESTED_LINE.match(line) and line != "":
                    state = RST
                else:
                    k = False
            elif P.PTN_BLOCK_INDENT.match(line):
                state = IND
            elif state == IND:
                if line == "":
                    state = RST
                else:
                    line = " " + line
            elif P.PTN_BLOCK_INDENT2.match(line):
                state = IND2
            elif state == IND2:
                line = " " + line
                if P.PTN_BLOCK_INDENT2_END.match(line[1:]):
                    state = RST
            elif P.PTN_TABLE_TITLE_COMMON.match(line):
                state, k = TITLE, False
            elif state == TITLE:
                if line == "":
                    state = RST
                else:
                    k = False
            elif P.PTN_TABLE_TITLE.match(line):
                k = False
            keep.append(k)
            out.append(line)
        pdf["content"] = out
        return pdf[pd.Series(keep, index=pdf.index)]

    return lines.groupBy("doc_id").applyInPandas(machine, schema)
