"""M2: nested-line folding (reference ``preprocess_norm``,
preprocess_base.py:410-499).

Reference semantics: a line starting with whitespace (PTN_NESTED_LINE,
preprocess/patterns.py:40-43) is a continuation of the previous primary
line; continuations are appended with ``', '`` after ``rstrip`` of the
accumulated line and ``lstrip`` of the continuation; the primary line's
timestamp stays at the front.

``fold_lines`` expresses it over a line table: a running-sum group id
(window partitioned by document — scales, no global order) + grouped
ordered concat.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

NESTED = "^[ \t]"  # PTN_NESTED_LINE.match — leading blank ⇒ continuation


def _lstrip(c) -> F.Column:
    # Python str.lstrip() strips all whitespace; Spark ltrim only spaces.
    return F.regexp_replace(c, "^[ \t\r\n]+", "")


def _rstrip(c) -> F.Column:
    return F.regexp_replace(c, "[ \t\r\n]+$", "")


def fold_lines(lines: DataFrame, raw: str = "raw") -> DataFrame:
    """Window + grouped ordered concat. Output: one row per primary line
    (doc_id, fold_grp, line_no of primary, folded)."""
    df = lines.withColumn(
        "_prim", (~F.col(raw).rlike(NESTED)).cast("int")
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("line_no")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    df = df.withColumn("fold_grp", F.sum("_prim").over(w))
    return (
        df.groupBy("doc_id", "fold_grp")
        .agg(
            F.min("line_no").alias("line_no"),
            F.array_sort(
                F.collect_list(F.struct(F.col("line_no").alias("o"), F.col(raw).alias("r")))
            ).alias("_parts"),
        )
        .withColumn(
            "folded",
            F.concat_ws(
                ", ",
                F.transform(
                    "_parts",
                    lambda p, i: F.when(i == 0, _rstrip(p["r"])).otherwise(
                        _lstrip(_rstrip(p["r"]))
                    ),
                ),
            ),
        )
        .drop("_parts")
    )

