"""Temporal joins Spark lacks natively: as-of join and interval join.

Spark has no as-of or band-join physical strategy — a join whose only
predicate is a range condition falls back to BroadcastNestedLoopJoin
(O(|L|·|R|) comparisons), which is unusable at web scale. Both
operators here re-express the semantics as compositions the engine
already optimizes:

* ``asof_join`` — the merge-asof: union both sides, one hash Exchange
  on the key, per-partition sort, then a running ``last(..., ignore
  nulls)`` window carries the most recent right-side row forward onto
  every left row. Each side is shuffled exactly once and the carry
  state is O(1) per row — the distributed equivalent of pandas
  ``merge_asof`` / QuestDB's ASOF JOIN.
* ``interval_join`` — the band join: explode each interval into the
  fixed-width time buckets it covers, bucket the points the same way,
  then an ordinary equi-join on (key, bucket) + an exact residual
  filter. The explode factor is bounded by interval_len/bucket + 1,
  so candidate generation is linear — the standard bucketed range-join
  rewrite (Flink interval joins / Databricks range-join hints use the
  same decomposition).

Reference parity: the reference has no temporal joins (its KB routing
is key-equality only, analyzer/oldschool/knowledgebase.py); these
extend the enrich tier (SURVEY §2.5) the way a telemetry pipeline
needs it — "attach the config/model version that was live when this
line was logged" is an as-of join against a slowly-changing dim.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["asof_join", "interval_join"]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    payload: Sequence[str] = (),
    prefix: str = "r_",
    tiebreak: str | None = None,
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """For every left row, attach the right row with the greatest
    ``ts`` <= the left row's ``ts`` within the same key (backward as-of,
    inclusive at equality); NULL payload when no right row precedes.

    Ties among right rows at the same timestamp are broken by the
    highest ``tiebreak`` column (default: first payload column), so the
    result is deterministic. ``tolerance_seconds`` additionally nulls
    out matches older than the given horizon (pandas merge_asof
    ``tolerance``).

    NULL keys never match (SQL equality semantics, matching DuckDB's
    ASOF JOIN): right rows with a NULL key are dropped, and left rows
    with a NULL key keep NULL payload. Without the explicit filter,
    Window.partitionBy would group all NULL keys into ONE partition and
    silently match them to each other.

    Scale shape: ONE Exchange per side (the union shuffles on the key),
    one per-partition sort, and a linear running-carry window — no
    range predicate ever reaches a join operator, so Catalyst never
    degenerates into a nested-loop. Output columns: every left column,
    then ``prefix + "ts"`` and ``prefix + c`` for each payload c.
    """
    payload = list(payload)
    reserved = {"_k", "_ts", "_tag", "_tb", "_p", "_m"}
    clash = reserved & set(left.columns)
    if clash:
        raise ValueError(f"left columns collide with internals: {clash}")
    out_aliases = {prefix + "ts", *(prefix + c for c in payload)}
    out_clash = out_aliases & set(left.columns)
    if out_clash:
        raise ValueError(
            f"left columns collide with output aliases {sorted(out_clash)}; "
            f"pick a different prefix= or rename the left columns"
        )
    tiebreak = tiebreak or (payload[0] if payload else "ts")

    p_struct = F.struct(
        F.col("ts").alias("_rts"), *[F.col(c) for c in payload]
    )
    # NULL-key right rows can never be matched by SQL equality; drop
    # them BEFORE the union so the NULL window partition (partitionBy
    # groups NULLs together) carries no payload onto NULL-key left rows.
    r = right.where(F.col(on).isNotNull()).select(
        F.col(on).alias("_k"),
        F.col("ts").alias("_ts"),
        F.lit(0).alias("_tag"),
        F.col(tiebreak).alias("_tb"),
        p_struct.alias("_p"),
    )
    l_ = left.select(
        "*",
        F.col(on).alias("_k"),
        F.col("ts").alias("_ts"),
        F.lit(1).alias("_tag"),
    )
    u = l_.unionByName(r, allowMissingColumns=True)

    # right rows (_tag=0) sort before left rows at the same instant →
    # a right row at exactly the left ts is visible (inclusive as-of);
    # among equal-ts right rows the highest _tb wins (last in frame).
    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_ts").asc(), F.col("_tag").asc(), F.col("_tb").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    m: Column = F.last("_p", ignorenulls=True).over(w)
    if tolerance_seconds is not None:
        horizon = F.lit(int(tolerance_seconds * 1_000_000))
        m = F.when(
            F.unix_micros(F.col("_ts")) - F.unix_micros(m["_rts"]) <= horizon, m
        )
    # materialize the window BEFORE filtering: the filter sits above the
    # Window in the plan (and _tag is not a partition key, so it cannot
    # be pushed below it) — right rows are still present when the carry
    # is computed, then only left rows survive.
    matched = u.withColumn("_m", m).where(F.col("_tag") == 1)
    mm = F.col("_m")
    out_cols = [F.col(c) for c in left.columns]
    out_cols.append(mm["_rts"].alias(prefix + "ts"))
    out_cols += [mm[c].alias(prefix + c) for c in payload]
    return matched.select(*out_cols)


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_key: str,
    interval_key: str,
    start: str = "start_ts",
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Join every point row to every interval row of the same key with
    ``start <= ts < end_ts`` (half-open), without a nested-loop join.

    Each interval is exploded into the ``bucket_seconds``-wide time
    buckets it overlaps (a bounded, usually single-digit factor) and
    points are bucketed once; the engine then runs a plain equi-join on
    (key, bucket) — broadcast or shuffled hash join, Catalyst's choice —
    and the exact range predicate filters the superset. Pick
    ``bucket_seconds`` ≈ the typical interval length: candidate rows
    per point ≈ intervals overlapping its bucket, never the whole key
    history. Column names of the two inputs must be disjoint (alias
    before calling, as with any self-join) — validated up front, since
    a collision would otherwise surface downstream as a confusing
    ambiguous-reference error.
    """
    overlap = set(points.columns) & set(intervals.columns)
    if overlap:
        raise ValueError(
            f"points/intervals column names must be disjoint; shared: "
            f"{sorted(overlap)} — alias one side before calling"
        )
    for side, cols in (("points", points.columns), ("intervals", intervals.columns)):
        if "_b" in cols:
            raise ValueError(f"{side} column '_b' collides with the bucket internal")
    bs = F.lit(int(bucket_seconds))
    iv = intervals.withColumn(
        "_b",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp(F.col(start)) / bs),
                F.floor(F.unix_timestamp(F.col("end_ts")) / bs),
            )
        ),
    )
    pts = points.withColumn("_b", F.floor(F.unix_timestamp(F.col("ts")) / bs))
    cond = (
        (pts[point_key] == iv[interval_key])
        & (pts["_b"] == iv["_b"])
        & (pts["ts"] >= iv[start])
        & (pts["ts"] < iv["end_ts"])
    )
    return pts.join(iv, cond).drop("_b")
