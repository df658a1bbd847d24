"""Per-layer trace: a prefix ladder over the layer modules plus a walk of
AQE's final plan.

Catalyst fuses explode, wash, mask, match, enrich and route into one
codegen stage, so a layer's cost is read as the difference between two
prefixes of the flagship DAG. Each rung's action hashes only the columns
its layer adds: hashing every column would time the hashing of wide
strings, not the layers (measured at about twice the full DAG's time).
A self time is the difference of two medians, so it can read below zero
when the layer costs less than the run-to-run noise, or when the layer
shrinks what the action hashes (the aggregate rung hashes groups, not
lines).
"""

from __future__ import annotations

import statistics
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from loganalyzer_spark import datagen, lineage
from loganalyzer_spark.operators import aggregate, enrich, match, parse

from harness import fingerprint, timed


@dataclass
class Rung:
    name: str
    layer: Callable
    hashed: list[str] | None  # None: the full output


def rungs(spark) -> list[Rung]:
    """The flagship DAG (pipeline.routed_from_pages + sink_aggregates),
    one layer call per rung."""
    return [
        Rung("explode", parse.pages_to_lines, ["raw"]),
        Rung("wash", parse.wash, ["content"]),
        Rung("mask", parse.mask, ["masked"]),
        Rung("match", lambda df: match.match_templates(df, datagen.templates_df(spark)), ["event_id", "is_new"]),
        Rung("enrich", lambda df: enrich.enrich_kb(df, datagen.kb_df(spark)), ["severity"]),
        Rung("route", enrich.route, ["sink_class"]),
        Rung("aggregate", lambda df: aggregate.sink_ecm(df, "1 minute"), None),
    ]


def build(spark, read_src: Callable[[], DataFrame], upto: int) -> tuple[DataFrame, DataFrame]:
    """(prefix through rung ``upto``, the prefix one rung shorter)."""
    prev = df = read_src()
    for r in rungs(spark)[: upto + 1]:
        prev, df = df, r.layer(df)
    return df, prev


def hashed_columns(spark, read_src, i: int) -> list[str]:
    """The columns rung ``i`` hashes, checked against what its layer adds."""
    rung = rungs(spark)[i]
    df, prev = build(spark, read_src, i)
    if rung.hashed is None:
        return df.columns
    added = set(df.columns) - set(prev.columns)
    if not set(rung.hashed) <= added:
        raise RuntimeError(
            f"rung {rung.name} hashes {rung.hashed}, but its layer adds {sorted(added)}"
        )
    return rung.hashed


# ---------------------------------------------------------------------------
# Executed-plan walk
# ---------------------------------------------------------------------------


def _name(node) -> str:
    return node.getClass().getSimpleName()


def plan_nodes(plan) -> list:
    """Pre-order walk of an executed plan, through the AQE wrapper and
    into every ShuffleQueryStageExec / BroadcastQueryStageExec."""
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        name = _name(node)
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if name == "ReusedExchangeExec":
            stack.append(node.child())
            continue
        out.append(node)
        kids = node.children()
        stack.extend(kids.apply(i) for i in reversed(range(kids.size())))
    return out


def metric(node, key: str) -> int | None:
    m = node.metrics().get(key)
    return int(m.get().value()) if m.isDefined() else None


def _below_action(nodes: list) -> list:
    """Nodes under the fingerprint action's two HashAggregates."""
    seen = 0
    for i, node in enumerate(nodes):
        if _name(node) == "HashAggregateExec":
            seen += 1
            if seen == 2:
                return nodes[i + 1 :]
    raise RuntimeError("fingerprint action aggregates not found in plan")


def rung_rows(nodes: list) -> int:
    """numOutputRows of the rung's top operator (Generate, Filter, join,
    scan or aggregate, whichever produced the rung's rows)."""
    for node in _below_action(nodes):
        n = metric(node, "numOutputRows")
        if n is not None:
            return n
    raise RuntimeError("no numOutputRows under the action")


def aggregate_stats(nodes: list) -> dict[str, int]:
    """Rows into and out of sink_ecm's aggregate, its shuffle bytes, and
    the bytes of the template-candidate broadcasts."""
    below = _below_action(nodes)
    aggs = [n for n in below if _name(n) == "HashAggregateExec"]
    shuffles = [n for n in below if _name(n) == "ShuffleExchangeExec"]
    match_bytes = sum(
        metric(n, "dataSize") or 0
        for n in below
        if _name(n) == "BroadcastExchangeExec" and {"cands", "wcands"} & set(n.schema().fieldNames())
    )
    return {
        "groups": metric(aggs[0], "numOutputRows"),
        "partial_rows": metric(aggs[1], "numOutputRows"),
        "shuffle_bytes": metric(shuffles[0], "shuffleBytesWritten"),
        "match_broadcast_bytes": match_bytes,
    }


# ---------------------------------------------------------------------------
# The ladder
# ---------------------------------------------------------------------------


@dataclass
class Ladder:
    walls: dict[str, float] = field(default_factory=dict)  # median per rung
    rows: dict[str, int] = field(default_factory=dict)
    agg: dict[str, int] = field(default_factory=dict)
    output: tuple[int, int] = (0, 0)
    mismatches: list[str] = field(default_factory=list)


def run_ladder(spark, read_src: Callable[[], DataFrame], rounds: int = 2) -> Ladder:
    """Time every rung ``rounds`` times, round-robin so JIT warm-up and
    host drift fall on all rungs alike; walk the first round's plans."""
    names = [r.name for r in rungs(spark)]
    cols = [hashed_columns(spark, read_src, i) for i in range(len(names))]
    walls: dict[str, list[float]] = {n: [] for n in names}
    lad = Ladder()
    for rnd in range(rounds):
        for i, name in enumerate(names):
            plans: list = []
            wall, (n, h), _ = timed(
                spark, lambda i=i, plans=plans: fingerprint(build(spark, read_src, i)[0], cols[i], plans)
            )
            walls[name].append(wall)
            if rnd:
                continue
            nodes = plan_nodes(plans[0])
            walked = rung_rows(nodes)
            if walked != n:
                lad.mismatches.append(f"{name}: action {n} rows, plan {walked}")
            lad.rows[name] = n
            if name == names[-1]:
                lad.agg = aggregate_stats(nodes)
                lad.output = (n, h)
    lad.walls = {n: statistics.median(w) for n, w in walls.items()}
    return lad


def layer_counts(spark, read_src: Callable[[], DataFrame]) -> dict[str, float]:
    """Data-quality counters over the routed lines, in one untimed job."""
    routed, _ = build(spark, read_src, [r.name for r in rungs(spark)].index("route"))
    is_new = F.col("is_new") == 1
    row = routed.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("masked") != F.col("content")).cast("int")).alias("changed"),
        F.sum((~F.col("content").rlike("[0-9]")).cast("int")).alias("digitless"),
        F.sum(is_new.cast("int")).alias("new"),
        F.countDistinct(F.when(is_new, F.col("event_id"))).alias("new_ids"),
        F.sum(F.col("descpt").isNotNull().cast("int")).alias("kb_hits"),
        *[
            F.sum((F.col("sink_class") == c).cast("int")).alias(c)
            for c in lineage.SINK_CLASSES
        ],
    ).collect()[0]
    n = max(1, row["n"])
    out = {
        "parse.mask_changed_share": row["changed"] / n,
        "parse.digitless_share": row["digitless"] / n,
        "match.hit_rate": 1.0 - row["new"] / n,
        "match.new_event_ids": row["new_ids"],
        "enrich.kb_hit_rate": row["kb_hits"] / n,
    }
    for c in lineage.SINK_CLASSES:
        out[f"enrich.sink_rows.{c}"] = row[c]
    return out


def jobs_in(spark, fn: Callable[[], object]) -> tuple[object, int]:
    """Run ``fn`` under a fresh job group; return (result, jobs it ran)."""
    sc = spark.sparkContext
    group = f"perfbench-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "perfbench op")
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))
