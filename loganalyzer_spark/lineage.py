"""Checkpointed lineage + metrics + resume (north rule §4.3).

Spark has RDD checkpointing but no job-level resume; this is the
app-level layer: every stage writes to a deterministic path with a
success marker and a metrics record (row counts, per-output-file
lineage, wall time). A restarted job skips completed stages / sink
partitions and reproduces identical output.

The reference's analogue is its intermediate-file handoff
(``fzip['new']/['norm']`` files, preprocess_base.py:427-429,492-499)
— made restart-safe and metric-bearing.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MARKER = "_SUCCESS"


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, MARKER))


class CheckpointedJob:
    """stage(name, fn): compute-or-reload a stage with lineage metrics.

    Layout: <root>/<stage>/  (parquet + _SUCCESS)
            <root>/_metrics/<stage>.json

    A stage is done only when its metrics record exists: the committer
    writes ``_SUCCESS`` before the record is counted and written, so a
    kill in between leaves a marker without a record, and the stage
    re-runs. The record is written whole (temp file + ``os.replace``).
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.metrics_dir = os.path.join(root, "_metrics")
        os.makedirs(self.metrics_dir, exist_ok=True)

    def stage_path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def metrics_path(self, name: str) -> str:
        return os.path.join(self.metrics_dir, f"{name}.json")

    def stage(self, name: str, fn: Callable[[], DataFrame]) -> DataFrame:
        out = self.stage_path(name)
        record = self.metrics_path(name)
        if _done(out) and os.path.exists(record):
            return self.spark.read.parquet(out)
        t0 = time.time()
        fn().write.mode("overwrite").parquet(out)
        back = self.spark.read.parquet(out)
        per_file = (
            back.groupBy(F.input_file_name().alias("file"))
            .count()
            .collect()
        )
        metrics = {
            "stage": name,
            "rows": int(sum(r["count"] for r in per_file)),
            "n_files": len(per_file),
            "wall_s": round(time.time() - t0, 3),
            "partitions": {
                os.path.basename(r["file"]): int(r["count"]) for r in per_file
            },
        }
        with open(record + ".tmp", "w") as f:
            json.dump(metrics, f, indent=1)
        os.replace(record + ".tmp", record)
        return back

    def read_metrics(self, name: str) -> dict:
        with open(self.metrics_path(name)) as f:
            return json.load(f)


SINK_CLASSES = ["c001", "c002", "c003", "normal"]


def write_sinks_resumable(routed: DataFrame, out_dir: str) -> dict[str, bool]:
    """Fan-out routing (S11) with per-sink resume granularity.

    Layout: <out_dir>/sink_class=<c>/  (parquet + _SUCCESS) for every
    class in SINK_CLASSES. The sinks without a marker are cleared and
    written in ONE ``partitionBy("sink_class")`` pass with dynamic
    partition overwrite, so the routed plan (wash, mask, match) runs
    once however many sinks are unfinished, and finished sinks are left
    alone. An unfinished class with no rows gets an empty parquet with
    the schema, so every sink reads back. Markers are written only
    after the sink's files are in place: a crash before that leaves no
    marker, and the next call rewrites the sink.

    No repartition or salt: the writer tasks are the input partitions,
    each writing its own rows of every class, so the dominant 'normal'
    class never lands on one hot writer task, as it would behind a
    ``repartition("sink_class")``.

    Returns {sink_class: was_skipped}.
    """
    paths = {c: os.path.join(out_dir, f"sink_class={c}") for c in SINK_CLASSES}
    todo = [c for c, path in paths.items() if not _done(path)]
    if todo:
        for c in todo:
            shutil.rmtree(paths[c], ignore_errors=True)
        (
            routed.filter(F.col("sink_class").isin(todo))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("sink_class")
            .parquet(out_dir)
        )
        for c in todo:
            if not os.path.isdir(paths[c]):
                routed.drop("sink_class").limit(0).write.parquet(paths[c])
            open(os.path.join(paths[c], MARKER), "w").close()
    return {c: c not in todo for c in SINK_CLASSES}
