"""Benchmark of loganalyzer_spark through its public API on local[4].

Run from the repository root:

    python3 perfbench/run.py --workload ecm_batch --seed 1 --seconds 20 --trace 0

Workloads (one process, one closed-loop client, at most 4 task threads):

  ecm_batch  The flagship pages_to_lines -> wash -> mask -> match_templates
             -> enrich_kb -> route -> sink_ecm DAG over a pages parquet.
             One operation is one fully materialized run of the DAG.
             Per-line parse work is about half of it and nothing is
             written, so parse-layer changes show here.
  sink_job   The production-shaped job over a smaller pages parquet:
             write_sinks_resumable into a fresh directory, then
             template_occurrences, new_templates and sink_class_report as
             separate actions. The routed lines are consumed seven times,
             so per-query fixed cost and repeated recomputation show here.

The seed selects the doc_id range. prepare.py generates the inputs and
the DuckDB oracle results once per seed, outside every timed window and
outside set-up. Every operation's output is fingerprinted (row count and
bit_xor of xxhash64 over all columns) and compared with the oracle; the
sink job also reads each sink back and compares its row count. A
mismatch or an exception counts as a failed operation.

With --trace 0 the last stdout line holds the end-to-end metrics. With
--trace 1 it holds the per-layer metrics: layers.py's prefix ladder over
the workload's input, one traced sink job and a short traced stream
(streaming_sink_ecm fed one raw-lines file per micro-batch). The line
before it holds the run's attributes: heap, cores, host probes, every
operation's wall time and the error rate.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

REPO = os.getcwd()
WORK = os.path.join(REPO, ".perfbench")
HERE = os.path.dirname(os.path.abspath(__file__))

BUCKET = "1 minute"
BASE_EPOCH_US = 1_655_906_400_000_000
DOC_STEP_US = 100_000  # warc_ts advances 100 ms per doc_id

ECM_DOCS = 30_000
# The first full-size runs are slower while the JIT compiles the
# per-line code; runs started in this window are not measured.
ECM_WARMUP_S = 8.0
SINK_DOCS = 5_000
BATCH_DOCS = 1_800  # three whole 1-minute buckets per micro-batch
TRACE_BATCHES = 3
PAGE_FILES = 16  # equal parts: 4 even task waves on 4 threads

REPORTS = ("template_occurrences", "new_templates", "sink_class_report")
PAGES = {
    "ecm_batch": ("ecm", ECM_DOCS, ["pipeline_sink_ecm"]),
    "sink_job": ("sink", SINK_DOCS, list(REPORTS)),
}


def _checkout_or_exit() -> None:
    """The benchmark runs the program from the checkout it is started in."""
    if not os.path.isfile(os.path.join(REPO, "loganalyzer_spark", "__init__.py")):
        print(f"perfbench: no loganalyzer_spark package in {REPO}", file=sys.stderr)
        sys.exit(2)
    sys.path[:0] = [HERE, REPO]
    import loganalyzer_spark

    if not os.path.abspath(loganalyzer_spark.__file__).startswith(REPO + os.sep):
        print("perfbench: loganalyzer_spark resolved outside the checkout", file=sys.stderr)
        sys.exit(2)


def prepare_inputs(workload: str, seed: int, trace: bool) -> str:
    """Generate (or reuse) the seed's inputs and oracle results in a
    child process; returns their directory."""
    from loganalyzer_spark import datagen, queries

    name, docs, oracles = PAGES[workload]
    pages = {name: [docs, oracles]}
    if trace:
        # Every traced run also measures a sink job and a short stream.
        pages["sink"] = [SINK_DOCS, list(REPORTS) + ["pipeline_sink_ecm"]]
    spec = {
        "seed": seed,
        "pages": pages,
        "batches": TRACE_BATCHES if trace else 0,
        "batch_docs": BATCH_DOCS,
        "files": PAGE_FILES,
        "threads": 4,
    }
    key = json.dumps([spec, datagen.raw_lines_sql("duckdb", "documents"), queries.oracle_sql()])
    out = os.path.join(WORK, "inputs", hashlib.sha1(key.encode()).hexdigest()[:16])
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    spec_path = os.path.join(out, "spec.json")
    with open(spec_path, "w") as f:
        json.dump({**spec, "out": out, "repo": REPO}, f)
    subprocess.run(
        [sys.executable, os.path.join(HERE, "prepare.py"), spec_path], check=True, timeout=170
    )
    return out


# ---------------------------------------------------------------------------
# Program calls
# ---------------------------------------------------------------------------


def flagship(spark, pages):
    from loganalyzer_spark import pipeline

    return pipeline.sink_aggregates(pipeline.routed_from_pages(spark, pages), BUCKET)


def report(spark, name: str, routed):
    """The three reports, built the way queries.py builds them."""
    from pyspark.sql import functions as F

    from loganalyzer_spark import datagen
    from loganalyzer_spark.operators import aggregate

    if name == "template_occurrences":
        return aggregate.event_counts(routed)
    if name == "new_templates":
        return routed.filter(F.col("is_new") == 1).select("event_id", "event_template").distinct()
    cls = datagen.classes_df(spark).withColumnRenamed("descpt", "class_descpt")
    return (
        routed.join(F.broadcast(cls), routed.sink_class == cls.class_id)
        .groupBy("sink_class", "class_descpt")
        .agg(F.count("*").alias("n_lines"), F.count_distinct("doc_id").alias("n_docs"))
    )


class Run:
    """One benchmark process: inputs, session, operations, results."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.ops: list = []
        self.layers: dict[str, float] = {}
        self.attrs: dict[str, object] = {}
        self.run_dir = os.path.join(WORK, f"run-{os.getpid()}")
        self.spark = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.inputs, *parts)

    def oracle_fp(self, name: str, schema) -> tuple[int, int]:
        from harness import fingerprint, like

        return fingerprint(like(self.spark.read.parquet(self.path(name)), schema))

    def setup(self) -> None:
        """JVM launch plus the first-plan warm: the flagship over 1 doc."""
        import harness as H

        self.inputs = prepare_inputs(self.workload, self.seed, self.trace)
        heap, cores = H.heap_mb(), H.task_threads()
        H.configure_host(self.run_dir, heap)
        self.attrs.update(heap_mb=heap, cores=cores)
        t0 = time.perf_counter()
        self.spark = H.start_session(cores)
        t1 = time.perf_counter()
        self.jvm = H.jvm_pid(self.spark)
        H.fingerprint(flagship(self.spark, self.spark.read.parquet(self.path("warm_pages.parquet"))))
        t2 = time.perf_counter()
        self.setup_s = t2 - t0
        self.layers["session.start_s"] = t1 - t0
        self.layers["session.warm_s"] = t2 - t1

    # -- operations ---------------------------------------------------------

    def record(self, fn, check, docs: int):
        """Time one operation and check its output; a failure is counted,
        not raised."""
        import harness as H

        try:
            wall, result, probe = H.timed(self.spark, fn)
            ok = bool(check(result))
        except Exception:  # operation boundary: count the failure, go on
            traceback.print_exc()
            self.ops.append(H.Op(float("nan"), float("nan"), False, docs))
            return None
        self.ops.append(H.Op(wall, probe, ok, docs))
        return result

    def loop(self, step, warmup_s: float = 0.0) -> None:
        """Closed loop. Operations started in the first ``warmup_s``
        seconds warm the JIT: they are checked and counted but kept out of
        the metrics. Then operations start until --seconds have passed."""
        start = time.perf_counter()
        while time.perf_counter() < start + warmup_s:
            step()
            self.ops[-1].warmup = True
        end = time.perf_counter() + self.seconds
        while time.perf_counter() < end:
            step()

    def ecm_batch(self) -> None:
        from harness import fingerprint

        spark, pages = self.spark, self.path("pages_ecm.parquet")
        schema = flagship(spark, spark.read.parquet(pages)).schema
        expect = self.oracle_fp("oracle_ecm_pipeline_sink_ecm.parquet", schema)

        def step():
            self.record(
                lambda: fingerprint(flagship(spark, spark.read.parquet(pages))),
                lambda fp: fp == expect,
                ECM_DOCS,
            )

        self.loop(step, ECM_WARMUP_S)

    def sink_job(self, once: bool = False) -> dict[str, float]:
        """Returns the last operation's per-step walls and sink sizes."""
        from harness import fingerprint
        from loganalyzer_spark import lineage, pipeline

        spark, pages = self.spark, self.path("pages_sink.parquet")

        def routed():
            return pipeline.routed_from_pages(spark, spark.read.parquet(pages))

        expect = {
            name: self.oracle_fp(f"oracle_sink_{name}.parquet", report(spark, name, routed()).schema)
            for name in REPORTS
        }
        report_rows = spark.read.parquet(self.path("oracle_sink_sink_class_report.parquet")).collect()
        n_lines = {r["sink_class"]: r["n_lines"] for r in report_rows}
        steps: dict[str, float] = {}

        def op(out_dir):
            t0 = time.perf_counter()
            lineage.write_sinks_resumable(routed(), out_dir)
            steps["write"] = time.perf_counter() - t0
            fps = {}
            for name in REPORTS:
                t0 = time.perf_counter()
                fps[name] = fingerprint(report(spark, name, routed()))
                steps[name] = time.perf_counter() - t0
            return fps

        def check(out_dir, fps):
            back = {
                c: spark.read.parquet(os.path.join(out_dir, f"sink_class={c}")).count()
                for c in lineage.SINK_CLASSES
            }
            return fps == expect and all(back[c] == n_lines.get(c, 0) for c in back)

        def step():
            out_dir = os.path.join(self.run_dir, "sinks", str(len(self.ops)))
            self.record(lambda: op(out_dir), lambda fps: check(out_dir, fps), SINK_DOCS)
            return out_dir

        if not once:
            self.loop(step)
            return steps
        out_dir = step()
        files = [os.path.join(d, f) for d, _, fs in os.walk(out_dir) for f in fs if f.startswith("part-")]
        steps["sink_bytes"] = sum(os.path.getsize(f) for f in files)
        steps["sink_files"] = len(files)
        return steps

    def stream(self) -> list[dict]:
        """Feed the staged raw-lines files to streaming_sink_ecm one
        micro-batch at a time; returns each batch's lastProgress."""
        from pyspark.sql import functions as F

        from harness import fingerprint, like
        from loganalyzer_spark.streaming import stream_ecm
        from prepare import first_doc

        spark = self.spark
        files = sorted(os.listdir(self.path("batches")))
        staged, src = os.path.join(self.run_dir, "staged"), os.path.join(self.run_dir, "stream_src")
        os.makedirs(staged)
        os.makedirs(src)
        for f in files:
            shutil.copy(self.path("batches", f), staged)
        schema = spark.read.parquet(self.path("batches", files[0])).schema
        agg = stream_ecm.streaming_sink_ecm(spark, src, schema, bucket=BUCKET)

        # Each batch owns whole buckets, so the expected table after k
        # batches is the oracle rows whose bucket lies in the first k.
        oracle = like(spark.read.parquet(self.path("oracle_stream.parquet")), agg.schema)
        t0_us = BASE_EPOCH_US + first_doc(self.seed) * DOC_STEP_US
        batch_of = F.floor((F.unix_micros("bucket_start") - t0_us) / (BATCH_DOCS * DOC_STEP_US))
        per_batch = {
            int(r["b"]): (r["n"], r["h"])
            for r in oracle.select(batch_of.alias("b"), F.xxhash64(*oracle.columns).alias("_h"))
            .groupBy("b")
            .agg(F.count(F.lit(1)).alias("n"), F.expr("bit_xor(_h)").alias("h"))
            .collect()
        }
        expect, n, h = [], 0, 0
        for b in range(len(files)):
            bn, bh = per_batch.get(b, (0, 0))
            n, h = n + bn, h ^ bh
            expect.append((n, h))

        name = f"perfbench_stream_{os.getpid()}"
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", os.path.join(self.run_dir, "checkpoint"))
            .start()
        )

        def feed(k: int) -> dict:
            """Latency runs from the rename to the batch's commit."""
            os.rename(os.path.join(staged, files[k]), os.path.join(src, files[k]))
            deadline = time.monotonic() + 120
            while True:
                q.processAllAvailable()
                lp = q.lastProgress
                if lp and lp["batchId"] == k and lp["numInputRows"] > 0:
                    return lp
                if time.monotonic() > deadline:
                    raise TimeoutError(f"micro-batch {k} was not processed")
                time.sleep(0.005)

        progress = []
        try:
            for k in range(len(files)):
                lp = self.record(
                    lambda k=k: feed(k),
                    lambda _lp, k=k: fingerprint(spark.table(name)) == expect[k],
                    BATCH_DOCS,
                )
                if lp:
                    progress.append(lp)
        finally:
            q.stop()
        return progress

    # -- traced run ---------------------------------------------------------

    def traced(self) -> None:
        import harness as H
        import layers

        spark, L = self.spark, self.layers
        warm = self.path("warm_pages.parquet")
        L["pipeline.fixed_s"] = H.timed(
            spark, lambda: H.fingerprint(flagship(spark, spark.read.parquet(warm)))
        )[0]

        name = PAGES[self.workload][0]
        src = self.path(f"pages_{name}.parquet")
        schema = flagship(spark, spark.read.parquet(src)).schema
        expect = self.oracle_fp(f"oracle_{name}_pipeline_sink_ecm.parquet", schema)

        # The untraced operation on the ladder's input: the base of
        # trace.overhead_s and the job count of one operation.
        (wall, fp, probe), jobs = layers.jobs_in(
            spark, lambda: H.timed(spark, lambda: H.fingerprint(flagship(spark, spark.read.parquet(src))))
        )
        L["spark.jobs_per_op"] = jobs
        lad = layers.run_ladder(spark, lambda: spark.read.parquet(src))
        for m in lad.mismatches:
            print(f"perfbench: ladder rows differ from the plan: {m}", file=sys.stderr)
        self.ops.append(H.Op(wall, probe, not lad.mismatches and fp == lad.output == expect, 0))

        w, order = lad.walls, list(lad.walls)
        own = {n: w[n] - (w[order[i - 1]] if i else 0.0) for i, n in enumerate(order)}
        L.update(
            {
                "parse.explode_s": own["explode"],
                "parse.explode_rows": lad.rows["explode"],
                "parse.wash_s": own["wash"],
                "parse.wash_rows_out": lad.rows["wash"],
                "parse.wash_drop_share": 1.0 - lad.rows["wash"] / max(1, lad.rows["explode"]),
                "parse.mask_s": own["mask"],
                "match.s": own["match"],
                "match.broadcast_bytes": lad.agg["match_broadcast_bytes"],
                "enrich.kb_s": own["enrich"],
                "enrich.route_s": own["route"],
                "aggregate.s": own["aggregate"],
                "aggregate.partial_rows": lad.agg["partial_rows"],
                "aggregate.groups": lad.agg["groups"],
                "aggregate.shuffle_bytes": lad.agg["shuffle_bytes"],
                "trace.overhead_s": sum(w.values()) - wall,
            }
        )
        L.update(layers.layer_counts(spark, lambda: spark.read.parquet(src)))

        steps = self.sink_job(once=True)
        L["lineage.sink_write_s"] = steps["write"]
        L["lineage.sink_bytes"] = steps["sink_bytes"]
        L["lineage.sink_files"] = steps["sink_files"]
        for r in REPORTS:
            L[f"queries.{r}_s"] = steps[r]

        progress = self.stream()
        for key, metric in (
            ("addBatch", "add_batch_ms"),
            ("queryPlanning", "query_planning_ms"),
            ("walCommit", "wal_commit_ms"),
        ):
            L[f"streaming.{metric}"] = statistics.median([p["durationMs"].get(key, 0) for p in progress])
        state = progress[-1]["stateOperators"][0]
        L["streaming.state_rows"] = state["numRowsTotal"]
        L["streaming.state_bytes"] = state["memoryUsedBytes"]

    # -- results ------------------------------------------------------------

    def measure(self) -> None:
        if self.trace:
            self.traced()
        elif self.workload == "ecm_batch":
            self.ecm_batch()
        else:
            self.sink_job()

    def finish(self) -> None:
        """Read peak RSS, stop the JVM and remove the run's scratch files."""
        import harness as H

        self.peak_rss_mb = H.peak_rss_mb(self.jvm) + H.peak_rss_mb(os.getpid())
        H.stop_session(self.spark)
        shutil.rmtree(self.run_dir, ignore_errors=True)

    def metrics(self) -> dict[str, dict]:
        """Every metric BENCHMARK.json lists for this kind of run, with its
        unit from there."""
        if self.trace:
            probes = [o.probe_mb_s for o in self.ops if not math.isnan(o.probe_mb_s)]
            values = {**self.layers, "host.first_touch_mb_s": statistics.median(probes)}
        else:
            good = [o for o in self.ops if o.ok and not o.warmup]
            values = {
                "docs_per_s": statistics.median([o.docs / o.wall_s for o in good]) if good else 0.0,
                "setup_s": self.setup_s,
                "peak_rss_mb": self.peak_rss_mb,
            }
        with open(os.path.join(REPO, "BENCHMARK.json")) as f:
            listed = json.load(f)["per_layer" if self.trace else "end_to_end"]
        return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(PAGES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    _checkout_or_exit()

    t0 = time.perf_counter()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        run.setup()
        run.measure()
    finally:
        if run.spark is not None:
            run.finish()
    metrics = run.metrics()
    attempted = len(run.ops)
    failed = sum(not o.ok for o in run.ops)
    run.attrs.update(
        workload=args.workload,
        seed=args.seed,
        error_rate=failed / max(1, attempted),
        op_walls_s=[o.wall_s if o.ok else None for o in run.ops],
        op_probes_mb_s=[o.probe_mb_s if o.ok else None for o in run.ops],
        run_wall_s=round(time.perf_counter() - t0, 2),
    )
    print(json.dumps({"attributes": run.attrs}))
    print(
        json.dumps(
            {"correct": attempted > 0 and failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0 if attempted else 1


if __name__ == "__main__":
    sys.exit(main())
