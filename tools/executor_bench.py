"""Multi-executor (separate-JVM) N→4N scaling evidence.

`local-cluster[n, cores, mem_mb]` launches *n separate executor JVMs* —
unlike `local[k]` threads, each executor keeps its own heap, GC, JIT
and Python workers, so per-executor resources stay constant while
executor count scales: the closest single-host model of the north
rule's "N and 4N executors".

Rungs double from 1 executor up to the host's CPU count, one core each.
Every JVM (the driver and each executor of the largest rung) gets an
equal share of ``session.heap_mb``'s budget, so per-executor heap is
the same on every rung. Each executor pins its GC and JIT thread pools
to its own core count; by default they size to the whole machine and
thrash as executors are added.

Usage: python tools/executor_bench.py [n_docs] [reps]
Each rung runs ``reps`` (default 3) spark-submits and reports the
median docs/sec. Writes BENCH/EXECUTORS.md.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [REPO, os.path.join(REPO, "tools")]

from scaling_bench import (  # noqa: E402
    ensure_corpus,
    ladder,
    make_zip,
    run_cells,
    run_once,
    summarize,
)

from loganalyzer_spark.session import heap_mb  # noqa: E402

CORES_PER_EXEC = 1


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    corpus = ensure_corpus(n_docs)
    zpath = make_zip()
    rungs = ladder()
    mem = heap_mb(rungs[-1] + 1)

    runs: dict[int, list[dict]] = {}
    for n in rungs:
        conf = {
            "spark.sql.shuffle.partitions": "32",
            "spark.driver.memory": f"{mem}m",
            "spark.executor.memory": f"{mem}m",
            "spark.executor.extraJavaOptions": "-XX:+UseParallelGC "
            f"-XX:ParallelGCThreads={CORES_PER_EXEC} -XX:CICompilerCount=2",
            # local-cluster schedules as soon as ANY executor registers;
            # wait for the full roster. The ratio is computed against
            # spark.cores.max, so without it the gate is a no-op.
            "spark.cores.max": str(n * CORES_PER_EXEC),
            "spark.scheduler.minRegisteredResourcesRatio": "1.0",
            "spark.scheduler.maxRegisteredResourcesWaitingTime": "600s",
            # tasks have no real locality on a local FS: the 3s default
            # locality wait idles executor cores between waves.
            "spark.locality.wait": "0",
        }
        runs[n] = []
        for _ in range(reps):
            r = run_once(f"local-cluster[{n},{CORES_PER_EXEC},{mem}]", corpus, zpath, conf)
            if r["executors_at_run"] < n:
                raise RuntimeError(
                    f"{n}-executor run ran on {r['executors_at_run']} executors"
                )
            runs[n].append(r)
            print(f"{n} executors: {r}", flush=True)
    med, eff = summarize(runs)
    print(json.dumps({"n_docs": n_docs, "docs_per_sec": med, "efficiency": eff}))

    rows = "\n".join(
        f"| {n} × {CORES_PER_EXEC} core | {med[n]} | {run_cells(rs)} |"
        for n, rs in runs.items()
    )
    effs = "\n".join(f"| {pair} executors | {e} |" for pair, e in eff.items())
    with open(os.path.join(REPO, "BENCH", "EXECUTORS.md"), "w") as f:
        f.write(
            f"""# Multi-executor (separate-JVM) scaling — local-cluster mode

`local-cluster[n,{CORES_PER_EXEC},{mem}]`: n separate executor JVMs, each
with a {mem} MB heap and GC/JIT threads pinned to its core count. Same
corpus and job as BENCH/BASELINE.md: each run warms the DAG once
in-process, then times a fresh plan with perfbench's
`timed(fingerprint(...))`.

| executors | docs/sec (median of {reps}) | runs (wall @ probe) |
|---|---|---|
{rows}

## N→4N executor scaling efficiency

| pair | efficiency |
|---|---|
{effs}

Regenerate: `python tools/executor_bench.py {n_docs} {reps}`.
"""
        )
    print("wrote BENCH/EXECUTORS.md")


if __name__ == "__main__":
    main()
