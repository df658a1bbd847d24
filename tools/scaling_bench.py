"""N→4N scaling evidence for the north rule: one runner, two ladders.

No multi-node cluster exists here, so the identical spark-submit job
(``jobs/run_pipeline.py``, package shipped via ``--py-files``) runs on
the identical parquet pages corpus at rungs doubling from 1 up to the
host's CPU count, on two ladders:

* threads: ``local[N]``, one JVM with N task threads. The driver heap
  is ``session.heap_mb()``.
* executors: ``local-cluster[N,1,mem]``, N separate one-core executor
  JVMs, each with its own heap, GC, JIT and Python workers, so
  per-executor resources stay constant as executor count scales: the
  closest single-host model of the rule's "N and 4N executors". Every
  JVM (the driver and each executor of the largest rung) gets an equal
  share of ``session.heap_mb``'s budget, and each executor pins its GC
  and JIT thread pools to its one core; by default they size to the
  whole machine and thrash as executors are added. A run that started
  on fewer executors than asked for fails the runner.

    python tools/scaling_bench.py [n_docs] [reps]

The corpus and the ``--py-files`` zip are built once. Runs go
round-robin over (rep, rung, ladder), so slow host drift lands on every
rung alike. Each rung reports the median docs/sec of its ``reps``
(default 3) spark-submits, and every run's wall is published next to
its host probe. Prints one summary JSON and rewrites BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from loganalyzer_spark import datagen  # noqa: E402
from loganalyzer_spark.session import heap_mb  # noqa: E402

# Shared by both ladders: 4 MB input splits give every rung several task
# waves to load-balance stragglers.
BASE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.files.maxPartitionBytes": "4194304",
    "spark.sql.files.openCostInBytes": "524288",
    "spark.ui.enabled": "false",
}
TARGET = 0.8  # BASELINE.json north rule: N→4N efficiency


def ladder() -> list[int]:
    """Rungs doubling from 1 up to the host's CPU count."""
    cpus = len(os.sched_getaffinity(0))
    return [1 << i for i in range(cpus.bit_length())]


def thread_rung(n: int) -> tuple[str, dict[str, str]]:
    """Master and conf of the local[n] rung."""
    return f"local[{n}]", {
        "spark.driver.memory": f"{heap_mb()}m",
        "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
        "spark.sql.shuffle.partitions": str(max(8, n)),
    }


def executor_rung(n: int, mem: int) -> tuple[str, dict[str, str]]:
    """Master and conf of the n-executor local-cluster rung."""
    return f"local-cluster[{n},1,{mem}]", {
        "spark.sql.shuffle.partitions": "32",
        "spark.driver.memory": f"{mem}m",
        "spark.executor.memory": f"{mem}m",
        "spark.executor.extraJavaOptions": "-XX:+UseParallelGC "
        "-XX:ParallelGCThreads=1 -XX:CICompilerCount=2",
        # local-cluster schedules as soon as ANY executor registers;
        # wait for the full roster. The ratio is computed against
        # spark.cores.max, so without it the gate is a no-op.
        "spark.cores.max": str(n),
        "spark.scheduler.minRegisteredResourcesRatio": "1.0",
        "spark.scheduler.maxRegisteredResourcesWaitingTime": "600s",
        # tasks have no real locality on a local FS: the 3s default
        # locality wait idles executor cores between waves.
        "spark.locality.wait": "0",
    }


def ensure_corpus(n_docs: int) -> str:
    """input_hint-shaped pages corpus (url, warc_ts, html, text, lang).

    Generated in a subprocess, so its JVM is gone before any rung
    starts and cannot contend for cores with a measured run.
    """
    path = f"/tmp/loganalyzer_bench/pages_{n_docs}_{datagen.generator_key()}"
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "from loganalyzer_spark import datagen\n"
        "from loganalyzer_spark.session import get_spark\n"
        "spark = get_spark(app='corpus_gen')\n"
        "datagen.gen_web_pages(spark, %d).repartition(256)"
        ".write.mode('overwrite').parquet(%r)\n"
        "spark.stop()\n" % (REPO, n_docs, path)
    )
    subprocess.run([sys.executable, "-c", code], check=True, timeout=3600)
    return path


def make_zip() -> str:
    dist = os.path.join(REPO, "dist")
    os.makedirs(dist, exist_ok=True)
    zpath = os.path.join(dist, "loganalyzer_spark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        pkg = os.path.join(REPO, "loganalyzer_spark")
        for root, _dirs, files in os.walk(pkg):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    z.write(full, os.path.relpath(full, REPO))
    return zpath


def run_once(master: str, corpus: str, zpath: str, conf: dict[str, str]) -> dict:
    """One spark-submit of jobs/run_pipeline.py; returns its RESULT json."""
    cmd = ["spark-submit", "--master", master, "--py-files", zpath]
    for k, v in {**BASE_CONF, **conf}.items():
        cmd += ["--conf", f"{k}={v}"]
    cmd += [os.path.join(REPO, "jobs", "run_pipeline.py"), corpus]
    out = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO, timeout=1800)
    m = re.search(r"RESULT (\{.*\})", out.stdout)
    if not m:
        sys.stderr.write(out.stdout[-3000:] + "\n" + out.stderr[-3000:])
        raise RuntimeError(f"no RESULT line for {master}")
    return json.loads(m.group(1))


def check_roster(n: int, result: dict) -> None:
    """Fail an n-executor run that started on fewer executors."""
    if result["executors_at_run"] < n:
        raise RuntimeError(
            f"{n}-executor run ran on {result['executors_at_run']} executors"
        )


def summarize(runs: dict[str, dict[int, list[dict]]]) -> dict:
    """Per ladder: median docs/sec per rung, the N→4N efficiency of
    each pair, and whether every pair reaches TARGET."""
    out = {}
    for name, rungs in runs.items():
        med = {n: statistics.median(r["docs_per_sec"] for r in rs) for n, rs in rungs.items()}
        eff = {
            f"{lo}->{lo * 4}": round(med[lo * 4] / med[lo] / 4, 3)
            for lo in med
            if lo * 4 in med
        }
        reached = bool(eff) and min(eff.values()) >= TARGET
        out[name] = {"docs_per_sec": med, "efficiency": eff, "reaches_target": reached}
    return out


def run_cells(rs: list[dict]) -> str:
    """Every run's wall next to its host probe, for a report row."""
    return ", ".join(f"{r['wall_s']} s @ {r['probe_mb_s']} MB/s" for r in rs)


def ladder_section(title: str, label: str, runs: dict[int, list[dict]], s: dict) -> str:
    """One ladder's tables for BENCH/BASELINE.md."""
    rows = "\n".join(
        f"| {label.format(n)} | {rs[0]['rows']} | {s['docs_per_sec'][n]} | {run_cells(rs)} |"
        for n, rs in runs.items()
    )
    effs = "\n".join(
        f"| {pair} | {e} | {'yes' if e >= TARGET else 'no'} |"
        for pair, e in s["efficiency"].items()
    )
    verdict = "reaches" if s["reaches_target"] else "does NOT reach"
    return f"""## {title}

| rung | lines | docs/sec (median) | runs (wall @ probe) |
|---|---|---|---|
{rows}

| N → 4N | efficiency | ≥ {TARGET}? |
|---|---|---|
{effs}

**Verdict: this ladder {verdict} the {TARGET} target.**
"""


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    corpus = ensure_corpus(n_docs)
    zpath = make_zip()
    rungs = ladder()
    mem = heap_mb(rungs[-1] + 1)

    runs: dict[str, dict[int, list[dict]]] = {"threads": {}, "executors": {}}
    for _ in range(reps):
        for n in rungs:
            for name, (master, conf) in (
                ("threads", thread_rung(n)),
                ("executors", executor_rung(n, mem)),
            ):
                r = run_once(master, corpus, zpath, conf)
                if name == "executors":
                    check_roster(n, r)
                runs[name].setdefault(n, []).append(r)
                print(f"{master}: {r}", flush=True)
    summary = summarize(runs)
    print(json.dumps({"n_docs": n_docs, "reps": reps, **summary}))

    cpus = len(os.sched_getaffinity(0))
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    top = rungs[-1]
    threads = ladder_section(
        "Thread ladder: local[N]", "local[{}]", runs["threads"], summary["threads"]
    )
    executors = ladder_section(
        f"Executor ladder: local-cluster[N,1,{mem}]",
        "{} × 1 core",
        runs["executors"],
        summary["executors"],
    )
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "w") as f:
        f.write(
            f"""# BENCH/BASELINE — N→4N scaling evidence on this host

Host: {cpus} CPUs, {phys_gb:.1f} GB RAM. The identical spark-submit job
(`jobs/run_pipeline.py`: the full parse→match→enrich→route→aggregate
DAG, package shipped via `--py-files dist/loganalyzer_spark.zip`) runs
on the identical seeded pages corpus ({n_docs} docs, 256 parquet files)
at every rung of both ladders. Each run warms the DAG once in-process,
then times a fresh plan with perfbench's `timed(fingerprint(...))`.
Runs went round-robin over (rep, rung, ladder), {reps} reps per rung.

* Thread ladder: one JVM, driver heap {heap_mb()} MB
  (`session.heap_mb()`), ParallelGC, shuffle partitions max(8, N).
* Executor ladder: N one-core executor JVMs with {mem} MB heaps
  (`session.heap_mb({top + 1})`), GC/JIT threads pinned to one core,
  32 shuffle partitions, and a full-roster gate: a run that started on
  fewer executors than its rung fails the runner, so every run below
  had its full roster.

The {top}-executor rung runs {top} executor JVMs plus the driver JVM on
{cpus} CPUs, and local[{top}] runs {top} task threads next to the
driver's own threads. So contention for the CPUs is suspected at the
top rung of both ladders, but not verified: no per-stage task, GC or
scheduler-delay time was recorded.

{threads}
{executors}
Regenerate: `python tools/scaling_bench.py {n_docs} {reps}`.
"""
        )
    print("wrote BENCH/BASELINE.md")


if __name__ == "__main__":
    main()
