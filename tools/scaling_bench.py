"""Thread-ladder scaling evidence for the north rule's N→4N criterion.

No multi-node cluster exists in this sandbox, so the identical
spark-submit job (``jobs/run_pipeline.py``, package shipped via
``--py-files``) runs on the identical parquet pages corpus at local[N],
N doubling from 1 up to the host's CPU count:

    python tools/scaling_bench.py [n_docs]

Each rung runs $SPARK_GRAFT_LADDER_REPS (default 3) separate
spark-submits and reports the median docs/sec; every run's wall is
published next to its host probe. The driver heap follows
``session.heap_mb``. Writes BENCH/BASELINE.md.
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


def ladder() -> list[int]:
    """Rungs doubling from 1 up to the host's CPU count."""
    cpus = len(os.sched_getaffinity(0))
    return [1 << i for i in range(cpus.bit_length())]


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


def summarize(runs: dict[int, list[dict]]) -> tuple[dict[int, float], dict[str, float]]:
    """Median docs/sec per rung and the N→4N efficiency of each pair."""
    med = {n: statistics.median(r["docs_per_sec"] for r in rs) for n, rs in runs.items()}
    eff = {
        f"{lo}->{lo * 4}": round(med[lo * 4] / med[lo] / 4, 3)
        for lo in med
        if lo * 4 in med
    }
    return med, eff


def run_cells(rs: list[dict]) -> str:
    """Every run's wall next to its host probe, for a report row."""
    return ", ".join(f"{r['wall_s']} s @ {r['probe_mb_s']} MB/s" for r in rs)


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    corpus = ensure_corpus(n_docs)
    zpath = make_zip()
    reps = int(os.environ.get("SPARK_GRAFT_LADDER_REPS", "3"))
    conf = {
        "spark.driver.memory": f"{heap_mb()}m",
        "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
    }

    runs: dict[int, list[dict]] = {}
    for cores in ladder():
        runs[cores] = [
            run_once(
                f"local[{cores}]",
                corpus,
                zpath,
                {**conf, "spark.sql.shuffle.partitions": str(max(8, cores))},
            )
            for _ in range(reps)
        ]
        print(f"local[{cores}]: {runs[cores]}", flush=True)
    med, eff = summarize(runs)
    print(json.dumps({"n_docs": n_docs, "docs_per_sec": med, "efficiency": eff}))

    rows_tbl = "\n".join(
        f"| local[{c}] | {n_docs} | {rs[0]['rows']} | {med[c]} | {run_cells(rs)} |"
        for c, rs in runs.items()
    )
    eff_tbl = "\n".join(f"| {pair} | {e} |" for pair, e in eff.items())
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "w") as f:
        f.write(
            f"""# BENCH/BASELINE — thread-ladder scaling evidence

Identical spark-submit job (`jobs/run_pipeline.py`, full
parse→match→enrich→route→aggregate DAG over the input_hint-shaped
pages corpus, package shipped via `--py-files
dist/loganalyzer_spark.zip`) on the identical seeded parquet corpus
(256 files), at local[N] for N doubling from 1 up to this host's
{len(os.sched_getaffinity(0))} CPUs. Each run warms the DAG once in-process, then
times a fresh plan with perfbench's `timed(fingerprint(...))`. Driver
heap {heap_mb()} MB (`session.heap_mb`), ParallelGC.

| config | docs | lines | docs/sec (median of {reps}) | runs (wall @ probe) |
|---|---|---|---|---|
{rows_tbl}

## N→4N scaling efficiency (target ≥ 0.8 per BASELINE.json)

| N → 4N threads | efficiency |
|---|---|
{eff_tbl}

Regenerate: `python tools/scaling_bench.py {n_docs}`.
"""
        )
    print("wrote BENCH/BASELINE.md")


if __name__ == "__main__":
    main()
