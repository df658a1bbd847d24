"""Session sizing, the one timing protocol, fingerprints and host probes.

Every timed operation in the benchmark goes through ``timed``: clear the
cache, build the plan and run its action inside the window, then probe
the host. The probe is recorded next to the wall time and never replaces
the median.
"""

from __future__ import annotations

import os
import tempfile
import time
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HEAP_CAP_MB = 16 * 1024
PROBE_MB = 64


def heap_mb() -> int:
    """Driver heap: a quarter of physical RAM, capped at 16g."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return max(1024, min(HEAP_CAP_MB, phys_mb // 4))


def task_threads() -> int:
    return min(4, len(os.sched_getaffinity(0)))


def configure_host(work: str, heap: int) -> None:
    """Size the driver JVM to the host and keep every scratch file inside
    ``work``. Runs before the first ``get_spark``.

    The heap is pre-touched at launch, as the session's own default does,
    so page faults land in set-up rather than in timed windows. The
    throughput collector is used because with G1 the run-to-run spread
    of docs_per_s on a 4-CPU host was about twice as wide."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = f"{heap}m"
    os.environ["SPARK_DRIVER_JAVA_OPTS"] = (
        f"-Xms{heap}m -XX:+AlwaysPreTouch -XX:+UseParallelGC "
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )
    # spark-submit first runs a small launcher JVM; keep its files here too.
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp


def start_session(cores: int):
    from loganalyzer_spark.session import get_spark

    return get_spark(
        app="perfbench",
        cores=cores,
        extra={"spark.ui.showConsoleProgress": "false"},
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit, so the next
    ``start_session`` launches a fresh one."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        # The gateway JVM exits on EOF of its stdin.
        gw.proc.stdin.close()
        gw.proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def first_touch_mb_s() -> float:
    """Host probe: throughput of faulting in never-touched pages."""
    t0 = time.perf_counter()
    a = np.zeros(PROBE_MB * 2**20 // 8)
    a[:: 4096 // 8] = 1.0
    dt = time.perf_counter() - t0
    del a
    return PROBE_MB / dt


def fingerprint(df: DataFrame, cols: list[str] | None = None, plans: list | None = None) -> tuple[int, int]:
    """Full-materialization action: (row count, bit_xor of xxhash64 over
    ``cols``, default all columns). Order-insensitive, so it compares a
    Spark result with an oracle result row-for-row. When ``plans`` is
    given, the action's executed plan is appended to it."""
    cols = cols or df.columns
    act = df.select(F.xxhash64(*[F.col(c) for c in cols]).alias("_h")).agg(
        F.count(F.lit(1)).alias("n"), F.expr("bit_xor(_h)").alias("h")
    )
    row = act.collect()[0]
    if plans is not None:
        plans.append(act._jdf.queryExecution().executedPlan())
    return int(row["n"]), int(row["h"] or 0)


def like(df: DataFrame, schema) -> DataFrame:
    """Project an oracle result onto a Spark result's column order and
    types, so equal values hash equal."""
    return df.select(*[F.col(f.name).cast(f.dataType) for f in schema.fields])


@dataclass
class Op:
    wall_s: float
    probe_mb_s: float
    ok: bool
    docs: int
    warmup: bool = False


def timed(spark, fn: Callable[[], object]) -> tuple[float, object, float]:
    """The timing protocol: clearCache, build + action inside the window,
    then a host probe outside it. Returns (wall_s, result, probe_mb_s)."""
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    result = fn()
    wall = time.perf_counter() - t0
    return wall, result, first_touch_mb_s()
