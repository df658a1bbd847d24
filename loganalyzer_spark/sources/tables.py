"""Source/sink abstraction: Iceberg catalog tables with parquet fallback.

The north rule's production input is an Iceberg table of web pages
(url, warc_ts, html, text, lang) at 10^12 rows. This sandbox has no
Iceberg runtime jar, so every reader/writer here accepts either

  * a catalog table reference  ``catalog.db.web_pages``  → Iceberg path
    (``spark.read.table`` / ``writeTo`` / ``MERGE INTO``), picking up
    partition pruning on the table's partition spec
    (days(warc_ts), bucket(16, lang) recommended — see below), or
  * a filesystem path ``/data/sf0.1`` → parquet (what tests/bench use).

The DataFrame lineage is identical either way — Catalyst sees the same
logical plan above the scan, so correctness tests on parquet transfer
to the Iceberg deployment; only the scan node and the DDL differ.

Recommended production DDL (not executable here — no catalog):

    CREATE TABLE prod.cc.web_pages (
        url STRING, warc_ts TIMESTAMP, html BINARY, text STRING,
        lang STRING)
    USING iceberg
    PARTITIONED BY (days(warc_ts), bucket(16, lang))
    TBLPROPERTIES ('write.target-file-size-bytes'='536870912');

days(warc_ts) gives the A12 window aggregates partition pruning on the
time axis; bucket(16, lang) spreads the Zipfian language skew so no
single partition holds the en-dominated head.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

_TABLE_REF = re.compile(r"^[A-Za-z_][\w]*(\.[A-Za-z_][\w]*){1,2}$")


def is_table_ref(ref: str) -> bool:
    """catalog.db.table / db.table → True; anything path-like → False."""
    return bool(_TABLE_REF.match(ref)) and "/" not in ref


def read_web_pages(spark: SparkSession, ref: str) -> DataFrame:
    """Read the input_hint table from an Iceberg catalog or parquet dir.

    Filters/column pruning above this scan push down either way
    (Iceberg: partition pruning + min/max file skipping; parquet:
    PushedFilters — both visible in .explain('formatted')).
    """
    if is_table_ref(ref):
        return spark.read.table(ref)
    if ref.endswith(".parquet") or ref.rstrip("/").endswith("documents"):
        return spark.read.parquet(ref)
    return spark.read.parquet(f"{ref}/documents.parquet")


def merge_template_lib_sql(target: str, source_view: str = "new_templates") -> str:
    """The S8 template-library upsert as Iceberg MERGE INTO.

    Mirrors the reference's warm-start lib update (drain.py:889-899,
    incremental add drain.py:962-966): existing event_ids keep their
    template (first-writer-wins, as the reference never rewrites an
    id), new ids are appended.
    """
    return f"""
MERGE INTO {target} t
USING (SELECT event_id, event_template,
              count(*) AS occurrences
       FROM {source_view}
       GROUP BY event_id, event_template) s
ON t.event_id = s.event_id
WHEN MATCHED THEN
  UPDATE SET t.occurrences = t.occurrences + s.occurrences
WHEN NOT MATCHED THEN
  INSERT (event_id, event_template, occurrences)
  VALUES (s.event_id, s.event_template, s.occurrences)
""".strip()


def upsert_template_lib(
    spark: SparkSession, new_templates: DataFrame, target: str
) -> None:
    """Run the MERGE against an Iceberg table, or emulate it on parquet
    (read-modify-write with the same first-writer-wins semantics) so
    the sandbox exercises the identical logical behavior."""
    from pyspark.sql import functions as F

    agg = new_templates.groupBy("event_id", "event_template").agg(
        F.count("*").alias("occurrences")
    )
    if is_table_ref(target):
        agg.createOrReplaceTempView("_tmpl_updates")
        spark.sql(merge_template_lib_sql(target, "_tmpl_updates"))
        return
    try:
        existing = spark.read.parquet(target)
    except Exception:
        agg.write.mode("overwrite").parquet(target)
        return
    merged = (
        existing.alias("t")
        .join(agg.alias("s"), "event_id", "full_outer")
        .select(
            "event_id",
            F.coalesce("t.event_template", "s.event_template").alias(
                "event_template"
            ),
            (
                F.coalesce("t.occurrences", F.lit(0))
                + F.coalesce("s.occurrences", F.lit(0))
            ).alias("occurrences"),
        )
    )
    # rewrite via a staging collect-free overwrite: parquet cannot
    # overwrite a dir being read, so cache + checkpoint through memory
    merged = merged.localCheckpoint(eager=True)
    merged.write.mode("overwrite").parquet(target)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Co-located fact layout, overwriting ``table``: ``bucketBy`` the
    join/aggregate key (+ optional ``sortBy``) so repeated fact-fact joins and keyed
    aggregations on that key plan with ZERO exchange — each bucket pair
    joins map-side. At 100 TB this converts the biggest recurring
    shuffle (fact-fact joins on doc_id/url) into a scan-local merge; on
    the Iceberg deployment the identical declaration is the
    ``bucket(n, key)`` partition transform + storage-partitioned joins.

    Bucketed layout needs the catalog (``saveAsTable``) — path writes
    can't record bucket metadata. Evidence:
    tests/test_operators.py::test_bucketed_fact_fact_join_no_exchange.
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 256 * 1024 * 1024,
    sort_cols: list[str] | None = None,
) -> dict:
    """Small-file compaction for a parquet directory sink.

    A streaming or fan-out writer at 100 TB leaves thousands of small
    files per partition; every downstream scan then pays per-file open
    cost and the driver pays listing cost. This rewrites the directory
    into ``ceil(bytes / target_file_bytes)`` files (the parquet-path
    analogue of Iceberg's ``rewrite_data_files`` with
    ``write.target-file-size-bytes`` — see the DDL note at the top of
    this module), optionally ``sortWithinPartitions(sort_cols)`` so
    row-group min/max statistics stay selective for data-skipping
    after the rewrite.

    Swap protocol: writes to ``<path>.__compact__``, re-reads and
    counts to verify row preservation, re-lists the source and ABORTS
    if any data file appeared or vanished since the snapshot (the sink
    must be quiesced during compaction — a concurrent writer's files
    would otherwise be silently discarded, and the row check alone
    cannot see them because the scan pins its file listing at plan
    time), then swaps via two renames. The swap is NOT atomic: there
    is a crash window between the renames where ``path`` does not
    exist (readers see ENOENT, not partial data; recovery = rename
    ``<path>.__old__`` back — a re-run performs that rollback
    automatically before anything else, so a crashed swap self-heals).
    Stale ``.__old__``/``.__compact__`` leftovers are removed only
    AFTER ``path`` is known to exist — when they are copies, never the
    sole survivors. On object
    stores run the Iceberg ``rewrite_data_files`` procedure instead —
    rename is neither atomic nor cheap there.
    Returns {"files_before", "files_after", "rows"}.

    The rewrite is ONE exchange (round-robin repartition to the target
    file count); with ``sort_cols`` the sort is per-output-file, never
    global.
    """
    import math
    import os
    import shutil

    def _data_files(p: str) -> list[str]:
        return [
            os.path.join(p, f)
            for f in os.listdir(p)
            if f.endswith(".parquet") and not f.startswith(".")
        ]

    tmp = path.rstrip("/") + ".__compact__"
    old = path.rstrip("/") + ".__old__"
    # Crash recovery BEFORE any cleanup: a prior run that died inside
    # the rename window leaves `path` missing and `.__old__` holding
    # the only original copy — deleting leftovers first would turn
    # that recoverable crash into permanent data loss. Roll the
    # original back, THEN reap garbage (at this point `path` exists,
    # so .__old__/.__compact__ are stale copies, not survivors).
    if not os.path.isdir(path):
        if os.path.isdir(old):
            os.rename(old, path)
        else:
            raise FileNotFoundError(
                f"{path} missing and no {old} to recover from"
            )
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)

    before = _data_files(path)
    total = sum(os.path.getsize(f) for f in before)
    n_out = max(1, math.ceil(total / target_file_bytes))

    df = spark.read.parquet(path)
    out = df.repartition(n_out)
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    out.write.mode("overwrite").parquet(tmp)

    rows_before = df.count()
    rows_after = spark.read.parquet(tmp).count()
    if rows_after != rows_before:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"compaction row mismatch: {rows_before} -> {rows_after}"
        )
    # Quiesced-sink check: the scan pinned its file listing at plan
    # time, so a file written since then passes the row check yet
    # would be dropped by the swap. Abort instead.
    if set(_data_files(path)) != set(before):
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            "source directory changed during compaction — the sink "
            "must be quiesced; re-run once writers are stopped"
        )
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    return {
        "files_before": len(before),
        "files_after": len(_data_files(path)),
        "rows": rows_after,
    }
