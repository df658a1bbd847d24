"""Seeded inputs and DuckDB oracle results for the benchmark.

Runs in its own process (``python3 perfbench/prepare.py <spec.json>``),
so DuckDB's memory never counts toward the benchmark process's peak RSS
and no JVM is involved. Everything is derived from
``datagen.raw_lines_sql('duckdb', 'documents')`` over a ``documents``
view whose ``doc_id`` range the seed selects; the oracle results are the
repo's own ``queries.oracle_sql()`` texts evaluated over the same view.

Written under the spec's ``out`` directory:

  warm_pages.parquet/        1-doc pages input (first-plan warm, fixed cost)
  pages_<name>.parquet/      pages input, one per entry of ``spec['pages']``
  oracle_<name>_<q>.parquet  oracle query ``q`` over those pages' docs
  batches/b0000.parquet ...  raw-lines micro-batch files
  oracle_stream.parquet      pipeline_sink_ecm over all batch docs
  DONE                       marker: the directory is complete
"""

from __future__ import annotations

import json
import os
import sys

# warc_ts = 2022-06-22 14:00 UTC + doc_id * 100 ms, so 600 consecutive
# doc_ids fill exactly one 1-minute ECM bucket. Seed ranges (and stream
# batches) start on multiples of 600, so no bucket spans two batches.
SEED_STRIDE_DOCS = 600_000

LANG_CASE = (
    "CASE id % 10 WHEN 0 THEN 'de' WHEN 1 THEN 'fr' WHEN 2 THEN 'zh' "
    "WHEN 3 THEN 'es' ELSE 'en' END"
)


def first_doc(seed: int) -> int:
    """First doc_id of the seed's range (bounded, so timestamps and the
    generator's LCG products stay far from 64-bit overflow)."""
    return (seed % 1000) * SEED_STRIDE_DOCS


def _documents(con, lo: int, hi: int) -> None:
    con.execute(
        f"CREATE OR REPLACE VIEW documents AS "
        f"SELECT id AS doc_id, {LANG_CASE} AS lang FROM range({lo}, {hi}) t(id)"
    )


def _copy(con, select: str, path: str) -> None:
    con.execute(f"COPY ({select}) TO '{path}' (FORMAT PARQUET)")


def _write_pages(con, lines_sql: str, path: str, lo: int, n_docs: int, files: int) -> None:
    """input_hint-shaped pages (url, warc_ts, html, text, lang, doc_id) as
    a directory of ``files`` equal doc-range parts, so Spark reads them as
    that many equal tasks. text is the doc's raw lines joined by newline
    in line_no order, the shape ``datagen.web_pages`` builds in Spark.
    warc_ts is written as an instant so Spark reads it as TIMESTAMP."""
    os.makedirs(path)
    for i in range(files):
        a, b = lo + n_docs * i // files, lo + n_docs * (i + 1) // files
        _documents(con, a, b)
        _copy(
            con,
            f"""SELECT url, warc_ts::TIMESTAMPTZ AS warc_ts, encode(text) AS html,
                       text, lang, doc_id
                FROM (SELECT doc_id, url, warc_ts, lang,
                             string_agg(raw, chr(10) ORDER BY line_no) AS text
                      FROM ({lines_sql}) GROUP BY ALL)
                ORDER BY doc_id""",
            f"{path}/part-{i:03d}.parquet",
        )


def prepare(spec: dict) -> None:
    import duckdb

    sys.path.insert(0, spec["repo"])
    from loganalyzer_spark import datagen, queries

    out = spec["out"]
    os.makedirs(out, exist_ok=True)
    lo = first_doc(spec["seed"])
    oracles = queries.oracle_sql()
    lines_sql = datagen.raw_lines_sql("duckdb", "documents")

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"SET threads = {spec['threads']}")

    _write_pages(con, lines_sql, f"{out}/warm_pages.parquet", lo, 1, 1)
    for name, (n_docs, oracle_names) in spec.get("pages", {}).items():
        _write_pages(con, lines_sql, f"{out}/pages_{name}.parquet", lo, n_docs, spec["files"])
        _documents(con, lo, lo + n_docs)
        for q in oracle_names:
            _copy(con, oracles[q], f"{out}/oracle_{name}_{q}.parquet")

    n_batches = spec.get("batches", 0)
    if n_batches:
        bd = spec["batch_docs"]
        os.makedirs(f"{out}/batches", exist_ok=True)
        _documents(con, lo, lo + n_batches * bd)
        raw_cols = "doc_id, url, warc_ts::TIMESTAMPTZ AS warc_ts, lang, line_no, raw"
        con.execute(f"CREATE TEMP TABLE _lines AS SELECT {raw_cols} FROM ({lines_sql})")
        for b in range(n_batches):
            start = lo + b * bd
            _copy(
                con,
                f"SELECT * FROM _lines WHERE doc_id >= {start} "
                f"AND doc_id < {start + bd} ORDER BY doc_id, line_no",
                f"{out}/batches/b{b:04d}.parquet",
            )
        _copy(con, oracles["pipeline_sink_ecm"], f"{out}/oracle_stream.parquet")

    con.close()
    with open(f"{out}/DONE", "w") as f:
        json.dump(spec, f)


if __name__ == "__main__":
    with open(sys.argv[1]) as f:
        prepare(json.load(f))
