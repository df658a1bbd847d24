"""Pipeline invariants: routed-row totality, sink-count conservation,
fan-out write equality, checkpoint/resume, streaming parity."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def routed(spark):
    from loganalyzer_spark import datagen, pipeline

    lines = datagen.raw_lines(spark, SF_SMALL)
    return pipeline.routed_lines(spark, lines).cache()


def test_every_row_routed_exactly_once(spark, routed):
    from loganalyzer_spark import datagen

    lines = datagen.raw_lines(spark, SF_SMALL)
    n_lines = lines.filter("is_rm = 0").count()  # wash drops PTN_LINE_RM rows
    assert lines.count() > n_lines  # the corpus exercises P4 removal
    assert routed.count() == n_lines
    assert routed.filter(F.col("sink_class").isNull()).count() == 0
    classes = {r["sink_class"] for r in routed.select("sink_class").distinct().collect()}
    assert classes <= {"c001", "c002", "c003", "normal"}


def test_sink_ecm_conserves_rows(spark, routed):
    from loganalyzer_spark import pipeline

    agg = pipeline.sink_aggregates(routed, "1 minute")
    total = agg.agg(F.sum("cnt")).collect()[0][0]
    assert total == routed.count()


def test_known_template_ids_match_reference_library(routed):
    """Template ids are md5(template)[:8] (drain.py:732) — our generator
    shares templates with the reference's ftp library, so the ids must
    match the shipped template_lib.csv."""
    ids = {r["event_id"] for r in routed.select("event_id").distinct().collect()}
    # From /root/reference/data/persist/ftp/template_lib.csv:
    assert "0d9f7273" in ids  # Command: RETR <*>
    assert "62583947" in ids  # Command: STOR <*>
    assert "7c5ceaea" in ids  # Trace: Connecting to <*> port <*>


def test_fanout_sink_writer(spark, routed, tmp_path):
    """The one fan-out writer: every routed row lands in its sink, a
    class with no rows still gets a readable sink, a second call skips
    every sink, and a sink without its marker is rewritten alone."""
    from loganalyzer_spark.lineage import MARKER, SINK_CLASSES, write_sinks_resumable

    out = str(tmp_path / "sinks")
    small = routed.select("doc_id", "line_no", "sink_class").filter("sink_class != 'c003'")
    assert write_sinks_resumable(small, out) == dict.fromkeys(SINK_CLASSES, False)
    back = spark.read.parquet(out)
    assert back.count() == small.count() > 0
    assert back.exceptAll(small).count() == 0
    empty = spark.read.parquet(os.path.join(out, "sink_class=c003"))
    assert empty.columns == ["doc_id", "line_no"] and empty.count() == 0

    assert write_sinks_resumable(small, out) == dict.fromkeys(SINK_CLASSES, True)

    def listing(c):
        d = os.path.join(out, f"sink_class={c}")
        return {f: os.stat(os.path.join(d, f)).st_mtime_ns for f in os.listdir(d)}

    kept = {c: listing(c) for c in SINK_CLASSES if c != "c001"}
    c001 = os.path.join(out, "sink_class=c001")
    os.remove(os.path.join(c001, MARKER))
    stale = os.path.join(c001, "part-99999-stale.snappy.parquet")
    c002 = os.path.join(out, "sink_class=c002")
    shutil.copy(os.path.join(c002, next(f for f in os.listdir(c002) if f.startswith("part-"))), stale)

    again = write_sinks_resumable(small, out)
    assert again == {c: c != "c001" for c in SINK_CLASSES}
    assert not os.path.exists(stale)
    assert os.path.exists(os.path.join(c001, MARKER))
    assert {c: listing(c) for c in kept} == kept
    assert spark.read.parquet(c001).count() == small.filter("sink_class = 'c001'").count()


def test_checkpoint_resume(spark, tmp_path):
    from loganalyzer_spark import datagen
    from loganalyzer_spark.lineage import CheckpointedJob

    root = str(tmp_path / "ckpt")
    job = CheckpointedJob(spark, root)
    calls = {"n": 0}

    def stage_fn():
        calls["n"] += 1
        return datagen.raw_lines(spark, SF_SMALL).select("doc_id", "line_no", "raw")

    a = job.stage("parse", stage_fn)
    n1 = a.count()
    m = job.read_metrics("parse")
    assert m["rows"] == n1 and m["n_files"] >= 1

    # restart: same stage skips recompute, identical rows
    job2 = CheckpointedJob(spark, root)
    b = job2.stage("parse", stage_fn)
    assert calls["n"] == 1  # fn not re-invoked
    assert b.count() == n1


def test_checkpoint_stage_without_metrics_reruns(spark, tmp_path):
    """A kill after the committer wrote ``_SUCCESS`` but before the
    metrics record leaves a stage that is not done: the next stage()
    runs fn again and writes the record."""
    from loganalyzer_spark.lineage import CheckpointedJob

    root = str(tmp_path / "ckpt")
    job = CheckpointedJob(spark, root)
    calls = {"n": 0}

    def stage_fn():
        calls["n"] += 1
        return spark.range(10)

    job.stage("ids", stage_fn)
    record = os.path.join(root, "_metrics", "ids.json")
    os.remove(record)
    assert job.stage("ids", stage_fn).count() == 10
    assert calls["n"] == 2
    assert os.path.exists(record)
    assert job.read_metrics("ids")["rows"] == 10


def test_empty_corpus(spark, tmp_path):
    """An empty corpus gives empty results, not errors: the flagship and
    the event counts have 0 rows, every sink is written empty with its
    marker, and an empty micro-batch gives an empty streaming aggregate."""
    from loganalyzer_spark import datagen, pipeline
    from loganalyzer_spark.lineage import MARKER, SINK_CLASSES, write_sinks_resumable
    from loganalyzer_spark.operators import aggregate
    from loganalyzer_spark.streaming.stream_ecm import run_to_memory, streaming_sink_ecm

    pages_dir = str(tmp_path / "pages")
    datagen.web_pages(spark, SF_SMALL).limit(0).write.parquet(pages_dir)
    routed = pipeline.routed_from_pages(spark, spark.read.parquet(pages_dir))
    assert pipeline.sink_aggregates(routed, "1 minute").count() == 0
    assert aggregate.event_counts(routed).count() == 0

    out = str(tmp_path / "sinks")
    assert write_sinks_resumable(routed, out) == dict.fromkeys(SINK_CLASSES, False)
    for c in SINK_CLASSES:
        sink = os.path.join(out, f"sink_class={c}")
        assert os.path.exists(os.path.join(sink, MARKER))
        assert spark.read.parquet(sink).count() == 0

    src = str(tmp_path / "stream_src")
    datagen.raw_lines(spark, SF_SMALL).limit(0).write.parquet(src)
    agg = streaming_sink_ecm(spark, src, spark.read.parquet(src).schema)
    assert spark.table(run_to_memory(agg)).count() == 0


def test_streaming_matches_batch(spark, routed, tmp_path):
    from loganalyzer_spark import datagen, pipeline
    from loganalyzer_spark.streaming.stream_ecm import (
        run_to_memory,
        streaming_sink_ecm,
    )

    src = str(tmp_path / "stream_src")
    lines = datagen.raw_lines(spark, SF_SMALL)
    lines.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    agg = streaming_sink_ecm(spark, src, schema, bucket="1 minute")
    name = run_to_memory(agg)
    stream_out = spark.sql(f"SELECT * FROM {name}")

    batch_out = pipeline.sink_aggregates(routed, "1 minute")
    assert stream_out.count() == batch_out.count()
    assert stream_out.exceptAll(batch_out).count() == 0


def test_stateful_doc_profiles_accumulates_across_batches(spark, tmp_path):
    """applyInPandasWithState: keyed state must carry across micro-batches
    — feed the same doc ids in two file batches, assert cumulative totals."""
    import pandas as pd

    from loganalyzer_spark.streaming.stateful import stateful_doc_profiles

    src = str(tmp_path / "state_src")
    os.makedirs(src)
    schema = "doc_id BIGINT, is_abn INT, event_id STRING"
    batch1 = pd.DataFrame(
        {"doc_id": [1, 1, 2], "is_abn": [0, 1, 0], "event_id": ["aa", "bb", "aa"]}
    )
    batch2 = pd.DataFrame(
        {"doc_id": [1, 2, 2], "is_abn": [1, 0, 0], "event_id": ["aa", "aa", "cc"]}
    )
    spark.createDataFrame(batch1, schema).write.parquet(src + "/b1")

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src + "/*")
    out = stateful_doc_profiles(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("profiles")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(batch2, schema).write.parquet(src + "/b2")
        q.processAllAvailable()
    finally:
        q.stop()

    # memory sink in update mode appends each emitted update; take the
    # last row per key = final accumulated state.
    rows = spark.sql(
        """SELECT doc_id, lines, abn, n_events FROM (
             SELECT *, row_number() OVER (
               PARTITION BY doc_id ORDER BY lines DESC) rn FROM profiles)
           WHERE rn = 1"""
    ).collect()
    got = {r["doc_id"]: (r["lines"], r["abn"], r["n_events"]) for r in rows}
    assert got[1] == (3, 2, 2)  # 2 lines batch1 + 1 batch2; abn 1+1; {aa,bb}
    assert got[2] == (3, 0, 2)  # 1 + 2 lines; {aa,cc}


def test_streaming_watermark_drops_late_rows(spark, tmp_path):
    """Append-mode windowed ECM with a 10-minute watermark: windows emit
    once the watermark passes their end, and rows arriving later than
    the watermark are dropped — the late-data contract the batch A12
    aggregate inherits when run under Structured Streaming."""
    import pandas as pd

    src = str(tmp_path / "wm_src")
    os.makedirs(src)
    schema = "warc_ts TIMESTAMP, sink_class STRING, event_id STRING"

    def write(name, rows):
        pdf = pd.DataFrame(rows, columns=["warc_ts", "sink_class", "event_id"])
        pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"])
        # one part-file per logical batch: maxFilesPerTrigger=1 must see
        # each write as ONE micro-batch or the watermark advances
        # mid-batch and drops rows we intend to be on time.
        spark.createDataFrame(pdf, schema).coalesce(1).write.parquet(
            f"{src}/{name}"
        )

    t = "2022-06-22 10:{:02d}:00"
    write("b1", [(t.format(0), "normal", "aa"),
                 (t.format(5), "normal", "aa"),
                 (t.format(30), "normal", "bb")])  # watermark -> 10:20

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src + "/*")
    agg = (
        stream.withWatermark("warc_ts", "10 minutes")
        .groupBy(F.window("warc_ts", "10 minutes").alias("w"),
                 "sink_class", "event_id")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("bucket_start"), "sink_class",
                "event_id", "cnt")
    )
    q = (agg.writeStream.outputMode("append").format("memory")
         .queryName("wm_out").start())
    try:
        q.processAllAvailable()
        # b2: one row INSIDE the closed 10:00 window (too late, dropped)
        # and one at 11:00 (advances watermark past 10:30's window end).
        write("b2", [(t.format(1), "normal", "aa"),
                     ("2022-06-22 11:00:00", "normal", "cc")])
        q.processAllAvailable()
        write("b3", [("2022-06-22 11:30:00", "normal", "dd")])
        q.processAllAvailable()  # advances watermark, closes 11:00 window
    finally:
        q.stop()

    rows = {
        (r["bucket_start"].strftime("%H:%M"), r["event_id"]): r["cnt"]
        for r in spark.sql("SELECT * FROM wm_out").collect()
    }
    # 10:00 window emitted with the ON-TIME count only (2, not 3: the
    # late b2 row was dropped); 10:30 and 11:00 windows emitted too.
    assert rows[("10:00", "aa")] == 2
    assert rows[("10:30", "bb")] == 1
    assert rows[("11:00", "cc")] == 1
    assert ("11:30", "dd") not in rows  # window still open at stop


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: re-delivered records (same key)
    across micro-batches emit exactly once while their keys are inside
    the watermark horizon — the bounded-state streaming twin of
    dedup.exact_dedup for an at-least-once 100 TB ingest."""
    import datetime as dt

    import pandas as pd

    from loganalyzer_spark.streaming.dedup import (
        run_append_to_memory,
        streaming_dedup,
    )

    src = str(tmp_path / "dedup_src")
    os.makedirs(src)
    schema = "doc_id BIGINT, line_no INT, warc_ts TIMESTAMP, raw STRING"
    t = dt.datetime(2026, 1, 1, 12, 0, 0)
    b1 = pd.DataFrame(
        {
            "doc_id": [1, 1, 2],
            "line_no": [0, 1, 0],
            "warc_ts": [t, t, t],
            "raw": ["a", "b", "c"],
        }
    )
    # batch 2 re-delivers (1,1) and (2,0) and adds (2,1)
    b2 = pd.DataFrame(
        {
            "doc_id": [1, 2, 2],
            "line_no": [1, 0, 1],
            "warc_ts": [t, t, t + dt.timedelta(minutes=1)],
            "raw": ["b-dup", "c-dup", "d"],
        }
    )
    spark.createDataFrame(b1, schema).write.parquet(src + "/b1")

    stream = streaming_dedup(spark, src + "/*", schema)
    q = run_append_to_memory(stream)
    try:
        spark.createDataFrame(b2, schema).write.parquet(src + "/b2")
        q.processAllAvailable()
        got = {
            (r["doc_id"], r["line_no"]): r["raw"]
            for r in spark.sql("SELECT * FROM dedup_out").collect()
        }
    finally:
        q.stop()
    # every key exactly once, first delivery wins, new key emitted
    assert got == {(1, 0): "a", (1, 1): "b", (2, 0): "c", (2, 1): "d"}


def test_streaming_near_dup_lsh_cross_batch(spark, tmp_path):
    """Streaming MinHash LSH: band buckets claimed in one micro-batch
    must flag colliding documents in LATER batches (keyed state), and
    within-batch collisions emit with the smaller doc as dup_of."""
    import pandas as pd

    from loganalyzer_spark.streaming.near_dup import streaming_near_dup

    TXT_A = "the quick brown fox jumps over the lazy dog near the river bank"
    TXT_B = "completely different content about spark shuffle exchanges and joins"
    TXT_C = "yet another unrelated document mentioning parquet column pruning only"

    src = str(tmp_path / "nd_src")
    os.makedirs(src)
    schema = "doc_id BIGINT, text STRING"
    # batch 1: doc 5 duplicates doc 1 in the SAME batch
    b1 = pd.DataFrame({"doc_id": [1, 2, 5], "text": [TXT_A, TXT_B, TXT_A]})
    # batch 2: doc 3 duplicates doc 1 ACROSS batches; doc 4 is fresh
    b2 = pd.DataFrame({"doc_id": [3, 4], "text": [TXT_A, TXT_C]})
    # one file per batch: maxFilesPerTrigger=1 must see batch 1 whole,
    # else doc 5 can claim the bucket before doc 1 arrives
    spark.createDataFrame(b1, schema).repartition(1).write.parquet(src + "/b1")

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src + "/*")
    out = streaming_near_dup(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("near_dups")
        .start()
    )
    try:
        q.processAllAvailable()
        in_batch = {
            (r["doc_id"], r["dup_of"])
            for r in spark.sql("SELECT * FROM near_dups").collect()
        }
        spark.createDataFrame(b2, schema).repartition(1).write.parquet(src + "/b2")
        q.processAllAvailable()
        all_pairs = {
            (r["doc_id"], r["dup_of"])
            for r in spark.sql("SELECT * FROM near_dups").collect()
        }
    finally:
        q.stop()

    # identical texts share every band: 5 collides with 1 inside batch 1
    assert in_batch == {(5, 1)}
    # cross-batch: doc 3 flags against the bucket doc 1 claimed in batch
    # 1; fresh docs 2 and 4 never appear
    assert all_pairs == {(5, 1), (3, 1)}


def test_streaming_near_dup_claimant_chunk_invariant():
    """The bucket claimant must be the min doc_id across ALL pandas
    chunks of the key group, not per-chunk (ADVICE r4): with the
    smaller id arriving in a LATER chunk, dup_of orientation would
    otherwise depend on Arrow chunking and vary run-to-run."""
    import pandas as pd

    from loganalyzer_spark.streaming.near_dup import _bucket_update

    class FakeState:
        exists = False
        hasTimedOut = False

        def __init__(self):
            self.value = None

        def update(self, v):
            self.value = v
            self.exists = True

        @property
        def get(self):
            return self.value

    # doc 7 in chunk 1, doc 2 in chunk 2 — claimant must still be 2
    chunks = iter(
        [pd.DataFrame({"doc_id": [7]}), pd.DataFrame({"doc_id": [2, 9]})]
    )
    state = FakeState()
    out = list(_bucket_update((0, "h0"), chunks, state))
    assert state.value == (2,)
    pairs = {
        (int(d), int(o))
        for pdf in out
        for d, o in zip(pdf["doc_id"], pdf["dup_of"])
    }
    assert pairs == {(7, 2), (9, 2)}


def test_streaming_template_evolution(spark, tmp_path):
    """Online Drain under keyed streaming state: batch-1 lines merge
    into a wildcard template, and a batch-2 line must fold into the
    bucket's EXISTING evolved template (cross-batch state) instead of
    seeding a new one; a dissimilar batch-2 line seeds a new cluster."""
    import pandas as pd

    from loganalyzer_spark.streaming.evolve import streaming_template_evolution

    src = str(tmp_path / "evo_src")
    os.makedirs(src)
    schema = "masked STRING"
    b1 = pd.DataFrame(
        {"masked": ["Command: RETR fileA", "Command: RETR fileB",
                    "Status: OK done now"]}
    )
    b2 = pd.DataFrame(
        {"masked": ["Command: RETR fileC", "Status: ERR failed here"]}
    )
    spark.createDataFrame(b1, schema).repartition(1).write.parquet(src + "/b1")

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src + "/*")
    out = streaming_template_evolution(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("evo")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(b2, schema).repartition(1).write.parquet(src + "/b2")
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM evo").collect()
    finally:
        q.stop()

    by_bucket: dict[int, set] = {}
    for r in rows:
        by_bucket.setdefault(r["token_count"], set()).add(r["event_template"])
    # 2/3 similarity >= 0.6 threshold: RETR lines merged in batch 1,
    # and fileC folded into the SAME evolved template in batch 2 —
    # across every emission the bucket only ever held the wildcard form
    assert by_bucket[3] == {"Command: RETR <*>"}
    # 1/4 similarity < 0.6: the ERR line seeds a second 4-token cluster
    assert by_bucket[4] == {"Status: OK done now", "Status: ERR failed here"}


# ---------------------------------------------------------------------------
# Driver-side tables are JVM LocalRelations: no query scans a Python RDD
# ---------------------------------------------------------------------------


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_local_df_empty_input_keeps_schema(spark):
    from pyspark.sql.types import DataType

    from loganalyzer_spark.datagen import local_df

    ddl = "a long, b long, cosine double, vec array<double>"
    df = local_df(spark, [], ddl)
    assert df.schema == DataType.fromDDL(ddl)
    assert df.count() == 0
    assert "LogicalRDD" not in _analyzed(df)


def test_local_df_round_trips_values(spark):
    from loganalyzer_spark.datagen import local_df

    rows = [
        (1, "it's a \\d+ \\\\ 'quote'", 0.1, True),
        (2**40, "é\n\t`x`", float("-inf"), False),
        (None, None, None, None),
    ]
    out = local_df(spark, rows, "n long, s string, x double, b boolean").collect()
    assert [tuple(r) for r in out] == rows
    nan = local_df(spark, [(float("nan"),)], "x double").collect()[0]["x"]
    assert nan != nan


@pytest.mark.parametrize(
    "dim, rows, ddl",
    [
        ("templates_df", "template_rows", "TEMPLATE_SCHEMA"),
        ("kb_df", "kb_rows", "KB_SCHEMA"),
        ("classes_df", "CLASS_ROWS", "class_id string, descpt string"),
        ("vocab_df", "vocab_rows", "event_id string, vocab_idx int"),
    ],
)
def test_datagen_dims_are_local_relations(spark, dim, rows, ddl):
    from pyspark.sql.types import DataType

    from loganalyzer_spark import datagen

    df = getattr(datagen, dim)(spark)
    plan = _analyzed(df)
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
    assert df.schema == DataType.fromDDL(getattr(datagen, ddl, ddl))
    want = getattr(datagen, rows)
    want = want() if callable(want) else want
    # exact values: match_regex keeps every backslash
    assert [tuple(r) for r in df.collect()] == want


def test_pipeline_plans_scan_no_python_rdd(spark, tmp_path):
    """Neither the flagship nor the streaming aggregate plans a Python
    RDD scan, so no query starts Python-worker jobs for its dims."""
    from loganalyzer_spark import datagen, pipeline
    from loganalyzer_spark.streaming.stream_ecm import streaming_sink_ecm

    pages = datagen.web_pages(spark, SF_SMALL)
    flagship = pipeline.sink_aggregates(pipeline.routed_from_pages(spark, pages))
    assert "LogicalRDD" not in _analyzed(flagship)

    src = str(tmp_path / "stream_src")
    datagen.raw_lines(spark, SF_SMALL).limit(10).write.parquet(src)
    stream = streaming_sink_ecm(spark, src, spark.read.parquet(src).schema)
    assert stream.isStreaming
    assert "LogicalRDD" not in _analyzed(stream)


def test_flagship_runs_each_wash_regex_once(spark):
    """The timestamp-anchor regex and the pid/sid clean regex appear
    once each in the flagship's physical plan: the wash filters read
    their outputs instead of carrying a copy of their definitions."""
    from loganalyzer_spark import datagen, pipeline
    from loganalyzer_spark.operators import parse

    pages = datagen.web_pages(spark, SF_SMALL)
    flagship = pipeline.sink_aggregates(pipeline.routed_from_pages(spark, pages))
    plan = flagship._jdf.queryExecution().sparkPlan().toString()
    assert plan.count(parse._TS_ANCHOR) == 1, plan
    assert plan.count(parse._CLEAN_CHAR) == 1, plan


def test_flagship_runs_each_mask_pass_once(spark):
    """Each guarded mask pass appears once in the flagship's physical
    plan, and so does ``content``'s response-normalize CASE: the mask
    guard reads ``content`` several times, so CollapseProject keeps it
    a column instead of copying its definition into the guard."""
    from loganalyzer_spark import datagen, pipeline
    from loganalyzer_spark import patterns as P
    from loganalyzer_spark.operators import parse

    pages = datagen.web_pages(spark, SF_SMALL)
    flagship = pipeline.sink_aggregates(pipeline.routed_from_pages(spark, pages))
    plan = flagship._jdf.queryExecution().sparkPlan().toString()
    # The call's arguments as the plan prints them; a bare pattern can
    # also occur inside another regex (BARE_INT's inside PTN_LINE_RM).
    for ptn, repl in parse._MASK_GUARDED:
        assert plan.count(f", {ptn}, {repl}, 1)") == 1, (ptn, plan)
    assert plan.count("^" + P.PTN_RSP_STAT[0][0].pattern) == 1, plan


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    """sf0.001's pages as parquet, read back as the jobs read them: the
    generated ``web_pages`` frame regroups raw lines with a shuffle of
    its own."""
    from loganalyzer_spark import datagen

    pages_dir = str(tmp_path_factory.mktemp("flagship") / "pages")
    datagen.web_pages(spark, SF_SMALL).write.parquet(pages_dir)
    return pages_dir


@pytest.fixture(scope="module")
def flagship_nodes(spark, pages_parquet):
    """Class names of every node in the flagship's executed plan after
    its action, walked through AQE's final plan and into every query
    stage and reused exchange."""
    from loganalyzer_spark import pipeline

    pages = spark.read.parquet(pages_parquet)
    flagship = pipeline.sink_aggregates(pipeline.routed_from_pages(spark, pages))
    flagship.collect()
    out, stack = [], [flagship._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif name == "ReusedExchangeExec":
            stack.append(node.child())
        else:
            out.append(name)
            kids = node.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


def test_flagship_shuffles_once(flagship_nodes):
    """Exactly one shuffle Exchange moves the fact rows: the final
    aggregate's."""
    assert flagship_nodes.count("ShuffleExchangeExec") == 1, flagship_nodes


def test_flagship_joins_nothing(flagship_nodes):
    """The template library and the KB are map literals looked up inside
    the fused stage: the flagship has no join and no broadcast, so no
    sort-merge, shuffled-hash, nested-loop or cartesian join either."""
    banned = {
        "SortMergeJoinExec", "ShuffledHashJoinExec",
        "BroadcastNestedLoopJoinExec", "CartesianProductExec",
        "BroadcastExchangeExec",
    }
    assert not [n for n in flagship_nodes if n.endswith("JoinExec")], flagship_nodes
    assert not banned & set(flagship_nodes), flagship_nodes


def test_one_doc_flagship_runs_at_most_four_jobs(spark, tmp_path):
    """Reading, building and running the flagship over one document
    starts at most 4 Spark jobs: no dim starts a shuffle or broadcast
    job of its own (the joined dims made it 6)."""
    from loganalyzer_spark import datagen, pipeline

    pages_dir = str(tmp_path / "pages")
    datagen.web_pages(spark, SF_SMALL).limit(1).write.parquet(pages_dir)
    sc = spark.sparkContext
    sc.setJobGroup("one_doc_flagship", "one-doc flagship")
    try:
        pages = spark.read.parquet(pages_dir)
        assert pipeline.sink_aggregates(pipeline.routed_from_pages(spark, pages)).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("one_doc_flagship")
    assert 0 < len(jobs) <= 4, jobs


def test_match_lambda_runs_once_under_filters(spark, pages_parquet):
    """A filter on a column derived from the match (the sink writer's
    ``sink_class IN (...)``, ``new_templates``' ``is_new = 1``) reads the
    Generate's output instead of copying the match lambda into its
    pushed-down condition."""
    from loganalyzer_spark import pipeline, queries
    from loganalyzer_spark.lineage import SINK_CLASSES

    routed = pipeline.routed_from_pages(spark, spark.read.parquet(pages_parquet))
    sinks = routed.filter(F.col("sink_class").isin(SINK_CLASSES))
    for df in (sinks, queries.new_templates(spark, SF_SMALL)):
        plan = df._jdf.queryExecution().sparkPlan().toString()
        assert plan.count("forall(") == 1, plan


def test_flagship_build_jvm_round_trips(spark, monkeypatch):
    """Building the flagship plan, without an action, takes at most 400
    py4j round trips: each layer is a few SQL-text calls, not one call
    per Column function, literal and column reference (about 1,450).
    py4j's finalizer thread sends the deletes of freed JVM references
    on its own schedule, so only this thread's commands count."""
    import threading

    from loganalyzer_spark import datagen, pipeline

    pages = datagen.web_pages(spark, SF_SMALL)
    pages.columns  # resolve the input's schema outside the count
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    main_thread = threading.get_ident()
    sent = []

    def counting(command, *args, **kwargs):
        if threading.get_ident() == main_thread:
            sent.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    pipeline.sink_aggregates(pipeline.routed_from_pages(spark, pages))
    monkeypatch.undo()
    assert len(sent) <= 400, len(sent)
