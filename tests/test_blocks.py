"""M3 block state machine: window form ≡ applyInPandas form."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL

START = "^START$"
END = "^END$"


def _mk(spark, contents):
    rows = [(1, i, c) for i, c in enumerate(contents)]
    return spark.createDataFrame(rows, "doc_id long, line_no long, content string")


def _kept(df):
    return [r["line_no"] for r in df.orderBy("line_no").collect()]


def test_block_removal_basic(spark):
    from loganalyzer_spark.operators.blocks import remove_blocks, remove_blocks_pandas

    contents = ["a", "START", "x", "y", "END", "b", "START", "z", "END", "c"]
    df = _mk(spark, contents)
    w = _kept(remove_blocks(df, START, END))
    p = _kept(remove_blocks_pandas(df, START, END))
    assert w == p == [0, 5, 9]


def test_block_removal_no_stacking_and_stray_end(spark):
    """A second START inside a block does not nest; a stray END outside
    a block is an ordinary line (reference machine semantics,
    extensions/cm/preprocess.py:48-189)."""
    from loganalyzer_spark.operators.blocks import remove_blocks, remove_blocks_pandas

    contents = ["END", "a", "START", "START", "x", "END", "b", "START", "tail1", "tail2"]
    df = _mk(spark, contents)
    w = _kept(remove_blocks(df, START, END))
    p = _kept(remove_blocks_pandas(df, START, END))
    # stray END kept; inner START consumed; unclosed block removes tail
    assert w == p == [0, 1, 6]


def test_block_removal_on_corpus(spark):
    from loganalyzer_spark import datagen
    from loganalyzer_spark.operators.blocks import remove_blocks, remove_blocks_pandas

    lines = datagen.raw_lines(spark, SF_SMALL).select("doc_id", "line_no", "content")
    s, e = "^Status: Disconnected from server$", "^Response: 230 Login successful$"
    w = remove_blocks(lines, s, e).select("doc_id", "line_no")
    p = remove_blocks_pandas(lines, s, e).select("doc_id", "line_no")
    assert w.exceptAll(p).count() == 0 and p.exceptAll(w).count() == 0


def _ref_cm_patterns():
    """Load the reference cm patterns module read-only (no copying);
    skip the calling test when the reference checkout is absent."""
    import importlib.util
    import os
    import sys
    import types

    sys.modules.setdefault("analyzer", types.ModuleType("analyzer"))
    utils_pkg = types.ModuleType("analyzer.utils")
    sys.modules.setdefault("analyzer.utils", utils_pkg)
    ref = "/root/reference/analyzer"
    if not os.path.isdir(ref):
        pytest.skip("reference checkout not present")

    def load(name, path):
        spec = importlib.util.spec_from_file_location(name, path)
        mod = importlib.util.module_from_spec(spec)
        sys.modules[name] = mod
        spec.loader.exec_module(mod)
        return mod

    misc = load("analyzer.utils.misc_regex", f"{ref}/utils/misc_regex.py")
    sys.modules["analyzer.utils"].misc_regex = misc
    return load("_ref_cm_patterns_blocks", f"{ref}/extensions/cm/patterns.py")


def test_cm_block_patterns_equal_reference():
    """Preset constants are byte-identical to the reference's
    (extensions/cm/patterns.py:108-230)."""
    from loganalyzer_spark import patterns as P

    ref = _ref_cm_patterns()
    for name in (
        "PTN_BLOCK_RM_START",
        "PTN_BLOCK_RM_END",
        "PTN_BLOCK_RM_PRI",
        "PTN_BLOCK_INDENT",
        "PTN_BLOCK_INDENT2",
        "PTN_BLOCK_INDENT2_END",
        "PTN_TABLE_TITLE",
        "PTN_TABLE_TITLE_COMMON",
        "PTN_NESTED_LINE",
    ):
        assert getattr(P, name).pattern == getattr(ref, name).pattern, name


def test_cm_block_presets_window_equals_shared_state_machine(spark):
    """The five-machine window composition == the literal shared-state
    machine (one in_log_blk variable, reference branch order) on the
    generated cm block corpus — contents AND survivors."""
    from loganalyzer_spark import datagen
    from loganalyzer_spark.operators.blocks import (
        cm_block_presets,
        cm_block_presets_pandas,
    )

    lines = datagen.cm_block_lines(spark, SF_SMALL)
    w = cm_block_presets(lines)
    p = cm_block_presets_pandas(lines)
    assert w.exceptAll(p).count() == 0 and p.exceptAll(w).count() == 0
    # sanity: blocks were actually exercised (removals + indents)
    n_in, n_out = lines.count(), w.count()
    assert n_out < n_in
    from pyspark.sql import functions as F

    assert w.filter(F.col("content").startswith(" AIF cnt ")).count() > 0
    assert (
        w.filter(
            F.col("content") == " Using clamped minimum transmit power"
        ).count()
        > 0
    )
    assert w.filter(F.col("content").rlike("^>>>>ChipID=0x339")).count() > 0
    assert w.filter(F.col("content").startswith("Downloading LEAP")).count() == 0
