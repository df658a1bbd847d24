"""cm masking-tier fidelity (P12/P7 cm classes): the generator's
constant per-shape masked truths and the Spark pandas-UDF path must
equal the package's Python cm chain (``patterns.mask_params_cm``), and
that chain's patterns and output must equal the REFERENCE cm chain run
in plain Python (patterns loaded read-only from the reference checkout;
those tests skip when it is absent).
"""

from __future__ import annotations

import importlib.util
import os
import sys
import types

import pytest

from tests.conftest import SF_SMALL

REF = "/root/reference/analyzer"


def _load(name: str, path: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def ref_cm():
    if not os.path.isdir(REF):
        pytest.skip("reference checkout not present")
    sys.modules.setdefault("analyzer", types.ModuleType("analyzer"))
    utils_pkg = types.ModuleType("analyzer.utils")
    sys.modules.setdefault("analyzer.utils", utils_pkg)
    misc = _load("analyzer.utils.misc_regex", f"{REF}/utils/misc_regex.py")
    sys.modules["analyzer.utils"].misc_regex = misc
    return _load("_ref_cm_patterns_m", f"{REF}/extensions/cm/patterns.py")


def ref_mask_cm(line: str, ref) -> str:
    # the cm PTN_HARD_PARA dict applied in order, like drain.py:880-887
    for ptn, repl in ref.PTN_HARD_PARA.items():
        line = ptn.sub(repl, line)
    return line


def test_cm_patterns_equal_reference(ref_cm):
    from loganalyzer_spark import patterns as P

    ref_items = list(ref_cm.PTN_HARD_PARA.items())
    assert len(ref_items) == len(P.PTN_HARD_PARA_CM)
    for (rp, rr), (lp, lr) in zip(ref_items, P.PTN_HARD_PARA_CM):
        assert rp.pattern == lp.pattern
        assert rr == lr


# Inputs beyond the corpus: short/long OIDs, IPv6 next to IPv4:port,
# ctime, hex dumps, signed/dotted numbers, parenthesised and bracketed
# groups, times at the 24h boundary.
CM_CASES = [
    "Mib: 1.2.3.4.5 short OID",
    "Mib: 1.2.3.4 not an OID (only 4 groups)",
    "ip 10.1.2.3:8080: colon form",
    "ctime Mon Jun 20 14:42:53 2022 tail",
    "addr fe80::1 and 2001:db8:0:1:2:3:4:5 both",
    "value= 0a 1b 2c 3d 4e 5f 6a 7b",
    "dump HEX:AA BB CC ",
    "tuples ( 12-11.1 ) ( 10-11 ) list 1 2 3 4",
    "hex 0xDEADbeef mixed",
    "neg -42 plus +7 dotted 3.14 range ..99",
    "( kTimeout ) ( ucid ) ( not specified )",
    "Stat= Success qam y fec n snr txdata y",
    "time 12:34:56 mid and 24:00:00 end",
    "Boot  Filename: img.bin priDcid= [ 1 2 3 ] prof= [ 9 ]",
]


def test_generator_truth_equals_reference_chain(spark):
    """Each generated cm line's masked_truth == the cm chain's output.
    This is the check that makes the parse_mask_cm oracle honest: the
    truth literals cannot drift from the chain's behavior."""
    from loganalyzer_spark import datagen
    from loganalyzer_spark import patterns as P

    rows = datagen.cm_lines(spark, SF_SMALL).collect()
    assert len(rows) > 800
    shapes_seen = set()
    for r in rows:
        assert P.mask_params_cm(r["content"]) == r["masked_truth"], r
        shapes_seen.add(r["masked_truth"])
    assert len(shapes_seen) == 8  # every cm shape is exercised


def test_udf_path_equals_reference_chain(spark):
    from loganalyzer_spark import datagen
    from loganalyzer_spark import patterns as P
    from loganalyzer_spark.operators import parse

    out = (
        parse.mask_cm(datagen.cm_lines(spark, SF_SMALL).drop("masked_truth"))
        .select("content", "masked")
        .toPandas()
    )
    expected = out["content"].map(P.mask_params_cm)
    diffs = out[out["masked"] != expected]
    assert diffs.empty, diffs.head(5).to_string()


def test_udf_mask_cm_on_adversarial_lines(spark):
    """The pandas-UDF path equals the Python cm chain on CM_CASES."""
    from loganalyzer_spark import patterns as P
    from loganalyzer_spark.operators import parse

    df = spark.createDataFrame([(c,) for c in CM_CASES], "content string")
    got = {r["content"]: r["masked"] for r in parse.mask_cm(df).collect()}
    for c in CM_CASES:
        assert got[c] == P.mask_params_cm(c), repr(c)


def test_cm_mask_adversarial(ref_cm):
    """Local chain == reference chain on CM_CASES."""
    from loganalyzer_spark import patterns as P

    for c in CM_CASES:
        assert P.mask_params_cm(c) == ref_mask_cm(c, ref_cm), repr(c)
