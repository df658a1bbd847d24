"""The package caches nothing through Spark's CacheManager.

A ``persist``/``cache`` inside an operator outlives the call: the
CacheManager matches the same logical subtree in any later plan of the
session, so a second run of the operator reads the cached relation and
a timing of it measures nothing. Operators that must pin an
intermediate use ``localCheckpoint``, which cuts the lineage and is
released with the frame that reads it. Pure AST, no Spark.
"""

from __future__ import annotations

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "loganalyzer_spark"
BANNED = {"persist", "cache", "unpersist"}


def test_package_calls_no_persist_cache_or_unpersist():
    paths = sorted(PACKAGE.rglob("*.py"))
    assert paths, PACKAGE
    found = []
    for path in paths:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in BANNED
            ):
                rel = path.relative_to(PACKAGE.parent)
                found.append(f"{rel}:{node.lineno} .{node.func.attr}()")
    assert not found, "\n".join(found)
