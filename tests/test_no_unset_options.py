"""Every defaulted parameter of the package is set by some caller.

A parameter nobody passes is a configuration no test or benchmark
covers; with one value in use it is a constant. Pure AST, no Spark.

The rule:

* *Definitions* are the module-level functions of ``loganalyzer_spark/``
  and the methods of its module-level classes. A class's ``__init__``
  is matched by calls to the class name. Nested functions are out of
  scope.
* *Call sites* are every ``ast.Call`` in the package, ``tests/``,
  ``tools/``, ``jobs/``, ``perfbench/``, ``bench.py`` and
  ``__spark_entry__.py`` whose callee name (a ``Name`` id or an
  ``Attribute`` attr) equals the definition's name.
* A defaulted parameter *is set* when a call passes it by keyword,
  passes more positional arguments than its index (``self``/``cls``
  excluded), or uses ``*args``/``**kw``.
"""

from __future__ import annotations

import ast
import pathlib
from collections import defaultdict

REPO = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = REPO / "loganalyzer_spark"
CALLER_ROOTS = ("loganalyzer_spark", "tests", "tools", "jobs", "perfbench",
                "bench.py", "__spark_entry__.py")


def _sources(roots):
    for root in roots:
        path = REPO / root
        yield from ([path] if path.is_file() else sorted(path.rglob("*.py")))


def _defaulted(fn: ast.FunctionDef, is_method: bool):
    """``(name, positional index or None)`` of each defaulted parameter."""
    a = fn.args
    positional = a.posonlyargs + a.args
    static = any(isinstance(d, ast.Name) and d.id == "staticmethod"
                 for d in fn.decorator_list)
    skip = 1 if is_method and not static else 0
    first = len(positional) - len(a.defaults)
    for i, arg in enumerate(positional):
        if i >= first:
            yield arg.arg, i - skip
    for arg, default in zip(a.kwonlyargs, a.kw_defaults):
        if default is not None:
            yield arg.arg, None


def _definitions():
    for path in _sources(["loganalyzer_spark"]):
        tree = ast.parse(path.read_text(), str(path))
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield path, node.name, node, False
            elif isinstance(node, ast.ClassDef):
                for item in node.body:
                    if isinstance(item, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        name = node.name if item.name == "__init__" else item.name
                        yield path, name, item, True


def _calls():
    calls = defaultdict(list)
    for path in _sources(CALLER_ROOTS):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else (
                    f.attr if isinstance(f, ast.Attribute) else None)
                if name:
                    calls[name].append(node)
    return calls


def _is_set(call: ast.Call, param: str, index) -> bool:
    if any(isinstance(a, ast.Starred) for a in call.args):
        return True
    if any(k.arg is None or k.arg == param for k in call.keywords):
        return True
    return index is not None and len(call.args) > index


def unset_options():
    calls = _calls()
    found = []
    for path, name, fn, is_method in _definitions():
        for param, index in _defaulted(fn, is_method):
            if not any(_is_set(c, param, index) for c in calls[name]):
                rel = path.relative_to(REPO).as_posix()
                found.append(f"{rel}:{fn.lineno} {name}({param})")
    return found


def test_every_defaulted_parameter_is_set_by_some_caller():
    found = unset_options()
    assert not found, (
        f"{len(found)} defaulted parameters that no caller sets; make each "
        "a constant with its current default:\n  " + "\n  ".join(found)
    )
