"""Every defaulted parameter of the package takes two values at its callers.

A parameter whose callers all pass one value is a configuration no test
or benchmark varies; with one value in use it is a constant. Pure AST,
no Spark.

The rule:

* *Definitions* are the module-level functions of ``loganalyzer_spark/``
  and the methods of its module-level classes. A class's ``__init__``
  is matched by calls to the class name. Nested functions are out of
  scope.
* *Call sites* are every ``ast.Call`` in the package, ``tests/``,
  ``tools/``, ``jobs/``, ``perfbench/``, ``bench.py`` and
  ``__spark_entry__.py`` whose callee name (a ``Name`` id or an
  ``Attribute`` attr) equals the definition's name.
* At each call a defaulted parameter's *value* is the
  ``ast.literal_eval`` of the argument passed for it (by keyword, or
  positionally past its index, ``self``/``cls`` excluded), or its
  default when the call omits it.
* An argument that is not a literal (a name, an expression,
  ``*args``/``**kw``) is a value of its own that the AST cannot pin
  down: it may differ from call to call, so it counts as a second value.
  Names are not resolved.
* A defaulted parameter whose calls give fewer than two distinct values
  fails.
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
    """``(name, positional index or None, default)`` of each defaulted
    parameter."""
    a = fn.args
    positional = a.posonlyargs + a.args
    static = any(isinstance(d, ast.Name) and d.id == "staticmethod"
                 for d in fn.decorator_list)
    skip = 1 if is_method and not static else 0
    first = len(positional) - len(a.defaults)
    for i, arg in enumerate(positional):
        if i >= first:
            yield arg.arg, i - skip, a.defaults[i - first]
    for arg, default in zip(a.kwonlyargs, a.kw_defaults):
        if default is not None:
            yield arg.arg, None, default


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


VARIES = object()  # a non-literal argument: any value


def _value(call: ast.Call, param: str, index, default: ast.AST):
    """The value ``param`` takes at ``call``: a literal's ``repr``, the
    default's, or VARIES."""
    if any(isinstance(a, ast.Starred) for a in call.args) or any(
        k.arg is None for k in call.keywords
    ):
        return VARIES
    arg = next((k.value for k in call.keywords if k.arg == param), None)
    if arg is None and index is not None and len(call.args) > index:
        arg = call.args[index]
    try:
        return repr(ast.literal_eval(default if arg is None else arg))
    except ValueError:
        return ast.dump(default) if arg is None else VARIES


def single_valued_options():
    calls = _calls()
    found = []
    for path, name, fn, is_method in _definitions():
        for param, index, default in _defaulted(fn, is_method):
            values = {_value(c, param, index, default) for c in calls[name]}
            if VARIES not in values and len(values) < 2:
                rel = path.relative_to(REPO).as_posix()
                found.append(f"{rel}:{fn.lineno} {name}({param})")
    return found


def test_every_defaulted_parameter_takes_two_values():
    found = single_valued_options()
    assert not found, (
        f"{len(found)} defaulted parameters whose callers use one value; "
        "make each a constant with that value:\n  " + "\n  ".join(found)
    )
