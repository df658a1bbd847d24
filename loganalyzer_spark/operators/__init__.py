"""Operator helpers shared across modules."""

from pyspark.sql import DataFrame


def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal: backslashes and single
    quotes escaped, so regex text from ``patterns`` goes into SQL
    unchanged (default parser, ``spark.sql.parser.escapedStringLiterals``
    off)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def with_sql(df: DataFrame, exprs: dict[str, str], drop=()) -> DataFrame:
    """``withColumns`` over SQL text, in one ``selectExpr``: new names
    are appended in ``exprs`` order, a name already in ``df`` is
    replaced in place, and ``drop`` names leave the output.

    A layer built this way costs a handful of JVM round trips; the same
    layer as ``Column`` trees costs one per function, literal and column
    reference (about 1,450 for the flagship DAG). Each expression in the
    list costs one more, so ``*`` stands for the kept columns unless a
    replacement has to keep its position.
    """
    have = df.columns
    if exprs.keys() & set(have):
        out = [
            f"{exprs[c]} AS {_ident(c)}" if c in exprs else _ident(c)
            for c in have
            if c not in drop
        ]
    else:
        out = [f"* EXCEPT ({', '.join(map(_ident, drop))})" if drop else "*"]
    out += [f"{e} AS {_ident(n)}" for n, e in exprs.items() if n not in have]
    return df.selectExpr(*out)


def free_col(df: DataFrame, base: str) -> str:
    """A column name not present in ``df``, for internal temp columns.

    Passthrough operators (take a caller DataFrame, add a scratch
    column, drop it before returning) must not hard-code the scratch
    name: ``withColumn("_toks", ...)`` on a caller that already carries
    ``_toks`` silently REPLACES the caller's column and the trailing
    ``drop`` then deletes it from the output — data vanishes without
    an error. Underscore-suffix until free; deterministic, so plans
    stay stable for a given input schema.
    """
    name = base
    while name in df.columns:
        name += "_"
    return name
