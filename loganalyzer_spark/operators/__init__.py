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


def one_row_generate(df: DataFrame, name: str, sql: str) -> DataFrame:
    """Append ``sql AS name`` as the output of a one-row Generate.

    A barrier for the optimizer: Catalyst pushes a filter below the
    Projects that define the columns it reads and copies their
    definitions into the condition, and Spark has no cross-operator
    CSE, so a filter over a regex-derived column runs that regex again.
    Neither predicate pushdown nor CollapseProject sees through a
    Generate's output, so the expression runs once, in the Generate,
    and filters read the column.
    """
    return df.selectExpr("*", f"inline(array(named_struct({sql_str(name)}, {sql})))")


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


# The two word tokenizers of ``text``, as SQL: runs of whitespace in the
# lower-cased text (dedup, textstats) and single spaces in the raw text
# (web's n-gram features; its tokens never contain a space).
WORDS_LOWER = r"split(lower(text), '\\s+')"
WORDS_SPACE = "split(text, ' ')"


def ngrams_sql(tokens: str, n: int) -> str:
    """SQL for the word ``n``-grams of the token array column named
    ``tokens``, in order and with repeats: gram i (1-based) is tokens
    i..i+n-1 joined by one space. Fewer than ``n`` tokens give an empty
    array (``sequence(1, 0)`` would count down, not stay empty).

    ``tokens`` is a column name, not an expression: a lambda body runs
    once per element, so a tokenizer inlined into the window lambda
    would re-split the whole document once per gram (O(tokens²) per
    row). Materialize the tokens as a column first;
    ``tests/test_operators.py::test_ngram_lambdas_split_nothing`` checks
    every caller's optimized plan.
    """
    t = _ident(tokens)
    return (
        f"CASE WHEN size({t}) < {n} THEN array() "
        f"ELSE transform(sequence(1, size({t}) - {n} + 1), "
        f"i -> array_join(slice({t}, i, {n}), ' ')) END"
    )


def hash60_sql(x: str) -> str:
    """SQL for the 60-bit integer hash of the string expression ``x``:
    the first 15 hex digits of its md5, the same value in Spark and
    DuckDB (no engine-internal ``hash()``)."""
    return f"CAST(conv(substring(md5({x}), 1, 15), 16, 10) AS BIGINT)"
