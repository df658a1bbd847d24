"""The local oracle gate must be able to fail on a type leak."""

from __future__ import annotations

import pandas as pd

from tools.check_oracle import compare


def test_compare_fails_integer_against_float_column():
    """A BIGINT oracle column against a DOUBLE Spark column fails even
    though the values are equal after rounding both to float: their
    exact value hashes never match."""
    spark_df = pd.DataFrame({"k": ["a", "b"], "cnt": [1.0, 2.0]})
    duck_df = pd.DataFrame({"k": ["a", "b"], "cnt": [1, 2]})
    assert not compare(
        "planted", spark_df, duck_df,
        {"k": "string", "cnt": "double"}, {"k": "VARCHAR", "cnt": "BIGINT"},
    )
    assert compare(
        "same", duck_df, duck_df,
        {"k": "string", "cnt": "bigint"}, {"k": "VARCHAR", "cnt": "BIGINT"},
    )
