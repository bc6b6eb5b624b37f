"""Edge inputs of the SQL-fragment text builders in functions/text.py."""

from __future__ import annotations

import pytest

import nyc_taxi_data_warehouse_spark.functions.text as T


@pytest.mark.parametrize("k", [2, 3])
def test_word_shingles_expr_null_and_empty_inputs(spark, k):
    """NULL stays NULL (an unguarded size()-based sequence bound gives
    [''] because greatest() skips NULLs, and two null-text docs then
    have Jaccard 1.0), [] stays [], and a doc shorter than k yields its
    one partial shingle."""
    d = spark.createDataFrame(
        [(0, None), (1, []), (2, [""]), (3, ["a"]), (4, ["a", "b", "c", "d"])],
        "i int, _tk array<string>",
    ).orderBy("i")
    full = {2: ["a b", "b c", "c d"], 3: ["a b c", "b c d"]}[k]
    got = [r["x"] for r in d.select(T.word_shingles("_tk", k).alias("x")).collect()]
    assert got == [None, [], [""], ["a"], full]


@pytest.mark.parametrize("name", ["odd`name", "a.b"])
def test_minhash_signatures_column_name_follows_fragment_rule(spark, name):
    """An operator that passes one column name both to a Column API and
    to a builder resolves it by the builders' fragment rule: a name
    with a backtick or a dot is one column, not a syntax error or a
    struct path."""
    from nyc_taxi_data_warehouse_spark.operators.dedup import minhash_signatures

    rows = [(1, "the quick brown fox jumps"), (2, None), (3, "a b c d e f")]
    plain = spark.createDataFrame(rows, "id int, text string")
    odd = plain.withColumnRenamed("text", name)

    def sigs(df, col):
        return sorted(
            tuple(r) for r in minhash_signatures(df, col, "id", 4, 2).collect()
        )

    assert sigs(odd, name) == sigs(plain, "text")
