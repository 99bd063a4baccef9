"""Pins for the r11 HOF-lambda evaluation fixes.

The rewrites (word_ngrams zip_with fold, hof_let window binding) must
stay EXACTLY output-equivalent to their straightforward
transform(sequence, ...) forms — the touched queries' outputs rest on
that equivalence. These tests pin it on constructed edge cases so a
future refactor can't drift the semantics while chasing the same
performance class.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


EDGE = [
    (1, []),
    (2, ["a"]),
    (3, ["a", "b"]),
    (4, ["a", "b", "c"]),
    (5, ["a", "b", "c", "d", "e"]),
    (6, ["x", "x", "x", "x"]),  # duplicates: array_distinct must dedupe
    (7, ["", "a", ""]),  # empty tokens survive as elements
]


def _edge_df(spark):
    return spark.createDataFrame(EDGE, "doc_id long, t array<string>")


def _reference_ngrams(tokens: list[str], n: int) -> list[str]:
    grams = [" ".join(tokens[i : i + n]) for i in range(len(tokens) - n + 1)]
    seen, out = set(), []
    for g in grams:
        if g not in seen:
            seen.add(g)
            out.append(g)
    return out


@pytest.mark.parametrize("n", [1, 2, 3, 4])
def test_word_ngrams_matches_reference(spark, n):
    from dungbeetle_spark.operators.mixing import word_ngrams

    got = {
        r.doc_id: r.g
        for r in _edge_df(spark).select("doc_id", word_ngrams("t", n).alias("g")).collect()
    }
    for doc_id, toks in EDGE:
        assert got[doc_id] == _reference_ngrams(toks, n), (doc_id, n)


def test_hof_let_is_identity_on_value(spark):
    """hof_let(arr, body) must equal body(arr) value-for-value — it
    only changes how often arr's expression tree evaluates."""
    from dungbeetle_spark.functions.arrays import hof_let

    df = _edge_df(spark)
    direct = df.select(
        "doc_id",
        F.transform(F.col("t"), lambda x: F.concat(x, F.lit("!"))).alias("v"),
    )
    let = df.select(
        "doc_id",
        hof_let(
            F.col("t"),
            lambda t: F.transform(t, lambda x: F.concat(x, F.lit("!"))),
        ).alias("v"),
    )
    assert sorted(map(tuple, direct.collect())) == sorted(map(tuple, let.collect()))


def test_hof_let_binds_strings_too(spark):
    from dungbeetle_spark.functions.arrays import hof_let

    df = spark.createDataFrame(
        [(1, "abcd"), (2, "x"), (3, "")], "doc_id long, s string"
    )
    wins = hof_let(
        F.col("s"),
        lambda s: F.when(
            F.length(s) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.length(s) - 1),
                lambda i: F.substring(s, i, F.lit(2)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    got = {r.doc_id: r.w for r in df.select("doc_id", wins.alias("w")).collect()}
    assert got == {1: ["ab", "bc", "cd"], 2: [], 3: []}
