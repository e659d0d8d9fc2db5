"""Distributed global ranks (`cli_spark.order`)."""

from __future__ import annotations

from cli_spark.order import global_prefix_sum, global_row_number


def test_global_rank_and_prefix_sum(spark):
    df = spark.createDataFrame([(k, k * 10) for k in (5, 1, 3)], "k int, v int")
    ranked = global_row_number(df, ["k"])
    assert sorted((r.k, r.rn) for r in ranked.collect()) == [(1, 1), (3, 2), (5, 3)]
    summed = global_prefix_sum(df, ["k"], "v")
    assert sorted((r.k, r.cumsum) for r in summed.collect()) == [
        (1, 10), (3, 40), (5, 90)
    ]


def test_global_rank_and_prefix_sum_on_empty_input(spark):
    df = spark.createDataFrame([], "k int, v int")
    assert global_row_number(df, ["k"]).collect() == []
    assert global_prefix_sum(df, ["k"], "v").collect() == []
