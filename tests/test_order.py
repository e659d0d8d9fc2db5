"""Distributed global ranks (`cli_spark.order`)."""

from __future__ import annotations

from cli_spark.order import global_row_number


def test_global_rank(spark):
    df = spark.createDataFrame([(k, k * 10) for k in (5, 1, 3)], "k int, v int")
    ranked = global_row_number(df, ["k"])
    assert sorted((r.k, r.rn) for r in ranked.collect()) == [(1, 1), (3, 2), (5, 3)]


def test_global_rank_on_empty_input(spark):
    df = spark.createDataFrame([], "k int, v int")
    assert global_row_number(df, ["k"]).collect() == []
