"""Corpus generator invariants (FIXTURES.md §1): determinism, shape,
skew, lineage sha, clone planting."""

from __future__ import annotations

from pyspark.sql import functions as F

from cli_spark.corpus import expected_triples, generate_repos

N = 60


def test_schema_matches_input_hint(spark):
    df = generate_repos(spark, N)
    assert [f.name for f in df.schema.fields] == [
        "repo",
        "path",
        "commit",
        "lang",
        "content",
        "content_sha",
    ]
    assert all(f.dataType.simpleString() == "string" for f in df.schema.fields)


def test_deterministic(spark):
    a = generate_repos(spark, N)
    b = generate_repos(spark, N)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_lineage_sha(spark):
    df = generate_repos(spark, N)
    bad = df.filter(F.sha2(F.col("content"), 256) != F.col("content_sha")).count()
    assert bad == 0


def test_mega_repo_skew(spark):
    df = generate_repos(spark, 500)
    total = df.count()
    mega = df.filter(F.col("repo") == "org0/mega").count()
    assert 0.2 < mega / total < 0.4  # ~30% of files in one repo


def test_clones_planted(spark):
    df = generate_repos(spark, N)
    # clone content differs from its source (near-dup, not exact-dup)
    assert df.groupBy("content").count().filter("count > 1").count() == 0


def test_expected_triples_closed_form(spark):
    t = expected_triples(spark, N)
    assert t.filter(F.col("pred").isNull() | F.col("obj").isNull()).count() == 0
    preds = {r[0] for r in t.select("pred").distinct().collect()}
    assert preds == {
        "kg:hasFile",
        "kg:atCommit",
        "kg:inLang",
        "kg:providesModule",
        "kg:defines",
        "kg:uses",
        "kg:imports",
    }
