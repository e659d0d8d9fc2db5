"""Extraction stage: must reproduce the closed-form golden triples
exactly (P = R = 1.0 on the synthetic corpus) and preserve the
content-sha lineage invariant (BASELINE.json input_hint)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cli_spark.corpus import expected_triples, generate_repos
from cli_spark.extract import extract_triples

N = 60
KEY = ["subj", "pred", "obj", "obj_kind"]


@pytest.fixture(scope="module")
def repos(spark):
    return generate_repos(spark, N).cache()


@pytest.fixture(scope="module")
def golden(spark):
    return expected_triples(spark, N).select(*KEY).distinct().cache()


# The "sql" id keeps the name this test had when a second extractor ran
# beside the SQL one; the SQL extractor is now the only one.
@pytest.mark.parametrize("extractor", [extract_triples], ids=["sql"])
def test_extraction_precision_recall(spark, repos, golden, extractor):
    actual = extractor(repos).select(*KEY).distinct()
    n_exp = golden.count()
    n_act = actual.count()
    n_inter = golden.join(actual, KEY).count()
    assert n_exp > 0
    precision = n_inter / n_act
    recall = n_inter / n_exp
    assert precision == 1.0 and recall == 1.0, (precision, recall)


def test_lineage_invariant_after_extraction(spark, repos):
    """Every (repo, path, commit) in the triple output must map back to a
    source row whose content sha is unchanged (J5, SURVEY.md §2.3)."""
    triples = extract_triples(repos)
    src = repos.select("repo", "path", "commit", "content_sha")
    joined = triples.select(
        F.col("src_repo").alias("repo"),
        F.col("src_path").alias("path"),
        F.col("src_commit").alias("commit"),
    ).distinct().join(src, ["repo", "path", "commit"], "left")
    assert joined.filter(F.col("content_sha").isNull()).count() == 0
