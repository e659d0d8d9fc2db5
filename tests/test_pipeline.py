"""End-to-end pipeline: stage manifests, mid-stage resume, lineage
invariant, bucketed materialization (SURVEY.md §7 M6)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from cli_spark import manifest as M
from cli_spark.corpus import generate_repos
from cli_spark.pipeline import lineage_violations, run_kg_pipeline

N = 60


@pytest.fixture(scope="module")
def repos(spark):
    return generate_repos(spark, N).cache()


def test_pipeline_in_memory(spark, repos):
    n = run_kg_pipeline(spark, repos)
    assert n > 0


def test_pipeline_with_workdir_and_resume(spark, repos, tmp_path):
    wd = str(tmp_path / "kg")
    n1 = run_kg_pipeline(spark, repos, workdir=wd)
    # manifests present and self-consistent
    for stage in ("10_extract", "20_link", "30_canonicalize"):
        assert M.is_complete(wd, stage)
        meta = M.read_manifest(wd, stage)
        assert meta["row_count"] == sum(p["rows"] for p in meta["partitions"])
        assert meta["row_count"] > 0
    # materialized output is bucket-partitioned
    buckets = os.listdir(f"{wd}/40_materialize/data")
    assert any(b.startswith("bucket=") for b in buckets)
    # resume: poison the extract stage data — if resume re-reads instead of
    # recomputing, the run still succeeds and returns the same count
    n2 = run_kg_pipeline(spark, repos, workdir=wd)
    assert n2 == n1


def test_resume_skips_complete_stage(spark, tmp_path):
    wd = str(tmp_path / "skip")
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return spark.range(5).select(F.col("id").alias("x"))

    df1 = M.run_stage(spark, wd, "10_extract", compute)
    assert calls["n"] == 1 and df1.count() == 5
    df2 = M.run_stage(spark, wd, "10_extract", compute)
    assert calls["n"] == 1  # not recomputed
    assert df2.count() == 5


def test_stage_jobs_run_under_stage_job_group(spark, tmp_path):
    """Each stage's jobs carry the stage name as their job group, and the
    caller's own group is back in place after the run."""
    sc = spark.sparkContext
    props = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    stages = ("10_extract", "20_link", "30_canonicalize")
    before = {s: set(sc.statusTracker().getJobIdsForGroup(s)) for s in stages}
    sc.setJobGroup("caller", "caller's jobs")
    try:
        run_kg_pipeline(spark, generate_repos(spark, 20), workdir=str(tmp_path / "kg"))
        for s in stages:
            assert set(sc.statusTracker().getJobIdsForGroup(s)) - before[s], s
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
        assert sc.getLocalProperty("spark.job.description") == "caller's jobs"
    finally:
        for k in props:
            sc.setLocalProperty(k, None)


def test_lineage_violation_detected(spark, repos):
    from cli_spark.extract import extract_triples

    triples = extract_triples(repos)
    assert lineage_violations(repos, triples) == 0
    tampered = repos.withColumn(
        "content", F.concat(F.col("content"), F.lit("TAMPER"))
    )
    assert lineage_violations(tampered, triples) > 0


def test_pipeline_raises_on_lineage_violation(spark, repos):
    """One source row whose content_sha no longer matches its content:
    the pipeline stops with a typed error naming the violation count
    (an explicit raise, which ``python -O`` keeps)."""
    first = repos.select("repo", "path", "commit").orderBy("repo", "path").first()
    hit = (
        (F.col("repo") == first.repo)
        & (F.col("path") == first.path)
        & (F.col("commit") == first.commit)
    )
    tampered = repos.withColumn(
        "content_sha", F.when(hit, F.lit("0" * 64)).otherwise(F.col("content_sha"))
    )
    with pytest.raises(ValueError, match=r"lineage invariant violated: 1 provenance rows"):
        run_kg_pipeline(spark, tampered)


def test_materialize_iceberg_flag(spark, repos, tmp_path):
    """SPARK_GRAFT_ICEBERG=1 routes to writeTo(...).partitionedBy(
    bucket(N, subj)).createOrReplace() — exercised for real where the
    jars exist; here the catalog-missing error proves the Iceberg code
    path (not the parquet stand-in) ran."""
    import pytest

    from cli_spark.extract import extract_triples
    from cli_spark.pipeline import materialize_triples

    triples = extract_triples(repos).limit(10)
    try:
        materialize_triples(
            triples, str(tmp_path / "t"), iceberg_table="ice.db.triples"
        )
    except Exception as e:  # no Iceberg catalog in this image
        msg = str(e)
        assert "ice" in msg or "CATALOG" in msg.upper() or "TABLE" in msg.upper(), msg
    else:  # jars + catalog present: verify the table exists
        assert spark.table("ice.db.triples").count() == 10

    # flag set but no catalog identifier: typed error, never a path-as-
    # table parse failure deep inside the writer
    import os

    os.environ["SPARK_GRAFT_ICEBERG"] = "1"
    try:
        with pytest.raises(ValueError, match="catalog identifier"):
            materialize_triples(triples, str(tmp_path / "t2"))
    finally:
        del os.environ["SPARK_GRAFT_ICEBERG"]
