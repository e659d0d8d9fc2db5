"""Automated plan audit over the whole query battery: no operator may
put a Window over an Exchange SinglePartition — the single-task global
window that serializes an entire dataset through one core (the round-1
offender pattern; every frame/rank/prefix-sum op now uses the
partition-offset primitives in cli_spark.order). A global agg's final
SinglePartition exchange is fine (partial aggregation has already
reduced the data); a WINDOW over one is never fine at scale."""

from __future__ import annotations

import gc

import pytest

from cli_spark import queries as Q
from tests.conftest import SF_ORACLE

# import side-effect registries
import cli_spark.queries  # noqa: F401


def _single_task_windows(plan: str) -> list[str]:
    """Window nodes whose immediate child is Exchange SinglePartition."""
    lines = plan.splitlines()
    hits = []
    for i, line in enumerate(lines):
        if "Window" in line and i + 1 < len(lines):
            if "SinglePartition" in lines[i + 1]:
                hits.append(line.strip()[:100])
    return hits


@pytest.mark.parametrize("name", sorted(Q.REGISTRY))
def test_no_single_task_windows(spark, name):
    df = Q.REGISTRY[name].fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    offenders = _single_task_windows(plan)
    assert not offenders, f"{name}: single-task window(s): {offenders}"


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_link_plan_reads_checkpointed_signatures(spark):
    """The pipeline's link stage unions the near-dup links with the
    cross-language links and drops the inner handle; the signature
    kernel (a MapInArrow node) must sit behind a checkpoint so none of
    the banding, scoring and decode joins re-runs it."""
    from cli_spark.corpus import generate_repos
    from cli_spark.extract import extract_triples
    from cli_spark.linking import (
        link_modules_cross_lang,
        link_near_dup_files,
        minhash_signatures,
    )

    repos = generate_repos(spark, 30)
    assert "MapInArrow" in _executed_plan(minhash_signatures(repos))
    triples = extract_triples(repos).localCheckpoint()
    near_dup = link_near_dup_files(repos)
    same_as = near_dup.unionByName(link_modules_cross_lang(triples))
    del near_dup
    gc.collect()
    assert "MapInArrow" not in _executed_plan(same_as)
    assert same_as.count() > 0


def test_encoder_output_reads_checkpointed_frames(spark):
    """The fused encoder's per-segment pass (FlatMapGroupsInPandas) sits
    behind a checkpoint; readers of its frames re-run only the
    options-row patch."""
    from cli_spark import jelly as J

    triples = spark.createDataFrame(
        [(f"kg:s{i}", "kg:p", f"kg:o{i % 7}", 0) for i in range(50)],
        "subj string, pred string, obj string, obj_kind int",
    )
    frames = J.encode_triples(spark, triples, rows_per_frame=16)
    gc.collect()
    assert "FlatMapGroupsInPandas" not in _executed_plan(frames)
    assert frames.count() > 0
