"""Per-stage checkpoint manifests (SURVEY.md §2.4 A7, north rule
"resumable from checkpoint with per-partition lineage + metrics").

Each stage writes its output parquet under ``workdir/<stage>/data``,
then a ``manifest.json`` with per-partition row counts and a lineage
digest. The manifest is written LAST via write-to-temp + atomic rename
(SURVEY.md §7 hard part 5), so a present manifest ⟹ complete stage
output; resume skips any stage whose manifest exists.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _stage_dir(workdir: str, stage: str) -> str:
    return os.path.join(workdir, stage)


def manifest_path(workdir: str, stage: str) -> str:
    return os.path.join(_stage_dir(workdir, stage), "manifest.json")


def data_path(workdir: str, stage: str) -> str:
    return os.path.join(_stage_dir(workdir, stage), "data")


def stage_metrics(df: DataFrame, lineage_cols: list[str] | None = None) -> dict:
    """Per-partition row counts + an order-insensitive lineage digest
    (xor-free: sum of 60-bit md5 ints mod 2^63 over the lineage columns)."""
    cols = lineage_cols or df.columns
    # 32-bit per-row digest: summing stays < 2^63 for ≤ 2^31 rows per
    # partition (ANSI overflow-safe).
    digest = F.conv(
        F.substring(F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols])), 1, 8),
        16,
        10,
    ).cast("long")
    per_part = (
        df.withColumn("_pid", F.spark_partition_id())
        .withColumn("_digest", digest)
        .groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("rows"), F.sum("_digest").alias("digest_sum"))
        .collect()
    )
    return {
        "row_count": int(sum(r["rows"] for r in per_part)),
        "partitions": [
            {"partition": int(r["_pid"]), "rows": int(r["rows"]), "digest": int(r["digest_sum"])}
            for r in sorted(per_part, key=lambda r: r["_pid"])
        ],
    }


def is_complete(workdir: str, stage: str) -> bool:
    return os.path.exists(manifest_path(workdir, stage))


def write_stage(
    spark: SparkSession,
    workdir: str,
    stage: str,
    df: DataFrame,
    lineage_cols: list[str] | None = None,
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Materialize a stage: parquet first, manifest last (atomic rename).
    Returns the re-read DataFrame (reading back truncates lineage — the
    batch analog of a streaming checkpoint)."""
    out = data_path(workdir, stage)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(out)
    reread = spark.read.parquet(out)
    meta = {"stage": stage, **stage_metrics(reread, lineage_cols)}
    os.makedirs(_stage_dir(workdir, stage), exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=_stage_dir(workdir, stage), suffix=".tmp")
    with os.fdopen(fd, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, manifest_path(workdir, stage))  # atomic commit point
    return reread


_JOB_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


@contextlib.contextmanager
def job_group(spark: SparkSession, name: str):
    """Run the body's Spark jobs under the job group ``name``, then
    restore the caller's group (or none)."""
    sc = spark.sparkContext
    saved = [sc.getLocalProperty(k) for k in _JOB_GROUP_PROPS]
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        for key, value in zip(_JOB_GROUP_PROPS, saved):
            sc.setLocalProperty(key, value)


def _under_stage_job_group(run):
    """Run a stage runner's Spark jobs under the job group named after its
    ``stage`` argument."""

    @functools.wraps(run)
    def wrapped(spark: SparkSession, workdir, stage: str, *args, **kwargs):
        with job_group(spark, stage):
            return run(spark, workdir, stage, *args, **kwargs)

    return wrapped


@_under_stage_job_group
def run_stage(
    spark: SparkSession,
    workdir: str | None,
    stage: str,
    compute,
    lineage_cols: list[str] | None = None,
) -> DataFrame:
    """Resume-aware stage runner: with a workdir, skip recompute when the
    stage manifest exists; without one, run fully in-memory (bench path)."""
    if workdir is None:
        return compute()
    if is_complete(workdir, stage):
        return spark.read.parquet(data_path(workdir, stage))
    return write_stage(spark, workdir, stage, compute(), lineage_cols)


def read_manifest(workdir: str, stage: str) -> dict:
    with open(manifest_path(workdir, stage)) as fh:
        return json.load(fh)


# ------------------------------------------------------------- chunked stages


def _chunk_manifest_path(workdir: str, stage: str, chunk: int) -> str:
    return os.path.join(_stage_dir(workdir, stage), f"manifest_chunk_{chunk:05d}.json")


@_under_stage_job_group
def run_stage_chunked(
    spark: SparkSession,
    workdir: str | None,
    stage: str,
    source: DataFrame,
    compute,
    n_chunks: int,
    chunk_cols: list[str],
    lineage_cols: list[str] | None = None,
) -> DataFrame:
    """MID-STAGE resume (north rule): split the stage's input into
    ``n_chunks`` deterministic hash chunks over ``chunk_cols``, run
    ``compute(chunk_df)`` per chunk, write each chunk's output under
    ``data/chunk=<i>`` with its own manifest (parquet first, manifest
    last — same atomic-commit discipline as :func:`write_stage`). A
    killed run resumes at the first incomplete CHUNK, not the top of
    the stage; the stage-level manifest is written only when every
    chunk manifest exists, so downstream stage-skip semantics are
    unchanged.

    On a cluster each chunk is a full distributed job over 1/n_chunks
    of the input — chunking bounds re-lost work, it does not serialize
    execution within a chunk. The per-chunk filter re-evaluates the
    hash over the (persisted or columnar) source; at 10^12-file scale
    you would persist the chunk id as a partition column of the source
    table instead, which this layout mirrors.
    """
    def _read_all() -> DataFrame:
        # partition discovery surfaces chunk= dirs as a column; drop it
        # so the stage schema matches the unchunked layout exactly
        df = spark.read.parquet(data_path(workdir, stage))
        return df.drop("chunk") if "chunk" in df.columns else df

    if workdir is None:
        return compute(source)
    if is_complete(workdir, stage):
        return _read_all()
    os.makedirs(_stage_dir(workdir, stage), exist_ok=True)
    chunk_id = F.pmod(
        F.xxhash64(*[F.col(c) for c in chunk_cols]), F.lit(n_chunks)
    )
    chunk_metas: list[dict] = []
    for i in range(n_chunks):
        cpath = _chunk_manifest_path(workdir, stage, i)
        out_i = os.path.join(data_path(workdir, stage), f"chunk={i}")
        if os.path.exists(cpath):
            with open(cpath) as fh:
                chunk_metas.append(json.load(fh))
            continue
        df_i = compute(source.filter(chunk_id == i))
        df_i.write.mode("overwrite").parquet(out_i)
        meta_i = {
            "stage": stage,
            "chunk": i,
            **stage_metrics(spark.read.parquet(out_i), lineage_cols),
        }
        fd, tmp = tempfile.mkstemp(dir=_stage_dir(workdir, stage), suffix=".tmp")
        with os.fdopen(fd, "w") as fh:
            json.dump(meta_i, fh)
        os.replace(tmp, cpath)  # atomic per-chunk commit point
        chunk_metas.append(meta_i)
    meta = {
        "stage": stage,
        "chunked": n_chunks,
        "row_count": int(sum(m["row_count"] for m in chunk_metas)),
        "chunks": [
            {"chunk": m["chunk"], "rows": m["row_count"], "partitions": m["partitions"]}
            for m in chunk_metas
        ],
    }
    fd, tmp = tempfile.mkstemp(dir=_stage_dir(workdir, stage), suffix=".tmp")
    with os.fdopen(fd, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, manifest_path(workdir, stage))
    return _read_all()
