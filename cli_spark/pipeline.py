"""The five-stage KG-construction pipeline (SURVEY.md §7):

    extract → link → canonicalize → materialize → validate

Each stage is a pure DataFrame job; with a ``workdir`` every stage
checkpoints its output + manifest and the pipeline resumes mid-stage
(skip-complete semantics, :mod:`cli_spark.manifest`). Without a
workdir it runs fully pipelined in memory (bench path).

Cluster notes: stage boundaries are also the shuffle boundaries —
extraction shuffles once (dedup), linking twice (signature agg +
banding join), canonicalization twice per contraction round on the
(small) sameAs edge set, usually one round,
materialization is a bucketed write clustered by subject.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _bucket_expr(n: int, col: str):
    """bucket(n, col) partition transform — from the non-deprecated
    module when available (pyspark>=4: functions.partitioning)."""
    try:
        from pyspark.sql.functions import partitioning

        return partitioning.bucket(n, F.col(col))
    except ImportError:
        return F.bucket(n, F.col(col))

from .canonicalize import canonical_map, rewrite_triples
from .extract import extract_triples
from .linking import link_modules_cross_lang, link_near_dup_files
from .manifest import run_stage, run_stage_chunked

N_BUCKETS = 64


def lineage_violations(repos: DataFrame, triples: DataFrame) -> int:
    """Per-row sha256(content) equality vs the source table (J5 — the
    BASELINE.json input_hint invariant). Returns # of provenance rows in
    the triple output whose source content hash changed / vanished."""
    src = repos.select(
        "repo", "path", "commit", F.sha2(F.col("content"), 256).alias("sha_now"), "content_sha"
    )
    prov = triples.select(
        F.col("src_repo").alias("repo"),
        F.col("src_path").alias("path"),
        F.col("src_commit").alias("commit"),
    ).distinct()
    joined = prov.join(src, ["repo", "path", "commit"], "left")
    return joined.filter(
        F.col("sha_now").isNull() | (F.col("sha_now") != F.col("content_sha"))
    ).count()


def materialize_triples(
    triples: DataFrame,
    out_path: str,
    n_buckets: int = N_BUCKETS,
    iceberg_table: str | None = None,
):
    """Partitioned triple-table write (S17): bucket by subject hash,
    cluster within partitions by (subj, pred).

    When ``SPARK_GRAFT_ICEBERG=1`` (or ``iceberg_table`` is passed) the
    REAL Iceberg path runs: ``writeTo(table).partitionedBy(bucket(N,
    subj))`` against the session's configured catalog — this is what a
    production cluster executes. Without the flag (this image carries no
    Iceberg jars) the same layout is expressed as a parquet partition
    column; the physical clustering (subject-hash buckets, (subj, pred)
    sort within partitions) is identical, so downstream bucketed joins
    see the same co-location either way."""
    import os

    use_iceberg = iceberg_table is not None or os.environ.get(
        "SPARK_GRAFT_ICEBERG"
    ) == "1"
    if use_iceberg:
        if iceberg_table is None:
            raise ValueError(
                "SPARK_GRAFT_ICEBERG=1 requires iceberg_table="
                "<catalog.db.table>: a filesystem out_path is not a "
                "catalog identifier"
            )
        # Order of operations matters: Iceberg's v2 write re-distributes
        # rows by the partition spec AFTER any sortWithinPartitions we do
        # here, so pre-sorting is wasted work. Instead stamp the table
        # (schema + bucket spec + hash distribution), declare the sort
        # order on the table, and let the append apply both — this is
        # the clustering contract every later append inherits too.
        spark = triples.sparkSession
        (
            triples.limit(0)
            .writeTo(iceberg_table)
            .partitionedBy(_bucket_expr(n_buckets, "subj"))
            .tableProperty("write.distribution-mode", "hash")
            .createOrReplace()
        )
        spark.sql(
            f"ALTER TABLE {iceberg_table} WRITE ORDERED BY subj, pred"
        )
        triples.writeTo(iceberg_table).append()
        return
    (
        triples.withColumn("bucket", F.pmod(F.xxhash64("subj"), F.lit(n_buckets)))
        .repartition(n_buckets, "bucket")
        .sortWithinPartitions("subj", "pred", "obj")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(out_path)
    )


def run_kg_pipeline(
    spark: SparkSession,
    repos: DataFrame,
    workdir: str | None = None,
    link_threshold: float = 0.7,
    check_input: bool = False,
    extract_chunks: int = 1,
) -> int:
    """extract → link → canonicalize; returns total triples produced
    (canonical triples + sameAs edges), the north-rule throughput unit.

    ``check_input`` verifies the documented input contract — one row per
    (repo, path, commit) — which extraction's row-local dedup relies on
    (duplicate source rows would emit duplicate triples). One cheap
    aggregate job; off by default in the bench hot path, on in the CLI.

    ``extract_chunks > 1`` (with a workdir) runs the extraction stage —
    the long leg on a real corpus — through
    :func:`manifest.run_stage_chunked`: the input is hash-split into
    that many chunks, each committed with its own manifest, so a killed
    run resumes MID-STAGE at the first incomplete chunk instead of
    re-extracting everything."""
    # The source table feeds extract, both linkers, and the lineage
    # check — persist it once (the cluster analog is the Iceberg scan's
    # data locality; recomputing a synthetic generator 3× is pure waste).
    # Every handle persisted here is released in the finally: the
    # function returns a plain count, so nothing lazy escapes, and a
    # long-lived session calling this in a loop must not accumulate
    # executor storage.
    repos = repos.persist()
    _cached: list[DataFrame] = [repos]
    try:
        return _run_kg_pipeline_body(
            spark, repos, workdir, link_threshold, check_input,
            extract_chunks, _cached,
        )
    finally:
        for df in _cached:
            try:
                df.unpersist()
            except Exception:
                pass


def _run_kg_pipeline_body(
    spark: SparkSession,
    repos: DataFrame,
    workdir: str | None,
    link_threshold: float,
    check_input: bool,
    extract_chunks: int,
    _cached: list[DataFrame],
) -> int:
    if check_input:
        dup = (
            repos.groupBy("repo", "path", "commit")
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise ValueError(
                "input contract violated: duplicate (repo, path, commit) "
                "rows in the source table — deduplicate upstream or "
                "extraction will emit duplicate triples"
            )
    if extract_chunks > 1 and workdir is not None:
        triples = run_stage_chunked(
            spark,
            workdir,
            "10_extract",
            repos,
            extract_triples,
            n_chunks=extract_chunks,
            chunk_cols=["repo", "path", "commit"],
            lineage_cols=["subj", "pred", "obj"],
        )
    else:
        triples = run_stage(
            spark,
            workdir,
            "10_extract",
            lambda: extract_triples(repos),
            lineage_cols=["subj", "pred", "obj"],
        )
    if workdir is None:
        # no parquet checkpoint to re-read — persist across the 3 uses
        triples = triples.persist()
        _cached.append(triples)

    def _link() -> DataFrame:
        near_dup = link_near_dup_files(repos, threshold=link_threshold)
        cross_lang = link_modules_cross_lang(triples)
        return near_dup.unionByName(cross_lang)

    same_as = run_stage(spark, workdir, "20_link", _link, lineage_cols=["subj", "obj"])
    if workdir is None:
        same_as = same_as.persist()
        _cached.append(same_as)

    def _canon() -> DataFrame:
        mapping = canonical_map(same_as.select("subj", "pred", "obj"))
        return rewrite_triples(triples, mapping)

    canon = run_stage(
        spark, workdir, "30_canonicalize", _canon, lineage_cols=["subj", "pred", "obj"]
    )
    if workdir is None:
        # canon feeds both the lineage check and the final count — with
        # no parquet checkpoint to re-read, persist so the canonicalize
        # joins run once
        canon = canon.persist()
        _cached.append(canon)

    bad = lineage_violations(repos, canon)
    if bad:
        raise ValueError(
            f"lineage invariant violated: {bad} provenance rows in the "
            "canonical triples map to a source row that is missing or "
            "whose content no longer hashes to its content_sha"
        )

    same_as_triples = same_as.select(
        "subj", "pred", "obj", "obj_kind",
        F.lit(None).cast("string").alias("src_repo"),
        F.lit(None).cast("string").alias("src_path"),
        F.lit(None).cast("string").alias("src_commit"),
        F.lit(None).cast("string").alias("graph"),
    )
    final = canon.unionByName(same_as_triples)
    if workdir is not None:
        materialize_triples(final, f"{workdir}/40_materialize/data")
        materialize_jelly_frames(spark, final, f"{workdir}/40_materialize/frames")
    return final.count()


def materialize_jelly_frames(
    spark: SparkSession, triples: DataFrame, out_path: str
) -> None:
    """The north star's second graph artifact: Jelly-style delimited
    stream frames alongside the triple table. The frames table
    (seg, frame_index, n_rows, frame_bytes) written as parquet IS the
    cluster-scale representation — each row a complete wire frame, so a
    single delimited .jelly file is one ordered concatenation away
    (``jelly.write_jelly_file``, the bounded single-artifact path),
    and concatenated per-segment streams are themselves legal input
    (U1 stream concatenation).

    Semantics: the frames carry the DISTINCT graph (an RDF graph is a
    set of triples; the encoder dedups after provenance columns are
    projected away). Per-row provenance stays in the triple table,
    where (triple, src) rows are genuinely distinct."""
    from .jelly import encode_quads

    quads = triples.select(
        "subj", "pred", "obj", "obj_kind",
        *(["obj_datatype"] if "obj_datatype" in triples.columns else []),
        *(["obj_lang"] if "obj_lang" in triples.columns else []),
        "graph",
    )
    frames = encode_quads(spark, quads, prefix_table=True)
    frames.write.mode("overwrite").parquet(out_path)
