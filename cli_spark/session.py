"""SparkSession factory tuned for the KG-construction workload.

Local-mode testing runs one JVM with N executor threads; the configs
below are the ones that transfer to a real multi-executor cluster:
AQE (runtime re-planning + skew-join splitting), Arrow for every
pandas UDF exchange, shuffle partitions sized to parallelism instead
of the 200 default, and UTC timestamps so results compare bit-for-bit
against the DuckDB oracle.

Caching rule: an intermediate that is read more than once is
materialized eagerly with ``localCheckpoint()`` where it is built, and
any driver-side aggregate over it rides that same job as an
``observe()`` metric. Every later reader, including the lazy plans a
function returns, reads the checkpointed blocks instead of re-running
the intermediate's plan; Spark's ContextCleaner frees the blocks once
the last plan derived from them is garbage-collected on the JVM, so no
``persist()`` needs a matching ``unpersist()`` in Python. A plain
``persist()`` stays only where every reader runs before the function
returns and an explicit ``unpersist()`` follows them.

DataFrame call-site capture is off
(``spark.python.sql.dataFrameDebugging.enabled=false``). PySpark 4.1
otherwise wraps every Column and DataFrame call in ``_with_origin``,
which walks the Python stack and spends about five py4j round trips
setting and clearing the call site on the JVM, only so that a runtime
SQL error can name the Python file:line that built the failing
expression. With pyspark 4.1.2, one cold iteration of perfbench's
``jelly_codec`` workload (to-jelly, transcode, inspect, from-jelly and
validate on 10k quads) made about 21,500 py4j calls with capture on and
about 9,500 with it off. A runtime SQL error
keeps its class and message; its ``== DataFrame ==`` context names a JVM
frame instead of the Python file:line.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "cli_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-ready defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox;
    on a real cluster the same code path is driven by ``spark-submit``
    (master comes from the submit command, not from here).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "16")  # host saturates ~16 runners (BENCH.md)
    # Under spark-submit the gateway JVM already carries --master (and
    # executor sizing); forcing local[] here would silently override it.
    under_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    if master is None and not under_submit:
        master = f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    )
    if master is not None:
        builder = builder.master(master)
    builder = (
        builder
        # AQE: coalesce small shuffle partitions, split skewed ones at
        # runtime — the skew story for mega-repo keys (SURVEY.md §2.3 J4).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every pandas-UDF exchange (mention extraction,
        # jelly frame codec); no per-row Python anywhere.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Deterministic oracle comparison: DuckDB timestamps are UTC-naive.
        .config("spark.sql.session.timeZone", "UTC")
        # no Python call-site capture around each Column/DataFrame call
        # (see the module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    )
    # Shuffle/spill dir: this sandbox's root disk is a throughput-limited
    # virtio device that serializes shuffle-heavy stages (measured 2x on
    # the extraction stage at 16 threads); prefer the RAM-backed tmpfs,
    # the local-mode stand-in for the per-node NVMe a real cluster has.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def warmup_python_workers(spark: SparkSession, partitions: int | None = None) -> None:
    """Spawn + warm the per-core Python UDF workers (numpy/pandas import,
    Arrow codepaths) with a trivial vectorized UDF job.

    On a long-lived cluster the daemon workers are reused across jobs, so
    the ~0.4 s/core spawn cost amortizes to nothing; in a cold local
    benchmark it would otherwise land inside the first measured stage.
    The analog of the reference's JVM-warmup note (README.md:138-142:
    JIT JAR beats AOT binary on bulk jobs — warm engines win).
    """
    import pandas as pd
    from pyspark.sql import functions as F

    # no type hints: `from __future__ import annotations` stringifies
    # them, which pandas_udf's signature inference rejects
    @F.pandas_udf("long")
    def _noop(v):
        import numpy as np  # exercised so executors pre-import it

        return pd.Series(np.asarray(v, dtype=np.int64))

    n = partitions or spark.sparkContext.defaultParallelism
    spark.range(n * 4, numPartitions=n).select(_noop("id")).write.format(
        "noop"
    ).mode("overwrite").save()

    def _arrow_noop(batches):
        import numpy as np  # noqa: F401
        import pyarrow  # noqa: F401

        yield from batches

    # mapInArrow runs under a different eval type than pandas_udf; warm
    # that worker path too (the minhash kernel uses it).
    spark.range(n * 4, numPartitions=n).mapInArrow(_arrow_noop, "id long").write.format(
        "noop"
    ).mode("overwrite").save()

