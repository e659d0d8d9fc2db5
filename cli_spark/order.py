"""Global order at scale: deterministic row numbering (SURVEY.md §4
custom machinery #3) and driver-bound ordered results.

``row_number() OVER (ORDER BY ...)`` collapses to a single task — fine
for oracle-sized data, fatal at 100 TB. This helper computes the same
deterministic rank with the partition-offset technique:

    repartitionByRange(keys) → sortWithinPartitions(keys)
    → per-partition counts → cumulative offsets (driver-side, tiny)
    → rn = offset[pid] + local_index + 1

Determinism: rn(key) = |{k : k < key}| + 1 depends only on the total
order of the (unique) keys, not on where range boundaries land, so the
result is stable even though RangePartitioner samples boundaries.

A result bound for the driver anyway (a ``.jelly`` file, a report) is
collected unordered and sorted there (:func:`collect_sorted`):
``orderBy(...).collect()`` makes Spark run the plan below the sort, back
to its last shuffle, twice: once to sample the range bounds and once to
sort, Python UDF passes included.
"""

from __future__ import annotations

from operator import itemgetter

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def _offset(offsets: dict[int, int]):
    """Per-partition offset column ``offsets[_pid]``. An empty input has
    no offsets, and ``create_map()`` with no pairs cannot be indexed by
    ``_pid``, so it gets a constant that no row reads."""
    if not offsets:
        return F.lit(0)
    return F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])[
        F.col("_pid")
    ]


def collect_sorted(df: DataFrame, keys: list[str]) -> list[Row]:
    """``df``'s rows on the driver, ascending by ``keys`` (which must be
    non-null and unique per row), in one pass over ``df``'s plan."""
    return sorted(df.collect(), key=itemgetter(*keys))


def global_row_number(
    df: DataFrame, keys: list[str], rn_col: str = "rn", num_partitions: int | None = None
) -> DataFrame:
    """Adds a deterministic 1-based global rank column ordered by `keys`
    (which must be unique per row). Two narrow passes, no global sort."""
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    parted = df.repartitionByRange(n, *[F.col(k) for k in keys]).sortWithinPartitions(
        *[F.col(k) for k in keys]
    )
    with_pid = parted.withColumn("_pid", F.spark_partition_id())
    # local index within partition (window partitioned by pid — parallel)
    wloc = W.partitionBy("_pid").orderBy(*[F.col(k) for k in keys])
    # persist: the counts job and the final plan must see the SAME pid
    # assignment (RangePartitioner samples boundaries per job otherwise)
    local = with_pid.withColumn("_lidx", F.row_number().over(wloc)).persist()
    counts = {
        r["_pid"]: r["cnt"]
        for r in local.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    # NOTE: `local` must stay persisted for the life of the returned
    # plan — NOT auto-released on GC. The offsets collected above are
    # baked into the plan; repartitionByRange + spark_partition_id
    # re-sample boundaries on recompute, so an unpersist-then-recompute
    # silently pairs new pids with stale offsets (wrong ranks).
    return (
        local.withColumn(rn_col, _offset(offsets) + F.col("_lidx"))
        .drop("_pid", "_lidx")
    )
