"""Similarity search over an embedding column (array<float>).

- :func:`cosine_topk`   brute-force top-k — the exact baseline. Dot
  products are computed JVM-side with ``F.aggregate``/``zip_with`` in a
  fixed left-to-right fold (deterministic doubles, oracle-comparable).
- :func:`ivf_topk`      real IVF: deterministic seeded centroids
  (optionally refined with Lloyd rounds), corpus assigned to its argmax-
  cosine cell, queries probe their ``n_probe`` nearest cells, exact
  re-rank inside the probed cells. The corpus-scan-free ANN scale path:
  per-query work is the probed cells' population, not the corpus.

Scale notes: brute force is a broadcast of the (small) query set against
a full scan — one pass, no shuffle. IVF build is one broadcast argmax
pass over the corpus (the centroid table is tiny); the probe join
shuffles on cell_id only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

__all__ = [
    "cosine_topk",
    "ivf_topk",
    "with_norm",
    "arrow_cosine",
    "seeded_centroids",
    "lloyd_round",
    "assign_cells",
]


def _dot(a, b):
    """Fixed-order left-to-right double fold — bit-identical to DuckDB's
    list_cosine_similarity numerator (oracle-parity path)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return df.withColumn("_norm", F.sqrt(_dot(F.col(vec_col), F.col(vec_col))))


def _clamped_cosine(a, b, anorm, bnorm):
    """Cosine clamped to [-1, 1] like DuckDB's list_cosine_similarity —
    self-pairs can exceed 1 by an ulp."""
    raw = _dot(a, b) / (anorm * bnorm)
    return F.least(F.lit(1.0), F.greatest(F.lit(-1.0), raw))


def _ddl_of(df: DataFrame) -> str:
    return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)


def _flat_matrix(list_array):
    """ListArray → (n, dim) float64 ndarray, slice-safe: uses the FULL
    offsets array (offsets[0]..offsets[-1] bound the values buffer), so
    sliced batches cannot bleed into neighboring rows."""
    import numpy as np

    offsets = list_array.offsets.to_numpy(zero_copy_only=False)
    flat = list_array.values.to_numpy(zero_copy_only=False)
    n = len(list_array)
    widths = offsets[1:] - offsets[:-1]
    if n and not (widths == widths[0]).all():
        raise ValueError("embedding column has ragged row lengths")
    return flat[offsets[0] : offsets[-1]].reshape(n, -1).astype(np.float64)


def arrow_cosine(
    df: DataFrame, a_col: str, b_col: str, out_col: str = "cosine"
) -> DataFrame:
    """Append cosine(a, b) computed row-wise in a vectorized Arrow kernel
    (engine path; the oracle-parity path is the fixed-order HOF fold)."""
    out_schema = _ddl_of(df) + f", {out_col} double"
    a_idx = df.columns.index(a_col)
    b_idx = df.columns.index(b_col)

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            A = _flat_matrix(batch.column(a_idx))
            B = _flat_matrix(batch.column(b_idx))
            num = (A * B).sum(axis=1)
            den = np.sqrt((A * A).sum(axis=1)) * np.sqrt((B * B).sum(axis=1))
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(den > 0, num / den, 0.0)
            arrays = [batch.column(i) for i in range(batch.num_columns)]
            arrays.append(pa.array(cos, type=pa.float64()))
            yield pa.RecordBatch.from_arrays(
                arrays, names=list(batch.schema.names) + [out_col]
            )

    return df.mapInArrow(kernel, out_schema)


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, cosine, rnk) — exact brute force.

    The query side is broadcast; the corpus is scanned once. Ranking
    ties break on neighbor id (deterministic)."""
    q = with_norm(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
        .withColumnRenamed("_norm", "qnorm"),
        "qv",
    ).withColumnRenamed("_norm", "qnorm")
    c = with_norm(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")),
        "cv",
    ).withColumnRenamed("_norm", "cnorm")
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", _dot(F.col("qv"), F.col("cv")) / (F.col("qnorm") * F.col("cnorm")))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


# ---------------------------------------------------------------------------
# IVF: seeded centroids (+ optional Lloyd refinement) → cell assignment
# → probe → in-cell exact re-rank
# ---------------------------------------------------------------------------


def seeded_centroids(
    corpus: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    oracle_parity: bool = False,
) -> DataFrame:
    """Deterministic centroid init: the n_cells corpus vectors with the
    smallest hash(id) — a seeded uniform sample with zero driver
    state, computed as a scalable TakeOrdered (no global window).
    ``oracle_parity=True`` orders by md5 (reproducible in DuckDB SQL);
    the default xxhash64 is the cheaper engine path."""
    key = (
        F.md5(F.col("cell_id").cast("string"))
        if oracle_parity
        else F.xxhash64(F.col("cell_id").cast("string"))
    )
    return (
        corpus.select(
            F.col(id_col).alias("cell_id"), F.col(vec_col).alias("cv")
        )
        .orderBy(key, F.col("cell_id"))
        .limit(n_cells)
    )


def assign_cells(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact_fold: bool = True,
) -> DataFrame:
    """(id, cell_id): every vector → its argmax-cosine centroid.
    Broadcast cross-score + ranking-window argmax; cosines are clamped
    to [-1, 1] so a self-pair's 1+ulp cannot flip the tie-break."""
    e = with_norm(
        corpus.select(F.col(id_col), F.col(vec_col).alias("ev")), "ev"
    ).withColumnRenamed("_norm", "enorm")
    c = with_norm(centroids, "cv").withColumnRenamed("_norm", "cnorm")
    joined = e.crossJoin(F.broadcast(c))
    if exact_fold:
        scored = joined.withColumn(
            "cell_cos", _clamped_cosine(F.col("ev"), F.col("cv"), F.col("enorm"), F.col("cnorm"))
        )
    else:
        scored = arrow_cosine(joined, "ev", "cv", "cell_cos").withColumn(
            "cell_cos", F.least(F.lit(1.0), F.greatest(F.lit(-1.0), F.col("cell_cos")))
        )
    w = W.partitionBy(id_col).orderBy(F.desc("cell_cos"), "cell_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(id_col, "cell_id", "cell_cos")
    )


def lloyd_round(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One k-means update: new centroid = element-wise mean of the
    vectors assigned to the cell (posexplode → avg → reassemble in
    position order). Engine path only — float mean order is not
    oracle-deterministic."""
    cells = assign_cells(corpus, centroids, id_col, vec_col, exact_fold=False)
    return (
        corpus.join(cells.select(id_col, "cell_id"), id_col)
        .select("cell_id", F.posexplode(F.col(vec_col)).alias("pos", "v"))
        .groupBy("cell_id", "pos")
        .agg(F.avg("v").alias("m"))
        .groupBy("cell_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("cv")
        )
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    lloyd_rounds: int = 0,
    exact_fold: bool = False,
) -> DataFrame:
    """Real IVF probing: corpus vectors live in their argmax-cosine cell;
    a query re-ranks only inside its ``n_probe`` nearest cells. Pass
    ``centroids`` (cell_id, cv) for a fixed deterministic centroid set
    (the oracle-parity configuration, `exact_fold=True`), or let
    ``seeded_centroids`` + ``lloyd_rounds`` build one."""
    if centroids is None:
        centroids = seeded_centroids(corpus, n_cells, id_col, vec_col)
        for _ in range(lloyd_rounds):
            centroids = lloyd_round(corpus, centroids, id_col, vec_col)
    # read by the cell assignment and by the query probe
    centroids = centroids.localCheckpoint()
    cells = assign_cells(corpus, centroids, id_col, vec_col, exact_fold=exact_fold)
    # queries probe their n_probe nearest centroids
    qe = with_norm(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")),
        "qv",
    ).withColumnRenamed("_norm", "qnorm")
    c = with_norm(centroids, "cv").withColumnRenamed("_norm", "cnorm")
    pj = qe.crossJoin(F.broadcast(c))
    if exact_fold:
        pscored = pj.withColumn(
            "pcos", _clamped_cosine(F.col("qv"), F.col("cv"), F.col("qnorm"), F.col("cnorm"))
        )
    else:
        pscored = arrow_cosine(pj, "qv", "cv", "pcos")
    wp = W.partitionBy("query_id").orderBy(F.desc("pcos"), "cell_id")
    probes = (
        pscored.withColumn("prnk", F.row_number().over(wp))
        .filter(F.col("prnk") <= n_probe)
        .select("query_id", "qv", "qnorm", "cell_id")
    )
    # candidates: probed cells' population (not the corpus)
    cv = with_norm(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv")),
        "nv",
    ).withColumnRenamed("_norm", "nnorm")
    cand = (
        probes.join(cells.select(F.col(id_col).alias("neighbor_id"), "cell_id"), "cell_id")
        .join(cv, "neighbor_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    if exact_fold:
        scored = cand.withColumn(
            "cosine", _dot(F.col("qv"), F.col("nv")) / (F.col("qnorm") * F.col("nnorm"))
        )
    else:
        scored = arrow_cosine(cand, "qv", "nv")
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        scored.dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )
