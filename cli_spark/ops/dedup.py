"""Span-level deduplication over a generic (id, text) corpus
(:func:`duplicate_spans`): a pure DataFrame composition (JVM hashing via
xxhash64, no Python in the hot path)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Exact substring-level dedup (the span-level pass of "Deduplicating
    Training Data Makes Language Models Better", Lee et al. 2022): find
    every word ``k``-gram that occurs in MORE THAN ONE document, merge
    the per-document hits into maximal token spans, and report
    ``(id, n_tokens, dup_spans, dup_tokens, dup_ratio)`` for every doc
    (0/0.0 for clean docs). Whole-doc dedup misses boilerplate shared
    across otherwise-distinct pages; this is the operator that catches
    it.

    Plan shape (audited): the gram build is ROW-LOCAL — split → filter →
    slice-transform over a 1..n-k+1 sequence, no window, no shuffle —
    so the only wide ops are (1) groupBy(gram-hash) with map-side
    partials (dup test is min(id) != max(id), no countDistinct
    two-phase), (2) the gram→dup-gram equi-join (the inherent
    inverted-index shuffle of span dedup; at 100 TB you bucket both
    sides by the hash), and (3) one groupBy(id) over the HIT grams only
    (rare by construction). Interval merging is a columnar
    ``F.aggregate`` over the sorted hit positions — per-doc state, no
    Python. 64-bit xxhash64 gram keys (31-bit collides at corpus scale;
    same lesson as q64's decontamination join)."""
    arr = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    base = df.select(
        F.col(id_col).alias("id"), arr.alias("arr"), F.size(arr).alias("n_tokens")
    )
    idxs = F.when(
        F.col("n_tokens") >= k, F.sequence(F.lit(1), F.col("n_tokens") - k + 1)
    ).otherwise(F.array().cast("array<int>"))
    grams = base.select(
        "id",
        F.posexplode(
            F.transform(
                idxs, lambda i: F.xxhash64(F.concat_ws(" ", F.slice("arr", i, k)))
            )
        ).alias("off", "gh"),
    ).select("id", (F.col("off") + 1).alias("idx"), "gh")
    dup = (
        grams.groupBy("gh")
        .agg(F.min("id").alias("lo"), F.max("id").alias("hi"))
        .filter(F.col("lo") != F.col("hi"))
        .select("gh")
    )
    hits = grams.join(dup, "gh").select("id", "idx")
    # merged intervals [idx, idx+k-1] over the sorted per-doc hit list:
    # acc = (spans, covered, cur_end); a hit past cur_end opens a span,
    # an overlapping hit extends coverage by the uncovered suffix only
    merged = hits.groupBy("id").agg(
        F.aggregate(
            F.sort_array(F.collect_list("idx")),
            F.struct(
                F.lit(0).cast("long").alias("spans"),
                F.lit(0).cast("long").alias("cov"),
                F.lit(-1).cast("long").alias("end"),
            ),
            lambda acc, p: F.struct(
                (
                    acc["spans"] + F.when(p > acc["end"], F.lit(1)).otherwise(F.lit(0))
                ).alias("spans"),
                (
                    acc["cov"]
                    + F.when(p > acc["end"], F.lit(k)).otherwise(
                        p + F.lit(k - 1) - acc["end"]
                    )
                ).alias("cov"),
                (p + F.lit(k - 1)).cast("long").alias("end"),
            ),
        ).alias("acc")
    )
    stats = merged.select(
        "id",
        F.col("acc.spans").alias("dup_spans"),
        F.col("acc.cov").alias("dup_tokens"),
    )
    return (
        base.select("id", "n_tokens")
        .join(stats, "id", "left")
        .select(
            "id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce(F.col("dup_spans"), F.lit(0)).cast("long").alias("dup_spans"),
            F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long").alias("dup_tokens"),
            F.when(
                F.col("n_tokens") > 0,
                F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("double")
                / F.col("n_tokens").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_ratio"),
        )
    )
