"""Deduplication operators over a generic (id, text) corpus.

All variants are pure DataFrame compositions (JVM hashing via xxhash64,
no Python in the hot path):

- :func:`exact_dedup`        hash-groupBy survivor selection
- :func:`minhash_lsh_pairs`  shingle → minhash → band → bucket-join
- :func:`simhash`            64-bit sign-aggregated fingerprint + near-dup by
                             Hamming distance (bucketed by 16-bit chunks)
- :func:`ngram_jaccard`      exact n-gram Jaccard verification of candidate pairs

Scale notes mirror cli_spark.linking: one shuffle per aggregation,
banding join is equi-join with hot-bucket capping, verification joins
candidates (small) back to shingle sets (pushdown-friendly semi-join
before the explosion).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

MERSENNE31 = (1 << 31) - 1
NUM_PERM = 32
BAND_ROWS = 4
MAX_BUCKET = 50


# shared 2-universal permutation parameters (one definition, one seed
# expansion — cli_spark.linking owns it)
from ..linking import _perm_params  # noqa: E402


def tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, token, pos) — whitespace tokenizer, 1-based positions."""
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.col(text_col), r"\s+")).alias("pos0", "token"),
        )
        .filter(F.col("token") != "")
        .select("id", "token", (F.col("pos0") + 1).alias("pos"))
    )


def shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    distinct: bool = True,
    wide: bool = False,
) -> DataFrame:
    """(id, h) word n-gram hashes — on the [0, 2^31-1) Mersenne domain
    by default (what the MinHash permutations need), or the full signed
    64-bit xxhash under ``wide=True`` for callers where a 31-bit
    collision is a wrong answer rather than sketch noise
    (decontamination joins).

    ``distinct=True`` (default) dedups per document — one extra shuffle,
    needed when the caller joins the set directly (Jaccard, banding).
    ``distinct=False`` keeps the raw zero-shuffle explode for callers
    that aggregate with ``countDistinct`` anyway (decontamination)."""
    words = F.filter(F.split(F.col(text_col), r"\s+"), lambda w: w != "")
    size = F.size(words)
    grams = F.when(
        size >= n,
        F.transform(
            F.sequence(F.lit(0), size - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(words, i + j + 1) for j in range(n)]
            ),
        ),
    ).otherwise(F.array(F.concat_ws(" ", words)))
    hcol = (
        F.xxhash64("g") if wide else F.pmod(F.xxhash64("g"), F.lit(MERSENNE31))
    )
    out = df.select(F.col(id_col).alias("id"), F.explode(grams).alias("g")).select(
        "id", hcol.alias("h")
    )
    return out.distinct() if distinct else out


def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    n: int = 5,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Train/test decontamination: (id, n_hit_grams, n_bench_docs) for
    every TRAINING document that shares at least one word ``n``-gram
    with any BENCHMARK document (the n-gram-overlap rule used to scrub
    eval suites out of web-scale training corpora; n=5 by default —
    long-span matches are contamination, short spans are just language).

    Scale: the benchmark side is an eval suite — MBs against a 100 TB
    corpus — so its distinct gram set broadcasts (``broadcast_bench``;
    drop the hint for an unusually large suite and AQE picks the
    strategy, with runtime bloom-filter pushdown pruning the train-side
    scan). The train side stays a zero-shuffle explode: no pre-distinct
    — the per-doc aggregation counts distinct after the (selective)
    join, so the only full shuffle is the final groupBy on the hits,
    which are rare by construction."""
    # Empty/whitespace-only docs share no CONTENT with anything — but
    # shingles' whole-doc fallback would hash both sides to xxhash64(""),
    # flagging every empty training doc as contaminated by any empty
    # bench doc. Drop them before shingling (cheap codegen'd filter).
    nonempty = F.trim(F.col(text_col)) != ""
    tg = shingles(
        train.filter(nonempty), id_col, text_col, n,
        distinct=False, wide=True,
    )
    bg = shingles(bench.filter(nonempty), id_col, text_col, n, wide=True).select(
        F.col("id").alias("bench_id"), "h"
    )
    if broadcast_bench:
        bg = F.broadcast(bg)
    return (
        tg.join(bg, "h")
        .groupBy("id")
        .agg(
            F.countDistinct("h").alias("n_hit_grams"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, survivor_id, n_copies): hash-groupBy on content digest; the
    survivor is the min id per group. One shuffle on the digest."""
    digest = df.select(
        F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("content_md5")
    )
    w = W.partitionBy("content_md5")
    return digest.select(
        "id",
        F.min("id").over(w).alias("survivor_id"),
        F.count(F.lit(1)).over(w).alias("n_copies"),
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_perm: int = NUM_PERM
) -> DataFrame:
    """(id, sig array<long>) — K min-aggregates over one shingle shuffle."""
    sh = shingles(df, id_col, text_col)
    aggs = [
        F.min(F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(MERSENNE31))).alias(f"s{i}")
        for i, (a, b) in enumerate(_perm_params(num_perm))
    ]
    sig = sh.groupBy("id").agg(*aggs)
    return sig.select("id", F.array(*[f"s{i}" for i in range(num_perm)]).alias("sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_perm: int = NUM_PERM,
    band_rows: int = BAND_ROWS,
) -> DataFrame:
    """(left_id, right_id, score): near-duplicate pairs by estimated
    Jaccard ≥ threshold."""
    # read by both banding sides and both scoring sides
    sigs = minhash_signatures(df, id_col, text_col, num_perm).localCheckpoint()
    n_bands = num_perm // band_rows
    bands = sigs.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda b: F.xxhash64(
                    F.concat_ws(",", F.slice("sig", b * band_rows + 1, band_rows))
                ),
            )
        ).alias("band_id", "band_hash"),
    )
    wb = W.partitionBy("band_id", "band_hash").orderBy("id")
    capped = bands.withColumn("rk", F.row_number().over(wb)).filter(
        F.col("rk") <= MAX_BUCKET
    )
    cands = (
        capped.alias("l")
        .join(capped.alias("r"), ["band_id", "band_hash"])
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("left_id"), F.col("r.id").alias("right_id"))
        .distinct()
    )
    ls = sigs.select(F.col("id").alias("left_id"), F.col("sig").alias("lsig"))
    rs = sigs.select(F.col("id").alias("right_id"), F.col("sig").alias("rsig"))
    scored = (
        cands.join(ls, "left_id")
        .join(rs, "right_id")
        .withColumn(
            "score",
            F.size(F.filter(F.zip_with("lsig", "rsig", lambda a, b: a == b), lambda x: x))
            / F.lit(num_perm),
        )
    )
    return scored.filter(F.col("score") >= threshold).select(
        "left_id", "right_id", "score"
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """(id, simhash): sign-aggregated token-hash fingerprint. One shuffle,
    `bits` conditional sums (all codegen'd)."""
    toks = tokens(df, id_col, text_col).select("id", "token").distinct()
    h = F.xxhash64("token")
    sums = [
        F.sum(
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(bits)
    ]
    agg = toks.groupBy("id").agg(*sums)
    # assemble: bit j set iff sum_j > 0. Sum as signed arithmetic to stay
    # ANSI-safe (bit 63 would overflow a positive accumulate).
    fp = None
    for j in range(bits):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        shifted = F.shiftleft(term, j)
        fp = shifted if fp is None else fp.bitwiseOR(shifted)
    return agg.select("id", fp.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Pigeonhole blocking: split the 64-bit fingerprint into 4 × 16-bit
    chunks; any pair within distance 3 agrees on ≥1 chunk → equi-join
    per chunk, then exact popcount filter. No O(n²) compare.
    """
    fps = simhash(df, id_col, text_col)
    chunks = fps.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", 16 * c).bitwiseAND(F.lit(0xFFFF))
                    for c in range(4)
                ]
            )
        ).alias("chunk_id", "chunk_val"),
    )
    l = chunks.select(
        F.col("id").alias("left_id"), F.col("simhash").alias("lfp"), "chunk_id", "chunk_val"
    )
    r = chunks.select(
        F.col("id").alias("right_id"), F.col("simhash").alias("rfp"), "chunk_id", "chunk_val"
    )
    cands = (
        l.join(r, ["chunk_id", "chunk_val"])
        .filter(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id", "lfp", "rfp")
        .distinct()
    )
    hamming = F.bit_count(F.col("lfp").bitwiseXOR(F.col("rfp")))
    return cands.withColumn("hamming", hamming).filter(
        F.col("hamming") <= max_hamming
    ).select("left_id", "right_id", "hamming")


def ngram_jaccard(
    df: DataFrame, pairs: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Exact n-gram Jaccard for candidate (left_id, right_id) pairs:
    semi-join prunes the shingle table to candidate ids before the
    intersection join (keeps the wide explosion candidate-bounded)."""
    ids = pairs.select(F.col("left_id").alias("id")).unionByName(
        pairs.select(F.col("right_id").alias("id"))
    ).distinct()
    # read by the size count and by both intersection sides
    sh = (
        shingles(df, id_col, text_col, n)
        .join(ids, "id", "left_semi")
        .localCheckpoint()
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        pairs.join(sh.select(F.col("id").alias("left_id"), "h"), "left_id")
        .join(sh.select(F.col("id").alias("right_id"), "h"), ["right_id", "h"])
        .groupBy("left_id", "right_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = (
        pairs.join(inter, ["left_id", "right_id"], "left")
        .join(sizes.select(F.col("id").alias("left_id"), F.col("n_sh").alias("n_left")), "left_id")
        .join(sizes.select(F.col("id").alias("right_id"), F.col("n_sh").alias("n_right")), "right_id")
        .withColumn("n_inter", F.coalesce(F.col("n_inter"), F.lit(0)))
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_left") + F.col("n_right") - F.col("n_inter")),
        )
    )
    return out.select("left_id", "right_id", "n_inter", "jaccard")


def select_survivors(
    docs: DataFrame,
    pairs: DataFrame,
    score_df: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup last mile: pairs(left_id, right_id) → per-document
    ``(id, comp, score, survivor_id, keep)`` — transitive clusters via
    the checkpointed CC loop, one survivor per cluster = highest quality
    score (ties → lowest id), docs in no pair survive as singletons.

    ``score_df`` overrides the quality signal as (id, score); default is
    token count from :func:`cli_spark.ops.textstats.quality_scores`.

    Scale: CC runs on the (small) pair graph, not the corpus; scoring is
    one row-local pass; ranking is a window PARTITIONED by cluster id
    (bounded partitions — a cluster is at most its LSH-capped transitive
    closure), then a broadcast-friendly join back. The keep-set feeds a
    semi-join filter upstream of training-data materialization."""
    from ..canonicalize import connected_components

    edges = pairs.select(
        F.col("left_id").cast("string").alias("src"),
        F.col("right_id").cast("string").alias("dst"),
    )
    comps = connected_components(edges).select(
        F.col("node").cast("long").alias("id"),
        F.col("component").cast("long").alias("comp"),
    )
    if score_df is None:
        from .textstats import quality_scores

        score_df = quality_scores(docs, id_col, text_col).select(
            "id", F.col("n_tokens").cast("double").alias("score")
        )
    member = (
        docs.select(F.col(id_col).cast("long").alias("id"))
        .join(comps, "id", "left")
        .withColumn("comp", F.coalesce(F.col("comp"), F.col("id")))
    )
    # left join: a doc missing from a caller-supplied score_df must not
    # silently vanish (it would be neither kept nor marked downstream);
    # it competes with score 0.0 and the lowest-id tiebreak still applies
    scored = member.join(score_df, "id", "left").withColumn(
        "score", F.coalesce(F.col("score"), F.lit(0.0))
    )
    w = W.partitionBy("comp").orderBy(F.desc("score"), F.col("id"))
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("comp", F.col("id").alias("survivor_id"))
    )
    return scored.join(best, "comp").select(
        "id",
        "comp",
        "score",
        "survivor_id",
        (F.col("id") == F.col("survivor_id")).alias("keep"),
    )


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
    (0/0.0 for clean docs). Whole-doc dedup (:func:`exact_dedup`) misses
    boilerplate shared across otherwise-distinct pages; this is the
    operator that catches it.

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
    same lesson as :func:`decontaminate`)."""
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
