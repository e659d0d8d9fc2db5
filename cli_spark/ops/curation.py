"""Corpus-curation operators for a training-data pipeline over a
generic (id, text) corpus: repetition-based quality signals, PII
scrubbing, deterministic train/val/test splitting + sharding, sequence
packing, and corpus vocabulary statistics.

These extend the reference's inspect/validate surface (per-record
statistics, `RdfInspect.scala:84-122`-style aggregation) to the
document curation stages a 100 TB pretraining pipeline runs between
extraction and training:

- :func:`repetition_stats`   Gopher-style duplicate-line / duplicate-token /
                             top-n-gram fractions per document
- :func:`pii_scrub`          count + redact emails / IPv4 / phone-like spans
- :func:`deterministic_split` md5-derived split + shard assignment (stable
                             under reruns, re-partitions, and engine swaps)
- :func:`pack_bins`          oracle-exact contiguous token packing (window
                             cumsum within hash shards)
- :func:`pack_sequences_nextfit` true next-fit packing per shard
                             (applyInPandas; invariant-tested)
- :func:`doc_frequency`      per-token document frequency / corpus vocabulary

Scale notes: every operator is either a zero-shuffle columnar map
(pii_scrub, deterministic_split) or shuffles once on a per-document key
with map-side partial aggregation (repetition_stats, doc_frequency).
Packing windows are partitioned by shard — never a global single-task
window — so packing parallelism = shard count, the same layout a real
cluster packing job uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

# RE2-safe (and java.util.regex-safe) patterns: character classes and
# bounded repetition only — no backrefs, no lookaround — so the Spark
# and DuckDB evaluations agree byte-for-byte.
EMAIL_RX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RX = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RX = r"\+\d{1,3}[- ]\d{3}[- ]\d{3,4}[- ]\d{3,4}"

PII_PATTERNS: dict[str, str] = {
    "email": EMAIL_RX,
    "ipv4": IPV4_RX,
    "phone": PHONE_RX,
}


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document repetition signals (the Gopher repetition filters):

    - ``n_lines`` / ``dup_line_frac`` / ``dup_line_char_frac`` — lines
      occurring more than once, by count and by character mass;
    - ``n_tokens`` / ``dup_token_frac`` — tokens beyond their first
      occurrence;
    - ``n_bigrams`` / ``top_bigram_frac`` — coverage of the single most
      frequent word bigram.

    Shape: every signal is doc-local, so the whole operator is ONE
    zero-shuffle columnar pass — no explode, no groupBy, no window.
    Duplicate fractions come from `array_distinct` sizes; duplicated
    character mass and top-bigram coverage come from a run-length scan
    of the sorted unit array (`array_sort` + `F.aggregate`,
    O(n log n) per document, all JVM expression codegen). At 100 TB
    this keeps the repetition filter embarrassingly parallel — the
    explode → groupBy(doc, unit) formulation would shuffle the entire
    corpus twice for per-document answers.
    """

    def _frac(num, den):
        return F.when(den > 0, num.cast("double") / den).otherwise(F.lit(0.0))

    # run-length scan over a sorted array: total duplicated character
    # mass (runs of length > 1, all occurrences) and longest run.
    def _run_scan(sorted_arr):
        init = F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("dupchars"),
            F.lit(0).cast("long").alias("best"),
        )

        def step(acc, x):
            same = acc["prev"] == x
            flushed_dup = acc["dupchars"] + F.when(
                (~same) & (acc["run"] > 1), acc["run"] * F.length(acc["prev"])
            ).otherwise(F.lit(0))
            return F.struct(
                x.alias("prev"),
                F.when(same, acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
                flushed_dup.alias("dupchars"),
                F.greatest(
                    acc["best"], F.when(same, acc["run"] + 1).otherwise(F.lit(1))
                ).alias("best"),
            )

        def finish(acc):
            return F.struct(
                (
                    acc["dupchars"]
                    + F.when(
                        acc["run"] > 1, acc["run"] * F.length(acc["prev"])
                    ).otherwise(F.lit(0))
                ).alias("dupchars"),
                acc["best"].alias("best"),
            )

        return F.aggregate(sorted_arr, init, step, finish)

    lines = F.filter(F.split(F.col(text_col), "\n"), lambda x: x != "")
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    grams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    base = df.select(
        F.col(id_col).alias("id"),
        lines.alias("_lines"),
        toks.alias("_toks"),
        grams.alias("_grams"),
    ).select(
        "id",
        F.size("_lines").cast("long").alias("n_lines"),
        F.size(F.array_distinct("_lines")).cast("long").alias("_nl_d"),
        _run_scan(F.array_sort("_lines"))["dupchars"].alias("_dup_chars"),
        F.aggregate(
            "_lines", F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        ).alias("_tot_chars"),
        F.size("_toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("_toks")).cast("long").alias("_nt_d"),
        F.size("_grams").cast("long").alias("n_bigrams"),
        _run_scan(F.array_sort("_grams"))["best"].alias("_top_gram"),
    )
    return base.select(
        "id",
        "n_lines",
        _frac(F.col("n_lines") - F.col("_nl_d"), F.col("n_lines")).alias(
            "dup_line_frac"
        ),
        _frac(F.col("_dup_chars"), F.col("_tot_chars")).alias("dup_line_char_frac"),
        "n_tokens",
        _frac(F.col("n_tokens") - F.col("_nt_d"), F.col("n_tokens")).alias(
            "dup_token_frac"
        ),
        "n_bigrams",
        _frac(F.col("_top_gram"), F.col("n_bigrams")).alias("top_bigram_frac"),
    )


def pii_scrub(
    df: DataFrame,
    id_col: str,
    text_col: str,
    patterns: dict[str, str] | None = None,
    keep_text: bool = False,
) -> DataFrame:
    """Count and redact PII-like spans. Zero-shuffle columnar map: one
    `regexp_extract_all` count + one `regexp_replace` per pattern, all
    whole-stage-codegen. Replacement token is ``[<NAME>]`` uppercased.

    Returns (id, n_<name>... , n_redacted_chars, redacted_sha) — the
    redacted text itself only under ``keep_text=True`` (at 100 TB the
    scrubbed text is written to the output table, not carried through
    downstream aggs).
    """
    pats = patterns or PII_PATTERNS
    out = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
    counts = []
    red = F.col("_t")
    for name, rx in pats.items():
        counts.append(
            F.size(F.regexp_extract_all(F.col("_t"), F.lit(rx), F.lit(0))).alias(
                f"n_{name}"
            )
        )
        red = F.regexp_replace(red, rx, f"[{name.upper()}]")
    cols = [F.col("id"), *counts, F.length(red).alias("n_redacted_chars"),
            F.md5(red).alias("redacted_sha")]
    if keep_text:
        cols.append(red.alias("redacted"))
    return out.select(*cols)


def _md5_bucket(col, start: int, width: int, mod: int):
    """Integer in [0, mod) from hex window [start, start+width) of
    md5(col) — identical in Spark and DuckDB (shared-hash rule,
    cli_spark/queries.py module doc)."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), start, width), 16, 10)
        .cast("long")
        % mod
    )


def deterministic_split(
    df: DataFrame,
    id_col: str,
    train_pct: int = 80,
    val_pct: int = 10,
    n_shards: int = 16,
) -> DataFrame:
    """Stable train/val/test + shard assignment from md5(id): the same
    row lands in the same split on any engine, any partitioning, any
    rerun — the property a decontamination-safe split needs. Zero
    shuffle (a pure projection); `ORDER BY shard, ord` downstream gives
    a deterministic global shuffle order for training.
    """
    bucket = _md5_bucket(F.col(id_col), 1, 8, 100)
    return df.select(
        F.col(id_col).alias("id"),
        bucket.alias("bucket"),
        F.when(bucket < train_pct, "train")
        .when(bucket < train_pct + val_pct, "val")
        .otherwise("test")
        .alias("split"),
        _md5_bucket(F.col(id_col), 9, 8, n_shards).alias("shard"),
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 17, 8), 16, 10)
        .cast("long")
        .alias("ord"),
    )


def pack_bins(
    df: DataFrame,
    id_col: str,
    ntok_col: str,
    max_len: int = 512,
    n_shards: int = 16,
) -> DataFrame:
    """Contiguous-fill sequence packing, oracle-exact: documents are
    ordered by a deterministic md5 shuffle within md5-derived shards,
    and each document's bin is ``floor(cumsum_of_previous_tokens /
    max_len)`` within its shard. Bins can overfill by at most one
    straddling document (the downstream trainer truncates or splits at
    the boundary); :func:`pack_sequences_nextfit` is the strict-capacity
    variant.

    Windows are partitioned by shard — parallelism = n_shards, never a
    single-task global sort.
    """
    keyed = df.select(
        F.col(id_col).alias("id"),
        F.col(ntok_col).cast("long").alias("n_tokens"),
        _md5_bucket(F.col(id_col), 9, 8, n_shards).alias("shard"),
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 17, 8), 16, 10)
        .cast("long")
        .alias("ord"),
    )
    w = W.partitionBy("shard").orderBy("ord", "id")
    cum_before = F.coalesce(
        F.sum("n_tokens").over(w.rowsBetween(W.unboundedPreceding, -1)), F.lit(0)
    )
    return keyed.select(
        "id",
        "shard",
        "n_tokens",
        cum_before.alias("cum_before"),
        F.floor(cum_before / max_len).alias("bin"),
    )


def pack_sequences_nextfit(
    df: DataFrame,
    id_col: str,
    ntok_col: str,
    max_len: int = 512,
    n_shards: int = 16,
) -> DataFrame:
    """True next-fit packing: within each shard (deterministic md5
    order), a document joins the current bin unless it would overflow
    ``max_len``, else it opens a new one. Oversized single documents get
    a bin of their own (never split here).

    Next-fit is inherently sequential per shard, so it runs as one
    `applyInPandas` pass per shard — the standard distributed-packing
    layout (shards pack independently; bin ids are (shard, local_seq)).
    The per-shard state is two scalars; the loop is O(rows) numpy-light
    Python, amortized across shards.
    """
    import pandas as pd

    keyed = df.select(
        F.col(id_col).alias("id"),
        F.col(ntok_col).cast("long").alias("n_tokens"),
        _md5_bucket(F.col(id_col), 9, 8, n_shards).alias("shard"),
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 17, 8), 16, 10)
        .cast("long")
        .alias("ord"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ord", "id"], kind="mergesort").reset_index(drop=True)
        bins, fills = [], []
        cur_bin, cur_fill = 0, 0
        for n in pdf["n_tokens"].tolist():
            if cur_fill > 0 and cur_fill + n > max_len:
                cur_bin += 1
                cur_fill = 0
            fills.append(cur_fill)
            cur_fill += n
            bins.append(cur_bin)
        pdf["bin"] = pd.Series(bins, dtype="int64")
        pdf["offset"] = pd.Series(fills, dtype="int64")
        return pdf[["id", "shard", "n_tokens", "bin", "offset"]]

    schema = "id long, shard long, n_tokens long, bin long, offset long"
    return keyed.groupBy("shard").applyInPandas(pack, schema=schema)


def doc_frequency(
    df: DataFrame, id_col: str, text_col: str, min_df: int = 1
) -> DataFrame:
    """Corpus vocabulary: per-token document frequency and total term
    frequency. distinct-per-doc explode → one groupBy(token) with
    partial aggregation; integer outputs only (no float log — IDF is a
    client-side transform of exact counts).
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(
                F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
            )
        ).alias("token"),
    )
    tf = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
        ).alias("token"),
    )
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .join(
            tf.groupBy("token").agg(F.count(F.lit(1)).alias("term_freq")),
            "token",
        )
        .filter(F.col("doc_freq") >= min_df)
    )


def deterministic_sample(
    df: DataFrame,
    id_col: str,
    fraction: float | None = None,
    rates: dict[str, float] | None = None,
    strata_col: str | None = None,
    salt: str = "s0",
    default_rate: float = 1.0,
) -> DataFrame:
    """Deterministic (seedless-rerun-stable) Bernoulli sampling: keep a
    row iff ``md5(id || ':' || salt)``'s first 8 hex digits, mod 10^6,
    fall under rate·10^6. Unlike ``df.sample`` the decision is a pure
    function of (id, salt) — stable across reruns, partitionings, and
    engines, so a downstream join of two independently sampled tables
    sees consistent membership.

    ``fraction`` applies one rate to all rows; ``rates`` +
    ``strata_col`` gives per-stratum keep rates (quality-weighted
    corpus mixing), falling back to ``default_rate``. Zero shuffle —
    a filter projection that pushes down onto the scan.
    """
    if (fraction is None) == (rates is None):
        raise ValueError("exactly one of fraction / rates is required")
    bucket = _md5_bucket(
        F.concat(F.col(id_col).cast("string"), F.lit(":" + salt)), 1, 8, 1_000_000
    )
    if fraction is not None:
        thresh = F.lit(int(fraction * 1_000_000))
    else:
        assert strata_col is not None, "rates requires strata_col"
        thresh = F.lit(int(default_rate * 1_000_000))
        for value, rate in rates.items():
            thresh = F.when(
                F.col(strata_col) == value, F.lit(int(rate * 1_000_000))
            ).otherwise(thresh)
    return df.filter(bucket < thresh)


def grouped_quantiles(
    df: DataFrame,
    strata_col: str,
    value_col: str,
    quantiles: tuple[float, ...] = (0.5, 0.9),
    exact: bool = True,
) -> DataFrame:
    """Per-stratum quantiles of a numeric column. ``exact=True`` uses
    the sort-based exact `percentile` aggregate (linear interpolation,
    bit-identical to DuckDB's `quantile_cont` — verified); at 100 TB
    switch ``exact=False`` for `approx_percentile` (mergeable KLL-style
    sketch, one partial-aggregated pass, no per-group sort) — same
    schema, rank error ≤ 1/10000.
    """
    fn = F.percentile if exact else (
        lambda c, q: F.percentile_approx(c, q, 10000).cast("double")
    )
    aggs = [
        fn(F.col(value_col), q).alias(f"p{int(q * 100)}") for q in quantiles
    ] + [F.count(F.lit(1)).alias("n")]
    return df.groupBy(strata_col).agg(*aggs)
