"""Text analysis in one row-local pass (:func:`text_stats`): language-ID
(stopword heuristic), quality scoring, token counting (whitespace +
BPE-ish regex), document fingerprinting. All columnar (codegen'd), no UDFs.

Every ratio divides exact integer intermediates so results are
bit-identical across engines (oracle rule, cli_spark.queries)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword heuristic.
STOPWORDS = {
    "en": ["the", "of", "and", "to", "in", "is", "that", "for", "with", "on"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "se", "las"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "une"],
}

BPE_ISH_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n]"
PUNCT_RE = "[.!?,;:]"
MERSENNE31 = (1 << 31) - 1


def text_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    extra: dict[str, "callable"] | None = None,
) -> DataFrame:
    """Language-ID hits + guess, quality ratios, token counts and the
    order-sensitive fingerprint in ONE row-local pass. The fingerprint is
    the position-salted 32-bit token-hash sum mod 2^31-1, computed as an
    in-row array fold (zero shuffles); two docs with the same token
    multiset in a different order fingerprint differently.

    ``extra`` maps output-column name → (text Column → Column) factory,
    appended to the same projection — how q36 folds the real BPE
    subword count (ops.bpe.bpe_count_col) into the pass without a join.

    Columns: id, en_hits, es_hits, fr_hits, n_tokens, guessed_lang,
    n_chars, avg_token_len, punct_ratio, stopword_ratio, upper_ratio,
    n_ws_tokens, n_bpe_tokens, fingerprint [, extra...]."""
    text = F.col(text_col)
    # stage 1: materialize the split arrays as named columns — Catalyst
    # does not CSE through higher-order-function lambdas, so referencing
    # split() inside transform() re-evaluates it per element
    base = df.select(
        F.col(id_col).alias("id"),
        text.alias("_text"),
        F.split(text, r"\s+").alias("_raw"),
        F.split(F.lower(text), r"\s+").alias("_lraw"),
    )
    # stage 2: filtered token arrays as named columns
    staged = base.select(
        "id",
        "_text",
        "_raw",
        F.filter(F.col("_raw"), lambda w: w != "").alias("_toks"),
        F.filter(F.col("_lraw"), lambda w: w != "").alias("_ltoks"),
    )
    n_chars = F.length("_text")
    n_tokens = F.size("_toks")
    n_punct = n_chars - F.length(F.regexp_replace(F.col("_text"), F.lit(PUNCT_RE), F.lit("")))
    n_upper = n_chars - F.length(F.regexp_replace(F.col("_text"), F.lit("[A-Z]"), F.lit("")))
    all_stop = [w for ws in STOPWORDS.values() for w in ws]
    n_stop = F.size(F.filter(F.col("_ltoks"), lambda t: t.isin(*all_stop)))
    token_chars = F.aggregate(
        F.col("_toks"), F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    # fingerprint as an in-row fold: pair tokens with their 1-based RAW
    # positions (empties skip a position, matching the explode flavor)
    pairs = F.filter(
        F.transform(
            F.col("_raw"),
            lambda t, i: F.struct(t.alias("t"), (i + 1).alias("p")),
        ),
        lambda s: s["t"] != "",
    )
    hashes_sum = F.aggregate(
        pairs,
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + F.conv(
            F.substring(F.md5(F.format_string("%s@%d", s["t"], s["p"])), 1, 8), 16, 10
        ).cast("long"),
    )
    def _hits(words: list[str]):
        # unary lambda only — 2-arg lambdas (incl. default-arg closures)
        # get the element index as the second argument from F.filter
        return F.size(F.filter(F.col("_ltoks"), lambda t: t.isin(*words)))

    hit_cols = {
        lang: _hits(words).alias(f"{lang}_hits") for lang, words in STOPWORDS.items()
    }
    out = staged.select(
        "id",
        *hit_cols.values(),
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars"),
        (token_chars / n_tokens).alias("avg_token_len"),
        (n_punct / n_chars).alias("punct_ratio"),
        (n_stop / n_tokens).alias("stopword_ratio"),
        (n_upper / n_chars).alias("upper_ratio"),
        F.size("_toks").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col("_text"), F.lit(BPE_ISH_RE), F.lit(0))).alias(
            "n_bpe_tokens"
        ),
        F.pmod(hashes_sum, F.lit(MERSENNE31)).alias("fingerprint"),
        *[
            fn(F.col("_text")).alias(name)
            for name, fn in (extra or {}).items()
        ],
    )
    langs = sorted(STOPWORDS)
    best = None
    for lang in langs:
        cond = True
        for other in langs:
            if other != lang:
                op = (
                    F.col(f"{lang}_hits") >= F.col(f"{other}_hits")
                    if lang < other
                    else F.col(f"{lang}_hits") > F.col(f"{other}_hits")
                )
                cond = op if cond is True else (cond & op)
        best = F.when(cond, F.lit(lang)) if best is None else best.when(cond, F.lit(lang))
    return out.withColumn("guessed_lang", best.otherwise(F.lit(langs[0])))
