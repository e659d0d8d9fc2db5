"""Library-level invariants for ops.curation — the paths the oracle
battery (q65-q69) does not exercise: multi-line repetition documents,
true next-fit packing, PII edge cases, split stability."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cli_spark.ops.curation import (
    deterministic_split,
    doc_frequency,
    pack_bins,
    pack_sequences_nextfit,
    pii_scrub,
    repetition_stats,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_repetition_stats_multiline(spark):
    df = _docs(
        spark,
        [
            (1, "aa bb\naa bb\ncc"),  # line 'aa bb' duplicated
            (2, "x y z"),  # all unique, single line
            (3, "w w w w"),  # one line, token dup
        ],
    )
    out = {r["id"]: r.asDict() for r in repetition_stats(df, "doc_id", "text").collect()}
    r1 = out[1]
    assert r1["n_lines"] == 3
    assert r1["dup_line_frac"] == pytest.approx(1 / 3)  # beyond-first occurrences
    # dup chars: 'aa bb' (5 chars) * 2 occurrences over 5+5+2 total line chars
    assert r1["dup_line_char_frac"] == pytest.approx(10 / 12)
    assert r1["n_tokens"] == 5
    assert r1["dup_token_frac"] == pytest.approx(2 / 5)  # aa, bb each once extra
    r2 = out[2]
    assert r2["dup_line_frac"] == 0.0
    assert r2["dup_token_frac"] == 0.0
    assert r2["top_bigram_frac"] == pytest.approx(1 / 2)  # 2 bigrams, both unique
    r3 = out[3]
    assert r3["dup_token_frac"] == pytest.approx(3 / 4)
    assert r3["top_bigram_frac"] == pytest.approx(1.0)  # 'w w' x3


def test_repetition_stats_single_token_doc(spark):
    # no bigrams: coalesced to zero, doc still present
    df = _docs(spark, [(1, "solo")])
    row = repetition_stats(df, "doc_id", "text").collect()[0]
    assert row["n_bigrams"] == 0 and row["top_bigram_frac"] == 0.0


def test_pii_scrub_crafted(spark):
    df = _docs(
        spark,
        [
            (1, "mail a.b+c@ex-1.org and d@e.io, server 192.168.0.1, +44 123 4567 890"),
            (2, "no pii here"),
        ],
    )
    out = {
        r["id"]: r.asDict()
        for r in pii_scrub(df, "doc_id", "text", keep_text=True).collect()
    }
    assert out[1]["n_email"] == 2
    assert out[1]["n_ipv4"] == 1
    assert out[1]["n_phone"] == 1
    red = out[1]["redacted"]
    assert "[EMAIL]" in red and "[IPV4]" in red and "[PHONE]" in red
    assert "@" not in red and "192.168" not in red
    assert out[2]["n_email"] == 0 and out[2]["redacted"] == "no pii here"


def test_deterministic_split_stable_and_complete(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = deterministic_split(df, "doc_id").orderBy("id").collect()
    b = deterministic_split(df.repartition(13), "doc_id").orderBy("id").collect()
    assert a == b  # partitioning-invariant
    frac_train = sum(1 for r in a if r["split"] == "train") / len(a)
    assert 0.75 < frac_train < 0.85  # md5 buckets ≈ uniform
    assert {r["shard"] for r in a} == set(range(16))
    assert len({r["split"] for r in a}) == 3


def test_pack_nextfit_invariants(spark):
    df = spark.range(0, 500).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 97 + 1).alias("n_tokens"),
    )
    max_len = 100
    rows = pack_sequences_nextfit(
        df, "doc_id", "n_tokens", max_len=max_len, n_shards=4
    ).collect()
    assert len(rows) == 500  # every doc assigned exactly once
    fills: dict[tuple, int] = {}
    for r in rows:
        key = (r["shard"], r["bin"])
        fills[key] = fills.get(key, 0) + r["n_tokens"]
        assert r["offset"] + r["n_tokens"] <= max_len or r["offset"] == 0
    for (shard, _), tot in fills.items():
        assert tot <= max_len  # no doc here exceeds max_len alone
    # capacity lower bound: bins >= ceil(total/max) within each shard
    by_shard: dict[int, int] = {}
    nbins: dict[int, set] = {}
    for r in rows:
        by_shard[r["shard"]] = by_shard.get(r["shard"], 0) + r["n_tokens"]
        nbins.setdefault(r["shard"], set()).add(r["bin"])
    for shard, tot in by_shard.items():
        assert len(nbins[shard]) >= -(-tot // max_len)


def test_pack_nextfit_oversized_doc_own_bin(spark):
    df = _docs(spark, [(1, "x"), (2, "y"), (3, "z")]).select(
        "doc_id", F.when(F.col("doc_id") == 2, 999).otherwise(10).alias("n_tokens")
    )
    rows = pack_sequences_nextfit(
        df, "doc_id", "n_tokens", max_len=100, n_shards=1
    ).collect()
    big = [r for r in rows if r["n_tokens"] == 999][0]
    assert big["offset"] == 0  # oversized doc opens its own bin
    assert sum(1 for r in rows if r["bin"] == big["bin"]) == 1


def test_pack_bins_matches_nextfit_order(spark):
    # both packers see the same deterministic (shard, ord) sequence
    df = spark.range(0, 200).select(
        F.col("id").alias("doc_id"), F.lit(10).alias("n_tokens")
    )
    a = pack_bins(df, "doc_id", "n_tokens", max_len=50, n_shards=2)
    b = pack_sequences_nextfit(df, "doc_id", "n_tokens", max_len=50, n_shards=2)
    ja = {r["id"]: (r["shard"], r["bin"]) for r in a.collect()}
    jb = {r["id"]: (r["shard"], r["bin"]) for r in b.collect()}
    # with uniform sizes dividing max_len evenly, the two schemes agree
    assert ja == jb


def test_doc_frequency_counts(spark):
    df = _docs(spark, [(1, "a b a"), (2, "b c"), (3, "b")])
    out = {r["token"]: (r["doc_freq"], r["term_freq"]) for r in
           doc_frequency(df, "doc_id", "text").collect()}
    assert out == {"a": (1, 2), "b": (3, 3), "c": (1, 1)}
    out2 = doc_frequency(df, "doc_id", "text", min_df=2).collect()
    assert [r["token"] for r in out2] == ["b"]


def test_deterministic_sample_stability_and_rates(spark):
    from cli_spark.ops.curation import deterministic_sample

    df = spark.range(0, 10000).withColumnRenamed("id", "doc_id")
    a = sorted(
        r["doc_id"]
        for r in deterministic_sample(df, "doc_id", fraction=0.3).collect()
    )
    b = sorted(
        r["doc_id"]
        for r in deterministic_sample(
            df.repartition(17), "doc_id", fraction=0.3
        ).collect()
    )
    assert a == b  # membership is a pure function of (id, salt)
    assert 0.27 < len(a) / 10000 < 0.33
    c = sorted(
        r["doc_id"]
        for r in deterministic_sample(df, "doc_id", fraction=0.3, salt="s1").collect()
    )
    assert c != a  # different salt, different (same-sized) sample
    assert 0.27 < len(c) / 10000 < 0.33


def test_deterministic_sample_strata_rates(spark):
    from cli_spark.ops.curation import deterministic_sample

    df = spark.range(0, 8000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "keep_most").otherwise("keep_few").alias("src"),
    )
    out = deterministic_sample(
        df, "doc_id", rates={"keep_most": 0.9, "keep_few": 0.1}, strata_col="src"
    ).groupBy("src").count().collect()
    got = {r["src"]: r["count"] / 4000 for r in out}
    assert 0.85 < got["keep_most"] < 0.95
    assert 0.07 < got["keep_few"] < 0.13


def test_deterministic_sample_arg_validation(spark):
    from cli_spark.ops.curation import deterministic_sample

    df = spark.range(3).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError):
        deterministic_sample(df, "doc_id")
    with pytest.raises(ValueError):
        deterministic_sample(df, "doc_id", fraction=0.5, rates={"a": 0.1})


def test_grouped_quantiles_exact_vs_approx(spark):
    from cli_spark.ops.curation import grouped_quantiles

    df = spark.range(0, 1000).select(
        (F.col("id") % 4).alias("g"), (F.col("id") * 3 % 997).alias("v")
    )
    exact = grouped_quantiles(df, "g", "v").orderBy("g")
    approx = grouped_quantiles(df, "g", "v", exact=False).orderBy("g")
    assert exact.columns == approx.columns == ["g", "p50", "p90", "n"]
    for e, a in zip(exact.collect(), approx.collect()):
        assert abs(e["p50"] - a["p50"]) <= 10  # sketch ≈ exact at this accuracy
        assert e["n"] == a["n"]


def test_repetition_stats_differential_random(spark):
    """Differential: Spark operator vs an independent pure-Python
    computation over 40 seeded random multi-line docs (token/line dup
    fractions have subtle beyond-first vs all-occurrences definitions —
    pin them)."""
    import random
    from collections import Counter

    rng = random.Random(4242)
    vocab = ["aa", "bb", "cc", "dd", "ee", "ff"]
    rows = []
    for i in range(40):
        lines = [
            " ".join(rng.choices(vocab, k=rng.randint(1, 6)))
            for _ in range(rng.randint(1, 5))
        ]
        rows.append((i, "\n".join(lines)))
    df = _docs(spark, rows)
    got = {r["id"]: r.asDict() for r in repetition_stats(df, "doc_id", "text").collect()}
    for i, text in rows:
        lines = [ln for ln in text.split("\n") if ln != ""]
        lc = Counter(lines)
        toks = [t for t in text.split() if t != ""]
        tc = Counter(toks)
        grams = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        gc = Counter(grams)
        r = got[i]
        assert r["n_lines"] == len(lines)
        assert r["dup_line_frac"] == pytest.approx(
            (len(lines) - len(lc)) / len(lines)
        )
        tot_chars = sum(len(ln) * c for ln, c in lc.items())
        dup_chars = sum(len(ln) * c for ln, c in lc.items() if c > 1)
        assert r["dup_line_char_frac"] == pytest.approx(dup_chars / tot_chars)
        assert r["n_tokens"] == len(toks)
        assert r["dup_token_frac"] == pytest.approx((len(toks) - len(tc)) / len(toks))
        if grams:
            assert r["n_bigrams"] == len(grams)
            assert r["top_bigram_frac"] == pytest.approx(
                max(gc.values()) / len(grams)
            )
        else:
            assert r["n_bigrams"] == 0 and r["top_bigram_frac"] == 0.0


# ---------------------------------------------------------------- BPE


def test_bpe_train_deterministic_and_seed_pinned():
    """Training is a pure function of the word-count table; the seed
    merge table (q36's oracle replays it) is pinned by its head so a
    refactor can't silently change the learned merges."""
    from cli_spark.ops.bpe import SEED_MERGES, SEED_N_MERGES, SEED_WORDS, bpe_train_counts

    wc = {w: len(SEED_WORDS) - i for i, w in enumerate(SEED_WORDS)}
    again = bpe_train_counts(wc, SEED_N_MERGES)
    assert again == SEED_MERGES
    assert len(SEED_MERGES) == SEED_N_MERGES
    assert SEED_MERGES[:3] == [(b"e", b"r"), (b"o", b"w"), (b"i", b"n")]


def test_bpe_encode_detokenize_identity():
    """Byte-level tokens are slices of the original UTF-8, so
    detokenize(encode(w)) == w for arbitrary unicode words."""
    from cli_spark.ops.bpe import SEED_MERGES, _ranks, detokenize, encode_word

    ranks = _ranks(SEED_MERGES)
    for text in [
        "join hash row", "the customer table", "", "a", "  double  spaces",
        "naïve café ünïcode 日本語 🙂", "tab\tand\nnewline inside",
    ]:
        rebuilt = " ".join(detokenize(encode_word(w, ranks)) for w in text.split(" "))
        assert rebuilt == text


def test_bpe_encoder_equals_rank_order_replay():
    """The kernel's lowest-rank-first encoder == applying merges once
    each in rank order (each pass global, left-to-right) — the exact
    form q36's DuckDB oracle replays with replace() per rank."""
    import random

    from cli_spark.ops.bpe import SEED_MERGES, _merge_tokens, _ranks, encode_word

    ranks = _ranks(SEED_MERGES)

    def rank_order(word: str) -> list[bytes]:
        toks = tuple(bytes([b]) for b in word.encode("utf-8"))
        for a, b in SEED_MERGES:
            toks = _merge_tokens(toks, a, b)
        return list(toks)

    rng = random.Random(99)
    words = ["join", "hash", "the", "customer", "aaa", "ababab", "rowrowrow", ""]
    words += [
        "".join(rng.choice("abcdefghijklmnopqrstuvw") for _ in range(rng.randint(1, 24)))
        for _ in range(300)
    ]
    for w in words:
        assert encode_word(w, ranks) == rank_order(w), w


def test_bpe_count_col_feeds_nextfit_pack(spark):
    """pack_sequences_nextfit accepts the live BPE counts from
    bpe_count_col (the point of subword packing): every document lands
    in a bin, each count equals the per-word encoder's, and every bin
    respects capacity."""
    from collections import Counter

    from cli_spark.ops.bpe import SEED_MERGES, _ranks, bpe_count_col, encode_word

    texts = [
        "join hash row batch scan", "customer column filter small slow",
        "merge order vector line data", "table agg value key stream",
        "window spark a group part", "big sort query fast the dup",
        "join join hash hash row", "table table key key key",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    counts = df.select("doc_id", bpe_count_col("text", SEED_MERGES).alias("bpe_tokens"))
    packed = pack_sequences_nextfit(counts, "doc_id", "bpe_tokens", max_len=16, n_shards=4)
    rows = packed.collect()
    assert {r["id"] for r in rows} == set(range(len(texts)))
    ranks = _ranks(SEED_MERGES)
    for r in rows:
        want = sum(len(encode_word(w, ranks)) for w in texts[r["id"]].split(" "))
        assert r["n_tokens"] == want
    fills = Counter()
    for r in rows:
        fills[(r["shard"], r["bin"])] += r["n_tokens"]
    for (shard, b), tot in fills.items():
        # capacity holds unless a single oversized doc owns the bin
        members = [r for r in rows if (r["shard"], r["bin"]) == (shard, b)]
        assert tot <= 16 or len(members) == 1


def test_bpe_sql_oracle_differential():
    """The DuckDB merge-table replay equals the kernel on texts that
    broke the earlier raw-character encoding: adjacent merge-pair
    occurrences (SQL replace is non-overlapping and the old single-pipe
    boundaries shared their delimiter), non-ASCII (kernel is per UTF-8
    byte, the old oracle per character), and literal '|'/'¶' bytes in
    the text (the old count arithmetic keyed on them)."""
    import duckdb

    from cli_spark.ops.bpe import (
        SEED_MERGES,
        SEED_N_MERGES,
        _ranks,
        encode_word,
        merges_to_sql_values,
    )

    vals = merges_to_sql_values(SEED_MERGES)
    ranks = _ranks(SEED_MERGES)
    texts = [
        "owow", "joinjoin", "café", "a|b", "¶x twice",
        "the thethe thethethe", "", " ", "ababab",
        "ow ow owow owowow", "naïve 日本 test|pipe ¶para",
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, ?)" for i in range(len(texts)))
        + ") t(doc_id, text)",
        texts,
    )
    sql = f"""
    WITH RECURSIVE bpe_m(rnk, pat, rep) AS (
      SELECT * FROM (VALUES {vals}) v(rnk, pat, rep)
    ),
    bpe0 AS (
      SELECT doc_id,
             array_to_string(list_transform(string_split(text, ' '),
               w -> '||' || regexp_replace(hex(encode(w)), '([0-9A-F]{{2}})', '\\1||', 'g')), '') AS seq,
             len(string_split(text, ' ')) AS n_words
      FROM documents
    ),
    bpe_rec AS (
      SELECT doc_id, seq, n_words, 0 AS i FROM bpe0
      UNION ALL
      SELECT r.doc_id, replace(r.seq, m.pat, m.rep), r.n_words, r.i + 1
      FROM bpe_rec r JOIN bpe_m m ON m.rnk = r.i
    )
    SELECT doc_id,
           CAST((length(seq) - length(replace(seq, '|', ''))) / 2
                - n_words AS BIGINT)
    FROM bpe_rec WHERE i = {SEED_N_MERGES} ORDER BY doc_id
    """
    oracle = dict(con.execute(sql).fetchall())
    for i, t in enumerate(texts):
        kern = sum(len(encode_word(w, ranks)) for w in t.split(" "))
        assert oracle[i] == kern, (t, oracle[i], kern)
