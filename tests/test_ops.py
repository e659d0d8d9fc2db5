"""Training-data operators: similarity search, text stats, multimodal
plumbing, span dedup — correctness on constructed fixtures."""

from __future__ import annotations

import pytest

from cli_spark.ops import dedup as D
from cli_spark.ops import multimodal as MM
from cli_spark.ops import simsearch as S
from cli_spark.ops import textstats as T


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog " * 20
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("lazy", "sleepy", 1)),  # near dup of 0
        (3, "completely different text about spark shuffles and joins " * 18),
        (4, "el rapido zorro marron salta sobre el perro perezoso de la casa " * 15),
        (5, "short text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


@pytest.fixture(scope="module")
def vectors(spark):
    import math

    rows = []
    for i in range(40):
        angle = (i % 8) / 8.0 * math.pi  # 8 direction clusters in 2D-ish space
        v = [math.cos(angle), math.sin(angle)] + [((i * j) % 7 - 3) / 10.0 for j in range(6)]
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


def test_cosine_topk_exact(spark, vectors):
    out = S.cosine_topk(vectors.filter("vec_id < 3"), vectors, k=3)
    rows = out.collect()
    assert {r.query_id for r in rows} == {0, 1, 2}
    for r in rows:
        assert -1.0001 <= r.cosine <= 1.0001
    per_q = {q: [r for r in rows if r.query_id == q] for q in (0, 1, 2)}
    for q, rs in per_q.items():
        assert [r.rnk for r in sorted(rs, key=lambda r: r.rnk)] == [1, 2, 3]
        sims = [r.cosine for r in sorted(rs, key=lambda r: r.rnk)]
        assert sims == sorted(sims, reverse=True)


def test_ivf_topk_runs(spark, vectors):
    out = S.ivf_topk(vectors.filter("vec_id < 3"), vectors, k=3, n_cells=4, n_probe=2)
    assert out.count() > 0


def test_ivf_topk_recall(spark, vectors):
    """Real-IVF recall gate vs the exact brute force: probing half the
    cells on clustered data must recover most of the true top-k."""
    exact = S.cosine_topk(vectors.filter("vec_id < 5"), vectors, k=3)
    approx = S.ivf_topk(
        vectors.filter("vec_id < 5"), vectors, k=3, n_cells=6, n_probe=3,
        lloyd_rounds=1,
    )
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, recall


def test_seeded_centroids_deterministic(spark, vectors):
    a = {r.cell_id for r in S.seeded_centroids(vectors, 4).collect()}
    b = {r.cell_id for r in S.seeded_centroids(vectors, 4).collect()}
    assert a == b and len(a) == 4


def test_assign_cells_partitions_corpus(spark, vectors):
    cents = S.seeded_centroids(vectors, 4)
    cells = S.assign_cells(vectors, cents)
    assert cells.count() == vectors.count()  # every vector exactly one cell
    assert cells.select("cell_id").distinct().count() <= 4


def test_token_counts(spark, docs):
    out = {r.id: r for r in T.text_stats(docs, "doc_id", "text").collect()}
    assert out[5].n_ws_tokens == 2
    assert out[5].n_bpe_tokens == 2
    assert out[5].n_chars == len("short text")


def test_language_scores(spark, docs):
    out = {r.id: r for r in T.text_stats(docs, "doc_id", "text").collect()}
    assert out[0].guessed_lang == "en" and out[0].en_hits > 0
    assert out[4].guessed_lang == "es" and out[4].es_hits > 0


def test_quality_scores(spark, docs):
    out = {r.id: r for r in T.text_stats(docs, "doc_id", "text").collect()}
    assert out[5].n_tokens == 2
    assert out[5].avg_token_len == 4.5  # "short"(5) "text"(4)
    assert 0 <= out[0].stopword_ratio <= 1


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "gamma beta alpha"), (2, "alpha beta gamma")],
        "doc_id long, text string",
    )
    fp = {r.id: r.fingerprint for r in T.text_stats(df, "doc_id", "text").collect()}
    assert fp[0] == fp[2]
    assert fp[0] != fp[1]  # same multiset, different order


def test_multimodal_plumbing(spark, docs):
    blobs = MM.binarize(docs, "doc_id", "text").cache()
    meta = {r.id: r for r in MM.attach_metadata(blobs).collect()}
    assert meta[5].n_bytes == len("short text")
    assert len(meta[5].sha256) == 64
    assert meta[0].sha256 == meta[1].sha256  # same bytes, same digest
    assert meta[0].sha256 != meta[2].sha256


def test_textstats_invariants_randomized(spark):
    """Quality/language/token stats hold their documented invariants on
    200 seeded-random unicode documents (ratios in [0, 1], counts
    consistent) — the columnar expressions can't go out of range on
    adversarial input."""
    import random

    rng = random.Random(99)
    alphabet = "abc DEF .,!?\n\t éßñ 中文 0123 \"'\\"
    rows = [
        (i, "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 200))))
        for i in range(200)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    q = T.text_stats(docs, "doc_id", "text").collect()
    assert len(q) == 200
    for r in q:
        assert r.n_chars >= 0 and r.n_tokens >= 0
        for ratio in (r.punct_ratio, r.stopword_ratio, r.upper_ratio):
            assert ratio is None or 0.0 <= ratio <= 1.0
        if r.n_tokens:
            assert r.avg_token_len > 0
    by_id = {r.id: r for r in q}
    for i, text in rows:
        assert by_id[i].n_ws_tokens == len(text.split())


def _spans_reference(texts: dict[int, str], k: int) -> dict[int, tuple]:
    """Independent pure-Python span dedup: brute-force gram index +
    interval merge, no Spark/SQL shared code paths."""
    toks = {i: [t for t in txt.split() if t] for i, txt in texts.items()}
    owners: dict[tuple, set] = {}
    for i, ts in toks.items():
        for j in range(len(ts) - k + 1):
            owners.setdefault(tuple(ts[j : j + k]), set()).add(i)
    out = {}
    for i, ts in toks.items():
        hit = [
            j + 1
            for j in range(len(ts) - k + 1)
            if len(owners[tuple(ts[j : j + k])]) > 1
        ]
        spans, covered, end = 0, 0, -1
        for p in hit:
            if p > end:
                spans, covered = spans + 1, covered + k
            else:
                covered += p + k - 1 - end
            end = p + k - 1
        n = len(ts)
        out[i] = (n, spans, covered, covered / n if n else 0.0)
    return out


def test_duplicate_spans_differential(spark):
    import random

    rng = random.Random(1234)
    vocab = [f"w{i}" for i in range(30)]
    boiler = " ".join(rng.choice(vocab) for _ in range(12))
    texts = {}
    for i in range(40):
        words = [rng.choice(vocab) for _ in range(rng.randint(0, 60))]
        if i % 3 == 0:  # plant shared boilerplate mid-document
            at = rng.randint(0, len(words)) if words else 0
            words[at:at] = boiler.split()
        texts[i] = " ".join(words)
    texts[40] = ""  # empty doc edge
    texts[41] = "one two three"  # shorter than k
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {
        r.id: (r.n_tokens, r.dup_spans, r.dup_tokens, r.dup_ratio)
        for r in D.duplicate_spans(df, "doc_id", "text", k=8).collect()
    }
    want = _spans_reference(texts, 8)
    assert set(got) == set(want)
    for i in want:
        assert got[i] == want[i], f"doc {i}: {got[i]} != {want[i]}"
    # the planted boilerplate must actually be flagged in every carrier
    carriers = [i for i in range(40) if i % 3 == 0]
    assert all(got[i][1] >= 1 for i in carriers)


def test_duplicate_spans_overlap_merge(spark):
    # two docs sharing a 10-token run: 8-grams at idx p and p+2 overlap
    # and must merge into ONE span covering exactly 10 tokens
    run = " ".join(f"s{i}" for i in range(10))
    df = spark.createDataFrame(
        [(0, "a b c " + run + " x y z"), (1, run + " q r")],
        "doc_id long, text string",
    )
    got = {
        r.id: (r.dup_spans, r.dup_tokens)
        for r in D.duplicate_spans(df, "doc_id", "text", k=8).collect()
    }
    assert got[0] == (1, 10) and got[1] == (1, 10)
