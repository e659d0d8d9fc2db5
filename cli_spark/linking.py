"""Stage 2 — entity linking: MinHash-LSH candidate generation + salted
hash-join scoring (SURVEY.md §2.3 J4, BASELINE.json north_star).

Two linkers:

- :func:`link_near_dup_files` — content near-duplicate detection.
  shingle → minhash → band → bucket-join → signature-agreement scoring,
  emitting ``kg:sameAs`` triples between file IRIs. This is the LSH
  showcase; ground truth is the planted clone pairs
  (:func:`cli_spark.corpus.expected_dup_pairs`).
- :func:`link_modules_cross_lang` — exact-name module linking across
  languages (equi-join on the module local name) — the cheap path that
  needs no sketch.

Scale design (the part that must survive 100 TB):
- Signatures are a **zero-shuffle narrow map**: per-row shingle-hash
  arrays (``xxhash64``, JVM codegen) feed an Arrow-native kernel that
  computes all K permutation-mins per document inside the batch —
  no (file, shingle) explosion, no distinct, no groupBy. The widest
  intermediate never leaves the task.
- Banding self-join is an equi-join on (band_id, band_hash); **hot
  buckets are capped** (a bucket with B members yields B² pairs — a
  degenerate near-identical cluster; we keep the first MAX_BUCKET
  members by file id, which still links every member transitively
  through the kept ones via connected components downstream).
- Pair scoring re-joins candidates to the signature table on a salted
  key (file id is already high-cardinality; AQE skew-join handles
  residual skew from mega-repos).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .corpus import KIND_IRI, PRED_SAME_AS

NUM_PERM = 32
BAND_ROWS = 4  # 8 bands × 4 rows
SHINGLE_WORDS = 3
MAX_BUCKET = 20
# Mersenne prime 2^31-1: base hashes are reduced onto the FULL domain
# [0, p) so the linear map a*h+b mod p wraps ~a times — a proper
# 2-universal permutation. (With h in a small sub-range of a large
# modulus the map is piecewise-monotone and min-hash degenerates to
# "globally smallest h wins every permutation".)
MERSENNE = (1 << 31) - 1

# Deterministic (a, b) permutation parameters — fixed seed 42 expansion
# via a simple LCG so the pipeline is reproducible without RNG at runtime.
def _perm_params(n: int = NUM_PERM, seed: int = 42) -> list[tuple[int, int]]:
    params = []
    state = seed
    for _ in range(n):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % (MERSENNE - 1)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % MERSENNE
        params.append((a, b))
    return params


def shingle_hash_arrays(repos: DataFrame) -> DataFrame:
    """(file_iri, hs: array<long>) — per-row shingle-hash arrays.

    xxhash64 over the word triple directly (no intermediate concat
    string), reduced onto the Mersenne domain. ``words`` is materialized
    as a real column FIRST: referencing the split expression inside the
    transform lambda would re-evaluate the split per array element
    (Catalyst does not CSE through higher-order functions) — quadratic
    in document length.
    """
    file_iri = F.format_string(
        "kg:file/%s/%s@%s", F.col("repo"), F.col("path"), F.col("commit")
    )
    tokenized = repos.select(
        file_iri.alias("file_iri"),
        F.filter(F.split(F.col("content"), r"\s+"), lambda w: w != "").alias("words"),
    )
    words = F.col("words")
    n = F.size(words)
    hashes = F.when(
        n >= SHINGLE_WORDS,
        F.transform(
            F.sequence(F.lit(0), n - SHINGLE_WORDS),
            lambda i: F.pmod(
                F.xxhash64(
                    F.element_at(words, i + 1),
                    F.element_at(words, i + 2),
                    F.element_at(words, i + 3),
                ),
                F.lit(MERSENNE),
            ),
        ),
    ).otherwise(F.array(F.pmod(F.xxhash64(F.concat_ws(" ", words)), F.lit(MERSENNE))))
    return tokenized.select("file_iri", hashes.alias("hs"))


def _sig_arrow_kernel(num_perm: int):
    """Arrow-native signature kernel (mapInArrow): the list<int64> hash
    column is consumed zero-copy — ``values`` is the flat int64 buffer,
    ``offsets`` the row boundaries — so each permutation's linear map is
    one vectorized pass over the flat vector and a segment-min via
    ``np.minimum.reduceat``. ~2x the pandas_udf variant (no per-row
    Series-of-ndarray materialization). uint64 keeps a*h+b (< 2^62)
    exact; every row has >=1 shingle hash so segments are never empty."""
    import numpy as np

    params = _perm_params(num_perm)
    A = np.array([a for a, _ in params], dtype=np.uint64)
    B = np.array([b for _, b in params], dtype=np.uint64)
    P = np.uint64(MERSENNE)

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            iri = batch.column("file_iri")
            hs = batch.column("hs")
            if isinstance(hs, pa.ChunkedArray):
                hs = hs.combine_chunks()
            # slice-safe: keep the FULL offsets array (k+1 entries) and
            # bound the values buffer by offsets[0]..offsets[-1] — a
            # sliced ListArray's `values` is the unsliced buffer, so
            # absolute offsets on len(values) would bleed across rows.
            flat = hs.values.to_numpy(zero_copy_only=False).astype(np.uint64)
            all_offs = hs.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            k = len(all_offs) - 1
            mins = np.empty((num_perm, k), dtype=np.int64)
            # Cache-blocked: process ~512 rows (~a few hundred KB) at a
            # time so the 32 permutation passes read the chunk from L2,
            # not DRAM. The unblocked loop makes 32 full-vector DRAM
            # passes and is memory-bandwidth-bound — measured 2.5x
            # slower single-core and far worse under 16 concurrent
            # workers sharing the memory bus.
            ROWS = 512
            for r0 in range(0, k, ROWS):
                r1 = min(r0 + ROWS, k)
                e0 = all_offs[r0]
                e1 = all_offs[r1]
                seg = flat[e0:e1]
                loffs = all_offs[r0:r1] - e0
                for j in range(num_perm):
                    m = ((A[j] * seg + B[j]) % P).view(np.int64)
                    mins[j, r0:r1] = np.minimum.reduceat(m, loffs)
            sig = pa.ListArray.from_arrays(
                pa.array(np.arange(0, (k + 1) * num_perm, num_perm, dtype=np.int32)),
                pa.array(mins.T.reshape(-1)),
            )
            yield pa.RecordBatch.from_arrays([iri, sig], ["file_iri", "sig"])

    return kernel


def minhash_signatures(repos: DataFrame, num_perm: int = NUM_PERM) -> DataFrame:
    """(file_iri, sig: array<long>) — **zero-shuffle** narrow map.

    MinHash is a per-document reduction, so instead of exploding
    (file, shingle) pairs and groupBy-min-aggregating them (a 10M-row
    shuffle at 20k files; unbounded at 100 TB), the whole signature is
    computed row-local: shingle hashes as a per-row array
    (:func:`shingle_hash_arrays`), then the K permutation-mins in one
    Arrow batch kernel (the north-star's "vectorized pandas/Arrow UDFs"
    path). Duplicate shingles are harmless under MIN, so no
    ``distinct()`` shuffle either.

    Replaces the reference's sequential per-stream dictionary/encoder
    state (RdfToJelly.scala:130-199) shape with stateless per-row
    sketches — no shuffle, no skew, no cross-partition state.
    """
    return shingle_hash_arrays(repos).mapInArrow(
        _sig_arrow_kernel(num_perm), "file_iri string, sig array<long>"
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    band_rows: int = BAND_ROWS,
    id_col: str = "file_iri",
    report: dict | None = None,
) -> DataFrame:
    """(left_id, right_id) candidates sharing >=1 LSH band bucket,
    named (left_<id_col suffix>): pass ``id_col="fid"`` to band/join on
    dense long ids (8-byte shuffle keys) instead of IRI strings.

    Pass ``report={}`` to have the (otherwise silent) MAX_BUCKET cap
    counted: ``report["dropped_band_members"]`` receives the number of
    bucket members excluded from banding (costs one extra count job, so
    it is opt-in, not hot-path default)."""
    num_perm = NUM_PERM
    n_bands = num_perm // band_rows
    left_col = "left_iri" if id_col == "file_iri" else "left_fid"
    right_col = "right_iri" if id_col == "file_iri" else "right_fid"
    bands = sigs.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda b: F.xxhash64(
                    F.concat_ws(
                        ",", F.slice(F.col("sig"), b * band_rows + 1, band_rows)
                    )
                ),
            )
        ).alias("band_id", "band_hash"),
    )
    # Cap degenerate buckets: keep MAX_BUCKET members (ordered by id) —
    # everything in a huge bucket is near-identical; transitive closure
    # downstream reconnects members through the kept representatives.
    from pyspark.sql.window import Window as W

    wb = W.partitionBy("band_id", "band_hash").orderBy(id_col)
    ranked = bands.withColumn("rk", F.row_number().over(wb))
    if report is not None:
        import logging

        dropped = ranked.filter(F.col("rk") > MAX_BUCKET).count()
        report["dropped_band_members"] = dropped
        if dropped:
            logging.getLogger(__name__).warning(
                "LSH banding: %d bucket members beyond MAX_BUCKET=%d were "
                "not banded (transitive closure reconnects them through "
                "the kept representatives)",
                dropped, MAX_BUCKET,
            )
    capped = ranked.filter(F.col("rk") <= MAX_BUCKET)
    left = capped.select("band_id", "band_hash", F.col(id_col).alias(left_col))
    right = capped.select("band_id", "band_hash", F.col(id_col).alias(right_col))
    return (
        left.join(right, ["band_id", "band_hash"])
        .filter(F.col(left_col) < F.col(right_col))
        .select(left_col, right_col)
        .distinct()
    )


def score_pairs(
    candidates: DataFrame,
    sigs: DataFrame,
    threshold: float = 0.7,
    id_col: str = "file_iri",
) -> DataFrame:
    """Signature-agreement scoring: fraction of equal minhash positions
    estimates Jaccard. Two hash-joins against the signature table; AQE
    skew-join splits any residual hot key (mega-repo files)."""
    left_col = "left_iri" if id_col == "file_iri" else "left_fid"
    right_col = "right_iri" if id_col == "file_iri" else "right_fid"
    ls = sigs.select(F.col(id_col).alias(left_col), F.col("sig").alias("lsig"))
    rs = sigs.select(F.col(id_col).alias(right_col), F.col("sig").alias("rsig"))
    scored = (
        candidates.join(ls, left_col)
        .join(rs, right_col)
        .withColumn(
            "score",
            F.size(F.filter(F.zip_with("lsig", "rsig", lambda a, b: a == b), lambda x: x))
            / F.lit(NUM_PERM),
        )
    )
    return scored.filter(F.col("score") >= threshold).select(
        left_col, right_col, "score"
    )


def link_near_dup_files(repos: DataFrame, threshold: float = 0.7) -> DataFrame:
    """sameAs triples between near-duplicate files (FIXTURES.md clones).

    The banding and scoring joins run on **64-bit hashed file ids**
    (xxhash64 of the IRI): the candidate/score shuffles carry 8-byte
    keys instead of ~60-char IRI strings, ~6x less shuffle payload —
    strings reappear only in the final two decode joins. An id collision
    (~1e-9 per pair at 10^9 files) could at worst link two unrelated
    files, the same failure class as an LSH false positive, which the
    scoring threshold already tolerates.
    """
    # Signatures feed both banding sides, both scoring sides and the two
    # IRI-decode joins: checkpoint eagerly so the signature kernel runs
    # once, in one job, before any of them (spills to disk at scale).
    sigs = (
        minhash_signatures(repos)
        .withColumn("fid", F.xxhash64("file_iri"))
        .localCheckpoint()
    )
    pairs = score_pairs(
        lsh_candidate_pairs(sigs, id_col="fid"), sigs, threshold, id_col="fid"
    )
    ids = sigs.select("fid", "file_iri")
    decoded = pairs.join(
        ids.select(F.col("fid").alias("left_fid"), F.col("file_iri").alias("left_iri")),
        "left_fid",
    ).join(
        ids.select(F.col("fid").alias("right_fid"), F.col("file_iri").alias("right_iri")),
        "right_fid",
    )
    return decoded.select(
        F.col("left_iri").alias("subj"),
        F.lit(PRED_SAME_AS).alias("pred"),
        F.col("right_iri").alias("obj"),
        F.lit(KIND_IRI).alias("obj_kind"),
    )


def link_modules_cross_lang(triples: DataFrame) -> DataFrame:
    """Module IRIs are already canonical (kg:mod/{name}) across languages
    in this corpus; symbol IRIs are language-scoped (kg:sym/{lang}/{name}).
    Link same-named symbols across languages: sameAs(kg:sym/a/N, kg:sym/b/N)
    for every pair of langs mentioning N — candidate join on local name.
    """
    syms = (
        triples.filter(F.col("obj").startswith("kg:sym/"))
        .select(F.col("obj").alias("iri"))
        .distinct()
        .withColumn("name", F.element_at(F.split(F.col("iri"), "/"), -1))
    )
    a = syms.select(F.col("iri").alias("subj"), "name")
    b = syms.select(F.col("iri").alias("obj"), "name")
    return (
        a.join(b, "name")
        .filter(F.col("subj") < F.col("obj"))
        .select(
            "subj",
            F.lit(PRED_SAME_AS).alias("pred"),
            "obj",
            F.lit(KIND_IRI).alias("obj_kind"),
        )
    )
