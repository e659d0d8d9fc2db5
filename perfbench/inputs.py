"""Seeded benchmark inputs.

The program receives only what these functions generate; the same seed
always gives the same inputs.

- ``nquads_lines``: a set of distinct N-Quads statements with a seeded
  share of blank-node subjects and of typed and language-tagged
  literals, spread over the default graph and a few named graphs.
  Every blank node carries one literal no other blank node has, so no
  two blank nodes are automorphic and the isomorphism compare's
  refinement settles every label.
- ``kg_sample``: a seeded sample of the synthetic source corpus
  (``cli_spark.corpus.generate_repos``) together with the closed-form
  triple set extraction must produce for exactly those rows.
"""

from __future__ import annotations

import hashlib
import random

EX = "http://example.org/"
XSD = "http://www.w3.org/2001/XMLSchema#"
# The term mix below is not taken from any real dataset and has not been
# checked against one. The shares only make sure that each term kind the
# codec and the isomorphism compare handle specially (blank nodes, typed
# literals, language tags, named graphs) occurs often enough to do real
# work; they are not a claim about representative RDF.
N_PREDICATES = 24
N_GRAPHS = 4
BNODE_SHARE = 0.12
TYPED_SHARE = 0.2
LANG_SHARE = 0.15
# label namespace of blank nodes and subject IRIs
TAG = "a"
# share of corpus files kept by kg_sample
KEEP = 0.8
DATATYPES = (
    XSD + "integer", XSD + "decimal", XSD + "date", XSD + "boolean",
    EX + "dt/celsius",
)
LANGS = ("en", "de", "fr-CA", "ja")


def _typed_value(rng: random.Random, dt: str) -> str:
    if dt.endswith("integer"):
        return str(rng.randrange(-10**6, 10**6))
    if dt.endswith("decimal") or dt.endswith("celsius"):
        return f"{rng.randrange(-10**5, 10**5) / 100:.2f}"
    if dt.endswith("date"):
        return f"{rng.randrange(1990, 2030)}-{rng.randrange(1, 13):02d}-{rng.randrange(1, 29):02d}"
    return rng.choice(("true", "false"))


def nquads_lines(seed: int, n: int) -> list[str]:
    """``n`` distinct N-Quads lines (without newlines), seeded."""
    rng = random.Random(f"{seed}/{TAG}")
    graphs = [None] + [f"<{EX}g/{k}>" for k in range(N_GRAPHS)]
    lines: list[str] = []
    seen: set[str] = set()
    n_subjects = max(1, n // 6)
    bnodes: list[str] = []
    while len(lines) < n:
        s_idx = rng.randrange(n_subjects)
        graph = graphs[s_idx % len(graphs)]
        g = f" {graph}" if graph else ""
        if rng.random() < BNODE_SHARE:
            label = f"_:{TAG}b{len(bnodes)}"
            bnodes.append(label)
            line = f'{label} <{EX}p/id> "{TAG}-{seed}-{len(bnodes)}"{g} .'
        else:
            subj = f"<{EX}{TAG}/s/{s_idx}>"
            pred = f"<{EX}p/{rng.randrange(N_PREDICATES)}>"
            r = rng.random()
            if r < TYPED_SHARE:
                dt = rng.choice(DATATYPES)
                obj = f'"{_typed_value(rng, dt)}"^^<{dt}>'
            elif r < TYPED_SHARE + LANG_SHARE:
                obj = f'"label {rng.randrange(10**6)}"@{rng.choice(LANGS)}'
            elif r < 0.5:
                obj = f'"text {rng.randrange(10**7)} of {TAG}"'
            elif bnodes and r < 0.6:
                obj = rng.choice(bnodes)
            else:
                obj = f"<{EX}{TAG}/s/{rng.randrange(n_subjects)}>"
            line = f"{subj} {pred} {obj}{g} ."
        if line not in seen:
            seen.add(line)
            lines.append(line)
    return lines


def write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")


def statement_digest(lines) -> tuple[int, int]:
    """Order-independent digest of N-Quads lines: (count, sum of 64-bit
    hashes mod 2**64). Blank lines are skipped; whitespace around a line
    is not significant."""
    count = 0
    total = 0
    for line in lines:
        line = line.strip()
        if not line:
            continue
        count += 1
        h = hashlib.blake2b(line.encode("utf-8"), digest_size=8).digest()
        total = (total + int.from_bytes(h, "little")) % 2**64
    return count, total


def combine_digests(*digests: tuple[int, int]) -> tuple[int, int]:
    return (
        sum(d[0] for d in digests),
        sum(d[1] for d in digests) % 2**64,
    )


def kg_sample(spark, seed: int, n_files: int):
    """(repos, expected) for a seeded sample of the synthetic corpus.

    The corpus over ``n_files`` file indices is generated once, then a
    seeded hash of (repo, path) keeps about ``KEEP`` of the files with
    all their commits. ``expected`` is the closed-form triple set
    (``corpus.expected_triples``) restricted to the kept rows."""
    from pyspark.sql import functions as F

    from cli_spark.corpus import expected_triples, generate_repos

    def kept(repo_col, path_col):
        h = F.xxhash64(F.lit(seed), repo_col, path_col)
        return F.pmod(h, F.lit(10_000)) < F.lit(int(KEEP * 10_000))

    repos = generate_repos(spark, n_files).filter(kept(F.col("repo"), F.col("path")))
    expected = expected_triples(spark, n_files).filter(
        kept(F.col("src_repo"), F.col("src_path"))
    )
    return repos, expected
