"""Stage 1 — mention extraction: source files → (subj, pred, obj) triples.

The reference's analog is the push-parser stage of ``rdf to-jelly``
(tokenizer → statements, /root/reference/src/main/scala/eu/neverblink/
jelly/cli/util/jena/riot/RiotParserUtil.scala:14-40). Here the "parse"
is per-language mention detection over file content, emitting entity
triples (repo, file, commit, import, symbol-def/use) with the fixed
vocabulary of :mod:`cli_spark.corpus`.

Extraction is ``regexp_extract_all`` columnar expressions —
whole-stage-codegen'd, zero Python in the hot path: the scan, regex,
explode and dedup all stay JVM-side and pipeline inside one stage.
The regex set is the stand-in for real per-language tokenizers.

Output schema (FIXTURES.md §2): subj, pred, obj, obj_kind, graph,
src_repo, src_path, src_commit. Triples are set-semantics, matching
Jena's DatasetGraph-is-a-set behavior (StreamRdfBatchWriter.scala:18-19)
— enforced row-locally (see extract_triples), not with a global shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .corpus import (
    KIND_IRI,
    KIND_LITERAL,
    PRED_AT_COMMIT,
    PRED_DEFINES,
    PRED_HAS_FILE,
    PRED_IMPORTS,
    PRED_IN_LANG,
    PRED_PROVIDES,
    PRED_USES,
)

# (mention_type, regex-with-one-capture-group) per language. Multiline
# anchors via inline (?m). These are the "per-lang regex extractors" of
# the north rule; an AST-token extractor slots in per language without
# touching the pipeline (same mention_type vocabulary).
LANG_PATTERNS: dict[str, list[tuple[str, str]]] = {
    "python": [
        ("provides", r'(?m)^"""module (\w+)'),
        ("imports", r"(?m)^import (\w+)$"),
        ("imports", r"(?m)^from (\w+) import"),
        ("defines", r"(?m)^def (\w+)\("),
        ("defines", r"(?m)^class (\w+)[:(]"),
        ("uses", r"(?m)return (\w+)\("),
    ],
    "scala": [
        ("provides", r"(?m)^package (\w+)"),
        ("imports", r"(?m)^import lib\.(\w+)"),
        ("defines", r"(?m)\bdef (\w+)\("),
        ("defines", r"(?m)^(?:object|class) (\w+)"),
        ("uses", r"(?m)= (\w+)\("),
    ],
    "javascript": [
        ("provides", r"(?m)^// module (\w+)"),
        ("imports", r"require\('(\w+)'\)"),
        ("imports", r"(?m)^import (?:\w+) from '(\w+)'"),
        ("defines", r"(?m)^function (\w+)\("),
        ("defines", r"(?m)^class (\w+)"),
        ("uses", r"(?m)return (\w+)\("),
    ],
}


def extract_mentions(repos: DataFrame) -> DataFrame:
    """(repo, path, commit, lang, mention_type, name) — one row per hit.

    One regexp_extract_all per pattern, concatenated per language,
    exploded once. All JVM-side."""
    def one_pattern(mtype: str, rx: str) -> Column:
        # NB: the lambda must be unary — F.transform passes (elem, idx)
        # to two-arg lambdas, so a default-arg closure would capture the
        # index column instead of the Python string.
        return F.transform(
            F.regexp_extract_all(F.col("content"), F.lit(rx), F.lit(1)),
            lambda name: F.struct(F.lit(mtype).alias("mention_type"), name.alias("name")),
        )

    per_lang = []
    for lang, patterns in LANG_PATTERNS.items():
        arrays = [one_pattern(mtype, rx) for mtype, rx in patterns]
        # per-row dedup (array_distinct) — set semantics without a
        # shuffle; see extract_triples for why row-local is sufficient
        per_lang.append((lang, F.array_distinct(F.concat(*arrays))))
    mentions_col = None
    for lang, arr in per_lang:
        clause = F.when(F.col("lang") == lang, arr)
        mentions_col = clause if mentions_col is None else mentions_col.when(
            F.col("lang") == lang, arr
        )
    return repos.select(
        "repo",
        "path",
        "commit",
        "lang",
        F.explode(mentions_col).alias("m"),
    ).select("repo", "path", "commit", "lang", "m.mention_type", "m.name")


def _file_iri() -> Column:
    return F.format_string("kg:file/%s/%s@%s", F.col("repo"), F.col("path"), F.col("commit"))


def extract_triples(repos: DataFrame) -> DataFrame:
    """Full stage-1 output: metadata triples (columnar, no parsing) ∪
    mention triples (the regex extractor above), deduplicated.

    Scale notes: the metadata arm is a pure projection; the mention arm
    is scan → regex → explode (no shuffle until the final dedup, which
    is a hash-aggregate on the natural output partitioning).
    """
    file_iri = _file_iri()
    repo_iri = F.format_string("kg:repo/%s", F.col("repo"))
    meta = repos.select(
        F.explode(
            F.array(
                F.struct(
                    repo_iri.alias("subj"),
                    F.lit(PRED_HAS_FILE).alias("pred"),
                    file_iri.alias("obj"),
                    F.lit(KIND_IRI).alias("obj_kind"),
                ),
                F.struct(
                    file_iri.alias("subj"),
                    F.lit(PRED_AT_COMMIT).alias("pred"),
                    F.col("commit").alias("obj"),
                    F.lit(KIND_LITERAL).alias("obj_kind"),
                ),
                F.struct(
                    file_iri.alias("subj"),
                    F.lit(PRED_IN_LANG).alias("pred"),
                    F.format_string("kg:lang/%s", F.col("lang")).alias("obj"),
                    F.lit(KIND_IRI).alias("obj_kind"),
                ),
            )
        ).alias("t"),
        F.col("repo").alias("src_repo"),
        F.col("path").alias("src_path"),
        F.col("commit").alias("src_commit"),
    ).select("t.subj", "t.pred", "t.obj", "t.obj_kind", "src_repo", "src_path", "src_commit")

    mentions = extract_mentions(repos)
    pred = (
        F.when(F.col("mention_type") == "imports", F.lit(PRED_IMPORTS))
        .when(F.col("mention_type") == "provides", F.lit(PRED_PROVIDES))
        .when(F.col("mention_type") == "defines", F.lit(PRED_DEFINES))
        .otherwise(F.lit(PRED_USES))
    )
    obj = F.when(
        F.col("mention_type").isin("imports", "provides"),
        F.concat(F.lit("kg:mod/"), F.col("name")),
    ).otherwise(F.format_string("kg:sym/%s/%s", F.col("lang"), F.col("name")))
    mention_triples = mentions.select(
        _file_iri().alias("subj"),
        pred.alias("pred"),
        obj.alias("obj"),
        F.lit(KIND_IRI).alias("obj_kind"),
        F.col("repo").alias("src_repo"),
        F.col("path").alias("src_path"),
        F.col("commit").alias("src_commit"),
    )
    # Set semantics WITHOUT a global dropDuplicates shuffle: every triple
    # carries (src_repo, src_path, src_commit), and that provenance key is
    # unique per source row — so duplicates can only arise within one row
    # (a mention matched twice in the same file). Those are removed
    # row-locally (array_distinct in extract_mentions), which makes
    # extraction a pure narrow map: at corpus scale this is the
    # difference between shuffling the whole triple table once and not
    # shuffling at all.
    out = meta.unionByName(mention_triples)
    return out.withColumn("graph", F.format_string("kg:graph/%s", F.col("src_repo")))
