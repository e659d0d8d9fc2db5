"""Deterministic synthetic source-code corpus (FIXTURES.md §1).

Generates the Iceberg-shaped input table mandated by BASELINE.json
``input_hint``::

    repos(repo string, path string, commit string, lang string, content string)

plus a ``content_sha`` lineage column, entirely with columnar Spark
expressions over ``spark.range`` — a pure function of (seed, n_files)
with NO driver-side loops, so the same generator scales from the 200-file
unit fixture to a 10^12-row cluster run (it is just `range → project`).

Every extractable mention in ``content`` is derived arithmetically from
the file index, so the *expected* triple set is computable in closed
form (:func:`expected_triples`) without parsing — that is the ground
truth for the extraction P/R gate (mirrors the reference's synthetic
DataGenHelper strategy, /root/reference/src/test/scala/.../helpers/
DataGenHelper.scala:23-55).

Planted structure:
- **Skew**: one mega-repo (``org0/mega``) holds ~30% of files, to
  exercise salting + AQE skew-join handling (FIXTURES.md §1).
- **Cross-file references**: file ``i`` provides module ``m{i % M}``
  and imports modules provided by other files — drives entity linking
  and connected components with known ground truth.
- **Near-duplicates**: every file with ``i % 10 == 0`` has a clone
  (same mentions, one filler line changed) planted at ``i + n_files``
  in a different repo — the MinHash-LSH linking stage must find these
  (orig ``i``, clone ``i + n_files``) pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

SEED = 42
N_MODULES = 50  # module name pool m0..m49
N_SYMBOLS = 40  # symbol name pool f0..f39 / C0..C39
LANGS = ["python", "scala", "javascript"]
EXTS = {"python": "py", "scala": "scala", "javascript": "js"}

# Fixed IRI vocabulary (FIXTURES.md §2).
KG = "kg:"
PRED_HAS_FILE = "kg:hasFile"
PRED_AT_COMMIT = "kg:atCommit"
PRED_IN_LANG = "kg:inLang"
PRED_IMPORTS = "kg:imports"
PRED_PROVIDES = "kg:providesModule"
PRED_DEFINES = "kg:defines"
PRED_USES = "kg:uses"
PRED_SAME_AS = "kg:sameAs"

# obj_kind taxonomy (reference NodeDetailInfo, MetricsPrinter.scala:128-134)
KIND_IRI = 0
KIND_BNODE = 1
KIND_LITERAL = 2
KIND_QUOTED = 3


def _mix(i: Column, a: int, b: int, m: int) -> Column:
    """Deterministic index mixer: (i*a + b) mod m — closed-form, columnar."""
    return F.pmod(i * F.lit(a) + F.lit(b), F.lit(m))


def _base_cols(df: DataFrame) -> DataFrame:
    """Derive repo/path/lang/identity columns from the file index ``i``.

    ``i`` may exceed n_files for clone rows; ``orig`` is the index whose
    mention-arithmetic the content embeds (clones share mentions).
    """
    i = F.col("i")
    orig = F.col("orig")
    # Zipf-ish skew: ~30% of files land in one mega-repo.
    bucket = F.pmod(i * F.lit(2654435761), F.lit(1000))
    repo = F.when(bucket < 300, F.lit("org0/mega")).otherwise(
        F.format_string("org%d/repo%d", (bucket % 7).cast("int"), (bucket % 53).cast("int"))
    )
    lang_idx = F.pmod(orig, F.lit(3)).cast("int")
    lang = F.element_at(F.lit(LANGS), lang_idx + 1)
    ext = F.element_at(F.lit([EXTS[l] for l in LANGS]), lang_idx + 1)
    depth_part = F.when(
        F.pmod(i, F.lit(4)) < 2, F.format_string("pkg%d", _mix(i, 3, 0, 20).cast("int"))
    ).otherwise(
        F.format_string(
            "pkg%d/sub%d", _mix(i, 3, 0, 20).cast("int"), _mix(i, 5, 1, 7).cast("int")
        )
    )
    path = F.format_string("src/%s/file%d.%s", depth_part, i.cast("int"), ext)
    n_commits = (F.pmod(orig, F.lit(3)) + 1).cast("int")
    return (
        df.withColumn("repo", repo)
        .withColumn("lang", lang)
        .withColumn("path", path)
        .withColumn("n_commits", n_commits)
    )


def _mention_cols(df: DataFrame) -> DataFrame:
    """Closed-form mention arithmetic shared by generator and oracle.

    file orig=i: imports modules m{(i*13 + k*7) % M} for k in 0..(i%4),
    provides module m{i % M}, defines f{(i*3) % S} and C{(i*5) % S},
    uses (calls) f{(i*11 + 1) % S}.
    """
    i = F.col("orig")
    n_imp = (F.pmod(i, F.lit(4)) + 1).cast("int")
    imports = F.transform(
        F.sequence(F.lit(0), n_imp - 1),
        lambda k: F.format_string("m%d", _mix(i * 13 + k * 7, 1, 0, N_MODULES).cast("int")),
    )
    return (
        df.withColumn("imports", imports)
        .withColumn("provides", F.format_string("m%d", F.pmod(i, F.lit(N_MODULES)).cast("int")))
        .withColumn("def_fn", F.format_string("f%d", _mix(i, 3, 0, N_SYMBOLS).cast("int")))
        .withColumn("def_cls", F.format_string("C%d", _mix(i, 5, 0, N_SYMBOLS).cast("int")))
        .withColumn("use_fn", F.format_string("f%d", _mix(i, 11, 1, N_SYMBOLS).cast("int")))
    )


def _content_col() -> Column:
    """Render source text per language embedding exactly the planted mentions.

    Filler lines are index-dependent so files differ; clone rows
    (is_clone) change one filler token only — near-dup, same mentions.
    """
    i, orig = F.col("i"), F.col("orig")
    imports_py = F.concat_ws(
        "\n", F.transform(F.col("imports"), lambda m: F.concat(F.lit("import "), m))
    )
    imports_scala = F.concat_ws(
        "\n", F.transform(F.col("imports"), lambda m: F.concat(F.lit("import lib."), m))
    )
    imports_js = F.concat_ws(
        "\n",
        F.transform(
            F.col("imports"), lambda m: F.format_string("const %s = require('%s')", m, m)
        ),
    )
    # Filler lines carry pseudo-random words from a 4096-word vocabulary
    # (arithmetic in (orig, k)), so distinct files share few shingles —
    # realistic near-dup statistics. Clones change ONLY the last filler
    # line, staying a true near-duplicate (high Jaccard) the MinHash-LSH
    # stage must recover.
    n_filler = (F.pmod(orig * 17, F.lit(40)) + 10).cast("int")

    def filler_line(k: Column) -> Column:
        # xxhash64 for real avalanche mixing — linear-congruential words
        # collide in whole lines across files (same AP step mod vocab).
        words = [
            F.format_string(
                "w%d",
                F.pmod(
                    F.xxhash64(F.format_string("%d_%d_%d", orig.cast("int"), k.cast("int"), F.lit(j))),
                    F.lit(4096),
                ).cast("int"),
            )
            for j in range(5)
        ]
        return F.format_string(
            "# %s %s %s %s %s %s",
            F.when(F.col("is_clone") & (k == n_filler), F.lit("clonefiller")).otherwise(
                F.lit("note")
            ),
            *words,
        )

    filler = F.concat_ws(
        "\n", F.transform(F.sequence(F.lit(1), n_filler), filler_line)
    )
    py = F.format_string(
        '"""module %s (file %d)"""\n%s\n\n\ndef %s(x):\n    return %s(x) + 1\n\n\nclass %s:\n    pass\n\n%s\n',
        F.col("provides"),
        orig.cast("int"),
        imports_py,
        F.col("def_fn"),
        F.col("use_fn"),
        F.col("def_cls"),
        filler,
    )
    scala = F.format_string(
        "package %s\n%s\n\nobject %s {\n  def %s(x: Int): Int = %s(x) + 1\n}\n\nclass %s\n\n%s\n",
        F.col("provides"),
        imports_scala,
        F.col("def_cls"),
        F.col("def_fn"),
        F.col("use_fn"),
        F.col("def_cls"),
        filler,
    )
    js = F.format_string(
        "// module %s (file %d)\n%s\n\nfunction %s(x) { return %s(x) + 1 }\n\nclass %s {}\n\nmodule.exports = { %s }\n\n%s\n",
        F.col("provides"),
        orig.cast("int"),
        imports_js,
        F.col("def_fn"),
        F.col("use_fn"),
        F.col("def_cls"),
        F.col("def_fn"),
        filler,
    )
    return (
        F.when(F.col("lang") == "python", py)
        .when(F.col("lang") == "scala", scala)
        .otherwise(js)
    )


def _with_commits(df: DataFrame) -> DataFrame:
    """Explode 1..n_commits commit versions per file; commit id is a
    sha1-shaped hex digest of (repo, path, k) — deterministic."""
    df = df.withColumn("k", F.explode(F.sequence(F.lit(1), F.col("n_commits"))))
    commit = F.substring(
        F.sha2(F.format_string("%s/%s@%d", F.col("repo"), F.col("path"), F.col("k")), 256),
        1,
        40,
    )
    # Later commits append a trailer comment — content differs per commit.
    content = F.when(
        F.col("k") == 1, F.col("content0")
    ).otherwise(F.format_string("%s# rev %d\n", F.col("content0"), F.col("k").cast("int")))
    return df.withColumn("commit", commit).withColumn("content", content)


def _indexed(spark: SparkSession, n_files: int, partitions: int | None = None) -> DataFrame:
    base = spark.range(0, n_files, numPartitions=partitions).select(
        F.col("id").alias("i"), F.col("id").alias("orig"), F.lit(False).alias("is_clone")
    )
    clones = (
        spark.range(0, n_files, numPartitions=partitions)
        .filter(F.pmod(F.col("id"), F.lit(10)) == 0)
        .select(
            (F.col("id") + n_files).alias("i"),
            F.col("id").alias("orig"),
            F.lit(True).alias("is_clone"),
        )
    )
    return base.unionByName(clones)


def generate_repos(
    spark: SparkSession, n_files: int, partitions: int | None = None
) -> DataFrame:
    """The input table: (repo, path, commit, lang, content, content_sha).

    Row count = sum over files of n_commits, plus clone rows (~10%).
    """
    df = _mention_cols(_base_cols(_indexed(spark, n_files, partitions)))
    df = df.withColumn("content0", _content_col())
    df = _with_commits(df)
    return df.select(
        "repo",
        "path",
        "commit",
        "lang",
        "content",
        F.sha2(F.col("content"), 256).alias("content_sha"),
    )


def expected_triples(
    spark: SparkSession, n_files: int, partitions: int | None = None
) -> DataFrame:
    """Golden triples (closed form, no parsing) — FIXTURES.md §2 schema:
    (subj, pred, obj, obj_kind, graph, src_repo, src_path, src_commit)."""
    df = _mention_cols(_base_cols(_indexed(spark, n_files, partitions)))
    df = df.withColumn("content0", F.lit(""))  # commits only need ids
    df = _with_commits(df).drop("content")
    file_iri = F.format_string("kg:file/%s/%s@%s", F.col("repo"), F.col("path"), F.col("commit"))
    repo_iri = F.format_string("kg:repo/%s", F.col("repo"))
    lang_iri = F.format_string("kg:lang/%s", F.col("lang"))
    sym = lambda name: F.format_string("kg:sym/%s/%s", F.col("lang"), name)  # noqa: E731
    mod = lambda name: F.concat(F.lit("kg:mod/"), name)  # noqa: E731

    def t(pred: str, obj: Column, kind: int) -> Column:
        return F.struct(
            F.lit(pred).alias("pred"), obj.alias("obj"), F.lit(kind).cast("int").alias("obj_kind")
        )

    fixed = F.array(
        t(PRED_AT_COMMIT, F.col("commit"), KIND_LITERAL),
        t(PRED_IN_LANG, lang_iri, KIND_IRI),
        t(PRED_PROVIDES, mod(F.col("provides")), KIND_IRI),
        t(PRED_DEFINES, sym(F.col("def_fn")), KIND_IRI),
        t(PRED_DEFINES, sym(F.col("def_cls")), KIND_IRI),
        t(PRED_USES, sym(F.col("use_fn")), KIND_IRI),
    )
    imports = F.transform(F.col("imports"), lambda m: t(PRED_IMPORTS, mod(m), KIND_IRI))
    exploded = df.select(
        file_iri.alias("subj"),
        repo_iri.alias("repo_iri"),
        F.col("repo").alias("src_repo"),
        F.col("path").alias("src_path"),
        F.col("commit").alias("src_commit"),
        F.explode(F.concat(fixed, imports)).alias("m"),
    )
    file_triples = exploded.select(
        "subj",
        F.col("m.pred").alias("pred"),
        F.col("m.obj").alias("obj"),
        F.col("m.obj_kind").alias("obj_kind"),
        "src_repo",
        "src_path",
        "src_commit",
    )
    has_file = df.select(
        repo_iri.alias("subj"),
        F.lit(PRED_HAS_FILE).alias("pred"),
        file_iri.alias("obj"),
        F.lit(KIND_IRI).alias("obj_kind"),
        F.col("repo").alias("src_repo"),
        F.col("path").alias("src_path"),
        F.col("commit").alias("src_commit"),
    )
    out = file_triples.unionByName(has_file)
    return out.withColumn(
        "graph", F.format_string("kg:graph/%s", F.col("src_repo"))
    )
