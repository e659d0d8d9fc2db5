"""The benchmark's workloads.

Each workload prepares its inputs in ``setup``, runs one timed iteration
in ``run_once``, checks that iteration's outputs in ``check`` (outside the
timed region), and, for the traced run, calls each layer's public
functions on the same inputs in ``trace_layers``.

- ``kg_build``: ``pipeline.run_kg_pipeline`` with a workdir over a seeded
  sample of the synthetic corpus, so extract, link, canonicalize, the
  lineage check and both materializations (triple table and Jelly frames)
  run. It is the north-star path and the only one that extracts, links
  and canonicalizes; the Jelly encoder is a small share of it.
- ``jelly_codec``: the five ``rdf`` commands called in-process through
  ``cli_spark.__main__.main``: ``to-jelly`` of a seeded N-Quads file,
  ``transcode`` of two streams into one, ``inspect --per-frame --size``,
  ``from-jelly`` to N-Quads and ``validate --compare-to-rdf-file``. It
  carries the codec's write side (parse, encode, id-remap merge) and its read side
  (decode, the physical-type peek, the inspect counters, the N-Quads
  writer and the isomorphism compare) and runs no extraction or linking.
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil
import time

import inputs

# layer -> (what it should move, workloads where it runs); the predicted
# change on every other workload is none. cmd.*_s are the per-command
# times in the report line; on jelly_codec their sum is wall_s.
LAYERS = {
    "extract": ("wall_s, statements_per_s", "kg_build"),
    "linking": ("wall_s, statements_per_s", "kg_build"),
    "canonicalize": ("wall_s, statements_per_s", "kg_build"),
    "pipeline.lineage": ("wall_s, statements_per_s", "kg_build"),
    "pipeline.materialize": ("wall_s, statements_per_s", "kg_build"),
    "jelly.encode": ("cmd.to_jelly_s on jelly_codec; a small share of wall_s on kg_build", "kg_build, jelly_codec"),
    "formats.read": ("cmd.to_jelly_s, cmd.validate_s", "jelly_codec"),
    "jelly.transcode": ("cmd.transcode_s", "jelly_codec"),
    "jelly.io": ("every cmd.*", "jelly_codec"),
    # inspect --size walks the wire bytes and decodes nothing; only
    # from-jelly peeks the physical type
    "jelly.decode": ("cmd.from_jelly_s, cmd.validate_s", "jelly_codec"),
    "jelly.peek": ("cmd.from_jelly_s", "jelly_codec"),
    "inspect_metrics": ("cmd.inspect_s", "jelly_codec"),
    "formats.write": ("cmd.from_jelly_s", "jelly_codec"),
    "compare": ("cmd.validate_s", "jelly_codec"),
}
LAYER_METRICS = (
    ("wall_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("tasks", "count", "lower"),
    ("serial_stages", "count", "lower"),
    ("run_s", "s", "lower"),
    ("cpu_s", "s", "lower"),
    ("offjvm_s", "s", "lower"),
    ("shuffle_mb", "MB", "lower"),
    ("rows_out", "count", "higher"),
)


class Tracer:
    """Runs each layer call under ``sc.setJobGroup(layer)`` and keeps the
    harness-side figures (wall time, rows out) per layer; the Spark-side
    figures come from the event log, folded by the same group ids."""

    def __init__(self, spark):
        self.spark = spark
        self.wall_s: dict[str, float] = {}
        self.rows_out: dict[str, int] = {}
        self._held = []

    def __call__(self, layer: str, fn):
        """Call ``fn`` under ``layer``. A DataFrame result is persisted and
        counted inside the layer, so the next layer reads it from cache and
        each layer is charged only its own work."""
        from pyspark.sql import DataFrame

        sc = self.spark.sparkContext
        sc.setJobGroup(layer, layer)
        t = time.perf_counter()
        try:
            out = fn()
            rows = 0
            if isinstance(out, DataFrame):
                out = out.persist()
                self._held.append(out)
                rows = out.count()
            elif isinstance(out, (list, set, dict)):
                rows = len(out)
        finally:
            self.wall_s[layer] = self.wall_s.get(layer, 0.0) + time.perf_counter() - t
            sc.setJobGroup("harness", "harness")
        self.rows_out[layer] = self.rows_out.get(layer, 0) + rows
        return out

    def release(self):
        for df in self._held:
            df.unpersist()
        self._held.clear()


def _cli(argv: list[str]) -> tuple[int, str]:
    """One ``rdf`` command in-process against the active session, the way
    a fresh CLI process would see it: the session's cache starts empty."""
    from pyspark.sql import SparkSession

    from cli_spark.__main__ import main

    SparkSession.getActiveSession().catalog.clearCache()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf), contextlib.redirect_stderr(buf):
        rc = main(argv)
    return rc, buf.getvalue()


def _part_lines(directory: str) -> list[str]:
    lines: list[str] = []
    for name in sorted(os.listdir(directory)):
        if name.startswith("part-"):
            with open(os.path.join(directory, name), encoding="utf-8") as fh:
                lines.extend(fh.read().splitlines())
    return lines


def jelly_file_lines(path: str) -> list[str]:
    """Statements of a delimited Jelly file as N-Quads lines, decoded in
    the driver by the sequential resolver, with no Spark job."""
    from cli_spark import jellywire as JW

    with open(path, "rb") as fh:
        _, blobs = JW.split_delimited(fh.read())
    lines = []
    for _, _, row in JW.resolve_frames(blobs):
        if row["kind"] not in (JW.K_TRIPLE, JW.K_QUAD):
            continue
        terms = [JW.render_resolved_term(*row[k]) for k in ("s", "p", "o")]
        g = row.get("g")
        if g is not None and g[1] != JW.T_DEFAULT_GRAPH:
            terms.append(JW.render_resolved_term(*g))
        lines.append(" ".join(terms) + " .")
    return lines


def jelly_frame_sizes(path: str) -> list[int]:
    from cli_spark import jellywire as JW

    with open(path, "rb") as fh:
        _, blobs = JW.split_delimited(fh.read())
    return [len(b) for b in blobs]


class KgBuild:
    name = "kg_build"
    N_FILES = 1000

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.settings = {"n_files": self.N_FILES, "keep": inputs.KEEP}

    def setup(self) -> None:
        self.repos, self.expected = inputs.kg_sample(self.spark, self.seed, self.N_FILES)

    def run_once(self, i: int) -> dict:
        from cli_spark.pipeline import run_kg_pipeline

        wd = os.path.join(self.work, f"kg{i}")
        t = time.perf_counter()
        n = run_kg_pipeline(self.spark, self.repos, workdir=wd)
        return {"wall_s": time.perf_counter() - t, "statements": n, "workdir": wd, "cmd": {}}

    def check(self, res: dict) -> list[str]:
        """Against the closed form: extraction's rows are exactly the
        expected rows of the sampled files (precision and recall at least
        0.95, and the count equal), the returned count is those rows plus the
        sameAs edges, and the materialized table holds the returned count."""
        from pyspark.sql import functions as F

        from cli_spark import manifest as M

        wd = res["workdir"]
        n = res["statements"]
        problems = []
        extracted = self.spark.read.parquet(M.data_path(wd, "10_extract"))
        cols = extracted.columns
        both = (
            extracted.select(*cols, F.lit(1).alias("a"), F.lit(0).alias("e"))
            .unionByName(self.expected.select(*cols, F.lit(0).alias("a"), F.lit(1).alias("e")))
            .groupBy(*cols).agg(F.max("a").alias("a"), F.max("e").alias("e"))
            .agg(F.sum("a").alias("a"), F.sum("e").alias("e"),
                 F.sum(F.col("a") * F.col("e")).alias("hit"))
            .first()
        )
        n_a, n_e, hit = both["a"] or 0, both["e"] or 0, both["hit"] or 0
        p = hit / n_a if n_a else 0.0
        r = hit / n_e if n_e else 0.0
        if p < 0.95 or r < 0.95:
            problems.append(f"extraction P/R {p:.4f}/{r:.4f} below 0.95")
        closed_form = n_e + M.read_manifest(wd, "20_link")["row_count"]
        if n != closed_form:
            problems.append(f"triple count {n} != closed form {closed_form}")
        table = self.spark.read.parquet(os.path.join(wd, "40_materialize", "data")).count()
        if table != n:
            problems.append(f"materialized rows {table} != returned {n}")
        if not self.spark.read.parquet(os.path.join(wd, "40_materialize", "frames")).head(1):
            problems.append("no Jelly frames materialized")
        shutil.rmtree(wd, ignore_errors=True)
        return problems

    def trace_layers(self, trace: Tracer) -> None:
        from pyspark.sql import functions as F

        from cli_spark.canonicalize import canonical_map, rewrite_triples
        from cli_spark.extract import extract_triples
        from cli_spark.linking import link_modules_cross_lang, link_near_dup_files
        from cli_spark.pipeline import (
            lineage_violations,
            materialize_jelly_frames,
            materialize_triples,
        )

        out = os.path.join(self.work, "traced")
        repos = trace("input", lambda: self.repos)
        triples = trace("extract", lambda: extract_triples(repos))
        same_as = trace(
            "linking",
            lambda: link_near_dup_files(repos).unionByName(link_modules_cross_lang(triples)),
        )
        canon = trace(
            "canonicalize",
            lambda: rewrite_triples(triples, canonical_map(same_as.select("subj", "pred", "obj"))),
        )
        bad = trace("pipeline.lineage", lambda: lineage_violations(repos, canon))
        if bad:
            raise RuntimeError(f"lineage violations: {bad}")
        final = canon.unionByName(
            same_as.select(
                "subj", "pred", "obj", "obj_kind",
                *[F.lit(None).cast("string").alias(c)
                  for c in ("src_repo", "src_path", "src_commit", "graph")],
            )
        )
        trace("pipeline.materialize", lambda: materialize_triples(final, os.path.join(out, "data")))
        trace("jelly.encode", lambda: materialize_jelly_frames(self.spark, final, os.path.join(out, "frames")))
        trace.rows_out["pipeline.materialize"] = final.count()
        trace.rows_out["jelly.encode"] = self.spark.read.parquet(os.path.join(out, "frames")).count()


class JellyCodec:
    name = "jelly_codec"
    N_QUADS = 10_000

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.settings = {"n_quads": self.N_QUADS}

    def _path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def setup(self) -> None:
        self.lines = inputs.nquads_lines(self.seed, self.N_QUADS)
        inputs.write_lines(self._path("in.nq"), self.lines)

    def run_once(self, i: int) -> dict:
        """to-jelly of the input, transcode of that stream twice over into
        one (two inputs, so two id blocks to remap), then inspect,
        from-jelly and validate of the to-jelly output."""
        nq = self._path("in.nq")
        jelly = self._path(f"it{i}.jelly")
        cmds = {
            "to_jelly": ["rdf", "to-jelly", nq, "--to", jelly],
            "transcode": ["rdf", "transcode", jelly, jelly, "--to", self._path(f"it{i}.merged.jelly")],
            "inspect": ["rdf", "inspect", jelly, "--per-frame", "--size",
                        "--to", self._path(f"it{i}.inspect.yaml")],
            "from_jelly": ["rdf", "from-jelly", jelly, "--to", self._path(f"it{i}.out")],
            "validate": ["rdf", "validate", jelly, "--compare-to-rdf-file", nq],
        }
        times, outputs = {}, {}
        for cmd, argv in cmds.items():
            t = time.perf_counter()
            outputs[cmd] = _cli(argv)
            times[cmd] = time.perf_counter() - t
        return {
            "wall_s": sum(times.values()), "cmd": times, "outputs": outputs, "tag": f"it{i}",
            # transcode carries every statement twice; the others once
            "statements": 6 * len(self.lines),
        }

    def check(self, res: dict) -> list[str]:
        """Every command exits 0; the to-jelly, transcode and from-jelly
        outputs hold exactly the input statements (order-independent
        digest; transcode's twice); validate reports the stream valid;
        inspect's frame sizes are the file's."""
        problems = []
        for cmd, (rc, text) in res["outputs"].items():
            if rc != 0:
                problems.append(f"{cmd} exited {rc}: {text.strip()[-300:]}")
        if problems:
            return problems
        tag = res["tag"]
        want = inputs.statement_digest(self.lines)
        got = inputs.statement_digest(jelly_file_lines(self._path(f"{tag}.jelly")))
        if got != want:
            problems.append(f"to-jelly output digest {got} != input {want}")
        merged = inputs.statement_digest(jelly_file_lines(self._path(f"{tag}.merged.jelly")))
        if merged != inputs.combine_digests(want, want):
            problems.append(f"transcode output digest {merged} != twice the input's")
        decoded = inputs.statement_digest(_part_lines(self._path(f"{tag}.out")))
        if decoded != want:
            problems.append(f"from-jelly output digest {decoded} != input {want}")
        if "valid" not in res["outputs"]["validate"][1].split():
            problems.append("validate did not report the stream valid")
        problems += self._check_inspect(self._path(f"{tag}.inspect.yaml"), self._path(f"{tag}.jelly"))
        for suffix in (".jelly", ".merged.jelly", ".inspect.yaml", ".out"):
            p = self._path(tag + suffix)
            shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) else os.remove(p)
        return problems

    @staticmethod
    def _check_inspect(report: str, jelly: str) -> list[str]:
        """With ``--size`` the per-frame figures are wire bytes: their
        frame sizes must be exactly the file's frames."""
        with open(report, encoding="utf-8") as fh:
            sizes = [int(line.split(":")[1]) for line in fh if line.strip().startswith("frame_size:")]
        want = jelly_frame_sizes(jelly)
        if sizes != want:
            return [f"inspect frame sizes ({len(sizes)} frames, {sum(sizes)} B) != file "
                    f"({len(want)} frames, {sum(want)} B)"]
        return []

    def trace_layers(self, trace: Tracer) -> None:
        from pyspark.sql import functions as F

        from cli_spark import jelly as J
        from cli_spark.compare import term_violations, unordered_compare, validate_stream
        from cli_spark.formats import REGISTRY
        from cli_spark.nquads import write_nquads

        nq = REGISTRY["nq"]
        quads = trace("formats.read", lambda: nq.read(self.spark, self._path("in.nq")))
        opts = J.options_cascade(derived=J.StreamOptions(physical_type=J.PHYSICAL_QUADS))
        frames_a = trace("jelly.encode", lambda: J.encode_quads(
            self.spark, quads.select(*[c for c in quads.columns if c in (
                "subj", "pred", "obj", "obj_kind", "obj_datatype", "obj_lang", "graph",
                "subj_kind", "pred_kind", "graph_kind")]),
            options=opts, prefix_table=True,
        ))
        jelly = self._path("traced.jelly")
        trace("jelly.io", lambda: J.write_jelly_file(frames_a, jelly))
        fc = trace("jelly.io", lambda: J.read_jelly_file(self.spark, jelly))
        merged = trace("jelly.transcode", lambda: J.transcode_frames(self.spark, [fc, fc]))
        trace("jelly.io", lambda: J.write_jelly_file(merged, self._path("traced.merged.jelly")))

        trace("jelly.peek", lambda: J.peek_physical_types(fc))
        rows = trace("jelly.decode", lambda: J.decode_frames(fc))
        stmts = trace("jelly.decode", lambda: J.decode_quads(rows))
        # what inspect --per-frame --size calls: a tag walk of the wire
        # bytes and the frame metadata, no statement decode
        trace("inspect_metrics", lambda: J.frame_wire_size_stats(fc))
        trace("inspect_metrics", lambda: J.frame_metadata(fc))
        trace("formats.write", lambda: write_nquads(stmts, self._path("traced.out")))
        expected = trace("formats.read", lambda: nq.read(self.spark, self._path("in.nq")))
        problems = trace("compare", lambda: validate_stream(rows))
        trace("compare", lambda: term_violations(stmts))
        cols = ["subj", "pred", "obj", F.col("graph").cast("string").alias("graph")]
        res = trace("compare", lambda: [unordered_compare(expected.select(*cols), stmts.select(*cols))])
        if problems or not res[0].equal:
            raise RuntimeError(f"traced compare failed: {problems} {res[0].detail}")


WORKLOADS = {w.name: w for w in (KgBuild, JellyCodec)}
