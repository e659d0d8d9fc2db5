"""Command-line surface — parity with the reference CLI's five commands
(/root/reference/src/main/scala/eu/neverblink/jelly/cli/App.scala:24-31),
re-expressed as Spark jobs:

    python -m cli_spark rdf to-jelly   IN.nq  --to out.jelly [--rows-per-frame N]
    python -m cli_spark rdf from-jelly IN.jelly --to out_dir [--take-frames A..B]
                                       [--merge-graphs] [--single-file]
    python -m cli_spark rdf inspect    IN.jelly [--per-frame] [--size]
    python -m cli_spark rdf validate   IN.jelly [--compare-to-rdf-file F.nq]
                                       [--compare-to-format FMT] [--compare-ordered]
                                       [--compare-frame-indices A..B]
                                       [--options-file F.jelly]
                                       [--delimited true|false|either]
    python -m cli_spark rdf transcode  IN1.jelly [IN2.jelly ...] --to out.jelly
    python -m cli_spark pipeline       --n-files N [--workdir DIR]
    python -m cli_spark version | v | --version
    python -m cli_spark completions bash|zsh

The reference's exact option spellings are accepted everywhere they
exist there: --opt.physical-type=GRAPHS, --opt.logical-type=FLAT_QUADS
(or the #flatQuadStream IRI), --opt.stream-name, --opt.rdf-star=false,
--opt.generalized-statements=false, --opt.max-name-table-size=100,
--opt.max-prefix-table-size, --opt.max-datatype-table-size,
--delimited=false (to-jelly), --compare-ordered=true (validate).

Omitting the input file (or passing '-') reads stdin; omitting --to
writes to stdout — the reference's pipe workflow (RdfToJelly.scala
@HelpMessage) works verbatim:

    cat in.nq | python -m cli_spark rdf to-jelly | python -m cli_spark rdf inspect

Exit code 1 on any validation/critical error (ErrorHandler.scala:8-18).
Runs under spark-submit --py-files just as well: the entry point only
builds a session if the caller didn't.
"""

from __future__ import annotations

import argparse
import sys

from . import __version__


def _parse_range(spec: str) -> tuple[int, int]:
    """Rust-style index ranges: '3', '..3', '3..', '1..5', '1..=5'
    (IndexRange.scala:13-58). Returns inclusive (lo, hi)."""
    big = 1 << 62
    spec = spec.strip()
    if spec == "":  # IndexRange.scala:31 — empty spec = the whole range
        return 0, big
    try:
        if ".." not in spec:
            i = int(spec)
            return i, i
        lo_s, _, hi_s = spec.partition("..")
        inclusive = hi_s.startswith("=")
        if inclusive:
            hi_s = hi_s[1:]
        lo = int(lo_s) if lo_s else 0
        hi = (int(hi_s) if inclusive else int(hi_s) - 1) if hi_s else big
    except ValueError:
        # IndexRange.scala:46-55 help text, verbatim grammar
        raise ValueError(
            f"invalid range format: {spec!r}. Correct ranges are in the "
            "form '3' (one index), '..3' (up to exclusive), '3..' (from "
            "inclusive), '1..3' (range up to exclusive), or '1..=3' "
            "(inclusive)"
        ) from None
    if hi < lo:
        raise ValueError(f"empty frame range: {spec!r}")
    return lo, hi


def _logical_code(lt: str):
    """STaX logical type from any reference spelling: enum name
    (FLAT_QUADS / flat_quads), camel name (flatQuads / flatQuadStream),
    or the full ontology IRI (RdfToJellySpec: --opt.logical-type takes
    all three)."""
    from . import jelly as J

    if "#" in lt or "/" in lt:
        return J.logical_type_from_iri(lt)
    by_name = {v: k for k, v in J.LOGICAL_NAMES.items()}
    snake = lt.upper()
    if snake in by_name:
        return by_name[snake]
    return J.logical_type_from_iri(
        J.STAX_BASE + lt + ("" if lt.endswith("Stream") else "Stream")
    )


def _decode_once(spark, path: str) -> tuple:
    """(rows, physical types) of a Jelly file: the resolved rows are
    checkpointed eagerly, and that one decode job also observes the
    stream's declared physical types."""
    from pyspark.sql import Observation

    from . import jelly as J

    obs = Observation()
    rows = J.decode_frames(J.read_jelly_file(spark, path)).observe(
        obs, J.physical_types_metric().alias("phys")
    ).localCheckpoint()
    return rows, set(obs.get["phys"])


def _inspect_options(path: str) -> dict:
    """The declared stream options as the reference's inspect YAML block
    (MetricsPrinter.formatOptions, printed FIRST in both aggregate and
    per-frame mode — RdfInspectSpec asserts `stream_options` in nearly
    every case): proto-named enums rendered `NAME (value)`, absent
    fields at their proto defaults."""
    from . import jelly as J
    from .jellywire import LOGICAL_ENUM, PHYSICAL_ENUM

    so = J.options_from_file(path)
    phys = so.physical_type or 0
    logi = so.logical_type or 0
    return {
        "stream_name": so.stream_name or "",
        "physical_type": f"{PHYSICAL_ENUM.get(phys, phys)} ({phys})",
        "generalized_statements": bool(so.generalized),
        "rdf_star": bool(so.rdf_star),
        "max_name_table_size": so.max_name_table or 0,
        "max_prefix_table_size": so.max_prefix_table or 0,
        "max_datatype_table_size": so.max_dt_table or 0,
        "logical_type": f"{LOGICAL_ENUM.get(logi, logi)} ({logi})",
        "version": so.version or 0,
    }


def _stage_stdin(suffix: str, staged: list[str]) -> str:
    """Reference parity: 'If no input file is specified, the input is
    read from stdin' (RdfToJelly.scala @HelpMessage; the same contract
    holds on from-jelly/inspect/validate/transcode). stdin is staged to
    a temp file so the Spark readers see a path — piped ingress is
    single-process by nature; the distributed path is file globs."""
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="cli_spark_stdin_")
    staged.append(d)
    path = os.path.join(d, "stdin" + suffix)
    with open(path, "wb") as fh:
        fh.write(sys.stdin.buffer.read())
    return path


def _wire_std_streams(args, staged: list[str]) -> str | None:
    """Rewrite an omitted/'-' input to a staged stdin file, and an
    omitted --to to a temp target that :func:`_emit_stdout` streams to
    stdout after a successful dispatch. Returns the stdout target (or
    None when an explicit --to was given)."""
    import os
    import tempfile

    from .formats import resolve

    cmd = args.rdf_cmd
    if cmd == "transcode":
        if not args.inputs or args.inputs == ["-"]:
            args.inputs = [_stage_stdin(".jelly", staged)]
    elif getattr(args, "input", "") in (None, "-"):
        if cmd == "to-jelly":
            # the reference's default stdin action parses N-Quads
            # (RdfToJelly.scala:82 defaultAction); --in-format overrides
            fmt = resolve("stdin.nq", args.in_format)
            suffix = fmt.extensions[0]
        else:
            suffix = ".jelly"
        args.input = _stage_stdin(suffix, staged)
    if cmd in ("to-jelly", "from-jelly", "transcode") and args.to is None:
        if cmd == "from-jelly":
            # RdfFromJellyPrint.defaultFormat = N-Quads
            fmt = resolve("out.nq", args.out_format)
            suffix = fmt.extensions[0]
        else:
            suffix = ".jelly"
        d = tempfile.mkdtemp(prefix="cli_spark_stdout_")
        staged.append(d)
        args.to = os.path.join(d, "out" + suffix)
        return args.to
    return None


def _emit_stdout(target: str) -> None:
    """Stream the sink's output (a single file, or a directory of part
    files in partition order) to stdout."""
    import os
    import shutil

    out = sys.stdout.buffer
    if os.path.isdir(target):
        paths = [
            os.path.join(target, n)
            for n in sorted(os.listdir(target))
            if not n.startswith((".", "_"))
        ]
    else:
        paths = [target]
    for pth in paths:
        with open(pth, "rb") as fh:
            shutil.copyfileobj(fh, out)
    out.flush()


def _walk_parser(p) -> dict[tuple, list[str]]:
    """{command path: completable words} over the argparse tree —
    option strings plus subcommand names at each level."""
    words = [o for a in p._actions for o in a.option_strings]
    out = {(): list(words)}
    for a in p._actions:
        if isinstance(a, argparse._SubParsersAction):
            out[()].extend(a.choices.keys())
            for name, sp in a.choices.items():
                for path, ws in _walk_parser(sp).items():
                    out[(name,) + path] = ws
    return out


def _completion_script(p, shell: str) -> str:
    """Generate a bash/zsh completion script from the live argparse
    tree (the reference ships caseapp's completions/complete commands,
    App.scala:18-20; this is the argparse equivalent — regenerate after
    upgrades, nothing is hardcoded)."""
    tree = _walk_parser(p)
    cases = []
    # deepest paths first so 'rdf to-jelly' matches before 'rdf'
    for path in sorted(tree, key=len, reverse=True):
        if not path:
            continue
        pat = " ".join(path)
        words = " ".join(sorted(set(tree[path])))
        cases.append(f'    "{pat}") words="{words}" ;;')
    top = " ".join(sorted(set(tree[()])))
    bash = f"""\
# bash completion for cli_spark — generated by
#   python -m cli_spark completions bash
# source it, or drop it into /etc/bash_completion.d/
_cli_spark() {{
  local cur path words
  cur="${{COMP_WORDS[COMP_CWORD]}}"
  path=""
  for ((i=1; i < COMP_CWORD; i++)); do
    case "${{COMP_WORDS[i]}}" in
      -*) continue ;;
      *) path="${{path:+$path }}${{COMP_WORDS[i]}}" ;;
    esac
  done
  words="{top}"
  case "$path" in
{chr(10).join(cases)}
  esac
  COMPREPLY=( $(compgen -W "$words" -- "$cur") )
}}
complete -F _cli_spark cli_spark
complete -F _cli_spark "python -m cli_spark" 2>/dev/null || true
"""
    if shell == "bash":
        return bash
    # zsh consumes bash completion functions through bashcompinit
    return (
        "# zsh completion for cli_spark (via bashcompinit) — generated by\n"
        "#   python -m cli_spark completions zsh\n"
        "autoload -U +X bashcompinit && bashcompinit\n" + bash
    )


def _print_version() -> None:
    """Version + environment/feature report (Version.scala:26-53 prints
    the tool, library, and JVM versions plus feature-support lines; the
    Spark-native equivalents are the Python/PySpark stack and the
    vectorized/optional-backend capabilities). Deliberately does NOT
    start a SparkSession — version must answer instantly."""
    import platform

    print(f"cli_spark {__version__}")
    print("-" * 61)
    try:
        import pyspark

        print(f"PySpark     {pyspark.__version__}")
    except ImportError:
        print("PySpark     (not importable)")
    for mod, label in (
        ("pyarrow", "PyArrow"),
        ("pandas", "pandas"),
        ("numpy", "numpy"),
    ):
        try:
            m = __import__(mod)
            print(f"{label:<11} {m.__version__}")
        except ImportError:
            print(f"{label:<11} (not importable)")
    print(f"Python      {platform.python_version()} ({platform.machine()})")
    print("-" * 61)
    # feature-support lines, mirroring the reference's [X]/[ ] report
    try:
        import pyarrow  # noqa: F401

        print("[X] Arrow-vectorized codecs: supported. "
              "Batch kernels enabled for the statement paths.")
    except ImportError:
        print("[ ] Arrow-vectorized codecs: not supported. "
              "Row-at-a-time fallbacks will be slower.")
    import os as _os

    if _os.environ.get("SPARK_GRAFT_ICEBERG") == "1":
        print("[X] Iceberg catalog sink: enabled (SPARK_GRAFT_ICEBERG=1; "
              "requires the Iceberg runtime jars on the session).")
    else:
        print("[ ] Iceberg catalog sink: disabled. Set SPARK_GRAFT_ICEBERG=1 "
              "with the Iceberg runtime jars to write catalog tables "
              "(parquet stand-in with the same layout otherwise).")
    print("Licensed under the Apache License, Version 2.0.")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="cli_spark")
    # common options (JellyCommand.scala:9-12): --quiet silences
    # warnings, --debug prints the full traceback on error
    p.add_argument("--quiet", action="store_true",
                   help="silence warnings")
    p.add_argument("--debug", action="store_true",
                   help="print the full traceback on error")
    sub = p.add_subparsers(dest="cmd", required=True)

    # Version.scala:20-24 — aliases 'v' and '--version' (the latter is
    # rewritten to the subcommand before parsing, argparse cannot alias
    # a flag to a subcommand)
    sub.add_parser("version", aliases=["v"])

    comp = sub.add_parser("completions",
                          help="emit a shell completion script "
                          "(App.scala:18-20 parity)")
    comp.add_argument("shell", choices=["bash", "zsh"])

    rdf = sub.add_parser("rdf").add_subparsers(dest="rdf_cmd", required=True)

    tj = rdf.add_parser("to-jelly")
    tj.add_argument("input", nargs="?", default=None,
                    help="input file; omitted or '-' reads stdin "
                    "(RdfToJelly.scala HelpMessage; format from "
                    "--in-format, default N-Quads)")
    tj.add_argument("--to", default=None,
                    help="output file; omitted writes the Jelly bytes "
                    "to stdout")
    tj.add_argument("--rows-per-frame", type=int, default=256)
    # reference spellings accepted as aliases throughout
    # (RdfToJellySpec: --opt.max-name-table-size=100 etc.)
    tj.add_argument("--max-name-table", "--opt.max-name-table-size",
                    dest="max_name_table", type=int, default=None)
    tj.add_argument("--max-prefix-table", "--opt.max-prefix-table-size",
                    dest="max_prefix_table", type=int, default=None)
    tj.add_argument("--max-datatype-table", "--opt.max-datatype-table-size",
                    dest="max_datatype_table", type=int, default=None,
                    help="maximum size of the datatype lookup table "
                    "(opt.maxDatatypeTableSize)")
    tj.add_argument("--non-delimited", action="store_true")
    tj.add_argument("--delimited", choices=["true", "false"], default=None,
                    help="reference spelling: --delimited=false is "
                    "--non-delimited")
    tj.add_argument("--append", action="store_true", help="append-mode sink (S3)")
    tj.add_argument("--physical-type", "--opt.physical-type",
                    dest="physical_type", type=str.lower,
                    choices=["triples", "quads", "graphs"],
                    default=None, help="default: quads when input has "
                    "graphs (case-insensitive: GRAPHS works)")
    tj.add_argument("--logical-type", "--opt.logical-type",
                    dest="logical_type", default=None,
                    help="STaX logical type (enum name or IRI), e.g. "
                    "flatTriples, FLAT_QUADS, or the full #flatQuadStream "
                    "IRI")
    tj.add_argument("--stream-name", "--opt.stream-name",
                    dest="stream_name", default=None)
    # bare flags stay store_true (no value consumption, so
    # `--rdf-star in.nq` keeps meaning "flag then positional"); the
    # reference's boolean-valued spellings get their own dests —
    # --opt.rdf-star=false can force a derived capability OFF
    tj.add_argument("--generalized", action="store_true", default=None)
    tj.add_argument("--opt.generalized-statements",
                    dest="generalized_opt", nargs="?", const="true",
                    choices=["true", "false"], default=None)
    tj.add_argument("--rdf-star", action="store_true", default=None)
    tj.add_argument("--opt.rdf-star", dest="rdf_star_opt",
                    nargs="?", const="true",
                    choices=["true", "false"], default=None)
    tj.add_argument("--no-prefix-table", action="store_true")
    tj.add_argument("--options-from", default=None,
                    help="copy stream options from an existing .jelly file (S11)")
    tj.add_argument("--in-format", default=None,
                    help="input format (S4 registry: nt, nq, ttl, trig, ...); "
                    "default: inferred from extension")
    tj.add_argument("--base", default=None,
                    help="base IRI for relative-IRI resolution (S8; "
                    "Turtle/TriG only)")
    tj.add_argument("--resolve-iris", choices=["true", "false"], default="true",
                    help="resolve relative IRIs against the document/CLI "
                    "base; false = relative IRIs pass through as written "
                    "(RdfPerformanceOptions.scala:7-14; Turtle/TriG)")
    tj.add_argument("--enable-namespace-declarations", action="store_true",
                    help="carry the input's PREFIX/@prefix declarations "
                    "into the stream as namespace rows "
                    "(RdfToJelly.scala:57-61; Turtle/TriG input only)")
    tj.add_argument("--validate-terms", choices=["true", "false"],
                    default=None,
                    help="eager term validation (slower): absolute "
                    "well-formed IRIs, BCP47 langtags, XSD lexical "
                    "forms (RdfPerformanceOptions.scala:15-18; "
                    "default false except for 'rdf validate')")

    fj = rdf.add_parser("from-jelly")
    fj.add_argument("input", nargs="?", default=None,
                    help="input Jelly file; omitted or '-' reads "
                    "stdin (delimited autodetect still applies)")
    fj.add_argument("--to", default=None,
                    help="output file; omitted writes to stdout "
                    "(format from --out-format, default N-Quads)")
    fj.add_argument("--take-frames", default=None)
    fj.add_argument("--merge-graphs", action="store_true")
    fj.add_argument("--single-file", action="store_true")
    fj.add_argument("--out-format", default=None,
                    help="output format (S4 registry: nt, nq, ttl, trig); "
                    "default: inferred from --to extension (a triples-only "
                    "format triggers the quad guard P4)")
    fj.add_argument("--jsonld-context", default=None, metavar="FILE",
                    help="JSON file holding a @context value: switches the "
                    "JSON-LD sink to compact-on-write (only valid with a "
                    ".jsonld output)")
    fj.add_argument("--combine", action="store_true",
                    help="combine all stream frames into ONE dataset for a "
                    "non-streaming output format (RDF/XML, JSON-LD); the "
                    "default writes one document per frame, like the "
                    "reference (RdfFromJelly.scala:59-63,106-118); ignored "
                    "for streaming formats")
    fj.add_argument("--validate-terms", choices=["true", "false"],
                    default=None,
                    help="eager term validation over the decoded "
                    "statements (RdfPerformanceOptions.scala:15-18; "
                    "default false)")

    ins = rdf.add_parser("inspect")
    ins.add_argument("input", nargs="?", default=None,
                     help="input Jelly file; omitted or '-' reads stdin")
    ins.add_argument("--per-frame", action="store_true")
    ins.add_argument("--size", action="store_true", help="serialized-size statistic")
    ins.add_argument("--detail", choices=["node", "term", "all"], default=None,
                    help="term×node-kind detail over explicitly-encoded "
                    "wire terms (RdfInspect.scala:30-35); count "
                    "statistic only")
    ins.add_argument("--to", default=None,
                    help="write the report to a file instead of stdout")

    va = rdf.add_parser("validate")
    va.add_argument("input", nargs="?", default=None,
                    help="input Jelly file; omitted or '-' reads stdin")
    va.add_argument("--compare-to-rdf-file", default=None)
    va.add_argument("--compare-to-format", default=None,
                    help="format of the comparison file (S4 registry name); "
                    "default: inferred from its extension "
                    "(RdfValidate.scala:42-46)")
    va.add_argument("--compare-ordered", nargs="?", const="true",
                    choices=["true", "false"], default="false")
    va.add_argument("--compare-frame-indices", default=None,
                    help="restrict comparison to these frame indices, as a "
                    "Rust-style range like '2', '1..4', '1..=3' "
                    "(RdfValidate.scala:52-56; skipped frames still feed "
                    "decoder state, P2)")
    va.add_argument("--options-file", default=None,
                    help="jelly file with the expected stream options; the "
                    "input's options row must match it exactly "
                    "(RdfValidate.scala:118-134)")
    va.add_argument("--delimited", choices=["true", "false", "either"], default="either")
    va.add_argument("--validate-terms", choices=["true", "false"],
                    default=None,
                    help="eager term validation; validate defaults to "
                    "TRUE (RdfValidate.scala:95) — pass false to skip")

    tc = rdf.add_parser("transcode")
    tc.add_argument("inputs", nargs="*", default=[],
                    help="input Jelly files; omitted or '-' reads stdin")
    tc.add_argument("--to", default=None,
                    help="output file; omitted writes to stdout")
    tc.add_argument("--rows-per-frame", type=int, default=256)
    tc.add_argument("--max-name-table", "--opt.max-name-table-size",
                    dest="max_name_table", type=int, default=None,
                    help="output table size; must be >= the entries the "
                    "inputs carry (default: computed)")
    tc.add_argument("--max-prefix-table", "--opt.max-prefix-table-size",
                    dest="max_prefix_table", type=int, default=None,
                    help="output prefix table size; same >= precondition")
    tc.add_argument("--stream-name", "--opt.stream-name",
                    dest="stream_name", default=None,
                    help="stream name for the merged output's options "
                    "row (opt.streamName)")
    tc.add_argument("--logical-type", "--opt.logical-type",
                    dest="logical_type", default=None,
                    help="STaX logical type declared by the merged "
                    "output (opt.logicalType; name or IRI)")

    pl = sub.add_parser("pipeline")
    pl.add_argument("--n-files", type=int, default=1000)
    pl.add_argument("--workdir", default=None)
    pl.add_argument("--link-threshold", type=float, default=0.7)
    pl.add_argument("--extract-chunks", type=int, default=1,
                    help="hash-split extraction into N per-chunk-committed "
                    "pieces for mid-stage resume (requires --workdir)")

    if argv is None:
        argv = sys.argv[1:]
    if argv and argv[0] == "--version":
        argv = ["version"] + list(argv[1:])
    args = p.parse_args(argv)
    if args.cmd in ("version", "v"):
        _print_version()
        return 0
    if args.cmd == "completions":
        print(_completion_script(p, args.shell))
        return 0

    from pyspark.sql import SparkSession

    from .session import get_spark

    staged: list[str] = []
    stdout_target: str | None = None
    if args.cmd == "rdf":
        stdout_target = _wire_std_streams(args, staged)

    from pyspark.errors.exceptions.captured import AnalysisException

    existing = SparkSession.getActiveSession()
    spark = existing or get_spark("cli_spark_cli")
    try:
        from .manifest import job_group

        label = "pipeline" if args.cmd == "pipeline" else f"rdf {args.rdf_cmd}"
        with job_group(spark, label):
            rc = _dispatch(spark, args)
        if rc == 0 and stdout_target is not None:
            _emit_stdout(stdout_target)
        return rc
    except (ValueError, AssertionError, AnalysisException) as exc:
        # known (typed) errors: message only; --debug adds the stack
        # (ErrorHandler.scala:10-13 + printStackTraceIfDebug)
        if args.debug:
            import traceback

            traceback.print_exc(file=sys.stderr)
        print(f"error: {exc}", file=sys.stderr)
        if not args.debug:
            print(
                "Run with --debug to see the complete stack trace.",
                file=sys.stderr,
            )
        return 1
    except Exception:
        # unknown errors ALWAYS print the stack — "otherwise the user
        # has no clue what happened" (ErrorHandler.scala:14-17) — but
        # still exit 1 through the cleanup path, not a raw crash
        import traceback

        print("Unknown error", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)
        return 1
    finally:
        if existing is None:
            spark.stop()
        import shutil

        for path in staged:
            shutil.rmtree(path, ignore_errors=True)


def _dispatch(spark, args) -> int:
    from pyspark.sql import functions as F

    if args.cmd == "pipeline":
        from .corpus import generate_repos
        from .pipeline import run_kg_pipeline

        repos = generate_repos(spark, args.n_files)
        n = run_kg_pipeline(
            spark,
            repos,
            workdir=args.workdir,
            link_threshold=args.link_threshold,
            check_input=True,
            extract_chunks=args.extract_chunks,
        )
        print(f"triples: {n}")
        return 0

    from . import jelly as J

    if args.rdf_cmd == "to-jelly":
        from .formats import REGISTRY as _FMT
        from .formats import resolve

        try:
            in_fmt = resolve(args.input, args.in_format)
        except ValueError:
            # extension inference falls back to generalized N-Quads; an
            # explicit unknown --in-format is a typed error
            if args.in_format is not None:
                raise
            in_fmt = _FMT["nq"]
        if in_fmt.key == "jelly-text":
            if not args.quiet:
                # RdfToJelly.scala:212-218, verbatim contract
                print(
                    "WARNING: The Jelly text format is not stable and may "
                    "change in incompatible ways in the future.\n"
                    "It's only intended for testing and development.\n"
                    "NEVER use it in production.\n"
                    "Use --quiet to silence this warning.",
                    file=sys.stderr,
                )
            # text→binary is a frames-level copy, exactly the
            # reference's jellyTextToJelly (TextFormat.parse →
            # writeDelimitedTo): options and dictionary entries ride
            # through untouched, no statement decode
            tframes = J.read_jelly_text_file(spark, args.input)
            if args.to.endswith(".jelly.txt"):
                J.write_jelly_text_file(tframes, args.to)
            else:
                J.write_jelly_file(
                    tframes, args.to,
                    delimited=not (
                        args.non_delimited or args.delimited == "false"
                    ),
                    append=args.append,
                )
            return 0
        if in_fmt.read is None:
            raise ValueError(f"{in_fmt.full_name} is not a readable input format")
        if args.base is not None and not in_fmt.supports_base_iri:
            raise ValueError(f"{in_fmt.full_name} does not support --base (S8)")
        read_kw = {}
        if args.resolve_iris == "false":
            if in_fmt.key not in ("ttl", "trig"):
                raise ValueError(
                    "--resolve-iris false is only supported for Turtle/"
                    "TriG input (other readers do not apply a base)"
                )
            read_kw["resolve_iris"] = False
        stmts = in_fmt.read(spark, args.input, base=args.base, **read_kw)
        if args.validate_terms == "true":
            # eager term validation (default off for to-jelly, like the
            # reference's JenaSystemOptions.disableEagerValidation)
            from .compare import ensure_valid_terms

            ensure_valid_terms(stmts, f"{in_fmt.full_name} input")
        # one derivation pass: named graphs (physical type), RDF-star and
        # generalized-RDF statement flags (P6/P7 over the term kinds)
        cols = set(stmts.columns)
        kind = lambda c: F.col(c) if c in cols else F.lit(None)  # noqa: E731
        flag = lambda c: F.max(F.when(c, 1).otherwise(0))  # noqa: E731
        caps = stmts.agg(
            flag(kind("graph").isNotNull()).alias("g"),
            flag(
                (kind("subj_kind") == 3) | (kind("obj_kind") == 3)
                | (kind("graph_kind") == 3)
            ).alias("star"),
            flag(
                (kind("subj_kind") == 2) | (kind("pred_kind") != 0)
                | (kind("graph_kind") == 2)
            ).alias("gen"),
        ).first()
        has_graph = bool(caps["g"])
        # option cascade (P13): CLI flags > --options-from file > derived
        logical = None
        if args.logical_type:
            logical = _logical_code(args.logical_type)
        physical = {
            "triples": J.PHYSICAL_TRIPLES,
            "quads": J.PHYSICAL_QUADS,
            "graphs": J.PHYSICAL_GRAPHS,
            None: None,
        }[args.physical_type]
        derived = J.StreamOptions(
            physical_type=J.PHYSICAL_QUADS if has_graph else J.PHYSICAL_TRIPLES,
            rdf_star=bool(caps["star"]),
            generalized=bool(caps["gen"]),
        )
        from_file = J.options_from_file(args.options_from) if args.options_from else None
        # RdfToJelly.scala:159-166: a GROUPED logical type (GRAPHS /
        # DATASETS) without an explicitly-set physical type is ignored
        # with a warning — auto-derived flat encoding does not guarantee
        # the frame grouping a grouped logical type declares
        phys_requested = physical is not None or bool(
            from_file is not None and from_file.physical_type
        )
        if (
            logical in (J.LOGICAL_GRAPHS, J.LOGICAL_DATASETS)
            and not phys_requested
        ):
            if not args.quiet:
                print(
                    "WARNING: Logical type setting ignored because "
                    "physical type is not set. Set the physical type to "
                    "properly pass on the logical type. "
                    "Use --quiet to silence this warning.",
                    file=sys.stderr,
                )
            logical = None
        opts = J.options_cascade(
            cli={
                "physical_type": physical,
                "logical_type": logical,
                "stream_name": args.stream_name,
                "generalized": (
                    args.generalized_opt == "true"
                    if args.generalized_opt is not None
                    else args.generalized
                ),
                "rdf_star": (
                    args.rdf_star_opt == "true"
                    if args.rdf_star_opt is not None
                    else args.rdf_star
                ),
                "max_name_table": args.max_name_table,
                "max_prefix_table": args.max_prefix_table,
                "max_dt_table": args.max_datatype_table,
            },
            from_file=from_file,
            derived=derived,
        )
        prefix_table = not args.no_prefix_table
        # P11 type-clash warning (RdfToJelly.scala:230-248): an
        # incompatible logical/physical pair is a warning at encode
        # time, an error at validate time
        if (
            not args.quiet
            and opts.logical_type
            and opts.logical_type in J.LOGICAL_COMPAT
            and opts.physical_type not in J.LOGICAL_COMPAT[opts.logical_type]
        ):
            print(
                f"warning: logical type "
                f"{J.LOGICAL_NAMES.get(opts.logical_type)} is not "
                f"compatible with physical type {opts.physical_type}",
                file=sys.stderr,
            )
        ns = None
        if args.enable_namespace_declarations:
            # PREFIX declarations ride the stream as namespace rows
            # (RdfToJelly.scala:57-61) — only Turtle-family inputs
            # carry declarations to forward
            if in_fmt.key not in ("ttl", "trig"):
                raise ValueError(
                    "--enable-namespace-declarations requires a "
                    "Turtle/TriG input (PREFIX declarations live in the "
                    f"document syntax); input is {in_fmt.full_name}"
                )
            from .turtle import scan_namespaces

            ns = scan_namespaces(spark, args.input)
        if opts.physical_type == J.PHYSICAL_QUADS:
            quads = stmts if "graph" in stmts.columns else stmts.withColumn(
                "graph", F.lit(None).cast("string")
            )
            frames = J.encode_quads(
                spark, quads, rows_per_frame=args.rows_per_frame,
                options=opts, prefix_table=prefix_table, namespaces=ns,
            )
        elif opts.physical_type == J.PHYSICAL_GRAPHS:
            quads = stmts if "graph" in stmts.columns else stmts.withColumn(
                "graph", F.lit(None).cast("string")
            )
            # keep the optional term-model columns (subj_kind etc.):
            # dropping them silently re-infers kinds from the bare
            # value, which turns a parsed blank-node subject label
            # ("b1", not "_:b1") into an IRI — RdfToJellySpec
            # "preserve the original blank node IDs"
            gcols = [
                c for c in (
                    "subj", "pred", "obj", "obj_kind", "obj_datatype",
                    "obj_lang", "graph", "subj_kind", "pred_kind",
                    "graph_kind", "subj_dt", "subj_lang", "pred_dt",
                    "pred_lang", "graph_dt", "graph_lang",
                ) if c in quads.columns
            ]
            frames = J.encode_quads_graphs(
                spark, quads.select(*gcols),
                rows_per_frame=args.rows_per_frame, options=opts,
                namespaces=ns,
            )
        else:
            if has_graph:
                raise ValueError(
                    "input has named graphs but physical type TRIPLES was "
                    "requested (P4); use --physical-type quads"
                )
            tcols = [
                c for c in (
                    "subj", "pred", "obj", "obj_kind", "obj_datatype",
                    "obj_lang", "subj_kind", "pred_kind", "subj_dt",
                    "subj_lang", "pred_dt", "pred_lang",
                ) if c in stmts.columns
            ]
            frames = J.encode_triples(
                spark,
                stmts.select(*tcols),
                rows_per_frame=args.rows_per_frame, options=opts,
                prefix_table=prefix_table, namespaces=ns,
            )
        if args.to.endswith(".jelly.txt"):
            # S10 jelly-text sink: real protobuf TextFormat frames
            J.write_jelly_text_file(frames, args.to)
        else:
            J.write_jelly_file(
                frames, args.to,
                delimited=not (args.non_delimited or args.delimited == "false"),
                append=args.append
            )
        return 0

    if args.rdf_cmd == "from-jelly":
        from .formats import resolve

        from .formats import REGISTRY as _FMT

        try:
            out_fmt = resolve(args.to, args.out_format)
        except ValueError:
            # only extension INFERENCE falls back (extensionless output
            # dir → N-Quads parts); an explicit unknown --out-format is
            # a typed error like the reference's InvalidFormatSpecified
            # (RdfFromJellySpec 'invalid output format supplied')
            if args.out_format is not None:
                raise
            out_fmt = _FMT["nq"]
        if out_fmt.key == "jelly-text":
            # frames-level binary→text rendering (RdfFromJellySpec
            # '--out-format=jelly-text'): frames are copied verbatim, no
            # statement decode. Slicing is frame-level-unsafe here (the
            # cumulative dictionaries would dangle), so --take-frames is
            # rejected rather than silently wrong.
            if args.take_frames:
                raise ValueError(
                    "--take-frames cannot combine with a jelly-text "
                    "output (frames are copied verbatim; a slice would "
                    "dangle dictionary references) — decode to an RDF "
                    "format instead"
                )
            if args.input.endswith(".jelly.txt"):
                tframes = J.read_jelly_text_file(spark, args.input)
            else:
                tframes = J.read_jelly_file(spark, args.input)
            J.write_jelly_text_file(tframes, args.to)
            return 0
        if out_fmt.write is None:
            raise ValueError(f"{out_fmt.full_name} is not a writable output format")
        take = _parse_range(args.take_frames) if args.take_frames else None
        if args.input.endswith(".jelly.txt"):
            frames = J.read_jelly_text_file(spark, args.input)
        else:
            frames = J.read_jelly_file(spark, args.input)
        # physical-type branching + P4 guard read the frames with the
        # tag-peek (no resolution); the full decode then runs exactly
        # once, inside the write action — no cache of the rows table
        phys = J.peek_physical_types(frames)
        rows = J.decode_frames(frames)
        if phys <= {J.PHYSICAL_TRIPLES}:
            stmts = J.decode_triples(rows, take_frames=take)
        else:
            if J.PHYSICAL_QUADS in phys:
                stmts = J.decode_quads(rows, take_frames=take)
            else:
                stmts = J.decode_quads_graphs(rows)
                if take is not None:
                    stmts = stmts.filter(F.col("frame_index").between(*take))
            if args.merge_graphs:
                stmts = stmts.drop("graph")
            elif not out_fmt.supports_quads:
                # P4 guard (RdfFromJelly.scala:144-153) — phys is already
                # in hand from the tag-peek above; raise directly instead
                # of re-scanning every frame a second time
                J._raise_physical(
                    phys - {J.PHYSICAL_TRIPLES} - {None},
                    f"{out_fmt.full_name} output",
                )
        if args.validate_terms == "true":
            from .compare import ensure_valid_terms

            ensure_valid_terms(stmts, "decoded stream")
        write_kw = {}
        if out_fmt.key in ("jsonld", "rdfxml") and not args.combine:
            # batch formats write one document PER FRAME unless
            # --combine (RdfFromJelly.scala:106-118: BatchWriteable +
            # combine=false → StreamRdfBatchWriter, finish() per frame);
            # frame_ids carries statement-free frames so they still
            # emit an (empty) document, like the reference's per-frame
            # finish()
            # distinct: frame_index is per-file-segment, so a multi-file
            # glob collapses same-index frames into one document
            frame_df = frames.select(F.col("frame_index")).distinct()
            if take is not None:
                frame_df = frame_df.filter(
                    F.col("frame_index").between(*take)
                )
            write_kw["per_frame"] = True
            write_kw["frame_ids"] = frame_df
        if args.jsonld_context is not None:
            if out_fmt.key != "jsonld":
                raise ValueError(
                    "--jsonld-context is only valid with a JSON-LD output "
                    f"(got {out_fmt.full_name})"
                )
            import json as _json

            with open(args.jsonld_context) as fh:
                write_kw["context"] = _json.load(fh)
        if out_fmt.key in ("ttl", "trig"):
            # stream namespace rows → @prefix header (RdfFromJelly.scala:
            # 133-140 passthrough). The namespace collect is an action on
            # the rows table, and the write re-executes it — persist so
            # the full per-segment resolution runs once, not twice (the
            # same trap the roundtrip docstring records doubling q50's
            # decode cost). Empty result ⇒ the writer derives prefixes by
            # frequency as before.
            rows = rows.persist()
            try:
                ns_rows = J.namespace_declarations(rows).collect()
                if ns_rows:
                    write_kw["prefixes"] = {r["name"]: r["iri"] for r in ns_rows}
                out_fmt.write(stmts, args.to, single_file=args.single_file, **write_kw)
            finally:
                rows.unpersist()
        else:
            out_fmt.write(stmts, args.to, single_file=args.single_file, **write_kw)
        return 0

    if args.rdf_cmd == "inspect":
        from .inspect_metrics import format_detail, render_yaml, stream_totals
        from .jellywire import STAT_NAMES
        from .order import collect_sorted

        # a zero-frame stream has nothing to report: the same typed
        # error `rdf validate` gives
        J.probe_delimited(args.input)
        frames_df = J.read_jelly_file(spark, args.input)
        # both statistics come from one rows-free tag-walk over the wire
        # bytes — no statement decode, no dictionary state; --size picks
        # the reference's SizeStatistic, otherwise its CountStatistic
        sfx = "size" if args.size else "count"
        pf = J.frame_wire_size_stats(frames_df).select(
            "seg", "frame_index", *[f"{n}_{sfx}" for n in STAT_NAMES]
        )

        def detail_counts(per_frame: bool):
            df = J.frame_wire_term_sizes(frames_df)
            if per_frame:
                return df.withColumnRenamed(sfx, "n")
            return df.groupBy("term_pos", "node_kind").agg(
                F.sum(sfx).alias("n")
            )

        if args.per_frame:
            # frame metadata map, hex-valued, only when present — the
            # reference prints it per-frame right after frame_index and
            # omits it in aggregate mode (MetricsPrinter.scala:329-338;
            # RdfInspectSpec "print frame metadata in --per-frame")
            meta: dict = {}
            for r in J.frame_metadata(frames_df).collect():
                meta.setdefault((r["seg"], r["frame_index"]), {})[
                    r["key"]
                ] = r["value_hex"]
            frames = []
            for r in collect_sorted(pf, ["seg", "frame_index"]):
                d = r.asDict()
                f = {"seg": int(d.pop("seg")),
                     "frame_index": int(d.pop("frame_index"))}
                m = meta.get((f["seg"], f["frame_index"]))
                if m:
                    f["metadata"] = m
                f.update({k: int(v) for k, v in d.items()})
                frames.append(f)
            if args.detail:
                per = {}
                for r in detail_counts(per_frame=True).collect():
                    per.setdefault((r["seg"], r["frame_index"]), []).append(r)
                for f in frames:
                    f.update(format_detail(
                        per.get((f["seg"], f["frame_index"]), []),
                        args.detail, sfx,
                    ))
            out = {"stream_options": _inspect_options(args.input), "frames": frames}
        else:
            agg = stream_totals(pf).collect()[0]
            stream = {k: int(v) for k, v in agg.asDict().items()}
            if args.detail:
                stream.update(format_detail(
                    detail_counts(per_frame=False).collect(), args.detail, sfx
                ))
            # the reference's aggregate report also keys its counts under
            # `frames` (MetricsPrinter.printAggregate) and ALWAYS leads
            # with the declared stream_options block
            out = {"stream_options": _inspect_options(args.input), "frames": stream}
        text = render_yaml(out)
        if args.to:
            with open(args.to, "w") as fh:
                fh.write(text)
        else:
            print(text, end="")
        return 0

    if args.rdf_cmd == "validate":
        from .compare import ordered_compare, unordered_compare, validate_stream

        delimited = J.probe_delimited(args.input)
        if args.delimited != "either" and str(delimited).lower() != args.delimited:
            print(
                f"error: expected delimited={args.delimited}, stream is {delimited}",
                file=sys.stderr,
            )
            return 1
        # the structural checks, the term check and the compare all read
        # the one decode
        rows, phys = _decode_once(spark, args.input)
        problems = validate_stream(rows)
        if args.validate_terms != "false":
            # eager term validation defaults to TRUE for validate
            # (RdfValidate.scala:95); decode by declared physical type
            # so graph terms are checked too
            from .compare import term_violations

            if phys & {J.PHYSICAL_QUADS, J.PHYSICAL_GRAPHS}:
                decoded_v = (
                    J.decode_quads(rows)
                    if J.PHYSICAL_QUADS in phys
                    else J.decode_quads_graphs(rows)
                )
            else:
                decoded_v = J.decode_triples(rows)
            for r in term_violations(decoded_v).limit(3).collect():
                problems.append(
                    f"term validation: {r['reason']} at "
                    f"{r['position']}: {r['value']!r}"
                )
        if problems:
            for pr in problems:
                print(f"error: {pr}", file=sys.stderr)
            return 1
        if args.options_file:
            # exact-equality check against the expected options stream
            # (RdfValidate.scala:118-134): both sides read by the same
            # head-only driver reader, compared field-for-field
            expected_opts = J.options_from_file(args.options_file)
            actual_opts = J.options_from_file(args.input)
            if expected_opts != actual_opts:
                print(
                    "error: stream options do not match the expected "
                    f"options in {args.options_file}\n"
                    f"expected: {expected_opts}\n"
                    f"actual:   {actual_opts}",
                    file=sys.stderr,
                )
                return 1
        if args.compare_to_rdf_file:
            # --compare-to-format beats extension inference
            # (RdfValidate.scala:239-249); unknown names are a typed
            # error, exit 1 via the ValueError handler in main()
            from .formats import REGISTRY as _FMT
            from .formats import resolve as _resolve_fmt

            if args.compare_to_format is not None:
                cmp_fmt = _resolve_fmt(
                    args.compare_to_rdf_file, args.compare_to_format
                )
            else:
                try:
                    cmp_fmt = _resolve_fmt(args.compare_to_rdf_file)
                except ValueError:
                    # unknown extension → generalized N-Quads, same
                    # fallback as the to-jelly input path
                    cmp_fmt = _FMT["nq"]
            exp_rows = None
            if cmp_fmt.key == "jelly":
                # jelly-vs-jelly comparison: the reference reads the
                # comparison file through Jena RIOT, which speaks Jelly
                # — decode by ITS declared physical type, graph kept
                exp_rows, phys_e = _decode_once(spark, args.compare_to_rdf_file)
                if phys_e & {J.PHYSICAL_QUADS, J.PHYSICAL_GRAPHS}:
                    expected = (
                        J.decode_quads(exp_rows)
                        if J.PHYSICAL_QUADS in phys_e
                        else J.decode_quads_graphs(exp_rows)
                    )
                else:
                    expected = J.decode_triples(exp_rows)
            else:
                if cmp_fmt.read is None:
                    raise ValueError(
                        f"{cmp_fmt.full_name} is not a readable comparison format"
                    )
                expected = cmp_fmt.read(spark, args.compare_to_rdf_file)
            if "graph" not in expected.columns:
                expected = expected.withColumn("graph", F.lit(None).cast("string"))
            # --compare-frame-indices: the full stream is still decoded
            # (and validated) so skipped frames feed dictionary state
            # exactly like the reference's decoder (RdfValidate.scala:
            # 156-200 keeps ingesting rows, only collection is gated);
            # decode_triples filters AFTER resolution (P2).
            take = (
                _parse_range(args.compare_frame_indices)
                if args.compare_frame_indices
                else None
            )
            # full-dataset comparison (RdfValidate.scala:173-181 uses an
            # AnyStatementHandler — quads included): decode by declared
            # physical type, keep the graph column
            if phys & {J.PHYSICAL_QUADS, J.PHYSICAL_GRAPHS}:
                decoded = (
                    J.decode_quads(rows, take_frames=take)
                    if J.PHYSICAL_QUADS in phys
                    else J.decode_quads_graphs(rows)
                )
                if take is not None and J.PHYSICAL_QUADS not in phys:
                    decoded = decoded.filter(
                        F.col("frame_index").between(take[0], take[1])
                    )
                actual = decoded.select(
                    "subj", "pred", "obj",
                    F.col("graph").cast("string").alias("graph"),
                )
            else:
                actual = J.decode_triples(rows, take_frames=take).select(
                    "subj", "pred", "obj"
                ).withColumn("graph", F.lit(None).cast("string"))
            cols4 = ["subj", "pred", "obj", "graph"]
            e = expected.select(
                "subj", "pred", "obj",
                F.col("graph").cast("string").alias("graph"),
            )
            if args.compare_ordered == "true":
                from .order import global_row_number

                # null graph sorts ahead of any label on both sides, so
                # default-graph statements stay aligned
                e = global_row_number(
                    e, ["subj", "pred", "obj", "graph"], "idx"
                )
                a = global_row_number(
                    actual, ["subj", "pred", "obj", "graph"], "idx"
                )
                res = ordered_compare(e, a, cols=tuple(cols4))
            else:
                res = unordered_compare(e, actual)
            if not res.equal:
                print(f"error: {res.detail}", file=sys.stderr)
                return 1
            if args.compare_ordered == "true":
                # ordered compare also matches NAMESPACE DECLARATIONS
                # as stream elements (OrderedRdfCompare; RdfCompareSpec
                # "different/missing namespace declarations"): the
                # stream's namespace rows vs the Turtle-family file's
                # directive sequence (an N-Quads family target emits no
                # prefix events, so any stream declaration mismatches).
                # Statement↔namespace interleaving order is not
                # compared — a documented simplification of the
                # reference's global element positions.
                from .order import collect_sorted
                from .turtle import scan_namespaces_ordered

                def _ordered_ns(df):
                    ns = df.filter(
                        F.col("row_kind") == J.KIND_NAMESPACE
                    ).select(
                        "seg", "frame_index", "row_pos", "name",
                        F.col("aux").alias("iri"),
                    )
                    return [
                        (r["name"], r["iri"])
                        for r in collect_sorted(
                            ns, ["seg", "frame_index", "row_pos"]
                        )
                    ]

                if cmp_fmt.key in ("ttl", "trig"):
                    exp_ns = scan_namespaces_ordered(args.compare_to_rdf_file)
                elif exp_rows is not None:
                    # a jelly comparison target carries namespace ROWS —
                    # the reference's jelly parser surfaces them as
                    # prefix events just like Turtle directives
                    exp_ns = _ordered_ns(exp_rows)
                else:
                    exp_ns = []
                act_ns = _ordered_ns(rows)
                if exp_ns != act_ns:
                    if len(exp_ns) != len(act_ns):
                        print(
                            f"error: Expected {len(exp_ns)} namespace "
                            f"declarations, but got {len(act_ns)}",
                            file=sys.stderr,
                        )
                    else:
                        i = next(
                            i for i, (x, y) in enumerate(zip(exp_ns, act_ns))
                            if x != y
                        )
                        print(
                            f"error: namespace declaration {i} is "
                            f"different: expected {exp_ns[i]}, got "
                            f"{act_ns[i]}",
                            file=sys.stderr,
                        )
                    return 1
        print("valid")
        return 0

    if args.rdf_cmd == "transcode":
        # U1/§2.11 fast path (RdfTranscode.scala:57-82): frames from all
        # inputs form one output stream by pure dictionary-id remap —
        # no RDF decode, no string joins; statement refs shift by
        # per-block integer offsets.
        frames = J.transcode_frames(
            spark,
            [J.read_jelly_file(spark, p) for p in args.inputs],
            rows_per_frame=args.rows_per_frame,
            max_name_table=args.max_name_table,
            max_prefix_table=args.max_prefix_table,
            stream_name=args.stream_name,
            logical_type=(
                _logical_code(args.logical_type) if args.logical_type else None
            ),
        )
        J.write_jelly_file(frames, args.to)
        return 0

    raise ValueError(f"unknown command {args.rdf_cmd}")


if __name__ == "__main__":
    sys.exit(main())
